package graft.perfbench

import scala.util.Random

import graft.SparkEntry
import graft.queries.{Extensions, QuerySpec}

/** A workload of registered graft queries (`SparkEntry.specs`), run in an
  * order shuffled by the seed. One op is one query from `spec.build` to the
  * end of its `noop` write.
  *
  * Set-up runs every query once and writes its result as parquet: that is
  * the warm-up pass and the output the wrapper checks against the DuckDB
  * oracle. The timed phase then runs whole passes over the query list.
  * Its `run_s` is the number of timed passes times the sum, over the
  * queries, of each query's median latency across those passes: the
  * pass wall time with a burst of load from outside the run, which slows
  * a few ops of one pass, left out.
  *
  * @param kernels for the coverage guard: query -> native kernels its
  *                executed plans must contain
  */
final class QueryWorkload(names: Seq[String], secondsPerPass: Double,
                          minPasses: Int, kernels: Map[String, Seq[String]]) {

  def run(r: Run): Unit = {
    val spark = r.spark
    val dir = r.args.data
    val byName = SparkEntry.specs.map(s => s.name -> s).toMap
    val specs = new Random(r.args.seed).shuffle(names.map(byName))

    // Set-up: a warm-up pass that also writes the outputs to check; the
    // kernel coverage guard reads the plans it executes.
    val guard =
      if (kernels.isEmpty) None else Some(new Recorder(spark, keepPlans = true))
    specs.foreach { spec =>
      val out = s"${r.args.work}/out/${spec.name}"
      guard.foreach(_.take())
      try {
        val df = spec.build(spark, dir)
        df.coalesce(1).write.mode("overwrite").parquet(out)
        Extensions.freeCkptFresh(df)
        r.outputs(spec.name) = out
        spec.oracle.foreach(r.oracles(spec.name) = _)
      } catch {
        case e: Exception =>
          r.check(s"output.${spec.name}", ok = false, String.valueOf(e.getMessage).take(300))
      }
      for (g <- guard; ks <- kernels.get(spec.name)) {
        val plans = g.take().plans.mkString("\n")
        val missing = ks.filterNot(k => plans.contains(s"$k("))
        r.check(s"kernel_guard.${spec.name}", missing.isEmpty,
          if (missing.isEmpty) ks.mkString(",") else s"missing ${missing.mkString(",")}")
      }
    }
    guard.foreach(_.detach())
    spark.catalog.clearCache()
    r.heapCheckpoint()
    r.setupEndMs = System.currentTimeMillis()

    val passes = r.passes(secondsPerPass, minPasses)
    var opId = 0
    (0 until passes).foreach { pass =>
      val p0 = System.nanoTime()
      specs.zipWithIndex.foreach { case (spec, slot) =>
        opId += 1
        val tracer =
          if (r.tracedOp(pass, slot)) Some(new Recorder(spark)) else None
        runOp(r, spec, opId, tracer,
          timed = tracer.isEmpty && !r.discardedPass(pass))
        tracer.foreach(_.detach())
      }
      r.endPass(pass, (System.nanoTime() - p0) / 1e9)
      r.heapCheckpoint()
    }
    val byQuery = r.ops.filter(_.timed).groupBy(_.name).values
    r.runS = byQuery.map(_.size).maxOption.getOrElse(0) *
      byQuery.map(ops => Stats.median(ops.map(_.seconds).toSeq)).sum
  }

  private def runOp(r: Run, spec: QuerySpec, opId: Int,
                    tracer: Option[Recorder], timed: Boolean): Unit = {
    val spark = r.spark
    tracer.foreach(_.take())
    val t0 = System.currentTimeMillis()
    var buildEnd = t0
    var drainMs = 0L
    var build: OpStats = null
    val ok = try {
      val df = spec.build(spark, r.args.data)
      buildEnd = System.currentTimeMillis()
      tracer.foreach { t =>
        build = t.take()
        drainMs = System.currentTimeMillis() - buildEnd
      }
      df.write.format("noop").mode("overwrite").save()
      Extensions.freeCkptFresh(df)
      true
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] ${spec.name} failed: ${e.getMessage}")
        false
    }
    val t1 = System.currentTimeMillis()
    r.ops += OpRec(spec.name, t0, t1 - drainMs, ok, timed, tracer.isDefined)
    tracer.foreach { t =>
      val exec = t.take()
      val opSpan = r.span("op", opId, 0, t0, t1)
      val buildSpan = r.span("queries.build", opId, opSpan, t0, buildEnd)
      val actionSpan =
        r.span("exec.action", opId, opSpan, buildEnd + drainMs, t1)
      val all = Seq(build -> buildSpan, exec -> actionSpan)
        .filter(_._1 != null)
      all.foreach { case (s, parent) => r.addStats(s, opId, parent) }
      r.add("trace.op_wall_s", (t1 - t0 - drainMs) / 1e3)
      r.add("queries.build_s", (buildEnd - t0) / 1e3)
      r.add("queries.build_jobs", Option(build).map(_.jobs.toDouble).getOrElse(0.0))
      val jobs = all.flatMap(_._1.jobSpans)
      r.add("exec.driver_idle_s",
        (r.idleMs(t0, t1, jobs) - drainMs).max(0L) / 1e3)
    }
  }
}

object QueryWorkload {

  /** Resolves short query names ("q01") to registered spec names. */
  private def resolve(short: Seq[String]): Seq[String] = short.map { q =>
    SparkEntry.specs.map(_.name).find(_.startsWith(q + "_"))
      .getOrElse(sys.error(s"no query $q"))
  }

  /** The paper's analytics: the campaign totals and daily CTR reports, the
    * delta anti-join, ranking, the approximate distinct count and an as-of
    * join. An odd query count puts the median op on one query's middle run
    * rather than between two queries. */
  lazy val adtech = new QueryWorkload(
    resolve(Seq("q01", "q04", "q05", "q07", "q14", "q17", "q18")),
    secondsPerPass = 5.0, minPasses = 2, kernels = Map.empty)

  /** Extension queries chosen so that every native kernel runs, with the
    * kernels each one's executed plans must keep calling. */
  val corpusKernels: Seq[(String, Seq[String])] = Seq(
    "d03" -> Seq("minhash_sig", "shingle_jaccard_ppm"),
    "d04" -> Seq("simhash_sig"),
    "d08" -> Seq("levenshtein_bp"),
    "s01" -> Seq("dot_i64", "min_k_longs"),
    "s20" -> Seq("dot_i64", "h32"),
    "s21" -> Seq("imi_cells"),
    "t21" -> Seq("distinct_grams"))

  lazy val corpus: QueryWorkload = {
    val names = resolve(corpusKernels.map(_._1))
    new QueryWorkload(names, secondsPerPass = 4.5, minPasses = 2,
      kernels = names.zip(corpusKernels.map(_._2)).toMap)
  }
}
