package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.BusAccess
import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run: one workload, one seed, one client.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <input dir> --work <scratch dir> --out <result.json>
  * }}}
  *
  * The session matches `graft.Bench`: `local[cores]` over every core of
  * the host, shuffle partitions = cores, AQE on, UTC. The run writes one
  * JSON object to `--out`; the Python wrapper (`run.py`) adds input
  * generation and the DuckDB output checks and prints the contract line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, data: String, work: String,
                        out: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--data"), need("--work"), need("--out"))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val spark = session(a)
    val run = new Run(spark, a)
    try {
      a.workload match {
        case "adtech-reports" => QueryWorkload.adtech.run(run)
        case "corpus-kernels" => QueryWorkload.corpus.run(run)
        case "etl-cycles" => EtlWorkload.run(run)
        case w => sys.error(s"unknown workload $w")
      }
      // A traced run adds the layer measurement its workload lacks, one
      // each: with both, a traced run on a busy host would outlast the
      // run time limit (the service tick alone takes about 40 s).
      if (a.trace) a.workload match {
        case "adtech-reports" => Service.measure(run)
        case _ => Kernels.measure(run)
      }
    } finally spark.stop()
    Files.writeString(Paths.get(a.out), run.toJson)
  }
}

/** One op. `traced`: the listeners recorded it. `timed`: it was neither
  * traced nor in a discarded pass, so it counts towards the end-to-end
  * latencies and, in a traced run, the untraced side of the overhead. */
final case class OpRec(name: String, startMs: Long, endMs: Long,
                       ok: Boolean, timed: Boolean, traced: Boolean) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** State shared by every workload: the timed ops, checks, spans and the
  * per-layer sums of the traced passes. */
final class Run(val spark: SparkSession, val args: Main.Args) {
  val cores: Int = Main.cores
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** Wall time of each pass that is not discarded. */
  val passSeconds = mutable.ArrayBuffer.empty[Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val spans = mutable.ArrayBuffer.empty[Span]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, String]
  /** Query outputs written for the DuckDB check: name -> parquet dir. */
  val outputs = mutable.LinkedHashMap.empty[String, String]
  /** DuckDB oracle SQL of the checked queries that have one. */
  val oracles = mutable.LinkedHashMap.empty[String, String]
  var setupEndMs = 0L
  /** Wall time of the untraced timed phase. */
  var runS = 0.0
  /** Heap in use right after each full collection of [[heapCheckpoint]],
    * in MiB. */
  val heapMb = mutable.ArrayBuffer.empty[Double]
  private var nextSpan = 1
  val runStartMs: Long = System.currentTimeMillis()

  def add(key: String, v: Double): Unit =
    layers(key) = layers.getOrElse(key, 0.0) + v

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += ((name, ok, detail))

  def span(name: String, op: Int, parent: Int, t0: Long, t1: Long,
           site: String = ""): Int = {
    val id = nextSpan
    nextSpan += 1
    spans += Span(id, name, op, parent, t0, t1, site)
    id
  }

  /** Number of passes after set-up: `--seconds` divided by the workload's
    * seconds per pass, at least `min`. It depends only on the arguments,
    * so every run of a workload does the same work. A traced run rounds
    * the count up to a multiple of four and runs one discarded pass first
    * (see [[tracedOp]]). */
  def passes(secondsPerPass: Double, min: Int): Int = {
    val p = math.max(min, math.round(args.seconds / secondsPerPass).toInt)
    if (args.trace) 1 + 4 * ((p + 3) / 4) else p
  }

  /** A traced run's pass 0 is discarded: it still carries warm-up cost. */
  def discardedPass(pass: Int): Boolean = args.trace && pass == 0

  /** Whether a traced run traces the op in position `slot` of pass `pass`.
    * Over each four passes after the discarded one, an even slot goes
    * untraced, traced, traced, untraced and an odd slot the other way
    * round, so every op is traced in half its passes and warm-up drift,
    * which slows earlier passes more than later ones, cancels in the
    * tracing overhead: traced op time over untraced op time. */
  def tracedOp(pass: Int, slot: Int): Boolean =
    args.trace && pass > 0 &&
      (((pass - 1) % 4 == 1 || (pass - 1) % 4 == 2) == (slot % 2 == 0))

  /** Records one pass's wall time: discarded passes are dropped; in an
    * untraced run the rest add to `run_s`. */
  def endPass(pass: Int, seconds: Double): Unit =
    if (!discardedPass(pass)) {
      passSeconds += seconds
      if (!args.trace) runS += seconds
    }

  /** Collects the heap fully and records the heap in use after it.
    * Called only between timed sections, so it adds nothing to `run_s`.
    * Listener events not yet delivered, and shuffle and broadcast state
    * that the context cleaner frees only after a collection finds it
    * unreachable, would make the figure depend on timing: the bus is
    * drained first and the heap collected twice, the cleaner's turn in
    * between. */
  def heapCheckpoint(): Unit = {
    BusAccess.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(200)
    System.gc()
    heapMb += Stats.heapAfterGcMb()
  }

  /** Folds one traced op's listener figures into the per-layer sums and
    * adds its jobs as child spans. */
  def addStats(st: OpStats, opId: Int, opSpan: Int): Unit = {
    add("exec.jobs", st.jobs)
    add("exec.stages", st.stages)
    add("exec.tasks", st.tasks)
    add("exec.task_run_s", st.taskRunMs / 1e3)
    add("exec.task_cpu_s", st.taskCpuNs / 1e9)
    add("exec.gc_s", st.gcMs / 1e3)
    add("exec.shuffle_write_bytes", st.shuffleWrite.toDouble)
    add("exec.shuffle_read_bytes", st.shuffleRead.toDouble)
    add("exec.spill_bytes", st.spill.toDouble)
    add("plan.analysis_s", st.analysisMs / 1e3)
    add("plan.optimizer_s", st.optimizerMs / 1e3)
    add("plan.physical_s", st.physicalMs / 1e3)
    add("plan.query_executions", st.queryExecutions)
    addJobs(st, opId, opSpan)
  }

  /** Adds the jobs of `st` to the module attribution and as child spans. */
  def addJobs(st: OpStats, opId: Int, parent: Int): Unit =
    st.jobSpans.foreach { j =>
      add(s"jobs_by_module.${j.module}", 1)
      add(s"job_s_by_module.${j.module}", (j.endMs - j.startMs) / 1e3)
      span(s"job.${j.module}", opId, parent, j.startMs, j.endMs, j.site)
    }

  /** Op wall time not covered by any running job. */
  def idleMs(t0: Long, t1: Long, jobs: Seq[JobRec]): Long = {
    var covered = 0L
    var reach = t0
    jobs.map(j => (math.max(j.startMs, t0), math.min(j.endMs, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (t1 - t0) - covered
  }

  def toJson: String = {
    import Json._
    val lat = ops.filter(_.timed).map(_.seconds).sorted
    val e2e = mutable.LinkedHashMap.empty[String, Any]
    if (lat.nonEmpty) {
      e2e("run_s") = runS
      e2e("op_p50_s") = Stats.median(lat.toSeq)
      // The tail needs at least 10 samples beyond it: omitted below 20 ops.
      if (lat.size >= 20) {
        val (pct, v) = Stats.tail(lat.toSeq)
        e2e("op_tail_s") = v
        notes("op_tail") = f"p$pct%.1f of n=${lat.size}"
      }
    }
    e2e("peak_rss_mb") = Stats.peakRssMb()
    e2e("peak_heap_mb") = heapMb.maxOption.getOrElse(0.0)
    extra.foreach { case (k, v) => e2e(k) = v }
    if (args.trace) {
      val traced = ops.filter(_.traced).map(_.seconds).sum
      val untraced = ops.filter(_.timed).map(_.seconds).sum
      if (traced > 0 && untraced > 0)
        layers("trace.overhead") = traced / untraced
      val wall = layers.getOrElse("trace.op_wall_s", 0.0)
      layers("exec.core_util") =
        if (wall > 0) layers.getOrElse("exec.task_run_s", 0.0) / (wall * cores)
        else 0.0
    }
    obj(
      "workload" -> args.workload, "seed" -> args.seed, "cores" -> cores,
      "setup_end_ms" -> setupEndMs,
      "attempted" -> ops.size,
      "op_names" -> ops.map(_.name).toSeq,
      "op_ok" -> ops.map(_.ok).toSeq,
      "end_to_end" -> e2e,
      "per_layer" -> layers,
      "notes" -> notes,
      "checks" -> checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "outputs" -> outputs,
      "oracles" -> oracles,
      "heap_mb" -> heapMb.toSeq,
      "passes" -> passSeconds.toSeq,
      "spans" -> (if (args.trace) Seq(Map("id" -> 0, "name" -> "run",
        "op" -> -1, "parent" -> -1, "start_ms" -> runStartMs,
        "end_ms" -> System.currentTimeMillis())) ++ spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "site" -> s.site))
        else Nil))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least 10 samples beyond it, by
    * nearest rank over the sorted latencies: (percentile, value). */
  def tail(sorted: Seq[Double]): (Double, Double) = {
    val n = sorted.size
    val idx = math.max(0, n - 11)
    (100.0 * (idx + 1) / n, sorted(idx))
  }

  /** Heap in use after the last collection of each heap pool, in MiB:
    * right after a full collection, the live heap. */
  def heapAfterGcMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Driver VmHWM (peak resident set) in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** A minimal JSON writer for the result file. */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
