package graft.perfbench

import java.io.File
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

import graft.gen.Generators
import graft.jobs.{DeltaUpsert, InitialLoad, Main => Pipeline, Warehouse}

/** The write path: seed the OLTP store with `gen.Generators`, run
  * `jobs.Main.initialLoad` and one warm-up cycle, then time cycles of
  * `generateStep` + `deltaStep` (one pass each) and one closing
  * `compactBatchLogs`. One op is one `deltaStep`: report freshness after a
  * generate. Each delta is tiny against the store, so full recompute
  * versus incremental work shows in its latency.
  */
object EtlWorkload {

  val Advertisers = 26
  val CampaignsPerAdvertiser = 40
  val ImpressionsPerCampaign = 50
  val ClickRatio = 0.1
  val WarmupCycles = 1
  val MinCycles = 2
  /** Seconds of `--seconds` per timed cycle: 15 gives two cycles. */
  val SecondsPerCycle = 7.5
  private val NowFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def run(r: Run): Unit = {
    val spark = r.spark
    val seed = r.args.seed
    val base = s"${r.args.work}/etl"
    val p = Pipeline.Paths(base)
    val t0 = LocalDateTime.parse(Generators.DefaultNow, NowFmt)
    val today = Generators.DefaultNow.take(10)

    // Set-up: seed the OLTP store and run the initial load.
    val nCamp = Advertisers * CampaignsPerAdvertiser
    val imps = Generators.impressions(spark, nCamp, ImpressionsPerCampaign,
      Generators.DefaultNow, seed)
    Seq(
      Generators.advertisers(spark, Advertisers) -> p.advertiser,
      Generators.campaigns(spark, Advertisers, CampaignsPerAdvertiser,
        Generators.DefaultNow, seed) -> p.campaign,
      imps -> p.impressions,
      Generators.clicks(imps, ClickRatio, seed) -> p.clicks
    ).foreach { case (df, path) => df.write.mode(SaveMode.Overwrite).parquet(path) }
    val il0 = System.nanoTime()
    Pipeline.initialLoad(spark, p, today)
    val initialLoadS = (System.nanoTime() - il0) / 1e9
    r.extra("initial_load_s") = initialLoadS
    r.add("jobs.initial_load_s", initialLoadS)

    val rng = new FixedAction(seed)
    var cycle = 0
    def nowAt(i: Int) = t0.plusMinutes(3L * i).format(NowFmt)
    (1 to WarmupCycles).foreach { _ =>
      cycle += 1
      Pipeline.generateStep(spark, p, nowAt(cycle), rng)
      Pipeline.deltaStep(spark, p, today)
    }
    spark.catalog.clearCache()
    r.heapCheckpoint()
    r.setupEndMs = System.currentTimeMillis()
    val rowsBefore = if (r.args.trace) oltpRows(r, p) else 0L

    val passes = r.passes(SecondsPerCycle, MinCycles)
    var opId = 0
    (0 until passes).foreach { pass =>
      val traced = r.tracedOp(pass, 0)
      val tracer = if (traced) Some(new Recorder(spark)) else None
      cycle += 1
      opId += 1
      rng.action = actionOf(r, pass)
      val before = if (traced) files(base) else Map.empty[String, Long]
      val g = step(r, tracer, opId, "gen.generate_step") {
        Pipeline.generateStep(spark, p, nowAt(cycle), rng)
      }
      val d = step(r, tracer, opId, "jobs.delta_step") {
        Pipeline.deltaStep(spark, p, today)
      }
      r.ops += OpRec("delta_step", d._1, d._2, g._3 && d._3,
        !traced && !r.discardedPass(pass), traced)
      r.endPass(pass, (d._2 - g._1) / 1e3)
      if (traced) {
        r.add("gen.generate_step_s", (g._2 - g._1) / 1e3)
        r.add("jobs.delta_step_s", (d._2 - d._1) / 1e3)
        val fresh = files(base).filter { case (f, n) => !before.get(f).contains(n) }
        r.add("jobs.files_written", fresh.size)
        r.add("jobs.bytes_written", fresh.values.sum.toDouble)
      }
      tracer.foreach(_.detach())
      r.heapCheckpoint()
    }
    if (r.args.trace) {
      // Versions the cycles left per key, before compaction folds them.
      val log = Warehouse.read(spark, p.totalsLog)
      r.add("jobs.versions_per_key",
        log.count().toDouble / DeltaUpsert.latest(log).count())
      r.add("gen.rows_appended", (oltpRows(r, p) - rowsBefore).toDouble)
    }
    // The timed phase ends with one compaction of every batch log.
    val tracer = if (r.args.trace) Some(new Recorder(spark)) else None
    val c = step(r, tracer, opId, "jobs.compact") {
      Pipeline.compactBatchLogs(spark, p)
    }
    if (r.args.trace) r.add("jobs.compact_s", (c._2 - c._1) / 1e3)
    else r.runS += (c._2 - c._1) / 1e3
    tracer.foreach(_.detach())
    r.check("etl.compact", c._3)
    r.heapCheckpoint()

    // Checks and storage figures, outside the timed phase.
    val st = Pipeline.oltp(spark, p)
    val full = InitialLoad.run(st.advertiser, st.campaign, st.impressions,
      st.clicks, today)
    sameRows(r, "totals_report", Warehouse.read(spark, p.totalsReport),
      full.totalsReport)
    sameRows(r, "daily_ctr_report", Warehouse.read(spark, p.dailyCtrReport),
      full.dailyCtrReport)
    def bytes(dir: String) = files(s"$base/$dir").values.sum
    val stored = bytes("olap") + bytes("reports")
    val input = bytes("oltp")
    val ratio = stored.toDouble / input
    r.extra("bytes_stored_per_input_byte") = ratio
    r.add("jobs.bytes_stored_per_input_byte", ratio)
  }

  /** Times one pipeline call; on a traced pass also records its span and
    * listener figures. Returns (start ms, end ms, ok). */
  private def step(r: Run, tracer: Option[Recorder], opId: Int,
                   name: String)(body: => Any): (Long, Long, Boolean) = {
    tracer.foreach(_.take())
    val t0 = System.currentTimeMillis()
    val ok = try { body; true } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        false
    }
    val t1 = System.currentTimeMillis()
    tracer.foreach { t =>
      val st = t.take()
      val s = r.span(name, opId, 0, t0, t1)
      r.addStats(st, opId, s)
      r.add("trace.op_wall_s", (t1 - t0) / 1e3)
      r.add("exec.driver_idle_s",
        r.idleMs(t0, t1, st.jobSpans.toSeq) / 1e3)
    }
    (t0, t1, ok)
  }

  /** The generate actions in the order the cycles rotate through them. */
  val Actions: Seq[String] = Seq("impressions", "clicks", "campaigns",
    "advertisers")

  /** The generate action of pass `pass`; the warm-up cycle runs the first.
    * Untraced runs move one action on per pass. Traced runs keep each
    * action for two passes, one untraced and one traced (see
    * [[Run.tracedOp]]), so the tracing overhead compares the same work;
    * their discarded pass 0 runs the action that follows it. */
  def actionOf(r: Run, pass: Int): String = {
    val k =
      if (!r.args.trace) pass + 1
      else if (pass == 0) 1
      else 1 + (pass - 1) / 2
    Actions(k % Actions.size)
  }

  /** The random source handed to `generateStep`: the generated rows stay
    * seeded, but the action is the one set in `action`, so every run does
    * the same kind of work. */
  final class FixedAction(seed: Long) extends scala.util.Random(seed) {
    var action: String = Actions.head
    override def nextInt(n: Int): Int =
      graft.gen.DeltaActions.ActionNames.indexOf(action)
  }

  private def sameRows(r: Run, name: String, got: DataFrame,
                       want: DataFrame): Unit = {
    val cols = got.columns.map(col).toSeq
    val extra = got.exceptAll(want.select(cols: _*)).count()
    val missing = want.select(cols: _*).exceptAll(got).count()
    r.check(s"etl.$name", extra == 0 && missing == 0,
      s"$extra rows only in the maintained report, $missing only in the recompute")
  }

  private def oltpRows(r: Run, p: Pipeline.Paths): Long =
    p.oltpAll.map(r.spark.read.parquet(_).count()).sum

  /** Data files under a directory (no checksums or commit markers):
    * path -> size. */
  private def files(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f.getPath -> f.length)
    walk(new File(dir)).toMap
  }
}
