package graft.perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.queries.Extensions
import graft.streaming.CorpusService

/** The `streaming` layer on its own: one `CorpusService.runScheduled` tick
  * over the run's documents and embeddings, then the five serve reads.
  *
  * The corpus arrives as one wave before the loop and the service runs the
  * deployable flag set of `graft.ServiceSoak` (both dedup cycles, the
  * ingest-time contamination gate against a planted eval suite, novelty,
  * chunks, postings, tokenizer, DSIR selection, the sharded pack and the
  * monitoring sketches) with maintenance after the tick and a fake clock.
  * One tick over one wave always drains once, finds the corpus not grown
  * and compacts the index: the three schedule counters are checked
  * against (1, 0, 1). Each serve read is timed once from a cleared cache
  * and must return rows.
  *
  * Jobs started inside the tick or by a serve read count in the
  * `streaming` module and become child spans of `service.tick` or
  * `service.serve.<read>`.
  */
object Service {

  /** Drain ticks, quantizer retrains, index compactions of one tick. */
  val Expected: (Int, Int, Int) = (1, 0, 1)

  def measure(r: Run): Unit = {
    val spark = r.spark
    val dir = r.args.data
    val p = CorpusService.Paths(s"${r.args.work}/service")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang")
    docs.write.parquet(p.docs)
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").coalesce(4).write.parquet(p.embeddings)
    // The planted eval suite of the leakage gate: every 50th document,
    // re-keyed out of the corpus id space.
    val ref = s"${r.args.work}/service-eval"
    docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 90000000L).as("doc_id"), col("text"),
        col("lang"))
      .coalesce(1).write.parquet(s"$ref/documents.parquet")
    Extensions.invalidateBloom(ref)
    val nDocs = docs.count()

    val tracer = new Recorder(spark, ownModule = "streaming")
    var tickStart = 0L
    var now = LocalDateTime.parse("2024-06-01T12:00:00")
    val stats = CorpusService.runScheduled(spark, p,
      stop = () => tickStart > 0,
      maintainEvery = 1, retrainFactor = 1.5,
      contaminationRef = Some(ref),
      novelty = true, chunks = true, postings = true, pack = true,
      tokenizer = true, importance = true, importanceSelect = true,
      packShards = Some(8), sketch = true,
      onTickStart = _ => {
        tracer.take() // drops the quantizer training before the tick
        tickStart = System.currentTimeMillis()
      },
      clock = () => now,
      sleep = d => now = now.plus(d))
    val tickEnd = System.currentTimeMillis()
    val tick = tracer.take()
    r.addJobs(tick, -1, r.span("service.tick", -1, 0, tickStart, tickEnd))
    r.add("service.tick_s", (tickEnd - tickStart) / 1e3)
    r.add("service.jobs_per_tick", tick.jobs)
    r.add("service.drains", stats.drainTicks)
    r.add("service.retrains", stats.retrains)
    r.add("service.index_compactions", stats.indexCompactions)
    val counters = (stats.drainTicks, stats.retrains, stats.indexCompactions)
    r.check("service.schedule", counters == Expected,
      s"(drains, retrains, index compactions) = $counters, want $Expected")

    val reads: Seq[(String, () => DataFrame)] = Seq(
      "ann_prefix" -> (() => CorpusService.annTopK(spark, p)),
      "ann_sq8" -> (() => CorpusService.annSq8TopK(spark, p)),
      "dedup_report" -> (() => CorpusService.dedupReport(spark, p)),
      "training_set" -> (() => CorpusService.trainingSetView(spark, p)),
      "pack_manifest" -> (() => CorpusService.packManifestView(spark, p)))
    reads.foreach { case (name, read) =>
      spark.catalog.clearCache()
      tracer.take()
      val t0 = System.currentTimeMillis()
      val rows = read().count()
      val t1 = System.currentTimeMillis()
      r.addJobs(tracer.take(), -1, r.span(s"service.serve.$name", -1, 0, t0, t1))
      r.add(s"service.serve.${name}_s", (t1 - t0) / 1e3)
      val max = if (name == "training_set") nDocs else Long.MaxValue
      r.check(s"service.serve.$name", rows > 0 && rows <= max,
        s"$rows rows" + (if (max < Long.MaxValue) s" of $max documents" else ""))
    }
    tracer.detach()
  }
}
