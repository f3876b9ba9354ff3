package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** The `functions` layer on its own: each native kernel's public Column
  * constructor as a fixed projection or aggregate over cached inputs of a
  * fixed row count, drawn from the run's documents and embeddings, written
  * to `noop`. Reported as nanoseconds per input row, the median of three
  * timings after one warm-up. Their jobs count in the `functions` module
  * and become child spans of one `functions.<kernel>` span each. */
object Kernels {

  val Repeats = 3
  /** Rows of each input, so a timing rises well above per-job overhead. */
  val Rows = 100000L
  /** Edit distance is quadratic in text length: fewer pairs. */
  val EditPairs = 2000L

  def measure(r: Run): Unit = {
    val spark = r.spark
    val dir = r.args.data
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val n = docs.count()
    val text = spark.range(Rows).toDF("id")
      .join(docs, pmod(col("id"), lit(n)) === col("doc_id"))
      .select(col("id"), col("text"))
    // Seeded document pairs: each text against a fixed pseudo-random other.
    val pairs = text.as("a").join(docs.as("b"),
      pmod(col("a.id") * 7919L + lit(r.args.seed), lit(n)) === col("b.doc_id"))
      .select(col("a.id"), col("a.text").as("ta"), col("b.text").as("tb"))
    val quant = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, v -> " +
        "CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT))").as("q"))
    val m = quant.count()
    val vecPairs = spark.range(Rows).toDF("id")
      .join(quant.as("a"), pmod(col("id"), lit(m)) === col("a.vec_id"))
      .join(quant.as("b"),
        pmod(col("id") * 31L + lit(r.args.seed), lit(m)) === col("b.vec_id"))
      .select(col("id"), col("a.q").as("qa"), col("b.q").as("qb"))
    val editPairs = pairs.filter(col("id") < EditPairs)

    val inputs = Seq(text, pairs, vecPairs, editPairs).map(_.persist())
    val Seq(textC, pairsC, vecC, editC) = inputs
    val rows = inputs.map(_.count())

    def project(df: DataFrame, c: Column): DataFrame = df.select(c.as("k"))
    val cases: Seq[(String, DataFrame, Long)] = Seq(
      ("minhash_sig", project(textC, MinhashSig(col("text"))), rows(0)),
      ("shingle_jaccard_ppm",
        project(pairsC, ShingleJaccardPpm(col("ta"), col("tb"))), rows(1)),
      ("levenshtein_bp",
        project(editC, LevenshteinBp(col("ta"), col("tb"))), rows(3)),
      ("simhash_sig", project(textC, SimhashSig(col("text"), 64)), rows(0)),
      ("dot_i64", project(vecC, DotI64(col("qa"), col("qb"))), rows(2)),
      ("min_k_longs", vecC.groupBy(pmod(col("id"), lit(64L)))
        .agg(MinKLongs(pmod(col("id") * 2654435761L, lit(1000003L)),
          col("id"), 10)
          .as("k")), rows(2)),
      ("h32", project(textC, H32(col("text"))), rows(0)),
      ("distinct_grams", project(textC, DistinctGrams(col("text"), 3)),
        rows(0)))

    val tracer = new Recorder(spark, ownModule = "functions")
    cases.foreach { case (name, df, nRows) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }
      tracer.take()
      val t0 = System.currentTimeMillis()
      once()
      val ns = Stats.median(Seq.fill(Repeats)(once()))
      val t1 = System.currentTimeMillis()
      r.add(s"kernel.$name.ns_per_row", ns / nRows)
      r.addJobs(tracer.take(), -1, r.span(s"functions.$name", -1, 0, t0, t1))
    }
    tracer.detach()
    inputs.foreach(_.unpersist())
  }
}
