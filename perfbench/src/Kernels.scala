package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Vec
import graft.plans.{BandSigs, BloomProbe, HashedGrams, SimHash60}

/** Times each native kernel through its public `Column` builder on the
  * workload's own input tables (`embeddings` for the vector kernels,
  * `documents` for the text kernels and the Bloom probe's keys), and the
  * plain-Spark twin where one exists. Each input is replicated to a size
  * that makes the kernel's cost stand above job overhead, and cached, so a
  * timing is a projection over memory; the cost of projecting the input
  * column alone is subtracted. The twins are 30-40x slower, so they run on
  * a smaller replica; ns/row makes the two comparable.
  */
object Kernels {
  private def replicated(df: DataFrame, rows: Long): DataFrame = {
    val n = df.count()
    val c = df.crossJoin(df.sparkSession.range((rows + n - 1) / n).toDF("rep")).cache()
    c.count()
    c
  }

  /** Nanoseconds per row of projecting `c` over `in`, less the cost of
    * projecting `base`: median of five after one untimed run each.
    */
  private def nsPerRow(in: DataFrame, c: Column, base: Column): Double = {
    def wall(x: Column) = {
      def once() = {
        val t0 = System.nanoTime()
        in.select(x.as("k")).queryExecution.toRdd.count()
        (System.nanoTime() - t0).toDouble
      }
      once()
      (0 until 5).map(_ => once()).sorted.apply(2)
    }
    (wall(c) - wall(base)) / in.count()
  }

  def probe(spark: SparkSession, data: String): Map[String, Double] = {
    val embeddings = graft.Tables.embeddings(spark, data).select("embedding")
    val documents = graft.Tables.documents(spark, data).select("doc_id", "text")
    val emb = replicated(embeddings, 200000)
    val embSmall = replicated(embeddings, 20000)
    val docs = replicated(documents.withColumn("hv", HashedGrams.wordGrams(col("text"), 3)), 10000)
    val keys = replicated(documents.select(col("doc_id")), 4000000)
    val q = typedLit(embeddings.head().getSeq[Float](0))
    val ids = documents.select("doc_id").where(col("doc_id") % 2 === 0)
    val sketch = ids.stat.bloomFilter("doc_id", ids.count(), 0.01)
    val e = col("embedding")
    val t = col("text")

    val dot = nsPerRow(emb, Vec.dotF(e, e), e)
    val sq = nsPerRow(emb, Vec.sqDistF(e, q), e)
    val out = Map(
      "FloatVecDot_ns_per_row" -> dot,
      "FloatVecDot_vs_hof" -> nsPerRow(embSmall, Vec.dot(e, e), e) / dot,
      "VecSqDist_ns_per_row" -> sq,
      "VecSqDist_vs_hof" -> nsPerRow(embSmall, Vec.sqDist(e, q), e) / sq,
      "HashedGrams_ns_per_row" -> nsPerRow(docs, HashedGrams.wordGrams(t, 3), t),
      "SimHash60_ns_per_row" -> nsPerRow(docs, SimHash60.of(t), t),
      "BandSigs_ns_per_row" -> nsPerRow(docs, BandSigs.of(col("hv"), 16), col("hv")),
      "BloomProbe_ns_per_row" ->
        nsPerRow(keys, BloomProbe.probe(col("doc_id"), sketch), col("doc_id")))
    Seq(emb, embSmall, docs, keys).foreach(_.unpersist())
    out
  }
}
