package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** Intentionally quadratic (or raw-string) twins of the banded and hashed
  * dedup operators — the specs' ground truth, never registered: their
  * triangular joins are the shapes the shipped plans exist to avoid. */
object DedupBrute {

  /** All-pairs twin of [[Pipeline.dedupNgramJaccard]]: exact Jaccard of
    * the distinct word-trigram string sets. */
  def dedupNgramJaccard(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), Pipeline.gramsExpr.as("g"))
    val a = docs.select(col("doc_id").as("doc1"), col("g").as("g1"))
    val b = docs.select(col("doc_id").as("doc2"), col("g").as("g2"))
    a.join(b, col("doc1") < col("doc2"))
      .withColumn("jaccard", round(
        size(array_intersect(col("g1"), col("g2"))).cast("double") /
          size(array_union(col("g1"), col("g2"))), 6))
      .filter(col("jaccard") >= 0.2)
      .select("doc1", "doc2", "jaccard")
      .orderBy("doc1", "doc2")
  }

  /** Triangular all-pairs twin of [[Pipeline.dedupEmbedding]]. */
  def dedupEmbedding(s: SparkSession, d: String): DataFrame = {
    val vecs = t(s, d, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val a = vecs.select(col("vec_id").as("id1"), col("v").as("v1"))
    val b = vecs.select(col("vec_id").as("id2"), col("v").as("v2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cos", try_divide(dot(col("v1"), col("v2")),
        norm2(col("v1")) * norm2(col("v2"))))
      .filter(col("cos") >= 0.95 && !isnan(col("cos")))
      .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("id1", "id2")
  }

  /** Raw-string-gram twin of [[Pipeline.dedupSubstring]]: identical
    * topology, gram strings as keys. */
  def dedupSubstringSpans(s: SparkSession, d: String): DataFrame =
    Pipeline.dedupSubstringOn(gramCol = "concat_ws(' ', slice(ws, i, 8))")(s, d)
}
