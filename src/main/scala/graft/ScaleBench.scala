package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesizes an SF1-equivalent corpus by key-shifted replication of the
  * sf0.1 corpus, so the headline bench can be run at the baseline's own
  * scale factor (BASELINE.md reports the reference at SF1) with a
  * splittable multi-file parquet layout and AQE on — the configuration a
  * real cluster would use. Replication preserves referential integrity:
  * copy k shifts every key of an entity (custkey, orderkey, partkey,
  * suppkey) by the same offset in every table that carries it, so join
  * cardinalities scale linearly and no artificial hot keys appear.
  * Fixed-cardinality dims (nation, region) are not replicated, as in real
  * TPC-H scaling, and `events` is copied once. `documents` and
  * `embeddings` are replicated with their ids shifted and their content
  * duplicated, so the dedup and ANN operators can be stress-run at the
  * scaled corpus size. The session is [[Harness.verify]]; the written layout is
  * set by explicit repartitions, not by its shuffle width. Usage:
  *   runMain graft.ScaleBench [factor] [srcDir] [outDir]
  * then run graft.Bench with SPARK_GRAFT_SF_DIR=outDir.
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val src = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(2).getOrElse("/root/repo/target/sfscale")
    val OFF = 100000000L

    val spark = Harness.session(Harness.verify())

    /** Union `factor` key-shifted copies. */
    def replicate(df: DataFrame, keyCols: Seq[String]): DataFrame =
      (0 until factor).map { k =>
        keyCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(k * OFF)))
      }.reduce(_ unionAll _)

    val plans: Seq[(String, Seq[String])] = Seq(
      "customer" -> Seq("c_custkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "part" -> Seq("p_partkey"),
      "supplier" -> Seq("s_suppkey"),
      "nation" -> Nil, "region" -> Nil, "events" -> Nil,
      // pipeline tables replicate too (content duplicated, ids shifted) so
      // the dedup/ANN operators can be stress-run at 10× corpus size —
      // exact copies are the worst case for LSH bucket skew
      "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"))

    plans.foreach { case (name, keys) =>
      val base = spark.read.parquet(s"$src/$name.parquet")
      val scaled =
        if (keys.isEmpty) base
        else replicate(base, keys)
      val parts = if (keys.isEmpty) 1 else 16 // splittable layout for facts
      scaled.repartition(parts)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      // count the written files, not the plan — recomputing the replicated
      // union just for the log line would double the job
      val n = spark.read.parquet(s"$out/$name.parquet").count()
      println(s"[scale] $name: $n rows -> $out/$name.parquet")
    }
    spark.stop()
  }
}
