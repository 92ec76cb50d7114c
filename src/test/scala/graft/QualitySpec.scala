package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the drift-test / robust-anomaly operators that the
  * row-hash oracle cannot express: statistic ranges, pair coverage, and
  * canonical-cluster bookkeeping. */
class QualitySpec extends AnyFunSuite {
  import SparkSpec._

  test("KS statistics are in [0,1] and cover every source pair once") {
    val rows = Quality.statKsTest(spark, sf).collect()
    val nSources = Q.t(spark, sf, "documents")
      .select("source").distinct().count().toInt
    assert(rows.length == nSources * (nSources - 1) / 2,
      s"expected C($nSources,2) pairs, got ${rows.length}")
    rows.foreach { r =>
      val ks = r.getAs[Double]("ks_stat")
      assert(ks >= 0.0 && ks <= 1.0, s"ks out of range: $r")
      assert(r.getAs[String]("source_a") < r.getAs[String]("source_b"))
      // the attaining value must be a real corpus length
      assert(r.getAs[Long]("at_value") > 0)
    }
  }

  test("Mann-Whitney U is in [0, n_a*n_b] and midranks are consistent") {
    val rows = Quality.statMannWhitney(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val u = r.getAs[Double]("u_stat")
      val na = r.getAs[Long]("n_a"); val nb = r.getAs[Long]("n_b")
      assert(u >= 0.0 && u <= na.toDouble * nb, s"U out of range: $r")
      // U is an integer or half-integer (midrank ties)
      assert((u * 2) == math.rint(u * 2), s"U not half-integral: $r")
      assert(!r.getAs[Double]("z").isNaN)
    }
  }

  test("MAD robust z-scores: mad>=0, null rz iff mad=0, outliers are rare") {
    val rows = Quality.eventAnomalyMad(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("mad") >= 0.0)
      val madZero = r.getAs[Double]("mad") == 0.0
      assert(r.isNullAt(r.fieldIndex("rz")) == madZero, s"rz/mad mismatch: $r")
    }
    val outliers = rows.count(_.getAs[Boolean]("is_outlier"))
    assert(outliers.toDouble / rows.length < 0.2,
      s"robust z flagged $outliers/${rows.length} — MAD scaling is off")
    // flagged events must sit beyond 3.5 robust z
    rows.filter(_.getAs[Boolean]("is_outlier")).foreach { r =>
      assert(math.abs(r.getAs[Double]("rz")) > 3.5)
    }
  }

  test("attribution links purchases only to preceding clicks inside the window") {
    val rows = Pipeline.eventAttribution(spark, sf).collect()
    val purchases = Q.t(spark, sf, "events")
      .filter(col("event_type") === "purchase").count()
    assert(rows.length == purchases, "one decision per purchase")
    rows.foreach { r =>
      val attributed = r.getAs[Boolean]("attributed")
      assert(r.isNullAt(r.fieldIndex("click_id")) == !attributed)
      assert(r.isNullAt(r.fieldIndex("gap_s")) == !attributed)
      if (attributed) {
        val gap = r.getAs[Long]("gap_s")
        assert(gap >= 0 && gap <= Pipeline.AttrWindowS, s"gap out of window: $r")
      }
    }
    // some but not all purchases attribute on this corpus
    val n = rows.count(_.getAs[Boolean]("attributed"))
    assert(n > 0 && n < rows.length, s"degenerate attribution: $n/${rows.length}")
  }

  test("balanced sample caps every source at the same size") {
    val rows = Stats.sampleBalanced(spark, sf).collect()
    val bySource = rows.groupBy(_.getAs[String]("source"))
    val kept = bySource.map { case (_, rs) => rs.count(_.getAs[Boolean]("keep")) }
    assert(kept.toSet.size == 1, s"unequal per-source keeps: ${kept.toSet}")
    bySource.foreach { case (src, rs) =>
      val k = rs.count(_.getAs[Boolean]("keep"))
      assert(k == math.ceil(bySource.values.map(_.length).min / 2.0).toLong,
        s"$src kept $k")
      // kept docs are exactly the lowest ranks
      assert(rs.filter(_.getAs[Boolean]("keep")).map(_.getAs[Long]("rk")).max <= k)
    }
  }

  test("PSI is symmetric-positive and covers every source pair") {
    val rows = Quality.statPsi(spark, sf).collect()
    val nSources = Q.t(spark, sf, "documents")
      .select("source").distinct().count().toInt
    assert(rows.length == nSources * (nSources - 1) / 2)
    rows.foreach { r =>
      // (p-q)·ln(p/q) is pointwise nonnegative, so PSI ≥ 0 always
      assert(r.getAs[Double]("psi") >= 0.0, s"negative PSI: $r")
    }
    assert(rows.exists(_.getAs[Double]("psi") > 0.01), "all-zero PSI is degenerate")
  }

  test("JSD is bounded by ln 2 and zero only for identical vocab profiles") {
    val rows = Quality.statJsDivergence(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val j = r.getAs[Double]("jsd")
      assert(j >= 0.0 && j <= math.log(2.0) + 1e-9, s"JSD out of range: $r")
    }
  }

  test("Welch t sign follows the mean difference; dof within classic bounds") {
    val rows = Quality.statWelchT(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getAs[Double]("t_stat")
      val dm = r.getAs[Double]("mean_a") - r.getAs[Double]("mean_b")
      assert(math.signum(t) == math.signum(dm) || dm == 0.0, s"t/mean sign: $r")
      val na = r.getAs[Long]("n_a"); val nb = r.getAs[Long]("n_b")
      val dof = r.getAs[Double]("dof")
      // Welch–Satterthwaite dof lies in [min(n)-1, n_a+n_b-2]
      assert(dof >= math.min(na, nb) - 1 - 1e-6 && dof <= na + nb - 2 + 1e-6,
        s"dof out of bounds: $r")
    }
  }

  test("shard_pack: snake layout balances token totals; pos matches the global window") {
    val rows = Pipeline.shardPack(spark, sf).collect()
    val n = rows.length
    assert(rows.map(_.getAs[Long]("pos")).sorted.toSeq == (0L until n).toSeq,
      "pos must be a permutation of 0..n-1")
    val byShard = rows.groupBy(_.getAs[Long]("shard"))
    assert(byShard.keySet == (0L until Pipeline.Shards).toSet)
    val totals = byShard.values.map(_.map(_.getAs[Long]("n_tokens")).sum)
    val maxDoc = rows.map(_.getAs[Long]("n_tokens")).max
    assert(totals.max - totals.min <= maxDoc,
      s"snake imbalance ${totals.max - totals.min} exceeds one document ($maxDoc)")
    // the distributed rank must equal the engine's global window rank
    import org.apache.spark.sql.expressions.Window
    val twin = Q.t(spark, sf, "documents")
      .select(col("doc_id"),
        expr("cast(size(split(trim(text), '\\\\s+')) as bigint)").as("n_tokens"))
      .withColumn("pos", row_number().over(
        Window.orderBy(col("n_tokens").desc, col("doc_id"))).cast("long") - 1)
      .select("doc_id", "pos").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pos")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("pos") == twin(r.getAs[Long]("doc_id")),
        s"distPos disagrees with the global window at $r")
    }
  }

  test("rangeParts/distPos follow spark.sql.shuffle.partitions and stay exact") {
    // the exact-rank primitive must derive its range-partition width from
    // the session's parallelism (not a literal) and emit identical results
    // at any setting — verified here at a non-default width
    import org.apache.spark.sql.expressions.Window
    val conf = spark.conf
    val saved = conf.get("spark.sql.shuffle.partitions")
    try {
      conf.set("spark.sql.shuffle.partitions", "5")
      val src = Q.t(spark, sf, "orders").select(col("o_orderkey"), col("o_totalprice"))
      assert(Q.rangeParts(src) == 5, "width must follow the session conf")
      val pos = Q.distPos(src, "p", col("o_totalprice"), col("o_orderkey"))
        .collect().map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("p")).toMap
      val posTwin = src.withColumn("p",
          row_number().over(Window.orderBy(col("o_totalprice"), col("o_orderkey")))
            .cast("long") - 1)
        .collect().map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("p")).toMap
      assert(pos == posTwin, "distPos must match the builtin at width 5")
    } finally conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("ntileByBoundaries matches the ntile builtin on every axis") {
    // the r20 broadcast-boundary ntile (event_rfm's quartiles) must be
    // bit-identical to the engine builtin: asc and desc orders, heavy
    // ties broken by the key, doubles, n % buckets != 0, n < buckets,
    // and nulls under Spark's default placement
    import org.apache.spark.sql.expressions.Window
    def builtin(df: org.apache.spark.sql.DataFrame, b: Int,
        order: org.apache.spark.sql.Column*): Map[Long, Long] =
      df.withColumn("tw", ntile(b).over(Window.orderBy(order: _*)).cast("long"))
        .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("tw")).toMap
    def mine(df: org.apache.spark.sql.DataFrame, b: Int,
        order: org.apache.spark.sql.Column*): Map[Long, Long] =
      Q.ntileByBoundaries(df, b, "nb", order: _*)
        .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("nb")).toMap
    val src = Q.t(spark, sf, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
    for (b <- Seq(2, 4, 7)) {
      assert(mine(src, b, col("v"), col("k")) ==
        builtin(src, b, col("v"), col("k")), s"asc doubles, b=$b")
      assert(mine(src, b, col("v").desc, col("k")) ==
        builtin(src, b, col("v").desc, col("k")), s"desc doubles, b=$b")
    }
    // heavy ties (7 distinct values), asc and desc on the tied column;
    // o_orderkey is unique so (v, k) stays a total order
    val tied = Q.t(spark, sf, "orders")
      .select(col("o_orderkey").as("k"),
        pmod(col("o_orderkey"), lit(7)).cast("long").as("v"))
    assert(mine(tied, 4, col("v"), col("k")) ==
      builtin(tied, 4, col("v"), col("k")), "tied asc")
    assert(mine(tied, 4, col("v").desc, col("k")) ==
      builtin(tied, 4, col("v").desc, col("k")), "tied desc")
    // n < buckets, and nulls first/last
    import spark.implicits._
    val tiny = Seq((1L, Some(5.0)), (2L, None), (3L, Some(1.0)),
      (4L, None), (5L, Some(3.0))).toDF("k", "v")
    for (b <- Seq(3, 4, 10)) {
      assert(mine(tiny, b, col("v"), col("k")) ==
        builtin(tiny, b, col("v"), col("k")), s"nulls asc, b=$b")
      assert(mine(tiny, b, col("v").desc, col("k")) ==
        builtin(tiny, b, col("v").desc, col("k")), s"nulls desc, b=$b")
    }
  }

  test("rolling corr: contiguous hourly grid, |r|<=1, frame caps at 24") {
    val rows = Stats.eventRollingCorr(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("n") == math.min(i + 1, 24), s"frame size at $i: $r")
      if (!r.isNullAt(r.fieldIndex("corr24"))) {
        val c = r.getAs[Double]("corr24")
        assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"corr out of range: $r")
      }
    }
    val hours = rows.map(_.getAs[java.sql.Timestamp]("h").getTime)
    assert(hours.sliding(2).forall(p => p(1) - p(0) == 3600000L),
      "hour grid must be contiguous")
  }

  test("Gini coefficients are in [0,1) with one row per source") {
    val rows = Quality.statGini(spark, sf).collect()
    val nSources = Q.t(spark, sf, "documents")
      .select("source").distinct().count().toInt
    assert(rows.length == nSources)
    rows.foreach { r =>
      val g = r.getAs[Double]("gini")
      assert(g >= 0.0 && g < 1.0, s"gini out of range: $r")
    }
    assert(rows.exists(_.getAs[Double]("gini") > 0.05),
      "all-uniform Gini is degenerate for this corpus")
  }

  test("canonical selection keeps exactly one doc per cluster") {
    val rows = Pipeline.dedupKeepCanonical(spark, sf).collect()
    val total = Q.t(spark, sf, "documents").count()
    assert(rows.length == total, "every doc must receive a decision")
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, rs) =>
      assert(rs.count(_.getAs[Boolean]("is_canonical")) == 1,
        s"cluster $cid must have exactly one canonical")
      assert(rs.map(_.getAs[Long]("doc_id")).min == cid,
        s"cluster id must be the min member, cluster $cid")
      rs.foreach(r => assert(r.getAs[Long]("cluster_size") == rs.length))
    }
    // clusters partition the corpus
    assert(byCluster.values.map(_.length).sum == total)
  }
}
