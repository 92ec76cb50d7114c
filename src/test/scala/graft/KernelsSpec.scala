package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions

/** Input row for the flatMapGroups twin of the retractable sliding-window
  * operator (top-level so the product encoder derives cleanly). */
case class RetractEv(user_id: Long, event_id: Long,
    ts: java.sql.Timestamp, value: Double)

object KernelsSpec {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** The pre-window-executor shape of [[Advanced.winMovingRetract]]
    * (groupByKey + flatMapGroups driving
    * [[graft.functions.MovingDecimalSum]] directly), its cross-check twin. */
  def winMovingRetractFlatMapGroups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.MovingDecimalSum
    val frame = 4
    Q.t(s, d, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[RetractEv]
      .groupByKey(_.user_id)
      .flatMapGroups { (uid, it) =>
        // full-precision event-time order: getTime alone is milliseconds
        // and would tie-break sub-millisecond events differently than the
        // oracle's ORDER BY ts (microsecond precision)
        val rows = it.toArray
          .sortBy(r => (r.ts.getTime, r.ts.getNanos, r.event_id))
        val inFrame = scala.collection.mutable.Queue.empty[Double]
        var state = MovingDecimalSum.zero
        rows.iterator.map { r =>
          state = MovingDecimalSum.update(state, r.value)
          inFrame.enqueue(r.value)
          if (inFrame.size > frame)
            state = MovingDecimalSum.retract(state, inFrame.dequeue())
          (uid, r.event_id, MovingDecimalSum.evaluate(state), inFrame.size.toLong)
        }
      }
      .toDF("user_id", "event_id", "mov_sum", "n_frame")
      .orderBy("user_id", "event_id")
  }
}

/** Native vector kernels: codegen path vs interpreted vs HOF formulation. */
class KernelsSpec extends AnyFunSuite {
  import SparkSpec._

  private lazy val vecs = {
    GraftFunctions.register(spark)
    Q.t(spark, sf, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .limit(50)
      .cache()
  }

  test("cosine_sim matches the HOF formulation") {
    val hofDot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val probe = vecs.filter(col("vec_id") === 0).select(col("v").as("pv"))
    val rows = vecs.join(broadcast(probe))
      .select(
        GraftFunctions.cosine_sim(col("v"), col("pv")).as("native"),
        (hofDot(col("v"), col("pv")) /
          (sqrt(hofDot(col("v"), col("v"))) * sqrt(hofDot(col("pv"), col("pv")))))
          .as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    }
  }

  test("kernels agree between codegen and interpreted execution") {
    val probe = vecs.filter(col("vec_id") === 1).select(col("v").as("pv"))
    def run(): Array[Double] =
      vecs.join(broadcast(probe))
        .select(GraftFunctions.l2_distance(col("v"), col("pv")))
        .collect().map(_.getDouble(0))
    val withCodegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try run() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(withCodegen.sameElements(interpreted))
  }

  test("inner_product of a vector with itself is its squared norm") {
    val rows = vecs
      .select(
        GraftFunctions.inner_product(col("v"), col("v")).as("dot"),
        GraftFunctions.l2_distance(col("v"),
          transform(col("v"), _ * 0.0)).as("norm"))
      .collect()
    rows.foreach { r =>
      assert(math.abs(math.sqrt(r.getDouble(0)) - r.getDouble(1)) < 1e-9)
    }
  }
}

/** Rows-only extras: sketch aggregates vs exact, describe shape. */
class ExtrasSpec extends AnyFunSuite {
  import SparkSpec._

  test("approx aggregates land near their exact counterparts") {
    val rows = Extras.aggApprox(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("orders_within_tol"),
        s"HLL off by >10% for ${r.getAs[String]("l_returnflag")}")
      assert(r.getAs[Boolean]("median_within_tol"),
        s"approx median off by >5% for ${r.getAs[String]("l_returnflag")}")
      assert(r.getAs[Long]("exact_orders") > 0)
      assert(r.getAs[Double]("exact_median") > 0.0)
    }
  }

  test("describe produces the five summary rows") {
    val labels = Extras.rowopDescribe(spark, sf)
      .collect().map(_.getString(0)).toSet
    assert(labels == Set("count", "mean", "stddev", "min", "max"))
    // the operator's native output is a string matrix (reference
    // dataframe.py:417) — assert that shape on the raw describe() too
    val raw = Q.t(spark, sf, "part")
      .select("p_size", "p_retailprice").describe()
    assert(raw.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.StringType))
    assert(raw.count() == 5)
  }
}

/** Custom TypedImperativeAggregate: weighted percentile. */
class WeightedPercentileSpec extends AnyFunSuite {
  import SparkSpec._
  import graft.functions.WeightedPercentile

  test("hand-computed weighted median") {
    WeightedPercentile.register(spark)
    import spark.implicits._
    // values 10,20,30 with weights 1,1,8 → p50 sits inside the 30-mass
    Seq((10.0, 1.0), (20.0, 1.0), (30.0, 8.0)).toDF("v", "w")
      .createOrReplaceTempView("wp_t")
    val r = spark.sql("SELECT percentile_weighted(v, w, 0.5) FROM wp_t")
      .collect().head.getDouble(0)
    assert(r == 30.0)
    // uniform weights reduce to the plain lower percentile
    val u = spark.sql("SELECT percentile_weighted(v, 1.0, 0.5) FROM wp_t")
      .collect().head.getDouble(0)
    assert(u == 20.0)
  }

  test("result is invariant under partitioning (update/merge contract)") {
    WeightedPercentile.register(spark)
    val li = Q.t(spark, sf, "lineitem")
    def run(parts: Int): Double = {
      li.repartition(parts).createOrReplaceTempView("wp_li")
      spark.sql("SELECT percentile_weighted(l_extendedprice, l_quantity, 0.7) FROM wp_li")
        .collect().head.getDouble(0)
    }
    assert(run(1) == run(13))
  }

  test("empty input evaluates to null") {
    WeightedPercentile.register(spark)
    Q.t(spark, sf, "lineitem").filter("l_quantity < 0")
      .createOrReplaceTempView("wp_empty")
    val r = spark.sql("SELECT percentile_weighted(l_extendedprice, l_quantity, 0.5) FROM wp_empty")
      .collect().head
    assert(r.isNullAt(0))
  }
}

/** Salted-join utility and the injected kernel-simplification rule. */
class ScaleUtilitiesSpec extends AnyFunSuite {
  import SparkSpec._

  test("salted join equals plain join") {
    val li = Q.t(spark, sf, "lineitem")
    val part = Q.t(spark, sf, "part")
      .withColumnRenamed("p_partkey", "l_partkey")
    val plain = li.join(part, Seq("l_partkey"))
      .groupBy("p_brand").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Q.saltedJoin(li, part, "l_partkey", 8)
      .groupBy("p_brand").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("AQE splits a skewed join partition at runtime") {
    // The complement of the salted join: when AQE is available, a hot
    // key needs no manual salting — the skew-join rule splits the
    // oversized shuffle partition into parallel sub-reads at runtime.
    // Pin that the rule actually fires (plan carries skew=true) on a
    // 99%-one-key join with thresholds scaled to test-sized data.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    import org.apache.spark.sql.functions.{col, when, lit}
    val big = s.range(0, 100000)
      .select(when(col("id") % 100 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("payload"))
    val small = s.range(0, 1000).select(col("id").as("k2"), (col("id") * 2).as("v"))
    val joined = big.join(small, col("k") === col("k2"))
    // execute through the Dataset's own QueryExecution (count() would
    // plan a separate query and leave this one un-finalized)
    assert(joined.collect().nonEmpty)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE skew-join did not fire:\n${plan.take(3000)}")
  }

  test("KernelSimplify rewrites cosine self-similarity exactly") {
    GraftFunctions.register(spark)
    val base = Q.t(spark, sf, "embeddings")
      .select(transform(col("embedding"), _.cast("double")).as("v"))
      .limit(40).cache()
    val df = base.select(GraftFunctions.cosine_sim(col("v"), col("v")).as("c"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("cosine_sim") && optimized.contains("cosine_self"),
      optimized)
    val folded = df.collect().map(_.getDouble(0))
    // bitwise-identical to the unrewritten kernel — the rule must not change results
    val saved = spark.experimental.extraOptimizations
    val raw = try {
      spark.experimental.extraOptimizations = Nil
      base.select(GraftFunctions.cosine_sim(col("v"), col("v")).as("c"))
        .collect().map(_.getDouble(0))
    } finally spark.experimental.extraOptimizations = saved
    assert(folded.map(java.lang.Double.doubleToLongBits).toSeq ==
      raw.map(java.lang.Double.doubleToLongBits).toSeq)
    // zero vector: kernel semantics are NaN (0/0); the rewrite must preserve that
    val zc = base.limit(1)
      .select(transform(col("v"), _ * 0.0).as("v"))
      .select(GraftFunctions.cosine_sim(col("v"), col("v")).as("c"))
      .collect()(0).getDouble(0)
    assert(zc.isNaN)
    // l2_distance(v, v) is deliberately NOT folded (NaN/Inf inputs)
    val l2Plan = base.select(GraftFunctions.l2_distance(col("v"), col("v")))
      .queryExecution.optimizedPlan.toString
    assert(l2Plan.contains("l2_distance"), l2Plan)
  }

  test("ema skips null inputs, carrying the previous state") {
    graft.functions.WindowKernels.register(spark)
    val rows = spark.sql(
      """SELECT i, ema(x, 0.3d) OVER (ORDER BY i) AS e FROM VALUES
        |  (1, 10.0d), (2, CAST(NULL AS DOUBLE)), (3, 20.0d) AS t(i, x)
        |ORDER BY i""".stripMargin).collect()
    assert(rows(0).getDouble(1) == 10.0)
    assert(rows(1).getDouble(1) == 10.0) // null input must not null the state
    assert(math.abs(rows(2).getDouble(1) - (0.3 * 20.0 + 0.7 * 10.0)) < 1e-12)
  }

  test("sketch-mode weighted percentile tracks exact mode at high cardinality") {
    graft.functions.WeightedPercentile.register(spark)
    Q.t(spark, sf, "lineitem").createOrReplaceTempView("li_sk")
    val rows = spark.sql(
      """SELECT
        |  percentile_weighted(l_extendedprice, l_quantity, 0.5) AS exact_p50,
        |  percentile_weighted_sketch(l_extendedprice, l_quantity, 0.5) AS sk_p50,
        |  percentile_weighted(l_extendedprice, l_quantity, 0.9) AS exact_p90,
        |  percentile_weighted_sketch(l_extendedprice, l_quantity, 0.9) AS sk_p90
        |FROM li_sk""".stripMargin).collect().head
    for ((e, s) <- Seq((rows.getDouble(0), rows.getDouble(1)),
        (rows.getDouble(2), rows.getDouble(3)))) {
      assert(math.abs(s - e) / math.abs(e) < 0.02,
        s"sketch $s vs exact $e drifted >2%")
    }
    // the sketch state stays bounded regardless of input size
    val buf = scala.collection.mutable.ArrayBuffer.tabulate(100000)(i =>
      ((i * 37 % 9973).toDouble, 1.0 + i % 3))
    val before = buf.map(_._2).sum
    val compact = graft.functions.WeightedPercentile.compress(buf)
    assert(compact.length <= graft.functions.WeightedPercentile.MaxCentroids + 8,
      s"compressed to ${compact.length}")
    assert(math.abs(compact.map(_._2).sum - before) / before < 1e-9,
      "compaction must preserve total weight")
  }

  test("retractable accumulator: update+retract returns to the prior state") {
    import graft.functions.MovingDecimalSum
    val s0 = MovingDecimalSum.zero
    val s1 = MovingDecimalSum.update(s0, 12.34)
    val s2 = MovingDecimalSum.update(s1, 56.78)
    assert(MovingDecimalSum.retract(s2, 12.34)
      .compareTo(MovingDecimalSum.update(s0, 56.78)) == 0)
    assert(MovingDecimalSum.retract(s1, 12.34).compareTo(s0) == 0)
    assert(MovingDecimalSum.evaluate(
      MovingDecimalSum.merge(s1, MovingDecimalSum.update(s0, 0.66))) == 13.0)
  }

  test("retractable accumulator rounds >6-fraction-digit input instead of throwing") {
    import graft.functions.MovingDecimalSum
    val v = 0.1 + 0.2 // 0.30000000000000004 — shortest form has 17 fraction digits
    val s1 = MovingDecimalSum.update(MovingDecimalSum.zero, v)
    assert(MovingDecimalSum.evaluate(s1) == 0.3)
    assert(MovingDecimalSum.retract(s1, v).compareTo(MovingDecimalSum.zero) == 0,
      "update and retract must stay exact inverses after entry rounding")
  }

  test("retractable sliding sum equals Spark's built-in frame and is partition-invariant") {
    import org.apache.spark.sql.expressions.Window
    // window-executor path (moving_sum UDWF — the registry default)
    val result = Advanced.winMovingRetract(spark, sf).collect().map(_.toString).toSeq
    // cross-check twin: the flatMapGroups shape driving the accumulator
    val viaGroups = KernelsSpec.winMovingRetractFlatMapGroups(spark, sf)
      .collect().map(_.toString).toSeq
    assert(result == viaGroups)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, 0)
    val builtin = Q.t(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        sum(col("value").cast("decimal(30,6)")).over(w).cast("double").as("mov_sum"),
        count(lit(1)).over(w).as("n_frame"))
      .orderBy("user_id", "event_id")
      .collect().map(_.toString).toSeq
    assert(result == builtin)
    // partition invariance: the window shuffle rebuilds per-user order
    // regardless of input layout
    val dir = java.nio.file.Files.createTempDirectory("graft_retract").toString
    // Q.read expects events.ts as nanosecond longs (TESTDATA layout)
    Q.t(spark, sf, "events").repartition(7)
      .withColumn("ts", (unix_micros(col("ts")) * 1000L).cast("long"))
      .write.parquet(s"$dir/events.parquet")
    val reshuffled = Advanced.winMovingRetract(spark, dir).collect().map(_.toString).toSeq
    assert(reshuffled == result)
  }

  test("moving_sum entry conversion pins DuckDB double->decimal semantics") {
    import graft.functions.{DecimalEntry, MovingDecimalSum}
    // expected values verified against DuckDB 1.0
    // `CAST(CAST(v AS DOUBLE) AS DECIMAL(30,6))`: the double product
    // v * 1e6 rounded half-away-from-zero. Spark's own Cast (shortest
    // decimal string) disagrees on several of these — e.g. 0.1234565's
    // short string rounds to .123457 but 2.0000005 * 1e6 is exactly
    // 2000000.5 while its short string "2.0000005" also rounds up; the
    // binary-exact expansion 2.00000050000000007 rounds up too, yet
    // 0.1234565's exact expansion 0.12345649999... rounds DOWN — no
    // single string/binary rule matches, only the product rule does.
    val expect = Seq(
      0.1234565 -> "0.123457",
      2.0000005 -> "2.000001",
      5e-07 -> "0.000001",
      7.0000015 -> "7.000002",
      -7.0000015 -> "-7.000002",
      0.30000000000000004 -> "0.300000")
    for ((v, s) <- expect) {
      assert(DecimalEntry.toDec(v).toJavaBigDecimal.toPlainString == s,
        s"toDec($v)")
      // the flatMapGroups accumulator uses the identical conversion
      assert(MovingDecimalSum.update(MovingDecimalSum.zero, v).toPlainString == s,
        s"accumulator update($v)")
    }
    // and the SQL window path agrees with the accumulator on boundaries
    graft.functions.WindowKernels.register(spark)
    val viaSql = spark.sql(
      """SELECT moving_sum(x, 1) OVER (ORDER BY i) AS m FROM VALUES
        |  (1, 0.1234565d), (2, 2.0000005d), (3, 5e-7d) AS t(i, x)
        |ORDER BY i""".stripMargin).collect().map(_.getDouble(0)).toSeq
    assert(viaSql == Seq(0.123457, 2.000001, 0.000001))
  }

  test("moving_sum null semantics match SQL sum over the same frame") {
    graft.functions.WindowKernels.register(spark)
    val rows = spark.sql(
      """SELECT i,
        |  moving_sum(x, 2) OVER (ORDER BY i) AS m,
        |  CAST(sum(CAST(x AS DECIMAL(38,6))) OVER
        |    (ORDER BY i ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS builtin
        |FROM VALUES
        |  (1, CAST(NULL AS DOUBLE)), (2, CAST(NULL AS DOUBLE)),
        |  (3, 10.0d), (4, CAST(NULL AS DOUBLE)), (5, CAST(NULL AS DOUBLE)),
        |  (6, 7.5d) AS t(i, x)
        |ORDER BY i""".stripMargin).collect()
    // all-null frames (rows 1, 2 and 5) are NULL, not 0; null inputs
    // still slide the frame (row 4 keeps 10.0, row 5 has lost it)
    val expected = Seq[Option[Double]](
      None, None, Some(10.0), Some(10.0), None, Some(7.5))
    rows.zip(expected).foreach { case (r, e) =>
      assert((if (r.isNullAt(1)) None else Some(r.getDouble(1))) == e, r)
      assert((if (r.isNullAt(2)) None else Some(r.getDouble(2))) ==
        (if (r.isNullAt(1)) None else Some(r.getDouble(1))),
        s"kernel and builtin frame disagree: $r")
    }
  }

  test("moving_sum validates its arguments and short frames") {
    graft.functions.WindowKernels.register(spark)
    // n = 1: frame is just the current row
    Q.t(spark, sf, "events").createOrReplaceTempView("ms_ev")
    val one = spark.sql(
      """SELECT value, moving_sum(value, 1)
        |  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS m
        |FROM ms_ev LIMIT 50""".stripMargin).collect()
    one.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-6) }
    // non-literal / non-positive frame sizes are rejected at analysis
    intercept[Exception] {
      spark.sql("SELECT moving_sum(value, 0) OVER (ORDER BY ts) FROM ms_ev")
        .collect()
    }
    intercept[Exception] {
      spark.sql("SELECT moving_sum(value, event_id) OVER (ORDER BY ts) FROM ms_ev")
        .collect()
    }
  }

  test("kernels reject mismatched vector lengths") {
    GraftFunctions.register(spark)
    val df = spark.sql(
      "SELECT cosine_sim(array(1.0d, 2.0d), array(1.0d, 2.0d, 3.0d)) AS c")
    val e = intercept[Exception](df.collect())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("length mismatch")), e.toString)
  }

  test("Q.ddec fast cast == engine decimal cast, row-exact, codegen and interpreted") {
    import org.apache.spark.sql.types.DecimalType
    // edge doubles: NaN/Inf (cast → null even under ANSI), signed zero,
    // HALF_UP tie neighborhoods, the Long-fit frontier at scale 6
    // (~9.2e12), values beyond it (slow path), subnormals — plus corpus
    // measures. Precision-overflow values are asserted separately below
    // (both legs must THROW identically in this ANSI session).
    val edges = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      0.0, -0.0, 1.0000005, -1.0000005, 2.5e-6, -2.5e-6, 0.5e-6,
      9.2e12, 9.3e12, -9.3e12, 1e19, -1e19, java.lang.Double.MIN_VALUE,
      123.456789, -987.654321, 4999.995, 0.1 + 0.2)
    // decimal(30, s) holds 30−s integral digits: drop magnitudes that
    // overflow at this scale (both legs THROW identically under ANSI —
    // asserted separately below), keep everything else
    def syn(scale: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(edges.filter(x =>
        x.isNaN || x.isInfinite || math.abs(x) < math.pow(10, 30 - scale))
        .map(Tuple1(_)), 3))
      .toDF("m")
    val corpus = Q.t(spark, sf, "lineitem")
      .select((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("m"))
      .limit(2000)
    for (scale <- Seq(6, 12); df <- Seq(syn(scale), corpus)) {
      def run(): Seq[String] = df.select(
          Q.ddec(col("m"), scale = scale).as("fast"),
          col("m").cast(DecimalType(30, scale)).as("ref"))
        .collect().map(r => s"${r.get(0)}|${r.get(1)}").toSeq
      // forced codegen (no silent interpreted fallback hiding a janino
      // compile failure), then interpreted — all three must agree
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      val rowsCodegen = try run() finally {
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
        spark.conf.set("spark.sql.codegen.fallback", "true")
      }
      rowsCodegen.foreach { s =>
        val Array(f, r) = s.split("\\|", 2); assert(f == r, s"fast=$f ref=$r")
      }
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val rowsInterp = try run() finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
      assert(rowsCodegen == rowsInterp)
      // and the aggregate the cast exists for: bit-identical sums
      val sums = df.agg(
        sum(Q.ddec(col("m"), scale = scale)).cast("double").as("fast"),
        sum(col("m").cast(DecimalType(30, scale))).cast("double").as("ref"))
        .head()
      assert(java.lang.Double.doubleToRawLongBits(sums.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(sums.getDouble(1)))
    }
    // precision overflow under this ANSI session: BOTH legs throw the
    // engine's NUMERIC_VALUE_OUT_OF_RANGE SparkArithmeticException
    val over = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Tuple1(1e25)), 1)).toDF("m")
    def rootCauses(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: rootCauses(t.getCause)
    for (c <- Seq(Q.ddec(col("m")), col("m").cast(DecimalType(30, 6)))) {
      val e = intercept[Exception](over.select(c).collect())
      assert(rootCauses(e).exists(x =>
        x.isInstanceOf[ArithmeticException] ||
          Option(x.getMessage).exists(_.contains("NUMERIC_VALUE_OUT_OF_RANGE"))),
        e.toString)
    }
  }
}
