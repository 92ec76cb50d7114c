package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** Sketching, sampling and sequence-analytics operators — the statistical
  * layer a training-data pipeline runs between ingestion and featurization:
  * mergeable frequency sketches (Count-Min, Bloom), weighted sampling
  * (priority sampling), discretization (equal-frequency binning), event
  * sequence mining (Markov transitions, path n-grams, sliding windows),
  * a one-pass correlation matrix, a toleranced as-of join, and a
  * schema-evolution scan.
  *
  * Scale design: every sketch is built with one keyed aggregation whose
  * output is sketch-sized (depth×width counters, m bloom bits), then
  * broadcast to the probe side — the canonical mergeable-summary topology
  * at 100 TB where the raw stream is huge but the summary is KBs. Sequence
  * operators shuffle once on their natural key (user, window bucket, path)
  * and never collect to the driver. Hash lanes reuse the repo-wide
  * md5-prefix construction so every estimate is bit-reproducible in the
  * DuckDB oracle at any parallelism.
  */
object Stats {

  private val CmsDepth = 4
  private val CmsWidth = 256L
  private val BloomBits = 8192L
  private val BloomK = 4
  private val SampleK = 100
  private val HllM = 64
  /** α₆₄ from Flajolet et al. 2007 Fig. 3 — a literal constant, so both
    * engines parse the identical double. */
  private val HllAlpha = 0.709
  private val AcfMaxLag = 24
  private val AssocTop = 50
  private val Bins = 10
  private val PathTop = 50
  /** 2^60 — the lane range; dividing a lane by it is an exact power-of-two
    * scaling, so the derived uniform is bit-identical cross-engine. */
  private val LaneRange = "1152921504606846976.0"

  // ---------- frequency sketches ----------

  /** Count-Min Sketch frequency estimation (Cormode & Muthukrishnan 2005)
    * over the event stream's user ids: [[CmsDepth]] seeded hash lanes map
    * each key to a [[CmsWidth]]-wide counter row; an item's estimate is
    * the minimum of its counters, never below the true count. Registered
    * output joins each user's exact count with its CMS estimate, so the
    * one-sided error is visible row by row.
    *
    * Scale: the sketch build is one groupBy over (seed, bucket) — at most
    * depth×width = 1,024 output rows regardless of stream size, the
    * definition of a mergeable summary (partial maps merge by cell-wise
    * sum, which is exactly what partial aggregation does). The probe side
    * broadcasts those 1,024 cells. Width grows as ~e/ε for error ε·N, not
    * with cardinality — at 100 TB bump width, not the topology. */
  def sketchCms(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val seeds = explode(sequence(lit(0), lit(CmsDepth - 1))).as("seed")
    val bucket = expr(
      s"pmod(${md5Lane(s"concat(cast(user_id as string), '#cms', cast(seed as string))")}, $CmsWidth)")
    val cells = ev.select(col("user_id"), seeds)
      .groupBy(col("seed"), bucket.as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_cnt"))
    val probe = exact.select(col("user_id"), col("exact_cnt"), seeds)
      .select(col("user_id"), col("exact_cnt"),
        col("seed").as("p_seed"), bucket.as("p_bucket"))
    probe.join(broadcast(cells),
        col("p_seed") === col("seed") && col("p_bucket") === col("bucket"))
      .groupBy(col("user_id"), col("exact_cnt"))
      .agg(min(col("cnt")).as("est_cnt"))
      .orderBy("user_id")
  }
  val sketchCmsSql: String =
    s"""WITH cells AS (
       |  SELECT l.seed,
       |    ${md5LaneDuck(s"CAST(user_id AS VARCHAR) || '#cms' || CAST(l.seed AS VARCHAR)")} % $CmsWidth AS bucket,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events, (SELECT unnest(range($CmsDepth)) AS seed) l
       |  GROUP BY 1, 2),
       |exact AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
       |  FROM events GROUP BY user_id)
       |SELECT e.user_id, e.exact_cnt, min(c.cnt) AS est_cnt
       |FROM exact e, (SELECT unnest(range($CmsDepth)) AS seed) l
       |JOIN cells c ON c.seed = l.seed
       | AND c.bucket = ${md5LaneDuck(s"CAST(e.user_id AS VARCHAR) || '#cms' || CAST(l.seed AS VARCHAR)")} % $CmsWidth
       |GROUP BY e.user_id, e.exact_cnt
       |ORDER BY e.user_id""".stripMargin

  /** Bloom-filter membership (Bloom 1970): [[BloomK]] hash lanes set bits
    * in an [[BloomBits]]-bit filter built from the order fact's customer
    * keys; every customer is then probed. No false negatives by
    * construction (asserted row-wise by the spec via the joined
    * ground-truth flag); false positives are the deterministic price of
    * the fixed bit budget.
    *
    * Scale: the build is a distinct over at most m bit positions — the
    * filter, not the fact, is the aggregation output; the probe broadcasts
    * it. This is how join pre-filtering works at 100 TB (ship a KB-scale
    * bit set to prune a fact scan before the shuffle); Spark's own
    * runtime bloom pruning is asserted elsewhere (StreamingSpec), this
    * operator makes the structure itself oracle-visible. */
  def sketchBloom(s: SparkSession, d: String): DataFrame = {
    val seeds = explode(sequence(lit(0), lit(BloomK - 1))).as("seed")
    def pos(key: String) = expr(
      s"pmod(${md5Lane(s"concat('bl#', cast(seed as string), '#', cast($key as string))")}, $BloomBits)")
    val bits = t(s, d, "orders").select(col("o_custkey"), seeds)
      .select(pos("o_custkey").as("pos")).distinct()
    val truth = t(s, d, "orders").select(col("o_custkey")).distinct()
      .withColumn("has_orders", lit(1L))
    t(s, d, "customer").select(col("c_custkey"), seeds)
      .withColumn("pos", pos("c_custkey"))
      .join(broadcast(bits.withColumn("hit", lit(1L))), Seq("pos"), "left")
      .groupBy(col("c_custkey"))
      .agg(min(coalesce(col("hit"), lit(0L))).as("maybe_present"))
      .join(truth, col("c_custkey") === truth("o_custkey"), "left")
      .select(col("c_custkey"), coalesce(col("has_orders"), lit(0L)).as("has_orders"),
        col("maybe_present"))
      .orderBy("c_custkey")
  }
  val sketchBloomSql: String =
    s"""WITH bits AS (
       |  SELECT DISTINCT ${md5LaneDuck(s"'bl#' || CAST(l.seed AS VARCHAR) || '#' || CAST(o_custkey AS VARCHAR)")} % $BloomBits AS pos
       |  FROM orders, (SELECT unnest(range($BloomK)) AS seed) l),
       |probe_pos AS (
       |  SELECT c.c_custkey,
       |    ${md5LaneDuck(s"'bl#' || CAST(l.seed AS VARCHAR) || '#' || CAST(c.c_custkey AS VARCHAR)")} % $BloomBits AS pos
       |  FROM customer c, (SELECT unnest(range($BloomK)) AS seed) l),
       |probe AS (
       |  SELECT p.c_custkey,
       |    min(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS maybe_present
       |  FROM probe_pos p LEFT JOIN bits b ON b.pos = p.pos
       |  GROUP BY p.c_custkey),
       |truth AS (SELECT DISTINCT o_custkey FROM orders)
       |SELECT p.c_custkey,
       |  CAST(CASE WHEN t.o_custkey IS NULL THEN 0 ELSE 1 END AS BIGINT) AS has_orders,
       |  CAST(p.maybe_present AS BIGINT) AS maybe_present
       |FROM probe p LEFT JOIN truth t ON t.o_custkey = p.c_custkey
       |ORDER BY p.c_custkey""".stripMargin

  /** HyperLogLog distinct-count estimation (Flajolet et al. 2007) of users
    * per event type, reported next to the exact count: [[HllM]] registers
    * keyed by the low bits of the 60-bit md5 lane, each holding the max
    * trailing-zero rank of the remaining 54 hash bits. The estimate is the
    * harmonic-mean formula E = α·m²/Σ2^-M_j with the register sum kept as
    * an exact integer — Σ2^(55-M_j) as BIGINT — so the only floating-point
    * step is one final IEEE division and the result is bit-identical in
    * the DuckDB oracle. The rank uses trailing zeros (bit_count of the
    * lowest-set-bit mask) instead of leading zeros so no cross-engine
    * log2/float is involved anywhere.
    *
    * Scale: registers are a mergeable summary — the build is one groupBy
    * over (type, register) with at most |types|×m output rows, map-side
    * combinable (max), the canonical count-distinct topology at 100 TB
    * (Spark's own approx_count_distinct is this sketch with more bits;
    * here the structure itself is oracle-visible). Error ~1.04/√m ≈ 13%
    * at m=64; at scale bump m, not the topology. */
  def sketchHll(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val h = ev.select(col("event_type"),
        expr(md5Lane("concat('hll#', cast(user_id as string))")).as("lane"))
      .select(col("event_type"), pmod(col("lane"), lit(HllM)).as("idx"),
        expr(s"lane div $HllM").as("w"))
      .select(col("event_type"), col("idx"),
        when(col("w") === 0L, lit(55))
          .otherwise(expr("bit_count((w & -w) - 1) + 1")).as("rho"))
    val regs = h.groupBy(col("event_type"), col("idx")).agg(max(col("rho")).as("m_rho"))
    val sums = regs.groupBy(col("event_type"))
      .agg(sum(expr("shiftleft(cast(1 as bigint), 55 - m_rho)")).as("s_filled"),
        count(lit(1)).as("filled"))
    val pow55 = expr("shiftleft(cast(1 as bigint), 55)")
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    // small-range regime (E ≤ 2.5m with empty registers): linear counting
    // m·ln(m/V) replaces the harmonic estimate, per the paper's Fig. 3
    exact.join(sums, Seq("event_type"))
      .withColumn("v", lit(HllM.toLong) - col("filled"))
      .withColumn("e_raw",
        lit(HllAlpha) * lit(HllM) * lit(HllM) * pow55.cast("double") /
          (col("s_filled") + col("v") * pow55).cast("double"))
      .select(col("event_type"), col("exact_users"),
        round(when(col("v") > 0L && col("e_raw") <= lit(2.5 * HllM),
            lit(HllM.toDouble) * log(lit(HllM.toDouble) / col("v").cast("double")))
          .otherwise(col("e_raw")), 2).as("hll_users"))
      .orderBy("event_type")
  }
  val sketchHllSql: String =
    s"""WITH h AS (
       |  SELECT event_type,
       |    ${md5LaneDuck("'hll#' || CAST(user_id AS VARCHAR)")} AS lane
       |  FROM events),
       |r AS (
       |  SELECT event_type, lane % $HllM AS idx,
       |    CASE WHEN lane // $HllM = 0 THEN 55
       |         ELSE bit_count((((lane // $HllM) & -(lane // $HllM)) - 1)::BIGINT) + 1
       |    END AS rho
       |  FROM h),
       |regs AS (SELECT event_type, idx, max(rho) AS m_rho FROM r GROUP BY 1, 2),
       |s AS (
       |  SELECT event_type,
       |    CAST(sum(1::BIGINT << (55 - m_rho)) AS BIGINT) AS s_filled,
       |    CAST(count(*) AS BIGINT) AS filled
       |  FROM regs GROUP BY 1),
       |exact AS (
       |  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
       |  FROM events GROUP BY 1),
       |sel AS (
       |  SELECT e.event_type, e.exact_users, ($HllM - s.filled) AS v,
       |    CAST($HllAlpha AS DOUBLE) * $HllM * $HllM * CAST(1::BIGINT << 55 AS DOUBLE) /
       |      CAST(s.s_filled + ($HllM - s.filled) * (1::BIGINT << 55) AS DOUBLE) AS e_raw
       |  FROM exact e JOIN s USING (event_type))
       |SELECT event_type, exact_users,
       |  round(CASE WHEN v > 0 AND e_raw <= ${2.5 * HllM}
       |    THEN $HllM.0 * ln($HllM.0 / CAST(v AS DOUBLE)) ELSE e_raw END, 2) AS hll_users
       |FROM sel ORDER BY event_type""".stripMargin

  // ---------- weighted sampling ----------

  /** Priority sampling (Duffield, Lund & Thorup 2005): each document gets
    * priority w/u with u uniform from its hash lane, and the [[SampleK]]
    * highest priorities form a size-K sample whose inclusion probability
    * is proportional to weight (here n_chars) — the principled way to
    * downsample a corpus toward long documents. The lane-to-uniform
    * division is by 2^60 and the priority is a single IEEE division, so
    * every priority is bit-identical in the oracle — no libm pow/log in
    * the pipeline.
    *
    * Scale: priorities are map-side; the top-K is Spark's
    * TakeOrderedAndProject (per-partition heaps, K-row driver merge) —
    * no global sort materialization at any input size. */
  def sampleWeighted(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .withColumn("u",
        expr(s"greatest(${md5Lane("concat('pw#', cast(doc_id as string))")}, 1L) / $LaneRange"))
      .select(col("doc_id"), col("n_chars"),
        round(col("n_chars").cast("double") / col("u"), 6).cast("double").as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(SampleK)
  val sampleWeightedSql: String =
    s"""SELECT doc_id, n_chars,
       |  round(n_chars / (greatest(${md5LaneDuck("'pw#' || CAST(doc_id AS VARCHAR)")}, 1) / $LaneRange), 6) AS priority
       |FROM documents
       |ORDER BY priority DESC, doc_id LIMIT $SampleK""".stripMargin

  /** Class-balanced deterministic downsample: every source keeps its
    * ceil(min_class/2) lowest-hash documents, so all sources contribute
    * equally to the sampled corpus regardless of their raw sizes — the
    * standard class-rebalancing step before training on skewed source
    * mixes, with hash-ranked membership that is stable under corpus
    * reshuffling (same property as [[splitHoldout]]).
    *
    * Scale: one keyed count to a #sources-sized table, its global min as
    * a broadcast single-row aggregate, and a per-source ranked window
    * (parallel across sources) — no global sort, no driver collect. */
  def sampleBalanced(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val cap = broadcast(docs.groupBy("source").agg(count(lit(1)).as("n"))
      .agg(ceil(min(col("n")).cast("double") / 2.0).cast("long").as("cap")))
    val w = Window.partitionBy("source").orderBy(col("rnd"), col("doc_id"))
    docs
      .withColumn("rnd", expr(md5Lane("concat('bal#', cast(doc_id as string))")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .crossJoin(cap)
      .select(col("doc_id"), col("source"), col("rk"),
        (col("rk") <= col("cap")).as("keep"))
      .orderBy("doc_id")
  }
  val sampleBalancedSql: String =
    s"""WITH cap AS (SELECT CAST(ceil(CAST(min(n) AS DOUBLE) / 2.0) AS BIGINT)
       |    AS cap
       |  FROM (SELECT source, count(*) AS n FROM documents GROUP BY source)),
       |rk AS (SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY ${md5LaneDuck("'bal#' || CAST(doc_id AS VARCHAR)")}, doc_id)
       |      AS BIGINT) AS rk
       |  FROM documents)
       |SELECT doc_id, source, rk, rk <= cap.cap AS keep
       |FROM rk CROSS JOIN cap ORDER BY doc_id""".stripMargin

  /** Rolling 24-hour correlation between the hourly click and purchase
    * count series — the co-movement monitor that flags when two activity
    * streams decouple (incidents, bot traffic, tracking breakage). The
    * event stream is resampled to a zero-filled hourly grid (the
    * event_resample recipe), then Pearson r over a 24-row sliding frame
    * is computed EXPLICITLY from windowed integer sums (n, Σx, Σy, Σx²,
    * Σy², Σxy are exact BIGINTs) in one fixed double expression —
    * engine-internal `corr()` implementations differ one-pass vs
    * two-pass and would drift. Degenerate frames (either variance zero)
    * yield null via null-on-zero division in both engines.
    *
    * Scale: the only corpus-sized stage is the hourly rollup; the
    * unpartitioned ordered window runs over the resampled series, whose
    * length is bounded by the time span (#hours — ~10⁵ rows for a
    * decade), not by corpus size. */
  def eventRollingCorr(s: SparkSession, d: String): DataFrame = {
    val cc = t(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val grid = cc.agg(min("h").as("h0"), max("h").as("h1"))
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val w = Window.orderBy("h").rowsBetween(-23, Window.currentRow)
    val dbl = (c: Column) => c.cast("double")
    grid.join(cc, Seq("h"), "left")
      .select(col("h"),
        coalesce(col("x"), lit(0L)).as("x"), coalesce(col("y"), lit(0L)).as("y"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum("x").over(w))
      .withColumn("sy", sum("y").over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("den",
        sqrt(col("n") * dbl(col("sxx")) - dbl(col("sx")) * col("sx")) *
          sqrt(col("n") * dbl(col("syy")) - dbl(col("sy")) * col("sy")))
      .select(col("h"), col("x"), col("y"), col("n"),
        // ANSI mode: zero-variance frames must skip the division (DuckDB
        // yields NULL on /0; the guard reproduces that)
        round(when(col("den") =!= 0.0,
          (col("n") * dbl(col("sxy")) - dbl(col("sx")) * col("sy")) / col("den")),
          6).as("corr24"))
      .orderBy("h")
  }
  val eventRollingCorrSql: String =
    """WITH cc AS (SELECT date_trunc('hour', ts)::TIMESTAMP AS h,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |span AS (SELECT min(h) AS h0, max(h) AS h1 FROM cc),
      |grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      |  FROM span),
      |g AS (SELECT grid.h, COALESCE(cc.x, 0) AS x, COALESCE(cc.y, 0) AS y
      |  FROM grid LEFT JOIN cc USING (h)),
      |win AS (SELECT h, x, y,
      |    CAST(count(*) OVER w AS BIGINT) AS n,
      |    CAST(sum(x) OVER w AS BIGINT) AS sx,
      |    CAST(sum(y) OVER w AS BIGINT) AS sy,
      |    CAST(sum(x*x) OVER w AS BIGINT) AS sxx,
      |    CAST(sum(y*y) OVER w AS BIGINT) AS syy,
      |    CAST(sum(x*y) OVER w AS BIGINT) AS sxy
      |  FROM g WINDOW w AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
      |SELECT h, x, y, n,
      |  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy) /
      |    (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
      |     * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)), 6)
      |    AS corr24
      |FROM win ORDER BY h""".stripMargin

  /** Classical seasonal decomposition of the hourly event-count series,
    * per event type: trend = centered 25-hour moving average (complete
    * frames only), seasonal = mean detrended value per hour-of-day,
    * residual = x − trend − seasonal — the additive decomposition a
    * traffic monitor runs before alerting on residuals.
    *
    * Determinism: the trend is an exact BIGINT window sum divided once;
    * detrended terms are decimal-quantized before the seasonal mean (the
    * dsum recipe); residual is one fixed expression of those. Scale: the
    * corpus collapses to the hourly rollup first; every window runs over
    * the bounded #hours-per-type grid. */
  def eventSeasonal(s: SparkSession, d: String): DataFrame = {
    val hourly = t(s, d, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("x"))
    val grid = hourly.groupBy("event_type")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val w = Window.partitionBy("event_type").orderBy("h").rowsBetween(-12, 12)
    val tr = grid.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"), coalesce(col("x"), lit(0L)).as("x"))
      .withColumn("trend",
        when(count(lit(1)).over(w) === 25,
          sum("x").over(w).cast("double") / 25))
    val seas = tr.filter(col("trend").isNotNull)
      .groupBy(col("event_type"), hour(col("h")).cast("long").as("hod"))
      .agg((dsum(col("x") - col("trend")) / count(lit(1))).as("seasonal"))
    tr.withColumn("hod", hour(col("h")).cast("long"))
      .join(seas, Seq("event_type", "hod"))
      .select(col("event_type"), col("h"), col("x"),
        round(col("trend"), 6).as("trend"),
        round(col("seasonal"), 6).as("seasonal"),
        round(col("x") - col("trend") - col("seasonal"), 6).as("residual"))
      .orderBy(col("event_type"), col("h"))
  }
  val eventSeasonalSql: String =
    """WITH hourly AS (SELECT event_type,
      |    date_trunc('hour', ts)::TIMESTAMP AS h,
      |    CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT event_type, min(h) AS h0, max(h) AS h1
      |  FROM hourly GROUP BY 1),
      |grid AS (SELECT event_type,
      |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM span),
      |g AS (SELECT grid.event_type, grid.h, COALESCE(hourly.x, 0) AS x
      |  FROM grid LEFT JOIN hourly USING (event_type, h)),
      |tr AS (SELECT event_type, h, x,
      |    CASE WHEN count(*) OVER w = 25
      |      THEN CAST(sum(x) OVER w AS DOUBLE) / 25 END AS trend
      |  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY h
      |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
      |seas AS (SELECT event_type, CAST(hour(h) AS BIGINT) AS hod,
      |    CAST(sum(CAST(x - trend AS DECIMAL(30,6))) AS DOUBLE)
      |      / count(trend) AS seasonal
      |  FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2)
      |SELECT t.event_type, t.h, t.x, round(t.trend, 6) AS trend,
      |  round(s.seasonal, 6) AS seasonal,
      |  round(t.x - t.trend - s.seasonal, 6) AS residual
      |FROM tr t JOIN seas s
      |  ON s.event_type = t.event_type AND s.hod = CAST(hour(t.h) AS BIGINT)
      |ORDER BY t.event_type, t.h""".stripMargin

  /** CUSUM change-point detection on the standardized hourly count
    * series, per event type: with z_t = (x_t − μ)/σ from exact integer
    * moment sums, the one-sided statistics s_hi = max(0, s_hi + z − k)
    * and s_lo = max(0, s_lo − z − k) (slack k = 0.5) alarm at > 5 —
    * Page's control chart, the standard traffic-shift detector.
    *
    * The recursion runs through Spark's own window executor via the
    * [[graft.functions.CusumPositive]] UDWF-analog kernel (the negative
    * side is the same kernel over −z), so state never leaves codegen;
    * the DuckDB oracle replays the identical recursion as a recursive
    * CTE. μ/σ derive from exact BIGINT sums with one fixed expression
    * tree, making every z — and hence every recursive double op —
    * bit-identical cross-engine. Scale: hourly rollup first; the
    * recursion is over the bounded per-type hour series. */
  def eventCusum(s: SparkSession, d: String): DataFrame = {
    graft.functions.WindowKernels.register(s)
    val hourly = t(s, d, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("x"))
    val grid = hourly.groupBy("event_type")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val g = grid.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"), coalesce(col("x"), lit(0L)).as("x"))
    val m = g.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("s1"),
        sum(col("x") * col("x")).as("s2"))
      .select(col("event_type"),
        (col("s1").cast("double") / col("n")).as("mu"),
        sqrt((col("s2").cast("double") - col("s1").cast("double") * col("s1") /
          col("n")) / (col("n") - 1)).as("sigma"))
    g.join(broadcast(m), "event_type")
      .select(col("event_type"), col("h"), col("x"),
        ((col("x") - col("mu")) / col("sigma")).as("z"))
      .createOrReplaceTempView("cusum_z")
    s.sql(
      """SELECT event_type, h, x,
        |  round(s_hi, 6) AS s_hi, round(s_lo, 6) AS s_lo,
        |  s_hi > 5.0 OR s_lo > 5.0 AS alarm
        |FROM (SELECT event_type, h, x,
        |    cusum_pos(z, 0.5) OVER (PARTITION BY event_type ORDER BY h) AS s_hi,
        |    cusum_pos(-z, 0.5) OVER (PARTITION BY event_type ORDER BY h) AS s_lo
        |  FROM cusum_z)
        |ORDER BY event_type, h""".stripMargin)
  }
  val eventCusumSql: String =
    """WITH RECURSIVE hourly AS (SELECT event_type,
      |    date_trunc('hour', ts)::TIMESTAMP AS h,
      |    CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT event_type, min(h) AS h0, max(h) AS h1
      |  FROM hourly GROUP BY 1),
      |grid AS (SELECT event_type,
      |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM span),
      |g AS (SELECT grid.event_type, grid.h, COALESCE(hourly.x, 0) AS x
      |  FROM grid LEFT JOIN hourly USING (event_type, h)),
      |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS s1, CAST(sum(x*x) AS BIGINT) AS s2
      |  FROM g GROUP BY 1),
      |z AS MATERIALIZED (SELECT g.event_type, g.h, g.x,
      |    (g.x - CAST(s1 AS DOUBLE) / n) /
      |      sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
      |      AS z,
      |    row_number() OVER (PARTITION BY g.event_type ORDER BY g.h) AS rn
      |  FROM g JOIN m USING (event_type)),
      |c(event_type, h, x, rn, s_hi, s_lo) AS (
      |  SELECT event_type, h, x, rn,
      |    greatest(0.0, z - 0.5), greatest(0.0, -z - 0.5)
      |  FROM z WHERE rn = 1
      |  UNION ALL
      |  SELECT z.event_type, z.h, z.x, z.rn,
      |    greatest(0.0, c.s_hi + z.z - 0.5), greatest(0.0, c.s_lo - z.z - 0.5)
      |  FROM c JOIN z ON z.event_type = c.event_type AND z.rn = c.rn + 1)
      |SELECT event_type, h, x, round(s_hi, 6) AS s_hi, round(s_lo, 6) AS s_lo,
      |  s_hi > 5.0 OR s_lo > 5.0 AS alarm
      |FROM c ORDER BY event_type, h""".stripMargin

  /** Per-(user, day) ML feature table: daily event count and exact-
    * decimal value sum, previous-observation lag, calendar-aware
    * previous-day value (null across gaps — `lag` alone would silently
    * bridge missing days), and the 7-observation trailing mean — the
    * standard churn/LTV feature-engineering rollup.
    *
    * Determinism: daily sums go through the decimal dsum; the trailing
    * mean re-quantizes each daily value before the window sum so both
    * engines accumulate identical decimals. Scale: one corpus-sized
    * keyed rollup to (user, day); every window partitions by user. */
  def eventLagFeatures(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("v0"))
    val w = Window.partitionBy("user_id").orderBy("d")
    val ma = w.rowsBetween(-6, Window.currentRow)
    daily
      // demo output cap; windows partition by user, so filtering before
      // them is equivalent and keeps the plan filter-first
      .filter(col("user_id") <= 100)
      .withColumn("v", round(col("v0"), 6))
      .withColumn("v_lag1", lag(col("v"), 1).over(w))
      .withColumn("v_prev_day",
        when(lag(col("d"), 1).over(w) === col("d") - expr("interval 1 day"),
          lag(col("v"), 1).over(w)))
      .withColumn("v_ma7",
        round(sum(ddec(col("v0"))).over(ma).cast("double") /
          count(lit(1)).over(ma), 6))
      .select("user_id", "d", "n_events", "v", "v_lag1", "v_prev_day", "v_ma7")
      .orderBy("user_id", "d")
  }
  val eventLagFeaturesSql: String =
    s"""WITH daily AS (SELECT user_id,
       |    date_trunc('day', ts)::TIMESTAMP AS d,
       |    CAST(count(*) AS BIGINT) AS n_events,
       |    ${DSUM("value")} AS v0
       |  FROM events GROUP BY 1, 2)
       |SELECT user_id, d, n_events, round(v0, 6) AS v,
       |  lag(round(v0, 6), 1) OVER w AS v_lag1,
       |  CASE WHEN lag(d, 1) OVER w = d - INTERVAL 1 DAY
       |    THEN lag(round(v0, 6), 1) OVER w END AS v_prev_day,
       |  round(CAST(sum(CAST(v0 AS DECIMAL(30,6))) OVER (
       |      PARTITION BY user_id ORDER BY d
       |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    / count(*) OVER (PARTITION BY user_id ORDER BY d
       |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS v_ma7
       |FROM daily WHERE user_id <= 100
       |WINDOW w AS (PARTITION BY user_id ORDER BY d)
       |ORDER BY user_id, d""".stripMargin

  // ---------- discretization ----------

  /** Equal-frequency binning: deciles of the order value distribution with
    * per-bin support and exact-decimal totals — the discretization step
    * before categorical encoders or drift monitors. The bin assignment is
    * ntile over a total order (amount, key) so it is reproducible.
    *
    * Scale: NOT a global `ntile` window (that is a single-partition sort
    * of the fact table). Round 20: [[Q.ntileByBoundaries]] — only the
    * narrow (amount, key) projection goes through the range shuffle to
    * locate the buckets-1 exact boundary rows; the bin assignment is a
    * map-side comparison against those broadcast boundaries, so the
    * aggregation below runs map-side-partial straight off the scan with
    * no checkpoint and no join-back (bit-exact to the `ntile` oracle by
    * the same position math — r20's QualitySpec pin). */
  def binQuantile(s: SparkSession, d: String): DataFrame = {
    Q.ntileByBoundaries(t(s, d, "orders").select(col("o_totalprice"), col("o_orderkey")),
        Bins, "bin", col("o_totalprice"), col("o_orderkey"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        dsum(col("o_totalprice")).as("total"),
        round(davg(col("o_totalprice")), 6).as("mean"))
      .orderBy("bin")
  }
  val binQuantileSql: String =
    s"""WITH b AS (SELECT o_totalprice,
       |    CAST(ntile($Bins) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS bin
       |  FROM orders)
       |SELECT bin, CAST(count(*) AS BIGINT) AS n,
       |  min(o_totalprice) AS lo, max(o_totalprice) AS hi,
       |  ${DSUM("o_totalprice")} AS total,
       |  round(${DAVG("o_totalprice")}, 6) AS mean
       |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  // ---------- event sequence mining ----------

  /** First-order Markov transition matrix over per-user event sequences:
    * counts and MLE probabilities of event_type → next event_type,
    * ordered by (ts, event_id) within user. The standard behavioral
    * summary (and generator) for event streams.
    *
    * Scale: one user-keyed window for lead, one transition-keyed
    * aggregation whose output is |types|² — tiny. The probability
    * normalizer is a partition-local window over that tiny matrix. */
  def eventMarkov(s: SparkSession, d: String): DataFrame = {
    val seq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val norm = Window.partitionBy(col("event_type"))
    t(s, d, "events")
      .withColumn("next_type", lead(col("event_type"), 1).over(seq))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prob", round(col("n") / sum(col("n")).over(norm), 6))
      .orderBy("event_type", "next_type")
  }
  val eventMarkovSql: String =
    """WITH tr AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |m AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
      |  FROM tr WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT event_type, next_type, n,
      |  round(n / sum(n) OVER (PARTITION BY event_type), 6) AS prob
      |FROM m ORDER BY event_type, next_type""".stripMargin

  /** Path mining: the [[PathTop]] most common length-3 event-type paths
    * across user sessions (lead×2 within the user's time order) — the
    * n-gram view of behavioral sequences that feeds funnel design and
    * next-event models.
    *
    * Scale: lead windows are user-keyed; the path aggregation keys on the
    * path string; top-K is per-partition heaps. Ties at the cut rank by
    * path text, so the emitted set is deterministic. */
  def eventPaths(s: SparkSession, d: String): DataFrame = {
    val seq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, d, "events")
      .withColumn("e2", lead(col("event_type"), 1).over(seq))
      .withColumn("e3", lead(col("event_type"), 2).over(seq))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(PathTop)
  }
  val eventPathsSql: String =
    s"""WITH tr AS (
       |  SELECT event_type AS e1,
       |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
       |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
       |  FROM events)
       |SELECT e1 || '>' || e2 || '>' || e3 AS path, CAST(count(*) AS BIGINT) AS n
       |FROM tr WHERE e2 IS NOT NULL AND e3 IS NOT NULL
       |GROUP BY path ORDER BY n DESC, path LIMIT $PathTop""".stripMargin

  /** Sliding-window aggregation with Spark's native `window()` generator:
    * 2-hour windows every hour (each event lands in exactly two), counts
    * and exact-decimal value totals per (type, window). The hopping-window
    * shape Structured Streaming uses, here oracle-checked in batch by
    * reconstructing the same epoch-aligned window starts arithmetically.
    *
    * Scale: window assignment is map-side row replication ×2 (size/slide),
    * then one keyed aggregation on (type, window start) — the streaming
    * state layout, no global sort anywhere. */
  def eventSlidingWindow(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy("event_type", "win_start")
  val eventSlidingWindowSql: String =
    s"""SELECT date_trunc('hour', ts) - to_hours(off.o) AS win_start,
       |  event_type, CAST(count(*) AS BIGINT) AS n_events,
       |  ${DSUM("value")} AS total_value
       |FROM events, (SELECT unnest([0, 1]) AS o) off
       |GROUP BY win_start, event_type
       |ORDER BY event_type, win_start""".stripMargin

  // ---------- one-pass correlation matrix ----------

  private val CorrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Pearson correlation matrix of the fact's numeric measures in ONE
    * aggregation pass: all first moments and pairwise products are summed
    * as exact decimals (per-row casts — products of two 2-decimal inputs
    * are exact at scale 8), then every corr is pure double arithmetic on
    * that single row. Upper triangle + diagonal in long form.
    *
    * Scale: one map-side-combinable aggregation over the fact, 1-row
    * output, k(k+1)/2 sums — the textbook way to get a correlation matrix
    * without k² passes or a driver-side covariance solve. */
  def statCorrMatrix(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val sums = Seq(count(lit(1)).cast("double").as("n")) ++
      CorrCols.map(c => sum(ddec(col(c))).cast("double").as(s"s_$c")) ++
      (for (i <- CorrCols.indices; j <- i until CorrCols.length) yield {
        val (a, b) = (CorrCols(i), CorrCols(j))
        sum(ddec(col(a) * col(b), scale = 8)).cast("double").as(s"p_${a}_$b")
      })
    val agg = li.agg(sums.head, sums.tail: _*)
    val pairs = for (i <- CorrCols.indices; j <- i until CorrCols.length) yield {
      val (a, b) = (CorrCols(i), CorrCols(j))
      val num = col("n") * col(s"p_${a}_$b") - col(s"s_$a") * col(s"s_$b")
      val den = sqrt(col("n") * col(s"p_${a}_$a") - col(s"s_$a") * col(s"s_$a")) *
        sqrt(col("n") * col(s"p_${b}_$b") - col(s"s_$b") * col(s"s_$b"))
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        round(num / den, 6).as("corr"))
    }
    agg.select(explode(array(pairs: _*)).as("pr"))
      .select(col("pr.col_a").as("col_a"), col("pr.col_b").as("col_b"),
        col("pr.corr").as("corr"))
      .orderBy("col_a", "col_b")
  }
  val statCorrMatrixSql: String = {
    val sums = Seq("CAST(count(*) AS DOUBLE) AS n") ++
      CorrCols.map(c => s"CAST(sum(CAST($c AS DECIMAL(30,6))) AS DOUBLE) AS s_$c") ++
      (for (i <- CorrCols.indices; j <- i until CorrCols.length) yield {
        val (a, b) = (CorrCols(i), CorrCols(j))
        s"CAST(sum(CAST($a * $b AS DECIMAL(30,8))) AS DOUBLE) AS p_${a}_$b"
      })
    val pairs = (for (i <- CorrCols.indices; j <- i until CorrCols.length) yield {
      val (a, b) = (CorrCols(i), CorrCols(j))
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |  round((n * p_${a}_$b - s_$a * s_$b) /
         |    (sqrt(n * p_${a}_$a - s_$a * s_$a) * sqrt(n * p_${b}_$b - s_$b * s_$b)), 6) AS corr
         |FROM m""".stripMargin
    }).mkString("\nUNION ALL\n")
    s"""WITH m AS (SELECT ${sums.mkString(",\n    ")} FROM lineitem)
       |$pairs
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** Gap-aware autocorrelation function of the hourly event-count series
    * at lags 1..[[AcfMaxLag]]: r_k over hour pairs (t, t-k) present in the
    * series, with the mean/variance taken over the whole series. All
    * moment sums (Σx, Σx², Σx_t·x_{t-k}) are exact BIGINTs — the counts
    * are integers — so the only floating-point work is the final fixed
    * expression tree, bit-identical cross-engine. The classic seasonality
    * probe (a 24h cycle shows as a peak at lag 24) run entirely as keyed
    * joins.
    *
    * Scale: the hourly series is one keyed aggregation (tiny output —
    * one row per hour); lags replicate it ×24 against a broadcast lag
    * table and re-join on the shifted hour. At 100 TB the series, not the
    * events, is what fans out — hours grow with time span, not data
    * volume. */
  def statAcf(s: SparkSession, d: String): DataFrame = {
    val series = t(s, d, "events")
      .groupBy(expr("unix_seconds(date_trunc('HOUR', ts)) div 3600").as("h"))
      .agg(count(lit(1)).as("x"))
    val g = series.agg(sum(col("x")).as("sx"), sum(expr("x * x")).as("sxx"),
      count(lit(1)).as("n"))
    val lags = s.range(1, AcfMaxLag + 1).select(col("id").as("k"))
    val b = series.select(col("h").as("bh"), col("x").as("bx"))
    val m = col("sx").cast("double") / col("n")
    val pairs = series.crossJoin(broadcast(lags))
      .join(b, col("bh") === col("h") - col("k"))
      .groupBy(col("k"))
      .agg(sum(expr("x * bx")).as("axy"), sum(col("x")).as("bxs"),
        sum(col("bx")).as("cxs"), count(lit(1)).as("np"))
    pairs.crossJoin(broadcast(g))
      .select(col("k").as("lag"), col("np").as("n_pairs"),
        round((col("axy") - m * (col("bxs") + col("cxs")) + col("np") * m * m) /
          (col("sxx") - col("n") * m * m), 6).as("acf"))
      .orderBy("lag")
  }
  val statAcfSql: String =
    s"""WITH series AS (
       |  SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS h,
       |    CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1),
       |g AS (
       |  SELECT CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM series),
       |lags AS (SELECT unnest(range(1, ${AcfMaxLag + 1})) AS k),
       |pairs AS (
       |  SELECT l.k,
       |    CAST(sum(a.x * b.x) AS BIGINT) AS axy,
       |    CAST(sum(a.x) AS BIGINT) AS bxs, CAST(sum(b.x) AS BIGINT) AS cxs,
       |    CAST(count(*) AS BIGINT) AS np
       |  FROM lags l
       |  JOIN series a ON TRUE
       |  JOIN series b ON b.h = a.h - l.k
       |  GROUP BY l.k)
       |SELECT p.k AS lag, p.np AS n_pairs,
       |  round((p.axy - (CAST(g.sx AS DOUBLE) / g.n) * (p.bxs + p.cxs)
       |      + p.np * (CAST(g.sx AS DOUBLE) / g.n) * (CAST(g.sx AS DOUBLE) / g.n)) /
       |    (g.sxx - g.n * (CAST(g.sx AS DOUBLE) / g.n) * (CAST(g.sx AS DOUBLE) / g.n)),
       |    6) AS acf
       |FROM pairs p, g ORDER BY lag""".stripMargin

  /** Market-basket association rules over order baskets of part brands:
    * support of each brand pair (orders containing both), per-antecedent
    * confidence and lift, top [[AssocTop]] pairs by support with a total
    * tie-break. The A-priori first rung (frequent 2-itemsets) — what a
    * curation pipeline runs to find co-occurring sources/tags before
    * sampling a training mix.
    *
    * Scale: basket build is a broadcast dim join (part → brand, 25 rows
    * out) + distinct on (order, brand); the pair enumeration is a
    * self-equi-join on the order key — co-partitioned, one shuffle,
    * per-basket quadratic only in the basket's DISTINCT brand count
    * (bounded by |brands|, not basket size). Supports broadcast back onto
    * the pair table. At 100 TB this is exactly the FP-growth fallback
    * shape and never materializes a cross product. */
  def assocRules(s: SparkSession, d: String): DataFrame = {
    val basket = t(s, d, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_partkey"))
      .join(broadcast(t(s, d, "part").select(col("p_partkey"), col("p_brand"))),
        col("p_partkey") === col("l_partkey"))
      .select(col("okey"), col("p_brand").as("brand")).distinct()
    val n = basket.agg(countDistinct(col("okey")).as("n_orders"))
    val supp = basket.groupBy(col("brand")).agg(count(lit(1)).as("s"))
    val b = basket.select(col("okey").as("okey_b"), col("brand").as("brand_b"))
    basket.withColumnRenamed("brand", "brand_a")
      .join(b, col("okey") === col("okey_b") && col("brand_a") < col("brand_b"))
      .groupBy(col("brand_a"), col("brand_b"))
      .agg(count(lit(1)).as("pair_orders"))
      .join(broadcast(supp.select(col("brand").as("brand_a"), col("s").as("supp_a"))), Seq("brand_a"))
      .join(broadcast(supp.select(col("brand").as("brand_b"), col("s").as("supp_b"))), Seq("brand_b"))
      .crossJoin(broadcast(n))
      .select(col("brand_a"), col("brand_b"), col("pair_orders"),
        col("supp_a"), col("supp_b"),
        round(col("pair_orders").cast("double") / col("supp_a"), 6).as("confidence"),
        round(col("pair_orders").cast("double") * col("n_orders") /
          (col("supp_a") * col("supp_b")), 6).as("lift"))
      .orderBy(col("pair_orders").desc, col("brand_a"), col("brand_b"))
      .limit(AssocTop)
  }
  val assocRulesSql: String =
    s"""WITH basket AS (
       |  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
       |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
       |n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM basket),
       |supp AS (SELECT brand, CAST(count(*) AS BIGINT) AS s FROM basket GROUP BY 1),
       |pairs AS (
       |  SELECT a.brand AS brand_a, b.brand AS brand_b,
       |    CAST(count(*) AS BIGINT) AS pair_orders
       |  FROM basket a JOIN basket b ON a.okey = b.okey AND a.brand < b.brand
       |  GROUP BY 1, 2)
       |SELECT p.brand_a, p.brand_b, p.pair_orders, sa.s AS supp_a, sb.s AS supp_b,
       |  round(CAST(p.pair_orders AS DOUBLE) / sa.s, 6) AS confidence,
       |  round(CAST(p.pair_orders AS DOUBLE) * n.n_orders / (sa.s * sb.s), 6) AS lift
       |FROM pairs p JOIN supp sa ON sa.brand = p.brand_a
       |  JOIN supp sb ON sb.brand = p.brand_b, n
       |ORDER BY p.pair_orders DESC, p.brand_a, p.brand_b LIMIT $AssocTop""".stripMargin

  // ---------- toleranced as-of join ----------

  /** As-of join with a staleness tolerance (the pandas merge_asof
    * `tolerance` contract): each click matches the latest same-user error
    * at or before it, but only within 30 minutes — older matches are
    * nulled, keeping the left row. Same union-then-carry topology as the
    * plain joinAsof (one user-keyed window, no range join), with the
    * tolerance applied as a post-carry filter on the matched timestamp.
    *
    * Scale: identical to joinAsof — one keyed sort window over the union,
    * linear state, no driver participation. */
  def joinAsofTolerance(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val lhs = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        col("event_id"), col("value"),
        lit(null).cast("bigint").as("m_id"),
        lit(null).cast("timestamp").as("m_ts"))
    val rhs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        lit(null).cast("bigint").as("event_id"),
        lit(null).cast("double").as("value"),
        col("event_id").as("m_id"),
        col("ts").as("m_ts"))
    val carry = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("m_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inTol = col("c_ts").isNotNull &&
      col("c_ts") >= col("ts") - expr("interval 30 minutes")
    lhs.unionByName(rhs)
      .withColumn("c_id", last(col("m_id"), ignoreNulls = true).over(carry))
      .withColumn("c_ts", last(col("m_ts"), ignoreNulls = true).over(carry))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        when(inTol, col("c_id")).as("match_event_id"),
        when(inTol, col("c_ts")).as("match_ts"))
      .orderBy("event_id")
  }
  val joinAsofToleranceSql: String =
    """SELECT l.event_id, l.user_id, l.ts, l.value,
      |  CASE WHEN r.ts >= l.ts - INTERVAL 30 MINUTE THEN r.event_id END AS match_event_id,
      |  CASE WHEN r.ts >= l.ts - INTERVAL 30 MINUTE THEN r.ts END AS match_ts
      |FROM (SELECT * FROM events WHERE event_type = 'click') l
      |ASOF LEFT JOIN (
      |  SELECT * FROM events WHERE event_type = 'error'
      |  QUALIFY row_number() OVER (PARTITION BY user_id, ts
      |    ORDER BY event_id DESC) = 1) r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id""".stripMargin

  // ---------- schema-evolution scan ----------

  /** Schema-merging scan: two parquet footprints of the same logical table
    * written at different schema versions (v2 adds a column) under one
    * root with partition discovery, read back with `mergeSchema` — the
    * schema-evolution read path every long-lived 100 TB dataset needs.
    * Old files surface the new column as null; the partition column is
    * discovered from the directory layout.
    *
    * Scale: schema merging reconciles footers, not data — the read stays
    * a parallel parquet scan with pushdown intact. The fixture footprint
    * is written to a per-invocation unique directory so concurrent
    * sessions/JVMs running the registry never read each other's
    * partially-written files. */
  def scanMergeSchema(s: SparkSession, d: String): DataFrame = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_io/merge_schema_" +
      java.util.UUID.randomUUID().toString
    t(s, d, "region")
      .select(col("r_regionkey").cast("long").as("id"), col("r_name").as("name"))
      .write.mode("overwrite").parquet(s"$dir/v=a")
    t(s, d, "nation")
      .select((col("n_nationkey") + 100L).as("id"), col("n_name").as("name"),
        col("n_regionkey").cast("long").as("extra"))
      .write.mode("overwrite").parquet(s"$dir/v=b")
    s.read.option("mergeSchema", "true").parquet(dir)
      .select(col("id"), col("name"), col("extra"), col("v"))
      .orderBy("id")
  }
  val scanMergeSchemaSql: String =
    """SELECT CAST(r_regionkey AS BIGINT) AS id, r_name AS name,
      |  CAST(NULL AS BIGINT) AS extra, 'a' AS v FROM region
      |UNION ALL
      |SELECT CAST(n_nationkey + 100 AS BIGINT), n_name,
      |  CAST(n_regionkey AS BIGINT), 'b' FROM nation
      |ORDER BY id""".stripMargin

  /** Spearman rank correlation between per-user activity (event count)
    * and per-user total spend, with tie-averaged ranks, plus the Pearson
    * coefficient on the raw pair for contrast — the monotone-association
    * test that survives the heavy-tailed spend distributions Pearson is
    * blind to.
    *
    * Scale: ranks come from [[Q.distPos]] (range shuffle + parallel
    * per-partition ranks + broadcast offsets — no single-partition
    * window); tie averaging joins each row to its value-group (min+max)
    * positions through keyed aggregations. Doubling the tie-averaged
    * ranks ((lo+hi+2) instead of (lo+hi+2)/2) keeps every rank an exact
    * BIGINT — correlation is invariant under the affine scaling and all
    * moment sums stay integer-exact in DECIMAL lanes. */
  def statSpearman(s: SparkSession, d: String): DataFrame = {
    val m = t(s, d, "events").groupBy("user_id")
      .agg(count(lit(1)).as("x"),
        sum(ddec(col("value"))).as("y"))
    val p = Q.distPos(Q.distPos(m, "px", col("x"), col("user_id")),
      "py", col("y"), col("user_id"))
    val gx = p.groupBy("x").agg(min("px").as("lox"), max("px").as("hix"))
    val gy = p.groupBy("y").agg(min("py").as("loy"), max("py").as("hiy"))
    val r = p.join(gx, "x").join(gy, "y")
      .select(col("x"), col("y"),
        (col("lox") + col("hix") + 2).as("rx2"),
        (col("loy") + col("hiy") + 2).as("ry2"))
    val d19 = DecimalType(19, 0)
    val agg = r.agg(count(lit(1)).as("n"),
      sum(col("rx2").cast(d19)).cast("double").as("sx"),
      sum(col("ry2").cast(d19)).cast("double").as("sy"),
      sum((col("rx2").cast(d19) * col("rx2").cast(d19))).cast("double").as("sxx"),
      sum((col("ry2").cast(d19) * col("ry2").cast(d19))).cast("double").as("syy"),
      sum((col("rx2").cast(d19) * col("ry2").cast(d19))).cast("double").as("sxy"),
      sum(col("x").cast(d19)).cast("double").as("ax"),
      sum(col("y")).cast("double").as("ay"),
      sum((col("x") * col("x")).cast(d19)).cast("double").as("axx"),
      // y is already DECIMAL(38,6): squaring it overflows the decimal
      // lattice differently per engine — take the (deterministic) double
      // product per row, then quantize for the order-independent sum
      sum(ddec(col("y").cast("double") * col("y").cast("double"),
        precision = 38)).cast("double").as("ayy"),
      sum(ddec(col("x").cast("double") * col("y").cast("double"),
        precision = 38)).cast("double").as("axy"))
    def corr(n: Column, sx: Column, sy: Column, sxx: Column, syy: Column,
        sxy: Column): Column =
      (n * sxy - sx * sy) /
        sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    agg.select(col("n").as("n_users"),
      round(corr(col("n"), col("sx"), col("sy"), col("sxx"), col("syy"),
        col("sxy")), 6).as("rho_spearman"),
      round(corr(col("n"), col("ax"), col("ay"), col("axx"), col("ayy"),
        col("axy")), 6).as("r_pearson"))
  }
  val statSpearmanSql: String =
    """WITH m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x,
      |    sum(CAST(value AS DECIMAL(30,6))) AS y
      |  FROM events GROUP BY user_id),
      |p AS (SELECT user_id, x, y,
      |    row_number() OVER (ORDER BY x, user_id) - 1 AS px,
      |    row_number() OVER (ORDER BY y, user_id) - 1 AS py
      |  FROM m),
      |r AS (SELECT x, y,
      |    min(px) OVER (PARTITION BY x) + max(px) OVER (PARTITION BY x)
      |      + 2 AS rx2,
      |    min(py) OVER (PARTITION BY y) + max(py) OVER (PARTITION BY y)
      |      + 2 AS ry2
      |  FROM p),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(rx2 AS DECIMAL(19,0))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(ry2 AS DECIMAL(19,0))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(rx2 AS DECIMAL(19,0)) * CAST(rx2 AS DECIMAL(19,0)))
      |      AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(ry2 AS DECIMAL(19,0)) * CAST(ry2 AS DECIMAL(19,0)))
      |      AS DOUBLE) AS syy,
      |    CAST(sum(CAST(rx2 AS DECIMAL(19,0)) * CAST(ry2 AS DECIMAL(19,0)))
      |      AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS ax,
      |    CAST(sum(y) AS DOUBLE) AS ay,
      |    CAST(sum(CAST(x * x AS DECIMAL(19,0))) AS DOUBLE) AS axx,
      |    CAST(sum(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
      |      AS DECIMAL(38,6))) AS DOUBLE) AS ayy,
      |    CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
      |      AS DECIMAL(38,6))) AS DOUBLE) AS axy
      |  FROM r)
      |SELECT n AS n_users,
      |  round((n * sxy - sx * sy)
      |    / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
      |    AS rho_spearman,
      |  round((n * axy - ax * ay)
      |    / sqrt((n * axx - ax * ax) * (n * ayy - ay * ay)), 6)
      |    AS r_pearson
      |FROM a""".stripMargin

  // ---------- registry ----------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_spearman" -> (statSpearman _),
    "sketch_hll" -> (sketchHll _),
    "stat_acf" -> (statAcf _),
    "assoc_rules" -> (assocRules _),
    "sketch_cms" -> (sketchCms _),
    "sketch_bloom" -> (sketchBloom _),
    "sample_weighted" -> (sampleWeighted _),
    "sample_balanced" -> (sampleBalanced _),
    "event_rolling_corr" -> (eventRollingCorr _),
    "event_seasonal" -> (eventSeasonal _),
    "event_cusum" -> (eventCusum _),
    "event_lag_features" -> (eventLagFeatures _),
    "bin_quantile" -> (binQuantile _),
    "event_markov" -> (eventMarkov _),
    "event_paths" -> (eventPaths _),
    "event_sliding_window" -> (eventSlidingWindow _),
    "stat_corr_matrix" -> (statCorrMatrix _),
    "join_asof_tol" -> (joinAsofTolerance _),
    "scan_merge_schema" -> (scanMergeSchema _))

  val oracle: Map[String, String] = Map(
    "stat_spearman" -> statSpearmanSql,
    "sketch_hll" -> sketchHllSql,
    "stat_acf" -> statAcfSql,
    "assoc_rules" -> assocRulesSql,
    "sketch_cms" -> sketchCmsSql,
    "sketch_bloom" -> sketchBloomSql,
    "sample_weighted" -> sampleWeightedSql,
    "sample_balanced" -> sampleBalancedSql,
    "event_rolling_corr" -> eventRollingCorrSql,
    "event_seasonal" -> eventSeasonalSql,
    "event_cusum" -> eventCusumSql,
    "event_lag_features" -> eventLagFeaturesSql,
    "bin_quantile" -> binQuantileSql,
    "event_markov" -> eventMarkovSql,
    "event_paths" -> eventPathsSql,
    "event_sliding_window" -> eventSlidingWindowSql,
    "stat_corr_matrix" -> statCorrMatrixSql,
    "join_asof_tol" -> joinAsofToleranceSql,
    "scan_merge_schema" -> scanMergeSchemaSql)
}
