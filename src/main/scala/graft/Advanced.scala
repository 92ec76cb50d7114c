package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** Input row for the retractable sliding-window operator (top-level so the
  * product encoder derives cleanly). */
case class RetractEv(user_id: Long, event_id: Long,
    ts: java.sql.Timestamp, value: Double)

/** The "hard items" of SURVEY.md §7.3: GROUPS window frames (rewrite),
  * UDWF-style custom window function, recursive CTEs (fixpoint loop),
  * Chrono→Java `to_char` translation, and the array gap functions. */
object Advanced {

  /** GROUPS window frames (SURVEY.md §2.6 — unsupported by Spark SQL *and*
    * DuckDB): `GROUPS k PRECEDING` ≡ a RANGE frame over `dense_rank` of the
    * ordering key, since dense_rank is the group ordinal. Exposed here as a
    * rewrite; the oracle uses the identical rewrite. Peer rows (same order
    * key) correctly share results because rank — not row position — drives
    * the frame. */
  def winGroupsFrame(s: SparkSession, d: String): DataFrame = {
    t(s, d, "orders").createOrReplaceTempView("orders_gf")
    s.sql(
      """WITH ranked AS (
        |  SELECT o_orderstatus, o_custkey, o_totalprice,
        |    dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_custkey)
        |      AS grp
        |  FROM orders_gf WHERE o_custkey < 40)
        |SELECT o_orderstatus, o_custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_orderstatus ORDER BY grp
        |          RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS groups_sum,
        |  count(*) OVER (PARTITION BY o_orderstatus ORDER BY grp
        |                 RANGE BETWEEN 1 PRECEDING AND CURRENT ROW)
        |    AS groups_count
        |FROM ranked
        |ORDER BY o_orderstatus, o_custkey, groups_sum""".stripMargin)
  }
  val winGroupsFrameSql: String =
    """WITH ranked AS (
      |  SELECT o_orderstatus, o_custkey, o_totalprice,
      |    dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_custkey)
      |      AS grp
      |  FROM orders WHERE o_custkey < 40)
      |SELECT o_orderstatus, o_custkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |    OVER (PARTITION BY o_orderstatus ORDER BY grp
      |          RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS groups_sum,
      |  count(*) OVER (PARTITION BY o_orderstatus ORDER BY grp
      |                 RANGE BETWEEN 1 PRECEDING AND CURRENT ROW)
      |    AS groups_count
      |FROM ranked
      |ORDER BY o_orderstatus, o_custkey, groups_sum""".stripMargin

  /** UDWF-style custom window function (graft.functions.WindowKernels.ema)
    * driven through SQL OVER. Values are scaled to ~unit range so the
    * DuckDB recursive-CTE oracle reproduces the identical arithmetic. */
  def winEma(s: SparkSession, d: String): DataFrame = {
    graft.functions.WindowKernels.register(s)
    t(s, d, "orders").createOrReplaceTempView("orders_ema")
    s.sql(
      """SELECT o_custkey, o_orderkey,
        |  round(ema(o_totalprice / 100000.0, 0.3) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderkey), 9) AS price_ema
        |FROM orders_ema WHERE o_custkey < 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
  }
  val winEmaSql: String =
    """WITH RECURSIVE ordered AS (
      |  SELECT o_custkey, o_orderkey, o_totalprice / 100000.0 AS x,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
      |  FROM orders WHERE o_custkey < 50),
      |ema(o_custkey, o_orderkey, rn, v) AS (
      |  SELECT o_custkey, o_orderkey, rn, x FROM ordered WHERE rn = 1
      |  UNION ALL
      |  SELECT o.o_custkey, o.o_orderkey, o.rn, 0.3 * o.x + 0.7 * e.v
      |  FROM ordered o JOIN ema e
      |    ON o.o_custkey = e.o_custkey AND o.rn = e.rn + 1)
      |SELECT o_custkey, o_orderkey, round(v, 9) AS price_ema
      |FROM ema ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Sliding-frame aggregation through the retractable UDWF contract
    * (reference `retract_batch` + bounded `WindowEvaluator`,
    * user_defined.py:358-1104, udwf.rs:43-225; SURVEY §2.12): moving 4-row
    * sum per user over event time, O(rows) because the value leaving the
    * frame is subtracted from the running state instead of the frame being
    * rebuilt. Runs THROUGH Spark's window executor —
    * `moving_sum(value, 4) OVER (PARTITION BY ... ORDER BY ...)`
    * ([[graft.functions.MovingDecimalSumWindow]]), so the plan is a
    * single keyed-shuffle window stage: Spark sorts within partitions
    * spill-safely (no in-memory group materialization, the weakness of the
    * previous flatMapGroups shape, kept below as a cross-check). Oracle:
    * the equivalent `ROWS BETWEEN 3 PRECEDING AND CURRENT ROW` window in
    * DuckDB — exact because the state is decimal. */
  def winMovingRetract(s: SparkSession, d: String): DataFrame = {
    graft.functions.WindowKernels.register(s)
    t(s, d, "events").createOrReplaceTempView("mr_events")
    s.sql(
      """SELECT user_id, event_id,
        |  moving_sum(value, 4) OVER w AS mov_sum,
        |  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS n_frame
        |FROM mr_events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin)
  }

  /** The pre-window-executor shape (groupByKey + flatMapGroups driving
    * [[graft.functions.MovingDecimalSum]] directly) — retained as the
    * cross-check twin for [[winMovingRetract]]; KernelsSpec asserts both
    * paths and Spark's built-in sliding frame agree row-for-row. */
  def winMovingRetractFlatMapGroups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.MovingDecimalSum
    val frame = 4
    t(s, d, "events")
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
  val winMovingRetractSql: String =
    """SELECT user_id, event_id,
      |  CAST(sum(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS mov_sum,
      |  count(*) OVER w AS n_frame
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** Recursive CTE (reference RecursiveQuery node, SURVEY.md §2.13):
    * no Spark support → distributed union-until-fixpoint loop. Each
    * iteration is a distributed join; only the 1-row convergence check
    * touches the driver. Computes reachability over a synthetic edge
    * relation derived from `nation`. */
  def recReachability(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val edges = t(s, d, "nation")
      .select(col("n_nationkey").cast("long").as("src"),
        ((col("n_nationkey") * 7 + 3) % 25).cast("long").as("dst"))
      .cache()
    // Iterative-fixpoint pattern with explicit RDD handles: each round's
    // frontier is persisted as an RDD we hold a reference to, so (a) the
    // next round's plan reads the materialized set instead of re-deriving
    // the whole lineage, and (b) the superseded round's blocks are
    // actually freed — Dataset.localCheckpoint gives no handle to its
    // internal persisted RDD, so unpersisting anything reachable from the
    // Dataset is a silent no-op. One job per iteration: the convergence
    // count doubles as the materialization action.
    implicit val enc = org.apache.spark.sql.Encoders.scalaLong
    var reachRdd = s.createDataset(Seq(0L)).rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    var cur = reachRdd.count()
    var lastCount = -1L
    var iter = 0
    while (cur != lastCount && iter < 30) {
      lastCount = cur
      val reachDF = s.createDataset(reachRdd).toDF("node")
      val nextRdd = reachDF
        .join(edges, col("node") === col("src"))
        .select(col("dst").as("node"))
        .union(reachDF)
        .distinct()
        .as[Long].rdd
        .persist(StorageLevel.MEMORY_AND_DISK)
      cur = nextRdd.count()
      reachRdd.unpersist(blocking = false)
      reachRdd = nextRdd
      iter += 1
    }
    edges.unpersist() // the result reads reachRdd only
    s.createDataset(reachRdd).toDF("node").orderBy("node")
  }
  val recReachabilitySql: String =
    """WITH RECURSIVE reach(node) AS (
      |  SELECT CAST(0 AS BIGINT)
      |  UNION
      |  SELECT CAST((n_nationkey * 7 + 3) % 25 AS BIGINT)
      |  FROM reach JOIN nation ON n_nationkey = node)
      |SELECT node FROM reach ORDER BY node""".stripMargin

  /** to_char with Chrono (strftime) format strings (reference to_char,
    * functions/__init__.py:2375; SURVEY.md §7.3 item 3): the engine
    * translates the Chrono pattern to a Java DateTimeFormatter pattern. */
  def fnToChar(s: SparkSession, d: String): DataFrame = {
    val fmt = graft.functions.ChronoFormat.toJava("%d/%m/%Y %H:%M:%S")
    val fmt2 = graft.functions.ChronoFormat.toJava("%Y-%j")
    t(s, d, "events").filter(col("event_id") < 100)
      .select(
        col("event_id").as("key"),
        date_format(col("ts"), fmt).as("formatted"),
        date_format(col("ts"), fmt2).as("year_doy"))
      .orderBy("key")
  }
  val fnToCharSql: String =
    """SELECT event_id AS key,
      |  strftime(ts, '%d/%m/%Y %H:%M:%S') AS formatted,
      |  strftime(ts, '%Y-%j') AS year_doy
      |FROM events WHERE event_id < 100 ORDER BY key""".stripMargin

  /** Array gap functions (SURVEY.md §4 item 2): array_replace/_n/_all,
    * array_resize, array_any_value — composed from HOFs so they stay in
    * codegen; same composition mirrored in the oracle. */
  def fnArray3(s: SparkSession, d: String): DataFrame = {
    // base: [k%3, 1, k%3, 2, k%3] — repeated values to exercise replace_n
    val mk = "array(n_nationkey % 3L, 1L, n_nationkey % 3L, 2L, n_nationkey % 3L)"
    def replaceN(n: String) =
      s"""transform(sequence(1, size($mk)), i ->
         |  case when element_at($mk, i) = n_nationkey % 3L
         |        and size(filter(slice($mk, 1, i), y -> y = n_nationkey % 3L)) <= $n
         |       then -9L else element_at($mk, i) end)""".stripMargin
    t(s, d, "nation")
      .select(
        col("n_nationkey").as("key"),
        expr(s"concat_ws(',', ${replaceN("1")})").as("replace_first"),
        expr(s"concat_ws(',', ${replaceN("2")})").as("replace_2"),
        expr(s"concat_ws(',', transform($mk, x -> case when x = n_nationkey % 3L then -9L else x end))")
          .as("replace_all"),
        expr(s"concat_ws(',', slice($mk, 1, 3))").as("resize_down"),
        expr(s"concat_ws(',', concat($mk, array_repeat(0L, 2)))").as("resize_up"),
        expr(s"element_at($mk, 1)").as("any_value"),
        expr(s"size($mk)").cast("long").as("dims"))
      .orderBy("key")
  }
  val fnArray3Sql: String =
    """WITH base AS (SELECT n_nationkey,
      |  [n_nationkey % 3, 1, n_nationkey % 3, 2, n_nationkey % 3] AS a
      |  FROM nation)
      |SELECT n_nationkey AS key,
      |  array_to_string(list_transform(generate_series(1, len(a)), i ->
      |    CASE WHEN a[i] = n_nationkey % 3
      |          AND len(list_filter(a[1:i], y -> y = n_nationkey % 3)) <= 1
      |         THEN -9 ELSE a[i] END), ',') AS replace_first,
      |  array_to_string(list_transform(generate_series(1, len(a)), i ->
      |    CASE WHEN a[i] = n_nationkey % 3
      |          AND len(list_filter(a[1:i], y -> y = n_nationkey % 3)) <= 2
      |         THEN -9 ELSE a[i] END), ',') AS replace_2,
      |  array_to_string(list_transform(a, x ->
      |    CASE WHEN x = n_nationkey % 3 THEN -9 ELSE x END), ',') AS replace_all,
      |  array_to_string(a[1:3], ',') AS resize_down,
      |  array_to_string(list_concat(a, [0, 0]), ',') AS resize_up,
      |  CAST(a[1] AS BIGINT) AS any_value,
      |  len(a) AS dims
      |FROM base ORDER BY key""".stripMargin

  /** Weighted percentile via the custom TypedImperativeAggregate
    * (graft.functions.WeightedPercentile); the oracle computes the same
    * weighted lower percentile with a cumulative-weight window. */
  def aggWeightedPercentile(s: SparkSession, d: String): DataFrame = {
    graft.functions.WeightedPercentile.register(s)
    t(s, d, "lineitem").createOrReplaceTempView("li_wp")
    s.sql(
      """SELECT l_returnflag AS flag,
        |  percentile_weighted(l_extendedprice, l_quantity, 0.25) AS p25,
        |  percentile_weighted(l_extendedprice, l_quantity, 0.5) AS p50,
        |  percentile_weighted(l_extendedprice, l_quantity, 0.9) AS p90
        |FROM li_wp GROUP BY l_returnflag ORDER BY flag""".stripMargin)
  }
  val aggWeightedPercentileSql: String =
    """WITH ordered AS (
      |  SELECT l_returnflag AS flag, l_extendedprice AS v, l_quantity AS wt,
      |    sum(l_quantity) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(l_quantity) OVER (PARTITION BY l_returnflag) AS total
      |  FROM lineitem)
      |SELECT flag,
      |  min(v) FILTER (WHERE cum >= 0.25 * total) AS p25,
      |  min(v) FILTER (WHERE cum >= 0.5 * total) AS p50,
      |  min(v) FILTER (WHERE cum >= 0.9 * total) AS p90
      |FROM ordered GROUP BY flag ORDER BY flag""".stripMargin

  /** Heavy hitters over the corpus vocabulary via the Space-Saving
    * TypedImperativeAggregate (graft.functions.ApproxTopK). The 4096
    * capacity exceeds the synthetic vocabulary, so no counter is ever
    * evicted and the sketch degenerates to the exact global top-10 —
    * which is what lets the DuckDB oracle hash-match it; the lossy
    * small-capacity guarantee is bounded in ApproxTopKSpec. */
  def aggApproxTopk(s: SparkSession, d: String): DataFrame = {
    graft.functions.ApproxTopK.register(s)
    t(s, d, "documents")
      .select(explode(expr("split(trim(text), '\\\\s+')")).as("w"))
      .createOrReplaceTempView("doc_words")
    s.sql(
      """SELECT CAST(pos + 1 AS BIGINT) AS rank, s.item AS word,
        |  s.count_est AS cnt, s.max_err AS max_err
        |FROM (SELECT approx_top_k(w, 10, 4096) AS tk FROM doc_words)
        |LATERAL VIEW posexplode(tk) AS pos, s
        |ORDER BY rank""".stripMargin)
  }
  val aggApproxTopkSql: String =
    raw"""WITH w AS (
         |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
         |  FROM documents),
         |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT)
         |    AS rank,
         |  word, cnt, CAST(0 AS BIGINT) AS max_err
         |FROM c ORDER BY cnt DESC, word LIMIT 10""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_approx_topk" -> (aggApproxTopk _),
    "agg_weighted_percentile" -> (aggWeightedPercentile _),
    "win_groups_frame" -> (winGroupsFrame _),
    "win_ema" -> (winEma _),
    "win_moving_retract" -> (winMovingRetract _),
    "rec_reachability" -> (recReachability _),
    "fn_to_char" -> (fnToChar _),
    "fn_array3" -> (fnArray3 _))

  val oracle: Map[String, String] = Map(
    "agg_approx_topk" -> aggApproxTopkSql,
    "agg_weighted_percentile" -> aggWeightedPercentileSql,
    "win_groups_frame" -> winGroupsFrameSql,
    "win_ema" -> winEmaSql,
    "win_moving_retract" -> winMovingRetractSql,
    "rec_reachability" -> recReachabilitySql,
    "fn_to_char" -> fnToCharSql,
    "fn_array3" -> fnArray3Sql)
}
