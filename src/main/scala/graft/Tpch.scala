package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** TPC-H-derived headline queries, adapted to the driver's reduced star
  * schema (no partsupp, no commit/receipt dates — see TESTDATA.md).
  * Mirrors the reference's benchmark suite
  * (`/root/reference/benchmarks/tpch/tpch.py:25-60`,
  * `examples/tpch/q01..q22`), re-expressed with the Spark DataFrame API so
  * Catalyst drives join selection / pushdown; every query has a DuckDB
  * oracle in [[Tpch.oracle]].
  *
  * Scale notes: `nation`/`region` are fixed-cardinality → explicit
  * [[broadcast]]; all other joins are key-equi joins that shuffle on the
  * join key and benefit from AQE; single-row "threshold" aggregates are
  * attached via broadcast cross-join (never collected to the driver).
  */
object Tpch {

  private def li(s: SparkSession, d: String) = t(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = t(s, d, "orders")
  private def cust(s: SparkSession, d: String) = t(s, d, "customer")
  private def supp(s: SparkSession, d: String) = t(s, d, "supplier")
  private def part(s: SparkSession, d: String) = t(s, d, "part")
  private def nat(s: SparkSession, d: String) = t(s, d, "nation")
  private def reg(s: SparkSession, d: String) = t(s, d, "region")

  private val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
  private val DISC_PRICE = "l_extendedprice * (1.0 - l_discount)"

  def q1(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(col("l_shipdate") <= ts("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(discPrice).as("sum_disc_price"),
        dsum(discPrice * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${DSUM("l_quantity")} AS sum_qty,
       |  ${DSUM("l_extendedprice")} AS sum_base_price,
       |  ${DSUM(DISC_PRICE)} AS sum_disc_price,
       |  ${DSUM(s"$DISC_PRICE * (1.0 + l_tax)")} AS sum_charge,
       |  ${DAVG("l_quantity")} AS avg_qty,
       |  ${DAVG("l_extendedprice")} AS avg_price,
       |  ${DAVG("l_discount")} AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q2 adapted: partsupp is absent, so lineitem bridges part→supplier;
    * "min cost" becomes max supplier account balance per part in EUROPE.
    * Max-per-key is a window over `p_partkey`, not a self-join of the
    * aggregate against its own input — the `eu` subplan is computed once
    * (one shuffle on the window key at any scale, and ~2× faster at sf0.1). */
  def q2(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val eu = part(s, d).filter(col("p_size") < 10)
      .join(li(s, d), col("p_partkey") === col("l_partkey"))
      .join(supp(s, d), col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(nat(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg(s, d).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name")
    eu.withColumn("mx", max("s_acctbal").over(Window.partitionBy("p_partkey")))
      .filter(col("s_acctbal") === col("mx"))
      .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
      .distinct()
      .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"), asc("p_partkey"))
      .limit(100)
  }

  val q2Sql: String =
    """WITH eu AS (
      |  SELECT p_partkey, p_name, s_name, s_acctbal, n_name
      |  FROM part
      |  JOIN lineitem ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE' AND p_size < 10)
      |SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
      |FROM eu e
      |WHERE s_acctbal = (SELECT max(s_acctbal) FROM eu e2
      |                   WHERE e2.p_partkey = e.p_partkey)
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  def q3(s: SparkSession, d: String): DataFrame =
    cust(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(ord(s, d).filter(col("o_orderdate") < ts("1997-03-15")),
        col("c_custkey") === col("o_custkey"))
      .join(li(s, d).filter(col("l_shipdate") > ts("1997-03-15")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(discPrice).as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
      .orderBy(desc("revenue"), asc("o_orderdate"), asc("l_orderkey"))
      .limit(10)

  val q3Sql: String =
    s"""SELECT l_orderkey, ${DSUM(DISC_PRICE)} AS revenue,
       |  o_orderdate, o_orderpriority
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1997-03-15'
       |  AND l_shipdate > TIMESTAMP '1997-03-15'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, o_orderdate, l_orderkey
       |LIMIT 10""".stripMargin

  /** q4: EXISTS turned into a left-semi join with an inequality residual
    * (l_shipdate > o_orderdate stands in for commitdate < receiptdate). */
  def q4(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d).filter(
      col("o_orderdate") >= ts("1996-07-01") &&
        col("o_orderdate") < ts("1996-10-01"))
    o.join(li(s, d),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      |  AND o_orderdate < TIMESTAMP '1996-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  def q5(s: SparkSession, d: String): DataFrame =
    cust(s, d)
      .join(ord(s, d).filter(
          col("o_orderdate") >= ts("1996-01-01") &&
            col("o_orderdate") < ts("1997-01-01")),
        col("c_custkey") === col("o_custkey"))
      .join(li(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(supp(s, d),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(discPrice).as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))

  val q5Sql: String =
    s"""SELECT n_name, ${DSUM(DISC_PRICE)} AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate < TIMESTAMP '1997-01-01'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  def q6(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(
        col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1997-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))

  val q6Sql: String =
    s"""SELECT ${DSUM("l_extendedprice * l_discount")} AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate < TIMESTAMP '1997-01-01'
       |  AND l_discount BETWEEN 0.05 AND 0.07
       |  AND l_quantity < 24""".stripMargin

  def q7(s: SparkSession, d: String): DataFrame = {
    val n1 = nat(s, d).select(col("n_nationkey").as("n1_key"),
      col("n_name").as("supp_nation"))
    val n2 = nat(s, d).select(col("n_nationkey").as("n2_key"),
      col("n_name").as("cust_nation"))
    supp(s, d)
      .join(li(s, d).filter(
          col("l_shipdate") >= ts("1996-01-01") &&
            col("l_shipdate") <= ts("1997-12-31")),
        col("s_suppkey") === col("l_suppkey"))
      .join(ord(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(cust(s, d), col("c_custkey") === col("o_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .filter(
        (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(dsum(discPrice).as("volume"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q7Sql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  year(l_shipdate) AS l_year, ${DSUM(DISC_PRICE)} AS volume
       |FROM supplier
       |JOIN lineitem ON s_suppkey = l_suppkey
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
       |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** q8: market share of NATION_3 suppliers in AMERICA for STANDARD parts. */
  def q8(s: SparkSession, d: String): DataFrame = {
    val n1 = nat(s, d).select(col("n_nationkey").as("cn_key"),
      col("n_regionkey").as("cn_region"))
    val n2 = nat(s, d).select(col("n_nationkey").as("sn_key"),
      col("n_name").as("supp_nation"))
    part(s, d).filter(col("p_type") === "STANDARD")
      .join(li(s, d), col("p_partkey") === col("l_partkey"))
      .join(supp(s, d), col("s_suppkey") === col("l_suppkey"))
      .join(ord(s, d).filter(
          col("o_orderdate") >= ts("1996-01-01") &&
            col("o_orderdate") < ts("1998-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("cn_key"))
      .join(broadcast(reg(s, d).filter(col("r_name") === "AMERICA")),
        col("cn_region") === col("r_regionkey"))
      .join(broadcast(n2), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg((dsum(when(col("supp_nation") === "NATION_3", discPrice)
          .otherwise(lit(0.0))) / dsum(discPrice)).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  val q8Sql: String =
    s"""SELECT year(o_orderdate) AS o_year,
       |  ${DSUM(s"CASE WHEN n2.n_name = 'NATION_3' THEN $DISC_PRICE ELSE 0.0 END")}
       |    / ${DSUM(DISC_PRICE)} AS mkt_share
       |FROM part
       |JOIN lineitem ON p_partkey = l_partkey
       |JOIN supplier ON s_suppkey = l_suppkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n1 ON c_nationkey = n1.n_nationkey
       |JOIN region ON n1.n_regionkey = r_regionkey
       |JOIN nation n2 ON s_nationkey = n2.n_nationkey
       |WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate < TIMESTAMP '1998-01-01'
       |GROUP BY o_year
       |ORDER BY o_year""".stripMargin

  /** q9: profit by supplier nation and year; supplycost approximated with
    * p_retailprice (no partsupp table in the corpus). */
  def q9(s: SparkSession, d: String): DataFrame =
    part(s, d).filter(col("p_name").contains("widget"))
      .join(li(s, d), col("p_partkey") === col("l_partkey"))
      .join(supp(s, d), col("s_suppkey") === col("l_suppkey"))
      .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(nat(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(dsum(discPrice - col("p_retailprice") * col("l_quantity"))
        .as("sum_profit"))
      .orderBy(asc("nation"), desc("o_year"))

  val q9Sql: String =
    s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
       |  ${DSUM(s"$DISC_PRICE - p_retailprice * l_quantity")} AS sum_profit
       |FROM part
       |JOIN lineitem ON p_partkey = l_partkey
       |JOIN supplier ON s_suppkey = l_suppkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE p_name LIKE '%widget%'
       |GROUP BY n_name, year(o_orderdate)
       |ORDER BY nation, o_year DESC""".stripMargin

  /** Round-17 shape: revenue pre-aggregates by `o_custkey` off the
    * orders⋈lineitem join, and the top-20 is taken BEFORE customer ever
    * enters the plan — c_custkey is customer's key, so the per-custkey
    * sums and the (revenue DESC, custkey ASC) top-20 are exactly the
    * grouped rows the reference's 4-column GROUP BY produces, and the 1:1
    * name/acctbal/nation lookup can't reorder them.
    *
    * PRECONDITION (referential integrity): ranking before the inner join
    * to customer is equivalent ONLY if every ranked o_custkey has a
    * customer row — an orphan custkey in the top-20 would shrink the
    * result below 20 where the textbook shape would have excluded it
    * before ranking. TPC-H guarantees orders.o_custkey ⊆
    * customer.c_custkey (and the DuckDB oracle pins it on this corpus);
    * on a corpus without that guarantee, rank after the join. This
    * removes the two
    * widest exchanges of the textbook shape (the full customer shuffle
    * and the orderkey re-shuffle of the customer-laden join result): what
    * remains is the unavoidable orders⋈lineitem exchange pair, one
    * custkey-keyed partial-aggregated exchange, a driver-bounded
    * TakeOrdered(20), and a 20-row broadcast against the customer scan —
    * at 100 TB customer is never shuffled at all.
    *
    * Round-17 A/B (alternating, min-of-3, same load): SF1 old 3.22 s vs
    * new 2.23 s — the win grows with scale; at sf0.1 the new shape reads
    * ~0.1–0.15 s SLOWER (the pre-rank adds a stage barrier where AQE had
    * broadcast every join of the old shape anyway), which keeps q10 in
    * the sf0.1 stage-floor set. Shipped: the scale-correct shape. */
  def q10(s: SparkSession, d: String): DataFrame = {
    val top = ord(s, d).filter(
        col("o_orderdate") >= ts("1996-10-01") &&
          col("o_orderdate") < ts("1997-01-01"))
      .join(li(s, d).filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(dsum(discPrice).as("revenue"))
      .orderBy(desc("revenue"), asc("o_custkey"))
      .limit(20)
    broadcast(top)
      .join(cust(s, d), col("c_custkey") === col("o_custkey"))
      .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)
  }

  val q10Sql: String =
    s"""SELECT c_custkey, c_name, ${DSUM(DISC_PRICE)} AS revenue,
       |  c_acctbal, n_name
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE o_orderdate >= TIMESTAMP '1996-10-01'
       |  AND o_orderdate < TIMESTAMP '1997-01-01'
       |  AND l_returnflag = 'R'
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin

  /** q11 adapted: part "value" from lineitem revenue; threshold is a
    * broadcast single-row aggregate (never collected to the driver).
    * Sums run over scaled-long cents instead of decimals — exact because
    * the corpus prices have two decimals, and long sums stay in primitive
    * codegen (~2× faster than decimal aggregation at SF1). `cents/100`
    * is the same rational the decimal sum represents, so the double cast
    * rounds identically and the oracle hash-matches.
    *
    * Threshold shape history: round 2 shared the per-part sums between
    * both consumers via localCheckpoint (one fact pass, but a barrier
    * that walls off AQE and materializes ~#parts rows to executor
    * storage); round 15 replaced it with a dual-scan direct global
    * aggregate, which won at SF1 (0.839 → 0.599 s) but LOST 3.5× under
    * the driver's prepared-plan sf0.1 protocol (each cloned sample pays
    * the second fact scan that the checkpoint had amortized into prepare
    * time). Round 16 lands the shape that wins under BOTH protocols: the
    * grand total comes from the ALREADY-REDUCED per-part stream via an
    * empty-frame window — ONE fact scan, one shuffle, and the window
    * runs over only ~#parts reduced rows (200k at SF1), collapsed to a
    * single partition. At 100 TB #parts is bounded by the part catalog
    * (millions, not the fact's billions), so a single-partition pass over
    * the reduced stream stays cheap; if it ever didn't, the same total
    * could come from a two-level rollup at the cost of doubling the
    * fact shuffle.
    * (Caveat: the global cents total must stay under 2^53 for double
    * exactness — holds to ~90 trillion in total revenue.) */
  def q11(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val pv = li(s, d).groupBy(col("l_partkey")).agg(sum(cents).as("c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    pv.withColumn("threshold",
        sum(col("c")).over(w).cast(DoubleType) / 100.0 * lit(0.001))
      .select(col("l_partkey"), (col("c").cast(DoubleType) / 100.0).as("part_value"),
        col("threshold"))
      .filter(col("part_value") > col("threshold"))
      .select("l_partkey", "part_value")
      .orderBy(desc("part_value"), asc("l_partkey"))
  }

  val q11Sql: String =
    s"""SELECT l_partkey, ${DSUM("l_extendedprice")} AS part_value
       |FROM lineitem
       |GROUP BY l_partkey
       |HAVING ${DSUM("l_extendedprice")} >
       |  (SELECT ${DSUM("l_extendedprice")} * 0.001 FROM lineitem)
       |ORDER BY part_value DESC, l_partkey""".stripMargin

  /** q12 adapted: ship-delay buckets instead of ship modes. */
  def q12(s: SparkSession, d: String): DataFrame =
    li(s, d).filter(
        col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1997-01-01"))
      .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(when(datediff(col("l_shipdate"), col("o_orderdate")) > 60,
          "slow").otherwise("fast").as("ship_bucket"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("ship_bucket"))

  val q12Sql: String =
    """SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
      |  THEN 'slow' ELSE 'fast' END AS ship_bucket,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY ship_bucket
      |ORDER BY ship_bucket""".stripMargin

  def q13(s: SparkSession, d: String): DataFrame =
    cust(s, d)
      .join(ord(s, d).filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))

  val q13Sql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  def q14(s: SparkSession, d: String): DataFrame =
    li(s, d).filter(
        col("l_shipdate") >= ts("1996-09-01") &&
          col("l_shipdate") < ts("1996-10-01"))
      .join(part(s, d), col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) *
        dsum(when(col("p_type") === "PROMO", discPrice).otherwise(lit(0.0))) /
        dsum(discPrice)).as("promo_revenue"))

  val q14Sql: String =
    s"""SELECT 100.0 *
       |  ${DSUM(s"CASE WHEN p_type = 'PROMO' THEN $DISC_PRICE ELSE 0.0 END")} /
       |  ${DSUM(DISC_PRICE)} AS promo_revenue
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
       |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin

  def q15(s: SparkSession, d: String): DataFrame = {
    // ONE fact pass, built without a job (the q11 shape): the max-revenue
    // threshold is an empty-frame window over the reduced per-supplier
    // stream (~#suppliers rows), so the filtered lineitem aggregate feeds
    // both the threshold and the supplier join without a pin or a second
    // aggregation.
    val rev = li(s, d).filter(
        col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1996-04-01"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(dsum(discPrice).as("total_revenue"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val top = rev
      .withColumn("max_rev", max(col("total_revenue")).over(w))
      .filter(col("total_revenue") === col("max_rev"))
    supp(s, d)
      .join(top, col("s_suppkey") === col("supplier_no"))
      .select("s_suppkey", "s_name", "total_revenue")
      .orderBy(col("s_suppkey"))
  }

  val q15Sql: String =
    s"""WITH revenue AS (
       |  SELECT l_suppkey AS supplier_no, ${DSUM(DISC_PRICE)} AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate < TIMESTAMP '1996-04-01'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM supplier JOIN revenue ON s_suppkey = supplier_no
       |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin

  /** q16 adapted: distinct suppliers per part attribute group via the
    * lineitem bridge; NOT IN → anti join (keys are non-null).
    * Join order is selectivity-first: the filtered part dim (~15% of
    * parts) and the bad-supplier exclusion attach by broadcast — both
    * map-side, no fact shuffle — so the only shuffle is the two-phase
    * distinct aggregation over the ~15% of fact rows that survive.
    * (A round-3 experiment that collapsed the fact to distinct
    * (partkey, suppkey) pairs BEFORE the part filter measured 2.4× worse
    * at SF1: it trades the map-side filter for a full-fact shuffle.
    * Round 15 re-measured distinct-first under the prepared-plan/AQE
    * protocol: still ~1.5× worse (0.86 s → 1.28 s min-of-3 alternating)
    * — partial aggregation can't collapse much when each pair's ~7.5
    * duplicates are spread across partitions, so the pre-distinct is a
    * near-full-fact shuffle that the 15% part filter would have skipped.
    * The remaining gap to the baseline is structural: this corpus ships
    * no partsupp, so q16 reads the 6M-row lineitem bridge where the
    * reference reads 800k partsupp rows.)
    *
    * q16 shape history: countDistinct's own two-phase expand IS the
    * distinct — both explicit pre-distinct variants lost alternating
    * A/Bs at SF1 (round 15: distinct before the part filter; round 16:
    * semi-filter then distinct (partkey, suppkey) before attaching part
    * attributes — mins 0.87/0.93 s current vs 1.16–1.47 s probe, the
    * extra (partkey, suppkey) exchange never pays for the rows it
    * removes because the count-distinct rewrite already dedups
    * map-side). */
  def q16(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(part(s, d).filter(
          col("p_brand") =!= "Brand#13" &&
            col("p_size").isin(1, 5, 9, 14, 20, 25, 30, 36))
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp(s, d).filter(col("s_acctbal") < 0)
          .select(col("s_suppkey").as("bad_supp"))),
        col("l_suppkey") === col("bad_supp"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"), asc("p_size"))

  val q16Sql: String =
    """SELECT p_brand, p_type, p_size,
      |  count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#13'
      |  AND p_size IN (1, 5, 9, 14, 20, 25, 30, 36)
      |  AND l_suppkey NOT IN
      |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** q17: per-part average-quantity threshold via a grouped self-join
    * (quantities are whole numbers → double sums are exact).
    *
    * Round-17 shape: the per-part avg-quantity threshold aggregates only
    * lineitems of Brand#23 parts — brand is a part attribute, so "all
    * lineitems of part X" for a surviving X is exactly the brand-join
    * subset, and every threshold the outer filter reads is unchanged.
    * The old shape's full-lineitem partkey exchange (the query's widest)
    * shrinks ~25×, and both consumers (threshold agg + the quantity
    * filter join) hang off the SAME brand-join subtree, so the planner
    * reuses one partkey exchange for both sides of the final join. No
    * broadcast hint on the brand parts: AQE broadcasts them at bench
    * scales, and at 100 TB the 1/25 part slice correctly shuffle-joins. */
  def q17(s: SparkSession, d: String): DataFrame = {
    val liBrand = li(s, d)
      .join(part(s, d).filter(col("p_brand") === "Brand#23")
          .select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val pa = liBrand.groupBy(col("l_partkey").as("ap"))
      .agg((lit(0.2) * avg(col("l_quantity"))).as("qty_threshold"))
    liBrand
      .join(pa, col("l_partkey") === col("ap"))
      .filter(col("l_quantity") < col("qty_threshold"))
      .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
  }

  val q17Sql: String =
    s"""WITH pa AS (SELECT l_partkey AS ap, 0.2 * avg(l_quantity) AS qty_threshold
       |            FROM lineitem GROUP BY l_partkey)
       |SELECT ${DSUM("l_extendedprice")} / 7.0 AS avg_yearly
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN pa ON l_partkey = ap
       |WHERE p_brand = 'Brand#23' AND l_quantity < qty_threshold""".stripMargin

  /** Round-17 shape: the big-order restriction applies to ORDERS before
    * customer ever joins — the textbook shape joined full
    * customer⋈orders first and only then semi-filtered, a
    * corpus×corpus join at 100 TB that the restricted shape never pays
    * (the ~0.01% qualifying orders broadcast against customer and
    * lineitem at bench scales; over-threshold runs reuse the HAVING's
    * orderkey exchange for the final join). The final per-order
    * re-aggregation is kept deliberately: a carried-sum variant (sum_qty
    * straight from the HAVING aggregate, no lineitem re-join) was
    * row-identical but LOST its alternating SF1 A/B (min 2.29 s vs
    * 1.67 s old / 1.76 s this shape) — the re-join rides the reused
    * exchange while the carried-sum plan forced a fresh orders
    * exchange. */
  def q18(s: SparkSession, d: String): DataFrame = {
    val big = li(s, d).groupBy(col("l_orderkey").as("bigkey"))
      .agg(sum(col("l_quantity")).as("oq"))
      .filter(col("oq") > 300)
      .select("bigkey")
    ord(s, d)
      .join(big, col("o_orderkey") === col("bigkey"), "left_semi")
      .join(cust(s, d), col("c_custkey") === col("o_custkey"))
      .join(li(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .orderBy(desc("o_totalprice"), asc("o_orderdate"), asc("o_orderkey"))
      .limit(100)
  }

  val q18Sql: String =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  sum(l_quantity) AS sum_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
      |LIMIT 100""".stripMargin

  /** The OR-of-conjunctions is kept verbatim after the join; each scan
    * additionally pre-filters on the conjuncts the disjunction IMPLIES
    * (brand ∈ {13,23,5} ∧ size ∈ [1,15] on part; quantity ∈ [1,30] on
    * lineitem) — the classic q19 CNF pushdown, written explicitly so it
    * reaches the scans regardless of the optimizer's CNF budget. At scale
    * the filtered part side shrinks below the broadcast threshold and
    * lineitem never ships rows outside the quantity envelope. */
  def q19(s: SparkSession, d: String): DataFrame =
    li(s, d).filter(col("l_quantity").between(1, 30))
      .join(part(s, d).filter(
          col("p_brand").isin("Brand#13", "Brand#23", "Brand#5") &&
            col("p_size").between(1, 15)),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#13" && col("l_quantity").between(1, 11) &&
          col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20) &&
            col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#5" && col("l_quantity").between(20, 30) &&
            col("p_size").between(1, 15)))
      .agg(dsum(discPrice).as("revenue"))

  val q19Sql: String =
    s"""SELECT ${DSUM(DISC_PRICE)} AS revenue
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#13' AND l_quantity BETWEEN 1 AND 11
       |       AND p_size BETWEEN 1 AND 5)
       |   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
       |       AND p_size BETWEEN 1 AND 10)
       |   OR (p_brand = 'Brand#5' AND l_quantity BETWEEN 20 AND 30
       |       AND p_size BETWEEN 1 AND 15)""".stripMargin

  /** q20: suppliers who shipped > 200 units of PROMO parts in 1996. */
  def q20(s: SparkSession, d: String): DataFrame = {
    val promoKeys = part(s, d).filter(col("p_type") === "PROMO")
      .select(col("p_partkey").as("pk"))
    val bigSupp = li(s, d).filter(
        col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1997-01-01"))
      .join(promoKeys, col("l_partkey") === col("pk"), "left_semi")
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("sq"))
      .filter(col("sq") > 200)
      .select("l_suppkey")
    supp(s, d)
      .join(bigSupp, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_name", "s_acctbal")
      .orderBy(col("s_name"))
  }

  val q20Sql: String =
    """SELECT s_name, s_acctbal
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
      |    AND l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-01-01'
      |  GROUP BY l_suppkey HAVING sum(l_quantity) > 200)
      |ORDER BY s_name""".stripMargin

  /** q21 adapted: suppliers whose line was the last to ship (> 30 days
    * after ordering) in a multi-supplier finalized order.
    *
    * q21 shape history (round 16): the full decorrelation — per-(order,
    * supp) max-shipdate aggregate + (m1, n1, m2) windows replacing both
    * the semi and anti fact joins — was oracle-exact but LOST a 3-pair
    * alternating A/B under the driver protocol (0.44–0.49 s shipped vs
    * 0.79–1.06 s probe): TPC-H orders average ~1 line per supplier, so
    * the per-(order, supp) "reduction" removes almost nothing and the
    * two window passes + join-back cost strictly more than the
    * sort-merge semi/anti pair, which share one l1 exchange. */
  def q21(s: SparkSession, d: String): DataFrame = {
    val l1 = li(s, d)
    val l2 = li(s, d).select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
    val l3 = li(s, d).select(col("l_orderkey").as("k3"),
      col("l_suppkey").as("s3"), col("l_shipdate").as("d3"))
    l1.join(ord(s, d).filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .join(l2, col("k2") === col("l_orderkey") && col("s2") =!= col("l_suppkey"),
        "left_semi")
      .join(l3, col("k3") === col("l_orderkey") &&
          col("s3") =!= col("l_suppkey") && col("d3") > col("l_shipdate"),
        "left_anti")
      .join(supp(s, d), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), asc("s_name"))
      .limit(100)
  }

  val q21Sql: String =
    """SELECT s_name, count(*) AS numwait
      |FROM lineitem l1
      |JOIN orders ON l1.l_orderkey = o_orderkey
      |JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > l1.l_shipdate)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  /** q22 adapted: well-funded customers with no recent orders, grouped by
    * market segment (the corpus has no phone column). */
  def q22(s: SparkSession, d: String): DataFrame = {
    val avgBal = cust(s, d).filter(col("c_acctbal") > 0)
      .agg(davg(col("c_acctbal")).as("avg_bal"))
    val recent = ord(s, d).filter(col("o_orderdate") > ts("1999-01-01"))
      .select(col("o_custkey"))
    cust(s, d)
      .join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("c_mktsegment"))
  }

  val q22Sql: String =
    s"""SELECT c_mktsegment, count(*) AS numcust,
       |  ${DSUM("c_acctbal")} AS totacctbal
       |FROM customer
       |WHERE c_acctbal > (SELECT ${DAVG("c_acctbal")} FROM customer
       |                   WHERE c_acctbal > 0)
       |  AND NOT EXISTS (SELECT 1 FROM orders
       |                  WHERE o_custkey = c_custkey
       |                    AND o_orderdate > TIMESTAMP '1999-01-01')
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1" -> (q1 _), "q2" -> (q2 _), "q3" -> (q3 _), "q4" -> (q4 _),
    "q5" -> (q5 _), "q6" -> (q6 _), "q7" -> (q7 _), "q8" -> (q8 _),
    "q9" -> (q9 _), "q10" -> (q10 _), "q11" -> (q11 _), "q12" -> (q12 _),
    "q13" -> (q13 _), "q14" -> (q14 _), "q15" -> (q15 _), "q16" -> (q16 _),
    "q17" -> (q17 _), "q18" -> (q18 _), "q19" -> (q19 _), "q20" -> (q20 _),
    "q21" -> (q21 _), "q22" -> (q22 _))

  val oracle: Map[String, String] = Map(
    "q1" -> q1Sql, "q2" -> q2Sql, "q3" -> q3Sql, "q4" -> q4Sql,
    "q5" -> q5Sql, "q6" -> q6Sql, "q7" -> q7Sql, "q8" -> q8Sql,
    "q9" -> q9Sql, "q10" -> q10Sql, "q11" -> q11Sql, "q12" -> q12Sql,
    "q13" -> q13Sql, "q14" -> q14Sql, "q15" -> q15Sql, "q16" -> q16Sql,
    "q17" -> q17Sql, "q18" -> q18Sql, "q19" -> q19Sql, "q20" -> q20Sql,
    "q21" -> q21Sql, "q22" -> q22Sql)

  /** Bench order: q1..q22. */
  val benchOrder: Seq[String] = (1 to 22).map(i => s"q$i")
}
