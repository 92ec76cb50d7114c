package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers for building oracle-matched queries.
  *
  * Double aggregation is order-dependent; a 100 TB shuffle will not sum
  * doubles in the same order as DuckDB's single-threaded oracle. Every sum
  * over a double measure is therefore routed through an exact decimal
  * (cast per-row, summed as decimal, surfaced as double) so the result is
  * deterministic and engine-independent at any parallelism.
  */
object Q {
  /** Session marker naming the dir whose tables are registered as views,
    * set by both [[registerAll]] and [[cacheTables]]. */
  private val TablesDir = "graft.tables.dir"

  /** Read one driver-generated table (TESTDATA.md) from an sf dir.
    *
    * If [[registerAll]] or [[cacheTables]] has registered this dir in the
    * session, serve the registered view: a plain parquet view or the cached
    * in-memory one (same rows, repartitioned for parallelism). Resolving a
    * view runs no job; the schema and the file listing were taken once, at
    * registration, as the reference's `register_parquet` does
    * (`context.py:1062`). A caller that rewrites the files of a registered
    * dir therefore still sees the listing taken at registration.
    *
    * An unregistered dir is read from parquet on every call, which infers
    * the schema (one Spark job) and lists the files each time. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (registered(spark, dir)) spark.table(name)
    else read(spark, dir, name)

  private def registered(spark: SparkSession, dir: String): Boolean =
    spark.conf.getOption(TablesDir).contains(dir)

  /** Per-document distinct adjacent-word edges with multiplicities
    * (src, dst, pc) from a frame holding a `ws` array<string> column —
    * the shared head of the co-occurrence graph family (round 15): the
    * (src, dst) reduce happens inside [[graft.functions.BigramEdgeCounts]]
    * per document, so downstream edge-weight shuffles ship per-doc
    * DISTINCT edges (`sum(pc)` replays the exploded `count(*)`), and the
    * single-word null-edge rows of the HOF it replaces are preserved
    * bit for bit. */
  def bigramEdges(docs: DataFrame): DataFrame =
    docs.select(explode(
        org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.BigramEdgeCounts(
            org.apache.spark.sql.graftcol.NativeColumn.expression(col("ws")))))
        .as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"),
        col("p.c").as("pc"))

  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some corpus
    * generations (Spark's reader rejects it unless
    * `spark.sql.legacy.parquet.nanosAsLong=true` surfaces it as a
    * nanosecond LONG) and as TIMESTAMP(MICROS) in others (arriving as
    * TIMESTAMP or TIMESTAMP_NTZ). Normalize every encoding to a session-TZ
    * microsecond TimestampType so downstream operators see one shape;
    * both conversions are lossless (the generator only uses µs). */
  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") normalizeEventsTs(eventsRaw(spark, dir))
    else spark.read.parquet(s"$dir/$name.parquet")

  /** Raw events frame exactly as encoded on disk (a nanos corpus needs the
    * legacy conf so the NANOS column surfaces as LONG instead of failing
    * the read). The streaming specs take their `readStream` schema from
    * this and then pipe through [[normalizeEventsTs]], so one code path
    * serves every corpus generation. */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet")
  }

  /** Normalize any shipped `ts` encoding — LONG nanoseconds, TIMESTAMP, or
    * TIMESTAMP_NTZ — to a session-TZ microsecond TimestampType, batch or
    * streaming. All conversions are lossless (the generator only emits µs). */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        // integer division: ts/1000 in double loses µs precision at 2024
        // epoch magnitudes (ulp > 0.25µs)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _ => // TIMESTAMP_NTZ: session TZ is UTC, cast is the identity
        df.withColumn("ts", col("ts").cast("timestamp"))
    }

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Fixed-cardinality dims that stay single-partition (broadcast side). */
  private val smallTables = Set("region", "nation", "supplier")

  /** Register every table of an sf dir as a parquet view, once per dir,
    * mirroring the reference's `register_parquet` (`context.py:1062`): each
    * schema is inferred here, and later [[t]] calls on this dir resolve the
    * views without re-reading. A no-op when the session has already
    * registered this dir, by this call or by [[cacheTables]], so repeated
    * calls neither re-infer schemas nor replace cached views. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    if (!registered(spark, dir)) {
      tableNames.foreach(n => read(spark, dir, n).createOrReplaceTempView(n))
      spark.conf.set(TablesDir, dir)
    }

  /** Materialize every table into Spark's in-memory columnar cache,
    * repartitioned so downstream stages parallelize (the driver's parquet
    * files are single-row-group → a cold scan is a 1-task stage no matter
    * the cluster size; a real 100 TB layout has many splittable files and
    * would not need this), and mark the dir registered with the same
    * session marker as [[registerAll]], so [[t]] serves the cached views
    * and a later `registerAll` of this dir leaves them in place. Mirrors
    * the reference's MemTable registration
    * (`/root/reference/python/datafusion/context.py:783-887`) and
    * `DataFrame.cache()` (`dataframe.py:975`). */
  def cacheTables(spark: SparkSession, dir: String, partitions: Int): Unit = {
    tableNames.foreach { n =>
      val df = read(spark, dir, n)
      val p = if (smallTables(n)) df else df.repartition(partitions)
      p.createOrReplaceTempView(n)
      spark.catalog.cacheTable(n)
      spark.table(n).count() // force materialization
    }
    spark.conf.set(TablesDir, dir)
  }

  /** In-memory table from explicit row batches, one batch per partition
    * (reference register_record_batches, context.py:1002-1060): the
    * partition structure is preserved — `parallelize` with one slice per
    * batch keeps each batch intact as its own partition. */
  def fromBatches(spark: SparkSession,
      batches: Seq[Seq[org.apache.spark.sql.Row]],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val rdd = spark.sparkContext
      .parallelize(batches, math.max(batches.length, 1))
      .flatMap(identity)
    spark.createDataFrame(rdd, schema)
  }

  /** Timestamp literal (all date columns in the corpus are timestamps). */
  def ts(s: String): Column = to_timestamp(lit(s))

  /** Per-row double→decimal quantization under every exact-sum aggregate:
    * bit-identical to `c.cast(DecimalType(precision, scale))` (non-ANSI)
    * but ~30× cheaper per row — the r19 fixed-point fast path
    * ([[graft.functions.FastDoubleToDecimal]]) instead of the engine
    * cast's `Double.toString` + BigDecimal parse. The child must already
    * be a double (every corpus measure is). */
  def ddec(c: Column, precision: Int = 30, scale: Int = 6): Column =
    org.apache.spark.sql.graftcol.NativeColumn.column(
      graft.functions.FastDoubleToDecimal(
        org.apache.spark.sql.graftcol.NativeColumn.expression(c),
        precision, scale))

  /** Exact, order-independent sum of a double measure, surfaced as double.
    * Scale 6 because every corpus measure is a product of ≤3 two-decimal
    * values — the cast then never rounds, so Spark and the DuckDB oracle
    * agree bit-for-bit regardless of aggregation order. */
  def dsum(c: Column): Column = sum(ddec(c)).cast(DoubleType)

  /** Exact average of a double measure (decimal sum / count), as double. */
  def davg(c: Column): Column =
    sum(ddec(c)).cast(DoubleType) / count(c)

  /** Skew-safe equi-join: the big (skewed) side spreads each key over
    * `salts` deterministic sub-keys derived from full row content; the
    * small side replicates ×salts. Standard hot-key mitigation when AQE
    * skew handling isn't enough at 100 TB — result is identical to the
    * plain join, but no reducer receives a whole hot key. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salts: Int): DataFrame = {
    val l = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col): _*)), lit(salts.toLong))
        .cast("int"))
    val r = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }

  /** Range-partition width for the exact-rank topology: follows the
    * session's shuffle parallelism so the same code is the plan at any
    * scale (a fixed literal would cap the sort's parallelism at 100×).
    * The emitted positions are exact, hence partition-count independent. */
  private[graft] def rangeParts(df: DataFrame): Int = math.max(1,
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  /** The one pinned range scan behind every distributed rank
    * ([[distPos]], [[distPrefixSumWithTotal]], [[ntileBucketCol]]):
    * range shuffle on the order key (width [[rangeParts]]) →
    * sortWithinPartitions → localCheckpoint pin → ONE no-shuffle job
    * summing `weight` per partition → ONE mapPartitions pass appending the
    * LONG column `out` = `offset(partition) + running weight + base`
    * straight off the pinned sorted iterators. Returns the frame and the
    * grand total of the weights. The order must be a total order.
    *
    * The pin exists because the frame is read twice (census + rank) and a
    * range shuffle re-samples its boundaries on re-evaluation. Both passes
    * read the partition iterators through the
    * [[org.apache.spark.sql.graftcol.NativeFrame]] bridge: grouping or
    * windowing by `spark_partition_id()` over the checkpoint scan would
    * re-shuffle the whole frame (the scan reports UnknownPartitioning),
    * which the r19/r20 StageProbe rows showed on every census. */
  private def rankScan(df: DataFrame, out: String, order: Seq[Column],
      base: Long)(weight: InternalRow => Long): (DataFrame, Long) = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    import org.apache.spark.sql.graftcol.NativeFrame
    val keyed = df
      .repartitionByRange(rangeParts(df), order: _*)
      .sortWithinPartitions(order: _*)
      .localCheckpoint()
    val rows = NativeFrame.toInternalRdd(keyed)
    val offsets = rows.mapPartitionsWithIndex { (i, it) =>
      var s = 0L
      while (it.hasNext) s += weight(it.next())
      Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2).scanLeft(0L)(_ + _)
    val schema = StructType(keyed.schema.fields :+
      StructField(out, LongType, nullable = false))
    val ranked = rows.mapPartitionsWithIndex { (i, it) =>
      var run = offsets(i) + base
      val tail = new GenericInternalRow(1)
      val joined = new JoinedRow
      // rows may be reused by the scan; the joined view is consumed
      // row-at-a-time downstream (any buffering operator copies), the
      // same contract every InternalRow scan has
      it.map { r =>
        run += weight(r); tail.update(0, run)
        joined(r, tail): InternalRow
      }
    }
    (NativeFrame.internalCreate(df.sparkSession, ranked, schema), offsets.last)
  }

  /** Distributed exact ntile via broadcast boundary rows — SQL-identical
    * buckets to `ntile(buckets) OVER (ORDER BY order...)` with no
    * single-partition global sort, and the frame being bucketed NEVER
    * shuffles: only a narrow projection of the order columns goes
    * through the range shuffle ([[rankScan]]), the buckets-1 exact
    * boundary rows (the last order tuple of each bucket) are collected by
    * position, and the assignment is a map-side lexicographic comparison
    * against those broadcast literals.
    *
    * Motivation (r19 verdict item 6 / guide §2.3–2.4): event_rfm chained
    * three ntiles that each range-shuffled and checkpointed the
    * progressively wider user frame and joined per-partition offsets
    * back. With boundaries, the three quartile columns are plain
    * projections over one pinned frame — per ntile the shuffle carries
    * only the order columns and nothing joins back.
    *
    * Requirements (same as [[distPos]]): the order must be a TOTAL
    * order (tie-break key), so "row sorts strictly after boundary k" is
    * exactly "global position > boundary position". Null order values
    * are handled with Spark's default null placement (asc = nulls first,
    * desc = nulls last). The caller should pin `df` if its lineage is
    * expensive — the frame is traversed once per ntile for the boundary
    * pass plus once by the final consumer. */
  def ntileByBoundaries(df: DataFrame, buckets: Int, out: String,
      order: Column*): DataFrame =
    df.withColumn(out, ntileBucketCol(df, buckets, order: _*))

  /** The bucket expression behind [[ntileByBoundaries]]: runs the
    * boundary jobs EAGERLY — [[rankScan]] positions the narrow projection
    * of the order columns (its census total is the row count), then one
    * job collects the buckets-1 boundary rows by position — and returns
    * the map-side assignment Column. Exposed so callers with several
    * independent ntiles over one pinned frame can overlap the boundary
    * jobs from driver threads (guide §2.6 — Spark's scheduler runs
    * concurrent jobs; the assignment columns are then plain projections
    * composed on the calling thread). */
  def ntileBucketCol(df: DataFrame, buckets: Int,
      order: Column*): Column = {
    import org.apache.spark.sql.graftcol.NativeColumn
    // split each order Column into (value column, ascending?)
    val parsed: Seq[(Column, Boolean)] = order.map(NativeColumn.sortOrder)
    val oNames = parsed.indices.map(i => s"__o$i")
    val sortCols = parsed.zip(oNames).map { case ((_, asc), n) =>
      if (asc) col(n).asc else col(n).desc }
    val (ranked, n) = rankScan(
      df.select(parsed.zip(oNames).map { case ((c, _), o) => c.as(o) }: _*),
      "__p", sortCols, base = -1L)(_ => 1L)
    val q = n / buckets
    val r = n % buckets
    // last 0-based global position of bucket k (k = 1..buckets-1) under
    // the standard ntile split (first n%B buckets take q+1 rows).
    // q == 0 → each row its own bucket.
    val boundPos: Seq[Long] = (1 until buckets).map { k =>
      if (q == 0L) k - 1L
      else if (k <= r) k.toLong * (q + 1) - 1
      else r * (q + 1) + (k - r).toLong * q - 1
    }.filter(p => p >= 0 && p < n)
    // boundary rows in position order; each carries its `__p` last, which
    // sortsAfter never reads
    val bRows: Seq[org.apache.spark.sql.Row] =
      if (boundPos.isEmpty) Seq.empty
      else ranked.filter(col("__p").isin(boundPos: _*)).collect()
        .sortBy(_.getLong(parsed.size)).toSeq
    // bucket = 1 + #(boundaries this row sorts strictly after); under a
    // total order that equals 1 + #(boundary positions < row position),
    // which is exactly the ntile bucket.
    def sortsAfter(b: org.apache.spark.sql.Row): Column =
      parsed.zipWithIndex.map { case ((c, asc), i) =>
        val v = b.get(i)
        val eq = if (v == null) c.isNull else c <=> lit(v)
        // strictly-after under Spark's default null placement:
        // asc_nulls_first → anything non-null is after null;
        // desc_nulls_last → null is after anything non-null
        val gt =
          if (v == null) { if (asc) c.isNotNull else lit(false) }
          else if (asc) c > lit(v)
          else c.isNull || c < lit(v)
        (gt, eq)
      }.foldRight(lit(false): Column) {
        case ((gt, eq), rest) => gt || (eq && rest)
      }
    val bucket = bRows.foldLeft(lit(1): Column) { (acc, b) =>
      acc + when(sortsAfter(b), 1).otherwise(0) }
    bucket.cast("long")
  }

  /** Distributed exact global position: SQL-identical to
    * `row_number() OVER (ORDER BY order...) - 1` with no single-partition
    * sort — [[rankScan]] with weight 1 from base −1, so each row gets
    * `offset(partition) + local index`. The order must be a total order. */
  def distPos(df: DataFrame, out: String, order: Column*): DataFrame =
    rankScan(df, out, order, base = -1L)(_ => 1L)._1

  /** Distributed exact INCLUSIVE prefix sum of a LONG weight column over
    * a total order, with no single-partition window: [[rankScan]] with
    * the weight as the per-row weight from base 0. Also returns the grand
    * total of the weights.
    *
    * A null weight contributes 0. That equals `sum(w) OVER (ORDER BY
    * order ROWS UNBOUNDED PRECEDING)` on every row except those whose
    * weights so far are all null: the window sum is NULL there, while
    * this reads 0. The order must be a total order. */
  private[graft] def distPrefixSumWithTotal(df: DataFrame, weight: String,
      out: String, order: Column*): (DataFrame, Long) = {
    val wOrd = df.schema.fieldIndex(weight)
    require(df.schema(wOrd).dataType == LongType,
      s"distPrefixSum needs a LONG weight, got ${df.schema(wOrd).dataType}")
    rankScan(df, out, order, base = 0L) { r =>
      if (r.isNullAt(wOrd)) 0L else r.getLong(wOrd) }
  }

  /** [[distPrefixSumWithTotal]] without the total. */
  def distPrefixSum(df: DataFrame, weight: String, out: String,
      order: Column*): DataFrame =
    distPrefixSumWithTotal(df, weight, out, order: _*)._1

  /** The one content-representative election behind the dedup family
    * (MinHash-LSH, SimHash, n-gram Jaccard, containment, embedding and
    * semantic dedup): rows with equal content collapse to ONE
    * representative, so signatures, banding and verification run on
    * distinct content only and exact copies ride their representative.
    *
    * `keyed` holds the member id, the content key `key` (a content hash,
    * or the content itself) and any columns the representatives carry.
    * It is computed once and pinned with `rep` = `min(id)` over its key
    * (null for a null key, which elects nothing and pairs with nothing).
    * Rep content comes off that pin, or, when `content` is given
    * (id → content columns, e.g. the text), is read again for the
    * representatives only, so it never rides the pin. The signature
    * columns that `sign` returns (it gets the pinned members, for driver
    * state such as seeds) are folded once per representative and pinned
    * once; re-read content feeds them and is then dropped.
    *
    * Returns the pinned `members` (id, key, rep), one row per keyed row,
    * and the pinned `reps` (rep, key, carried columns..., signatures...). */
  private[graft] def contentReps(keyed: DataFrame, id: String, key: String,
      content: Option[DataFrame] = None)(
      sign: DataFrame => Seq[Column]): (DataFrame, DataFrame) = {
    val pinned = keyed.withColumn("rep", when(col(key).isNotNull,
        min(id).over(org.apache.spark.sql.expressions.Window.partitionBy(key))))
      .localCheckpoint()
    val carried = keyed.columns.filterNot(Set(id, key)).toSeq
    val kept = Seq("rep", key) ++ (if (content.isEmpty) carried else Nil)
    val repRows = pinned.filter(col(id) === col("rep"))
    val withContent = content.fold(repRows)(c =>
      repRows.select("rep", key).join(c.withColumnRenamed(id, "rep"), "rep"))
    val reps = withContent.select(kept.map(col) ++ sign(pinned): _*)
      .localCheckpoint()
    (pinned.select(id, key, "rep"), reps)
  }

  /** The full pair set behind representative pairs: `repPairs`
    * (r1, r2, measures...) expands to every member pair across the two
    * groups, and every pair inside one group takes its representative's
    * row of `within` (rep, measures...). Returns (`lo`, `hi`,
    * measures...) with `lo` < `hi` the member ids. Keyed on `rep`, which
    * is 1:1 with the content key. */
  private[graft] def expandRepPairs(members: DataFrame, id: String,
      repPairs: DataFrame, within: DataFrame,
      lo: String, hi: String): DataFrame = {
    val measures = repPairs.columns.filterNot(Set("r1", "r2")).toSeq.map(col)
    def side(r: String, m: String) =
      members.select(col("rep").as(r), col(id).as(m))
    val cross = repPairs.join(side("r1", "__m1"), "r1")
      .join(side("r2", "__m2"), "r2")
      .select(least(col("__m1"), col("__m2")).as(lo) +:
        greatest(col("__m1"), col("__m2")).as(hi) +: measures: _*)
    val inGroup = side("rep", lo).join(side("rep", hi), "rep")
      .filter(col(lo) < col(hi))
      .join(within, "rep")
      .select(col(lo) +: col(hi) +: measures: _*)
    cross.unionByName(inGroup)
  }

  /** Track which RDDs `body` pins (cache/localCheckpoint). A pinned
    * Dataset gives no handle to its persisted RDD, so `unpersist()` on it
    * frees nothing; iterative ops release superseded snapshots by these
    * ids instead. */
  private[graft] def pinnedIds(s: SparkSession)(
      body: => DataFrame): (DataFrame, Set[Int]) = {
    val pre = s.sparkContext.getPersistentRDDs.keySet.toSet
    val df = body
    (df, s.sparkContext.getPersistentRDDs.keySet.toSet -- pre)
  }
  private[graft] def release(s: SparkSession, ids: Set[Int]): Unit = ids.foreach(id =>
    s.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))

  /** How an [[iterate]] loop stops. `measure` is each round's one action:
    * it reads every partition of the round's lazy pin, so it materializes
    * the pin too. `done` sees the round, the previous measure and this
    * one; a loop not done after `cap` rounds fails. */
  private[graft] final case class Stop[T](cap: Int,
      measure: DataFrame => T, done: (Int, Option[T], T) => Boolean)
  /** Exactly `n` rounds. */
  private[graft] def rounds(n: Int): Stop[Long] = Stop[Long](n, rowCount, (k, _, _) => k == n)
  /** Until `scalar` returns what it returned for the round before. */
  private[graft] def fixpoint[T](cap: Int)(scalar: DataFrame => T): Stop[T] =
    Stop[T](cap, scalar, (_, last, cur) => last.contains(cur))

  /** The RDD behind a lazy `localCheckpoint`: an action on it materializes
    * the pin in one job, with no query to plan. */
  private[graft] def pinRdd(pin: DataFrame): org.apache.spark.rdd.RDD[InternalRow] =
    pin.queryExecution.logical.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
  private[graft] def rowCount(pin: DataFrame): Long = pinRdd(pin).count()

  /** The one round loop behind every iterated op (the reference's
    * recursive-query node). Round 0 pins `init`; round k pins
    * `step(round k-1)`. Each pin is a lazy `localCheckpoint` that the
    * stop rule's action materializes, so a round runs no separate pin
    * job. Once a round is measured, the round before it and any pins its
    * step made are released; `inputs`, the loop's own pins, are released
    * when the loop ends, since the result reads only the last round. Past
    * the cap it throws, naming `op` and the round, with every pin it holds
    * released. Each round's jobs carry the description `op|round|k`; the
    * job group is the caller's. */
  private[graft] def iterate[T](s: SparkSession, op: String, init: DataFrame,
      inputs: Set[Int], stop: Stop[T])(step: DataFrame => DataFrame): DataFrame = {
    val sc = s.sparkContext
    val desc = sc.getLocalProperty("spark.job.description")
    val pre = sc.getPersistentRDDs.keySet.toSet
    def round(k: Int, frame: => DataFrame) = {
      sc.setJobDescription(s"$op|round|$k")
      val (out, stepIds) = pinnedIds(s)(frame)
      val (pin, pinIds) = pinnedIds(s)(out.localCheckpoint(eager = false))
      (pin, pinIds, stepIds, stop.measure(pin))
    }
    try {
      var (cur, curIds, _, v) = round(0, init)
      var last = Option.empty[T]
      var k = 0
      while (!stop.done(k, last, v)) {
        if (k == stop.cap)
          throw new IllegalStateException(
            s"$op did not stop by round $k, its cap of ${stop.cap} rounds")
        k += 1
        val (next, nextIds, stepIds, nv) = round(k, step(cur))
        release(s, curIds ++ stepIds)
        cur = next; curIds = nextIds; last = Some(v); v = nv
      }
      release(s, inputs)
      cur
    } catch { case e: Throwable =>
      release(s, inputs ++ (sc.getPersistentRDDs.keySet.toSet -- pre)); throw e
    }
    finally sc.setJobDescription(desc)
  }

  /** Most edges [[components]] collects to solve on the driver: 2²¹.
    * Driver memory at the cap: the typed `(Long, Long)` collect holds 2²¹
    * Tuple2 cells (~32–130 MB depending on boxing; no Row layer), and the
    * union-find holds at most 2·2²¹ ≈ 4.2M entries in two parallel
    * `long[]` arrays (2²³ slots at ≤ 0.5 load), ~143 MB flat. The
    * transient peak, ≲ 300 MB, is the class of Spark's own small-side
    * broadcast, paid only after an exact count has shown the edges fit;
    * it scales linearly with the cap (a 2³⁰ cap would need ~32 GB).
    * Over the cap nothing is collected. */
  private[graft] val ComponentsDriverCap: Long = 1L << 21

  /** The one connected-components solve (the reference's recursive-query
    * fixpoint). `edges` holds two LONG columns, the endpoints of each
    * edge in either direction. Returns one (node, label) row per endpoint,
    * `label` being the minimum node id of its component.
    *
    * The edges are pinned once and counted. Up to [[ComponentsDriverCap]]
    * they are collected and solved by [[componentsDriver]], which saves
    * the distributed fixpoint's per-round stage launches; over the cap
    * [[componentsDistributed]] runs against the same pin. Both paths
    * return the same rows. */
  private[graft] def components(s: SparkSession, edges: DataFrame): DataFrame = {
    val (pinned, ids) = pinnedIds(s)(edges.toDF("u", "v").localCheckpoint())
    val labels =
      if (pinned.count() <= ComponentsDriverCap) {
        implicit val enc = org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong)
        s.createDataFrame(componentsDriver(pinned.as[(Long, Long)].collect()))
          .toDF("node", "label")
      } else componentsDistributed(s, pinned)
    release(s, ids) // both paths' labels are past the pin
    labels
  }

  /** Driver union-find, union-by-min-root so every tree's root is its
    * component's minimum id; path-compressed, O(edges · α). Returns one
    * (node, label) pair per endpoint. */
  private[graft] def componentsDriver(
      pairs: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new LongLongOpenMap(math.max(16, pairs.length * 2))
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent.put(c, r); c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      if (!parent.contains(a)) parent.put(a, a)
      if (!parent.contains(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      // attach the larger root under the smaller: roots stay minima
      if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
    }
    parent.keysIterator.map(x => (x, find(x))).toSeq
  }

  /** Distributed min-label fixpoint, (node, label) rows as
    * [[componentsDriver]]'s, on the [[iterate]] core. Each round takes the
    * minimum label over a node's neighbours, then jumps once (label ← the
    * label of its label; every label is itself a node id, so the self-join
    * is total), so a label travels 2^round hops and a path of diameter D
    * converges in O(log D) rounds. Labels never rise, so Σlabel strictly
    * falls until the fixpoint: the sum is the stop rule, capped at 25
    * rounds, and the action that materializes each round's pin. It is
    * summed as a BigInt, since a long sum overflows at node-id × count
    * scale and a wrapped sum could stall early. */
  private[graft] def componentsDistributed(
      s: SparkSession, edges: DataFrame): DataFrame = {
    val e = edges.toDF("u", "v")
    val adj = e.union(e.select(col("v"), col("u")))
    def labelSum(df: DataFrame): BigInt = pinRdd(df).aggregate(BigInt(0))(
      (acc, r) => if (r.isNullAt(1)) acc else acc + r.getLong(1), _ + _) // (node, label)
    def lower(other: String): Column =
      least(col("label"), coalesce(col(other), col("label"))).as("label")
    iterate(s, "components", adj.select(col("u").as("node"), col("u").as("label"))
        .distinct(), Set.empty, fixpoint(25)(labelSum)) { lbl =>
      val nbr = adj.join(lbl.withColumnRenamed("node", "u"), "u")
        .groupBy(col("v").as("node")).agg(min("label").as("nl"))
      // pinned because the jump reads it twice (self-join)
      val prop = lbl.join(nbr, Seq("node"), "left")
        .select(col("node"), lower("nl")).localCheckpoint()
      prop.join(prop.select(col("node").as("label"), col("label").as("jl")),
          Seq("label"), "left")
        .select(col("node"), lower("jl"))
    }
  }

  /** Primitive long→long open-addressing map (linear probing,
    * power-of-two capacity, grow at 0.7 load) for [[componentsDriver]]:
    * two flat `long[]` plus a `boolean[]` occupancy lane, no per-entry
    * node or boxing. */
  private[graft] final class LongLongOpenMap(expected: Int) {
    // `expected * 2 - 1` overflows Int at expected ≥ 2^30, which would
    // yield a negative/zero capacity and corrupt the probe mask. Today's
    // ComponentsDriverCap (2^21 edges → expected ≤ 2^22) is nowhere
    // near; a future bump past 2^29 fails loudly here instead.
    require(expected >= 0 && expected <= (1 << 29),
      s"LongLongOpenMap expected size $expected exceeds 2^29 (capacity math overflows Int)")
    private var cap = java.lang.Integer.highestOneBit(
      math.max(16, expected) * 2 - 1) << 1
    private var keys = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var n = 0
    private def slot(k: Long): Int = {
      var h = k * -7046029254386353131L // splitmix64 finalizer multiplier
      h ^= (h >>> 32)
      var i = h.toInt & (cap - 1)
      while (used(i) && keys(i) != k) i = (i + 1) & (cap - 1)
      i
    }
    def contains(k: Long): Boolean = used(slot(k))
    /** Value for a present key; the union-find only reads keys it has put. */
    def apply(k: Long): Long = {
      val i = slot(k)
      if (!used(i)) throw new NoSuchElementException(s"key $k")
      vals(i)
    }
    def put(k: Long, v: Long): Unit = {
      val i = slot(k)
      if (!used(i)) {
        used(i) = true; keys(i) = k; n += 1
        if (n.toLong * 10 > cap.toLong * 7) grow()
      }
      vals(slot(k)) = v // re-probe: grow() may have moved the slot
    }
    private def grow(): Unit = {
      val (ok, ov, ou) = (keys, vals, used)
      cap <<= 1
      keys = new Array[Long](cap); vals = new Array[Long](cap)
      used = new Array[Boolean](cap)
      var i = 0
      while (i < ok.length) {
        if (ou(i)) { val j = slot(ok(i)); used(j) = true; keys(j) = ok(i); vals(j) = ov(i) }
        i += 1
      }
    }
    def keysIterator: Iterator[Long] = {
      val (ks, u) = (keys, used) // no implicit Array→Seq copy
      (0 until cap).iterator.filter(u(_)).map(ks(_))
    }
  }

  // --- DuckDB oracle SQL fragments mirroring the helpers above ---
  def DSUM(e: String): String =
    s"CAST(sum(CAST(($e) AS DECIMAL(30,6))) AS DOUBLE)"
  def DAVG(e: String): String =
    s"CAST(sum(CAST(($e) AS DECIMAL(30,6))) AS DOUBLE) / count($e)"

  /** 60-bit hash lane from the first 15 hex chars of md5 — deliberately
    * expressible in BOTH engines (Spark `conv(substr(md5,…),16,10)`,
    * DuckDB `('0x' || substr(md5,…))::BIGINT`), so the hash-based
    * operators get full DuckDB oracles instead of rows-only checks. */
  def md5Lane(sparkExpr: String): String =
    s"cast(conv(substring(md5($sparkExpr), 1, 15), 16, 10) as bigint)"
  def md5LaneDuck(duckExpr: String): String =
    s"(('0x' || substr(md5($duckExpr), 1, 15))::BIGINT)"

  // Native codegen'd dot/norm (round 14): the same sequential fold as
  // aggregate(zip_with(a, b, x*y), 0.0, acc+v) (acc += a[i]*b[i], one
  // generated loop — the HOF interprets ~2·d closures per row), so every
  // cosine and the DuckDB oracles are bit-unchanged. norm2 = sqrt(dot(a,
  // a)) is the exact Σx² fold. ASSUMES non-null elements and equal
  // lengths (true of this corpus's fixed-dim embeddings, and what the
  // oracle's list_inner_product assumes too): the kernel reads a null
  // slot as 0.0 and THROWS on a length mismatch, where the HOF
  // null-propagated / null-padded.
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftcol.NativeColumn.column(
      graft.functions.InnerProduct(
        org.apache.spark.sql.graftcol.NativeColumn.expression(a),
        org.apache.spark.sql.graftcol.NativeColumn.expression(b)))
  def norm2(a: Column): Column = sqrt(dot(a, a))
}
