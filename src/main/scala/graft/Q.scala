package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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

  /** Per-partition row counts by partition index — ONE no-shuffle job
    * over the internal-row iterators. Replaces the
    * `groupBy(spark_partition_id())` census, which paid a hash Exchange
    * of the whole frame just to count partition sizes (round 20; the
    * r19 StageProbe rows show that exchange on every census). The input
    * must be pinned (localCheckpoint) when the caller reads it again:
    * range shuffles re-sample boundaries on re-evaluation. */
  private[graft] def partitionSizes(df: DataFrame): Array[Long] =
    org.apache.spark.sql.graftcol.NativeFrame.toInternalRdd(df)
      .mapPartitionsWithIndex { (i, it) =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator((i, n))
      }.collect().sortBy(_._1).map(_._2)

  /** Range-partition width for the exact-rank topology: follows the
    * session's shuffle parallelism so the same code is the plan at any
    * scale (a fixed literal would cap the sort's parallelism at 100×).
    * The emitted positions are exact, hence partition-count independent. */
  private[graft] def rangeParts(df: DataFrame): Int = math.max(1,
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  /** Distributed exact ntile via broadcast boundary rows — SQL-identical
    * buckets to `ntile(buckets) OVER (ORDER BY order...)` with no
    * single-partition global sort, and the frame being bucketed NEVER
    * shuffles: only a narrow projection of the order columns goes
    * through the range shuffle, the buckets-1 exact boundary rows (the
    * last order tuple of each bucket) are collected, and the assignment
    * is a map-side lexicographic comparison against those broadcast
    * literals.
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
    * boundary jobs (narrow range shuffle + census + boundary picks)
    * EAGERLY and returns the map-side assignment Column. Exposed so
    * callers with several independent ntiles over one pinned frame can
    * overlap the boundary jobs from driver threads (guide §2.6 —
    * Spark's scheduler runs concurrent jobs; the assignment columns are
    * then plain projections composed on the calling thread). */
  def ntileBucketCol(df: DataFrame, buckets: Int,
      order: Column*): Column = {
    import org.apache.spark.sql.graftcol.NativeColumn
    // split each order Column into (value column, ascending?)
    val parsed: Seq[(Column, Boolean)] = order.map(NativeColumn.sortOrder)
    val oNames = parsed.indices.map(i => s"__o$i")
    val sortCols = parsed.zip(oNames).map { case ((_, asc), n) =>
      if (asc) col(n).asc else col(n).desc }
    val keyed = df
      .select(parsed.zip(oNames).map { case ((c, _), n) => c.as(n) }: _*)
      .repartitionByRange(rangeParts(df), sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      // consumed twice (size census + boundary extraction): pin it
      .localCheckpoint()
    val sizes = partitionSizes(keyed)
    val offsets = sizes.scanLeft(0L)(_ + _)
    val n = sizes.sum
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
    // pick the boundary rows straight off the checkpoint's sorted
    // iterators — (partition, local index) is known from the census, so
    // this is one no-shuffle job emitting buckets-1 rows (the previous
    // formulation ranked the frame through a Window.partitionBy(__pid),
    // which paid a full extra Exchange — see [[distPos]])
    val bRows: Seq[org.apache.spark.sql.Row] = if (boundPos.isEmpty) Seq.empty
    else {
      val byPid: Map[Int, Seq[(Long, Long)]] = boundPos.map { p =>
        var i = 0
        while (i + 1 < offsets.length - 1 && offsets(i + 1) <= p) i += 1
        (i, (p, p - offsets(i)))
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val picked = org.apache.spark.sql.graftcol.NativeFrame
        .toInternalRdd(keyed).mapPartitionsWithIndex { (i, it) =>
          byPid.get(i) match {
            case None => Iterator.empty
            case Some(want) =>
              val targets = want.sortBy(_._2).iterator
              val out = Seq.newBuilder[(Long, org.apache.spark.sql.catalyst.InternalRow)]
              var cur = if (targets.hasNext) targets.next() else null
              var li = -1L
              while (cur != null && it.hasNext) {
                val row = it.next(); li += 1
                if (li == cur._2) {
                  out += ((cur._1, row.copy()))
                  cur = if (targets.hasNext) targets.next() else null
                }
              }
              out.result().iterator
          }
        }.collect()
      val conv = org.apache.spark.sql.graftcol.NativeFrame
        .toScalaRow(keyed.schema)
      picked.sortBy(_._1).map(p => conv(p._2)).toSeq
    }
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
    * sort. Topology (round 20): range shuffle on the order key →
    * localCheckpoint pin → single-job partition-size census
    * ([[partitionSizes]]) → ONE mapPartitions pass appending
    * `offset(partition) + local index` straight off the checkpoint's
    * sorted iterators. The previous formulation ranked via
    * `Window.partitionBy(spark_partition_id())` + a broadcast offset
    * join — which LOOKED parallel but paid a full extra Exchange (the
    * checkpoint scan reports UnknownPartitioning, so the window
    * re-shuffled the whole frame by `__pid`) plus a census exchange; the
    * r19/r20 StageProbe rows show both. The order must be a total order. */
  def distPos(df: DataFrame, out: String, order: Column*): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    import org.apache.spark.sql.graftcol.NativeFrame
    val spark = df.sparkSession
    val keyed = df
      .repartitionByRange(rangeParts(df), order: _*)
      .sortWithinPartitions(order: _*)
      // consumed twice (size census + position pass): pin partition
      // contents — range shuffles re-sample boundaries on re-evaluation
      .localCheckpoint()
    val offsets = partitionSizes(keyed).scanLeft(0L)(_ + _)
    val schema = StructType(keyed.schema.fields :+
      StructField(out, LongType, nullable = false))
    val rdd = NativeFrame.toInternalRdd(keyed).mapPartitionsWithIndex {
      (i, it) =>
        var pos = offsets(i) - 1
        val tail = new GenericInternalRow(1)
        val joined = new JoinedRow
        // rows may be reused by the scan; the joined view is consumed
        // row-at-a-time downstream (any buffering operator copies), the
        // same contract every InternalRow scan has
        it.map { r =>
          pos += 1; tail.update(0, pos)
          joined(r, tail): org.apache.spark.sql.catalyst.InternalRow
        }
    }
    NativeFrame.internalCreate(spark, rdd, schema)
  }

  /** Distributed exact INCLUSIVE prefix sum of a LONG weight column over
    * a total order — `sum(w) OVER (ORDER BY order ROWS UNBOUNDED
    * PRECEDING)` with no single-partition window and (round 20) no
    * hidden re-shuffle: range shuffle on the order key → localCheckpoint
    * pin → one no-shuffle job summing each partition's weights → one
    * mapPartitions pass emitting `offset(partition) + running sum`
    * straight off the pinned sorted iterators (the same machinery as
    * [[distPos]]). Null weights contribute 0, matching window-sum
    * semantics. Also returns the grand total (= the last offset), which
    * callers previously recomputed with a separate aggregate over the
    * pin. The order must be a total order. */
  private[graft] def distPrefixSumWithTotal(df: DataFrame, weight: String,
      out: String, order: Column*): (DataFrame, Long) = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    import org.apache.spark.sql.graftcol.NativeFrame
    val spark = df.sparkSession
    val keyed = df
      .repartitionByRange(rangeParts(df), order: _*)
      .sortWithinPartitions(order: _*)
      // consumed twice (weight census + prefix pass): pin the shuffle
      .localCheckpoint()
    val wOrd = keyed.schema.fieldIndex(weight)
    require(keyed.schema(wOrd).dataType == LongType,
      s"distPrefixSum needs a LONG weight, got ${keyed.schema(wOrd).dataType}")
    val psums = NativeFrame.toInternalRdd(keyed).mapPartitionsWithIndex {
      (i, it) =>
        var s = 0L
        while (it.hasNext) {
          val r = it.next(); if (!r.isNullAt(wOrd)) s += r.getLong(wOrd)
        }
        Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = psums.scanLeft(0L)(_ + _)
    val schema = StructType(keyed.schema.fields :+
      StructField(out, LongType, nullable = false))
    val rdd = NativeFrame.toInternalRdd(keyed).mapPartitionsWithIndex {
      (i, it) =>
        var run = offsets(i)
        val tail = new GenericInternalRow(1)
        val joined = new JoinedRow
        it.map { r =>
          if (!r.isNullAt(wOrd)) run += r.getLong(wOrd)
          tail.update(0, run)
          joined(r, tail): org.apache.spark.sql.catalyst.InternalRow
        }
    }
    (NativeFrame.internalCreate(spark, rdd, schema), offsets.last)
  }

  /** [[distPrefixSumWithTotal]] without the total. */
  def distPrefixSum(df: DataFrame, weight: String, out: String,
      order: Column*): DataFrame =
    distPrefixSumWithTotal(df, weight, out, order: _*)._1

  // --- DuckDB oracle SQL fragments mirroring the helpers above ---
  def DSUM(e: String): String =
    s"CAST(sum(CAST(($e) AS DECIMAL(30,6))) AS DOUBLE)"
  def DAVG(e: String): String =
    s"CAST(sum(CAST(($e) AS DECIMAL(30,6))) AS DOUBLE) / count($e)"
}
