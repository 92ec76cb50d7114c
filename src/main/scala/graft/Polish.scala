package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import Q._

/** Round-11 additions: content-defined-chunking dedup, the
  * l-diversity / t-closeness privacy audits, changepoint detection,
  * Jarque-Bera normality, Kruskal-Wallis, Dickey-Fuller stationarity,
  * Hurst exponent, RAKE keywords, MATTR lexical diversity, local
  * clustering coefficients, embedding isotropy, and the ORC scan
  * round-trip. All fully DuckDB-oracle-checked. */
object Polish {

  // ---------- content-defined chunking dedup ----------

  /** Rolling-hash parameters shared verbatim by the Spark plan and the
    * DuckDB oracle: window 8 chars, base-257 polynomial mod 1e9+7,
    * boundary where the window hash ≡ 0 (mod 64) → expected ~64-char
    * chunks at the test corpus (production tunes the mask up for KB/MB
    * chunks with the identical plan). Powers precomputed so the hash is
    * one 8-term linear expression — no per-position fold. */
  // single-sourced from the codegen'd scanner so the oracle SQL and the
  // generated JVM loop can never drift
  private val CdcWin = graft.functions.CdcBoundaries.Win
  private val CdcP = graft.functions.CdcBoundaries.P
  private val CdcMask = graft.functions.CdcBoundaries.Mask
  private val CdcPow: IndexedSeq[Long] =
    graft.functions.CdcBoundaries.Pow.toIndexedSeq

  /** Content-defined-chunking dedup (the LBFS/rsync/backup-storage
    * recipe, here over text): chunk boundaries are set by CONTENT (the
    * rolling hash), not offsets, so an insertion early in a near-copy
    * shifts every byte yet leaves later chunk digests identical — the
    * property fixed-size chunking (mm_chunk_manifest) lacks. Per doc:
    * chunk count, how many chunks' content first appeared in an EARLIER
    * doc, the duplicated character volume, and the dup fraction — the
    * "storage actually saved by dedup" accounting at ingest.
    *
    * Scale shape: chars → window hashes → boundaries → chunks are all
    * per-row expression work (one O(8·len) pass, no UDF); accounting
    * reduces to a (doc, digest)-level table, one digest-keyed join of
    * two REDUCED tables (first-doc table is digest-bounded), one
    * doc-keyed reduce. No corpus-scale join-back. */
  def dedupCdcChunks(s: SparkSession, d: String): DataFrame = {
    graft.functions.CdcBoundaries.register(s)
    val chunks = t(s, d, "documents")
      .filter(length(col("text")) > 0)
      // boundary END positions from the codegen'd scanner
      // ([[graft.functions.CdcBoundaries]]): one tight generated loop
      // per document instead of ~8·len interpreted lambda evaluations
      .select(col("doc_id"), col("text"),
        graft.functions.CdcBoundaries.cdc_boundaries(col("text")).as("bs"))
      // spans: consecutive boundary pairs (0 and len added); a trailing
      // boundary at len yields an empty span, dropped by the filter
      .select(col("doc_id"), col("text"), expr(
        """filter(zip_with(
          |    concat(array(0L), bs),
          |    concat(bs, array(cast(length(text) as bigint))),
          |    (a, b) -> named_struct('st', a, 'en', b)),
          |  p -> p.en > p.st)""".stripMargin).as("spans"))
      .select(col("doc_id"),
        posexplode(expr(
          "transform(spans, p -> substring(text, cast(p.st + 1 as int), cast(p.en - p.st as int)))"))
          .as(Seq("idx", "chunk")))
      .select(col("doc_id"), col("idx").cast("long").as("idx"),
        length(col("chunk")).cast("long").as("clen"),
        md5(col("chunk").cast("binary")).as("digest"))
    val perDocDigest = chunks.groupBy("doc_id", "digest")
      .agg(count(lit(1)).as("cnt"), sum("clen").as("chars"))
    val firstDoc = perDocDigest.groupBy("digest")
      .agg(min("doc_id").as("fd"))
    perDocDigest.join(firstDoc, "digest")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_chunks"),
        sum(when(col("doc_id") > col("fd"), col("cnt")).otherwise(0L))
          .as("n_dup"),
        sum(when(col("doc_id") > col("fd"), col("chars")).otherwise(0L))
          .as("dup_chars"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_chunks"), 6))
      .orderBy("doc_id")
  }
  val dedupCdcChunksSql: String = {
    val hTerms = (0 until CdcWin)
      .map(j => s"cs[i + $j] * ${CdcPow(CdcWin - 1 - j)}")
      .mkString(" + ")
    raw"""WITH c0 AS (SELECT doc_id, text,
         |    list_transform(generate_series(1, length(text)),
         |      i -> CAST(unicode(text[i]) AS BIGINT)) AS cs
         |  FROM documents WHERE length(text) > 0),
         |b0 AS (SELECT doc_id, text,
         |    list_transform(list_filter(
         |      list_transform(list_filter(
         |          generate_series(1, greatest(len(cs) - ${CdcWin - 1}, 1)),
         |          i -> i <= len(cs) - ${CdcWin - 1}),
         |        i -> {'e': i + ${CdcWin - 1}, 'h': ($hTerms) % $CdcP}),
         |      w -> w.h % $CdcMask = 0), w -> w.e) AS bs
         |  FROM c0),
         |sp AS (SELECT doc_id, text,
         |    list_zip(list_prepend(0, bs),
         |             list_append(bs, length(text))) AS spans
         |  FROM b0),
         |ch AS (SELECT doc_id,
         |    substring(text, CAST(struct_extract(p, 1) + 1 AS INT),
         |      CAST(struct_extract(p, 2) - struct_extract(p, 1) AS INT)) AS chunk
         |  FROM sp, unnest(spans) AS t(p)
         |  WHERE struct_extract(p, 2) > struct_extract(p, 1)),
         |cd AS (SELECT doc_id, md5(chunk) AS digest,
         |    CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(length(chunk)) AS BIGINT) AS chars
         |  FROM ch GROUP BY doc_id, md5(chunk)),
         |fd AS (SELECT digest, min(doc_id) AS fd FROM cd GROUP BY digest)
         |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN doc_id > fd.fd THEN cnt ELSE 0 END) AS BIGINT)
         |    AS n_dup,
         |  CAST(sum(CASE WHEN doc_id > fd.fd THEN chars ELSE 0 END) AS BIGINT)
         |    AS dup_chars,
         |  round(CAST(sum(CASE WHEN doc_id > fd.fd THEN cnt ELSE 0 END)
         |    AS DOUBLE) / sum(cnt), 6) AS dup_frac
         |FROM cd JOIN fd USING (digest) GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
  }

  // ---------- l-diversity privacy audit ----------

  private val DivL = 5

  /** l-diversity — the companion audit to [[Refine.privacyKAnonymity]]:
    * a quasi-identifier group can be k-anonymous yet leak everything if
    * all its members share one sensitive value. QI = (event_type,
    * hour-of-day); sensitive attribute = user cohort (user_id mod 100 —
    * a stand-in for any categorical payload). Emits per-group size,
    * distinct-sensitive-value count l, and the l ≥ $DivL verdict. One
    * keyed aggregation to a 5×24-bounded table. */
  def privacyLDiversity(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(col("event_type"), hour(col("ts")).cast("long").as("hr"),
        pmod(col("user_id"), lit(100L)).as("cohort"))
      .groupBy("event_type", "hr")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("cohort")).as("l"))
      .withColumn("diverse", col("l") >= DivL)
      .orderBy("event_type", "hr")
  val privacyLDiversitySql: String =
    s"""SELECT event_type,
       |  CAST(date_part('hour', ts) AS BIGINT) AS hr,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(count(DISTINCT user_id % 100) AS BIGINT) AS l,
       |  count(DISTINCT user_id % 100) >= $DivL AS diverse
       |FROM events GROUP BY event_type, date_part('hour', ts)
       |ORDER BY event_type, hr""".stripMargin

  // ---------- CUSUM changepoint ----------

  /** Single most-likely changepoint in the daily event-count series —
    * the argmax of the centered cumulative sum (the offline CUSUM
    * estimator): where |Σ(yₜ − ȳ)| peaks, the mean shifted. Emits the
    * day, the peak deviation, and the pre/post means. The series table
    * is calendar-bounded, so the unpartitioned ranking window is safe
    * by construction; the cumulative sum is exact (integer cumsum minus
    * t·ȳ — no sequential double accumulation). */
  def eventChangepoint(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .localCheckpoint() // calendar-bounded
    val byDay = Window.orderBy("day")
    val tot = daily.agg(sum("y").as("tot"), count(lit(1)).as("nd"))
    val cum = daily
      .withColumn("cy", sum("y").over(
        byDay.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("t", row_number().over(byDay).cast("long"))
      .crossJoin(broadcast(tot))
      .withColumn("s_dev",
        col("cy").cast("double")
          - col("t").cast("double") * col("tot") / col("nd"))
    val pick = Window.orderBy(abs(col("s_dev")).desc, col("day"))
    cum.withColumn("rk", row_number().over(pick)).filter(col("rk") === 1)
      .select(col("day").as("cp_day"),
        round(col("s_dev"), 6).as("cusum_dev"),
        round(col("cy").cast("double") / col("t"), 6).as("pre_mean"),
        round((col("tot") - col("cy")).cast("double")
          / (col("nd") - col("t")), 6).as("post_mean"),
        round((col("tot") - col("cy")).cast("double") / (col("nd") - col("t"))
          - col("cy").cast("double") / col("t"), 6).as("mean_shift"))
  }
  val eventChangepointSql: String =
    """WITH daily AS (SELECT date_trunc('day', ts) AS day,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY date_trunc('day', ts)),
      |tot AS (SELECT CAST(sum(y) AS BIGINT) AS tot,
      |    CAST(count(*) AS BIGINT) AS nd FROM daily),
      |cum AS (SELECT day, y,
      |    CAST(sum(y) OVER (ORDER BY day
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cy,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
      |  FROM daily),
      |dev AS (SELECT day, cy, t, tot, nd,
      |    CAST(cy AS DOUBLE) - CAST(t AS DOUBLE) * tot / nd AS s_dev
      |  FROM cum CROSS JOIN tot)
      |SELECT day AS cp_day, round(s_dev, 6) AS cusum_dev,
      |  round(CAST(cy AS DOUBLE) / t, 6) AS pre_mean,
      |  round(CAST(tot - cy AS DOUBLE) / (nd - t), 6) AS post_mean,
      |  round(CAST(tot - cy AS DOUBLE) / (nd - t)
      |    - CAST(cy AS DOUBLE) / t, 6) AS mean_shift
      |FROM dev ORDER BY abs(s_dev) DESC, day LIMIT 1""".stripMargin

  // ---------- Jarque-Bera normality test ----------

  /** Jarque-Bera normality statistic per event type over `value` —
    * JB = n/6·(S² + (K−3)²/4) from the first four power sums. Each
    * per-row power is computed in double (deterministic scalar) then
    * decimal-quantized so every sum is aggregation-order-independent;
    * the moment assembly is the same fixed double tree in both engines.
    * One keyed reduce; output is |event_type|-bounded. */
  def statJarqueBera(s: SparkSession, d: String): DataFrame = {
    val x = col("value")
    def dsumPow(c: org.apache.spark.sql.Column) =
      sum(ddec(c, precision = 38, scale = 12)).cast(DoubleType)
    val agg = t(s, d, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        dsumPow(x).as("s1"),
        dsumPow(x * x).as("s2"),
        dsumPow(x * x * x).as("s3"),
        dsumPow(x * x * x * x).as("s4"))
    val n = col("n").cast("double")
    val m = col("s1") / n
    val mu2 = col("s2") / n - m * m
    val mu3 = col("s3") / n - lit(3.0) * m * (col("s2") / n) +
      lit(2.0) * m * m * m
    val mu4 = col("s4") / n - lit(4.0) * m * (col("s3") / n) +
      lit(6.0) * m * m * (col("s2") / n) - lit(3.0) * m * m * m * m
    val sk = mu3 / pow(mu2, 1.5)
    val ku = mu4 / (mu2 * mu2)
    agg.select(col("event_type"), col("n"),
        round(sk, 6).as("skewness"),
        round(ku, 6).as("kurtosis"),
        round(n / lit(6.0)
          * (sk * sk + (ku - lit(3.0)) * (ku - lit(3.0)) / lit(4.0)), 6)
          .as("jb"))
      .orderBy("event_type")
  }
  val statJarqueBeraSql: String =
    """WITH a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
      |    CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2,
      |    CAST(sum(CAST(value * value * value AS DECIMAL(38,12))) AS DOUBLE) AS s3,
      |    CAST(sum(CAST(value * value * value * value AS DECIMAL(38,12))) AS DOUBLE) AS s4
      |  FROM events GROUP BY event_type),
      |m AS (SELECT event_type, n,
      |    s1 / n AS m1, s2 / n AS r2, s3 / n AS r3, s4 / n AS r4
      |  FROM a),
      |mu AS (SELECT event_type, n,
      |    r2 - m1 * m1 AS mu2,
      |    r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS mu3,
      |    r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
      |      - 3.0 * m1 * m1 * m1 * m1 AS mu4
      |  FROM m)
      |SELECT event_type, n,
      |  round(mu3 / pow(mu2, 1.5), 6) AS skewness,
      |  round(mu4 / (mu2 * mu2), 6) AS kurtosis,
      |  round(CAST(n AS DOUBLE) / 6.0
      |    * ((mu3 / pow(mu2, 1.5)) * (mu3 / pow(mu2, 1.5))
      |       + (mu4 / (mu2 * mu2) - 3.0) * (mu4 / (mu2 * mu2) - 3.0) / 4.0),
      |    6) AS jb
      |FROM mu ORDER BY event_type""".stripMargin

  // ---------- ORC scan round-trip ----------

  /** ORC write + read-back (Spark-native columnar format beyond
    * parquet/csv/json/avro/arrow — reference exposes a pluggable listing
    * format surface, context.py:1062): the aggregate over the ORC copy
    * must equal the oracle's aggregate over the original table. */
  def scanOrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_io/supplier_orc"
    t(s, d, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .groupBy(col("s_nationkey").cast("long").as("s_nationkey"))
      .agg(count(lit(1)).as("n"), dsum(col("s_acctbal")).as("total_bal"),
        min(col("s_name")).as("first_name"),
        max(col("s_suppkey")).as("last_key"))
      .orderBy("s_nationkey")
  }
  val scanOrcRoundtripSql: String =
    s"""SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
       |  CAST(count(*) AS BIGINT) AS n, ${DSUM("s_acctbal")} AS total_bal,
       |  min(s_name) AS first_name, max(s_suppkey) AS last_key
       |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  // ---------- RAKE keyword extraction ----------

  private val RakeStops: Seq[String] = graft.functions.RakeTop3.Stops.toSeq

  /** RAKE (Rapid Automatic Keyword Extraction) top-3 keyphrases per
    * document: candidate phrases are maximal stopword-free word runs;
    * each word scores degree/frequency (degree = summed length of the
    * phrase instances containing it), and a phrase scores the sum of its
    * words' scores. Per-word ratios are decimal-quantized before the
    * phrase sum so the aggregation is order-independent and the DuckDB
    * oracle matches bit-for-bit.
    *
    * Round 13: RAKE is a pure per-document function, so the whole
    * computation now runs in the native codegen'd
    * [[graft.functions.RakeTop3]] kernel — one generated loop per
    * document, no shuffle before the final ordering (the 100 TB
    * scan-shaped plan). The previous DataFrame formulation (a per-doc
    * window plus three doc-keyed shuffles and two joins over the word
    * occurrence stream) is retained as [[textRakeKeywordsShuffle]] for
    * the equivalence spec. */
  def textRakeKeywords(s: SparkSession, d: String): DataFrame = {
    t(s, d, "documents")
      .select(col("doc_id"), posexplode(
        org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.RakeTop3(
            org.apache.spark.sql.graftcol.NativeColumn.expression(
              col("text"))))).as(Seq("idx", "kp")))
      .select(col("doc_id"), (col("idx") + 1).cast("long").as("rank"),
        col("kp.phrase").as("phrase"),
        round(col("kp.score"), 6).as("score"))
      .orderBy("doc_id", "rank")
  }

  /** Pre-kernel DataFrame formulation of [[textRakeKeywords]] — spec
    * ground truth only (not registered): identical semantics through
    * windows, keyed reduces, and joins. */
  private[graft] def textRakeKeywordsShuffle(
      s: SparkSession, d: String): DataFrame = {
    val stopList = RakeStops.map(w => s"'$w'").mkString(", ")
    val occ = t(s, d, "documents")
      .select(col("doc_id"),
        posexplode(expr("split(trim(text), '\\\\s+')")).as(Seq("pos", "w")))
      .withColumn("stop", expr(s"w IN ($stopList)"))
      .withColumn("pid",
        sum(when(col("stop"), 1L).otherwise(0L)).over(
          Window.partitionBy("doc_id").orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(!col("stop"))
      .select(col("doc_id"), col("pid"), col("pos").cast("long").as("pos"),
        col("w"))
      .localCheckpoint() // consumed by phrase, degree, and score stages
    val phrases = occ.groupBy("doc_id", "pid")
      .agg(count(lit(1)).as("plen"),
        concat_ws(" ", expr("transform(array_sort(" +
          "collect_list(struct(pos, w))), p -> p.w)")).as("phrase"))
    val wordStats = occ.join(
        phrases.select(col("doc_id"), col("pid"), col("plen")),
        Seq("doc_id", "pid"))
      .groupBy("doc_id", "w")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .withColumn("wscore",
        ddec(col("deg").cast("double") / col("freq"),
          precision = 38, scale = 12))
    val pscore = occ.join(wordStats.select("doc_id", "w", "wscore"),
        Seq("doc_id", "w"))
      .groupBy("doc_id", "pid")
      .agg(sum("wscore").as("psum"))
    val rk = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("phrase"))
    phrases.join(pscore, Seq("doc_id", "pid"))
      .select(col("doc_id"), col("phrase"),
        col("psum").cast("double").as("score"))
      .withColumn("rank", row_number().over(rk).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("phrase"),
        round(col("score"), 6).as("score"))
      .orderBy("doc_id", "rank")
  }
  val textRakeKeywordsSql: String = {
    val stopList = RakeStops.map(w => s"'$w'").mkString(", ")
    raw"""WITH w0 AS (SELECT doc_id, pos, w,
         |    w IN ($stopList) AS stop
         |  FROM (SELECT doc_id, i AS pos, ws[i] AS w
         |    FROM (SELECT doc_id,
         |        string_split_regex(trim(text), '\s+') AS ws
         |      FROM documents),
         |      unnest(generate_series(1, len(ws))) AS t(i))),
         |p0 AS (SELECT doc_id, pos, w, stop,
         |    sum(CASE WHEN stop THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos
         |            ROWS UNBOUNDED PRECEDING) AS pid
         |  FROM w0),
         |occ AS (SELECT doc_id, pid, CAST(pos AS BIGINT) AS pos, w
         |  FROM p0 WHERE NOT stop),
         |ph AS (SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen,
         |    string_agg(w, ' ' ORDER BY pos) AS phrase
         |  FROM occ GROUP BY doc_id, pid),
         |ws AS (SELECT occ.doc_id, occ.w,
         |    CAST(count(*) AS BIGINT) AS freq,
         |    CAST(sum(plen) AS BIGINT) AS deg
         |  FROM occ JOIN ph USING (doc_id, pid)
         |  GROUP BY occ.doc_id, occ.w),
         |sc AS (SELECT doc_id, w,
         |    CAST(CAST(deg AS DOUBLE) / freq AS DECIMAL(38,12)) AS wscore
         |  FROM ws),
         |ps AS (SELECT occ.doc_id, occ.pid, sum(wscore) AS psum
         |  FROM occ JOIN sc USING (doc_id, w)
         |  GROUP BY occ.doc_id, occ.pid),
         |ranked AS (SELECT ph.doc_id, ph.phrase,
         |    CAST(psum AS DOUBLE) AS score,
         |    CAST(row_number() OVER (PARTITION BY ph.doc_id
         |      ORDER BY CAST(psum AS DOUBLE) DESC, ph.phrase) AS BIGINT)
         |      AS rank
         |  FROM ph JOIN ps USING (doc_id, pid))
         |SELECT doc_id, rank, phrase, round(score, 6) AS score
         |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
  }

  // ---------- Hurst exponent (rescaled range) ----------

  /** Hurst exponent of the daily event-count series via the classic
    * rescaled-range (R/S) two-scale estimate: segment the series at
    * m = 8 and m = 16 days, compute each segment's cumulative-deviation
    * range over its standard deviation, average per scale (per-segment
    * ratios decimal-quantized so the mean is order-independent), and
    * slope the two points on the log-log line — H = log2(RS₁₆/RS₈).
    * H ≈ 0.5 for an uncorrelated series, > 0.5 for persistent ones. All
    * segment moments come from exact integer sums; the series table is
    * calendar-bounded so its ordering windows are safe by construction. */
  def statHurst(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("t",
        row_number().over(Window.orderBy("day")).cast("long"))
      .localCheckpoint() // calendar-bounded
    val n = daily.count()
    def rs(m: Int): DataFrame = {
      val k = n / m
      val seg = daily.filter(col("t") <= k * m)
        .withColumn("seg", ((col("t") - 1) / m).cast("long"))
        .withColumn("i", ((col("t") - 1) % m + 1).cast("long"))
      val moments = seg.groupBy("seg")
        .agg(sum("y").as("sy"), sum(col("y") * col("y")).as("syy"))
      seg.withColumn("cy", sum("y").over(
          Window.partitionBy("seg").orderBy("i")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .join(moments, "seg")
        .withColumn("dev", col("cy").cast("double")
          - col("i").cast("double") * col("sy") / m)
        .groupBy("seg")
        .agg(max("dev").as("dmax"), min("dev").as("dmin"),
          first(col("sy")).as("sy"), first(col("syy")).as("syy"))
        // a constant segment has sd = 0 AND range = 0: 0/0 = NaN would
        // throw on the ANSI NaN→DECIMAL cast. Null the divisor so the
        // segment drops out of the sum (its limiting R/S ratio is 0;
        // k stays the full segment count) — mirrored via nullif in SQL.
        .withColumn("sd", sqrt(greatest(lit(0d),
          col("syy").cast("double") / m
            - (col("sy").cast("double") / m) * (col("sy").cast("double") / m))))
        .select(col("seg"),
          ddec((col("dmax") - col("dmin")) / when(col("sd") > 0, col("sd")),
            precision = 38, scale = 12).as("rs"))
        .agg((sum("rs").cast("double") / k).as("avg_rs"))
    }
    val r8 = rs(8).withColumnRenamed("avg_rs", "rs8")
    val r16 = rs(16).withColumnRenamed("avg_rs", "rs16")
    r8.crossJoin(r16)
      .select(lit(n).as("n_days"),
        round(col("rs8"), 6).as("rs8"),
        round(col("rs16"), 6).as("rs16"),
        round(log2(col("rs16") / col("rs8")), 6).as("hurst"))
  }
  /** One rescaled-range CTE per scale — the m=8 and m=16 blocks differ
    * only in the constant, so both are generated from this template
    * (a fix applies once or not at all). nullif keeps a zero-variance
    * segment's 0/0 out of the DECIMAL cast, mirroring the Spark guard. */
  private def hurstRsCte(name: String, m: Int): String =
    s"""$name AS (
       |  SELECT sum(rs) / max(k) AS avg_rs FROM (
       |    SELECT CAST((dmax - dmin)
       |        / nullif(sqrt(greatest(CAST(syy AS DOUBLE) / $m
       |          - (CAST(sy AS DOUBLE) / $m) * (CAST(sy AS DOUBLE) / $m),
       |          0)), 0)
       |      AS DECIMAL(38,12)) AS rs,
       |      (SELECT n // $m FROM nn) AS k
       |    FROM (
       |      SELECT seg, max(dev) AS dmax, min(dev) AS dmin,
       |        max(sy) AS sy, max(syy) AS syy
       |      FROM (
       |        SELECT s.seg, s.i,
       |          CAST(sum(s.y) OVER (PARTITION BY s.seg ORDER BY s.i
       |            ROWS UNBOUNDED PRECEDING) AS DOUBLE)
       |            - CAST(s.i AS DOUBLE) * m.sy / $m AS dev,
       |          m.sy, m.syy
       |        FROM (SELECT (t - 1) // $m AS seg, (t - 1) % $m + 1 AS i, y
       |          FROM idx WHERE t <= (SELECT n // $m FROM nn) * $m) s
       |        JOIN (SELECT (t - 1) // $m AS seg,
       |            CAST(sum(y) AS BIGINT) AS sy,
       |            CAST(sum(y * y) AS BIGINT) AS syy
       |          FROM idx WHERE t <= (SELECT n // $m FROM nn) * $m
       |          GROUP BY (t - 1) // $m) m USING (seg))
       |      GROUP BY seg)))""".stripMargin
  val statHurstSql: String =
    s"""WITH daily AS (SELECT date_trunc('day', ts) AS day,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY date_trunc('day', ts)),
      |idx AS (SELECT y,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
      |  FROM daily),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
      |${hurstRsCte("rs8", 8)},
      |${hurstRsCte("rs16", 16)}
      |SELECT (SELECT n FROM nn) AS n_days,
      |  round(CAST((SELECT avg_rs FROM rs8) AS DOUBLE), 6) AS rs8,
      |  round(CAST((SELECT avg_rs FROM rs16) AS DOUBLE), 6) AS rs16,
      |  round(log2(CAST((SELECT avg_rs FROM rs16) AS DOUBLE)
      |    / CAST((SELECT avg_rs FROM rs8) AS DOUBLE)), 6) AS hurst""".stripMargin

  // ---------- t-closeness (completes the k-anon / l-div / t-close trio) ----------

  /** t-closeness audit over the same quasi-identifier classes as the
    * k-anonymity / l-diversity operators (event_type × hour, sensitive
    * attribute = user cohort): per QI class, the total-variation
    * distance between the class's cohort distribution and the corpus
    * global one. For a categorical sensitive attribute TVD IS the Earth
    * Mover's Distance of the t-closeness definition. Absent cohorts are
    * folded in closed form — TVD = ½(Σ_present (|p_c − p_g| − p_g) + 1)
    * — so no class×cohort grid is ever materialized: two keyed reduces,
    * one broadcast join against the cohort-bounded global table. Per-cell
    * terms are deterministic double trees quantized to DECIMAL(38,12),
    * so the per-class sum is order-independent in both engines. */
  def privacyTCloseness(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").select(col("event_type"),
      expr("cast(hour(ts) as long)").as("hr"),
      (col("user_id") % 100).as("cohort"))
    val cell = ev.groupBy("event_type", "hr", "cohort")
      .agg(count(lit(1)).as("c"))
    val cls = cell.groupBy("event_type", "hr").agg(sum("c").as("n"))
    val glob = ev.groupBy("cohort").agg(count(lit(1)).as("g"))
    val tot = ev.agg(count(lit(1)).as("nn"))
    cell.join(cls, Seq("event_type", "hr"))
      .join(broadcast(glob), "cohort")
      .crossJoin(broadcast(tot))
      .withColumn("term",
        ddec(abs(col("c").cast("double") / col("n") -
          col("g").cast("double") / col("nn")) -
          col("g").cast("double") / col("nn"), precision = 38, scale = 12))
      .groupBy("event_type", "hr", "n")
      .agg((lit(0.5) * (sum("term").cast("double") + 1.0)).as("tvd0"))
      .select(col("event_type"), col("hr"), col("n"),
        round(col("tvd0"), 6).as("tvd"),
        (col("tvd0") <= 0.25).as("t_close"))
      .orderBy("event_type", "hr")
  }
  val privacyTClosenessSql: String =
    """WITH ev AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
      |    user_id % 100 AS cohort FROM events),
      |cell AS (SELECT event_type, hr, cohort,
      |    CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY 1, 2, 3),
      |cls AS (SELECT event_type, hr, CAST(sum(c) AS BIGINT) AS n
      |  FROM cell GROUP BY 1, 2),
      |gdist AS (SELECT cohort, CAST(count(*) AS BIGINT) AS g
      |  FROM ev GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM ev),
      |term AS (SELECT event_type, hr, n,
      |    CAST(abs(CAST(c AS DOUBLE) / n - CAST(g AS DOUBLE) / nn)
      |      - CAST(g AS DOUBLE) / nn AS DECIMAL(38,12)) AS term
      |  FROM cell JOIN cls USING (event_type, hr)
      |  JOIN gdist USING (cohort) CROSS JOIN tot)
      |SELECT event_type, hr, n,
      |  round(0.5 * (CAST(sum(term) AS DOUBLE) + 1.0), 6) AS tvd,
      |  0.5 * (CAST(sum(term) AS DOUBLE) + 1.0) <= 0.25 AS t_close
      |FROM term GROUP BY event_type, hr, n
      |ORDER BY event_type, hr""".stripMargin

  // ---------- Kruskal–Wallis H (rank-based one-way ANOVA) ----------

  /** Kruskal–Wallis H across the three l_returnflag groups over
    * l_quantity, with midrank ties and the tie correction. The value
    * domain is BOUNDED (1..50 integral quantities), so pooled midranks
    * come from one cumulative window over the ≤50-row distinct-value
    * table — never a corpus-length ranking. Midranks are exact
    * half-integers, so the per-group rank sums are exact doubles
    * (order-independent); R²/n and m³−m terms are deterministic double
    * trees quantized to DECIMAL(38,6) before their 3- and 50-row sums. */
  def statKruskalWallis(s: SparkSession, d: String): DataFrame = {
    val cnt = t(s, d, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
      .groupBy("l_returnflag", "q").agg(count(lit(1)).as("c"))
    val vals = cnt.groupBy("q").agg(sum("c").as("m"))
    val w = Window.orderBy("q") // <= 50 distinct integral quantities
    val mid = vals
      .withColumn("cum_excl", coalesce(
        sum("m").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("midrank",
        col("cum_excl").cast("double") + (col("m").cast("double") + 1.0) / 2.0)
    val grp = cnt.join(broadcast(mid.select("q", "midrank")), "q")
      .groupBy("l_returnflag")
      .agg(sum("c").as("n_g"),
        sum(col("c").cast("double") * col("midrank")).as("r_g"))
    val nk = grp.agg(sum("n_g").as("n"), count(lit(1)).as("k"),
      sum(ddec(col("r_g") * col("r_g") / col("n_g").cast("double"),
        precision = 38)).cast("double").as("s"))
    val ties = mid.agg(sum(
      ddec(col("m").cast("double") * col("m") * col("m") -
        col("m").cast("double"), precision = 38))
      .cast("double").as("t3"))
    nk.crossJoin(broadcast(ties))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("h",
        lit(12.0) / (col("nd") * (col("nd") + 1.0)) * col("s") -
          lit(3.0) * (col("nd") + 1.0))
      .withColumn("corr",
        lit(1.0) - col("t3") / (col("nd") * col("nd") * col("nd") - col("nd")))
      .select(col("n").as("n_total"), col("k").as("k_groups"),
        round(col("h"), 6).as("h_stat"),
        round(col("h") / when(col("corr") > 0, col("corr")), 6)
          .as("h_tie_corrected"))
  }
  val statKruskalWallisSql: String =
    """WITH cnt AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
      |    CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1, 2),
      |vals AS (SELECT q, CAST(sum(c) AS BIGINT) AS m FROM cnt GROUP BY q),
      |mid AS (SELECT q, m,
      |    CAST(coalesce(sum(m) OVER (ORDER BY q
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
      |      + (CAST(m AS DOUBLE) + 1.0) / 2.0 AS midrank
      |  FROM vals),
      |grp AS (SELECT l_returnflag, CAST(sum(c) AS BIGINT) AS n_g,
      |    sum(CAST(c AS DOUBLE) * midrank) AS r_g
      |  FROM cnt JOIN mid USING (q) GROUP BY l_returnflag),
      |nk AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(CAST(r_g * r_g / CAST(n_g AS DOUBLE) AS DECIMAL(38,6)))
      |      AS DOUBLE) AS s
      |  FROM grp),
      |ties AS (SELECT CAST(sum(CAST(CAST(m AS DOUBLE) * m * m
      |      - CAST(m AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS t3
      |  FROM vals)
      |SELECT n AS n_total, k AS k_groups,
      |  round(h, 6) AS h_stat,
      |  round(h / nullif(greatest(corr, 0), 0), 6) AS h_tie_corrected
      |FROM (SELECT n, k,
      |    12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * s
      |      - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
      |    1.0 - t3 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |      * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) AS corr
      |  FROM nk CROSS JOIN ties)""".stripMargin

  // ---------- local clustering coefficient ----------

  /** Distinct undirected word-adjacency edges (a < b), the shared graph
    * of [[graphClusteringCoeff]] / [[graphDegreeAssortativity]] — same
    * construction as Pipeline.graphTriangles. Vocabulary-bounded. */
  private def undirectedEdges(s: SparkSession, d: String): DataFrame =
    Q.bigramEdges(t(s, d, "documents")
        .select(expr("split(trim(text), '\\\\s+')").as("ws"))
        // single-word docs have no edges; without the guard the kernel
        // replays the HOF's descending sequence(1, 0) null src/dst rows
        .filter(size(col("ws")) >= 2))
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Top-20 nodes of the word-adjacency graph by LOCAL clustering
    * coefficient 2·t_v / (deg_v·(deg_v−1)) — the per-node counterpart of
    * graph_triangles' global transitivity (same edge construction,
    * Pipeline.graphTriangles). Each x<y<z triangle row explodes into its
    * three member nodes for a node-keyed count; the graph is
    * vocabulary-bounded, so the broadcast triangle join and the final
    * top-20 window both run on bounded tables. */
  def graphClusteringCoeff(s: SparkSession, d: String): DataFrame = {
    val und = undirectedEdges(s, d).localCheckpoint()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val triNodes = und.as("e1")
      .join(broadcast(und.as("e2")), col("e1.b") === col("e2.a"))
      .join(broadcast(und.as("e3")),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(explode(array(col("e1.a"), col("e1.b"), col("e2.b")))
        .as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    val w = Window.orderBy(col("coeff").desc, col("node")) // vocab-bounded
    deg.filter(col("deg") >= 2)
      .join(triNodes, Seq("node"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .withColumn("coeff", lit(2.0) * col("n_tri") /
        (col("deg").cast("double") * (col("deg").cast("double") - 1.0)))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 20)
      .select(col("rk"), col("node"), col("deg"), col("n_tri"),
        round(col("coeff"), 6).as("coeff"))
      .orderBy("rk")
  }
  val graphClusteringCoeffSql: String =
    raw"""WITH ws AS (SELECT string_split_regex(trim(text), '\s+') AS w
         |       FROM documents),
         |bg AS (SELECT w[i] AS src, w[i+1] AS dst
         |       FROM ws, UNNEST(range(1, len(w))) AS t(i)),
         |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
         |       greatest(src, dst) AS b FROM bg WHERE src <> dst),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |       SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und) u
         |     GROUP BY node),
         |tri AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
         |       SELECT unnest([e1.a, e1.b, e2.b]) AS node FROM und e1
         |       JOIN und e2 ON e2.a = e1.b
         |       JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b) x
         |     GROUP BY node),
         |sc AS (SELECT deg.node, deg.deg,
         |       coalesce(tri.n_tri, 0) AS n_tri,
         |       2.0 * coalesce(tri.n_tri, 0)
         |         / (CAST(deg.deg AS DOUBLE) * (CAST(deg.deg AS DOUBLE) - 1.0))
         |         AS coeff
         |     FROM deg LEFT JOIN tri USING (node) WHERE deg.deg >= 2)
         |SELECT CAST(row_number() OVER (ORDER BY coeff DESC, node) AS BIGINT)
         |    AS rk, node, deg, n_tri, round(coeff, 6) AS coeff
         |FROM sc QUALIFY rk <= 20 ORDER BY rk""".stripMargin

  // ---------- Dickey–Fuller stationarity test ----------

  /** Dickey–Fuller test (no lag terms) on the daily event-count series:
    * OLS of Δy_t on y_{t−1} with intercept, t-statistic of the slope
    * against the 5% critical value −2.86. All five moment sums are exact
    * integer sums in DECIMAL lanes (daily counts are integers, so Δy and
    * the products are too); the slope / intercept / SSE / SE chain is one
    * fixed double tree on top. The lag window runs on the
    * calendar-bounded daily table; divisors are nulled when degenerate
    * (constant series) rather than risking an ANSI divide error. */
  def statDickeyFuller(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val lagged = daily
      .withColumn("x", lag("y", 1).over(Window.orderBy("day")))
      .filter(col("x").isNotNull)
      .select(col("x"), (col("y") - col("x")).as("z"))
    val d38 = DecimalType(38, 0)
    val m0 = lagged.agg(count(lit(1)).as("m"),
      sum(col("x").cast(d38)).cast("double").as("sx"),
      sum(col("z").cast(d38)).cast("double").as("sz"),
      sum((col("x") * col("x")).cast(d38)).cast("double").as("sxx"),
      sum((col("x") * col("z")).cast(d38)).cast("double").as("sxz"),
      sum((col("z") * col("z")).cast(d38)).cast("double").as("szz"))
    m0.withColumn("md", col("m").cast("double"))
      .withColumn("den", col("md") * col("sxx") - col("sx") * col("sx"))
      .withColumn("rho",
        (col("md") * col("sxz") - col("sx") * col("sz")) /
          when(col("den") > 0, col("den")))
      .withColumn("alpha", (col("sz") - col("rho") * col("sx")) / col("md"))
      .withColumn("sse", col("szz") - col("alpha") * col("sz") -
        col("rho") * col("sxz"))
      .withColumn("se", sqrt(
        (col("sse") / (col("md") - 2.0)) /
          (col("sxx") - col("sx") * col("sx") / col("md"))))
      .withColumn("t", col("rho") / when(col("se") > 0, col("se")))
      .select((col("m") + 1).as("n_days"),
        round(col("rho"), 6).as("rho"),
        round(col("t"), 6).as("t_stat"),
        (col("t") < -2.86).as("stationary"))
  }
  val statDickeyFullerSql: String =
    """WITH daily AS (SELECT date_trunc('day', ts) AS day,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY date_trunc('day', ts)),
      |lagged AS (SELECT x, y - x AS z FROM (
      |    SELECT y, lag(y) OVER (ORDER BY day) AS x FROM daily)
      |  WHERE x IS NOT NULL),
      |m0 AS (SELECT CAST(count(*) AS BIGINT) AS m,
      |    CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(z AS DECIMAL(38,0))) AS DOUBLE) AS sz,
      |    CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(x * z AS DECIMAL(38,0))) AS DOUBLE) AS sxz,
      |    CAST(sum(CAST(z * z AS DECIMAL(38,0))) AS DOUBLE) AS szz
      |  FROM lagged),
      |fit AS (SELECT m, sx, sz, sxx, sxz, szz,
      |    CAST(m AS DOUBLE) AS md,
      |    (CAST(m AS DOUBLE) * sxz - sx * sz)
      |      / nullif(greatest(CAST(m AS DOUBLE) * sxx - sx * sx, 0), 0)
      |      AS rho
      |  FROM m0),
      |fin AS (SELECT m, md, rho,
      |    (sz - rho * sx) / md AS alpha,
      |    szz - ((sz - rho * sx) / md) * sz - rho * sxz AS sse,
      |    sxx - sx * sx / md AS sdx
      |  FROM fit)
      |SELECT m + 1 AS n_days, round(rho, 6) AS rho,
      |  round(rho / nullif(greatest(sqrt((sse / (md - 2.0)) / sdx), 0), 0), 6)
      |    AS t_stat,
      |  rho / nullif(greatest(sqrt((sse / (md - 2.0)) / sdx), 0), 0) < -2.86
      |    AS stationary
      |FROM fin""".stripMargin

  // ---------- embedding isotropy ----------

  /** Corpus embedding-isotropy audit: distribution of each vector's
    * cosine to the corpus centroid. An isotropic embedding space has
    * mean-cosine near 0; anisotropic ("narrow cone") spaces — common
    * before whitening — sit near 1 and degrade cosine retrieval, which
    * is what this screens for ahead of the sim_/dedup_ stages. Shape:
    * per-dim centroid is a d-bounded reduce, then the centroid is
    * broadcast as a constant-folded d-length literal (the power-
    * iteration A-multiply shape, [[Scale.embPowerIteration]]) so each
    * vector's dot and norm are map-side double left-folds — matching
    * DuckDB's list_inner_product fold bit-for-bit — and the only
    * shuffles are the d-bounded centroid reduce and the final global
    * aggregate. try_divide nulls a zero vector's cosine. */
  def embIsotropy(s: SparkSession, d: String): DataFrame = {
    val vecs = t(s, d, "embeddings")
      .select(transform(col("embedding"), _.cast("double")).as("v"))
      .localCheckpoint() // scanned once for the centroid, once for cosines
    // per-dim decimal sums/counts in ONE VectorDecimalStats pass (the
    // fused posexplode/groupBy(i) twin, pinned in LearnSpec); the mean
    // divide is the same double/double division the plan performed
    val centSt = vecs
      .agg(graft.functions.VectorDecimalStats.vector_decimal_stats(
        col("v"), lit(1.0), 30, 12).as("st"))
      .head().getStruct(0)
    val cent = centSt.getSeq[java.math.BigDecimal](0)
      .zip(centSt.getSeq[Long](1))
      .map { case (sx, nd) => sx.doubleValue / nd }.toArray
    def d12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val cnorm = math.sqrt(cent.map(x => d12(x * x)).sum.toDouble)
    val cLit = cent.map(x => s"${x}D").mkString("array(", ",", ")")
    // dot/norm through the native InnerProduct kernel — the identical
    // sequential left folds (Σ x·c and Σ x², one generated loop per row)
    vecs
      .withColumn("dot", dot(col("v"), expr(cLit)))
      .withColumn("nrm", norm2(col("v")))
      .withColumn("cos", try_divide(col("dot"), col("nrm") * lit(cnorm)))
      .filter(col("cos").isNotNull)
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(ddec(col("cos"), precision = 38, scale = 12)).cast("double") /
          count(lit(1)), 6).as("mean_cos"),
        round(min("cos"), 6).as("min_cos"),
        round(max("cos"), 6).as("max_cos"),
        round(sum(when(col("cos") > 0, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("frac_pos"))
  }
  val embIsotropySql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |ex AS (SELECT vec_id, i, e[i] AS x
      |  FROM v, unnest(generate_series(1, len(e))) AS t(i)),
      |cent AS MATERIALIZED (SELECT i,
      |    CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS c
      |  FROM ex GROUP BY i),
      |cl AS MATERIALIZED (SELECT list(c ORDER BY i) AS q FROM cent),
      |cn AS (SELECT sqrt(CAST(sum(CAST(c * c AS DECIMAL(38,12))) AS DOUBLE))
      |    AS cnorm FROM cent),
      |cs AS (SELECT list_inner_product(v.e, cl.q)
      |      / nullif(sqrt(list_inner_product(v.e, v.e)) * cn.cnorm, 0)
      |      AS cos
      |  FROM v, cl, cn)
      |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
      |  round(CAST(sum(CAST(cos AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
      |    AS mean_cos,
      |  round(min(cos), 6) AS min_cos,
      |  round(max(cos), 6) AS max_cos,
      |  round(CAST(sum(CASE WHEN cos > 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS frac_pos
      |FROM cs WHERE cos IS NOT NULL""".stripMargin

  // ---------- moving-average type-token ratio (MATTR) ----------

  /** MATTR lexical diversity per document: the mean type-token ratio
    * over every 50-token sliding window (Covington & McFall's fix for
    * raw TTR's length bias; documents shorter than the window get their
    * single whole-doc window). No per-window fan-out: a token at
    * position p counts as a TYPE in the window starting at s iff its
    * previous occurrence q is before s, so Σ_s u(s) collapses to a
    * per-token closed form — the size of the valid s-range
    * [max(1, p−W+1, q+1), min(p, n_windows)] — from one lag window
    * partitioned by (doc, token). The running total stays an exact
    * integer until the single final division, so both engines agree
    * bit-for-bit with no decimal lanes at all. */
  def textMattr(s: SparkSession, d: String): DataFrame = {
    val W = 50
    // Round 15: all of a document's tokens live in one row, so the p/q
    // position walk, the per-position window contributions, and the doc
    // rollup fuse into the MattrStats kernel (exact integer arithmetic,
    // replayed term for term — [[textMattrWindowed]] is the executable
    // documentation, pinned row-equal in PolishSpec). The previous shape
    // shuffled EVERY token through a (doc, tok)-partitioned lag window —
    // the largest exchange in the text battery; now the op is map-side
    // except the output sort. Docs whose filtered token list is empty
    // never produced an exploded row, so the same filter applies here.
    t(s, d, "documents")
      .select(col("doc_id"), expr(
        "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')").as("toks"))
      .filter(col("toks").isNotNull && size(col("toks")) > 0)
      .select(col("doc_id"),
        org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.MattrStats(
            org.apache.spark.sql.graftcol.NativeColumn.expression(col("toks"))))
          .as("st"))
      .select(col("doc_id"), col("st.n").as("n_tokens"),
        col("st.nw").as("n_windows"),
        round(col("st.tu").cast("double") /
          (col("st.nw") * least(lit(W.toLong), col("st.n"))).cast("double"), 6)
          .as("mattr"))
      .orderBy("doc_id")
  }

  /** The pre-round-15 posexplode + (doc, tok) lag-window formulation of
    * [[textMattr]] — executable documentation of what
    * [[graft.functions.MattrStats]] fuses into one map-side loop. */
  private[graft] def textMattrWindowed(s: SparkSession, d: String): DataFrame = {
    val W = 50
    val toks = t(s, d, "documents")
      .select(col("doc_id"), posexplode(expr(
        "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"))
        .as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"), col("tok"))
    val nD = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val prevW = Window.partitionBy("doc_id", "tok").orderBy("p")
    toks
      .withColumn("q", coalesce(lag("p", 1).over(prevW), lit(0L)))
      .join(nD, "doc_id")
      .withColumn("nw", greatest(col("n") - (W - 1), lit(1L)))
      .withColumn("c", greatest(
        least(col("p"), col("nw")) -
          greatest(lit(1L), col("p") - (W - 1), col("q") + 1) + 1, lit(0L)))
      .groupBy("doc_id", "n", "nw")
      .agg(sum("c").as("tu"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        col("nw").as("n_windows"),
        round(col("tu").cast("double") /
          (col("nw") * least(lit(W.toLong), col("n"))).cast("double"), 6)
          .as("mattr"))
      .orderBy("doc_id")
  }
  val textMattrSql: String =
    raw"""WITH wsx AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
         |      x -> x != '') AS w
         |  FROM documents),
         |toks AS (SELECT doc_id, CAST(p AS BIGINT) AS p, w[p] AS tok,
         |    CAST(len(w) AS BIGINT) AS n
         |  FROM wsx, unnest(generate_series(1, len(w))) AS t(p)),
         |pr AS (SELECT doc_id, n, p,
         |    coalesce(lag(p) OVER (PARTITION BY doc_id, tok ORDER BY p), 0)
         |      AS q
         |  FROM toks),
         |c AS (SELECT doc_id, n, greatest(n - 49, 1) AS nw,
         |    greatest(least(p, greatest(n - 49, 1))
         |      - greatest(1, p - 49, q + 1) + 1, 0) AS c
         |  FROM pr)
         |SELECT doc_id, n AS n_tokens, CAST(nw AS BIGINT) AS n_windows,
         |  round(CAST(sum(c) AS DOUBLE) / (CAST(nw AS DOUBLE) * least(50, n)),
         |    6) AS mattr
         |FROM c GROUP BY doc_id, n, nw ORDER BY doc_id""".stripMargin

  // ---------- Friedman test (blocked nonparametric ANOVA) ----------

  /** Friedman test across event types (treatments) blocked by day: are
    * the daily count levels of the k event types systematically ordered?
    * Completes the nonparametric family next to Kruskal-Wallis — KW
    * pools all observations, Friedman ranks WITHIN each block, removing
    * day-level traffic shifts. Only complete blocks (days observing all
    * k types) enter, per the classical complete-design requirement.
    * Ranks come from a per-day window over ≤k rows (never corpus-wide);
    * midranks are exact half-integers so the per-treatment rank sums are
    * exact doubles; the k-bounded R² and tie sums ride decimal lanes. */
  def statFriedman(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("y"))
    val kAll = daily.agg(countDistinct("event_type").as("k"))
    val comp = daily
      .withColumn("c", count(lit(1)).over(Window.partitionBy("day")))
      .crossJoin(broadcast(kAll))
      .filter(col("c") === col("k")) // complete blocks only
    val rk = comp
      .withColumn("rmin", rank().over(
        Window.partitionBy("day").orderBy("y")).cast("long"))
      .withColumn("teq", count(lit(1)).over(
        Window.partitionBy("day", "y")))
      .withColumn("midrank", col("rmin").cast("double") +
        (col("teq").cast("double") - 1.0) / 2.0)
    val rj = rk.groupBy("event_type", "k")
      .agg(count(lit(1)).as("n"), sum("midrank").as("rj"))
    val ties = rk.select("day", "y", "teq").distinct()
      .agg(coalesce(sum(ddec(col("teq").cast("double") * col("teq") * col("teq") -
        col("teq").cast("double"), precision = 38))
        .cast("double"), lit(0.0)).as("tt"))
    rj.groupBy("k", "n")
      .agg(sum(ddec(col("rj") * col("rj"), precision = 38))
        .cast("double").as("s2"))
      .crossJoin(broadcast(ties))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("kd", col("k").cast("double"))
      .withColumn("q",
        lit(12.0) / (col("nd") * col("kd") * (col("kd") + 1.0)) * col("s2") -
          lit(3.0) * col("nd") * (col("kd") + 1.0))
      .withColumn("corr", lit(1.0) -
        col("tt") / (col("nd") * col("kd") * (col("kd") * col("kd") - 1.0)))
      .select(col("n").as("n_blocks"), col("k").as("k_treatments"),
        round(col("q"), 6).as("q_stat"),
        round(col("q") / when(col("corr") > 0, col("corr")), 6)
          .as("q_tie_corrected"))
  }
  val statFriedmanSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
      |  FROM daily),
      |comp AS (SELECT day, event_type, y, k FROM (
      |    SELECT day, event_type, y,
      |      CAST(count(*) OVER (PARTITION BY day) AS BIGINT) AS c
      |    FROM daily) x CROSS JOIN kk WHERE c = k),
      |rk AS (SELECT day, event_type, y, k,
      |    CAST(rank() OVER (PARTITION BY day ORDER BY y) AS BIGINT) AS rmin,
      |    CAST(count(*) OVER (PARTITION BY day, y) AS BIGINT) AS teq
      |  FROM comp),
      |mid AS (SELECT day, event_type, y, k, teq,
      |    CAST(rmin AS DOUBLE) + (CAST(teq AS DOUBLE) - 1.0) / 2.0
      |      AS midrank
      |  FROM rk),
      |rj AS (SELECT event_type, k, CAST(count(*) AS BIGINT) AS n,
      |    sum(midrank) AS rj FROM mid GROUP BY 1, 2),
      |ties AS (SELECT coalesce(CAST(sum(CAST(
      |      CAST(teq AS DOUBLE) * teq * teq - CAST(teq AS DOUBLE)
      |    AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS tt
      |  FROM (SELECT DISTINCT day, y, teq FROM mid)),
      |agg AS (SELECT k, n,
      |    CAST(sum(CAST(rj * rj AS DECIMAL(38,6))) AS DOUBLE) AS s2
      |  FROM rj GROUP BY 1, 2),
      |fin AS (SELECT n, k,
      |    12.0 / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
      |      * (CAST(k AS DOUBLE) + 1.0)) * s2
      |      - 3.0 * CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0) AS q,
      |    1.0 - tt / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
      |      * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)) AS corr
      |  FROM agg CROSS JOIN ties)
      |SELECT n AS n_blocks, k AS k_treatments, round(q, 6) AS q_stat,
      |  round(q / nullif(greatest(corr, 0), 0), 6) AS q_tie_corrected
      |FROM fin""".stripMargin

  // ---------- Cohen's kappa (quality-filter agreement) ----------

  /** Cohen's kappa between two independent document quality filters:
    * rater A = the Gopher-style length rule (50 ≤ tokens ≤ 100000 AND
    * mean word length in [3, 10]) and rater B = the symbol-ratio rule
    * (non-alphanumeric, non-space characters < 10% of text). Kappa
    * measures agreement beyond chance — near 0 means the filters are
    * redundant-free, near 1 means one is informationally subsumed.
    * Both raters are pure integer comparisons (mean-word-length bounds
    * multiplied through, symbol fraction as sym×10 < len), so no
    * division/null edge exists; one map-side pass, one global reduce,
    * fixed double tree on the 2×2 counts. */
  def statCohensKappa(s: SparkSession, d: String): DataFrame = {
    val f = t(s, d, "documents")
      .withColumn("n_tok", size(expr(
        "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"))
        .cast("long"))
      .withColumn("chars",
        length(regexp_replace(col("text"), "\\s", "")).cast("long"))
      .withColumn("sym",
        length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", ""))
          .cast("long"))
      .withColumn("a", col("n_tok") >= 50 && col("n_tok") <= 100000 &&
        col("chars") >= lit(3L) * col("n_tok") &&
        col("chars") <= lit(10L) * col("n_tok"))
      .withColumn("b", col("sym") * 10 < length(col("text")).cast("long"))
    val g = f.agg(
      sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
      sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
      sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
      sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"),
      count(lit(1)).as("n"))
    g.withColumn("po",
        (col("n11") + col("n00")).cast("double") / col("n"))
      .withColumn("pe",
        ((col("n11") + col("n10")).cast("double") / col("n")) *
          ((col("n11") + col("n01")).cast("double") / col("n")) +
          ((col("n01") + col("n00")).cast("double") / col("n")) *
            ((col("n10") + col("n00")).cast("double") / col("n")))
      .select(col("n11"), col("n10"), col("n01"), col("n00"),
        round(col("po"), 6).as("po"), round(col("pe"), 6).as("pe"),
        round((col("po") - col("pe")) /
          when(col("pe") < 1.0, lit(1.0) - col("pe")), 6).as("kappa"))
  }
  val statCohensKappaSql: String =
    raw"""WITH f AS (SELECT
         |    CAST(len(list_filter(string_split_regex(lower(trim(text)),
         |      '\s+'), x -> x != '')) AS BIGINT) AS n_tok,
         |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT)
         |      AS chars,
         |    CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
         |      AS BIGINT) AS sym,
         |    CAST(length(text) AS BIGINT) AS len
         |  FROM documents),
         |r AS (SELECT
         |    (n_tok >= 50 AND n_tok <= 100000 AND chars >= 3 * n_tok
         |      AND chars <= 10 * n_tok) AS a,
         |    (sym * 10 < len) AS b
         |  FROM f),
         |g AS (SELECT
         |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n10,
         |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n01,
         |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n00,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM r),
         |p AS (SELECT n11, n10, n01, n00,
         |    CAST(n11 + n00 AS DOUBLE) / n AS po,
         |    (CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
         |      + (CAST(n01 + n00 AS DOUBLE) / n)
         |        * (CAST(n10 + n00 AS DOUBLE) / n) AS pe
         |  FROM g)
         |SELECT n11, n10, n01, n00, round(po, 6) AS po, round(pe, 6) AS pe,
         |  round((po - pe) / (CASE WHEN pe < 1.0 THEN 1.0 - pe END), 6)
         |    AS kappa
         |FROM p""".stripMargin

  // ---------- Holt linear-trend forecast ----------

  /** One-step Holt (double exponential smoothing) forecast of tomorrow's
    * per-type daily event count, α = 0.3, β = 0.2 — completes the
    * forecast family next to the closed-form SES: Holt carries a trend
    * state, so the recursion l_t = αy_t + (1−α)(l_{t−1}+b_{t−1}),
    * b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1} (seeded l₁ = y₁, b₁ = y₂−y₁)
    * has no scalar closed form. It folds over the |days|-bounded
    * collected series per type — one keyed reduce builds the array, the
    * fold is driver-free bounded math — and the DuckDB oracle replays
    * the identical IEEE operation sequence as a recursive CTE, so the
    * engines agree bit-for-bit. */
  def eventForecastHolt(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("sarr"))
      .withColumn("ys", expr("transform(sarr, p -> cast(p.y as double))"))
      .withColumn("t", size(col("ys")).cast("long"))
      .withColumn("st", expr(
        """if(size(ys) < 2, named_struct('l', ys[0], 'b', 0D),
          |  aggregate(slice(ys, 2, size(ys) - 1),
          |    named_struct('l', ys[0], 'b', ys[1] - ys[0]),
          |    (acc, x) -> named_struct(
          |      'l', 0.3D * x + 0.7D * (acc.l + acc.b),
          |      'b', 0.2D * ((0.3D * x + 0.7D * (acc.l + acc.b)) - acc.l)
          |        + 0.8D * acc.b)))""".stripMargin))
      .select(col("event_type"), col("t").as("n_days"),
        round(col("st").getField("l") + col("st").getField("b"), 6)
          .as("forecast"),
        round(col("st").getField("b"), 6).as("trend"))
      .orderBy("event_type")
  }
  val eventForecastHoltSql: String =
    """WITH RECURSIVE daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |ranked AS (SELECT event_type, y,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
      |      AS BIGINT) AS k
      |  FROM daily),
      |tmax AS (SELECT event_type, max(k) AS t FROM ranked GROUP BY 1),
      |rec AS (
      |  SELECT r1.event_type, CAST(1 AS BIGINT) AS k,
      |      CAST(r1.y AS DOUBLE) AS l,
      |      CAST(r2.y AS DOUBLE) - CAST(r1.y AS DOUBLE) AS b
      |    FROM ranked r1 JOIN ranked r2
      |      ON r2.event_type = r1.event_type AND r2.k = 2
      |    WHERE r1.k = 1
      |  UNION ALL
      |  SELECT rec.event_type, rec.k + 1,
      |      0.3 * rn.y + 0.7 * (rec.l + rec.b),
      |      0.2 * ((0.3 * rn.y + 0.7 * (rec.l + rec.b)) - rec.l)
      |        + 0.8 * rec.b
      |    FROM rec JOIN ranked rn
      |      ON rn.event_type = rec.event_type AND rn.k = rec.k + 1),
      |fin AS (
      |  SELECT rec.event_type, t.t AS n_days, rec.l + rec.b AS fc,
      |      rec.b AS tr
      |    FROM rec JOIN tmax t USING (event_type) WHERE rec.k = t.t
      |  UNION ALL
      |  SELECT r.event_type, 1, CAST(r.y AS DOUBLE), 0.0
      |    FROM ranked r JOIN tmax t USING (event_type)
      |    WHERE t.t = 1 AND r.k = 1)
      |SELECT event_type, n_days, round(fc, 6) AS forecast,
      |  round(tr, 6) AS trend
      |FROM fin ORDER BY event_type""".stripMargin

  // ---------- degree assortativity ----------

  /** Degree assortativity of the word-adjacency graph: the Pearson
    * correlation of endpoint degrees over all edges (both orientations,
    * per Newman's definition). Negative values — hubs attaching to
    * low-degree leaves — are the signature of natural-language word
    * graphs. Same vocabulary-bounded edge/degree tables as
    * [[graphClusteringCoeff]]; all moment sums are exact integers in
    * decimal lanes, the correlation is one fixed double tree on top. */
  def graphDegreeAssortativity(s: SparkSession, d: String): DataFrame = {
    val und = undirectedEdges(s, d).localCheckpoint()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val dir = und.select(explode(array(
        struct(col("a").as("s0"), col("b").as("d0")),
        struct(col("b").as("s0"), col("a").as("d0")))).as("e"))
      .select(col("e.s0").as("src"), col("e.d0").as("dst"))
    val dx = broadcast(deg.select(col("node").as("src"), col("deg").as("dx")))
    val dy = broadcast(deg.select(col("node").as("dst"), col("deg").as("dy")))
    val d38 = DecimalType(38, 0)
    dir.join(dx, "src").join(dy, "dst")
      .agg(count(lit(1)).as("m"),
        sum(col("dx").cast(d38)).cast("double").as("sx"),
        sum((col("dx") * col("dy")).cast(d38)).cast("double").as("sxy"),
        sum((col("dx") * col("dx")).cast(d38)).cast("double").as("sxx"))
      .withColumn("md", col("m").cast("double"))
      .withColumn("den", col("md") * col("sxx") - col("sx") * col("sx"))
      .select((col("m").cast("double") / 2.0).cast("long").as("n_edges"),
        round((col("md") * col("sxy") - col("sx") * col("sx")) /
          when(col("den") > 0, col("den")), 6).as("assortativity"))
  }
  val graphDegreeAssortativitySql: String =
    raw"""WITH ws AS (SELECT string_split_regex(trim(text), '\s+') AS w
         |       FROM documents),
         |bg AS (SELECT w[i] AS src, w[i+1] AS dst
         |       FROM ws, UNNEST(range(1, len(w))) AS t(i)),
         |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
         |       greatest(src, dst) AS b FROM bg WHERE src <> dst),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |       SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
         |     u GROUP BY node),
         |dir AS (SELECT a AS src, b AS dst FROM und
         |     UNION ALL SELECT b AS src, a AS dst FROM und),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(CAST(x.deg AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(x.deg * y.deg AS DECIMAL(38,0))) AS DOUBLE)
         |      AS sxy,
         |    CAST(sum(CAST(x.deg * x.deg AS DECIMAL(38,0))) AS DOUBLE)
         |      AS sxx
         |  FROM dir JOIN deg x ON x.node = dir.src
         |  JOIN deg y ON y.node = dir.dst)
         |SELECT CAST(CAST(m AS DOUBLE) / 2.0 AS BIGINT) AS n_edges,
         |  round((CAST(m AS DOUBLE) * sxy - sx * sx)
         |    / nullif(greatest(CAST(m AS DOUBLE) * sxx - sx * sx, 0), 0), 6)
         |    AS assortativity
         |FROM mm""".stripMargin

  // ---------- Cronbach's alpha ----------

  /** Cronbach's alpha treating the k event types as "items" and days as
    * "subjects" (daily counts as scores): internal consistency of daily
    * activity across event types. Only complete days (all k types
    * observed) enter, the same complete-design rule as [[statFriedman]].
    * Item and total variances are sample variances assembled from exact
    * integer moment sums in decimal lanes; the k-bounded per-item
    * variance sum rides a DECIMAL(38,6) quantization so group order
    * cannot matter. */
  def statCronbachAlpha(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("y"))
    val kAll = daily.agg(countDistinct("event_type").as("k"))
    val comp = daily
      .withColumn("c", count(lit(1)).over(Window.partitionBy("day")))
      .crossJoin(broadcast(kAll))
      .filter(col("c") === col("k"))
    val d38 = DecimalType(38, 0)
    val item = comp.groupBy("event_type", "k")
      .agg(count(lit(1)).as("n"),
        sum(col("y").cast(d38)).cast("double").as("sy"),
        sum((col("y") * col("y")).cast(d38)).cast("double").as("syy"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("vi", (col("syy") - col("sy") * col("sy") / col("nd")) /
        (col("nd") - 1.0))
    val svi = item.groupBy("k", "n")
      .agg(sum(ddec(col("vi"), precision = 38)).cast("double").as("svi"))
    val tot = comp.groupBy("day").agg(sum("y").as("td"))
      .agg(count(lit(1)).as("nt"),
        sum(col("td").cast(d38)).cast("double").as("st"),
        sum((col("td") * col("td")).cast(d38)).cast("double").as("stt"))
      .withColumn("ntd", col("nt").cast("double"))
      .withColumn("vt", (col("stt") - col("st") * col("st") / col("ntd")) /
        (col("ntd") - 1.0))
    svi.crossJoin(broadcast(tot.select("vt")))
      .withColumn("kd", col("k").cast("double"))
      .withColumn("alpha", col("kd") / (col("kd") - 1.0) *
        (lit(1.0) - col("svi") / when(col("vt") > 0, col("vt"))))
      .select(col("k").as("k_items"), col("n").as("n_subjects"),
        round(col("svi"), 6).as("sum_item_var"),
        round(col("vt"), 6).as("total_var"),
        round(col("alpha"), 6).as("alpha"))
  }
  val statCronbachAlphaSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
      |  FROM daily),
      |comp AS (SELECT day, event_type, y, k FROM (
      |    SELECT day, event_type, y,
      |      CAST(count(*) OVER (PARTITION BY day) AS BIGINT) AS c
      |    FROM daily) x CROSS JOIN kk WHERE c = k),
      |item AS (SELECT event_type, k, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
      |  FROM comp GROUP BY 1, 2),
      |vi AS (SELECT event_type, k, n,
      |    (syy - sy * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
      |      AS vi
      |  FROM item),
      |svi AS (SELECT k, n,
      |    CAST(sum(CAST(vi AS DECIMAL(38,6))) AS DOUBLE) AS svi
      |  FROM vi GROUP BY 1, 2),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nt,
      |    CAST(sum(CAST(td AS DECIMAL(38,0))) AS DOUBLE) AS st,
      |    CAST(sum(CAST(td * td AS DECIMAL(38,0))) AS DOUBLE) AS stt
      |  FROM (SELECT day, CAST(sum(y) AS BIGINT) AS td FROM comp
      |    GROUP BY day)),
      |vt AS (SELECT (stt - st * st / CAST(nt AS DOUBLE))
      |    / (CAST(nt AS DOUBLE) - 1.0) AS vt FROM tot)
      |SELECT k AS k_items, n AS n_subjects, round(svi, 6) AS sum_item_var,
      |  round(vt, 6) AS total_var,
      |  round(CAST(k AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0)
      |    * (1.0 - svi / nullif(greatest(vt, 0), 0)), 6) AS alpha
      |FROM svi CROSS JOIN vt""".stripMargin

  // ---------- Markov entropy rate ----------

  /** Entropy rate of the event-type Markov chain (the behavioral
    * complement of [[Stats.eventMarkov]]'s transition matrix): H =
    * −Σ_ij (n_ij/N)·ln(n_ij/n_i), the average per-step unpredictability
    * of a user's next event under the empirical source distribution.
    * Transitions ride the same (ts, event_id)-ordered user window as
    * event_markov; everything after the transition-keyed count is
    * |types|²-bounded math with per-term DECIMAL(38,12) quantization. */
  def eventEntropyRate(s: SparkSession, d: String): DataFrame = {
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tr = t(s, d, "events")
      .withColumn("next_type", lead(col("event_type"), 1).over(seq))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("nij"))
    val ni = tr.groupBy("event_type").agg(sum("nij").as("ni"))
    val nn = tr.agg(sum("nij").as("nn"), countDistinct("event_type").as("k"))
    tr.join(broadcast(ni), "event_type")
      .crossJoin(broadcast(nn))
      .withColumn("term", ddec(-(col("nij").cast("double") / col("nn")) *
        log(col("nij").cast("double") / col("ni")),
        precision = 38, scale = 12))
      .groupBy("nn", "k")
      .agg(sum("term").cast("double").as("h"))
      .select(col("nn").as("n_transitions"), col("k").as("n_states"),
        round(col("h"), 6).as("entropy_nats"),
        round(col("h") / log(lit(2.0)), 6).as("entropy_bits"))
  }
  val eventEntropyRateSql: String =
    """WITH tr0 AS (SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS next_type
      |  FROM events),
      |tr AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS nij
      |  FROM tr0 WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |ni AS (SELECT event_type, CAST(sum(nij) AS BIGINT) AS ni
      |  FROM tr GROUP BY 1),
      |nn AS (SELECT CAST(sum(nij) AS BIGINT) AS nn,
      |    CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM tr),
      |terms AS (SELECT nn, k,
      |    CAST(-(CAST(nij AS DOUBLE) / nn)
      |      * ln(CAST(nij AS DOUBLE) / ni) AS DECIMAL(38,12)) AS term
      |  FROM tr JOIN ni USING (event_type) CROSS JOIN nn)
      |SELECT nn AS n_transitions, k AS n_states,
      |  round(CAST(sum(term) AS DOUBLE), 6) AS entropy_nats,
      |  round(CAST(sum(term) AS DOUBLE) / ln(2.0), 6) AS entropy_bits
      |FROM terms GROUP BY nn, k""".stripMargin

  // ---------- Heaps' law fit ----------

  /** Heaps' law fit V = K·n^β across documents: OLS of ln(types) on
    * ln(tokens) over the per-doc (n, V) points — the vocabulary-growth
    * counterpart of corpus_zipf's frequency-rank fit, and the standard
    * sanity check that a corpus's type/token scaling is natural
    * (β ≈ 0.4–0.6) rather than boilerplate-duplicated (β → 0). Per-doc
    * log terms are quantized to DECIMAL(38,12) so the corpus-keyed
    * moment sums are order-independent; the slope/intercept/R² chain is
    * one fixed double tree. */
  def textHeapsFit(s: SparkSession, d: String): DataFrame = {
    val dv = t(s, d, "documents")
      .select(expr(
        "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')").as("ws"))
      .select(size(col("ws")).cast("long").as("n"),
        size(array_distinct(col("ws"))).cast("long").as("v"))
      .filter(col("n") >= 2)
      .select(log(col("n").cast("double")).as("x"),
        log(col("v").cast("double")).as("y"))
    dv.agg(count(lit(1)).as("m"),
        sum(ddec(col("x"), precision = 38, scale = 12))
          .cast("double").as("sx"),
        sum(ddec(col("y"), precision = 38, scale = 12))
          .cast("double").as("sy"),
        sum(ddec(col("x") * col("x"), precision = 38, scale = 12))
          .cast("double").as("sxx"),
        sum(ddec(col("x") * col("y"), precision = 38, scale = 12))
          .cast("double").as("sxy"),
        sum(ddec(col("y") * col("y"), precision = 38, scale = 12))
          .cast("double").as("syy"))
      .withColumn("md", col("m").cast("double"))
      .withColumn("dx", col("md") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dy", col("md") * col("syy") - col("sy") * col("sy"))
      .withColumn("nm", col("md") * col("sxy") - col("sx") * col("sy"))
      .withColumn("beta", col("nm") / when(col("dx") > 0, col("dx")))
      .select(col("m").as("n_docs"),
        round(col("beta"), 6).as("beta"),
        round(exp((col("sy") - col("beta") * col("sx")) / col("md")), 6)
          .as("k_coef"),
        round(col("nm") * col("nm") /
          when(col("dx") * col("dy") > 0, col("dx") * col("dy")), 6)
          .as("r2"))
  }
  val textHeapsFitSql: String =
    raw"""WITH dv AS (SELECT
         |    CAST(len(w) AS BIGINT) AS n,
         |    CAST(len(list_distinct(w)) AS BIGINT) AS v
         |  FROM (SELECT list_filter(string_split_regex(lower(trim(text)),
         |      '\s+'), x -> x != '') AS w FROM documents)
         |  WHERE len(w) >= 2),
         |pts AS (SELECT ln(CAST(n AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y
         |  FROM dv),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         |    CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
         |    CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
         |  FROM pts),
         |fit AS (SELECT m, sx, sy, CAST(m AS DOUBLE) AS md,
         |    CAST(m AS DOUBLE) * sxx - sx * sx AS dx,
         |    CAST(m AS DOUBLE) * syy - sy * sy AS dy,
         |    CAST(m AS DOUBLE) * sxy - sx * sy AS nm
         |  FROM mm),
         |b AS (SELECT m, sx, sy, md, dx, dy, nm,
         |    nm / nullif(greatest(dx, 0), 0) AS beta FROM fit)
         |SELECT m AS n_docs, round(beta, 6) AS beta,
         |  round(exp((sy - beta * sx) / md), 6) AS k_coef,
         |  round(nm * nm / (CASE WHEN dx * dy > 0 THEN dx * dy END), 6)
         |    AS r2
         |FROM b""".stripMargin

  // ---------- daily-trend OLS residual diagnostics ----------

  /** Residuals of the OLS of daily event counts on the day index — the
    * shared first stage of the Durbin-Watson and Breusch-Pagan
    * diagnostics: five exact integer moment sums in decimal lanes, the
    * slope/intercept as one fixed double tree broadcast back over the
    * calendar-bounded daily table. */
  private def dailyTrendResiduals(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val idx = daily.withColumn("t0",
      row_number().over(Window.orderBy("day")).cast("long"))
    val d38 = DecimalType(38, 0)
    val m = idx.agg(count(lit(1)).as("n"),
      sum(col("t0").cast(d38)).cast("double").as("st"),
      sum(col("y").cast(d38)).cast("double").as("sy"),
      sum((col("t0") * col("t0")).cast(d38)).cast("double").as("stt"),
      sum((col("t0") * col("y")).cast(d38)).cast("double").as("sty"))
    idx.crossJoin(broadcast(m))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("beta",
        (col("nd") * col("sty") - col("st") * col("sy")) /
          (col("nd") * col("stt") - col("st") * col("st")))
      .withColumn("alpha", (col("sy") - col("beta") * col("st")) / col("nd"))
      .withColumn("e", col("y").cast("double") - col("alpha") -
        col("beta") * col("t0").cast("double"))
      .select(col("day"), col("t0"), col("n"), col("e"))
  }
  /** The SQL twin of [[dailyTrendResiduals]], shared by both oracles. */
  private val dailyResidCtes: String =
    """daily AS (SELECT date_trunc('day', ts) AS day,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY date_trunc('day', ts)),
      |idx AS (SELECT day, y,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t0
      |  FROM daily),
      |m0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(t0 AS DECIMAL(38,0))) AS DOUBLE) AS st,
      |    CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(t0 * t0 AS DECIMAL(38,0))) AS DOUBLE) AS stt,
      |    CAST(sum(CAST(t0 * y AS DECIMAL(38,0))) AS DOUBLE) AS sty
      |  FROM idx),
      |fit AS (SELECT n, CAST(n AS DOUBLE) AS nd, st, sy,
      |    (CAST(n AS DOUBLE) * sty - st * sy)
      |      / (CAST(n AS DOUBLE) * stt - st * st) AS beta
      |  FROM m0),
      |resid AS (SELECT idx.day, idx.t0, fit.n,
      |    CAST(idx.y AS DOUBLE) - ((sy - beta * st) / nd)
      |      - beta * CAST(idx.t0 AS DOUBLE) AS e
      |  FROM idx CROSS JOIN fit)""".stripMargin

  /** Durbin-Watson autocorrelation diagnostic on the daily-trend OLS
    * residuals: DW = Σ(e_t − e_{t−1})² / Σe_t², the standard "are the
    * detrended daily counts serially correlated" screen next to
    * [[statDickeyFuller]] and Refine's Ljung-Box. Per-row terms are
    * quantized to DECIMAL(38,12) so the calendar-bounded sums are
    * order-independent; DW < 1.5 flags positive autocorrelation. */
  def statDurbinWatson(s: SparkSession, d: String): DataFrame = {
    dailyTrendResiduals(s, d)
      .withColumn("ep", lag("e", 1).over(Window.orderBy("t0")))
      .agg(max("n").as("n0"),
        sum(when(col("ep").isNotNull,
          ddec((col("e") - col("ep")) * (col("e") - col("ep")),
            precision = 38, scale = 12)))
          .cast("double").as("num"),
        sum(ddec(col("e") * col("e"), precision = 38, scale = 12))
          .cast("double").as("den"))
      .withColumn("dw", col("num") / when(col("den") > 0, col("den")))
      .select(col("n0").as("n_days"), round(col("dw"), 6).as("dw"),
        round(lit(1.0) - col("dw") / 2.0, 6).as("rho_approx"),
        (col("dw") < 1.5).as("positive_autocorr"))
  }
  val statDurbinWatsonSql: String =
    s"""WITH $dailyResidCtes,
       |lagged AS (SELECT n, e,
       |    lag(e) OVER (ORDER BY t0) AS ep
       |  FROM resid),
       |agg AS (SELECT max(n) AS n0,
       |    CAST(sum(CASE WHEN ep IS NOT NULL THEN
       |        CAST((e - ep) * (e - ep) AS DECIMAL(38,12)) END)
       |      AS DOUBLE) AS num,
       |    CAST(sum(CAST(e * e AS DECIMAL(38,12))) AS DOUBLE) AS den
       |  FROM lagged)
       |SELECT n0 AS n_days,
       |  round(num / nullif(greatest(den, 0), 0), 6) AS dw,
       |  round(1.0 - (num / nullif(greatest(den, 0), 0)) / 2.0, 6)
       |    AS rho_approx,
       |  num / nullif(greatest(den, 0), 0) < 1.5 AS positive_autocorr
       |FROM agg""".stripMargin

  /** Breusch-Pagan heteroskedasticity diagnostic on the same residuals:
    * the LM statistic n·R² of the auxiliary regression of e² on the day
    * index, against the χ²(1) 5% critical value 3.841 — "does the
    * detrended daily-count variance drift over time". Auxiliary moment
    * terms involving e² are per-row quantized to DECIMAL(38,12); the R²
    * chain is one fixed double tree. */
  def statBreuschPagan(s: SparkSession, d: String): DataFrame = {
    dailyTrendResiduals(s, d)
      .withColumn("u", col("e") * col("e"))
      .agg(max("n").as("n0"),
        sum(col("t0").cast(DecimalType(38, 0))).cast("double").as("st"),
        sum(ddec(col("u"), precision = 38, scale = 12)).cast("double").as("su"),
        sum((col("t0") * col("t0")).cast(DecimalType(38, 0)))
          .cast("double").as("stt"),
        sum(ddec(col("t0").cast("double") * col("u"),
          precision = 38, scale = 12)).cast("double").as("stu"),
        sum(ddec(col("u") * col("u"), precision = 38, scale = 12))
          .cast("double").as("suu"))
      .withColumn("nd", col("n0").cast("double"))
      .withColumn("dx", col("nd") * col("stt") - col("st") * col("st"))
      .withColumn("dy", col("nd") * col("suu") - col("su") * col("su"))
      .withColumn("nm", col("nd") * col("stu") - col("st") * col("su"))
      .withColumn("r2", col("nm") * col("nm") /
        when(col("dx") * col("dy") > 0, col("dx") * col("dy")))
      .select(col("n0").as("n_days"),
        round(col("nd") * col("r2"), 6).as("lm_stat"),
        (col("nd") * col("r2") > 3.841).as("heteroskedastic"))
  }
  val statBreuschPaganSql: String =
    s"""WITH $dailyResidCtes,
       |aux AS (SELECT t0, n, e * e AS u FROM resid),
       |agg AS (SELECT max(n) AS n0,
       |    CAST(sum(CAST(t0 AS DECIMAL(38,0))) AS DOUBLE) AS st,
       |    CAST(sum(CAST(u AS DECIMAL(38,12))) AS DOUBLE) AS su,
       |    CAST(sum(CAST(t0 * t0 AS DECIMAL(38,0))) AS DOUBLE) AS stt,
       |    CAST(sum(CAST(CAST(t0 AS DOUBLE) * u AS DECIMAL(38,12)))
       |      AS DOUBLE) AS stu,
       |    CAST(sum(CAST(u * u AS DECIMAL(38,12))) AS DOUBLE) AS suu
       |  FROM aux),
       |fin AS (SELECT n0, CAST(n0 AS DOUBLE) AS nd,
       |    CAST(n0 AS DOUBLE) * stt - st * st AS dx,
       |    CAST(n0 AS DOUBLE) * suu - su * su AS dy,
       |    CAST(n0 AS DOUBLE) * stu - st * su AS nm
       |  FROM agg)
       |SELECT n0 AS n_days,
       |  round(nd * (nm * nm / (CASE WHEN dx * dy > 0 THEN dx * dy END)), 6)
       |    AS lm_stat,
       |  nd * (nm * nm / (CASE WHEN dx * dy > 0 THEN dx * dy END)) > 3.841
       |    AS heteroskedastic
       |FROM fin""".stripMargin

  // ---------- Wilcoxon signed-rank (paired halves) ----------

  /** Wilcoxon signed-rank test of per-user activity drift: each user's
    * event count in the second half of the observation window paired
    * against their first half (the calendar midpoint splits the
    * window), zero differences dropped per the classical treatment.
    * Completes the nonparametric family — Mann-Whitney (independent),
    * Kruskal-Wallis (k groups), Friedman (blocked), and now the paired
    * one-sample case. |d| is integer-valued, so midranks come from the
    * cumulative window over the BOUNDED distinct-|d| table (the
    * Kruskal-Wallis trick) — never a corpus-length ranking; W⁺ sums
    * exact half-integers; the normal approximation with tie correction
    * is one fixed double tree. */
  def statWilcoxonSignedRank(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("user_id"), expr("unix_seconds(ts)").as("es"))
    val mid = ev.agg(expr("(min(es) + max(es)) div 2").as("m"))
    val diffs = ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg((sum(when(col("es") > col("m"), 1L).otherwise(0L)) * 2 -
        count(lit(1))).as("d0"))
      .filter(col("d0") =!= 0)
      .select(col("user_id"), col("d0"), abs(col("d0")).as("ad"))
    val vals = diffs.groupBy("ad").agg(count(lit(1)).as("m2"))
    val w = Window.orderBy("ad") // bounded: distinct |d| values
    val midr = vals
      .withColumn("cum_excl", coalesce(
        sum("m2").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("midrank",
        col("cum_excl").cast("double") + (col("m2").cast("double") + 1.0) / 2.0)
    val agg0 = diffs.join(broadcast(midr.select("ad", "midrank")), "ad")
      .agg(count(lit(1)).as("n"),
        sum(when(col("d0") > 0, col("midrank")).otherwise(0.0)).as("wplus"))
    val ties = midr.agg(sum(
      ddec(col("m2").cast("double") * col("m2") * col("m2") -
        col("m2").cast("double"), precision = 38))
      .cast("double").as("t3"))
    agg0.crossJoin(broadcast(ties))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("mu", col("nd") * (col("nd") + 1.0) / 4.0)
      .withColumn("sig", sqrt(
        col("nd") * (col("nd") + 1.0) * (col("nd") * 2.0 + 1.0) / 24.0 -
          col("t3") / 48.0))
      .withColumn("z", (col("wplus") - col("mu")) /
        when(col("sig") > 0, col("sig")))
      .select(col("n").as("n_nonzero"), round(col("wplus"), 1).as("w_plus"),
        round(col("z"), 6).as("z"),
        (abs(col("z")) > 1.959964).as("significant"))
  }
  val statWilcoxonSignedRankSql: String =
    """WITH ev AS (SELECT user_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
      |mid AS (SELECT (min(es) + max(es)) // 2 AS m FROM ev),
      |diffs AS (SELECT user_id, d0, abs(d0) AS ad FROM (
      |    SELECT user_id,
      |      CAST(sum(CASE WHEN es > m THEN 1 ELSE 0 END) * 2 - count(*)
      |        AS BIGINT) AS d0
      |    FROM ev CROSS JOIN mid GROUP BY user_id)
      |  WHERE d0 <> 0),
      |vals AS (SELECT ad, CAST(count(*) AS BIGINT) AS m2
      |  FROM diffs GROUP BY ad),
      |midr AS (SELECT ad, m2,
      |    CAST(coalesce(sum(m2) OVER (ORDER BY ad
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
      |      + (CAST(m2 AS DOUBLE) + 1.0) / 2.0 AS midrank
      |  FROM vals),
      |agg0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    sum(CASE WHEN d0 > 0 THEN midrank ELSE 0.0 END) AS wplus
      |  FROM diffs JOIN midr USING (ad)),
      |ties AS (SELECT CAST(sum(CAST(CAST(m2 AS DOUBLE) * m2 * m2
      |      - CAST(m2 AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS t3
      |  FROM vals),
      |fin AS (SELECT n, wplus, CAST(n AS DOUBLE) AS nd, t3 FROM agg0
      |  CROSS JOIN ties)
      |SELECT n AS n_nonzero, round(wplus, 1) AS w_plus,
      |  round((wplus - nd * (nd + 1.0) / 4.0)
      |    / nullif(greatest(sqrt(nd * (nd + 1.0) * (2.0 * nd + 1.0) / 24.0
      |      - t3 / 48.0), 0), 0), 6) AS z,
      |  abs((wplus - nd * (nd + 1.0) / 4.0)
      |    / nullif(greatest(sqrt(nd * (nd + 1.0) * (2.0 * nd + 1.0) / 24.0
      |      - t3 / 48.0), 0), 0)) > 1.959964 AS significant
      |FROM fin""".stripMargin

  // ---------- Poisson overdispersion audit ----------

  /** Index-of-dispersion audit of the daily event counts: D = (n−1)s²/ȳ
    * against its χ²(n−1) null — the quick "is daily traffic Poisson or
    * bursty" screen that motivates the negative-binomial treatment
    * downstream (and pairs with [[Refine.eventAnomalyEsd]]'s outlier
    * view). Exact integer moment sums; one fixed double tree. */
  def eventPoissonDispersion(s: SparkSession, d: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    t(s, d, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("y").cast(d38)).cast("double").as("sy"),
        sum((col("y") * col("y")).cast(d38)).cast("double").as("syy"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("mean", col("sy") / col("nd"))
      .withColumn("s2", (col("syy") - col("sy") * col("sy") / col("nd")) /
        (col("nd") - 1.0))
      .withColumn("ratio", col("s2") / when(col("mean") > 0, col("mean")))
      .select(col("n").as("n_days"),
        round(col("mean"), 6).as("mean_daily"),
        round(col("s2"), 6).as("var_daily"),
        round(col("ratio"), 6).as("dispersion"),
        round((col("nd") - 1.0) * col("ratio"), 6).as("chi2_stat"),
        (col("ratio") > 1.5).as("overdispersed"))
  }
  val eventPoissonDispersionSql: String =
    """WITH daily AS (SELECT date_trunc('day', ts) AS day,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY date_trunc('day', ts)),
      |m0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
      |  FROM daily),
      |fin AS (SELECT n, CAST(n AS DOUBLE) AS nd, sy / CAST(n AS DOUBLE)
      |      AS mean,
      |    (syy - sy * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
      |      AS s2
      |  FROM m0)
      |SELECT n AS n_days, round(mean, 6) AS mean_daily,
      |  round(s2, 6) AS var_daily,
      |  round(s2 / nullif(greatest(mean, 0), 0), 6) AS dispersion,
      |  round((nd - 1.0) * (s2 / nullif(greatest(mean, 0), 0)), 6)
      |    AS chi2_stat,
      |  s2 / nullif(greatest(mean, 0), 0) > 1.5 AS overdispersed
      |FROM fin""".stripMargin

  // ---------- Bartlett's test (variance homogeneity) ----------

  /** Bartlett's test of equal variances across the three l_returnflag
    * groups over l_quantity — the parametric counterpart of the
    * registry's Levene test (Bartlett is more powerful under normality,
    * Levene robust to its absence; a pipeline runs both). Group moment
    * sums are exact integers in decimal lanes; the pooled/per-group
    * log-variance combination is one fixed double tree with per-group
    * terms quantized to DECIMAL(38,12) for the k-bounded reduce. */
  def statBartlett(s: SparkSession, d: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val g = t(s, d, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("ni"),
        sum(col("q").cast(d38)).cast("double").as("sy"),
        sum((col("q") * col("q")).cast(d38)).cast("double").as("syy"))
      .withColumn("nid", col("ni").cast("double"))
      .withColumn("s2", (col("syy") - col("sy") * col("sy") / col("nid")) /
        (col("nid") - 1.0))
    val agg0 = g.agg(count(lit(1)).as("k"), sum("ni").as("nn"),
      sum(ddec((col("nid") - 1.0) * col("s2"), precision = 38, scale = 12))
        .cast("double").as("sp_num"),
      sum(ddec((col("nid") - 1.0) * log(col("s2")), precision = 38, scale = 12))
        .cast("double").as("sln"),
      sum(ddec(lit(1.0) / (col("nid") - 1.0), precision = 38, scale = 12))
        .cast("double").as("sinv"))
    agg0
      .withColumn("kd", col("k").cast("double"))
      .withColumn("nd", col("nn").cast("double"))
      .withColumn("sp2", col("sp_num") / (col("nd") - col("kd")))
      .withColumn("num",
        (col("nd") - col("kd")) * log(col("sp2")) - col("sln"))
      .withColumn("cc", lit(1.0) +
        (col("sinv") - lit(1.0) / (col("nd") - col("kd"))) /
          (lit(3.0) * (col("kd") - 1.0)))
      .select(col("nn").as("n_total"), col("k").as("k_groups"),
        round(col("sp2"), 6).as("pooled_var"),
        round(col("num") / col("cc"), 6).as("chi2_stat"),
        (col("num") / col("cc") > 5.991).as("unequal_var"))
  }
  val statBartlettSql: String =
    """WITH g AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS ni,
      |    CAST(sum(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0)))
      |      AS DOUBLE) AS sy,
      |    CAST(sum(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS
      |      BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY l_returnflag),
      |v AS (SELECT ni, CAST(ni AS DOUBLE) AS nid,
      |    (syy - sy * sy / CAST(ni AS DOUBLE)) / (CAST(ni AS DOUBLE) - 1.0)
      |      AS s2
      |  FROM g),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ni) AS BIGINT)
      |      AS nn,
      |    CAST(sum(CAST((nid - 1.0) * s2 AS DECIMAL(38,12))) AS DOUBLE)
      |      AS sp_num,
      |    CAST(sum(CAST((nid - 1.0) * ln(s2) AS DECIMAL(38,12))) AS DOUBLE)
      |      AS sln,
      |    CAST(sum(CAST(1.0 / (nid - 1.0) AS DECIMAL(38,12))) AS DOUBLE)
      |      AS sinv
      |  FROM v),
      |f AS (SELECT k, nn, CAST(k AS DOUBLE) AS kd, CAST(nn AS DOUBLE) AS nd,
      |    sp_num / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)) AS sp2, sln, sinv
      |  FROM a)
      |SELECT nn AS n_total, k AS k_groups, round(sp2, 6) AS pooled_var,
      |  round(((nd - kd) * ln(sp2) - sln)
      |    / (1.0 + (sinv - 1.0 / (nd - kd)) / (3.0 * (kd - 1.0))), 6)
      |    AS chi2_stat,
      |  ((nd - kd) * ln(sp2) - sln)
      |    / (1.0 + (sinv - 1.0 / (nd - kd)) / (3.0 * (kd - 1.0))) > 5.991
      |    AS unequal_var
      |FROM f""".stripMargin

  // ---------- Granger causality (daily event-type series) ----------

  /** Granger causality (one lag) between the two alphabetically-first
    * event types' daily series: does yesterday's X count improve the
    * prediction of today's Y count beyond Y's own lag? F-statistic of
    * the restricted (y on lag-y) vs unrestricted (y on lag-y, lag-x)
    * OLS, both solved in closed form — Cramer's rule on the 3×3 normal
    * equations over exact integer moment sums (daily counts and their
    * lags are integers, so every moment is exact in a decimal lane);
    * the determinant/coefficient/SSE chain is one fixed double tree
    * replayed identically by the oracle. Only days where both series
    * observe (the joined calendar) enter. F compared to the 5%
    * F(1, ∞) = 3.841 critical value (n−3 ≫ 40 here). */
  def statGrangerCausality(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val two = daily.select("event_type").distinct()
      .orderBy("event_type").limit(2)
      .withColumn("role",
        when(col("event_type") === min("event_type").over(Window.orderBy(lit(1))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)),
          lit("x")).otherwise(lit("y")))
    val wide = daily.join(broadcast(two), "event_type")
      .groupBy("day")
      .agg(max(when(col("role") === "x", col("y"))).as("xv"),
        max(when(col("role") === "y", col("y"))).as("yv"))
      .filter(col("xv").isNotNull && col("yv").isNotNull)
    val lagW = Window.orderBy("day")
    val rows = wide
      .withColumn("u", lag("yv", 1).over(lagW))
      .withColumn("v", lag("xv", 1).over(lagW))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .select(col("u"), col("v"), col("yv").as("w"))
    val d38 = DecimalType(38, 0)
    rows.agg(count(lit(1)).as("n"),
        sum(col("u").cast(d38)).cast("double").as("su"),
        sum(col("v").cast(d38)).cast("double").as("sv"),
        sum(col("w").cast(d38)).cast("double").as("sw"),
        sum((col("u") * col("u")).cast(d38)).cast("double").as("suu"),
        sum((col("v") * col("v")).cast(d38)).cast("double").as("svv"),
        sum((col("u") * col("v")).cast(d38)).cast("double").as("suv"),
        sum((col("u") * col("w")).cast(d38)).cast("double").as("suw"),
        sum((col("v") * col("w")).cast(d38)).cast("double").as("svw"),
        sum((col("w") * col("w")).cast(d38)).cast("double").as("sww"))
      .withColumn("nd", col("n").cast("double"))
      // unrestricted: Cramer's rule on [nd su sv; su suu suv; sv suv svv]
      .withColumn("det", col("nd") * (col("suu") * col("svv") -
          col("suv") * col("suv")) -
        col("su") * (col("su") * col("svv") - col("suv") * col("sv")) +
        col("sv") * (col("su") * col("suv") - col("suu") * col("sv")))
      .withColumn("da", col("sw") * (col("suu") * col("svv") -
          col("suv") * col("suv")) -
        col("su") * (col("suw") * col("svv") - col("suv") * col("svw")) +
        col("sv") * (col("suw") * col("suv") - col("suu") * col("svw")))
      .withColumn("db", col("nd") * (col("suw") * col("svv") -
          col("suv") * col("svw")) -
        col("sw") * (col("su") * col("svv") - col("suv") * col("sv")) +
        col("sv") * (col("su") * col("svw") - col("suw") * col("sv")))
      .withColumn("dc", col("nd") * (col("suu") * col("svw") -
          col("suw") * col("suv")) -
        col("su") * (col("su") * col("svw") - col("suw") * col("sv")) +
        col("sw") * (col("su") * col("suv") - col("suu") * col("sv")))
      .withColumn("a", col("da") / when(abs(col("det")) > 0, col("det")))
      .withColumn("b", col("db") / when(abs(col("det")) > 0, col("det")))
      .withColumn("c", col("dc") / when(abs(col("det")) > 0, col("det")))
      .withColumn("sse_u", col("sww") - col("a") * col("sw") -
        col("b") * col("suw") - col("c") * col("svw"))
      // restricted: y on lag-y only
      .withColumn("den_r",
        col("nd") * col("suu") - col("su") * col("su"))
      .withColumn("br", (col("nd") * col("suw") - col("su") * col("sw")) /
        when(abs(col("den_r")) > 0, col("den_r")))
      .withColumn("ar", (col("sw") - col("br") * col("su")) / col("nd"))
      .withColumn("sse_r", col("sww") - col("ar") * col("sw") -
        col("br") * col("suw"))
      .withColumn("f", (col("sse_r") - col("sse_u")) /
        when(col("sse_u") > 0, col("sse_u") / (col("nd") - 3.0)))
      .select(col("n").as("n_obs"),
        round(col("b"), 6).as("coef_lag_y"),
        round(col("c"), 6).as("coef_lag_x"),
        round(col("f"), 6).as("f_stat"),
        (col("f") > 3.841).as("granger_causes"))
  }
  val statGrangerCausalitySql: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |two AS (SELECT event_type,
      |    CASE WHEN event_type = min(event_type) OVER () THEN 'x'
      |      ELSE 'y' END AS role
      |  FROM (SELECT DISTINCT event_type FROM daily
      |    ORDER BY event_type LIMIT 2)),
      |wide AS (SELECT day,
      |    max(CASE WHEN role = 'x' THEN y END) AS xv,
      |    max(CASE WHEN role = 'y' THEN y END) AS yv
      |  FROM daily JOIN two USING (event_type) GROUP BY day),
      |ok AS (SELECT day, xv, yv FROM wide
      |  WHERE xv IS NOT NULL AND yv IS NOT NULL),
      |lagged AS (SELECT yv AS w,
      |    lag(yv) OVER (ORDER BY day) AS u,
      |    lag(xv) OVER (ORDER BY day) AS v
      |  FROM ok),
      |r AS (SELECT u, v, w FROM lagged
      |  WHERE u IS NOT NULL AND v IS NOT NULL),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(u AS DECIMAL(38,0))) AS DOUBLE) AS su,
      |    CAST(sum(CAST(v AS DECIMAL(38,0))) AS DOUBLE) AS sv,
      |    CAST(sum(CAST(w AS DECIMAL(38,0))) AS DOUBLE) AS sw,
      |    CAST(sum(CAST(u * u AS DECIMAL(38,0))) AS DOUBLE) AS suu,
      |    CAST(sum(CAST(v * v AS DECIMAL(38,0))) AS DOUBLE) AS svv,
      |    CAST(sum(CAST(u * v AS DECIMAL(38,0))) AS DOUBLE) AS suv,
      |    CAST(sum(CAST(u * w AS DECIMAL(38,0))) AS DOUBLE) AS suw,
      |    CAST(sum(CAST(v * w AS DECIMAL(38,0))) AS DOUBLE) AS svw,
      |    CAST(sum(CAST(w * w AS DECIMAL(38,0))) AS DOUBLE) AS sww
      |  FROM r),
      |s1 AS (SELECT m.*, CAST(n AS DOUBLE) AS nd,
      |    CAST(n AS DOUBLE) * (suu * svv - suv * suv)
      |      - su * (su * svv - suv * sv)
      |      + sv * (su * suv - suu * sv) AS det,
      |    sw * (suu * svv - suv * suv)
      |      - su * (suw * svv - suv * svw)
      |      + sv * (suw * suv - suu * svw) AS da,
      |    CAST(n AS DOUBLE) * (suw * svv - suv * svw)
      |      - sw * (su * svv - suv * sv)
      |      + sv * (su * svw - suw * sv) AS db,
      |    CAST(n AS DOUBLE) * (suu * svw - suw * suv)
      |      - su * (su * svw - suw * sv)
      |      + sw * (su * suv - suu * sv) AS dc
      |  FROM m),
      |s2 AS (SELECT s1.*,
      |    da / nullif(det, 0) AS a, db / nullif(det, 0) AS b,
      |    dc / nullif(det, 0) AS c,
      |    (CAST(n AS DOUBLE) * suw - su * sw)
      |      / nullif(CAST(n AS DOUBLE) * suu - su * su, 0) AS br
      |  FROM s1),
      |s3 AS (SELECT s2.*,
      |    sww - a * sw - b * suw - c * svw AS sse_u,
      |    sww - ((sw - br * su) / nd) * sw - br * suw AS sse_r
      |  FROM s2),
      |s4 AS (SELECT s3.*,
      |    (sse_r - sse_u)
      |      / (CASE WHEN sse_u > 0 THEN sse_u / (nd - 3.0) END) AS f
      |  FROM s3)
      |SELECT n AS n_obs, round(b, 6) AS coef_lag_y,
      |  round(c, 6) AS coef_lag_x, round(f, 6) AS f_stat,
      |  f > 3.841 AS granger_causes
      |FROM s4""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_bartlett" -> (statBartlett _),
    "stat_granger_causality" -> (statGrangerCausality _),
    "stat_wilcoxon_signed_rank" -> (statWilcoxonSignedRank _),
    "event_poisson_dispersion" -> (eventPoissonDispersion _),
    "stat_durbin_watson" -> (statDurbinWatson _),
    "stat_breusch_pagan" -> (statBreuschPagan _),
    "graph_degree_assortativity" -> (graphDegreeAssortativity _),
    "stat_cronbach_alpha" -> (statCronbachAlpha _),
    "event_entropy_rate" -> (eventEntropyRate _),
    "text_heaps_fit" -> (textHeapsFit _),
    "stat_friedman" -> (statFriedman _),
    "stat_cohens_kappa" -> (statCohensKappa _),
    "event_forecast_holt" -> (eventForecastHolt _),
    "emb_isotropy" -> (embIsotropy _),
    "text_mattr" -> (textMattr _),
    "graph_clustering_coeff" -> (graphClusteringCoeff _),
    "stat_dickey_fuller" -> (statDickeyFuller _),
    "privacy_t_closeness" -> (privacyTCloseness _),
    "stat_kruskal_wallis" -> (statKruskalWallis _),
    "dedup_cdc_chunks" -> (dedupCdcChunks _),
    "privacy_l_diversity" -> (privacyLDiversity _),
    "event_changepoint" -> (eventChangepoint _),
    "stat_jarque_bera" -> (statJarqueBera _),
    "scan_orc_roundtrip" -> (scanOrcRoundtrip _),
    "text_rake_keywords" -> (textRakeKeywords _),
    "stat_hurst" -> (statHurst _))

  val oracle: Map[String, String] = Map(
    "stat_bartlett" -> statBartlettSql,
    "stat_granger_causality" -> statGrangerCausalitySql,
    "stat_wilcoxon_signed_rank" -> statWilcoxonSignedRankSql,
    "event_poisson_dispersion" -> eventPoissonDispersionSql,
    "stat_durbin_watson" -> statDurbinWatsonSql,
    "stat_breusch_pagan" -> statBreuschPaganSql,
    "graph_degree_assortativity" -> graphDegreeAssortativitySql,
    "stat_cronbach_alpha" -> statCronbachAlphaSql,
    "event_entropy_rate" -> eventEntropyRateSql,
    "text_heaps_fit" -> textHeapsFitSql,
    "stat_friedman" -> statFriedmanSql,
    "stat_cohens_kappa" -> statCohensKappaSql,
    "event_forecast_holt" -> eventForecastHoltSql,
    "emb_isotropy" -> embIsotropySql,
    "text_mattr" -> textMattrSql,
    "graph_clustering_coeff" -> graphClusteringCoeffSql,
    "stat_dickey_fuller" -> statDickeyFullerSql,
    "privacy_t_closeness" -> privacyTClosenessSql,
    "stat_kruskal_wallis" -> statKruskalWallisSql,
    "dedup_cdc_chunks" -> dedupCdcChunksSql,
    "privacy_l_diversity" -> privacyLDiversitySql,
    "event_changepoint" -> eventChangepointSql,
    "stat_jarque_bera" -> statJarqueBeraSql,
    "scan_orc_roundtrip" -> scanOrcRoundtripSql,
    "text_rake_keywords" -> textRakeKeywordsSql,
    "stat_hurst" -> statHurstSql)
}
