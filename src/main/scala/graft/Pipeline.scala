package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** Training-data pipeline operators over the `documents`, `embeddings` and
  * `events` tables: text analysis, deduplication (exact / MinHash-LSH /
  * SimHash / n-gram Jaccard), similarity search (brute-force + LSH), and
  * event sessionization.
  *
  * Scale design: every operator is a pure DataFrame pipeline — shingling
  * and hashing are per-row (map-side), candidate generation goes through
  * hash-bucket shuffles (LSH bands / MinHash buckets) rather than global
  * cross or blocked joins, and nothing collects to the driver. At 100 TB
  * the same plans shard by bucket. The intentionally-quadratic brute-force
  * twins that the specs check these plans against live in the test tree
  * (`graft.DedupBrute`).
  */
object Pipeline {

  private val wordsExpr = "split(trim(text), '\\\\s+')"

  // ---------- text analysis ----------

  /** Token counting: whitespace tokens, BPE-ish subword estimate, distinct
    * words (north-star text analysis op). */
  def textTokens(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("char_len"),
        expr(s"size($wordsExpr)").cast("long").as("word_count"),
        expr(s"size(array_distinct($wordsExpr))").cast("long").as("distinct_words"),
        ceil(length(col("text")) / 4.0).cast("long").as("est_bpe_tokens"),
        length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("chars_no_ws"))
      .withColumn("avg_word_len",
        round(col("chars_no_ws").cast("double") / col("word_count"), 6))
      .orderBy("doc_id")
  val textTokensSql: String =
    raw"""SELECT doc_id,
         |  length(text) AS char_len,
         |  len(string_split_regex(trim(text), '\s+')) AS word_count,
         |  len(list_distinct(string_split_regex(trim(text), '\s+'))) AS distinct_words,
         |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens,
         |  length(regexp_replace(text, '\s+', '', 'g')) AS chars_no_ws,
         |  round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
         |    / len(string_split_regex(trim(text), '\s+')), 6) AS avg_word_len
         |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality scoring: alpha/punct/stopword ratios + composite score. */
  def textQuality(s: SparkSession, d: String): DataFrame = {
    val stop = "('the','a','and','of','to','in','is','it')"
    // raw (unrounded) ratios feed the composite so the final round never
    // sits on a decimal boundary; displayed ratios are rounded copies
    val alphaRaw = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
      .cast("double") / length(col("text"))
    val punctRaw = length(regexp_replace(col("text"), "[^.,!?;:]", ""))
      .cast("double") / length(col("text"))
    t(s, d, "documents")
      .select(
        col("doc_id"),
        expr(s"size($wordsExpr)").cast("long").as("wc"),
        round(alphaRaw, 6).as("alpha_ratio"),
        round(punctRaw, 6).as("punct_ratio"),
        expr(s"size(filter($wordsExpr, w -> w IN $stop))")
          .cast("long").as("stopword_count"),
        round(lit(0.5) * alphaRaw + lit(0.3) * (lit(1.0) - punctRaw)
          + lit(0.2) * least(lit(1.0),
            expr(s"size($wordsExpr)").cast("long") / 100.0), 6)
          .as("quality_score"))
      .withColumn("stopword_ratio",
        round(col("stopword_count").cast("double") / col("wc"), 6))
      .orderBy("doc_id")
  }
  val textQualitySql: String =
    raw"""WITH base AS (SELECT doc_id, text,
         |    string_split_regex(trim(text), '\s+') AS w FROM documents)
         |SELECT doc_id, len(w) AS wc,
         |  round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |    / length(text), 6) AS alpha_ratio,
         |  round(CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
         |    / length(text), 6) AS punct_ratio,
         |  len(list_filter(w, x ->
         |    x IN ('the','a','and','of','to','in','is','it'))) AS stopword_count,
         |  round(0.5 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |      / length(text))
         |    + 0.3 * (1.0 - CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
         |      / length(text))
         |    + 0.2 * least(1.0, len(w) / 100.0), 6) AS quality_score,
         |  round(CAST(len(list_filter(w, x ->
         |    x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
         |    / len(w), 6) AS stopword_ratio
         |FROM base ORDER BY doc_id""".stripMargin

  /** Gopher-style repetition signals (Rae et al. 2021, "Scaling Language
    * Models", appendix A1.1): share of tokens taken by the most common
    * word, share of tokens whose word occurs more than once, and the most
    * common bigram's share. High values flag boilerplate/spam documents
    * for pre-training filtering. Token-level explode + keyed aggregation —
    * shuffles by (doc_id, token) then (doc_id), both linear in corpus
    * size with no per-doc driver work; at 100 TB this is two hash
    * exchanges over the token stream, the same shape as a word-count. */
  def textRepetition(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), expr(wordsExpr).as("ws"))
    val words = docs.select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        max(col("c")).as("top_word_n"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_word_n"))
    // slice-zip bigrams (safe at size < 2: both slices are empty, unlike
    // sequence(0, size-2), which would DESCEND for a 1-word doc)
    val bigramExpr =
      """zip_with(
        |  slice(ws, 1, greatest(size(ws) - 1, 0)),
        |  slice(ws, 2, greatest(size(ws) - 1, 0)),
        |  (a, b) -> concat(a, ' ', b))""".stripMargin
    val bigrams = docs
      .select(col("doc_id"), explode(expr(bigramExpr)).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_bigram_n"), sum(col("c")).as("n_bigrams"))
    // left join: a doc with a single word has no bigrams (null frac)
    words.join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
        (col("top_word_n").cast("double") / col("n_words")).as("top_word_frac"),
        (col("dup_word_n").cast("double") / col("n_words")).as("dup_word_frac"),
        (col("top_bigram_n").cast("double") / col("n_bigrams"))
          .as("top_bigram_frac"))
      .orderBy("doc_id")
  }
  val textRepetitionSql: String =
    raw"""WITH d AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\s+') AS ws FROM documents),
         |w AS (SELECT doc_id, unnest(ws) AS w FROM d),
         |wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
         |wagg AS (SELECT doc_id, sum(c) AS n_words, max(c) AS top_word_n,
         |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_word_n
         |  FROM wc GROUP BY 1),
         |b AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
         |    i -> ws[i] || ' ' || ws[i + 1])) AS b FROM d),
         |bc AS (SELECT doc_id, b, count(*) AS c FROM b GROUP BY 1, 2),
         |bagg AS (SELECT doc_id, max(c) AS top_bigram_n,
         |    sum(c) AS n_bigrams FROM bc GROUP BY 1)
         |SELECT wagg.doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  CAST(top_word_n AS DOUBLE) / CAST(n_words AS DOUBLE)
         |    AS top_word_frac,
         |  CAST(dup_word_n AS DOUBLE) / CAST(n_words AS DOUBLE)
         |    AS dup_word_frac,
         |  CAST(top_bigram_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
         |    AS top_bigram_frac
         |FROM wagg LEFT JOIN bagg USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Document fingerprinting: digest of whitespace-normalized text (and of
    * its 64-char prefix, a cheap near-dup probe). */
  def textFingerprint(s: SparkSession, d: String): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    t(s, d, "documents")
      .select(
        col("doc_id"),
        md5(norm.cast("binary")).as("fingerprint"),
        md5(substring(norm, 1, 64).cast("binary")).as("prefix_fp"),
        length(norm).cast("long").as("norm_len"))
      .orderBy("doc_id")
  }
  val textFingerprintSql: String =
    raw"""WITH base AS (SELECT doc_id,
         |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
         |  FROM documents)
         |SELECT doc_id, md5(norm) AS fingerprint,
         |  md5(substr(norm, 1, 64)) AS prefix_fp,
         |  length(norm) AS norm_len
         |FROM base ORDER BY doc_id""".stripMargin

  /** Language ID by marker-token n-gram profile — a heuristic scorer.
    * Fully oracle-checked: the profile tables are literals in both engines
    * and DuckDB's struct `list_max` uses the same lexicographic
    * (score, lang) comparison as Spark's `array_max` of structs. */
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"), "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "und", "die"), "fr" -> Seq("le", "et", "les"),
    "zh" -> Seq("zh", "ch", "sh"))

  def textLangId(s: SparkSession, d: String): DataFrame = {
    val profiles = langProfiles
    val scored = profiles.foldLeft(t(s, d, "documents")) { case (df, (lang, markers)) =>
      val markerList = markers.map(m => s"'$m'").mkString("(", ",", ")")
      val bigrams = markers.filter(_.length == 2)
      val bigramScore =
        if (bigrams.isEmpty) "0.0"
        else {
          val bgList = bigrams.map(m => s"'$m'").mkString("(", ",", ")")
          s"""0.1 * size(filter(
             |  transform(sequence(1, greatest(length(text) - 1, 1)),
             |    i -> substring(text, i, 2)),
             |  bg -> bg IN $bgList))""".stripMargin
        }
      df.withColumn(s"score_$lang",
        expr(s"cast(size(filter($wordsExpr, w -> w IN $markerList)) as double) + $bigramScore"))
    }
    val scores = array(profiles.map { case (lang, _) =>
      struct(col(s"score_$lang").as("score"), lit(lang).as("lang"))
    }: _*)
    scored
      .withColumn("best", array_max(scores))
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        col("best.lang").as("predicted_lang"), col("best.score").as("score"))
      .orderBy("doc_id")
  }
  val textLangIdSql: String = {
    def scoreSql(markers: Seq[String]): String = {
      val markerList = markers.map(m => s"'$m'").mkString("(", ",", ")")
      val bigrams = markers.filter(_.length == 2)
      val bigramScore =
        if (bigrams.isEmpty) "0.0"
        else {
          val bgList = bigrams.map(m => s"'$m'").mkString("(", ",", ")")
          s"""0.1 * len(list_filter(
             |      list_transform(generate_series(1, greatest(length(text) - 1, 1)),
             |        i -> substr(text, i, 2)), bg -> bg IN $bgList))""".stripMargin
        }
      s"CAST(len(list_filter(w, x -> x IN $markerList)) AS DOUBLE) + $bigramScore"
    }
    val cands = langProfiles.map { case (lang, markers) =>
      s"struct_pack(score := ${scoreSql(markers)}, lang := '$lang')"
    }.mkString("[\n    ", ",\n    ", "]")
    raw"""WITH base AS (SELECT doc_id, lang, text,
         |    string_split_regex(trim(text), '\s+') AS w FROM documents),
         |scored AS (SELECT doc_id, lang, $cands AS cands FROM base)
         |SELECT doc_id, lang AS labeled_lang,
         |  (list_max(cands)).lang AS predicted_lang,
         |  (list_max(cands)).score AS score
         |FROM scored ORDER BY doc_id""".stripMargin
  }

  // ---------- deduplication ----------

  /** Exact dedup summary over normalized-text digests. */
  def dedupExact(s: SparkSession, d: String): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    t(s, d, "documents")
      .select(col("doc_id"), md5(norm.cast("binary")).as("k"))
      .groupBy("k").agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .agg(
        count(lit(1)).as("n_unique"),
        sum("n_copies").as("n_docs"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
        (sum("n_copies") - count(lit(1))).as("n_removed"))
  }
  val dedupExactSql: String =
    raw"""WITH groups AS (
         |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS k,
         |    min(doc_id) AS keep_id, count(*) AS n_copies
         |  FROM documents GROUP BY k)
         |SELECT count(*) AS n_unique,
         |  CAST(sum(n_copies) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_groups,
         |  CAST(sum(n_copies) - count(*) AS BIGINT) AS n_removed
         |FROM groups""".stripMargin

  /** Near-dup groups sharing a normalized 60-char prefix (hash-groupBy —
    * the exact-dedup plan shape on a weaker key). */
  def dedupPrefixGroups(s: SparkSession, d: String): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    t(s, d, "documents")
      .select(col("doc_id"), md5(substring(norm, 1, 60).cast("binary")).as("k"))
      .groupBy("k")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
        concat_ws(",", sort_array(collect_list(col("doc_id")))).as("members"))
      .filter(col("n_copies") > 1)
      .select("keep_id", "n_copies", "members")
      .orderBy("keep_id")
  }
  val dedupPrefixGroupsSql: String =
    raw"""WITH groups AS (
         |  SELECT md5(substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
         |      1, 60)) AS k,
         |    min(doc_id) AS keep_id, count(*) AS n_copies,
         |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
         |  FROM documents GROUP BY k)
         |SELECT keep_id, n_copies, members FROM groups
         |WHERE n_copies > 1 ORDER BY keep_id""".stripMargin

  // The word split is BOUND to a lambda variable so it evaluates once
  // per row: `element_at(split(text), i)` written inline would re-split
  // the text on every element of the transform (O(words²) string work
  // per document — measured ~2× of text_decontaminate's 10×-corpus
  // runtime). transform over a 1-element array is the cheapest
  // let-binding Spark SQL offers.
  // Round 15: the distinct-trigram set rides the WordTrigramSet kernel —
  // one generated loop per document instead of ~3 interpreted lambda
  // closures per gram; [[gramsExprHof]] keeps the HOF formulation as
  // executable documentation (pinned row-equal in PipelineSpec).
  private[graft] val gramsExpr: Column =
    org.apache.spark.sql.graftcol.NativeColumn.column(
      graft.functions.WordTrigramSet(
        org.apache.spark.sql.graftcol.NativeColumn.expression(expr(wordsExpr))))

  /** The pre-round-15 HOF formulation of [[gramsExpr]] — executable
    * documentation of what [[graft.functions.WordTrigramSet]] computes,
    * including the `[null]` short-document edge. */
  private[graft] val gramsExprHof = expr(
    s"""transform(array($wordsExpr), w ->
       |  array_distinct(transform(
       |    sequence(1, greatest(size(w) - 2, 1)),
       |    i -> concat(element_at(w, i), ' ',
       |                element_at(w, i + 1), ' ',
       |                element_at(w, i + 2)))))[0]""".stripMargin)

  /** Word n-gram Jaccard near-dup pairs over the WHOLE corpus. Candidate
    * generation is MinHash banding (16 seeded min-gram-hashes, 1 hash per
    * band — single-hash bands because the 0.2 report threshold is low and
    * per-band collision probability equals the pair's Jaccard), followed by
    * an exact Jaccard verify inside buckets. Candidates only ever meet
    * through an equi-join on (band, min-hash) — no per-`source` block whose
    * hottest source degenerates quadratically, and no cross join. At 100 TB
    * the same plan shards by bucket; raise the seed count to trade shuffle
    * volume for recall at low thresholds.
    *
    * Round-10 exact-copy short-circuit (the [[dedupSubstring]] pattern):
    * documents with identical gram arrays collapse to one REPRESENTATIVE
    * before banding — at real duplication rates most LSH candidates ARE
    * exact copies, so banding/verification run on the distinct-content
    * subset only (10× fewer docs at the 10× replicated corpus) and the
    * full pair set is reconstructed exactly afterward: within-group pairs
    * are Jaccard 1.0 by identity, cross-group pairs inherit their
    * representatives' verified Jaccard (equal gram sets ⇒ equal Jaccard).
    * Candidate (rep1, rep2) pairs are also deduplicated BEFORE the exact
    * verify, so a pair colliding in all 16 bands is verified once, not 16
    * times. Output is unchanged — the oracle and the banded==brute spec
    * still check the full pair set.
    *
    * On oracle pairing: banding recall is probabilistic over corpora
    * (1−(1−J)^16 per pair) but fully deterministic for a given corpus —
    * the hashes are seeded constants. The exact all-pairs oracle and the
    * banded==brute spec are verified to agree on every driver corpus
    * (sf0.001/0.01/0.1); a future corpus with a borderline pair that
    * all 16 seeds miss would surface as an explicit gate failure, not a
    * silent wrong answer, and the fix is raising the seed count. */
  def dedupNgramJaccard(s: SparkSession, d: String): DataFrame = {
    val nSeeds = 16
    // round-11: the gram STRINGS never leave the generated loop —
    // word_ngram_hashes emits each doc's distinct grams as xxhash64
    // longs, so the content-group key (xxhash64 of the hash array),
    // the banding, AND the verification intersection all shuffle
    // 8-byte integers. |intersect| / |union| equal the string-set
    // versions absent an xxhash64 collision among a pair's ≤2·|grams|
    // values (P ≈ 2⁻⁴⁸ per pair) — the per-corpus determinism argument
    // the banding hash already rests on; the exact string-set oracle
    // and the banded==brute spec would fail loudly.
    val docs = t(s, d, "documents")
      .select(col("doc_id"),
        org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.NgramHashes(
            org.apache.spark.sql.graftcol.NativeColumn.expression(
              expr(wordsExpr)), 3)).as("hs"))
      .withColumn("gh", xxhash64(col("hs")))
    // the hashed grams ride the member pin (one kernel run per document);
    // the seeded min-gram-hash bands fold once per rep, and the
    // posexplode position IS the band index
    val (members, reps) = contentReps(docs, "doc_id", "gh") { _ => Seq(
      org.apache.spark.sql.graftcol.NativeColumn.column(
        graft.functions.BandedMinLongHashes(
          org.apache.spark.sql.graftcol.NativeColumn.expression(col("hs")),
          nSeeds)).as("bmh")) }
    val banded = reps.select(col("rep"), posexplode(col("bmh")).as(Seq("band", "bh")))
    // candidate rep pairs, deduped BEFORE the exact verify
    val cands = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.rep") < col("y.rep"))
      .select(col("x.rep").as("r1"), col("y.rep").as("r2")).distinct()
    val repPairs = cands
      .join(reps.select(col("rep").as("r1"), col("hs").as("h1")), "r1")
      .join(reps.select(col("rep").as("r2"), col("hs").as("h2")), "r2")
      .withColumn("ni", size(array_intersect(col("h1"), col("h2"))))
      .withColumn("jaccard", round(col("ni").cast("double") /
        (size(col("h1")) + size(col("h2")) - col("ni")), 6))
      .filter(col("jaccard") >= 0.2)
      .select("r1", "r2", "jaccard")
    // cross-group pairs inherit the rep Jaccard; within-group pairs are
    // exact copies (Jaccard 1.0)
    expandRepPairs(members, "doc_id", repPairs,
      reps.select(col("rep"), lit(1.0).as("jaccard")), "doc1", "doc2")
      .orderBy("doc1", "doc2")
  }
  val dedupNgramJaccardSql: String =
    raw"""WITH docs AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(string_split_regex(trim(text), '\s+')) - 2, 1)),
         |    i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
         |         string_split_regex(trim(text), '\s+')[i + 1] || ' ' ||
         |         string_split_regex(trim(text), '\s+')[i + 2])) AS g
         |  FROM documents)
         |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |  round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard
         |FROM docs a JOIN docs b
         |  ON a.doc_id < b.doc_id
         |WHERE round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.g, b.g))), 6) >= 0.2
         |ORDER BY doc1, doc2""".stripMargin

  // single-sourced from the native kernel so the band keys, the oracle
  // SQL generation, and the generated JVM loop can never drift
  private[graft] val NumHashes = graft.functions.MinHashSignature.NumHashes
  private[graft] val BandSize = graft.functions.MinHashSignature.BandSize

  /** The md5-seeded hyperplane coefficients as driver values — consumed
    * by the [[graft.functions.HyperplaneSigs]] kernel directly and
    * rendered to the plan/oracle literal by [[planeMatrix]], so the
    * kernel and the SQL twin read the exact same doubles.
    *
    * The hyperplane coefficient matrix used by the embedding-LSH family
    * is a CONSTANT — it depends only on (plane, dim), not on the row —
    * so derive it ONCE driver-side (identical md5-lane arithmetic to the
    * SQL the oracle still runs) and embed it as a nested array literal
    * that Catalyst constant-folds. The previous in-expression derivation
    * recomputed 64·d md5 calls PER ROW (~82M md5s across the 10× corpus
    * per operator — measured 2–3× of each operator's runtime). Driver
    * cost is 64·d hashes; the literal is 64·d doubles — the same bounded
    * bookkeeping as the IVF centroid literal. */
  private[graft] def planeValues(nPlanes: Int, d: Int): Array[Array[Double]] = {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    def lane(sx: String): Long = {
      val hex = mdig.digest(sx.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    (0 until nPlanes).map { p =>
      (0 until d).map { i =>
        (lane(s"plane${p}_$i") % 1000).toDouble / 1000.0 - 0.5
      }.toArray
    }.toArray
  }
  private def planeMatrix(nPlanes: Int, d: Int): String =
    planeValues(nPlanes, d).map(_.map(c => s"${c}D")
      .mkString("array(", ",", ")")).mkString("array(", ",", ")")
  /** Embedding width, probed from one row at plan time (driver-sized). */
  private def embDim(s: SparkSession, d: String): Int =
    t(s, d, "embeddings").select(size(col("embedding"))).head.getInt(0)

  /** Modulus for the MinHash lane family: 2^31-1 (Mersenne prime). Lane
    * values stay < 2^31 so `j * b + a` (j < [[NumHashes]]) can never
    * overflow a 64-bit long under ANSI arithmetic. */
  private val LaneP = graft.functions.MinHashSignature.LaneP

  /** MinHash signatures: per doc, character-8-gram shingles; ONE md5 per
    * shingle split into two 60-bit halves reduced mod [[LaneP]], with lane
    * j the universal hash `(a + j*b) mod P` (Broder's seeded-permutation
    * family, as production MinHash libraries implement it). The naive
    * alternative — [[NumHashes]] independent seeded md5s per shingle — is
    * ~16× the hashing work and dominated the whole dedup family's runtime
    * at the 10× corpus. The fold keeps one md5 evaluation per shingle:
    * each (a,b) struct updates all [[NumHashes]] running minima.
    *
    * Round-11: the signature now evaluates through the native codegen'd
    * kernel ([[graft.functions.MinHashSignature]]) — one generated loop
    * per document instead of per-shingle interpreter re-entry for the
    * substring/md5/conv/array_min chain. Same md5 halves, same
    * universal-hash lanes, same minima; [[minhashSignatureHof]] keeps
    * the pure-SQL formulation alive for the equivalence spec (and as
    * executable documentation of what the kernel computes). */
  private[graft] def minhashSignature: Column =
    org.apache.spark.sql.graftcol.NativeColumn.column(
      graft.functions.MinHashSignature(
        org.apache.spark.sql.graftcol.NativeColumn.expression(col("text"))))

  private[graft] def minhashSignatureHof: Column = {
    val shingles =
      """array_distinct(transform(
        |  sequence(1, greatest(length(text) - 7, 1)),
        |  i -> substring(text, i, 8)))""".stripMargin
    // two-level transform so each shingle is md5'd ONCE (higher-order
    // lambdas are interpreted without common-subexpression elimination,
    // so md5(s) written inside both struct fields evaluated twice), and
    // lane-major minima (16 array_min passes over the shingle lanes)
    // instead of the shingle-major fold whose accumulator allocated a
    // fresh 16-long array per shingle. Values are identical to the
    // native kernel: same md5 halves, same universal-hash lanes, same
    // minima.
    expr(
      s"""transform(array(
         |    transform(transform($shingles, s -> md5(s)), h -> named_struct(
         |      'a', pmod(cast(conv(substring(h, 1, 15), 16, 10) as bigint), ${LaneP}L),
         |      'b', pmod(cast(conv(substring(h, 17, 15), 16, 10) as bigint), ${LaneP}L)))),
         |  ps -> transform(sequence(0, ${NumHashes - 1}),
         |    j -> array_min(transform(ps, p -> pmod(p.a + j * p.b, ${LaneP}L)))))[0]"""
        .stripMargin)
  }

  /** LSH band keys over a signature column named `mh`: an array of
    * (band, bh) structs, bh the comma-joined text of the band's
    * [[BandSize]] lanes (portable across engines). The SINGLE source of
    * the band-key format — the batch operators, the incremental dedup,
    * and the streaming ingest (graft.streaming.DedupStream) all explode
    * this same expression, so a format change cannot desync one
    * consumer's bucket join from the others. */
  private[graft] def minhashBandStructs: Column = expr(
    s"""transform(sequence(0, ${NumHashes / BandSize - 1}),
       |  b -> named_struct(
       |    'band', b,
       |    'bh', concat_ws(',',
       |      transform(slice(mh, b * $BandSize + 1, $BandSize),
       |        x -> cast(x as string)))))""".stripMargin)

  /** `round(#equal lanes / NumHashes, 4)` through the codegen'd
    * [[graft.functions.EqualLaneCount]] kernel — bit-identical to the
    * `size(filter(zip_with(a, b, (x, y) -> x = y), v -> v)) / 32.0`
    * HOF it replaces (MinHashSpec pins the two equal): the int count
    * promotes to double through the same Divide, and the kernel replays
    * zip_with's null/ragged semantics. One generated loop per candidate
    * pair instead of three interpreted lambdas. */
  private def estJaccard(a: Column, b: Column): Column =
    round(org.apache.spark.sql.graftcol.NativeColumn.column(
      graft.functions.EqualLaneCount(
        org.apache.spark.sql.graftcol.NativeColumn.expression(a),
        org.apache.spark.sql.graftcol.NativeColumn.expression(b)))
      / lit(NumHashes).cast("double"), 4)

  /** [[Q.contentReps]] over the documents keyed by the md5 of their
    * text: the text is read again for the representatives only, where
    * `sigs` fold over it. */
  private def textReps(s: SparkSession, d: String)(
      sigs: Column*): (DataFrame, DataFrame) = {
    val docs = t(s, d, "documents")
    contentReps(
      docs.select(col("doc_id"), md5(col("text").cast("binary")).as("th")),
      "doc_id", "th", Some(docs.select("doc_id", "text")))(_ => sigs)
  }

  /** Distinct-content scaffolding shared by the MinHash family
    * (round-10 exact-copy short-circuit, round-11 extracted so
    * [[dedupGroups]] can consume REP pairs without reconstructing the
    * full pair set): signatures, banding, and the lane-agreement
    * estimate run on distinct-content representatives only — identical
    * texts produce identical signatures, so banding recall and every
    * estimate are unchanged. Returns (members: one (doc_id, th, rep) row
    * per document; reps: the pinned signatures; repPairs: verified
    * representative pairs (r1 < r2) with est_jaccard ≥ 0.5). */
  private def minhashReps(s: SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame) = {
    val (members, reps) = textReps(s, d)(minhashSignature.as("mh"))
    val bands = reps.select(col("rep"), col("mh"),
        explode(minhashBandStructs).as("band"))
      .select(col("rep"), col("mh"), col("band.band").as("band"),
        col("band.bh").as("bh"))
    val a = bands.select(col("band"), col("bh"), col("rep").as("r1"),
      col("mh").as("mh1"))
    val b = bands.select(col("band").as("band2"), col("bh").as("bh2"),
      col("rep").as("r2"), col("mh").as("mh2"))
    val repPairs = a.join(b,
        col("band") === col("band2") && col("bh") === col("bh2") &&
          col("r1") < col("r2"))
      .select(col("r1"), col("r2"), col("mh1"), col("mh2")).distinct()
      .select(col("r1"), col("r2"),
        estJaccard(col("mh1"), col("mh2")).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
    (members, reps, repPairs)
  }

  /** [[minhashReps]]' members as (doc_id, th) and its rep pairs: what
    * [[dedupGroups]] solves components over. */
  private[graft] def minhashScaffold(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (members, _, repPairs) = minhashReps(s, d)
    (members.select("doc_id", "th"), repPairs)
  }

  /** MinHash + LSH near-dup pairs: shingle → minhash → band → bucket-join.
    * Candidate pairs only ever meet inside an LSH band bucket (shuffle on
    * the band key), so the plan scales linearly with corpus size times
    * bucket skew — the standard 100 TB-safe dedup topology. The band key
    * is the joined text of the band's lanes (portable), and the lanes are
    * md5-derived, so the DuckDB oracle reproduces the banding exactly.
    * The full pair set is reconstructed exactly from the rep pairs:
    * within-group pairs agree on all lanes (est 1.0), cross-group pairs
    * inherit their representatives' estimate. */
  def dedupMinhashLsh(s: SparkSession, d: String): DataFrame = {
    val (members, reps, repPairs) = minhashReps(s, d)
    expandRepPairs(members, "doc_id", repPairs,
      reps.select(col("rep"), lit(1.0).as("est_jaccard")), "doc1", "doc2")
      .orderBy("doc1", "doc2")
  }
  /** Shared `sigs` + `bands` CTE pair (MinHash signatures and band
    * buckets) — the common prefix of every MinHash-family oracle. */
  private val minhashSigBandCtes: String = {
    val shingles =
      raw"""list_distinct(list_transform(
           |    generate_series(1, greatest(length(text) - 7, 1)),
           |    i -> substr(text, i, 8)))""".stripMargin
    // same universal-hash family as minhashSignature: one md5 per shingle,
    // lane j = (a + j*b) mod P over the two 60-bit md5 halves
    val lanes = (0 until NumHashes).map { j =>
      s"""list_min(list_transform($shingles, s ->
         |      ((('0x' || substr(md5(s), 1, 15))::BIGINT % $LaneP)
         |       + $j * (('0x' || substr(md5(s), 17, 15))::BIGINT % $LaneP))
         |      % $LaneP))""".stripMargin
    }.mkString("[\n    ", ",\n    ", "]")
    raw"""sigs AS (
         |  SELECT doc_id, $lanes AS mh FROM documents),
         |bands AS (
         |  SELECT doc_id, mh, b,
         |    array_to_string(mh[(b * $BandSize + 1):(b * $BandSize + $BandSize)], ',') AS bh
         |  FROM sigs, generate_series(0, ${NumHashes / BandSize - 1}) t(b))""".stripMargin
  }
  /** Shared CTE prefix rebuilding the MinHash signatures, band buckets and
    * verified candidate pairs — used by both the pair-list oracle and the
    * connected-components oracle so the two queries provably run over the
    * same pair set. */
  private val minhashPairsCtes: String =
    raw"""$minhashSigBandCtes,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b2.doc_id AS doc2,
         |    round(len(list_filter(generate_series(1, $NumHashes),
         |      i -> a.mh[i] = b2.mh[i])) / ${NumHashes}.0, 4) AS est_jaccard
         |  FROM bands a JOIN bands b2
         |    ON a.b = b2.b AND a.bh = b2.bh AND a.doc_id < b2.doc_id)""".stripMargin
  val dedupMinhashLshSql: String =
    raw"""WITH $minhashPairsCtes
         |SELECT doc1, doc2, est_jaccard FROM pairs
         |WHERE est_jaccard >= 0.5 ORDER BY doc1, doc2""".stripMargin

  /** Grouped dedup output — the consumable 100 TB answer. The pair list's
    * cardinality grows as duplicate-group-size² even when the candidate
    * join doesn't (4.2M simhash pairs at the 10× stress corpus), while the
    * keep/remove decision per doc grows linearly. This operator collapses
    * the verified MinHash candidate pairs into connected components with
    * [[Q.components]], over the representative graph rather than the full
    * pair set: identical-text groups are cliques that share their rep's
    * connections, so components over rep pairs expand exactly to
    * components over all pairs, and every rep is its group's min doc id,
    * so a component's min rep label is its min doc id. At a replicated
    * corpus (group size g) that shrinks the solve's input by ~g².
    * Output: one row per doc appearing in any candidate pair, with
    * `keep_id` = min doc id of its component (keep iff doc_id = keep_id).
    * Oracle: DuckDB recursive CTE over the identical pair CTEs. */
  def dedupGroups(s: SparkSession, d: String): DataFrame = {
    val (members, repPairs) = minhashScaffold(s, d)
    val labelsRep = Q.components(s, repPairs.select(col("r1"), col("r2")))
      .withColumnRenamed("node", "rep")
    // Expand rep components to documents. A doc is in the full pair set
    // iff its rep pairs with another rep OR its identical-text group has
    // ≥ 2 members (within-group pairs); its component label is its rep's
    // propagated label, or the rep itself for a pure within-group clique.
    val docRep = members.join(
      members.groupBy("th").agg(min("doc_id").as("rep"),
        count(lit(1)).as("gsz")), "th")
    docRep.join(labelsRep, Seq("rep"), "left")
      .filter(col("label").isNotNull || col("gsz") >= 2)
      .select(col("doc_id"),
        coalesce(col("label"), col("rep")).as("keep_id"))
      .orderBy("doc_id")
  }

  val dedupGroupsSql: String =
    raw"""WITH RECURSIVE $minhashPairsCtes,
         |cand AS (SELECT doc1, doc2 FROM pairs WHERE est_jaccard >= 0.5),
         |edges AS (SELECT doc1 AS src, doc2 AS dst FROM cand
         |          UNION ALL SELECT doc2, doc1 FROM cand),
         |walk(doc_id, reach) AS (
         |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
         |  UNION
         |  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON e.src = w.reach)
         |SELECT doc_id, min(reach) AS keep_id FROM walk
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Canonical-representative selection — the step that turns near-dup
    * CLUSTERS ([[dedupGroups]]' connected components over MinHash-LSH
    * pairs) into a keep/drop decision per document: every doc maps to its
    * cluster id (its component's min doc id; singletons are their own
    * cluster), the minimum member is canonical, the rest are drops. This
    * is the actual dedup OUTPUT a pipeline materializes — `filter
    * is_canonical` is the cleaned corpus.
    *
    * Scale: inherits dedup_groups' topology (banded LSH candidates +
    * min-label fixpoint over pair participants only); the extension is
    * one left join of the label table onto the corpus plus one
    * cluster-keyed size count — both key-equi shuffles. */
  def dedupKeepCanonical(s: SparkSession, d: String): DataFrame = {
    val labels = dedupGroups(s, d) // (doc_id, keep_id) for docs in any pair
    val docs = t(s, d, "documents").select(col("doc_id"))
    val lab = docs.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("keep_id"), col("doc_id")))
    // cluster_size as a full-frame count window: ONE cluster-keyed
    // shuffle of the corpus instead of the groupBy + join-back pair
    // (round 16 A/B'd at 10×); per-cluster buffers are near-dup group
    // sizes — tiny at any corpus scale
    val w = Window.partitionBy("cluster_id")
    lab.select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"),
        count(lit(1)).over(w).as("cluster_size"))
      .orderBy("doc_id")
  }
  val dedupKeepCanonicalSql: String =
    raw"""WITH RECURSIVE $minhashPairsCtes,
         |cand AS (SELECT doc1, doc2 FROM pairs WHERE est_jaccard >= 0.5),
         |edges AS (SELECT doc1 AS src, doc2 AS dst FROM cand
         |          UNION ALL SELECT doc2, doc1 FROM cand),
         |walk(doc_id, reach) AS (
         |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
         |  UNION
         |  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON e.src = w.reach),
         |lab AS (SELECT doc_id, min(reach) AS keep_id FROM walk GROUP BY doc_id),
         |alld AS (SELECT d.doc_id, COALESCE(l.keep_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN lab l USING (doc_id)),
         |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM alld GROUP BY cluster_id)
         |SELECT a.doc_id, a.cluster_id, a.doc_id = a.cluster_id AS is_canonical,
         |  s.cluster_size
         |FROM alld a JOIN sizes s USING (cluster_id) ORDER BY doc_id""".stripMargin

  /** The pure-SQL SimHash signature over a `text` column — 32 bit-vote
    * folds over the word md5-lane array. Kept as executable
    * documentation of what [[graft.functions.SimHashSignature]]'s
    * generated loop computes; the equivalence spec holds them equal. */
  private[graft] def simhashSignatureHof: Column = {
    val sigFromLanes =
      s"""aggregate(
         |  transform(sequence(0, 31),
         |    b -> case when aggregate(hs, 0L,
         |        (acc, h) -> acc + (case when (shiftright(h, b) & 1) = 1
         |                           then 1L else -1L end)) > 0
         |      then shiftleft(1L, b) else 0L end),
         |  0L, (acc, x) -> acc + x)""".stripMargin
    expr(
      s"""transform(array(transform($wordsExpr, w -> ${md5Lane("w")})),
         |  hs -> $sigFromLanes)[0]""".stripMargin)
  }

  private[graft] def simhashSignature: Column =
    org.apache.spark.sql.graftcol.NativeColumn.column(
      graft.functions.SimHashSignature(
        org.apache.spark.sql.graftcol.NativeColumn.expression(col("text"))))

  /** SimHash near-dup pairs: 32-bit signature from md5-lane word hashes,
    * candidates from matching 16-bit halves (Hamming ≤ pigeonhole),
    * verified with bit_count(xor) ≤ 3. Fully oracle-checked — the DuckDB
    * SQL rebuilds the identical signatures and half-key buckets. Each
    * word is md5-hashed ONCE into a lane array and the 32 bit-majority
    * folds run over the precomputed lanes (round 10 — the previous form
    * re-derived the md5 inside every bit's fold: 32 md5 calls per word,
    * ~200M md5s at the 10× corpus; identical signature values, so the
    * oracle is unchanged).
    *
    * Round-10 exact-copy short-circuit (the [[dedupNgramJaccard]]
    * pattern): identical texts collapse to one representative before
    * signature computation and the half-key bucket join — equal text ⇒
    * equal signature ⇒ Hamming 0 within a group and the representatives'
    * Hamming across groups — then the full pair set is reconstructed
    * exactly. Candidate rep pairs are verified once (not once per
    * colliding half). Output is unchanged, oracle unchanged. */
  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    // round-11: the signature evaluates through the native codegen'd
    // kernel — one generated loop per rep instead of 32 interpreted
    // bit-vote folds over the lane array
    val (members, reps) = textReps(s, d)(simhashSignature.as("sh"))
    val keyed = reps.select(col("rep"), col("sh"),
      explode(array(
        struct(lit(0).as("half"), (col("sh") % 65536).as("hk")),
        struct(lit(1).as("half"), shiftright(col("sh"), 16).as("hk")))).as("k"))
      .select(col("rep"), col("sh"), col("k.half").as("half"), col("k.hk").as("hk"))
    val a = keyed.select(col("half"), col("hk"), col("rep").as("r1"),
      col("sh").as("sh1"))
    val b = keyed.select(col("half").as("half2"), col("hk").as("hk2"),
      col("rep").as("r2"), col("sh").as("sh2"))
    val repPairs = a.join(b,
        col("half") === col("half2") && col("hk") === col("hk2") &&
          col("r1") < col("r2"))
      .select("r1", "r2", "sh1", "sh2").distinct() // verify once per pair
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select("r1", "r2", "hamming")
    expandRepPairs(members, "doc_id", repPairs,
      reps.select(col("rep"), lit(0L).as("hamming")), "doc1", "doc2")
      .orderBy("doc1", "doc2")
  }
  val dedupSimhashSql: String =
    raw"""WITH words AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
         |  FROM documents),
         |sigs AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
         |      CASE WHEN list_sum(list_transform(w, x ->
         |          CASE WHEN (${md5LaneDuck("x")} >> b) & 1 = 1
         |               THEN 1 ELSE -1 END)) > 0
         |           THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS sh
         |  FROM words),
         |keyed AS (
         |  SELECT doc_id, sh, 0 AS half, sh % 65536 AS hk FROM sigs
         |  UNION ALL
         |  SELECT doc_id, sh, 1 AS half, sh >> 16 AS hk FROM sigs),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
         |    CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         |  FROM keyed a JOIN keyed b
         |    ON a.half = b.half AND a.hk = b.hk AND a.doc_id < b.doc_id)
         |SELECT doc1, doc2, hamming FROM pairs
         |WHERE hamming <= 3 ORDER BY doc1, doc2""".stripMargin

  // ---------- similarity search ----------

  /** Brute-force cosine top-k (k=5) for query vectors vec_id < 10 — the
    * exact baseline the LSH variant is checked against. Vectors are cast
    * float→double before the fold so Spark and DuckDB accumulate
    * identically. */
  def simCosineTopk(s: SparkSession, d: String): DataFrame = {
    val vecs = t(s, d, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    // norms hoisted once per side (the simAnnIvf round-13 CSE argument:
    // the same IEEE sqrt on the same array gives the same double, so
    // every cosine — and the oracle hash — is unchanged bit for bit)
    val q = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .withColumn("qn", norm2(col("qv")))
    val c = vecs.select(col("vec_id").as("cand_id"), col("v").as("cv"))
      .withColumn("cn", norm2(col("cv")))
    // rerankTopK (round 15): the 10×|corpus| scored stream reduces to 5
    // entries per (q_id, split) map-side instead of sorting the full
    // candidate list per query in a 10-partition window
    rerankTopK(
      q.join(c, col("q_id") =!= col("cand_id"))
        .withColumn("cos",
          dot(col("qv"), col("cv")) / (col("qn") * col("cn"))),
      "cos", "cos_sim", roundOut = true)
  }
  val simCosineTopkSql: String =
    """WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
      |    list_cosine_similarity(q.v, c.v) AS cos,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rank
      |  FROM vecs q JOIN vecs c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |SELECT q_id, rank, cand_id, round(cos, 6) AS cos_sim
      |FROM scored WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** LSH-bucketed ANN: banded random-hyperplane signatures from
    * deterministic hash-derived planes — 16 bands of 4 sign bits; a pair
    * is a candidate iff SOME band's bits all agree (OR-amplification),
    * then exact cosine re-ranks the deduplicated candidates. With the
    * corpus's top-5 neighbor cosines ≈0.26–0.49 (per-plane agreement
    * p ≈ 0.6), one all-8-bits bucket has pair recall p⁸ ≈ 0.02 — useless —
    * while 16×4-bit bands give 1−(1−p⁴)¹⁶ ≈ 0.89 (spec-asserted ≥60%
    * against the brute-force top-5). The scale path for ANN: the banded
    * signature shuffle is linear (16 rows per vector), candidates only
    * meet through an equi-join on (band, band-bits), and the quadratic
    * step is confined to buckets; at 100 TB raise the band width with
    * log N to keep buckets bounded. Plane coefficients come from md5
    * lanes so the DuckDB oracle rebuilds identical signatures and buckets
    * — hash-exact, not rows-only. */
  def simAnnLsh(s: SparkSession, d: String): DataFrame = {
    val nBands = 16; val bandBits = 4
    // banded signatures through the codegen'd kernel (round 17): the
    // nested HOF re-entered its interpreted lambdas nPlanes·d times per
    // vector — the same interpreted-tree disease as the IVF cosines;
    // HyperplaneSigs folds the identical 0.0-seeded projection sums, so
    // buckets and the oracle are unchanged (simAnnLshSigsHof + spec pin
    // the twins equal)
    val vecs = t(s, d, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val sigs = org.apache.spark.sql.graftcol.NativeColumn.column(
      graft.functions.HyperplaneSigs(
        org.apache.spark.sql.graftcol.NativeColumn.expression(col("v")),
        planeValues(nBands * bandBits, embDim(s, d)), bandBits))
    val banded = vecs.select(col("vec_id"), posexplode(sigs).as(Seq("band", "bsig")))
    val q = banded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("band"), col("bsig"))
    val c = banded.select(col("vec_id").as("cand_id"),
      col("band").as("cband"), col("bsig").as("cbsig"))
    val pairs = q.join(c, col("band") === col("cband") &&
        col("bsig") === col("cbsig") && col("q_id") =!= col("cand_id"))
      .select("q_id", "cand_id").distinct()
    // norms hoisted once per side; re-rank through the map-side top-k
    // aggregate (round 15) — same value, same order, bucket-bounded
    // candidate stream never sorts per-query
    val qv = vecs.select(col("vec_id").as("q_id"), col("v").as("qv"))
      .withColumn("qn", norm2(col("qv")))
    val cv = vecs.select(col("vec_id").as("cand_id"), col("v").as("cv"))
      .withColumn("cn", norm2(col("cv")))
    rerankTopK(
      pairs.join(qv, "q_id").join(cv, "cand_id")
        .withColumn("cos",
          dot(col("qv"), col("cv")) / (col("qn") * col("cn"))),
      "cos", "cos_sim", roundOut = true)
  }
  /** The pre-round-17 nested-HOF formulation of [[simAnnLsh]]'s banded
    * signatures over a column named `v` — executable documentation of
    * what [[graft.functions.HyperplaneSigs]]'s generated loop computes;
    * the equivalence spec pins the two equal over the corpus. */
  private[graft] def simAnnLshSigsHof(
      nBands: Int, bandBits: Int, d: Int): Column = {
    val pl = planeMatrix(nBands * bandBits, d)
    expr(
      s"""transform(sequence(0, ${nBands - 1}), b ->
         |  aggregate(sequence(0, ${bandBits - 1}), 0L, (acc, j) ->
         |    acc + case when aggregate(
         |        zip_with(v, element_at($pl, b * $bandBits + j + 1),
         |          (x, w) -> x * w),
         |        cast(0.0 as double), (a2, x) -> a2 + x) > 0
         |      then shiftleft(1L, j) else 0L end))""".stripMargin)
  }

  val simAnnLshSql: String = {
    // list_reduce is a sequential left fold like Spark's `aggregate`, so the
    // plane-projection sums (whose SIGN picks the bucket bits) match
    // bit-for-bit; the global plane index is band*4 + j in both engines
    val planeSum =
      s"""list_reduce(list_transform(generate_series(1, len(v)), i ->
         |        v[i] * ((CAST(${md5LaneDuck("'plane' || (band * 4 + j) || '_' || (i - 1)")} % 1000
         |                 AS DOUBLE) / 1000.0) - 0.5)),
         |      (acc, x) -> acc + x)""".stripMargin
    s"""WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |bands AS (SELECT unnest(generate_series(0, 15)) AS band),
       |sigs AS (
       |  SELECT vec_id, band,
       |    CAST(list_sum(list_transform(generate_series(0, 3), j ->
       |      CASE WHEN $planeSum > 0
       |           THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS bsig
       |  FROM vecs, bands),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS cand_id
       |  FROM sigs q JOIN sigs c
       |    ON q.vec_id < 10 AND q.band = c.band AND q.bsig = c.bsig
       |       AND q.vec_id <> c.vec_id),
       |scored AS (
       |  SELECT q_id, cand_id,
       |    list_cosine_similarity(qv.v, cv.v) AS cos,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY list_cosine_similarity(qv.v, cv.v) DESC, cand_id) AS rank
       |  FROM cand
       |  JOIN vecs qv ON qv.vec_id = q_id
       |  JOIN vecs cv ON cv.vec_id = cand_id)
       |SELECT q_id, rank, cand_id, round(cos, 6) AS cos_sim
       |FROM scored WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** IVF (inverted-file) ANN — the coarse-quantization alternative to
    * [[simAnnLsh]]'s hyperplane buckets: Lloyd's k-means (K=16, 3
    * iterations, deterministic md5-seeded init) builds centroids as a pure
    * DataFrame computation (assignment = broadcast join + per-vector
    * argmin window; update = positional explode + per-dimension mean —
    * nothing collects to the driver), then each probe searches only the
    * `nProbe` nearest centroids' inverted lists and exact cosine re-ranks
    * inside them. At 100 TB the same plan trains on a sample, broadcasts
    * the (tiny) centroid table, and shards the inverted lists by cluster
    * id — candidate generation stays linear.
    *
    * Oracle: k-means itself is spec-validated (recall/determinism), but
    * the SEARCH half is hash-checked — the trained centroids are rounded
    * to 6 decimals, collected (16×64 doubles), and inlined into a
    * dynamically-built DuckDB oracle that replays assignment, probe
    * selection, and re-rank over the same literals. Distances and dot
    * products are emitted as UNROLLED left-associative 64-term expressions
    * in both engines — the identical IEEE op sequence on identical inputs,
    * so every comparison (argmin, probe rank, cosine rank) is bit-exact
    * with no engine-internal float path. */
  def simAnnIvf(s: SparkSession, d: String): DataFrame = {
    val (probes, lists) = simAnnIvfCandidates(s, d)
    // Re-rank via the map-side-combined TopKByScore aggregate (round 15):
    // the row_number window shuffled EVERY candidate pair (|list|·nProbe
    // rows per query) to its q_id partition and sorted the full list
    // there, with parallelism bounded by the query count; the aggregate's
    // partial phase keeps 5 entries per (q_id, split) map-side, so one
    // exchange ships only k-bounded buffers. The comparator replays the
    // window's (cos DESC, cand_id ASC) order exactly and posexplode's
    // position replays row_number — [[simAnnIvfWindowedRerank]] (the
    // window twin) is pinned row-equal in PipelineSpec, and the DuckDB
    // oracle is untouched.
    simAnnIvfRerank(probes, lists)
  }

  /** Training + probe/list construction of [[simAnnIvf]], shared with the
    * window-rerank twin the spec pins against. */
  private[graft] def simAnnIvfCandidates(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // nProbe 6/16: with weakly-clustered embeddings (top-5 cosine ≈0.3)
    // 2 probes recalled only 38% of the brute-force top-5 and 4 recalled
    // 58%; 6 lists clears the 60% spec floor with margin while still
    // skipping 5/8 of the corpus. Real embedding corpora cluster harder,
    // so nProbe tunes down as cluster purity rises.
    val k = 16; val iters = 3; val nProbe = 6
    val vecs = t(s, d, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .localCheckpoint() // scanned once per Lloyd iteration + search
    // Training (round-10 shape, shared with the power-iteration family):
    // the k×d centroid table is DRIVER state (the table you'd broadcast
    // at 100 TB), constant-folded into each iteration's plan, so
    // assignment is a map-side argmin expression (distances computed
    // once via the one-element-transform let binding — ties fall to the
    // lowest cid because array_position returns the FIRST minimum, the
    // same (dist, cid) order the previous window argmin used) and the
    // update is ONE keyed reduce — no per-iteration corpus×k join and
    // no per-vector window sort.
    val cents = trainIvfCentroids(vecs, k, iters)
    // Quantize the trained centroids to 6 decimals so the values survive
    // a text round-trip into the oracle SQL (16 rows × 64 doubles —
    // centroid tables are driver-sized by construction).
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val centRows: Array[(Long, Seq[Double])] =
      cents.map { case (cid, cv) => (cid, cv.map(r6).toSeq) }
    import s.implicits._
    val centLit = broadcast(centRows.toSeq.toDF("cid", "cv"))
    simAnnIvfOracle = Some(simAnnIvfSql(centRows, k, nProbe))
    // Search half — shared bit-exact arithmetic with the oracle: unrolled
    // left-associative element sums (element_at is 1-based, like DuckDB's
    // list indexing)
    // corpus-side assignment is the same map-side argmin expression as
    // training, over the QUANTIZED centroid literal: the fold's
    // 0.0 + t₁ + t₂ + … is bit-identical to the oracle's unrolled
    // left-associative sum (squares are never −0.0), and array_position
    // picks the first minimum — the (dist, cid) order the oracle's
    // window replays. No corpus×k join, no per-vector window sort.
    // Norms precompute ONCE PER SIDE before the pair join (round 13):
    // sqrt(Σv²) was previously re-evaluated inside the per-pair cosine —
    // a 64-term unrolled expression per pair per side, i.e. 3× the
    // arithmetic actually needed. Pure common-subexpression hoisting:
    // the same IEEE sqrt on the same array gives the same double, so
    // every cosine (and the oracle hash) is unchanged bit for bit.
    // Round 17: the corpus-sized norm rides the codegen'd InnerProduct
    // kernel (`norm2`) — the interpreted 64-term unrolled tree cost
    // ~17 µs/row; the kernel's sequential loop accumulates the identical
    // left-associative IEEE sum (its 0.0 seed is absorbed: the first
    // term t₁ satisfies 0.0 + t₁ == t₁ unless every product is −0.0,
    // impossible for this corpus), so the oracle hash is unchanged.
    // pdist stays an unrolled expression: it runs 10 × k times total,
    // and the L2 kernel's trailing sqrt could merge near-tie distances
    // the oracle's unsqrted ranking keeps distinct.
    val lists = vecs
      .withColumn("cid",
        ivfCidExpr(centRows.map { case (c, cv) => (c, cv.toArray) }))
      .withColumn("cn", norm2(col("v")))
      .select(col("vec_id"), col("v"), col("cid"), col("cn"))
    val probeW = Window.partitionBy("q_id").orderBy(asc("pdist"), asc("pcid"))
    val probes = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .withColumn("qn", norm2(col("qv")))
      .join(centLit.select(col("cid").as("pcid"), col("cv")))
      .withColumn("pdist", expr(IvfDist(IvfDim, "qv", "cv")))
      .withColumn("prn", row_number().over(probeW))
      .filter(col("prn") <= nProbe)
      .select(col("q_id"), col("qv"), col("qn"), col("pcid"))
    (probes, lists)
  }

  /** Exact top-k re-rank of a scored candidate frame
    * (q_id, cand_id, <scoreName>) through the map-side-combined
    * [[graft.functions.TopKByScore]] aggregate — the shared tail of the
    * whole ANN/similarity family. Replays `row_number() OVER
    * (PARTITION BY q_id ORDER BY <score> DESC, cand_id) <= k` row for
    * row: the comparator is pinned against the window formulation in
    * PipelineSpec (IVF twin) and against sortBy.take(k) by a ScalaCheck
    * property, and every call site's DuckDB oracle still ranks through
    * its own window — so each swap stays hash-gated end to end.
    * `roundOut` controls whether the emitted score is `round(score, 6)`
    * (the cosine family) or the already-rounded raw score (the
    * quantized variant ranks on a pre-rounded value). */
  private[graft] def rerankTopK(scored: DataFrame, scoreName: String,
      outName: String, roundOut: Boolean, k: Int = 5): DataFrame = {
    val s = if (roundOut) round(col("col.score"), 6) else col("col.score")
    scored.groupBy(col("q_id"))
      .agg(graft.functions.TopKByScore
        .top_k_by_score(col(scoreName), col("cand_id"), k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("cand_id"), s.as(outName))
      .orderBy("q_id", "rank")
  }

  /** Shared candidate-pair cosine scoring of [[simAnnIvf]]; re-rank rides
    * [[graft.functions.TopKByScore]]. */
  private def simAnnIvfRerank(probes: DataFrame, lists: DataFrame): DataFrame =
    rerankTopK(simAnnIvfPairs(probes, lists), "cos", "cos_sim", roundOut = true)

  private def simAnnIvfPairs(probes: DataFrame, lists: DataFrame): DataFrame =
    probes
      .join(lists.select(col("vec_id").as("cand_id"), col("v").as("cv2"),
        col("cid").as("ccid"), col("cn")), col("pcid") === col("ccid") &&
          col("q_id") =!= col("cand_id"))
      // per-pair dot through the codegen'd kernel (round 17): the
      // interpreted unrolled tree was ~17 µs/pair — the dominant cost of
      // the whole search; the kernel loop is the identical IEEE sum (see
      // the norm2 note in simAnnIvfCandidates), oracle hash unchanged
      .withColumn("cos", dot(col("qv"), col("cv2")) /
        (col("qn") * col("cn")))

  /** The pre-round-15 row_number-window re-rank of [[simAnnIvf]]'s
    * candidate pairs — executable documentation of what
    * [[graft.functions.TopKByScore]] replays; PipelineSpec pins the two
    * row-equal over the same probes/lists. */
  private[graft] def simAnnIvfWindowedRerank(
      probes: DataFrame, lists: DataFrame): DataFrame = {
    val rankW = Window.partitionBy(col("q_id")).orderBy(desc("cos"), asc("cand_id"))
    simAnnIvfPairs(probes, lists)
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  /** Map-side argmin cluster assignment over a constant-folded centroid
    * table (expects the vector column named `v`): ties fall to the lowest
    * cid (FIRST minimum). The k×d centroid table is driver state — the
    * table you'd broadcast at 100 TB — so assignment never joins the
    * corpus against k rows. Round 15: rides the native
    * [[graft.functions.NearestCentroid]] kernel (one generated loop per
    * row) instead of the interpreted ~2·d·k HOF closures;
    * [[ivfCidExprHof]] keeps the pure-SQL formulation for the
    * equivalence spec. */
  private[graft] def ivfCidExpr(cs: Array[(Long, Array[Double])]): Column =
    org.apache.spark.sql.graftcol.NativeColumn.column(
      graft.functions.NearestCentroid(
        org.apache.spark.sql.graftcol.NativeColumn.expression(col("v")),
        cs.map(_._2)))
      .getField("cid")

  /** The pre-round-15 HOF formulation of [[ivfCidExpr]] — executable
    * documentation of what the kernel computes, asserted equivalent in
    * PipelineSpec. */
  private[graft] def ivfCidExprHof(cs: Array[(Long, Array[Double])]): Column = {
    val centArr = cs.map(_._2.map(x => s"${x}D")
      .mkString("array(", ",", ")")).mkString("array(", ",", ")")
    expr(
      s"""transform(array(transform($centArr,
         |    c -> aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)),
         |           cast(0.0 as double), (acc, z) -> acc + z))),
         |  ds -> array_position(ds, array_min(ds)))[0]""".stripMargin)
  }

  /** Lloyd's k-means over a (vec_id, v) frame: deterministic md5-seeded
    * init, [[ivfCidExpr]] map-side assignment, one keyed reduce per
    * update. Factored from [[simAnnIvf]] so the streaming IVF maintenance
    * ([[graft.streaming.IvfStream]]) trains on the already-ingested half
    * with the identical procedure. */
  private[graft] def trainIvfCentroids(
      vecs: DataFrame, k: Int, iters: Int): Array[(Long, Array[Double])] = {
    val byInit = Window.orderBy("r")
    var cents: Array[(Long, Array[Double])] = vecs
      .withColumn("r", expr(md5Lane("cast(vec_id as string)")))
      .orderBy("r").limit(k)
      .select(row_number().over(byInit).cast("long").as("cid"), col("v").as("cv"))
      .collect()
      .map(r => (r.getAs[Long]("cid"), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    for (_ <- 1 to iters) {
      // One keyed reduce per iteration: VectorSum accumulates the d-length
      // partial vectors map-side (one hash probe per row instead of the
      // previous posexplode's d probes); the driver-side sv/n divide is
      // the same single IEEE division avg performed, so the trained
      // centroids are bit-identical to the posexplode/avg plan's.
      val upd = vecs.withColumn("cid", ivfCidExpr(cents))
        .groupBy("cid")
        .agg(graft.functions.VectorSum.vector_sum(col("v")).as("sv"),
          count(lit(1)).as("n"))
        .collect()
      val next = upd.map { r =>
        val n = r.getAs[Long]("n")
        (r.getAs[Long]("cid"), r.getSeq[Double](1).map(_ / n).toArray)
      }.sortBy(_._1)
      // Relabel to consecutive 1..k' after every update: ivfCidExpr
      // assigns by array POSITION, so stored cids must equal positions.
      // If a Lloyd iteration empties a cluster the raw cid set goes
      // non-consecutive and positional assignment would desync from the
      // stored keys the probe join and the oracle use.
      cents = next.zipWithIndex.map { case ((_, cv), i) => ((i + 1).toLong, cv) }
    }
    cents
  }

  /** Embedding dimensionality of the corpus (TESTDATA.md). */
  val IvfDim = 64
  /** Unrolled `Σ (a_i - b_i)²`, left-associative — `idx` renders one
    * 1-based element access per engine (`element_at(v,i)` / `v[i]`). */
  private def unrolled(dim: Int, term: Int => String): String =
    (1 to dim).map(term).mkString(" + ")
  private[graft] def IvfDist(dim: Int, a: String, b: String): String =
    unrolled(dim, i => s"(element_at($a,$i)-element_at($b,$i))*(element_at($a,$i)-element_at($b,$i))")
  private[graft] def duckDist(dim: Int, a: String, b: String): String =
    unrolled(dim, i => s"($a[$i]-$b[$i])*($a[$i]-$b[$i])")
  private[graft] def duckDot(dim: Int, a: String, b: String): String =
    unrolled(dim, i => s"$a[$i]*$b[$i]")

  /** Set by [[simAnnIvf]] after training; read by [[oracle]]. */
  @volatile private var simAnnIvfOracle: Option[String] = None

  private def simAnnIvfSql(
      cents: Array[(Long, Seq[Double])], k: Int, nProbe: Int): String = {
    // double → text → double is exact: Double.toString is the shortest
    // round-trip representation and CAST(VARCHAR AS DOUBLE) parses
    // correctly rounded
    val values = cents.map { case (cid, cv) =>
      cv.map(x => s"'$x'").mkString(s"($cid, [", ", ", "])")
    }.mkString(",\n    ")
    s"""WITH cents AS MATERIALIZED (
       |  SELECT cid, list_transform(cs, s -> CAST(s AS DOUBLE)) AS cv
       |  FROM (VALUES
       |    $values) t(cid, cs)),
       |vecs AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |lists AS MATERIALIZED (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT a.vec_id, a.v, c.cid,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${duckDist(IvfDim, "a.v", "c.cv")} ASC, c.cid ASC) AS rn
       |    FROM vecs a CROSS JOIN cents c) WHERE rn = 1),
       |probes AS MATERIALIZED (
       |  SELECT q_id, qv, pcid FROM (
       |    SELECT p.vec_id AS q_id, p.v AS qv, c.cid AS pcid,
       |      row_number() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${duckDist(IvfDim, "p.v", "c.cv")} ASC, c.cid ASC) AS prn
       |    FROM vecs p CROSS JOIN cents c WHERE p.vec_id < 10)
       |  WHERE prn <= $nProbe),
       |scored AS (
       |  SELECT pr.q_id, li.vec_id AS cand_id,
       |    ${duckDot(IvfDim, "pr.qv", "li.v")}
       |      / (sqrt(${duckDot(IvfDim, "pr.qv", "pr.qv")})
       |         * sqrt(${duckDot(IvfDim, "li.v", "li.v")})) AS cos
       |  FROM probes pr JOIN lists li
       |    ON li.cid = pr.pcid AND pr.q_id <> li.vec_id)
       |SELECT q_id, rank, cand_id, round(cos, 6) AS cos_sim FROM (
       |  SELECT q_id, cand_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, cand_id ASC) AS BIGINT) AS rank
       |  FROM scored) WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Embedding-cosine near-duplicate pairs (threshold 0.95). Default plan:
    * random-hyperplane LSH banding — 64 deterministic hash-derived planes,
    * 8 bands of 8 sign bits; a pair is a candidate iff some band's bits all
    * agree — then exact cosine verifies candidates inside buckets. At the
    * 0.95 threshold a plane agrees with probability 1 - acos(0.95)/π ≈ 0.9,
    * so 8-bit bands keep per-pair recall ≈ 0.99 while a 256-value band key
    * keeps buckets small. Candidates only ever meet through an equi-join on
    * (band, band-bits) — the scale topology; the triangular O(N²) join
    * lives only in the spec's brute-force ground truth.
    * The plane matrix is precomputed once driver-side and constant-folded
    * into the plan ([[planeMatrix]] — round 10; previously 64·d md5 calls
    * per row); at 100 TB raise the band width with log N.
    * Oracle pairing follows the same determinism argument as
    * [[dedupNgramJaccard]]: per-pair recall ≈0.99 is probabilistic over
    * corpora but deterministic per corpus, and the exact-oracle gate is
    * verified green on every driver corpus — a miss would fail loudly.
    *
    * Round-10 exact-copy short-circuit (the [[dedupNgramJaccard]]
    * pattern): identical vectors collapse to one REPRESENTATIVE before
    * banding — identical arrays produce identical sign bits, so banding
    * recall is unchanged — candidate rep pairs are deduplicated BEFORE
    * the exact cosine (a pair colliding in all 8 bands was previously
    * verified 8 times, carrying both vectors through the shuffle each
    * time), and the full pair set is reconstructed exactly afterward:
    * cross-group pairs inherit their representatives' cosine (equal
    * arrays ⇒ equal cosine bit-for-bit), within-group pairs take the
    * representative's self-cosine computed by the SAME double fold the
    * oracle runs (≈1.0 up to one ulp — never a literal, so rounding
    * agrees with DuckDB exactly). */
  def dedupEmbedding(s: SparkSession, d: String): DataFrame = {
    val nPlanes = 64; val bandBits = 8
    // md5 lanes are non-negative, so lane%1000/1000 - 0.5 is symmetric in
    // (-0.5, 0.5) — unbiased planes; a signed hash here would center the
    // coefficients at -0.5 and correlate every plane with -Σv_i (skewed
    // buckets at scale)
    val bitsExpr = expr(
      s"""transform(sequence(0, ${nPlanes - 1}), p ->
         |  case when aggregate(
         |      zip_with(v, element_at(${planeMatrix(nPlanes, embDim(s, d))}, p + 1),
         |        (x, w) -> x * w),
         |      cast(0.0 as double), (a2, x) -> a2 + x) > 0
         |    then 1 else 0 end)""".stripMargin)
    // the vector is its own content key; the sign bits and the norm fold
    // once per rep. nrm1·nrm2 is bit-identical to folding both norms
    // inside the pair row, so the oracle still hash-matches
    val (members, reps) = contentReps(t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")),
      "vec_id", "v") { _ => Seq(bitsExpr.as("bits"), norm2(col("v")).as("nrm")) }
    val banded = reps.select(col("rep"), explode(expr(
        s"""transform(sequence(0, ${nPlanes / bandBits - 1}), b -> named_struct(
           |  'band', b,
           |  'bh', aggregate(slice(bits, b * $bandBits + 1, $bandBits),
           |                  0, (acc, x) -> acc * 2 + x)))""".stripMargin)).as("k"))
      .select(col("rep"), col("k.band").as("band"), col("k.bh").as("bh"))
    // candidate rep pairs, deduped BEFORE the exact cosine verify
    val cands = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.rep") < col("y.rep"))
      .select(col("x.rep").as("r1"), col("y.rep").as("r2")).distinct()
    // try_divide: a zero vector's norm product is 0, and under ANSI mode
    // even DOUBLE 0/0 throws DIVIDE_BY_ZERO — the null result falls out
    // of the threshold filter instead. The isnan leg guards NaN payloads
    // in the data (NaN compares GREATER than any number in both Spark and
    // DuckDB, so `NaN >= 0.95` alone would keep the pair — the oracle SQL
    // carries the same NOT isnan).
    def near(cos: Column): Column = cos >= 0.95 && !isnan(cos)
    val repPairs = cands
      .join(reps.select(col("rep").as("r1"), col("v").as("v1"),
        col("nrm").as("n1")), "r1")
      .join(reps.select(col("rep").as("r2"), col("v").as("v2"),
        col("nrm").as("n2")), "r2")
      .withColumn("cos",
        try_divide(dot(col("v1"), col("v2")), col("n1") * col("n2")))
      .filter(near(col("cos")))
      .select(col("r1"), col("r2"), col("cos"))
    // cross-group pairs inherit the rep cosine; within-group pairs take
    // the rep's self-cosine through the SAME fold (nrm·nrm is bitwise
    // norm2(v)·norm2(v)), so a duplicated all-zero vector's
    // try_divide(0, 0) = null drops out of the threshold
    val selfCos = reps
      .select(col("rep"), try_divide(dot(col("v"), col("v")),
        col("nrm") * col("nrm")).as("cos"))
      .filter(near(col("cos")))
    expandRepPairs(members, "vec_id", repPairs, selfCos, "id1", "id2")
      .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("id1", "id2")
  }
  val dedupEmbeddingSql: String =
    """WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT a.vec_id AS id1, b.vec_id AS id2,
      |  round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
      |FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.v, b.v) >= 0.95
      |  AND NOT isnan(list_cosine_similarity(a.v, b.v))
      |ORDER BY id1, id2""".stripMargin

  // ---------- multimodal plumbing ----------

  /** Multimodal column pipeline: text → opaque binary payload + typed
    * metadata struct → per-partition batch "decode" (a deterministic stub
    * standing in for an image/audio decoder — the container has no codec
    * libs) → extracted features. The Spark-side plumbing (binary schema,
    * partition-batched processing, feature schema) is real, AND the stub's
    * outputs are chosen so a SQL engine can recompute them from the source
    * text: payload byte length, md5 of the payload bytes, and md5 of the
    * first-4-codepoint head slice (DuckDB cannot slice BLOBs, so the head
    * boundary is a CHARACTER offset; its md5 still hashes the UTF-8
    * bytes — identical in both engines). That turns the decode stage from
    * rows-only into a fully oracle-hash-checked operator. */
  def mmBinaryFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, d, "documents")
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        struct(lit("text/plain").as("mime"), col("lang").as("lang_tag"),
          length(col("text")).as("byte_len")).as("meta"))
    payloads
      .select(col("doc_id"), col("payload"), col("meta.mime").as("mime"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { batch =>
        // stub decoder: per-batch digest state, deterministic features
        val md = java.security.MessageDigest.getInstance("MD5")
        def hex(b: Array[Byte]): String =
          b.map(x => f"${x & 0xff}%02x").mkString
        batch.map { case (id, bytes, mime) =>
          md.reset()
          val digest = hex(md.digest(bytes))
          val text = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          val headEnd =
            text.offsetByCodePoints(0, math.min(4, text.codePointCount(0, text.length)))
          md.reset()
          val headDigest = hex(md.digest(
            text.substring(0, headEnd)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          (id, mime, bytes.length.toLong, digest, headDigest)
        }
      }
      .toDF("doc_id", "mime", "n_bytes", "digest", "head_digest")
      .orderBy("doc_id")
  }
  val mmBinaryFeaturesSql: String =
    """SELECT doc_id, 'text/plain' AS mime,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS digest,
      |  md5(substring(text, 1, 4)) AS head_digest
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------- events / sessionization ----------

  /** Gap-based sessionization (30-min idle timeout) with window functions —
    * the batch form of the streaming session-window operator. */
  def eventSessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, d, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        dsum(col("value")).as("session_value"))
      .orderBy("user_id", "session_seq")
  }
  val eventSessionizeSql: String =
    s"""WITH flagged AS (
       |  SELECT user_id, event_id, ts, value,
       |    CASE WHEN lag(ts) OVER win IS NULL
       |      OR epoch_us(ts) - epoch_us(lag(ts) OVER win) > 1800 * 1000000
       |      THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sessions AS (
       |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS session_seq
       |  FROM flagged)
       |SELECT user_id, session_seq, count(*) AS n_events,
       |  min(ts)::TIMESTAMP AS session_start, max(ts)::TIMESTAMP AS session_end,
       |  ${DSUM("value")} AS session_value
       |FROM sessions GROUP BY user_id, session_seq
       |ORDER BY user_id, session_seq""".stripMargin

  /** Tumbling-window event aggregation (hourly) — batch equivalent of the
    * streaming windowed count. */
  def eventWindowAgg(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("hour", "event_type")
  val eventWindowAggSql: String =
    s"""SELECT date_trunc('hour', ts)::TIMESTAMP AS hour, event_type,
       |  count(*) AS n, ${DSUM("value")} AS total_value
       |FROM events GROUP BY hour, event_type
       |ORDER BY hour, event_type""".stripMargin

  /** As-of join (event-time temporal join): each `click` event matches the
    * most recent `error` event by the same user at or before its timestamp
    * (`l.ts >= r.ts`, latest right row wins — DuckDB `ASOF LEFT JOIN`
    * semantics, which the oracle uses verbatim).
    *
    * Implemented WITHOUT a join: both sides are tagged and unioned, then a
    * single user_id-partitioned window ordered by (ts, side) carries the
    * last-seen right payload forward (`last(_, ignoreNulls = true)` over
    * an unbounded-preceding rows frame) and only left rows are kept. One
    * hash shuffle + one sort, no candidate-pair enumeration — the standard
    * distributed temporal-join topology (Flink's event-time temporal join
    * executes the same shape). A sort-merge range join would enumerate
    * every (l, r) pair with r.ts <= l.ts before keeping the max; at 100 TB
    * the union-window form stays linear in input size. `side` orders right
    * rows (0) before left rows (1) at equal ts, making the match
    * inclusive; the trailing match_event_id sort key makes the pick
    * deterministic if right-side (user_id, ts) ties ever exist. */
  def joinAsof(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val lhs = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        col("event_id"), col("value"),
        lit(null).cast("bigint").as("m_id"),
        lit(null).cast("timestamp").as("m_ts"),
        lit(null).cast("double").as("m_value"))
    val rhs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        lit(null).cast("bigint").as("event_id"),
        lit(null).cast("double").as("value"),
        col("event_id").as("m_id"),
        col("ts").as("m_ts"),
        col("value").as("m_value"))
    val carry = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("m_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lhs.unionByName(rhs)
      .withColumn("match_event_id", last(col("m_id"), ignoreNulls = true).over(carry))
      .withColumn("match_ts", last(col("m_ts"), ignoreNulls = true).over(carry))
      .withColumn("match_value", last(col("m_value"), ignoreNulls = true).over(carry))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("match_event_id"), col("match_ts"), col("match_value"))
      .orderBy("event_id")
  }
  // The right side is deduped per (user_id, ts) keeping max event_id so the
  // oracle is deterministic even if a corpus regen introduces timestamp ties
  // — the same tie-break the Spark window's trailing m_id sort key applies.
  val joinAsofSql: String =
    """SELECT l.event_id, l.user_id, l.ts, l.value,
      |  r.event_id AS match_event_id, r.ts AS match_ts,
      |  r.value AS match_value
      |FROM (SELECT * FROM events WHERE event_type = 'click') l
      |ASOF LEFT JOIN (
      |  SELECT * FROM events WHERE event_type = 'error'
      |  QUALIFY row_number() OVER (PARTITION BY user_id, ts
      |    ORDER BY event_id DESC) = 1) r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id""".stripMargin

  /** Corpus-unigram log-probability scoring — the cheap stand-in for the
    * perplexity filter of a pre-training pipeline (score docs under a
    * language model; here the LM is the corpus's own unigram MLE, so the
    * operator is fully self-contained and oracle-checkable). Per doc:
    * mean over tokens of ln p(w), p(w) = corpus count / corpus tokens.
    * Unusually low scores flag gibberish; unusually high ones flag
    * boilerplate. Topology: token explode → vocab hash aggregation →
    * token⋈vocab equi-join on the word → per-doc mean. All keyed
    * shuffles, linear in corpus size; the vocabulary rides the hash join
    * (broadcast it instead when a frequency floor prunes it small). The
    * token stream is derived twice — once for the vocab aggregation, once
    * for the scoring join (Spark does not materialize shared subtrees
    * within a query); at production scale persist the exploded tokens
    * once and reuse them across this and the other text operators. */
  def textUnigramLogprob(s: SparkSession, d: String): DataFrame = {
    val words = t(s, d, "documents")
      .select(col("doc_id"), explode(expr(wordsExpr)).as("w"))
    val vocab = words.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val tot = vocab.agg(sum(col("cnt")).cast("double").as("tot"))
    words.join(vocab, "w").join(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        round(avg(log(col("cnt").cast("double") / col("tot"))), 6)
          .as("avg_logprob"))
      .orderBy("doc_id")
  }
  val textUnigramLogprobSql: String =
    raw"""WITH wd AS (SELECT doc_id,
         |    unnest(string_split_regex(trim(text), '\s+')) AS w
         |  FROM documents),
         |v AS (SELECT w, count(*) AS cnt FROM wd GROUP BY w),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM v)
         |SELECT doc_id, count(*) AS n_words,
         |  round(avg(ln(CAST(cnt AS DOUBLE) / tot)), 6) AS avg_logprob
         |FROM wd JOIN v USING (w) CROSS JOIN tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------- chunking / sequence packing ----------

  /** Sliding-window document chunking (context-window preparation): split
    * each document into word windows of [[ChunkW]] with stride
    * [[ChunkS]] (overlap W−S), the standard long-document treatment
    * before tokenization. Pure map-side: chunk enumeration is a per-row
    * `transform(sequence(...))` + explode with no shuffle at all — the
    * ideal 100 TB shape (output order is re-imposed only for the oracle
    * compare). */
  val ChunkW = 64
  val ChunkS = 48
  def textChunk(s: SparkSession, d: String): DataFrame = {
    val nChunks =
      s"1 + cast(ceil(greatest(size(ws) - $ChunkW, 0) / cast($ChunkS as double)) as int)"
    t(s, d, "documents")
      .select(col("doc_id"), expr(wordsExpr).as("ws"))
      .select(col("doc_id"), col("ws"),
        posexplode(expr(s"sequence(0, $nChunks - 1)")).as(Seq("chunk_id", "start0")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        expr(s"size(slice(ws, chunk_id * $ChunkS + 1, $ChunkW))")
          .cast("long").as("n_chunk_words"),
        expr(s"concat_ws(' ', slice(ws, chunk_id * $ChunkS + 1, $ChunkW))")
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }
  val textChunkSql: String = {
    val w = ChunkW; val st = ChunkS
    raw"""WITH d AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\s+') AS ws FROM documents),
         |c AS (SELECT doc_id, ws,
         |    unnest(range(0, 1 + CAST(ceil(greatest(len(ws) - $w, 0)
         |      / CAST($st AS DOUBLE)) AS INT))) AS chunk_id
         |  FROM d)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(len(list_slice(ws, chunk_id * $st + 1,
         |    chunk_id * $st + $w)) AS BIGINT) AS n_chunk_words,
         |  array_to_string(list_slice(ws, chunk_id * $st + 1,
         |    chunk_id * $st + $w), ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** Sequence packing (concat-and-split): documents laid end-to-end in
    * doc_id order into fixed [[PackBudget]]-token training sequences;
    * each doc reports the pack its first token lands in and the offset
    * within it. The global prefix sum is computed the 100 TB way — NOT
    * one unpartitioned window (a single-partition scale-killer) but a
    * TWO-LEVEL prefix sum: an in-block cumulative sum (window partitioned
    * by a block key, fully parallel), and block offsets that are
    * themselves prefix-summed distributively — the block table is range-
    * shuffled on `blk`, cumulative-summed per partition, and stitched
    * with a partition-count-sized offset census (the same topology as
    * [[Learn.mixImportanceResample]] / [[Q.distPos]]). No window in the
    * plan ever sees more than one partition's rows except the census,
    * which is bounded by `spark.sql.shuffle.partitions`, not by corpus
    * size — so the construction holds at billions of documents. The
    * DuckDB oracle computes the same values with its single-node SQL. */
  val PackBudget = 2048L
  val PackBlock = 100L
  def packSequences(s: SparkSession, d: String): DataFrame = {
    val toks = t(s, d, "documents")
      .select(col("doc_id"),
        ceil(col("n_chars") / 4.0).cast("long").as("est_tokens"),
        (col("doc_id") / PackBlock).cast("long").as("blk"))
    val inBlock = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = toks.withColumn("cum_in_blk", sum(col("est_tokens")).over(inBlock))
    // Round 20: block offsets = exclusive prefix sum of block totals in
    // blk order — [[Q.distPrefixSum]] (inclusive, minus the block's own
    // sum) replaces the census exchange + offset window + in-partition
    // window, the last of which re-shuffled the block table by __bp
    // (the checkpoint scan reports UnknownPartitioning, so the
    // "parallel" window paid a full hidden Exchange).
    val blockOff = Q.distPrefixSum(
        toks.groupBy(col("blk")).agg(sum(col("est_tokens")).as("blk_sum")),
        "blk_sum", "blk_cum", col("blk"))
      .select(col("blk").as("ob"),
        (col("blk_cum") - col("blk_sum")).as("blk_off"))
    cum.join(broadcast(blockOff), col("blk") === col("ob"))
      .withColumn("start", col("blk_off") + col("cum_in_blk") - col("est_tokens"))
      .select(col("doc_id"), col("est_tokens"),
        // `div` is exact long division, mirroring the oracle's `//` — the
        // double-divide-then-cast form would drift past 2^53 tokens
        expr(s"start div ${PackBudget}L").as("pack_id"),
        (col("start") % PackBudget).cast("long").as("pack_offset"))
      .orderBy("doc_id")
  }
  val packSequencesSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_tokens,
       |    doc_id // $PackBlock AS blk
       |  FROM documents),
       |cum AS (
       |  SELECT doc_id, est_tokens, blk,
       |    sum(est_tokens) OVER (PARTITION BY blk ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_in_blk
       |  FROM toks),
       |blockoff AS (
       |  SELECT blk, coalesce(sum(blk_sum) OVER (ORDER BY blk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS blk_off
       |  FROM (SELECT blk, sum(est_tokens) AS blk_sum FROM toks GROUP BY blk))
       |SELECT doc_id, est_tokens,
       |  CAST((blk_off + cum_in_blk - est_tokens) // $PackBudget AS BIGINT)
       |    AS pack_id,
       |  CAST((blk_off + cum_in_blk - est_tokens) % $PackBudget AS BIGINT)
       |    AS pack_offset
       |FROM cum JOIN blockoff USING (blk)
       |ORDER BY doc_id""".stripMargin

  // ---------- training-mix sampling ----------

  /** Per-stratum sampling rates for [[sampleStratified]] in parts-per-
    * million (integer thresholds — the keep decision is a pure integer
    * comparison in both engines, no float-boundary risk): downsample the
    * dominant language, near-keep the rest. */
  val MixRatesPpm: Seq[(String, Long)] =
    Seq(("en", 400000L), ("de", 900000L), ("es", 900000L),
      ("fr", 900000L), ("zh", 900000L))

  /** Deterministic stratified sampling — the training-mix reweighting
    * step of a data pipeline ("keep 40% of English, 90% of everything
    * else"). Each doc draws a uniform from its own id via the md5 lane
    * (`u = md5_60bit(doc_id || salt) mod 1e6`) and is kept iff
    * `u < rate_ppm(lang)`: no RNG state, so the sample is reproducible
    * across runs, engines, partitionings and retries — rerunning a failed
    * 100 TB stage keeps the exact same rows. The mix spec is a
    * broadcast-joined dim; the scan itself is map-side only (filter
    * pushes to the stratum column + hash per row), so the operator
    * scales as a single pass with no shuffle. Changing the salt yields
    * an independent resample (train/holdout splits are the same op with
    * disjoint predicates on u). */
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val mix = s.createDataFrame(MixRatesPpm).toDF("lang", "rate_ppm")
    t(s, d, "documents")
      .join(broadcast(mix), Seq("lang"))
      .withColumn("u",
        expr(s"${md5Lane("concat(cast(doc_id as string), '#mix')")} % 1000000"))
      .filter(col("u") < col("rate_ppm"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }
  val sampleStratifiedSql: String = {
    val values = MixRatesPpm
      .map { case (l, p) => s"('$l', $p)" }.mkString(", ")
    s"""WITH mix(lang, rate_ppm) AS (VALUES $values)
       |SELECT doc_id, lang, source
       |FROM documents JOIN mix USING (lang)
       |WHERE ${md5LaneDuck("doc_id::VARCHAR || '#mix'")} % 1000000
       |  < rate_ppm
       |ORDER BY doc_id""".stripMargin
  }

  /** Ordered-funnel analysis: how many users complete signup → click →
    * purchase IN THAT ORDER (a later stage only counts when it happens at
    * or after the user's earliest qualifying previous stage). Each stage
    * is one keyed aggregation plus an equi-join against the previous
    * stage's per-user frontier — a chain of hash shuffles on user_id that
    * all co-partition, so at 100 TB the stages after the first reuse the
    * exchange (and each stage's frontier only shrinks). Counting min-ts
    * frontiers rather than window-sorting full event streams keeps state
    * per user at one timestamp per stage. */
  def eventFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").select(col("user_id"), col("ts"), col("event_type"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("ts") >= col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id").filter(col("ts") >= col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    def stageCount(df: DataFrame, idx: Long, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(idx).as("stage_idx"), lit(name).as("stage"), col("n_users"))
    stageCount(s1, 1L, "signup")
      .unionByName(stageCount(s2, 2L, "click"))
      .unionByName(stageCount(s3, 3L, "purchase"))
      .orderBy("stage_idx")
  }
  val eventFunnelSql: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |    WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e
      |    JOIN s1 USING (user_id)
      |    WHERE event_type = 'click' AND ts >= t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e
      |    JOIN s2 USING (user_id)
      |    WHERE event_type = 'purchase' AND ts >= t2 GROUP BY e.user_id)
      |SELECT * FROM (
      |  SELECT 1 AS stage_idx, 'signup' AS stage,
      |    (SELECT count(*) FROM s1) AS n_users
      |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
      |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
      |ORDER BY stage_idx""".stripMargin

  /** Benchmark decontamination — the training-pipeline step that flags
    * corpus documents sharing word n-grams with a held-out evaluation set
    * (the published recipe: strip any training doc overlapping an eval
    * benchmark by ≥K n-grams; GPT-3 appendix C / Gopher §A.4 use 8–13-gram
    * collisions, scaled to 3-grams here because the synthetic docs are
    * short). The eval set is the deterministic doc_id % 97 == 0 slice
    * standing in for a benchmark suite. Per surviving doc: how many of its
    * distinct 3-grams appear anywhere in the eval set, and that count as a
    * fraction of the doc's grams (a report, not a hard filter, so the
    * oracle can check every row; the K-threshold filter is one predicate
    * on top). Topology: the eval side collapses to DISTINCT grams — a
    * benchmark suite is tiny relative to a 100 TB corpus, so it rides a
    * broadcast; the corpus side is one explode + map-side hash probe +
    * per-doc re-aggregation on doc_id. No shuffle touches the full gram
    * stream except the doc_id groupBy, which AQE coalesces. */
  def textDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), gramsExpr.as("g"))
    val evalGrams = docs.filter(col("doc_id") % 97 === 0)
      .select(explode(col("g")).as("gram")).distinct()
    docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), size(col("g")).cast("long").as("n_grams"),
        explode(col("g")).as("gram"))
      .join(broadcast(evalGrams), "gram")
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("contaminated_frac",
        round(col("n_shared").cast("double") / col("n_grams"), 6))
      .select("doc_id", "n_grams", "n_shared", "contaminated_frac")
      .orderBy("doc_id")
  }
  val textDecontaminateSql: String =
    raw"""WITH g AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(string_split_regex(trim(text), '\s+')) - 2, 1)),
         |    i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
         |         string_split_regex(trim(text), '\s+')[i + 1] || ' ' ||
         |         string_split_regex(trim(text), '\s+')[i + 2])) AS gl
         |  FROM documents),
         |ex AS (SELECT doc_id, unnest(gl) AS gram, len(gl) AS n_grams FROM g),
         |ev AS (SELECT DISTINCT gram FROM ex WHERE doc_id % 97 = 0)
         |SELECT doc_id, n_grams, count(*) AS n_shared,
         |  round(CAST(count(*) AS DOUBLE) / n_grams, 6) AS contaminated_frac
         |FROM ex JOIN ev USING (gram)
         |WHERE doc_id % 97 <> 0
         |GROUP BY doc_id, n_grams
         |ORDER BY doc_id""".stripMargin

  /** Temperature-scaled domain mixture weights — the sampling-probability
    * computation behind multi-domain pre-training mixes (raise rare
    * domains, damp dominant ones): w_i = c_i^α / Σ_j c_j^α over per-lang
    * doc counts, here α = 0.5 so the power is `sqrt`, which IEEE 754
    * guarantees correctly rounded in every engine (general pow is not,
    * and a last-ulp divergence would break the oracle hash). The Σ rides
    * a DECIMAL(30,12) cast so the 5-row sum is exact and order-independent
    * — the same trick the dsum helper uses for double aggregation.
    * Topology: one keyed count per domain (map-side combined), a 1-row
    * broadcast of the normalizer, and arithmetic; domain cardinality is
    * tiny at any corpus scale, so this costs one pass over the corpus. */
  def mixTemperature(s: SparkSession, d: String): DataFrame = {
    val Budget = 10000L
    val cnt = t(s, d, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val z = cnt.agg(
      sum(ddec(sqrt(col("n_docs")), scale = 12)).as("z"))
    cnt.join(broadcast(z))
      .withColumn("weight",
        round(sqrt(col("n_docs")) / col("z").cast("double"), 6))
      .withColumn("target_docs",
        round(col("weight") * Budget).cast("long"))
      .select("lang", "n_docs", "weight", "target_docs")
      .orderBy("lang")
  }
  val mixTemperatureSql: String =
    """WITH cnt AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
      |z AS (SELECT sum(CAST(sqrt(n_docs) AS DECIMAL(30,12))) AS z FROM cnt)
      |SELECT lang, n_docs,
      |  round(sqrt(n_docs) / CAST(z AS DOUBLE), 6) AS weight,
      |  CAST(round(round(sqrt(n_docs) / CAST(z AS DOUBLE), 6) * 10000)
      |    AS BIGINT) AS target_docs
      |FROM cnt, z
      |ORDER BY lang""".stripMargin

  /** Multimodal frame sampling — the video-ingest plumbing of a training
    * pipeline: an opaque binary payload plus frame-rate metadata fans out
    * to one row per sampled frame, each carrying a decoded-frame
    * signature. The "codec" is a deterministic stub (the container has no
    * video libs): frames are 256-byte strides, the decode hashes the
    * 64-byte window at each stride with MD5 — which makes the whole
    * pipeline oracle-checkable in DuckDB (`md5(substr(...))`; the corpus
    * is ASCII so char and byte offsets coincide). The real part is the
    * Spark topology: per-partition batched decode via mapPartitions (one
    * codec instance per partition, the shape a JNI decoder needs), a
    * row-multiplying explode that never touches the driver, and a schema
    * of (doc_id, frame_idx, frame_ts, frame_sig). At 100 TB the stride
    * and window come from the container's real fps/duration metadata and
    * the payload column stays columnar-compressed until the decode. */
  def mmFrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val Stride = 256
    val Win = 64
    val Fps = 4.0
    t(s, d, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        val md = java.security.MessageDigest.getInstance("MD5")
        batch.flatMap { case (id, bytes) =>
          val nFrames = math.max(1L, bytes.length.toLong / Stride)
          (0L until nFrames).iterator.map { i =>
            val off = (i * Stride).toInt
            val end = math.min(off + Win, bytes.length)
            val sig = md.digest(java.util.Arrays.copyOfRange(bytes, off, end))
              .map("%02x".format(_)).mkString
            (id, i, i / Fps, sig)
          }
        }
      }
      .toDF("doc_id", "frame_idx", "frame_ts", "frame_sig")
      .orderBy("doc_id", "frame_idx")
  }
  val mmFrameSampleSql: String =
    """WITH f AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(0, greatest(len(text) // 256, 1) - 1))
      |      AS frame_idx
      |  FROM documents)
      |SELECT doc_id, frame_idx, frame_idx / 4.0 AS frame_ts,
      |  md5(substr(text, CAST(frame_idx * 256 AS INT) + 1, 64)) AS frame_sig
      |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  /** Safe-prefix selection for batched BPE ([[textBpeMerges]]): walk the
    * (count desc, pair asc) order and select pairs while their symbol
    * sets stay pairwise DISJOINT. Merging a selected pair (a,b) can only
    * (i) change counts of pairs sharing a or b and (ii) create new pairs
    * (x,a~b)/(a~b,y) whose counts are bounded by some existing sharer's
    * count. So every selected pair that sorts STRICTLY above the first
    * symbol-sharing candidate (the barrier) is exactly what sequential
    * BPE would pick next, in the same order. Pairs at or below the
    * barrier count are dropped (a spawned pair with an equal count could
    * win the string tiebreak). If the collected list was truncated at
    * `topK`, the K-th count is a second barrier (unseen sharers can hide
    * below it). A SELF-pair (a,a) is special: its merge spawns
    * (a~a, a)/(a, a~a) whose counts are bounded by count(a,a) ITSELF —
    * not by any sharer — so a self-pair may only ever END a batch
    * (selected alone when it is the argmax, a barrier otherwise; the
    * ScalaCheck corpus "a a a b c b c a a a" falsified the earlier rule
    * that treated it like any disjoint pair). The empty case never
    * selects; a non-empty `top` always yields at least the argmax (safe
    * alone by definition). Pure — property-tested against a sequential
    * BPE reference over random corpora in KernelPropertySpec. */
  private[graft] def bpeSafePrefix(
      top: IndexedSeq[(String, Long)], topK: Int, remaining: Int)
      : IndexedSeq[(String, Long)] = {
    if (top.isEmpty) return IndexedSeq.empty
    val seen = scala.collection.mutable.Set[String]()
    val prefix = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    var barrier = if (top.length == topK) top.last._2 else -1L
    var selfEnd = false // batch ends in a self-pair: nothing may follow it
    var i = 0
    var open = true
    while (open && i < top.length) {
      val (pair, c) = top(i)
      val syms = pair.split("\\|", 2)
      if (syms.exists(seen)) { barrier = math.max(barrier, c); open = false }
      else if (syms(0) == syms(1)) {
        if (prefix.isEmpty) { prefix += ((pair, c)); selfEnd = true }
        else barrier = math.max(barrier, c)
        open = false
      }
      else { seen ++= syms; prefix += ((pair, c)) }
      i += 1
    }
    if (selfEnd) return prefix.take(1).toIndexedSeq // argmax, alone
    val safe = prefix.takeWhile(_._2 > barrier).take(remaining)
    (if (safe.nonEmpty) safe else prefix.take(1)).toIndexedSeq
  }

  /** Distributed BPE-style tokenizer training — 5 merge steps of the
    * byte-pair-encoding loop (Sennrich et al. 2016) over word symbols
    * (character-level is the same algorithm with a different base
    * alphabet). Each step: count adjacent symbol pairs corpus-wide, pick
    * the most frequent (ties broken by pair string so both engines agree),
    * and fuse every non-overlapping left-to-right occurrence. Sequences
    * ride a `|`-delimited string column so the fuse step is a literal
    * `replace` with identical greedy semantics in Spark and DuckDB
    * (corpus words are alphanumeric, so neither delimiter collides).
    *
    * Topology per step: one explode + keyed count (map-side combined)
    * and a 1-row collect of the argmax — the standard distributed-
    * fixpoint shape (cf. dedupGroups); the fuse itself is map-side only.
    * Lineage is cut with localCheckpoint each round so step k never
    * replays steps 1..k-1. At 100 TB each step is one linear pass; real
    * tokenizer training batches many disjoint merges per pass, which is
    * this same plan with the argmax widened to a top-m. */
  def textBpeMerges(s: SparkSession, d: String): DataFrame = {
    val Steps = 5
    // Top-K collected per pass; merges whose sequential-equivalence is
    // PROVABLE from the top-K alone (see selection rule below) are
    // batched into one fuse pass, so the 5 merge steps usually take 1-2
    // corpus passes instead of 5 — the production batching real BPE
    // trainers use, but restricted to the provably-identical subset so
    // the sequential oracle stays hash-exact.
    val TopK = 64
    var (seqs, seqIds) = pinnedIds(s) {
      t(s, d, "documents")
        .select(concat(lit("|"), concat_ws("|", expr(wordsExpr)), lit("|")).as("seq"))
        .localCheckpoint()
    }
    val merges = Seq.newBuilder[(Long, String, Long)]
    var done = 0
    while (done < Steps) {
      val top = seqs
        .select(expr("filter(split(seq, '\\\\|'), x -> x <> '')").as("tl"))
        .filter(size(col("tl")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(tl) - 1),
            |  j -> concat(element_at(tl, j), '|', element_at(tl, j + 1)))"""
            .stripMargin)).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("pair")).limit(TopK).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      if (top.isEmpty) done = Steps // corpus fused to single symbols; cannot happen at real sizes
      val batch = bpeSafePrefix(top.toIndexedSeq, TopK, Steps - done)
      batch.foreach { case (pair, c) =>
        done += 1
        merges += ((done.toLong, pair, c))
      }
      if (done < Steps) {
        // One fused map pass applies the whole batch: the replaces nest
        // left-to-right in merge order, and disjointness makes that
        // identical to running them as separate sequential passes.
        val fusedSeq = batch.foldLeft("seq") { case (inner, (pair, _)) =>
          val Array(a, b) = pair.split("\\|", 2)
          s"replace($inner, '|$a|$b|', '|$a~$b|')"
        }
        val (next, nextIds) = pinnedIds(s) {
          seqs.select(expr(fusedSeq).as("seq")).localCheckpoint()
        }
        release(s, seqIds)
        seqs = next; seqIds = nextIds
      }
    }
    release(s, seqIds) // the merge table is built on the driver
    import s.implicits._
    merges.result().toDF("step", "pair", "pair_count").orderBy("step")
  }
  val textBpeMergesSql: String = {
    // NOTE: the enclosing template strips margins AFTER interpolation, so
    // no line here may begin with "||" — keep concatenations line-final.
    def stepCtes(i: Int): String =
      s"""p$i AS MATERIALIZED (SELECT pair, count(*) AS c FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(tl) - 1),
         |      j -> tl[j] || '|' || tl[j + 1])) AS pair
         |    FROM (SELECT list_filter(string_split(seq, '|'),
         |            x -> x <> '') AS tl FROM s$i)
         |    WHERE len(tl) >= 2) GROUP BY pair),
         |b$i AS MATERIALIZED (SELECT pair, c FROM p$i ORDER BY c DESC, pair LIMIT 1),
         |s${i + 1} AS MATERIALIZED (SELECT doc_id, n_words, replace(seq,
         |    '|' || split_part((SELECT pair FROM b$i), '|', 1) || '|' ||
         |      split_part((SELECT pair FROM b$i), '|', 2) || '|',
         |    '|' || split_part((SELECT pair FROM b$i), '|', 1) || '~' ||
         |      split_part((SELECT pair FROM b$i), '|', 2) || '|') AS seq
         |  FROM s$i)""".stripMargin
    raw"""WITH s1 AS MATERIALIZED (
         |  SELECT doc_id,
         |    len(string_split_regex(trim(text), '\s+')) AS n_words,
         |    '|' || array_to_string(
         |    string_split_regex(trim(text), '\s+'), '|') || '|' AS seq
         |  FROM documents),
         |${(1 to 5).map(stepCtes).mkString(",\n")}
         |SELECT * FROM (
         |${(1 to 5).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, pair, c AS pair_count FROM b$i")
      .mkString("\nUNION ALL\n")})
         |ORDER BY step""".stripMargin
  }

  /** Tokenizer apply: encode the corpus with the 5 learned BPE merges —
    * the inference half of [[textBpeMerges]] (train emits the merge
    * table; encode replays it over any corpus). Per doc: token count
    * before and after, and the compression the merges bought. The merge
    * table is tiny (it is the tokenizer), so at 100 TB it broadcasts and
    * the whole encode is one map-side pass; here the same 5 fused
    * replaces are applied in merge order, which is exactly how a BPE
    * tokenizer's merge ranks are applied at inference. The oracle runs
    * the identical training chain and diffs s1 vs the final state. */
  def textBpeEncode(s: SparkSession, d: String): DataFrame = {
    val merges = textBpeMerges(s, d).collect()
      .sortBy(_.getAs[Long]("step")).map(_.getAs[String]("pair"))
    val docs = t(s, d, "documents")
      .select(col("doc_id"),
        expr(s"size($wordsExpr)").cast("long").as("n_words"),
        concat(lit("|"), concat_ws("|", expr(wordsExpr)), lit("|")).as("seq"))
    val encoded = merges.foldLeft(docs) { (df, pair) =>
      val Array(a, b) = pair.split("\\|", 2)
      df.withColumn("seq", expr(s"replace(seq, '|$a|$b|', '|$a~$b|')"))
    }
    encoded
      .select(col("doc_id"), col("n_words"),
        expr("size(filter(split(seq, '\\\\|'), x -> x <> ''))")
          .cast("long").as("n_tokens"))
      .withColumn("saved", col("n_words") - col("n_tokens"))
      .select("doc_id", "n_words", "n_tokens", "saved")
      .orderBy("doc_id")
  }
  val textBpeEncodeSql: String = {
    // reuse the training chain: s6 is the corpus after all 5 merges
    val chain = textBpeMergesSql.substring(0, textBpeMergesSql.indexOf("SELECT * FROM ("))
    raw"""${chain}SELECT doc_id, n_words,
         |  len(list_filter(string_split(seq, '|'), x -> x <> '')) AS n_tokens,
         |  n_words - len(list_filter(string_split(seq, '|'), x -> x <> ''))
         |    AS saved
         |FROM s6
         |ORDER BY doc_id""".stripMargin
  }

  /** Last-touch conversion attribution: each purchase event is attributed
    * to the user's most recent PRECEDING click within [[AttrWindowS]]
    * seconds — the standard marketing/causal bookkeeping op, and the
    * event-stream shape of an as-of join expressed as a single keyed
    * window (`last(..., ignoreNulls)` over strictly-preceding rows, total
    * (ts, event_id) order). One shuffle on user_id, no self-join; gaps
    * are floor-epoch second differences so both engines do identical
    * integer arithmetic. */
  def eventAttribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val clickId = when(col("event_type") === "click", col("event_id"))
    val clickTs = when(col("event_type") === "click", col("ts"))
    t(s, d, "events")
      .withColumn("click_id", last(clickId, ignoreNulls = true).over(w))
      .withColumn("click_ts", last(clickTs, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("gap_s",
        unix_seconds(col("ts")) - unix_seconds(col("click_ts")))
      .select(col("event_id"), col("user_id"),
        when(col("gap_s") <= AttrWindowS, col("click_id")).as("click_id"),
        when(col("gap_s") <= AttrWindowS, col("gap_s")).as("gap_s"),
        coalesce(col("gap_s") <= AttrWindowS, lit(false)).as("attributed"))
      .orderBy("event_id")
  }
  val AttrWindowS = 7L * 24 * 3600
  val eventAttributionSql: String =
    s"""WITH lasts AS (SELECT event_id, user_id, ts, event_type,
       |    last_value(CASE WHEN event_type = 'click' THEN event_id END
       |      IGNORE NULLS) OVER w AS click_id,
       |    last_value(CASE WHEN event_type = 'click' THEN ts END
       |      IGNORE NULLS) OVER w AS click_ts
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |purch AS (SELECT event_id, user_id,
       |    CAST(floor(epoch(ts)) AS BIGINT)
       |      - CAST(floor(epoch(click_ts)) AS BIGINT) AS gap_s, click_id
       |  FROM lasts WHERE event_type = 'purchase')
       |SELECT event_id, user_id,
       |  CASE WHEN gap_s <= $AttrWindowS THEN click_id END AS click_id,
       |  CASE WHEN gap_s <= $AttrWindowS THEN gap_s END AS gap_s,
       |  COALESCE(gap_s <= $AttrWindowS, FALSE) AS attributed
       |FROM purch ORDER BY event_id""".stripMargin

  /** Nearest-direction as-of join (pandas `merge_asof(direction=
    * 'nearest')`): each click matches the error with the smallest
    * absolute time distance, ties to the earlier (backward) side. One
    * union frame, two keyed windows — the trailing last for the backward
    * candidate, the leading first for the forward candidate — then a
    * per-row arbitration on exact microsecond gaps; same-ts errors sort
    * before clicks so they are backward matches. No self-join, one
    * shuffle on user_id. */
  def joinAsofNearest(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val lhs = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(1).as("side"), col("event_id"),
        lit(null).cast("bigint").as("m_id"),
        lit(null).cast("timestamp").as("m_ts"))
    val rhs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        lit(null).cast("bigint").as("event_id"),
        col("event_id").as("m_id"), col("ts").as("m_ts"))
    val wb = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("side"), col("m_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("side"), col("m_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val chooseB = col("b_id").isNotNull &&
      (col("f_id").isNull || col("b_gap") <= col("f_gap"))
    lhs.unionByName(rhs)
      .withColumn("b_id", last(col("m_id"), ignoreNulls = true).over(wb))
      .withColumn("b_ts", last(col("m_ts"), ignoreNulls = true).over(wb))
      .withColumn("f_id", first(col("m_id"), ignoreNulls = true).over(wf))
      .withColumn("f_ts", first(col("m_ts"), ignoreNulls = true).over(wf))
      .filter(col("side") === 1)
      .withColumn("b_gap", unix_micros(col("ts")) - unix_micros(col("b_ts")))
      .withColumn("f_gap", unix_micros(col("f_ts")) - unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(chooseB, col("b_id")).otherwise(col("f_id")).as("match_event_id"),
        when(chooseB, col("b_ts")).otherwise(col("f_ts")).as("match_ts"),
        when(chooseB, lit("backward")).otherwise(lit("forward")).as("direction"),
        when(chooseB, col("b_gap")).otherwise(col("f_gap")).as("gap_us"))
      .orderBy("event_id")
  }
  val joinAsofNearestSql: String =
    """WITH u AS (
      |  SELECT user_id, ts, 1 AS side, event_id,
      |    NULL::BIGINT AS m_id, NULL::TIMESTAMP AS m_ts
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, ts, 0 AS side, NULL::BIGINT, event_id, ts
      |  FROM events WHERE event_type = 'error'),
      |w AS (SELECT *,
      |    last_value(m_id IGNORE NULLS) OVER wb AS b_id,
      |    last_value(m_ts IGNORE NULLS) OVER wb AS b_ts,
      |    first_value(m_id IGNORE NULLS) OVER wf AS f_id,
      |    first_value(m_ts IGNORE NULLS) OVER wf AS f_ts
      |  FROM u
      |  WINDOW wb AS (PARTITION BY user_id ORDER BY ts, side, m_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wf AS (PARTITION BY user_id ORDER BY ts, side, m_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      |c AS (SELECT event_id, user_id, ts,
      |    epoch_us(ts) - epoch_us(b_ts) AS b_gap,
      |    epoch_us(f_ts) - epoch_us(ts) AS f_gap,
      |    b_id, f_id, b_ts, f_ts
      |  FROM w WHERE side = 1)
      |SELECT event_id, user_id, ts,
      |  CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR b_gap <= f_gap)
      |    THEN b_id ELSE f_id END AS match_event_id,
      |  CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR b_gap <= f_gap)
      |    THEN b_ts ELSE f_ts END AS match_ts,
      |  CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR b_gap <= f_gap)
      |    THEN 'backward' ELSE 'forward' END AS direction,
      |  CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR b_gap <= f_gap)
      |    THEN b_gap ELSE f_gap END AS gap_us
      |FROM c ORDER BY event_id""".stripMargin

  /** Smoothed bigram language-model scoring — one step up from
    * [[textUnigramLogprob]] toward the perplexity filter: per document,
    * the mean of ln p(w₂|w₁) under the corpus's own add-1-smoothed
    * bigram MLE, p = (c(w₁,w₂)+1)/(c(w₁)+|V|). Low scores flag
    * token-order gibberish that unigram scoring cannot see.
    *
    * Topology (round 13; previously the raw string-pair occurrence
    * stream shuffled through two equi-joins): the bigram stream is
    * reduced ONCE to (doc_id, h1, h12, k) — per-doc bigram
    * multiplicities keyed by xxhash64 of the unigram/bigram — in a
    * single map-side-combined shuffle; the corpus-wide bigram and
    * unigram tables aggregate from that reduced stream, join back on
    * the hash keys, and each doc's sum weights the decimal-quantized ln
    * term by its multiplicity (decimal × integer is exact at these
    * widths, so the weighted sum is bit-identical to the oracle's
    * per-occurrence sum). Raw bigram strings never reach a shuffle.
    *
    * Key width (round 14): each unigram/bigram key is a PAIR of
    * xxhash64 lanes — the plain hash plus a salt-distinguished second
    * lane — i.e. an effectively 128-bit key. A single 64-bit lane's
    * birthday bound (~n²/2⁶⁵ over distinct bigrams) stops being
    * negligible around n ≈ 10⁸ distinct bigrams (collision odds ~0.3%),
    * well inside a 100 TB corpus's vocabulary; at 128 bits the bound is
    * ~n²/2¹²⁹, vanishing past any realistic n. Rows are 32-byte keys +
    * count — still far below raw string pairs. |V| is one broadcast
    * scalar counted on exact strings. */
  def textBigramLogprob(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), expr(wordsExpr).as("ws"))
    // Round 15: the per-doc (quad, k) reduce happens INSIDE the
    // BigramHashCounts kernel loop — the span stream (4 interpreted
    // xxhash64 HOF lambdas per span, then the (doc, quad)-keyed
    // exchange) never enters a shuffle; emitted rows are bit-identical,
    // so every downstream stage and the oracle are untouched. The spec
    // keeps the span-explode head as executable documentation, pinned
    // row-equal against this kernel head.
    val perDoc = docs.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(
        org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.BigramHashCounts(
            org.apache.spark.sql.graftcol.NativeColumn
              .expression(col("ws"))))).as("b"))
      .select(col("doc_id"), col("b.h1").as("h1"), col("b.h1b").as("h1b"),
        col("b.h12").as("h12"), col("b.h12b").as("h12b"), col("b.k").as("k"))
    val bc = perDoc.groupBy("h1", "h1b", "h12", "h12b").agg(sum("k").as("c2"))
    val uc = bc.groupBy("h1", "h1b").agg(sum("c2").as("c1"))
    val v = docs.select(explode(col("ws")).as("u"))
      .agg(countDistinct("u").as("v"))
    perDoc.join(bc, Seq("h1", "h1b", "h12", "h12b")).join(uc, Seq("h1", "h1b"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("k"),
        (ddec(log((col("c2").cast("double") + 1) / (col("c1") + col("v"))),
          precision = 26, scale = 12) * col("k").cast(DecimalType(10, 0)))
          .as("klp"))
      .groupBy("doc_id")
      .agg(sum("k").as("n_bigrams"),
        round(sum("klp").cast("double") / sum("k"), 6).as("mean_logprob"))
      .orderBy("doc_id")
  }
  val textBigramLogprobSql: String =
    raw"""WITH w AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\s+') AS ws FROM documents),
         |bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
         |  FROM (SELECT doc_id, ws,
         |    unnest(generate_series(1, len(ws) - 1)) AS i FROM w)),
         |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
         |  FROM bg GROUP BY w1, w2),
         |uc AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM bc GROUP BY w1),
         |v AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS v
         |  FROM (SELECT unnest(ws) AS u FROM w)),
         |scored AS (SELECT bg.doc_id,
         |    CAST(ln((CAST(bc.c2 AS DOUBLE) + 1) / (uc.c1 + v.v))
         |      AS DECIMAL(38,12)) AS lp
         |  FROM bg JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_logprob
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Vocabulary coverage curve: the cumulative fraction of all corpus
    * tokens covered by the top-[[CovK]] most frequent terms — the
    * tokenizer-design diagnostic ("how big must the vocab be to cover
    * 95% of the stream?"). The corpus reduces to (term, count) once; the
    * top-K cut is a distributed TakeOrdered (count desc, term tie-break),
    * and only the K-row result flows through the cumulative window — the
    * unpartitioned window never sees the full vocabulary, so the plan is
    * clean at any corpus scale. The total-token denominator is a single
    * broadcast scalar. */
  val CovK = 100
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val cnt = t(s, d, "documents")
      .select(explode(expr(wordsExpr)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint() // consumed twice: total + top-K
    val tot = cnt.agg(sum("c").as("t"))
    val top = cnt.orderBy(col("c").desc, col("w")).limit(CovK)
    val w = Window.orderBy(col("c").desc, col("w"))
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum("c").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("w").as("term"), col("c"), col("cum"),
        round(col("cum").cast("double") / col("t"), 6).as("coverage"))
      .orderBy("rank")
  }
  val vocabCoverageSql: String =
    raw"""WITH w AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
         |  FROM documents),
         |cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY w),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cnt),
         |top AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT $CovK),
         |rk AS (SELECT w, c,
         |    CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rank,
         |    CAST(sum(c) OVER (ORDER BY c DESC, w
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum
         |  FROM top)
         |SELECT rank, w AS term, c, cum,
         |  round(CAST(cum AS DOUBLE) / tot.t, 6) AS coverage
         |FROM rk CROSS JOIN tot ORDER BY rank""".stripMargin

  /** Size-balanced shard assignment: documents ranked globally by token
    * count (descending, doc_id tie-break) and dealt to [[Shards]] shards
    * in boustrophedon (snake) order — 0,1,…,S−1,S−1,…,1,0 — the
    * deterministic greedy layout that equalizes per-shard token totals
    * (within one document) without any driver-side bin-packing state.
    * The standard step that turns a scored corpus into balanced training
    * shards.
    *
    * Scale: the global rank is [[Q.distPos]] — range shuffle + parallel
    * per-partition ranks + broadcast offsets, never a single-partition
    * window; the snake map is pure per-row arithmetic on the position. */
  val Shards = 8
  def shardPack(s: SparkSession, d: String): DataFrame = {
    val tok = t(s, d, "documents")
      .select(col("doc_id"), expr(s"cast(size($wordsExpr) as bigint)").as("n_tokens"))
    Q.distPos(tok, "pos", col("n_tokens").desc, col("doc_id").asc)
      .withColumn("shard",
        expr(s"CASE WHEN (pos div $Shards) % 2 = 0 THEN pos % $Shards " +
          s"ELSE ${Shards - 1} - pos % $Shards END").cast("long"))
      .select("doc_id", "n_tokens", "pos", "shard")
      .orderBy("doc_id")
  }
  val shardPackSql: String =
    raw"""WITH tok AS (SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents),
         |p AS (SELECT doc_id, n_tokens,
         |    CAST(row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1
         |      AS BIGINT) AS pos
         |  FROM tok)
         |SELECT doc_id, n_tokens, pos,
         |  CAST(CASE WHEN (pos // $Shards) % 2 = 0 THEN pos % $Shards
         |    ELSE ${Shards - 1} - pos % $Shards END AS BIGINT) AS shard
         |FROM p ORDER BY doc_id""".stripMargin

  /** Cohort retention — the standard product-analytics matrix: users
    * cohorted by the week of their first event, counted distinct per
    * (cohort week, activity week). Two keyed shuffles: the first-seen
    * aggregation on user_id whose partitioning the subsequent equi-join
    * reuses (no extra exchange — same-key co-partitioning), then the
    * cohort-cell count. `count(DISTINCT user_id)` expands to Spark's
    * two-phase partial-distinct aggregate, so no cell's user set ever
    * materializes on one node; at 100 TB cells with hot cohorts are
    * exactly the skew AQE's skew-join handling splits. Weeks truncate
    * Monday-start in both engines. */
  def eventRetention(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    ev.join(first, "user_id")
      .groupBy(col("cohort"), col("wk"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .withColumn("week_no", (datediff(col("wk"), col("cohort")) / 7).cast("long"))
      .select("cohort", "wk", "week_no", "n_users")
      .orderBy("cohort", "wk")
  }
  val eventRetentionSql: String =
    """WITH ev AS (
      |  SELECT user_id, date_trunc('week', ts) AS wk FROM events),
      |first AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id)
      |SELECT cohort::TIMESTAMP AS cohort, wk::TIMESTAMP AS wk,
      |  CAST(date_diff('day', cohort, wk) // 7 AS BIGINT) AS week_no,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM ev e JOIN first USING (user_id)
      |GROUP BY cohort, wk ORDER BY cohort, wk""".stripMargin

  /** TF-IDF top terms: the classic corpus-statistics op (salient terms
    * per document). The (doc, term) term frequencies reduce map-side
    * inside the [[graft.functions.WordCounts]] kernel (no explode →
    * groupBy exchange); the term document frequency is a `count(*)` window
    * over the term partition of that SAME relation (one row per
    * (doc, term), so the partition size IS the document frequency). The
    * window replaces the round-14 dfreq groupBy + equi-join pair, which
    * shuffled the full tf stream by term TWICE (once into the df
    * aggregate, once into the join); the window shuffles it once and
    * emits identical df values. The corpus size joins in as a broadcast
    * single-row aggregate, never a driver collect. Ranking orders by the
    * ROUNDED score so the window order is exactly as reproducible
    * cross-engine as the emitted value, with the term string as total
    * tie-break. Skew note: a hyper-common term's partition is as large
    * for the window buffer (spillable UnsafeRowArray) as it was for the
    * join's shuffle block — the rewrite moves no skew boundary. */
  def tfidfTopTerms(s: SparkSession, d: String): DataFrame = {
    // Round 15: the (doc, word) term-frequency reduce happens INSIDE the
    // WordCounts kernel loop (all words of a document live in one row) —
    // the explode → groupBy(doc_id, w) exchange is GONE; the only wide
    // stages left are the structural term-keyed df window and the
    // doc-keyed rank window. The kernel emits the identical (w, c) pairs
    // ([[tfidfTopTermsExploded]], the executable documentation, is pinned
    // row-equal in PipelineSpec), so the window chain and the DuckDB
    // oracle are untouched.
    val docs = t(s, d, "documents").select(col("doc_id"), expr(wordsExpr).as("ws"))
    val tf = docs.select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        explode(org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.WordCounts(
            org.apache.spark.sql.graftcol.NativeColumn.expression(col("ws")))))
          .as("p"))
      .select(col("doc_id"), col("p.w").as("w"), col("p.c").as("c"),
        col("n_words"))
    tfidfRanked(docs, tf)
  }

  /** Shared tail of [[tfidfTopTerms]]: df window + broadcast corpus size
    * + rounded-score ranking over a (doc_id, w, c, n_words) tf relation. */
  private def tfidfRanked(docs: DataFrame, tf: DataFrame): DataFrame = {
    val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    val win = Window.partitionBy("doc_id").orderBy(desc("score"), asc("w"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy("w")))
      .crossJoin(nDocs)
      .withColumn("score", round((col("c").cast("double") / col("n_words"))
        * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("w").as("term"), col("c").as("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rank")
  }
  val tfidfTopTermsSql: String =
    raw"""WITH w AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\s+') AS ws FROM documents),
         |words AS (SELECT doc_id, len(ws) AS n_words, unnest(ws) AS w FROM w),
         |tf AS (SELECT doc_id, w, count(*) AS c, any_value(n_words) AS n_words
         |       FROM words GROUP BY doc_id, w),
         |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, w, c, df,
         |    round((CAST(c AS DOUBLE) / n_words)
         |      * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
         |  FROM tf JOIN dfreq USING (w) CROSS JOIN n),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, w) AS rank FROM scored)
         |SELECT doc_id, rank, w AS term, c AS tf, df, score
         |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** The pre-round-15 explode + (doc_id, w) groupBy head of
    * [[tfidfTopTerms]], run through the SAME [[tfidfRanked]] tail —
    * executable documentation of what [[graft.functions.WordCounts]]
    * reduces in-row; PipelineSpec pins it row-equal to the kernel form. */
  private[graft] def tfidfTopTermsExploded(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), expr(wordsExpr).as("ws"))
    val tf = docs.select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"), explode(col("ws")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"), first(col("n_words")).as("n_words"))
      .select(col("doc_id"), col("w"), col("c"), col("n_words"))
    tfidfRanked(docs, tf)
  }

  /** Corpus-internal duplicated-span detection (the n-gram approximation
    * of exact-substring dedup, Lee et al. 2022 "Deduplicating Training
    * Data Makes Language Models Better"): every word-8-gram span is
    * hashed to a 64-bit md5 lane, spans whose gram occurs in ≥2 distinct
    * documents are flagged, and each document reports its duplicated-span
    * fraction. Explode → one hash shuffle on the 8-byte gram key → keyed
    * rollup: the token stream never ships raw gram strings to the
    * shuffle, which at 100 TB is the difference between shuffling ~8
    * bytes and ~50 bytes per span. Collision odds at n spans are
    * ~n²/2⁶⁴ (≈10⁻⁸ at a billion spans); the spec checks
    * hash-faithfulness against a raw-string twin over
    * [[dedupSubstringOn]]. */
  def dedupSubstring(s: SparkSession, d: String): DataFrame = {
    // Round 15: the per-doc (gram, count) reduce happens INSIDE the
    // NgramMd5LaneCounts kernel loop — the span stream never enters a
    // shuffle, deleting the (g, doc_id) map-side-combined exchange the
    // round-13 aggregate-once topology still paid. The kernel emits
    // bit-identical lanes and identical multiplicities to the
    // explode → groupBy it replaces ([[dedupSubstringExplode]], the
    // executable documentation, is pinned row-equal in PipelineSpec),
    // so the spread window, the rollup, and the DuckDB oracle are
    // untouched. At 100 TB the only wide stage left is the gram-keyed
    // spread window over distinct (gram, doc) pairs.
    val docs = t(s, d, "documents").select(col("doc_id"), expr(wordsExpr).as("ws"))
    val perDocGram = docs.filter(size(col("ws")) >= 8)
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.NgramMd5LaneCounts(
            org.apache.spark.sql.graftcol.NativeColumn.expression(col("ws")),
            8))).as("p"))
      .select(col("p.g").as("g"), col("doc_id"), col("p.c").as("c"))
    dedupSubstringRollup(docs, perDocGram)
  }

  /** The pre-round-15 explode + (g, doc) groupBy head of
    * [[dedupSubstring]] — executable documentation of what
    * [[graft.functions.NgramMd5LaneCounts]] reduces in-row. */
  private[graft] def dedupSubstringExplode(
      s: SparkSession, d: String): DataFrame =
    dedupSubstringOn(gramCol = md5Lane("concat_ws(' ', slice(ws, i, 8))"))(s, d)

  private[graft] def dedupSubstringOn(gramCol: String)(
      s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), expr(wordsExpr).as("ws"))
    // Aggregate-once topology (round 13; previously grams ⋈ spread): the
    // exploded span stream is reduced to one (g, doc_id, c) row per
    // distinct gram-per-doc in a single map-side-combined shuffle, the
    // per-gram document spread is a window over that REDUCED stream, and
    // the per-doc rollup sums the span multiplicities back. The old shape
    // evaluated the gram explode twice (both sides of the self-join) and
    // re-shuffled every raw span row through the join; this one hashes
    // each span once and every later stage moves only distinct
    // (gram, doc) pairs — at 100 TB that is the difference between
    // shuffling the corpus twice and shuffling its distinct-span summary.
    val grams = docs.filter(size(col("ws")) >= 8)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(1, size(ws) - 7), i -> $gramCol)")).as("g"))
    val perDocGram = grams.groupBy("g", "doc_id").agg(count(lit(1)).as("c"))
    dedupSubstringRollup(docs, perDocGram)
  }

  /** Shared tail of the substring-dedup family: gram-keyed spread window
    * over the reduced (g, doc_id, c) stream, per-doc rollup, corpus
    * left-join. */
  private def dedupSubstringRollup(
      docs: DataFrame, perDocGram: DataFrame): DataFrame = {
    val spreadWin = Window.partitionBy("g")
    val per = perDocGram
      .withColumn("nd", count(lit(1)).over(spreadWin))
      .groupBy("doc_id")
      .agg(sum("c").as("n_spans"),
        sum(when(col("nd") >= 2, col("c")).otherwise(0L)).as("dup_spans"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        round(col("dup_spans").cast("double") / col("n_spans"), 6).as("dup_frac"))
      .orderBy("doc_id")
  }
  val dedupSubstringSql: String =
    raw"""WITH w AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\s+') AS ws FROM documents),
         |pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i
         |        FROM w WHERE len(ws) >= 8),
         |grams AS (SELECT doc_id,
         |    ${md5LaneDuck("array_to_string(ws[i:i+7], ' ')")} AS g FROM pos),
         |spread AS (SELECT g, count(DISTINCT doc_id) AS nd FROM grams GROUP BY g),
         |per AS (SELECT doc_id, count(*) AS n_spans,
         |    CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans
         |  FROM grams JOIN spread USING (g) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_spans, 0) AS n_spans,
         |  coalesce(dup_spans, 0) AS dup_spans,
         |  round(CAST(dup_spans AS DOUBLE) / n_spans, 6) AS dup_frac
         |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Scalar (int8) quantized similarity search: each vector is
    * symmetric-quantized to 127 levels of its own max-abs
    * (`floor(x·127/max)` — floor, not round, because floor is exactly
    * reproducible across engines while round's half-way behavior is
    * implementation-defined), then top-k runs on the INTEGER dot product
    * — exact arithmetic, bit-identical everywhere, and the cosine
    * denominator uses IEEE-correctly-rounded sqrt/divide so even the
    * reported score is deterministic. This is the standard memory-scale
    * path for ANN: 4× smaller vectors (int8 vs f32) before any index
    * structure, composable with the IVF/LSH operators' candidate
    * pruning. Exact baseline topology (probe × corpus) like
    * [[simCosineTopk]]; [[PipelineSpec]] measures recall vs the
    * unquantized exact top-5. */
  def simQuantizedTopk(s: SparkSession, d: String): DataFrame = {
    val vecs = t(s, d, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("mx", expr("greatest(array_max(transform(v, x -> abs(x))), 1e-12d)"))
      .withColumn("q", expr("transform(v, x -> cast(floor(x * 127.0 / mx) as bigint))"))
      .withColumn("qn", expr("aggregate(q, 0L, (a, x) -> a + x * x)"))
      .select("vec_id", "q", "qn")
    val probes = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("q").as("qa"), col("qn").as("qna"))
    val cands = vecs.select(col("vec_id").as("cand_id"),
      col("q").as("qb"), col("qn").as("qnb"))
    // rerankTopK on the PRE-rounded qcos (the quantized variant ranks on
    // the rounded value by design), so roundOut=false emits it as-is
    rerankTopK(
      probes.join(cands, col("q_id") =!= col("cand_id"))
        .withColumn("qdot",
          expr("aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
        .withColumn("qcos", round(col("qdot").cast("double")
          / (sqrt(col("qna").cast("double")) * sqrt(col("qnb").cast("double"))), 6)),
      "qcos", "qcos", roundOut = false)
  }
  val simQuantizedTopkSql: String =
    """WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |qv AS (SELECT vec_id,
      |    list_transform(v, x -> CAST(floor(x * 127.0 /
      |      greatest(list_max(list_transform(v, y -> abs(y))), 1e-12)) AS BIGINT)) AS q
      |  FROM vecs),
      |qn AS (SELECT vec_id, q,
      |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS qn FROM qv),
      |scored AS (
      |  SELECT p.vec_id AS q_id, c.vec_id AS cand_id,
      |    round(list_inner_product(p.q::DOUBLE[], c.q::DOUBLE[])
      |      / (sqrt(CAST(p.qn AS DOUBLE)) * sqrt(CAST(c.qn AS DOUBLE))), 6) AS qcos
      |  FROM qn p JOIN qn c ON p.vec_id < 10 AND p.vec_id <> c.vec_id),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY qcos DESC, cand_id) AS rank FROM scored)
      |SELECT q_id, rank, cand_id, qcos
      |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** RFM user segmentation (recency / frequency / monetary quartiles) —
    * the standard product-analytics cohort op. Per-user rollup is one
    * keyed aggregate over the event stream (monetary through the exact
    * decimal-sum lane); the corpus max timestamp attaches as a broadcast
    * single-row aggregate. Each quartile assignment runs through
    * [[Q.ntileByBoundaries]] (narrow range shuffle of the order columns +
    * broadcast boundary rows), so even at hundreds of millions of users no
    * single partition ever sorts the whole dimension — while remaining
    * bit-identical to the `ntile(4)` oracle (user_id tie-break). */
  def eventRfm(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val maxTs = broadcast(ev.agg(max(col("ts")).as("max_ts")))
    val per = ev.groupBy("user_id").agg(
      max(col("ts")).as("last_ts"),
      count(lit(1)).as("freq"),
      dsum(col("value")).as("monetary"))
    // Round 20 (r19 verdict item 6, guide §2.3–2.4): pin the per-user
    // frame ONCE, projected to exactly the output columns, and assign
    // each quartile via [[Q.ntileByBoundaries]] — three chained
    // per-partition-rank ntiles each range-shuffled and checkpointed the
    // progressively wider frame (28 stages); now only narrow (key,
    // user_id) projections shuffle for the boundary passes and the
    // quartiles are map-side comparisons against 3 broadcast boundary
    // rows, bit-identical to ntile(4) by the same position math.
    val scored = per.crossJoin(maxTs)
      .withColumn("recency_days",
        datediff(to_date(col("max_ts")), to_date(col("last_ts"))).cast("long"))
      .select("user_id", "recency_days", "freq", "monetary")
      .localCheckpoint() // read by 3 boundary passes + the final assembly
    // The three boundary passes are independent jobs over the same pin:
    // overlap them from driver threads (guide §2.6) so the cluster isn't
    // idle between the serial narrow-shuffle launches; the assignment
    // columns compose on this thread afterward.
    val specs = Seq[(String, Seq[Column])](
      ("r_q", Seq(col("recency_days"), col("user_id"))),
      ("f_q", Seq(col("freq").desc, col("user_id"))),
      ("m_q", Seq(col("monetary").desc, col("user_id"))))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(specs.size)
    val qCols: Seq[(String, Column)] =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val futs = specs.map { case (out, ord) =>
          scala.concurrent.Future(out -> Q.ntileBucketCol(scored, 4, ord: _*))
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futs),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    val withQ = qCols.foldLeft(scored) { case (df, (out, c)) =>
      df.withColumn(out, c) }
    withQ
      .withColumn("segment", concat(col("r_q"), col("f_q"), col("m_q")))
      .select("user_id", "recency_days", "freq", "monetary",
        "r_q", "f_q", "m_q", "segment")
      .orderBy("user_id")
  }
  val eventRfmSql: String =
    s"""WITH per AS (
       |  SELECT user_id, max(ts) AS last_ts, count(*) AS freq,
       |    ${DSUM("value")} AS monetary
       |  FROM events GROUP BY user_id),
       |mx AS (SELECT max(ts) AS max_ts FROM events),
       |scored AS (
       |  SELECT user_id, freq, monetary,
       |    CAST(date_diff('day', CAST(last_ts AS DATE), CAST(max_ts AS DATE))
       |      AS BIGINT) AS recency_days
       |  FROM per CROSS JOIN mx),
       |q AS (SELECT *,
       |    ntile(4) OVER (ORDER BY recency_days, user_id) AS r_q,
       |    ntile(4) OVER (ORDER BY freq DESC, user_id) AS f_q,
       |    ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_q
       |  FROM scored)
       |SELECT user_id, recency_days, freq, monetary, r_q, f_q, m_q,
       |  r_q || f_q || m_q AS segment
       |FROM q ORDER BY user_id""".stripMargin

  /** Deterministic epoch shuffle: the corpus in a reproducible pseudo-
    * random order (seeded md5 lane of the doc id), with the global
    * position assigned DISTRIBUTED — a range shuffle on the key, a
    * per-partition rank (window partitioned by the physical partition id,
    * so it parallelizes), and partition-size offsets cumsum'd over a
    * partition-count-sized frame joined back by broadcast. No global
    * single-partition window, no driver zipWithIndex: the classic
    * distributed position-assignment topology, correct for any partition
    * boundaries because ranges are non-overlapping and the offset is
    * computed from actual partition contents. */
  def shuffleEpoch(s: SparkSession, d: String): DataFrame = {
    val seed = 42
    // Round 20: the position assignment IS [[Q.distPos]] — the inline
    // census+rank-window copy paid two hidden exchanges (census groupBy
    // and the Window.partitionBy(pid) rank over the checkpoint, whose
    // scan reports UnknownPartitioning); distPos emits
    // offset(partition)+local index in one no-shuffle mapPartitions pass.
    Q.distPos(
        t(s, d, "documents")
          .select(col("doc_id"),
            expr(md5Lane(s"concat('epoch$seed#', doc_id)")).as("k")),
        "pos", col("k"), col("doc_id"))
      .select(col("pos"), col("doc_id"), col("k").as("shuffle_key"))
      .orderBy("pos")
  }
  val shuffleEpochSql: String =
    s"""WITH keyed AS (SELECT doc_id,
       |    ${md5LaneDuck("'epoch42#' || doc_id")} AS k FROM documents)
       |SELECT row_number() OVER (ORDER BY k, doc_id) - 1 AS pos,
       |  doc_id, k AS shuffle_key
       |FROM keyed ORDER BY pos""".stripMargin

  /** Deterministic train/val/test holdout split: assignment by hash
    * bucket of the doc id (90/5/5), so membership is stable under corpus
    * growth and reshuffling — the property a content- or position-based
    * split lacks. Pure map-side assignment + one keyed rollup. */
  def splitHoldout(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .withColumn("bucket", expr(md5Lane("concat('split#', doc_id)")) % 100)
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr(s"size($wordsExpr)")).cast("long").as("n_words"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("split")
  val splitHoldoutSql: String =
    raw"""WITH b AS (SELECT doc_id, text,
         |    ${md5LaneDuck("'split#' || doc_id")} % 100 AS bucket FROM documents)
         |SELECT CASE WHEN bucket < 90 THEN 'train'
         |            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_words,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM b GROUP BY split ORDER BY split""".stripMargin

  /** Per-source corpus report: the summary table a pipeline run ends
    * with — document/token counts, exact-duplicate rate, language spread,
    * mean document length. All order-independent exact aggregates (counts,
    * min/max, integer sums; the mean is an exact integer-sum ratio), one
    * keyed rollup plus a distinct-hash subaggregate. */
  def corpusStats(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("source"), col("lang"), col("doc_id"),
        expr(s"size($wordsExpr)").cast("long").as("wc"), md5(col("text")).as("h"))
    // both distinct aggregates in ONE rollup: Spark plans multi-distinct
    // via Expand, so the text-bearing table is scanned once, no join back
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("wc")).as("n_words"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("wc")).as("min_words"), max(col("wc")).as("max_words"),
        countDistinct(col("h")).as("n_unique"))
      .withColumn("dup_rate",
        round((col("n_docs") - col("n_unique")).cast("double") / col("n_docs"), 6))
      .withColumn("mean_words",
        round(col("n_words").cast("double") / col("n_docs"), 6))
      .select("source", "n_docs", "n_words", "n_langs", "min_words",
        "max_words", "n_unique", "dup_rate", "mean_words")
      .orderBy("source")
  }
  val corpusStatsSql: String =
    raw"""WITH docs AS (SELECT source, lang, doc_id,
         |    len(string_split_regex(trim(text), '\s+')) AS wc,
         |    md5(text) AS h FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(wc) AS BIGINT) AS n_words,
         |  count(DISTINCT lang) AS n_langs,
         |  CAST(min(wc) AS BIGINT) AS min_words,
         |  CAST(max(wc) AS BIGINT) AS max_words,
         |  count(DISTINCT h) AS n_unique,
         |  round(CAST(count(*) - count(DISTINCT h) AS DOUBLE) / count(*), 6)
         |    AS dup_rate,
         |  round(CAST(sum(wc) AS DOUBLE) / count(*), 6) AS mean_words
         |FROM docs GROUP BY source ORDER BY source""".stripMargin

  // ---------- graph analytics ----------

  /** PageRank over the word co-occurrence graph: nodes are vocabulary
    * words, directed edges are adjacent-word (bigram) pairs weighted by
    * corpus frequency, ranks follow the classical damped update
    * r(v) = (1−d)/N + d·Σ_{u→v} r(u)·w(u,v)/outdeg(u) for [[PrIters]]
    * iterations (d = 0.85, uniform init, no dangling-mass redistribution —
    * the same simplification Spark GraphX's `staticPageRank` makes).
    *
    * Cross-engine determinism: iterative double summation is
    * order-dependent, so ranks are kept in fixed-point — scaled by
    * [[PrScale]] and stored as BIGINT, every edge contribution
    * floor-quantized before the (exact, order-independent) integer sum,
    * and the damping multiply floor-quantized after it. floor and IEEE
    * multiply/divide are bit-reproducible across engines, so the DuckDB
    * oracle (the identical update as 5 chained MATERIALIZED CTEs) matches
    * hash-exact.
    *
    * Scale shape: edge extraction is pure map-side (per-row `transform`
    * over the word array + explode, no shuffle); edge weighting is one
    * hash aggregation keyed (src,dst). The iterated state — the rank
    * table — is vocabulary-sized, orders of magnitude smaller than the
    * corpus, so each iteration explicitly broadcasts the (checkpointed)
    * rank and out-degree tables against the edge table — map-side joins
    * plus one vocab-keyed partial-aggregated shuffle per iteration; the
    * corpus text is read exactly once. For vocabularies too big to
    * broadcast, drop the hint and the same plan shuffle-joins on the
    * word key. `localCheckpoint` after edges/nodes and
    * per-iteration ranks truncates the growing lineage — the standard
    * iterative-algorithm hygiene that keeps the 5th iteration's plan the
    * same size as the 1st. Each superseded rank pin is released once the
    * next is pinned, and the edge and node pins once the last is. */
  val PrIters = 5
  val PrScale = 1e12
  def graphPagerank(s: SparkSession, d: String): DataFrame = {
    val pairs = Q.bigramEdges(t(s, d, "documents").select(expr(wordsExpr).as("ws")))
    // out-degree pre-joined ONCE onto the edge table (round 16): the od
    // column rides the checkpoint, so each iteration's action no longer
    // recomputes and re-broadcasts outdeg from the edge checkpoint. The
    // contribution expression still reads floor((r·wt)/od) with the same
    // association, so every fixed-point value is unchanged.
    val e = pairs.groupBy("src", "dst").agg(sum("pc").as("wt"))
    val (edges, edgeIds) = pinnedIds(s) {
      e.join(broadcast(e.groupBy(col("src")).agg(sum("wt").as("od"))), "src")
        .localCheckpoint()
    }
    val (nodes, nodeIds) = pinnedIds(s) {
      edges.select(col("src").as("w"))
        .union(edges.select(col("dst"))).distinct().localCheckpoint()
    }
    // N is a scalar: count it once instead of re-aggregating + re-
    // broadcasting the one-row nn table inside every iteration's action.
    // lit(n) feeds the identical double expressions.
    val n = nodes.count()
    var (ranks, rankIds) = pinnedIds(s) {
      nodes.select(col("w"), floor(lit(PrScale) / lit(n).cast("long")).as("r"))
        .localCheckpoint()
    }
    for (_ <- 1 to PrIters) {
      val contrib = edges
        .join(broadcast(ranks.withColumnRenamed("w", "src")), "src")
        .select(col("dst").as("w"),
          floor(col("r").cast("double") * col("wt") / col("od")).as("ctr"))
        .groupBy("w").agg(sum("ctr").as("s"))
      val (next, nextIds) = pinnedIds(s) {
        nodes.join(broadcast(contrib), Seq("w"), "left")
          .select(col("w"),
            (floor(lit(0.15) * lit(PrScale) / lit(n).cast("long")) +
              floor(lit(0.85) * coalesce(col("s"), lit(0L)))).as("r"))
          .localCheckpoint()
      }
      release(s, rankIds)
      ranks = next; rankIds = nextIds
    }
    release(s, edgeIds ++ nodeIds) // the result reads the last round only
    ranks.select(col("w"), col("r").as("rank_e12"))
      .orderBy(col("rank_e12").desc, col("w"))
  }
  val graphPagerankSql: String = {
    def iterCte(k: Int): String =
      raw"""r$k AS MATERIALIZED (
           |  SELECT n.w, CAST(floor(0.15 * 1e12 / nn.n) AS BIGINT)
           |       + CAST(floor(0.85 * COALESCE(c.s, 0)) AS BIGINT) AS r
           |  FROM nodes n CROSS JOIN nn LEFT JOIN (
           |    SELECT e.dst AS w,
           |      CAST(sum(CAST(floor(CAST(p.r AS DOUBLE) * e.wt / o.od)
           |        AS BIGINT)) AS BIGINT) AS s
           |    FROM edges e JOIN r${k - 1} p ON p.w = e.src
           |      JOIN outdeg o ON o.w = e.src
           |    GROUP BY e.dst) c ON c.w = n.w)""".stripMargin
    raw"""WITH ws AS (SELECT string_split_regex(trim(text), '\s+') AS w
         |       FROM documents),
         |e0 AS (SELECT w[i] AS src, w[i+1] AS dst
         |       FROM ws, UNNEST(range(1, len(w))) AS t(i)),
         |edges AS MATERIALIZED (SELECT src, dst,
         |       CAST(count(*) AS BIGINT) AS wt FROM e0 GROUP BY src, dst),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS w FROM edges
         |       UNION SELECT DISTINCT dst FROM edges),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
         |outdeg AS MATERIALIZED (SELECT src AS w, CAST(sum(wt) AS BIGINT) AS od
         |       FROM edges GROUP BY src),
         |r0 AS MATERIALIZED (SELECT w, CAST(floor(1e12 / nn.n) AS BIGINT) AS r
         |       FROM nodes CROSS JOIN nn),
         |""".stripMargin +
      (1 to PrIters).map(iterCte).mkString(",\n") +
      s"\nSELECT w, r AS rank_e12 FROM r$PrIters ORDER BY rank_e12 DESC, w"
  }

  /** Bigram PMI collocation extraction: for every adjacent word pair with
    * corpus frequency ≥ [[PmiMinCount]], the pointwise mutual information
    * ln(c(a,b)·T / (c(a,·)·c(·,b))) against the bigram margins — the
    * classical collocation / multi-word-expression detector (Church &
    * Hanks 1990). All counts are exact integers; the single ln-of-ratio
    * is rounded to 6, so the result is cross-engine reproducible.
    *
    * Scale shape: bigram extraction is map-side; one (src,dst) hash
    * aggregation reduces the corpus to a ≤|V|² table, and the margin /
    * total joins run on that reduced table (broadcast total). Nothing
    * after the first aggregation ever touches corpus-sized data. */
  val PmiMinCount = 5
  def textCollocations(s: SparkSession, d: String): DataFrame = {
    val e = Q.bigramEdges(t(s, d, "documents").select(expr(wordsExpr).as("ws")))
      .groupBy("src", "dst").agg(sum("pc").as("pair_count"))
      .localCheckpoint()
    val tot = e.agg(sum("pair_count").as("tt"))
    val ls = e.groupBy("src").agg(sum("pair_count").as("ca"))
    val rs = e.groupBy("dst").agg(sum("pair_count").as("cb"))
    e.join(ls, "src").join(rs, "dst").crossJoin(broadcast(tot))
      .where(col("pair_count") >= PmiMinCount)
      .select(col("src"), col("dst"), col("pair_count"),
        round(log(col("pair_count").cast("double") * col("tt") /
          (col("ca") * col("cb"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("src"), col("dst"))
  }
  val textCollocationsSql: String =
    raw"""WITH ws AS (SELECT string_split_regex(trim(text), '\s+') AS w
         |       FROM documents),
         |bg AS (SELECT w[i] AS src, w[i+1] AS dst
         |       FROM ws, UNNEST(range(1, len(w))) AS t(i)),
         |e AS MATERIALIZED (SELECT src, dst,
         |       CAST(count(*) AS BIGINT) AS pair_count
         |     FROM bg GROUP BY src, dst),
         |m AS (SELECT CAST(sum(pair_count) AS BIGINT) AS tt FROM e),
         |ls AS (SELECT src, CAST(sum(pair_count) AS BIGINT) AS ca
         |       FROM e GROUP BY src),
         |rs AS (SELECT dst, CAST(sum(pair_count) AS BIGINT) AS cb
         |       FROM e GROUP BY dst)
         |SELECT e.src, e.dst, e.pair_count,
         |  round(ln(CAST(e.pair_count AS DOUBLE) * m.tt / (ls.ca * rs.cb)), 6)
         |    AS pmi
         |FROM e JOIN ls USING (src) JOIN rs USING (dst) CROSS JOIN m
         |WHERE e.pair_count >= $PmiMinCount
         |ORDER BY pmi DESC, src, dst""".stripMargin

  /** BFS hop depth over the directed co-occurrence graph from a
    * deterministic source (the most frequent word, lexicographic
    * tie-break), [[BfsIters]] frontier expansions — the reachability /
    * graph-distance primitive (the same iterated min-plus pattern
    * computes single-source shortest paths with weights). Depth updates
    * are integer `min`s, so no quantization is needed for cross-engine
    * exactness. Each iteration broadcasts the vocabulary-sized distance
    * table against the (deduplicated, checkpointed) edge list; words
    * unreached after [[BfsIters]] hops are absent, matching the oracle's
    * fixed CTE chain. Pins are released as in [[graphPagerank]]. */
  val BfsIters = 4
  def graphBfsDepth(s: SparkSession, d: String): DataFrame = {
    val words = t(s, d, "documents")
      .select(col("doc_id"), expr(wordsExpr).as("ws"))
    val (edgesCp, edgeIds) = pinnedIds(s) {
      Q.bigramEdges(words).select(col("src"), col("dst")).distinct()
        .localCheckpoint()
    }
    val uc = words.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    var (dist, distIds) = pinnedIds(s) {
      uc.orderBy(col("c").desc, col("w")).limit(1)
        .select(col("w"), lit(0L).as("depth")).localCheckpoint()
    }
    for (_ <- 1 to BfsIters) {
      val reached = edgesCp
        .join(broadcast(dist.withColumnRenamed("w", "src")
          .withColumnRenamed("depth", "pd")), "src")
        .select(col("dst").as("w"), (col("pd") + 1L).as("depth"))
      val (next, nextIds) = pinnedIds(s) {
        dist.union(reached).groupBy("w")
          .agg(min("depth").as("depth")).localCheckpoint()
      }
      release(s, distIds)
      dist = next; distIds = nextIds
    }
    release(s, edgeIds) // the result reads the last round only
    dist.orderBy("depth", "w")
  }
  val graphBfsDepthSql: String = {
    def step(k: Int): String =
      raw"""d$k AS MATERIALIZED (SELECT w, CAST(min(depth) AS BIGINT) AS depth
           |  FROM (SELECT w, depth FROM d${k - 1} UNION ALL
           |    SELECT e.dst AS w, p.depth + 1 AS depth
           |    FROM edges e JOIN d${k - 1} p ON p.w = e.src) u
           |  GROUP BY w)""".stripMargin
    raw"""WITH ws AS (SELECT string_split_regex(trim(text), '\s+') AS w
         |       FROM documents),
         |bg AS (SELECT w[i] AS src, w[i+1] AS dst
         |       FROM ws, UNNEST(range(1, len(w))) AS t(i)),
         |edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM bg),
         |wd AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
         |       FROM documents),
         |uc AS (SELECT w, count(*) AS c FROM wd GROUP BY w),
         |d0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS depth
         |     FROM (SELECT w FROM uc ORDER BY c DESC, w LIMIT 1)),
         |""".stripMargin +
      (1 to BfsIters).map(step).mkString(",\n") +
      s"\nSELECT w, depth FROM d$BfsIters ORDER BY depth, w"
  }

  /** Triangle count + global clustering coefficient over the undirected
    * co-occurrence graph — the standard cohesion metrics (counting via
    * the canonical a<b<c edge orientation, so each triangle is
    * enumerated exactly once from its two forward wedges). Every output
    * is an exact integer except the coefficient, a single rounded
    * division of exact integers — nothing to quantize.
    *
    * Scale: the corpus reduces to the deduplicated canonical edge list
    * (vocabulary²-bounded) in one map-side pass + one distinct; the
    * two-step wedge-close join runs entirely on that reduced table. For
    * graphs whose edge list is NOT tiny relative to the cluster, the
    * same oriented-join topology is the distributed-triangle standard
    * (order vertices by degree so high-degree nodes close wedges, which
    * bounds the wedge intermediate — the classic compact-forward
    * refinement); here orientation is lexicographic for oracle parity. */
  def graphTriangles(s: SparkSession, d: String): DataFrame = {
    val und = Q.bigramEdges(t(s, d, "documents").select(expr(wordsExpr).as("ws")))
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().localCheckpoint()
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val tri = und.as("e1")
      .join(broadcast(und.as("e2")), col("e1.b") === col("e2.a"))
      .join(broadcast(und.as("e3")),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val agg0 = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val ec = und.agg(count(lit(1)).as("n_edges"))
    agg0.crossJoin(broadcast(ec)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("clustering_coeff"))
  }
  val graphTrianglesSql: String =
    raw"""WITH ws AS (SELECT string_split_regex(trim(text), '\s+') AS w
         |       FROM documents),
         |bg AS (SELECT w[i] AS src, w[i+1] AS dst
         |       FROM ws, UNNEST(range(1, len(w))) AS t(i)),
         |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
         |       greatest(src, dst) AS b FROM bg WHERE src <> dst),
         |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
         |       SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) u
         |     GROUP BY v),
         |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM und e1
         |     JOIN und e2 ON e2.a = e1.b
         |     JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         |agg0 AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |     CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
         |ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)
         |SELECT agg0.n_nodes, ec.n_edges, tri.n_triangles, agg0.n_wedges,
         |  round(3.0 * tri.n_triangles / agg0.n_wedges, 6) AS clustering_coeff
         |FROM agg0 CROSS JOIN ec CROSS JOIN tri""".stripMargin

  // ---------- event analytics ----------

  /** Per-type z-score anomaly detection over the event stream: events
    * whose `value` deviates more than [[ZCut]] population standard
    * deviations from their event-type mean. Moments come from exact
    * decimal sums (Σv at scale 6, Σv² at scale 12 — the [[Q.dsum]]
    * recipe), so mean/variance are order-independent; sqrt and the final
    * divide are correctly-rounded IEEE ops, making the z-scores
    * cross-engine exact. Scale shape: one keyed aggregation to a
    * #event-types-sized stats table, broadcast back over the stream —
    * no window over an unpartitioned frame, no second pass. */
  val ZCut = 3.0
  def eventOutliers(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val st = ev.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(ddec(col("value"))).cast("double").as("s1"),
      sum(ddec(col("value") * col("value"), scale = 12))
        .cast("double").as("s2"))
    val mv = st.select(col("event_type"), col("n"),
      (col("s1") / col("n")).as("m1"),
      sqrt(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")))
        .as("sd"))
    val z = (col("value") - col("m1")) / col("sd")
    ev.join(broadcast(mv), "event_type")
      .where(col("sd") > 0 && abs(z) > ZCut)
      .select(col("event_id"), col("event_type"), col("value"),
        round(z, 6).as("zscore"))
      .orderBy("event_id")
  }
  val eventOutliersSql: String =
    raw"""WITH st AS (SELECT event_type,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(value AS DECIMAL(30, 6))) AS DOUBLE) AS s1,
         |    CAST(sum(CAST(value * value AS DECIMAL(30, 12))) AS DOUBLE) AS s2
         |  FROM events GROUP BY event_type),
         |mv AS (SELECT event_type, n, s1 / n AS m1,
         |    sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sd FROM st)
         |SELECT e.event_id, e.event_type, e.value,
         |  round((e.value - mv.m1) / mv.sd, 6) AS zscore
         |FROM events e JOIN mv USING (event_type)
         |WHERE mv.sd > 0 AND abs((e.value - mv.m1) / mv.sd) > $ZCut
         |ORDER BY e.event_id""".stripMargin

  /** Time-series resampling with gap fill: the event stream downsampled
    * to a dense per-type hourly grid (sparse hours appear with
    * n_events = 0) and the hourly mean forward-filled across gaps — the
    * standard resample → ffill preparation before feature extraction.
    * The grid is generated per group from its own [min, max] hour
    * (`sequence(h0, h1, interval 1 hour)` exploded — map-side), then
    * left-joined against the hourly aggregate and carried forward with
    * `last(_, ignoreNulls)` over a type-partitioned running frame.
    * Hourly means use exact decimal sums ([[Q.dsum]]) for
    * order-independence.
    *
    * Scale: grid size is #types × span-hours — tiny next to the event
    * stream; the only corpus-sized work is the first keyed aggregation.
    * The fill window partitions by event_type, which is fine while
    * per-type span-hours fit a partition; for years×millions-of-keys
    * grids, partition by (type, day) and carry each day's last value in
    * via the same two-phase offset construction pack_sequences uses. */
  def eventResample(s: SparkSession, d: String): DataFrame = {
    val hourly = t(s, d, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"),
        round(dsum(col("value")) / count(lit(1)), 6).as("mean_value"))
    val grid = hourly.groupBy("event_type")
      .agg(min("hour").as("h0"), max("hour").as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
    val fillW = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("mean_value"),
        last(col("mean_value"), ignoreNulls = true).over(fillW)
          .as("filled_value"))
      .orderBy("event_type", "hour")
  }
  val eventResampleSql: String =
    s"""WITH hourly AS (SELECT event_type,
       |    date_trunc('hour', ts)::TIMESTAMP AS hour,
       |    CAST(count(*) AS BIGINT) AS n_events,
       |    round(${DSUM("value")} / count(*), 6) AS mean_value
       |  FROM events GROUP BY event_type, hour),
       |span AS (SELECT event_type, min(hour) AS h0, max(hour) AS h1
       |  FROM hourly GROUP BY event_type),
       |grid AS (SELECT event_type,
       |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
       |  FROM span)
       |SELECT g.event_type, g.hour, COALESCE(h.n_events, 0) AS n_events,
       |  h.mean_value,
       |  last_value(h.mean_value IGNORE NULLS) OVER (
       |    PARTITION BY g.event_type ORDER BY g.hour
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
       |FROM grid g LEFT JOIN hourly h USING (event_type, hour)
       |ORDER BY event_type, hour""".stripMargin

  /** Chi-square test of independence on the source × word contingency
    * table (is vocabulary usage independent of the corpus source?) plus
    * Cramér's V effect size — the categorical-association test a corpus
    * audit runs before trusting per-source mixing weights. Observed and
    * marginal counts are exact integers; each (o−e)²/e term is
    * decimal-quantized before the (exact) sum, and sqrt is a
    * correctly-rounded IEEE op, so statistic and effect size are
    * cross-engine exact. Scale: one corpus-sized keyed aggregation; all
    * contingency math happens on the #sources × |V| table with broadcast
    * marginals. */
  def statChiSquare(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "documents")
      .select(col("source"), explode(expr(wordsExpr)).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val rt = o.groupBy("source").agg(sum("o").as("rt"))
    val ct = o.groupBy("w").agg(sum("o").as("ct"))
    val nn = o.agg(sum("o").as("n"),
      countDistinct(col("source")).as("r_levels"),
      countDistinct(col("w")).as("c_levels"))
    // rt*ct in double, not BIGINT: a 100 TB contingency table overflows the
    // long product silently in Spark (non-ANSI wrap) while DuckDB errors —
    // the double path is exact for the test scales and diverges loudly never
    val e = col("rt").cast("double") * col("ct") / col("n")
    o.join(broadcast(rt), "source").join(broadcast(ct), "w")
      .crossJoin(broadcast(nn))
      .select(col("n"), col("r_levels"), col("c_levels"),
        ddec((col("o") - e) * (col("o") - e) / e).as("term"))
      .groupBy("n", "r_levels", "c_levels")
      .agg(sum("term").cast("double").as("chi2_raw"))
      .select(col("n"), col("r_levels"), col("c_levels"),
        ((col("r_levels") - 1) * (col("c_levels") - 1)).as("dof"),
        round(col("chi2_raw"), 4).as("chi2"),
        round(sqrt(col("chi2_raw") /
          (col("n") * least(col("r_levels") - 1, col("c_levels") - 1))), 6)
          .as("cramers_v"))
  }
  val statChiSquareSql: String =
    raw"""WITH wd AS (SELECT source,
         |    unnest(string_split_regex(trim(text), '\s+')) AS w
         |  FROM documents),
         |o AS (SELECT source, w, CAST(count(*) AS BIGINT) AS o
         |  FROM wd GROUP BY source, w),
         |rt AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt
         |  FROM o GROUP BY source),
         |ct AS (SELECT w, CAST(sum(o) AS BIGINT) AS ct FROM o GROUP BY w),
         |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n,
         |    count(DISTINCT source) AS r_levels,
         |    count(DISTINCT w) AS c_levels FROM o),
         |terms AS (SELECT nn.n, nn.r_levels, nn.c_levels,
         |    CAST((o.o - CAST(rt.rt AS DOUBLE) * ct.ct / nn.n)
         |      * (o.o - CAST(rt.rt AS DOUBLE) * ct.ct / nn.n)
         |      / (CAST(rt.rt AS DOUBLE) * ct.ct / nn.n) AS DECIMAL(30, 6)) AS term
         |  FROM o JOIN rt USING (source) JOIN ct USING (w) CROSS JOIN nn)
         |SELECT n, r_levels, c_levels,
         |  (r_levels - 1) * (c_levels - 1) AS dof,
         |  round(CAST(sum(term) AS DOUBLE), 4) AS chi2,
         |  round(sqrt(CAST(sum(term) AS DOUBLE)
         |    / (n * least(r_levels - 1, c_levels - 1))), 6) AS cramers_v
         |FROM terms GROUP BY n, r_levels, c_levels""".stripMargin

  /** Winsorization (percentile clipping) of event values: per-type
    * [[WinsLo]]/[[WinsHi]] interpolated percentiles bound each event's
    * value — the robust-preprocessing step that tames heavy tails before
    * z-scoring or featurization. The percentile pair is one keyed
    * aggregation to a #types-sized table broadcast back over the stream
    * (same single-pass topology as event_outliers); clipping is
    * least/greatest, and bounds are emitted rounded while the clipped
    * value stays raw wherever it isn't replaced. */
  val WinsLo = 0.05
  val WinsHi = 0.95
  /** The interpolated percentile is built EXPLICITLY from the two
    * neighboring order statistics with one fixed expression tree
    * (`x_k + f*(x_{k+1} - x_k)`, `f = p*(n-1) - floor(p*(n-1))`) evaluated
    * identically here and in the DuckDB oracle — engine-internal
    * `percentile()`/`quantile_cont()` use differently-ordered interpolation
    * formulas whose 1-ulp drift could flip `was_clipped` on adversarial
    * data. Order statistics come from a per-type rank (parallel window);
    * when `f = 0` the upper neighbor may not exist — coalesce to `x_k`,
    * which the zero `f` multiplies away exactly. */
  def eventWinsorize(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val cnt = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    val ranked = ev.select(col("event_type"), col("value"))
      .withColumn("rn",
        row_number().over(Window.partitionBy("event_type").orderBy("value")) - 1)
    def interp(p: Double, a: String, b: String): Column =
      expr(s"$a + (CAST($p AS DOUBLE) * (n - 1) " +
        s"- floor(CAST($p AS DOUBLE) * (n - 1))) * (coalesce($b, $a) - $a)")
    val bounds = ranked.join(broadcast(cnt), "event_type")
      .withColumn("k_lo", expr(s"CAST(floor(CAST($WinsLo AS DOUBLE) * (n - 1)) AS BIGINT)"))
      .withColumn("k_hi", expr(s"CAST(floor(CAST($WinsHi AS DOUBLE) * (n - 1)) AS BIGINT)"))
      .filter(col("rn") === col("k_lo") || col("rn") === col("k_lo") + 1 ||
        col("rn") === col("k_hi") || col("rn") === col("k_hi") + 1)
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === col("k_lo"), col("value"))).as("lo0"),
        max(when(col("rn") === col("k_lo") + 1, col("value"))).as("lo1"),
        max(when(col("rn") === col("k_hi"), col("value"))).as("hi0"),
        max(when(col("rn") === col("k_hi") + 1, col("value"))).as("hi1"))
      .select(col("event_type"),
        interp(WinsLo, "lo0", "lo1").as("lo"), interp(WinsHi, "hi0", "hi1").as("hi"))
    ev.join(broadcast(bounds), "event_type")
      .select(col("event_id"), col("event_type"),
        round(col("lo"), 6).as("p_lo"), round(col("hi"), 6).as("p_hi"),
        round(least(greatest(col("value"), col("lo")), col("hi")), 6)
          .as("clipped"),
        (col("value") < col("lo") || col("value") > col("hi"))
          .as("was_clipped"))
      .orderBy("event_id")
  }
  val eventWinsorizeSql: String = {
    def interp(p: Double, a: String, b: String): String =
      s"$a + (CAST($p AS DOUBLE) * (n - 1) " +
        s"- floor(CAST($p AS DOUBLE) * (n - 1))) * (COALESCE($b, $a) - $a)"
    s"""WITH cnt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY event_type),
       |ranked AS (SELECT event_type, value,
       |    row_number() OVER (PARTITION BY event_type ORDER BY value) - 1 AS rn
       |  FROM events),
       |sel AS (SELECT r.event_type, r.value, r.rn, c.n,
       |    CAST(floor(CAST($WinsLo AS DOUBLE) * (c.n - 1)) AS BIGINT) AS k_lo,
       |    CAST(floor(CAST($WinsHi AS DOUBLE) * (c.n - 1)) AS BIGINT) AS k_hi
       |  FROM ranked r JOIN cnt c USING (event_type)),
       |b AS (SELECT event_type, max(n) AS n,
       |    max(CASE WHEN rn = k_lo THEN value END) AS lo0,
       |    max(CASE WHEN rn = k_lo + 1 THEN value END) AS lo1,
       |    max(CASE WHEN rn = k_hi THEN value END) AS hi0,
       |    max(CASE WHEN rn = k_hi + 1 THEN value END) AS hi1
       |  FROM sel WHERE rn = k_lo OR rn = k_lo + 1 OR rn = k_hi OR rn = k_hi + 1
       |  GROUP BY event_type),
       |bounds AS (SELECT event_type,
       |    ${interp(WinsLo, "lo0", "lo1")} AS lo,
       |    ${interp(WinsHi, "hi0", "hi1")} AS hi
       |  FROM b)
       |SELECT e.event_id, e.event_type,
       |  round(b.lo, 6) AS p_lo, round(b.hi, 6) AS p_hi,
       |  round(least(greatest(e.value, b.lo), b.hi), 6) AS clipped,
       |  (e.value < b.lo OR e.value > b.hi) AS was_clipped
       |FROM events e JOIN bounds b USING (event_type)
       |ORDER BY e.event_id""".stripMargin
  }

  /** Per-document Shannon entropy of the word distribution — the
    * information-theoretic quality signal (low entropy ⇒ repetitive /
    * template-like text, a standard pre-training filter alongside the
    * Gopher repetition ratios). Emits the raw entropy
    * H = −Σ_w p_w·ln p_w and the normalized H/ln(n_unique) ∈ [0,1]
    * (null for single-word-type docs, where the normalizer is 0).
    *
    * Determinism: each term is quantized to DECIMAL(30,12) and summed
    * exactly (order-independent, the [[Q.dsum]] recipe at higher scale);
    * ln inputs come from the small set of distinct count/total ratios, so
    * the 6-decimal rounding swallows sub-ulp libm variation. Scale shape
    * (round 15): all words of a document live in one row, so the whole
    * (doc, word) reduce happens inside the
    * [[graft.functions.WordEntropyStats]] kernel loop — ZERO wide stages
    * (the pre-kernel chain paid a (doc_id, word) hash aggregation plus a
    * doc window + final aggregate; [[textEntropyExploded]] keeps that
    * formulation as executable documentation, pinned row-equal in
    * PipelineSpec). The kernel replays the decimal quantization and
    * exact sum term for term, so the DuckDB oracle is untouched. */
  def textEntropy(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), expr(wordsExpr).as("ws"))
      .filter(col("ws").isNotNull && size(col("ws")) > 0)
      .select(col("doc_id"),
        org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.WordEntropyStats(
            org.apache.spark.sql.graftcol.NativeColumn.expression(col("ws"))))
          .as("st"))
      .select(col("doc_id"),
        col("st.n_words").as("n_words"),
        col("st.n_unique").as("n_unique"),
        round(col("st.e_raw").cast("double"), 6).as("entropy"),
        when(col("st.n_unique") > 1,
          round(col("st.e_raw").cast("double")
            / log(col("st.n_unique").cast("double")), 6))
          .as("norm_entropy"))
      .orderBy("doc_id")

  /** The pre-round-15 explode + (doc, word) groupBy + window formulation
    * of [[textEntropy]] — executable documentation of what
    * [[graft.functions.WordEntropyStats]] fuses into one map-side loop. */
  private[graft] def textEntropyExploded(s: SparkSession, d: String): DataFrame = {
    val byDoc = Window.partitionBy("doc_id")
    val p = col("c").cast("double") / col("wc")
    t(s, d, "documents")
      .select(col("doc_id"), explode(expr(wordsExpr)).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .withColumn("wc", sum("c").over(byDoc))
      .withColumn("term", ddec(-p * log(p), scale = 12))
      .groupBy("doc_id")
      .agg(max("wc").as("n_words"), count(lit(1)).as("n_unique"),
        sum("term").cast("double").as("e_raw"))
      .select(col("doc_id"), col("n_words"), col("n_unique"),
        round(col("e_raw"), 6).as("entropy"),
        when(col("n_unique") > 1,
          round(col("e_raw") / log(col("n_unique").cast("double")), 6))
          .as("norm_entropy"))
      .orderBy("doc_id")
  }
  val textEntropySql: String =
    raw"""WITH wd AS (SELECT doc_id,
         |    unnest(string_split_regex(trim(text), '\s+')) AS w
         |  FROM documents),
         |cnts AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
         |  FROM wd GROUP BY doc_id, w),
         |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS wc,
         |    CAST(count(*) AS BIGINT) AS nu FROM cnts GROUP BY doc_id)
         |SELECT c.doc_id, t.wc AS n_words, t.nu AS n_unique,
         |  round(CAST(sum(CAST(-(CAST(c.c AS DOUBLE) / t.wc)
         |      * ln(CAST(c.c AS DOUBLE) / t.wc) AS DECIMAL(30, 12)))
         |    AS DOUBLE), 6) AS entropy,
         |  CASE WHEN t.nu > 1 THEN
         |    round(CAST(sum(CAST(-(CAST(c.c AS DOUBLE) / t.wc)
         |        * ln(CAST(c.c AS DOUBLE) / t.wc) AS DECIMAL(30, 12)))
         |      AS DOUBLE) / ln(CAST(t.nu AS DOUBLE)), 6) END AS norm_entropy
         |FROM cnts c JOIN tot t USING (doc_id)
         |GROUP BY c.doc_id, t.wc, t.nu
         |ORDER BY c.doc_id""".stripMargin

  // ---------- readability / novelty / survival / reliability ----------

  /** Flesch reading-ease and Flesch–Kincaid grade per document, with a
    * deterministic syllable proxy (count of `[aeiouy]+` vowel groups —
    * the standard dictionary-free heuristic, identical under Java and
    * RE2 regex semantics for this simple class). The quality-filter
    * complement to [[textQuality]]: readability bands are a common
    * pretraining-mix stratification key. Pure map-side — scales
    * embarrassingly. Every count is a LENGTH DIFFERENCE — runs of a
    * class = len(collapse-runs-to-one-char) − len(delete-class-chars)
    * — so no regexp_extract_all match array (and no split array) is
    * ever materialized; words = runs(\s)+1 reproduces split semantics
    * exactly, including the empty-string→1 edge. */
  def textReadability(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .withColumn("tt", trim(col("text")))
      .withColumn("lt", lower(col("text")))
      .select(col("doc_id"),
        (length(regexp_replace(col("tt"), "\\s+", " ")) -
          length(translate(col("tt"), " \t\n\u000B\f\r", "")) + 1)
          .cast("long").as("n_words"),
        greatest(lit(1L),
          (length(regexp_replace(col("text"), "[.!?]+", "S")) -
            length(translate(col("text"), ".!?", ""))).cast("long"))
          .as("n_sentences"),
        (length(regexp_replace(col("lt"), "[aeiouy]+", "V")) -
          length(translate(col("lt"), "aeiouy", ""))).cast("long")
          .as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("wps", col("n_words").cast("double") / col("n_sentences"))
      .withColumn("spw", col("n_syllables").cast("double") / col("n_words"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        round(lit(206.835) - lit(1.015) * col("wps")
          - lit(84.6) * col("spw"), 4).as("flesch"),
        round(lit(0.39) * col("wps") + lit(11.8) * col("spw")
          - lit(15.59), 4).as("fk_grade"))
      .orderBy("doc_id")
  val textReadabilitySql: String =
    raw"""WITH m AS (SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
         |      AS n_words,
         |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
         |      AS BIGINT) AS n_sentences,
         |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
         |      AS BIGINT) AS n_syllables
         |  FROM documents)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
         |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4) AS flesch,
         |  round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
         |    + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59, 4)
         |    AS fk_grade
         |FROM m WHERE n_words > 0 ORDER BY doc_id""".stripMargin

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * word-5-gram shingles whose first corpus occurrence (minimum doc_id)
    * is this document — the "how much genuinely new text does this doc
    * add" curation signal (the streaming-order complement of
    * [[dedupSubstring]]'s span overlap). Shingles hash through the
    * repo-wide md5 lane so both engines bucket identically. Round-14
    * topology (previously explode → corpus-wide (doc, gh) DISTINCT
    * shuffle → two keyed aggregations): per-doc distinct gram lanes come
    * out of the [[graft.functions.NgramMd5Lanes]] kernel in one
    * generated loop per document, so the distinct shuffle is GONE and
    * n_grams is a map-side array size — no shuffle at all on that arm.
    * The only wide stages left are the gram-keyed min-doc aggregation
    * (map-side-combined) and its doc-keyed reduction, plus the
    * doc-cardinality left join. */
  def textNgramNovelty(s: SparkSession, d: String): DataFrame = {
    val g = t(s, d, "documents")
      .select(col("doc_id"), expr(wordsExpr).as("ws"))
      .filter(size(col("ws")) >= 5)
      .select(col("doc_id"),
        org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.NgramMd5Lanes(
            org.apache.spark.sql.graftcol.NativeColumn.expression(col("ws")),
            5)).as("ghs"))
      .localCheckpoint() // kernel runs ONCE; feeds both aggregation arms
    val perDoc = g.select(col("doc_id"),
      size(col("ghs")).cast("long").as("n_grams"))
    val novel = g.select(col("doc_id"), explode(col("ghs")).as("gh"))
      .groupBy("gh").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams"), 6))
      .orderBy("doc_id")
  }
  val textNgramNoveltySql: String =
    raw"""WITH w AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\s+') AS ws FROM documents),
         |g AS (SELECT DISTINCT doc_id,
         |    ${md5LaneDuck("list_aggregate(ws[i:i+4], 'string_agg', ' ')")}
         |      AS gh
         |  FROM (SELECT doc_id, ws,
         |      unnest(generate_series(1, len(ws) - 4)) AS i
         |    FROM w WHERE len(ws) >= 5)),
         |f AS (SELECT gh, min(doc_id) AS first_doc FROM g GROUP BY gh)
         |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(count(*) FILTER (WHERE f.first_doc = g.doc_id) AS BIGINT)
         |    AS n_novel,
         |  round(CAST(count(*) FILTER (WHERE f.first_doc = g.doc_id)
         |    AS DOUBLE) / count(*), 6) AS novelty
         |FROM g JOIN f USING (gh) GROUP BY g.doc_id
         |ORDER BY g.doc_id""".stripMargin

  /** Inter-arrival statistics per event type: mean / stddev / coefficient
    * of variation of the per-user consecutive-event gap, plus the implied
    * Poisson rate — the traffic-model fit that sizes streaming watermarks
    * and sessionization timeouts. One keyed window (user, type) for the
    * lag, one aggregation to a #types-sized table. Second moments follow
    * the chi-square recipe: the per-row square is computed in double
    * (deterministic scalar) then decimal-quantized so the sum is
    * aggregation-order-independent. */
  def eventInterarrival(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    t(s, d, "events")
      .withColumn("gap_s",
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
          / lit(1000000.0))
      .filter(col("gap_s").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        dsum(col("gap_s")).as("sx"),
        sum(ddec(col("gap_s") * col("gap_s"), precision = 38))
          .cast("double").as("sxx"))
      .select(col("event_type"), col("n_gaps"),
        round(col("sx") / col("n_gaps"), 6).as("mean_gap_s"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / col("n_gaps"))
          / (col("n_gaps") - 1)), 6).as("sd_gap_s"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / col("n_gaps"))
          / (col("n_gaps") - 1)) / (col("sx") / col("n_gaps")), 6).as("cv"),
        round(lit(3600.0) * col("n_gaps") / col("sx"), 6).as("rate_per_hr"))
      .orderBy("event_type")
  }
  val eventInterarrivalSql: String =
    """WITH g AS (SELECT event_type,
      |    (epoch_us(ts) - epoch_us(lag(ts) OVER (
      |        PARTITION BY user_id, event_type ORDER BY ts, event_id)))
      |      / 1000000.0 AS gap_s
      |  FROM events),
      |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
      |    CAST(sum(CAST(gap_s AS DECIMAL(30,6))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(gap_s * gap_s AS DECIMAL(38,6))) AS DOUBLE) AS sxx
      |  FROM g WHERE gap_s IS NOT NULL GROUP BY event_type)
      |SELECT event_type, n_gaps,
      |  round(sx / n_gaps, 6) AS mean_gap_s,
      |  round(sqrt((sxx - sx * sx / n_gaps) / (n_gaps - 1)), 6) AS sd_gap_s,
      |  round(sqrt((sxx - sx * sx / n_gaps) / (n_gaps - 1))
      |    / (sx / n_gaps), 6) AS cv,
      |  round(3600.0 * n_gaps / sx, 6) AS rate_per_hr
      |FROM a ORDER BY event_type""".stripMargin

  /** Kaplan–Meier survival over days-to-first-purchase: each user enters
    * at their first event; the "event" is their first purchase, users
    * with none are right-censored at the corpus horizon. Emits the risk
    * set, per-day hazard, and the KM product-limit estimate — the
    * activation-funnel time-to-convert curve. The per-user reduction is
    * one keyed aggregation; the KM curve itself lives on the
    * distinct-day axis (bounded by the corpus day span — tens of rows
    * after aggregation), where an unpartitioned cumulative window is
    * size-safe at any corpus scale. The product is exp∘Σln with per-term
    * decimal quantization (the bigram-LM recipe); an absorbing zero
    * factor (hazard = 1) short-circuits to exact 0 instead of ln(0). */
  def eventSurvival(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val hz = ev.agg(max(col("ts").cast("date")).as("h"))
    val u = ev.groupBy("user_id")
      .agg(min(col("ts").cast("date")).as("d0"),
        min(when(col("event_type") === "purchase", col("ts").cast("date")))
          .as("dp"))
      .crossJoin(broadcast(hz))
      .select(
        when(col("dp").isNotNull, datediff(col("dp"), col("d0")))
          .otherwise(datediff(col("h"), col("d0"))).as("t_days"),
        col("dp").isNotNull.as("evented"))
    val d0 = u.groupBy("t_days")
      .agg(count(lit(1)).as("n_end"),
        sum(when(col("evented"), 1L).otherwise(0L)).as("n_event"))
    val total = u.count()
    val wPrev = Window.orderBy("t_days")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("t_days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d0.withColumn("n_risk",
        lit(total) - coalesce(sum("n_end").over(wPrev), lit(0L)))
      .withColumn("hazard",
        col("n_event").cast("double") / col("n_risk"))
      .withColumn("ln_term",
        when(col("n_event") < col("n_risk"),
          ddec(log(lit(1.0) - col("hazard")), precision = 38, scale = 12)))
      .withColumn("n_zero",
        sum(when(col("n_event") === col("n_risk"), 1L).otherwise(0L))
          .over(wCum))
      .select(col("t_days"), col("n_risk"), col("n_event"),
        round(col("hazard"), 6).as("hazard"),
        when(col("n_zero") > 0, lit(0.0))
          .otherwise(round(exp(sum("ln_term").over(wCum).cast("double")), 6))
          .as("survival"))
      .orderBy("t_days")
  }
  val eventSurvivalSql: String =
    """WITH hz AS (SELECT max(CAST(ts AS DATE)) AS h FROM events),
      |u AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0,
      |    min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)
      |      AS dp
      |  FROM events GROUP BY user_id),
      |s AS (SELECT CASE WHEN dp IS NOT NULL
      |      THEN date_diff('day', d0, dp)
      |      ELSE date_diff('day', d0, (SELECT h FROM hz)) END AS t_days,
      |    (dp IS NOT NULL) AS evented
      |  FROM u),
      |d AS (SELECT t_days, CAST(count(*) AS BIGINT) AS n_end,
      |    CAST(count(*) FILTER (WHERE evented) AS BIGINT) AS n_event
      |  FROM s GROUP BY t_days),
      |k AS (SELECT t_days, n_event,
      |    CAST((SELECT count(*) FROM u)
      |      - coalesce(sum(n_end) OVER (ORDER BY t_days
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS n_risk
      |  FROM d),
      |f AS (SELECT t_days, n_risk, n_event,
      |    CAST(n_event AS DOUBLE) / n_risk AS hazard,
      |    CASE WHEN n_event < n_risk THEN
      |      CAST(ln(1.0 - CAST(n_event AS DOUBLE) / n_risk)
      |        AS DECIMAL(38,12)) END AS ln_term,
      |    sum(CASE WHEN n_event = n_risk THEN 1 ELSE 0 END)
      |      OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
      |        AND CURRENT ROW) AS n_zero
      |  FROM k)
      |SELECT t_days, n_risk, n_event, round(hazard, 6) AS hazard,
      |  CASE WHEN n_zero > 0 THEN 0.0
      |    ELSE round(exp(CAST(sum(ln_term) OVER (ORDER BY t_days
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS DOUBLE)), 6) END AS survival
      |FROM f ORDER BY t_days""".stripMargin

  /** Embedding outliers: distance of each vector from the corpus
    * centroid, z-scored over the distance distribution — the cheap
    * embedding-space QC pass that flags mis-embedded or out-of-domain
    * vectors before they poison ANN indexes or cluster assignments.
    *
    * Topology (round 15 — the emb_isotropy posture): one
    * [[graft.functions.VectorDecimalStats]] pass produces the
    * per-dimension centroid as DRIVER state (d sums + counts — the
    * table you'd broadcast at 100 TB), and the per-vector distance is a
    * map-side unrolled decimal sum against the constant-folded centroid
    * literal — no d× row explode, no dim-keyed shuffle, no per-vector
    * regroup of the exploded stream (the previous shape shuffled d×N
    * rows twice). Bit-exactness: the kernel's per-dim sums replay
    * `davg`'s `cast(sum(cast(x as decimal(30,6))) as double) / n`
    * term for term; the per-vector unrolled
    * `cast((x−cx)·(x−cx) as decimal(38,12))` left-fold is the same
    * quantize-then-exact-add sequence the previous decimal `sum`
    * performed (decimal adds are exact, hence order-free), so every
    * distance — and the oracle hash — is unchanged. Assumes fixed-width
    * vectors (the corpus invariant the whole IVF/PQ family rides). */
  def embOutliers(s: SparkSession, d: String): DataFrame = {
    val vecs = t(s, d, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val stRow = vecs
      .agg(graft.functions.VectorDecimalStats.vector_decimal_stats(
        col("v"), lit(1.0), 30, 6).as("st"))
      .select(col("st.sums").as("sums"), col("st.counts").as("counts"))
      .head()
    val sums = stRow.getSeq[java.math.BigDecimal](0)
    val counts = stRow.getSeq[Long](1)
    val cx: Array[Double] =
      sums.zip(counts).map { case (sm, n) => sm.doubleValue / n }.toArray
    // per-vector exact decimal Σ(x−cx)² through the DecimalSqDevSum
    // kernel (a plain cast(...)+cast(...) expression chain would lose a
    // scale digit per add — see the kernel's scaladoc)
    val dist = vecs.select(col("vec_id"),
      sqrt(org.apache.spark.sql.graftcol.NativeColumn.column(
        graft.functions.DecimalSqDevSum(
          org.apache.spark.sql.graftcol.NativeColumn.expression(col("v")),
          cx, 12)).cast("double")).as("dist"))
    val st = dist.agg(count(lit(1)).as("n"),
      dsum(col("dist")).as("s1"),
      sum(ddec(col("dist") * col("dist"), precision = 38, scale = 12))
        .cast("double").as("s2"))
    dist.crossJoin(broadcast(st))
      .withColumn("z", (col("dist") - col("s1") / col("n"))
        / sqrt((col("s2") - col("s1") * col("s1") / col("n"))
          / (col("n") - 1)))
      .select(col("vec_id"), round(col("dist"), 6).as("dist"),
        round(col("z"), 6).as("z"),
        (abs(col("z")) > 2.5).as("is_outlier"))
      .orderBy("vec_id")
  }
  val embOutliersSql: String =
    """WITH e AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings,
      |    unnest(generate_series(1, len(embedding))) AS t(i)),
      |c AS (SELECT i,
      |    CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS cx
      |  FROM e GROUP BY i),
      |d AS (SELECT vec_id,
      |    sqrt(CAST(sum(CAST((x - cx) * (x - cx) AS DECIMAL(38,12)))
      |      AS DOUBLE)) AS dist
      |  FROM e JOIN c USING (i) GROUP BY vec_id),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(dist AS DECIMAL(30,6))) AS DOUBLE) AS s1,
      |    CAST(sum(CAST(dist * dist AS DECIMAL(38,12))) AS DOUBLE) AS s2
      |  FROM d)
      |SELECT vec_id, round(dist, 6) AS dist,
      |  round((dist - s1 / n)
      |    / sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS z,
      |  (abs((dist - s1 / n)
      |    / sqrt((s2 - s1 * s1 / n) / (n - 1))) > 2.5) AS is_outlier
      |FROM d CROSS JOIN st ORDER BY vec_id""".stripMargin

  /** Incremental (reference-vs-new) MinHash dedup — the ingestion-time
    * shape of [[dedupMinhashLsh]]: the corpus is split at half the max
    * doc_id into an already-ingested reference and a "new batch", and
    * each new document is checked for near-duplicates ONLY against the
    * reference via the band buckets (new×new pairs are never generated —
    * at 100 TB the reference's signatures are precomputed and this scan
    * touches just the new partition plus one band-keyed join). Emits one
    * row per new document with its duplicate evidence, matched or not. */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val cut = broadcast(docs.agg((max(col("doc_id")).cast("long") / 2)
      .cast("long").as("cut")))
    // Shape history (round 16): a per-distinct-text signature table +
    // dedup-before-verify rework was tried and REVERTED on calm-window
    // A/B evidence (2.31 s this shape vs 6.36 s reworked at 10×,
    // min-of-3 back-to-back): the small signature checkpoint AQE-
    // coalesces to 1–2 partitions and serializes the downstream band
    // explode + collision join, costing far more than the 10× kernel
    // saving — scan-side signatures keep every heavy stage at scan
    // width. (An earlier same-day A/B that favored the rework measured
    // its baseline inside a host-interference burst; disclosed in
    // BENCH_SF1.md.) Only the verify kernel swap survives: the jaccard
    // runs through EqualLaneCount instead of three interpreted lambdas.
    val bands = docs.select(col("doc_id"), minhashSignature.as("mh"))
      .crossJoin(cut)
      .select(col("doc_id"), col("cut"), col("mh"),
        explode(minhashBandStructs).as("k"))
      .select(col("doc_id"), col("cut"), col("mh"),
        col("k.band").as("band"), col("k.bh").as("bh"))
      // consumed by both the reference and new-batch branches — pin so the
      // MinHash signatures are computed once (at production scale the
      // reference half would be a precomputed signature table instead)
      .localCheckpoint()
    val ref = bands.filter(col("doc_id") <= col("cut"))
      .select(col("band"), col("bh"), col("doc_id").as("ref_id"),
        col("mh").as("mh_r"))
    val neu = bands.filter(col("doc_id") > col("cut"))
      .select(col("band").as("band2"), col("bh").as("bh2"),
        col("doc_id").as("new_id"), col("mh").as("mh_n"))
    val pairs = neu.join(ref,
        col("band2") === col("band") && col("bh2") === col("bh"))
      .select(col("new_id"), col("ref_id"),
        estJaccard(col("mh_n"), col("mh_r")).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= 0.35)
    val perNew = pairs.groupBy("new_id")
      .agg(count(lit(1)).as("n_ref_dups"), max("est_jaccard").as("best_jaccard"))
    docs.crossJoin(cut).filter(col("doc_id") > col("cut"))
      .select(col("doc_id").as("new_id"))
      .join(perNew, Seq("new_id"), "left")
      .select(col("new_id"),
        coalesce(col("n_ref_dups"), lit(0L)).as("n_ref_dups"),
        col("best_jaccard"),
        (coalesce(col("n_ref_dups"), lit(0L)) > 0).as("is_dup"))
      .orderBy("new_id")
  }
  val dedupIncrementalSql: String =
    raw"""WITH cut AS (SELECT CAST(max(doc_id) // 2 AS BIGINT) AS c
         |  FROM documents),
         |$minhashSigBandCtes,
         |p AS (SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id,
         |    round(len(list_filter(generate_series(1, $NumHashes),
         |      i -> n.mh[i] = r.mh[i])) / ${NumHashes}.0, 4) AS est_jaccard
         |  FROM bands n JOIN bands r ON n.b = r.b AND n.bh = r.bh
         |  WHERE n.doc_id > (SELECT c FROM cut)
         |    AND r.doc_id <= (SELECT c FROM cut)),
         |q AS (SELECT new_id, CAST(count(*) AS BIGINT) AS n_ref_dups,
         |    max(est_jaccard) AS best_jaccard
         |  FROM p WHERE est_jaccard >= 0.35 GROUP BY new_id)
         |SELECT d.doc_id AS new_id,
         |  coalesce(q.n_ref_dups, 0) AS n_ref_dups, q.best_jaccard,
         |  (coalesce(q.n_ref_dups, 0) > 0) AS is_dup
         |FROM documents d LEFT JOIN q ON q.new_id = d.doc_id
         |WHERE d.doc_id > (SELECT c FROM cut)
         |ORDER BY new_id""".stripMargin

  /** Two-proportion A/B z-test: events split by the parity of the JSON
    * `props.k` payload field (a deterministic stand-in for a variant
    * assignment), outcome = purchase conversion. Emits counts, rates,
    * lift, pooled z and the 5% verdict — the experiment read-out every
    * event pipeline ends in. JSON extraction and the contingency
    * reduction are map-side; the test itself runs on one 2-row
    * aggregate. */
  def eventAbTest(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events")
      .select((get_json_object(col("props"), "$.k").cast("long") % 2)
        .as("variant"),
        (col("event_type") === "purchase").as("conv"))
    val a = e.groupBy("variant")
      .agg(count(lit(1)).as("n"),
        sum(when(col("conv"), 1L).otherwise(0L)).as("c"))
    val w = a.agg(
      max(when(col("variant") === 0, col("n"))).as("n_a"),
      max(when(col("variant") === 0, col("c"))).as("c_a"),
      max(when(col("variant") === 1, col("n"))).as("n_b"),
      max(when(col("variant") === 1, col("c"))).as("c_b"))
    val rateA = col("c_a").cast("double") / col("n_a")
    val rateB = col("c_b").cast("double") / col("n_b")
    val pPool = (col("c_a") + col("c_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val z = (rateB - rateA) /
      sqrt(pPool * (lit(1.0) - pPool) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    w.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      round(rateA, 6).as("rate_a"), round(rateB, 6).as("rate_b"),
      round(rateB - rateA, 6).as("lift"),
      round(z, 6).as("z"),
      (abs(z) > 1.959964).as("significant"))
  }
  val eventAbTestSql: String =
    """WITH e AS (SELECT
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 AS variant,
      |    (event_type = 'purchase') AS conv FROM events),
      |a AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(*) FILTER (WHERE conv) AS BIGINT) AS c
      |  FROM e GROUP BY variant),
      |w AS (SELECT
      |    max(CASE WHEN variant = 0 THEN n END) AS n_a,
      |    max(CASE WHEN variant = 0 THEN c END) AS c_a,
      |    max(CASE WHEN variant = 1 THEN n END) AS n_b,
      |    max(CASE WHEN variant = 1 THEN c END) AS c_b
      |  FROM a),
      |f AS (SELECT n_a, c_a, n_b, c_b,
      |    CAST(c_a AS DOUBLE) / n_a AS ra, CAST(c_b AS DOUBLE) / n_b AS rb,
      |    CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS pp
      |  FROM w)
      |SELECT n_a, c_a, n_b, c_b,
      |  round(ra, 6) AS rate_a, round(rb, 6) AS rate_b,
      |  round(rb - ra, 6) AS lift,
      |  round((rb - ra) / sqrt(pp * (1 - pp) * (1.0 / n_a + 1.0 / n_b)), 6)
      |    AS z,
      |  (abs((rb - ra) / sqrt(pp * (1 - pp) * (1.0 / n_a + 1.0 / n_b)))
      |    > 1.959964) AS significant
      |FROM f""".stripMargin

  /** Interval-overlap join via temporal bucketing: 30-minute-gap user
    * sessions joined against global error "incident windows" (each error
    * opens a 1-hour window), counting the incidents each session
    * overlaps. Both interval sets explode into the hour buckets they
    * cover, meet in a bucket-keyed equi-join (the canonical distributed
    * interval-join strategy — no inequality-only join anywhere), then an
    * exact boundary predicate and a distinct collapse remove the
    * bucket-induced double-counts. Sessions that overlap no incident
    * don't reach the join output (inner semantics, documented). */
  def joinIntervalOverlap(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val win = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val sess = ev
      .withColumn("brk",
        when(lag(col("ts"), 1).over(win).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(win))
            > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("sess", sum("brk").over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess")
      .agg(min("ts").as("s_start"), max("ts").as("s_end"))
    val inc = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("inc_id"), col("ts").as("i_start"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("i_end"))
    // Incidents are exactly 1 hour, so bucket each incident ONCE by its
    // start hour and widen the session side by one bucket to the left
    // (i_start > s_start - 1h ⟺ floor(i_start/3600) ≥ floor(s_start/3600)-1).
    // A qualifying (session, incident) pair then meets in exactly ONE
    // bucket — the incident's — which removes both the incident-side
    // explode and the distinct() that previously re-shuffled the whole
    // join output to collapse multi-bucket duplicates. One bucket join +
    // one keyed count; the widened session explode adds one row per
    // session. The bucket is a pre-filter only — the exact overlap
    // predicate below is unchanged.
    val sb = sess.select(col("user_id"), col("sess"), col("s_start"),
      col("s_end"), explode(expr(
        "sequence(floor(unix_seconds(s_start) / 3600) - 1, " +
          "floor(unix_seconds(s_end) / 3600))")).as("hb"))
    val ib = inc.select(col("inc_id"), col("i_start"), col("i_end"),
      expr("floor(unix_seconds(i_start) / 3600)").as("hb"))
    sb.join(ib, "hb")
      .filter(col("s_start") < col("i_end") && col("i_start") <= col("s_end"))
      .groupBy(col("user_id"), col("sess").as("session_no"),
        col("s_start"), col("s_end"))
      .agg(count(lit(1)).as("n_incidents"))
      .orderBy("user_id", "session_no")
  }
  val joinIntervalOverlapSql: String =
    """WITH o AS (SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
      |    THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s0 AS (SELECT user_id, ts,
      |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
      |  FROM o),
      |sess AS (SELECT user_id, sess, min(ts) AS s_start, max(ts) AS s_end
      |  FROM s0 GROUP BY user_id, sess),
      |inc AS (SELECT event_id AS inc_id, ts AS i_start,
      |    ts + INTERVAL 1 HOUR AS i_end FROM events
      |  WHERE event_type = 'error'),
      |sb AS (SELECT user_id, sess, s_start, s_end,
      |    unnest(generate_series(
      |      CAST(floor(epoch(s_start) / 3600) AS BIGINT),
      |      CAST(floor(epoch(s_end) / 3600) AS BIGINT))) AS hb FROM sess),
      |ib AS (SELECT inc_id, i_start, i_end,
      |    unnest(generate_series(
      |      CAST(floor(epoch(i_start) / 3600) AS BIGINT),
      |      CAST(floor(epoch(i_end) / 3600) AS BIGINT))) AS hb FROM inc),
      |m AS (SELECT DISTINCT s.user_id, s.sess, s.s_start, s.s_end, i.inc_id
      |  FROM sb s JOIN ib i USING (hb)
      |  WHERE s.s_start < i.i_end AND i.i_start <= s.s_end)
      |SELECT user_id, sess AS session_no, s_start, s_end,
      |  CAST(count(inc_id) AS BIGINT) AS n_incidents
      |FROM m GROUP BY user_id, sess, s_start, s_end
      |ORDER BY user_id, session_no""".stripMargin

  /** Gopher/C4-style rule-based quality filter: the pretraining curation
    * decision table. Five deterministic per-document rules — word count
    * bounds, mean word length band, alphabetic-word fraction,
    * symbol-to-word ratio, minimum stopword evidence — each emitted as
    * its own verdict column plus the conjunctive keep decision, so a
    * pipeline can audit WHY a document dropped. Pure map-side. */
  def textGopherRules(s: SparkSession, d: String): DataFrame = {
    val stop = "('the','a','an','of','to','in','and','is','that','for')"
    t(s, d, "documents")
      .select(col("doc_id"), expr(wordsExpr).as("ws"), col("text"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("wc"),
        round(length(concat_ws("", col("ws"))).cast("double") /
          size(col("ws")), 6).as("mean_wlen"),
        round(expr("size(filter(ws, w -> w rlike '^[A-Za-z]+[.,!?;:]?$'))")
          .cast("double") / size(col("ws")), 6).as("alpha_frac"),
        round(expr(raw"size(regexp_extract_all(text, '[#@&%^*+=<>|~`{}\\[\\]\\\\]', 0))")
          .cast("double") / greatest(size(col("ws")), lit(1)), 6)
          .as("symbol_ratio"),
        expr(s"size(filter(ws, w -> lower(w) IN $stop))").cast("long")
          .as("n_stop"))
      .withColumn("ok_length", col("wc") >= 20 && col("wc") <= 100000)
      .withColumn("ok_wlen", col("mean_wlen") >= 3 && col("mean_wlen") <= 10)
      .withColumn("ok_alpha", col("alpha_frac") >= 0.8)
      .withColumn("ok_symbols", col("symbol_ratio") <= 0.1)
      .withColumn("ok_stopwords", col("n_stop") >= 2)
      .withColumn("keep", col("ok_length") && col("ok_wlen") &&
        col("ok_alpha") && col("ok_symbols") && col("ok_stopwords"))
      .orderBy("doc_id")
  }
  val textGopherRulesSql: String =
    raw"""WITH w AS (SELECT doc_id, text,
         |    string_split_regex(trim(text), '\s+') AS ws FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS wc,
         |    round(CAST(len(array_to_string(ws, '')) AS DOUBLE) / len(ws), 6)
         |      AS mean_wlen,
         |    round(CAST(len(list_filter(ws,
         |      w -> regexp_matches(w, '^[A-Za-z]+[.,!?;:]?$$')))
         |      AS DOUBLE) / len(ws), 6) AS alpha_frac,
         |    round(CAST(len(regexp_extract_all(text,
         |      '[#@&%^*+=<>|~`{}\[\]\\\\]')) AS DOUBLE)
         |      / greatest(len(ws), 1), 6) AS symbol_ratio,
         |    CAST(len(list_filter(ws, w -> lower(w) IN
         |      ('the','a','an','of','to','in','and','is','that','for')))
         |      AS BIGINT) AS n_stop
         |  FROM w)
         |SELECT doc_id, wc, mean_wlen, alpha_frac, symbol_ratio, n_stop,
         |  (wc >= 20 AND wc <= 100000) AS ok_length,
         |  (mean_wlen >= 3 AND mean_wlen <= 10) AS ok_wlen,
         |  (alpha_frac >= 0.8) AS ok_alpha,
         |  (symbol_ratio <= 0.1) AS ok_symbols,
         |  (n_stop >= 2) AS ok_stopwords,
         |  ((wc >= 20 AND wc <= 100000)
         |    AND (mean_wlen >= 3 AND mean_wlen <= 10)
         |    AND alpha_frac >= 0.8 AND symbol_ratio <= 0.1 AND n_stop >= 2)
         |    AS keep
         |FROM m ORDER BY doc_id""".stripMargin

  /** Exact shingle containment over LSH candidate pairs — the asymmetric
    * near-duplicate measure (|A∩B| / min(|A|,|B|)) that catches a short
    * document embedded inside a long one, which symmetric Jaccard
    * under-scores. Candidates come from the MinHash band buckets (so the
    * quadratic shingle join only touches LSH-screened pairs); the
    * intersection is an exact per-shingle equi-join, keyed on (doc,
    * shingle) — every stage is a keyed shuffle over candidate-bounded
    * volume.
    *
    * Round-10: the exact-copy bypass became full representative grouping
    * (the [[dedupNgramJaccard]] pattern) — identical texts collapse to
    * one representative BEFORE the MinHash signatures, the band self-join
    * AND the shingle verification (equal text ⇒ equal shingle set ⇒
    * containment 1.0 within a group, and every cross-group member pair
    * shares its representatives' n_shared/containment). Signatures and
    * the quadratic verify now touch only distinct content; the full pair
    * set is reconstructed exactly afterward. Output & oracle unchanged.
    *
    * Round-14: each rep's distinct shingle-hash array comes out of the
    * [[graft.functions.ShingleHashes]] kernel in one generated loop
    * (previously an interpreted HOF chain that re-entered the
    * interpreter per position and per distinct shingle). */
  def textContainment(s: SparkSession, d: String): DataFrame = {
    // Round 19 (barrier fusion, the dedup_semantic single-pin pattern):
    // the MinHash signature and the distinct-shingle hash array are
    // computed in ONE projection over the distinct-content reps and
    // pinned by ONE localCheckpoint — previously `bands` and `repStats`
    // each re-derived their kernel column from a text-carrying repDocs
    // pin and pinned it separately (three barriers; the r18 StageProbe
    // read 186 + 97 ms of barrier stages plus their driver gaps). Both
    // kernels still fold exactly once per rep (the checkpoint
    // materializes them); `bands` re-runs only the cheap band-slice
    // explode per self-join side, from the pinned `mh` attribute.
    val (members, repDocs) = textReps(s, d)(minhashSignature.as("mh"),
      org.apache.spark.sql.graftcol.NativeColumn.column(
        graft.functions.ShingleHashes(
          org.apache.spark.sql.graftcol.NativeColumn.expression(col("text"))))
        .as("hsh"))
    val nsh = size(col("hsh")).cast("long")
    val bands = repDocs
      .select(col("rep"), explode(minhashBandStructs).as("k"))
      .select(col("rep"), col("k.band").as("band"), col("k.bh").as("bh"))
    val repCand = bands.select(col("band"), col("bh"), col("rep").as("r1"))
      .join(bands.select(col("band").as("b2"), col("bh").as("h2"),
        col("rep").as("r2")),
        col("band") === col("b2") && col("bh") === col("h2") &&
          col("r1") < col("r2"))
      .select("r1", "r2").distinct() // verify once per content pair
    // verification intersects one 64-bit hash per distinct shingle
    // instead of joining exploded shingle STRINGS: the explode
    // replicated each rep's ~1000 shingles once per candidate pair it
    // appears in. |intersect| equals the string-set count absent an
    // xxhash64 collision within a pair's shingles (P ≈ 2⁻⁴⁴ per pair) —
    // the banding hash's own determinism argument, gate-checked.
    // Zero-overlap candidates are filtered to match the previous
    // inner-join-then-count semantics (and the oracle's).
    val repVerify = repCand
      .join(repDocs.select(col("rep").as("r1"), col("hsh").as("h1"),
        nsh.as("nsh1")), "r1")
      .join(repDocs.select(col("rep").as("r2"), col("hsh").as("h2"),
        nsh.as("nsh2")), "r2")
      .withColumn("n_shared",
        // locally a wash vs size(array_intersect(...)) (A/B min 3.18 vs
        // 3.09 s, overlapping spreads) but does not materialize the
        // intersection array per candidate pair — the verify loop's
        // allocation volume halves, which is the cluster-scale win
        org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.ArrayLongIntersectCount(
            org.apache.spark.sql.graftcol.NativeColumn.expression(col("h1")),
            org.apache.spark.sql.graftcol.NativeColumn.expression(col("h2")))))
      .filter(col("n_shared") > 0)
      .select(col("r1"), col("r2"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("nsh1"), col("nsh2")), 6).as("containment"))
    // a within-group pair shares every shingle: containment 1.0
    expandRepPairs(members, "doc_id", repVerify,
      repDocs.select(col("rep"), nsh.as("n_shared"),
        lit(1.0).as("containment")), "doc1", "doc2")
      .withColumn("near_contained", col("containment") >= 0.5)
      .orderBy("doc1", "doc2")
  }
  val textContainmentSql: String = {
    val shingles =
      raw"""list_distinct(list_transform(
           |    generate_series(1, greatest(length(text) - 7, 1)),
           |    i -> substr(text, i, 8)))""".stripMargin
    raw"""WITH $minhashSigBandCtes,
         |cand AS (SELECT DISTINCT a.doc_id AS doc1, b2.doc_id AS doc2
         |  FROM bands a JOIN bands b2
         |    ON a.b = b2.b AND a.bh = b2.bh AND a.doc_id < b2.doc_id),
         |sh AS (SELECT doc_id, unnest($shingles) AS sg,
         |    len($shingles) AS nsh FROM documents),
         |inter AS (SELECT c.doc1, c.doc2, CAST(count(*) AS BIGINT) AS ni,
         |    CAST(max(s1.nsh) AS BIGINT) AS nsh1,
         |    CAST(max(s2.nsh) AS BIGINT) AS nsh2
         |  FROM cand c JOIN sh s1 ON s1.doc_id = c.doc1
         |    JOIN sh s2 ON s2.doc_id = c.doc2 AND s2.sg = s1.sg
         |  GROUP BY c.doc1, c.doc2)
         |SELECT doc1, doc2, ni AS n_shared,
         |  round(CAST(ni AS DOUBLE) / least(nsh1, nsh2), 6) AS containment,
         |  (round(CAST(ni AS DOUBLE) / least(nsh1, nsh2), 6) >= 0.5)
         |    AS near_contained
         |FROM inter ORDER BY doc1, doc2""".stripMargin
  }

  /** Benford first-digit conformance of order totals — the classic
    * data-quality / fraud screen: observed leading-digit shares against
    * log10(1 + 1/d), per digit with deltas. Map-side digit extraction
    * (string head of the floored value — no float log in the hot path)
    * plus a 9-row aggregation. */
  def statBenford(s: SparkSession, d: String): DataFrame = {
    val digits = t(s, d, "orders")
      .filter(col("o_totalprice") >= 1)
      .select(expr(
        "cast(substring(cast(cast(floor(o_totalprice) as bigint) as string), 1, 1) as bigint)")
        .as("digit"))
    val c = digits.groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = c.agg(sum("n").as("total"))
    c.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("total"), 6).as("observed"),
        round(log(10.0, lit(1.0) + lit(1.0) / col("digit")), 6)
          .as("expected"),
        round(col("n").cast("double") / col("total")
          - log(10.0, lit(1.0) + lit(1.0) / col("digit")), 6)
          .as("delta"))
      .orderBy("digit")
  }
  val statBenfordSql: String =
    """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
      |      AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM orders WHERE o_totalprice >= 1),
      |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d
      |  GROUP BY digit),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
      |SELECT digit, n,
      |  round(CAST(n AS DOUBLE) / total, 6) AS observed,
      |  round(log10(1.0 + 1.0 / digit), 6) AS expected,
      |  round(CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / digit), 6)
      |    AS delta
      |FROM c CROSS JOIN t ORDER BY digit""".stripMargin

  /** Centroid-based silhouette per embedding label: a = distance to the
    * own-label centroid, b = distance to the nearest other label's
    * centroid, silhouette = (b−a)/max(a,b) averaged per label — the
    * cluster-quality read-out for a labeled embedding corpus (the
    * simplified silhouette, linear instead of the O(N²) pairwise
    * original). Centroids are one (label,dim)-keyed aggregation
    * (#labels×#dims rows) joined back broadcast; everything else is
    * per-vector map + one keyed reduction. */
  def embSilhouette(s: SparkSession, d: String): DataFrame = {
    // Round 15 (the emb_outliers posture): per-label centroids reduce in
    // ONE VectorDecimalStats pass to DRIVER state (labels × d sums —
    // the table you'd broadcast at 100 TB), and every vector's distance
    // to every centroid is a map-side DecimalSqDevSum against the
    // constant-folded centroid arrays. The previous shape posexploded
    // the corpus to d×N rows, joined every row against all centroids,
    // and re-reduced d×N×L rows by (vec, label, cl); now a/b are plain
    // column expressions over L distances per row — the only wide stage
    // left is the final label rollup. Bit-exactness: VectorDecimalStats
    // replays davg's cast(sum(cast(x as decimal(30,6))) as double)/n
    // per dimension (the LearnSpec-pinned replay), DecimalSqDevSum
    // replays the Σ cast((x−cx)² as decimal(38,12)) quantize-then-
    // exact-add sequence (order-free), least() skips nulls exactly as
    // the min aggregate did — so every distance, a, b, and the oracle
    // hash are unchanged.
    val vecs = t(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
      // the posexplode shape this replaced dropped null/empty embeddings
      // before the per-label rollup (no rows to explode); replay that
      // drop so such rows can't inflate count(1) or the mean divisor
      .filter(col("v").isNotNull && size(col("v")) > 0)
    // a null-label centroid can never match a row's `cl === label` /
    // `cl =!= label` predicates (both are null), so dropping it replays
    // the old join's behavior exactly
    val cents: Array[(Int, Array[Double])] = vecs.groupBy("label")
      .agg(graft.functions.VectorDecimalStats.vector_decimal_stats(
        col("v"), lit(1.0), 30, 6).as("st"))
      .select(col("label"), col("st.sums").as("sums"),
        col("st.counts").as("counts"))
      .collect()
      .filter(!_.isNullAt(0))
      .map { r =>
        val sums = r.getSeq[java.math.BigDecimal](1)
        val counts = r.getSeq[Long](2)
        // a (label, dim) whose every value was NaN sums to a null decimal
        // (and n can be 0 for an all-null dim): guard instead of NPE-ing
        // at the driver — NaN replays the join shape's poisoned-dimension
        // arithmetic (NaN distance → null after the decimal cast)
        (r.getInt(0),
          sums.zip(counts).map { case (sm, n) =>
            if (sm == null || n == 0L) Double.NaN else sm.doubleValue / n
          }.toArray)
      }
      .sortBy(_._1)
    val withD = cents.zipWithIndex.foldLeft(vecs) { case (df, ((_, cv), i)) =>
      df.withColumn(s"d_$i",
        sqrt(org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.DecimalSqDevSum(
            org.apache.spark.sql.graftcol.NativeColumn.expression(col("v")),
            cv, 12)).cast("double")))
    }
    // a = own-centroid distance; b = min over the other centroids
    // (least skips nulls; single-label corpora fall to null b, exactly
    // as min-over-empty did)
    val aExpr = cents.zipWithIndex.foldLeft(lit(null).cast("double")) {
      case (acc, ((l, _), i)) =>
        when(col("label") === lit(l), col(s"d_$i")).otherwise(acc)
    }
    val bExpr = cents.zipWithIndex.foldLeft(lit(null).cast("double")) {
      case (acc, ((l, _), i)) =>
        val others = cents.indices.filter(_ != i).map(j => col(s"d_$j"))
        val mn =
          if (others.isEmpty) lit(null).cast("double")
          else if (others.length == 1) others.head
          else least(others: _*)
        when(col("label") === lit(l), mn).otherwise(acc)
    }
    withD.select(col("vec_id"), col("label"),
        aExpr.as("a"), bExpr.as("b"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(sum(ddec((col("b") - col("a")) / greatest(col("a"), col("b")),
          scale = 12)).cast("double") / count(lit(1)), 6)
          .as("mean_silhouette"),
        round(davg(col("a")), 6).as("mean_intra"))
      .orderBy("label")
  }
  val embSilhouetteSql: String =
    """WITH e AS (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings,
      |    unnest(generate_series(1, len(embedding))) AS t(i)),
      |c AS (SELECT label AS cl, i,
      |    CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS cx
      |  FROM e GROUP BY label, i),
      |d AS (SELECT e.vec_id, e.label, c.cl,
      |    sqrt(CAST(sum(CAST((e.x - c.cx) * (e.x - c.cx)
      |      AS DECIMAL(38,12))) AS DOUBLE)) AS dist
      |  FROM e JOIN c ON e.i = c.i GROUP BY e.vec_id, e.label, c.cl),
      |ab AS (SELECT vec_id, label,
      |    max(CASE WHEN cl = label THEN dist END) AS a,
      |    min(CASE WHEN cl <> label THEN dist END) AS b
      |  FROM d GROUP BY vec_id, label)
      |SELECT label, CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(CAST((b - a) / greatest(a, b) AS DECIMAL(30,12)))
      |    AS DOUBLE) / count(*), 6) AS mean_silhouette,
      |  round(CAST(sum(CAST(a AS DECIMAL(30,6))) AS DOUBLE) / count(a), 6)
      |    AS mean_intra
      |FROM ab GROUP BY label ORDER BY label""".stripMargin

  /** Zipf's-law fit of the corpus frequency spectrum: OLS slope of
    * ln(frequency) on ln(rank) over the unigram and bigram vocabulary
    * tables — the corpus-health diagnostic (natural language tracks a
    * slope near −1; synthetic or templated text flattens). Ranks come
    * from [[Q.distPos]] so the fit stays fully distributed even for a
    * 100 TB corpus's multi-million-term vocabulary; the regression
    * reduces to five decimal-quantized moment sums. */
  def corpusZipf(s: SparkSession, d: String): DataFrame = {
    // Round 15: both gram streams reduce per-document inside the
    // WordCounts / WordBigramCounts kernels before the vocabulary
    // shuffle, which therefore ships per-doc DISTINCT grams (with
    // multiplicities) instead of every occurrence; groupBy(g).sum(c)
    // produces the identical corpus counts the explode → count
    // formulation grouped, so the rank fit and the oracle are untouched.
    // The bigram kernel also deletes the per-word transform/concat
    // array materialization.
    val ws = t(s, d, "documents").select(expr(wordsExpr).as("ws"))
    def kernelCounts(k: org.apache.spark.sql.catalyst.expressions.Expression)
        : DataFrame =
      ws.select(explode(
          org.apache.spark.sql.graftcol.NativeColumn.column(k)).as("p"))
        .select(col("p.w").as("g"), col("p.c").as("pc"))
    val wsE = org.apache.spark.sql.graftcol.NativeColumn.expression(col("ws"))
    val uni = kernelCounts(graft.functions.WordCounts(wsE))
    val bi = kernelCounts(graft.functions.WordBigramCounts(wsE))
    def fit(grams: DataFrame, kind: String): DataFrame = {
      val v = grams.groupBy("g").agg(sum(col("pc")).as("c"))
      val ranked = Q.distPos(v, "pos", col("c").desc, col("g"))
        .select((col("pos") + 1).as("rnk"), col("c"))
      val p = ranked.select(
        ddec(log(col("rnk").cast("double")), scale = 12).as("lx"),
        ddec(log(col("c").cast("double")), scale = 12).as("ly"))
      val a = p.agg(count(lit(1)).as("n"),
        sum("lx").cast("double").as("sx"), sum("ly").cast("double").as("sy"),
        sum(ddec(col("lx").cast("double") * col("lx").cast("double"),
          scale = 12)).cast("double").as("sxx"),
        sum(ddec(col("lx").cast("double") * col("ly").cast("double"),
          scale = 12)).cast("double").as("sxy"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      a.select(lit(kind).as("gram_type"), col("n").as("vocab_size"),
        round(slope, 6).as("zipf_slope"),
        round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
    }
    fit(uni, "unigram").unionByName(fit(bi, "bigram")).orderBy("gram_type")
  }
  val corpusZipfSql: String = {
    def fit(gramCte: String, kind: String): String =
      s"""SELECT '$kind' AS gram_type, n AS vocab_size,
         |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
         |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         |    AS intercept
         |FROM (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(lx) AS DOUBLE) AS sx, CAST(sum(ly) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(CAST(lx AS DOUBLE) * CAST(lx AS DOUBLE)
         |      AS DECIMAL(30,12))) AS DOUBLE) AS sxx,
         |    CAST(sum(CAST(CAST(lx AS DOUBLE) * CAST(ly AS DOUBLE)
         |      AS DECIMAL(30,12))) AS DOUBLE) AS sxy
         |  FROM (SELECT CAST(ln(rnk) AS DECIMAL(30,12)) AS lx,
         |      CAST(ln(c) AS DECIMAL(30,12)) AS ly
         |    FROM (SELECT c, row_number() OVER (ORDER BY c DESC, g) AS rnk
         |      FROM (SELECT g, CAST(count(*) AS BIGINT) AS c
         |        FROM $gramCte GROUP BY g))))""".stripMargin
    raw"""WITH w AS (SELECT string_split_regex(trim(text), '\s+') AS ws
         |  FROM documents),
         |uni AS (SELECT unnest(ws) AS g FROM w),
         |bi AS (SELECT ws[i] || ' ' || ws[i+1] AS g
         |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
         |    FROM w WHERE len(ws) >= 2))
         |${fit("uni", "unigram")}
         |UNION ALL
         |${fit("bi", "bigram")}
         |ORDER BY gram_type""".stripMargin
  }

  // ---------- registry ----------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_tokens" -> (textTokens _),
    "text_quality" -> (textQuality _),
    "text_fingerprint" -> (textFingerprint _),
    "text_lang_id" -> (textLangId _),
    "dedup_exact" -> (dedupExact _),
    "dedup_prefix_groups" -> (dedupPrefixGroups _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_groups" -> (dedupGroups _),
    "dedup_keep_canonical" -> (dedupKeepCanonical _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_embedding" -> (dedupEmbedding _),
    "sim_cosine_topk" -> (simCosineTopk _),
    "sim_ann_lsh" -> (simAnnLsh _),
    "sim_ann_ivf" -> (simAnnIvf _),
    "emb_ivf_recall" -> (embIvfRecall _),
    "mm_binary_features" -> (mmBinaryFeatures _),
    "event_sessionize" -> (eventSessionize _),
    "event_window_agg" -> (eventWindowAgg _),
    "text_repetition" -> (textRepetition _),
    "join_asof" -> (joinAsof _),
    "sample_stratified" -> (sampleStratified _),
    "text_chunk" -> (textChunk _),
    "pack_sequences" -> (packSequences _),
    "text_unigram_logprob" -> (textUnigramLogprob _),
    "event_funnel" -> (eventFunnel _),
    "text_decontaminate" -> (textDecontaminate _),
    "mix_temperature" -> (mixTemperature _),
    "mm_frame_sample" -> (mmFrameSample _),
    "text_bpe_merges" -> (textBpeMerges _),
    "text_bpe_encode" -> (textBpeEncode _),
    "event_retention" -> (eventRetention _),
    "event_attribution" -> (eventAttribution _),
    "shard_pack" -> (shardPack _),
    "vocab_coverage" -> (vocabCoverage _),
    "join_asof_nearest" -> (joinAsofNearest _),
    "text_bigram_logprob" -> (textBigramLogprob _),
    "text_readability" -> (textReadability _),
    "text_ngram_novelty" -> (textNgramNovelty _),
    "event_interarrival" -> (eventInterarrival _),
    "event_survival" -> (eventSurvival _),
    "emb_outliers" -> (embOutliers _),
    "dedup_incremental" -> (dedupIncremental _),
    "event_ab_test" -> (eventAbTest _),
    "join_interval_overlap" -> (joinIntervalOverlap _),
    "text_gopher_rules" -> (textGopherRules _),
    "tfidf_top_terms" -> (tfidfTopTerms _),
    "dedup_substring" -> (dedupSubstring _),
    "sim_quantized_topk" -> (simQuantizedTopk _),
    "event_rfm" -> (eventRfm _),
    "shuffle_epoch" -> (shuffleEpoch _),
    "split_holdout" -> (splitHoldout _),
    "corpus_stats" -> (corpusStats _),
    "graph_pagerank" -> (graphPagerank _),
    "text_entropy" -> (textEntropy _),
    "text_collocations" -> (textCollocations _),
    "graph_bfs_depth" -> (graphBfsDepth _),
    "event_outliers" -> (eventOutliers _),
    "event_resample" -> (eventResample _),
    "stat_chi_square" -> (statChiSquare _),
    "event_winsorize" -> (eventWinsorize _),
    "graph_triangles" -> (graphTriangles _),
    "text_containment" -> (textContainment _),
    "stat_benford" -> (statBenford _),
    "emb_silhouette" -> (embSilhouette _),
    "corpus_zipf" -> (corpusZipf _))

  private val oracleBase: Map[String, String] = Map(
    "mm_binary_features" -> mmBinaryFeaturesSql,
    "text_tokens" -> textTokensSql,
    "text_quality" -> textQualitySql,
    "text_fingerprint" -> textFingerprintSql,
    "text_lang_id" -> textLangIdSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_prefix_groups" -> dedupPrefixGroupsSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_groups" -> dedupGroupsSql,
    "dedup_keep_canonical" -> dedupKeepCanonicalSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_embedding" -> dedupEmbeddingSql,
    "sim_cosine_topk" -> simCosineTopkSql,
    "sim_ann_lsh" -> simAnnLshSql,
    "event_sessionize" -> eventSessionizeSql,
    "event_window_agg" -> eventWindowAggSql,
    "text_repetition" -> textRepetitionSql,
    "join_asof" -> joinAsofSql,
    "sample_stratified" -> sampleStratifiedSql,
    "text_chunk" -> textChunkSql,
    "pack_sequences" -> packSequencesSql,
    "text_unigram_logprob" -> textUnigramLogprobSql,
    "event_funnel" -> eventFunnelSql,
    "text_decontaminate" -> textDecontaminateSql,
    "mix_temperature" -> mixTemperatureSql,
    "mm_frame_sample" -> mmFrameSampleSql,
    "text_bpe_merges" -> textBpeMergesSql,
    "text_bpe_encode" -> textBpeEncodeSql,
    "event_retention" -> eventRetentionSql,
    "event_attribution" -> eventAttributionSql,
    "shard_pack" -> shardPackSql,
    "vocab_coverage" -> vocabCoverageSql,
    "join_asof_nearest" -> joinAsofNearestSql,
    "text_bigram_logprob" -> textBigramLogprobSql,
    "text_readability" -> textReadabilitySql,
    "text_ngram_novelty" -> textNgramNoveltySql,
    "event_interarrival" -> eventInterarrivalSql,
    "event_survival" -> eventSurvivalSql,
    "emb_outliers" -> embOutliersSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "event_ab_test" -> eventAbTestSql,
    "join_interval_overlap" -> joinIntervalOverlapSql,
    "text_gopher_rules" -> textGopherRulesSql,
    "tfidf_top_terms" -> tfidfTopTermsSql,
    "dedup_substring" -> dedupSubstringSql,
    "sim_quantized_topk" -> simQuantizedTopkSql,
    "event_rfm" -> eventRfmSql,
    "shuffle_epoch" -> shuffleEpochSql,
    "split_holdout" -> splitHoldoutSql,
    "corpus_stats" -> corpusStatsSql,
    "graph_pagerank" -> graphPagerankSql,
    "text_entropy" -> textEntropySql,
    "text_collocations" -> textCollocationsSql,
    "graph_bfs_depth" -> graphBfsDepthSql,
    "event_outliers" -> eventOutliersSql,
    "event_resample" -> eventResampleSql,
    "stat_chi_square" -> statChiSquareSql,
    "event_winsorize" -> eventWinsorizeSql,
    "graph_triangles" -> graphTrianglesSql,
    "text_containment" -> textContainmentSql,
    "stat_benford" -> statBenfordSql,
    "emb_silhouette" -> embSilhouetteSql,
    "corpus_zipf" -> corpusZipfSql)

  /** `oracle` is a def: sim_ann_ivf's oracle SQL embeds the Spark-trained
    * centroids as literals, so it exists only after the query has run in
    * this JVM (Verify dumps oracle_sql.json after executing the queries —
    * same-process ordering the driver always satisfies). k-means training
    * itself stays spec-validated; the oracle hash-checks everything
    * downstream of it: assignment, probe selection, and exact re-rank. */
  def oracle: Map[String, String] =
    oracleBase ++ simAnnIvfOracle.map("sim_ann_ivf" -> _) ++
      embIvfRecallOracle.map("emb_ivf_recall" -> _)

  /** Set by [[embIvfRecall]]; same runtime mechanism as
    * [[simAnnIvfOracle]]. */
  @volatile private var embIvfRecallOracle: Option[String] = None

  /** Ground-truth candidate cap for the recall audits: the brute-force
    * arm evaluates truth against the first 2²⁰ vectors by vec_id, by
    * construction — every test corpus passes through whole (so oracles
    * are untouched), and at 100 TB the arm's cost is
    * |queries| × [[GtSampleCap]] cosines instead of |queries| × corpus.
    * The standard pooled-/sampled-ground-truth posture of IR evaluation:
    * recall is measured against the in-sample truth, and the audit reads
    * exactly when the index's candidate universe covers the sample
    * (always true here — the sample is a prefix of the indexed corpus). */
  private val GtSampleCap = 1L << 20

  /** IVF recall audit — the [[Scale.embAnnRecall]] twin for the IVF
    * index: recall@5 of [[simAnnIvf]]'s nProbe=6 search against the
    * exact brute-force top-5 for the same 10 query vectors, scoring the
    * scaladoc's "6 probes clear the 60% floor" claim as a registry-
    * verified number. Deliberately runs BOTH arms (an audit op, not a
    * production path).
    *
    * Scale contract (sample-bounded ground truth): the brute arm is a
    * 10 × [[GtSampleCap]] bounded cross with the TEN QUERY ROWS as the
    * broadcast side — the capped sample STREAMS through the scan (round
    * 16: broadcasting the sample itself was bounded but uncomfortable,
    * ~2²⁰ × 64 doubles ≈ 0.5 GB per executor at the cap; the query side
    * is ~10 × d doubles) — using the same unrolled bit-exact cosine
    * arithmetic as the IVF re-rank, so both engines rank identically,
    * and the map-side [[graft.functions.TopKByScore]] partials reduce
    * each scan split to ≤ 10×5 entries before the one exchange. The
    * recall join needs no cap of its own: hits only count IVF candidates
    * that appear in the brute top-5, which is in-sample by construction.
    * The oracle composes the runtime-generated IVF SQL (trained-centroid
    * literals) with the same capped brute CTE. */
  def embIvfRecall(s: SparkSession, d: String): DataFrame = {
    val ivf = simAnnIvf(s, d) // side effect: sets simAnnIvfOracle
      .select(col("q_id"), col("cand_id"))
    val vecs = t(s, d, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    // norms hoisted once per side (same CSE as simAnnIvf's search —
    // identical IEEE doubles, so the ranking and the oracle are unchanged);
    // top-5 selection through the map-side rerankTopK aggregate (round 15).
    // Round 17: norm and per-pair dot ride the codegen'd InnerProduct
    // kernel instead of the interpreted unrolled tree (the |q|×sample
    // cosine scan is this op's dominant cost; see simAnnIvfCandidates'
    // norm2 note for the bit-exactness argument — oracle unchanged).
    val brute = rerankTopK(
      broadcast(vecs.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
          .withColumn("qn", norm2(col("qv"))))
        .join(vecs.filter(col("vec_id") < GtSampleCap)
          .select(col("vec_id").as("cand_id"), col("v").as("cv2"))
          .withColumn("cn", norm2(col("cv2"))),
          col("q_id") =!= col("cand_id"))
        .withColumn("cos", dot(col("qv"), col("cv2")) /
          (col("qn") * col("cn"))),
      "cos", "cos_sim", roundOut = true)
      .select(col("q_id"), col("cand_id"))
    val ivfSql = simAnnIvfOracle.get
    embIvfRecallOracle = Some(
      s"""WITH ivf AS ($ivfSql),
         |vecs2 AS MATERIALIZED (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |brute AS (
         |  SELECT q_id, cand_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${duckDot(IvfDim, "q.v", "c.v")}
         |          / (sqrt(${duckDot(IvfDim, "q.v", "q.v")})
         |             * sqrt(${duckDot(IvfDim, "c.v", "c.v")})) DESC,
         |          c.vec_id ASC) AS rank
         |    FROM vecs2 q JOIN vecs2 c ON q.vec_id < 10
         |      AND c.vec_id <> q.vec_id
         |      AND c.vec_id < $GtSampleCap) WHERE rank <= 5),
         |hits AS (SELECT b.q_id, CAST(count(i.cand_id) AS BIGINT) AS n_hits
         |  FROM brute b LEFT JOIN ivf i
         |    ON i.q_id = b.q_id AND i.cand_id = b.cand_id
         |  GROUP BY b.q_id)
         |SELECT q_id, n_hits, round(CAST(n_hits AS DOUBLE) / 5.0, 6)
         |    AS recall_at_5
         |FROM hits ORDER BY q_id""".stripMargin)
    val ivfR = ivf.select(col("q_id").as("iq"), col("cand_id").as("ic"))
    brute.join(ivfR,
        col("q_id") === col("iq") && col("cand_id") === col("ic"), "left")
      .groupBy("q_id")
      .agg(count(col("ic")).as("n_hits"))
      .select(col("q_id"), col("n_hits"),
        round(col("n_hits").cast("double") / 5.0, 6).as("recall_at_5"))
      .orderBy("q_id")
  }
}
