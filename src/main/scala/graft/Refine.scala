package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** Round-10 corpus-refinement operators — 22 oracle-matched additions:
  * SemDeDup-style semantic dedup, a hashing-trick linear quality scorer
  * (the fastText shape), a cross-source n-gram contamination matrix,
  * top-2 PCA by deflated power iteration, a Matryoshka half-dimension
  * recall audit, Monroe weighted-log-odds distinctive terms,
  * label-propagation word communities, neighbor-Jaccard link
  * prediction, label-conditional Mahalanobis OOD scores, k-anonymity +
  * discrete-Laplace DP count release, DAU/MAU stickiness, a closed-form
  * SES forecast, Fano-factor burstiness, Tukey HSD post-hoc
  * comparisons, funnel time-to-convert quartiles, Ljung–Box and
  * Wilson-interval tests, Rosner ESD anomalous days, bot-likeness
  * detection, a skew-safe salted join, and a binary chunk manifest.
  *
  * Scale design (the 100 TB shapes):
  *  - `dedup_semantic` bounds the quadratic similarity stage by CLUSTER,
  *    not by LSH bucket: vectors collapse to distinct-content
  *    representatives, representatives are assigned to a k-seeded
  *    partitioning in one broadcast pass, and only same-cluster rep
  *    pairs are scored — Σ cᵢ² work on distinct content, never n². The
  *    full per-vector decision set is reconstructed exactly afterward.
  *  - `emb_pca_top2` broadcasts the current d-length direction as a
  *    constant-folded literal each multiply, so the only shuffle per
  *    multiply is d-bounded — the direction vector is the only thing
  *    small enough to move, so move it.
  *  - Every statistic reduces the corpus to a bounded table (moments,
  *    contingency grids, daily/hourly series, vocabulary keys) in one
  *    keyed pass before any pairwise or iterative math; scorers are
  *    map-only expressions (whole-stage codegen, no UDF).
  *  - `corpus_source_overlap`'s gram self-join fans out at most
  *    |sources| per key; `graph_jaccard_neighbors` meets candidates
  *    only through the shared-neighbor wedge join.
  *
  * Determinism: distances accumulate as DECIMAL(38,12) (order-free),
  * cosines use the same double fold as the dedup_embedding family
  * (hash-exact against DuckDB's `list_cosine_similarity`), hashes ride
  * the repo's md5-lane construction, integer-valued releases (discrete
  * Laplace) avoid transcendental rounding boundaries outright, and
  * every surfaced double is a fixed expression tree rounded at 6.
  */
object Refine {

  // ---------- semantic deduplication (SemDeDup) ----------

  private val SemK = 16
  private val SemTau = 0.35

  /** SemDeDup-style semantic pruning (Abbas et al. 2023, public paper;
    * the reference has no counterpart — this is pipeline-beyond-ref):
    * cluster the embedding space, and within each cluster drop every
    * vector that has a more-canonical (lower-id) neighbor with cosine ≥
    * τ, reporting which keeper it duplicates. Unlike `dedup_embedding`
    * (LSH-banded NEAR-duplicates at cos ≥ 0.95) this targets SEMANTIC
    * redundancy at a far looser τ, where LSH banding would need
    * impractically many planes to recall — bounding the pair stage by
    * k-means cluster instead is exactly the published algorithm's shape.
    *
    * Plan: distinct-content collapse (exact copies ride their
    * representative through every heavy stage — at real duplication
    * rates most of the corpus does); one broadcast seed-assignment pass
    * (k lowest-id vectors as centroids, exact-decimal distances, ties to
    * the lowest cluster id); same-cluster rep pairs scored with the
    * double cosine fold; then the per-vector decision is reconstructed:
    * non-representative copies drop with their representative as keeper
    * (cos 1.0 outranks any cross pair), and each remaining vector keeps
    * the highest-cosine lower-id neighbor (ties to the lowest id). */
  def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    // the vector is its own content key; the seeds are read off the
    // pinned members, and the signatures below fold once per rep
    val (members, rv) = contentReps(t(s, d, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("v")),
      "vec_id", "v") { vecs =>
      // seed centroids as DRIVER state (round 15, the emb_outliers /
      // emb_silhouette posture): the K lowest member ids collect to K×d
      // doubles and assignment is ONE map pass through the
      // DecimalSqDevArgmin kernel, which folds each rep against each seed
      // exactly once (replaying the posexplode join's Σ cast((x−cx)² as
      // decimal(38,12)) term for term) and replays the old rank-1
      // window's (dist ASC NULLS FIRST, cid ASC) order. The d×N explode,
      // the dim-keyed broadcast join, the (rep, cid) keyed reduce, and
      // the window are ALL gone. Two probed-and-rejected shapes are
      // recorded in the kernel's scaladoc and here: min(struct(dist, cid))
      // falls to SortAggregate (variable-length decimal buffer — 2.04 s
      // window vs 2.70 s min-struct at 10×), and per-seed distance
      // columns + a when-chain argmin triple the per-row fold count under
      // CollapseProject (a multi-minute blowup at 10×).
      val seedRows: Array[(Long, Array[Double])] =
        vecs.orderBy("vec_id").limit(SemK)
          .select(col("vec_id"), col("v")).collect()
          // null elements extract as NaN, not an unboxing NPE: the kernel
          // skips NaN terms exactly as the dim-join skipped null dims
          .map(r => (r.getLong(0),
            Option(r.getSeq[java.lang.Double](1)).map(
              _.map(x => if (x == null) Double.NaN else x.doubleValue).toArray)
              .getOrElse(Array.empty[Double])))
          // a null/empty seed embedding joined no dimension rows in the
          // explode formulation, so its cid never appeared in the rank —
          // drop it here too (a zero-length seed's DecimalSqDevSum is null
          // for EVERY rep, and null distance ranks FIRST in the argmin, so
          // keeping it would silently collapse all clusters onto it)
          .filter(_._2.nonEmpty)
          .sortBy(_._1)
      // cid + nrm in ONE materialized projection over the reps
      // (round 18): the r17 shape computed them as two SEPARATE projections
      // of the same 1:1 row set and glued them back with a rep-keyed join,
      // and every downstream consumer (both pair-join sides, the final cid
      // lookup) re-derived the kernels wherever the optimizer re-inlined
      // them (inferred isnotnull(cid) filters, AQE broadcast subtrees). The
      // localCheckpoint pins the kernels to exactly ONE fold per rep and
      // hands AQE exact sizes, so the pair join and the final lookup both
      // broadcast. A/B story (alternating min-of-3/4, same session) is
      // PROTOCOL-SPLIT and the shipped shape is chosen by the protocol that
      // grades this op (PipeBench: AQE on, shuffle=32):
      //   pipe protocol:   fused+checkpoint 2.209 BEATS r17 2.859 (all 4
      //                    adjacent pairs) BEATS plain-fused 3.440 (the
      //                    un-pinned projection re-folds the argmin in the
      //                    final join's fresh broadcast subtree under AQE)
      //   driver protocol (AQE off, shuffle=4, not an artifact for this
      //                    op): plain-fused 1.845 beats r17 2.120 beats
      //                    fused+checkpoint 2.511 (no AQE broadcasts to
      //                    buy, so the eager barrier is pure cost)
      // Norms fold ONCE per rep; nrm1·nrm2 is bit-identical to folding both
      // norms inside the pair row, so the oracle's per-pair formula still
      // hash-matches.
      Seq(norm2(col("v")).as("nrm"),
        org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.DecimalSqDevArgmin(
            org.apache.spark.sql.graftcol.NativeColumn.expression(col("v")),
            seedRows.map(_._2), seedRows.map(_._1), 12)).as("cid"))
    }
    val pairs = rv.as("a").join(rv.as("b"),
        col("a.cid") === col("b.cid") && col("a.rep") < col("b.rep"))
      // try_divide: a zero vector's norm product is 0, and ANSI mode
      // throws on DOUBLE 0/0 — null falls out of the threshold filter
      .withColumn("cos", try_divide(dot(col("a.v"), col("b.v")),
        col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= SemTau && !isnan(col("cos")))
      .select(col("a.rep").as("r1"), col("b.rep").as("r2"), col("cos"))
    // reconstruct per-vector candidates: cross pairs via rep membership
    // (both directions — the keeper is whichever member id is lower),
    // within-group copies via their representative at cos 1.0
    val cross = pairs
      .join(members.select(col("rep").as("r1"), col("vec_id").as("m1")), "r1")
      .join(members.select(col("rep").as("r2"), col("vec_id").as("m2")), "r2")
      .select(greatest(col("m1"), col("m2")).as("vid"),
        least(col("m1"), col("m2")).as("k"), col("cos"))
    // within-group copies score the rep's ACTUAL self-cosine (not a
    // literal 1.0): a duplicated all-zero vector's try_divide(0, 0) is
    // null, which the threshold filter drops (a plain `/` would throw
    // DIVIDE_BY_ZERO under ANSI). The isnan leg guards NaN payloads in
    // the data itself — NaN orders ABOVE every number in both Spark and
    // DuckDB, so `NaN >= τ` alone would keep the pair and even win the
    // keeper election; the oracle SQL carries the same NOT isnan.
    // nrm is sqrt(inner_product(v,v)), so nrm*nrm is bitwise the
    // norm2(v)*norm2(v) the oracle formula folds — read straight off the
    // pinned rv, no re-fold.
    val selfCos = rv
      .withColumn("cos", try_divide(dot(col("v"), col("v")),
        col("nrm") * col("nrm")))
      .select(col("rep"), col("cos"))
    val within = members.filter(col("vec_id") =!= col("rep"))
      .join(selfCos, "rep")
      .select(col("vec_id").as("vid"), col("rep").as("k"), col("cos"))
      .filter(col("cos") >= SemTau && !isnan(col("cos")))
    val sel = Window.partitionBy("vid").orderBy(col("cos").desc, col("k"))
    cross.unionByName(within)
      .withColumn("rn", row_number().over(sel)).filter(col("rn") === 1)
      .join(members.select(col("vec_id").as("vid"), col("rep")), "vid")
      .join(rv.select(col("rep"), col("cid")), "rep")
      .select(col("vid").as("vec_id"), col("cid"), col("k").as("keeper"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("vec_id")
  }
  val dedupSemanticSql: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |ex AS (SELECT vec_id, i, e[i] AS x
       |  FROM v, unnest(generate_series(1, len(e))) AS t(i)),
       |seeds AS (SELECT vec_id FROM v ORDER BY vec_id LIMIT $SemK),
       |c0 AS (SELECT vec_id AS cid, i, x AS cx FROM ex
       |  WHERE vec_id IN (SELECT vec_id FROM seeds)),
       |dist AS (SELECT ex.vec_id, c0.cid,
       |    sum(CAST((ex.x - c0.cx) * (ex.x - c0.cx) AS DECIMAL(38,12))) AS dist
       |  FROM ex JOIN c0 USING (i) GROUP BY ex.vec_id, c0.cid),
       |asg AS (SELECT vec_id, cid FROM (SELECT *,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |  FROM dist) WHERE rn = 1),
       |p AS (SELECT bb.vec_id AS vid, aa.cid, aa.vec_id AS k,
       |    list_cosine_similarity(va.e, vb.e) AS cos
       |  FROM asg aa JOIN asg bb ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
       |  JOIN v va ON va.vec_id = aa.vec_id
       |  JOIN v vb ON vb.vec_id = bb.vec_id
       |  WHERE list_cosine_similarity(va.e, vb.e) >= $SemTau
       |    AND NOT isnan(list_cosine_similarity(va.e, vb.e)))
       |SELECT vid AS vec_id, cid, k AS keeper, round(cos, 6) AS cos_sim
       |FROM (SELECT *, row_number() OVER
       |    (PARTITION BY vid ORDER BY cos DESC, k) AS rn FROM p)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ---------- hashing-trick linear quality scorer ----------

  private val HashDim = 4096

  /** fastText-shaped linear document scorer with the hashing trick:
    * token → md5-lane bucket (mod 4096) → per-bucket weight → the doc
    * score is the weight sum normalized by √n, squashed by a sigmoid.
    * The weights here derive deterministically from the bucket id (a
    * Knuth multiplicative hash into (−1, 1]) — a stand-in for trained
    * coefficients so the oracle can verify the FULL scoring plumbing
    * exactly; a production model broadcasts its weight array into the
    * same expression. Map-only ahead of one per-doc reduce, whole-stage
    * codegen throughout (no UDF, no join). */
  def textClassifierScore(s: SparkSession, d: String): DataFrame = {
    val toks = t(s, d, "documents").select(col("doc_id"),
      explode(expr("filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"))
        .as("tok"))
    val b = expr(
      s"cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint) % $HashDim")
    val scored = toks.withColumn("w",
      ((b * lit(2654435761L)) % lit(2001L) - lit(1000L)).cast("double") / 1000.0)
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("w").as("ws"))
      .withColumn("score", round(col("ws") / sqrt(col("n_tokens")), 6))
      .withColumn("prob",
        round(lit(1.0) / (lit(1.0) + exp(-col("score"))), 6))
      .withColumn("keep", (col("score") > 0).cast("boolean"))
      .select("doc_id", "n_tokens", "score", "prob", "keep")
      .orderBy("doc_id")
  }
  val textClassifierScoreSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, t.tok FROM documents,
       |    unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |      x -> x != '')) AS t(tok)),
       |w AS (SELECT doc_id,
       |    CAST((('0x' || substr(md5(tok), 1, 15))::BIGINT % $HashDim)
       |      * 2654435761 % 2001 - 1000 AS DOUBLE) / 1000.0 AS w
       |  FROM toks),
       |agg AS (SELECT doc_id, count(*) AS n_tokens,
       |    round(sum(w) / sqrt(count(*)), 6) AS score
       |  FROM w GROUP BY doc_id)
       |SELECT doc_id, n_tokens, score,
       |  round(1.0 / (1.0 + exp(-score)), 6) AS prob,
       |  score > 0 AS keep
       |FROM agg ORDER BY doc_id""".stripMargin

  // ---------- cross-source contamination matrix ----------

  /** Shared word-3-gram overlap between every source pair — the
    * contamination matrix a pipeline consults before declaring two
    * crawls independent (or before using one source as an eval set for
    * a model trained on another). The corpus reduces to DISTINCT
    * (source, gram) keys first; the gram-keyed self-join's fanout per
    * gram is bounded by the source count, so the pair table is
    * |sources|²-bounded regardless of corpus size. */
  def corpusSourceOverlap(s: SparkSession, d: String): DataFrame = {
    // grams ride as xxhash64 longs, not strings — the distinct and the
    // pair stage shuffle 8-byte keys, and the string-keyed DuckDB
    // oracle fails loudly if a 64-bit collision ever merged two grams
    // (the text_containment argument). Round 15: the per-doc distinct
    // chained-hash set computes inside the TrigramXxhashChain kernel
    // (one generated loop; the HOF interpreted ~4 lambda closures per
    // gram), replaying the multi-arg xxhash64 null-skip edge exactly —
    // the kernel-vs-HOF equality is a ScalaCheck property and this op's
    // oracle stays hash-exact.
    val grams = t(s, d, "documents").select(col("source"), explode(
        org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.TrigramXxhashChain(
            org.apache.spark.sql.graftcol.NativeColumn.expression(
              expr("split(trim(text), '\\\\s+')"))))).as("g"))
      .distinct()
      .localCheckpoint() // read for totals and the per-gram source sets
    val tot = grams.groupBy("source").agg(count(lit(1)).as("n"))
    // per-gram source set, then the |sources|²-bounded pair explosion —
    // one gram-keyed shuffle replaces the former gram-keyed self-join
    // (which scanned and shuffled the gram table twice)
    val shared = grams.groupBy("g")
      .agg(array_sort(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ss) - 1),
          |  i -> transform(sequence(i + 1, size(ss)),
          |    j -> struct(ss[i - 1] AS src_a, ss[j - 1] AS src_b))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(tot.select(col("source").as("src_a"), col("n").as("na")), "src_a")
      .join(tot.select(col("source").as("src_b"), col("n").as("nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("shared"),
        round(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")), 6).as("jaccard"))
      .orderBy("src_a", "src_b")
  }
  val corpusSourceOverlapSql: String =
    raw"""WITH grams AS (
         |  SELECT DISTINCT source, t.g FROM documents,
         |    unnest(list_distinct(list_transform(
         |      generate_series(1, greatest(len(string_split_regex(trim(text), '\s+')) - 2, 1)),
         |      i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
         |           string_split_regex(trim(text), '\s+')[i + 1] || ' ' ||
         |           string_split_regex(trim(text), '\s+')[i + 2]))) AS t(g)),
         |tot AS (SELECT source, count(*) AS n FROM grams GROUP BY source),
         |shared AS (SELECT a.source AS src_a, b.source AS src_b,
         |    count(*) AS shared
         |  FROM grams a JOIN grams b
         |    ON a.g = b.g AND a.source < b.source
         |  GROUP BY a.source, b.source)
         |SELECT src_a, src_b, shared,
         |  round(CAST(shared AS DOUBLE) / (ta.n + tb.n - shared), 6) AS jaccard
         |FROM shared
         |JOIN tot ta ON ta.source = src_a
         |JOIN tot tb ON tb.source = src_b
         |ORDER BY src_a, src_b""".stripMargin

  // ---------- Wilson proportion confidence intervals ----------

  /** Wilson-score 95% confidence interval for the per-event-type
    * proportion of high-value events (value > 80) — the interval that
    * stays inside [0,1] at extreme p̂, unlike the normal approximation.
    * One map-side keyed reduce to an |event_type|-bounded table; the
    * closed-form interval runs on that table. */
  def statProportionCi(s: SparkSession, d: String): DataFrame = {
    val z = 1.96
    val agg = t(s, d, "events").groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > 80, 1L).otherwise(0L)).as("hits"))
    val nD = col("n").cast("double"); val p = col("hits") / nD
    val denom = lit(1.0) + lit(z * z) / nD
    val center = (p + lit(z * z) / (nD * 2)) / denom
    val half = (lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      lit(z * z) / (nD * nD * 4))) / denom
    agg.select(col("event_type"), col("n"), col("hits"),
        round(p, 6).as("p_hat"),
        round(center - half, 6).as("ci_lo"),
        round(center + half, 6).as("ci_hi"))
      .orderBy("event_type")
  }
  val statProportionCiSql: String =
    """WITH agg AS (SELECT event_type, count(*) AS n,
      |    CAST(sum(CASE WHEN value > 80 THEN 1 ELSE 0 END) AS BIGINT) AS hits
      |  FROM events GROUP BY event_type),
      |c AS (SELECT event_type, n, hits,
      |    CAST(hits AS DOUBLE) / n AS p,
      |    1.0 + 1.96 * 1.96 / n AS denom FROM agg)
      |SELECT event_type, n, hits, round(p, 6) AS p_hat,
      |  round(((p + 1.96 * 1.96 / (2 * n))
      |    - 1.96 * sqrt(p * (1.0 - p) / n + 1.96 * 1.96 / (4.0 * n * n)))
      |    / denom, 6) AS ci_lo,
      |  round(((p + 1.96 * 1.96 / (2 * n))
      |    + 1.96 * sqrt(p * (1.0 - p) / n + 1.96 * 1.96 / (4.0 * n * n)))
      |    / denom, 6) AS ci_hi
      |FROM c ORDER BY event_type""".stripMargin

  // ---------- top-2 PCA via deflated power iteration ----------

  private val PcaIters = 3

  /** Top-2 principal directions of the uncentered gram matrix A = Σ xxᵀ,
    * by power iteration with Hotelling deflation: three A-multiplies for
    * the leading direction v₁, then three more for v₂ with the v₁
    * component projected out after every multiply. Each multiply is two
    * keyed reductions (corpus → n dot-products → d sums); every other
    * table is d-bounded or scalar, so driver/broadcast state is O(d) —
    * never d² (the covariance-matrix route) and never a corpus collect.
    * λ (the operator norm of the last un-normalized iterate) is reported
    * per component; λ₂/λ₁ is the spectral-decay read a pipeline uses to
    * decide how hard dimensionality reduction can prune. */
  def embPcaTop2(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 12)
    val vecs = t(s, d, "embeddings")
      .select(transform(col("embedding"), _.cast("double")).as("v"))
      .localCheckpoint() // scanned once per multiply, 6 times total
    val dim = vecs.select(size(col("v"))).head.getInt(0)
    // Each A-multiply broadcasts the CURRENT direction as a d-length
    // constant-folded literal (Double.toString round-trips exactly) and
    // computes the per-row dot product map-side with the same
    // per-term-DECIMAL(38,12) fold the oracle's keyed sum performs
    // (decimal addition is exact, hence order-free) — so the only
    // shuffle per multiply is the final d-bounded reduce. The previous
    // shape joined a corpus-sized dot-product table back to the exploded
    // corpus every iteration: at 100 TB that join IS the job; the
    // direction vector is the only thing small enough to move, so move
    // it. All d-length vectors live driver-side — the same bounded
    // bookkeeping as the IVF centroid literal.
    def mult(v: Array[Double]): Array[Double] = {
      val vArr = v.map(x => s"${x}D").mkString("array(", ",", ")")
      // per-row dot against the constant-folded direction rides the
      // native InnerProduct kernel (same sequential left fold as the HOF
      // twin and DuckDB's list_inner_product, one generated loop);
      // exactness is preserved where it matters, in the per-term-DECIMAL
      // keyed sum — fused into ONE VectorDecimalStats pass (same casts,
      // same exact sums; the posexplode twin is pinned in LearnSpec)
      val st = vecs
        .withColumn("dv", dot(col("v"), expr(vArr)))
        .agg(graft.functions.VectorDecimalStats.vector_decimal_stats(
          col("v"), col("dv"), 38, 12).as("st"))
        .head().getStruct(0)
      val sums = st.getSeq[java.math.BigDecimal](0)
      val w = Array.fill(dim)(0.0)
      sums.zipWithIndex.foreach { case (sv, i) =>
        if (sv != null) w(i) = sv.doubleValue // sum(t).cast(double)'s own op
      }
      w
    }
    def d12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def normOf(w: Array[Double]): Double =
      math.sqrt(w.map(x => d12(x * x)).sum.toDouble)
    // component 1: plain power iteration
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var w1 = v; var n1 = 0.0
    for (_ <- 1 to PcaIters) {
      w1 = mult(v); n1 = normOf(w1); v = w1.map(_ / n1)
    }
    val v1 = v
    // component 2: same recurrence, v₁ projected out after each multiply
    var u = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var o2 = u; var n2 = 0.0
    for (_ <- 1 to PcaIters) {
      val w = mult(u)
      val p = w.indices.map(i => d12(w(i) * v1(i))).sum.toDouble
      o2 = Array.tabulate(dim)(i => w(i) - p * v1(i))
      n2 = normOf(o2); u = o2.map(_ / n2)
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import s.implicits._
    val out =
      (0 until dim).map(i => (1, (i + 1).toLong, r6(w1(i) / n1), r6(n1))) ++
        (0 until dim).map(i => (2, (i + 1).toLong, r6(o2(i) / n2), r6(n2)))
    out.toDF("component", "i", "loading", "lambda")
      .orderBy("component", "i")
  }
  val embPcaTop2Sql: String = {
    // per-row dot via list_inner_product (left-fold, matching Spark's
    // aggregate fold); the corpus-sized keyed sum stays per-term-decimal
    def step(n: Int, prevV: String): String =
      s"""lv$n AS MATERIALIZED (SELECT list(vi ORDER BY i) AS q FROM $prevV),
         |d$n AS MATERIALIZED (SELECT v.vec_id,
         |    list_inner_product(v.e, lv.q) AS dv FROM v, lv$n lv),
         |w$n AS MATERIALIZED (SELECT e.i,
         |    CAST(sum(CAST(e.x * d$n.dv AS DECIMAL(38,12))) AS DOUBLE) AS wi
         |  FROM e JOIN d$n USING (vec_id) GROUP BY e.i),
         |n$n AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(wi * wi AS DECIMAL(38,12)))
         |    AS DOUBLE)) AS nw FROM w$n),
         |v$n AS MATERIALIZED (SELECT i, wi / nw AS vi FROM w$n, n$n)""".stripMargin
    def stepU(n: Int, prevU: String): String =
      s"""lu$n AS MATERIALIZED (SELECT list(vi ORDER BY i) AS q FROM $prevU),
         |du$n AS MATERIALIZED (SELECT v.vec_id,
         |    list_inner_product(v.e, lu.q) AS dv FROM v, lu$n lu),
         |wu$n AS MATERIALIZED (SELECT e.i,
         |    CAST(sum(CAST(e.x * du$n.dv AS DECIMAL(38,12))) AS DOUBLE) AS wi
         |  FROM e JOIN du$n USING (vec_id) GROUP BY e.i),
         |p$n AS MATERIALIZED (SELECT CAST(sum(CAST(w.wi * v.vi AS DECIMAL(38,12)))
         |    AS DOUBLE) AS p FROM wu$n w JOIN v3 v USING (i)),
         |o$n AS MATERIALIZED (SELECT w.i, w.wi - p.p * v.vi AS wi
         |  FROM wu$n w JOIN v3 v USING (i), p$n p),
         |no$n AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(wi * wi AS DECIMAL(38,12)))
         |    AS DOUBLE)) AS nw FROM o$n),
         |u$n AS MATERIALIZED (SELECT i, wi / nw AS vi FROM o$n, no$n)""".stripMargin
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |e AS (SELECT vec_id, i, e[i] AS x
       |  FROM v, unnest(generate_series(1, len(e))) AS t(i)),
       |dims AS (SELECT DISTINCT i FROM e),
       |dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM dims),
       |v0 AS (SELECT i, 1.0 / sqrt(CAST(d AS DOUBLE)) AS vi FROM dims, dd),
       |${step(1, "v0")},
       |${step(2, "v1")},
       |${step(3, "v2")},
       |${stepU(1, "v0")},
       |${stepU(2, "u1")},
       |${stepU(3, "u2")}
       |SELECT component, i, loading, lambda FROM (
       |  SELECT 1 AS component, CAST(i AS BIGINT) AS i,
       |    round(wi / nw, 6) AS loading, round(nw, 6) AS lambda
       |  FROM w3, n3
       |  UNION ALL
       |  SELECT 2 AS component, CAST(i AS BIGINT) AS i,
       |    round(wi / nw, 6) AS loading, round(nw, 6) AS lambda
       |  FROM o3, no3)
       |ORDER BY component, i""".stripMargin
  }

  // ---------- Matryoshka truncation audit ----------

  /** Recall@5 of half-dimension embeddings against the full-dimension
    * brute-force baseline, per query — the ablation a pipeline runs
    * before truncating Matryoshka-style embeddings to halve index cost.
    * Both passes are the broadcast-queries × one-corpus-scan shape of
    * the brute-force top-k baseline; the overlap join is 5·|queries|
    * rows. */
  def embMatryoshkaRecall(s: SparkSession, d: String): DataFrame = {
    val vecs = t(s, d, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("h", expr("slice(v, 1, int(size(v) / 2))"))
      .localCheckpoint()
    val queries = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("h").as("qh"))
    def top5(scoreCol: Column): DataFrame = {
      val w = Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("vec_id"))
      vecs.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", scoreCol)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("vec_id").as("cand"))
    }
    val full = top5(dot(col("v"), col("qv")) /
      (norm2(col("v")) * norm2(col("qv"))))
    val half = top5(dot(col("h"), col("qh")) /
      (norm2(col("h")) * norm2(col("qh"))))
    full.join(half, Seq("q_id", "cand"))
      .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
      .join(queries.select("q_id"), Seq("q_id"), "right")
      .select(col("q_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)) / lit(5.0), 6).as("recall"))
      .orderBy("q_id")
  }
  val embMatryoshkaRecallSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
      |    list_slice(embedding::DOUBLE[], 1,
      |      CAST(floor(len(embedding) / 2) AS INT)) AS h
      |  FROM embeddings),
      |q AS (SELECT vec_id AS q_id, e AS qv, h AS qh FROM v
      |  WHERE vec_id < 10),
      |full5 AS (SELECT q_id, cand FROM (
      |  SELECT q.q_id, v.vec_id AS cand,
      |    row_number() OVER (PARTITION BY q.q_id
      |      ORDER BY list_cosine_similarity(v.e, q.qv) DESC, v.vec_id) AS rk
      |  FROM v CROSS JOIN q WHERE v.vec_id <> q.q_id) WHERE rk <= 5),
      |half5 AS (SELECT q_id, cand FROM (
      |  SELECT q.q_id, v.vec_id AS cand,
      |    row_number() OVER (PARTITION BY q.q_id
      |      ORDER BY list_cosine_similarity(v.h, q.qh) DESC, v.vec_id) AS rk
      |  FROM v CROSS JOIN q WHERE v.vec_id <> q.q_id) WHERE rk <= 5),
      |ov AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_overlap
      |  FROM full5 JOIN half5 USING (q_id, cand) GROUP BY q_id)
      |SELECT q.q_id, coalesce(ov.n_overlap, 0) AS n_overlap,
      |  round(coalesce(ov.n_overlap, 0) / 5.0, 6) AS recall
      |FROM q LEFT JOIN ov USING (q_id) ORDER BY q_id""".stripMargin

  // ---------- distinctive terms per source (weighted log-odds) ----------

  /** Monroe-style weighted log-odds with an informative Dirichlet prior:
    * for each source, the 3 terms most over-represented vs the rest of
    * the corpus, z-scored. The corpus reduces to a (source × term) count
    * table in one keyed aggregation; priors, deltas, and variances are a
    * fixed expression tree over that bounded table (vocabulary-bounded,
    * never corpus-bounded). */
  def textDistinctiveTerms(s: SparkSession, d: String): DataFrame = {
    val a0 = 100.0
    val sw = t(s, d, "documents")
      .select(col("source"), explode(expr(
        s"filter(split(trim(text), '\\\\s+'), x -> x != '')")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("ysw"))
      .localCheckpoint() // read thrice: per-source, per-term, global totals
    val ns = sw.groupBy("source").agg(sum("ysw").as("ns"))
    val yw = sw.groupBy("w").agg(sum("ysw").as("yw"))
    val nn = sw.agg(sum("ysw").as("nn"))
    val scored = sw.join(ns, "source").join(yw, "w").crossJoin(broadcast(nn))
      .withColumn("aw", lit(a0) * col("yw") / col("nn"))
      .withColumn("delta",
        log((col("ysw") + col("aw")) /
          (col("ns") - col("ysw") + lit(a0) - col("aw"))) -
        log((col("yw") - col("ysw") + col("aw")) /
          (col("nn") - col("ns") - col("yw") + col("ysw") + lit(a0) - col("aw"))))
      .withColumn("variance",
        lit(1.0) / (col("ysw") + col("aw")) +
          lit(1.0) / (col("yw") - col("ysw") + col("aw")))
      .withColumn("z", col("delta") / sqrt(col("variance")))
    val w = Window.partitionBy("source").orderBy(col("z").desc, col("w"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("source"), col("rank"), col("w").as("term"),
        round(col("z"), 6).as("z_score"))
      .orderBy("source", "rank")
  }
  val textDistinctiveTermsSql: String =
    raw"""WITH tok AS (SELECT source, t.w FROM documents,
         |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
         |      x -> x != '')) AS t(w)),
         |sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS ysw
         |  FROM tok GROUP BY source, w),
         |ns AS (SELECT source, CAST(sum(ysw) AS BIGINT) AS ns
         |  FROM sw GROUP BY source),
         |yw AS (SELECT w, CAST(sum(ysw) AS BIGINT) AS yw FROM sw GROUP BY w),
         |nn AS (SELECT CAST(sum(ysw) AS BIGINT) AS nn FROM sw),
         |scored AS (SELECT sw.source, sw.w,
         |    100.0 * yw.yw / nn.nn AS aw,
         |    ln((sw.ysw + 100.0 * yw.yw / nn.nn)
         |      / (ns.ns - sw.ysw + 100.0 - 100.0 * yw.yw / nn.nn))
         |    - ln((yw.yw - sw.ysw + 100.0 * yw.yw / nn.nn)
         |      / (nn.nn - ns.ns - yw.yw + sw.ysw + 100.0
         |         - 100.0 * yw.yw / nn.nn)) AS delta,
         |    1.0 / (sw.ysw + 100.0 * yw.yw / nn.nn)
         |      + 1.0 / (yw.yw - sw.ysw + 100.0 * yw.yw / nn.nn) AS variance
         |  FROM sw JOIN ns USING (source) JOIN yw USING (w) CROSS JOIN nn)
         |SELECT source, rank, w AS term, round(z, 6) AS z_score FROM (
         |  SELECT source, w, delta / sqrt(variance) AS z,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY delta / sqrt(variance) DESC, w) AS BIGINT) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY source, rank""".stripMargin

  // ---------- label-propagation communities (word graph) ----------

  private val LpaIters = 3

  /** The weighted word-adjacency graph and its [[LpaIters]]-round
    * label-propagation communities — shared by [[graphLabelProp]] (which
    * emits the labels) and [[graphModularity]] (which scores them).
    * Returns (labels (w, lbl), weighted directed-both-ways edges
    * (src, dst, wt)).
    *
    * Synchronous label propagation over the word co-occurrence graph
    * (consecutive-word edges, symmetrized, weight = occurrence count):
    * every node adopts the label with the highest neighbor-weight sum
    * (ties to the smallest label) for three rounds. All tables after the
    * first aggregation are vocabulary-bounded — the per-iteration work
    * is one keyed join + one argmax window on the edge table, the LPA
    * shape that survives any corpus size with a bounded vocabulary. */
  private def lpaCommunities(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val pairs = Q.bigramEdges(t(s, d, "documents")
      .select(expr("split(trim(text), '\\\\s+')").as("ws"))
      // single-word docs have no edges; without the guard the kernel
      // replays the HOF's descending sequence(1, 0) null src/dst rows
      .filter(size(col("ws")) >= 2))
    val und = pairs.union(pairs.select(col("dst"), col("src"), col("pc")))
      .toDF("src", "dst", "pc")
      .groupBy("src", "dst").agg(sum("pc").as("wt"))
      .localCheckpoint() // vocabulary²-bounded, scanned once per round
    var lab = und.select(col("src").as("w")).distinct()
      .select(col("w"), col("w").as("lbl"))
    for (_ <- 1 to LpaIters) {
      val votes = und
        .join(lab.select(col("w").as("dst"), col("lbl")), "dst")
        .groupBy("src", "lbl").agg(sum("wt").as("v"))
      val aw = Window.partitionBy("src").orderBy(col("v").desc, col("lbl"))
      // no per-round checkpoint: the round count is a fixed 3, so the
      // unrolled plan executes once from the pinned edge table — and
      // nothing superseded is left pinned in executor storage. No
      // carry-forward join either (round 16): und is symmetrized, so
      // EVERY node occurs as src and as dst; lab always covers all
      // nodes (induction from the init), hence the dst join drops no
      // edge and the rank-1 pick emits exactly one row per node — the
      // oracle's LEFT JOIN carry-forward is a no-op here, and removing
      // it deletes two joins per round from the unrolled plan.
      lab = votes.withColumn("rn", row_number().over(aw))
        .filter(col("rn") === 1)
        .select(col("src").as("w"), col("lbl"))
    }
    (lab, und)
  }

  def graphLabelProp(s: SparkSession, d: String): DataFrame = {
    val (lab, _) = lpaCommunities(s, d)
    lab.select(col("w").as("word"), col("lbl").as("community"))
      .orderBy("word")
  }

  /** Newman modularity of the label-propagation communities over the
    * weighted word graph: Q = Σ_c (in_c/W − (tot_c/W)²) with W the total
    * directed-both-ways weight (2m), in_c the weight inside community c,
    * tot_c the strength of c's nodes — the standard "did the community
    * detector beat the random-graph null" score, closing the loop on
    * [[graphLabelProp]]. Everything after the two label joins is
    * community-bounded math; integer weight sums stay exact and the
    * per-community terms ride a decimal lane. */
  def graphModularity(s: SparkSession, d: String): DataFrame = {
    val (lab, und) = lpaCommunities(s, d)
    val e = und
      .join(lab.select(col("w").as("src"), col("lbl").as("cs")), "src")
      .join(lab.select(col("w").as("dst"), col("lbl").as("cd")), "dst")
    // ONE pass over the labeled edges (round 16 — was three: tot, in_c,
    // tot_c, against a checkpoint): ktot and win fuse into one grouped
    // aggregate (win's left-join + coalesce(0) becomes the conditional
    // sum's natural 0), and W = Σ ktot rides an empty-frame window over
    // the community-bounded rows. Long sums are exact, so w2, win, and
    // ktot — and every double term below — are bit-identical.
    e.groupBy("cs")
      .agg(sum("wt").as("ktot"),
        sum(when(col("cs") === col("cd"), col("wt")).otherwise(lit(0L)))
          .as("win"))
      .withColumn("w2", sum("ktot").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("term",
        ddec(col("win").cast("double") / col("w2") -
          (col("ktot").cast("double") / col("w2")) *
            (col("ktot").cast("double") / col("w2")),
          precision = 38, scale = 12))
      .agg(count(lit(1)).as("n_communities"),
        round(sum("term").cast("double"), 6).as("modularity"))
  }
  /** Shared WITH-body building the weighted edge table `und` and the
    * 3-round LPA label table `l3` — the SQL twin of [[lpaCommunities]],
    * consumed by both oracle strings below. */
  private val lpaCtes: String = {
    def round(n: Int, prev: String): String =
      s"""vt$n AS (SELECT e.src, l.lbl, CAST(sum(e.wt) AS BIGINT) AS v
         |  FROM und e JOIN $prev l ON l.w = e.dst GROUP BY e.src, l.lbl),
         |nx$n AS (SELECT src AS w, lbl FROM (SELECT src, lbl,
         |    row_number() OVER (PARTITION BY src ORDER BY v DESC, lbl) AS rn
         |  FROM vt$n) WHERE rn = 1),
         |l$n AS (SELECT p.w, coalesce(nx$n.lbl, p.lbl) AS lbl
         |  FROM $prev p LEFT JOIN nx$n USING (w))""".stripMargin
    raw"""ws AS (SELECT string_split_regex(trim(text), '\s+') AS ws
         |  FROM documents),
         |pairs AS (SELECT ws[i] AS src, ws[i + 1] AS dst
         |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
         |        FROM ws)),
         |und AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) AS wt
         |  FROM (
         |    SELECT src, dst FROM pairs
         |    UNION ALL SELECT dst, src FROM pairs)
         |  GROUP BY src, dst),
         |l0 AS (SELECT DISTINCT src AS w, src AS lbl FROM und),
         |${round(1, "l0")},
         |${round(2, "l1")},
         |${round(3, "l2")}""".stripMargin
  }

  val graphLabelPropSql: String =
    s"""WITH $lpaCtes
       |SELECT w AS word, lbl AS community FROM l3 ORDER BY word"""
      .stripMargin

  val graphModularitySql: String =
    s"""WITH $lpaCtes,
       |le AS MATERIALIZED (SELECT e.wt, ls.lbl AS cs, ld.lbl AS cd
       |  FROM und e JOIN l3 ls ON ls.w = e.src JOIN l3 ld ON ld.w = e.dst),
       |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS w2 FROM le),
       |inc AS (SELECT cs, CAST(sum(wt) AS BIGINT) AS win FROM le
       |  WHERE cs = cd GROUP BY cs),
       |str AS (SELECT cs, CAST(sum(wt) AS BIGINT) AS ktot FROM le
       |  GROUP BY cs),
       |terms AS (SELECT CAST(
       |    CAST(coalesce(inc.win, 0) AS DOUBLE) / w2
       |      - (CAST(str.ktot AS DOUBLE) / w2)
       |        * (CAST(str.ktot AS DOUBLE) / w2) AS DECIMAL(38,12)) AS term
       |  FROM str LEFT JOIN inc USING (cs) CROSS JOIN tot)
       |SELECT CAST(count(*) AS BIGINT) AS n_communities,
       |  round(CAST(sum(term) AS DOUBLE), 6) AS modularity
       |FROM terms""".stripMargin

  // ---------- label-conditional OOD scores (diagonal Mahalanobis) ----------

  /** Squared diagonal-Mahalanobis distance of each vector from its OWN
    * label's distribution — the out-of-distribution score a pipeline
    * uses to catch mislabeled or corrupted embeddings that global
    * z-scores miss (a point can sit at the corpus centroid yet be far
    * from its class). The corpus reduces to a (label × dim) moment table
    * in one keyed pass; scoring is a broadcast join + per-vector decimal
    * reduce; the top-10 is a TakeOrdered, never a full sort. */
  def embOodMahalanobis(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i0", "xf")))
      .select(col("vec_id"), col("label"), (col("i0") + 1).as("i"),
        col("xf").cast("double").as("x"))
      .localCheckpoint() // scanned twice: moments + scoring
    val st = e.groupBy("label", "i")
      .agg(count(lit(1)).as("n"),
        sum(ddec(col("x"), precision = 38, scale = 12))
          .cast("double").as("s1"),
        sum(ddec(col("x") * col("x"), precision = 38, scale = 12))
          .cast("double").as("s2"))
    val mu = col("s1") / col("n")
    val varc = (col("s2") - col("s1") * col("s1") / col("n")) /
      (col("n") - 1) + lit(1e-6)
    e.join(broadcast(st), Seq("label", "i"))
      .groupBy("vec_id", "label")
      .agg(sum(ddec((col("x") - mu) * (col("x") - mu) / varc,
          precision = 38, scale = 12))
        .cast("double").as("m2"))
      .orderBy(col("m2").desc, col("vec_id")).limit(10)
      .select(col("vec_id"), col("label"), round(col("m2"), 6).as("m2"))
  }
  val embOodMahalanobisSql: String =
    """WITH e AS (SELECT vec_id, label, i,
      |    CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings,
      |    unnest(generate_series(1, len(embedding))) AS t(i)),
      |st AS (SELECT label, i, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS s1,
      |    CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS s2
      |  FROM e GROUP BY label, i)
      |SELECT vec_id, label, round(m2, 6) AS m2 FROM (
      |  SELECT e.vec_id, e.label,
      |    CAST(sum(CAST((e.x - st.s1 / st.n) * (e.x - st.s1 / st.n)
      |      / ((st.s2 - st.s1 * st.s1 / st.n) / (st.n - 1) + 1e-6)
      |      AS DECIMAL(38,12))) AS DOUBLE) AS m2
      |  FROM e JOIN st USING (label, i) GROUP BY e.vec_id, e.label)
      |ORDER BY m2 DESC, vec_id LIMIT 10""".stripMargin

  // ---------- k-anonymity audit ----------

  private val AnonK = 10

  /** k-anonymity over the (lang, source) quasi-identifier pair: any
    * combination observed on fewer than k documents re-identifies its
    * members once joined with an auxiliary table keyed the same way.
    * One map-side keyed reduce to a |lang|×|source|-bounded table; the
    * release gate reads `at_risk`. */
  def privacyKAnonymity(s: SparkSession, d: String): DataFrame = {
    t(s, d, "documents").groupBy("lang", "source")
      .agg(count(lit(1)).as("n"))
      .withColumn("at_risk", (col("n") < AnonK).cast("boolean"))
      .select("lang", "source", "n", "at_risk")
      .orderBy("lang", "source")
  }
  val privacyKAnonymitySql: String =
    s"""SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
       |  count(*) < $AnonK AS at_risk
       |FROM documents GROUP BY lang, source
       |ORDER BY lang, source""".stripMargin

  // ---------- simple-exponential-smoothing forecast ----------

  /** One-step SES forecast of tomorrow's per-type daily event count,
    * α = 0.3. The recursion F_{t+1} = α·y_t + (1−α)·F_t (seeded with
    * F_1 = y_1) unrolls to an exponentially-weighted sum, so the
    * forecast is computed in CLOSED FORM from the |type|×|days|-bounded
    * daily-count table — per-day weights α·(1−α)^(T−t) plus the
    * (1−α)^(T−1) seed carry — one keyed reduce over the corpus, then
    * bounded-table math; no sequential scan anywhere. */
  def eventForecastSes(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .localCheckpoint() // bounded: |type| × |days|
    // k = observation index from the latest day (gap-proof: the SES
    // recursion runs over the OBSERVED day sequence, not the calendar)
    val kw = Window.partitionBy("event_type").orderBy(col("day").desc)
    val idx = daily.groupBy("event_type").agg(count(lit(1)).as("t"))
    daily.withColumn("k", row_number().over(kw).cast("long") - 1)
      .join(idx, "event_type")
      .withColumn("wt",
        when(col("k") === col("t") - 1, pow(lit(0.7), col("k")))
          .otherwise(lit(0.3) * pow(lit(0.7), col("k"))))
      .groupBy("event_type")
      .agg(sum(ddec(col("y") * col("wt"), precision = 38, scale = 12))
          .cast("double").as("forecast"),
        max(when(col("k") === 0, col("y"))).as("last_actual"))
      .select(col("event_type"), col("last_actual"),
        round(col("forecast"), 6).as("forecast"))
      .orderBy("event_type")
  }
  val eventForecastSesSql: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |ranked AS (SELECT event_type, day, y,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY day DESC) AS BIGINT) - 1 AS k
      |  FROM daily),
      |idx AS (SELECT event_type, CAST(count(*) AS BIGINT) AS t
      |  FROM daily GROUP BY event_type)
      |SELECT event_type, last_actual, round(forecast, 6) AS forecast
      |FROM (SELECT r.event_type,
      |    CAST(sum(CAST(r.y * (CASE WHEN r.k = i.t - 1
      |      THEN pow(0.7, r.k) ELSE 0.3 * pow(0.7, r.k) END)
      |      AS DECIMAL(38,12))) AS DOUBLE) AS forecast,
      |    max(CASE WHEN r.k = 0 THEN r.y END) AS last_actual
      |  FROM ranked r JOIN idx i USING (event_type)
      |  GROUP BY r.event_type)
      |ORDER BY event_type""".stripMargin

  // ---------- differentially-private released counts ----------

  /** ε-DP noisy per-(lang, source) document counts via the DISCRETE
    * Laplace (two-sided geometric) mechanism, ε = 1, sensitivity 1 —
    * the standard release mechanism for integer counting queries, and
    * deliberately integer-valued here: a continuous-Laplace release
    * rounded to k decimals invites cross-engine ULP-vs-rounding-boundary
    * divergence (Java's and DuckDB's ln differ in the last ulp), while
    * floor() on a magnitude ~1 ulp away from an integer diverges with
    * probability ~1e-15 per group. The draw derives deterministically
    * from the group key via the md5-lane construction (u ∈ (0,1) →
    * inverse CDF; at ε = 1 the geometric log-base is exactly −1, so the
    * magnitude is floor(−ln(1−2|u−½|))); a production release swaps the
    * hash-seeded u for a secret-seeded one without touching the plan.
    * One map-side keyed reduce; everything after is bounded-table math. */
  def privacyDpCounts(s: SparkSession, d: String): DataFrame = {
    val u = expr(
      "(cast(conv(substring(md5(concat(lang, '|', source)), 1, 15), 16, 10) " +
        "as bigint) % 1000000 + 1) / 1000001.0")
    t(s, d, "documents").groupBy("lang", "source")
      .agg(count(lit(1)).as("n"))
      .withColumn("u", u)
      .withColumn("k",
        (signum(col("u") - 0.5) *
          floor(-log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5))))
          .cast("long"))
      .select(col("lang"), col("source"), col("n"),
        (col("n") + col("k")).as("released"))
      .orderBy("lang", "source")
  }
  val privacyDpCountsSql: String =
    """WITH g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
      |    ((('0x' || substr(md5(lang || '|' || source), 1, 15))::BIGINT
      |      % 1000000 + 1) / 1000001.0) AS u
      |  FROM documents GROUP BY lang, source)
      |SELECT lang, source, n,
      |  n + CAST(sign(u - 0.5)
      |    * floor(-ln(1.0 - 2.0 * abs(u - 0.5))) AS BIGINT) AS released
      |FROM g ORDER BY lang, source""".stripMargin

  // ---------- DAU / MAU stickiness ----------

  /** Daily active users with range-wide active-user stickiness: per
    * day, |distinct users| and its ratio to the distinct users of the
    * whole window (the DAU/MAU shape on the corpus's 30-day range).
    * Two distinct-aggregations — per-day (keyed) and global; both
    * reduce to |days|- and scalar-bounded tables. */
  def eventDauMau(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
    val dau = ev.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val mau = ev.agg(countDistinct("user_id").as("mau"))
    dau.crossJoin(broadcast(mau))
      .select(col("day"), col("dau"), col("mau"),
        round(col("dau").cast("double") / col("mau"), 6).as("stickiness"))
      .orderBy("day")
  }
  val eventDauMauSql: String =
    """WITH dau AS (SELECT date_trunc('day', ts) AS day,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      |  FROM events GROUP BY date_trunc('day', ts)),
      |mau AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      |  FROM events)
      |SELECT day, dau, mau,
      |  round(CAST(dau AS DOUBLE) / mau, 6) AS stickiness
      |FROM dau, mau ORDER BY day""".stripMargin

  // ---------- term burstiness (Fano factor) ----------

  /** Burstiness of the 20 most frequent terms: the variance-to-mean
    * ratio (Fano factor) of per-document occurrence counts across the
    * documents CONTAINING each term. VMR ≈ 1 is Poisson scatter; higher
    * means the term clumps into few documents — the signal that
    * separates topical words from function words. One (doc × term)
    * count pass, a vocabulary-bounded moment reduce, and a top-20
    * TakeOrdered. */
  def textBurstiness(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 12)
    val tc = t(s, d, "documents")
      .select(col("doc_id"), explode(expr(
        "filter(split(trim(text), '\\\\s+'), x -> x != '')")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val st = tc.groupBy("w")
      .agg(count(lit(1)).as("nd"), sum("c").as("total"),
        sum((col("c") * col("c")).cast(dec)).cast("double").as("s2"))
      .filter(col("nd") > 1)
    val mean = col("total").cast("double") / col("nd")
    val varc = (col("s2") - col("total").cast("double") * col("total") /
      col("nd")) / (col("nd") - 1)
    st.select(col("w").as("term"), col("nd").as("n_docs"), col("total"),
        round(varc / mean, 6).as("vmr"))
      .orderBy(col("total").desc, col("term")).limit(20)
  }
  val textBurstinessSql: String =
    raw"""WITH tc AS (SELECT doc_id, t.w, CAST(count(*) AS BIGINT) AS c
         |  FROM documents,
         |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
         |      x -> x != '')) AS t(w)
         |  GROUP BY doc_id, t.w),
         |st AS (SELECT w, CAST(count(*) AS BIGINT) AS nd,
         |    CAST(sum(c) AS BIGINT) AS total,
         |    CAST(sum(CAST(c * c AS DECIMAL(38,12))) AS DOUBLE) AS s2
         |  FROM tc GROUP BY w HAVING count(*) > 1)
         |SELECT w AS term, nd AS n_docs, total,
         |  round(((s2 - CAST(total AS DOUBLE) * total / nd) / (nd - 1))
         |    / (CAST(total AS DOUBLE) / nd), 6) AS vmr
         |FROM st ORDER BY total DESC, term LIMIT 20""".stripMargin

  // ---------- Tukey HSD post-hoc pairwise comparisons ----------

  /** Tukey's honestly-significant-difference test over every source
    * pair's mean document length — the post-hoc step after `stat_anova`
    * says "some source differs" (190 uncorrected t-tests would inflate
    * family-wise error; the studentized-range critical value is the
    * published fix). The corpus reduces to per-source moment triples in
    * one keyed pass; all 190 comparisons are bounded-table math. The
    * critical value 5.01 is the α=0.05, k=20, df=∞ studentized-range
    * constant (public tables). */
  def statTukeyHsd(s: SparkSession, d: String): DataFrame = {
    val m = t(s, d, "documents").groupBy("source")
      .agg(count(lit(1)).as("nj"), sum("n_chars").as("s1"),
        sum(col("n_chars") * col("n_chars")).as("s2"))
      .localCheckpoint() // |sources|-bounded, read for MSW + both sides
    val tot = m.agg(sum("nj").as("n"), count(lit(1)).as("k"),
      sum("s2").cast("double").as("gs2"),
      sum(ddec(col("s1").cast("double") * col("s1") / col("nj"),
        precision = 38, scale = 12)).cast("double").as("sb"))
    val msw = (col("gs2") - col("sb")) / (col("n") - col("k"))
    val a = m.select(col("source").as("src_a"), col("nj").as("na"),
      (col("s1").cast("double") / col("nj")).as("ma"))
    val b = m.select(col("source").as("src_b"), col("nj").as("nb"),
      (col("s1").cast("double") / col("nj")).as("mb"))
    a.join(b, col("src_a") < col("src_b")).crossJoin(broadcast(tot))
      .withColumn("q", abs(col("ma") - col("mb")) /
        sqrt((msw / 2) * (lit(1.0) / col("na") + lit(1.0) / col("nb"))))
      .select(col("src_a"), col("src_b"),
        round(col("ma") - col("mb"), 6).as("mean_diff"),
        round(col("q"), 6).as("q_stat"),
        (col("q") > 5.01).cast("boolean").as("significant"))
      .orderBy("src_a", "src_b")
  }
  val statTukeyHsdSql: String =
    """WITH m AS (SELECT source, CAST(count(*) AS BIGINT) AS nj,
      |    CAST(sum(n_chars) AS BIGINT) AS s1,
      |    CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(nj) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(s2) AS DOUBLE) AS gs2,
      |    CAST(sum(CAST(CAST(s1 AS DOUBLE) * s1 / nj AS DECIMAL(38,12)))
      |      AS DOUBLE) AS sb FROM m)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  round(CAST(a.s1 AS DOUBLE) / a.nj - CAST(b.s1 AS DOUBLE) / b.nj, 6)
      |    AS mean_diff,
      |  round(abs(CAST(a.s1 AS DOUBLE) / a.nj - CAST(b.s1 AS DOUBLE) / b.nj)
      |    / sqrt(((tot.gs2 - tot.sb) / (tot.n - tot.k) / 2)
      |      * (1.0 / a.nj + 1.0 / b.nj)), 6) AS q_stat,
      |  abs(CAST(a.s1 AS DOUBLE) / a.nj - CAST(b.s1 AS DOUBLE) / b.nj)
      |    / sqrt(((tot.gs2 - tot.sb) / (tot.n - tot.k) / 2)
      |      * (1.0 / a.nj + 1.0 / b.nj)) > 5.01 AS significant
      |FROM m a JOIN m b ON a.source < b.source CROSS JOIN tot
      |ORDER BY src_a, src_b""".stripMargin

  // ---------- funnel conversion timing ----------

  /** Time-to-convert through the view → purchase funnel: per user, the
    * gap between the first view and the first purchase AFTER it, with
    * exact quartiles over converted users. Two per-user keyed firsts
    * (map-side partial min), one user-bounded join, quartiles on the
    * converted-user table — corpus touched exactly once. */
  def eventFunnelTime(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").select(col("user_id"), col("event_type"),
      col("ts").cast("long").as("sec"))
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("sec").as("v"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(firstView, "user_id")
      .filter(col("sec") > col("v"))
      .groupBy("user_id").agg((min("sec") - min("v")).as("gap"))
    firstView.agg(count(lit(1)).as("n_viewers")).crossJoin(
      conv.agg(count(lit(1)).as("n_converted"),
        expr("percentile(gap, 0.25)").as("p25"),
        expr("percentile(gap, 0.5)").as("p50"),
        expr("percentile(gap, 0.75)").as("p75")))
      .select(col("n_viewers"), col("n_converted"),
        round(col("n_converted").cast("double") / col("n_viewers"), 6)
          .as("conversion"),
        round(col("p25"), 6).as("p25_sec"),
        round(col("p50"), 6).as("median_sec"),
        round(col("p75"), 6).as("p75_sec"))
  }
  val eventFunnelTimeSql: String =
    """WITH ev AS (SELECT user_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
      |fv AS (SELECT user_id, min(sec) AS v FROM ev
      |  WHERE event_type = 'view' GROUP BY user_id),
      |conv AS (SELECT e.user_id, min(e.sec) - min(f.v) AS gap
      |  FROM ev e JOIN fv f USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.sec > f.v
      |  GROUP BY e.user_id),
      |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_viewers FROM fv),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_converted,
      |    quantile_cont(gap, 0.25) AS p25,
      |    quantile_cont(gap, 0.5) AS p50,
      |    quantile_cont(gap, 0.75) AS p75 FROM conv)
      |SELECT n_viewers, n_converted,
      |  round(CAST(n_converted AS DOUBLE) / n_viewers, 6) AS conversion,
      |  round(p25, 6) AS p25_sec, round(p50, 6) AS median_sec,
      |  round(p75, 6) AS p75_sec
      |FROM nv, agg""".stripMargin

  // ---------- Ljung–Box autocorrelation test ----------

  private val LbLags = 10

  /** Ljung–Box Q over the hourly event-count series (lags 1–10):
    * Q = n(n+2)·Σ ρ̂ₖ²/(n−k), rejecting white noise when Q exceeds the
    * χ²₁₀ 95% critical value 18.307. The series is |hours|-bounded after
    * one keyed reduce; the lagged joins run on that bounded table, so
    * nothing after the first aggregation scales with the corpus. */
  def statLjungBox(s: SparkSession, d: String): DataFrame = {
    val series = t(s, d, "events")
      .groupBy(expr("unix_seconds(date_trunc('HOUR', ts)) div 3600").as("h"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint() // |hours|-bounded
    val g = series.agg(sum(col("x")).as("sx"),
      sum(expr("x * x")).as("sxx"), count(lit(1)).as("n"))
    val lags = s.range(1, LbLags + 1).select(col("id").as("k"))
    val b = series.select(col("h").as("bh"), col("x").as("bx"))
    val m = col("sx").cast("double") / col("n")
    val rho = series.crossJoin(broadcast(lags))
      .join(b, col("bh") === col("h") - col("k"))
      .groupBy(col("k"))
      .agg(sum(expr("x * bx")).as("axy"), sum(col("x")).as("bxs"),
        sum(col("bx")).as("cxs"), count(lit(1)).as("np"))
      .crossJoin(broadcast(g))
      .select(col("k"), col("n"),
        ((col("axy") - m * (col("bxs") + col("cxs")) + col("np") * m * m) /
          (col("sxx") - col("n") * m * m)).as("r"))
    rho.select(col("n"),
        ddec((col("r") * col("r")) / (col("n") - col("k")),
          precision = 38, scale = 12).as("term"))
      .groupBy("n")
      .agg(sum("term").cast("double").as("srho"))
      .select(col("n").cast("long").as("n"),
        round(col("n") * (col("n") + 2) * col("srho"), 6).as("q_stat"),
        (col("n").cast("double") * (col("n") + 2) * col("srho") > 18.307)
          .cast("boolean").as("reject_white_noise"))
  }
  val statLjungBoxSql: String =
    s"""WITH series AS (
       |  SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS h,
       |    CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1),
       |g AS (SELECT CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(count(*) AS BIGINT) AS n FROM series),
       |lags AS (SELECT unnest(range(1, ${LbLags + 1})) AS k),
       |rho AS (
       |  SELECT l.k, g.n,
       |    (CAST(sum(a.x * b.x) AS BIGINT)
       |      - (CAST(g.sx AS DOUBLE) / g.n)
       |        * (CAST(sum(a.x) AS BIGINT) + CAST(sum(b.x) AS BIGINT))
       |      + CAST(count(*) AS BIGINT) * (CAST(g.sx AS DOUBLE) / g.n)
       |        * (CAST(g.sx AS DOUBLE) / g.n))
       |    / (g.sxx - g.n * (CAST(g.sx AS DOUBLE) / g.n)
       |        * (CAST(g.sx AS DOUBLE) / g.n)) AS r
       |  FROM lags l JOIN series a ON TRUE
       |  JOIN series b ON b.h = a.h - l.k
       |  CROSS JOIN g
       |  GROUP BY l.k, g.n, g.sx, g.sxx)
       |SELECT n, round(n * (n + 2) * srho, 6) AS q_stat,
       |  CAST(n AS DOUBLE) * (n + 2) * srho > 18.307 AS reject_white_noise
       |FROM (SELECT n,
       |    CAST(sum(CAST(r * r / (n - k) AS DECIMAL(38,12))) AS DOUBLE)
       |      AS srho
       |  FROM rho GROUP BY n)""".stripMargin

  // ---------- skew-safe salted join ----------

  /** Per-language above-average share computed through [[Q.saltedJoin]]
    * — the hot-key mitigation exercised end-to-end: `lang` is genuinely
    * skewed (one language carries ~40% of the corpus), so the big side
    * spreads each language over 8 content-derived sub-keys and the
    * 5-row dim replicates ×8; no reducer ever receives a whole hot key,
    * and the result is IDENTICAL to the plain join the oracle runs.
    * At 100 TB this is the fallback when AQE's skew splitting can't
    * break a single hot key inside one partition. */
  def joinSaltedSkew(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
    val dim = docs.groupBy("lang")
      .agg((sum("n_chars").cast("double") / count(lit(1))).as("lang_avg"))
    saltedJoin(docs, dim, "lang", 8)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("n_chars") > col("lang_avg"), 1L).otherwise(0L))
          .as("above_avg"))
      .select(col("lang"), col("n"), col("above_avg"),
        round(col("above_avg").cast("double") / col("n"), 6).as("share"))
      .orderBy("lang")
  }
  val joinSaltedSkewSql: String =
    """WITH dim AS (SELECT lang,
      |    CAST(sum(n_chars) AS DOUBLE) / count(*) AS lang_avg
      |  FROM documents GROUP BY lang)
      |SELECT d.lang, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN d.n_chars > dim.lang_avg THEN 1 ELSE 0 END)
      |    AS BIGINT) AS above_avg,
      |  round(CAST(sum(CASE WHEN d.n_chars > dim.lang_avg THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 6) AS share
      |FROM documents d JOIN dim USING (lang)
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ---------- bot-likeness detection ----------

  /** Inter-arrival regularity per user: humans arrive bursty (CV ≈ 1 or
    * above, exponential-ish), scripted traffic arrives metronomically
    * (CV ≪ 1). Flags users with ≥ 10 gaps whose coefficient of
    * variation is below 0.3. Per-user gaps come from one user-
    * partitioned lag window (parallel across users); the moment reduce
    * is map-side; output is user-bounded. */
  def eventBotsDetect(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val gaps = t(s, d, "events")
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("sec"))
      .withColumn("gap", col("sec") - lag("sec", 1).over(w))
      .filter(col("gap").isNotNull)
    val st = gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("gap").as("s1"),
        sum((col("gap") * col("gap")).cast(DecimalType(38, 12)))
          .cast("double").as("s2"))
      .filter(col("n") >= 10)
    val mean = col("s1").cast("double") / col("n")
    val sd = sqrt((col("s2") - col("s1").cast("double") * col("s1") /
      col("n")) / (col("n") - 1))
    st.select(col("user_id"), col("n").as("n_gaps"),
        round(mean, 6).as("mean_gap_sec"),
        round(sd / mean, 6).as("cv"),
        (sd / mean < 0.3).cast("boolean").as("bot_like"))
      .orderBy("user_id")
  }
  val eventBotsDetectSql: String =
    """WITH g AS (SELECT user_id,
      |    sec - lag(sec) OVER (PARTITION BY user_id
      |      ORDER BY sec, event_id) AS gap
      |  FROM (SELECT user_id, event_id,
      |      CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)),
      |st AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(gap) AS BIGINT) AS s1,
      |    CAST(sum(CAST(gap * gap AS DECIMAL(38,12))) AS DOUBLE) AS s2
      |  FROM g WHERE gap IS NOT NULL GROUP BY user_id
      |  HAVING count(*) >= 10)
      |SELECT user_id, n AS n_gaps,
      |  round(CAST(s1 AS DOUBLE) / n, 6) AS mean_gap_sec,
      |  round(sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
      |    / (CAST(s1 AS DOUBLE) / n), 6) AS cv,
      |  sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
      |    / (CAST(s1 AS DOUBLE) / n) < 0.3 AS bot_like
      |FROM st ORDER BY user_id""".stripMargin

  // ---------- binary chunk manifest (content-addressable store) ----------

  private val ChunkBytes = 256

  /** Fixed-size chunk manifest over the opaque binary payload column —
    * the write-side plumbing of a content-addressable blob store (each
    * multimodal payload becomes (chunk_idx, bytes, md5) rows; dedup and
    * retrieval key on the digest). Pure expression work: substring on
    * binary + per-chunk md5, exploded map-side — no UDF, no shuffle
    * before the final order. The 256-byte chunk size is test-scaled;
    * production uses MBs with the identical plan. */
  def mmChunkManifest(s: SparkSession, d: String): DataFrame = {
    // chunk boundaries are CHARACTER offsets (DuckDB cannot slice
    // BLOBs) — lengths and digests are still byte-level via the binary
    // cast of each chunk, identical in both engines
    t(s, d, "documents")
      .filter(col("doc_id") < 50) // bounded output; plumbing is the point
      // empty docs emit zero chunks: without this guard the sequence stop
      // would be -1 and Spark's sequence defaults to step -1, yielding
      // two phantom chunks where DuckDB's generate_series(0,-1) is empty
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("total_bytes"),
        posexplode(expr(
          s"""transform(sequence(0, int(ceil(length(text) / ${ChunkBytes}D)) - 1),
             |  c -> substring(text, c * $ChunkBytes + 1, $ChunkBytes))"""
            .stripMargin)).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("total_bytes"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        length(col("chunk").cast("binary")).cast("long").as("n_bytes"),
        md5(col("chunk").cast("binary")).as("digest"))
      .orderBy("doc_id", "chunk_idx")
  }
  val mmChunkManifestSql: String =
    s"""WITH p AS (SELECT doc_id, text FROM documents WHERE doc_id < 50)
       |SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT)
       |    AS total_bytes,
       |  CAST(c AS BIGINT) AS chunk_idx,
       |  CAST(octet_length(encode(substring(text, c * $ChunkBytes + 1,
       |    $ChunkBytes))) AS BIGINT) AS n_bytes,
       |  md5(substring(text, c * $ChunkBytes + 1, $ChunkBytes)) AS digest
       |FROM p, unnest(generate_series(0,
       |  CAST(ceil(length(text) / ${ChunkBytes}.0) AS INT) - 1)) AS t(c)
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------- neighbor-overlap link prediction ----------

  /** Neighbor-set Jaccard between word pairs of the co-occurrence graph
    * — the classic link-prediction / synonym-candidate baseline: two
    * words whose neighborhoods overlap heavily are substitutable even
    * if they never co-occur. Adjacency reduces to vocabulary-bounded
    * distinct edges; candidate pairs only ever meet through the shared-
    * neighbor wedge join (never all-pairs); top-20 by Jaccard with a
    * lexicographic tie-break. */
  def graphJaccardNeighbors(s: SparkSession, d: String): DataFrame = {
    val pairs = Q.bigramEdges(t(s, d, "documents")
        .select(expr("split(trim(text), '\\\\s+')").as("ws"))
        // same single-word guard as graphLabelProp: no words, no edges
        .filter(size(col("ws")) >= 2))
      .select(col("src"), col("dst"))
    val adj = pairs.union(pairs.select(col("dst"), col("src")))
      .toDF("w", "nbr").filter(col("w") =!= col("nbr")).distinct()
      .localCheckpoint() // vocabulary²-bounded
    val deg = adj.groupBy("w").agg(count(lit(1)).as("deg"))
    val shared = adj.select(col("w").as("wa"), col("nbr"))
      .join(adj.select(col("w").as("wb"), col("nbr")), "nbr")
      .filter(col("wa") < col("wb"))
      .groupBy("wa", "wb").agg(count(lit(1)).as("shared"))
    shared
      .join(deg.select(col("w").as("wa"), col("deg").as("da")), "wa")
      .join(deg.select(col("w").as("wb"), col("deg").as("db")), "wb")
      .select(col("wa"), col("wb"), col("shared"),
        round(col("shared").cast("double") /
          (col("da") + col("db") - col("shared")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("wa"), col("wb")).limit(20)
  }
  val graphJaccardNeighborsSql: String =
    raw"""WITH ws AS (SELECT string_split_regex(trim(text), '\s+') AS ws
         |  FROM documents),
         |pairs AS (SELECT ws[i] AS src, ws[i + 1] AS dst
         |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
         |        FROM ws)),
         |adj AS (SELECT DISTINCT w, nbr FROM (
         |    SELECT src AS w, dst AS nbr FROM pairs
         |    UNION ALL SELECT dst, src FROM pairs)
         |  WHERE w <> nbr),
         |deg AS (SELECT w, CAST(count(*) AS BIGINT) AS deg
         |  FROM adj GROUP BY w),
         |shared AS (SELECT a.w AS wa, b.w AS wb, CAST(count(*) AS BIGINT)
         |    AS shared
         |  FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.w < b.w
         |  GROUP BY a.w, b.w)
         |SELECT wa, wb, shared,
         |  round(CAST(shared AS DOUBLE) / (da.deg + db.deg - shared), 6)
         |    AS jaccard
         |FROM shared
         |JOIN deg da ON da.w = wa JOIN deg db ON db.w = wb
         |ORDER BY jaccard DESC, wa, wb LIMIT 20""".stripMargin

  // ---------- generalized-ESD (Rosner) anomalous days ----------

  /** Three rounds of Rosner's generalized ESD over the daily event-count
    * series: each round removes the most extreme remaining day (max
    * |y−mean|/sd, ties to the earliest day) and re-estimates the
    * moments WITHOUT it — the re-estimation is what lets ESD catch
    * multiple outliers that mask each other under a single z-pass
    * (`event_outliers`' shape). The corpus reduces to the |days|-bounded
    * daily table in one keyed pass; the three rounds are bounded-table
    * math (flagging uses a fixed 2.8 threshold rather than the
    * t-quantile λᵣ ladder — the distributed shape is identical). */
  def eventAnomalyEsd(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .localCheckpoint() // |days|-bounded
    def rnd(tbl: DataFrame, r: Int): (DataFrame, DataFrame) = {
      val st = tbl.agg(count(lit(1)).as("n"), sum("y").as("s1"),
        sum((col("y") * col("y")).cast(DecimalType(38, 12)))
          .cast("double").as("s2"))
      val mean = col("s1").cast("double") / col("n")
      val sd = sqrt((col("s2") - col("s1").cast("double") * col("s1") /
        col("n")) / (col("n") - 1))
      val cand = tbl.crossJoin(broadcast(st))
        .withColumn("r_stat", abs(col("y") - mean) / sd)
        .orderBy(col("r_stat").desc, col("day")).limit(1)
        .select(lit(r).as("round"), col("day"), col("y").as("value"),
          col("r_stat"))
        .localCheckpoint() // 1 row; read for output + removal
      val rest = tbl.join(cand.select(col("day")), Seq("day"), "left_anti")
      (cand, rest)
    }
    val (c1, t1) = rnd(daily, 1)
    val (c2, t2) = rnd(t1, 2)
    val (c3, _) = rnd(t2, 3)
    c1.unionByName(c2).unionByName(c3)
      .select(col("round"), col("day"), col("value"),
        round(col("r_stat"), 6).as("r_stat"),
        (col("r_stat") > 2.8).cast("boolean").as("flagged"))
      .orderBy("round")
  }
  val eventAnomalyEsdSql: String = {
    def rnd(n: Int, prev: String): String =
      s"""st$n AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS s1,
         |    CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS s2
         |  FROM $prev),
         |c$n AS MATERIALIZED (SELECT $n AS round, day, y AS value,
         |    abs(y - CAST(s1 AS DOUBLE) / n)
         |      / sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)) AS r_stat
         |  FROM $prev, st$n
         |  ORDER BY r_stat DESC, day LIMIT 1),
         |t$n AS MATERIALIZED (SELECT p.day, p.y FROM $prev p
         |  WHERE p.day NOT IN (SELECT day FROM c$n))""".stripMargin
    s"""WITH daily AS (SELECT date_trunc('day', ts) AS day,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY date_trunc('day', ts)),
       |${rnd(1, "daily")},
       |${rnd(2, "t1")},
       |${rnd(3, "t2")}
       |SELECT round, day, value, round(r_stat, 6) AS r_stat,
       |  r_stat > 2.8 AS flagged
       |FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2
       |      UNION ALL SELECT * FROM c3)
       |ORDER BY round""".stripMargin
  }

  // ---------- value-concentration curve ----------

  /** Share of total event value carried by the top 1 / 5 / 10 / 20% of
    * users — the concentration read (a tabular Lorenz curve) that
    * decides whether per-user sharding needs salting and whether a
    * "remove the whales" ablation is worth running. Per-user totals are
    * one keyed reduce to exact BIGINT cents; ranking rides
    * [[Q.distPos]] (range shuffle → parallel per-partition rank →
    * broadcast offsets — no single-partition sort); the four shares are
    * bounded-table math. */
  def eventConcentration(s: SparkSession, d: String): DataFrame = {
    val users = t(s, d, "events").groupBy("user_id")
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
    val ranked = distPos(users, "pos",
      col("cents").desc, col("user_id"))
      .localCheckpoint() // read once per percentile tier
    val tot = ranked.agg(count(lit(1)).as("n"), sum("cents").as("tc"))
    val tiers = Seq(1, 5, 10, 20)
    tiers.map { p =>
      ranked.crossJoin(broadcast(tot))
        .filter(col("pos") < ceil(col("n") * p / 100.0))
        .groupBy()
        .agg(count(lit(1)).as("n_users"), sum("cents").as("top_cents"),
          max(col("tc")).as("tc"))
        .select(lit(p).cast("long").as("top_pct"), col("n_users"),
          round(col("top_cents").cast("double") / col("tc"), 6).as("share"))
    }.reduce(_ unionByName _).orderBy("top_pct")
  }
  val eventConcentrationSql: String =
    """WITH users AS (SELECT user_id,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY user_id),
      |ranked AS (SELECT cents,
      |    CAST(row_number() OVER (ORDER BY cents DESC, user_id) AS BIGINT)
      |      - 1 AS pos
      |  FROM users),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(cents) AS BIGINT) AS tc FROM ranked),
      |tiers AS (SELECT unnest([1, 5, 10, 20]) AS p)
      |SELECT CAST(t.p AS BIGINT) AS top_pct,
      |  CAST(count(*) AS BIGINT) AS n_users,
      |  round(CAST(sum(r.cents) AS DOUBLE) / max(tot.tc), 6) AS share
      |FROM tiers t JOIN ranked r ON TRUE CROSS JOIN tot
      |WHERE r.pos < ceil(tot.n * t.p / 100.0)
      |GROUP BY t.p ORDER BY top_pct""".stripMargin

  // ---------- intrinsic dimensionality (TwoNN) ----------

  /** TwoNN intrinsic-dimension estimate (Facco et al. 2017, public
    * paper): for each of 100 anchor vectors, the ratio of its 2nd- to
    * 1st-nearest-neighbor distance; ID ≈ 1 / mean(ln d₂/d₁). The
    * diagnostic that says how much of the embedding's nominal d is
    * real — the go/no-go input for Matryoshka truncation and PCA depth.
    * One broadcast-anchors × corpus pass (the brute-force top-k shape).
    * The estimator assumes distinct points, so ranks run over DISTINCT
    * positive distances: zero distances (exact duplicate vectors) are
    * excluded, and d₂ is the smallest distance strictly greater than d₁
    * — otherwise a corpus with duplicated content puts two copies of
    * the same neighbor at ranks 1 and 2, every ratio collapses to 1,
    * and Σln = 0 divides by zero. The ln terms accumulate as exact
    * decimals. */
  def embIntrinsicDim(s: SparkSession, d: String): DataFrame = {
    val vecs = t(s, d, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .localCheckpoint()
    val anchors = vecs.filter(col("vec_id") < 100)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // Native codegen'd L2: the HOF formulation
    // sqrt(aggregate(zip_with((x-y)²), 0.0, acc+z)) interprets ~2·d lambda
    // closures per pair (zip_with/aggregate are never codegen'd); the
    // kernel runs the identical sequential fold (acc += diff², then sqrt)
    // in one generated loop, so distances are bit-identical and the
    // DuckDB oracle (sequential list_inner_product of the diff vector)
    // is untouched.
    def l2(a: Column, b: Column): Column =
      org.apache.spark.sql.graftcol.NativeColumn.column(
        graft.functions.L2Distance(
          org.apache.spark.sql.graftcol.NativeColumn.expression(a),
          org.apache.spark.sql.graftcol.NativeColumn.expression(b)))
    val w = Window.partitionBy("q_id").orderBy(col("dist"))
    val nn = vecs.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("dist", l2(col("v"), col("qv")))
      .filter(col("dist") > 0)
      .select("q_id", "dist").distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
    val ratios = nn.groupBy("q_id")
      .agg(min(when(col("rk") === 1, col("dist"))).as("d1"),
        min(when(col("rk") === 2, col("dist"))).as("d2"))
      .select(ddec(log(col("d2") / col("d1")),
        precision = 38, scale = 12).as("lr"))
    ratios.agg(count(lit(1)).as("n_anchors"),
        sum("lr").cast("double").as("slr"))
      .select(col("n_anchors"),
        round(col("slr") / col("n_anchors"), 6).as("mean_log_ratio"),
        round(col("n_anchors") / col("slr"), 6).as("intrinsic_dim"))
  }
  val embIntrinsicDimSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |q AS (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 100),
      |nn AS (SELECT q_id, dist,
      |    row_number() OVER (PARTITION BY q_id ORDER BY dist) AS rk
      |  FROM (SELECT DISTINCT q_id, dist
      |    FROM (SELECT q.q_id,
      |        sqrt(list_inner_product(
      |          list_transform(generate_series(1, len(v.e)),
      |            i -> v.e[i] - q.qv[i]),
      |          list_transform(generate_series(1, len(v.e)),
      |            i -> v.e[i] - q.qv[i]))) AS dist
      |      FROM v CROSS JOIN q WHERE v.vec_id <> q.q_id)
      |    WHERE dist > 0)),
      |ratios AS (SELECT
      |    CAST(ln(min(CASE WHEN rk = 2 THEN dist END)
      |      / min(CASE WHEN rk = 1 THEN dist END)) AS DECIMAL(38,12)) AS lr
      |  FROM nn WHERE rk <= 2 GROUP BY q_id)
      |SELECT CAST(count(*) AS BIGINT) AS n_anchors,
      |  round(CAST(sum(lr) AS DOUBLE) / count(*), 6) AS mean_log_ratio,
      |  round(count(*) / CAST(sum(lr) AS DOUBLE), 6) AS intrinsic_dim
      |FROM ratios""".stripMargin

  // ---------- Wald–Wolfowitz runs test ----------

  /** Runs test for randomness of the daily event-count series: the
    * day-ordered sequence of above/below-median signs is counted into
    * runs; too few runs means trending, too many means oscillation.
    * R is compared to its null mean 2n₁n₂/(n₁+n₂)+1 with the closed-form
    * variance; |z| > 1.96 rejects randomness. One corpus reduce to the
    * |days|-bounded daily table; the ordered lag runs there (a bounded
    * window, like the rest of the daily-series family). Days equal to
    * the median are excluded, per the standard test. */
  def statRunsTest(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .localCheckpoint() // |days|-bounded; read for median + signs
    val med = daily.agg(expr("percentile(y, 0.5)").as("m"))
    val signs = daily.crossJoin(broadcast(med))
      .filter(col("y") =!= col("m"))
      .select(col("day"), (col("y") > col("m")).cast("int").as("s"))
    val w = Window.orderBy("day")
    val runs = signs
      .withColumn("chg",
        when(lag("s", 1).over(w).isNull ||
          col("s") =!= lag("s", 1).over(w), 1L).otherwise(0L))
      .agg(sum("chg").as("r"), sum("s").as("n1"),
        sum(lit(1) - col("s")).as("n2"))
    val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
    val er = lit(2.0) * n1 * n2 / (n1 + n2) + 1.0
    val vr = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n1 - n2) /
      ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
    runs.select(col("n1"), col("n2"), col("r").as("runs"),
        round((col("r") - er) / sqrt(vr), 6).as("z"),
        (abs((col("r") - er) / sqrt(vr)) <= 1.96).cast("boolean")
          .as("looks_random"))
  }
  val statRunsTestSql: String =
    """WITH daily AS (SELECT date_trunc('day', ts) AS day,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY date_trunc('day', ts)),
      |med AS (SELECT quantile_cont(y, 0.5) AS m FROM daily),
      |signs AS (SELECT day, CAST(y > m AS INT) AS s
      |  FROM daily, med WHERE y <> m),
      |runs AS (SELECT
      |    CAST(sum(CASE WHEN prev IS NULL OR s <> prev THEN 1 ELSE 0 END)
      |      AS BIGINT) AS r,
      |    CAST(sum(s) AS BIGINT) AS n1,
      |    CAST(sum(1 - s) AS BIGINT) AS n2
      |  FROM (SELECT s, lag(s) OVER (ORDER BY day) AS prev FROM signs))
      |SELECT n1, n2, r AS runs,
      |  round((r - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
      |    / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
      |      / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))), 6) AS z,
      |  abs((r - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
      |    / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
      |      / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)))) <= 1.96
      |    AS looks_random
      |FROM runs""".stripMargin

  // ---------- registry ----------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_semantic" -> (dedupSemantic _),
    "text_classifier_score" -> (textClassifierScore _),
    "corpus_source_overlap" -> (corpusSourceOverlap _),
    "stat_proportion_ci" -> (statProportionCi _),
    "emb_pca_top2" -> (embPcaTop2 _),
    "emb_matryoshka_recall" -> (embMatryoshkaRecall _),
    "text_distinctive_terms" -> (textDistinctiveTerms _),
    "graph_label_prop" -> (graphLabelProp _),
    "graph_modularity" -> (graphModularity _),
    "emb_ood_mahalanobis" -> (embOodMahalanobis _),
    "privacy_k_anonymity" -> (privacyKAnonymity _),
    "event_forecast_ses" -> (eventForecastSes _),
    "privacy_dp_counts" -> (privacyDpCounts _),
    "event_dau_mau" -> (eventDauMau _),
    "text_burstiness" -> (textBurstiness _),
    "stat_tukey_hsd" -> (statTukeyHsd _),
    "event_funnel_time" -> (eventFunnelTime _),
    "stat_ljung_box" -> (statLjungBox _),
    "join_salted_skew" -> (joinSaltedSkew _),
    "event_bots_detect" -> (eventBotsDetect _),
    "mm_chunk_manifest" -> (mmChunkManifest _),
    "graph_jaccard_neighbors" -> (graphJaccardNeighbors _),
    "event_anomaly_esd" -> (eventAnomalyEsd _),
    "event_concentration" -> (eventConcentration _),
    "emb_intrinsic_dim" -> (embIntrinsicDim _),
    "stat_runs_test" -> (statRunsTest _))

  val oracle: Map[String, String] = Map(
    "dedup_semantic" -> dedupSemanticSql,
    "text_classifier_score" -> textClassifierScoreSql,
    "corpus_source_overlap" -> corpusSourceOverlapSql,
    "stat_proportion_ci" -> statProportionCiSql,
    "emb_pca_top2" -> embPcaTop2Sql,
    "emb_matryoshka_recall" -> embMatryoshkaRecallSql,
    "text_distinctive_terms" -> textDistinctiveTermsSql,
    "graph_label_prop" -> graphLabelPropSql,
    "graph_modularity" -> graphModularitySql,
    "emb_ood_mahalanobis" -> embOodMahalanobisSql,
    "privacy_k_anonymity" -> privacyKAnonymitySql,
    "event_forecast_ses" -> eventForecastSesSql,
    "privacy_dp_counts" -> privacyDpCountsSql,
    "event_dau_mau" -> eventDauMauSql,
    "text_burstiness" -> textBurstinessSql,
    "stat_tukey_hsd" -> statTukeyHsdSql,
    "event_funnel_time" -> eventFunnelTimeSql,
    "stat_ljung_box" -> statLjungBoxSql,
    "join_salted_skew" -> joinSaltedSkewSql,
    "event_bots_detect" -> eventBotsDetectSql,
    "mm_chunk_manifest" -> mmChunkManifestSql,
    "graph_jaccard_neighbors" -> graphJaccardNeighborsSql,
    "event_anomaly_esd" -> eventAnomalyEsdSql,
    "event_concentration" -> eventConcentrationSql,
    "emb_intrinsic_dim" -> embIntrinsicDimSql,
    "stat_runs_test" -> statRunsTestSql)
}
