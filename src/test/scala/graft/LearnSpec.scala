package graft

import org.scalatest.funsuite.AnyFunSuite

/** Brute-force cross-checks for the round-9 learning/curation operators,
  * on the collected sf0.001 corpus. */
class LearnSpec extends AnyFunSuite {
  import SparkSpec._

  private lazy val docs = Q.t(spark, sf, "documents")
    .select("doc_id", "source", "n_chars", "text").collect()
  private lazy val embs = Q.t(spark, sf, "embeddings")
    .select("vec_id", "embedding").collect()
    .map(r => (r.getAs[Long]("vec_id"),
      r.getSeq[Float](1).map(_.toDouble).toArray))

  test("graph_components matches a driver-side union-find over the same buckets") {
    // same two fingerprint families, brute-force union-find
    val norm = docs.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[String]("text").trim.toLowerCase.replaceAll("\\s+", " ")))
    val buckets = norm.flatMap { case (id, t) =>
      Seq(("f#" + t, id), ("p#" + t.take(60), id))
    }.groupBy(_._1).values.map(_.map(_._2).sorted)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    buckets.foreach(ids => ids.tail.foreach(union(ids.head, _)))
    val expected = norm.map(_._1).groupBy(find).filter(_._2.length >= 2)
      .map { case (_, m) => (m.min, m.length.toLong, m.min, m.max) }.toSet
    val got = graph.collect {
      case r => (r.getAs[Long]("comp_id"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("min_doc"), r.getAs[Long]("max_doc"))
    }.toSet
    assert(got == expected)
    // components are real (the corpus ships duplicate docs)
    assert(got.nonEmpty)
  }
  private lazy val graph = Learn.graphComponents(spark, sf).collect()

  test("emb_kmeans: clusters cover every vector; inertia never negative") {
    val out = Learn.embKmeans(spark, sf).collect()
    assert(out.map(_.getAs[Long]("n")).sum == embs.length)
    assert(out.forall(_.getAs[Double]("inertia") >= 0))
    // cluster ids are centroid POSITIONS 1..k (ordered by seed vec_id)
    assert(out.map(_.getAs[Long]("cid")).toSet.subsetOf((1L to 8L).toSet))
    assert(out.nonEmpty && out.forall(_.getAs[Long]("n") >= 1))
  }

  test("mix_importance_resample: one doc per crossed threshold, cumsum exact") {
    val out = Learn.mixImportanceResample(spark, sf).collect()
    val byId = docs.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("n_chars"))).sortBy(_._1)
    val total = byId.map(_._2).sum
    var cw = 0L
    val expected = byId.flatMap { case (id, w) =>
      val before = cw * 97L / total; cw += w
      val after = cw * 97L / total
      if (after > before) Some((id, w, cw, after)) else None
    }
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("w"),
      r.getAs[Long]("cw"), r.getAs[Long]("sample_idx"))).toSeq ==
      expected.toSeq)
    // systematic sampling yields ~97 samples (exactly 97 crossed
    // thresholds when no weight spans two)
    assert(out.length >= 60 && out.length <= 97)
  }

  test("stat_calibration bins partition events; rates in [0,1]") {
    val out = Learn.statCalibration(spark, sf).collect()
    val evN = Q.t(spark, sf, "events").count()
    assert(out.map(_.getAs[Long]("n")).sum == evN)
    out.foreach { r =>
      val rate = r.getAs[Double]("pos_rate")
      assert(rate >= 0 && rate <= 1)
      val b = r.getAs[Long]("bin")
      assert(b >= 0 && b <= 9)
      val ms = r.getAs[Double]("mean_score")
      // mean score must sit inside its own bin's width (bin 9 absorbs 1.0)
      assert(ms >= b / 10.0 - 1e-6 && ms <= (b + 1) / 10.0 + (if (b == 9) 1 else 0) * 1e-3 + 1e-6)
    }
  }

  test("stat_partial_corr matches brute-force partial correlation") {
    val row = Learn.statPartialCorr(spark, sf).collect().head
    val ev = Q.t(spark, sf, "events").select("ts", "value").collect().map { r =>
      val ldt = r.getAs[java.sql.Timestamp]("ts").toLocalDateTime
      (math.round(r.getAs[Double]("value") * 100).toDouble,
        ldt.getHour.toDouble, (ldt.getDayOfWeek.getValue % 7).toDouble)
    }
    def corr(a: Array[Double], b: Array[Double]): Double = {
      val n = a.length
      val (ma, mb) = (a.sum / n, b.sum / n)
      val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      cov / math.sqrt(a.map(x => (x - ma) * (x - ma)).sum *
        b.map(y => (y - mb) * (y - mb)).sum)
    }
    val (xs, ys, zs) = (ev.map(_._1), ev.map(_._2), ev.map(_._3))
    val (rxy, rxz, ryz) = (corr(xs, ys), corr(xs, zs), corr(ys, zs))
    val partial = (rxy - rxz * ryz) /
      math.sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
    assert(math.abs(row.getAs[Double]("r_xy") - rxy) < 1e-5)
    assert(math.abs(row.getAs[Double]("partial_r_xy_z") - partial) < 1e-5)
  }

  test("stat_qq deciles are monotone and cover both sides") {
    val out = Learn.statQq(spark, sf).collect()
    assert(out.map(_.getAs[Long]("decile")).toSeq == (1L to 10L))
    val pq = out.map(_.getAs[Double]("purchase_q"))
    val eq = out.map(_.getAs[Double]("error_q"))
    assert(pq.sliding(2).forall(p => p(0) <= p(1)))
    assert(eq.sliding(2).forall(p => p(0) <= p(1)))
    out.foreach(r => assert(math.abs(r.getAs[Double]("gap") -
      (r.getAs[Double]("purchase_q") - r.getAs[Double]("error_q"))) < 1e-5))
  }

  test("event_user_entropy matches a hand entropy for one user") {
    val out = Learn.eventUserEntropy(spark, sf).collect()
    val ev = Q.t(spark, sf, "events").select("user_id", "event_type")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
    val u = ev.head._1
    val counts = ev.filter(_._1 == u).groupBy(_._2).view.mapValues(_.length).toMap
    val n = counts.values.sum.toDouble
    val h = -counts.values.map(c => c / n * math.log(c / n)).sum
    val row = out.find(_.getAs[Long]("user_id") == u).get
    assert(math.abs(row.getAs[Double]("entropy") - h) < 1e-5)
    assert(row.getAs[Long]("n_events") == n.toLong)
    // normalized entropy bounded by 1
    out.foreach { r =>
      Option(r.getAs[java.lang.Double]("norm_entropy")).foreach(ne =>
        assert(ne >= -1e-9 && ne <= 1 + 1e-9))
    }
  }

  test("emb_covariance agrees with a brute-force covariance for the top pair") {
    val out = Learn.embCovariance(spark, sf).collect()
    assert(out.length == 20)
    val top = out.head
    val (i, j) = (top.getAs[Long]("i").toInt - 1, top.getAs[Long]("j").toInt - 1)
    val xs = embs.map(_._2(i))
    val ys = embs.map(_._2(j))
    val n = xs.length
    val cov = (xs.zip(ys).map { case (a, b) => a * b }.sum -
      xs.sum * ys.sum / n) / (n - 1)
    assert(math.abs(top.getAs[Double]("cov") - cov) < 1e-5)
    // ranked by |cov| descending
    val avs = out.map(r => math.abs(r.getAs[Double]("cov")))
    assert(avs.sliding(2).forall(p => p(0) >= p(1) - 1e-9))
  }

  test("emb_covariance is exact at d > 64 (kernel loops over actual size)") {
    import org.apache.spark.sql.functions._
    // synthetic d=70 corpus: larger than the corpus's d=64, odd size
    val dDim = 70; val nRows = 40
    val rng = new scala.util.Random(7)
    val data = (0 until nRows).map { id =>
      (id.toLong, Array.fill(dDim)((rng.nextInt(2000) - 1000) / 100.0f))
    }
    val dir = java.nio.file.Files.createTempDirectory("covtile").toString
    import spark.implicits._
    data.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Learn.embCovariance(spark, dir).collect()
    assert(out.length == 20)
    // brute-force every pair, mirroring the exact decimal-sum pipeline
    def d12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val cols = (0 until dDim).map(i => data.map(_._2(i).toDouble))
    val sx = cols.map(c => c.map(d12).sum.toDouble)
    val expected = (for {
      i <- 0 until dDim; j <- i + 1 until dDim
      sxy = data.map(r => d12(r._2(i).toDouble * r._2(j).toDouble))
        .sum.toDouble
      cov = BigDecimal((sxy - sx(i) * sx(j) / nRows) / (nRows - 1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    } yield ((i + 1).toLong, (j + 1).toLong) -> cov).toMap
    out.foreach { r =>
      val key = (r.getAs[Long]("i"), r.getAs[Long]("j"))
      assert(expected(key) == r.getAs[Double]("cov"), s"pair $key")
    }
    // the top-20 really are the 20 largest |cov| over ALL d(d-1)/2 pairs
    val floor = out.map(r => math.abs(r.getAs[Double]("cov"))).min
    assert(expected.values.count(v => math.abs(v) > floor) < 20)
  }

  test("covariance is invariant to empty-embedding rows") {
    // Historical regression: the HOF tile expansion's ceil(0/B) = 0 block
    // count made sequence(1, 0) DESCEND into a phantom tile that indexed
    // embedding[-32..] — an ANSI INVALID_ARRAY_INDEX error. The PairProducts
    // kernel loops i < j over the actual size, so empty and singleton
    // vectors emit no pairs and must be invisible (posexplode already skips
    // them in the per-dim sums).
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val data = (0 until 12).map { id =>
      (id.toLong, Array.fill(6)((rng.nextInt(200) - 100) / 10.0f))
    }
    val dirA = java.nio.file.Files.createTempDirectory("cov_plain").toString
    val dirB = java.nio.file.Files.createTempDirectory("cov_empty").toString
    data.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dirA/embeddings.parquet")
    (data :+ (99L, Array.empty[Float])).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dirB/embeddings.parquet")
    val a = Learn.embCovariance(spark, dirA).collect().map(_.toString).toSeq
    val b = Learn.embCovariance(spark, dirB).collect().map(_.toString).toSeq
    assert(a == b, "an empty embedding row must be invisible to covariance")
    val dirC = java.nio.file.Files.createTempDirectory("cov_single").toString
    (data :+ (98L, Array(1.0f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dirC/embeddings.parquet")
    // d=6 has 15 pairs total; the singleton adds none and must not throw
    assert(Learn.embCovariance(spark, dirC).collect().length == a.length)
  }

  test("pair-product kernel matches the HOF formulation, any codegen mode") {
    import org.apache.spark.sql.functions.{col, explode, expr}
    val emb = Q.t(spark, sf, "embeddings").select("vec_id", "embedding")
    def collectPairs(pairsOf: org.apache.spark.sql.Column): Seq[(Long, Int, Int, Double)] =
      emb.select(col("vec_id"), explode(pairsOf).as("p"))
        .select(col("vec_id"), col("p.i"), col("p.j"), col("p.xy"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2, t._3))
    def kernel(): Seq[(Long, Int, Int, Double)] = collectPairs(
      org.apache.spark.sql.graftcol.NativeColumn.column(
        graft.functions.PairProducts(
          org.apache.spark.sql.graftcol.NativeColumn.expression(col("embedding")))))
    // the pre-round-14 HOF formulation, untiled (order-free: sorted compare)
    val hof = collectPairs(expr(
      """flatten(transform(sequence(1, size(embedding) - 1),
        |  i -> transform(sequence(i + 1, size(embedding)),
        |    j -> struct(i AS i, j AS j,
        |      cast(embedding[i - 1] as double)
        |        * cast(embedding[j - 1] as double) AS xy))))""".stripMargin))
    val n0 = kernel()
    assert(n0.nonEmpty && n0 == hof) // bit-identical doubles, not approx
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try kernel() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(n0 == interpreted)
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val forced = try kernel() finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
    assert(n0 == forced)
    // the tiled plan path (bi<=bj tile-unit explode + PairProductsTile)
    // must reproduce the flat kernel's pair set bit-exactly; b=4 forces
    // multiple blocks on this corpus, b=32 is the shipped plan constant
    for (b <- Seq(4, 32)) {
      def ncol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
        org.apache.spark.sql.graftcol.NativeColumn.column(e)
      def nexp(c: org.apache.spark.sql.Column) =
        org.apache.spark.sql.graftcol.NativeColumn.expression(c)
      val nb = s"int(ceil(size(embedding) / $b.0))"
      val tiled = emb.filter(expr("size(embedding) >= 2"))
        .select(col("vec_id"), col("embedding"), explode(expr(
          s"""flatten(transform(sequence(0, $nb - 1),
             |  bi -> transform(sequence(bi, $nb - 1),
             |    bj -> struct(bi, bj))))""".stripMargin)).as("tl"))
        .select(col("vec_id"), explode(ncol(graft.functions.PairProductsTile(
          nexp(col("embedding")), nexp(col("tl.bi")), nexp(col("tl.bj")), b)))
          .as("p"))
        .select(col("vec_id"), col("p.i"), col("p.j"), col("p.xy"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
      assert(tiled == n0, s"tiled b=$b diverges from the flat kernel")
    }
  }

  test("GramDecimalSum == the tiled explode + keyed decimal reduce, cell-exact") {
    import org.apache.spark.sql.functions.{col, explode}
    def cells(df: org.apache.spark.sql.DataFrame, sxyCol: String)
        : Map[(Int, Int), java.math.BigDecimal] =
      df.collect().map(r => (r.getInt(0), r.getInt(1)) ->
        r.getAs[java.math.BigDecimal](sxyCol)).toMap
    def viaAgg(dir: String) = cells(
      Q.t(spark, dir, "embeddings")
        .agg(graft.functions.GramDecimalSum.gram_decimal_sum(
          col("embedding"), 12).as("gram"))
        .select(explode(col("gram")).as("p"))
        .select(col("p.i"), col("p.j"), col("p.sxy")), "sxy")
    def viaTiles(dir: String) =
      cells(Learn.embCovariancePairsTiled(spark, dir), "sxy")
    // the real corpus: every (i, j) cell, exact decimal equality
    val corpus = viaAgg(sf)
    assert(corpus.nonEmpty && corpus == viaTiles(sf))
    // synthetic edge corpus: null elements (pair omitted), a NaN element
    // (group present, possibly-null sum), ragged/short/empty vectors,
    // and a dimension pair that is null across EVERY row (missing cell
    // in both formulations)
    import spark.implicits._
    val rows: Seq[(Long, Seq[java.lang.Float])] = Seq(
      (1L, Seq[java.lang.Float](1.0f, null, 2.5f, -0.5f)),
      (2L, Seq[java.lang.Float](0.25f, null, Float.NaN, 1.0f)),
      (3L, Seq[java.lang.Float](-1.5f, null, 0.0f)),
      (4L, Seq[java.lang.Float](7.0f)),
      (5L, Seq[java.lang.Float]()),
      (6L, Seq[java.lang.Float](0.1f, null, -0.2f, 0.3f, 0.4f)))
    val dir = java.nio.file.Files.createTempDirectory("gramsum").toString
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val agg = viaAgg(dir)
    assert(agg == viaTiles(dir))
    // dimension 2 is null in every row: no (2, j) or (i, 2) cell at all
    assert(!agg.keys.exists { case (i, j) => i == 2 || j == 2 })
    // (1, 3): row 2's product is NaN (null term) but rows 1/3/6 contribute
    assert(agg.contains((1, 3)) && agg((1, 3)) != null)
  }

  test("VectorSum keyed update == the posexplode/avg formulation, bit-exact") {
    import org.apache.spark.sql.functions.{avg, col, count, lit, pmod,
      posexplode, transform => tfm}
    val vecs = Q.t(spark, sf, "embeddings")
      .select(col("vec_id"), tfm(col("embedding"), _.cast("double")).as("v"))
      .withColumn("cid", pmod(col("vec_id"), lit(5L)))
    val viaVectorSum = vecs.groupBy("cid")
      .agg(graft.functions.VectorSum.vector_sum(col("v")).as("sv"),
        count(lit(1)).as("n"))
      .collect()
      .map { r =>
        val n = r.getAs[Long]("n")
        r.getAs[Long]("cid") -> r.getSeq[Double](1).map(_ / n).toList
      }.toMap
    val viaAvg = vecs
      .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cid", "pos").agg(avg("x").as("m"))
      .collect()
      .groupBy(_.getAs[Long]("cid"))
      .map { case (cid, rows) =>
        cid -> rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("m")).toList
      }
    // == on doubles: the sums accumulate in the same scan order and the
    // divide is the same single IEEE op, so equality is exact, not approx
    assert(viaVectorSum == viaAvg)
    assert(viaVectorSum.nonEmpty)
  }

  test("VectorDecimalStats == the posexplode decimal sum/count twin, bit-exact") {
    import org.apache.spark.sql.functions.{col, count, expr, lit,
      posexplode, sum, transform => tfm}
    import org.apache.spark.sql.types.DecimalType
    // corpus vectors with a per-row weight, PLUS synthetic ragged / empty
    // vectors — the posexplode semantics the aggregate claims to replay
    import spark.implicits._
    val synth = Seq(
      (9001L, Array(1.5, -2.25, 0.125)), // shorter than the corpus dim
      (9002L, Array.empty[Double]),
      (9003L, Array(0.1))).toDF("vec_id", "v")
    val vecs = Q.t(spark, sf, "embeddings")
      .select(col("vec_id"), tfm(col("embedding"), _.cast("double")).as("v"))
      .union(synth)
      .withColumn("w", (col("vec_id") % 7).cast("double") - lit(3.0))
    val viaAgg = {
      val st = vecs.agg(graft.functions.VectorDecimalStats
        .vector_decimal_stats(col("v"), col("w"), 38, 12).as("st"))
        .head().getStruct(0)
      st.getSeq[java.math.BigDecimal](0).zip(st.getSeq[Long](1)).zipWithIndex
        .map { case ((s, n), i) =>
          i -> (Option(s).map(_.doubleValue), n)
        }.toMap
    }
    val viaExplode = vecs
      .select(col("w"), posexplode(col("v")).as(Seq("i0", "x")))
      .select(col("i0"), (col("x") * col("w"))
        .cast(DecimalType(38, 12)).as("t"))
      .groupBy("i0")
      .agg(sum("t").cast("double").as("s"), count(lit(1)).as("n"))
      .collect()
      .map { r =>
        r.getInt(0) -> (Option(r.get(1)).map(_.asInstanceOf[Double]),
          r.getLong(2))
      }.toMap
    assert(viaAgg == viaExplode) // exact doubles from exact decimal sums
    // the ragged rows force per-dim counts to differ across dims
    assert(viaAgg.nonEmpty && viaAgg(0)._2 > viaAgg(viaAgg.size - 1)._2)
  }

  test("text_hapax: vocab and hapax match a brute-force count per source") {
    val out = Learn.textHapax(spark, sf).collect()
    val bySrc = docs.groupBy(_.getAs[String]("source"))
    out.foreach { r =>
      val words = bySrc(r.getAs[String]("source"))
        .flatMap(_.getAs[String]("text").trim.split("\\s+"))
      val counts = words.groupBy(identity).view.mapValues(_.length)
      assert(r.getAs[Long]("n_tokens") == words.length)
      assert(r.getAs[Long]("vocab") == counts.size)
      assert(r.getAs[Long]("hapax") == counts.count(_._2 == 1))
    }
  }
}
