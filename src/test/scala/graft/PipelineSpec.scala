package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the engine-specific (non-SQL-oracle) pipeline operators:
  * MinHash-LSH and SimHash dedup against ground-truth near-dups, ANN
  * against the brute-force baseline. */
class PipelineSpec extends AnyFunSuite {
  import SparkSpec._

  test("minhash LSH recalls prefix-duplicate groups") {
    val prefixPairs = Pipeline.dedupPrefixGroups(spark, sf)
      .collect()
      .flatMap { r =>
        val ids = r.getAs[String]("members").split(",").map(_.toLong).sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
      }
      .toSet
    assume(prefixPairs.nonEmpty, "corpus has no prefix-duplicate groups")
    val minhashPairs = Pipeline.dedupMinhashLsh(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recalled = prefixPairs.count(minhashPairs.contains)
    assert(recalled.toDouble / prefixPairs.size >= 0.6,
      s"minhash recalled $recalled of ${prefixPairs.size} known near-dup pairs")
  }

  test("simhash emits verified low-hamming pairs only") {
    val rows = Pipeline.dedupSimhash(spark, sf).collect()
    assert(rows.forall(_.getAs[Long]("hamming") <= 3))
  }

  test("ANN-LSH cosine values agree with brute force for shared pairs") {
    val brute = Pipeline.simCosineTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ann = Pipeline.simAnnLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(ann.nonEmpty, "ANN returned no candidates")
    val shared = ann.keySet.intersect(brute.keySet)
    shared.foreach { k =>
      assert(math.abs(ann(k) - brute(k)) < 1e-9,
        s"cosine mismatch for $k: ${ann(k)} vs ${brute(k)}")
    }
    // ANN scores can never exceed the brute-force best per query
    val bestByQuery = brute.groupBy(_._1._1).map { case (q, m) => q -> m.values.max }
    ann.foreach { case ((q, _), c) =>
      assert(c <= bestByQuery(q) + 1e-9)
    }
  }

  test("IVF ANN candidates agree with brute force and stay within its bests") {
    val brute = Pipeline.simCosineTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ivf = Pipeline.simAnnIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(ivf.nonEmpty, "IVF returned no candidates")
    // exact re-rank: any pair IVF shares with brute must score identically
    ivf.keySet.intersect(brute.keySet).foreach { k =>
      assert(math.abs(ivf(k) - brute(k)) < 1e-9)
    }
    val bestByQuery = brute.groupBy(_._1._1).map { case (q, m) => q -> m.values.max }
    ivf.foreach { case ((q, _), c) => assert(c <= bestByQuery(q) + 1e-9) }
    // determinism: the k-means init and iterations are hash-seeded
    val again = Pipeline.simAnnIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(again == ivf)
  }

  test("ANN-LSH recalls the brute-force top-5 (floor 60%)") {
    val brute = Pipeline.simCosineTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = Pipeline.simAnnLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recalled = brute.count(ann.contains)
    info(s"ANN-LSH recall: $recalled/${brute.size}")
    assert(recalled.toDouble / brute.size >= 0.6,
      s"ANN-LSH recalled only $recalled of ${brute.size} brute-force top-5 pairs")
  }

  test("IVF ANN recalls the brute-force top-5 (floor 60%)") {
    val brute = Pipeline.simCosineTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Pipeline.simAnnIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recalled = brute.count(ivf.contains)
    info(s"IVF recall: $recalled/${brute.size}")
    assert(recalled.toDouble / brute.size >= 0.6,
      s"IVF recalled only $recalled of ${brute.size} brute-force top-5 pairs")
  }

  test("HyperplaneSigs kernel equals the nested-HOF banded signatures") {
    import org.apache.spark.sql.functions.{col, transform => tfm, expr}
    val nBands = 16; val bandBits = 4
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), tfm(col("embedding"), _.cast("double")).as("v"))
    val dim = vecs.head().getSeq[Double](1).length
    def run(df: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.Column): Map[Long, Seq[Long]] =
      df.select(col("vec_id"), c.as("sigs")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def kernel(d: Int) = org.apache.spark.sql.graftcol.NativeColumn.column(
      graft.functions.HyperplaneSigs(
        org.apache.spark.sql.graftcol.NativeColumn.expression(col("v")),
        Pipeline.planeValues(nBands * bandBits, d), bandBits))
    val native = run(vecs, kernel(dim))
    val hof = run(vecs, Pipeline.simAnnLshSigsHof(nBands, bandBits, dim))
    assert(native == hof, "kernel sigs diverged from the nested HOF")
    // degenerate rows: a null element and a ragged (short) vector both
    // null-propagate every projection sum in the HOF → all-zero bands
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true))))
    val dirty = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L,
        (0 until dim).map(i => if (i == 3) null else java.lang.Double.valueOf(0.5))),
      org.apache.spark.sql.Row(2L, Seq(java.lang.Double.valueOf(1.0))),
      // fully-NULL vector: HOF's zip_with(null,…) → null sums → bit 0
      // everywhere, NOT a null row — the kernel must keep it in band 0
      org.apache.spark.sql.Row(3L, null),
      // all-NaN vector: every projection sum is NaN, and Spark's `>` total
      // ordering makes NaN > 0 TRUE — every bit SET in both formulations
      org.apache.spark.sql.Row(4L,
        (0 until dim).map(_ => java.lang.Double.valueOf(Double.NaN)))
    ).asJava, schema)
    val nd = run(dirty, kernel(dim))
    val hd = run(dirty, Pipeline.simAnnLshSigsHof(nBands, bandBits, dim))
    assert(nd == hd, "dirty rows diverged between kernel and HOF")
    assert(nd.keySet == Set(1L, 2L, 3L, 4L),
      "no dirty row may drop out (null vector must still produce a row)")
    assert(Seq(1L, 2L, 3L).forall(id => nd(id).forall(_ == 0L)),
      "degenerate rows must produce all-zero bands in both formulations")
    assert(nd(4L).forall(_ == (1L << bandBits) - 1),
      "NaN sums must SET every bit (Spark total ordering: NaN > 0)")
    // forced-codegen invariance
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val forced = try run(vecs, kernel(dim)) finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
    assert(native == forced)
  }

  test("NearestCentroid kernel equals the HOF argmin, any codegen mode") {
    import org.apache.spark.sql.functions.{col, transform => tfm}
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), tfm(col("embedding"), _.cast("double")).as("v"))
    val dim = vecs.head().getSeq[Double](1).length
    // centroid set 1: real vectors (training-init shape); set 2 APPENDS a
    // DUPLICATE of centroid 1 — a guaranteed distance tie, pinning the
    // first-minimum (lowest cid) tie rule against array_position
    val base = vecs.orderBy("vec_id").limit(3).collect()
      .zipWithIndex.map { case (r, i) =>
        ((i + 1).toLong, r.getSeq[Double](1).toArray)
      }
    val withTie = base :+ ((base.length + 1).toLong, base(0)._2.clone())
    for (cents <- Seq(base, withTie)) {
      def run(c: org.apache.spark.sql.Column): Map[Long, Long] =
        vecs.select(col("vec_id"), c.as("cid")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val native = run(Pipeline.ivfCidExpr(cents))
      val hof = run(Pipeline.ivfCidExprHof(cents))
      assert(native == hof, s"k=${cents.length}")
      if (cents eq withTie) // the duplicate never wins a tie
        assert(!native.values.exists(_ == cents.length))
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = try run(Pipeline.ivfCidExpr(cents)) finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
      assert(native == interpreted)
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      val forced = try run(Pipeline.ivfCidExpr(cents)) finally {
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
        spark.conf.set("spark.sql.codegen.fallback", "true")
      }
      assert(native == forced)
    }
    // the dist lane: kernel struct == HOF named_struct, bit-exact doubles
    val centArr = base.map(_._2.map(x => s"${x}D")
      .mkString("array(", ",", ")")).mkString("array(", ",", ")")
    val hofStruct = org.apache.spark.sql.functions.expr(
      s"""transform(array(transform($centArr,
         |    c -> aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)),
         |           cast(0.0 as double), (acc, z) -> acc + z))),
         |  ds -> named_struct(
         |    'cid', cast(array_position(ds, array_min(ds)) as bigint),
         |    'dist', array_min(ds)))[0]""".stripMargin)
    val kernelStruct = org.apache.spark.sql.graftcol.NativeColumn.column(
      graft.functions.NearestCentroid(
        org.apache.spark.sql.graftcol.NativeColumn.expression(col("v")),
        base.map(_._2)))
    def dists(c: org.apache.spark.sql.Column): Map[Long, (Long, Double)] =
      vecs.select(col("vec_id"), c.getField("cid"), c.getField("dist"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
    assert(dists(kernelStruct) == dists(hofStruct))
    assert(dim > 0)
  }

  test("DecimalSqDevSum kernel equals the exploded decimal-sum twin") {
    import org.apache.spark.sql.functions.{col, posexplode, broadcast, sum, lit}
    import org.apache.spark.sql.types.DecimalType
    // synthetic frame: ordinary vectors, a null element, a NaN square,
    // an all-null vector, and one longer than the centroid (inner-join
    // semantics fold only the shared dims)
    val cx = Array(0.25, -1.5, 3.125)
    val rows = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0, -3.0)),
      (2L, Seq[java.lang.Double](null, 0.5, 0.0)),
      (3L, Seq[java.lang.Double](Double.NaN, 1.0, 1.0)),
      (4L, Seq[java.lang.Double](null, null, null)),
      (5L, Seq[java.lang.Double](0.1, 0.2, 0.3, 99.0)))
    import spark.implicits._
    val df = rows.toDF("vec_id", "v")
    val kernel = df.select(col("vec_id"),
      org.apache.spark.sql.graftcol.NativeColumn.column(
        graft.functions.DecimalSqDevSum(
          org.apache.spark.sql.graftcol.NativeColumn.expression(col("v")),
          cx, 12)).as("s"))
    val cdf = cx.zipWithIndex.map { case (c, i0) => (i0 + 1, c) }
      .toSeq.toDF("i", "cxv")
    val twin = df.select(col("vec_id"), posexplode(col("v")).as(Seq("i0", "x")))
      .select(col("vec_id"), (col("i0") + 1).as("i"), col("x"))
      .join(broadcast(cdf), "i")
      .groupBy("vec_id")
      .agg(sum(((col("x") - col("cxv")) * (col("x") - col("cxv")))
        .cast(DecimalType(38, 12))).as("s"))
    def m(d: org.apache.spark.sql.DataFrame): Map[Long, java.math.BigDecimal] =
      d.collect().map(r =>
        r.getLong(0) -> r.getAs[java.math.BigDecimal]("s")).toMap
    val k = m(kernel); val t = m(twin)
    for (id <- t.keys) assert(k(id) == t(id), s"vec $id: ${k(id)} vs ${t(id)}")
    assert(k(4L) == null)  // all-null vector: sum over all-null terms
    // interpreted == codegen'd
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = try m(kernel) finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(interp == k)
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val forced = try m(kernel) finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
    assert(forced == k)
    assert(lit(1) != null) // keep the import set uniform with siblings
  }

  test("brute-force top-k is correctly ranked") {
    val rows = Pipeline.simCosineTopk(spark, sf).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("banded ngram-jaccard equals the brute-force pair set") {
    val banded = Pipeline.dedupNgramJaccard(spark, sf).collect().map(_.toString).toSeq
    val brute = DedupBrute.dedupNgramJaccard(spark, sf).collect().map(_.toString).toSeq
    assert(banded == brute)
  }

  test("banded embedding dedup equals brute force on synthetic near-dups") {
    val dim = 16
    val rnd = new scala.util.Random(7)
    val base = Array.fill(dim)(rnd.nextGaussian())
    val rows = (0 until 40).map { id =>
      val v =
        if (id < 6) base.zipWithIndex.map { case (x, i) =>
          (x + 0.004 * id * ((i % 3) - 1)).toFloat } // tight near-dup cluster
        else Array.fill(dim)(rnd.nextGaussian().toFloat)
      (id.toLong, v)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_emb").toString
    spark.createDataFrame(rows).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val brute = DedupBrute.dedupEmbedding(spark, dir).collect().map(_.toString).toSeq
    val banded = Pipeline.dedupEmbedding(spark, dir).collect().map(_.toString).toSeq
    assert(brute.nonEmpty, "synthetic corpus produced no near-dup pairs")
    assert(banded == brute)
  }

  test("zero-vector duplicates are dropped by the NaN guard, not elected as keepers") {
    // identical all-zero vectors have self-cosine 0/0 = NaN, and NaN
    // compares GREATER than any number in Spark — without the explicit
    // isnan guard the >= 0.95 filter keeps the pair and the semantic
    // keeper election ranks it above every genuine match
    val dim = 16
    val rnd = new scala.util.Random(11)
    val base = Array.fill(dim)(rnd.nextGaussian())
    val rows = (0 until 12).map { id =>
      val v =
        if (id < 3) Array.fill(dim)(0.0f) // three identical zero vectors
        else if (id < 6) base.zipWithIndex.map { case (x, i) =>
          (x + 0.002 * id * ((i % 3) - 1)).toFloat } // genuine near-dups
        else Array.fill(dim)(rnd.nextGaussian().toFloat)
      (id.toLong, v)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_zerovec").toString
    spark.createDataFrame(rows).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val banded = Pipeline.dedupEmbedding(spark, dir).collect()
    val brute = DedupBrute.dedupEmbedding(spark, dir).collect()
    assert(banded.map(_.toString).toSeq == brute.map(_.toString).toSeq)
    assert(banded.nonEmpty, "the genuine near-dups must still pair")
    assert(banded.forall(r => !r.getAs[Double]("cos_sim").isNaN))
    assert(!banded.exists(r => r.getAs[Long]("id1") < 3),
      "zero-vector pairs must be dropped, not kept by NaN >= tau")
    val sem = Refine.dedupSemantic(spark, dir).collect()
    assert(sem.forall(r => !r.getAs[Double]("cos_sim").isNaN &&
      r.getAs[Long]("keeper") >= 3 && r.getAs[Long]("vec_id") >= 3),
      "semantic dedup must neither emit nor elect zero vectors")
  }

  test("plan audit: default dedup plans contain no nested-loop or cartesian join") {
    Seq(Pipeline.dedupEmbedding(spark, sf), Pipeline.dedupNgramJaccard(spark, sf))
      .foreach { df =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin") &&
          !plan.contains("CartesianProduct"), plan)
      }
  }

  test("exact dedup counts are consistent") {
    val r = Pipeline.dedupExact(spark, sf).collect().head
    val nDocs = r.getAs[Long]("n_docs")
    val nUnique = r.getAs[Long]("n_unique")
    assert(nDocs == Q.t(spark, sf, "documents").count())
    assert(nUnique <= nDocs && r.getAs[Long]("n_removed") == nDocs - nUnique)
  }

  test("language id predicts a label for every doc") {
    val rows = Pipeline.textLangId(spark, sf).collect()
    assert(rows.length == Q.t(spark, sf, "documents").count())
    assert(rows.forall(r => r.getAs[String]("predicted_lang").nonEmpty))
  }

  test("multimodal binary pipeline preserves rows and is deterministic") {
    val a = Pipeline.mmBinaryFeatures(spark, sf).collect()
    val b = Pipeline.mmBinaryFeatures(spark, sf).collect()
    assert(a.length == Q.t(spark, sf, "documents").count())
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("as-of join matches the brute-force most-recent-match join and plans no join") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = Q.t(spark, sf, "events")
    val l = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id").as("lu"),
        col("ts").as("lts"), col("value"))
    val r = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("m_id"), col("user_id").as("ru"),
        col("ts").as("rts"), col("value").as("m_value"))
    // ground truth: enumerate all candidate pairs, keep the latest
    // (max m_id on ties — the same tie-break joinAsof's carry window uses)
    val pick = Window.partitionBy(col("event_id"))
      .orderBy(col("rts").desc, col("m_id").desc)
    val brute = l
      .join(r, col("lu") === col("ru") && col("rts") <= col("lts"), "left")
      .withColumn("rn", row_number().over(pick)).filter(col("rn") === 1)
      .select(col("event_id"), col("lu").as("user_id"),
        col("lts").as("ts"), col("value"),
        col("m_id").as("match_event_id"), col("rts").as("match_ts"),
        col("m_value").as("match_value"))
      .orderBy("event_id")
    val asof = Pipeline.joinAsof(spark, sf)
    assert(asof.collect().map(_.toString).toSeq ==
      brute.collect().map(_.toString).toSeq)
    // the union-window rewrite eliminates the join entirely
    assert(!asof.queryExecution.executedPlan.toString.contains("Join"))
  }

  test("binned range join equals the brute-force inequality join") {
    import org.apache.spark.sql.functions._
    val bands = Ops.joinRangeBands(spark, sf)
    val brute = Q.t(spark, sf, "customer")
      .select(col("c_custkey"), col("c_acctbal"))
      .join(broadcast(bands),
        col("c_acctbal") >= col("lo") && col("c_acctbal") < col("hi"))
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_cust"), Q.dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy("band_id")
    val binned = Ops.joinRange(spark, sf)
    assert(binned.collect().map(_.toString).toSeq ==
      brute.collect().map(_.toString).toSeq)
    val plan = binned.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("stratified sample is deterministic and tracks its per-stratum rates") {
    val a = Pipeline.sampleStratified(spark, sf).collect()
    val b = Pipeline.sampleStratified(spark, sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    val keptByLang = a.groupBy(_.getAs[String]("lang")).map { case (l, rs) => l -> rs.length }
    val totalByLang = Q.t(spark, sf, "documents").collect()
      .groupBy(_.getAs[String]("lang")).map { case (l, rs) => l -> rs.length }
    Pipeline.MixRatesPpm.foreach { case (lang, ppm) =>
      val total = totalByLang.getOrElse(lang, 0)
      val kept = keptByLang.getOrElse(lang, 0)
      assert(kept <= total)
      // md5 lanes are uniform; at small n allow a wide but real tolerance
      val expected = total * ppm / 1e6
      assert(math.abs(kept - expected) <= math.max(4.0, 4 * math.sqrt(expected + 1)),
        s"$lang kept $kept of $total, expected ~$expected")
    }
    // map-side only: the single join is a broadcast of the mix spec
    val plan = Pipeline.sampleStratified(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"), plan)
  }

  test("chunking covers every word with the configured overlap and no shuffle") {
    val wc = Pipeline.textTokens(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("word_count")).toMap
    val chunks = Pipeline.textChunk(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(chunks.keySet == wc.keySet)
    chunks.foreach { case (docId, rs) =>
      val n = wc(docId)
      val sorted = rs.sortBy(_.getAs[Long]("chunk_id"))
      // chunk i starts at i*S; last chunk must reach the final word
      val lastStart = (sorted.length - 1).toLong * Pipeline.ChunkS
      assert(lastStart < n && lastStart + sorted.last.getAs[Long]("n_chunk_words") == n)
      sorted.dropRight(1).foreach(r =>
        assert(r.getAs[Long]("n_chunk_words") == Pipeline.ChunkW))
      // one extra chunk would start past the end
      assert(sorted.length.toLong * Pipeline.ChunkS >= n - Pipeline.ChunkW + Pipeline.ChunkS
        || sorted.length == 1)
    }
    val plan = Pipeline.textChunk(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") || plan.indexOf("Exchange") > plan.indexOf("Sort"),
      "chunk enumeration itself must not shuffle (only the final order-by may)")
  }

  test("sequence packing is a gapless token layout") {
    val rows = Pipeline.packSequences(spark, sf).collect().sortBy(_.getAs[Long]("doc_id"))
    assert(rows.nonEmpty)
    var expectedStart = 0L
    rows.foreach { r =>
      val start = r.getAs[Long]("pack_id") * Pipeline.PackBudget +
        r.getAs[Long]("pack_offset")
      assert(start == expectedStart,
        s"doc ${r.getAs[Long]("doc_id")} starts at $start, expected $expectedStart")
      expectedStart = start + r.getAs[Long]("est_tokens")
    }
  }

  test("funnel counts match a per-user replay and are monotone") {
    val byUser = Q.t(spark, sf, "events")
      .select("user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
      .groupBy(_._1)
    def frontier(prev: Map[Long, java.sql.Timestamp], stage: String) =
      byUser.flatMap { case (u, evs) =>
        prev.get(u).flatMap { t0 =>
          val hits = evs.filter(e => e._3 == stage && !e._2.before(t0))
          if (hits.isEmpty) None else Some(u -> hits.map(_._2).min)
        }
      }.toMap
    val epoch = new java.sql.Timestamp(0L)
    val f1 = frontier(byUser.keys.map(_ -> epoch).toMap, "signup")
    val f2 = frontier(f1, "click")
    val f3 = frontier(f2, "purchase")
    val got = Pipeline.eventFunnel(spark, sf).collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_users")).toMap
    assert(got == Map("signup" -> f1.size.toLong,
      "click" -> f2.size.toLong, "purchase" -> f3.size.toLong))
    assert(got("signup") >= got("click") && got("click") >= got("purchase"))
    assert(got("purchase") > 0, "corpus should produce full-funnel users")
  }

  test("unigram log-probs are negative, finite, and length-consistent") {
    val wc = Pipeline.textTokens(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("word_count")).toMap
    val rows = Pipeline.textUnigramLogprob(spark, sf).collect()
    assert(rows.length == wc.size, "self-trained LM covers every doc")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_words") == wc(r.getAs[Long]("doc_id")))
      val lp = r.getAs[Double]("avg_logprob")
      // every token's p is in (0, 1): the mean ln p is strictly negative
      assert(lp < 0.0 && !lp.isNaN && !lp.isInfinite, s"$r")
    }
  }

  test("repetition fractions are bounded and agree with text_tokens counts") {
    val wc = Pipeline.textTokens(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("word_count")).toMap
    val rep = Pipeline.textRepetition(spark, sf).collect()
    assert(rep.nonEmpty)
    rep.foreach { r =>
      assert(r.getAs[Long]("n_words") == wc(r.getAs[Long]("doc_id")))
      val top = r.getAs[Double]("top_word_frac")
      val dup = r.getAs[Double]("dup_word_frac")
      assert(top > 0.0 && top <= 1.0)
      assert(dup >= 0.0 && dup <= 1.0)
      // if ANY word repeats, the top word repeats, so its share is counted
      assert(dup == 0.0 || dup >= top)
      // one-word docs have no bigrams: the operator's left join yields null
      // by design, so read the column null-aware instead of unboxing to 0.0
      if (r.isNullAt(r.fieldIndex("top_bigram_frac")))
        assert(r.getAs[Long]("n_words") == 1L, s"null bigram frac on $r")
      else {
        val bg = r.getAs[Double]("top_bigram_frac")
        assert(bg > 0.0 && bg <= 1.0)
      }
    }
  }
}

/** Engine-specific hash functions: fixed expected digests. */
class FunctionsSpec extends AnyFunSuite {
  import SparkSpec._

  test("fn_hash_engine digests match the known-answer table") {
    val rows = Functions.fnHashEngine(spark, sf).collect()
    assert(rows.length == 25)
    // every engine-specific kernel matches its inline known-answer digest
    for (c <- Seq("xx64_ok", "crc_ok", "murmur_ok", "sha1_ok", "sdx_ok"))
      assert(rows.forall(_.getAs[Boolean](c)), s"$c flipped")
    // cross-engine columns: pin one md5 so the plumbing itself is checked
    val r0 = rows.find(_.getAs[Long]("key") == 0L).get
    assert(r0.getAs[String]("md5_hex") ==
      java.security.MessageDigest.getInstance("MD5")
        .digest("NATION_0".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString)
  }
}

/** Round-6 training-pipeline operators: decontamination, mixture weights,
  * frame sampling, and the bucketed co-located join. */
class TrainingOpsSpec extends AnyFunSuite {
  import SparkSpec._

  test("decontamination matches a brute-force recompute and broadcasts the eval side") {
    val docs = Q.t(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    def grams(text: String): Set[String] = {
      val ws = text.trim.split("\\s+")
      if (ws.length >= 3) ws.sliding(3).map(_.mkString(" ")).toSet else Set.empty
    }
    val evalGrams = docs.collect { case (id, t) if id % 97 == 0 => grams(t) }
      .foldLeft(Set.empty[String])(_ ++ _)
    val expected = docs.collect {
      case (id, t) if id % 97 != 0 && (grams(t) & evalGrams).nonEmpty =>
        id -> (grams(t) & evalGrams).size.toLong
    }.toMap
    val got = Pipeline.textDecontaminate(spark, sf).collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSet == expected.keySet)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_shared") == expected(id), s"doc $id")
      val frac = r.getAs[Double]("contaminated_frac")
      assert(frac > 0.0 && frac <= 1.0)
    }
    // the eval-gram probe must ride a broadcast, not a shuffle join
    val plan = Pipeline.textDecontaminate(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"), plan)
  }

  test("temperature mixture weights normalize and upweight rare domains") {
    val rows = Pipeline.mixTemperature(spark, sf).collect()
    val total = Q.t(spark, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    val wsum = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-5, s"weights sum to $wsum")
    assert(math.abs(rows.map(_.getAs[Long]("target_docs")).sum - 10000L) <= rows.length)
    // sqrt damping: weight ratios are compressed vs count ratios
    val byCount = rows.sortBy(_.getAs[Long]("n_docs"))
    val (lo, hi) = (byCount.head, byCount.last)
    val countRatio = hi.getAs[Long]("n_docs").toDouble / lo.getAs[Long]("n_docs")
    val weightRatio = hi.getAs[Double]("weight") / lo.getAs[Double]("weight")
    assert(weightRatio < countRatio && weightRatio > 1.0,
      s"weight ratio $weightRatio vs count ratio $countRatio")
  }

  test("frame sampling yields max(1, len/256) frames with recomputable signatures") {
    val docs = Q.t(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val frames = Pipeline.mmFrameSample(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(frames.keySet == docs.keySet)
    val md = java.security.MessageDigest.getInstance("MD5")
    frames.foreach { case (id, rs) =>
      val bytes = docs(id).getBytes("UTF-8")
      assert(rs.length.toLong == math.max(1L, bytes.length.toLong / 256))
      rs.foreach { r =>
        val i = r.getAs[Long]("frame_idx")
        assert(r.getAs[Double]("frame_ts") == i / 4.0)
        val off = (i * 256).toInt
        val end = math.min(off + 64, bytes.length)
        val sig = md.digest(java.util.Arrays.copyOfRange(bytes, off, end))
          .map("%02x".format(_)).mkString
        assert(r.getAs[String]("frame_sig") == sig, s"doc $id frame $i")
      }
    }
  }

  test("bucketed join plan is shuffle-free and result matches a plain join") {
    // At sf0.001 Spark rightly prefers broadcasting the tiny customer side;
    // bucketing exists for the big-big case, so force that shape to prove
    // the co-located path: no shuffle exchange, both scans bucket-aware.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (joined, plan) =
      try {
        val j = Extras.bucketedOrdersJoin(spark, sf)
        (j, j.queryExecution.executedPlan.toString)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("ShuffleExchange"),
      s"bucketed join must read co-located buckets without a shuffle:\n$plan")
    assert(plan.contains("Bucketed: true"), plan)
    val plain = Q.t(spark, sf, "orders").join(Q.t(spark, sf, "customer"),
      org.apache.spark.sql.functions.col("o_custkey") ===
        org.apache.spark.sql.functions.col("c_custkey"))
    assert(joined.count() == plain.count())
  }

  test("hashed substring dedup equals the raw-string-gram twin") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val hashed = Pipeline.dedupSubstring(spark, sf).collect().map(key).toSeq
    val brute = DedupBrute.dedupSubstringSpans(spark, sf).collect()
      .map(key).toSeq
    assert(hashed == brute,
      "md5-lane gram keys changed the duplicated-span stats (collision?)")
    assert(hashed.exists(_._3 > 0), "corpus has no duplicated 8-gram spans")
    // the in-kernel (gram, count) reduce == the explode + groupBy head
    val exploded = Pipeline.dedupSubstringExplode(spark, sf).collect()
      .map(key).toSeq
    assert(hashed == exploded,
      "NgramMd5LaneCounts diverged from the explode + (g, doc) groupBy head")
  }

  test("WordCounts tfidf head equals the explode + (doc, w) groupBy head") {
    // both orderings are total ((doc_id, rank) is unique), so plain
    // row-sequence equality pins the kernel against its explode twin
    val kernel = Pipeline.tfidfTopTerms(spark, sf).collect().toSeq
    val exploded = Pipeline.tfidfTopTermsExploded(spark, sf).collect().toSeq
    assert(kernel.nonEmpty, "tfidf produced no ranked terms")
    assert(kernel == exploded,
      "WordCounts diverged from the explode + (doc_id, w) groupBy head")
  }

  /** The pre-round-15 row_number-window re-rank of
    * [[Pipeline.simAnnIvf]]'s candidate pairs: executable documentation
    * of what [[graft.functions.TopKByScore]] replays. */
  private def simAnnIvfWindowedRerank(probes: org.apache.spark.sql.DataFrame,
      lists: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rankW = Window.partitionBy(col("q_id")).orderBy(desc("cos"), asc("cand_id"))
    Pipeline.simAnnIvfPairs(probes, lists)
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  test("TopKByScore re-rank equals the row_number window re-rank") {
    val (probes, lists) = Pipeline.simAnnIvfCandidates(spark, sf)
    val agg = Pipeline.simAnnIvf(spark, sf).collect().toSeq
    val win = simAnnIvfWindowedRerank(probes, lists).collect().toSeq
    assert(agg.nonEmpty, "IVF search returned no candidates")
    assert(agg == win,
      "TopKByScore diverged from the (cos DESC, cand_id) window re-rank")
  }

  test("WordTrigramSet equals the HOF gram chain over the corpus") {
    import org.apache.spark.sql.functions.{col, expr}
    val docs = Q.t(spark, sf, "documents")
    val both = docs.select(col("doc_id"),
        Pipeline.gramsExprHof.as("h"),
        org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.WordTrigramSet(
            org.apache.spark.sql.graftcol.NativeColumn.expression(
              expr("split(trim(text), '\\\\s+')")))).as("k"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"doc ${r.getLong(0)}: kernel trigram set diverged from the HOF chain")
    }
  }

  test("WordEntropyStats equals the exploded window formulation") {
    val kernel = Pipeline.textEntropy(spark, sf).collect().toSeq
    val exploded = Pipeline.textEntropyExploded(spark, sf).collect().toSeq
    assert(kernel.nonEmpty, "textEntropy produced no rows")
    assert(kernel == exploded,
      "WordEntropyStats diverged from the explode + window + agg chain")
  }

  test("int8-quantized top-5 recalls the exact cosine top-5") {
    val exact = Pipeline.simCosineTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val quant = Pipeline.simQuantizedTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(quant.size == exact.size)
    val recall = exact.count(quant.contains).toDouble / exact.size
    assert(recall >= 0.8, s"int8 quantization recall $recall below 0.8")
  }

  test("RFM quartile buckets are balanced within one user") {
    val rows = Pipeline.eventRfm(spark, sf).collect()
    for (c <- Seq("r_q", "f_q", "m_q")) {
      val sizes = rows.groupBy(_.getAs[Long](c)).view.mapValues(_.length)
      assert(sizes.keySet == Set(1L, 2L, 3L, 4L), s"$c buckets: ${sizes.toMap}")
      assert(sizes.values.max - sizes.values.min <= 1,
        s"$c quartiles unbalanced: ${sizes.toMap}")
    }
  }

  test("plan audit: ranked top-k filters run through WindowGroupLimit") {
    // Spark's WindowGroupLimit pushes rank-predicate top-k below the
    // window sort (partial per-partition limit before the shuffle) —
    // the reason a rank<=k filter survives a 100x scale-up. Pin that
    // the optimization actually fires for the registry's ranked queries.
    Seq("rowop_distinct_on" -> Ops.rowopDistinctOn(spark, sf),
      "tfidf_top_terms" -> Pipeline.tfidfTopTerms(spark, sf))
      .foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("WindowGroupLimit"),
          s"$name: no WindowGroupLimit in plan:\n${plan.take(2000)}")
      }
    // the ANN re-ranks went further (round 15): no window at all — the
    // exact top-k aggregate partials map-side, so the plan must carry a
    // partial_top_k_by_score HashAggregate and NO window operator
    Seq("sim_quantized_topk" -> Pipeline.simQuantizedTopk(spark, sf),
      "sim_cosine_topk" -> Pipeline.simCosineTopk(spark, sf))
      .foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("partial_top_k_by_score"),
          s"$name: no partial top_k_by_score aggregate in plan:\n${plan.take(2000)}")
        assert(!plan.contains("Window"),
          s"$name: unexpected window operator in plan:\n${plan.take(2000)}")
      }
  }

  test("epoch shuffle assigns a dense deterministic permutation") {
    val rows = Pipeline.shuffleEpoch(spark, sf).collect()
    val n = Q.t(spark, sf, "documents").count()
    assert(rows.length == n)
    assert(rows.map(_.getLong(0)).toSeq == (0L until n).toSeq,
      "positions are not dense 0..N-1")
    assert(rows.map(_.getLong(1)).distinct.length == n,
      "doc_ids are not a permutation")
    // position order must equal (shuffle_key, doc_id) order
    val sorted = rows.sortBy(r => (r.getLong(2), r.getLong(1))).map(_.getLong(1))
    assert(rows.sortBy(_.getLong(0)).map(_.getLong(1)).toSeq == sorted.toSeq)
    val again = Pipeline.shuffleEpoch(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("holdout split covers the corpus with stable hash assignment") {
    val rows = Pipeline.splitHoldout(spark, sf).collect()
    val n = Q.t(spark, sf, "documents").count()
    val byName = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    assert(byName.values.sum == n)
    assert(byName("train").toDouble / n > 0.8,
      s"train fraction ${byName("train").toDouble / n} implausibly low")
  }

  test("corpus stats totals agree with the token-count operator") {
    val stats = Pipeline.corpusStats(spark, sf).collect()
    val totalWords = stats.map(_.getAs[Long]("n_words")).sum
    val totalDocs = stats.map(_.getAs[Long]("n_docs")).sum
    val tok = Pipeline.textTokens(spark, sf).collect()
    assert(totalDocs == tok.length)
    assert(totalWords == tok.map(_.getAs[Long]("word_count")).sum)
  }

  test("tf-idf emits contiguous ranks and its top term maximizes the score") {
    val byDoc = Pipeline.tfidfTopTerms(spark, sf).collect()
      .groupBy(_.getLong(0))
    assert(byDoc.nonEmpty)
    byDoc.values.foreach { rs =>
      val ranked = rs.sortBy(_.getLong(1))
      assert(ranked.map(_.getLong(1)).toSeq == (1L to ranked.length).toSeq)
      val scores = ranked.map(_.getDouble(5))
      assert(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b },
        "scores not non-increasing down the ranks")
    }
  }
}

/** Space-Saving heavy hitters: exact-mode partition invariance and the
  * lossy-capacity guarantee (any item with true count > n/capacity
  * survives, with count_est − max_err ≤ true ≤ count_est). */
class ApproxTopKSpec extends AnyFunSuite {
  import SparkSpec._
  import org.apache.spark.sql.functions._

  private def wordsDf(parts: Int) = {
    graft.functions.ApproxTopK.register(spark)
    Q.t(spark, sf, "documents")
      .select(explode(expr("split(trim(text), '\\\\s+')")).as("w"))
      .repartition(parts)
  }

  private def exactCounts(): Map[String, Long] =
    wordsDf(4).groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("with capacity above the vocabulary the sketch is exactly the top-k, any partitioning") {
    val exact = exactCounts().toSeq.sortBy { case (w, c) => (-c, w) }.take(10)
    Seq(1, 7, 32).foreach { parts =>
      val rows = wordsDf(parts).createOrReplaceTempView("atk_words")
      val got = spark.sql(
        """SELECT s.item, s.count_est, s.max_err
          |FROM (SELECT approx_top_k(w, 10, 4096) AS tk FROM atk_words)
          |LATERAL VIEW explode(tk) AS s""".stripMargin).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(got.map(t => (t._1, t._2)).toSeq == exact, s"parts=$parts")
      assert(got.forall(_._3 == 0L), "no eviction may occur above vocab size")
    }
  }

  test("small-capacity sketch keeps the heavy-hitter guarantee") {
    val exact = exactCounts()
    val n = exact.values.sum
    val cap = 8
    wordsDf(16).createOrReplaceTempView("atk_words_small")
    val got = spark.sql(
      s"""SELECT s.item, s.count_est, s.max_err
         |FROM (SELECT approx_top_k(w, $cap, $cap) AS tk FROM atk_words_small)
         |LATERAL VIEW explode(tk) AS s""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.size <= cap)
    // every item with true count > n/cap must be tracked
    val mustSurvive = exact.filter { case (_, c) => c > n / cap }.keySet
    val tracked = got.map(_._1).toSet
    assert(mustSurvive.subsetOf(tracked),
      s"missing heavy hitters: ${mustSurvive -- tracked}")
    // estimates bound the truth: true ≤ count_est ≤ true + max_err
    got.foreach { case (w, c, e) =>
      val truth = exact.getOrElse(w, 0L)
      assert(truth <= c && c <= truth + e, s"$w: est $c err $e true $truth")
    }
  }
}

/** Z-order clustering: interleave correctness and measured file skipping. */
class ZOrderSpec extends AnyFunSuite {
  import SparkSpec._
  import org.apache.spark.sql.functions._

  /** The interleave of [[graft.functions.ZOrder.zvalue]] on plain longs. */
  private def zvalueRef(a: Long, b: Long, bits: Int): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((a >>> i) & 1L) << (2 * i)
      z |= ((b >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("zvalue column expression matches the reference interleave") {
    val rows = Q.t(spark, sf, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        graft.functions.ZOrder.zvalue(col("l_partkey"), col("l_suppkey"), 16)
          .as("z"))
      .limit(500).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expected = zvalueRef(r.getLong(0), r.getLong(1), 16)
      assert(r.getLong(2) == expected, s"(${r.getLong(0)},${r.getLong(1)})")
    }
  }

  test("z-ordered layout shrinks per-file stat envelopes on both keys") {
    // Lay lineitem out two ways, 16 files each: natural (orderkey ranges)
    // and z-ordered on (l_partkey, l_suppkey). For each file compute the
    // min/max envelope of both keys — the statistics a table format's
    // file index (or a reader's footer check) prunes with — and count how
    // many files a band predicate on each key would have to read.
    val li = Q.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val natDir = java.nio.file.Files.createTempDirectory("graft_znat").toString
    val zDir = java.nio.file.Files.createTempDirectory("graft_zord").toString
    li.repartitionByRange(16, col("l_orderkey"))
      .write.mode("overwrite").parquet(natDir)
    val st = li.agg(min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).collect().head
    li.withColumn("z",
        graft.functions.ZOrder.zvalueScaled(
          col("l_partkey"), st.getLong(0), st.getLong(1),
          col("l_suppkey"), st.getLong(2), st.getLong(3), 16))
      .repartitionByRange(16, col("z")).sortWithinPartitions("z").drop("z")
      .write.mode("overwrite").parquet(zDir)
    def envelopes(dir: String): Array[(Long, Long, Long, Long)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
          min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val nat = envelopes(natDir)
    val zo = envelopes(zDir)
    def overlapP(e: Array[(Long, Long, Long, Long)], lo: Long, hi: Long) =
      e.count { case (pmin, pmax, _, _) => pmax >= lo && pmin <= hi }
    def overlapS(e: Array[(Long, Long, Long, Long)], lo: Long, hi: Long) =
      e.count { case (_, _, smin, smax) => smax >= lo && smin <= hi }
    // bands sized to ~10% of each key's actual domain at this sf
    val dom = li.agg(min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).collect().head
    // 10%-wide bands at 30% of each domain — representative point bands
    // (the exact midpoint would straddle the top-level split of the z
    // hierarchy, the adversarial worst case for any space-filling curve)
    def band(a: Long, b: Long): (Long, Long) = {
      val lo = a + 3 * (b - a) / 10
      (lo, lo + math.max(1L, (b - a) / 10))
    }
    val (pLo, pHi) = band(dom.getLong(0), dom.getLong(1))
    val (sLo, sHi) = band(dom.getLong(2), dom.getLong(3))
    // natural layout: keys are uncorrelated with orderkey, so every file's
    // envelope spans the band and nothing can be skipped
    assert(overlapP(nat, pLo, pHi) == nat.length)
    assert(overlapS(nat, sLo, sHi) == nat.length)
    // z-order: a partkey band touches a fraction of files, and a suppkey
    // band still skips files (the whole point vs a lexicographic sort)
    val zp = overlapP(zo, pLo, pHi)
    val zs = overlapS(zo, sLo, sHi)
    info(s"partkey band: z-ordered reads $zp/${zo.length} files")
    info(s"suppkey band: z-ordered reads $zs/${zo.length} files")
    assert(zp <= zo.length / 2, s"partkey band read $zp of ${zo.length}")
    assert(zs <= 3 * zo.length / 4, s"suppkey band read $zs of ${zo.length}")
  }
}

/** BPE merge loop: the distributed merge sequence must equal a plain
  * in-memory reference run with the same tie-break and greedy fuse. */
class BpeSpec extends AnyFunSuite {
  import SparkSpec._

  test("distributed merge sequence equals the in-memory reference BPE") {
    var corpus: Seq[Vector[String]] = Q.t(spark, sf, "documents")
      .select("text").collect()
      .map(_.getString(0).trim.split("\\s+").toVector).toSeq
    val expected = Seq.newBuilder[(Long, String, Long)]
    for (step <- 1L to 5L) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      corpus.foreach { ts =>
        ts.iterator.zip(ts.iterator.drop(1)).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + 1L
        }
      }
      val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x + "|" + y) }
      expected += ((step, s"$a|$b", c))
      corpus = corpus.map { ts =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < ts.length) {
          if (i + 1 < ts.length && ts(i) == a && ts(i + 1) == b) {
            out += s"$a~$b"; i += 2
          } else { out += ts(i); i += 1 }
        }
        out.result()
      }
    }
    val got = Pipeline.textBpeMerges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected.result())
  }
}

/** Graph analytics, collocation, entropy and event-outlier operators:
  * each checked exactly against a single-threaded in-memory reference
  * over the raw sf0.001 text/events. */
class GraphTextSpec extends AnyFunSuite {
  import SparkSpec._

  test("distributed pagerank equals the in-memory fixed-point reference") {
    // Same fixed-point update, computed single-threaded over the raw text:
    // a divergence would indicate order-dependence (the exact failure the
    // BIGINT quantization exists to rule out) or a graph-extraction bug.
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0).trim)
    val edges = scala.collection.mutable.Map.empty[(String, String), Long]
    texts.foreach { t =>
      val w = t.split("\\s+")
      w.indices.dropRight(1).foreach { i =>
        edges((w(i), w(i + 1))) = edges.getOrElse((w(i), w(i + 1)), 0L) + 1
      }
    }
    val nodes = (edges.keySet.map(_._1) ++ edges.keySet.map(_._2)).toSeq.sorted
    val n = nodes.size
    val outdeg = edges.groupBy(_._1._1).map { case (s0, es) => s0 -> es.values.sum }
    var r = nodes.map(_ -> math.floor(Pipeline.PrScale / n).toLong).toMap
    val base = math.floor(0.15 * Pipeline.PrScale / n).toLong
    (1 to Pipeline.PrIters).foreach { _ =>
      val s0 = scala.collection.mutable.Map.empty[String, Long]
      edges.foreach { case ((u, v), wt) =>
        s0(v) = s0.getOrElse(v, 0L) +
          math.floor(r(u).toDouble * wt / outdeg(u)).toLong
      }
      r = nodes.map(w => w -> (base + math.floor(0.85 * s0.getOrElse(w, 0L)).toLong)).toMap
    }
    val expected = r.toSeq.sortBy { case (w, rk) => (-rk, w) }
    val got = Pipeline.graphPagerank(spark, sf).collect()
      .map(row => (row.getString(0), row.getLong(1))).toSeq
    assert(got == expected)
    // Damped rank mass stays conserved up to quantization leak: each
    // iteration floors once per edge contribution and twice per node, and
    // the damped map lets at most 1/(1−0.85) ≈ 6.7× of that steady-state
    // loss accumulate — bound it by 7×(E + 2N).
    val total = got.map(_._2).sum
    val leakCap = 7L * (edges.size + 2L * n)
    assert(total <= Pipeline.PrScale.toLong && total > Pipeline.PrScale.toLong - leakCap,
      s"rank mass $total outside quantization envelope ($leakCap) for $n nodes")
  }

  test("bigram PMI equals a local recompute and flags genuine collocations") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0).trim)
    val c = scala.collection.mutable.Map.empty[(String, String), Long]
    texts.foreach { t =>
      val w = t.split("\\s+")
      w.indices.dropRight(1).foreach { i =>
        c((w(i), w(i + 1))) = c.getOrElse((w(i), w(i + 1)), 0L) + 1
      }
    }
    val tt = c.values.sum
    val ca = c.groupBy(_._1._1).map { case (k, m) => k -> m.values.sum }
    val cb = c.groupBy(_._1._2).map { case (k, m) => k -> m.values.sum }
    val expected = c.toSeq.collect {
      case ((a, b), n) if n >= Pipeline.PmiMinCount =>
        val pmi = BigDecimal(math.log(n.toDouble * tt / (ca(a) * cb(b))))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (a, b, n, pmi)
    }.sortBy { case (a, b, _, p) => (-p, a, b) }
    val got = Pipeline.textCollocations(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected)
    // PMI must be positive for the top collocation and the table must
    // contain negative-association pairs too (otherwise the margin math
    // degenerated to a constant).
    assert(got.head._4 > 0 && got.last._4 < 0)
  }

  test("bfs depth equals a local breadth-first search from the modal word") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0).trim)
    val edges = scala.collection.mutable.Set.empty[(String, String)]
    val uc = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach { t =>
      val w = t.split("\\s+")
      w.foreach(x => uc(x) = uc.getOrElse(x, 0L) + 1)
      w.indices.dropRight(1).foreach(i => edges += ((w(i), w(i + 1))))
    }
    val src = uc.toSeq.sortBy { case (w, n) => (-n, w) }.head._1
    val adj = edges.groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
    var depth = Map(src -> 0L)
    (1 to Pipeline.BfsIters).foreach { _ =>
      val next = depth.toSeq.flatMap { case (u, du) =>
        adj.getOrElse(u, Set.empty).map(_ -> (du + 1))
      }
      depth = (depth.toSeq ++ next).groupBy(_._1)
        .map { case (w, ds) => w -> ds.map(_._2).min }
    }
    val expected = depth.toSeq.sortBy { case (w, d0) => (d0, w) }
    val got = Pipeline.graphBfsDepth(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("event outliers all exceed the z cut and agree with a local recompute") {
    val rows = Pipeline.eventOutliers(spark, sf).collect()
    val byType = spark.read.parquet(s"$sf/events.parquet")
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._2)
    val expected = byType.toSeq.flatMap { case (_, evs) =>
      val n = evs.length
      val s1 = evs.map(e => BigDecimal(e._3).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      val s2 = evs.map(e => BigDecimal(e._3 * e._3).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      val m1 = s1 / n
      val sd = math.sqrt(s2 / n - m1 * m1)
      if (sd <= 0) Seq.empty
      else evs.collect {
        case (id, et, v) if math.abs((v - m1) / sd) > Pipeline.ZCut =>
          (id, et, v,
            BigDecimal((v - m1) / sd).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }.sortBy(_._1)
    val got = rows.map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got == expected)
    assert(got.forall { case (_, _, _, z) => math.abs(z) > Pipeline.ZCut })
  }

  test("resampled grid is dense, count-preserving, and gap-filled") {
    val rows = Pipeline.eventResample(spark, sf).collect()
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (_, rs) =>
      val hours = rs.map(_.getTimestamp(1).getTime).sorted
      // dense hourly grid: every consecutive step is exactly one hour
      hours.sliding(2).foreach { case Array(a, b) =>
        assert(b - a == 3600000L, s"grid hole between $a and $b")
      }
    }
    val total = rows.map(_.getLong(2)).sum
    val raw = spark.read.parquet(s"$sf/events.parquet").count()
    assert(total == raw, s"resample lost events: $total vs $raw")
    // forward fill: every gap hour after the first observation carries the
    // most recent mean; observed hours carry their own mean verbatim.
    byType.foreach { case (_, rs) =>
      var carry: Option[Double] = None
      rs.sortBy(_.getTimestamp(1).getTime).foreach { r =>
        val mean = if (r.isNullAt(3)) None else Some(r.getDouble(3))
        if (mean.isDefined) carry = mean
        val filled = if (r.isNullAt(4)) None else Some(r.getDouble(4))
        assert(filled == carry, s"fill mismatch at ${r.getTimestamp(1)}")
      }
    }
  }

  test("chi-square statistic equals a local recompute on the contingency table") {
    val raw = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .flatMap(r => r.getString(1).trim.split("\\s+").map(w => (r.getString(0), w)))
    val o = raw.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val rt = o.groupBy(_._1._1).map { case (k, m) => k -> m.values.sum }
    val ct = o.groupBy(_._1._2).map { case (k, m) => k -> m.values.sum }
    val n = o.values.sum
    val chi2Raw = o.map { case ((s0, w), obs) =>
      val e = rt(s0) * ct(w) / n.toDouble
      BigDecimal((obs - e) * (obs - e) / e)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    val row = Pipeline.statChiSquare(spark, sf).collect().head
    assert(row.getAs[Long]("n") == n)
    assert(row.getAs[Long]("dof") ==
      (rt.size - 1).toLong * (ct.size - 1).toLong)
    assert(row.getAs[Double]("chi2") ==
      BigDecimal(chi2Raw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val v = row.getAs[Double]("cramers_v")
    assert(v >= 0.0 && v <= 1.0)
  }

  test("winsorized values are clipped to in-group percentile bounds") {
    val rows = Pipeline.eventWinsorize(spark, sf).collect()
    val byId = spark.read.parquet(s"$sf/events.parquet")
      .select("event_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.length == byId.size)
    var clipped = 0
    rows.foreach { r =>
      val (lo, hi, c) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      val raw = byId(r.getLong(0))
      assert(lo <= hi && c >= lo - 1e-9 && c <= hi + 1e-9)
      if (r.getBoolean(5)) {
        clipped += 1
        // replaced by a bound, never by the raw value
        assert(c == lo || c == hi)
      } else {
        assert(c == BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    // nominal clip mass: 10% of each group up to interpolation ties
    assert(clipped > 0 && clipped <= (rows.length * 0.12).toInt,
      s"$clipped of ${rows.length} clipped")
  }

  test("plan audit: iterative graph ops broadcast the state table") {
    // each iteration pins its state table, so the plan of that pin's
    // action is the iteration's plan; a listener records them during the
    // shipped build. Every state-vs-edges join must be a
    // BroadcastHashJoin, never a shuffle or cartesian join — the
    // property that keeps an iteration O(edges).
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    def pinPlans(build: => Unit): Seq[String] = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit =
          if (funcName == "localCheckpoint") plans.add(qe.executedPlan.toString)
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = ()
      }
      ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.register(listener)
      try { build; ListenerBusDrain(spark.sparkContext) }
      finally spark.listenerManager.unregister(listener)
      plans.toArray(Array.empty[String]).toSeq
    }
    Seq(("graph_pagerank", Pipeline.PrIters), ("graph_bfs_depth", Pipeline.BfsIters))
      .foreach { case (op, iters) =>
        val plans = pinPlans(SparkEntry.queries(op)(spark, sf))
        // the last `iters` pins are the iterations, in order
        assert(plans.size >= iters, s"$op: ${plans.size} pins")
        plans.takeRight(iters).foreach(p =>
          assert(p.contains("BroadcastHashJoin"), s"$op: $p"))
        plans.foreach { p =>
          assert(!p.contains("CartesianProduct"), s"$op: $p")
          assert(!p.contains("SortMergeJoin"), s"$op: $p")
        }
      }
  }

  test("an iterative graph build leaves only the pin its result reads") {
    // every op on the Q.iterate core: the pins left after a build are the
    // ones its result reads (text_bpe_merges builds its output on the
    // driver, so none), and no build adds a CacheManager entry. The
    // manager is shared by every session, so rec_reachability runs on a
    // copy of nation no other suite has cached, and its rows are compared
    // with the suite corpus's
    import org.apache.spark.sql.execution.{CacheEntries, LogicalRDD}
    val dir = java.nio.file.Files.createTempDirectory("graft_reach").toString
    Q.t(spark, sf, "nation").write.parquet(s"$dir/nation.parquet")
    val path = (0 until 80).map(i => (i * 37 % 80 + 1).toLong)
    val builds = Seq("graph_pagerank", "graph_bfs_depth", "text_bpe_merges")
      .map(op => op -> (() => SparkEntry.queries(op)(spark, sf))) ++ Seq(
      "rec_reachability" -> (() => SparkEntry.queries("rec_reachability")(spark, dir)),
      "componentsDistributed" -> (() => Q.componentsDistributed(spark,
        spark.createDataFrame(path.zip(path.tail)).toDF("a", "b"))))
    builds.foreach { case (op, build) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val entries = CacheEntries(spark)
      val df = build()
      val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      val read = df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }
      assert(read.size <= 1 && left == read.toSet, s"$op: left $left, reads $read")
      assert(CacheEntries(spark) == entries, s"$op added a CacheManager entry")
      assert(df.count() > 0)
    }
    assert(SparkEntry.queries("rec_reachability")(spark, dir).collect().toSeq ==
      SparkEntry.queries("rec_reachability")(spark, sf).collect().toSeq)
  }

  test("triangle census equals a local adjacency-set recompute") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0).trim)
    val und = scala.collection.mutable.Set.empty[(String, String)]
    texts.foreach { t =>
      val w = t.split("\\s+")
      w.indices.dropRight(1).foreach { i =>
        if (w(i) != w(i + 1)) {
          val (a, b) = if (w(i) < w(i + 1)) (w(i), w(i + 1)) else (w(i + 1), w(i))
          und += ((a, b))
        }
      }
    }
    val adj = scala.collection.mutable.Map.empty[String, Set[String]]
      .withDefaultValue(Set.empty)
    und.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val nodes = adj.keys.toSeq.sorted
    val tris = nodes.combinations(3).count { case Seq(x, y, z) =>
      adj(x)(y) && adj(x)(z) && adj(y)(z)
    }
    val wedges = nodes.map { v => val d = adj(v).size.toLong; d * (d - 1) / 2 }.sum
    val r = Pipeline.graphTriangles(spark, sf).collect().head
    assert(r.getAs[Long]("n_nodes") == nodes.size.toLong)
    assert(r.getAs[Long]("n_edges") == und.size.toLong)
    assert(r.getAs[Long]("n_triangles") == tris.toLong)
    assert(r.getAs[Long]("n_wedges") == wedges)
    assert(r.getAs[Double]("clustering_coeff") ==
      BigDecimal(3.0 * tris / wedges).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("nearest as-of picks the closer side and ties go backward") {
    import org.apache.spark.sql.functions._
    val rows = Pipeline.joinAsofNearest(spark, sf).collect()
    assert(rows.nonEmpty)
    // local ground truth: per user, all error times (microseconds — the
    // operator's gap unit; Timestamp.getTime alone truncates to ms and
    // can disagree with the exact µs difference by 1)
    def us(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val errs = Q.t(spark, sf, "events")
      .filter(col("event_type") === "error")
      .select("user_id", "event_id", "ts").collect()
      .groupBy(_.getAs[Long]("user_id"))
      .view.mapValues(_.map(r =>
        (r.getAs[Long]("event_id"),
          us(r.getAs[java.sql.Timestamp]("ts")))).sortBy(_._2)).toMap
    rows.foreach { r =>
      val uid = r.getAs[Long]("user_id")
      val ts = us(r.getAs[java.sql.Timestamp]("ts"))
      errs.get(uid) match {
        case None =>
          assert(r.isNullAt(r.fieldIndex("match_event_id")),
            s"matched with no errors for user: $r")
        case Some(es) =>
          assert(!r.isNullAt(r.fieldIndex("match_event_id")))
          val gap = r.getAs[Long]("gap_us")
          assert(gap >= 0)
          val best = es.map(e => math.abs(e._2 - ts)).min
          assert(gap == best, s"not the nearest error: $r (best=${best}us)")
      }
    }
    val dirs = rows.filter(!_.isNullAt(5)).groupBy(_.getAs[String]("direction"))
    assert(dirs.keySet == Set("backward", "forward"),
      s"degenerate direction split: ${dirs.keySet}")
  }

  test("bigram log-probs are negative and count word_count-1 bigrams per doc") {
    import org.apache.spark.sql.functions._
    val rows = Pipeline.textBigramLogprob(spark, sf).collect()
    assert(rows.nonEmpty)
    val wc = Q.t(spark, sf, "documents")
      .select(col("doc_id"),
        expr("size(split(trim(text), '\\\\s+'))").cast("long").as("n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n")).toMap
    rows.foreach { r =>
      assert(r.getAs[Double]("mean_logprob") < 0.0, s"smoothed p<1 always: $r")
      assert(r.getAs[Long]("n_bigrams") == wc(r.getAs[Long]("doc_id")) - 1,
        s"bigram count must be word_count-1: $r")
    }
    assert(rows.length == wc.count(_._2 >= 2))
  }

  test("BigramHashCounts head == the span-explode + quad groupBy head") {
    import org.apache.spark.sql.functions._
    // the pre-round-15 head: per-span HOF xxhash64 quads, then the
    // (doc, quad)-keyed count — executable documentation of what the
    // kernel reduces in-row
    val docs = Q.t(spark, sf, "documents")
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("ws"))
      .filter(size(col("ws")) >= 2)
    val viaExplode = docs
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), " +
          "i -> struct(xxhash64(ws[i-1]) as h1, xxhash64('g2', ws[i-1]) as h1b, " +
          "xxhash64(ws[i-1], ws[i]) as h12, xxhash64('g2', ws[i-1], ws[i]) as h12b))")).as("b"))
      .groupBy(col("doc_id"), col("b.h1"), col("b.h1b"), col("b.h12"),
        col("b.h12b"))
      .agg(count(lit(1)).as("k"))
      .collect().map(_.toString).sorted.toSeq
    val viaKernel = docs
      .select(col("doc_id"), explode(
        org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.BigramHashCounts(
            org.apache.spark.sql.graftcol.NativeColumn
              .expression(col("ws"))))).as("b"))
      .select(col("doc_id"), col("b.h1"), col("b.h1b"), col("b.h12"),
        col("b.h12b"), col("b.k"))
      .collect().map(_.toString).sorted.toSeq
    assert(viaKernel.nonEmpty && viaKernel == viaExplode)
  }

  test("vocab coverage is nondecreasing, self-consistent, and ends at most 1") {
    val rows = Pipeline.vocabCoverage(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= Pipeline.CovK)
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to rows.length).toSeq)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Double]("coverage") >= a.getAs[Double]("coverage"))
        // ranks order by count descending
        assert(b.getAs[Long]("c") <= a.getAs[Long]("c"))
        // cumulative sums telescope
        assert(b.getAs[Long]("cum") - a.getAs[Long]("cum") == b.getAs[Long]("c"))
      case _ => ()
    }
    val last = rows.last.getAs[Double]("coverage")
    assert(last > 0.0 && last <= 1.0)
  }

  test("word entropy is bounded by ln(n_unique) and exact for a local recompute") {
    val rows = Pipeline.textEntropy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nu = r.getAs[Long]("n_unique")
      val e = r.getAs[Double]("entropy")
      assert(e >= 0.0 && e <= math.log(nu.toDouble) + 1e-6,
        s"entropy $e out of [0, ln($nu)] for doc ${r.getLong(0)}")
      if (nu > 1) {
        val ne = r.getAs[Double]("norm_entropy")
        assert(ne >= 0.0 && ne <= 1.0 + 1e-12)
      } else assert(r.isNullAt(r.fieldIndex("norm_entropy")))
    }
    val byDoc = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+")).toMap
    rows.take(50).foreach { r =>
      val ws = byDoc(r.getLong(0))
      val wc = ws.length.toDouble
      val h = ws.groupBy(identity).values
        .map { g => val p = g.length / wc; -p * math.log(p) }
        .map(BigDecimal(_).setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum
      assert(math.abs(h.toDouble - r.getAs[Double]("entropy")) < 2e-6,
        s"doc ${r.getLong(0)}: local $h vs ${r.getAs[Double]("entropy")}")
      assert(r.getAs[Long]("n_words") == ws.length.toLong)
    }
  }
}

/** Invariants of the readability / novelty / survival / reliability
  * operators beyond the DuckDB hash-compare: local formula recomputes,
  * duplicate-document novelty collapse, and Kaplan–Meier monotonicity. */
class SurvivalNoveltySpec extends AnyFunSuite {
  import SparkSpec._
  import org.apache.spark.sql.functions._

  test("readability matches a local recompute of the Flesch formula") {
    val rows = Pipeline.textReadability(spark, sf).collect()
    assert(rows.nonEmpty)
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(100).foreach { r =>
      val text = texts(r.getAs[Long]("doc_id"))
      val words = text.trim.split("\\s+").count(_.nonEmpty)
      val sents = math.max(1, "[.!?]+".r.findAllIn(text).length)
      val syls = "[aeiouy]+".r.findAllIn(text.toLowerCase).length
      assert(r.getAs[Long]("n_words") == words)
      assert(r.getAs[Long]("n_sentences") == sents)
      assert(r.getAs[Long]("n_syllables") == syls)
      val flesch = 206.835 - 1.015 * (words.toDouble / sents) -
        84.6 * (syls.toDouble / words)
      assert(math.abs(r.getAs[Double]("flesch") - flesch) < 1e-3,
        s"flesch mismatch for ${r.getAs[Long]("doc_id")}")
    }
  }

  test("novelty matches a full local first-occurrence recompute") {
    val rows = Pipeline.textNgramNovelty(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nv = r.getAs[Double]("novelty")
      assert(nv >= 0.0 && nv <= 1.0)
    }
    // driver-local ground truth over the whole sf0.01 corpus: distinct
    // 5-gram shingles per doc, first occurrence = min doc_id
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
      .sortBy(_._1)
    val grams = docs.map { case (id, ws) =>
      id -> ws.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSet
    }
    val firstSeen = scala.collection.mutable.Map.empty[String, Long]
    grams.foreach { case (id, gs) =>
      gs.foreach(g => if (!firstSeen.contains(g)) firstSeen(g) = id)
    }
    val expect = grams.filter(_._2.nonEmpty).map { case (id, gs) =>
      id -> (gs.size.toLong, gs.count(firstSeen(_) == id).toLong)
    }.toMap
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val (ng, nn) = expect(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_grams") == ng, s"gram count: $r")
      assert(r.getAs[Long]("n_novel") == nn, s"novel count: $r")
    }
    // shared prefixes exist in the corpus, so some doc is non-novel
    assert(rows.exists(_.getAs[Double]("novelty") < 1.0),
      "every doc fully novel - shared-prefix corpus structure lost")
  }

  test("ngram md5-lane kernel equals the HOF formulation, any codegen mode") {
    import org.apache.spark.sql.functions.{col, expr}
    def kernel(): Map[Long, Seq[Long]] = Q.t(spark, sf, "documents")
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("ws"))
      .filter(expr("size(ws) >= 5"))
      .select(col("doc_id"),
        org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.NgramMd5Lanes(
            org.apache.spark.sql.graftcol.NativeColumn.expression(col("ws")),
            5)).as("ghs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = Q.t(spark, sf, "documents")
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("ws"))
      .filter(expr("size(ws) >= 5"))
      .select(col("doc_id"), expr(
        """array_distinct(transform(sequence(1, size(ws) - 4),
          |  i -> cast(conv(substring(md5(concat_ws(' ', slice(ws, i, 5))),
          |    1, 15), 16, 10) as bigint)))""".stripMargin).as("ghs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val n0 = kernel()
    assert(n0.nonEmpty && n0 == hof)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try kernel() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(n0 == interpreted)
    // CODEGEN_ONLY + fallback off: a codegen COMPILE failure in the
    // kernel would otherwise fall back to interpreted silently
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val forced = try kernel() finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
    assert(n0 == forced)
  }

  test("round-15 kernels compile under CODEGEN_ONLY with fallback off") {
    // a doGenCode bug would otherwise fall back to interpreted silently
    // (correct results, silent perf loss); force compilation and pin the
    // forced run row-equal to the default run for every new kernel
    import org.apache.spark.sql.functions.{col, expr}
    val e = org.apache.spark.sql.graftcol.NativeColumn.expression(_: org.apache.spark.sql.Column)
    val c = org.apache.spark.sql.graftcol.NativeColumn.column(_: org.apache.spark.sql.catalyst.expressions.Expression)
    def all(): Seq[Seq[org.apache.spark.sql.Row]] = {
      val docs = Q.t(spark, sf, "documents")
        .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("ws"))
        .limit(50)
      val ws = e(col("ws"))
      Seq(
        docs.select(c(graft.functions.WordCounts(ws))).collect().toSeq,
        docs.select(c(graft.functions.WordBigramCounts(ws))).collect().toSeq,
        docs.select(c(graft.functions.WordTrigramSet(ws))).collect().toSeq,
        docs.select(c(graft.functions.WordEntropyStats(ws))).collect().toSeq,
        docs.select(c(graft.functions.MattrStats(ws))).collect().toSeq,
        docs.select(c(graft.functions.BigramEdgeCounts(ws))).collect().toSeq,
        docs.select(c(graft.functions.TrigramXxhashChain(ws))).collect().toSeq,
        Q.t(spark, sf, "embeddings").limit(50)
          .select(c(graft.functions.DecimalSqDevArgmin(
            e(org.apache.spark.sql.functions.transform(col("embedding"),
              _.cast("double"))),
            Array(Array.fill(64)(0.0), Array.fill(64)(0.1)),
            Array(1L, 2L), 12))).collect().toSeq)
    }
    val default = all()
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val forced = try all() finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
    assert(default.forall(_.nonEmpty))
    assert(default == forced,
      "a round-15 kernel diverged (or failed to compile) under CODEGEN_ONLY")
  }

  test("interarrival stats match a local recompute for one event type") {
    val rows = Pipeline.eventInterarrival(spark, sf).collect()
    assert(rows.nonEmpty)
    val ev = Q.t(spark, sf, "events")
      .filter(col("event_type") === "click")
      .select("user_id", "event_id", "ts").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[java.sql.Timestamp]("ts")))
    def us(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val gaps = ev.groupBy(_._1).values.flatMap { g =>
      val sorted = g.sortBy(e => (us(e._3), e._2))
      sorted.sliding(2).collect {
        case Array(a, b) => (us(b._3) - us(a._3)) / 1e6
      }
    }.toSeq
    val row = rows.find(_.getAs[String]("event_type") == "click").get
    assert(row.getAs[Long]("n_gaps") == gaps.length)
    val mean = gaps.sum / gaps.length
    assert(math.abs(row.getAs[Double]("mean_gap_s") - mean) < 1e-3)
    val sd = math.sqrt(gaps.map(g => (g - mean) * (g - mean)).sum / (gaps.length - 1))
    assert(math.abs(row.getAs[Double]("sd_gap_s") - sd) < 1e-2)
  }

  test("Kaplan-Meier curve is monotone with a consistent risk set") {
    val rows = Pipeline.eventSurvival(spark, sf).collect()
    assert(rows.nonEmpty)
    val ts = rows.map(_.getAs[Int]("t_days"))
    assert(ts.sorted.sameElements(ts))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("n_risk") < a.getAs[Long]("n_risk"),
          "risk set must strictly shrink between observed times")
        assert(b.getAs[Double]("survival") <= a.getAs[Double]("survival"),
          "KM survival must be non-increasing")
      case _ => ()
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("n_event") <= r.getAs[Long]("n_risk"))
      val h = r.getAs[Double]("hazard")
      assert(h >= 0.0 && h <= 1.0)
      val sv = r.getAs[Double]("survival")
      assert(sv >= 0.0 && sv <= 1.0)
    }
    // the first point's survival is exactly 1 - its hazard (product of one)
    val first = rows.head
    assert(math.abs(first.getAs[Double]("survival") -
      (1.0 - first.getAs[Long]("n_event").toDouble /
        first.getAs[Long]("n_risk"))) < 1e-5)
    // risk set at t0 is every user
    val users = Q.t(spark, sf, "events").select("user_id").distinct().count()
    assert(first.getAs[Long]("n_risk") == users)
  }

  test("embedding outlier z-scores are standardized and match one local distance") {
    val rows = Pipeline.embOutliers(spark, sf).collect()
    assert(rows.nonEmpty)
    val zs = rows.map(_.getAs[Double]("z"))
    val mz = zs.sum / zs.length
    assert(math.abs(mz) < 1e-3, s"z mean $mz not ~0")
    val vz = zs.map(z => (z - mz) * (z - mz)).sum / (zs.length - 1)
    assert(math.abs(vz - 1.0) < 1e-2, s"z variance $vz not ~1")
    assert(rows.count(_.getAs[Boolean]("is_outlier")) < rows.length / 20,
      "outlier flag fires on >5% of vectors — threshold is broken")
    // recompute one vector's centroid distance locally (quantization-free
    // reference; the operator's decimal lanes agree to ~1e-5)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val dim = vecs.values.head.length
    val centroid = Array.tabulate(dim)(i => vecs.values.map(_(i)).sum / vecs.size)
    val id0 = rows.head.getAs[Long]("vec_id")
    val d0 = math.sqrt(vecs(id0).zip(centroid)
      .map { case (x, c) => (x - c) * (x - c) }.sum)
    assert(math.abs(rows.head.getAs[Double]("dist") - d0) < 1e-4,
      s"vec $id0: local $d0 vs ${rows.head.getAs[Double]("dist")}")
  }
}

/** Driver-local ground-truth recomputes for the incremental dedup,
  * A/B test, interval-overlap join and Gopher-rule filter. */
class IngestOpsSpec extends AnyFunSuite {
  import SparkSpec._
  import org.apache.spark.sql.functions._

  /** Mirror of Pipeline.minhashSignature's universal-hash lane family:
    * one md5 per shingle, lane j = (a + j*b) mod 2^31-1. */
  private val LaneP = 2147483647L
  private def laneSeeds(s: String): (Long, Long) = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.substring(0, 15), 16) % LaneP,
      java.lang.Long.parseLong(hex.substring(16, 31), 16) % LaneP)
  }

  test("incremental dedup matches a local cross-half MinHash recompute") {
    val rows = Pipeline.dedupIncremental(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val cut = docs.map(_._1).max / 2
    val nH = 16; val bandSize = 4
    val sigs = docs.map { case (id, text) =>
      val shingles = (1 to math.max(text.length - 7, 1))
        .map(i => text.substring(i - 1, math.min(i + 7, text.length)))
        .distinct
      val seeds = shingles.map(laneSeeds)
      id -> Array.tabulate(nH)(j =>
        seeds.map { case (a, b) => (a + j * b) % LaneP }.min)
    }
    val (ref, neu) = sigs.partition(_._1 <= cut)
    val expected = neu.map { case (nid, mhN) =>
      val matches = ref.flatMap { case (rid, mhR) =>
        val shareBand = (0 until nH / bandSize).exists { b =>
          (b * bandSize until (b + 1) * bandSize).forall(i => mhN(i) == mhR(i))
        }
        if (!shareBand) None
        else {
          val j = mhN.zip(mhR).count { case (x, y) => x == y }.toDouble / nH
          val jr = BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          if (jr >= 0.35) Some(jr.toDouble) else None
        }
      }
      nid -> matches
    }.toMap
    assert(rows.length == expected.size, "one row per new doc")
    rows.foreach { r =>
      val exp = expected(r.getAs[Long]("new_id"))
      assert(r.getAs[Long]("n_ref_dups") == exp.length, s"dup count: $r")
      assert(r.getAs[Boolean]("is_dup") == exp.nonEmpty)
      if (exp.nonEmpty)
        assert(r.getAs[Double]("best_jaccard") == exp.max, s"best jaccard: $r")
      else assert(r.isNullAt(r.fieldIndex("best_jaccard")))
    }
    assert(rows.count(_.getAs[Boolean]("is_dup")) > 0,
      "no cross-half duplicates - corpus structure lost")
  }

  test("A/B z-test matches a local recompute and covers every event") {
    val row = Pipeline.eventAbTest(spark, sf).collect().head
    val ev = Q.t(spark, sf, "events")
      .select("props", "event_type").collect()
      .map { r =>
        val k = """"k":\s*(\d+)""".r.findFirstMatchIn(r.getString(0)).get
          .group(1).toLong
        (k % 2, r.getString(1) == "purchase")
      }
    val (a, b) = ev.partition(_._1 == 0L)
    assert(row.getAs[Long]("n_a") == a.length)
    assert(row.getAs[Long]("n_b") == b.length)
    assert(row.getAs[Long]("c_a") == a.count(_._2))
    assert(row.getAs[Long]("c_b") == b.count(_._2))
    val (ra, rb) = (a.count(_._2).toDouble / a.length,
      b.count(_._2).toDouble / b.length)
    val pp = (a.count(_._2) + b.count(_._2)).toDouble / ev.length
    val z = (rb - ra) / math.sqrt(pp * (1 - pp) *
      (1.0 / a.length + 1.0 / b.length))
    assert(math.abs(row.getAs[Double]("z") - z) < 1e-5)
    assert(row.getAs[Boolean]("significant") == (math.abs(z) > 1.959964))
  }

  test("interval-overlap counts match a local sessionize-and-scan") {
    val rows = Pipeline.joinIntervalOverlap(spark, sf).collect()
    assert(rows.nonEmpty)
    def us(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val ev = Q.t(spark, sf, "events")
      .select("user_id", "event_id", "ts", "event_type").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        us(r.getAs[java.sql.Timestamp]("ts")), r.getAs[String]("event_type")))
    val incidents = ev.filter(_._4 == "error")
      .map(e => (e._3, e._3 + 3600L * 1000000L))
    // local sessions per user (30-min gap rule)
    val sessions = ev.groupBy(_._1).flatMap { case (uid, g) =>
      val sorted = g.sortBy(e => (e._3, e._2))
      val bounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      sorted.foreach { e =>
        if (bounds.nonEmpty && e._3 - bounds.last._2 <= 1800L * 1000000L)
          bounds(bounds.length - 1) = (bounds.last._1, e._3)
        else bounds += ((e._3, e._3))
      }
      bounds.map { case (s0, s1) => (uid, s0, s1) }
    }.toSeq
    val expect = sessions.map { case (uid, s0, s1) =>
      (uid, s0) -> incidents.count { case (i0, i1) => s0 < i1 && i0 <= s1 }
    }.toMap
    // operator emits only sessions with >=1 overlap
    assert(rows.length == expect.count(_._2 > 0))
    rows.foreach { r =>
      val key = (r.getAs[Long]("user_id"),
        us(r.getAs[java.sql.Timestamp]("s_start")))
      assert(expect(key) == r.getAs[Long]("n_incidents"), s"overlap count: $r")
    }
  }

  test("gopher rules: keep is the conjunction and both binding rules vary") {
    val rows = Pipeline.textGopherRules(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val conj = r.getAs[Boolean]("ok_length") && r.getAs[Boolean]("ok_wlen") &&
        r.getAs[Boolean]("ok_alpha") && r.getAs[Boolean]("ok_symbols") &&
        r.getAs[Boolean]("ok_stopwords")
      assert(r.getAs[Boolean]("keep") == conj, s"keep != conjunction: $r")
    }
    val kept = rows.count(_.getAs[Boolean]("keep"))
    assert(kept > 0 && kept < rows.length,
      s"degenerate keep rate $kept/${rows.length}")
    assert(rows.exists(!_.getAs[Boolean]("ok_length")))
    assert(rows.exists(!_.getAs[Boolean]("ok_stopwords")))
    // spot-check counts on one dropped doc
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.filter(!_.getAs[Boolean]("keep")).take(20).foreach { r =>
      val ws = texts(r.getAs[Long]("doc_id")).trim.split("\\s+")
      assert(r.getAs[Long]("wc") == ws.length)
      val stops = Set("the", "a", "an", "of", "to", "in", "and", "is",
        "that", "for")
      assert(r.getAs[Long]("n_stop") == ws.count(w => stops(w.toLowerCase)))
    }
  }

  test("containment matches exact shingle-set math on every emitted pair") {
    val rows = Pipeline.textContainment(spark, sf).collect()
    assume(rows.nonEmpty, "corpus has no LSH candidate pairs")
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(t: String): Set[String] = {
      // codepoint windows, matching substring(text, i, 8) semantics
      val cps = t.codePoints().toArray
      val n = cps.length
      (1 to math.max(n - 7, 1)).map { i =>
        val until = math.min(i + 7, n)
        new String(cps, i - 1, until - (i - 1))
      }.toSet
    }
    rows.foreach { r =>
      val a = shingles(texts(r.getAs[Long]("doc1")))
      val b = shingles(texts(r.getAs[Long]("doc2")))
      val shared = (a intersect b).size.toLong
      assert(r.getAs[Long]("n_shared") == shared, s"n_shared: $r")
      val expect = shared.toDouble / math.min(a.size, b.size)
      assert(math.abs(r.getAs[Double]("containment") - expect) < 1e-6,
        s"containment: $r expected $expect")
      assert(r.getAs[Boolean]("near_contained") ==
        (r.getAs[Double]("containment") >= 0.5))
    }
  }

  test("shingle-hash + intersect-count kernels match the HOF chain, any codegen mode") {
    import org.apache.spark.sql.functions.{col, expr}
    import spark.implicits._
    // two overlapping supplementary-plane docs: 😀 is a surrogate pair in
    // UTF-16, so these catch any code-unit (vs codepoint) shingle walk
    val nonBmp = Seq(
      (900001L, "smiley 😀 doc 😀 with surrogate pairs 😀😀 end"),
      (900002L, "smiley 😀 doc 😀 with surrogate pairs 😀 tail"))
      .toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).union(nonBmp)
    def kernel(): Map[(Long, Long), Long] = {
      val hs = docs.select(col("doc_id"),
        org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.ShingleHashes(
            org.apache.spark.sql.graftcol.NativeColumn.expression(col("text"))))
          .as("hsh"))
      hs.as("a").join(hs.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"),
          org.apache.spark.sql.graftcol.NativeColumn.column(
            graft.functions.ArrayLongIntersectCount(
              org.apache.spark.sql.graftcol.NativeColumn.expression(col("a.hsh")),
              org.apache.spark.sql.graftcol.NativeColumn.expression(col("b.hsh")))))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    val hof = {
      val hs = docs.select(col("doc_id"), expr(
        """transform(array_distinct(transform(
          |  sequence(1, greatest(length(text) - 7, 1)),
          |  i -> substring(text, i, 8))), x -> xxhash64(x))""".stripMargin)
        .as("hsh"))
      hs.as("a").join(hs.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"),
          expr("cast(size(array_intersect(a.hsh, b.hsh)) as bigint)"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    val n0 = kernel()
    assert(n0.nonEmpty && n0 == hof)
    assert(n0.values.exists(_ > 0), "no overlapping pair in the corpus")
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
  }

  test("benford digit shares sum to one and counts match a local tally") {
    val rows = Pipeline.statBenford(spark, sf).collect()
    val local = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_totalprice").collect()
      .map(_.getDouble(0)).filter(_ >= 1)
      .map(p => math.floor(p).toLong.toString.head.asDigit.toLong)
      .groupBy(identity).map { case (d, g) => d -> g.length.toLong }
    assert(rows.map(_.getAs[Long]("digit")).toSet.subsetOf((1L to 9L).toSet))
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == local(r.getAs[Long]("digit")), s"count: $r")
      val d = r.getAs[Long]("digit").toDouble
      assert(math.abs(r.getAs[Double]("expected") - math.log10(1 + 1 / d)) < 1e-5)
    }
    assert(math.abs(rows.map(_.getAs[Double]("observed")).sum - 1.0) < 1e-4)
  }

  test("silhouette agrees with a local centroid recompute per label") {
    val rows = Pipeline.embSilhouette(spark, sf).collect()
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    val labels = vecs.map(_._1).distinct
    val cents = labels.map { l =>
      val g = vecs.filter(_._1 == l).map(_._2)
      l -> g.transpose.map(xs => xs.sum / xs.length).toArray
    }.toMap
    def dist(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val expect = labels.map { l =>
      val g = vecs.filter(_._1 == l)
      val sil = g.map { case (_, v) =>
        val a = dist(v, cents(l))
        val b = labels.filter(_ != l).map(o => dist(v, cents(o))).min
        (b - a) / math.max(a, b)
      }
      l -> (sil.sum / sil.length)
    }.toMap
    assert(rows.length == labels.length)
    rows.foreach { r =>
      val m = r.getAs[Double]("mean_silhouette")
      assert(m >= -1.0 && m <= 1.0)
      assert(math.abs(m - expect(r.getAs[Int]("label"))) < 1e-4,
        s"silhouette: $r expected ${expect(r.getAs[Int]("label"))}")
    }
  }

  test("zipf slope matches a local OLS fit and is negative for unigrams") {
    val rows = Pipeline.corpusZipf(spark, sf).collect()
      .map(r => r.getAs[String]("gram_type") -> r).toMap
    assert(rows.keySet == Set("unigram", "bigram"))
    val ws = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0).trim.split("\\s+").toSeq)
    def fit(grams: Seq[String]): (Long, Double) = {
      val counts = grams.groupBy(identity).map { case (g, o) => (g, o.size.toLong) }
      val ranked = counts.toSeq.sortBy { case (g, c) => (-c, g) }.zipWithIndex
      val pts = ranked.map { case ((_, c), i) =>
        (math.log((i + 1).toDouble), math.log(c.toDouble)) }
      val n = pts.length.toDouble
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      (pts.length.toLong, (n * sxy - sx * sy) / (n * sxx - sx * sx))
    }
    val (un, us) = fit(ws.toSeq.flatten)
    val (bn, bs) = fit(ws.toSeq.filter(_.length >= 2).flatMap(w =>
      w.sliding(2).map(_.mkString(" "))))
    assert(us < 0, "unigram zipf slope should be negative")
    assert(rows("unigram").getAs[Long]("vocab_size") == un)
    assert(rows("bigram").getAs[Long]("vocab_size") == bn)
    assert(math.abs(rows("unigram").getAs[Double]("zipf_slope") - us) < 1e-4)
    assert(math.abs(rows("bigram").getAs[Double]("zipf_slope") - bs) < 1e-4)
  }
}

/** The one connected-components core: its driver union-find and its
  * distributed fixpoint return the same rows, and both return each
  * node's true component minimum. */
object ComponentsSpec {
  import SparkSpec._
  import org.scalatest.Assertions._

  def checkBothPaths(edges: Seq[(Long, Long)], minima: Map[Long, Long]): Unit = {
    val driver = Q.componentsDriver(edges.toArray).toMap
    val dist = Q.componentsDistributed(spark,
        spark.createDataFrame(edges).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == driver, s"driver=$driver dist=$dist")
    assert(driver == minima)
  }
}

/** The round loop behind every iterated op stops loudly at its cap. */
class IterateSpec extends AnyFunSuite {
  import SparkSpec._

  test("a loop that never converges throws at its cap and leaves no pin") {
    // Σx grows every round, so the fixpoint never comes; the input pin and
    // each step's inner pin must go too, and every round's jobs carry the
    // op|round|k description
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val (input, inputIds) = Q.pinnedIds(spark)(spark.range(4).toDF().localCheckpoint())
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val err = try {
      intercept[IllegalStateException] {
        Q.iterate(spark, "never_converges", spark.range(3).toDF("x"), inputIds,
          Q.fixpoint(4)(df => df.agg(org.apache.spark.sql.functions.sum("x"))
            .head().getLong(0))) { prev =>
          prev.join(input.localCheckpoint(), prev("x") === col("id"), "left")
            .select((prev("x") + 1).as("x"))
        }
      }
    } finally {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    assert(err.getMessage.contains("never_converges") &&
      err.getMessage.contains("round 4"), err.getMessage)
    assert(sc.getPersistentRDDs.keySet.toSet == before)
    val labels = descs.toArray(Array.empty[String]).toSeq
    assert(labels.distinct == (0 to 4).map(k => s"never_converges|round|$k"), labels)
    assert(sc.getLocalProperty("spark.job.description") == null)
  }
}

class ComponentsSpec extends AnyFunSuite {
  test("distributed fixpoint == driver union-find == true minima on an 80-node scrambled path") {
    // the path visits the ids in a scrambled order: a label moving one
    // hop per round would need 79 rounds
    val order = (0 until 80).map(i => (i * 37 % 80 + 1).toLong)
    ComponentsSpec.checkBothPaths(order.zip(order.tail), order.map(_ -> 1L).toMap)
  }
}

/** The core's two paths agree on chained star buckets, the edge shape
  * graphComponents feeds it. */
class ComponentPathsSpec extends AnyFunSuite {
  test("componentLabelsDistributed == repComponentsDriver on a star graph") {
    // star edges member->bucket-min, two chained buckets, isolated pair
    ComponentsSpec.checkBothPaths(Seq(
        (2L, 1L), (3L, 1L), (4L, 3L), (5L, 3L),   // chained stars -> comp 1
        (7L, 6L), (9L, 8L), (10L, 8L)),
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
        6L -> 6L, 7L -> 6L, 8L -> 8L, 9L -> 8L, 10L -> 8L))
  }
}

/** The core's two paths agree on the rep-pair graphs dedupGroups feeds
  * it, and dedupGroups over the distributed path equals the shipped
  * operator, which solves on the driver at the spec corpus. */
class DedupComponentPathsSpec extends AnyFunSuite {
  import SparkSpec._

  test("driver union-find == distributed min-label fixpoint") {
    // chain 1-2-3-4 (+5), clique {10,11,12}, pair (20,21) with dup and
    // reversed edges, hub 30 bridging two chains
    ComponentsSpec.checkBothPaths(Seq(
        (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L),
        (20L, 21L), (21L, 20L), (20L, 21L), (30L, 31L), (32L, 30L),
        (33L, 32L), (5L, 4L)),
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L,
        30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L))
  }

  test("dedupGroups output at the spec corpus matches the distributed path") {
    // force the whole operator through both component routes: the shipped
    // operator (driver path at this corpus size) vs a reconstruction that
    // always runs the distributed fixpoint over the same rep pairs
    val shipped = Pipeline.dedupGroups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (members, repPairs) = Pipeline.minhashScaffold(spark, sf)
    import org.apache.spark.sql.functions._
    val labelsRep = Q.componentsDistributed(
        spark, repPairs.select(col("r1"), col("r2")))
      .withColumnRenamed("node", "rep")
    val docRep = members.join(
      members.groupBy("th").agg(min("doc_id").as("rep"),
        count(lit(1)).as("gsz")), "th")
    val viaDist = docRep.join(labelsRep, Seq("rep"), "left")
      .filter(col("label").isNotNull || col("gsz") >= 2)
      .select(col("doc_id"), coalesce(col("label"), col("rep")).as("keep_id"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(shipped == viaDist)
  }
}
