package graft

import org.scalacheck.{Gen, Prop, Properties}

/** Property-based validation (ScalaCheck) of the round-13 pure logic
  * over RANDOM inputs — the corpus-driven specs exercise real text;
  * these drive the same code through thousands of adversarial small
  * cases (heavy ties, tiny vocabularies, empty and repeated words)
  * where the proofs actually bite. */
object KernelPropertySpec extends Properties("graft.kernels") {

  // 500 cases per property: the BPE self-pair hole (see bpeSafePrefix's
  // scaladoc) surfaced only on some seeds at the default 100
  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(500)

  // ---------- batched-BPE safe prefix vs a sequential reference ----------

  private def tokens(seq: String): Array[String] =
    seq.split("\\|").filter(_.nonEmpty)

  private def pairCounts(docs: Seq[String]): Map[String, Long] =
    docs.flatMap { d =>
      val t = tokens(d)
      if (t.length < 2) Nil
      else t.zip(t.tail).map(p => p._1 + "|" + p._2).toSeq
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  /** Greedy left-to-right non-overlapping fuse — Java String.replace,
    * the same semantics as Spark's `replace` and DuckDB's `replace`. */
  private def fuse(d: String, pair: String): String = {
    val Array(a, b) = pair.split("\\|", 2)
    d.replace(s"|$a|$b|", s"|$a~$b|")
  }

  /** Sequential BPE reference: argmax (count desc, pair asc) per step. */
  private def sequential(docs0: Seq[String], steps: Int): Seq[(String, Long)] = {
    var docs = docs0
    val out = Seq.newBuilder[(String, Long)]
    var k = 0
    while (k < steps) {
      val pc = pairCounts(docs)
      if (pc.isEmpty) return out.result()
      val (pair, c) = pc.toSeq.minBy { case (p, n) => (-n, p) }
      out += ((pair, c))
      docs = docs.map(fuse(_, pair))
      k += 1
    }
    out.result()
  }

  private val genCorpus: Gen[List[List[String]]] = {
    val word = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val doc = Gen.choose(0, 16).flatMap(n => Gen.listOfN(n, word))
    Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, doc))
  }

  property("bpeSafePrefix == the sequential BPE merge prefix") =
    Prop.forAll(genCorpus) { ws =>
      val docs = ws.map(w => "|" + w.mkString("|") + "|")
      val pc = pairCounts(docs)
      val topK = 8 // small so the truncation barrier is exercised
      val top = pc.toSeq.sortBy { case (p, n) => (-n, p) }
        .take(topK).toIndexedSeq
      val batch = Pipeline.bpeSafePrefix(top, topK, remaining = 5)
      if (pc.isEmpty) Prop(batch.isEmpty)
      else {
        val ref = sequential(docs, batch.length).toIndexedSeq
        Prop(batch.nonEmpty && batch == ref) :| s"batch=$batch ref=$ref"
      }
    }

  // repeated batching drains to the same full merge table as sequential
  property("iterated bpeSafePrefix batches replay sequential BPE end-to-end") =
    Prop.forAll(genCorpus) { ws =>
      val steps = 5
      var docs = ws.map(w => "|" + w.mkString("|") + "|")
      val got = Seq.newBuilder[(String, Long)]
      var done = 0
      var dry = false
      while (done < steps && !dry) {
        val pc = pairCounts(docs)
        if (pc.isEmpty) dry = true
        else {
          val top = pc.toSeq.sortBy { case (p, n) => (-n, p) }
            .take(8).toIndexedSeq
          val batch = Pipeline.bpeSafePrefix(top, 8, steps - done)
          got ++= batch
          done += batch.length
          batch.foreach { case (pair, _) => docs = docs.map(fuse(_, pair)) }
        }
      }
      val expect = sequential(ws.map(w => "|" + w.mkString("|") + "|"), done)
      Prop(got.result() == expect) :| s"got=${got.result()} expect=$expect"
    }

  // ---------- winnow kernel vs a plain-Scala reference ----------

  private def md5Lane(s: String): Long = {
    val dg = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    var a = 0L
    var k = 0
    while (k < 7) { a = (a << 8) | (dg(k) & 0xffL); k += 1 }
    (a << 4) | ((dg(7) & 0xffL) >>> 4)
  }

  private def winnowRef(ws: Seq[String], k: Int, w: Int): Seq[Long] = {
    if (ws.length < k) return Seq.empty
    val hs = (0 to ws.length - k).map(p => md5Lane(ws.slice(p, p + k).mkString(" ")))
    val seen = scala.collection.mutable.LinkedHashSet[Long]()
    for (p <- (w - 1) until hs.length)
      if (hs(p) == (p - w + 1 to p).map(hs).min) seen += hs(p)
    seen.toSeq
  }

  private val genWords: Gen[List[String]] = {
    val word = Gen.oneOf("x", "y", "z", "xy", "", "Ω", "a b".trim)
    Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, word))
  }

  property("WinnowFingerprints.select == the reference window minima") =
    Prop.forAll(genWords) { ws =>
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ws.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
      val got = graft.functions.WinnowFingerprints.select(in, 4, 4)
        .toLongArray().toSeq
      val expect = winnowRef(ws, 4, 4)
      Prop(got == expect) :| s"got=$got expect=$expect ws=$ws"
    }

  // ---------- RAKE kernel vs an independent Scala reference ----------

  private def rakeRef(text: String): Seq[(String, Double)] = {
    val stops = graft.functions.RakeTop3.Stops.toSet
    // Spark trim strips 0x20 only; split keeps limit=-1 semantics
    val trimmed = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    val words = trimmed.split("\\s+", -1)
    val phrases = scala.collection.mutable.ArrayBuffer[List[String]]()
    var cur = List.empty[String]
    words.foreach { w =>
      if (stops(w)) { if (cur.nonEmpty) { phrases += cur.reverse; cur = Nil } }
      else cur = w :: cur
    }
    if (cur.nonEmpty) phrases += cur.reverse
    if (phrases.isEmpty) return Seq.empty
    val all = phrases.flatten
    val freq = all.groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val deg = phrases.flatMap(p => p.map(_ -> p.length.toLong))
      .groupBy(_._1).map { case (w, o) => w -> o.map(_._2).sum }
    // java BigDecimal.valueOf = Double.toString shortest-repr, the same
    // route Spark's double->decimal cast takes
    val wscore = freq.keys.map { w =>
      w -> java.math.BigDecimal.valueOf(deg(w).toDouble / freq(w))
        .setScale(12, java.math.RoundingMode.HALF_UP)
    }.toMap
    phrases.map { p =>
      val sum = p.foldLeft(java.math.BigDecimal.ZERO)((a, w) => a.add(wscore(w)))
      (p.mkString(" "), sum.doubleValue())
    }.sortBy { case (ph, sc) => (-sc, ph) }.take(3).toSeq
  }

  private val genText: Gen[String] = {
    val tok = Gen.oneOf("the", "a", "of", "cat", "dog", "ran", "far", "Ω",
      "in", "to", "cat", "big")
    for {
      n <- Gen.choose(0, 20)
      ts <- Gen.listOfN(n, tok)
      pad <- Gen.oneOf("", " ", "  ")
    } yield pad + ts.mkString(" ") + pad
  }

  property("RakeTop3.top3 == an independent RAKE reference") =
    Prop.forAll(genText) { text =>
      val got = graft.functions.RakeTop3.top3(text).array.toSeq.map { r =>
        val row = r.asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
        (row.values(0).toString, row.values(1).asInstanceOf[Double])
      }
      val expect = rakeRef(text)
      Prop(got == expect) :| s"got=$got expect=$expect text='$text'"
    }

  // ---------- ngram-hash kernel vs an independent distinct-gram walk ----------

  private def ngramRef(ws: Seq[String], n: Int): Seq[Long] = {
    val nw = ws.length
    val last = math.max(nw - (n - 1), 1)
    val seen = scala.collection.mutable.LinkedHashSet[Option[String]]()
    for (i <- 0 until last)
      seen += (if (i + n <= nw) Some(ws.slice(i, i + n).mkString(" ")) else None)
    seen.toSeq.map {
      case Some(g) => org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(org.apache.spark.unsafe.types.UTF8String.fromString(g),
          org.apache.spark.sql.types.StringType, 42L)
      case None => 42L // the null gram hashes to the seed
    }
  }

  property("NgramMd5Lanes.compute == distinct md5 lanes of space-joined grams") =
    Prop.forAll(genWords) { ws =>
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ws.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
      val got = graft.functions.NgramMd5Lanes.compute(in, 3).toLongArray().toSeq
      val expect =
        if (ws.length < 3) Seq.empty
        else (0 to ws.length - 3)
          .map(i => md5Lane(ws.slice(i, i + 3).mkString(" "))).distinct
      Prop(got == expect) :| s"got=$got expect=$expect ws=$ws"
    }

  property("NgramMd5LaneCounts.compute == distinct lanes with multiplicities") =
    Prop.forAll(genWords) { ws =>
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ws.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
      val got = graft.functions.NgramMd5LaneCounts.compute(in, 3)
        .array.toSeq.map { r =>
          val row = r.asInstanceOf[
            org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
          (row.getLong(0), row.getLong(1))
        }
      val lanes =
        if (ws.length < 3) Seq.empty
        else (0 to ws.length - 3).map(i => md5Lane(ws.slice(i, i + 3).mkString(" ")))
      val expect = lanes.distinct.map(l => (l, lanes.count(_ == l).toLong))
      Prop(got == expect) :| s"got=$got expect=$expect ws=$ws"
    }

  // supplementary-plane character included: word keys must compare by
  // bytes, not by any BMP-only shortcut
  private val genWordsEmoji: Gen[List[String]] = {
    val word = Gen.oneOf("x", "y", "z", "xy", "", "Ω", "😀", "a😀b")
    Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, word))
  }

  property("WordCounts.compute == distinct words with multiplicities") =
    Prop.forAll(genWordsEmoji) { ws =>
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ws.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
      val got = graft.functions.WordCounts.compute(in)
        .array.toSeq.map { r =>
          val row = r.asInstanceOf[
            org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
          (row.getUTF8String(0).toString, row.getLong(1))
        }
      val expect = ws.distinct.map(w => (w, ws.count(_ == w).toLong))
      Prop(got == expect) :| s"got=$got expect=$expect ws=$ws"
    }

  property("WordBigramCounts.compute == distinct space-joined bigram counts") =
    Prop.forAll(genWordsEmoji) { ws =>
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ws.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
      val got = graft.functions.WordBigramCounts.compute(in)
        .array.toSeq.map { r =>
          val row = r.asInstanceOf[
            org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
          (row.getUTF8String(0).toString, row.getLong(1))
        }
      val grams =
        if (ws.length < 2) Nil
        else ws.zip(ws.tail).map { case (a, b) => s"$a $b" }
      val expect = grams.distinct.map(g => (g, grams.count(_ == g).toLong))
      Prop(got == expect) :| s"got=$got expect=$expect ws=$ws"
    }

  property("WordTrigramSet.compute == distinct sliding trigrams (null edge incl.)") =
    Prop.forAll(genWordsEmoji) { ws =>
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ws.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
      val got = graft.functions.WordTrigramSet.compute(in)
        .array.toSeq.map(x =>
          if (x == null) null else x.toString)
      val expect: Seq[String] =
        if (ws.length < 3) Seq(null)
        else ws.sliding(3).map(_.mkString(" ")).toSeq.distinct
      Prop(got == expect) :| s"got=$got expect=$expect ws=$ws"
    }

  property("MattrStats.tu == the sum of per-window distinct type counts") =
    Prop.forAll(genWordsEmoji) { ws =>
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ws.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
      val got = graft.functions.MattrStats.compute(in)
      val n = ws.length
      val nw = math.max(n - 49, 1)
      // the independent route: MATTR's total type contributions equal
      // the sum over all nw windows of the window's distinct type count
      val expectTu = (0 until nw)
        .map(w => ws.slice(w, math.min(w + 50, n)).distinct.size.toLong).sum
      Prop(got.getLong(0) == n.toLong && got.getLong(1) == nw.toLong &&
        got.getLong(2) == expectTu) :|
        s"got=(${got.getLong(0)},${got.getLong(1)},${got.getLong(2)}) " +
        s"expect=($n,$nw,$expectTu) ws=$ws"
    }

  property("BigramEdgeCounts.compute == HOF edge pairs incl. null edges") =
    Prop.forAll(genWordsEmoji) { ws =>
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ws.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
      val got = graft.functions.BigramEdgeCounts.compute(in)
        .array.toSeq.map { r =>
          val row = r.asInstanceOf[
            org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
          (Option(row.getUTF8String(0)).map(_.toString),
            Option(row.getUTF8String(1)).map(_.toString), row.getLong(2))
        }
      // replay sequence(1, n-1): ascending for n >= 2, descending below
      // (the null-edge single-word case)
      val n = ws.length
      val idx = if (n - 1 >= 1) (1 to n - 1) else (1 to (n - 1) by -1)
      def at(i: Int): Option[String] =
        if (i < 0 || i >= n) None else Some(ws(i))
      val raw = idx.map(i => (at(i - 1), at(i)))
      val expect = raw.distinct.map { p =>
        (p._1, p._2, raw.count(_ == p).toLong)
      }
      Prop(got == expect) :| s"got=$got expect=$expect ws=$ws"
    }

  property("TrigramXxhashChain.compute == the multi-arg xxhash64 HOF replay") =
    Prop.forAll(genWordsEmoji) { ws =>
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ws.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
      val got = graft.functions.TrigramXxhashChain.compute(in)
        .toLongArray().toSeq
      def hash(i: Int): Long = {
        // xxhash64(a, b, c): seed 42, null args (out of range) skipped
        var h = 42L
        (i - 1 to i + 1).foreach { k =>
          if (k >= 0 && k < ws.length)
            h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
              org.apache.spark.unsafe.types.UTF8String.fromString(ws(k)),
              org.apache.spark.sql.types.StringType, h)
        }
        h
      }
      val expect = (1 to math.max(ws.length - 2, 1)).map(hash).distinct
      Prop(got == expect) :| s"got=$got expect=$expect ws=$ws"
    }

  property("WordEntropyStats.compute == the independent decimal-sum route") =
    Prop.forAll(genWordsEmoji) { ws =>
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ws.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
      val got = graft.functions.WordEntropyStats.compute(in)
      val nWords = got.getLong(0)
      val nUnique = got.getLong(1)
      // independent term route: shortest-decimal-string BigDecimal (the
      // same value Spark's Cast(double -> decimal) starts from) rounded
      // HALF_UP to scale 12, summed exactly
      val terms = ws.distinct.map { w =>
        val p = ws.count(_ == w).toDouble / ws.length
        new java.math.BigDecimal(java.lang.Double.toString(-p * math.log(p)))
          .setScale(12, java.math.RoundingMode.HALF_UP)
      }
      val expectRaw =
        if (terms.isEmpty) null
        else terms.reduce(_.add(_))
      val gotRaw =
        if (got.isNullAt(2)) null
        else got.getDecimal(2, 38, 12).toJavaBigDecimal
          .setScale(12, java.math.RoundingMode.UNNECESSARY)
      Prop(nWords == ws.length.toLong && nUnique == ws.distinct.length.toLong &&
        ((gotRaw == null && expectRaw == null) ||
          (gotRaw != null && expectRaw != null &&
            gotRaw.compareTo(expectRaw) == 0))) :|
        s"got=($nWords,$nUnique,$gotRaw) expect=(${ws.length},${ws.distinct.length},$expectRaw) ws=$ws"
    }

  property("TopKByScore.Buffer == sortBy.take(k) under any offer/merge order") =
    Prop.forAll(
      Gen.listOf(Gen.zip(
        Gen.oneOf(Gen.const(None),
          Gen.oneOf(-1.0, 0.0, -0.0, 0.5, 1.0, Double.NaN,
            Double.PositiveInfinity).map(Some(_))),
        Gen.oneOf(Gen.const(Option.empty[Long]),
          Gen.choose(0L, 12L).map(Some(_))))),
      Gen.choose(1, 4)) { (xs, k) =>
      // offered in one buffer AND split across two merged buffers — both
      // must equal the reference sort (score DESC NULLS LAST via
      // Double.compare, id ASC NULLS FIRST — Spark's window defaults)
      def cmpId(a: Option[Long], b: Option[Long]): Int = (a, b) match {
        case (Some(x), Some(y)) => java.lang.Long.compare(x, y)
        case (None, Some(_)) => -1 // ASC NULLS FIRST
        case (Some(_), None) => 1
        case (None, None) => 0
      }
      val ord = new Ordering[(Option[Double], Option[Long])] {
        def compare(a: (Option[Double], Option[Long]),
            b: (Option[Double], Option[Long])): Int =
          (a._1, b._1) match {
            case (Some(x), Some(y)) =>
              val c = -java.lang.Double.compare(x, y)
              if (c != 0) c else cmpId(a._2, b._2)
            case (Some(_), None) => -1
            case (None, Some(_)) => 1
            case (None, None) => cmpId(a._2, b._2)
          }
      }
      val expect = xs.sorted(ord).take(k)
      def entry(x: (Option[Double], Option[Long])) =
        new graft.functions.TopKByScore.Entry(
          x._1.isEmpty, x._1.getOrElse(0.0), x._2.isEmpty, x._2.getOrElse(0L))
      def drain(b: graft.functions.TopKByScore.Buffer) =
        (0 until b.size).map { i =>
          val e = b.entries(i)
          (if (e.scoreNull) None else Some(e.score),
            if (e.idNull) None else Some(e.id))
        }.toList
      val one = new graft.functions.TopKByScore.Buffer(k)
      xs.foreach(x => one.offer(entry(x)))
      val (l, r) = xs.splitAt(xs.length / 2)
      val bl = new graft.functions.TopKByScore.Buffer(k)
      val br = new graft.functions.TopKByScore.Buffer(k)
      l.foreach(x => bl.offer(entry(x)))
      r.foreach(x => br.offer(entry(x)))
      (0 until br.size).foreach(i => bl.offer(br.entries(i)))
      val gotOne = drain(one)
      val gotMerged = drain(bl)
      // NaN-aware comparison: Option[Double] == fails on NaN != NaN
      def same(a: List[(Option[Double], Option[Long])],
          b: List[(Option[Double], Option[Long])]) =
        a.length == b.length && a.zip(b).forall { case ((s1, i1), (s2, i2)) =>
          i1 == i2 && ((s1, s2) match {
            case (Some(x), Some(y)) =>
              java.lang.Double.doubleToLongBits(x) ==
                java.lang.Double.doubleToLongBits(y)
            case (None, None) => true
            case _ => false
          })
        }
      Prop(same(gotOne, expect) && same(gotMerged, expect)) :|
        s"one=$gotOne merged=$gotMerged expect=$expect xs=$xs k=$k"
    }

  property("DecimalSqDevArgmin == rank-1 of (dist ASC NULLS FIRST, cid ASC)") =
    Prop.forAll(
      Gen.listOfN(4, Gen.oneOf(-1.0, 0.0, 1.0, 2.0, Double.NaN)),
      Gen.nonEmptyListOf(Gen.listOfN(4,
        Gen.oneOf(-1.0, 0.0, 1.0, 2.0, Double.NaN)))) { (v, cs) =>
      // NaN elements make whole distances null (every term skipped when
      // all squares are NaN) — exercises the NULLS FIRST branch
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        v.toArray[Any])
      val cents = cs.map(_.toArray).toArray
      val cids = cs.indices.map(i => (i + 1).toLong).toArray
      val got = graft.functions.DecimalSqDevArgmin.compute(in, cents, cids, 12)
      val dists = cents.map(c =>
        Option(graft.functions.DecimalSqDevSum.compute(in, c, 12)))
      // left fold replaying (dist ASC NULLS FIRST, cid ASC): an earlier
      // null always wins; a later null beats any non-null; ties keep the
      // earlier (lower) cid
      val expect = cids.zip(dists).reduceLeft[(Long, Option[
          org.apache.spark.sql.types.Decimal])] { (a, b) =>
        val keepA = (a._2, b._2) match {
          case (None, _) => true
          case (_, None) => false
          case (Some(x), Some(y)) =>
            x.toJavaBigDecimal.compareTo(y.toJavaBigDecimal) <= 0
        }
        if (keepA) a else b
      }._1
      Prop(got == expect) :| s"got=$got expect=$expect v=$v cs=$cs"
    }

  property("TopKByScore serialize/deserialize round-trips any buffer") =
    Prop.forAll(
      Gen.listOf(Gen.zip(
        Gen.oneOf(Gen.const(None),
          Gen.oneOf(-1.5, 0.0, -0.0, 2.5, Double.NaN).map(Some(_))),
        Gen.oneOf(Gen.const(Option.empty[Long]),
          Gen.choose(0L, 99L).map(Some(_))))),
      Gen.choose(1, 5)) { (xs, k) =>
      val agg = graft.functions.TopKByScore(
        org.apache.spark.sql.catalyst.expressions.Literal(0.0),
        org.apache.spark.sql.catalyst.expressions.Literal(0L),
        org.apache.spark.sql.catalyst.expressions.Literal(k))
      val buf = new graft.functions.TopKByScore.Buffer(k)
      xs.foreach { case (s, id) =>
        buf.offer(new graft.functions.TopKByScore.Entry(
          s.isEmpty, s.getOrElse(0.0), id.isEmpty, id.getOrElse(0L)))
      }
      val back = agg.deserialize(agg.serialize(buf))
      def drain(b: graft.functions.TopKByScore.Buffer) =
        (0 until b.size).map { i =>
          val e = b.entries(i)
          (e.scoreNull, java.lang.Double.doubleToLongBits(e.score),
            e.idNull, e.id)
        }.toList
      Prop(back.k == buf.k && drain(back) == drain(buf)) :|
        s"orig=${drain(buf)} back=${drain(back)} xs=$xs k=$k"
    }

  // ---------- randomized partition-split merge properties (round 16):
  // split a generated input into random sub-buffers, push each through
  // the aggregate's real update path (BoundReference rows), serialize +
  // deserialize every partial (the exchange), merge in a random order,
  // and pin eval() equal to the single-buffer eval — merge-order /
  // associativity coverage the width-7 Verify run only samples ----------

  private def topkAgg(k: Int) = graft.functions.TopKByScore(
    org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.DoubleType, nullable = true),
    org.apache.spark.sql.catalyst.expressions.BoundReference(
      1, org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.catalyst.expressions.Literal(k))

  property("TopKByScore: random split + random-order merge == one buffer") =
    Prop.forAll(
      Gen.listOf(Gen.zip(
        Gen.oneOf(Gen.const(None),
          Gen.oneOf(-1.0, 0.0, -0.0, 0.5, 1.0, Double.NaN,
            Double.PositiveInfinity).map(Some(_))),
        Gen.oneOf(Gen.const(Option.empty[Long]),
          Gen.choose(0L, 9L).map(Some(_))))),
      Gen.choose(1, 4),
      Gen.listOf(Gen.choose(0, 5)),    // split assignment per row
      Gen.choose(0L, Long.MaxValue)) { (xs, k, splits, seed) =>
      val agg = topkAgg(k)
      def row(x: (Option[Double], Option[Long])) =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](x._1.map(Double.box).orNull, x._2.map(Long.box).orNull))
      def evalList(b: graft.functions.TopKByScore.Buffer) = {
        val arr = agg.eval(b)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        (0 until arr.numElements()).map { i =>
          val r = arr.getStruct(i, 2)
          (if (r.isNullAt(0)) None
           else Some(java.lang.Double.doubleToLongBits(r.getDouble(0))),
            if (r.isNullAt(1)) None else Some(r.getLong(1)))
        }.toList
      }
      val one = agg.createAggregationBuffer()
      xs.foreach(x => agg.update(one, row(x)))
      // random sub-buffers: row i goes to bucket splits(i % ...) (cycled)
      val nBuckets = 6
      val parts = Array.fill(nBuckets)(agg.createAggregationBuffer())
      xs.zipWithIndex.foreach { case (x, i) =>
        val b = if (splits.isEmpty) 0 else splits(i % splits.length)
        agg.update(parts(b), row(x))
      }
      // serde every partial, then merge in a seed-shuffled order
      val order = new scala.util.Random(seed).shuffle((0 until nBuckets).toList)
      val acc = agg.createAggregationBuffer()
      order.foreach(i =>
        agg.merge(acc, agg.deserialize(agg.serialize(parts(i)))))
      Prop(evalList(acc) == evalList(one)) :|
        s"merged=${evalList(acc)} one=${evalList(one)} xs=$xs k=$k order=$order"
    }

  private def gramAgg(scale: Int) = graft.functions.GramDecimalSum(
    org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType), nullable = true),
    scale)

  property("GramDecimalSum: random split + random-order merge == one buffer") =
    Prop.forAll(
      Gen.listOf(Gen.oneOf(
        Gen.const(Option.empty[List[Option[Float]]]),   // null vector row
        Gen.choose(0, 5).flatMap(n => Gen.listOfN(n,
          Gen.oneOf(Gen.const(Option.empty[Float]),     // null element
            // 3e9f: squared products outgrow a scale-6 Long, mixing the
            // r19 long fast path with the BigDecimal slow/spill path
            Gen.oneOf(-2.5f, -0.0f, 0.0f, 0.5f, 3.0f, 3e9f, Float.NaN)
              .map(Some(_))))).map(Some(_)))),
      Gen.listOf(Gen.choose(0, 5)),
      Gen.choose(0L, Long.MaxValue)) { (vs, splits, seed) =>
      val agg = gramAgg(6)
      def row(v: Option[List[Option[Float]]]) =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](v.map(l =>
            new org.apache.spark.sql.catalyst.util.GenericArrayData(
              l.map(_.map(Float.box).orNull).toArray[Any])).orNull))
      def evalCells(b: graft.functions.GramDecimalSum.Buffer) = {
        val arr = agg.eval(b)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        (0 until arr.numElements()).map { i =>
          val r = arr.getStruct(i, 3)
          (r.getInt(0), r.getInt(1),
            if (r.isNullAt(2)) None
            else Some(r.getDecimal(2, 38, 6).toJavaBigDecimal))
        }.toList
      }
      val one = agg.createAggregationBuffer()
      vs.foreach(v => agg.update(one, row(v)))
      val nBuckets = 6
      val parts = Array.fill(nBuckets)(agg.createAggregationBuffer())
      vs.zipWithIndex.foreach { case (v, i) =>
        val b = if (splits.isEmpty) 0 else splits(i % splits.length)
        agg.update(parts(b), row(v))
      }
      val order = new scala.util.Random(seed).shuffle((0 until nBuckets).toList)
      val acc = agg.createAggregationBuffer()
      order.foreach(i =>
        agg.merge(acc, agg.deserialize(agg.serialize(parts(i)))))
      val (got, expect) = (evalCells(acc), evalCells(one))
      val sameCells = got.length == expect.length &&
        got.zip(expect).forall { case ((i1, j1, s1), (i2, j2, s2)) =>
          i1 == i2 && j1 == j2 && ((s1, s2) match {
            case (Some(x), Some(y)) => x.compareTo(y) == 0
            case (None, None) => true
            case _ => false
          })
        }
      Prop(sameCells) :| s"merged=$got one=$expect vs=$vs order=$order"
    }


  property("EqualLaneCount == size(filter(zip_with(a,b,eq), id))") =
    Prop.forAll(
      Gen.listOf(Gen.oneOf(Gen.const(Option.empty[Long]),
        Gen.choose(-3L, 3L).map(Some(_)))),
      Gen.listOf(Gen.oneOf(Gen.const(Option.empty[Long]),
        Gen.choose(-3L, 3L).map(Some(_))))) { (a, b) =>
      val ga = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        a.map(_.map(Long.box).orNull).toArray[Any])
      val gb = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        b.map(_.map(Long.box).orNull).toArray[Any])
      val got = graft.functions.EqualLaneCount.compute(ga, gb)
      // the HOF reference: zip_with pads with nulls, x = y with a null
      // side is null, filter keeps only true
      val n = math.max(a.length, b.length)
      val expect = (0 until n).count { i =>
        val x = if (i < a.length) a(i) else None
        val y = if (i < b.length) b(i) else None
        (x, y) match { case (Some(p), Some(q)) => p == q; case _ => false }
      }
      Prop(got == expect) :| s"got=$got expect=$expect a=$a b=$b"
    }

  property("ArrayLongIntersectCount == size of the distinct intersection") =
    Prop.forAll(Gen.listOf(Gen.choose(-8L, 8L)), Gen.listOf(Gen.choose(-8L, 8L))) {
      (a, b) => // tiny range → heavy duplicates and overlaps
        val ga = new org.apache.spark.sql.catalyst.util.GenericArrayData(
          a.toArray[Any])
        val gb = new org.apache.spark.sql.catalyst.util.GenericArrayData(
          b.toArray[Any])
        val got = graft.functions.ArrayLongIntersectCount.compute(ga, gb)
        val expect = a.distinct.count(b.contains(_)).toLong
        Prop(got == expect) :| s"got=$got expect=$expect a=$a b=$b"
    }

  property("NgramHashes.compute == the distinct-gram reference") =
    Prop.forAll(genWords) { ws =>
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ws.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
      val got = graft.functions.NgramHashes.compute(in, 3).toLongArray().toSeq
      val expect = ngramRef(ws, 3)
      Prop(got == expect) :| s"got=$got expect=$expect ws=$ws"
    }

  // ---------- MinHash / SimHash lane extraction vs hex-string parsing ----------

  /** Independent md5-lane route: format the digest as the 32-hex-char
    * string and parse 15-digit substrings base-16 — exactly the SQL
    * formulation (`conv(substring(md5(x), p, 15), 16, 10)`) the kernels'
    * byte-folded lanes claim to reproduce. */
  private def md5Hex(s: String): String =
    String.format("%032x", new java.math.BigInteger(1,
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))))

  private def hexLane(hex: String, from: Int): Long =
    java.lang.Long.parseLong(hex.substring(from, from + 15), 16)

  /** 8-codepoint shingles with `substring(text, i, 8)` semantics — Spark
    * (and DuckDB) count codepoints, so the reference must too or a
    * supplementary-plane char would shift every window. */
  private def cpShingles(text: String): Seq[String] = {
    val cps = text.codePoints().toArray
    val n = cps.length
    val last = math.max(n - 7, 1)
    (1 to last).map { i =>
      val until = math.min(i + 7, n)
      new String(cps, i - 1, until - (i - 1))
    }
  }

  private def minhashRef(text: String): Seq[Long] = {
    val P = 2147483647L
    val shingles = cpShingles(text).distinct
    val mins = Array.fill(16)(Long.MaxValue)
    shingles.foreach { sh =>
      val hex = md5Hex(sh)
      val a = hexLane(hex, 0) % P
      val b = hexLane(hex, 16) % P
      for (j <- 0 until 16) {
        val v = (a + j * b) % P
        if (v < mins(j)) mins(j) = v
      }
    }
    mins.toSeq
  }

  private val genShingleText: Gen[String] = for {
    n <- Gen.choose(0, 40)
    // tiny alphabet → heavy repeated-shingle collapse; 😀 (U+1F600,
    // a surrogate pair in UTF-16) exercises the codepoint walk
    cs <- Gen.listOfN(n, Gen.oneOf("a", "b", " ", "Ω", "😀"))
  } yield cs.mkString

  property("MinHashSignature.signature == the hex-parsed lane reference") =
    Prop.forAll(genShingleText) { text =>
      val got = graft.functions.MinHashSignature.signature(text).toSeq
      val expect = minhashRef(text)
      Prop(got == expect) :| s"got=$got expect=$expect text='$text'"
    }

  private def simhashRef(text: String): Long = {
    val trimmed = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    val words = trimmed.split("\\s+", -1)
    val votes = new Array[Int](32)
    words.foreach { w =>
      val h = hexLane(md5Hex(w), 0)
      for (b <- 0 until 32)
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
    }
    (0 until 32).foldLeft(0L)((s, b) => if (votes(b) > 0) s | (1L << b) else s)
  }

  private val genSimText: Gen[String] = for {
    n <- Gen.choose(0, 12)
    ws <- Gen.listOfN(n, Gen.oneOf("x", "y", "xy", "Ω", "x")) // ties likely
    pad <- Gen.oneOf("", " ", "  ", "\t")
  } yield pad + ws.mkString(" ") + pad

  property("SimHashSignature.signature == the hex-parsed vote reference") =
    Prop.forAll(genSimText) { text =>
      val got = graft.functions.SimHashSignature.signature(text)
      val expect = simhashRef(text)
      Prop(got == expect) :| s"got=$got expect=$expect text='$text'"
    }

  // ---------- banded-min kernels vs per-seed HOF-style references ----------

  private def xx64(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType, 42L)

  property("BandedMinHashes.compute == per-seed min over concat-hashed grams") =
    Prop.forAll(genWords, Gen.choose(1, 6)) { (ws, seeds) =>
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ws.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
      val got = graft.functions.BandedMinHashes.compute(in, seeds)
      if (ws.isEmpty)
        Prop((0 until seeds).forall(got.isNullAt)) :| "empty input → all-null"
      else {
        val expect = (0 until seeds)
          .map(j => ws.map(x => xx64(x + "#" + j)).min)
        Prop(got.toLongArray().toSeq == expect) :|
          s"got=${got.toLongArray().toSeq} expect=$expect ws=$ws"
      }
    }

  property("BandedMinLongHashes.compute == per-seed min at shifted seeds") =
    Prop.forAll(Gen.listOf(Gen.long), Gen.choose(1, 6)) { (xs, seeds) =>
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        xs.toArray[Any])
      val got = graft.functions.BandedMinLongHashes.compute(in, seeds)
      if (xs.isEmpty)
        Prop((0 until seeds).forall(got.isNullAt)) :| "empty input → all-null"
      else {
        val expect = (0 until seeds).map { j =>
          xs.map(x => org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(x, org.apache.spark.sql.types.LongType, 42L + j)).min
        }
        Prop(got.toLongArray().toSeq == expect) :|
          s"got=${got.toLongArray().toSeq} expect=$expect"
      }
    }

  // ---------- CDC boundary scanner invariants on random strings ----------

  private val genDoc: Gen[String] = for {
    n <- Gen.choose(0, 200)
    cs <- Gen.listOfN(n, Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString), 2 -> Gen.const(" "),
      1 -> Gen.const("Ω"), 1 -> Gen.const("😀"), 1 -> Gen.const("\n")))
  } yield cs.mkString

  property("CdcBoundaries.scan: sorted interior cuts whose chunks reassemble") =
    Prop.forAll(genDoc) { text =>
      val bs = graft.functions.CdcBoundaries.scan(text).toSeq
      val sorted = bs == bs.sorted && bs.distinct == bs
      val inRange = bs.forall(b => b > 0 && b <= text.length)
      val cuts = (0L +: bs :+ text.length.toLong).map(_.toInt)
      val chunks = cuts.zip(cuts.tail).collect { case (a, b) if b > a =>
        text.substring(a, b)
      }
      Prop(sorted && inRange && chunks.mkString == text) :|
        s"bs=$bs len=${text.length}"
    }

  property("ShingleHashes.compute == distinct xxhash64 of 8-codepoint shingles") =
    Prop.forAll(genDoc) { text =>
      val got = graft.functions.ShingleHashes.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(text))
        .toLongArray().toSeq
      val expect = cpShingles(text).distinct
        .map(sh => org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(org.apache.spark.unsafe.types.UTF8String.fromString(sh),
            org.apache.spark.sql.types.StringType, 42L))
      Prop(got == expect) :| s"got=$got expect=$expect text='$text'"
    }

  // ---------- pair-product lanes (covariance kernel) ----------

  private val genFloatVec: Gen[Array[java.lang.Float]] =
    Gen.choose(0, 12).flatMap { n =>
      Gen.listOfN(n, Gen.frequency(
        9 -> Gen.choose(-1000, 1000).map(v => java.lang.Float.valueOf(v / 100f)),
        1 -> Gen.const(null: java.lang.Float))).map(_.toArray)
    }

  property("PairProducts.compute == i<j float-product reference, nulls skipped") =
    Prop.forAll(genFloatVec) { vec =>
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        vec.asInstanceOf[Array[Any]])
      val got = graft.functions.PairProducts.compute(arr).array.toSeq.map { r =>
        val row = r.asInstanceOf[
          org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
        (row.getInt(0), row.getInt(1), row.getDouble(2))
      }
      val expect = for {
        i <- 0 until vec.length if vec(i) != null
        j <- i + 1 until vec.length if vec(j) != null
      } yield (i + 1, j + 1, vec(i).toDouble * vec(j).toDouble)
      // bit-exact doubles (the oracle equivalence argument), order included
      Prop(got == expect) :| s"got=$got expect=$expect n=${vec.length}"
    }

  property("PairProductsTile: bi<=bj tile union == flat kernel, each tile <= b^2") =
    Prop.forAll(genFloatVec, Gen.choose(1, 5)) { (vec, b) =>
      def rows(g: org.apache.spark.sql.catalyst.util.GenericArrayData) =
        g.array.toSeq.map { r =>
          val row = r.asInstanceOf[
            org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
          (row.getInt(0), row.getInt(1), row.getDouble(2))
        }
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        vec.asInstanceOf[Array[Any]])
      val flat = rows(graft.functions.PairProducts.compute(arr)).toSet
      val nb = math.max((vec.length + b - 1) / b, 0)
      val tiles = for {
        bi <- 0 until nb; bj <- bi until nb
      } yield rows(graft.functions.PairProductsTile.compute(arr, bi, bj, b))
      val bounded = tiles.forall(_.length <= b * b)
      val union = tiles.flatten
      // every pair lands in EXACTLY one tile: no dup, union == flat
      Prop(bounded && union.length == union.toSet.size &&
        union.toSet == flat) :|
        s"b=$b n=${vec.length} flat=${flat.size} union=${union.length}"
    }

  // ---------- LongLongOpenMap vs java.util.HashMap reference ----------

  private val genOps: Gen[List[(Long, Long)]] =
    Gen.listOf(for {
      k <- Gen.oneOf(Gen.chooseNum(-8L, 8L), Gen.chooseNum(Long.MinValue, Long.MaxValue))
      v <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    } yield (k, v))

  property("LongLongOpenMap replays HashMap put/get/contains, incl. growth") =
    Prop.forAll(genOps, Gen.chooseNum(0, 4)) { (ops, cap) =>
      // tiny initial capacity forces the grow path on most runs
      val m = new Q.LongLongOpenMap(cap)
      val ref = new java.util.HashMap[Long, Long]()
      ops.foreach { case (k, v) => m.put(k, v); ref.put(k, v) }
      val sameEntries = m.keysIterator.map(k => (k, m(k))).toMap ==
        {
          import scala.jdk.CollectionConverters._
          ref.asScala.map { case (k, v) => (k.longValue, v.longValue) }.toMap
        }
      val sameContains = ops.forall { case (k, _) => m.contains(k) } &&
        !m.contains(ops.map(_._1).fold(7L)(_ + _ + 104729L)) ==
          !ref.containsKey(ops.map(_._1).fold(7L)(_ + _ + 104729L))
      Prop(sameEntries && sameContains) :| s"n=${ops.size} cap=$cap"
    }

  property("LongLongOpenMap rejects expected sizes whose capacity math would overflow Int") =
    // `expected * 2 - 1` overflows at 2^30; the guard trips at > 2^29 so a
    // future Q.ComponentsDriverCap bump fails loudly, never corrupts masks
    Prop.throws(classOf[IllegalArgumentException]) {
      new Q.LongLongOpenMap((1 << 29) + 1)
    } && Prop.throws(classOf[IllegalArgumentException]) {
      new Q.LongLongOpenMap(-1)
    }

  // ---------- GramDecimalSum.scaledLong vs the engine's Decimal cast ----------

  private val genFinite: Gen[Double] = Gen.oneOf(
    // realistic embedding-product magnitudes
    Gen.chooseNum(-10.0, 10.0),
    // float×float products, the aggregate's actual input distribution
    for { a <- Gen.chooseNum(-1e5f, 1e5f); b <- Gen.chooseNum(-1e5f, 1e5f) }
      yield a.toDouble * b.toDouble,
    // full-range doubles via random bits (finite only)
    Gen.chooseNum(Long.MinValue, Long.MaxValue)
      .map(java.lang.Double.longBitsToDouble)
      .retryUntil(d => !d.isNaN && !d.isInfinite),
    // round-half boundaries at scale 12 (the HALF_UP edge), signed zero,
    // subnormals, values straddling the Long-fit frontier
    Gen.oneOf(0.5e-12, 1.5e-12, 2.5e-12, -0.5e-12, -2.5e-12, 0.0, -0.0,
      java.lang.Double.MIN_VALUE, -java.lang.Double.MIN_VALUE, 4.9e-324,
      9.2e6, -9.2e6, 9.223372036854775e6, 1e7, 1e25, -1e26, 123.4567e300))

  property("GramDecimalSum.scaledLong replays Decimal(x).changePrecision(38,s) exactly") =
    Prop.forAll(genFinite, Gen.oneOf(0, 6, 12)) { (x, s) =>
      import org.apache.spark.sql.types.Decimal
      val got = graft.functions.GramDecimalSum.scaledLong(x, s)
      val ref = Decimal(x)
      val refOk = ref.changePrecision(38, s)
      if (got != Long.MinValue) {
        // fast path claims a fit: must match the Decimal cast bit-for-bit
        val refBd = ref.toJavaBigDecimal
        Prop(refOk && refBd.scale == s &&
          refBd.unscaledValue().bitLength() < 64 &&
          refBd.unscaledValue().longValueExact() == got) :|
          s"x=$x s=$s got=$got ref=${if (refOk) refBd else "overflow"}"
      } else {
        // fallback: only when the true scaled value cannot live in a Long
        // (precision overflow also routes here, ref not ok)
        Prop(!refOk || ref.toJavaBigDecimal.unscaledValue().bitLength() >= 63) :|
          s"x=$x s=$s fell back but ref=${ref.toJavaBigDecimal}"
      }
    }

  /** Values engineered to land ON or within a few ulps of a scale-s
    * rounding boundary ((j + 1/2)·10^−s, the HALF_UP tie line) or an
    * exact unit multiple (j·10^−s) — the cases where the r19 128-bit
    * fixed-point fast path MUST detect ambiguity and fall back to the
    * string walk. The double arithmetic constructing the target is
    * itself inexact; that is the point — it scatters values across the
    * ambiguity margin from both sides. */
  private val genBoundaryScaled: Gen[(Double, Int)] = for {
    s <- Gen.oneOf(0, 6, 12)
    j <- Gen.oneOf(Gen.chooseNum(0L, 4000L), Gen.chooseNum(0L, 4000000000L),
      Gen.chooseNum(0L, 4000000000000000L))
    half <- Gen.oneOf(0L, 1L)
    ulps <- Gen.chooseNum(-4, 4)
    sign <- Gen.oneOf(1.0, -1.0)
  } yield {
    var v = (2.0 * j + half) / 2.0 / math.pow(10.0, s)
    var u = ulps
    while (u > 0) { v = Math.nextUp(v); u -= 1 }
    while (u < 0) { v = Math.nextDown(v); u += 1 }
    (sign * v, s)
  }

  property("scaledLong fixed fast path == string walk at rounding boundaries") =
    Prop.forAll(genBoundaryScaled) { case (x, s) =>
      import org.apache.spark.sql.types.Decimal
      val got = graft.functions.GramDecimalSum.scaledLong(x, s)
      val viaString = graft.functions.GramDecimalSum.scaledLongViaString(x, s)
      val ref = Decimal(x)
      val refOk = ref.changePrecision(38, s)
      val decimalAgrees =
        if (got == Long.MinValue) true // fit rules re-checked by callers
        else refOk && {
          val bd = ref.toJavaBigDecimal
          bd.scale == s && bd.unscaledValue().bitLength() < 64 &&
            bd.unscaledValue().longValueExact() == got
        }
      Prop(got == viaString && decimalAgrees) :|
        s"x=$x s=$s got=$got viaString=$viaString"
    }

  property("VectorDecimalStats: random split + serde merge == Decimal-path model") =
    // the model below IS the pre-r19 implementation (per-term Decimal
    // cast + BigDecimal accumulation); the property pins the long
    // fast-path + spill rewrite to it, including the precision-p gate
    // (p=8 nulls most terms at scale 12) and values that overflow a Long
    Prop.forAll(
      Gen.listOf(for {
        v <- Gen.oneOf(
          Gen.const(Option.empty[List[Option[Double]]]),
          Gen.choose(0, 4).flatMap(n => Gen.listOfN(n,
            Gen.oneOf(Gen.const(Option.empty[Double]),
              Gen.oneOf(-2.5, 0.0, -0.0, 0.5, 3.0, 3e9, 1e30, Double.NaN)
                .map(Some(_))))).map(Some(_)))
        w <- Gen.oneOf(Option.empty[Double], Some(-3.0), Some(0.5), Some(2.0))
      } yield (v, w)),
      Gen.listOf(Gen.choose(0, 3)),
      Gen.choose(0L, Long.MaxValue),
      Gen.oneOf(8, 18, 38)) { (rows, splits, seed, prec) =>
      import org.apache.spark.sql.types.Decimal
      val scale = 12
      val agg = graft.functions.VectorDecimalStats(
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          0, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = true),
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          1, org.apache.spark.sql.types.DoubleType, nullable = true),
        prec, scale)
      def row(r: (Option[List[Option[Double]]], Option[Double])) =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](r._1.map(l =>
            new org.apache.spark.sql.catalyst.util.GenericArrayData(
              l.map(_.map(Double.box).orNull).toArray[Any])).orNull,
            r._2.map(Double.box).orNull))
      // reference model: the original BigDecimal implementation
      val dim = rows.flatMap(_._1).map(_.length).maxOption.getOrElse(0)
      val mSums = new Array[java.math.BigDecimal](dim)
      val mCounts = new Array[Long](dim)
      rows.foreach {
        case (Some(v), w) =>
          v.zipWithIndex.foreach { case (e, i) =>
            mCounts(i) += 1
            (e, w) match {
              case (Some(x0), Some(wv)) =>
                val x = x0 * wv
                if (!x.isNaN && !x.isInfinite) {
                  val t = Decimal(x)
                  if (t.changePrecision(prec, scale))
                    mSums(i) =
                      if (mSums(i) == null) t.toJavaBigDecimal
                      else mSums(i).add(t.toJavaBigDecimal)
                }
              case _ =>
            }
          }
        case _ =>
      }
      // aggregate under random split + serde + random-order merge
      val parts = Array.fill(3)(agg.createAggregationBuffer())
      rows.zipWithIndex.foreach { case (r, i) =>
        val b = if (splits.isEmpty) 0 else splits(i % splits.length)
        agg.update(parts(b % 3), row(r))
      }
      val acc = agg.createAggregationBuffer()
      new scala.util.Random(seed).shuffle(List(0, 1, 2)).foreach(i =>
        agg.merge(acc, agg.deserialize(agg.serialize(parts(i)))))
      val st = agg.eval(acc)
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val gotSums = st.getArray(0)
      val gotCounts = st.getArray(1)
      val same = gotSums.numElements() == dim && (0 until dim).forall { i =>
        gotCounts.getLong(i) == mCounts(i) && {
          (gotSums.isNullAt(i), mSums(i) == null) match {
            case (true, true) => true
            case (false, false) =>
              gotSums.getDecimal(i, 38, scale).toJavaBigDecimal
                .compareTo(mSums(i)) == 0
            case _ => false
          }
        }
      }
      Prop(same) :| s"prec=$prec rows=$rows"
    }

  property("GramDecimalSum long accumulators spill to BigDecimal exactly on overflow") =
    // 3e9f is exactly representable; 3e9*3e9 = 9e18 scaled at 0 sits one
    // add below Long.MaxValue, so two rows force the 64-bit spill and the
    // final sum (1.8e19, 20 digits) is only representable spilled
    Prop.forAll(Gen.chooseNum(2, 5), Gen.chooseNum(0L, Long.MaxValue)) { (nRows, seed) =>
      val agg = graft.functions.GramDecimalSum(
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          0, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType), nullable = true), 0)
      def row() = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array[Any](3e9f, 3e9f))))
      // split rows across two partials, serde both, merge in random order
      val parts = Array.fill(2)(agg.createAggregationBuffer())
      (0 until nRows).foreach(i => agg.update(parts(i % 2), row()))
      val acc = agg.createAggregationBuffer()
      new scala.util.Random(seed).shuffle(List(0, 1)).foreach(i =>
        agg.merge(acc, agg.deserialize(agg.serialize(parts(i)))))
      val arr = agg.eval(acc)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val cell = arr.getStruct(0, 3)
      val sum = cell.getDecimal(2, 38, 0).toJavaBigDecimal
      val expect = new java.math.BigDecimal(9e18.toLong)
        .multiply(java.math.BigDecimal.valueOf(nRows.toLong))
      Prop(arr.numElements() == 1 && sum.compareTo(expect) == 0) :|
        s"nRows=$nRows sum=$sum expect=$expect"
    }

  // ---------- r19: DecimalSqDevSum / PqArgmin scaled-long rewrites ----------

  /** Element generator straddling every boundary of the r19 long fast
    * path at scale 12: small values (pure long mode), |dx| ≈ 3.03e3
    * (sq ≈ 9.2e6, the Long-fit frontier of a single term), |dx| ≈ 1e3–3e3
    * (terms fit but a few adds overflow 64 bits), |dx| ≥ 2e4 (sq ≥ 4e8:
    * term outgrows a Long → Decimal slow path; also ≥ 1e8 trips
    * PqArgmin's precision-20 term gate), 1e30 (precision-38 overflow →
    * skipped/null term), NaN, nulls, signed zero. */
  private val genSqDevElem: Gen[Option[Double]] = Gen.frequency(
    2 -> Gen.const(Option.empty[Double]),
    8 -> Gen.chooseNum(-5.0, 5.0).map(Some(_)),
    6 -> Gen.chooseNum(-3.1e3, 3.1e3).map(Some(_)),
    4 -> Gen.oneOf(3.03e3, -3.035e3, 3.04e3, 2.0e4, -2.5e4, 1.1e4,
      1e30, -1e15, 0.0, -0.0, Double.NaN).map(Some(_)))

  property("DecimalSqDevSum long fast path + spill == Decimal-path model") =
    // the model below IS the pre-r19 implementation (per-term Decimal
    // cast + BigDecimal accumulation); the property pins the scaled-long
    // rewrite to it across the Long-fit frontier, 64-bit accumulator
    // spill, precision-38 term skip, null/NaN handling, and both scales
    Prop.forAll(
      Gen.listOf(genSqDevElem),
      Gen.listOf(Gen.oneOf(Gen.chooseNum(-3.1e3, 3.1e3),
        Gen.oneOf(0.0, 2.0e4, -1.9e4))),
      Gen.oneOf(6, 12)) { (v, cList, scale) =>
      import org.apache.spark.sql.types.Decimal
      val cents = cList.toArray
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        v.map(_.map(Double.box).orNull).toArray[Any])
      val d = math.min(v.length, cents.length)
      var acc: java.math.BigDecimal = null
      var i = 0
      while (i < d) {
        v(i).foreach { x =>
          val dx = x - cents(i); val sq = dx * dx
          if (!sq.isNaN && !sq.isInfinite) {
            val t = Decimal(sq)
            if (t.changePrecision(38, scale))
              acc = if (acc == null) t.toJavaBigDecimal
                    else acc.add(t.toJavaBigDecimal)
          }
        }
        i += 1
      }
      val expect =
        if (acc == null) null
        else { val dec = Decimal(acc)
          if (dec.changePrecision(38, scale)) dec else null }
      val got = graft.functions.DecimalSqDevSum.compute(in, cents, scale)
      val same = (got, expect) match {
        case (null, null) => true
        case (null, _) | (_, null) => false
        case (a, b) => a.toJavaBigDecimal.compareTo(b.toJavaBigDecimal) == 0 &&
          a.toJavaBigDecimal.scale == b.toJavaBigDecimal.scale
      }
      Prop(same) :| s"got=$got expect=$expect v=$v cents=$cList scale=$scale"
    }

  property("PqArgmin long fast path + spill == Decimal-chain model") =
    // model = the pre-r19 implementation: per-term Decimal cast with the
    // precision-20 term gate, BigDecimal Add chain with the per-node
    // CheckOverflow gate (precision > 20 + j -> null chain), array_min
    // struct ordering (null dist first, ties to lower cid)
    Prop.forAll(
      Gen.chooseNum(1, 3), // subspaces
      Gen.chooseNum(1, 3), // width
      Gen.chooseNum(1, 4), // centroids per subspace
      Gen.listOf(genSqDevElem),
      Gen.chooseNum(0L, Long.MaxValue)) { (s, w, k, vRaw, seed) =>
      import org.apache.spark.sql.types.Decimal
      val rnd = new scala.util.Random(seed)
      val centPool = Array(0.0, 1.5, -2.0, 3.03e3, 2.0e4, -1.9e4, 1e7)
      val cents = Array.fill(s, k, w)(centPool(rnd.nextInt(centPool.length)))
      val cids = Array.fill(s)(rnd.shuffle((1 to k).toList).map(_.toLong).toArray)
      val v = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        vRaw.map(_.map(Double.box).orNull).toArray[Any])
      val got = graft.functions.PqArgmin.compute(v, cents, cids)
      // reference model (pre-r19 code, verbatim semantics)
      val prec = 19 + w
      val expect = new Array[Any](s)
      var g = 0
      while (g < s) {
        val gc = cents(g); val gi = cids(g)
        var bestDist: java.math.BigDecimal = null
        var bestNull = true
        var bestCid = 0L
        var c = 0
        while (c < gc.length) {
          val cv = gc(c)
          var acc: java.math.BigDecimal = null
          var isNull = false
          var j = 0
          while (j < w && !isNull) {
            val idx = g * w + j
            if (idx >= v.numElements() || v.isNullAt(idx)) isNull = true
            else {
              val dx = v.getDouble(idx) - cv(j)
              val sq = dx * dx
              if (java.lang.Double.isNaN(sq) ||
                  java.lang.Double.isInfinite(sq)) isNull = true
              else {
                val term = Decimal(sq)
                if (!term.changePrecision(20, 12)) isNull = true
                else if (acc == null) acc = term.toJavaBigDecimal
                else {
                  val a2 = acc.add(term.toJavaBigDecimal)
                  if (a2.precision() > 20 + j) isNull = true else acc = a2
                }
              }
            }
            j += 1
          }
          if (isNull) acc = null
          val take =
            if (c == 0) true
            else if (acc == null && !bestNull) true
            else if (acc == null && bestNull) gi(c) < bestCid
            else if (bestNull) false
            else {
              val cmp = acc.compareTo(bestDist)
              cmp < 0 || (cmp == 0 && gi(c) < bestCid)
            }
          if (take) { bestDist = acc; bestNull = acc == null; bestCid = gi(c) }
          c += 1
        }
        val dec =
          if (bestNull) null
          else { val d0 = Decimal(bestDist); d0.changePrecision(prec, 12); d0 }
        expect(g) = (dec, bestCid)
        g += 1
      }
      val same = (0 until s).forall { gi =>
        val row = got.getStruct(gi, 2)
        val (ed, ec) = expect(gi).asInstanceOf[(Decimal, Long)]
        row.getLong(1) == ec && {
          (row.isNullAt(0), ed == null) match {
            case (true, true) => true
            case (false, false) =>
              row.getDecimal(0, prec, 12).toJavaBigDecimal
                .compareTo(ed.toJavaBigDecimal) == 0
            case _ => false
          }
        }
      }
      Prop(same) :| s"got=$got expect=${expect.toList} v=$vRaw " +
        s"cents=${cents.map(_.map(_.toList).toList).toList} cids=${cids.map(_.toList).toList}"
    }

  // ---------- FastDoubleToDecimal vs the engine's non-ANSI Cast ----------

  /** The verbatim model of `Cast(double → decimal(p, s))` under
    * `!ansiEnabled` (Cast.castToDecimal): `Decimal(d)` parses
    * `Double.toString`, `changePrecision` rounds HALF_UP and nulls on
    * overflow, NaN/Inf raise NumberFormatException inside `Decimal(d)`
    * which the cast catches to null. */
  private def engineCastModel(x: Double, p: Int, s: Int)
      : org.apache.spark.sql.types.Decimal =
    try {
      val d = org.apache.spark.sql.types.Decimal(x)
      if (d.changePrecision(p, s)) d else null
    } catch { case _: NumberFormatException => null }

  private val genCastTarget: Gen[(Int, Int)] = Gen.oneOf(
    // every (precision, scale) Q.ddec ships at, plus the domain corners
    (30, 6), (30, 8), (30, 12), (38, 12), (38, 6), (38, 0), (26, 12), (19, 0))

  private val genAnyDouble: Gen[Double] = Gen.frequency(
    10 -> genFinite,
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))

  property("FastDoubleToDecimal.cast replays the non-ANSI Cast bit-for-bit") =
    Prop.forAll(genAnyDouble, genCastTarget) { case (x, (p, s)) =>
      val got = graft.functions.FastDoubleToDecimal.cast(x, p, s, ansi = false)
      val ref = engineCastModel(x, p, s)
      val same = (got, ref) match {
        case (null, null) => true
        case (null, _) | (_, null) => false
        // equals on java BigDecimal: value AND scale — representation-exact
        case (g, r) => g.toJavaBigDecimal == r.toJavaBigDecimal &&
          g.precision == r.precision && g.scale == r.scale
      }
      Prop(same) :| s"x=$x p=$p s=$s got=$got ref=$ref"
    }

  property("FastDoubleToDecimal.cast ANSI mode: same values, throw on overflow") =
    Prop.forAll(genAnyDouble, genCastTarget) { case (x, (p, s)) =>
      val ref = engineCastModel(x, p, s)
      if (ref == null && !x.isNaN && !x.isInfinite) {
        // finite precision overflow: ANSI Cast throws NUMERIC_VALUE_OUT_OF_RANGE
        Prop(Prop.throws(classOf[ArithmeticException]) {
          graft.functions.FastDoubleToDecimal.cast(x, p, s, ansi = true)
        }) :| s"x=$x p=$p s=$s expected ANSI throw"
      } else {
        val got = graft.functions.FastDoubleToDecimal.cast(x, p, s, ansi = true)
        val same = (got, ref) match {
          case (null, null) => true // NaN/Inf: null in BOTH modes (probed)
          case (null, _) | (_, null) => false
          case (g, r) => g.toJavaBigDecimal == r.toJavaBigDecimal
        }
        Prop(same) :| s"x=$x p=$p s=$s got=$got ref=$ref"
      }
    }

  property("DecimalEntry.toDec fast integer rounding == exact BigDecimal model") =
    Prop.forAll(Gen.oneOf(
      // the measure distribution the moving-sum kernel actually sees
      Gen.chooseNum(-1e6, 1e6),
      // values whose ×1e6 product lands on or near .5 ties
      for { j <- Gen.chooseNum(0L, 4000000000L); u <- Gen.chooseNum(-3, 3)
            s <- Gen.oneOf(1.0, -1.0) } yield {
        var v = s * (2.0 * j + 1.0) / 2.0 / 1e6
        var d = u
        while (d > 0) { v = Math.nextUp(v); d -= 1 }
        while (d < 0) { v = Math.nextDown(v); d += 1 }
        v
      },
      // beyond-Long magnitudes (fallback path) and subnormals
      Gen.oneOf(1e13, -1e13, 9.3e12, 1e19, -1e19, 1e25, 0.0, -0.0,
        java.lang.Double.MIN_VALUE, 4.9e-324, 2.5e-7, -2.5e-7, 0.5e-6),
      Gen.chooseNum(Long.MinValue, Long.MaxValue)
        .map(java.lang.Double.longBitsToDouble)
        .retryUntil(d => !d.isNaN && !d.isInfinite))) { v =>
      val got = scala.util.Try(graft.functions.DecimalEntry.toDec(v))
      val ref = scala.util.Try {
        val w = v * 1e6
        val refJbd = new java.math.BigDecimal(w)
          .setScale(0, java.math.RoundingMode.HALF_UP)
          .movePointLeft(6)
        org.apache.spark.sql.types.Decimal(refJbd, 38, 6)
      }
      val same = (got, ref) match {
        case (scala.util.Success(g), scala.util.Success(r)) =>
          g.toJavaBigDecimal.compareTo(r.toJavaBigDecimal) == 0 &&
            g.scale == r.scale
        // beyond decimal(38,6): BOTH paths must raise (same overflow)
        case (scala.util.Failure(_), scala.util.Failure(_)) => true
        case _ => false
      }
      Prop(same) :| s"v=$v got=$got ref=$ref"
    }

  property("FastDoubleToDecimal.cast == engine Cast at HALF_UP tie lines") =
    Prop.forAll(genBoundaryScaled, Gen.oneOf(30, 38)) { case ((x, s), p) =>
      val got = graft.functions.FastDoubleToDecimal.cast(x, p, s, ansi = false)
      val ref = engineCastModel(x, p, s)
      val same = (got, ref) match {
        case (null, null) => true
        case (null, _) | (_, null) => false
        case (g, r) => g.toJavaBigDecimal == r.toJavaBigDecimal
      }
      Prop(same) :| s"x=$x p=$p s=$s got=$got ref=$ref"
    }
}
