package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Local reference: the same weighted-pair argmax + greedy
    * left-to-right merge, in plain Scala collections.
    */
  def referenceTrain(texts: Seq[String], n: Int): Seq[(Int, String, String, Long)] =
    referenceTrainWords(
      texts.flatMap(_.toLowerCase.split("[ \t\n\f\r]+").filter(_.nonEmpty)), n)

  /** [[referenceTrain]] from a pre-tokenized word stream — the seam the
    * byte-level reference needs (unit-encoded words must NOT be
    * re-lowercased: the unit alphabet contains case-paired chars like
    * Ã/ã that map DISTINCT bytes).
    */
  def referenceTrainWords(words: Seq[String], n: Int): Seq[(Int, String, String, Long)] = {
    val wc = scala.collection.mutable.Map.empty[String, Long]
    words.foreach(w => wc(w) = wc.getOrElse(w, 0L) + 1)
    var syms: Map[String, Vector[String]] = wc.keys.map(w => w -> w.map(_.toString).toVector).toMap
    (0 until n).iterator.map { rank =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, c) <- wc; Seq(a, b) <- syms(w).sliding(2) if syms(w).size >= 2)
        pc((a, b)) = pc.getOrElse((a, b), 0L) + c
      if (pc.isEmpty) null // dry: the trainer raises here
      else {
      val ((l, r), c) = pc.minBy { case ((a, b), cnt) => (-cnt, a, b) }
      syms = syms.map { case (w, s) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        s.foreach { ch =>
          if (out.nonEmpty && out.last == l && ch == r) out(out.size - 1) = l + r
          else out += ch
        }
        w -> out.toVector
      }
      (rank, l, r, c)
      }
    }.takeWhile(_ != null).toSeq
  }

  val texts = Seq(
    "banana bandana banana",
    "aaa abab banana cabbage",
    "the theme then thesis the the",
    "cabbage bag bag bag")

  test("trainMerges matches the local reference, incl. repeated-pair runs and multi-char merges") {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Bpe.trainMerges(docs, 6).orderBy($"rank")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == referenceTrain(texts, 6))
  }

  test("frozen-expression segmentation ≡ chained-fold segmentation (trained, random, and deep tables)") {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def both(d: org.apache.spark.sql.DataFrame, merges: Seq[(String, String)]) = {
      val fold = Bpe.segmentStats(d, merges).orderBy($"doc_id")
        .as[(Long, Long, Long)].collect().toSeq
      val expr = Bpe.segmentStatsFrozen(d, merges).orderBy($"doc_id")
        .as[(Long, Long, Long)].collect().toSeq
      assert(expr == fold, s"merges=$merges")
      fold
    }
    // the trained table (the oracle-gated configuration)
    both(docs, Bpe.mergePairs(Bpe.trainMerges(docs, 8)))
    // hand-picked overlapping/chaining tables: later merges consume
    // earlier fused symbols, rank order matters
    both(docs, Seq(("a", "n"), ("b", "an"), ("an", "a"), ("t", "h"), ("th", "e")))
    both(docs, Seq(("a", "a"), ("aa", "a"), ("b", "a")))
    // random tables over the corpus alphabet (seeded — reproducible)
    val rnd = new scala.util.Random(12)
    val alpha = "abdegnst".map(_.toString)
    for (_ <- 1 to 5) {
      val tbl = Seq.fill(6)((alpha(rnd.nextInt(alpha.size)), alpha(rnd.nextInt(alpha.size))))
      both(docs, tbl)
    }
    // a DEEP table (the batched trainer's output size) — the fold
    // spelling at this depth is exactly what the expression replaces;
    // equality still holds
    val deep = Bpe.mergePairs(Bpe.trainMergesBatched(docs, rounds = 6, batchSize = 8))
    assert(deep.size > 10)
    both(docs, deep)
    // non-ASCII case-mapping parity (the WinnowFps contract): Java
    // Locale.ROOT vs Spark lower() agree on this set
    val uni = Seq((1L, "Éclair ÉCLAIR Привет ΣΟΦΟΣ σοφος")).toDF("doc_id", "text")
    both(uni, Seq(("é", "c"), ("п", "р"), ("σ", "ο")))
  }

  test("encodeTokens: local-reference equality, char conservation, and count agreement with the stats twin") {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.mergePairs(Bpe.trainMerges(docs, 6))
    val got = Bpe.encodeTokens(docs, merges)
      .as[(Long, Int, String)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    // local reference: same tokenize + per-word rank-order greedy apply
    def applyWord(w: String, ms: Seq[(String, String)]): Seq[String] =
      ms.foldLeft(w.map(_.toString): Seq[String]) { case (syms, (l, r)) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        syms.foreach { s =>
          if (out.nonEmpty && out.last == l && s == r) out(out.size - 1) = l + r
          else out += s
        }
        out.toSeq
      }
    val want = texts.zipWithIndex.map { case (t, i) =>
      i.toLong -> t.toLowerCase.split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq
        .flatMap(applyWord(_, merges))
    }.toMap
    assert(got == want)
    // positions are 1..n dense per doc; char mass conserved; counts
    // agree with the fertility twin
    val stats = Bpe.segmentStatsFrozen(docs, merges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    got.foreach { case (id, toks) =>
      assert(toks.mkString("") ==
        texts(id.toInt).toLowerCase.split("[ \t\n\f\r]+").filter(_.nonEmpty).mkString(""))
      assert(toks.size.toLong == stats(id))
    }
  }

  test("vocabulary + tokenIds: dense frequency-ranked ids, lossless id stream on the fit corpus") {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.mergePairs(Bpe.trainMerges(docs, 6))
    val enc = Bpe.encodeTokens(docs, merges)
    val vocab = Bpe.vocabulary(enc).orderBy($"token_id")
      .as[(Long, String, Long)].collect().toSeq
    // ids are dense 0..V-1, counts non-increasing, ties by token asc
    assert(vocab.map(_._1) == vocab.indices.map(_.toLong))
    assert(vocab.map(_._2).distinct.size == vocab.size)
    vocab.sliding(2).foreach { case Seq((_, ta, ca), (_, tb, cb)) =>
      assert(ca > cb || (ca == cb && ta < tb))
    case _ => }
    // total mass = stream length; the id stream loses nothing on the
    // corpus the vocab was built from and round-trips token identity
    val nTok = enc.count()
    assert(vocab.map(_._3).sum == nTok)
    val ids = Bpe.tokenIds(enc, Bpe.vocabulary(enc))
    assert(ids.count() == nTok)
    val byId = vocab.map(v => v._1 -> v._2).toMap
    val joined = ids.join(enc, Seq("doc_id", "pos"))
      .as[(Long, Int, Long, String)].collect()
    assert(joined.nonEmpty && joined.forall { case (_, _, id, tok) => byId(id) == tok })
  }

  test("tokenWindows: EOD per doc (empty included), exact-size windows, doc-order contiguity") {
    val withEmpty = (texts :+ "   ").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.mergePairs(Bpe.trainMerges(withEmpty, 4))
    val w = 7
    val rows = Bpe.tokenWindows(withEmpty, merges, windowSize = w)
      .as[(Long, Int, String, Long, Long)].collect().toSeq
      .sortBy(r => (r._1, r._2))
    // one EOD per doc, the empty doc contributing exactly one row: it
    assert(rows.count(_._3 == "<eod>") == texts.size + 1)
    assert(rows.filter(_._1 == texts.size.toLong).map(_._3) == Seq("<eod>"))
    // global order (doc_id, pos) maps to dense gpos: every window full
    // at w except possibly the last; offsets cycle 0..w-1 in order
    val inOrder = rows.map(r => (r._4, r._5))
    val n = rows.size
    inOrder.zipWithIndex.foreach { case ((win, off), g) =>
      assert(win == g / w && off == g % w, s"row $g: ($win, $off)")
    }
    val sizes = rows.groupBy(_._4).view.mapValues(_.size).toMap
    sizes.foreach { case (win, sz) =>
      assert(sz == w || (win == (n - 1) / w && sz == n - (n / w) * w || sz == w))
    }
  }

  test("tokenWindowsStrided: stride=window degenerates to tokenWindows; bounded multiplicity; off<stride slots partition the stream") {
    val withEmpty = (texts :+ "   ").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.mergePairs(Bpe.trainMerges(withEmpty, 4))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, String, Long, Long)].collect().toSeq
        .sortBy(r => (r._1, r._2, r._4))
    // degenerate equality: stride == windowSize is exactly the
    // disjoint training split
    val disjoint = sorted(Bpe.tokenWindows(withEmpty, merges, windowSize = 6))
    assert(sorted(Bpe.tokenWindowsStrided(withEmpty, merges, 6, 6)) == disjoint)
    // strided: window 6, stride 2 → every token in 1..3 windows
    val w = 6; val s = 2
    val st = sorted(Bpe.tokenWindowsStrided(withEmpty, merges, w, s))
    val n = disjoint.size
    val byToken = st.groupBy(r => (r._1, r._2))
    assert(byToken.size == n) // every global-stream token appears
    byToken.foreach { case (k, rs) =>
      assert(rs.size >= 1 && rs.size <= (w + s - 1) / s, s"token $k in ${rs.size} windows")
      // offsets are consistent with ONE global position: off = p − win·s
      // means (off + win·s) is the same for every row of the token
      assert(rs.map(r => r._5 + r._4 * s).distinct.size == 1, s"token $k")
      rs.foreach(r => assert(r._5 >= 0 && r._5 < w))
    }
    // the off < stride rows are each token's unique scoring slot
    val slots = st.filter(_._5 < s)
    assert(slots.size == n)
    assert(slots.map(r => (r._1, r._2)).distinct.size == n)
    // every window that fits entirely inside the stream is exactly full
    val sizes = st.groupBy(_._4).view.mapValues(_.size).toMap
    sizes.foreach { case (win, sz) =>
      if (win * s + w <= n) assert(sz == w, s"window $win: $sz")
    }
    // a stride past the window would drop tokens — refused loudly
    val e = intercept[IllegalArgumentException] {
      Bpe.tokenWindowsStrided(withEmpty, merges, windowSize = 4, stride = 5)
    }
    assert(e.getMessage.contains("stride"))
  }

  test("fertilityBySource: hand-rolled slice totals; agrees with the per-doc frozen stats under a trained table") {
    val d = Seq(
      (1L, "A", "aa bb"), (2L, "A", "aa"),
      (3L, "B", ""), (4L, "C", "xyz"))
      .toDF("doc_id", "source", "text")
    // no merges: tokens = per-char symbols
    val got = Bpe.fertilityBySource(d, Seq.empty)
      .orderBy($"source").as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("A", 2L, 3L, 6L, 20000L),
      ("B", 1L, 0L, 0L, 0L),
      ("C", 1L, 1L, 3L, 30000L)))
    // under a trained table the slice totals must equal the per-doc
    // frozen stats re-aggregated
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, s"s${i % 2}", t) }
      .toDF("doc_id", "source", "text")
    val merges = Bpe.mergePairs(Bpe.trainMerges(docs, 4))
    val bySrc = Bpe.fertilityBySource(docs, merges)
      .orderBy($"source").as[(String, Long, Long, Long, Long)].collect().toSeq
    val perDoc = Bpe.segmentStatsFrozen(docs, merges)
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("nw"), sum($"n_tokens").as("nt"))
      .orderBy($"source").as[(String, Long, Long, Long)].collect().toSeq
    assert(bySrc.map(r => (r._1, r._2, r._3, r._4)) == perDoc)
  }

  test("fimTransform: PSM layout reconstructs the encode stream; non-FIM docs pass through; partitioning-invariant") {
    val docs = (texts :+ "" :+ "   ").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.mergePairs(Bpe.trainMerges(docs, 4))
    val enc = Bpe.encodeTokens(docs, merges)
      .as[(Long, Int, String)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val out = Bpe.fimTransform(docs, merges)
      .as[(Long, Int, String, Boolean)].collect().toSeq
    val byDoc = out.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // every selected doc carries the three sentinels exactly once, in
    // PRE < SUF < MID order, and reassembling prefix+middle+suffix
    // yields the original stream; every unselected doc passes through
    byDoc.foreach { case (id, rows) =>
      val toks = rows.map(_._3)
      assert(rows.map(_._2) == (1 to rows.size), s"doc $id positions")
      assert(rows.map(_._4).distinct.size == 1, s"doc $id fim flag")
      val orig = enc.getOrElse(id, Seq.empty)
      if (rows.head._4) {
        assert(toks.size == orig.size + 3, s"doc $id")
        val ip = toks.indexOf("<fim_pre>"); val is = toks.indexOf("<fim_suf>")
        val im = toks.indexOf("<fim_mid>")
        assert(ip == 0 && is > ip && im > is, s"doc $id sentinel order")
        assert(toks.count(t => t.startsWith("<fim_")) == 3, s"doc $id sentinel count")
        val prefix = toks.slice(1, is); val suffix = toks.slice(is + 1, im)
        val middle = toks.drop(im + 1)
        assert(prefix ++ middle ++ suffix == orig, s"doc $id reassembly")
      } else assert(toks == orig, s"doc $id passthrough")
    }
    // both branches are exercised by the fixture
    assert(out.exists(_._4) && out.exists(!_._4))
    // a FIM'd tokenless doc is exactly the three sentinels
    byDoc.filter { case (id, rows) => enc.getOrElse(id, Seq.empty).isEmpty && rows.head._4 }
      .foreach { case (_, rows) =>
        assert(rows.map(_._3) == Seq("<fim_pre>", "<fim_suf>", "<fim_mid>")) }
    // hash-determinism: invariant under input partitioning
    val out2 = Bpe.fimTransform(docs.repartition(7), merges)
      .as[(Long, Int, String, Boolean)].collect().toSeq
    assert(out.sortBy(r => (r._1, r._2)) == out2.sortBy(r => (r._1, r._2)))
  }

  test("tokenWindowsOf: the agnostic face over the BPE stream equals tokenWindows; tokenless docs still separate") {
    val docs = (texts :+ "").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.mergePairs(Bpe.trainMerges(docs, 4))
    val direct = Bpe.tokenWindows(docs, merges, windowSize = 6)
      .as[(Long, Int, String, Long, Long)].collect().toSeq.sorted
    val viaStream = Bpe.tokenWindowsOf(Bpe.encodeTokens(docs, merges),
        docs.select($"doc_id"), windowSize = 6)
      .as[(Long, Int, String, Long, Long)].collect().toSeq.sorted
    assert(direct == viaStream)
    // the tokenless doc contributes exactly its separator row
    assert(viaStream.count(r => r._1 == texts.size.toLong) == 1)
    assert(viaStream.filter(_._1 == texts.size.toLong).head._3 == "<eod>")
  }

  test("spanCorruption: splicing target spans into the input reconstructs the stream; one 1-3 token span per full block") {
    val docs = (texts :+ "" :+ "one two three four five six seven eight nine ten eleven twelve").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.mergePairs(Bpe.trainMerges(docs, 4))
    val enc = Bpe.encodeTokens(docs, merges)
      .as[(Long, Int, String)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val out = Bpe.spanCorruption(docs, merges)
      .as[(Long, String, Int, String)].collect().toSeq
    val Sent = """<extra_id_(\d+)>""".r
    out.map(_._1).distinct.foreach { id =>
      val input = out.filter(r => r._1 == id && r._2 == "input").sortBy(_._3).map(_._4)
      val target = out.filter(r => r._1 == id && r._2 == "target").sortBy(_._3).map(_._4)
      // positions are dense from 1 in both streams (sortBy(_._3) order)
      // parse target into k -> hidden tokens
      val spans = scala.collection.mutable.Map.empty[Int, Vector[String]]
      var cur = -1
      target.foreach {
        case Sent(k) => cur = k.toInt; spans(cur) = Vector.empty
        case t => assert(cur >= 0, s"doc $id: target token before sentinel")
          spans(cur) = spans(cur) :+ t
      }
      // sentinels appear 0,1,2,... in both streams, once each
      val inSents = input.collect { case Sent(k) => k.toInt }
      assert(inSents == inSents.indices.toSeq, s"doc $id input sentinels")
      assert(spans.keys.toSeq.sorted == inSents, s"doc $id sentinel sets")
      spans.values.foreach(s => assert(s.size >= 1 && s.size <= 3, s"doc $id span size"))
      // splice back: sentinel k -> its hidden tokens
      val rebuilt = input.flatMap {
        case Sent(k) => spans(k.toInt)
        case t => Seq(t)
      }
      assert(rebuilt == enc.getOrElse(id, Seq.empty), s"doc $id reconstruction")
      // every full 10-token block hides exactly one span (s < 8 < 10)
      val nFull = enc.getOrElse(id, Seq.empty).size / 10
      assert(spans.size >= nFull, s"doc $id span count")
    }
    // the long doc exercises 2+ sentinels; the empty doc emits nothing
    assert(out.count(r => r._1 == texts.size.toLong + 1 && r._4.startsWith("<extra_id_")) >= 2)
    assert(!out.exists(_._1 == texts.size.toLong))
    val out2 = Bpe.spanCorruption(docs.repartition(7), merges)
      .as[(Long, String, Int, String)].collect().toSeq
    assert(out.sortBy(r => (r._1, r._2, r._3)) == out2.sortBy(r => (r._1, r._2, r._3)))
  }

  test("encodeTokensDropout: skip rule replays by hand; chars conserved; epochs re-draw; deterministic") {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = Bpe.mergePairs(Bpe.trainMerges(docs, 8))
    // independent replay of the skip rule on single-word docs: the
    // doc's token stream IS the word's segmentation
    val words = docs.select(explode(graft.functions.TextFunctions.tokens($"text")))
      .distinct().as[String].collect().toSeq.sorted
    val wdocs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    def replay(word: String, epoch: Int): Seq[String] = {
      var syms = word.map(_.toString).toVector
      merges.zipWithIndex.foreach { case ((l, r), m) =>
        val dropped =
          graft.functions.RollingHash.compute(s"$word:$m:$epoch") % 10 == 0
        if (!dropped && syms.length > 1) {
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          syms.foreach { s =>
            if (out.nonEmpty && out.last == l && s == r) out(out.length - 1) = l + r
            else out += s
          }
          syms = out.toVector
        }
      }
      syms
    }
    Seq(0, 1).foreach { ep =>
      val got = Bpe.encodeTokensDropout(wdocs, merges, dropMod = 10, epoch = ep)
        .as[(Long, Int, String)].collect().toSeq
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
      words.zipWithIndex.foreach { case (w, i) =>
        assert(got(i.toLong) == replay(w, ep), s"word '$w' epoch $ep")
      }
    }
    // conservation: dropping merges moves cut points, never characters
    val full = Bpe.encodeTokens(docs, merges)
      .as[(Long, Int, String)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).mkString).toMap
    val dropped = Bpe.encodeTokensDropout(docs, merges, dropMod = 10, epoch = 0)
      .as[(Long, Int, String)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).mkString).toMap
    assert(full == dropped)
    // the fixture's coins must BIND: some word segments differently
    // with dropout, and the two epochs differ somewhere
    val d0 = Bpe.encodeTokensDropout(docs, merges, dropMod = 10, epoch = 0)
      .as[(Long, Int, String)].collect().toSeq.sorted
    val d1 = Bpe.encodeTokensDropout(docs, merges, dropMod = 10, epoch = 1)
      .as[(Long, Int, String)].collect().toSeq.sorted
    val base = Bpe.encodeTokens(docs, merges)
      .as[(Long, Int, String)].collect().toSeq.sorted
    assert(d0 != base || d1 != base, "dropout never fired — vacuous fixture")
    assert(d0 != d1, "epochs identical — the re-draw is vacuous")
    // partitioning-invariant (narrow projection, but pin it anyway)
    val d0r = Bpe.encodeTokensDropout(docs.repartition(5), merges,
        dropMod = 10, epoch = 0)
      .as[(Long, Int, String)].collect().toSeq.sorted
    assert(d0 == d0r)
  }

  test("ul2Denoisers: per-doc R/X/S draw matches the hash; paradigm token leads; splice reconstructs; S is prefix-LM") {
    val docs = (texts :+ "" :+ "one two three four five six seven eight nine ten eleven twelve" :+
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.mergePairs(Bpe.trainMerges(docs, 4))
    val enc = Bpe.encodeTokens(docs, merges)
      .as[(Long, Int, String)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val hs = docs.select($"doc_id",
        coalesce(graft.functions.TextFunctions.rollingHash($"text"), lit(0L)))
      .as[(Long, Long)].collect().toMap
    val out = Bpe.ul2Denoisers(docs, merges)
      .as[(Long, String, String, Int, String)].collect().toSeq
    val Sent = """<extra_id_(\d+)>""".r
    // the fixture must exercise all three denoisers or the test is vacuous
    assert(out.map(_._2).distinct.toSet == Set("[R]", "[X]", "[S]"))
    out.map(_._1).distinct.foreach { id =>
      val mode = out.filter(_._1 == id).map(_._2).distinct
      assert(mode.size == 1)
      val d = hs(id) % 4
      val expectMode = if (d <= 1) "[R]" else if (d == 2) "[X]" else "[S]"
      assert(mode.head == expectMode, s"doc $id denoiser")
      val input = out.filter(r => r._1 == id && r._3 == "input").sortBy(_._4).map(_._5)
      val target = out.filter(r => r._1 == id && r._3 == "target").sortBy(_._4).map(_._5)
      // the paradigm token is input pos 1, exactly once
      assert(input.head == expectMode, s"doc $id paradigm lead")
      assert(input.count(t => Set("[R]", "[X]", "[S]")(t)) == 1, s"doc $id paradigm once")
      val body = input.tail
      val spans = scala.collection.mutable.Map.empty[Int, Vector[String]]
      var cur = -1
      target.foreach {
        case Sent(k) => cur = k.toInt; spans(cur) = Vector.empty
        case t => assert(cur >= 0, s"doc $id: target token before sentinel")
          spans(cur) = spans(cur) :+ t
      }
      val inSents = body.collect { case Sent(k) => k.toInt }
      assert(inSents == inSents.indices.toSeq, s"doc $id input sentinels")
      assert(spans.keys.toSeq.sorted == inSents, s"doc $id sentinel sets")
      val rebuilt = body.flatMap {
        case Sent(k) => spans(k.toInt)
        case t => Seq(t)
      }
      assert(rebuilt == enc.getOrElse(id, Seq.empty), s"doc $id reconstruction")
      expectMode match {
        case "[S]" =>
          // prefix-LM: exactly one sentinel at the pivot, suffix hidden
          val n = enc(id).size.toLong
          val p = (hs(id) % n).toInt
          assert(inSents == Seq(0), s"doc $id S sentinel count")
          assert(body == enc(id).take(p) :+ "<extra_id_0>", s"doc $id S input")
          assert(spans(0) == enc(id).drop(p).toVector, s"doc $id S target")
        case "[X]" =>
          // extreme spans are 6-8 tokens; only the stream-trailing one
          // can be truncated by stream end (spans never cross blocks)
          val ordered = spans.toSeq.sortBy(_._1).map(_._2)
          ordered.dropRight(1).foreach(sp =>
            assert(sp.size >= 6 && sp.size <= 8, s"doc $id X span size"))
          ordered.lastOption.foreach(sp =>
            assert(sp.size >= 1 && sp.size <= 8, s"doc $id X last span"))
        case _ =>
          spans.values.foreach(sp =>
            assert(sp.size >= 1 && sp.size <= 3, s"doc $id R span size"))
      }
    }
    // the empty doc emits nothing
    assert(!out.exists(_._1 == texts.size.toLong))
    // partitioning-invariant
    val out2 = Bpe.ul2Denoisers(docs.repartition(7), merges)
      .as[(Long, String, String, Int, String)].collect().toSeq
    assert(out.sortBy(r => (r._1, r._3, r._4)) == out2.sortBy(r => (r._1, r._3, r._4)))
  }

  test("oovReport: absent-token counts per doc; tokenless docs keep an all-zero row") {
    val scored = Seq((1L, 1, "a"), (1L, 2, "q"), (1L, 3, "q"),
      (3L, 1, "b")).toDF("doc_id", "pos", "token")
    val vocab = Seq("a", "b").toDF("token")
    val ids = Seq(1L, 3L, 5L).toDF("doc_id") // 5 has no tokens at all
    val got = Bpe.oovReport(scored, vocab, ids)
      .orderBy($"doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 2L, 666666L),
      (3L, 1L, 0L, 0L),
      (5L, 0L, 0L, 0L)))
  }

  test("extendMerges: same-corpus warm start is exactly the longer run's suffix; ranks continue cross-corpus; dry raises") {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val full = Bpe.trainMerges(docs, 6)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    val prior = full.take(3).map(m => (m._2, m._3))
    val ext = Bpe.extendMerges(docs, prior, 3)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(ext == full.drop(3))
    // a prior trained ELSEWHERE extends on a new corpus; ranks continue
    val other = Seq((50L, "zz zz zz yy")).toDF("doc_id", "text")
    val e2 = Bpe.extendMerges(other, prior, 1)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(e2.size == 1 && e2.head._1 == 3)
    // a corpus that runs dry mid-extension raises, never truncates
    val dry = intercept[IllegalArgumentException] {
      Bpe.extendMerges(other, prior, 50)
    }
    assert(dry.getMessage.contains("extension"))
  }

  /** A corpus deep enough for 40+ merges: random words over eight
    * letters, so the trainers cross the lineage cuts after 16 and 32
    * folded merges.
    */
  lazy val deepTexts: Seq[String] = {
    val rnd = new scala.util.Random(11)
    Seq.fill(12)(Seq.fill(30)(
      Seq.fill(3 + rnd.nextInt(7))("abcdefgh"(rnd.nextInt(8))).mkString).mkString(" "))
  }
  lazy val deepDocs = deepTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    .toDF("doc_id", "text")
  lazy val deepTrained = Bpe.trainMerges(deepDocs, 44)
    .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)

  test("trainMerges past two lineage cuts (44 merges) matches the local reference") {
    assert(deepTrained == referenceTrain(deepTexts, 44))
  }

  test("extendMerges: a trained 20-merge prior (folded across a cut) extends to the longer run's tail") {
    val prior = deepTrained.take(20).map(m => (m._2, m._3))
    val ext = Bpe.extendMerges(deepDocs, prior, 24)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(ext == deepTrained.drop(20))
  }

  test("extendMerges: a prior DEEPER than the measured 64-fold analysis cliff applies and extends") {
    // FOLDDEPTH_r13.json: >= 64 chained mergeFold HOFs fail analysis
    // (Max iterations reached) under stock Spark — exactly the shape an
    // unbroken prior application builds. The checkpoint-every-16 fix
    // must let a realistically sized prior through. 80 never-matching
    // pairs exercise the plan depth without changing the symbol table,
    // so the extension's first merge is just the corpus's top pair.
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // multi-char left symbols that no char-split array or earlier no-op
    // merge can ever produce - guaranteed non-matching at every depth
    val noopPrior = (0 until 80).map(i => (s"<$i>", s"<$i>"))
    val first = Bpe.trainMerges(docs, 1)
      .as[(Int, String, String, Long)].collect().head
    val ext = Bpe.extendMerges(docs, noopPrior, 1)
      .as[(Int, String, String, Long)].collect().head
    assert(ext._1 == 80, "ranks continue after the prior")
    assert((ext._2, ext._3, ext._4) == (first._2, first._3, first._4),
      "a no-op prior must not perturb the next trained merge")
  }

  test("fuzz: FIM reassembly and span-corruption reconstruction hold on random corpora (incl. non-ASCII, 1-token, empty)") {
    val rnd = new scala.util.Random(7)
    val alphabet = Vector("a", "b", "ab", "ba", "ü", "αβ", "x")
    (0 until 4).foreach { round =>
      // the fixed doc guarantees trainable pairs whatever the draw
      val docs = ((0 until 12).map { i =>
        val n = rnd.nextInt(26) // 0..25 words
        (i.toLong, Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString(" "))
      } :+ (100L, "abba abba abba")).toDF("doc_id", "text")
      val merges = Bpe.mergePairs(Bpe.trainMerges(docs, 1 + rnd.nextInt(2)))
      val enc = Bpe.encodeTokens(docs, merges)
        .as[(Long, Int, String)].collect().toSeq
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
      // FIM: reassembly per doc
      val fim = Bpe.fimTransform(docs, merges)
        .as[(Long, Int, String, Boolean)].collect().toSeq.groupBy(_._1)
      fim.foreach { case (id, rows) =>
        val toks = rows.sortBy(_._2).map(_._3)
        val orig = enc.getOrElse(id, Seq.empty)
        if (rows.head._4) {
          val is = toks.indexOf("<fim_suf>"); val im = toks.indexOf("<fim_mid>")
          assert(toks.head == "<fim_pre>" && is > 0 && im > is, s"round $round doc $id")
          assert(toks.slice(1, is) ++ toks.drop(im + 1) ++ toks.slice(is + 1, im) == orig,
            s"round $round doc $id fim")
        } else assert(toks == orig, s"round $round doc $id passthrough")
      }
      // span corruption: splice-back per doc
      val sc = Bpe.spanCorruption(docs, merges)
        .as[(Long, String, Int, String)].collect().toSeq.groupBy(_._1)
      val Sent = """<extra_id_(\d+)>""".r
      sc.foreach { case (id, rows) =>
        val input = rows.filter(_._2 == "input").sortBy(_._3).map(_._4)
        val target = rows.filter(_._2 == "target").sortBy(_._3).map(_._4)
        val spans = scala.collection.mutable.Map.empty[Int, Vector[String]]
        var cur = -1
        target.foreach {
          case Sent(k) => cur = k.toInt; spans(cur) = Vector.empty
          case t => spans(cur) = spans(cur) :+ t
        }
        val rebuilt = input.flatMap {
          case Sent(k) => spans(k.toInt)
          case t => Seq(t)
        }
        assert(rebuilt == enc.getOrElse(id, Seq.empty), s"round $round doc $id span")
      }
    }
  }

  test("windowSegments: seg is the dense 0-based per-window document ordinal") {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.mergePairs(Bpe.trainMerges(docs, 4))
    val rows = Bpe.windowSegments(Bpe.tokenWindows(docs, merges, windowSize = 7))
      .as[(Long, Int, String, Long, Long, Long)].collect().toSeq
    // small window over 4 docs → at least one window genuinely crosses
    // a document boundary, so the ordinal is exercised beyond seg=0
    assert(rows.exists(_._6 > 0L))
    rows.groupBy(_._4).foreach { case (win, ws) =>
      val ordinal = ws.map(_._1).distinct.sorted.zipWithIndex.toMap
      ws.foreach { r =>
        assert(r._6 == ordinal(r._1).toLong, s"win $win doc ${r._1}: seg ${r._6}")
      }
      // dense 0..n-1 within the window
      assert(ws.map(_._6).distinct.sorted == (0 until ordinal.size).map(_.toLong))
    }
  }

  test("window export: read-back manifest equals the input manifest; rows round-trip exactly") {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.mergePairs(Bpe.trainMerges(docs, 4))
    val windowed = Bpe.tokenWindows(docs, merges, windowSize = 7)
    val dir = java.nio.file.Files.createTempDirectory("graft_winexp_").toString
    try {
      Bpe.writeWindowShards(windowed, dir, nShards = 3)
      val fromInput = Bpe.windowShardManifest(windowed, nShards = 3)
        .as[(Long, Long, Long, Long)].collect().toSet
      val fromDir = Bpe.windowShardManifestFromDir(spark, dir)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(fromDir == fromInput)
      assert(fromInput.map(_._1) == Set(0L, 1L, 2L))
      // full row round-trip (order-free)
      val back = spark.read.parquet(dir)
        .select($"doc_id", $"pos", $"token", $"win_id", $"off")
        .as[(Long, Int, String, Long, Long)].collect().toSet
      val orig = windowed.as[(Long, Int, String, Long, Long)].collect().toSet
      assert(back == orig)
      // every shard holds only its own windows
      spark.read.parquet(dir).select($"shard".cast("long"), $"win_id")
        .as[(Long, Long)].collect()
        .foreach { case (sh, w) => assert(w % 3 == sh) }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("batched trainer with batchSize=1 degenerates exactly to the sequential trainer") {
    // greedy first-fit with K=1 always selects the round's top-1 pair
    // (the used set starts empty), so every round IS a sequential step
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val seq = Bpe.trainMerges(docs, 6).orderBy($"rank")
      .as[(Int, String, String, Long)].collect().toSeq
    val bat = Bpe.trainMergesBatched(docs, rounds = 6, batchSize = 1)
      .orderBy($"rank")
      .select($"rank", $"left", $"right", $"pair_count")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(bat == seq)
  }

  test("batched ≡ sequential on a conflict-free corpus (disjoint two-symbol words)") {
    // every word is two distinct symbols and no symbol repeats across
    // words: merges neither create pairs (a fused word has one symbol)
    // nor touch each other's counts, so ONE batched round must equal
    // four sequential rounds, in the same rank order
    val cfTexts = Seq(Seq.fill(10)("ab"), Seq.fill(9)("cd"),
      Seq.fill(8)("ef"), Seq.fill(7)("gh")).map(_.mkString(" "))
    val docs = cfTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val seq = Bpe.trainMerges(docs, 4).orderBy($"rank")
      .as[(Int, String, String, Long)].collect().toSeq
    val bat = Bpe.trainMergesBatched(docs, rounds = 1, batchSize = 4)
      .orderBy($"rank")
      .select($"rank", $"left", $"right", $"pair_count")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(bat == seq)
    assert(bat.map(_._4) == Seq(10L, 9L, 8L, 7L)) // rank order = count order
  }

  test("rank-order sequential apply ≡ per-round batch apply of a batched-trained table (random corpora)") {
    // the q_bpe_windows_batched contract: the engine applies the
    // trained table ONE merge at a time in rank order (BpeEncode),
    // while the oracle applies each round's selections in one fold
    // pass — equal because a round's selections are pairwise
    // symbol-disjoint (l, r, and l||r all unused by the round's other
    // picks), so no position can match two rules and no application
    // creates or destroys another rule's match
    def applySeq(w: String, ms: Seq[(String, String)]): Seq[String] =
      ms.foldLeft(w.map(_.toString): Seq[String]) { case (syms, (l, r)) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        syms.foreach { s =>
          if (out.nonEmpty && out.last == l && s == r) out(out.size - 1) = l + r
          else out += s
        }
        out.toSeq
      }
    def applyBatch(syms: Seq[String], batch: Seq[(String, String)]): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      syms.foreach { s =>
        if (out.nonEmpty && batch.exists { case (l, r) => out.last == l && s == r })
          out(out.size - 1) = out.last + s
        else out += s
      }
      out.toSeq
    }
    val rnd = new scala.util.Random(77)
    for (iter <- 1 to 5) {
      val alpha = "abcde"
      val words = Seq.fill(16)(
        (1 to (3 + rnd.nextInt(6))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
      val rdocs = words.grouped(4).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq.toDF("doc_id", "text")
      val tbl = Bpe.trainMergesBatched(rdocs, rounds = 3, batchSize = 4)
        .orderBy($"rank").as[(Int, Int, String, String, Long)].collect().toSeq
      val seqTable = tbl.map(t => (t._3, t._4))
      val roundBatches = tbl.groupBy(_._2).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._1).map(t => (t._3, t._4)))
      words.distinct.foreach { w =>
        val sequential = applySeq(w, seqTable)
        val batched = roundBatches.foldLeft(w.map(_.toString): Seq[String])(applyBatch)
        assert(sequential == batched, s"iter $iter word $w table $seqTable")
      }
      // and the engine's frozen-expression encode equals the sequential reference
      val enc = Bpe.encodeTokens(rdocs, seqTable).as[(Long, Int, String)].collect().toSeq
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      words.grouped(4).zipWithIndex.foreach { case (ws, i) =>
        assert(enc(i.toLong) == ws.flatMap(applySeq(_, seqTable)), s"iter $iter doc $i")
      }
    }
  }

  test("batched rounds select pairwise symbol-disjoint pairs (incl. fused strings)") {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val rows = Bpe.trainMergesBatched(docs, rounds = 3, batchSize = 8)
      .select($"round", $"left", $"right")
      .as[(Int, String, String)].collect().toSeq
    rows.groupBy(_._1).foreach { case (round, sel) =>
      val symSets = sel.map { case (_, l, r) => Set(l, r, l + r) }
      for (i <- symSets.indices; j <- 0 until i)
        assert(symSets(i).intersect(symSets(j)).isEmpty,
          s"round $round: ${sel(i)} shares symbols with ${sel(j)}")
    }
    assert(rows.nonEmpty)
  }

  test("batched training is partitioning-independent") {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val a = Bpe.trainMergesBatched(docs.repartition(7), rounds = 2, batchSize = 4)
      .orderBy($"rank").as[(Int, Int, String, String, Long)].collect().toSeq
    val b = Bpe.trainMergesBatched(docs.coalesce(1), rounds = 2, batchSize = 4)
      .orderBy($"rank").as[(Int, Int, String, String, Long)].collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("training is partitioning-independent") {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val a = Bpe.trainMerges(docs.repartition(7), 4).orderBy($"rank")
      .as[(Int, String, String, Long)].collect().toSeq
    val b = Bpe.trainMerges(docs.coalesce(1), 4).orderBy($"rank")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(a == b)
  }

  test("segmentStats: token count falls monotonically with merges; char mass is conserved") {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.mergePairs(Bpe.trainMerges(docs, 6))
    val counts = (0 to 6).map { m =>
      Bpe.segmentStats(docs, merges.take(m))
        .agg(org.apache.spark.sql.functions.sum($"n_tokens")).as[Long].head()
    }
    assert(counts.sliding(2).forall { case Seq(a, b) => b <= a })
    assert(counts.last < counts.head) // the merges actually bind
    // conservation: with zero merges, tokens == characters of the words
    val chars = texts.flatMap(_.toLowerCase.split("\\s+").filter(_.nonEmpty)).map(_.length.toLong).sum
    assert(counts.head == chars)
  }

  test("fuzz: random tiny corpora train identically to the reference (tie + repeat regimes)") {
    import org.scalacheck.{Gen, rng}
    // 3-letter alphabet, short words → dense pair ties and aa-run merges
    val wordGen = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val corpusGen = Gen.choose(3, 10).flatMap(n => Gen.listOfN(n, Gen.choose(2, 6).flatMap(m => Gen.listOfN(m, wordGen).map(_.mkString(" ")))))
    (0 until 5).foreach { seed =>
      val texts = corpusGen.pureApply(Gen.Parameters.default, rng.Seed(seed.toLong))
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = try Some(Bpe.trainMerges(docs, 3).orderBy($"rank")
        .as[(Int, String, String, Long)].collect().toSeq)
      catch { case e: IllegalArgumentException if e.getMessage.contains("ran out") => None }
      val ref = referenceTrain(texts, 3) // stops at dry
      got match {
        case Some(g) => assert(g == ref, s"seed $seed: $texts")
        case None => assert(ref.size < 3,
          s"seed $seed: Spark ran dry but the reference didn't: $texts")
      }
    }
  }

  test("a corpus that runs out of pairs raises instead of silently truncating") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text") // single-char words: no pairs
    val e = intercept[IllegalArgumentException](Bpe.trainMerges(docs, 1))
    assert(e.getMessage.contains("ran out of symbol pairs"))
  }

  // ---- byte-level unit alphabet (GPT-2 bytes_to_unicode wiring) ----

  val byteTexts = Seq(
    "数据处理 机器学习 数据 banana",
    "日本語テキスト 日本語 データ処理 banana bandana",
    "déjà vu naïve café déjà café",
    "数据处理 日本語テキスト mixed ascii words")

  /** Local byte-level reference: [[referenceTrain]] with every word
    * byte-unit pre-encoded (one symbol per raw UTF-8 byte).
    */
  def referenceTrainBytes(texts: Seq[String], n: Int): Seq[(Int, String, String, Long)] =
    referenceTrainWords(
      texts.flatMap(_.toLowerCase.split("[ \t\n\f\r]+").filter(_.nonEmpty))
        .map(graft.functions.ByteUnitsOps.encodeString), n)

  test("byteLevel trainMerges matches the local reference: CJK decomposes into trainable byte triples") {
    val docs = byteTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Bpe.trainMerges(docs, 6, byteLevel = true).orderBy($"rank")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == referenceTrainBytes(byteTexts, 6))
    // the gate's point: at least one trained merge fuses byte units
    // OUTSIDE printable ASCII (a multibyte character's interior)
    assert(got.exists { case (_, l, r, _) =>
      (l + r).exists(c => c > 'z') }, s"no multibyte merge trained: $got")
  }

  test("byteLevel: frozen-expression segmentation ≡ chained-fold segmentation, incl. random unit tables") {
    val docs = byteTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    def both(merges: Seq[(String, String)]) = {
      val fold = Bpe.segmentStats(docs, merges, byteLevel = true).orderBy($"doc_id")
        .as[(Long, Long, Long)].collect().toSeq
      val expr = Bpe.segmentStatsFrozen(docs, merges, byteLevel = true).orderBy($"doc_id")
        .as[(Long, Long, Long)].collect().toSeq
      assert(expr == fold, s"merges=$merges")
      fold
    }
    val trained = Bpe.mergePairs(Bpe.trainMerges(docs, 8, byteLevel = true))
    val st = both(trained)
    // pre-merge token counts are BYTE counts: with no merges, n_tokens
    // for doc 0 = its words' total UTF-8 byte length
    val none = both(Nil)
    val bytes0 = byteTexts(0).toLowerCase.split("[ \t\n\f\r]+").filter(_.nonEmpty)
      .map(_.getBytes("UTF-8").length.toLong).sum
    assert(none(0) == ((0L, 4L, bytes0)))
    assert(st(0)._3 < bytes0, "8 trained merges should compress doc 0")
    // random tables over the corpus's UNIT alphabet (seeded)
    val alpha = byteTexts.flatMap(_.toLowerCase.split("\\s+"))
      .map(graft.functions.ByteUnitsOps.encodeString)
      .flatMap(_.toSeq).distinct.map(_.toString)
    val rnd = new scala.util.Random(15)
    for (_ <- 1 to 5)
      both(Seq.fill(6)((alpha(rnd.nextInt(alpha.size)), alpha(rnd.nextInt(alpha.size)))))
  }

  test("byteLevel encodeTokens: a word's concatenated tokens DECODE back to the raw word") {
    val docs = byteTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = Bpe.mergePairs(Bpe.trainMerges(docs, 8, byteLevel = true))
    val toks = Bpe.encodeTokens(docs, merges, byteLevel = true)
      .as[(Long, Int, String)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    for ((doc, i) <- byteTexts.zipWithIndex) {
      val words = doc.toLowerCase.split("[ \t\n\f\r]+").filter(_.nonEmpty)
      // token stream re-concatenated = the byte-unit encoding of the
      // whitespace-stripped doc; decoding inverts it exactly
      val units = toks(i.toLong).mkString("")
      assert(units == words.map(graft.functions.ByteUnitsOps.encodeString).mkString(""))
      // every token decodes through the unit alphabet (merges never
      // cross word boundaries, but CAN split a char's byte triple —
      // only the concatenation per word is guaranteed valid UTF-8)
      val s2 = spark
      import s2.implicits._
      val dec = Seq(units).toDF("u")
        .select(graft.functions.ByteUnits.byte_units_decode($"u")).as[String]
        .collect()(0)
      assert(dec == words.mkString(""))
    }
  }

  test("byteLevel batched trainer: batchSize=1 degenerates to sequential byte-level training") {
    val docs = byteTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val seq6 = Bpe.trainMerges(docs, 6, byteLevel = true).orderBy($"rank")
      .as[(Int, String, String, Long)].collect().toSeq
    val bat = Bpe.trainMergesBatched(docs, rounds = 6, batchSize = 1,
        unitTokens = 1, byteLevel = true)
      .orderBy($"rank")
      .select($"rank", $"left", $"right", $"pair_count")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(bat == seq6)
  }

  test("gpt2Pretokens reproduces the published pattern's splits on every branch") {
    val text = "We don't like  spaced\tTab (x) 3.14 'quoted'"
    val got = Seq((1L, text)).toDF("doc_id", "text")
      .select(graft.functions.TextFunctions.gpt2Pretokens($"text"))
      .as[Seq[String]].head()
    // hand-derived from the pattern's ordered alternation: contraction
    // 't splits off; "  spaced" gives its FIRST space to a lone-space
    // token and keeps one on the word (the (?!\S) giveback); the tab
    // stays its own token (` ?` absorbs only a literal space); " '"
    // rides the punctuation branch, breaking 'quoted' off after it
    val expected = Seq("We", " don", "'t", " like", " ", " spaced",
      "\t", "Tab", " (", "x", ")", " 3", ".", "14", " '", "quoted", "'")
    assert(got == expected)
  }

  test("gpt2Pretokens matches are CONTIGUOUS: concatenation reproduces the input") {
    val tricky = Seq(
      "trailing run   ", "a  b   c", "line\nbreaks\r\nhere",
      "don't they're I'll we'd you've I'm it's", "日本語テキスト mixed",
      "e😀moji and 🚀", "'''", "x-2.5e9 #tag @user", "", "   ")
    val rows = tricky.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select($"text",
        concat_ws("", graft.functions.TextFunctions.gpt2Pretokens($"text")).as("re"))
      .as[(String, String)].collect()
    rows.foreach { case (t, re) => assert(re == t, s"lost bytes on '$t'") }
  }

  test("pretok trainer refuses non-byteLevel (the Ġ convention lives in the unit alphabet)") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Bpe.trainMerges(docs, 1, byteLevel = false, pretok = true)
    }
    assert(e.getMessage.contains("byteLevel"))
  }

  test("pretok apply side tokenizes exactly like the trainer (n_words = pretok match count)") {
    val docs = Seq((1L, "We don't like  spaced\tTab (x) 3.14 'quoted'"),
      (2L, "Hello,  World! 日本語"), (3L, "")).toDF("doc_id", "text")
    val nw = Bpe.segmentStats(docs, Seq(("a", "b")), byteLevel = true,
        pretok = true)
      .orderBy($"doc_id").select($"n_words").as[Long].collect().toSeq
    val nwFrozen = Bpe.segmentStatsFrozen(docs, Seq(("a", "b")),
        byteLevel = true, pretok = true)
      .orderBy($"doc_id").select($"n_words").as[Long].collect().toSeq
    val expected = docs
      .select(size(graft.functions.TextFunctions.gpt2Pretokens($"text"))
        .cast("long"))
      .as[Long].collect().toSeq
    assert(nw == expected)
    assert(nwFrozen == expected)
    assert(expected.head == 17L) // the hand-derived split above
  }

  test("fuzz: the oracle's ordered-alternation scanner ≡ the published regex on random text") {
    // the DuckDB mirror cannot run lookahead (RE2), so frag.pretokMl
    // re-derives match lengths arithmetically. This pins the SAME
    // algorithm in Scala against Java's lookahead engine on adversarial
    // random strings — whitespace runs, contractions, mixed scripts —
    // so the SQL spelling's logic is validated independently of the
    // fixture the gate happens to use.
    def scanRef(text: String): Seq[String] = {
      def isWs(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'
      def isL(c: Char) = Character.isLetter(c)
      def isN(c: Char) = Character.isDigit(c)
      def runLen(from: Int, p: Char => Boolean): Int = {
        var i = from; while (i < text.length && p(text.charAt(i))) i += 1; i - from
      }
      val out = Seq.newBuilder[String]
      var pos = 0
      while (pos < text.length) {
        val rest = text.substring(pos)
        val ml =
          if (Seq("'re", "'ve", "'ll").exists(rest.startsWith)) 3
          else if (Seq("'s", "'t", "'m", "'d").exists(rest.startsWith)) 2
          else {
            val sp = if (text.charAt(pos) == ' ') 1 else 0
            val l = runLen(pos + sp, isL)
            val n = runLen(pos + sp, isN)
            val o = runLen(pos + sp, c => !isWs(c) && !isL(c) && !isN(c))
            if (l > 0) sp + l
            else if (n > 0) sp + n
            else if (o > 0) sp + o
            else {
              val w = runLen(pos, isWs)
              if (pos + w >= text.length) w else if (w > 1) w - 1 else 1
            }
          }
        out += text.substring(pos, pos + ml)
        pos += ml
      }
      out.result()
    }
    val pat = java.util.regex.Pattern.compile(
      graft.functions.TextFunctions.Gpt2PretokPattern)
    def scanJava(text: String): Seq[String] = {
      val m = pat.matcher(text)
      val out = Seq.newBuilder[String]
      while (m.find()) out += m.group()
      out.result()
    }
    val alphabet = "ab N3'.  \t\nた,-"
    val rnd = new scala.util.Random(7)
    (0 until 500).foreach { _ =>
      val s = (0 until rnd.nextInt(24)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val (ref, jav) = (scanRef(s), scanJava(s))
      assert(ref == jav, s"scanner mismatch on ${s.map(_.toInt)}: $ref vs $jav")
      assert(jav.mkString == s)
    }
  }

  test("pretok encode is case-PRESERVING where the whitespace spelling lowercases") {
    val docs = Seq((1L, "Ab")).toDF("doc_id", "text")
    val pre = Bpe.encodeTokens(docs, Nil, byteLevel = true, pretok = true)
      .select($"token").as[String].collect().toSeq
    val ws = Bpe.encodeTokens(docs, Nil, byteLevel = true)
      .select($"token").as[String].collect().toSeq
    assert(pre == Seq("A", "b"))
    assert(ws == Seq("a", "b"))
  }

  test("byteLevel on printable-ASCII text degenerates exactly to char-level (printables self-map)") {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val a = Bpe.trainMerges(docs, 6, byteLevel = true).orderBy($"rank")
      .as[(Int, String, String, Long)].collect().toSeq
    val b = Bpe.trainMerges(docs, 6).orderBy($"rank")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(a == b)
    val merges = Bpe.mergePairs(Bpe.trainMerges(docs, 6))
    val sa = Bpe.segmentStatsFrozen(docs, merges, byteLevel = true).orderBy($"doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    val sb = Bpe.segmentStatsFrozen(docs, merges).orderBy($"doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(sa == sb)
  }

}
