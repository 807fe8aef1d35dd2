package graft

import graft.index.{InvertedIndex, Positions}
import graft.query.{Bm25, Phrase}

/** Exact phrase matching (Lucene PhraseQuery semantics): positional block
 *  round-trip, phrase frequency incl. within-doc repeats and overlap, idf
 *  summed per phrase slot, unindexed-term emptiness. */
class PhraseSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "a b c a b"),       // "a b" x2, "a b c" x1
    (1L, "b a c b a"),       // no "a b"
    (2L, "a b a b a b"),     // "a b" x3 (starts 0, 2, 4)
    (3L, "x y a"),           // no "a b"
    (4100L, "a b z")         // second bucket: cross-bucket correctness
  )

  private def fixture = corpus.toDF("doc_id", "text")
  private lazy val idx = InvertedIndex.build(fixture, "doc_id", "text")
  private lazy val pos = Positions.build(fixture, "doc_id", "text")

  test("positional blocks round-trip the analyzed positions exactly") {
    val got = pos.collect().flatMap { b =>
      val base = b.bucket << InvertedIndex.BucketBits
      Positions.decodeEntries(b).map { case (local, ps) =>
        (b.term, base + local) -> ps.toSeq
      }
    }.toMap
    val expected = corpus.flatMap { case (id, text) =>
      text.split(" ").zipWithIndex.groupBy(_._1).map { case (t, occ) =>
        (t, id) -> occ.map(_._2).toSeq
      }
    }.toMap
    assert(got == expected)
  }

  test("phrase top-k: frequency, idf-sum weight, and ordering from first principles") {
    val docs = corpus.toMap
    val toks = docs.view.mapValues(_.split(" ").toSeq).toMap
    val nDocs = docs.size.toLong
    val avgdl = toks.values.map(_.size).sum.toDouble / nDocs
    def df(t: String) = toks.values.count(_.contains(t)).toLong
    def phraseFreq(id: Long, ph: Seq[String]): Int =
      toks(id).indices.count(p =>
        ph.indices.forall(i => toks(id).lift(p + i).contains(ph(i))))
    def expectedTopK(ph: Seq[String], k: Int): Seq[(Long, Double)] = {
      val w = ph.map(t => Bm25.idf(df(t), nDocs)).sum
      docs.keys.toSeq.sorted
        .map(id => (id, phraseFreq(id, ph)))
        .filter(_._2 > 0)
        .map { case (id, f) => (id, w * Bm25.tfNorm(f, toks(id).size, avgdl)) }
        .sortBy { case (id, s) => (-s, id) }
        .take(k)
    }
    def got(ph: Seq[String], k: Int): Seq[(Long, Double)] =
      Phrase.topK(idx, pos, ph, k).collect().toSeq
        .map(r => (r.getLong(0), r.getDouble(1)))

    for (ph <- Seq(Seq("a", "b"), Seq("a", "b", "c"), Seq("b", "a"), Seq("x", "y"))) {
      val g = got(ph, 10)
      val e = expectedTopK(ph, 10)
      assert(g.map(_._1) == e.map(_._1), s"docs for $ph: got $g expected $e")
      g.zip(e).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-9, s"score for $ph: got $g expected $e")
      }
    }
  }

  test("a phrase containing an unindexed term matches nothing") {
    assert(Phrase.topK(idx, pos, Seq("a", "nosuchterm"), 10).count() == 0)
  }

  test("match_phrase_prefix: deterministic expansion, MultiPhraseQuery weight, cap order") {
    val c = Seq(
      (0L, "go alpha x"),         // go + alpha
      (1L, "go alert"),           // go + alert
      (2L, "go beta"),            // prefix mismatch
      (3L, "alpha go"),           // wrong order
      (4L, "go alpha go alert"))  // freq 2 across two expansions
    val f = c.toDF("doc_id", "text")
    val i2 = InvertedIndex.build(f, "doc_id", "text")
    val p2 = Positions.build(f, "doc_id", "text")
    val got = Phrase.phrasePrefixScore(i2, p2, Seq("go"), "al").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val n = 5L
    val avgdl = (3 + 2 + 2 + 2 + 4) / 5.0
    def df(t: String) = c.count(_._2.split(" ").contains(t)).toLong
    // one TermStatistics per term: go + BOTH expansions (alert, alpha)
    val w = Bm25.idf(df("go"), n) + Bm25.idf(df("alert"), n) + Bm25.idf(df("alpha"), n)
    val expected = Map(
      0L -> w * Bm25.tfNorm(1, 3, avgdl),
      1L -> w * Bm25.tfNorm(1, 2, avgdl),
      4L -> w * Bm25.tfNorm(2, 4, avgdl))
    assert(got.keySet == expected.keySet)
    expected.foreach { case (d, s) => assert(math.abs(got(d) - s) < 1e-9, s"doc $d") }
    // max_expansions keeps the FIRST dictionary-order term: "alert"
    val capped = Phrase.phrasePrefixScore(i2, p2, Seq("go"), "al", maxExpansions = 1)
      .collect().map(_.getLong(0)).toSet
    assert(capped == Set(1L, 4L))
    // unmatched prefix / unindexed fixed term -> empty
    assert(Phrase.phrasePrefixScore(i2, p2, Seq("go"), "zz").count() == 0)
    assert(Phrase.phrasePrefixScore(i2, p2, Seq("nosuch"), "al").count() == 0)
  }

  test("spanNearMatch equals the brute-force span model") {
    val toks = corpus.toMap.view.mapValues(_.split(" ").toSeq).toMap
    def brute(id: Long, terms: Seq[String], slop: Int, inOrder: Boolean): Boolean = {
      val posLists = terms.map(t =>
        toks(id).zipWithIndex.collect { case (`t`, p) => p })
      if (posLists.exists(_.isEmpty)) false
      else {
        val combos = posLists.foldLeft(Seq(Seq.empty[Int])) { (acc, l) =>
          for (c <- acc; p <- l) yield c :+ p
        }
        combos.exists { c =>
          c.distinct.size == c.size &&
            c.max - c.min + 1 - terms.size <= slop &&
            (!inOrder || c.zip(c.tail).forall { case (x, y) => x < y })
        }
      }
    }
    // duplicate terms, reversed order, a 3-term span, an unindexed term
    for {
      terms <- Seq(Seq("a", "b"), Seq("b", "a"), Seq("a", "b", "c"),
        Seq("a", "a"), Seq("x", "a"))
      slop <- Seq(0, 1, 3)
      inOrder <- Seq(true, false)
    } {
      val got = Phrase.spanNearMatch(idx, pos, terms, slop, inOrder)
        .collect().map(_.getLong(0)).toSet
      val want = corpus.map(_._1)
        .filter(id => brute(id, terms, slop, inOrder)).toSet
      assert(got == want, s"terms=$terms slop=$slop inOrder=$inOrder got=$got want=$want")
    }
  }

  test("spanNearMaskedMatch equals the brute-force mixed-stream model") {
    // a parallel second field per doc: positions come from ITS token stream
    val fieldB = Seq(
      (0L, "p q a"), (1L, "a p"), (2L, "q q p"), (3L, "p a q"), (4100L, "q a"))
    val posB = Positions.build(fieldB.toDF("doc_id", "text"), "doc_id", "text")
    val toksA = corpus.toMap.view.mapValues(_.split(" ").toSeq).toMap
    val toksB = fieldB.toMap.view.mapValues(_.split(" ").toSeq).toMap
    def brute(id: Long, slots: Seq[(String, String)], slop: Int,
              inOrder: Boolean): Boolean = {
      val posLists = slots.map { case (f, t) =>
        (if (f == "text") toksA(id) else toksB(id))
          .zipWithIndex.collect { case (`t`, p) => p }
      }
      if (posLists.exists(_.isEmpty)) false
      else {
        val combos = posLists.foldLeft(Seq(Seq.empty[Int])) { (acc, l) =>
          for (c <- acc; p <- l) yield c :+ p
        }
        combos.exists { c =>
          c.distinct.size == c.size &&
            c.max - c.min + 1 - slots.size <= slop &&
            (!inOrder || c.zip(c.tail).forall { case (x, y) => x < y })
        }
      }
    }
    // same term name in BOTH streams ("a") must stay two distinct streams
    for {
      slots <- Seq(
        Seq("text" -> "a", "other" -> "p"),
        Seq("other" -> "p", "text" -> "b"),
        Seq("text" -> "a", "other" -> "a"),
        Seq("text" -> "a", "other" -> "q", "text" -> "b"))
      slop <- Seq(0, 1, 3)
      inOrder <- Seq(true, false)
    } {
      val slotPos = slots.map { case (f, t) =>
        (if (f == "text") pos else posB, f, t) }
      val got = Phrase.spanNearMaskedMatch(idx, slotPos, slop, inOrder)
        .collect().map(_.getLong(0)).toSet
      val want = corpus.map(_._1)
        .filter(id => brute(id, slots, slop, inOrder)).toSet
      assert(got == want, s"slots=$slots slop=$slop inOrder=$inOrder got=$got want=$want")
    }
  }

  test("span_containing equals brute force (ordered/unordered, k=2/3, " +
    "repeated terms)") {
    import graft.index.{InvertedIndex, Positions}
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e")
    val docs = (1L to 40L).map(i =>
      (i, Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val idx = InvertedIndex.build(df, "doc_id", "text")
    val pb = Positions.build(df, "doc_id", "text")
    def brute(big: Seq[String], slop: Int, inOrder: Boolean, little: String): Set[Long] =
      docs.filter { case (_, text) =>
        val toks = text.split(" ").toVector
        val posOf = big.map(t => toks.zipWithIndex.collect { case (w, i) if w == t => i })
        val lps = toks.zipWithIndex.collect { case (w, i) if w == little => i }
        def tuples(ts: Seq[Seq[Int]]): Seq[Seq[Int]] =
          ts.foldLeft(Seq(Seq.empty[Int]))((acc, arr) => acc.flatMap(pre => arr.map(pre :+ _)))
        posOf.forall(_.nonEmpty) && lps.nonEmpty && tuples(posOf).exists { tup =>
          tup.distinct.size == tup.size &&
            (!inOrder || tup.sliding(2).forall(s => s.size < 2 || s(0) < s(1))) &&
            tup.max - tup.min + 1 - tup.size <= slop &&
            lps.exists(lp => lp >= tup.min && lp <= tup.max)
        }
      }.map(_._1).toSet
    for ((big, slop, ord, little) <- Seq(
        (Seq("a", "b"), 2, true, "c"), (Seq("a", "b"), 3, false, "d"),
        (Seq("a", "b", "c"), 4, true, "d"), (Seq("a", "b", "c"), 3, false, "e"),
        (Seq("a", "a"), 2, true, "b"), (Seq("b", "a"), 0, true, "c"))) {
      val got = Phrase.spanContainingMatch(idx, pb, big, slop, ord, little)
        .collect().map(_.getLong(0)).toSet
      assert(got == brute(big, slop, ord, little),
        s"big=$big slop=$slop ord=$ord little=$little")
    }
    intercept[IllegalArgumentException](
      Phrase.spanContainingMatch(idx, pb, Seq("a"), 1, inOrder = true, "b"))
    intercept[IllegalArgumentException](
      Phrase.spanContainingMatch(idx, pb, Seq("a", "b"), -1, inOrder = true, "c"))
  }

  test("sloppyFreq: 2-term chain closed form equals the pq matcher (fuzz)") {
    // independent model: the stationary chain — v0 = larger head (tie owned
    // by slot 1); each v emits length v - pred_other(v); jump to the other
    // list's first value STRICTLY greater. This is the form the DuckDB
    // dsl_phrase_slop oracle re-derives.
    def chainFreq(a: Array[Int], b: Array[Int], slop: Int): Double = {
      val lists = Array(a, b)
      var owner = if (a(0) > b(0)) 0 else 1
      var v = math.max(a(0), b(0))
      var freq = 0.0
      var go = true
      while (go) {
        val other = lists(1 - owner)
        val i = other.lastIndexWhere(_ <= v)
        val gap = v - other(i)
        if (gap <= slop) freq += 1.0 / (1 + gap)
        val j = other.indexWhere(_ > v)
        if (j < 0) go = false
        else { v = other(j); owner = 1 - owner }
      }
      freq
    }
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 5000) {
      val a = rnd.shuffle((0 to 40).toList).take(1 + rnd.nextInt(6)).sorted.toArray
      val b = rnd.shuffle((-1 to 39).toList).take(1 + rnd.nextInt(6)).sorted.toArray
      val slop = rnd.nextInt(7)
      val got = Phrase.sloppyFreq(Array(a, b), slop)
      val want = chainFreq(a, b, slop)
      assert(math.abs(got - want) < 1e-12, s"a=${a.toSeq} b=${b.toSeq} slop=$slop")
    }
  }

  test("sloppyFreq: hand-traced Lucene fixtures (k=2 and k=3, ties, reuse)") {
    // k=2: A=[23], B(shifted)=[17,23,24]: matches (23,23) len 0 and
    // (23,24) len 1 — the matcher REUSES A@23 against both B positions
    assert(math.abs(Phrase.sloppyFreq(
      Array(Array(23), Array(17, 23, 24)), 2) - 1.5) < 1e-12)
    // k=2: the tie at 40 is consumed (len 0), then the chain jumps to 70
    // whose best partner 42 is outside slop — total exactly 1.0
    assert(math.abs(Phrase.sloppyFreq(
      Array(Array(40, 42), Array(-1, 3, 5, 9, 26, 40, 70)), 2) - 1.0) < 1e-12)
    // k=3 exact occurrence: all shifted positions equal -> one len-0 match
    assert(math.abs(Phrase.sloppyFreq(
      Array(Array(5), Array(5), Array(5)), 0) - 1.0) < 1e-12)
    // k=3 trace: shifted [0], [2], [4]: min 0 advances, exhausts; final
    // window ml = end(4) - 0 = 4 -> one match iff slop >= 4, weight 1/5
    assert(Phrase.sloppyFreq(Array(Array(0), Array(2), Array(4)), 3) == 0.0)
    assert(math.abs(Phrase.sloppyFreq(
      Array(Array(0), Array(2), Array(4)), 4) - 0.2) < 1e-12)
    // k=3 trace: [0,6],[2],[4]: phase 1 minimizes to ml=4 - 0 .. advancing
    // 0->6 crosses next=2: emit 1/5; then min=2 advances: exhausts with
    // ml = end(6) - 2 = 4 -> second match 1/5 at slop >= 4
    assert(math.abs(Phrase.sloppyFreq(
      Array(Array(0, 6), Array(2), Array(4)), 4) - 0.4) < 1e-12)
  }

  test("sloppy phrase: matched set equals exhaustive window existence") {
    // freq > 0 iff SOME choice of one position per slot has a shifted
    // window max-min <= slop (the greedy matcher finds the minimal window)
    val toks = corpus.toMap.view.mapValues(_.split(" ").toSeq).toMap
    def bruteMatches(id: Long, ph: Seq[String], slop: Int): Boolean = {
      val posLists = ph.zipWithIndex.map { case (t, i) =>
        toks(id).zipWithIndex.collect { case (`t`, p) => p - i }
      }
      posLists.forall(_.nonEmpty) && {
        val combos = posLists.foldLeft(Seq(Seq.empty[Int])) { (acc, l) =>
          for (c <- acc; p <- l) yield c :+ p
        }
        combos.exists(c => c.max - c.min <= slop)
      }
    }
    for {
      ph <- Seq(Seq("a", "b"), Seq("b", "a"), Seq("a", "c"), Seq("a", "b", "c"),
        Seq("c", "b", "a"))
      slop <- Seq(1, 2, 3)
    } {
      val got = Phrase.sloppyScore(idx, pos, ph, slop)
        .collect().map(_.getLong(0)).toSet
      val want = corpus.map(_._1).filter(id => bruteMatches(id, ph, slop)).toSet
      assert(got == want, s"ph=$ph slop=$slop got=$got want=$want")
    }
  }

  test("sloppy phrase: BM25 weight is the member-idf sum over fractional freq") {
    // doc 1 "b a c b a": phrase (a, b) shifted A=[1,4], B'=[-1,2]:
    // chain: v0=1(A): pred_B(1)=-1 gap 2; jump first B>1 -> 2: pred_A(2)=1
    // gap 1; jump first A>2 -> 4: pred_B(4)=2 gap 2; A exhausts the chain.
    // slop 2 freq = 1/3 + 1/2 + 1/3
    val docs = corpus.toMap
    val n = docs.size.toLong
    val toksAll = docs.view.mapValues(_.split(" ").toSeq).toMap
    val avgdl = toksAll.values.map(_.size).sum.toDouble / n
    def df(t: String) = toksAll.values.count(_.contains(t)).toLong
    val w = Bm25.idf(df("a"), n) + Bm25.idf(df("b"), n)
    val freq = 1.0 / 3 + 1.0 / 2 + 1.0 / 3
    val want = w * Bm25.tfNorm(freq, 5, avgdl)
    val got = Phrase.sloppyScore(idx, pos, Seq("a", "b"), 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - want) < 1e-9, s"got=${got.get(1L)} want=$want")
    // transposition: "b a" matches "a b"-adjacent docs only at slop >= 2
    // (swapping two adjacent slots costs 2 in shifted distance)
    val rev1 = Phrase.sloppyScore(idx, pos, Seq("b", "a"), 1)
      .collect().map(_.getLong(0)).toSet
    val rev2 = Phrase.sloppyScore(idx, pos, Seq("b", "a"), 2)
      .collect().map(_.getLong(0)).toSet
    assert(!rev1.contains(4100L) && rev2.contains(4100L))
    // guard: slop 0 routes to the exact matcher
    intercept[IllegalArgumentException](Phrase.sloppyScore(idx, pos, Seq("a", "b"), 0))
    // unindexed term -> empty
    assert(Phrase.sloppyScore(idx, pos, Seq("a", "nosuchterm"), 2).count() == 0)
  }

  test("sloppy phrase repeats: hand-traced fixtures + x-x closed form (fuzz)") {
    // freq through the repeat machinery, straight on position lists
    def freqOf(tokens: Seq[String], phrase: Seq[String], slop: Int): Double = {
      val terms = phrase.toArray
      val (rg, go) = Phrase.repeatGroups(terms)
      val posLists = terms.zipWithIndex.map { case (t, i) =>
        tokens.zipWithIndex.collect { case (`t`, p) => p - i }.toArray
      }
      if (posLists.exists(_.isEmpty)) 0.0
      else Phrase.sloppyFreq(posLists, slop, rg, go)
    }
    def T(s: String) = s.split(" ").toSeq
    // hand-traced SloppyPhraseMatcher traces (stagger init + collide/lesser)
    assert(math.abs(freqOf(T("a b a"), T("a b a"), 2) - 1.0) < 1e-12)
    assert(math.abs(freqOf(T("a b c a"), T("a b a"), 2) - 0.5) < 1e-12)
    assert(math.abs(freqOf(T("a a a"), T("a a"), 1) - 2.0) < 1e-12)
    assert(freqOf(T("a b"), T("a b a"), 2) == 0.0) // too few occurrences
    // "x x": greedy == consecutive-pair closed form (the DuckDB oracle
    // shape): each ADJACENT occurrence pair (p, q) with q-p-1 <= slop
    // contributes 1/(q-p), summed in position order
    def pairFreq(ps: Array[Int], slop: Int): Double = {
      var f = 0.0
      var i = 0
      while (i + 1 < ps.length) {
        val gap = ps(i + 1) - ps(i) - 1
        if (gap <= slop) f += 1.0 / (1 + gap)
        i += 1
      }
      f
    }
    val rnd = new scala.util.Random(17)
    val (rg2, go2) = Phrase.repeatGroups(Array("x", "x"))
    for (_ <- 1 to 5000) {
      val ps = rnd.shuffle((0 to 40).toList).take(1 + rnd.nextInt(8)).sorted.toArray
      val slop = 1 + rnd.nextInt(6)
      val shifted = Array(ps, ps.map(_ - 1))
      val got = Phrase.sloppyFreq(shifted, slop, rg2, go2)
      val want = pairFreq(ps, slop)
      assert(math.abs(got - want) < 1e-12, s"ps=${ps.toSeq} slop=$slop got=$got want=$want")
    }
  }

  /** Independent model of Lucene's SloppyPhraseMatcher for single-term
   *  slots, written after its own structure: PhrasePositions (position =
   *  document position - offset), a PhraseQueue ordered by (position,
   *  offset), repeat groups gathered from equal first positions and sorted
   *  by offset, the stagger of advanceRepeatGroups, collision resolution by
   *  advancing the lesser pp, and nextMatch() driven until it returns false,
   *  each match adding sloppyWeight = 1 / (1 + matchLength). */
  private def luceneSloppyFreq(terms: Array[String], docPos: Array[Array[Int]],
                               slop: Int): Double = {
    final class PP(val offset: Int, val term: String, tps: Array[Int]) {
      var position = 0
      var rptGroup = -1
      var rptInd = 0
      private var count = 0
      private var upto = 0
      def firstPosition(): Unit = { count = tps.length; upto = 0; nextPosition() }
      def nextPosition(): Boolean =
        if (count > 0) { count -= 1; position = tps(upto) - offset; upto += 1; true }
        else false
    }
    val pps = terms.indices.map(i => new PP(i, terms(i), docPos(i))).toArray
    def lessThan(a: PP, b: PP): Boolean =
      if (a.position == b.position) a.offset < b.offset else a.position < b.position
    // the queue's content as a set: a pp advanced while queued is re-queued
    // before the next pop (advanceRpts), so pop/top read the true minimum
    val pq = scala.collection.mutable.ArrayBuffer.empty[PP]
    def top(): PP = pq.reduce((a, b) => if (lessThan(b, a)) b else a)
    def pop(): PP = { val t = top(); pq -= t; t }
    var end = Int.MinValue
    def tpPos(pp: PP): Int = pp.position + pp.offset
    def advancePP(pp: PP): Boolean =
      if (!pp.nextPosition()) false
      else { if (pp.position > end) end = pp.position; true }

    // initFirstTime: place, gather repeat groups, stagger, fill the queue
    pps.foreach(_.firstPosition())
    val rptTerms = terms.groupBy(identity).collect { case (t, ts) if ts.length > 1 => t }.toSet
    val groups = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[PP]]
    val rpp = pps.filter(pp => rptTerms.contains(pp.term))
    for (i <- rpp.indices if rpp(i).rptGroup < 0; j <- i + 1 until rpp.length) {
      val (pp, pp2) = (rpp(i), rpp(j))
      if (pp2.rptGroup < 0 && pp2.offset != pp.offset && tpPos(pp2) == tpPos(pp)) {
        if (pp.rptGroup < 0) {
          pp.rptGroup = groups.size
          groups += scala.collection.mutable.ArrayBuffer(pp)
        }
        pp2.rptGroup = pp.rptGroup
        groups(pp.rptGroup) += pp2
      }
    }
    val rptGroups = groups.map(_.sortBy(_.offset).toArray).toArray
    rptGroups.foreach(rg => rg.indices.foreach(i => rg(i).rptInd = i))
    val hasRpts = rptGroups.nonEmpty
    var positioned = rptGroups.forall { rg =>
      (1 until rg.length).forall(j => (0 until j).forall(_ => rg(j).nextPosition()))
    }
    if (positioned) pps.foreach { pp => if (pp.position > end) end = pp.position; pq += pp }

    def collide(pp: PP): Int = {
      val rg = rptGroups(pp.rptGroup)
      rg.find(pp2 => (pp2 ne pp) && tpPos(pp2) == tpPos(pp)).map(_.rptInd).getOrElse(-1)
    }
    def lesser(a: PP, b: PP): PP =
      if (a.position < b.position || (a.position == b.position && a.offset < b.offset)) a else b
    def advanceRpts(pp0: PP): Boolean = {
      if (pp0.rptGroup < 0) return true
      val rg = rptGroups(pp0.rptGroup)
      var pp = pp0
      var k = collide(pp)
      while (k >= 0) {
        pp = lesser(pp, rg(k))
        if (!advancePP(pp)) return false
        k = collide(pp)
      }
      true
    }
    var matchLength = Int.MaxValue
    def nextMatch(): Boolean = {
      if (!positioned) return false
      var pp = pop()
      matchLength = end - pp.position
      var next = top().position
      while (advancePP(pp) && (!hasRpts || advanceRpts(pp))) {
        if (pp.position > next) { // done minimizing the current match length
          pq += pp
          if (matchLength <= slop) return true
          pp = pop()
          next = top().position
          matchLength = end - pp.position
        } else {
          val matchLength2 = end - pp.position
          if (matchLength2 < matchLength) matchLength = matchLength2
        }
      }
      positioned = false
      matchLength <= slop
    }
    var freq = 0.0
    while (nextMatch()) freq += 1.0 / (1 + matchLength)
    freq
  }

  test("sloppyFreq values equal a Lucene SloppyPhraseMatcher trace model " +
    "(3-slot phrases with repeated terms, fuzz)") {
    val rnd = new scala.util.Random(23)
    val phrases = Seq("a b a", "a a b", "b a a", "a a a", "a b b", "b a b", "a c a", "a a c")
      .map(_.split(" "))
    var compared = 0
    var matched = 0
    for (_ <- 1 to 3000) {
      val ph = phrases(rnd.nextInt(phrases.size))
      val vocab = Array("a", "b", "c")
      val doc = Array.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(3)))
      val slop = 1 + rnd.nextInt(5)
      val docPos = ph.map(t => doc.indices.filter(doc(_) == t).toArray)
      if (docPos.forall(_.nonEmpty)) {
        val (rg, go) = Phrase.repeatGroups(ph)
        val shifted = docPos.zipWithIndex.map { case (ps, i) => ps.map(_ - i) }
        val got = Phrase.sloppyFreq(shifted, slop, rg, go)
        val want = luceneSloppyFreq(ph, docPos, slop)
        assert(got == want, s"phrase=${ph.mkString(" ")} doc=${doc.mkString(" ")} " +
          s"slop=$slop got=$got want=$want")
        compared += 1
        if (want > 0) matched += 1
      }
    }
    assert(compared >= 200 && matched >= 100, s"compared=$compared matched=$matched")
  }

  test("sloppy phrase repeats: matched set equals exhaustive injective search") {
    // freq > 0 iff SOME injective choice (distinct doc positions within a
    // repeat group) has shifted window max-min <= slop
    val rcorpus = Seq(
      (1L, "a b a"), (2L, "a b c a"), (3L, "a a"), (4L, "a b"),
      (5L, "b a b a b"), (6L, "a c b a"), (7L, "a a a b"), (8L, "b b a"),
      (9L, "a c c a b a"), (10L, "b a a"))
    val rdf = rcorpus.toDF("doc_id", "text")
    val ridx = InvertedIndex.build(rdf, "doc_id", "text")
    val rpos = Positions.build(rdf, "doc_id", "text")
    val toks = rcorpus.toMap.view.mapValues(_.split(" ").toSeq).toMap
    def bruteMatches(id: Long, ph: Seq[String], slop: Int): Boolean = {
      val posLists = ph.zipWithIndex.map { case (t, i) =>
        toks(id).zipWithIndex.collect { case (`t`, p) => (p - i, p) }
      }
      posLists.forall(_.nonEmpty) && {
        val combos = posLists.foldLeft(Seq(Seq.empty[(Int, Int)])) { (acc, l) =>
          for (c <- acc; p <- l) yield c :+ p
        }
        combos.exists { c =>
          val injective = ph.zipWithIndex.groupBy(_._1).values.forall { slots =>
            val chosen = slots.map { case (_, slot) => c(slot)._2 }
            chosen.distinct.size == chosen.size
          }
          injective && c.map(_._1).max - c.map(_._1).min <= slop
        }
      }
    }
    for {
      ph <- Seq(Seq("a", "a"), Seq("a", "b", "a"), Seq("a", "a", "b"),
        Seq("b", "a", "b"), Seq("a", "a", "a"))
      slop <- Seq(1, 2, 3)
    } {
      val got = Phrase.sloppyScore(ridx, rpos, ph, slop)
        .collect().map(_.getLong(0)).toSet
      val want = rcorpus.map(_._1).filter(id => bruteMatches(id, ph, slop)).toSet
      assert(got == want, s"ph=$ph slop=$slop got=$got want=$want")
    }
  }

  test("span_first and span_not matched sets (pre/post exclusion windows)") {
    import graft.index.{InvertedIndex, Positions}
    val docs = Seq(
      (1L, "merge sort join"),       // merge@0, join@2, no hash
      (2L, "sort hash join scan"),   // join@2 shadowed by hash@1 (pre 1)
      (3L, "a b c merge"),           // merge@3: not within first 3
      (4L, "join x hash"),           // hash@2 outside join@0's [-1, 1]
      (5L, "join hash join scan"))   // both joins shadowed at pre=post=1
      .toDF("doc_id", "text")
    val i2 = InvertedIndex.build(docs, "doc_id", "text")
    val p2 = Positions.build(docs, "doc_id", "text")
    assert(Phrase.spanFirstMatch(i2, p2, "merge", 3)
      .collect().map(_.getLong(0)).toSet == Set(1L))
    assert(Phrase.spanFirstMatch(i2, p2, "merge", 4)
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(Phrase.spanNotMatch(i2, p2, "join", "hash", 1, 1)
      .collect().map(_.getLong(0)).toSet == Set(1L, 4L))
    // asymmetric window: post=0 frees doc 5's join@0 (hash@1 is after it)
    assert(Phrase.spanNotMatch(i2, p2, "join", "hash", 1, 0)
      .collect().map(_.getLong(0)).toSet == Set(1L, 4L, 5L))
    intercept[IllegalArgumentException](Phrase.spanNotMatch(i2, p2, "a", "a", 0, 0))
    intercept[IllegalArgumentException](Phrase.spanFirstMatch(i2, p2, "a", 0))
  }
}
