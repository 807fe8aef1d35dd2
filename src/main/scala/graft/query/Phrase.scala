package graft.query

import org.apache.spark.sql.{DataFrame, Dataset}
import graft.index.{Index, InvertedIndex, PosBlock, Positions}

/**
 * Exact phrase scoring over the positional block table — Lucene's
 * PhraseQuery/ExactPhraseMatcher semantics, which the reference's `bool` /
 * hybrid sub-queries can nest just like any Lucene query:
 *
 *  - a doc matches when the phrase's terms occur at CONSECUTIVE analyzed
 *    positions (slop 0);
 *  - tf is the PHRASE frequency (number of start positions);
 *  - the BM25 weight is the SUM of the member terms' idfs, duplicates
 *    counted per phrase slot — exactly how Lucene's PhraseQuery feeds
 *    Similarity.scorer(boost, collectionStats, termStats...) with one
 *    TermStatistics per position.
 *
 * Execution: every matcher here runs on [[BucketKernel]] (matched position
 * blocks co-grouped per 4096-doc bucket with that bucket's doc-length
 * window); the multi-slot ones take their candidate docs from its slot
 * conjunction and verify consecutiveness / span width with sorted-array
 * binary probes, no per-doc hashing.
 */
object Phrase {

  def topK(idx: Index, pos: Dataset[PosBlock], phrase: Seq[String], k: Int): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    score(idx, pos, phrase)
      .orderBy($"score".desc, $"doc_id".asc).limit(k)
  }

  /** All matching docs with their phrase-BM25 scores, unbounded and
   *  unsorted — the clause shape hybrid's per-sub-query collection expects. */
  def score(idx: Index, pos: Dataset[PosBlock], phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least 2 terms")
    phraseScore(idx, pos, phrase) { docPs =>
      // phrase freq: start positions p with term i at p + i
      var freq = 0
      val starts = docPs(0)
      var s = 0
      while (s < starts.length) {
        val p = starts(s) // position of slot 0 -> start = p
        var i = 1
        var hit = true
        while (hit && i < docPs.length) {
          hit = java.util.Arrays.binarySearch(docPs(i), p + i) >= 0
          i += 1
        }
        if (hit) freq += 1
        s += 1
      }
      freq
    }
  }

  /** Phrase BM25 over [[BucketKernel]]'s slot conjunction: `freqOf(docPs)`
   *  is a candidate doc's phrase frequency from its per-slot positions (0 =
   *  no match); the weight is the idf summed PER PHRASE SLOT (duplicate
   *  terms counted, left to right). A phrase with an unindexed term matches
   *  nothing, as in Lucene. */
  private def phraseScore(idx: Index, pos: Dataset[PosBlock], phrase: Seq[String])(
      freqOf: Array[Array[Int]] => Double): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val avgdl = idx.stats.avgdl
    val terms = phrase.toArray
    val scored: Dataset[(Long, Double)] = slotWeight(idx, phrase) match {
      case None => spark.emptyDataset[(Long, Double)]
      case Some(w) =>
        BucketKernel(idx, pos.filter($"term".isin(phrase.distinct: _*))) { (bucket, blocksIt, dlArr) =>
          val base = bucket << InvertedIndex.BucketBits
          BucketKernel.conjunction(BucketKernel.byTerm(blocksIt), terms, dlArr).flatMap {
            case (local, docPs) =>
              val freq = freqOf(docPs)
              if (freq == 0.0) None
              else Some((base + local, w * Bm25.tfNorm(freq, dlArr(local), avgdl)))
          }
        }
    }
    scored.toDF("doc_id", "score")
  }

  /** idf summed per slot; None when any term is unindexed. */
  private def slotWeight(idx: Index, phrase: Seq[String]): Option[Double] = {
    val dfs = idx.dfs(phrase)
    val n = idx.stats.doc_count
    if (phrase.exists(t => !dfs.contains(t))) None
    else Some(phrase.foldLeft(0.0)((acc, t) => acc + Bm25.idf(dfs(t), n)))
  }

  /** `match_phrase` with `slop > 0` — Lucene's SloppyPhraseMatcher
   *  semantics (reference exercises it through any match_phrase clause a
   *  hybrid sub-query carries, query/HybridQueryBuilder.java:368-377):
   *
   *  - each phrase term's positions are SHIFTED by the term's phrase
   *    offset (pp.position = pos - slot), so an exact occurrence collapses
   *    to equal shifted positions;
   *  - a priority queue ordered by (shifted position, slot) repeatedly
   *    advances the minimum; whenever the advancing minimum jumps past the
   *    runner-up, the minimal window seen while minimizing is a MATCH with
   *    matchLength = end - min (shifted), contributing the slop factor
   *    1/(1 + matchLength) to the phrase frequency when matchLength <=
   *    slop — Lucene's SloppyPhraseMatcher + BM25Similarity sloppyWeight;
   *  - tf is that fractional frequency; the BM25 weight is the sum of the
   *    member terms' idfs, exactly as the exact-phrase path.
   *
   *  Repeated phrase terms run Lucene's `hasRpts` machinery
   *  (SloppyPhraseMatcher repeat groups): slots sharing a term form a
   *  repeat group whose members must always occupy DISTINCT document
   *  positions — initialization staggers each group's slots onto
   *  successive occurrences, and every advance resolves collisions by
   *  advancing the lesser colliding slot past the collision (exhaustion
   *  ends matching). A phrase like "a b a" therefore matches exactly when
   *  two different occurrences of `a` bracket a `b` within slop.
   *
   *  For a 2-term phrase this greedy enumeration reduces to a closed form
   *  the DuckDB oracle re-derives independently: one match per ADJACENT
   *  cross-list pair in the merged (shifted position, slot) order, with
   *  matchLength = the pair's gap (PhraseSpec proves the reduction by
   *  brute force; the k>=3 path is covered by hand-traced fixtures, a
   *  matched-set parity check against exhaustive window search, and a
   *  freq-value fuzz against a Lucene SloppyPhraseMatcher trace model). */
  def sloppyScore(idx: Index, pos: Dataset[PosBlock], phrase: Seq[String],
                  slop: Int): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least 2 terms")
    require(slop >= 1, s"sloppyScore requires slop >= 1, got $slop (use score for slop 0)")
    val (rptGroups, groupOf) = repeatGroups(phrase.toArray)
    phraseScore(idx, pos, phrase) { docPs =>
      // shifted position lists (pos - slot), still sorted ascending
      val shifted = Array.tabulate(docPs.length) { i =>
        val src = docPs(i)
        val out = new Array[Int](src.length)
        var j = 0
        while (j < src.length) { out(j) = src(j) - i; j += 1 }
        out
      }
      sloppyFreq(shifted, slop, rptGroups, groupOf)
    }
  }

  /** Lucene SloppyPhraseScorer.phraseFreq for distinct phrase terms (the
   *  no-repeats fast path — see the repeat-group overload below). */
  private[graft] def sloppyFreq(shifted: Array[Array[Int]], slop: Int): Double =
    sloppyFreq(shifted, slop, Array.empty, Array.fill(shifted.length)(-1))

  /** Repeat groups of a phrase's slot array: slots sharing a term, in slot
   *  order, groups ordered by first slot; `groupOf(slot)` = group id or -1. */
  private[graft] def repeatGroups(terms: Array[String]): (Array[Array[Int]], Array[Int]) = {
    val groups = terms.zipWithIndex.groupBy(_._1).valuesIterator
      .filter(_.length > 1).map(_.map(_._2).sorted).toArray.sortBy(_.head)
    val groupOf = Array.fill(terms.length)(-1)
    groups.zipWithIndex.foreach { case (rg, gi) => rg.foreach(groupOf(_) = gi) }
    (groups, groupOf)
  }

  /** Lucene SloppyPhraseScorer.phraseFreq: `shifted(i)` is slot i's
   *  ascending (position - i) list; the minimum (by shifted position, slot
   *  ascending — PhraseQueue's offset tie-break) advances one step at a
   *  time; crossing the runner-up emits the minimal window seen, gated by
   *  slop, weighted 1/(1+matchLength); exhaustion emits the final window.
   *
   *  Repeated terms (`rptGroups` non-empty) run SloppyPhraseMatcher's
   *  repeat machinery: slots of one group must occupy DISTINCT document
   *  positions (tpPos = shifted + slot) — initialization staggers a
   *  group's slots onto successive occurrences
   *  (SloppyPhraseMatcher.advanceRepeatGroups' simple branch), and after
   *  every advance, collisions resolve by advancing the LESSER colliding
   *  slot (by shifted position, slot tie-break — `lesser`) past the
   *  collision; exhaustion while resolving ends matching
   *  (SloppyPhraseMatcher.advanceRpts/collide). */
  private[graft] def sloppyFreq(shifted: Array[Array[Int]], slop: Int,
      rptGroups: Array[Array[Int]], groupOf: Array[Int]): Double = {
    val k = shifted.length
    val idx = new Array[Int](k)
    val cur = new Array[Int](k)
    var i = 0
    while (i < k) { cur(i) = shifted(i)(0); i += 1 }
    // stagger repeat-group slots: member j starts at occurrence j, so
    // group members hold distinct document positions from the outset
    var g = 0
    while (g < rptGroups.length) {
      val rg = rptGroups(g)
      var j = 1
      while (j < rg.length) {
        val s = rg(j)
        idx(s) += j
        if (idx(s) >= shifted(s).length) return 0.0
        cur(s) = shifted(s)(idx(s))
        j += 1
      }
      g += 1
    }
    var end = Int.MinValue
    i = 0
    while (i < k) { if (cur(i) > end) end = cur(i); i += 1 }
    // argmin by (cur, slot) over all slots except `exclude` (-1 = none)
    def minSlot(exclude: Int): Int = {
      var best = -1
      var j = 0
      while (j < k) {
        if (j != exclude && (best == -1 || cur(j) < cur(best))) best = j
        j += 1
      }
      best
    }
    // document position of slot s; distinct within a repeat group
    def tpPos(s: Int): Int = cur(s) + s
    // advance slot s one occurrence; false = exhausted
    def advance(s: Int): Boolean = {
      idx(s) += 1
      if (idx(s) >= shifted(s).length) false
      else {
        cur(s) = shifted(s)(idx(s))
        if (cur(s) > end) end = cur(s)
        true
      }
    }
    def findCollision(s: Int): Int = {
      val rg = rptGroups(groupOf(s))
      var j = 0
      while (j < rg.length) {
        if (rg(j) != s && tpPos(rg(j)) == tpPos(s)) return rg(j)
        j += 1
      }
      -1
    }
    def advanceRpts(s0: Int): Boolean = {
      if (groupOf(s0) < 0) return true
      var s = s0
      var c = findCollision(s)
      while (c >= 0) {
        // advance the lesser of the colliding pair (position, then slot)
        val adv =
          if (cur(s) < cur(c) || (cur(s) == cur(c) && s < c)) s else c
        if (!advance(adv)) return false
        s = adv
        c = findCollision(s)
      }
      true
    }
    val hasRpts = rptGroups.nonEmpty
    var pp = minSlot(-1)
    var matchLength = end - cur(pp)
    var next = cur(minSlot(pp))
    var freq = 0.0
    var advancing = true
    while (advancing) {
      if (!advance(pp)) advancing = false
      else if (hasRpts && !advanceRpts(pp)) advancing = false
      else {
        if (cur(pp) > next) {
          // done minimizing the current match window
          if (matchLength <= slop) freq += 1.0 / (1 + matchLength)
          pp = minSlot(-1)
          next = cur(minSlot(pp))
          matchLength = end - cur(pp)
        } else {
          val ml2 = end - cur(pp)
          if (ml2 < matchLength) matchLength = ml2
        }
      }
    }
    if (matchLength <= slop) freq += 1.0 / (1 + matchLength)
    freq
  }

  /** `match_phrase_prefix`: the phrase's last slot is a PREFIX expanded
   *  against the term dictionary — Lucene's MatchPhrasePrefixQuery rewritten
   *  to a MultiPhraseQuery. Expansion is deterministic: terms matching the
   *  prefix in dictionary order, capped at `maxExpansions` (Lucene's
   *  default 50, first-50-in-term-order cap). Semantics follow
   *  MultiPhraseQuery's weight: ONE TermStatistics per term — idf summed
   *  over the fixed slots plus EVERY expansion term — and freq counts start
   *  positions where the fixed slots are consecutive and ANY expansion
   *  occupies the last slot. A phrase whose fixed slots contain an
   *  unindexed term, or whose prefix expands to nothing, matches nothing.
   *
   *  @param fixed the phrase's exact leading terms (>= 1)
   *  @param prefix the last slot's prefix */
  def phrasePrefixScore(idx: Index, pos: Dataset[PosBlock], fixed: Seq[String],
                        prefix: String, maxExpansions: Int = 50): DataFrame = {
    require(fixed.nonEmpty, "match_phrase_prefix needs at least one exact leading term")
    require(prefix.nonEmpty && prefix.matches("[a-z0-9]+"),
      s"prefix must be a non-empty analyzed token, got [$prefix]")
    require(maxExpansions >= 1, s"max_expansions must be >= 1, got $maxExpansions")
    val spark = idx.postings.sparkSession
    import spark.implicits._

    // <= maxExpansions dictionary terms, in Spark's term order
    val expansions = idx.prefixed(prefix, maxExpansions)
    val fixedWeight = slotWeight(idx, fixed)
    if (expansions.isEmpty || fixedWeight.isEmpty)
      return spark.emptyDataset[(Long, Double)].toDF("doc_id", "score")
    val n = idx.stats.doc_count
    val avgdl = idx.stats.avgdl
    // MultiPhraseQuery feeds the Similarity one TermStatistics per term:
    // fixed slots per occurrence + every expansion term once
    val w = fixedWeight.get + expansions.foldLeft(0.0)((acc, e) => acc + Bm25.idf(e._2, n))
    val expSet = expansions.map(_._1).toSet
    val k = fixed.size // slot index of the prefix = k
    val fixedArr = fixed.toArray
    val allTerms = (fixed.distinct ++ expSet).distinct

    val scored: Dataset[(Long, Double)] =
      BucketKernel(idx, pos.filter($"term".isin(allTerms: _*))) { (bucket, blocksIt, dlArr) =>
        val byTerm = BucketKernel.byTerm(blocksIt)
        // union of the expansion terms' positions per local doc — the
        // MultiPhraseQuery "any synonym at this slot" position set
        val expPos = new java.util.HashMap[Integer, java.util.TreeSet[Integer]]()
        expSet.foreach { t =>
          byTerm.get(t).foreach(_.foreach { case (d, ps) =>
            var set = expPos.get(d)
            if (set == null) { set = new java.util.TreeSet[Integer](); expPos.put(d, set) }
            ps.foreach(p => set.add(p))
          })
        }
        val base = bucket << InvertedIndex.BucketBits
        BucketKernel.conjunction(byTerm, fixedArr, dlArr).flatMap { case (local, docPs) =>
          val exp = expPos.get(local)
          if (exp == null) None
          else {
            var freq = 0
            val starts = docPs(0)
            var s = 0
            while (s < starts.length) {
              val p = starts(s)
              var j = 1
              var hit = true
              while (hit && j < k) {
                hit = java.util.Arrays.binarySearch(docPs(j), p + j) >= 0
                j += 1
              }
              if (hit && exp.contains(p + k)) freq += 1
              s += 1
            }
            if (freq == 0) None
            else Some((base + local, w * Bm25.tfNorm(freq, dlArr(local), avgdl)))
          }
        }
      }
    scored.toDF("doc_id", "score")
  }

  /** `span_near` existence filter (see [[graft.hybrid.SpanNearQ]]): live
   *  docs where one position per term can be chosen, all distinct, with
   *  span width `(max - min + 1) - k <= slop`, strictly increasing when
   *  `inOrder`. Candidates come from [[BucketKernel]]'s slot conjunction,
   *  as in [[score]]. The per-doc
   *  check is bounded by the doc's term frequencies: ordered matching is a
   *  greedy O(Σtf·log tf) pass (taking the smallest valid next position is
   *  optimal — a smaller prefix end leaves a superset of completions);
   *  unordered is a width-pruned DFS over rarest-first terms. */
  def spanNearMatch(idx: Index, pos: Dataset[PosBlock], terms: Seq[String],
                    slop: Int, inOrder: Boolean): DataFrame = {
    require(terms.size >= 2, "span_near needs at least 2 terms")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val uniq = terms.distinct
    spanNearKernel(idx, pos.filter($"term".isin(uniq: _*)), terms.toArray,
      slop, inOrder)
  }

  /** `span_near` over MASKED slots (Lucene FieldMaskingSpanQuery): each
   *  slot is (positions-of-its-field, field, term) — a masked slot draws
   *  its occurrence positions from another field's positional index while
   *  participating in the primary field's span-width arithmetic. Each
   *  distinct (field, term) pair becomes its own slot term (tagged, so
   *  the same term from two fields stays two streams); the kernel,
   *  bucket-pruned shuffle contract, and liveness gate are exactly
   *  [[spanNearMatch]]'s. Whether cross-field positions are comparable is
   *  the caller's analyzer contract — Lucene documents the same caveat. */
  def spanNearMaskedMatch(idx: Index,
                          slots: Seq[(Dataset[PosBlock], String, String)],
                          slop: Int, inOrder: Boolean): DataFrame = {
    require(slots.size >= 2, "span_near needs at least 2 span clauses")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val tagged = slots.map { case (_, f, t) => s"$f $t" }.toArray
    val matched = slots.map { case (ds, f, t) => ((f, t), ds) }
      .distinctBy(_._1)
      .map { case ((f, t), ds) =>
        val key = s"$f $t"
        ds.filter($"term" === t).map(_.copy(term = key))
      }
      .reduce(_ union _)
    spanNearKernel(idx, matched, tagged, slop, inOrder)
  }

  private def spanNearKernel(idx: Index, matched: Dataset[PosBlock],
                             termsArr: Array[String], slop: Int,
                             inOrder: Boolean): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val hits: Dataset[Long] = BucketKernel(idx, matched) { (bucket, blocksIt, dlArr) =>
      val base = bucket << InvertedIndex.BucketBits
      BucketKernel.conjunction(BucketKernel.byTerm(blocksIt), termsArr, dlArr).flatMap {
        case (local, docPs) =>
          val matchFound =
            if (inOrder) orderedSpanExists(docPs, slop)
            else unorderedSpanExists(docPs, slop)
          if (matchFound) Some(base + local) else None
      }
    }
    hits.toDF("doc_id")
  }

  /** `span_first` matched set: docs whose `term` occurs at a position
   *  strictly below `end` (Lucene SpanFirstQuery: the span must END within
   *  the first `end` positions; a 1-term span ending at p+1 <= end means
   *  p < end). Positions are delta-decoded ascending, so the FIRST entry
   *  decides — the rest of the doc's positions are never examined. Same
   *  bucket-pruned decode + liveness gate as every positional matcher. */
  def spanFirstMatch(idx: Index, pos: Dataset[PosBlock], term: String,
                     end: Int): DataFrame = {
    require(end >= 1, s"span_first [end] must be >= 1, got $end")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    BucketKernel(idx, pos.filter($"term" === term)) { (bucket, blocksIt, dlArr) =>
      val base = bucket << InvertedIndex.BucketBits
      blocksIt.flatMap { b =>
        Positions.decodeEntries(b).iterator.collect {
          case (local, ps) if dlArr(local) != 0 && ps.nonEmpty && ps(0) < end =>
            base + local
        }
      }
    }.toDF("doc_id")
  }

  /** `span_not` matched set: docs with at least one occurrence of
   *  `include` having NO occurrence of `exclude` within `[p - pre,
   *  p + post]` (Lucene SpanNotQuery's pre/post exclusion window around
   *  the include span). A doc whose every include position is shadowed by
   *  a nearby exclude does not match. Per-bucket: exclude positions load
   *  into a lookup, each include position binary-searches its window. */
  def spanNotMatch(idx: Index, pos: Dataset[PosBlock], include: String,
                   exclude: String, pre: Int, post: Int): DataFrame = {
    require(pre >= 0 && post >= 0, s"span_not [pre]/[post] must be >= 0")
    require(include != exclude, "span_not include and exclude must differ")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    BucketKernel(idx, pos.filter($"term".isin(include, exclude))) { (bucket, blocksIt, dlArr) =>
      val byTerm = BucketKernel.byTerm(blocksIt)
      byTerm.get(include) match {
        case None => Iterator.empty
        case Some(inc) =>
          val excMap = new java.util.HashMap[Integer, Array[Int]]()
          byTerm.getOrElse(exclude, Array.empty[(Int, Array[Int])])
            .foreach { case (d, ps) => excMap.put(d, ps) }
          val base = bucket << InvertedIndex.BucketBits
          inc.iterator.flatMap { case (local, ips) =>
            if (dlArr(local) == 0) None
            else {
              val eps = excMap.get(local)
              val clear =
                if (eps == null) ips.nonEmpty
                else ips.exists { p =>
                  // any exclude position q in [p - pre, p + post]?
                  var idx2 = java.util.Arrays.binarySearch(eps, p - pre)
                  if (idx2 < 0) idx2 = -idx2 - 1
                  !(idx2 < eps.length && eps(idx2) <= p + post)
                }
              if (clear) Some(base + local) else None
            }
          }
      }
    }.toDF("doc_id")
  }

  /** `span_containing` / `span_within` matched set: docs where some
   *  qualifying span of the BIG span_near (terms/slop/inOrder, the span
   *  family's width contract) contains an occurrence of the LITTLE term —
   *  position p with spanMin <= p <= spanMax. At the matched-doc level the
   *  two queries coincide (containing returns big spans that contain
   *  little, within returns little spans inside big — either exists iff
   *  the other does), so one matcher serves both DSL forms. Same
   *  bucket-pruned bounded decode as span_near; the containment search
   *  only widens a span when the width budget allows, since a wider valid
   *  span can cover a little position the minimal one misses. */
  def spanContainingMatch(idx: Index, pos: Dataset[PosBlock],
                          bigTerms: Seq[String], slop: Int, inOrder: Boolean,
                          little: String): DataFrame = {
    require(bigTerms.size >= 2, "span_containing [big] needs at least 2 terms")
    require(slop >= 0, s"slop must be >= 0, got $slop")
    require(little.nonEmpty, "span_containing [little] requires a term")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val termsArr = bigTerms.toArray
    BucketKernel(idx, pos.filter($"term".isin((bigTerms :+ little).distinct: _*))) {
      (bucket, blocksIt, dlArr) =>
        val byTerm = BucketKernel.byTerm(blocksIt)
        byTerm.get(little) match {
          case None => Iterator.empty
          case Some(littleEntries) =>
            val littleMap = new java.util.HashMap[Integer, Array[Int]]()
            littleEntries.foreach { case (d, ps) => littleMap.put(d, ps) }
            val base = bucket << InvertedIndex.BucketBits
            BucketKernel.conjunction(byTerm, termsArr, dlArr).flatMap { case (local, docPs) =>
              val lps = littleMap.get(local)
              val found = lps != null && (
                if (inOrder) orderedContainedExists(docPs, slop, lps)
                else unorderedContainedExists(docPs, slop, lps))
              if (found) Some(base + local) else None
            }
        }
    }.toDF("doc_id")
  }

  /** any little position inside [mn, mx]? (little sorted ascending) */
  private def littleIn(little: Array[Int], mn: Int, mx: Int): Boolean = {
    var idx = java.util.Arrays.binarySearch(little, mn)
    if (idx < 0) idx = -idx - 1
    idx < little.length && little(idx) <= mx
  }

  /** ordered big span containing a little position: for each start, the
   *  greedy chain gives the MINIMAL last position; any last-term position
   *  up to start + slop + k - 1 also completes a valid span (the greedy
   *  intermediates still fit below it), so the containment window is
   *  [start, largest valid last]. */
  private def orderedContainedExists(docPs: Array[Array[Int]], slop: Int,
                                     little: Array[Int]): Boolean = {
    val k = docPs.length
    val starts = docPs(0)
    val lastArr = docPs(k - 1)
    var s = 0
    while (s < starts.length) {
      val p0 = starts(s)
      var prev = p0
      var i = 1
      var ok = true
      while (ok && i < k) {
        val arr = docPs(i)
        var idx = java.util.Arrays.binarySearch(arr, prev + 1)
        if (idx < 0) idx = -idx - 1
        if (idx >= arr.length) ok = false
        else { prev = arr(idx); i += 1 }
      }
      val maxLast = p0 + slop + k - 1
      if (ok && prev <= maxLast) {
        // largest last-term position <= maxLast (>= prev by construction)
        var hi = java.util.Arrays.binarySearch(lastArr, maxLast)
        if (hi < 0) hi = -hi - 2
        val pl = lastArr(hi)
        if (littleIn(little, p0, pl)) return true
      }
      s += 1
    }
    false
  }

  /** unordered big span containing a little position: DFS over terms
   *  rarest-first with the width-budget prune; a COMPLETE assignment's
   *  window [mn, mx] qualifies if it holds a little position (unlike bare
   *  existence, a wider valid window can succeed where the narrowest
   *  fails, so acceptance checks containment per complete assignment). */
  private def unorderedContainedExists(docPs: Array[Array[Int]], slop: Int,
                                       little: Array[Int]): Boolean = {
    val k = docPs.length
    val order = docPs.indices.sortBy(docPs(_).length).toArray
    val chosen = new Array[Int](k)
    def rec(d: Int, mn: Int, mx: Int): Boolean = {
      if (d == k) return littleIn(little, mn, mx)
      val arr = docPs(order(d))
      var j = 0
      while (j < arr.length) {
        val p = arr(j)
        var dup = false
        var t = 0
        while (t < d && !dup) { if (chosen(t) == p) dup = true; t += 1 }
        if (!dup) {
          val nmn = if (d == 0) p else math.min(mn, p)
          val nmx = if (d == 0) p else math.max(mx, p)
          if (nmx - nmn + 1 - k <= slop) {
            chosen(d) = p
            if (rec(d + 1, nmn, nmx)) return true
          }
        }
        j += 1
      }
      false
    }
    rec(0, 0, 0)
  }

  /** exists p_0 < p_1 < … < p_{k-1} (one per term, sorted arrays) with
   *  p_last - p_0 + 1 - k <= slop. For each start, greedily advance each
   *  subsequent term to its smallest position strictly after the previous
   *  choice: that minimizes the end for this start, so it decides
   *  existence exactly. */
  private def orderedSpanExists(docPs: Array[Array[Int]], slop: Int): Boolean = {
    val k = docPs.length
    val starts = docPs(0)
    var s = 0
    while (s < starts.length) {
      var prev = starts(s)
      var i = 1
      var ok = true
      while (ok && i < k) {
        val arr = docPs(i)
        var idx = java.util.Arrays.binarySearch(arr, prev + 1)
        if (idx < 0) idx = -idx - 1
        if (idx >= arr.length) ok = false
        else { prev = arr(idx); i += 1 }
      }
      if (ok && prev - starts(s) + 1 - k <= slop) return true
      s += 1
    }
    false
  }

  /** exists one position per term, pairwise distinct, with
   *  max - min + 1 - k <= slop (any order). DFS over terms sorted
   *  rarest-first; a partial choice already wider than the budget prunes
   *  (width only grows as positions are added). Distinctness only matters
   *  for repeated terms — two different terms never share an analyzed
   *  position — but checking all pairs is as cheap. */
  private def unorderedSpanExists(docPs: Array[Array[Int]], slop: Int): Boolean = {
    val k = docPs.length
    val order = docPs.indices.sortBy(docPs(_).length).toArray
    val chosen = new Array[Int](k)
    def rec(d: Int, mn: Int, mx: Int): Boolean = {
      if (d == k) return true
      val arr = docPs(order(d))
      var j = 0
      while (j < arr.length) {
        val p = arr(j)
        var dup = false
        var t = 0
        while (t < d && !dup) { if (chosen(t) == p) dup = true; t += 1 }
        if (!dup) {
          val nmn = if (d == 0) p else math.min(mn, p)
          val nmx = if (d == 0) p else math.max(mx, p)
          if (nmx - nmn + 1 - k <= slop) {
            chosen(d) = p
            if (rec(d + 1, nmn, nmx)) return true
          }
        }
        j += 1
      }
      false
    }
    rec(0, 0, 0)
  }
}
