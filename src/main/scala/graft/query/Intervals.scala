package graft.query

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.index.{Index, InvertedIndex, PosBlock}

/**
 * The `intervals` query's composable source algebra — Lucene's
 * IntervalsSource tree (match / all_of / any_of), which the reference
 * accepts through any core query a hybrid sub-query carries
 * (query/HybridQueryBuilder.java:368-377). Interval semantics follow
 * Lucene's MINIMAL-interval algebra:
 *
 *  - every source produces only minimal intervals per doc (an interval
 *    containing another one from the same source is absorbed);
 *  - `match` produces the minimal windows where the analyzed terms
 *    co-occur with `(width - k) <= max_gaps`, optionally in order;
 *  - `any_of` is the union of its sources' intervals (then re-minimized);
 *  - `all_of` combines one interval per source, pairwise NON-OVERLAPPING
 *    (the no-overlaps contract; ordered additionally requires each
 *    interval to start after the previous one ends), with total interior
 *    gaps `(window width - sum of member widths) <= max_gaps`.
 *
 * Execution: the leaf terms' position blocks run on [[BucketKernel]]; each
 * candidate doc (any leaf term present, live) evaluates the tree over its
 * in-memory position arrays. Per-doc work is bounded by the DFS
 * over term frequencies with the width prune, exactly like the span
 * matchers in [[Phrase]].
 */
object Intervals {

  sealed trait Source { def leafTerms: Seq[String] }
  /** Leaf `match` rule: analyzed terms, `max_gaps` width budget (-1 =
   *  unlimited, Lucene's own encoding and the reference's default),
   *  `ordered`. Unlimited is NOT unbounded work: the budget only filters
   *  candidate windows — per-doc evaluation stays the same DFS over the
   *  doc's position lists. */
  case class IMatch(terms: Seq[String], maxGaps: Int = -1,
                    ordered: Boolean = false) extends Source {
    require(terms.nonEmpty, "intervals match requires at least one analyzed token")
    require(maxGaps >= -1, s"intervals [max_gaps] must be >= -1 (-1 = unlimited), got $maxGaps")
    def leafTerms: Seq[String] = terms
  }
  /** `all_of`: every source must match, combined non-overlapping. */
  case class IAllOf(sources: Seq[Source], maxGaps: Int = -1,
                    ordered: Boolean = false) extends Source {
    require(sources.size >= 2, "intervals all_of requires at least 2 sources")
    require(maxGaps >= -1, s"intervals [max_gaps] must be >= -1 (-1 = unlimited), got $maxGaps")
    def leafTerms: Seq[String] = sources.flatMap(_.leafTerms)
  }
  /** `any_of`: the union of the sources' intervals. */
  case class IAnyOf(sources: Seq[Source]) extends Source {
    require(sources.size >= 2, "intervals any_of requires at least 2 sources")
    def leafTerms: Seq[String] = sources.flatMap(_.leafTerms)
  }

  /** Resolved multi-term leaf: the union of the member terms' positions as
   *  width-1 intervals (points are inherently minimal — no containment is
   *  possible among equal-width intervals). Produced by [[resolve]] from the
   *  pattern rules below; `terms` MAY be empty (an expansion that matched
   *  nothing yields no intervals, exactly Lucene's empty MultiTermIntervals
   *  source). */
  case class ITermSet(terms: Seq[String]) extends Source {
    require(terms.forall(_.matches("[a-z0-9]+")),
      s"intervals term-set members must be analyzed tokens, got [${terms.mkString(" ")}]")
    def leafTerms: Seq[String] = terms
  }

  /** The `prefix` rule (Lucene Intervals.prefix): expands against the term
   *  dictionary — a metadata-scale DISTINCT-terms scan, never the postings —
   *  and fails loudly past `maxExpansions` terms, matching the reference's
   *  128-expansion contract for multi-term interval sources. */
  case class IPrefix(prefix: String, maxExpansions: Int = DefaultExpansions) extends Source {
    require(prefix.nonEmpty && prefix.matches("[a-z0-9]+"),
      s"intervals prefix must be a non-empty analyzed token, got [$prefix]")
    require(maxExpansions >= 1, s"max_expansions must be >= 1, got $maxExpansions")
    def leafTerms: Seq[String] = Seq.empty // concrete terms exist only after resolve
  }

  /** The `wildcard` rule (Lucene Intervals.wildcard): `*` = any run, `?` =
   *  one character, same 128-expansion fail-loudly contract. */
  case class IWildcard(pattern: String, maxExpansions: Int = DefaultExpansions) extends Source {
    require(pattern.nonEmpty && pattern.matches("[a-z0-9*?]+"),
      s"intervals wildcard must be [a-z0-9] plus * ?, got [$pattern]")
    require(maxExpansions >= 1, s"max_expansions must be >= 1, got $maxExpansions")
    def leafTerms: Seq[String] = Seq.empty
  }

  /** The `fuzzy` rule (Lucene Intervals.fuzzy): dictionary terms within
   *  `fuzziness` edits of `term` — Damerau (transposition = ONE edit, the
   *  Lucene default) or classic Levenshtein when `transpositions = false` —
   *  with the first `prefixLength` characters fixed. */
  case class IFuzzy(term: String, fuzziness: Int = 2, prefixLength: Int = 0,
                    transpositions: Boolean = true,
                    maxExpansions: Int = DefaultExpansions) extends Source {
    require(term.nonEmpty && term.matches("[a-z0-9]+"),
      s"intervals fuzzy term must be a non-empty analyzed token, got [$term]")
    require(fuzziness >= 0 && fuzziness <= 2,
      s"fuzziness must be in [0, 2] (Lucene's bound), got $fuzziness")
    require(prefixLength >= 0, s"prefix_length must be >= 0, got $prefixLength")
    require(maxExpansions >= 1, s"max_expansions must be >= 1, got $maxExpansions")
    def leafTerms: Seq[String] = Seq.empty
  }

  /** The `regexp` rule: dictionary terms the whole-term regex accepts.
   *  Portable-core syntax only (same contract as the regexp query) so the
   *  engine and the DuckDB oracle compile the same automaton. */
  case class IRegexp(pattern: String, maxExpansions: Int = DefaultExpansions) extends Source {
    require(pattern.nonEmpty && pattern.matches("""[a-z0-9\[\]()|*+?.^-]+"""),
      s"intervals regexp must be non-empty [a-z0-9] plus []()|*+?.^-, got [$pattern]")
    try java.util.regex.Pattern.compile(pattern)
    catch { case e: java.util.regex.PatternSyntaxException =>
      throw new IllegalArgumentException(s"invalid regexp [$pattern]: ${e.getMessage}")
    }
    require(maxExpansions >= 1, s"max_expansions must be >= 1, got $maxExpansions")
    def leafTerms: Seq[String] = Seq.empty
  }

  /** Lucene's 128-term cap for multi-term interval sources (ES/OpenSearch
   *  return an error past it rather than silently truncating — so do we). */
  val DefaultExpansions = 128

  /** Interval filter kinds — the `filter` key any intervals rule accepts.
   *  Applied to the SOURCE's minimal intervals against the FILTER source's
   *  minimal intervals (Lucene's FilteredIntervalsSource contract — the
   *  subtlety that a non-minimal source interval which would satisfy the
   *  filter is never considered is Lucene's own documented behavior):
   *   - containing:        keep s where some f fits inside s
   *   - contained_by:      keep s where s fits inside some f
   *   - not_containing:    keep s where NO f fits inside s
   *   - not_contained_by:  keep s where s fits inside NO f
   *   - overlapping:       keep s sharing at least one position with some f
   *   - not_overlapping:   keep s sharing no position with any f
   *   - before:            keep s that end before some f starts
   *   - after:             keep s that start after some f ends */
  sealed abstract class FilterKind(val name: String)
  case object FContaining extends FilterKind("containing")
  case object FContainedBy extends FilterKind("contained_by")
  case object FNotContaining extends FilterKind("not_containing")
  case object FNotContainedBy extends FilterKind("not_contained_by")
  case object FOverlapping extends FilterKind("overlapping")
  case object FNotOverlapping extends FilterKind("not_overlapping")
  case object FBefore extends FilterKind("before")
  case object FAfter extends FilterKind("after")
  val FilterKinds: Seq[FilterKind] = Seq(FContaining, FContainedBy,
    FNotContaining, FNotContainedBy, FOverlapping, FNotOverlapping,
    FBefore, FAfter)

  /** A source with a `filter` rule attached. Filtering a minimal set keeps
   *  it minimal (a subset of a pairwise-non-containing set stays pairwise
   *  non-containing), so no re-minimization is needed. */
  case class IFiltered(source: Source, kind: FilterKind, filter: Source) extends Source {
    def leafTerms: Seq[String] = source.leafTerms ++ filter.leafTerms
  }

  /** Expand every pattern leaf (prefix / wildcard / fuzzy) against the term
   *  dictionary into a concrete [[ITermSet]]. ONE metadata-scale scan of the
   *  DISTINCT terms per pattern leaf — the predicate (LIKE / codegen'd edit
   *  distance) is pushed into the scan, so only survivors reach the driver,
   *  and the survivor count is hard-capped at the leaf's `maxExpansions`
   *  (fail loudly, the reference's contract). Expansion order is term-asc
   *  (dictionary order) for determinism. */
  def resolve(idx: Index, src: Source): Source = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    def expand(pred: org.apache.spark.sql.Column, cap: Int, what: String): ITermSet = {
      val hits = idx.termStats.filter(pred)
        .select($"term").orderBy($"term").limit(cap + 1)
        .as[String].collect()
      if (hits.length > cap) throw new IllegalArgumentException(
        s"intervals $what expands to more than $cap terms — narrow the pattern")
      ITermSet(hits.toSeq)
    }
    src match {
      case IPrefix(p, cap) =>
        expand($"term".startsWith(p), cap, s"prefix [$p]")
      case IWildcard(p, cap) =>
        expand($"term".like(p.replace('*', '%').replace('?', '_')), cap,
          s"wildcard [$p]")
      case IRegexp(p, cap) =>
        // whole-term semantics: anchor for Java's substring-matching rlike
        expand($"term".rlike(s"^(?:$p)$$"), cap, s"regexp [$p]")
      case IFuzzy(t, f, pl, tr, cap) =>
        val dist =
          if (tr) graft.functions.StringFunctions.damerauDistance($"term", lit(t))
          else levenshtein($"term", lit(t))
        val pre =
          if (pl == 0) lit(true)
          else substring($"term", 1, pl) === t.take(pl)
        expand(pre && (abs(length($"term") - t.length) <= f) && dist <= f,
          cap, s"fuzzy [$t~$f]")
      case m: IMatch => m
      case ts: ITermSet => ts
      case IAllOf(ss, mg, ord) => IAllOf(ss.map(resolve(idx, _)), mg, ord)
      case IAnyOf(ss) => IAnyOf(ss.map(resolve(idx, _)))
      case IFiltered(s, k, fs) => IFiltered(resolve(idx, s), k, resolve(idx, fs))
    }
  }

  /** Docs where the source tree produces at least one interval — the
   *  filter-context existence the intervals clause scores constant.
   *  Pattern leaves are resolved against the term dictionary first. */
  def matchDocs(idx: Index, pos: Dataset[PosBlock], rawSource: Source): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val source = resolve(idx, rawSource)
    val uniq = source.leafTerms.distinct

    BucketKernel(idx, pos.filter($"term".isin(uniq: _*))) { (bucket, blocksIt, dlArr) =>
      val byTerm = BucketKernel.byTerm(blocksIt)
      // per-local-doc lookup for each leaf term present in this bucket
      val lookups: Map[String, java.util.HashMap[Integer, Array[Int]]] =
        byTerm.map { case (t, entries) =>
          val m = new java.util.HashMap[Integer, Array[Int]]()
          entries.foreach { case (d, ps) => m.put(d, ps) }
          t -> m
        }
      // candidate docs: union of the leaf terms' doc sets in this bucket
      val cands = new java.util.TreeSet[Integer]()
      byTerm.values.foreach(_.foreach { case (d, _) => cands.add(d) })
      val base = bucket << InvertedIndex.BucketBits
      val it = cands.iterator()
      new Iterator[Long] {
        private var nextDoc: Long = -1L
        private def advance(): Unit = {
          nextDoc = -1L
          while (nextDoc < 0 && it.hasNext) {
            val local: Int = it.next()
            if (dlArr(local) != 0) { // liveDocs gate
              def posOf(t: String): Array[Int] = {
                val m = lookups.get(t).orNull
                val a = if (m == null) null else m.get(local)
                if (a == null) Array.emptyIntArray else a
              }
              if (eval(source, posOf).nonEmpty) nextDoc = base + local
            }
          }
        }
        advance()
        def hasNext: Boolean = nextDoc >= 0
        def next(): Long = { val v = nextDoc; advance(); v }
      }
    }.toDF("doc_id")
  }

  /** Per-doc evaluation: the source's MINIMAL intervals, sorted by
   *  (start, end). Exposed for the brute-force spec. */
  private[graft] def eval(src: Source, posOf: String => Array[Int]): Array[(Int, Int)] =
    src match {
      case IMatch(terms, maxGaps, ordered) =>
        if (terms.size == 1) posOf(terms.head).map(p => (p, p))
        else {
          val lists = terms.map(posOf).toArray
          if (lists.exists(_.isEmpty)) Array.empty
          else minimize(combine(lists.map(_.map(p => (p, p))), maxGaps, ordered))
        }
      case IAllOf(sources, maxGaps, ordered) =>
        val subs = sources.map(s => eval(s, posOf)).toArray
        if (subs.exists(_.isEmpty)) Array.empty
        else minimize(combine(subs, maxGaps, ordered))
      case IAnyOf(sources) =>
        minimize(sources.toArray.flatMap(s => eval(s, posOf)))
      case ITermSet(terms) =>
        // width-1 intervals are minimal by construction; distinct + sorted
        terms.toArray.flatMap(posOf).distinct.sorted.map(p => (p, p))
      case IFiltered(source, kind, filter) =>
        val ss = eval(source, posOf)
        if (ss.isEmpty) ss
        else {
          val fs = eval(filter, posOf)
          def contains(o: (Int, Int), in: (Int, Int)): Boolean =
            o._1 <= in._1 && in._2 <= o._2
          def overlaps(a: (Int, Int), b: (Int, Int)): Boolean =
            a._1 <= b._2 && b._1 <= a._2
          kind match {
            case FContaining     => ss.filter(s => fs.exists(contains(s, _)))
            case FContainedBy    => ss.filter(s => fs.exists(contains(_, s)))
            case FNotContaining  => ss.filterNot(s => fs.exists(contains(s, _)))
            case FNotContainedBy => ss.filterNot(s => fs.exists(contains(_, s)))
            case FOverlapping    => ss.filter(s => fs.exists(overlaps(s, _)))
            case FNotOverlapping => ss.filterNot(s => fs.exists(overlaps(s, _)))
            case FBefore         => ss.filter(s => fs.exists(f => s._2 < f._1))
            case FAfter          => ss.filter(s => fs.exists(f => s._1 > f._2))
          }
        }
      case p @ (_: IPrefix | _: IWildcard | _: IFuzzy | _: IRegexp) =>
        throw new IllegalStateException(
          s"unresolved pattern leaf reached eval: $p — call resolve(idx, source) first")
    }

  /** All valid combinations of one interval per source: pairwise
   *  non-overlapping, interior gaps within budget, optionally in source
   *  order. DFS rarest-first with the window prune — the width only grows
   *  as members are added, so an over-budget partial choice cuts the whole
   *  subtree (same bounding idea as Phrase.unorderedSpanExists). */
  private def combine(subs: Array[Array[(Int, Int)]], maxGaps: Int,
                      ordered: Boolean): Array[(Int, Int)] = {
    // -1 = unlimited: positions are bounded by doc length, so a quarter of
    // Int.MaxValue can never be exceeded and the budget checks pass
    val budget = if (maxGaps < 0) Int.MaxValue / 4 else maxGaps
    val k = subs.length
    // DFS in source order when ordered (the order constraint chains
    // consecutive choices); rarest-first otherwise
    val order: Array[Int] =
      if (ordered) Array.range(0, k)
      else subs.indices.sortBy(subs(_).length).toArray
    val chosen = new Array[(Int, Int)](k)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    // prune bound: the gap count can shrink by at most the sum of the
    // remaining sources' widest intervals (a future member reduces gaps
    // only by the width it places inside the window)
    val slack = new Array[Int](k + 1)
    var si = k - 1
    while (si >= 0) {
      val arr = subs(order(si))
      var mw = 0
      var j = 0
      while (j < arr.length) {
        val w = arr(j)._2 - arr(j)._1 + 1
        if (w > mw) mw = w
        j += 1
      }
      slack(si) = slack(si + 1) + mw
      si -= 1
    }
    // total member width so far; gaps = window - sumWidth at completion
    def rec(d: Int, mn: Int, mx: Int, sumW: Int): Unit = {
      if (d == k) {
        if ((mx - mn + 1) - sumW <= budget) out += ((mn, mx))
        return
      }
      val arr = subs(order(d))
      var j = 0
      while (j < arr.length) {
        val iv = arr(j)
        var ok = true
        // non-overlap with every already-chosen interval; ordered chains
        // strictly after the previous source's interval
        if (ordered && d > 0) ok = iv._1 > chosen(d - 1)._2
        var t = 0
        while (ok && t < d) {
          val c = chosen(t)
          if (iv._1 <= c._2 && c._1 <= iv._2) ok = false
          t += 1
        }
        if (ok) {
          val nmn = if (d == 0) iv._1 else math.min(mn, iv._1)
          val nmx = if (d == 0) iv._2 else math.max(mx, iv._2)
          val nw = sumW + (iv._2 - iv._1 + 1)
          if ((nmx - nmn + 1) - nw - slack(d + 1) <= budget) {
            chosen(d) = iv
            rec(d + 1, nmn, nmx, nw)
          }
        }
        j += 1
      }
    }
    rec(0, 0, 0, 0)
    out.toArray
  }

  /** Keep only minimal intervals (none containing another), deduped and
   *  sorted by (start, end) — the invariant every Lucene IntervalsSource
   *  maintains. */
  private def minimize(ivs: Array[(Int, Int)]): Array[(Int, Int)] = {
    if (ivs.length <= 1) return ivs.distinct.sorted
    val sorted = ivs.distinct.sorted // by (start asc, end asc)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    // scan by start: an interval is minimal iff no other interval is
    // contained in it; with (start, end) sorted, keep iv unless a later
    // interval starting >= iv.start ends <= iv.end, or an earlier kept one
    // contains it. Two passes: drop containers.
    var i = 0
    while (i < sorted.length) {
      val (s, e) = sorted(i)
      // contained by a SAME-START shorter predecessor (sorted by end asc)?
      var minimalHere = i == 0 || sorted(i - 1)._1 != s
      // any later interval strictly inside? candidates have start >= s
      var j = i + 1
      while (minimalHere && j < sorted.length && sorted(j)._1 <= e) {
        if (sorted(j)._2 <= e) minimalHere = false
        j += 1
      }
      if (minimalHere) out += ((s, e))
      i += 1
    }
    out.toArray
  }
}
