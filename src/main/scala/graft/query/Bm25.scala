package graft.query

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.index.{Index, InvertedIndex, PostingCodec}

/**
 * Exact BM25 (k1=1.2, b=0.75 — the Lucene BM25Similarity defaults the
 * reference relies on for its `match` sub-queries; reference:
 * query/HybridQueryBuilder.java:368-377 delegates scoring to Lucene) over the
 * block-per-row compressed postings.
 *
 * Formula (Lucene 8+ / OpenSearch 3.x): idf * tf / (tf + k1*(1 - b + b*dl/avgdl))
 * with idf = ln(1 + (N - df + 0.5)/(df + 0.5)). We score with exact doc
 * lengths rather than Lucene's lossy SmallFloat-encoded norms (SURVEY.md
 * §7.4) so the engine is self-consistent and oracle-checkable.
 *
 * Execution: every scorer here runs on [[BucketKernel]] (matched posting
 * blocks co-grouped per 4096-doc bucket with that bucket's doc-length
 * window; over a registry-resident index one Spark job with no exchange).
 * Every BM25 scorer here — `match`, synonym, `cross_fields` and
 * `combined_fields` clauses ([[Clause]]), several fields in one co-group —
 * accumulates through ONE loop ([[Accumulator]]): blocks in Spark's term
 * order, `w * tfNorm` per posting for a `match` clause, a per-doc fold of
 * slots for the others, then the msm and liveDocs gates. [[topK]] reduces
 * each bucket through a [[BoundedTopK]] heap before the global
 * TakeOrderedAndProject; it is the plain reference scorer. [[topKWand]] streams the same co-grouped buckets
 * with one running heap per partition and skips buckets whose block-max
 * upper bound cannot beat it (block-max WAND, reference:
 * query/HybridQueryScorer.java:155-176), scoring every other bucket
 * through that loop.
 */
object Bm25 {

  val K1 = 1.2
  val B = 0.75

  def idf(df: Long, docCount: Long): Double =
    math.log(1.0 + (docCount - df + 0.5) / (df + 0.5))

  def tfNorm(tf: Int, dl: Int, avgdl: Double): Double =
    tf / (tf + K1 * (1 - B + B * dl / avgdl))

  /** Fractional form — sloppy phrase freq is a sum of per-match slop
   *  factors 1/(1+matchLength), a float in Lucene's PhraseScorer, and a
   *  merged slot's tf and dl are weighted sums. */
  def tfNorm(tf: Double, dl: Double, avgdl: Double): Double =
    tf / (tf + K1 * (1 - B + B * dl / avgdl))

  /** One clause of a [[scoreBatch]]: the Lucene query a `match`-shaped
   *  sub-query compiles to, scored whole inside the bucket, so a per-bucket
   *  top-k of it is exact. */
  sealed trait Clause

  /** `match`: OR over `terms`, per-term multiplicative boosts, and the
   *  `operator: and` / minimum_should_match gate of at least
   *  `minTermsMatch` DISTINCT matched terms. A query term absent from the
   *  index can never match, so a clause with fewer indexed terms than its
   *  gate matches nothing — Lucene's MatchQuery-with-AND, where one zero-df
   *  MUST TermQuery empties it. Scores sum in Spark's term order. */
  case class TermClause(terms: Seq[String], boosts: Map[String, Double] = Map.empty,
                        minTermsMatch: Int = 0) extends Clause

  /** Lucene SynonymQuery per query position: a (members, boost) group is
   *  ONE pseudo-term, tf summed BEFORE saturation, df = the max member df,
   *  times the boost; positions sum in order ([[graft.hybrid.LexicalSyn]]). */
  case class SynonymClause(groups: Seq[(Seq[String], Double)]) extends Clause

  /** [[graft.hybrid.CrossFields]]; the primary doc count blends the idf. */
  case class CrossFieldsClause(fields: Seq[(Index, Double)], terms: Seq[String]) extends Clause

  /** [[graft.hybrid.CombinedFields]]; N is the primary doc count. */
  case class CombinedFieldsClause(fields: Seq[(Index, Double)], terms: Seq[String],
                                  minTermsMatch: Int = 0) extends Clause

  /** Field `f`'s `term`, `w` its BM25 weight in a best slot, its field
   *  weight on tf in a merged one. */
  private final case class Src(f: Int, term: String, w: Double)

  /** One scored unit of a slotted clause. Best: each source saturates on
   *  its own field, the max wins. Merged: tf' = Σ w·tf in source order
   *  saturates once on the clause's dl', times `idf` and `boost`. */
  private final case class Slot(srcs: Array[Src], best: Boolean, idf: Double, boost: Double)

  /** A resolved clause: a [[TermClause]]'s `direct` (term -> idf x boost) on
   *  field `f`, added per posting in block order; or `slots`, folded per doc
   *  in slot order, merged slots saturating on dl' = Σ w·dl over `norms`
   *  (field, weight) and `avgdl`. A doc needs max(`msm`, 1) matched terms. */
  private final case class Plan(f: Int, direct: Map[String, Double], slots: Array[Slot],
                                norms: Array[(Int, Double)], avgdl: Double, msm: Int)

  /** The fields a batch reads (the indexes its live clauses use, in first
   *  use order) and its [[Accumulator]], from one term-dictionary lookup
   *  per index over every clause's terms — the Lucene TermStatistics
   *  analogue. A clause that can match nothing has a null plan. */
  private def accumulator(idx: Index, clauses: Seq[Clause]): (Seq[Index], Accumulator) = {
    val dfs: Map[Index, Map[String, Long]] = clauses.flatMap[(Index, Seq[String])] {
      case c: TermClause => Seq(idx -> c.terms)
      case SynonymClause(groups) => Seq(idx -> groups.flatMap(_._1))
      case CrossFieldsClause(fs, ts) => fs.map(_._1 -> ts)
      case CombinedFieldsClause(fs, ts, _) => fs.map(_._1 -> ts)
    }.filter(_._2.nonEmpty).groupBy(_._1).map { case (i, ts) => i -> i.dfs(ts.flatMap(_._2)) }
      .withDefaultValue(Map.empty)
    val used = scala.collection.mutable.ArrayBuffer.empty[Index]
    def id(i: Index): Int =
      used.indexOf(i) match { case -1 => used += i; used.size - 1; case k => k }
    val n = idx.stats.doc_count
    val plans = clauses.map {
      case TermClause(ts, bs, msm) =>
        // non-positive boosts are rejected like Lucene rejects negative
        // boosts: topKWand's bucket upper bound (sum of w x tfNorm(max_tf,
        // min_dl)) only dominates real scores when every term weight is
        // non-negative — a negative weight would make pruning silently drop
        // true top-k docs
        bs.foreach { case (t, b) => require(b > 0, s"boost for '$t' must be > 0, got $b") }
        val w = ts.distinct.flatMap(t =>
          dfs(idx).get(t).map(df => t -> idf(df, n) * bs.getOrElse(t, 1.0))).toMap
        if (w.isEmpty || w.size < msm) null else Plan(id(idx), w, null, null, 0.0, msm)
      case SynonymClause(groups) =>
        val present = groups.map { case (g, b) => (g.distinct.filter(dfs(idx).contains), b) }
          .filter(_._1.nonEmpty)
        if (present.isEmpty) null
        else {
          val f = id(idx)
          Plan(f, null, present.map { case (g, b) =>
            Slot(g.map(Src(f, _, 1.0)).toArray, best = false, idf(g.map(dfs(idx)).max, n), b)
          }.toArray, Array(f -> 1.0), idx.stats.avgdl, 0)
        }
      case CrossFieldsClause(fs, ts) =>
        val slots = ts.distinct.map(t => t -> fs.flatMap { case (i, b) => dfs(i).get(t).map((i, b, _)) })
          .filter(_._2.nonEmpty).map { case (t, in) =>
            val blend = idf(in.map(_._3).max, n)
            Slot(in.map { case (i, b, df) =>
              val own = idf(df, i.stats.doc_count)
              Src(id(i), t, own * (b * blend / own))
            }.toArray, best = true, 0.0, 1.0)
          }
        if (slots.isEmpty) null else Plan(-1, null, slots.toArray, null, 0.0, 0)
      case CombinedFieldsClause(fs, ts, msm) =>
        val merged = ts.distinct.map(t => t -> fs.filter(f => dfs(f._1).contains(t)))
          .filter(_._2.nonEmpty)
        if (merged.isEmpty || merged.size < msm) null
        else Plan(-1, null, merged.map { case (t, in) =>
          Slot(in.map { case (i, w) => Src(id(i), t, w) }.toArray, best = false,
            idf(in.map(f => dfs(f._1)(t)).max, n), 1.0)
        }.toArray, fs.map { case (i, w) => (id(i), w) }.toArray,
          fs.map { case (i, w) => w * i.stats.sum_dl }.sum / n, msm)
    }
    (used.toSeq, new Accumulator(plans, used.map(_.stats.avgdl).toArray))
  }

  /**
   * Score a bag of query terms (OR semantics, per-term scores summed — the
   * Lucene BooleanQuery-of-TermQuery shape a `match` query compiles to):
   * [[scoreBatch]] of one clause.
   *
   * @param boosts  per-term multiplicative boost (default 1.0)
   * @param limitPerBucket if >0, keep only the top `limitPerBucket` candidates
   *        per 4096-doc bucket (safe when >= final k and no post-filter runs)
   * @return DataFrame(doc_id: Long, score: Double) — all matching docs,
   *         unsorted; callers apply filter/top-k.
   */
  def scoreTerms(
      idx: Index,
      terms: Seq[String],
      boosts: Map[String, Double] = Map.empty,
      limitPerBucket: Int = 0,
      minTermsMatch: Int = 0
  ): DataFrame =
    scoreBatch(idx, Seq(TermClause(terms, boosts, minTermsMatch)), limitPerBucket)
      .toDF("clause", "doc_id", "score").select("doc_id", "score")

  /**
   * Score a batch of clauses in ONE [[BucketKernel]] pass — the reference's
   * one disjunctive pass over every sub-query of a request
   * (query/HybridQueryScorer.java:105-120). Each field's postings scan is
   * filtered once to the union of the clauses' terms in it; a batch over
   * several fields (`cross_fields`, `combined_fields`) co-groups them in
   * the same pass ([[BucketKernel.fields]]). Every bucket runs the one
   * accumulation loop ([[Accumulator]]), so each clause's scores are
   * bit-identical to its one-clause run, and no clause depends on another.
   *
   * @param idx the primary field: [[TermClause]]s and [[SynonymClause]]s
   *        read it, and its doc count is the merged collection size
   * @param limitPerBucket if >0, each clause keeps a [[BoundedTopK]] of that
   *        many candidates per bucket
   * @return (clause index, doc_id, score) — every doc each clause matches
   */
  def scoreBatch(idx: Index, clauses: Seq[Clause],
                 limitPerBucket: Int = 0): Dataset[(Int, Long, Double)] = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val (fields, acc) = accumulator(idx, clauses)
    if (acc.live.isEmpty) return spark.emptyDataset[(Int, Long, Double)]
    val sides = fields.zip(acc.terms).map { case (i, ts) =>
      i -> (if (ts.isEmpty) None else Some(i.postings.filter($"term".isin(ts: _*))))
    }
    val lim = limitPerBucket
    val nC = clauses.size
    BucketKernel.fields(sides) { (bucket, blocksIt, dls) =>
      val base = bucket << InvertedIndex.BucketBits
      if (lim <= 0) {
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
        acc.score(inTermOrder(blocksIt), dls)((c, d, s, _) => out += ((c, base + d, s)))
        out.iterator
      } else {
        val tops = Array.fill(nC)(new BoundedTopK(lim))
        acc.score(inTermOrder(blocksIt), dls)((c, d, s, _) => tops(c).offer(base + d, s))
        acc.live.iterator.flatMap(c => tops(c).iterator.map { case (id, s) => (c, id, s) })
      }
    }
  }

  /** A bucket's matched blocks in Spark's term order, fields in batch order
   *  within a term. Shuffle arrival order varies run to run, and another FP
   *  summation order shifts near-tied scores by an ulp, enough to flip a
   *  rank at a page boundary. */
  private def inTermOrder(blocks: Iterator[FieldBlock]): Array[FieldBlock] =
    blocks.toArray.sortBy(b => (UTF8String.fromString(b.term), b.field))

  /** Receives (clause, local doc, score, matched terms) from
   *  [[Accumulator.score]]; a single-method type, so the lambdas passed for
   *  it box no argument. */
  private trait Emit { def apply(clause: Int, local: Int, score: Double, matched: Int): Unit }

  /**
   * The one BM25 accumulation loop, over one bucket for a batch of clauses:
   * each matched block is decoded once; a direct clause ([[TermClause]])
   * adds `w * tfNorm` per posting (tfNorm once per posting for every clause
   * holding the term), and a block a slot reads fills its source's dense tf
   * window, from which each slotted clause folds its slots per doc. A doc
   * qualifies for a clause if it matched enough of its terms and is live.
   * `dls(f)` is field f's doc-length window.
   */
  private final class Accumulator(plans: Seq[Plan], avgdls: Array[Double]) extends Serializable {
    /** The clauses that can match. */
    val live: Array[Int] = plans.indices.filter(plans(_) != null).toArray
    // per (field, term): the direct clauses holding it, and their weights
    private val byTerm: Map[(Int, String), (Array[Int], Array[Double])] =
      live.toSeq.filter(plans(_).direct != null)
        .flatMap(c => plans(c).direct.map { case (t, w) => ((plans(c).f, t), c, w) })
        .groupBy(_._1).map { case (k, cws) => k -> ((cws.map(_._2).toArray, cws.map(_._3).toArray)) }
    // the (field, term) sources slots read, each a tf window per bucket
    private val windows: Map[(Int, String), Int] = live.toSeq.flatMap(c => Option(plans(c).slots)
      .toSeq.flatten.flatMap(_.srcs.toSeq).map(s => (s.f, s.term))).distinct.zipWithIndex.toMap
    private val slotWins: Seq[Array[Array[Int]]] = plans.map(p =>
      if (p == null || p.slots == null) null else p.slots.map(_.srcs.map(s => windows((s.f, s.term)))))
    /** Clause `c`'s (term -> weight), if it is direct. */
    def weights(c: Int): Map[String, Double] = plans(c).direct
    /** Per field, the terms its postings scan keeps. */
    val terms: Array[Seq[String]] = Array.tabulate(avgdls.length)(f =>
      (byTerm.keys ++ windows.keys).filter(_._1 == f).map(_._2).toSeq.distinct)

    /** `emit(clause, local doc, score, matched terms)` for every doc each
     *  live clause keeps in this bucket, clause by clause, in local-id
     *  order; a direct clause counts matched terms only when gated
     *  (minTermsMatch >= 1). `blocks` come in [[inTermOrder]]. */
    def score(blocks: Array[FieldBlock], dls: Array[Array[Int]])(emit: Emit): Unit = {
      val span = InvertedIndex.BucketSpan
      val scores = new Array[Array[Double]](plans.size)
      val seen = new Array[Array[Boolean]](plans.size)
      // distinct matched query terms per doc (one merged block per
      // (term, bucket), so one increment per term) — the msm gate
      val cnts = new Array[Array[Int]](plans.size)
      live.filter(plans(_).direct != null).foreach { c =>
        scores(c) = new Array[Double](span)
        seen(c) = new Array[Boolean](span)
        if (plans(c).msm >= 1) cnts(c) = new Array[Int](span)
      }
      val tfWin = new Array[Array[Int]](windows.size)
      var i = 0
      while (i < blocks.length) {
        val b = blocks(i)
        val ids = PostingCodec.decodeDeltas(b.docs, b.cnt)
        val tfs = PostingCodec.decodeInts(b.tfs, b.cnt)
        byTerm.get((b.field, b.term)).foreach { case (cs, ws) =>
          val dlArr = dls(b.field)
          val avgdl = avgdls(b.field)
          var j = 0
          while (j < b.cnt) {
            val local = ids(j)
            val tfn = tfNorm(tfs(j), dlArr(local), avgdl)
            var q = 0
            while (q < cs.length) {
              val c = cs(q)
              scores(c)(local) += ws(q) * tfn
              seen(c)(local) = true
              if (cnts(c) != null) cnts(c)(local) += 1
              q += 1
            }
            j += 1
          }
        }
        windows.get((b.field, b.term)).foreach { w =>
          tfWin(w) = new Array[Int](span)
          var j = 0
          while (j < b.cnt) { tfWin(w)(ids(j)) = tfs(j); j += 1 }
        }
        i += 1
      }
      live.foreach { c =>
        val p = plans(c)
        val need = math.max(p.msm, 1)
        var d = 0
        while (d < span) {
          if (p.direct != null) {
            // liveDocs gate — see BucketKernel: dl slot 0 == tombstoned
            if (seen(c)(d) && dls(p.f)(d) > 0 && (cnts(c) == null || cnts(c)(d) >= p.msm))
              emit(c, d, scores(c)(d), if (cnts(c) == null) 0 else cnts(c)(d))
          } else {
            var dl = 0.0 // the merged slots' dl', in field order
            var k = 0
            while (p.norms != null && k < p.norms.length) { dl += p.norms(k)._2 * dls(p.norms(k)._1)(d); k += 1 }
            var s = 0.0
            var n = 0
            k = 0
            while (k < p.slots.length) {
              val v = slot(p, p.slots(k), slotWins(c)(k), tfWin, dls, d, dl)
              if (!v.isNaN) { s += v; n += 1 }
              k += 1
            }
            if (n >= need) emit(c, d, s, n)
          }
          d += 1
        }
      }
    }

    /** Slot `sl`'s score for doc `d` (`dl` its clause's dl'), NaN where it
     *  does not match: no source posting, or not live in the field it
     *  saturates on. */
    private def slot(p: Plan, sl: Slot, wins: Array[Int], tfWin: Array[Array[Int]],
                     dls: Array[Array[Int]], d: Int, dl: Double): Double = {
      var v = Double.NaN
      var tf = 0.0
      var q = 0
      while (q < wins.length) {
        val win = tfWin(wins(q))
        val f = sl.srcs(q).f
        if (win != null && win(d) > 0) {
          if (!sl.best) tf += sl.srcs(q).w * win(d)
          else if (dls(f)(d) > 0) {
            val x = sl.srcs(q).w * tfNorm(win(d), dls(f)(d), avgdls(f))
            if (v.isNaN || x > v) v = x
          }
        }
        q += 1
      }
      if (sl.best || tf == 0.0 || dl <= 0) v else (sl.idf * tfNorm(tf, dl, p.avgdl)) * sl.boost
    }
  }

  /**
   * `terms_set` scoring: the BM25 sum over a doc's matching query terms,
   * gated by a PER-DOC minimum-match count read from a stored numeric
   * field (Lucene CoveringQuery with a LongValuesSource msm). One
   * [[BucketKernel]] pass scores the terms and counts each doc's distinct
   * matched terms in the loop's msm counter (a gate of 1, which every
   * matched doc passes), and the field join is matched-set-sized. A field
   * value <= 1 degrades to >= 1 (docs only enter through a matching term);
   * a value above the distinct term count can never be met.
   */
  def termsSetField(idx: Index, terms: Seq[String], fields: DataFrame,
                    msmField: String): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val acc = accumulator(idx, Seq(TermClause(terms.distinct, minTermsMatch = 1)))._2
    if (acc.live.isEmpty) return spark.emptyDataset[(Long, Double)].toDF("doc_id", "score")
    val scored = BucketKernel.fields(Seq(idx -> Some(idx.postings.filter($"term".isin(acc.terms(0): _*))))) {
      (bucket, blocksIt, dls) =>
        val base = bucket << InvertedIndex.BucketBits
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Int)]
        acc.score(inTermOrder(blocksIt), dls)((_, d, s, n) => out += ((base + d, s, n)))
        out.iterator
    }.toDF("doc_id", "score", "_nm")
    scored.join(fields.select($"doc_id", col(msmField).cast("long").as("_need")), "doc_id")
      .where($"_nm" >= greatest($"_need", lit(1L)))
      .select($"doc_id", $"score")
  }

  /**
   * Constant-score multi-term match: all live docs containing any indexed
   * term matching the SQL LIKE pattern — Lucene's PrefixQuery / WildcardQuery
   * under the default CONSTANT_SCORE rewrite (MultiTermQuery doesn't rank,
   * it filters). The pattern filter runs on the postings scan (a prefix
   * pattern pushes down as StringStartsWith), the matched blocks run on
   * [[BucketKernel]], a bucket-local seen array dedups docs across the
   * expanded terms, and the dl-gate drops tombstoned docs like every scorer.
   *
   * @return DataFrame(doc_id: Long) — distinct matching live docs.
   */
  def matchLike(idx: Index, likePattern: String): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    matchWhere(idx, $"term".like(likePattern))
  }

  /** [[matchLike]] generalized to any term-column predicate — the `fuzzy`
   *  query's levenshtein scan uses this. */
  def matchWhere(idx: Index, termPredicate: org.apache.spark.sql.Column): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val matched = idx.postings.filter(termPredicate)
    val span = InvertedIndex.BucketSpan
    BucketKernel(idx, matched) { (bucket, blocksIt, dlArr) =>
      val seen = new Array[Boolean](span)
      blocksIt.foreach { b =>
        val ids = PostingCodec.decodeDeltas(b.docs, b.cnt)
        var j = 0
        while (j < b.cnt) { seen(ids(j)) = true; j += 1 }
      }
      val base = bucket << InvertedIndex.BucketBits
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var d = 0
      while (d < span) {
        if (seen(d) && dlArr(d) > 0) out += base + d
        d += 1
      }
      out.iterator
    }.toDF("doc_id")
  }

  /** Top-k by (score desc, doc_id asc) — Spark plans this as
   *  TakeOrderedAndProject, the distributed HitQueue merge. */
  def topK(idx: Index, terms: Seq[String], k: Int, boosts: Map[String, Double] = Map.empty): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    scoreTerms(idx, terms, boosts, limitPerBucket = k)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Lucene SynonymQuery scoring of one synonym set ([[SynonymClause]] of
   *  one group): tf summed across the set before saturation, df = the max
   *  member df. */
  def synonymTopK(idx: Index, synonyms: Seq[String], k: Int): DataFrame = {
    require(synonyms.nonEmpty, "synonym set must be non-empty")
    require(k > 0, s"k must be > 0, got $k")
    scoreBatch(idx, Seq(SynonymClause(Seq(synonyms -> 1.0))), limitPerBucket = k)
      .toDF("clause", "doc_id", "score").select("doc_id", "score")
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /**
   * Block-max-WAND top-k: exact results, but non-competitive buckets are
   * never decoded. The reference's collector feeds its heap threshold back
   * into the scorers so blocks whose max impact cannot beat it are skipped
   * (reference: search/collector/HybridTopScoreDocCollector.java:160-171,
   * query/HybridQueryScorer.java:155-176 advanceShallow/getMaxScore). Each
   * partition streams its [[BucketKernel.grouped]] buckets through one
   * RUNNING bounded heap, in one Spark job:
   *
   *  - bucket upper bound from block METADATA only: sum over terms of
   *    w x tfNorm(max_tf, min_dl). For any doc in the bucket tf <= max_tf
   *    and dl >= min_dl, and tfNorm is increasing in tf / decreasing in dl,
   *    so the bound dominates every real score;
   *  - once the heap holds k docs, a bucket with ub < theta (the k-th best
   *    score so far) is skipped; ub == theta still scores, because a
   *    theta-tied doc with a smaller doc_id wins the tie. Every other
   *    bucket scores through the one [[Accumulator]] loop;
   *  - the per-partition heaps merge through one TakeOrderedAndProject.
   *
   * The partition-local theta is <= the global theta, so pruning is only
   * ever conservative. Skips compound with the impact-ordered index
   * (Reorder.denseIds): short high-impact docs cluster in early buckets,
   * the heap saturates early, and the tail of low-bound buckets is skipped.
   */
  def topKWand(idx: Index, terms: Seq[String], k: Int, boosts: Map[String, Double] = Map.empty): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val spark = idx.postings.sparkSession
    import spark.implicits._

    val acc = accumulator(idx, Seq(TermClause(terms, boosts)))._2
    if (acc.live.isEmpty)
      return spark.emptyDataset[(Long, Double)].toDF("doc_id", "score")
    val weightPerTerm = acc.weights(0)
    val avgdl = idx.stats.avgdl
    val kk = k

    val matched = idx.postings.filter($"term".isin(acc.terms(0): _*))
    // the kernel's co-group hands each bucket's blocks over whole (a join's
    // skewed partition may be split, leaving scores partial). A bucket whose
    // docs are all deleted has no doc-length block.
    val buckets = BucketKernel.grouped(matched, idx.docLens) { (bucket, blocksIt, dlIt) =>
      if (!dlIt.hasNext) Iterator.empty
      else Iterator((bucket, inTermOrder(blocksIt.map(FieldBlock.of(0, _))), dlIt.next()))
    }

    val topped: Dataset[(Long, Double)] = buckets.mapPartitions { it =>
      val top = new BoundedTopK(kk)
      it.foreach { case (bucket, group, dlb) =>
        var ub = 0.0
        group.foreach(b => ub += weightPerTerm(b.term) * tfNorm(b.max_tf, dlb.min_dl, avgdl))
        if (!(top.full && ub < top.threshold)) {
          val base = bucket << InvertedIndex.BucketBits
          acc.score(group, Array(BucketKernel.dlWindow(dlb)))((_, d, s, _) => top.offer(base + d, s))
        }
      }
      top.iterator
    }

    topped.toDF("doc_id", "score").orderBy($"score".desc, $"doc_id".asc).limit(k)
  }
}
