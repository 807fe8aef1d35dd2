package graft.query

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.index.{Index, InvertedIndex, PostingBlock, PostingCodec}

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
 * Every `match`-shaped scorer — [[scoreTerms]], [[scoreBatch]], [[topK]]
 * and [[topKWand]] — accumulates through ONE loop ([[Accumulator]]):
 * blocks in Spark's term order, `w * tfNorm` per clause holding the term,
 * then the msm and liveDocs gates. [[topK]] reduces each bucket through a
 * [[BoundedTopK]] heap before the global TakeOrderedAndProject; it is the
 * plain reference scorer. [[topKWand]] streams the same co-grouped buckets
 * with one running heap per partition and skips buckets whose block-max
 * upper bound cannot beat it (block-max WAND, reference:
 * query/HybridQueryScorer.java:155-176), scoring every other bucket
 * through that loop. [[synonymScore]] keeps its own loop: its tf is summed
 * across the synonym set before saturation.
 */
object Bm25 {

  val K1 = 1.2
  val B = 0.75

  def idf(df: Long, docCount: Long): Double =
    math.log(1.0 + (docCount - df + 0.5) / (df + 0.5))

  def tfNorm(tf: Int, dl: Int, avgdl: Double): Double =
    tf / (tf + K1 * (1 - B + B * dl / avgdl))

  /** Fractional-frequency form — sloppy phrase freq is a sum of per-match
   *  slop factors 1/(1+matchLength), a float in Lucene's PhraseScorer. */
  def tfNorm(tf: Double, dl: Int, avgdl: Double): Double =
    tf / (tf + K1 * (1 - B + B * dl / avgdl))

  /** One `match`-shaped clause of a [[scoreBatch]]: OR over `terms`,
   *  per-term multiplicative boosts, and the `operator: and` /
   *  minimum_should_match gate of at least `minTermsMatch` DISTINCT matched
   *  terms. A query term absent from the index can never match, so a clause
   *  with fewer indexed terms than its gate matches nothing — Lucene's
   *  MatchQuery-with-AND, where one zero-df MUST TermQuery empties it. */
  case class TermClause(terms: Seq[String], boosts: Map[String, Double] = Map.empty,
                        minTermsMatch: Int = 0)

  /** Per-clause BM25 weight maps (idf x boost) from one term-dictionary
   *  lookup over every clause's terms — the Lucene TermStatistics analogue. */
  private def termWeights(idx: Index, clauses: Seq[TermClause]): Seq[Map[String, Double]] = {
    // non-positive boosts are rejected like Lucene rejects negative boosts:
    // topKWand's bucket upper bound (sum of w x tfNorm(max_tf, min_dl)) only
    // dominates real scores when every term weight is non-negative — a
    // negative weight would make pruning silently drop true top-k docs
    clauses.foreach(_.boosts.foreach { case (t, b) => require(b > 0, s"boost for '$t' must be > 0, got $b") })
    val statsMap = idx.dfs(clauses.flatMap(_.terms))
    val n = idx.stats.doc_count
    clauses.map(c => c.terms.distinct.flatMap { t =>
      statsMap.get(t).map(df => t -> idf(df, n) * c.boosts.getOrElse(t, 1.0))
    }.toMap)
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
   * Score a batch of term clauses in ONE [[BucketKernel]] pass — the
   * reference's one disjunctive pass over every sub-query of a request
   * (query/HybridQueryScorer.java:105-120). The postings scan is filtered
   * once to the union of the clauses' terms, and every bucket runs the one
   * accumulation loop ([[Accumulator]]), so each clause's scores are
   * bit-identical to its one-clause run, and no clause depends on another.
   *
   * @param limitPerBucket if >0, each clause keeps a [[BoundedTopK]] of that
   *        many candidates per bucket
   * @return (clause index, doc_id, score) — every doc each clause matches
   */
  def scoreBatch(idx: Index, clauses: Seq[TermClause],
                 limitPerBucket: Int = 0): Dataset[(Int, Long, Double)] = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val acc = new Accumulator(clauses, termWeights(idx, clauses), idx.stats.avgdl)
    if (acc.terms.isEmpty) return spark.emptyDataset[(Int, Long, Double)]
    val matched = idx.postings.filter($"term".isin(acc.terms: _*))
    val lim = limitPerBucket
    val nC = clauses.size
    BucketKernel(idx, matched) { (bucket, blocksIt, dlArr) =>
      val base = bucket << InvertedIndex.BucketBits
      if (lim <= 0) {
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
        acc.score(inTermOrder(blocksIt), dlArr)((c, d, s) => out += ((c, base + d, s)))
        out.iterator
      } else {
        val tops = Array.fill(nC)(new BoundedTopK(lim))
        acc.score(inTermOrder(blocksIt), dlArr)((c, d, s) => tops(c).offer(base + d, s))
        acc.live.iterator.flatMap(c => tops(c).iterator.map { case (id, s) => (c, id, s) })
      }
    }
  }

  /** A bucket's matched blocks in Spark's term order. Shuffle arrival order
   *  varies run to run, and another FP summation order shifts near-tied
   *  scores by an ulp, enough to flip a rank at a page boundary. */
  private def inTermOrder(blocks: Iterator[PostingBlock]): Array[PostingBlock] =
    blocks.toArray.sortBy(b => UTF8String.fromString(b.term))

  /** Receives (clause, local doc, score) from [[Accumulator.score]]; a
   *  single-method type, so the lambdas passed for it box no argument. */
  private trait Emit { def apply(clause: Int, local: Int, score: Double): Unit }

  /**
   * The one BM25 accumulation loop, over one bucket for a batch of clauses:
   * each matched block is decoded once, tfNorm is computed once per
   * posting, and every clause holding the term adds `w * tfNorm` to its own
   * window; a doc then qualifies for a clause if it matched one of its
   * terms, passes its msm gate and is live.
   */
  private final class Accumulator(clauses: Seq[TermClause], weights: Seq[Map[String, Double]],
                                  avgdl: Double) extends Serializable {
    private val msm = clauses.map(_.minTermsMatch).toArray
    /** The clauses that can match: a weighted term, and at least as many
     *  indexed terms as their gate. */
    val live: Array[Int] = clauses.indices.filter(c =>
      weights(c).nonEmpty && weights(c).size >= msm(c)).toArray
    // per term: the clauses holding it, and their weights
    private val byTerm: Map[String, (Array[Int], Array[Double])] =
      live.toSeq.flatMap(c => weights(c).map { case (t, w) => (t, c, w) })
        .groupBy(_._1).map { case (t, cws) => t -> ((cws.map(_._2).toArray, cws.map(_._3).toArray)) }
    val terms: Seq[String] = byTerm.keys.toSeq

    /** `emit(clause, local doc, score)` for every doc each live clause keeps
     *  in this bucket, clause by clause, in local-id order. `blocks` come
     *  in [[inTermOrder]]. */
    def score(blocks: Array[PostingBlock], dlArr: Array[Int])(emit: Emit): Unit = {
      val span = InvertedIndex.BucketSpan
      val scores = new Array[Array[Double]](clauses.size)
      val seen = new Array[Array[Boolean]](clauses.size)
      // distinct matched query terms per doc (one merged block per
      // (term, bucket), so one increment per term) — the msm gate
      val cnts = new Array[Array[Int]](clauses.size)
      live.foreach { c =>
        scores(c) = new Array[Double](span)
        seen(c) = new Array[Boolean](span)
        if (msm(c) > 1) cnts(c) = new Array[Int](span)
      }
      var i = 0
      while (i < blocks.length) {
        val b = blocks(i)
        val (cs, ws) = byTerm(b.term)
        val ids = PostingCodec.decodeDeltas(b.docs, b.cnt)
        val tfs = PostingCodec.decodeInts(b.tfs, b.cnt)
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
        i += 1
      }
      live.foreach { c =>
        var d = 0
        while (d < span) {
          // liveDocs gate — see BucketKernel: dl slot 0 == tombstoned
          if (seen(c)(d) && dlArr(d) > 0 && (cnts(c) == null || cnts(c)(d) >= msm(c)))
            emit(c, d, scores(c)(d))
          d += 1
        }
      }
    }
  }

  /**
   * `terms_set` scoring: the BM25 sum over a doc's matching query terms,
   * gated by a PER-DOC minimum-match count read from a stored numeric
   * field (Lucene CoveringQuery with a LongValuesSource msm). The scored
   * set comes from the standard fused scorer; the distinct-matched-term
   * counts come from ONE extra decode of the SAME bucket-pruned blocks
   * (term-id pairs, map-side-combined count) — per-query work stays
   * posting-proportional, and the field join is matched-set-sized. A field
   * value <= 1 degrades to >= 1 (docs only enter through a matching term);
   * a value above the distinct term count can never be met.
   */
  def termsSetField(idx: Index, terms: Seq[String], fields: DataFrame,
                    msmField: String): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val uniq = terms.distinct
    val scored = scoreTerms(idx, uniq)
    val matched = idx.postings.filter($"term".isin(uniq: _*))
    val pairs = matched.flatMap { b =>
      val base = b.bucket << InvertedIndex.BucketBits
      val ids = PostingCodec.decodeDeltas(b.docs, b.cnt)
      (0 until b.cnt).iterator.map(i => (base + ids(i), b.term))
    }.toDF("doc_id", "term")
    val nm = pairs.groupBy($"doc_id")
      .agg(countDistinct($"term").as("_nm"))
    scored.join(nm, "doc_id")
      .join(fields.select($"doc_id", col(msmField).cast("long").as("_need")), "doc_id")
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

  /** Lucene SynonymQuery scoring — what a `match` compiles to when the
   *  analysis chain emits synonyms at one position: the synonym set scores
   *  as ONE pseudo-term, tf = the SUM of member-term frequencies per doc
   *  (summed BEFORE the tf saturation — the whole point: two synonyms
   *  occurring once each must score like one term occurring twice, not like
   *  two independent terms), df = the MAX member df (Lucene's blended
   *  docFreq upper bound). Same [[BucketKernel]] and dl/liveness gates as
   *  every scorer here. */
  def synonymTopK(idx: Index, synonyms: Seq[String], k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    synonymScore(idx, synonyms)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Unbounded SynonymQuery scoring — the clause shape the synonym-graph
   *  `match` rewrite composes per query position. */
  def synonymScore(idx: Index, synonyms: Seq[String]): DataFrame = {
    require(synonyms.nonEmpty, "synonym set must be non-empty")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val avgdl = idx.stats.avgdl
    val dfs = idx.dfs(synonyms)
    if (dfs.isEmpty)
      return spark.emptyDataset[(Long, Double)].toDF("doc_id", "score")
    val w = idf(dfs.values.max, idx.stats.doc_count)
    val matched = idx.postings.filter($"term".isin(dfs.keys.toSeq: _*))
    val span = InvertedIndex.BucketSpan
    BucketKernel(idx, matched) { (bucket, blocksIt, dlArr) =>
      val blocks = blocksIt.toArray.sortBy(b => (b.term, b.bucket))
      val tfSum = new Array[Int](span)
      var i = 0
      while (i < blocks.length) {
        val b = blocks(i)
        val ids = PostingCodec.decodeDeltas(b.docs, b.cnt)
        val tfs = PostingCodec.decodeInts(b.tfs, b.cnt)
        var j = 0
        while (j < b.cnt) { tfSum(ids(j)) += tfs(j); j += 1 }
        i += 1
      }
      val base = bucket << InvertedIndex.BucketBits
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      var d = 0
      while (d < span) {
        if (tfSum(d) > 0 && dlArr(d) > 0)
          out += ((base + d, w * tfNorm(tfSum(d), dlArr(d), avgdl)))
        d += 1
      }
      out.iterator
    }.toDF("doc_id", "score")
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

    val clause = Seq(TermClause(terms, boosts))
    val weights = termWeights(idx, clause)
    val acc = new Accumulator(clause, weights, idx.stats.avgdl)
    if (acc.terms.isEmpty)
      return spark.emptyDataset[(Long, Double)].toDF("doc_id", "score")
    val weightPerTerm = weights.head
    val avgdl = idx.stats.avgdl
    val kk = k

    val matched = idx.postings.filter($"term".isin(acc.terms: _*))
    // the kernel's co-group hands each bucket's blocks over whole (a join's
    // skewed partition may be split, leaving scores partial). A bucket whose
    // docs are all deleted has no doc-length block.
    val buckets = BucketKernel.grouped(idx, matched) { (bucket, blocksIt, dlIt) =>
      if (!dlIt.hasNext) Iterator.empty
      else Iterator((bucket, inTermOrder(blocksIt), dlIt.next()))
    }

    val topped: Dataset[(Long, Double)] = buckets.mapPartitions { it =>
      val top = new BoundedTopK(kk)
      it.foreach { case (bucket, group, dlb) =>
        var ub = 0.0
        group.foreach(b => ub += weightPerTerm(b.term) * tfNorm(b.max_tf, dlb.min_dl, avgdl))
        if (!(top.full && ub < top.threshold)) {
          val base = bucket << InvertedIndex.BucketBits
          acc.score(group, BucketKernel.dlWindow(dlb))((_, d, s) => top.offer(base + d, s))
        }
      }
      top.iterator
    }

    topped.toDF("doc_id", "score").orderBy($"score".desc, $"doc_id".asc).limit(k)
  }
}
