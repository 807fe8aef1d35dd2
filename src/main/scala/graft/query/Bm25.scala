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
 * Most score into a dense per-bucket float window, and [[topK]] reduces
 * each bucket through a [[BoundedTopK]] heap before the global
 * TakeOrderedAndProject. [[topKWand]] streams the same co-grouped buckets
 * with one running heap per partition and skips buckets whose block-max
 * upper bound cannot beat it (block-max WAND, reference:
 * query/HybridQueryScorer.java:155-176).
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

  /** Per-term BM25 weight map for a query (idf x boost), from the index's
   *  term dictionary — the Lucene TermStatistics analogue. */
  private def termWeights(idx: Index, terms: Seq[String], boosts: Map[String, Double]): Map[String, Double] = {
    // non-positive boosts are rejected like Lucene rejects negative boosts:
    // topKWand's bucket upper bound (sum of w x tfNorm(max_tf, min_dl)) only
    // dominates real scores when every term weight is non-negative — a
    // negative weight would make pruning silently drop true top-k docs
    boosts.foreach { case (t, b) => require(b > 0, s"boost for '$t' must be > 0, got $b") }
    val statsMap = idx.dfs(terms)
    val n = idx.stats.doc_count
    terms.distinct.flatMap { t =>
      statsMap.get(t).map(df => t -> idf(df, n) * boosts.getOrElse(t, 1.0))
    }.toMap
  }

  /**
   * Score a bag of query terms (OR semantics, per-term scores summed — the
   * Lucene BooleanQuery-of-TermQuery shape a `match` query compiles to).
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
  ): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._

    val avgdl = idx.stats.avgdl
    val weightPerTerm = termWeights(idx, terms, boosts)
    // `operator: and` / minimum_should_match over the query's terms: a doc
    // must match at least `minTermsMatch` DISTINCT query terms. A query term
    // absent from the index can never be matched, so if fewer than
    // minTermsMatch terms exist at all, nothing can qualify — exactly
    // Lucene's MatchQuery-with-AND compiling to a MUST TermQuery per term,
    // where one zero-df term empties the whole query.
    if (weightPerTerm.isEmpty || weightPerTerm.size < minTermsMatch)
      return spark.emptyDataset[(Long, Double)].toDF("doc_id", "score")

    val matched = idx.postings.filter($"term".isin(weightPerTerm.keys.toSeq: _*))
    val lim = limitPerBucket
    val minTerms = minTermsMatch
    val span = InvertedIndex.BucketSpan

    val scored: Dataset[(Long, Double)] = BucketKernel(idx, matched) { (bucket, blocksIt, dlArr) =>
      // deterministic accumulation order: shuffle arrival order varies run
      // to run, and a different FP summation order shifts near-tied scores
      // by an ulp — enough to flip a rank at a page boundary
      val blocks = blocksIt.toArray.sortBy(b => (b.term, b.bucket))
      val scores = new Array[Double](span)
      val seen = new Array[Boolean](span)
      // distinct matched query terms per doc (one merged block per
      // (term, bucket), so one increment per term) — the msm gate
      val cnts = if (minTerms > 1) new Array[Int](span) else null
      var i = 0
      while (i < blocks.length) {
        val b = blocks(i)
        val w = weightPerTerm(b.term)
        val ids = PostingCodec.decodeDeltas(b.docs, b.cnt)
        val tfs = PostingCodec.decodeInts(b.tfs, b.cnt)
        var j = 0
        while (j < b.cnt) {
          val local = ids(j)
          scores(local) += w * tfNorm(tfs(j), dlArr(local), avgdl)
          seen(local) = true
          if (cnts != null) cnts(local) += 1
          j += 1
        }
        i += 1
      }
      val base = bucket << InvertedIndex.BucketBits
      @inline def qualifies(d: Int): Boolean =
        seen(d) && dlArr(d) > 0 && (cnts == null || cnts(d) >= minTerms)
      if (lim <= 0) {
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        var d = 0
        while (d < span) {
          if (qualifies(d)) out += ((base + d, scores(d)))
          d += 1
        }
        out.iterator
      } else {
        val top = new BoundedTopK(lim)
        var d = 0
        while (d < span) {
          if (qualifies(d)) top.offer(base + d, scores(d))
          d += 1
        }
        top.iterator
      }
    }

    scored.toDF("doc_id", "score")
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
   * Cost-based scorer choice from the query terms' summed dfs in the term
   * dictionary (no Spark job over a resident index): the fused WAND's
   * upper-bound bookkeeping and per-bucket dl-block pairing only pay off
   * when the candidate posting volume is large enough that skipping block
   * decodes wins; tiny queries route to the plain scorer. Mirrors Lucene's cost-aware scorer selection
   * (reference: query/HybridQueryScorer.java:222-299 orders two-phase
   * iterators by matchCost).
   */
  def topKAuto(idx: Index, terms: Seq[String], k: Int, boosts: Map[String, Double] = Map.empty,
               wandThreshold: Long = 1000000L): DataFrame = {
    val volume = idx.dfs(terms).values.sum
    if (volume >= wandThreshold) topKWand(idx, terms, k, boosts)
    else topK(idx, terms, k, boosts)
  }

  /**
   * Block-max-WAND top-k: exact results, but non-competitive posting blocks
   * are never decoded. The reference's collector feeds its heap threshold
   * back into the scorers so blocks whose max impact cannot beat it are
   * skipped (reference: search/collector/HybridTopScoreDocCollector.java:
   * 160-171, query/HybridQueryScorer.java:155-176 advanceShallow/getMaxScore).
   *
   * FUSED single-job design (replacing the earlier two-pass + driver-frontier
   * scheme, whose 2 extra scheduling rounds cost more than they saved): the
   * matched blocks pair with their bucket's doc-length block through the
   * [[BucketKernel]] co-group — in place over a registry-resident index,
   * whose tables are co-partitioned on `bucket`; through a `bucket` shuffle
   * of both sides otherwise — and each partition streams its buckets with a
   * RUNNING bounded top-k heap — exactly the reference's
   * collector/threshold loop, one per partition:
   *
   *  - bucket upper bound from block METADATA only: sum over terms of
   *    w x tfNorm(max_tf, min_dl). For any doc in the bucket tf <= max_tf
   *    and dl >= min_dl, and tfNorm is increasing in tf / decreasing in dl,
   *    so the bound dominates every real contribution — no payload decode
   *    to compute it;
   *  - once the partition's heap holds k docs, a bucket with ub < theta
   *    (the k-th best real score so far) is skipped without decoding;
   *    ub == theta still decodes, because a theta-tied doc with a smaller
   *    doc_id wins the tie — exactness is per-bucket provable;
   *  - the per-partition heaps merge through one TakeOrderedAndProject.
   *
   * The partition-local theta is <= the global theta, so pruning is only
   * ever conservative (exact by construction). Skips compound with the
   * impact-ordered index (Reorder.denseIds): short high-impact docs cluster
   * in early buckets, the heap saturates high immediately, and the long tail
   * of low-bound buckets is skipped. One Spark job, no driver-side frontier,
   * no bucket-count cap — O(one bucket) memory above the stream.
   */
  def topKWand(idx: Index, terms: Seq[String], k: Int, boosts: Map[String, Double] = Map.empty): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val spark = idx.postings.sparkSession
    import spark.implicits._

    val weightPerTerm = termWeights(idx, terms, boosts)
    if (weightPerTerm.isEmpty)
      return spark.emptyDataset[(Long, Double)].toDF("doc_id", "score")

    val avgdl = idx.stats.avgdl
    val span = InvertedIndex.BucketSpan
    val kk = k

    val matched = idx.postings.filter($"term".isin(weightPerTerm.keys.toSeq: _*))
    // the kernel's co-group hands each bucket's blocks over whole (a join's
    // skewed partition may be split, leaving scores partial); Spark's term
    // order fixes the FP accumulation order, so near-ties never shift.
    // A bucket whose docs are all deleted has no doc-length block.
    val buckets = BucketKernel.grouped(idx, matched) { (bucket, blocksIt, dlIt) =>
      if (!dlIt.hasNext) Iterator.empty
      else Iterator((bucket, blocksIt.toArray.sortBy(b => UTF8String.fromString(b.term)), dlIt.next()))
    }

    val topped: Dataset[(Long, Double)] = buckets.mapPartitions { it =>
      val top = new BoundedTopK(kk)
      it.foreach { case (bucket, group, dlb) =>
        var ub = 0.0
        group.foreach(b => ub += weightPerTerm(b.term) * tfNorm(b.max_tf, dlb.min_dl, avgdl))
        val skip = top.full && ub < top.threshold
        if (!skip) {
          val dlArr = BucketKernel.dlWindow(dlb)
          val scores = new Array[Double](span)
          val seen = new Array[Boolean](span)
          group.foreach { b =>
            val w = weightPerTerm(b.term)
            val ids = PostingCodec.decodeDeltas(b.docs, b.cnt)
            val tfs = PostingCodec.decodeInts(b.tfs, b.cnt)
            var j = 0
            while (j < b.cnt) {
              val l = ids(j)
              scores(l) += w * tfNorm(tfs(j), dlArr(l), avgdl)
              seen(l) = true
              j += 1
            }
          }
          val base = bucket << InvertedIndex.BucketBits
          var d = 0
          while (d < span) {
            // liveDocs gate — see BucketKernel: dl slot 0 == tombstoned
            if (seen(d) && dlArr(d) > 0) top.offer(base + d, scores(d))
            d += 1
          }
        }
      }
      top.iterator
    }

    topped.toDF("doc_id", "score").orderBy($"score".desc, $"doc_id".asc).limit(k)
  }
}
