package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.hybrid.{Hybrid, HybridQuery}
import graft.index.{DocLenBlock, Index, InvertedIndex, PostingCodec}

/**
 * The fetch phase: map the ranked top-k docIds back onto their stored fields
 * (reference: processor/NormalizationProcessorWorkflow.java:315-372 — fetched
 * SearchHits get their scores rewritten and returned with source payload).
 * The ranked side is <= k rows, so the payload join always broadcasts the
 * hits, never the corpus — the scan side prunes to the requested columns
 * (Catalyst column pruning reaches the parquet ReadSchema).
 */
object Search {

  /** BM25 search returning hits with payload columns, ordered. */
  def bm25(idx: Index, terms: Seq[String], k: Int, docs: DataFrame,
           payload: Seq[String]): DataFrame =
    fetch(Bm25.topK(idx, terms, k), docs, payload)

  /** Hybrid search returning hits with payload columns, ordered. */
  def hybrid(idx: Index, q: HybridQuery, docs: DataFrame,
             payload: Seq[String], filterDocs: Option[DataFrame] = None): DataFrame =
    fetch(Hybrid.execute(idx, q, filterDocs), docs, payload)

  /** `_termvectors` API: one stored document's term vector — every
   *  analyzed term with its in-doc frequency, occurrence positions, and
   *  the collection-level statistics (OpenSearch's term_statistics=true
   *  form: df + total term freq). The positional read prunes to the doc's
   *  4096-doc bucket AT THE SCAN (`bucket` is a plain column predicate
   *  Parquet accepts), so the decode touches one bucket's blocks however
   *  large the index; collection stats join from the persisted termStats
   *  table against the doc's bounded term set. Returns one row per
   *  occurrence: (term, pos, tf, df, ttf). */
  def termVectors(idx: Index, positions: org.apache.spark.sql.Dataset[graft.index.PosBlock],
                  docId: Long): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val bkt = docId >> InvertedIndex.BucketBits
    val local = (docId - (bkt << InvertedIndex.BucketBits)).toInt
    val occ = positions.filter(col("bucket") === bkt).flatMap { b =>
      graft.index.Positions.decodeEntries(b).iterator.collect {
        case (lid, ps) if lid == local => ps.iterator.map(p => (b.term, p))
      }.flatten
    }.toDF("term", "pos")
    // per-term tf via a window over the one-doc occurrence rows (a self
    // join against an aggregate would decode the bucket blocks twice)
    val tf = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("term")))
    occ.withColumn("tf", tf)
      .join(idx.termStats.select(col("term"), col("df"), col("ttf")), "term")
      .select(col("term"), col("pos"), col("tf"), col("df"), col("ttf"))
  }

  /** `profile: true` — the per-stage execution profile of a bool request,
   *  flattened relational (the reference's profile tree reports per-query
   *  node timings and hit counts; deterministic row COUNTS per stage are
   *  the portable part): how many docs the scoring clauses matched, how
   *  many the must_not clauses removed, and what the page returned. Each
   *  stage count is one bounded aggregate over the same pruned scans the
   *  real query uses. */
  def profile(src: graft.hybrid.HybridSources,
              spec: graft.query.BoolQuery.BoolSpec, k: Int): DataFrame = {
    val spark = src.idx.postings.sparkSession
    import spark.implicits._
    val mustOnly = graft.hybrid.BoolSub(must = spec.must, should = spec.should,
      minimumShouldMatch = spec.minimumShouldMatch, filter = spec.filter)
    val mustMatched = graft.query.BoolQuery.score(src, mustOnly).count()
    val matched = graft.query.BoolQuery.score(src, spec).count()
    Seq(
      ("scoring_matched", mustMatched),
      ("must_not_removed", mustMatched - matched),
      ("matched_total", matched),
      ("returned", math.min(k.toLong, matched)))
      .toDF("stage", "n")
  }

  /** `_msearch_template`: render each (id, template, params) request with
   *  the mustache-subset renderer, parse the resulting single-match
   *  request, and answer ALL of them in [[msearch]]'s ONE postings pass —
   *  the batched form of `_search_template`. Templates must render to a
   *  bool with exactly one scoring `match` clause (the msearch contract);
   *  anything else is rejected at render time. */
  def msearchTemplate(idx: Index,
                      requests: Seq[(String, String, Map[String, Any])],
                      k: Int): DataFrame = {
    val rendered = requests.map { case (id2, tpl, params) =>
      val json = graft.query.QueryDsl.renderTemplate(tpl, params)
      val pb = graft.query.QueryDsl.parseBool(json, idx.analyzer)
      val terms = pb.bool match {
        case graft.hybrid.BoolSub(Seq(graft.hybrid.Lexical(ts, b)), Nil, Nil, _, Nil)
          if b.isEmpty => ts
        case _ => throw new IllegalArgumentException(
          s"msearch_template [$id2] must render to a single match clause")
      }
      (id2, terms)
    }
    msearch(idx, rendered, k)
  }

  /** `_explain` API: ONE document's score decomposition against a match
   *  query — per matched term the raw tf/dl/df inputs, the idf, and the
   *  BM25 contribution (Lucene's Explanation tree flattened relational).
   *  The postings read prunes to (query terms × the doc's bucket) at the
   *  scan, doc length decodes from that one bucket's forward blocks, df
   *  joins from termStats — every input is a bounded point read however
   *  large the index. Terms absent from the doc emit no row, like the
   *  reference's non-matching sub-explanations. */
  def explainDoc(idx: Index, terms: Seq[String], docId: Long): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val uniq = terms.distinct
    val bkt = docId >> InvertedIndex.BucketBits
    val local = (docId - (bkt << InvertedIndex.BucketBits)).toInt
    val tfRows = idx.postings
      .filter(col("term").isin(uniq: _*) && col("bucket") === bkt)
      .flatMap { b =>
        val ids = PostingCodec.decodeDeltas(b.docs, b.cnt)
        val tfs = PostingCodec.decodeInts(b.tfs, b.cnt)
        val i = java.util.Arrays.binarySearch(ids, local)
        if (i >= 0) Iterator.single((b.term, tfs(i).toLong)) else Iterator.empty
      }.toDF("term", "tf")
    val dlRow = idx.docLens.filter(col("bucket") === bkt)
      .as[DocLenBlock].flatMap { b =>
        // a doc with a matched term has dl >= 1; 0 = not in this block
        val dl = BucketKernel.dlWindow(b)(local)
        if (dl > 0) Iterator.single(dl.toLong) else Iterator.empty
      }.toDF("dl")
    val n = idx.stats.doc_count
    val avgdl = idx.stats.avgdl
    val idf = log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm = col("tf") / (col("tf") +
      lit(1.2) * (lit(1 - 0.75) + lit(0.75) * col("dl") / lit(avgdl)))
    tfRows
      .join(idx.termStats.select(col("term"), col("df")), "term")
      .crossJoin(dlRow)
      .select(col("term"), col("tf"), col("dl"), col("df"),
        round(idf, 4).as("idf"),
        round(idf * tfNorm, 4).as("contribution"))
  }

  /** `_msearch`: N independent BM25 requests answered in ONE postings pass.
   *  The reference's transport loops the sub-requests through the search
   *  path one by one; on Spark the dominant per-query cost at cluster scale
   *  is the scan plus its scheduling round, so the batch form amortizes
   *  both: the postings scan is filtered ONCE to the union of every
   *  request's terms, each matched block is decoded ONCE, tfNorm is
   *  computed ONCE per posting, and every request sharing a term scores
   *  from the same decode. Each bucket keeps a bounded top-k per request
   *  (one [[BoundedTopK]] each), so the one shuffle — into the per-request
   *  rank — moves at most requests x buckets x k rows, and no request's
   *  result depends on another's. Accumulation order
   *  is fixed (blocks sorted by (term, bucket), requests in given order),
   *  making scores bit-identical to the one-request scorer's.
   *
   *  Returns DataFrame(query_id, rank, doc_id, score). */
  def msearch(idx: Index, requests: Seq[(String, Seq[String])], k: Int): DataFrame = {
    require(requests.nonEmpty, "msearch requires at least one request")
    require(requests.map(_._1).distinct.size == requests.size,
      "msearch request ids must be unique")
    require(k > 0, s"k must be > 0, got $k")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val avgdl = idx.stats.avgdl
    val nDocs = idx.stats.doc_count
    val union = requests.flatMap(_._2).distinct
    val dfs = idx.dfs(union)
    // per term: the (request index, idf weight) list — request order fixed
    val qTerms: Map[String, Array[(Int, Double)]] = union.flatMap { t =>
      dfs.get(t).map { df =>
        val w = Bm25.idf(df, nDocs)
        t -> requests.zipWithIndex
          .collect { case ((_, ts), qi) if ts.contains(t) => (qi, w) }
          .toArray
      }
    }.toMap
    val empty = spark.emptyDataset[(String, Int, Long, Double)]
      .toDF("query_id", "rank", "doc_id", "score")
    if (qTerms.isEmpty) return empty
    val matched = idx.postings.filter($"term".isin(qTerms.keys.toSeq: _*))
    val span = InvertedIndex.BucketSpan
    val nQ = requests.size
    val scored = BucketKernel(idx, matched) { (bucket, blocksIt, dlArr) =>
      val blocks = blocksIt.toArray.sortBy(b => (b.term, b.bucket))
      val scores = Array.ofDim[Double](nQ, span)
      val seen = Array.ofDim[Boolean](nQ, span)
      var i = 0
      while (i < blocks.length) {
        val b = blocks(i)
        val qws = qTerms(b.term)
        val ids = PostingCodec.decodeDeltas(b.docs, b.cnt)
        val tfs = PostingCodec.decodeInts(b.tfs, b.cnt)
        var j = 0
        while (j < b.cnt) {
          val local = ids(j)
          // one decode + one tfNorm per posting, shared by every
          // request containing this term
          val tfn = Bm25.tfNorm(tfs(j), dlArr(local), avgdl)
          var q = 0
          while (q < qws.length) {
            val (qi, w) = qws(q)
            scores(qi)(local) += w * tfn
            seen(qi)(local) = true
            q += 1
          }
          j += 1
        }
        i += 1
      }
      val base = bucket << InvertedIndex.BucketBits
      (0 until nQ).iterator.flatMap { q =>
        val top = new BoundedTopK(k)
        var d = 0
        while (d < span) {
          // dl gate = liveDocs (a tombstoned doc has no forward entry)
          if (seen(q)(d) && dlArr(d) > 0) top.offer(base + d, scores(q)(d))
          d += 1
        }
        top.iterator.map { case (id, sc) => (q, id, sc) }
      }
    }.toDF("qi", "doc_id", "score")
    val named = scored.withColumn("query_id",
      element_at(lit(requests.map(_._1).toArray), col("qi") + 1))
    // <= k rows per (request, bucket) already: a salt pass would only add
    // a second exchange
    graft.ops.TopN.perGroupRanked(named, Seq("query_id"), "doc_id", k,
        Seq(col("score").desc, col("doc_id").asc), "rank", saltBuckets = 1)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** Join ranked (doc_id, score) hits to their stored fields, keeping rank
   *  order. The hits side is broadcast (k <= 100-ish). */
  def fetch(hits: DataFrame, docs: DataFrame, payload: Seq[String]): DataFrame = {
    val cols = col("doc_id") +: col("score") +: payload.map(col)
    broadcast(hits)
      .join(docs.select((Seq("doc_id") ++ payload).map(col): _*), "doc_id")
      .select(cols: _*)
      .orderBy(col("score").desc, col("doc_id").asc)
  }
}
