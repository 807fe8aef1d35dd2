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

  /** `_msearch`: N independent BM25 requests answered in ONE postings pass
   *  and ONE Spark job, where the reference's transport loops them through
   *  the search path one by one: one [[Bm25.scoreBatch]] (each matched block
   *  decoded once, each request bit-identical to its one-request score), one
   *  [[BoundedTopK]] of k per request per partition, and a driver-side rank
   *  of the collected requests x k x partitions rows.
   *
   *  Returns a local DataFrame(query_id, rank, doc_id, score). */
  def msearch(idx: Index, requests: Seq[(String, Seq[String])], k: Int): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val hits = msearchCollection(idx, requests, k).collect().toSeq.groupBy(_.getInt(0))
    requests.indices.flatMap { qi =>
      BoundedTopK.ranked(hits.getOrElse(qi, Nil), k).zipWithIndex.map { case (r, i) =>
        (requests(qi)._1, i + 1, r.getLong(1), r.getDouble(2))
      }
    }.toDF("query_id", "rank", "doc_id", "score")
  }

  /** [[msearch]]'s Spark side: rows (request index, doc_id, score), at most
   *  k per request per partition. */
  private[graft] def msearchCollection(idx: Index, requests: Seq[(String, Seq[String])],
                                       k: Int): DataFrame = {
    require(requests.nonEmpty, "msearch requires at least one request")
    require(requests.map(_._1).distinct.size == requests.size,
      "msearch request ids must be unique")
    require(k > 0, s"k must be > 0, got $k")
    val scored = Bm25.scoreBatch(idx, requests.map(r => Bm25.TermClause(r._2)), limitPerBucket = k)
    BoundedTopK.perPartition(scored.toDF("qi", "doc_id", "score"), k)
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
