package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Bound, BoundMode, Combine}
import graft.hybrid._
import graft.index.{BoundedCache, IndexCache}
import graft.ops.Sparse
import graft.query.Bm25

/**
 * Hybrid-query entries for the driver's correctness gate, plus a DuckDB
 * oracle-SQL generator that mirrors the exact pipeline shape
 * (per-sub-query scoring -> optional per-group keep -> top-depth ->
 * normalize -> zero-filled align -> combine -> optional collapse -> page).
 * Keeping the Spark plan and the SQL generator side by side guarantees the
 * oracle tests the same semantics SURVEY.md §3.1 maps from the reference.
 *
 * The heterogeneous entries (`hybrid_sparse_lex`, `hybrid_ann_lex`,
 * `hybrid_tri_modal`) mix lexical BM25, sparse dot-product, and dense cosine
 * sub-queries — score distributions with genuinely different scales pushed
 * through one normalization/combination pipeline, the reference's defining
 * use case (reference: query/HybridQueryBuilder.java:368-377 accepting
 * match + neural + neural_sparse clauses).
 */
object HybridEntries {

  // fixed sub-query shapes over the `documents` corpus (FIXTURES.md §2)
  private val A = Seq("join", "hash")
  private val B = Seq("merge", "sort", "window")
  private val C = Seq("dup", "key")
  /** sparse token-weight query (mock-encoder weight scale, unbounded sums) */
  private val SQ = Seq("merge" -> 2.0, "window" -> 1.5, "dup" -> 0.7, "scan" -> 0.3)
  /** dense query doc ids (cosine scores in [-1, 1]) */
  private val DenseQ = 0L
  private val DenseQ3 = 3L
  /** explicit 64-dim query vector for the raw-vector `knn` clause — a shared
   *  deterministic input (both the Spark query and the oracle receive it as
   *  a literal, the way a client-side-embedded vector arrives) */
  private val KnnVec: Seq[Double] = (0 until 64).map(i => ((i * 37 % 19) - 9) / 10.0)

  private val Depth = 50

  private def lex(ts: Seq[Seq[String]]): Seq[SubQuery] = ts.map(Lexical(_))

  /** The matched doc set of the standard two-clause hybrid (A OR B) — the
   *  base every aggregation-with-hybrid entry aggregates over; one
   *  definition so the entries cannot drift from the oracle's shared `m`
   *  CTE. */
  private def matchedAB(idx: graft.index.Index): DataFrame =
    Seq(A, B).map(t => Bm25.scoreTerms(idx, t).select("doc_id"))
      .reduce(_ unionByName _).dropDuplicates("doc_id")

  private def q(sub: Seq[SubQuery], norm: Normalization, comb: Combination,
                k: Int = 10, from: Int = 0, minScore: Option[Double] = None,
                collapse: Option[Collapse] = None) =
    HybridQuery(sub, norm, comb, k = k, depth = Depth, from = from,
      minScore = minScore, collapse = collapse)

  private def sources(s: SparkSession, dir: String, query: HybridQuery): HybridSources = {
    val idx = IndexCache.documents(s, dir)
    val needSparse = query.subQueries.exists(c => c.isInstanceOf[SparseLinear] || c.isInstanceOf[RankFeatureQ])
    val needIvf = query.subQueries.exists(_.isInstanceOf[DenseIvf])
    val needDense = needIvf || query.subQueries.exists(sq =>
      sq.isInstanceOf[DenseCosine] || sq.isInstanceOf[DenseVector] ||
        sq.isInstanceOf[DenseRadial])
    HybridSources(
      idx,
      sparse = if (needSparse) Some(Sparse.encode(idx)) else None,
      emb = if (needDense) Some(s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding").as("vec"))) else None,
      fields = query.collapse.map(_ =>
        s.read.parquet(s"$dir/documents.parquet")),
      ivf = if (needIvf) Some(ivfSource(s, dir)) else None,
      positions =
        if (query.subQueries.exists(_.isInstanceOf[LexicalPhrase]))
          Some(IndexCache.positions(s, dir))
        else None,
      fieldIdx =
        if (query.subQueries.exists(_.isInstanceOf[LexicalMulti]))
          Map("path" -> IndexCache.corpusField(s, dir, "path"))
        else Map.empty
    )
  }

  /** The corpus `path` column re-derived in SQL (corpus_ingest's
   *  projection) — ONE definition for every per-field oracle chain. */
  private val PathFvSql =
    "'src/pkg' || (doc_id % 97) || '/File' || doc_id || '.' || lang"

  /** multi_match query text analyzed: hits the text index ("join") and the
   *  path index ("pkg7" — doc_id % 97 == 7; "en" — the path's lang token). */
  private val MultiTerms = Seq("join", "pkg7", "en")

  /** Sources with the secondary `path` field index registered — what a
   *  multi_match caller supplies. */
  private def srcWithPath(s: SparkSession, dir: String): HybridSources =
    HybridSources(IndexCache.documents(s, dir),
      fieldIdx = Map("path" -> IndexCache.corpusField(s, dir, "path")))

  /** Sources with both secondary field indexes: `path` (disjoint
   *  vocabulary) and `title` (subset vocabulary — the combined_fields
   *  tf-merge case). */
  private def srcWithTitle(s: SparkSession, dir: String): HybridSources =
    HybridSources(IndexCache.documents(s, dir),
      fieldIdx = Map(
        "path"  -> IndexCache.corpusField(s, dir, "path"),
        "title" -> IndexCache.documentsTitle(s, dir)))

  /** Semantic-field registry for the routed-DSL entries: one sparse-model
   *  and one dense-model field over the documents corpus, both chunked at
   *  tokenLimit 20 (the mapper's auto-generated sub-fields). */
  private def semanticSources(s: SparkSession, dir: String,
                              idx: graft.index.Index): HybridSources =
    HybridSources(idx, semantic = Map(
      "sem_sparse" -> SemanticSource(SemanticSparseKind,
        IndexCache.semanticSparse(s, dir)),
      "sem_dense" -> {
        // probe-routed access path: the chunk-vector IVF artifact; exact at
        // ivfProbe = centroid count (same contract as hybrid_ivf_lex), so
        // the oracle stays the brute best-chunk cosine — only the access
        // path differs, which SQL can't see
        val (cents, vecs) = IndexCache.semanticDenseIvf(s, dir)
        SemanticSource(SemanticDenseKind, IndexCache.semanticDense(s, dir),
          dims = 8, ivf = Some(IvfSource(cents, vecs)), ivfProbe = 16)
      }))

  /** Build-once (per session and dir) dense ANN structure for [[DenseIvf]]
   *  clauses: fixed deterministic centroids (ids < 16, as `ann_ivf_topk`
   *  uses) and the by-centroid partitioned vector artifact, so the clause's
   *  probe is a partition-pruned scan instead of a brute corpus pass. */
  private def ivfSource(s: SparkSession, dir: String): IvfSource =
    BoundedCache.artifact(s, "ivf-hybrid", dir) {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding").as("vec"))
      val cents = e.where(col("doc_id") < 16)
        .select(col("doc_id").as("c_id"), col("vec").as("cv"))
      (IvfSource(cents, graft.ops.Ann.ivfBuildVectors(e, "doc_id", "vec", cents,
        BoundedCache.storePath("target/ivfhybrid", dir))), Nil)
    }

  private def run(query: HybridQuery, langFilter: Option[String] = None)(
      s: SparkSession, dir: String): DataFrame = {
    val filter = langFilter.map(l =>
      s.read.parquet(s"$dir/documents.parquet").where(col("lang") === l).select("doc_id"))
    Hybrid.execute(sources(s, dir, query), query, filter)
      .select(col("doc_id"), round(col("score"), 4).as("score"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hybrid_minmax_arith" ->
      run(q(lex(Seq(A, B)), MinMaxNormTech(), Combination(Combine.Arithmetic))) _,
    "hybrid_k100" ->
      run(q(lex(Seq(A, B)), MinMaxNormTech(), Combination(Combine.Arithmetic), k = 100)) _,
    "hybrid_minmax_weighted" ->
      run(q(lex(Seq(A, B)), MinMaxNormTech(), Combination(Combine.Arithmetic, Seq(0.7, 0.3)))) _,
    "hybrid_minmax_bounds" ->
      run(q(lex(Seq(A, B)),
        MinMaxNormTech(
          lower = Some(Seq(Bound(BoundMode.Apply, 0.05), Bound(BoundMode.Apply, 0.05))),
          upper = Some(Seq(Bound(BoundMode.Clip, 0.2), Bound(BoundMode.Clip, 0.2)))),
        Combination(Combine.Arithmetic))) _,
    "hybrid_l2_geometric" ->
      run(q(lex(Seq(A, B)), L2NormTech, Combination(Combine.Geometric))) _,
    "hybrid_l2_harmonic3" ->
      run(q(lex(Seq(A, B, C)), L2NormTech, Combination(Combine.Harmonic, Seq(0.5, 0.3, 0.2)))) _,
    "hybrid_zscore_arith" ->
      run(q(lex(Seq(A, B)), ZScoreNormTech, Combination(Combine.Arithmetic))) _,
    "hybrid_rrf" ->
      run(q(lex(Seq(A, B)), RrfNormTech(60), Combination(Combine.Rrf))) _,
    // weighted RRF: a weighted SUM of the rank-reciprocal contributions —
    // NOT re-normalized by the weight total (the reference's
    // RRFScoreCombinationTechnique.combine sums score*weight and never
    // divides); pins the sum-vs-mean divergence from arithmetic_mean
    "hybrid_rrf_weighted" ->
      run(q(lex(Seq(A, B)), RrfNormTech(60),
        Combination(Combine.Rrf, Seq(0.7, 0.3)))) _,
    "hybrid_filtered" ->
      run(q(lex(Seq(A, B)), MinMaxNormTech(), Combination(Combine.Arithmetic)),
        langFilter = Some("en")) _,
    "hybrid_paginated" ->
      run(q(lex(Seq(A, B)), MinMaxNormTech(), Combination(Combine.Arithmetic), k = 10, from = 5)) _,

    // ---- heterogeneous hybrid: the reference's core lifecycle ----
    // lexical BM25 (scale ~[0, 10)) + sparse dot product (unbounded) through
    // min_max — the one case normalization exists for
    "hybrid_sparse_lex" ->
      run(q(Seq(Lexical(A), SparseLinear(SQ.toMap)),
        MinMaxNormTech(), Combination(Combine.Arithmetic))) _,
    // lexical BM25 + exact phrase (match_phrase slop 0, positional blocks)
    // through min_max — phrase scores live on the lexical scale but only
    // consecutive-occurrence docs carry them
    "hybrid_phrase_lex" ->
      run(q(Seq(Lexical(A), LexicalPhrase(Seq("table", "hash"))),
        MinMaxNormTech(), Combination(Combine.Arithmetic))) _,
    // lexical BM25 + dense cosine ([-1, 1], negatives included)
    "hybrid_ann_lex" ->
      run(q(Seq(Lexical(A), DenseCosine(DenseQ)),
        MinMaxNormTech(), Combination(Combine.Arithmetic, Seq(0.6, 0.4)))) _,
    // the same query with the dense clause ANN-fronted by the partitioned
    // IVF artifact in EXACT mode (nProbe = 16 = centroid count), so the
    // DuckDB brute-cosine oracle must agree bit-for-bit — the probe changes
    // the access path (partition-pruned scan), never the result set
    "hybrid_ivf_lex" ->
      run(q(Seq(Lexical(A), DenseIvf(DenseQ, nProbe = 16)),
        MinMaxNormTech(), Combination(Combine.Arithmetic, Seq(0.6, 0.4)))) _,
    // all three modalities rank-fused with RRF (rank-based combination is
    // the scale-free path, reference: RRFNormalizationTechnique)
    "hybrid_tri_modal" ->
      run(q(Seq(Lexical(B), SparseLinear(SQ.toMap), DenseCosine(DenseQ3)),
        RrfNormTech(60), Combination(Combine.Rrf))) _,

    // raw-vector knn clause: the caller embedded client-side and supplies
    // the query vector literally (reference: NeuralKNNQueryBuilder.vector)
    "hybrid_knn_vector" ->
      run(q(Seq(Lexical(A), DenseVector(KnnVec)),
        MinMaxNormTech(), Combination(Combine.Arithmetic))) _,

    // collapse with docs_per_group_per_subquery > 1 (reference:
    // HybridCollapsingTopDocsCollector): each sub-query contributes up to 3
    // docs per source group; final page keeps the best doc per group.
    // Unequal weights break the structural 0.5/0.5 tie between the two
    // single-sub-query maxima — an exact tie flips on the ±1-ulp jitter of
    // any parallel aggregation (observed in the DuckDB oracle itself).
    "collapse_multi" ->
      run(q(lex(Seq(A, B)), MinMaxNormTech(),
        Combination(Combine.Arithmetic, Seq(0.6, 0.4)),
        k = 10, collapse = Some(Collapse("source", 3)))) _,

    "collapse_by_source" -> (collapseBySource _),

    // collapse + inner_hits (the expand phase, set-based): the top-10
    // winner groups each return their top-3 members with in-group ranks —
    // ONE salted bounded top-n pass serves winners and inner hits, a k-row
    // broadcast gates the groups; the reference's per-hit follow-up
    // queries never happen
    "collapse_inner_hits" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val scored = Bm25.scoreTerms(idx, A)
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "source")
      graft.ops.TopN.collapseInnerHits(scored, docs, "source", k = 10, innerN = 3)
        .select(col("source"), col("rank_in_group"), col("doc_id"),
          round(col("score"), 4).as("score"))
    }),

    // scoring bool: must all match and score, should adds score when
    // matched (Lucene BooleanQuery sum-of-matching-clauses)
    "bool_must_should" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      graft.query.BoolQuery.topK(HybridSources(idx),
        graft.query.BoolQuery.BoolSpec(must = Seq(Lexical(A)), should = Seq(Lexical(B))), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // must_not excludes and never scores
    "bool_must_not" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      graft.query.BoolQuery.topK(HybridSources(idx),
        graft.query.BoolQuery.BoolSpec(
          must = Seq(Lexical(A)), mustNot = Seq(Lexical(Seq("dup")))), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // should-only with minimum_should_match = 2 of 3 single-term clauses
    "bool_msm2" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      graft.query.BoolQuery.topK(HybridSources(idx),
        graft.query.BoolQuery.BoolSpec(
          should = Seq(Lexical(Seq("merge")), Lexical(Seq("window")), Lexical(Seq("scan"))),
          minimumShouldMatch = Some(2)), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // the bool JSON parse path: must + should + must_not + filter end-to-end
    "dsl_bool" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must":     [ { "match": { "text": "join hash" } } ],
          |    "should":   [ { "match": { "text": "merge sort window" } } ],
          |    "must_not": [ { "term": { "text": "dup" } } ],
          |    "filter":   { "term": { "lang": "en" } } } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // wrapper query: a base64-shipped prebuilt query decoding into a bool
    // (match + a must_not match_none no-op) — the decode re-enters the
    // parser, so execution is identical to the inline form
    "dsl_wrapper" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val inner =
        """{ "bool": {
          |    "must":     [ { "match": { "text": "join hash" } } ],
          |    "must_not": [ { "match_none": {} } ] } }""".stripMargin
      val b64 = java.util.Base64.getEncoder.encodeToString(
        inner.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val json = s"""{ "query": { "wrapper": { "query": "$b64" } }, "size": 10 }"""
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // terms lookup: the must clause's term set is fetched from doc 7's
    // stored text at scoring time (one bounded point read), composing with
    // a scoring should clause
    "dsl_terms_lookup" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must":   [ { "terms": { "text": {
          |                    "index": "documents", "id": 7, "path": "text" } } } ],
          |    "should": [ { "match": { "text": "merge sort window" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // search_template: mustache-subset {{param}} substitution rendering
    // into a bool request (string, banned-term, and numeric size params),
    // then the ordinary parse/execute path — template rendering is pure
    // driver-side string work, the plan is identical to the inline form
    "dsl_search_template" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val tpl =
        """{ "query": { "bool": {
          |    "must":     [ { "match": { "text": "{{qtext}}" } } ],
          |    "must_not": [ { "term": { "text": "{{banned}}" } } ] } },
          |  "size": {{size}} }""".stripMargin
      val json = graft.query.QueryDsl.renderTemplate(tpl,
        Map("qtext" -> "join hash", "banned" -> "dup", "size" -> 10))
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // match with operator=and through the DSL: all analyzed terms required
    "dsl_match_and" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": { "must": [
          |    { "match": { "text": { "query": "join hash merge", "operator": "and" } } }
          |  ] } }, "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // match with a term-level minimum_should_match: >= 2 of 3 terms
    "match_msm" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      graft.query.BoolQuery.topK(HybridSources(idx),
        graft.query.BoolQuery.BoolSpec(
          must = Seq(LexicalMsm(Seq("merge", "window", "scan"), 2))), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // nested bool: (merge OR scan) gated sub-bool in must, should adds A
    "bool_nested" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      graft.query.BoolQuery.topK(HybridSources(idx),
        graft.query.BoolQuery.BoolSpec(
          must = Seq(BoolSub(
            should = Seq(Lexical(Seq("merge")), Lexical(Seq("scan"))),
            minimumShouldMatch = Some(1))),
          should = Seq(Lexical(A))), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // the same nested request arriving as JSON
    "dsl_bool_nested" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "bool": {
          |      "should": [ { "term": { "text": "merge" } },
          |                  { "term": { "text": "scan" } } ],
          |      "minimum_should_match": 1 } } ],
          |    "should": [ { "match": { "text": "join hash" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // match_all as the scoring base of a negative bool: constant 1.0
    "match_all_bool" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      graft.query.BoolQuery.topK(HybridSources(idx),
        graft.query.BoolQuery.BoolSpec(
          must = Seq(MatchAll()), mustNot = Seq(Lexical(Seq("dup")))), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // pure filter context (must_not only): every doc not excluded, score 0
    "bool_filter_only" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must_not": [ { "term": { "text": "dup" } } ],
          |    "filter":   { "term": { "lang": "en" } } } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // numeric range + term equality in one filter, through the hybrid DSL
    // runtime_mappings: a query-time computed field (len_bucket, derived
    // from n_chars with the deterministic SQL-expression script dialect)
    // consumed by a RANGE FILTER exactly like a stored field — never
    // indexed, fused into the scan as a codegen'd projection
    "dsl_runtime_field" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "runtime_mappings": { "len_bucket": { "type": "long",
          |    "script": "CAST(floor(n_chars / 100) * 100 AS BIGINT)" } },
          |  "query": { "bool": {
          |    "must": [ { "match": { "text": "join hash" } } ],
          |    "filter": { "range": { "len_bucket": { "gte": 200, "lt": 500 } } } } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    "dsl_range_filter" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "match": { "text": "merge sort window" } } ],
          |    "filter": { "bool": { "must": [
          |      { "term": { "lang": "en" } },
          |      { "range": { "doc_id": { "gte": 100, "lt": 400 } } } ] } } } },
          |  "size": 10,
          |  "search_pipeline": {
          |    "normalization": { "technique": "min_max" },
          |    "combination":   { "technique": "arithmetic_mean" } } }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // regexp query (whole-term automaton, constant-score rewrite) through
    // the DSL, gating a match ranking — "du[a-z]*" expands over the term
    // dictionary exactly like prefix/wildcard/fuzzy
    "dsl_regexp" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must":   [ { "regexp": { "text": { "value": "du[a-z]*" } } } ],
          |    "should": [ { "match": { "text": "join hash" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // exists query: the field-produced-a-token universe as a scoring must
    // clause (constant 1.0) beside a should match and a must_not exclusion
    "bool_exists" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      graft.query.BoolQuery.topK(HybridSources(idx),
        graft.query.BoolQuery.BoolSpec(
          must = Seq(ExistsQ("text")), should = Seq(Lexical(A)),
          mustNot = Seq(Lexical(Seq("dup")))), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // unordered span_near proximity filter: table & hash within a width-2
    // window in either order, match ranking on top
    "span_near_unordered" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val src = HybridSources(idx, positions = Some(IndexCache.positions(s, dir)))
      graft.query.BoolQuery.topK(src,
        graft.query.BoolQuery.BoolSpec(
          must = Seq(SpanNearQ(Seq("table", "hash"), slop = 2, inOrder = false)),
          should = Seq(Lexical(A))), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // term suggester ("did you mean"): misspelled tokens -> dictionary
    // candidates within 2 edits, (distance, df desc, term) ranked, top 3;
    // in-dictionary tokens (merge) suggest nothing (suggest_mode missing)
    "term_suggest" -> ((s, dir) =>
      graft.query.Suggest.termSuggest(IndexCache.documents(s, dir),
        "joim hsah merge", maxEdits = 2, size = 3)),
    // suggest_mode popular + Damerau distance: the in-dictionary token
    // ("merge") is still corrected but only by strictly-more-frequent
    // terms (df > input df); transposition counts as ONE edit, so "hsah"
    // reaches "hash" at maxEdits=1 where classic Levenshtein needs 2
    "term_suggest_popular" -> ((s, dir) =>
      graft.query.Suggest.termSuggest(IndexCache.documents(s, dir),
        "hsah merge", maxEdits = 1, size = 3, mode = "popular",
        distance = "damerau")),
    // rank_eval: search-quality metrics (precision@k, recall@k, MRR,
    // NDCG@k) per query + the overall mean over 3 BM25 runs, judged by a
    // deterministic grade (distinct query terms contained)
    "rank_eval" -> ((s, dir) => {
      import graft.ops.{RankEval, TextOps}
      val idx = IndexCache.documents(s, dir)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val qs = Seq(1L -> Seq("join", "hash"), 2L -> Seq("merge", "sort"),
        3L -> Seq("scan", "filter"))
      val topk = qs.map { case (qid, ts) =>
        // rank over the ALREADY top-10-bounded result — the unpartitioned
        // window sees 10 rows, never the corpus
        Bm25.topK(idx, ts, 10)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("score").desc, col("doc_id").asc)))
          .select(lit(qid).as("query_id"), col("doc_id"), col("rank"))
      }.reduce(_ unionByName _)
      val toksC = TextOps.tokensCol(col("text"))
      val judgments = qs.map { case (qid, ts) =>
        docs.select(lit(qid).as("query_id"), col("doc_id"),
          size(array_intersect(toksC, lit(ts.toArray))).as("grade"))
          .where(col("grade") > 0)
      }.reduce(_ unionByName _)
      RankEval.evaluate(topk, judgments, 10)
        .select(col("query_id"),
          round(col("precision_k"), 4).as("precision_k"),
          round(col("recall_k"), 4).as("recall_k"),
          round(col("mrr"), 4).as("mrr"),
          round(col("ndcg_k"), 4).as("ndcg_k"),
          round(col("err_k"), 4).as("err_k"))
    }),
    // percolate: search inverted — registered queries as data, each doc
    // returns the queries matching it. The query terms are the indexed
    // side; only (doc, query) pairs sharing a term ever materialize.
    "percolate" -> ((s, dir) => {
      import graft.query.Percolate, Percolate.Registered
      val qs = Seq(
        Registered(1L, Seq("hash", "join"), 2),
        Registered(2L, Seq("merge", "sort", "window"), 2),
        Registered(3L, Seq("scan"), 1, notTerms = Seq("slow")),
        Registered(4L, Seq("spark", "stream", "batch"), 1),
        Registered(5L, Seq("join"), 1, notTerms = Seq("hash", "merge")))
      Percolate.matches(s, qs, s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id", "query_id")
    }),
    // completion suggester: type-ahead over the weighted term dictionary —
    // plain prefix (weight desc) and the fuzzy variant (first char fixed,
    // <=1 edit on the typed prefix vs the same-length head, exact-prefix
    // ranked first) side by side; one bounded dictionary scan each
    "completion_suggest" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      graft.query.Suggest.completionSuggest(idx, "s", size = 5)
        .withColumn("kind", lit("plain"))
        .unionByName(graft.query.Suggest
          .completionSuggest(idx, "sm", size = 5, fuzziness = 1)
          .withColumn("kind", lit("fuzzy")))
    }),
    // completion with CONTEXTS: the dictionary scoped to de-tagged docs —
    // the same "s" prefix completes from the sub-corpus's own term/df
    // table, weights = context df (suggestions an en-only corpus would
    // rank differently)
    "completion_suggest_context" -> ((s, dir) =>
      graft.query.Suggest.completionSuggestContext(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        col("lang") === "de", "s", size = 5)),
    // phrase suggester: whole-phrase "did you mean" — per-slot candidate
    // corrections x stupid-backoff bigram LM over the corpus token stream
    "phrase_suggest" -> ((s, dir) =>
      graft.query.Suggest.phraseSuggest(IndexCache.documents(s, dir),
        IndexCache.positions(s, dir), "fas rew",
        maxEdits = 2, candidatesPerSlot = 3, size = 5)
        .select(col("suggestion"), round(col("score"), 4).as("score"))),
    // query_string: the classic mini-language — grouping, AND/OR, a
    // -prohibited flag — parsed into the nested bool algebra
    "dsl_query_string" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "query_string": {
          |    "query": "(join AND hash) OR (merge -dup)" } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // query_string with a field-qualified boosted term, a wildcard, and a
    // quoted phrase — the heterogeneous-atom parse path
    "dsl_query_string_fields" -> ((s, dir) => {
      val json =
        """{ "query": { "query_string": {
          |    "query": "path:pkg7^2 sc?n \"table hash\"" } },
          |  "size": 10 }""".stripMargin
      val src = srcWithPath(s, dir)
        .copy(positions = Some(IndexCache.positions(s, dir)))
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // match_phrase_prefix through the DSL: exact "hash" slot + an
    // s-prefix last slot capped at 3 dictionary-order expansions
    "dsl_phrase_prefix" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must":   [ { "match_phrase_prefix": {
          |        "text": { "query": "hash s", "max_expansions": 3 } } } ],
          |    "should": [ { "match": { "text": "join" } } ] } },
          |  "size": 10 }""".stripMargin
      val src = HybridSources(idx, positions = Some(IndexCache.positions(s, dir)))
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // ordered span_near through the DSL: hash before join within slop 3
    "dsl_span_near" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must":   [ { "span_near": {
          |        "clauses": [ { "span_term": { "text": "hash" } },
          |                     { "span_term": { "text": "join" } } ],
          |        "slop": 3, "in_order": true } } ],
          |    "should": [ { "match": { "text": "merge sort" } } ] } },
          |  "size": 10 }""".stripMargin
      val src = HybridSources(idx, positions = Some(IndexCache.positions(s, dir)))
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // prefix query (constant-score rewrite) gating, match ranking on top
    "prefix_query" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      graft.query.BoolQuery.topK(HybridSources(idx),
        graft.query.BoolQuery.BoolSpec(
          must = Seq(TermPattern("s%")), should = Seq(Lexical(A))), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // wildcard s?a* (-> LIKE s_a%) through the DSL, blended with a match
    "dsl_wildcard" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must":   [ { "wildcard": { "text": { "value": "s?a*" } } } ],
          |    "should": [ { "match": { "text": "join hash" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // constant_score flattens a scored clause to a uniform boost
    "dsl_constant_score" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": { "should": [
          |    { "constant_score": { "filter": { "match": { "text": "merge" } }, "boost": 1.5 } },
          |    { "match": { "text": "join hash" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // cursor pagination: the page strictly after (n_chars 400, doc_id 250)
    // under the sort order — deep paging without from+size collection
    "dsl_search_after" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "match": { "text": "merge sort window" } } ],
          |    "pagination_depth": 50 } },
          |  "size": 10,
          |  "sort": [ { "n_chars": { "order": "desc" } } ],
          |  "search_after": [400, 250] }""".stripMargin
      graft.query.QueryDsl.execute(idx, json, s, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("n_chars"))
    }),
    // a bare top-level leaf query (no bool/hybrid wrapper) — the implicit
    // single-must bool OpenSearch runs for {"query": {"match": ...}}
    "dsl_plain_match" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      graft.query.QueryDsl.execute(HybridSources(idx),
        """{ "query": { "match": { "text": "join hash" } }, "size": 10 }""",
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // more_like_this on a stored doc: tf-idf term selection, 30% msm,
    // source doc excluded
    "dsl_mlt" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "more_like_this": {
          |    "like": { "_id": 7 },
          |    "max_query_terms": 10, "min_term_freq": 2, "min_doc_freq": 5 } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // the +required/-prohibited/"phrase"/or-terms mini-language, straight
    // into the bool algebra (phrase clause rides the positional source)
    "dsl_simple_query_string" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val src = HybridSources(idx, positions = Some(IndexCache.positions(s, dir)))
      val json =
        """{ "query": { "simple_query_string": {
          |    "query": "merge -dup +join \"table hash\"" } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // range as a SCORING clause + query_string comparison syntax:
    // n_chars:>=300^2 is a boosted constant-score range beside scored terms
    // (ConstantScore(PointRangeQuery)); a JSON range leaf sits in the should
    "dsl_query_string_range" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "query_string": {
          |        "query": "merge AND n_chars:>=300^2" } } ],
          |    "should": [ { "range": {
          |        "n_chars": { "gte": 100, "lt": 220, "boost": 0.5 } } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // simple_query_string term-level operators: fil* (prefix), merg~1
    // (Damerau fuzzy), "hash join"~1 (phrase slop), '|' (explicit OR =
    // the default), -dup prohibits — the full fail-soft mini-language
    "dsl_simple_query_string_ops" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val src = HybridSources(idx, positions = Some(IndexCache.positions(s, dir)))
      val json =
        """{ "query": { "simple_query_string": {
          |    "query": "fil* | merg~1 +\"hash join\"~1 -dup" } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // explain: per-clause score breakdown from the same pivot aggregate
    "bool_explain" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      graft.query.BoolQuery.explainTopK(HybridSources(idx),
        graft.query.BoolQuery.BoolSpec(
          must = Seq(Lexical(A)), should = Seq(Lexical(B), Lexical(Seq("scan")))), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"),
          round(col("must0"), 4).as("must0"),
          round(col("should0"), 4).as("should0"),
          round(col("should1"), 4).as("should1"))
    }),
    // ids + terms as should clauses: set-membership constant scores stack
    "dsl_ids_terms" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": { "should": [
          |    { "ids": { "values": [3, 7, 11, 400], "boost": 2.0 } },
          |    { "terms": { "text": ["dup", "scan"] } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // explicit dis_max over two match clauses with tie_breaker
    "dsl_dis_max" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": { "must": [ { "dis_max": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "match": { "text": "merge sort window" } } ],
          |    "tie_breaker": 0.3 } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // boosting: demote (not exclude) docs matching the negative clause
    "dsl_boosting" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": { "must": [ { "boosting": {
          |    "positive": { "match": { "text": "join hash" } },
          |    "negative": { "term": { "text": "dup" } },
          |    "negative_boost": 0.4 } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // intervals: the modern span form, lowered onto the span matcher
    "dsl_intervals" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "intervals": { "text": { "match": {
          |        "query": "hash join", "ordered": true,
          |        "max_gaps": 3 } } } } ],
          |    "should": [ { "match": { "text": "merge sort" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx,
          positions = Some(IndexCache.positions(s, dir))), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // has_child as a composable DSL clause: parents of matching chunk
    // children (sum score_mode, min_children 2) beside a lexical should
    "dsl_has_child" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val children = graft.ops.Chunkers
        .fixedTokenLength(docs, "doc_id", "text", 12)
        .withColumnRenamed("doc_id", "parent_id")
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "has_child": { "type": "chunks",
          |        "query": { "match": { "chunk": "hash join" } },
          |        "score_mode": "sum", "min_children": 2 } } ],
          |    "should": [ { "match": { "text": "merge" } } ] } },
          |  "size": 15 }""".stripMargin
      graft.query.QueryDsl.execute(
        HybridSources(idx, children = Map("chunks" -> ((children, "chunk")))),
        json, docs)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // nested query: the block-join over sub-documents (chunks as the nested
    // path) — shares has_child's one-join-one-aggregation shape; score_mode
    // defaults to avg (nested's default, unlike has_child's none)
    "dsl_nested" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val children = graft.ops.Chunkers
        .fixedTokenLength(docs, "doc_id", "text", 12)
        .withColumnRenamed("doc_id", "parent_id")
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "nested": { "path": "chunks",
          |        "query": { "match": { "chunk": "hash join" } } } } ],
          |    "should": [ { "match": { "text": "sort" } } ] } },
          |  "size": 15 }""".stripMargin
      graft.query.QueryDsl.execute(
        HybridSources(idx, children = Map("chunks" -> ((children, "chunk")))),
        json, docs)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // script_score: the exact-kNN idiom — the inner query filters, the
    // vector space function REPLACES its score. All three supported
    // painless sources in one bool: cosine+1 (must), 1/(1+l2²) and a
    // boosted innerProduct (shoulds)
    "dsl_script_score" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val vec = KnnVec.mkString("[", ", ", "]")
      val json =
        s"""{ "query": { "bool": {
           |    "must": [ { "script_score": {
           |        "query": { "match": { "text": "hash join" } },
           |        "script": { "source": "cosineSimilarity(params.query_vector, doc['embedding']) + 1.0",
           |          "params": { "query_vector": $vec } } } } ],
           |    "should": [
           |      { "script_score": {
           |          "query": { "match": { "text": "merge" } },
           |          "script": { "source": "1 / (1 + l2Squared(params.query_vector, doc['embedding']))",
           |            "params": { "query_vector": $vec } } } },
           |      { "script_score": {
           |          "query": { "match": { "text": "scan" } },
           |          "script": { "source": "innerProduct(params.query_vector, doc['embedding'])",
           |            "params": { "query_vector": $vec } },
           |          "boost": 2.0 } } ] } },
           |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx,
          emb = Some(s.read.parquet(s"$dir/embeddings.parquet")
            .select(col("vec_id").as("doc_id"), col("embedding").as("vec")))),
        json, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // span_containing (ordered 2-term big span containing little) composed
    // with a span_or should (lowered onto the any-of terms matcher)
    "dsl_span_containing" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "span_containing": {
          |        "big": { "span_near": { "clauses": [
          |            { "span_term": { "text": "hash" } },
          |            { "span_term": { "text": "join" } } ],
          |          "slop": 5, "in_order": true } },
          |        "little": { "span_term": { "text": "merge" } } } } ],
          |    "should": [ { "span_or": { "clauses": [
          |        { "span_term": { "text": "scan" } },
          |        { "span_term": { "text": "sort" } } ] } } ] } },
          |  "size": 20 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx,
          positions = Some(IndexCache.positions(s, dir))), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // span_first + span_not composed in one bool: leading-position term
    // match, include-minus-nearby-exclude occurrence filter
    "dsl_span_first_not" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [
          |      { "span_first": { "match": { "span_term": { "text": "merge" } },
          |          "end": 3 } },
          |      { "span_not": { "include": { "span_term": { "text": "join" } },
          |          "exclude": { "span_term": { "text": "hash" } },
          |          "pre": 1, "post": 1 } } ],
          |    "should": [ { "match": { "text": "scan" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx,
          positions = Some(IndexCache.positions(s, dir))), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // pinned: promoted ids in given order above the organic match
    "dsl_pinned" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "pinned": {
          |    "ids": [41, 7, 113],
          |    "organic": { "match": { "text": "join hash" } } } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // distance_feature beside BM25 in one bool: proximity of n_chars to an
    // origin as a should-clause boost
    "dsl_distance_feature" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must":   [ { "match": { "text": "merge" } } ],
          |    "should": [ { "distance_feature": { "field": "n_chars",
          |                    "origin": 300, "pivot": 50, "boost": 2.0 } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // match_bool_prefix: type-ahead — leading tokens as unordered term
    // shoulds, last token as a prefix
    "dsl_match_bool_prefix" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must":   [ { "match_bool_prefix": { "text": "hash jo" } } ],
          |    "should": [ { "match": { "text": "merge" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // sliced scroll: slice 1 of 4 (doc_id % 4 == 1) of the matched set —
    // the parallel-export contract for draining large results
    "dsl_scroll_slice" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "should": [ { "match": { "text": "merge sort" } } ] } },
          |  "slice": { "id": 1, "max": 4 },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // rank_feature: stored token-weight features scored through Lucene's
    // FeatureField functions (saturation / log / sigmoid) as bool should
    // clauses beside a BM25 match
    "dsl_rank_feature" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": { "should": [
          |    { "rank_feature": { "field": "features.join",
          |        "saturation": { "pivot": 4 }, "boost": 2.0 } },
          |    { "rank_feature": { "field": "features.hash",
          |        "log": { "scaling_factor": 1.5 } } },
          |    { "rank_feature": { "field": "features.scan",
          |        "sigmoid": { "pivot": 3, "exponent": 0.6 } } },
          |    { "match": { "text": "merge" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(
        HybridSources(idx, sparse = Some(Sparse.encode(idx))), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // function_score: weight-filter + field_value_factor + gauss decay
    // reshaping a match query's BM25 scores (score_mode sum, boost_mode
    // multiply, max_boost cap)
    "dsl_function_score" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "function_score": {
          |    "query": { "match": { "text": "join hash" } },
          |    "functions": [
          |      { "filter": { "term": { "text": "dup" } }, "weight": 0.5 },
          |      { "field_value_factor": { "field": "n_chars", "factor": 0.01,
          |          "modifier": "log1p", "missing": 1 } },
          |      { "gauss": { "n_chars": { "origin": 300, "scale": 150,
          |          "offset": 25, "decay": 0.5 } }, "weight": 2.0 } ],
          |    "score_mode": "sum", "boost_mode": "multiply",
          |    "max_boost": 3.0 } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // fuzzy: edit-distance term expansion ("joim" ~1 -> join), constant
    // score — explicit transpositions:false exercises the classic
    // Levenshtein automaton form
    "dsl_fuzzy" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must":   [ { "fuzzy": { "text": { "value": "joim", "fuzziness": 1,
          |                                       "transpositions": false } } } ],
          |    "should": [ { "match": { "text": "hash" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // fuzzy with Lucene's DEFAULT transpositions=true: Damerau counts the
    // adjacent swap as ONE edit, so "ahsh"~1 expands to "hash" — an
    // expansion classic Levenshtein (distance 2) cannot reach (reference:
    // FuzzyQuery's transpositions default; divergence closed this round)
    "dsl_fuzzy_osa" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must":   [ { "fuzzy": { "text": { "value": "ahsh", "fuzziness": 1 } } } ],
          |    "should": [ { "match": { "text": "join" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // composed intervals: all_of(ordered, max_gaps 1) of [match "table",
    // any_of(match "hash" | match "scan")] — Lucene's minimal-interval
    // algebra nested one level (reference accepts intervals through any
    // core query a hybrid clause carries)
    "dsl_intervals_nested" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "intervals": { "text": { "all_of": {
          |        "ordered": true, "max_gaps": 1,
          |        "intervals": [
          |          { "match": { "query": "table" } },
          |          { "any_of": { "intervals": [
          |              { "match": { "query": "hash" } },
          |              { "match": { "query": "scan" } } ] } } ] } } } } ],
          |    "should": [ { "match": { "text": "merge" } } ] } },
          |  "size": 10 }""".stripMargin
      val src = HybridSources(idx, positions = Some(IndexCache.positions(s, dir)))
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // intervals with max_gaps -1 = UNLIMITED (the reference's DEFAULT for
    // every intervals rule — Lucene's own encoding): ordered containment
    // with no width budget; max_gaps omitted entirely on the all_of to pin
    // the parsed default
    "dsl_intervals_unlimited" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "intervals": { "text": { "all_of": {
          |        "ordered": true,
          |        "intervals": [
          |          { "match": { "query": "table" } },
          |          { "any_of": { "intervals": [
          |              { "match": { "query": "hash" } },
          |              { "match": { "query": "scan" } } ] } } ] } } } } ],
          |    "should": [ { "match": { "text": "merge" } } ] } },
          |  "size": 10 }""".stripMargin
      val src = HybridSources(idx, positions = Some(IndexCache.positions(s, dir)))
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // intervals PREFIX rule: the multi-term interval source — "s" expands
    // against the term dictionary (metadata-scale scan, <= 128 terms or
    // fail loudly) into {scan, slow, small, sort, spark, stream}; any
    // expansion position can open the ordered window before "join"
    "dsl_intervals_prefix" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "intervals": { "text": { "all_of": {
          |        "ordered": true, "max_gaps": 2,
          |        "intervals": [
          |          { "prefix": { "prefix": "s" } },
          |          { "match": { "query": "join" } } ] } } } } ],
          |    "should": [ { "match": { "text": "merge" } } ] } },
          |  "size": 10 }""".stripMargin
      val src = HybridSources(idx, positions = Some(IndexCache.positions(s, dir)))
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // intervals FUZZY + WILDCARD rules composed: "tabel"~1 reaches "table"
    // through the Damerau transposition (Lucene's default), "s?an" expands
    // to "scan" — both against the dictionary, never the postings
    "dsl_intervals_fuzzy_wildcard" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "intervals": { "text": { "all_of": {
          |        "ordered": true, "max_gaps": 3,
          |        "intervals": [
          |          { "fuzzy": { "term": "tabel", "fuzziness": 1 } },
          |          { "wildcard": { "pattern": "s?an" } } ] } } } } ],
          |    "should": [ { "match": { "text": "sort" } } ] } },
          |  "size": 10 }""".stripMargin
      val src = HybridSources(idx, positions = Some(IndexCache.positions(s, dir)))
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // intervals FILTER rules (Lucene FilteredIntervalsSource over minimal
    // intervals): hash..join windows (gaps <= 2) keeping only those with NO
    // "scan" inside (not_containing), beside merge..sort windows that end
    // before a "dup" occurrence (before)
    "dsl_intervals_filter" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "intervals": { "text": { "match": {
          |        "query": "hash join", "ordered": true, "max_gaps": 2,
          |        "filter": { "not_containing": {
          |          "match": { "query": "scan" } } } } } } } ],
          |    "should": [ { "intervals": { "text": { "match": {
          |        "query": "merge sort", "ordered": true,
          |        "filter": { "before": {
          |          "match": { "query": "dup" } } } } } } } ] } },
          |  "size": 10 }""".stripMargin
      val src = HybridSources(idx, positions = Some(IndexCache.positions(s, dir)))
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // terms_set: the per-doc minimum-match form (CoveringQuery) — each doc
    // requires `required_matches` (here 1 + doc_id % 3, a stored field) of
    // {hash, join, scan}; score = BM25 sum over its matching terms
    "dsl_terms_set" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "terms_set": { "text": {
          |        "terms": ["hash", "join", "scan"],
          |        "minimum_should_match_field": "required_matches" } } } ],
          |    "should": [ { "match": { "text": "merge" } } ] } },
          |  "size": 10 }""".stripMargin
      val fields = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("required_matches", lit(1) + col("doc_id") % 3)
      graft.query.QueryDsl.execute(HybridSources(idx), json, fields)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // span_multi (SpanMultiTermQueryWrapper): a wildcard slot inside
    // span_near — "s?a*" expands to {scan, small, spark} against the
    // dictionary, any expansion position fills the slot (unordered, slop 2);
    // plus a standalone span_multi regexp in the should
    "dsl_span_multi" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "span_near": { "clauses": [
          |        { "span_multi": { "match": {
          |            "wildcard": { "text": { "value": "s?a*" } } } } },
          |        { "span_term": { "text": "join" } } ],
          |        "slop": 2, "in_order": false } } ],
          |    "should": [ { "span_multi": { "match": {
          |        "regexp": { "text": { "value": "so.t|merge" } } } } } ] } },
          |  "size": 10 }""".stripMargin
      val src = HybridSources(idx, positions = Some(IndexCache.positions(s, dir)))
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // field_masking_span (Lucene FieldMaskingSpanQuery): a span_near whose
    // second slot draws positions from the PATH field's token stream while
    // masking as text — "join" (text positions) must fall within an
    // unordered width-2 window of "en" (path position 3, the extension
    // token of en-lang docs), the cross-field parallel-stream idiom
    "dsl_field_masking_span" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val src = srcWithPath(s, dir).copy(
        positions = Some(IndexCache.positions(s, dir)),
        fieldPositions = Map("path" -> IndexCache.corpusFieldPositions(s, dir, "path")))
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "span_near": { "clauses": [
          |        { "span_term": { "text": "join" } },
          |        { "field_masking_span": {
          |            "query": { "span_term": { "path": "en" } },
          |            "field": "text" } } ],
          |        "slop": 2, "in_order": false } } ],
          |    "should": [ { "match": { "text": "merge" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // index-time synonym graph: the DSL is a PLAIN match — the index's
    // analyzer config (HybridSources.synonyms) rewrites "fast" into the
    // SynonymQuery group {fast, slow} automatically, like Lucene's
    // SynonymGraphFilter on a search_analyzer; "join" stays a TermQuery
    "dsl_match_synonyms" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "match": { "text": "fast join" } } ] } },
          |  "size": 10 }""".stripMargin
      val src = HybridSources(idx, synonyms = Map("fast" -> Seq("slow")))
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // multi_match best_fields: dismax + tie_breaker over text + boosted path
    "multi_best_fields" -> ((s, dir) => {
      val src = srcWithPath(s, dir)
      graft.query.BoolQuery.topK(src,
        graft.query.BoolQuery.BoolSpec(must = Seq(LexicalMulti(
          Seq("text" -> 1.0, "path" -> 2.0), MultiTerms, BestFields(0.3)))), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // multi_match cross_fields: blended-df term-centric scoring — the
    // "treat these fields as one field" mode
    "multi_cross_fields" -> ((s, dir) => {
      val src = srcWithPath(s, dir)
      graft.query.BoolQuery.topK(src,
        graft.query.BoolQuery.BoolSpec(must = Seq(LexicalMulti(
          Seq("text" -> 1.0, "path" -> 2.0), MultiTerms, CrossFields))), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // multi_match most_fields: per-field BM25 sum
    "multi_most_fields" -> ((s, dir) => {
      val src = srcWithPath(s, dir)
      graft.query.BoolQuery.topK(src,
        graft.query.BoolQuery.BoolSpec(must = Seq(LexicalMulti(
          Seq("text" -> 1.0, "path" -> 2.0), MultiTerms, MostFields))), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // multi_match arriving as JSON (caret boost syntax) nested in a bool
    "dsl_multi_match" -> ((s, dir) => {
      val src = srcWithPath(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "multi_match": {
          |      "query": "join pkg7 en", "fields": ["text", "path^2"],
          |      "type": "best_fields", "tie_breaker": 0.3 } } ],
          |    "must_not": [ { "term": { "text": "dup" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // multi_match type=phrase: one match_phrase per field under a dis-max
    // (MultiMatchQueryBuilder.Type.PHRASE) — "table hash" phrase-matches
    // the text field; "src pkg7" phrase-matches the path field (the pkg7
    // docs), each side verified against its OWN positional index and
    // scored with its OWN BM25 stats, path boosted 2x
    "dsl_multi_match_phrase" -> ((s, dir) => {
      val src = srcWithPath(s, dir).copy(
        positions = Some(IndexCache.positions(s, dir)),
        fieldPositions = Map("path" -> IndexCache.corpusFieldPositions(s, dir, "path")))
      val json =
        """{ "query": { "bool": {
          |    "should": [
          |      { "multi_match": { "query": "table hash",
          |        "fields": ["text", "path^2"], "type": "phrase" } },
          |      { "multi_match": { "query": "src pkg7",
          |        "fields": ["text", "path^2"], "type": "phrase", "tie_breaker": 0.3 } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // multi_match type=phrase with SLOP: one sloppy PhraseQuery per field
    // under the dis-max — "table scan"~2 runs the stationary-chain matcher
    // against the text positions, "pkg7 en"~2 against the PATH field's own
    // positions (src/pkg7/fileNN.en -> pkg7@1 .. en@3, gap 1), each with
    // its field's own BM25 stats
    "dsl_multi_match_phrase_slop" -> ((s, dir) => {
      val src = srcWithPath(s, dir).copy(
        positions = Some(IndexCache.positions(s, dir)),
        fieldPositions = Map("path" -> IndexCache.corpusFieldPositions(s, dir, "path")))
      val json =
        """{ "query": { "bool": {
          |    "should": [
          |      { "multi_match": { "query": "table scan",
          |        "fields": ["text", "path^2"], "type": "phrase", "slop": 2 } },
          |      { "multi_match": { "query": "pkg7 en",
          |        "fields": ["text", "path^2"], "type": "phrase", "slop": 2, "tie_breaker": 0.3 } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // multi_match type=phrase_prefix: one MultiPhrasePrefixQuery per field
    // under a dis-max — "table ha" completes against the text dictionary
    // (hash, ...); "src pkg" completes against the PATH dictionary (pkg0,
    // pkg1, pkg10, ... — term order, first max_expansions), so the same
    // typed prefix expands differently per field
    // multi_match type bool_prefix (Type.BOOL_PREFIX): one match_bool_prefix
    // per field under a dis-max — "merge" scores as a TermQuery per field,
    // "fil" is a constant-score prefix over EACH field's own dictionary
    // ("fil%" hits path's file{N} tokens, not text's), tie_breaker 0.3
    "dsl_multi_match_bool_prefix" -> ((s, dir) => {
      val src = srcWithPath(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "multi_match": { "query": "merge fil",
          |        "fields": ["text", "path^2"], "type": "bool_prefix",
          |        "tie_breaker": 0.3 } } ],
          |    "should": [ { "match": { "text": "sort" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // combined_fields (Lucene CombinedFieldQuery, BM25F-style): text +
    // title^2 merge into ONE pseudo-field — title is the first 5 text
    // tokens, so a term occurring there counts (1 + 2·tf_title) into the
    // MERGED frequency before saturation, and doc length/avgdl/df merge
    // too; minimum_should_match 2 gates on distinct matched terms
    "dsl_combined_fields" -> ((s, dir) => {
      val src = srcWithTitle(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "combined_fields": {
          |      "query": "join merge hash", "fields": ["text", "title^2"],
          |      "operator": "or", "minimum_should_match": 2 } } ],
          |    "should": [ { "match": { "text": "sort" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // combined_fields operator=and across DISJOINT vocabularies: "join"
    // lives only in text, "en" only in path (the lang extension token) —
    // the pseudo-field makes the AND hold across fields (a doc matches by
    // covering the terms ANYWHERE among the fields), which per-field
    // most_fields/best_fields cannot express
    "dsl_combined_fields_and" -> ((s, dir) => {
      val src = srcWithTitle(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "combined_fields": {
          |      "query": "join en", "fields": ["text", "path"],
          |      "operator": "and" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    "dsl_multi_match_phrase_prefix" -> ((s, dir) => {
      val src = srcWithPath(s, dir).copy(
        positions = Some(IndexCache.positions(s, dir)),
        fieldPositions = Map("path" -> IndexCache.corpusFieldPositions(s, dir, "path")))
      val json =
        """{ "query": { "bool": {
          |    "should": [
          |      { "multi_match": { "query": "table ha",
          |        "fields": ["text", "path^2"], "type": "phrase_prefix",
          |        "max_expansions": 10 } },
          |      { "multi_match": { "query": "src pkg",
          |        "fields": ["text", "path^2"], "type": "phrase_prefix",
          |        "max_expansions": 5, "tie_breaker": 0.3 } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(src, json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // FILTER context inside a nested bool (Occur.FILTER — required,
    // non-scoring): the inner bool gates on "hash" without scoring it, and
    // with a filter present Lucene's should default drops to msm 0, so
    // hash-only docs match at the filter-neutral score
    "dsl_bool_nested_filter" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "bool": {
          |    "must": [ { "bool": {
          |        "should": [ { "match": { "text": "join" } },
          |                    { "match": { "text": "merge" } } ],
          |        "filter": [ { "term": { "text": "hash" } } ] } } ],
          |    "must_not": [ { "term": { "text": "dup" } } ] } },
          |  "size": 10 }""".stripMargin
      graft.query.QueryDsl.execute(HybridSources(idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // multi_match as a hybrid sub-query clause through normalization
    "hybrid_multi_lex" ->
      run(q(Seq(LexicalMulti(Seq("text" -> 1.0, "path" -> 2.0), MultiTerms, BestFields(0.3)),
        Lexical(A)), MinMaxNormTech(), Combination(Combine.Arithmetic))) _,
    // explain mode: per-sub-query normalized scores alongside the combined one
    "hybrid_explain" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      Hybrid.executeExplain(idx, q(lex(Seq(A, B)), MinMaxNormTech(), Combination(Combine.Arithmetic)))
        .select(col("doc_id"), round(col("norm0"), 4).as("norm0"),
          round(col("norm1"), 4).as("norm1"), round(col("score"), 4).as("score"))
    }),
    // explain with per-stage technique descriptions (reference:
    // processor/ExplanationResponseProcessor.java)
    "hybrid_explain_detail" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val query = q(lex(Seq(A, B)), MinMaxNormTech(),
        Combination(Combine.Arithmetic, Seq(0.7, 0.3)))
      Hybrid.executeExplain(idx, query)
        .withColumn("explain_desc", lit(Hybrid.describe(query)))
        .select(col("doc_id"), round(col("norm0"), 4).as("norm0"),
          round(col("norm1"), 4).as("norm1"), round(col("score"), 4).as("score"),
          col("explain_desc"))
    }),
    // min_score filter on the combined score (reference:
    // processor/combination/ScoreCombiner.java:377-395)
    "hybrid_min_score" ->
      run(q(lex(Seq(A, B)), MinMaxNormTech(), Combination(Combine.Arithmetic),
        k = 50, minScore = Some(0.35))) _,
    // sort-enabled hybrid: hits ordered by a stored field instead of score,
    // first-wins dedupe across sub-queries (reference:
    // processor/combination/ScoreCombiner.java:281-311 TopDocs.merge + dedup)
    "hybrid_sorted" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      matchedAB(idx)
        .join(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "n_chars"), "doc_id")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
        .limit(10)
    }),
    // histogram bucket aggregation alongside hybrid (reference §2.11: bucket
    // aggs run over the matched doc set via HybridAggregationProcessor)
    "hybrid_agg_chars_hist" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val matched = matchedAB(idx)
      matched
        .join(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "n_chars"), "doc_id")
        .groupBy((floor(col("n_chars") / 100) * 100).as("bucket"))
        .agg(count(lit(1)).as("n_docs"), avg(col("n_chars")).as("a"))
        .select(col("bucket"), col("n_docs"), round(col("a"), 4).as("avg_chars"))
    }),
    // metric aggregation alongside hybrid (reference: §2.11
    // HybridAggregationProcessor — aggs run over the matched doc set)
    "hybrid_agg_lang" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val matched = matchedAB(idx)
      matched
        .join(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "lang"), "doc_id")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    }),
    // the JSON DSL parse path end-to-end (fromXContent analogue) — same
    // shape as hybrid_filtered, arriving as a request document
    "dsl_hybrid" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "match": { "text": "merge sort window" } } ],
          |    "filter": { "term": { "lang": "en" } },
          |    "pagination_depth": 50 } },
          |  "size": 10,
          |  "search_pipeline": {
          |    "normalization": { "technique": "min_max" },
          |    "combination":   { "technique": "arithmetic_mean" } } }""".stripMargin
      graft.query.QueryDsl.execute(idx, json, s, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // DSL with a match_phrase clause (object form, explicit slop 0): the
    // parse path analyzes the phrase text and the positional source rides
    // in through HybridSources.positions
    "dsl_phrase" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "match_phrase": { "text": { "query": "table hash", "slop": 0 } } } ],
          |    "pagination_depth": 50 } },
          |  "size": 10,
          |  "search_pipeline": {
          |    "normalization": { "technique": "min_max" },
          |    "combination":   { "technique": "arithmetic_mean" } } }""".stripMargin
      val src = HybridSources(idx, positions = Some(IndexCache.positions(s, dir)))
      graft.query.QueryDsl.execute(src, json, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // DSL match_phrase with slop > 0 — Lucene SloppyPhraseMatcher: shifted
    // positions, greedy minimal windows, fractional freq of 1/(1+len) slop
    // factors (reference: any match_phrase a hybrid sub-query carries,
    // query/HybridQueryBuilder.java:368-377; OpenSearch match_phrase
    // accepts slop by default)
    "dsl_phrase_slop" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "match_phrase": { "text": { "query": "table scan", "slop": 2 } } } ],
          |    "pagination_depth": 50 } },
          |  "size": 10,
          |  "search_pipeline": {
          |    "normalization": { "technique": "min_max" },
          |    "combination":   { "technique": "arithmetic_mean" } } }""".stripMargin
      val src = HybridSources(idx, positions = Some(IndexCache.positions(s, dir)))
      graft.query.QueryDsl.execute(src, json, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // DSL match_phrase with slop > 0 AND a REPEATED analyzed term — the
    // SloppyPhraseMatcher repeat machinery (repeat groups, stagger init,
    // collide/advance-lesser): "join join"~3 matches docs where two
    // DISTINCT occurrences of `join` sit within the slop window
    // (reference: SloppyPhraseMatcher hasRpts path, reachable through any
    // match_phrase clause, query/HybridQueryBuilder.java:368-377)
    "dsl_phrase_slop_repeats" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "match_phrase": { "text": { "query": "join join", "slop": 3 } } } ],
          |    "pagination_depth": 50 } },
          |  "size": 10,
          |  "search_pipeline": {
          |    "normalization": { "technique": "min_max" },
          |    "combination":   { "technique": "arithmetic_mean" } } }""".stripMargin
      val src = HybridSources(idx, positions = Some(IndexCache.positions(s, dir)))
      graft.query.QueryDsl.execute(src, json, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // DSL with a neural_sparse clause + bool filter: the heterogeneous parse
    // path (reference: NeuralSparseQueryBuilder.fromXContent query_tokens
    // form + bool filter pushed into every sub-query)
    "dsl_neural_sparse" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "neural_sparse": { "sparse_field": {
          |                     "query_tokens": { "merge": 2.0, "window": 1.5,
          |                                       "dup": 0.7, "scan": 0.3 } } } } ],
          |    "filter": { "bool": { "must": [ { "term": { "lang": "en" } } ] } },
          |    "pagination_depth": 50 } },
          |  "size": 10,
          |  "search_pipeline": {
          |    "normalization": { "technique": "min_max" },
          |    "combination":   { "technique": "arithmetic_mean" } } }""".stripMargin
      graft.query.QueryDsl.execute(idx, json, s, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // neural_sparse ANALYZER form: model-free query-side tokenization —
    // the named analyzer's tokens each weigh 1.0 against the stored sparse
    // vectors (the reference's analyzer alternative to model inference;
    // mutually exclusive with model_id)
    "dsl_neural_sparse_analyzer" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "neural_sparse": { "sparse_field": {
          |                     "query_text": "merge window dup scan merge",
          |                     "analyzer": "simple" } } } ] } },
          |  "size": 10,
          |  "search_pipeline": {
          |    "normalization": { "technique": "min_max" },
          |    "combination":   { "technique": "arithmetic_mean" } } }""".stripMargin
      graft.query.QueryDsl.execute(idx, json, s, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // radial kNN through the DSL: the neural clause carries max_distance
    // instead of k — a range query over similarity (reference:
    // NeuralQueryBuilder.java:156-157 radial forms; only one of
    // k/max_distance/min_score may be set)
    "dsl_knn_radial" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "neural": { "embedding": {
          |                     "query_id": 3, "max_distance": 0.8 } } } ],
          |    "pagination_depth": 50 } },
          |  "size": 10,
          |  "search_pipeline": {
          |    "normalization": { "technique": "min_max" },
          |    "combination":   { "technique": "arithmetic_mean", "weights": [0.6, 0.4] } } }""".stripMargin
      val src = HybridSources(idx,
        emb = Some(s.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id").as("doc_id"), col("embedding").as("vec"))))
      graft.query.QueryDsl.execute(src, json, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // semantic-field query routing: the neural clause names a SEMANTIC
    // field with query_text — resolved to the field's generated sub-field
    // (sparse token-weight chunks here) with nested best-chunk scoring
    // (reference: NeuralQueryBuilder.java:1019-1065 semantic rewrite to
    // <field>_semantic_info.chunks.embedding)
    "dsl_semantic_routed" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "neural": { "sem_sparse": {
          |                     "query_text": "merge window dup scan merge" } } } ],
          |    "pagination_depth": 50 } },
          |  "size": 10,
          |  "search_pipeline": {
          |    "normalization": { "technique": "min_max" },
          |    "combination":   { "technique": "arithmetic_mean", "weights": [0.6, 0.4] } } }""".stripMargin
      graft.query.QueryDsl.execute(semanticSources(s, dir, idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // same routing against a DENSE-model semantic field: the generated
    // sub-field is the hashed chunk-vector table, scored best-chunk cosine
    "dsl_semantic_routed_dense" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "neural": { "sem_dense": {
          |                     "query_text": "merge window dup scan merge" } } } ],
          |    "pagination_depth": 50 } },
          |  "size": 10,
          |  "search_pipeline": {
          |    "normalization": { "technique": "min_max" },
          |    "combination":   { "technique": "arithmetic_mean", "weights": [0.6, 0.4] } } }""".stripMargin
      graft.query.QueryDsl.execute(semanticSources(s, dir, idx), json,
        s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // DSL request with per-clause boost + request-level collapse (boost is
    // legal INSIDE a clause; only hybrid-level boost is rejected)
    "dsl_collapse_boost" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": { "query": "join hash", "boost": 2.0 } } },
          |                 { "match": { "text": "merge sort window" } } ],
          |    "pagination_depth": 50 } },
          |  "size": 10,
          |  "collapse": { "field": "source", "docs_per_group_per_subquery": 2 },
          |  "search_pipeline": {
          |    "normalization": { "technique": "min_max" },
          |    "combination":   { "technique": "arithmetic_mean", "weights": [0.6, 0.4] } } }""".stripMargin
      graft.query.QueryDsl.execute(idx, json, s, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // neural_query_enricher request processor: the neural_sparse clause
    // carries query_text with NO model_id — the enricher's default_model_id
    // fills it, and the (mock) sparse encoding model runs over the analyzed
    // text (reference: processor/NeuralQueryEnricherProcessor +
    // NeuralSparseQueryBuilder.java:518-557 query_text inference path)
    "dsl_enriched_sparse" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "neural_sparse": { "sparse_field": {
          |                     "query_text": "merge window dup scan merge" } } } ],
          |    "pagination_depth": 50 } },
          |  "size": 10,
          |  "search_pipeline": {
          |    "request_processors": [ { "neural_query_enricher": {
          |        "default_model_id": "mock-sparse-encoder-v1" } } ],
          |    "normalization": { "technique": "min_max" },
          |    "combination":   { "technique": "arithmetic_mean" } } }""".stripMargin
      graft.query.QueryDsl.execute(idx, json, s, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // request-level sort through the DSL: per-sub-query TopFieldDocs capped
    // at pagination_depth, merged first-wins, final page by the sort order
    // (reference: ScoreCombiner.java:281-311 TopDocs.merge(sort, ...))
    // SORT on a runtime field through the overload that pre-registers the
    // raw fields table — the runtime column must reach sort/collapse, not
    // just the filter docs (regression gate for the runtime_mappings
    // fields-propagation fix)
    "dsl_runtime_field_sort" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "runtime_mappings": { "len_bucket": { "type": "long",
          |    "script": "CAST(floor(n_chars / 100) * 100 AS BIGINT)" } },
          |  "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "match": { "text": "merge sort window" } } ],
          |    "pagination_depth": 50 } },
          |  "size": 10,
          |  "sort": [ { "len_bucket": { "order": "asc" } } ] }""".stripMargin
      graft.query.QueryDsl.execute(idx, json, s, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("len_bucket"))
    }),
    "dsl_sorted" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "match": { "text": "merge sort window" } } ],
          |    "pagination_depth": 50 } },
          |  "size": 10,
          |  "sort": [ { "n_chars": { "order": "desc" } } ] }""".stripMargin
      graft.query.QueryDsl.execute(idx, json, s, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("n_chars"))
    }),
    // total-hits reporting: matched count after the min_score filter plus
    // the eq/gte relation (reference: ScoreCombiner.java:136-159 fixes
    // totalHits when min_score drops docs)
    "hybrid_total_hits" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      Hybrid.executeWithTotal(HybridSources(idx),
        q(lex(Seq(A, B)), MinMaxNormTech(), Combination(Combine.Arithmetic),
          k = 10, minScore = Some(0.35)))
        .select(col("doc_id"), round(col("score"), 4).as("score"),
          col("total_hits"), col("relation"))
    }),
    // sort mixing _score with a stored field (reference: SortField.Type.SCORE
    // inside the hybrid sort criteria, ScoreCombiner.getTopFieldDocs);
    // min_score applies in exactly this mode (isMinScoreAvailable)
    "dsl_sorted_score" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "match": { "text": "merge sort window" } } ],
          |    "pagination_depth": 50 } },
          |  "size": 10, "min_score": 0.3,
          |  "search_pipeline": {
          |    "combination": { "technique": "arithmetic_mean", "weights": [0.6, 0.4] } },
          |  "sort": [ { "_score": "desc" }, { "n_chars": { "order": "asc" } } ] }""".stripMargin
      graft.query.QueryDsl.execute(idx, json, s, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"), col("n_chars"))
    }),
    // _score-led sort + collapse + min_score: the group winner is picked
    // from the UNFILTERED scored set under the sort order, then min_score
    // drops whole groups whose winner fails it (reference: collapse at
    // collection time, min_score at combination time —
    // HybridCollapsingTopDocsCollector + ScoreCombiner.isMinScoreAvailable).
    // Unequal weights: with 0.5/0.5 the two single-clause maxima combine to
    // EXACTLY 0.5 each and their order flips on cross-engine FP jitter (the
    // same structural tie collapse_multi documents).
    "dsl_sorted_score_collapse" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "match": { "text": "merge sort window" } } ],
          |    "pagination_depth": 50 } },
          |  "size": 10, "min_score": 0.3,
          |  "search_pipeline": {
          |    "combination": { "technique": "arithmetic_mean", "weights": [0.6, 0.4] } },
          |  "collapse": { "field": "source" },
          |  "sort": [ { "_score": "desc" }, { "n_chars": { "order": "asc" } } ] }""".stripMargin
      graft.query.QueryDsl.execute(idx, json, s, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), round(col("score"), 4).as("score"), col("n_chars"))
    }),
    // field sort + collapse: the group winner is the first doc under the
    // SORT order (reference: HybridCollapsingTopDocsCollector takes the sort)
    "dsl_sorted_collapse" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "join hash" } },
          |                 { "match": { "text": "merge sort window" } } ],
          |    "pagination_depth": 50 } },
          |  "size": 10,
          |  "collapse": { "field": "source" },
          |  "sort": [ { "n_chars": { "order": "desc" } } ] }""".stripMargin
      graft.query.QueryDsl.execute(idx, json, s, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("n_chars"))
    }),
    // stats metric aggregation over the matched doc set (reference §2.11:
    // metric aggs run alongside hybrid via HybridAggregationProcessor)
    "hybrid_agg_stats" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val matched = matchedAB(idx)
      matched
        .join(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "n_chars"), "doc_id")
        .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
    }),
    // extended_stats: the stats family plus sum-of-squares / population
    // variance / std-dev / std-dev bounds — one aggregate, no second pass
    // (variance computed from the same sums the reference accumulates)
    "hybrid_agg_extended_stats" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      matchedAB(idx)
        .join(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "n_chars"), "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          sum(col("n_chars") * col("n_chars")).cast("long").as("sum_of_squares"),
          round(var_pop(col("n_chars")), 4).as("variance"),
          round(stddev_pop(col("n_chars")), 4).as("std_deviation"),
          round(avg(col("n_chars")) + lit(2.0) * stddev_pop(col("n_chars")), 4)
            .as("std_upper"),
          round(avg(col("n_chars")) - lit(2.0) * stddev_pop(col("n_chars")), 4)
            .as("std_lower"))
    }),
    // rare_terms: the long tail — terms whose corpus doc-frequency is at
    // most max_doc_count (the inverse of the terms agg; reads ONLY the
    // term-stats table, no postings decode)
    "agg_rare_terms" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      idx.termStats.select(col("term"), col("df"))
        .where(col("df") <= 30)
        .orderBy(col("df").asc, col("term").asc)
    }),
    // composite aggregation: the paginated full-keyspace bucket export —
    // (source, lang, n_chars-histogram) keys walked in lexicographic pages
    // of 60, each page resuming strictly after the previous page's last key
    // via a row-level cursor predicate applied BEFORE the aggregation (plus
    // its scan-pushable first-key bound). The whole keyspace arrives as a
    // sequence of bounded jobs — the composite agg contract.
    "agg_composite_walk" -> ((s, dir) => {
      import graft.ops.Aggs
      import graft.ops.Aggs.CompositeSource
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Aggs.compositeWalk(docs,
        Seq(CompositeSource("src", col("source")),
            CompositeSource("lg", col("lang")),
            CompositeSource("chars_bin", (col("n_chars") / 200).cast("long") * 200)),
        size = 60,
        metrics = Seq(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 4).as("avg_chars")))
    }),
    // matrix_stats agg over the matched set: per-field mean/variance/
    // skewness/kurtosis + pairwise covariance/correlation for (n_chars,
    // n_tokens), all derived from RAW POWER SUMS in ONE aggregate pass —
    // the formulation both engines can reproduce bit-comparably at round-4,
    // and the single-pass shape that holds at any scale
    "agg_matrix_stats" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val j = matchedAB(idx)
        .join(s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("n_chars").cast("double").as("x"),
            size(filter(split(col("text"), " "), t => t =!= lit("")))
              .cast("double").as("y")), "doc_id")
      val agg = j.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sx2"),
        sum(col("x") * col("x") * col("x")).as("sx3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("sx4"),
        sum(col("y")).as("sy"), sum(col("y") * col("y")).as("sy2"),
        sum(col("x") * col("y")).as("sxy"))
      agg.select(
        col("n").cast("long").as("n_docs"),
        round(col("sx") / col("n"), 4).as("mean_x"),
        round(col("sx2") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n")), 4).as("var_x"),
        round((col("sx3") / col("n") - lit(3.0) * (col("sx") / col("n")) * (col("sx2") / col("n"))
          + lit(2.0) * pow(col("sx") / col("n"), 3))
          / pow(sqrt(col("sx2") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n"))), 3), 4)
          .as("skew_x"),
        round((col("sx4") / col("n") - lit(4.0) * (col("sx") / col("n")) * (col("sx3") / col("n"))
          + lit(6.0) * pow(col("sx") / col("n"), 2) * (col("sx2") / col("n"))
          - lit(3.0) * pow(col("sx") / col("n"), 4))
          / pow(col("sx2") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n")), 2), 4)
          .as("kurt_x"),
        round(col("sy") / col("n"), 4).as("mean_y"),
        round(col("sxy") / col("n") - (col("sx") / col("n")) * (col("sy") / col("n")), 4).as("cov_xy"),
        round((col("sxy") / col("n") - (col("sx") / col("n")) * (col("sy") / col("n")))
          / (sqrt(col("sx2") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n")))
            * sqrt(col("sy2") / col("n") - (col("sy") / col("n")) * (col("sy") / col("n")))), 4)
          .as("corr_xy"))
    }),
    // top_metrics agg: the metric values riding on the top-sorted docs —
    // one size-bounded TakeOrdered, never a corpus sort
    "agg_top_metrics" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      matchedAB(idx)
        .join(s.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "n_chars", "source", "lang"), "doc_id")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
        .limit(3)
        .select(col("doc_id"), col("n_chars"), col("source"), col("lang"))
    }),
    // multi_terms bucket agg over the matched set — composite (source,lang)
    // keys, count-desc order — carrying value_count (docs with a stored
    // vector: count of a LEFT-joined field), missing (its complement, the
    // missing-agg contract), weighted_avg (n_chars weighted by token
    // count), and the global agg (query-independent corpus count, one
    // broadcast single-row cross join). One shuffle for the buckets; the
    // global count is its own tiny aggregate.
    "agg_multi_terms" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), lit(1).as("has_vec"))
      matchedAB(idx)
        .join(docs.select("doc_id", "source", "lang", "n_chars", "text"), "doc_id")
        .join(emb, Seq("doc_id"), "left")
        .withColumn("w", size(filter(split(col("text"), " "), t => t =!= lit(""))))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          count(col("has_vec")).as("with_vector"),
          (count(lit(1)) - count(col("has_vec"))).as("missing_vector"),
          round(sum(col("n_chars") * col("w")) / sum(col("w")), 4).as("w_avg_chars"))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("global_docs"))))
        .orderBy(col("n_docs").desc, col("source").asc, col("lang").asc)
        .limit(10)
    }),
    // adjacency_matrix agg: doc counts of each filter and each pairwise
    // intersection. One pass: the three bounded term-postings matched sets
    // union into per-doc membership flags, one aggregate computes all six
    // cells, stack() unpivots — empty cells omitted, as the reference does.
    "agg_adjacency_matrix" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val sets = Seq("a" -> "hash", "b" -> "join", "c" -> "merge")
      val flags = sets.map { case (n, t) =>
        Bm25.scoreTerms(idx, Seq(t)).select(col("doc_id"), lit(n).as("f"))
      }.reduce(_ unionByName _)
      def has(k: String) = array_contains(col("fs"), k)
      def cell(ks: String*) =
        sum(when(ks.map(has).reduce(_ && _), 1L).otherwise(0L))
      flags.groupBy("doc_id").agg(collect_set("f").as("fs"))
        .agg(cell("a").as("a"), cell("b").as("b"), cell("c").as("c"),
          cell("a", "b").as("ab"), cell("a", "c").as("ac"),
          cell("b", "c").as("bc"))
        .selectExpr("stack(6, 'a', a, 'b', b, 'c', c, 'a&b', ab, " +
          "'a&c', ac, 'b&c', bc) as (key, doc_count)")
        .where(col("doc_count") > 0)
        .orderBy("key")
    }),
    // sampler + diversified_sampler: sub-aggs over the top-shard_size
    // scored docs instead of the full matched set. Population = bounded
    // top-50 by (score desc, doc_id) — one TakeOrdered, so the diversity
    // window (max 2 docs per lang, the diversified_sampler contract) runs
    // over 50 rows, never corpus-shaped.
    "agg_sampler_diversified" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // materialize the 50-row sample once: both sub-agg branches consume
      // it, and without this the scorer + fields join would execute twice
      val top = Bm25.scoreTerms(idx, A)
        .orderBy(col("score").desc, col("doc_id").asc).limit(50)
        .join(docs.select("doc_id", "source", "lang"), "doc_id")
        .localCheckpoint(true)
      val samp = top.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("agg", lit("sampler"))
      val div = top.withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy(col("score").desc, col("doc_id").asc)))
        .where(col("rn") <= 2).drop("rn")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("agg", lit("diversified"))
      samp.unionByName(div)
        .orderBy(col("agg"), col("n_docs").desc, col("source"))
    }),
    // percentiles aggregation over the matched set — exact linear
    // interpolation on the sorted values (Spark `percentile`; the
    // reference's t-digest is approximate, exact is the stronger contract
    // at oracle scale and the same API shape)
    "hybrid_agg_percentiles" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      matchedAB(idx)
        .join(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "n_chars"), "doc_id")
        .agg(
          round(expr("percentile(n_chars, 0.25)"), 4).as("p25"),
          round(expr("percentile(n_chars, 0.50)"), 4).as("p50"),
          round(expr("percentile(n_chars, 0.75)"), 4).as("p75"),
          round(expr("percentile(n_chars, 0.95)"), 4).as("p95"))
    }),
    // terms bucket aggregation: top groups by doc count (the default
    // terms-agg order: count desc, key asc)
    "hybrid_agg_source_terms" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val matched = matchedAB(idx)
      matched
        .join(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "source"), "doc_id")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("source").asc)
        .limit(5)
    }),
    // lexical highlighting response processor: per-(hit, matched term) first
    // occurrence + <em>-tagged snippet (the deterministic analogue of the
    // reference's highlight response stage; semantic model spans are out of
    // scope under zero egress)
    "search_highlight" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val hits = Bm25.topK(idx, B, 10)
      graft.ops.Highlight.matchedTerms(hits,
        s.read.parquet(s"$dir/documents.parquet"), "text", B, window = 3)
    }),
    // number_of_fragments: 0 — the whole-field highlight: the entire text
    // of each hit returns once with EVERY query-term occurrence em-tagged
    "search_highlight_whole" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val hits = Bm25.topK(idx, B, 10)
      graft.ops.Highlight.wholeField(hits,
        s.read.parquet(s"$dir/documents.parquet"), "text", B)
    }),
    // multi-fragment, phrase-aware highlighting (unified-highlighter
    // shape): every occurrence of "window" plus every exact "merge sort"
    // phrase span located per hit; touching context windows merge into
    // fragment islands; top-2 fragments per doc by match density
    "search_highlight_fragments" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val hits = Bm25.topK(idx, B, 10)
      graft.ops.Highlight.fragments(hits,
        s.read.parquet(s"$dir/documents.parquet"), "text",
        terms = Seq("window"), phrases = Seq(Seq("merge", "sort")),
        window = 3, maxFragments = 2)
    }),
    // highlight terms extracted from the parsed query tree (reference:
    // highlight/single/extractor/QueryTextExtractorRegistry.java): the match
    // clause and the bool's non-prohibited clauses contribute text, must_not
    // is skipped, the match_phrase has no registered extractor and
    // contributes nothing, hybrid texts are de-duplicated — the extracted
    // text then drives the highlighter over the query's own top-k hits
    "dsl_highlight" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "hybrid": {
          |    "queries": [ { "match": { "text": "merge sort" } },
          |                 { "bool": { "must": [ { "match": { "text": "join" } } ],
          |                             "must_not": [ { "match": { "text": "window" } } ] } },
          |                 { "match_phrase": { "text": { "query": "table hash" } } } ],
          |    "pagination_depth": 50 } },
          |  "size": 10,
          |  "search_pipeline": {
          |    "normalization": { "technique": "min_max" },
          |    "combination":   { "technique": "arithmetic_mean" } } }""".stripMargin
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val src = HybridSources(idx, positions = Some(IndexCache.positions(s, dir)))
      val hits = graft.query.QueryDsl.execute(src, json, docs)
      val terms = graft.query.QueryText.highlightTerms(
        graft.query.QueryDsl.parse(json, idx.analyzer).query, "text")
      graft.ops.Highlight.matchedTerms(hits, docs, "text", terms, window = 3)
    }),
    // by-field rerank: _score replaced by a stored numeric field, old score kept
    "rerank_by_field" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val hits = Bm25.topK(idx, A, 20)
        .join(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "n_chars"), "doc_id")
      graft.ops.Rerank.byField(hits, "n_chars", keepPrevious = true)
        .select(col("doc_id"), col("score"),
          round(col("previous_score"), 4).as("previous_score"))
    }),
    // rescoring rerank: BM25 top-30 window re-scored by dense cosine against
    // the query embedding (the deterministic stand-in for the cross-encoder
    // similarity call, reference: processor/rerank/RescoringRerankProcessor /
    // MLOpenSearchRerankProcessor), re-sorted, top-10
    "rerank_rescore" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val hits = Bm25.topK(idx, A, 30)
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding").as("vec"))
      val qv = emb.where(col("doc_id") === 5L).select(col("vec").as("qv"))
      val newScores = emb.join(broadcast(hits.select("doc_id")), "doc_id")
        .crossJoin(broadcast(qv))
        .select(col("doc_id"), graft.ops.Ann.cosine(col("vec"), col("qv")).as("score"))
      graft.ops.Rerank.rescore(hits, newScores, 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"),
          round(col("previous_score"), 4).as("previous_score"))
    }),
    // cardinality aggregation over the matched doc set (§2.11)
    "hybrid_agg_cardinality" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val matched = matchedAB(idx)
      matched
        .join(s.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "source", "lang"), "doc_id")
        .agg(countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"))
    }),
    // pipeline aggregation: cumulative doc count over the histogram buckets
    // (the cumulative_sum pipeline agg chained onto a histogram, §2.11)
    "hybrid_agg_cum_hist" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val matched = matchedAB(idx)
      val hist = matched
        .join(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "n_chars"), "doc_id")
        .groupBy((floor(col("n_chars") / 100) * 100).as("bucket"))
        .agg(count(lit(1)).as("n_docs"))
      // bucket count is tiny (n_chars range / 100), so the single-partition
      // ordered window is over a handful of rows, not the corpus
      hist.withColumn("cum_docs",
        sum(col("n_docs")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }),
    // derivative pipeline agg chained onto the daily date_histogram:
    // bucket-over-bucket delta (first bucket null, as the reference emits
    // no derivative for the first bucket). The ordered window runs over the
    // bucket table (days), never the row stream.
    "agg_derivative" -> ((s, dir) => {
      val hist = s.read.parquet(s"$dir/events.parquet")
        .where(col("event_type") === "purchase")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
      hist.withColumn("deriv",
        col("n_events") - lag(col("n_events"), 1)
          .over(Window.orderBy(col("day"))))
    }),
    // sibling pipeline aggs over the daily histogram: moving_fn (window-3
    // moving average, current bucket inclusive) per bucket, plus the
    // bucket-metric family avg/max/min/sum_bucket broadcast back onto
    // every row. The ordered window runs over the BUCKET table (days) —
    // same bounded-cardinality contract as derivative/cumulative — and
    // the bucket metrics are one tiny aggregate broadcast back.
    "agg_bucket_pipeline" -> ((s, dir) => {
      val hist = s.read.parquet(s"$dir/events.parquet")
        .where(col("event_type") === "purchase")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
      hist.withColumn("mov_avg",
          round(avg(col("n_events")).over(
            Window.orderBy(col("day")).rowsBetween(-2, 0)), 4))
        .crossJoin(broadcast(hist.agg(
          round(avg(col("n_events")), 4).as("avg_bucket"),
          max(col("n_events")).as("max_bucket"),
          min(col("n_events")).as("min_bucket"),
          sum(col("n_events")).as("sum_bucket"))))
    }),
    // significant_terms over the matched set: JLH-scored
    // foreground-vs-background term skew (postings pruned to the matched
    // docs' buckets before decode — work scales with the foreground)
    "hybrid_agg_significant_terms" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      graft.query.SignificantTerms(idx, matchedAB(idx), 10)
    }),
    // the alternate significance heuristics beside JLH: chi_square and
    // mutual_information from the SAME one-pass fg/bg counts (the cited
    // Manning & Schütze formulas, background-is-superset adjusted)
    "agg_significant_heuristics" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      graft.query.SignificantTerms.heuristics(idx, matchedAB(idx), 10)
    }),
    // significant_text: significant_terms' re-analyzing sibling — the
    // foreground is a bounded SAMPLE (top-100 BM25 hits, the sampler-agg
    // idiom OpenSearch documents for it), duplicate text drops first-wins
    // (filter_duplicate_text), tokens come from re-analyzing the stored
    // text of those <=100 docs rather than the index, background stats from
    // the persisted termStats table; JLH-scored like significant_terms
    "agg_significant_text" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val matched = Bm25.topK(idx, Seq("join", "hash"), 100).select("doc_id")
      graft.query.SignificantTerms.text(idx,
        s.read.parquet(s"$dir/documents.parquet"), "text", matched, 10)
    }),
    // range bucket aggregation with explicit boundaries over the matched
    // set (OpenSearch range agg semantics: from inclusive, to exclusive,
    // keys in the *-to form)
    "hybrid_agg_range" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      matchedAB(idx)
        .join(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "n_chars"), "doc_id")
        .groupBy(
          when(col("n_chars") < 200, "*-200")
            .when(col("n_chars") < 500, "200-500")
            .otherwise("500-*").as("bucket"))
        .agg(count(lit(1)).as("n_docs"), round(avg(col("n_chars")), 4).as("avg_chars"))
    }),
    // filters aggregation: named predicate buckets computed in ONE pass
    // over the matched set (a conditional sum per bucket — the reference
    // runs each filter as a sub-collector over the same doc stream, NOT one
    // scan per filter; same single-pass contract here)
    "hybrid_agg_filters" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      matchedAB(idx)
        .join(s.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "lang", "source", "n_chars"), "doc_id")
        .agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("f_en"),
          sum(when(col("source") === "s1", 1L).otherwise(0L)).as("f_s1"),
          sum(when(col("n_chars") >= 300, 1L).otherwise(0L)).as("f_long"))
    }),
    // top_hits inside a terms agg: per-source top-2 docs (n_chars desc,
    // doc_id tiebreak) through the salted two-level TopN — per-bucket hit
    // pages without a per-group hot partition
    "hybrid_agg_top_hits" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val joined = matchedAB(idx)
        .join(s.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "source", "n_chars"), "doc_id")
      graft.ops.TopN.perGroupRanked(joined, Seq("source"), "doc_id", 2,
          Seq(col("n_chars").desc, col("doc_id").asc), "hit_rank")
        .select("source", "hit_rank", "doc_id", "n_chars")
    }),
    // calendar-interval date_histogram (daily) over the events table's
    // filtered set, count + avg metric per bucket — the date bucketing agg
    // every dashboard query uses; date_trunc is a pure codegen'd column op
    "agg_date_histogram" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .where(col("event_type") === "purchase")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"), round(avg(col("value")), 4).as("avg_value"))),
    // MMR diversity rerank over the top window (reference:
    // processor/mmr/MMRNeuralQueryTransformer.java): greedy
    // lambda*rel - (1-lambda)*max-sim selection, deterministic embeddings
    "rerank_mmr" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val hits = Bm25.topK(idx, A, 20)
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding").as("vec"))
      graft.ops.Rerank.mmr(hits, emb, lambda = 0.7, k = 10)
        .select(col("doc_id"), col("rank"), round(col("mmr"), 4).as("mmr"))
    })
  )

  /** Field collapsing: best hit per `source` group (reference:
   *  processor/collapse/CollapseExecutor.java:23-36 / row_number==1). */
  private def collapseBySource(s: SparkSession, dir: String): DataFrame = {
    val idx = IndexCache.documents(s, dir)
    val scored = Bm25.scoreTerms(idx, A)
    val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "source")
    val w = Window.partitionBy(col("source")).orderBy(col("score").desc, col("doc_id").asc)
    scored.join(docs, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(20)
      .select(col("source"), col("doc_id"), round(col("score"), 4).as("score"))
  }

  // ------------------------------------------------------------------
  // DuckDB oracle SQL
  // ------------------------------------------------------------------

  private def termList(ts: Seq[String]) = ts.map(t => s"'$t'").mkString(", ")

  private val Bm25Sum =
    """sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
      |              * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) )""".stripMargin

  /** mock sparse encoder over the token CTE (parity with Sparse.encode) */
  private val TwCte =
    """htw AS (SELECT doc_id, term AS token,
      |             tf * (1.0 + (length(term) % 5) * 0.25) AS w FROM tf)""".stripMargin

  /** oracle-side registry of the semantic fields the entries register —
   *  field name -> generated sub-field kind (mirrors the HybridSources
   *  .semantic map built in the dsl_semantic_routed* entries) */
  private val SemKinds: Map[String, SemanticKind] =
    Map("sem_sparse" -> SemanticSparseKind, "sem_dense" -> SemanticDenseKind)

  /** chunked sparse sub-field CTE (parity with Semantic.ingestSparse,
   *  tokenLimit 20): semtw(doc_id, chunk_idx, token, w) */
  private val SemTwCte = {
    val toks = "list_filter(string_split(text, ' '), x -> x <> '')"
    s"""semchunks AS (
       |  SELECT doc_id, i AS chunk_idx,
       |         toks[CAST(i*20 + 1 AS INT):CAST(i*20 + 20 AS INT)] AS ctoks
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(0, CAST(floor((len(toks)-1)/20) AS BIGINT))) AS i
       |        FROM (SELECT doc_id, $toks AS toks FROM documents))),
       |semtw AS (
       |  SELECT doc_id, chunk_idx, token,
       |         count(*) * (1.0 + (length(token) % 5) * 0.25) AS w
       |  FROM (SELECT doc_id, chunk_idx, unnest(ctoks) AS token FROM semchunks)
       |  GROUP BY doc_id, chunk_idx, token)""".stripMargin
  }

  /** chunked dense sub-field CTE (parity with Semantic.ingestDense, dims 8),
   *  built on semtw: semdv(doc_id, chunk_idx, dim, v) */
  private val SemDvCte =
    """semdv AS (
      |  SELECT doc_id, chunk_idx,
      |         (length(token)*31 + ascii(substr(token,1,1))) % 8 AS dim,
      |         sum(w) AS v
      |  FROM semtw GROUP BY doc_id, chunk_idx, 3)""".stripMargin

  /** cosine matching Ann.cosine's association exactly */
  private def cosSql(a: String, b: String): String = {
    def d(x: String, y: String) =
      s"list_dot_product(CAST($x AS DOUBLE[]), CAST($y AS DOUBLE[]))"
    s"(${d(a, b)} / (sqrt(${d(a, a)}) * sqrt(${d(b, b)})))"
  }

  /** score CTE for one sub-query clause: sq$i(doc_id, s). `filterPred` is a
   *  predicate template over the alias's doc-id column. The id is a STRING
   *  so nested bool clauses can prefix their children's CTE names. */
  /** Per-field token-position / dl / df / stats chain for the positional
   *  multi_match oracles: field "text" reuses the shared chains from
   *  TOK_CTE, field "path" re-derives the corpus path projection
   *  (Corpus.ingest) and tokenizes with the simple-analyzer-equivalent
   *  regexp split. Returns (tokp, dl, df, stats, prefix-CTEs). */
  private def posFieldChain(i: String, j: Int, f: String): (String, String, String, String, String) = f match {
    case "text" =>
      val p =
        s"""tokp${i}_$j AS (
           |  SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS pos
           |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
           |        FROM documents)),
           |""".stripMargin
      (s"tokp${i}_$j", "dl", "df", "stats", p)
    case "path" =>
      val p =
        s"""crp${i}_$j AS (
           |  SELECT doc_id,
           |         $PathFvSql AS fv
           |  FROM documents),
           |ptokp${i}_$j AS (
           |  SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS pos
           |  FROM (SELECT doc_id, list_filter(
           |    string_split(regexp_replace(lower(fv), '[^a-z0-9]+', ' ', 'g'), ' '),
           |    x -> x <> '') AS l FROM crp${i}_$j)),
           |pdl${i}_$j AS (SELECT doc_id, count(*) AS dl FROM ptokp${i}_$j GROUP BY doc_id),
           |pdf${i}_$j AS (SELECT term, count(DISTINCT doc_id) AS df FROM ptokp${i}_$j GROUP BY term),
           |pstats${i}_$j AS (SELECT (SELECT count(*) FROM documents) AS n,
           |  (SELECT sum(dl)*1.0/(SELECT count(*) FROM documents) FROM pdl${i}_$j) AS avgdl),
           |""".stripMargin
      (s"ptokp${i}_$j", s"pdl${i}_$j", s"pdf${i}_$j", s"pstats${i}_$j", p)
    case other => throw new IllegalArgumentException(
      s"no oracle token chain for multi_match field [$other]")
  }

  private def scoreCte(i: String, sq: SubQuery, filterPred: Option[String]): String = sq match {
    case LexicalMsm(terms, m, boosts) =>
      // `operator: and` / term-level minimum_should_match: the Lexical BM25
      // sum gated on the count of DISTINCT matched query terms (tf rows are
      // one per (doc, term), so count(*) is that count)
      val f = filterPred.map(p => s" AND tf.${p}").getOrElse("")
      val boostSql =
        if (boosts.isEmpty) ""
        else "\n              * (CASE tf.term " +
          boosts.toSeq.sortBy(_._1).map { case (t, b) => s"WHEN '$t' THEN $b" }.mkString(" ") +
          " ELSE 1.0 END)"
      s"""sq$i AS (
         |  SELECT tf.doc_id,
         |         sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))$boostSql
         |              * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) ) AS s
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
         |  WHERE tf.term IN (${termList(terms)})$f
         |  GROUP BY tf.doc_id
         |  HAVING count(*) >= $m)""".stripMargin
    case MatchAll(boost) =>
      // every live doc at the constant boost score (dl covers the universe)
      val f = filterPred.map(p => s"\n  WHERE dl.${p}").getOrElse("")
      s"""sq$i AS (
         |  SELECT dl.doc_id, $boost AS s FROM dl$f)""".stripMargin
    case b: BoolSub =>
      boolClauseCtes(i, b, filterPred)
    case TermPattern(p, boost) =>
      // constant-score multi-term: distinct docs containing any LIKE-matched
      // term (both engines evaluate the identical LIKE pattern)
      val f = filterPred.map(x => s" AND ${x}").getOrElse("")
      s"""sq$i AS (
         |  SELECT doc_id, $boost AS s
         |  FROM (SELECT DISTINCT doc_id FROM tf WHERE term LIKE '$p'$f))""".stripMargin
    case ConstantScore(inner, boost) =>
      s"""${scoreCte(s"${i}w", inner, filterPred)},
         |sq$i AS (SELECT doc_id, $boost AS s FROM sq${i}w)""".stripMargin
    case Fuzzy(t, f, boost, transpositions) =>
      // DuckDB re-derives the same distance: classic levenshtein, or the
      // unrestricted Damerau-Levenshtein (transposition = one edit) that
      // graft.functions.StringMath.damerau computes — DuckDB's
      // damerau_levenshtein is the same Lowrance-Wagner variant
      val fn = if (transpositions) "damerau_levenshtein" else "levenshtein"
      val flt = filterPred.map(x => s" AND ${x}").getOrElse("")
      s"""sq$i AS (
         |  SELECT doc_id, $boost AS s
         |  FROM (SELECT DISTINCT doc_id FROM tf
         |        WHERE abs(length(term) - ${t.length}) <= $f
         |          AND $fn(term, '$t') <= $f$flt))""".stripMargin
    case DisMax(clauses, tb) =>
      val ctes = clauses.zipWithIndex
        .map { case (c, j) => scoreCte(s"${i}c$j", c, filterPred) }.mkString(",\n")
      val unions = clauses.indices.map(j =>
        s"SELECT doc_id, s, $j AS cid FROM sq${i}c$j").mkString("\n  UNION ALL ")
      val pivots = clauses.indices.map(j =>
        s"max(CASE WHEN cid = $j THEN s END) AS s$j").mkString(",\n         ")
      val mSum = clauses.indices.map(j => s"COALESCE(s$j, 0)").mkString("(", " + ", ")")
      val score = if (tb == 0.0) "mx" else s"mx + $tb * ($mSum - mx)"
      s"""$ctes,
         |u$i AS (
         |  $unions),
         |a$i AS (
         |  SELECT doc_id, $pivots,
         |         max(s) AS mx
         |  FROM u$i GROUP BY doc_id),
         |sq$i AS (SELECT doc_id, $score AS s FROM a$i)""".stripMargin
    case IdsQ(ids, boost) =>
      val f = filterPred.map(p => s" AND dl.${p}").getOrElse("")
      s"""sq$i AS (
         |  SELECT dl.doc_id, $boost AS s FROM dl
         |  WHERE dl.doc_id IN (${ids.mkString(", ")})$f)""".stripMargin
    case TermsSet(values, boost) =>
      val f = filterPred.map(p => s" AND ${p}").getOrElse("")
      s"""sq$i AS (
         |  SELECT doc_id, $boost AS s
         |  FROM (SELECT DISTINCT doc_id FROM tf
         |        WHERE term IN (${termList(values)})$f))""".stripMargin
    case RangeQ(f, gte, gt, lte, lt, boost) =>
      // constant-score stored-field range — re-derived straight off the
      // documents table
      val conds = (gte.map(v => s"$f >= $v") ++ gt.map(v => s"$f > $v") ++
        lte.map(v => s"$f <= $v") ++ lt.map(v => s"$f < $v")).mkString(" AND ")
      val flt = filterPred.map(p => s" AND ${p}").getOrElse("")
      s"""sq$i AS (
         |  SELECT doc_id, $boost AS s FROM documents
         |  WHERE $conds$flt)""".stripMargin
    case TermsSetFieldQ(ts, msmField, boost) =>
      // per-doc msm re-derived from the same deterministic field expression
      // the entry stores (required_matches = 1 + doc_id % 3); BM25 sum +
      // distinct-matched count in ONE grouped pass, field join after
      require(msmField == "required_matches",
        s"oracle supports msm field [required_matches], got [$msmField]")
      val f = filterPred.map(p => s" AND tf.${p}").getOrElse("")
      s"""sq$i AS (
         |  SELECT x.doc_id, x.s * $boost AS s FROM (
         |    SELECT tf.doc_id, $Bm25Sum AS s, count(DISTINCT tf.term) AS nm
         |    FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
         |    WHERE tf.term IN (${termList(ts.distinct)})$f
         |    GROUP BY tf.doc_id) x
         |  JOIN documents d ON d.doc_id = x.doc_id
         |  WHERE x.nm >= greatest(1 + d.doc_id % 3, 1))""".stripMargin
    case TermsLookupQ(id, path, boost) =>
      // the lookup doc's analyzed tokens ARE its tf rows (path = text);
      // from there identical to the inline terms form
      require(path == "text", s"oracle supports terms lookup on [text], got [$path]")
      val f = filterPred.map(p => s" AND ${p}").getOrElse("")
      s"""sq$i AS (
         |  SELECT doc_id, $boost AS s
         |  FROM (SELECT DISTINCT doc_id FROM tf
         |        WHERE term IN (SELECT DISTINCT term FROM tf WHERE doc_id = $id)$f))""".stripMargin
    case MatchNoneQ =>
      s"""sq$i AS (SELECT dl.doc_id, 0.0 AS s FROM dl WHERE FALSE)""".stripMargin
    case RegexPattern(p, boost) =>
      // regexp_full_match anchors the whole term, matching Lucene's (and
      // the engine's ^(?:…)$-wrapped) whole-term semantics
      val f = filterPred.map(x => s" AND ${x}").getOrElse("")
      s"""sq$i AS (
         |  SELECT doc_id, $boost AS s
         |  FROM (SELECT DISTINCT doc_id FROM tf
         |        WHERE regexp_full_match(term, '$p')$f))""".stripMargin
    case ExistsQ(fld, boost) =>
      // oracle covers the primary text field: exists = the doc produced at
      // least one token (tf has no row otherwise); fieldIdx-backed exists
      // is covered by the unit suite's discriminating corpus
      require(fld == "text", s"oracle exists supports the text field, got [$fld]")
      val f = filterPred.map(p => s" WHERE ${p}").getOrElse("")
      s"""sq$i AS (
         |  SELECT doc_id, $boost AS s
         |  FROM (SELECT DISTINCT doc_id FROM tf$f))""".stripMargin
    case SpanNearQ(ts, slop, inOrder, boost) =>
      // one position alias per span slot over the zip-unnest token list;
      // ordered chains strictly-increasing joins, unordered requires
      // pairwise-distinct positions and bounds the width with
      // greatest-least (exactly the engine's span-width rule)
      val f = filterPred.map(p => s" AND t0.$p").getOrElse("")
      val k = ts.size
      val joins = ts.zipWithIndex.tail.map { case (t, j) =>
        val ordPred =
          if (inOrder) s"t$j.pos > t${j - 1}.pos"
          else (0 until j).map(m => s"t$j.pos <> t$m.pos").mkString(" AND ")
        s"JOIN tokp$i t$j ON t$j.doc_id = t0.doc_id AND t$j.term = '$t' AND $ordPred"
      }.mkString("\n        ")
      val width =
        if (inOrder) s"t${k - 1}.pos - t0.pos + 1 - $k"
        else {
          val ps = ts.indices.map(j => s"t$j.pos").mkString(", ")
          s"greatest($ps) - least($ps) + 1 - $k"
        }
      s"""tokp$i AS (
         |  SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS pos
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
         |        FROM documents)),
         |sq$i AS (
         |  SELECT doc_id, $boost AS s FROM (
         |    SELECT DISTINCT t0.doc_id
         |    FROM tokp$i t0
         |        $joins
         |    WHERE t0.term = '${ts.head}'$f
         |      AND ($width) <= $slop))""".stripMargin
    case SpanNearMaskedQ(slots, slop, inOrder, boost) =>
      // masked span_near: per-slot position stream — text slots read the
      // zip-unnest token list, masked `path` slots re-derive the corpus
      // path expression and tokenize it with the simple-analyzer-equivalent
      // regexp split (positions 0-based over the non-empty tokens, exactly
      // the engine's positional index); width arithmetic identical to the
      // unmasked case
      val f = filterPred.map(p => s" AND t0.$p").getOrElse("")
      val k = slots.size
      def streamOf(field: String): String = field match {
        case "text" => s"tokp$i"
        case "path" => s"ptokp$i"
        case other => throw new IllegalArgumentException(
          s"no oracle position stream for masked field [$other]")
      }
      val textCte =
        if (!slots.exists(_._1 == "text")) ""
        else
          s"""tokp$i AS (
             |  SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
             |        FROM documents)),
             |""".stripMargin
      val pathCte =
        if (!slots.exists(_._1 == "path")) ""
        else
          s"""ptokp$i AS (
             |  SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split(
             |          regexp_replace(lower($PathFvSql),
             |            '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS l
             |        FROM documents)),
             |""".stripMargin
      val joins = slots.zipWithIndex.tail.map { case ((fld, t), j) =>
        val ordPred =
          if (inOrder) s"t$j.pos > t${j - 1}.pos"
          else (0 until j).map(m => s"t$j.pos <> t$m.pos").mkString(" AND ")
        s"JOIN ${streamOf(fld)} t$j ON t$j.doc_id = t0.doc_id AND t$j.term = '$t' AND $ordPred"
      }.mkString("\n        ")
      val width =
        if (inOrder) s"t${k - 1}.pos - t0.pos + 1 - $k"
        else {
          val ps = slots.indices.map(j => s"t$j.pos").mkString(", ")
          s"greatest($ps) - least($ps) + 1 - $k"
        }
      s"""$textCte${pathCte}sq$i AS (
         |  SELECT doc_id, $boost AS s FROM (
         |    SELECT DISTINCT t0.doc_id
         |    FROM ${streamOf(slots.head._1)} t0
         |        $joins
         |    WHERE t0.term = '${slots.head._2}'$f
         |      AND ($width) <= $slop))""".stripMargin
    case IntervalsQ(isrc, boost) =>
      // composed-intervals oracle, supported for two SQL-re-derivable
      // shapes; general trees are covered by IntervalsSpec's brute-force
      // model.
      //
      //  (a) all_of(ordered)[P1, P2] where P1/P2 are POINT sources
      //      (single-term match, term-set, prefix/wildcard/fuzzy expansion,
      //      any_of of point sources): width-1 leaves are already minimal
      //      intervals, so existence reduces to one ordered position pair
      //      with interior gaps within budget. The pattern leaves'
      //      dictionary expansion is re-derived by DuckDB as a predicate on
      //      the token itself (LIKE / damerau_levenshtein) — semantically
      //      identical to expanding the dictionary then matching members.
      //
      //  (b) a FILTERED ordered 2-distinct-term match: the minimal windows
      //      of (a..b ordered) are exactly the adjacent pairs — pb is the
      //      FIRST b after pa AND pa is the LAST a before pb (any interior
      //      a- or b-position would nest a smaller window) — re-derived via
      //      two grouped aggregations, then the width budget and the point
      //      filter (containing/overlapping = a filter position inside
      //      [pa,pb]; before/after = one past the window edge) apply per
      //      minimal window.
      import graft.query.Intervals
      def pointPred(s: Intervals.Source, c: String): Option[String] = s match {
        case Intervals.IMatch(Seq(t), _, _) => Some(s"$c = '$t'")
        case Intervals.ITermSet(ts) if ts.nonEmpty => Some(s"$c IN (${termList(ts)})")
        case Intervals.IPrefix(p, _) => Some(s"$c LIKE '$p%'")
        case Intervals.IWildcard(p, _) =>
          Some(s"$c LIKE '${p.replace('*', '%').replace('?', '_')}'")
        case Intervals.IRegexp(p, _) =>
          Some(s"regexp_full_match($c, '$p')")
        case Intervals.IFuzzy(t, f, pl, tr, _) =>
          val fn = if (tr) "damerau_levenshtein" else "levenshtein"
          val pre = if (pl == 0) "" else s" AND substring($c, 1, $pl) = '${t.take(pl)}'"
          Some(s"(abs(length($c) - ${t.length}) <= $f AND $fn($c, '$t') <= $f$pre)")
        case Intervals.IAnyOf(ss) =>
          val subs = ss.map(pointPred(_, c))
          if (subs.forall(_.isDefined)) Some(subs.flatten.mkString("(", " OR ", ")"))
          else None
        case _ => None
      }
      val tokpCte =
        s"""tokp$i AS (
           |  SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS pos
           |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
           |        FROM documents))""".stripMargin
      isrc match {
        // a bare point source (standalone span_multi / single multi-term
        // rule): existence of any expansion-term position
        case p if pointPred(p, "t0.term").isDefined =>
          val f = filterPred.map(x => s" AND t0.$x").getOrElse("")
          s"""$tokpCte,
             |sq$i AS (
             |  SELECT doc_id, $boost AS s FROM (
             |    SELECT DISTINCT t0.doc_id FROM tokp$i t0
             |    WHERE ${pointPred(p, "t0.term").get}$f))""".stripMargin
        case Intervals.IAllOf(Seq(s1, s2), mg, ordered)
            if pointPred(s1, "t0.term").isDefined && pointPred(s2, "t1.term").isDefined =>
          val f = filterPred.map(p => s" AND t0.$p").getOrElse("")
          val posCond =
            if (ordered) "t1.pos > t0.pos" else "t1.pos <> t0.pos"
          val widthExpr =
            if (ordered) "(t1.pos - t0.pos + 1)"
            else "(greatest(t0.pos, t1.pos) - least(t0.pos, t1.pos) + 1)"
          // -1 = unlimited gaps: the width budget drops out entirely
          val gapCond =
            if (mg < 0) "" else s" AND $widthExpr - 2 <= $mg"
          s"""$tokpCte,
             |sq$i AS (
             |  SELECT doc_id, $boost AS s FROM (
             |    SELECT DISTINCT t0.doc_id
             |    FROM tokp$i t0 JOIN tokp$i t1 ON t1.doc_id = t0.doc_id
             |    WHERE ${pointPred(s1, "t0.term").get} AND ${pointPred(s2, "t1.term").get}$f
             |      AND $posCond$gapCond))""".stripMargin
        case Intervals.IFiltered(Intervals.IMatch(Seq(a, b), mg, true), kind, fsrc)
            if a != b && pointPred(fsrc, "f.term").isDefined =>
          val fp = pointPred(fsrc, "f.term").get
          val gapCond =
            if (mg < 0) "" else s"AND (pb - pa + 1) - 2 <= $mg"
          val exists =
            s"""EXISTS (SELECT 1 FROM tokp$i f
               |        WHERE f.doc_id = w.doc_id AND $fp AND f.pos BETWEEN w.pa AND w.pb)"""
              .stripMargin
          val beforeE =
            s"""EXISTS (SELECT 1 FROM tokp$i f
               |        WHERE f.doc_id = w.doc_id AND $fp AND f.pos > w.pb)""".stripMargin
          val afterE =
            s"""EXISTS (SELECT 1 FROM tokp$i f
               |        WHERE f.doc_id = w.doc_id AND $fp AND f.pos < w.pa)""".stripMargin
          val kindPred = kind match {
            case Intervals.FContaining | Intervals.FOverlapping => exists
            case Intervals.FNotContaining | Intervals.FNotOverlapping => s"NOT $exists"
            case Intervals.FBefore => beforeE
            case Intervals.FAfter => afterE
            case other => throw new IllegalArgumentException(
              s"intervals oracle: filter kind [${other.name}] over a 2-term window " +
                "has no point-filter SQL shape (contained_by against a point is vacuous)")
          }
          val f = filterPred.map(p => s" AND w.$p").getOrElse("")
          s"""$tokpCte,
             |win$i AS (
             |  SELECT doc_id, max(pa) AS pa, pb FROM (
             |    SELECT ta.doc_id, ta.pos AS pa, min(tb.pos) AS pb
             |    FROM tokp$i ta JOIN tokp$i tb
             |      ON tb.doc_id = ta.doc_id AND tb.term = '$b' AND tb.pos > ta.pos
             |    WHERE ta.term = '$a'
             |    GROUP BY ta.doc_id, ta.pos)
             |  GROUP BY doc_id, pb),
             |sq$i AS (
             |  SELECT doc_id, $boost AS s FROM (
             |    SELECT DISTINCT w.doc_id FROM win$i w
             |    WHERE $kindPred $gapCond$f))""".stripMargin
        case other => throw new IllegalArgumentException(
          "intervals oracle supports all_of(ordered)[point, point] and " +
            s"filtered ordered 2-term match shapes only, got $other")
      }
    case MoreLikeThisQ(likeId, maxQ, mtf, mdf, ratio) =>
      // deterministic term selection (tf x idf desc, term asc, LIMIT) then
      // the msm-gated disjunction, source doc excluded — both stages
      // re-derived by DuckDB from the same token stream
      val f = filterPred.map(p => s" AND tf.${p}").getOrElse("")
      s"""mltf$i AS (SELECT term, tf FROM tf WHERE doc_id = $likeId AND tf >= $mtf),
         |sel$i AS (
         |  SELECT mltf$i.term
         |  FROM mltf$i JOIN df USING (term) CROSS JOIN stats
         |  WHERE df.df >= $mdf
         |  ORDER BY mltf$i.tf * ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5)) DESC,
         |           mltf$i.term ASC
         |  LIMIT $maxQ),
         |msm$i AS (SELECT greatest(1, CAST(floor($ratio * count(*)) AS INT)) AS m FROM sel$i),
         |sq$i AS (
         |  SELECT doc_id, s FROM (
         |    SELECT tf.doc_id,
         |           sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
         |                * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) ) AS s,
         |           count(*) AS nm
         |    FROM tf JOIN sel$i USING (term) JOIN dl USING (doc_id)
         |         JOIN df USING (term) CROSS JOIN stats
         |    WHERE tf.doc_id <> $likeId$f
         |    GROUP BY tf.doc_id) x CROSS JOIN msm$i
         |  WHERE x.nm >= msm$i.m)""".stripMargin
    case Boosting(pos, neg, nb) =>
      s"""${scoreCte(s"${i}p", pos, filterPred)},
         |${scoreCte(s"${i}n", neg, filterPred)},
         |sq$i AS (
         |  SELECT p.doc_id,
         |         p.s * (CASE WHEN n.doc_id IS NOT NULL THEN $nb ELSE 1.0 END) AS s
         |  FROM sq${i}p p LEFT JOIN sq${i}n n ON p.doc_id = n.doc_id)""".stripMargin
    case SpanFirstQ(t, end, boost) =>
      // the tokp positions CTE (same zip-unnest as span_near): term span
      // ends within the first `end` positions <=> pos < end
      val f = filterPred.map(p => s" AND $p").getOrElse("")
      s"""tokp$i AS (
         |  SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS pos
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
         |        FROM documents)),
         |sq$i AS (
         |  SELECT doc_id, $boost AS s FROM (
         |    SELECT DISTINCT doc_id FROM tokp$i
         |    WHERE term = '$t' AND pos < $end$f))""".stripMargin
    case SpanNotQ(inc, exc, pre, post, boost) =>
      val f = filterPred.map(p => s" AND i.$p").getOrElse("")
      s"""tokp$i AS (
         |  SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS pos
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
         |        FROM documents)),
         |sq$i AS (
         |  SELECT doc_id, $boost AS s FROM (
         |    SELECT DISTINCT i.doc_id FROM tokp$i i
         |    WHERE i.term = '$inc'$f
         |      AND NOT EXISTS (
         |        SELECT 1 FROM tokp$i e
         |        WHERE e.doc_id = i.doc_id AND e.term = '$exc'
         |          AND e.pos BETWEEN i.pos - $pre AND i.pos + $post)))""".stripMargin
    case ScriptScoreQ(inner, fn, qv, boost) =>
      val vlist = s"CAST(${qv.mkString("[", ", ", "]")} AS DOUBLE[])"
      val fnSql = fn match {
        case CosinePlusOne => s"(${cosSql("e.embedding", vlist)} + 1.0)"
        case InnerProd =>
          s"list_dot_product(CAST(e.embedding AS DOUBLE[]), $vlist)"
        case InvL2 =>
          // left-to-right squared-diff sum, matching zip_with + aggregate
          s"(1.0 / (1.0 + list_sum(list_transform(" +
            s"list_zip(CAST(e.embedding AS DOUBLE[]), $vlist), " +
            "x -> (x[1] - x[2]) * (x[1] - x[2])))))"
      }
      s"""${scoreCte(s"${i}q", inner, filterPred)},
         |sq$i AS (
         |  SELECT q.doc_id, $fnSql * $boost AS s
         |  FROM sq${i}q q JOIN embeddings e ON e.vec_id = q.doc_id)""".stripMargin
    case SpanContainingQ(big, slop, inOrder, little, boost) =>
      // oracle generator covers the k=2 big the entries use; general k and
      // the unordered DFS are exercised by PhraseSpec against brute force
      require(big.size == 2, "oracle SQL generator supports 2-term big spans")
      val Seq(t1, t2) = big
      val f = filterPred.map(p => s" AND b1.$p").getOrElse("")
      val widthPred =
        if (inOrder) s"b1.pos < b2.pos AND b2.pos - b1.pos - 1 <= $slop"
        else s"b1.pos <> b2.pos AND abs(b2.pos - b1.pos) - 1 <= $slop"
      val (lo, hi) =
        if (inOrder) ("b1.pos", "b2.pos")
        else ("least(b1.pos, b2.pos)", "greatest(b1.pos, b2.pos)")
      s"""tokp$i AS (
         |  SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS pos
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
         |        FROM documents)),
         |sq$i AS (
         |  SELECT doc_id, $boost AS s FROM (
         |    SELECT DISTINCT b1.doc_id
         |    FROM tokp$i b1 JOIN tokp$i b2 ON b2.doc_id = b1.doc_id
         |    JOIN tokp$i l ON l.doc_id = b1.doc_id
         |    WHERE b1.term = '$t1' AND b2.term = '$t2' AND l.term = '$little'
         |      AND $widthPred
         |      AND l.pos BETWEEN $lo AND $hi$f))""".stripMargin
    case HasChildQ(rel, terms, mode, minC, maxC, boost) =>
      // oracle models the entries' registered relation: fixed-token-12
      // chunks of the documents table
      require(rel == "chunks", "oracle SQL supports the [chunks] relation")
      val termsArr = terms.distinct.map(t => s"'$t'").mkString("[", ", ", "]")
      val modeSql = mode match {
        case "none" => "1.0"
        case "sum"  => "sum(cs)"
        case "avg"  => "avg(cs)"
        case "max"  => "max(cs)"
        case "min"  => "min(cs)"
      }
      val maxSql = if (maxC == Int.MaxValue) "" else s" AND count(*) <= $maxC"
      val f = filterPred.map(p => s" AND $p").getOrElse("")
      s"""ch$i AS (
         |  SELECT doc_id,
         |         toks[CAST(j*12 + 1 AS INT):CAST(j*12 + 12 AS INT)] AS ctoks
         |  FROM (SELECT doc_id, toks,
         |          unnest(generate_series(0, CAST(floor((len(toks)-1)/12) AS BIGINT))) AS j
         |        FROM (SELECT doc_id,
         |                list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |              FROM documents))),
         |cs$i AS (
         |  SELECT doc_id,
         |         CAST(len(list_distinct(list_intersect(ctoks, $termsArr))) AS DOUBLE) AS cs
         |  FROM ch$i),
         |sq$i AS (
         |  SELECT doc_id, $modeSql * $boost AS s
         |  FROM cs$i WHERE cs > 0$f GROUP BY doc_id
         |  HAVING count(*) >= $minC$maxSql)""".stripMargin
    case PinnedQ(ids, organic) =>
      val pinCase = ids.zipWithIndex
        .map { case (id, j) => s"WHEN $id THEN ${PinnedQ.PinBase - j}" }
        .mkString(" ")
      val f = filterPred.map(p => s" AND dl.${p}").getOrElse("")
      s"""${scoreCte(s"${i}o", organic, filterPred)},
         |sq$i AS (
         |  SELECT dl.doc_id, CASE dl.doc_id $pinCase END AS s FROM dl
         |  WHERE dl.doc_id IN (${ids.mkString(", ")})$f
         |  UNION ALL
         |  SELECT doc_id, s FROM sq${i}o
         |  WHERE doc_id NOT IN (${ids.mkString(", ")}))""".stripMargin
    case DistanceFeatureQ(fld, origin, pivot, boost) =>
      val f = filterPred.map(p => s" AND dl.${p}").getOrElse("")
      s"""sq$i AS (
         |  SELECT dl.doc_id,
         |         $boost * $pivot / ($pivot + abs(CAST(d.$fld AS DOUBLE) - $origin)) AS s
         |  FROM dl JOIN documents d USING (doc_id)
         |  WHERE TRUE$f)""".stripMargin
    case RankFeatureQ(token, fn, pivot, sf, expn, boost, pos) =>
      val f = filterPred.map(p => s" AND ${p}").getOrElse("")
      val s = fn match {
        case "saturation" =>
          if (pos) s"(w / (w + $pivot))" else s"($pivot / (w + $pivot))"
        case "log"     => s"ln(w + $sf)"
        case "sigmoid" => s"(pow(w, $expn) / (pow(w, $expn) + pow($pivot, $expn)))"
        case "linear"  => "w"
      }
      s"""sq$i AS (
         |  SELECT doc_id, $s * $boost AS s FROM htw WHERE token = '$token'$f)""".stripMargin
    case FunctionScore(inner, fns, scoreMode, boostMode, maxBoost) =>
      // same math as Hybrid.scoreFunctionScore, re-derived in SQL: inner
      // score cte, one documents join for field values, one left join per
      // function filter, factor expression folded per score/boost mode
      val innerCte = scoreCte(s"${i}q", inner, filterPred)
      val filterCtes = fns.zipWithIndex.collect {
        case (fn, j) if fn.filter.nonEmpty =>
          scoreCte(s"${i}f$j", fn.filter.get, filterPred)
      }
      val fieldsNeeded = fns.collect {
        case f: FieldValueFactorFn => f.field
        case d: DecayFn            => d.field
      }.distinct
      val docJoin =
        if (fieldsNeeded.isEmpty) ""
        else "\n  LEFT JOIN documents d ON q.doc_id = d.doc_id"
      val fltJoins = fns.zipWithIndex.collect {
        case (fn, j) if fn.filter.nonEmpty =>
          s"\n  LEFT JOIN (SELECT DISTINCT doc_id FROM sq${i}f$j) f$j ON q.doc_id = f$j.doc_id"
      }.mkString
      def m(j: Int) =
        if (fns(j).filter.nonEmpty) s"(f$j.doc_id IS NOT NULL)" else "TRUE"
      def rawSql(fn: ScoreFn): String = fn match {
        case _: WeightFn => "1.0"
        case f: FieldValueFactorFn =>
          val v0 = s"CAST(d.${f.field} AS DOUBLE)"
          val fv = s"(${f.missing.fold(v0)(ms => s"COALESCE($v0, $ms)")} * ${f.factor})"
          f.modifier match {
            case "none"       => fv
            case "log"        => s"log10($fv)"
            case "log1p"      => s"log10($fv + 1.0)"
            case "log2p"      => s"log10($fv + 2.0)"
            case "ln"         => s"ln($fv)"
            case "ln1p"       => s"ln($fv + 1.0)"
            case "ln2p"       => s"ln($fv + 2.0)"
            case "sqrt"       => s"sqrt($fv)"
            case "square"     => s"($fv * $fv)"
            case "reciprocal" => s"(1.0 / $fv)"
          }
        case dc: DecayFn =>
          val dist =
            s"greatest(0.0, abs(CAST(d.${dc.field} AS DOUBLE) - ${dc.origin}) - ${dc.offset})"
          dc.kind match {
            case "gauss" =>
              val sigma2 = -dc.scale * dc.scale / (2.0 * math.log(dc.decay))
              s"exp(($dist * $dist) * ${-1.0 / (2.0 * sigma2)})"
            case "exp" => s"exp($dist * ${math.log(dc.decay) / dc.scale})"
            case "linear" =>
              val sc = dc.scale / (1.0 - dc.decay)
              s"greatest(0.0, 1.0 - $dist / $sc)"
          }
      }
      def w(j: Int) = s"(${rawSql(fns(j))} * ${fns(j).weight})"
      val any = fns.indices.map(m).mkString("(", " OR ", ")")
      val combined = scoreMode match {
        case "multiply" =>
          fns.indices.map(j => s"(CASE WHEN ${m(j)} THEN ${w(j)} ELSE 1.0 END)")
            .mkString(" * ")
        case "sum" =>
          fns.indices.map(j => s"(CASE WHEN ${m(j)} THEN ${w(j)} ELSE 0.0 END)")
            .mkString(" + ")
        case "max" =>
          "greatest(" + fns.indices.map(j =>
            s"CASE WHEN ${m(j)} THEN ${w(j)} END").mkString(", ") + ")"
        case "min" =>
          "least(" + fns.indices.map(j =>
            s"CASE WHEN ${m(j)} THEN ${w(j)} END").mkString(", ") + ")"
        case "avg" =>
          val num = fns.indices.map(j =>
            s"(CASE WHEN ${m(j)} THEN ${w(j)} ELSE 0.0 END)").mkString(" + ")
          val den = fns.indices.map(j =>
            s"(CASE WHEN ${m(j)} THEN ${fns(j).weight} ELSE 0.0 END)").mkString(" + ")
          s"($num) / ($den)"
        case "first" =>
          "CASE " + fns.indices.map(j =>
            s"WHEN ${m(j)} THEN ${w(j)}").mkString(" ") + " ELSE 1.0 END"
      }
      val factor0 = s"(CASE WHEN $any THEN $combined ELSE 1.0 END)"
      val factor =
        if (maxBoost == Double.MaxValue) factor0 else s"least($factor0, $maxBoost)"
      val score = boostMode match {
        case "multiply" => s"q.s * $factor"
        case "replace"  => factor
        case "sum"      => s"q.s + $factor"
        case "avg"      => s"(q.s + $factor) / 2.0"
        case "max"      => s"greatest(q.s, $factor)"
        case "min"      => s"least(q.s, $factor)"
      }
      s"""$innerCte${if (filterCtes.nonEmpty) filterCtes.mkString(",\n", ",\n", "") else ""},
         |sq$i AS (
         |  SELECT q.doc_id, $score AS s
         |  FROM sq${i}q q$docJoin$fltJoins)""".stripMargin
    case Lexical(terms, boosts) =>
      val f = filterPred.map(p => s" AND tf.${p}").getOrElse("")
      val boostSql =
        if (boosts.isEmpty) ""
        else "\n              * (CASE tf.term " +
          boosts.toSeq.sortBy(_._1).map { case (t, b) => s"WHEN '$t' THEN $b" }.mkString(" ") +
          " ELSE 1.0 END)"
      val sum =
        s"""sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))$boostSql
           |              * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) )""".stripMargin
      s"""sq$i AS (
         |  SELECT tf.doc_id, $sum AS s
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
         |  WHERE tf.term IN (${termList(terms)})$f
         |  GROUP BY tf.doc_id)""".stripMargin
    case LexicalSyn(groups) =>
      // synonym-graph match: per position group, SynonymQuery scoring — tf
      // summed BEFORE saturation, df = max member df (the bm25_synonym
      // oracle shape) — then positions sum via the fixed-order pivot the
      // multi_match oracle uses, mirroring the engine's coalesce-sum
      val f = filterPred.map(p => s" AND tf.${p}").getOrElse("")
      val groupCtes = groups.zipWithIndex.map { case ((g, b), gi) =>
        if (g.size == 1)
          s"""sq${i}g$gi AS (
             |  SELECT tf.doc_id,
             |         (sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
             |              * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) )) * $b AS s
             |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
             |  WHERE tf.term IN (${termList(g)})$f
             |  GROUP BY tf.doc_id)""".stripMargin
        else
          s"""syn${i}g$gi AS (
             |  SELECT tf.doc_id, sum(tf.tf) AS stf FROM tf
             |  WHERE tf.term IN (${termList(g)})$f GROUP BY tf.doc_id),
             |mdf${i}g$gi AS (SELECT max(df) AS df FROM df WHERE term IN (${termList(g)})),
             |sq${i}g$gi AS (
             |  SELECT syn.doc_id,
             |         (ln(1 + (stats.n - mdf.df + 0.5)/(mdf.df + 0.5))
             |          * (syn.stf / (syn.stf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl)))) * $b AS s
             |  FROM syn${i}g$gi syn JOIN dl USING (doc_id)
             |       CROSS JOIN mdf${i}g$gi mdf CROSS JOIN stats)""".stripMargin
      }.mkString(",\n")
      val unions = groups.indices.map(gi =>
        s"SELECT doc_id, s, $gi AS gid FROM sq${i}g$gi").mkString("\n        UNION ALL ")
      val pivots = groups.indices.map(gi =>
        s"max(CASE WHEN gid = $gi THEN s END) AS g$gi").mkString(",\n               ")
      val cSum = groups.indices.map(gi => s"COALESCE(g$gi, 0)").mkString("(", " + ", ")")
      s"""$groupCtes,
         |sq$i AS (
         |  SELECT doc_id, $cSum AS s
         |  FROM (SELECT doc_id,
         |               $pivots
         |        FROM ($unions) u$i
         |        GROUP BY doc_id) p$i)""".stripMargin
    case LexicalMulti(fields, terms, CrossFields) =>
      // cross_fields: per term the df blends to the MAX across fields; each
      // field scores the term with the blended idf imposed through the
      // boost channel exactly as the engine composes it
      // ((idf_f * ((b * idf_blend) / idf_f)) * tfNorm); per (doc, term) the
      // best field wins, terms sum in fixed query order
      val uniq = terms.distinct
      val chains = fields.zipWithIndex.map { case ((f, _), j) =>
        f match {
          case "text" => ("tf", "dl", "df", "stats", "")
          case "path" =>
            val pre =
              s"""crp${i}_$j AS (
                 |  SELECT doc_id,
                 |         $PathFvSql AS fv
                 |  FROM documents),
                 |ptok${i}_$j AS (
                 |  SELECT doc_id, unnest(list_filter(
                 |    string_split(regexp_replace(lower(fv), '[^a-z0-9]+', ' ', 'g'), ' '),
                 |    x -> x <> '')) AS term FROM crp${i}_$j),
                 |ptf${i}_$j AS (SELECT doc_id, term, count(*) AS tf FROM ptok${i}_$j GROUP BY doc_id, term),
                 |pdl${i}_$j AS (SELECT doc_id, count(*) AS dl FROM ptok${i}_$j GROUP BY doc_id),
                 |pdf${i}_$j AS (SELECT term, count(*) AS df FROM ptf${i}_$j GROUP BY term),
                 |pstats${i}_$j AS (SELECT (SELECT count(*) FROM documents) AS n,
                 |  (SELECT sum(dl)*1.0/(SELECT count(*) FROM documents) FROM pdl${i}_$j) AS avgdl),
                 |""".stripMargin
            (s"ptf${i}_$j", s"pdl${i}_$j", s"pdf${i}_$j", s"pstats${i}_$j", pre)
          case other => throw new IllegalArgumentException(
            s"no oracle token chain for multi_match field [$other]")
        }
      }
      val bdfJoins = chains.zipWithIndex
        .map { case ((_, _, dfT, _, _), j) => s"LEFT JOIN $dfT d$j ON d$j.term = t.term" }
        .mkString("\n  ")
      val bdfGreatest = chains.indices.map(j => s"coalesce(d$j.df, 0)").mkString(", ")
      val termVals = uniq.map(t => s"('$t')").mkString(", ")
      val unions = fields.zipWithIndex.map { case ((_, b), j) =>
        val (tfT, dlT, dfT, stT, _) = chains(j)
        val flt = filterPred.map(p => s" AND tf.${p}").getOrElse("")
        val idfF = "ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))"
        val idfB = s"ln(1 + ((SELECT count(*) FROM documents) - bdf.bdf + 0.5)/(bdf.bdf + 0.5))"
        s"""SELECT tf.doc_id, tf.term,
           |         ($idfF * (($b * $idfB) / $idfF))
           |           * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) AS s
           |  FROM $tfT tf JOIN $dlT dl USING (doc_id) JOIN $dfT df USING (term)
           |       JOIN bdf$i bdf ON bdf.term = tf.term CROSS JOIN $stT stats
           |  WHERE tf.term IN (${termList(uniq)})$flt""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      val termSum = uniq
        .map(t => s"COALESCE(max(CASE WHEN term = '$t' THEN s END), 0)")
        .mkString("(", " + ", ")")
      s"""${chains.map(_._5).mkString("")}bdf$i AS (
         |  SELECT t.term, greatest($bdfGreatest) AS bdf
         |  FROM (VALUES $termVals) t(term)
         |  $bdfJoins),
         |u$i AS (
         |  $unions),
         |sq$i AS (
         |  SELECT doc_id, $termSum AS s FROM u$i GROUP BY doc_id)""".stripMargin
    case LexicalMulti(fields, terms, CombinedFields(msm)) =>
      // combined_fields: merged pseudo-field stats — tf' = Σ w_f·tf_f and
      // dl' = Σ w_f·dl_f merge BEFORE saturation, df' = max over fields,
      // avgdl' = Σ w_f·sumdl_f / n; per-field and per-term folds mirror the
      // engine's fixed-order pivots exactly
      val uniq = terms.distinct
      val gate = math.max(msm, 1)
      val chains = fields.zipWithIndex.map { case ((f, _), j) =>
        f match {
          case "text" => ("tf", "dl", "df", "")
          case "path" =>
            val pre =
              s"""crp${i}_$j AS (
                 |  SELECT doc_id,
                 |         $PathFvSql AS fv
                 |  FROM documents),
                 |ptok${i}_$j AS (
                 |  SELECT doc_id, unnest(list_filter(
                 |    string_split(regexp_replace(lower(fv), '[^a-z0-9]+', ' ', 'g'), ' '),
                 |    x -> x <> '')) AS term FROM crp${i}_$j),
                 |ptf${i}_$j AS (SELECT doc_id, term, count(*) AS tf FROM ptok${i}_$j GROUP BY doc_id, term),
                 |pdl${i}_$j AS (SELECT doc_id, count(*) AS dl FROM ptok${i}_$j GROUP BY doc_id),
                 |pdf${i}_$j AS (SELECT term, count(*) AS df FROM ptf${i}_$j GROUP BY term),
                 |""".stripMargin
            (s"ptf${i}_$j", s"pdl${i}_$j", s"pdf${i}_$j", pre)
          case "title" =>
            // IndexCache.documentsTitle: first 5 whitespace tokens of text
            val pre =
              s"""ttok${i}_$j AS (
                 |  SELECT doc_id, unnest(list_filter(
                 |    array_slice(string_split(text, ' '), 1, 5), x -> x <> '')) AS term
                 |  FROM documents),
                 |ttf${i}_$j AS (SELECT doc_id, term, count(*) AS tf FROM ttok${i}_$j GROUP BY doc_id, term),
                 |tdl${i}_$j AS (SELECT doc_id, count(*) AS dl FROM ttok${i}_$j GROUP BY doc_id),
                 |tdf${i}_$j AS (SELECT term, count(*) AS df FROM ttf${i}_$j GROUP BY term),
                 |""".stripMargin
            (s"ttf${i}_$j", s"tdl${i}_$j", s"tdf${i}_$j", pre)
          case other => throw new IllegalArgumentException(
            s"no oracle token chain for combined_fields field [$other]")
        }
      }
      val termVals = uniq.map(t => s"('$t')").mkString(", ")
      val cdfJoins = chains.zipWithIndex
        .map { case ((_, _, dfT, _), j) => s"LEFT JOIN $dfT d$j ON d$j.term = t.term" }
        .mkString("\n  ")
      val cdfGreatest = chains.indices.map(j => s"coalesce(d$j.df, 0)").mkString(", ")
      val cavgSum = fields.zipWithIndex
        .map { case ((_, w), j) => s"$w * (SELECT sum(dl) FROM ${chains(j)._2})" }
        .mkString(" + ")
      val flt = filterPred.map(p => s" AND ${p}").getOrElse("")
      val wtfUnion = fields.zipWithIndex.map { case ((_, w), j) =>
        s"""SELECT doc_id, term, $w * tf AS wtf, $j AS fid
           |    FROM ${chains(j)._1} WHERE term IN (${termList(uniq)})$flt""".stripMargin
      }.mkString("\n    UNION ALL\n    ")
      val wdlUnion = fields.zipWithIndex.map { case ((_, w), j) =>
        s"SELECT doc_id, $w * dl AS wdl, $j AS fid FROM ${chains(j)._2}"
      }.mkString("\n    UNION ALL\n    ")
      def fieldFold(v: String) = chains.indices
        .map(j => s"COALESCE(max(CASE WHEN fid = $j THEN $v END), 0)")
        .mkString("(", " + ", ")")
      val termFold = uniq
        .map(t => s"COALESCE(max(CASE WHEN term = '$t' THEN s END), 0)")
        .mkString("(", " + ", ")")
      val termCnt = uniq
        .map(t => s"CASE WHEN max(CASE WHEN term = '$t' THEN s END) IS NOT NULL THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""${chains.map(_._4).mkString("")}cdf$i AS (
         |  SELECT t.term, greatest($cdfGreatest) AS df
         |  FROM (VALUES $termVals) t(term)
         |  $cdfJoins
         |  WHERE greatest($cdfGreatest) > 0),
         |cavg$i AS (SELECT ($cavgSum) * 1.0 / (SELECT count(*) FROM documents) AS avgdl),
         |ctf$i AS (
         |  SELECT doc_id, term, ${fieldFold("wtf")} AS ctf
         |  FROM ($wtfUnion) wu$i
         |  GROUP BY doc_id, term),
         |cdl$i AS (
         |  SELECT doc_id, ${fieldFold("wdl")} AS cdl
         |  FROM ($wdlUnion) wl$i
         |  GROUP BY doc_id),
         |cu$i AS (
         |  SELECT ctf.doc_id, ctf.term,
         |         ln(1 + ((SELECT count(*) FROM documents) - cdf.df + 0.5)/(cdf.df + 0.5))
         |           * (ctf.ctf / (ctf.ctf + 1.2*(1 - 0.75 + 0.75*cdl.cdl/cavg.avgdl))) AS s
         |  FROM ctf$i ctf JOIN cdl$i cdl USING (doc_id) JOIN cdf$i cdf USING (term)
         |       CROSS JOIN cavg$i cavg),
         |sq$i AS (
         |  SELECT doc_id, $termFold AS s FROM cu$i GROUP BY doc_id
         |  HAVING $termCnt >= $gate)""".stripMargin
    case LexicalMulti(fields, terms, BoolPrefixFields(tb)) =>
      // per field: BM25 sum over the LEADING tokens + a constant 1.0 when
      // any dictionary term with the last token's prefix occurs in the doc
      // — the parts sum (bool should), fields dis-max with tie_breaker
      val lead = terms.init.distinct
      val fieldCtes = fields.zipWithIndex.map { case ((f, _), j) =>
        val (tfT, dlT, dfT, stT, extra) = f match {
          case "text" => ("tf", "dl", "df", "stats", "")
          case "path" =>
            val p =
              s"""crp${i}_$j AS (
                 |  SELECT doc_id,
                 |         $PathFvSql AS fv
                 |  FROM documents),
                 |ptok${i}_$j AS (
                 |  SELECT doc_id, unnest(list_filter(
                 |    string_split(regexp_replace(lower(fv), '[^a-z0-9]+', ' ', 'g'), ' '),
                 |    x -> x <> '')) AS term FROM crp${i}_$j),
                 |ptf${i}_$j AS (SELECT doc_id, term, count(*) AS tf FROM ptok${i}_$j GROUP BY doc_id, term),
                 |pdl${i}_$j AS (SELECT doc_id, count(*) AS dl FROM ptok${i}_$j GROUP BY doc_id),
                 |pdf${i}_$j AS (SELECT term, count(*) AS df FROM ptf${i}_$j GROUP BY term),
                 |pstats${i}_$j AS (SELECT (SELECT count(*) FROM documents) AS n,
                 |  (SELECT sum(dl)*1.0/(SELECT count(*) FROM documents) FROM pdl${i}_$j) AS avgdl),
                 |""".stripMargin
            (s"ptf${i}_$j", s"pdl${i}_$j", s"pdf${i}_$j", s"pstats${i}_$j", p)
          case other => throw new IllegalArgumentException(
            s"no oracle token chain for multi_match field [$other]")
        }
        val flt = filterPred.map(p => s" AND tf.${p}").getOrElse("")
        val fltP = filterPred.map(p => s" AND ${p}").getOrElse("")
        val leadSel =
          if (lead.isEmpty) ""
          else
            s"""SELECT tf.doc_id,
               |           sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
               |                * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) ) AS s
               |    FROM $tfT tf JOIN $dlT dl USING (doc_id) JOIN $dfT df USING (term)
               |         CROSS JOIN $stT stats
               |    WHERE tf.term IN (${termList(lead)})$flt
               |    GROUP BY tf.doc_id
               |    UNION ALL
               |    """.stripMargin
        s"""${extra}sq${i}_f$j AS (
           |  SELECT doc_id, sum(s) AS s FROM (
           |    ${leadSel}SELECT DISTINCT doc_id, 1.0 AS s FROM $tfT
           |    WHERE term LIKE '${terms.last}%'$fltP)
           |  GROUP BY doc_id)""".stripMargin
      }.mkString(",\n")
      val unions = fields.zipWithIndex.map { case ((_, b), j) =>
        s"SELECT doc_id, s * $b AS s, $j AS fid FROM sq${i}_f$j"
      }.mkString("\n        UNION ALL ")
      val pivots = fields.indices.map(j =>
        s"max(CASE WHEN fid = $j THEN s END) AS f$j").mkString(",\n               ")
      val cSum = fields.indices.map(j => s"COALESCE(f$j, 0)").mkString("(", " + ", ")")
      val mx = fields.indices.map(j => s"COALESCE(f$j, 0)").mkString("greatest(", ", ", ")")
      val combine = if (tb == 0.0) mx else s"$mx + $tb * ($cSum - $mx)"
      s"""$fieldCtes,
         |sq$i AS (
         |  SELECT doc_id, $combine AS s
         |  FROM (SELECT doc_id,
         |               $pivots
         |        FROM ($unions) u${i}
         |        GROUP BY doc_id) p$i)""".stripMargin
    case LexicalMulti(fields, terms, mm @ (MostFields | _: BestFields)) =>
      // per-field BM25 over each field's OWN token stream — field "text" is
      // the shared tf/dl/df/stats chain, field "path" re-derives the corpus
      // path expression (corpus_ingest's projection) and tokenizes it with
      // the simple-analyzer-equivalent regexp split; per-field boosts
      // multiply the field score; dismax / sum combine over pivoted columns
      val fieldCtes = fields.zipWithIndex.map { case ((f, _), j) =>
        val (tfT, dlT, dfT, stT, extra) = f match {
          case "text" => ("tf", "dl", "df", "stats", "")
          case "path" =>
            val p =
              s"""crp${i}_$j AS (
                 |  SELECT doc_id,
                 |         $PathFvSql AS fv
                 |  FROM documents),
                 |ptok${i}_$j AS (
                 |  SELECT doc_id, unnest(list_filter(
                 |    string_split(regexp_replace(lower(fv), '[^a-z0-9]+', ' ', 'g'), ' '),
                 |    x -> x <> '')) AS term FROM crp${i}_$j),
                 |ptf${i}_$j AS (SELECT doc_id, term, count(*) AS tf FROM ptok${i}_$j GROUP BY doc_id, term),
                 |pdl${i}_$j AS (SELECT doc_id, count(*) AS dl FROM ptok${i}_$j GROUP BY doc_id),
                 |pdf${i}_$j AS (SELECT term, count(*) AS df FROM ptf${i}_$j GROUP BY term),
                 |pstats${i}_$j AS (SELECT (SELECT count(*) FROM documents) AS n,
                 |  (SELECT sum(dl)*1.0/(SELECT count(*) FROM documents) FROM pdl${i}_$j) AS avgdl),
                 |""".stripMargin
            (s"ptf${i}_$j", s"pdl${i}_$j", s"pdf${i}_$j", s"pstats${i}_$j", p)
          case other => throw new IllegalArgumentException(
            s"no oracle token chain for multi_match field [$other]")
        }
        val flt = filterPred.map(p => s" AND tf.${p}").getOrElse("")
        s"""${extra}sq${i}_f$j AS (
           |  SELECT tf.doc_id,
           |         sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
           |              * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) ) AS s
           |  FROM $tfT tf JOIN $dlT dl USING (doc_id) JOIN $dfT df USING (term)
           |       CROSS JOIN $stT stats
           |  WHERE tf.term IN (${termList(terms)})$flt
           |  GROUP BY tf.doc_id)""".stripMargin
      }.mkString(",\n")
      val unions = fields.zipWithIndex.map { case ((_, b), j) =>
        s"SELECT doc_id, s * $b AS s, $j AS fid FROM sq${i}_f$j"
      }.mkString("\n        UNION ALL ")
      val pivots = fields.indices.map(j =>
        s"max(CASE WHEN fid = $j THEN s END) AS f$j").mkString(",\n               ")
      val cSum = fields.indices.map(j => s"COALESCE(f$j, 0)").mkString("(", " + ", ")")
      val combine = mm match {
        case MostFields => cSum
        case BestFields(tb) =>
          val mx = fields.indices.map(j => s"COALESCE(f$j, 0)").mkString("greatest(", ", ", ")")
          if (tb == 0.0) mx else s"$mx + $tb * ($cSum - $mx)"
      }
      s"""$fieldCtes,
         |sq$i AS (
         |  SELECT doc_id, $combine AS s
         |  FROM (SELECT doc_id,
         |               $pivots
         |        FROM ($unions) u${i}
         |        GROUP BY doc_id) p$i)""".stripMargin
    case LexicalMulti(fields, terms, PhraseFields(tb, slop)) if slop > 0 =>
      // per-field SLOPPY phrase (Type.PHRASE with slop, one sloppy
      // PhraseQuery per field under the dis-max): each field's own
      // token-position stream runs the PROVEN 2-term stationary-chain
      // closed form of the single-field sloppy oracle, idf summed per
      // slot from the field's own stats, boosts multiplied, dis-max over
      // pivoted columns — the chain CTEs nest per field, so the whole
      // dis-max re-derives independently
      require(terms.size == 2 && terms.distinct.size == 2,
        "the multi_match sloppy-phrase oracle covers 2 distinct terms")
      require(filterPred.isEmpty, "multi_match phrase oracle does not take a filter")
      val fieldCtes = fields.zipWithIndex.map { case ((f, _), j) =>
        val (tokpT, dlT, dfT, stT, extra) = posFieldChain(i, j, f)
        val idfTerms = terms.map(t =>
          s"(SELECT ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5)) FROM $dfT df CROSS JOIN $stT stats WHERE df.term = '$t')")
          .mkString(" + ")
        s"""${extra}sq${i}_f$j AS (
           |  SELECT fr.doc_id,
           |         ($idfTerms)
           |         * (fr.freq / (fr.freq + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) AS s
           |  FROM (
           |    WITH RECURSIVE
           |    mg AS (
           |      SELECT doc_id, pos AS p, 0 AS slot FROM $tokpT WHERE term = '${terms(0)}'
           |      UNION ALL
           |      SELECT doc_id, pos - 1 AS p, 1 AS slot FROM $tokpT WHERE term = '${terms(1)}'),
           |    hd AS (
           |      SELECT doc_id,
           |             min(CASE WHEN slot = 0 THEN p END) AS h0,
           |             min(CASE WHEN slot = 1 THEN p END) AS h1
           |      FROM mg GROUP BY doc_id),
           |    ch AS (
           |      SELECT doc_id, 1 AS step,
           |             CASE WHEN h0 > h1 THEN h0 ELSE h1 END AS v,
           |             CASE WHEN h0 > h1 THEN 0 ELSE 1 END AS owner
           |      FROM hd WHERE h0 IS NOT NULL AND h1 IS NOT NULL
           |      UNION ALL
           |      SELECT c.doc_id, c.step + 1, x.p, 1 - c.owner
           |      FROM ch c, LATERAL (
           |        SELECT m.p FROM mg m
           |        WHERE m.doc_id = c.doc_id AND m.slot <> c.owner AND m.p > c.v
           |        ORDER BY m.p LIMIT 1) x),
           |    em AS (
           |      SELECT c.doc_id, c.step,
           |             c.v - (SELECT max(m.p) FROM mg m
           |                    WHERE m.doc_id = c.doc_id AND m.slot <> c.owner
           |                      AND m.p <= c.v) AS gap
           |      FROM ch c)
           |    SELECT doc_id,
           |           list_sum(list(CAST(1.0 AS DOUBLE)/(1 + gap) ORDER BY step)) AS freq
           |    FROM em WHERE gap <= $slop GROUP BY doc_id
           |  ) fr JOIN $dlT dl USING (doc_id) CROSS JOIN $stT stats
           |  WHERE fr.freq > 0)""".stripMargin
      }.mkString(",\n")
      val unions = fields.zipWithIndex.map { case ((_, b), j) =>
        s"SELECT doc_id, s * $b AS s, $j AS fid FROM sq${i}_f$j"
      }.mkString("\n        UNION ALL ")
      val pivots = fields.indices.map(j =>
        s"max(CASE WHEN fid = $j THEN s END) AS f$j").mkString(",\n               ")
      val cSum = fields.indices.map(j => s"COALESCE(f$j, 0)").mkString("(", " + ", ")")
      val mx = fields.indices.map(j => s"COALESCE(f$j, 0)").mkString("greatest(", ", ", ")")
      val combine = if (tb == 0.0) mx else s"$mx + $tb * ($cSum - $mx)"
      s"""$fieldCtes,
         |sq$i AS (
         |  SELECT doc_id, $combine AS s
         |  FROM (SELECT doc_id,
         |               $pivots
         |        FROM ($unions) u${i}
         |        GROUP BY doc_id) p$i)""".stripMargin
    case LexicalMulti(fields, terms, PhraseFields(tb, slop)) =>
      // per-field match_phrase over each field's OWN token-position stream
      // and BM25 stats, boosts multiplied, dis-max over pivoted columns —
      // the same per-field chains as the BM25 multi_match case plus the
      // consecutive-position join of the exact-phrase case
      require(slop == 0,
        "the multi_match phrase oracle covers slop = 0 (two-term slop > 0 has its own branch above)")
      require(filterPred.isEmpty, "multi_match phrase oracle does not take a filter")
      val fieldCtes = fields.zipWithIndex.map { case ((f, _), j) =>
        val (tokpT, dlT, dfT, stT, extra) = posFieldChain(i, j, f)
        val joins = terms.zipWithIndex.tail.map { case (t, k) =>
          s"JOIN $tokpT t$k ON t$k.doc_id = t0.doc_id AND t$k.pos = t0.pos + $k AND t$k.term = '$t'"
        }.mkString("\n        ")
        val idfTerms = terms.map(t =>
          s"(SELECT ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5)) FROM $dfT df CROSS JOIN $stT stats WHERE df.term = '$t')")
          .mkString(" + ")
        s"""${extra}sq${i}_f$j AS (
           |  SELECT ph.doc_id,
           |         ($idfTerms)
           |         * (ph.freq / (ph.freq + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) AS s
           |  FROM (SELECT t0.doc_id, count(*) AS freq
           |        FROM $tokpT t0
           |        $joins
           |        WHERE t0.term = '${terms.head}'
           |        GROUP BY t0.doc_id) ph
           |  JOIN $dlT dl USING (doc_id) CROSS JOIN $stT stats)""".stripMargin
      }.mkString(",\n")
      val unions = fields.zipWithIndex.map { case ((_, b), j) =>
        s"SELECT doc_id, s * $b AS s, $j AS fid FROM sq${i}_f$j"
      }.mkString("\n        UNION ALL ")
      val pivots = fields.indices.map(j =>
        s"max(CASE WHEN fid = $j THEN s END) AS f$j").mkString(",\n               ")
      val cSum = fields.indices.map(j => s"COALESCE(f$j, 0)").mkString("(", " + ", ")")
      val mx = fields.indices.map(j => s"COALESCE(f$j, 0)").mkString("greatest(", ", ", ")")
      val combine = if (tb == 0.0) mx else s"$mx + $tb * ($cSum - $mx)"
      s"""$fieldCtes,
         |sq$i AS (
         |  SELECT doc_id, $combine AS s
         |  FROM (SELECT doc_id,
         |               $pivots
         |        FROM ($unions) u${i}
         |        GROUP BY doc_id) p$i)""".stripMargin
    case LexicalMulti(fields, terms, PhrasePrefixFields(tb, maxExp)) =>
      // per-field MultiPhrasePrefixQuery: the prefix expands against EACH
      // FIELD'S OWN dictionary (term order, first maxExp), weight sums the
      // fixed slots' idf + every expansion's idf, freq joins the last slot
      // against the expansion set — all from the field's own chains; boosts
      // multiply, dis-max over pivoted columns
      require(filterPred.isEmpty, "multi_match phrase_prefix oracle does not take a filter")
      val fixed = terms.init
      val prefix = terms.last
      val kSlots = fixed.size
      val fieldCtes = fields.zipWithIndex.map { case ((f, _), j) =>
        val (tokpT, dlT, dfT, stT, extra) = posFieldChain(i, j, f)
        val joins = fixed.zipWithIndex.tail.map { case (t, k) =>
          s"JOIN $tokpT t$k ON t$k.doc_id = t0.doc_id AND t$k.pos = t0.pos + $k AND t$k.term = '$t'"
        }.mkString("\n        ")
        val fixedIdf = fixed.map(t =>
          s"(SELECT ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5)) FROM $dfT df CROSS JOIN $stT stats WHERE df.term = '$t')")
          .mkString(" + ")
        s"""${extra}exp${i}_f$j AS (
           |  SELECT term, df FROM $dfT WHERE term LIKE '$prefix%'
           |  ORDER BY term LIMIT $maxExp),
           |w${i}_f$j AS (
           |  SELECT ($fixedIdf)
           |       + COALESCE(sum(ln(1 + (stats.n - exp${i}_f$j.df + 0.5)/(exp${i}_f$j.df + 0.5))), 0) AS w
           |  FROM exp${i}_f$j CROSS JOIN $stT stats),
           |ph${i}_f$j AS (
           |  SELECT t0.doc_id, count(*) AS freq
           |  FROM $tokpT t0
           |        $joins
           |  JOIN $tokpT tp ON tp.doc_id = t0.doc_id AND tp.pos = t0.pos + $kSlots
           |       AND tp.term IN (SELECT term FROM exp${i}_f$j)
           |  WHERE t0.term = '${fixed.head}'
           |  GROUP BY t0.doc_id),
           |sq${i}_f$j AS (
           |  SELECT ph.doc_id,
           |         w${i}_f$j.w * (ph.freq / (ph.freq + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) AS s
           |  FROM ph${i}_f$j ph JOIN $dlT dl USING (doc_id) CROSS JOIN $stT stats CROSS JOIN w${i}_f$j)""".stripMargin
      }.mkString(",\n")
      val unions = fields.zipWithIndex.map { case ((_, b), j) =>
        s"SELECT doc_id, s * $b AS s, $j AS fid FROM sq${i}_f$j"
      }.mkString("\n        UNION ALL ")
      val pivots = fields.indices.map(j =>
        s"max(CASE WHEN fid = $j THEN s END) AS f$j").mkString(",\n               ")
      val cSum = fields.indices.map(j => s"COALESCE(f$j, 0)").mkString("(", " + ", ")")
      val mx = fields.indices.map(j => s"COALESCE(f$j, 0)").mkString("greatest(", ", ", ")")
      val combine = if (tb == 0.0) mx else s"$mx + $tb * ($cSum - $mx)"
      s"""$fieldCtes,
         |sq$i AS (
         |  SELECT doc_id, $combine AS s
         |  FROM (SELECT doc_id,
         |               $pivots
         |        FROM ($unions) u${i}
         |        GROUP BY doc_id) p$i)""".stripMargin
    case LexicalPhrase(ph, slop) if slop > 0 && ph.size == 2 && ph(0) == ph(1) =>
      // sloppy phrase with a REPEATED term ("x x"): the repeat machinery
      // (stagger init + collide/advance-lesser) reduces to the
      // consecutive-pair closed form — each ADJACENT occurrence pair
      // (p, q) of the term with q-p-1 <= slop contributes 1/(q-p), summed
      // in position order (PhraseSpec proves the reduction by fuzz against
      // Phrase.sloppyFreq with repeat groups). idf counts once per SLOT
      // (PhraseQuery feeds one TermStatistics per slot), hence the 2x.
      require(filterPred.isEmpty, "sloppy-phrase oracle does not take a filter")
      val t = ph.head
      s"""sq$i AS (
         |  SELECT fr.doc_id,
         |         (2 * (SELECT ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
         |               FROM df CROSS JOIN stats WHERE df.term = '$t'))
         |         * (fr.freq / (fr.freq + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) AS s
         |  FROM (
         |    WITH
         |    tokp AS (
         |      SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS pos
         |      FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
         |            FROM documents)),
         |    x AS (SELECT doc_id, pos FROM tokp WHERE term = '$t'),
         |    pr AS (SELECT doc_id, pos,
         |                  lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS np
         |           FROM x)
         |    SELECT doc_id,
         |           list_sum(list(CAST(1.0 AS DOUBLE)/(np - pos) ORDER BY pos)) AS freq
         |    FROM pr WHERE np IS NOT NULL AND np - pos - 1 <= $slop
         |    GROUP BY doc_id
         |  ) fr JOIN dl USING (doc_id) CROSS JOIN stats
         |  WHERE fr.freq > 0)""".stripMargin
    case LexicalPhrase(ph, slop) if slop > 0 =>
      // sloppy phrase BM25, independently re-derived via the 2-term closed
      // form of Lucene's SloppyPhraseMatcher: shift slot 1's positions by
      // -1, then walk the STATIONARY CHAIN — v0 = the larger of the two
      // heads (tie owned by slot 1: PhraseQueue pops the smaller offset
      // first, leaving the other on top); each chain value v owned by one
      // slot emits one match of length v - pred(v) against the other
      // slot's largest position <= v, then jumps to the other slot's first
      // position STRICTLY greater than v (ties skip — the matcher only
      // finishes minimizing when the advancing position exceeds `next`).
      // freq sums slop factors 1/(1+len) in chain order via an ordered
      // list so fp association matches the matcher exactly (PhraseSpec
      // proves the reduction by brute force against Phrase.sloppyFreq).
      require(ph.size == 2,
        "the sloppy-phrase oracle closed form holds for 2-term phrases only")
      require(filterPred.isEmpty, "sloppy-phrase oracle does not take a filter")
      val idfTerms = ph.map(t =>
        s"(SELECT ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5)) FROM df CROSS JOIN stats WHERE df.term = '$t')")
        .mkString(" + ")
      s"""sq$i AS (
         |  SELECT fr.doc_id,
         |         ($idfTerms)
         |         * (fr.freq / (fr.freq + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) AS s
         |  FROM (
         |    WITH RECURSIVE
         |    tokp AS (
         |      SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS pos
         |      FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
         |            FROM documents)),
         |    mg AS (
         |      SELECT doc_id, pos AS p, 0 AS slot FROM tokp WHERE term = '${ph(0)}'
         |      UNION ALL
         |      SELECT doc_id, pos - 1 AS p, 1 AS slot FROM tokp WHERE term = '${ph(1)}'),
         |    hd AS (
         |      SELECT doc_id,
         |             min(CASE WHEN slot = 0 THEN p END) AS h0,
         |             min(CASE WHEN slot = 1 THEN p END) AS h1
         |      FROM mg GROUP BY doc_id),
         |    ch AS (
         |      SELECT doc_id, 1 AS step,
         |             CASE WHEN h0 > h1 THEN h0 ELSE h1 END AS v,
         |             CASE WHEN h0 > h1 THEN 0 ELSE 1 END AS owner
         |      FROM hd WHERE h0 IS NOT NULL AND h1 IS NOT NULL
         |      UNION ALL
         |      SELECT c.doc_id, c.step + 1, x.p, 1 - c.owner
         |      FROM ch c, LATERAL (
         |        SELECT m.p FROM mg m
         |        WHERE m.doc_id = c.doc_id AND m.slot <> c.owner AND m.p > c.v
         |        ORDER BY m.p LIMIT 1) x),
         |    em AS (
         |      SELECT c.doc_id, c.step,
         |             c.v - (SELECT max(m.p) FROM mg m
         |                    WHERE m.doc_id = c.doc_id AND m.slot <> c.owner
         |                      AND m.p <= c.v) AS gap
         |      FROM ch c)
         |    SELECT doc_id,
         |           list_sum(list(CAST(1.0 AS DOUBLE)/(1 + gap) ORDER BY step)) AS freq
         |    FROM em WHERE gap <= $slop GROUP BY doc_id
         |  ) fr JOIN dl USING (doc_id) CROSS JOIN stats
         |  WHERE fr.freq > 0)""".stripMargin
    case LexicalPhrase(ph, _) =>
      // phrase BM25: positions over the filtered token list (zip-unnest),
      // consecutive-position join chain, idf summed per phrase slot
      val f = filterPred.map(p => s" AND t0.$p").getOrElse("")
      val joins = ph.zipWithIndex.tail.map { case (t, j) =>
        s"JOIN tokp$i t$j ON t$j.doc_id = t0.doc_id AND t$j.pos = t0.pos + $j AND t$j.term = '$t'"
      }.mkString("\n        ")
      val idfTerms = ph.map(t =>
        s"(SELECT ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5)) FROM df CROSS JOIN stats WHERE df.term = '$t')")
        .mkString(" + ")
      s"""tokp$i AS (
         |  SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS pos
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
         |        FROM documents)),
         |sq$i AS (
         |  SELECT ph.doc_id,
         |         ($idfTerms)
         |         * (ph.freq / (ph.freq + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) AS s
         |  FROM (SELECT t0.doc_id, count(*) AS freq
         |        FROM tokp$i t0
         |        $joins
         |        WHERE t0.term = '${ph.head}'$f
         |        GROUP BY t0.doc_id) ph
         |  JOIN dl USING (doc_id) CROSS JOIN stats)""".stripMargin
    case LexicalPhrasePrefix(fixed, prefix, maxExp) =>
      // deterministic expansion: prefix-matched dictionary terms in term
      // order, first maxExp; weight sums idf over fixed slots + every
      // expansion term (MultiPhraseQuery's contract); freq joins the last
      // slot against the expansion set (one token per position, so the
      // join cannot double-count a start)
      val f = filterPred.map(p => s" AND t0.$p").getOrElse("")
      val k = fixed.size
      val joins = fixed.zipWithIndex.tail.map { case (t, j) =>
        s"JOIN tokp$i t$j ON t$j.doc_id = t0.doc_id AND t$j.pos = t0.pos + $j AND t$j.term = '$t'"
      }.mkString("\n        ")
      val fixedIdf = fixed.map(t =>
        s"(SELECT ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5)) FROM df CROSS JOIN stats WHERE df.term = '$t')")
        .mkString(" + ")
      s"""exp$i AS (
         |  SELECT term, df FROM df WHERE term LIKE '$prefix%'
         |  ORDER BY term LIMIT $maxExp),
         |w$i AS (
         |  SELECT ($fixedIdf)
         |       + COALESCE(sum(ln(1 + (stats.n - exp$i.df + 0.5)/(exp$i.df + 0.5))), 0) AS w
         |  FROM exp$i CROSS JOIN stats),
         |tokp$i AS (
         |  SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS pos
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
         |        FROM documents)),
         |ph$i AS (
         |  SELECT t0.doc_id, count(*) AS freq
         |  FROM tokp$i t0
         |        $joins
         |  JOIN tokp$i tp ON tp.doc_id = t0.doc_id AND tp.pos = t0.pos + $k
         |       AND tp.term IN (SELECT term FROM exp$i)
         |  WHERE t0.term = '${fixed.head}'$f
         |  GROUP BY t0.doc_id),
         |sq$i AS (
         |  SELECT ph.doc_id,
         |         w$i.w * (ph.freq / (ph.freq + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) AS s
         |  FROM ph$i ph JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN w$i)""".stripMargin
    case SparseLinear(query) =>
      val vals = query.toSeq.sortBy(_._1)
        .map { case (t, w) => s"('$t', $w)" }.mkString(", ")
      val f = filterPred.map(p => s" WHERE htw.${p}").getOrElse("")
      s"""sq$i AS (
         |  SELECT doc_id, sum(w * qw) AS s
         |  FROM htw JOIN (SELECT * FROM (VALUES $vals) t(token, qw)) q$i USING (token)$f
         |  GROUP BY doc_id)""".stripMargin
    case DenseCosine(qid) =>
      // only the outer column is the embedding table's id; the subquery's
      // doc_id stays (the filter table is `documents`)
      val f = filterPred.map(p => s" WHERE e.${p.replaceFirst("doc_id", "vec_id")}").getOrElse("")
      s"""sq$i AS (
         |  SELECT e.vec_id AS doc_id, ${cosSql("e.embedding", "q.qv")} AS s
         |  FROM embeddings e CROSS JOIN
         |       (SELECT embedding AS qv FROM embeddings WHERE vec_id = $qid) q$f)""".stripMargin
    case DenseIvf(qid, _) =>
      // exact-mode IVF (nProbe = centroid count) is semantically the brute
      // cosine scan — only the access path differs, which SQL can't see
      val f = filterPred.map(p => s" WHERE e.${p.replaceFirst("doc_id", "vec_id")}").getOrElse("")
      s"""sq$i AS (
         |  SELECT e.vec_id AS doc_id, ${cosSql("e.embedding", "q.qv")} AS s
         |  FROM embeddings e CROSS JOIN
         |       (SELECT embedding AS qv FROM embeddings WHERE vec_id = $qid) q$f)""".stripMargin
    case DenseVector(v, ms, md) =>
      val f = filterPred.map(p => s" WHERE e.${p.replaceFirst("doc_id", "vec_id")}").getOrElse("")
      val vecSql = v.mkString("[", ", ", "]")
      val bound = ms.orElse(md.map(1.0 - _))
      val radial = bound.map(b =>
        if (f.isEmpty) s"\n  WHERE ${cosSql("e.embedding", vecSql)} >= $b"
        else s" AND ${cosSql("e.embedding", vecSql)} >= $b").getOrElse("")
      s"""sq$i AS (
         |  SELECT e.vec_id AS doc_id, ${cosSql("e.embedding", vecSql)} AS s
         |  FROM embeddings e$f$radial)""".stripMargin
    case r @ DenseRadial(qid, _, _) =>
      // range-over-similarity: the same cosine CTE bounded by the radius
      val f = filterPred.map(p => s" AND e.${p.replaceFirst("doc_id", "vec_id")}").getOrElse("")
      s"""sq$i AS (
         |  SELECT e.vec_id AS doc_id, ${cosSql("e.embedding", "q.qv")} AS s
         |  FROM embeddings e CROSS JOIN
         |       (SELECT embedding AS qv FROM embeddings WHERE vec_id = $qid) q
         |  WHERE ${cosSql("e.embedding", "q.qv")} >= ${r.minCosine}$f)""".stripMargin
    case SemanticText(field, terms) =>
      // routed semantic query: best chunk per doc over the generated
      // sub-field, kind per the oracle-side field registry
      val f = filterPred.map(p => s"\n    WHERE ${p}").getOrElse("")
      SemKinds(field) match {
        case SemanticSparseKind =>
          val vals = Sparse.encodeQueryTokens(terms).toSeq.sortBy(_._1)
            .map { case (t, w) => s"('$t', $w)" }.mkString(", ")
          s"""sq$i AS (
             |  SELECT doc_id, max(cs) AS s FROM (
             |    SELECT doc_id, chunk_idx, sum(w * qw) AS cs
             |    FROM semtw JOIN (SELECT * FROM (VALUES $vals) t(token, qw)) q$i USING (token)$f
             |    GROUP BY doc_id, chunk_idx)
             |  GROUP BY doc_id)""".stripMargin
        case SemanticDenseKind =>
          val qv = graft.ops.Semantic.hashQueryVector(terms, 8)
          val qn = math.sqrt(qv.values.map(v => v * v).sum)
          val vals = qv.toSeq.sortBy(_._1)
            .map { case (d, v) => s"($d, $v)" }.mkString(", ")
          s"""sq$i AS (
             |  SELECT doc_id, max(c) AS s FROM (
             |    SELECT dots.doc_id, dots.chunk_idx, dot/(n * $qn) AS c
             |    FROM (SELECT doc_id, chunk_idx, sum(v * qv) AS dot
             |          FROM semdv JOIN (SELECT * FROM (VALUES $vals) t(dim, qv)) q$i USING (dim)$f
             |          GROUP BY doc_id, chunk_idx) dots
             |    JOIN (SELECT doc_id, chunk_idx, sqrt(sum(v*v)) AS n
             |          FROM semdv GROUP BY doc_id, chunk_idx) norms
             |      USING (doc_id, chunk_idx))
             |  GROUP BY doc_id)""".stripMargin
      }
  }

  /** collection CTE: optional per-(group, sub-query) keep, then top-depth
   *  with the collection rank used by RRF. */
  // top$i is MATERIALIZED: DuckDB inlines a CTE once per REFERENCE, and the
  // normalization chain reads it twice (stats + per-doc). Under
  // multi-threaded execution each inlined evaluation can sum the BM25
  // scores in a different order, leaving min(s) an ulp away from the same
  // doc's s in the other evaluation — which flips boundary comparisons like
  // min_max's ==0 floor (observed at sf0.1: engine 0.001 floor vs oracle
  // -0.0). Materializing pins ONE evaluation, the semantics both sides
  // define.
  private def topCte(i: Int, collapse: Option[Collapse]): String = collapse match {
    case None =>
      s"""top$i AS MATERIALIZED (
         |  SELECT doc_id, s, rnk FROM (
         |    SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rnk FROM sq$i)
         |  WHERE rnk <= $Depth)""".stripMargin
    case Some(c) =>
      s"""grp$i AS (
         |  SELECT doc_id, s FROM (
         |    SELECT sq.doc_id, sq.s,
         |           row_number() OVER (PARTITION BY d.${c.field}
         |                              ORDER BY sq.s DESC, sq.doc_id) AS grn
         |    FROM sq$i sq JOIN documents d USING (doc_id))
         |  WHERE grn <= ${c.docsPerGroupPerSubquery}),
         |top$i AS MATERIALIZED (
         |  SELECT doc_id, s, rnk FROM (
         |    SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rnk FROM grp$i)
         |  WHERE rnk <= $Depth)""".stripMargin
  }

  private def normCtes(i: Int, norm: Normalization, lower: Option[Bound], upper: Option[Bound]): String = norm match {
    case MinMaxNormTech(_, _) if lower.isEmpty && upper.isEmpty =>
      s"""st$i AS (SELECT min(s) AS mn, max(s) AS mx FROM top$i),
         |n$i AS (SELECT doc_id,
         |  CASE WHEN st.mx = st.mn AND st.mx = t.s THEN 1.0
         |       WHEN st.mx = st.mn THEN 1.0
         |       WHEN (t.s - st.mn)/(st.mx - st.mn) = 0.0 THEN 0.001
         |       ELSE (t.s - st.mn)/(st.mx - st.mn) END AS ns
         |  FROM top$i t, st$i st)""".stripMargin
    case MinMaxNormTech(_, _) =>
      val lb = lower
      val ub = upper
      val emn = lb match {
        case Some(Bound(BoundMode.Apply, b)) =>
          s"CASE WHEN st.mx > $b AND t.s > $b THEN $b ELSE st.mn END"
        case Some(Bound(BoundMode.Clip, b)) =>
          s"CASE WHEN st.mx < $b THEN st.mn ELSE $b END"
        case _ => "st.mn"
      }
      val emx = ub match {
        case Some(Bound(BoundMode.Apply, b)) =>
          s"CASE WHEN st.mn < $b AND t.s < $b THEN $b ELSE st.mx END"
        case Some(Bound(BoundMode.Clip, b)) =>
          s"CASE WHEN st.mn > $b THEN st.mx ELSE $b END"
        case _ => "st.mx"
      }
      val lowerClip = lb match {
        case Some(Bound(BoundMode.Clip, _)) => "WHEN x.s < x.emn THEN 0.001"
        case _ => ""
      }
      val upperClip = ub match {
        case Some(Bound(BoundMode.Clip, _)) => "WHEN x.s > x.emx THEN 1.0"
        case _ => ""
      }
      s"""st$i AS (SELECT min(s) AS mn, max(s) AS mx FROM top$i),
         |n$i AS (
         |  SELECT doc_id,
         |    CASE WHEN x.mx = x.mn AND x.mx = x.s THEN 1.0
         |         $lowerClip
         |         $upperClip
         |         WHEN x.emx = x.emn THEN 1.0
         |         WHEN (x.s - x.emn)/(x.emx - x.emn) = 0.0 THEN 0.001
         |         ELSE (x.s - x.emn)/(x.emx - x.emn) END AS ns
         |  FROM (SELECT t.doc_id, t.s AS s, st.mn, st.mx, $emn AS emn, $emx AS emx
         |        FROM top$i t, st$i st) x)""".stripMargin
    case L2NormTech =>
      s"""st$i AS (SELECT sqrt(sum(s*s)) AS nrm FROM top$i),
         |n$i AS (SELECT doc_id,
         |  CASE WHEN st.nrm = 0 THEN 0.001 ELSE t.s/st.nrm END AS ns
         |  FROM top$i t, st$i st)""".stripMargin
    case ZScoreNormTech =>
      s"""st$i AS (SELECT avg(s) AS mean, coalesce(stddev_samp(s), 0) AS sd,
         |               max(s) AS mx, min(s) AS mn FROM top$i),
         |n$i AS (SELECT doc_id,
         |  CASE WHEN t.s = st.mean THEN st.mx
         |       WHEN st.sd = 0 THEN st.mn
         |       WHEN (t.s - st.mean)/st.sd <= 0.0 THEN 0.001
         |       ELSE (t.s - st.mean)/st.sd END AS ns
         |  FROM top$i t, st$i st)""".stripMargin
    case RrfNormTech(rc) =>
      s"""n$i AS (SELECT doc_id, round(1.0/($rc + rnk), 10) AS ns FROM top$i)""".stripMargin
  }

  private def alignCte(n: Int): String = {
    val joins = (1 until n).map { j =>
      val leftId = if (j == 1) "a0.doc_id" else s"coalesce(${(0 until j).map(x => s"a$x.doc_id").mkString(", ")})"
      s"FULL OUTER JOIN n$j a$j ON $leftId = a$j.doc_id"
    }.mkString("\n  ")
    val ids = (0 until n).map(x => s"a$x.doc_id").mkString(", ")
    val ss = (0 until n).map(x => s"coalesce(a$x.ns, 0.0) AS s$x").mkString(", ")
    s"""al AS (
       |  SELECT coalesce($ids) AS doc_id, $ss
       |  FROM n0 a0
       |  $joins)""".stripMargin
  }

  private def combineSql(n: Int, comb: Combination): String = {
    def w(i: Int): Double = if (i < comb.weights.length) comb.weights(i) else 1.0
    comb.technique match {
      case Combine.Arithmetic | Combine.Rrf =>
        val num = (0 until n).map(i => s"s$i*${w(i)}").mkString(" + ")
        val den = (0 until n).map(i => s"${w(i)}").mkString(" + ")
        if (comb.technique == Combine.Arithmetic) s"($num)/($den)" else s"($num)"
      case Combine.Geometric =>
        val ws = (0 until n).map(i => s"(CASE WHEN s$i > 0 THEN ${w(i)} ELSE 0 END)").mkString(" + ")
        val ls = (0 until n).map(i => s"(CASE WHEN s$i > 0 THEN ${w(i)}*ln(s$i) ELSE 0 END)").mkString(" + ")
        s"(CASE WHEN ($ws) = 0 THEN 0.0 ELSE exp(($ls)/($ws)) END)"
      case Combine.Harmonic =>
        val ws = (0 until n).map(i => s"(CASE WHEN s$i > 0 THEN ${w(i)} ELSE 0 END)").mkString(" + ")
        val hs = (0 until n).map(i => s"(CASE WHEN s$i > 0 THEN ${w(i)}/s$i ELSE 0 END)").mkString(" + ")
        s"(CASE WHEN ($hs) > 0 THEN ($ws)/($hs) ELSE 0.0 END)"
      case other => throw new IllegalArgumentException(other)
    }
  }

  /** CTE chain computing one bool's qualifying set as `sq$id(doc_id, s)`:
   *  per-clause score CTEs (same clause SQL as hybrid, children prefixed
   *  `${id}c`), a kind-tagged union aggregated by doc_id, the same fixed
   *  left-to-right COALESCE sum as the engine's fold, and the must-all /
   *  should-at-least-msm / no-must_not gate. Recursion through
   *  [[scoreCte]]'s BoolSub case handles arbitrary nesting. A bool with no
   *  scoring clause is pure filter context: every doc minus must_not at
   *  score 0.0, like the engine. */
  private def boolClauseCtes(id: String, b: BoolSub,
                             filterPred: Option[String]): String = {
    if (b.must.isEmpty && b.should.isEmpty && b.filter.isEmpty) {
      val nots = b.mustNot.zipWithIndex
        .map { case (t, j) => scoreCte(s"${id}c$j", t, filterPred) }
      val ctesPart = if (nots.isEmpty) "" else nots.mkString(",\n") + ",\n"
      val excl =
        if (b.mustNot.isEmpty) ""
        else b.mustNot.indices
          .map(j => s"SELECT doc_id FROM sq${id}c$j")
          .mkString("\n  AND dl.doc_id NOT IN (", " UNION ALL ", ")")
      val f = filterPred.map(p => s"\n  AND dl.${p}").getOrElse("")
      s"""${ctesPart}sq$id AS (
         |  SELECT dl.doc_id, 0.0 AS s FROM dl
         |  WHERE TRUE$excl$f)""".stripMargin
    } else {
      // clause order m, s, f, n — filter (Occur.FILTER) is required to
      // match but excluded from the scoring sum, mirroring BoolQuery.score
      val all = b.must ++ b.should ++ b.filter ++ b.mustNot
      val ctes = all.zipWithIndex
        .map { case (t, j) => scoreCte(s"${id}c$j", t, filterPred) }
        .mkString(",\n")
      val kindOf = b.must.map(_ => "m") ++ b.should.map(_ => "s") ++
        b.filter.map(_ => "f") ++ b.mustNot.map(_ => "n")
      val unions = all.indices.map(j =>
        s"SELECT doc_id, s, '${kindOf(j)}' AS kind, $j AS cid FROM sq${id}c$j")
        .mkString("\n  UNION ALL ")
      val pivots = all.indices.map(j =>
        s"max(CASE WHEN cid = $j THEN s END) AS s$j").mkString(",\n         ")
      val scoringIdx = all.indices.filter(j => kindOf(j) == "m" || kindOf(j) == "s")
      val total = scoringIdx.map(j => s"COALESCE(s$j, 0)").mkString("(", " + ", ")")
      s"""$ctes,
         |u$id AS (
         |  $unions),
         |a$id AS (
         |  SELECT doc_id,
         |         $pivots,
         |         count(CASE WHEN kind = 'm' THEN 1 END) AS nm,
         |         count(CASE WHEN kind = 's' THEN 1 END) AS ns,
         |         count(CASE WHEN kind = 'f' THEN 1 END) AS nf,
         |         count(CASE WHEN kind = 'n' THEN 1 END) AS nn
         |  FROM u$id GROUP BY doc_id),
         |sq$id AS (
         |  SELECT doc_id, $total AS s
         |  FROM a$id
         |  WHERE nm = ${b.must.size} AND ns >= ${b.effectiveMsm}
         |    AND nf = ${b.filter.size} AND nn = 0)""".stripMargin
    }
  }

  /** Oracle for a top-level bool request: the [[boolClauseCtes]] chain plus
   *  the rounded, ordered top-k page. `explain` adds the per-scoring-clause
   *  pivot columns (must<i>/should<i>) from the same aggregate. */
  def boolOracle(tokCte: String, must: Seq[SubQuery], should: Seq[SubQuery],
                 mustNot: Seq[SubQuery], msm: Int, k: Int = 10,
                 filterPred: Option[String] = None,
                 explain: Boolean = false,
                 filter: Seq[SubQuery] = Nil): String = {
    val b = BoolSub(must, should, mustNot, Some(msm), filter)
    def allClauses(x: BoolSub): Seq[SubQuery] =
      (x.must ++ x.should ++ x.mustNot ++ x.filter).flatMap {
        case nested: BoolSub => allClauses(nested)
        case leaf            => Seq(leaf)
      }
    val twPart =
      if (allClauses(b).exists(c => c.isInstanceOf[SparseLinear] || c.isInstanceOf[RankFeatureQ])) s",\n$TwCte" else ""
    val explainCols =
      if (!explain) ""
      else (must.indices.map(i => s"round(a0.s$i, 4) AS must$i") ++
        should.indices.map(i => s"round(a0.s${must.size + i}, 4) AS should$i"))
        .mkString(",\n       ", ",\n       ", "")
    val from = if (explain) "sq0 JOIN a0 USING (doc_id)" else "sq0"
    s"""WITH $tokCte$twPart,
       |${boolClauseCtes("0", b, filterPred)}
       |SELECT doc_id, round(s, 4) AS score$explainCols
       |FROM $from
       |ORDER BY s DESC, doc_id LIMIT $k""".stripMargin
  }

  def hybridOracle(tokCte: String, sub: Seq[SubQuery], norm: Normalization,
                   comb: Combination, k: Int = 10, from: Int = 0,
                   filterPred: Option[String] = None, explain: Boolean = false,
                   minScore: Option[Double] = None,
                   collapse: Option[Collapse] = None,
                   mixedSort: Seq[(String, Boolean)] = Nil,
                   withTotal: Boolean = false): String = {
    val n = sub.size
    val twPart = if (sub.exists(c => c.isInstanceOf[SparseLinear] || c.isInstanceOf[RankFeatureQ])) s",\n$TwCte" else ""
    val semKindsUsed = sub.collect { case SemanticText(f, _) => SemKinds(f) }.toSet
    val semPart =
      if (semKindsUsed.isEmpty) ""
      else if (semKindsUsed.contains(SemanticDenseKind)) s",\n$SemTwCte,\n$SemDvCte"
      else s",\n$SemTwCte"
    val subq = sub.zipWithIndex.map { case (t, i) =>
      scoreCte(i.toString, t, filterPred) + ",\n" + topCte(i, collapse)
    }.mkString(",\n")
    val norms = (0 until n).map { i =>
      val (lb, ub) = norm match {
        case MinMaxNormTech(lo, up) => (lo.map(_(i)), up.map(_(i)))
        case _ => (None, None)
      }
      normCtes(i, norm, lb, ub)
    }.mkString(",\n")
    val cmb = combineSql(n, comb)
    val offset = if (from > 0) s" OFFSET $from" else ""
    val msWhere = minScore.map(ms => s"\nWHERE c >= $ms").getOrElse("")
    val normOut =
      if (explain) (0 until n).map(i => s"round(s$i, 4) AS norm$i, ").mkString
      else ""
    val normIn = if (explain) (0 until n).map(i => s"s$i, ").mkString else ""
    val finalSel = collapse match {
      case None if withTotal =>
        // total-hits = count after the min_score filter. The relation derives
        // INDEPENDENTLY of the engine's expression, from first principles
        // (reference rule, ScoreCombiner.getTotalHits): min_score dropped
        // docs (post < pre) -> the recount is exact, 'eq'; else 'gte' iff
        // some sub-query's COLLECTION was truncated at the depth bound
        // (count(top_i) == depth — more could have matched), else 'eq'.
        // A merged count >= depth does NOT imply truncation.
        val truncSql = (0 until n).map(i =>
          s"(SELECT count(*) >= $Depth FROM top$i)").mkString(" OR ")
        val base = s"SELECT doc_id, $cmb AS c FROM al"
        s"""SELECT b.doc_id, round(b.c, 4) AS score, t.total_hits, t.relation
           |FROM (SELECT * FROM ($base)$msWhere) b CROSS JOIN (
           |  SELECT post.n AS total_hits,
           |         CASE WHEN post.n < pre.n THEN 'eq'
           |              WHEN ($truncSql) THEN 'gte'
           |              ELSE 'eq' END AS relation
           |  FROM (SELECT count(*) AS n FROM ($base)) pre,
           |       (SELECT count(*) AS n FROM (SELECT * FROM ($base)$msWhere)) post) t
           |ORDER BY b.c DESC, b.doc_id LIMIT $k$offset""".stripMargin
      case Some(cl) if mixedSort.nonEmpty =>
        // sort by [_score, fields...] + collapse: the group winner is the
        // FIRST doc under the sort order over the UNFILTERED scored set;
        // min_score then drops whole groups whose winner fails it
        val cols = mixedSort.map(_._1).distinct
        val innerOrd = s"$cmb DESC, " + mixedSort.map { case (f, asc) =>
          s"d.$f ${if (asc) "ASC" else "DESC"}"
        }.mkString(", ") + ", al.doc_id"
        val outerOrd = "c DESC, " + mixedSort.map { case (f, asc) =>
          s"$f ${if (asc) "ASC" else "DESC"}"
        }.mkString(", ") + ", doc_id"
        val msAnd = minScore.map(ms => s" AND c >= $ms").getOrElse("")
        s"""SELECT doc_id, round(c, 4) AS score, ${cols.mkString(", ")} FROM (
           |  SELECT al.doc_id, $cmb AS c, ${cols.map(c => s"d.$c").mkString(", ")},
           |         row_number() OVER (PARTITION BY d.${cl.field}
           |                            ORDER BY $innerOrd) AS crn
           |  FROM al JOIN documents d USING (doc_id))
           |WHERE crn = 1$msAnd
           |ORDER BY $outerOrd LIMIT $k$offset""".stripMargin
      case None if mixedSort.nonEmpty =>
        // sort = [_score desc, field...]: combined score is the primary key,
        // stored fields are the secondary keys (joined from documents)
        val cols = mixedSort.map(_._1).distinct
        val ord = "c DESC, " + mixedSort.map { case (f, asc) =>
          s"d.$f ${if (asc) "ASC" else "DESC"}"
        }.mkString(", ") + ", doc_id"
        s"""SELECT doc_id, round(c, 4) AS score, ${cols.map(c => s"d.$c").mkString(", ")}
           |FROM (SELECT doc_id, $cmb AS c FROM al) x JOIN documents d USING (doc_id)$msWhere
           |ORDER BY $ord LIMIT $k$offset""".stripMargin
      case None =>
        s"""SELECT doc_id, ${normOut}round(c, 4) AS score
           |FROM (SELECT doc_id, $normIn$cmb AS c FROM al)$msWhere
           |ORDER BY c DESC, doc_id LIMIT $k$offset""".stripMargin
      case Some(cl) =>
        // one doc per group by combined score (best-of-group), then page
        s"""SELECT doc_id, round(c, 4) AS score FROM (
           |  SELECT al.doc_id, $cmb AS c,
           |         row_number() OVER (PARTITION BY d.${cl.field}
           |                            ORDER BY $cmb DESC, al.doc_id) AS crn
           |  FROM al JOIN documents d USING (doc_id))
           |WHERE crn = 1$msWhere
           |ORDER BY c DESC, doc_id LIMIT $k$offset""".stripMargin
    }
    s"""WITH $tokCte$twPart$semPart,
       |$subq,
       |$norms,
       |${alignCte(n)}
       |$finalSel""".stripMargin
  }

  def oracles(tokCte: String): Map[String, String] = {
    val langF = Some("doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')")
    Map(
      "hybrid_minmax_arith" ->
        hybridOracle(tokCte, lex(Seq(A, B)), MinMaxNormTech(), Combination(Combine.Arithmetic)),
      "hybrid_k100" ->
        hybridOracle(tokCte, lex(Seq(A, B)), MinMaxNormTech(), Combination(Combine.Arithmetic),
          k = 100),
      "hybrid_minmax_weighted" ->
        hybridOracle(tokCte, lex(Seq(A, B)), MinMaxNormTech(),
          Combination(Combine.Arithmetic, Seq(0.7, 0.3))),
      "hybrid_minmax_bounds" ->
        hybridOracle(tokCte, lex(Seq(A, B)),
          MinMaxNormTech(
            lower = Some(Seq(Bound(BoundMode.Apply, 0.05), Bound(BoundMode.Apply, 0.05))),
            upper = Some(Seq(Bound(BoundMode.Clip, 0.2), Bound(BoundMode.Clip, 0.2)))),
          Combination(Combine.Arithmetic)),
      "hybrid_l2_geometric" ->
        hybridOracle(tokCte, lex(Seq(A, B)), L2NormTech, Combination(Combine.Geometric)),
      "hybrid_l2_harmonic3" ->
        hybridOracle(tokCte, lex(Seq(A, B, C)), L2NormTech,
          Combination(Combine.Harmonic, Seq(0.5, 0.3, 0.2))),
      "hybrid_zscore_arith" ->
        hybridOracle(tokCte, lex(Seq(A, B)), ZScoreNormTech, Combination(Combine.Arithmetic)),
      "hybrid_rrf" ->
        hybridOracle(tokCte, lex(Seq(A, B)), RrfNormTech(60), Combination(Combine.Rrf)),
      "hybrid_rrf_weighted" ->
        hybridOracle(tokCte, lex(Seq(A, B)), RrfNormTech(60),
          Combination(Combine.Rrf, Seq(0.7, 0.3))),
      "hybrid_filtered" ->
        hybridOracle(tokCte, lex(Seq(A, B)), MinMaxNormTech(), Combination(Combine.Arithmetic),
          filterPred = langF),
      "dsl_hybrid" ->
        hybridOracle(tokCte, lex(Seq(A, B)), MinMaxNormTech(), Combination(Combine.Arithmetic),
          filterPred = langF),
      "hybrid_paginated" ->
        hybridOracle(tokCte, lex(Seq(A, B)), MinMaxNormTech(), Combination(Combine.Arithmetic),
          k = 10, from = 5),
      "hybrid_explain" ->
        hybridOracle(tokCte, lex(Seq(A, B)), MinMaxNormTech(), Combination(Combine.Arithmetic),
          explain = true),
      "hybrid_explain_detail" -> {
        val inner = hybridOracle(tokCte, lex(Seq(A, B)), MinMaxNormTech(),
          Combination(Combine.Arithmetic, Seq(0.7, 0.3)), explain = true)
        s"""SELECT *,
           |  'normalization [min_max], combination [arithmetic_mean, weights [0.7, 0.3]]' AS explain_desc
           |FROM ($inner)""".stripMargin
      },
      "hybrid_min_score" ->
        hybridOracle(tokCte, lex(Seq(A, B)), MinMaxNormTech(), Combination(Combine.Arithmetic),
          k = 50, minScore = Some(0.35)),

      "hybrid_sparse_lex" ->
        hybridOracle(tokCte, Seq(Lexical(A), SparseLinear(SQ.toMap)),
          MinMaxNormTech(), Combination(Combine.Arithmetic)),
      "hybrid_phrase_lex" ->
        hybridOracle(tokCte, Seq(Lexical(A), LexicalPhrase(Seq("table", "hash"))),
          MinMaxNormTech(), Combination(Combine.Arithmetic)),
      "dsl_phrase" ->
        hybridOracle(tokCte, Seq(Lexical(A), LexicalPhrase(Seq("table", "hash"))),
          MinMaxNormTech(), Combination(Combine.Arithmetic)),
      "dsl_phrase_slop" ->
        hybridOracle(tokCte, Seq(Lexical(A), LexicalPhrase(Seq("table", "scan"), slop = 2)),
          MinMaxNormTech(), Combination(Combine.Arithmetic)),
      "dsl_phrase_slop_repeats" ->
        hybridOracle(tokCte, Seq(Lexical(A), LexicalPhrase(Seq("join", "join"), slop = 3)),
          MinMaxNormTech(), Combination(Combine.Arithmetic)),
      "bool_must_should" ->
        boolOracle(tokCte, must = Seq(Lexical(A)), should = Seq(Lexical(B)),
          mustNot = Nil, msm = 0),
      "bool_must_not" ->
        boolOracle(tokCte, must = Seq(Lexical(A)), should = Nil,
          mustNot = Seq(Lexical(Seq("dup"))), msm = 0),
      "bool_msm2" ->
        boolOracle(tokCte,
          must = Nil,
          should = Seq(Lexical(Seq("merge")), Lexical(Seq("window")), Lexical(Seq("scan"))),
          mustNot = Nil, msm = 2),
      "dsl_bool" ->
        boolOracle(tokCte, must = Seq(Lexical(A)), should = Seq(Lexical(B)),
          mustNot = Seq(Lexical(Seq("dup"))), msm = 0, filterPred = langF),
      "dsl_wrapper" ->
        boolOracle(tokCte, must = Seq(Lexical(A)), should = Nil,
          mustNot = Seq(MatchNoneQ), msm = 0),
      "dsl_terms_lookup" ->
        boolOracle(tokCte, must = Seq(TermsLookupQ(7L, "text")),
          should = Seq(Lexical(B)), mustNot = Nil, msm = 0),
      "dsl_search_template" ->
        boolOracle(tokCte, must = Seq(Lexical(A)), should = Nil,
          mustNot = Seq(Lexical(Seq("dup"))), msm = 0),
      "dsl_match_and" ->
        boolOracle(tokCte, must = Seq(LexicalMsm(Seq("join", "hash", "merge"), 3)),
          should = Nil, mustNot = Nil, msm = 0),
      "match_msm" ->
        boolOracle(tokCte, must = Seq(LexicalMsm(Seq("merge", "window", "scan"), 2)),
          should = Nil, mustNot = Nil, msm = 0),
      "bool_nested" ->
        boolOracle(tokCte,
          must = Seq(BoolSub(
            should = Seq(Lexical(Seq("merge")), Lexical(Seq("scan"))),
            minimumShouldMatch = Some(1))),
          should = Seq(Lexical(A)), mustNot = Nil, msm = 0),
      "dsl_bool_nested" ->
        boolOracle(tokCte,
          must = Seq(BoolSub(
            should = Seq(Lexical(Seq("merge")), Lexical(Seq("scan"))),
            minimumShouldMatch = Some(1))),
          should = Seq(Lexical(A)), mustNot = Nil, msm = 0),
      "match_all_bool" ->
        boolOracle(tokCte, must = Seq(MatchAll()), should = Nil,
          mustNot = Seq(Lexical(Seq("dup"))), msm = 0),
      "bool_filter_only" ->
        boolOracle(tokCte, must = Nil, should = Nil,
          mustNot = Seq(Lexical(Seq("dup"))), msm = 0, filterPred = langF),
      "dsl_search_after" ->
        s"""WITH $tokCte,
           |m0 AS (SELECT DISTINCT doc_id FROM tf WHERE term IN (${termList(A)})),
           |t0 AS (SELECT m0.doc_id, d.n_chars FROM m0 JOIN documents d USING (doc_id)
           |       WHERE d.n_chars < 400 OR (d.n_chars = 400 AND m0.doc_id > 250)
           |       ORDER BY d.n_chars DESC, m0.doc_id LIMIT $Depth),
           |m1 AS (SELECT DISTINCT doc_id FROM tf WHERE term IN (${termList(B)})),
           |t1 AS (SELECT m1.doc_id, d.n_chars FROM m1 JOIN documents d USING (doc_id)
           |       WHERE d.n_chars < 400 OR (d.n_chars = 400 AND m1.doc_id > 250)
           |       ORDER BY d.n_chars DESC, m1.doc_id LIMIT $Depth),
           |u AS (SELECT * FROM t0 UNION SELECT * FROM t1)
           |SELECT doc_id, n_chars FROM u
           |ORDER BY n_chars DESC, doc_id LIMIT 10""".stripMargin,
      "dsl_plain_match" ->
        boolOracle(tokCte, must = Seq(Lexical(A)), should = Nil,
          mustNot = Nil, msm = 0),
      "dsl_mlt" ->
        boolOracle(tokCte,
          must = Seq(MoreLikeThisQ(7L, maxQueryTerms = 10)), should = Nil,
          mustNot = Nil, msm = 0),
      "dsl_simple_query_string" ->
        boolOracle(tokCte, must = Seq(Lexical(Seq("join"))),
          should = Seq(Lexical(Seq("merge")), LexicalPhrase(Seq("table", "hash"))),
          mustNot = Seq(Lexical(Seq("dup"))), msm = 0),
      "dsl_simple_query_string_ops" ->
        boolOracle(tokCte,
          must = Seq(LexicalPhrase(Seq("hash", "join"), 1)),
          should = Seq(TermPattern("fil%"), Fuzzy("merg", 1)),
          mustNot = Seq(Lexical(Seq("dup"))), msm = 0),
      "dsl_query_string_range" ->
        boolOracle(tokCte,
          must = Seq(BoolSub(must = Seq(Lexical(Seq("merge")),
            RangeQ("n_chars", gte = Some(300), boost = 2.0)))),
          should = Seq(RangeQ("n_chars", gte = Some(100), lt = Some(220),
            boost = 0.5)),
          mustNot = Nil, msm = 0),
      "bool_explain" ->
        boolOracle(tokCte, must = Seq(Lexical(A)),
          should = Seq(Lexical(B), Lexical(Seq("scan"))),
          mustNot = Nil, msm = 0, explain = true),
      "dsl_ids_terms" ->
        boolOracle(tokCte, must = Nil,
          should = Seq(IdsQ(Seq(3L, 7L, 11L, 400L), 2.0),
            TermsSet(Seq("dup", "scan"))),
          mustNot = Nil, msm = 1),
      "dsl_dis_max" ->
        boolOracle(tokCte, must = Seq(DisMax(Seq(Lexical(A), Lexical(B)), 0.3)),
          should = Nil, mustNot = Nil, msm = 0),
      "dsl_boosting" ->
        boolOracle(tokCte,
          must = Seq(Boosting(Lexical(A), Lexical(Seq("dup")), 0.4)),
          should = Nil, mustNot = Nil, msm = 0),
      "dsl_fuzzy" ->
        boolOracle(tokCte, must = Seq(Fuzzy("joim", 1, transpositions = false)),
          should = Seq(Lexical(Seq("hash"))), mustNot = Nil, msm = 0),
      "dsl_fuzzy_osa" ->
        boolOracle(tokCte, must = Seq(Fuzzy("ahsh", 1)),
          should = Seq(Lexical(Seq("join"))), mustNot = Nil, msm = 0),
      "dsl_match_synonyms" ->
        boolOracle(tokCte,
          must = Seq(LexicalSyn(Seq(Seq("fast", "slow") -> 1.0, Seq("join") -> 1.0))),
          should = Nil, mustNot = Nil, msm = 0),
      "dsl_intervals_unlimited" ->
        boolOracle(tokCte,
          must = Seq(IntervalsQ(graft.query.Intervals.IAllOf(Seq(
            graft.query.Intervals.IMatch(Seq("table")),
            graft.query.Intervals.IAnyOf(Seq(
              graft.query.Intervals.IMatch(Seq("hash")),
              graft.query.Intervals.IMatch(Seq("scan"))))),
            maxGaps = -1, ordered = true))),
          should = Seq(Lexical(Seq("merge"))), mustNot = Nil, msm = 0),
      "dsl_intervals_nested" ->
        boolOracle(tokCte,
          must = Seq(IntervalsQ(graft.query.Intervals.IAllOf(Seq(
            graft.query.Intervals.IMatch(Seq("table")),
            graft.query.Intervals.IAnyOf(Seq(
              graft.query.Intervals.IMatch(Seq("hash")),
              graft.query.Intervals.IMatch(Seq("scan"))))),
            maxGaps = 1, ordered = true))),
          should = Seq(Lexical(Seq("merge"))), mustNot = Nil, msm = 0),
      "dsl_intervals_prefix" ->
        boolOracle(tokCte,
          must = Seq(IntervalsQ(graft.query.Intervals.IAllOf(Seq(
            graft.query.Intervals.IPrefix("s"),
            graft.query.Intervals.IMatch(Seq("join"))),
            maxGaps = 2, ordered = true))),
          should = Seq(Lexical(Seq("merge"))), mustNot = Nil, msm = 0),
      "dsl_intervals_fuzzy_wildcard" ->
        boolOracle(tokCte,
          must = Seq(IntervalsQ(graft.query.Intervals.IAllOf(Seq(
            graft.query.Intervals.IFuzzy("tabel", fuzziness = 1),
            graft.query.Intervals.IWildcard("s?an")),
            maxGaps = 3, ordered = true))),
          should = Seq(Lexical(Seq("sort"))), mustNot = Nil, msm = 0),
      "dsl_terms_set" ->
        boolOracle(tokCte,
          must = Seq(TermsSetFieldQ(Seq("hash", "join", "scan"), "required_matches")),
          should = Seq(Lexical(Seq("merge"))), mustNot = Nil, msm = 0),
      "dsl_span_multi" ->
        boolOracle(tokCte,
          must = Seq(IntervalsQ(graft.query.Intervals.IAllOf(Seq(
            graft.query.Intervals.IWildcard("s?a*"),
            graft.query.Intervals.IMatch(Seq("join"))),
            maxGaps = 2, ordered = false))),
          should = Seq(IntervalsQ(graft.query.Intervals.IRegexp("so.t|merge"))),
          mustNot = Nil, msm = 0),
      "dsl_intervals_filter" ->
        boolOracle(tokCte,
          must = Seq(IntervalsQ(graft.query.Intervals.IFiltered(
            graft.query.Intervals.IMatch(Seq("hash", "join"),
              maxGaps = 2, ordered = true),
            graft.query.Intervals.FNotContaining,
            graft.query.Intervals.IMatch(Seq("scan"))))),
          should = Seq(IntervalsQ(graft.query.Intervals.IFiltered(
            graft.query.Intervals.IMatch(Seq("merge", "sort"),
              maxGaps = -1, ordered = true),
            graft.query.Intervals.FBefore,
            graft.query.Intervals.IMatch(Seq("dup"))))),
          mustNot = Nil, msm = 0),
      "dsl_intervals" ->
        boolOracle(tokCte,
          must = Seq(SpanNearQ(Seq("hash", "join"), slop = 3, inOrder = true)),
          should = Seq(Lexical(Seq("merge", "sort"))), mustNot = Nil, msm = 0),
      "dsl_span_first_not" ->
        boolOracle(tokCte,
          must = Seq(SpanFirstQ("merge", 3), SpanNotQ("join", "hash", 1, 1)),
          should = Seq(Lexical(Seq("scan"))), mustNot = Nil, msm = 0),
      "dsl_span_containing" ->
        boolOracle(tokCte,
          must = Seq(SpanContainingQ(Seq("hash", "join"), 5,
            inOrder = true, "merge")),
          should = Seq(TermsSet(Seq("scan", "sort"))), mustNot = Nil,
          msm = 0, k = 20),
      "dsl_nested" ->
        boolOracle(tokCte,
          must = Seq(HasChildQ("chunks", Seq("hash", "join"), "avg", 1)),
          should = Seq(Lexical(Seq("sort"))), mustNot = Nil,
          msm = 0, k = 15),
      "dsl_has_child" ->
        boolOracle(tokCte,
          must = Seq(HasChildQ("chunks", Seq("hash", "join"), "sum", 2)),
          should = Seq(Lexical(Seq("merge"))), mustNot = Nil,
          msm = 0, k = 15),
      "dsl_script_score" ->
        boolOracle(tokCte,
          must = Seq(ScriptScoreQ(Lexical(Seq("hash", "join")),
            CosinePlusOne, KnnVec)),
          should = Seq(
            ScriptScoreQ(Lexical(Seq("merge")), InvL2, KnnVec),
            ScriptScoreQ(Lexical(Seq("scan")), InnerProd, KnnVec, boost = 2.0)),
          mustNot = Nil, msm = 0),
      "dsl_pinned" ->
        boolOracle(tokCte, must = Seq(PinnedQ(Seq(41L, 7L, 113L),
          Lexical(Seq("join", "hash")))),
          should = Nil, mustNot = Nil, msm = 0),
      "dsl_distance_feature" ->
        boolOracle(tokCte, must = Seq(Lexical(Seq("merge"))),
          should = Seq(DistanceFeatureQ("n_chars", 300, 50, 2.0)),
          mustNot = Nil, msm = 0),
      "dsl_match_bool_prefix" ->
        boolOracle(tokCte,
          must = Seq(BoolSub(should = Seq(Lexical(Seq("hash")),
            TermPattern("jo%")))),
          should = Seq(Lexical(Seq("merge"))), mustNot = Nil, msm = 0),
      "dsl_scroll_slice" ->
        boolOracle(tokCte, must = Nil,
          should = Seq(Lexical(Seq("merge", "sort"))),
          mustNot = Nil, msm = 1,
          filterPred = Some("doc_id % 4 = 1")),
      "dsl_rank_feature" ->
        boolOracle(tokCte, must = Nil,
          should = Seq(
            RankFeatureQ("join", "saturation", pivot = 4, boost = 2.0),
            RankFeatureQ("hash", "log", scalingFactor = 1.5),
            RankFeatureQ("scan", "sigmoid", pivot = 3, exponent = 0.6),
            Lexical(Seq("merge"))),
          mustNot = Nil, msm = 1),
      "dsl_function_score" ->
        boolOracle(tokCte, must = Seq(FunctionScore(
          Lexical(Seq("join", "hash")),
          Seq(
            WeightFn(0.5, Some(Lexical(Seq("dup")))),
            FieldValueFactorFn("n_chars", 0.01, "log1p", Some(1.0)),
            DecayFn("gauss", "n_chars", 300, 150, 25, 0.5, 2.0)),
          scoreMode = "sum", boostMode = "multiply", maxBoost = 3.0)),
          should = Nil, mustNot = Nil, msm = 0),
      "dsl_range_filter" ->
        hybridOracle(tokCte, lex(Seq(A, B)), MinMaxNormTech(),
          Combination(Combine.Arithmetic),
          filterPred = Some("doc_id IN (SELECT doc_id FROM documents " +
            "WHERE lang = 'en' AND doc_id >= 100 AND doc_id < 400)")),
      "prefix_query" ->
        boolOracle(tokCte, must = Seq(TermPattern("s%")),
          should = Seq(Lexical(A)), mustNot = Nil, msm = 0),
      "dsl_wildcard" ->
        boolOracle(tokCte, must = Seq(TermPattern("s_a%")),
          should = Seq(Lexical(A)), mustNot = Nil, msm = 0),
      "dsl_regexp" ->
        boolOracle(tokCte, must = Seq(RegexPattern("du[a-z]*")),
          should = Seq(Lexical(A)), mustNot = Nil, msm = 0),
      "bool_exists" ->
        boolOracle(tokCte, must = Seq(ExistsQ("text")),
          should = Seq(Lexical(A)), mustNot = Seq(Lexical(Seq("dup"))), msm = 0),
      "span_near_unordered" ->
        boolOracle(tokCte,
          must = Seq(SpanNearQ(Seq("table", "hash"), slop = 2, inOrder = false)),
          should = Seq(Lexical(A)), mustNot = Nil, msm = 0),
      "dsl_span_near" ->
        boolOracle(tokCte,
          must = Seq(SpanNearQ(Seq("hash", "join"), slop = 3, inOrder = true)),
          should = Seq(Lexical(Seq("merge", "sort"))), mustNot = Nil, msm = 0),
      "dsl_runtime_field" ->
        boolOracle(tokCte, must = Seq(Lexical(Seq("join", "hash"))),
          should = Nil, mustNot = Nil, msm = 0,
          filterPred = Some("doc_id IN (SELECT doc_id FROM documents " +
            "WHERE CAST(floor(n_chars / 100) * 100 AS BIGINT) >= 200 " +
            "AND CAST(floor(n_chars / 100) * 100 AS BIGINT) < 500)")),
      "dsl_field_masking_span" ->
        boolOracle(tokCte,
          must = Seq(SpanNearMaskedQ(
            Seq("text" -> "join", "path" -> "en"), slop = 2, inOrder = false)),
          should = Seq(Lexical(Seq("merge"))), mustNot = Nil, msm = 0),
      "dsl_phrase_prefix" ->
        boolOracle(tokCte,
          must = Seq(LexicalPhrasePrefix(Seq("hash"), "s", maxExpansions = 3)),
          should = Seq(Lexical(Seq("join"))), mustNot = Nil, msm = 0),
      "phrase_suggest" -> {
        // mirrors Suggest.phraseSuggest for the fixed input "sorr roww":
        // per-slot candidates (original-if-indexed + top-3 corrections),
        // channel priors, stupid-backoff bigram LM — additions in the same
        // left-to-right order as the engine so the doubles agree exactly
        val rwel = 0.95
        val missPrior = 1 - rwel // interpolated so both engines use the
                                 // identical double (1-0.95 != literal 0.05)
        def candCtes(i: Int, input: String) =
          s"""c$i AS (
             |  SELECT term, dist FROM (
             |    SELECT df.term, levenshtein(df.term, '$input') AS dist,
             |           row_number() OVER (ORDER BY levenshtein(df.term, '$input'),
             |             df.df DESC, df.term) AS rn
             |    FROM df
             |    WHERE abs(length(df.term) - ${input.length}) <= 2
             |      AND df.term <> '$input'
             |      AND levenshtein(df.term, '$input') <= 2) WHERE rn <= 3
             |  UNION ALL
             |  SELECT '$input', 0 WHERE EXISTS (SELECT 1 FROM df WHERE term = '$input')),
             |pri$i AS (SELECT term,
             |            CASE WHEN dist = 0 THEN $rwel ELSE $missPrior / dist END AS p
             |          FROM c$i)""".stripMargin
        s"""WITH $tokCte,
           |tokp AS (SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS pos
           |         FROM (SELECT doc_id,
           |                 list_filter(string_split(text, ' '), x -> x <> '') AS l
           |               FROM documents)),
           |ug AS (SELECT term, sum(tf)*1.0 AS c FROM tf GROUP BY term),
           |tot AS (SELECT sum(tf)*1.0 AS t FROM tf),
           |${candCtes(0, "fas")},
           |${candCtes(1, "rew")},
           |seqs AS (SELECT p0.term AS t0, p1.term AS t1, ln(p0.p) + ln(p1.p) AS lp
           |         FROM pri0 p0 CROSS JOIN pri1 p1),
           |bgc AS (SELECT a.term AS t0, b.term AS t1, count(*)*1.0 AS c
           |        FROM tokp a JOIN tokp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
           |        WHERE a.term IN (SELECT term FROM c0)
           |          AND b.term IN (SELECT term FROM c1)
           |        GROUP BY 1, 2),
           |scored AS (
           |  SELECT s.t0 || ' ' || s.t1 AS suggestion,
           |         s.lp + ln(u0.c / tot.t) +
           |         CASE WHEN bgc.c IS NOT NULL THEN ln(bgc.c / u0.c)
           |              ELSE ln(0.4 * u1.c / tot.t) END AS sc
           |  FROM seqs s
           |  JOIN ug u0 ON u0.term = s.t0
           |  JOIN ug u1 ON u1.term = s.t1
           |  LEFT JOIN bgc ON bgc.t0 = s.t0 AND bgc.t1 = s.t1
           |  CROSS JOIN tot)
           |SELECT suggestion, round(sc, 4) AS score FROM scored
           |ORDER BY sc DESC, suggestion LIMIT 5""".stripMargin
      },
      "term_suggest" ->
        s"""WITH $tokCte,
           |inp AS (SELECT * FROM (VALUES ('joim'), ('hsah'), ('merge')) t(input)),
           |miss AS (SELECT input FROM inp WHERE input NOT IN (SELECT term FROM df)),
           |cand AS (
           |  SELECT miss.input, df.term AS suggestion,
           |         levenshtein(df.term, miss.input) AS dist, df.df
           |  FROM df, miss
           |  WHERE abs(length(df.term) - length(miss.input)) <= 2
           |    AND df.term <> miss.input
           |    AND levenshtein(df.term, miss.input) <= 2),
           |r AS (SELECT *, row_number() OVER (
           |        PARTITION BY input ORDER BY dist, df DESC, suggestion) AS rn
           |      FROM cand)
           |SELECT input, suggestion, dist, df FROM r WHERE rn <= 3""".stripMargin,
      "term_suggest_popular" ->
        s"""WITH $tokCte,
           |inp AS (SELECT * FROM (VALUES ('hsah'), ('merge')) t(input)),
           |g AS (SELECT inp.input, coalesce(dfi.df, 0) AS input_df
           |      FROM inp LEFT JOIN df dfi ON dfi.term = inp.input),
           |cand AS (
           |  SELECT g.input, df.term AS suggestion,
           |         damerau_levenshtein(df.term, g.input) AS dist, df.df
           |  FROM df, g
           |  WHERE abs(length(df.term) - length(g.input)) <= 1
           |    AND df.term <> g.input
           |    AND damerau_levenshtein(df.term, g.input) <= 1
           |    AND df.df > g.input_df),
           |r AS (SELECT *, row_number() OVER (
           |        PARTITION BY input ORDER BY dist, df DESC, suggestion) AS rn
           |      FROM cand)
           |SELECT input, suggestion, dist, df FROM r WHERE rn <= 3""".stripMargin,
      "rank_eval" -> {
        val qs = Seq(1 -> Seq("join", "hash"), 2 -> Seq("merge", "sort"),
          3 -> Seq("scan", "filter"))
        val perQ = qs.map { case (qid, ts) =>
          s"""sc$qid AS (
             |  SELECT tf.doc_id, $Bm25Sum AS s
             |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
             |  WHERE tf.term IN (${termList(ts)}) GROUP BY tf.doc_id),
             |top$qid AS (
             |  SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
             |         row_number() OVER (ORDER BY s DESC, doc_id) AS rank
             |  FROM (SELECT * FROM sc$qid ORDER BY s DESC, doc_id LIMIT 10)),
             |jd$qid AS (
             |  SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
             |         CAST(count(DISTINCT term) AS DOUBLE) AS grade
             |  FROM tf WHERE term IN (${termList(ts)}) GROUP BY doc_id)""".stripMargin
        }.mkString(",\n")
        s"""WITH $tokCte,
           |$perQ,
           |topk AS (SELECT * FROM top1 UNION ALL SELECT * FROM top2
           |         UNION ALL SELECT * FROM top3),
           |jd AS (SELECT * FROM jd1 UNION ALL SELECT * FROM jd2
           |       UNION ALL SELECT * FROM jd3),
           |pq AS (
           |  SELECT t.query_id, count(*) AS retrieved,
           |         sum(CASE WHEN coalesce(j.grade, 0) > 0 THEN 1 ELSE 0 END) AS rel_retrieved,
           |         min(CASE WHEN coalesce(j.grade, 0) > 0 THEN t.rank END) AS first_rel,
           |         sum((pow(2.0, coalesce(j.grade, 0)) - 1.0) / log2(t.rank + 1.0)) AS dcg
           |  FROM topk t LEFT JOIN jd j USING (query_id, doc_id) GROUP BY 1),
           |ideal AS (
           |  SELECT query_id, sum((pow(2.0, grade) - 1.0) / log2(irank + 1.0)) AS idcg
           |  FROM (SELECT query_id, grade, doc_id, row_number() OVER
           |          (PARTITION BY query_id ORDER BY grade DESC, doc_id) AS irank
           |        FROM jd WHERE grade > 0)
           |  WHERE irank <= 10 GROUP BY 1),
           |nr AS (SELECT query_id, count(*) AS n_rel FROM jd WHERE grade > 0 GROUP BY 1),
           |errw AS (
           |  -- ERR cascade (Chapelle 2009), iterated rank by rank over the
           |  -- k-bounded list: err += trust * R / rank, trust *= (1 - R)
           |  SELECT query_id, rank, err, p FROM (
           |    WITH RECURSIVE walk AS (
           |      SELECT query_id, 0 AS rank,
           |             CAST(0.0 AS DOUBLE) AS err, CAST(1.0 AS DOUBLE) AS p
           |      FROM (SELECT DISTINCT query_id FROM topk)
           |      UNION ALL
           |      SELECT t.query_id, t.rank,
           |             w.err + w.p * ((pow(2.0, coalesce(j.grade, 0)) - 1.0) / pow(2.0, 2.0)) / t.rank,
           |             w.p * (1 - ((pow(2.0, coalesce(j.grade, 0)) - 1.0) / pow(2.0, 2.0)))
           |      FROM walk w JOIN topk t
           |        ON t.query_id = w.query_id AND t.rank = w.rank + 1
           |      LEFT JOIN jd j ON j.query_id = t.query_id AND j.doc_id = t.doc_id)
           |    SELECT * FROM walk)),
           |errf AS (
           |  SELECT query_id, err AS err_k FROM (
           |    SELECT query_id, err, row_number() OVER
           |      (PARTITION BY query_id ORDER BY rank DESC) AS rn FROM errw)
           |  WHERE rn = 1),
           |m AS (
           |  SELECT pq.query_id,
           |         rel_retrieved * 1.0 / retrieved AS precision_k,
           |         CASE WHEN nr.n_rel IS NULL THEN 0.0
           |              ELSE rel_retrieved * 1.0 / nr.n_rel END AS recall_k,
           |         CASE WHEN first_rel IS NULL THEN 0.0
           |              ELSE 1.0 / first_rel END AS mrr,
           |         CASE WHEN ideal.idcg IS NULL OR ideal.idcg = 0 THEN 0.0
           |              ELSE dcg / ideal.idcg END AS ndcg_k,
           |         errf.err_k
           |  FROM pq LEFT JOIN ideal USING (query_id) LEFT JOIN nr USING (query_id)
           |       JOIN errf USING (query_id))
           |SELECT query_id, round(precision_k, 4) AS precision_k,
           |       round(recall_k, 4) AS recall_k, round(mrr, 4) AS mrr,
           |       round(ndcg_k, 4) AS ndcg_k, round(err_k, 4) AS err_k FROM m
           |UNION ALL
           |SELECT CAST(-1 AS BIGINT), round(avg(precision_k), 4),
           |       round(avg(recall_k), 4), round(avg(mrr), 4),
           |       round(avg(ndcg_k), 4), round(avg(err_k), 4) FROM m""".stripMargin
      },
      "percolate" ->
        s"""WITH $tokCte,
           |dt AS (SELECT DISTINCT doc_id, term FROM tok2),
           |qt AS (SELECT * FROM (VALUES
           |  (1, 'hash', 2), (1, 'join', 2),
           |  (2, 'merge', 2), (2, 'sort', 2), (2, 'window', 2),
           |  (3, 'scan', 1),
           |  (4, 'spark', 1), (4, 'stream', 1), (4, 'batch', 1),
           |  (5, 'join', 1)) t(query_id, term, msm)),
           |qn AS (SELECT * FROM (VALUES
           |  (3, 'slow'), (5, 'hash'), (5, 'merge')) t(query_id, not_term)),
           |cand AS (
           |  SELECT dt.doc_id, qt.query_id FROM dt JOIN qt USING (term)
           |  GROUP BY dt.doc_id, qt.query_id, qt.msm
           |  HAVING count(*) >= qt.msm)
           |SELECT c.doc_id, CAST(c.query_id AS BIGINT) AS query_id FROM cand c
           |WHERE NOT EXISTS (
           |  SELECT 1 FROM qn JOIN dt ON dt.term = qn.not_term
           |  WHERE qn.query_id = c.query_id AND dt.doc_id = c.doc_id)
           |ORDER BY 1, 2""".stripMargin,
      "completion_suggest" ->
        s"""WITH $tokCte,
           |p AS (SELECT term AS suggestion, 0 AS dist, df AS weight, 'plain' AS kind
           |      FROM df WHERE term LIKE 's%'
           |      ORDER BY weight DESC, suggestion LIMIT 5),
           |f AS (SELECT term AS suggestion,
           |             levenshtein(substr(term, 1, 2), 'sm') AS dist,
           |             df AS weight, 'fuzzy' AS kind
           |      FROM df
           |      WHERE substr(term, 1, 1) = 's'
           |        AND levenshtein(substr(term, 1, 2), 'sm') <= 1
           |      ORDER BY dist, weight DESC, suggestion LIMIT 5)
           |SELECT * FROM p UNION ALL SELECT * FROM f""".stripMargin,
      "completion_suggest_context" ->
        """SELECT term AS suggestion, count(DISTINCT doc_id) AS weight
          |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          |      FROM documents WHERE lang = 'de')
          |WHERE term LIKE 's%' AND term <> ''
          |GROUP BY term
          |ORDER BY weight DESC, suggestion LIMIT 5""".stripMargin,
      // the parsed query_string tree, spelled out as the same nested bool
      "dsl_query_string" ->
        boolOracle(tokCte,
          must = Seq(BoolSub(should = Seq(
            BoolSub(must = Seq(Lexical(Seq("join")), Lexical(Seq("hash")))),
            BoolSub(should = Seq(Lexical(Seq("merge"))),
              mustNot = Seq(Lexical(Seq("dup"))))))),
          should = Nil, mustNot = Nil, msm = 0),
      "dsl_query_string_fields" ->
        boolOracle(tokCte,
          must = Seq(BoolSub(should = Seq(
            LexicalMulti(Seq("path" -> 2.0), Seq("pkg7"), MostFields),
            TermPattern("sc_n"),
            LexicalPhrase(Seq("table", "hash"))))),
          should = Nil, mustNot = Nil, msm = 0),
      "dsl_constant_score" ->
        boolOracle(tokCte, must = Nil,
          should = Seq(ConstantScore(Lexical(Seq("merge")), 1.5), Lexical(A)),
          mustNot = Nil, msm = 1),
      "multi_best_fields" ->
        boolOracle(tokCte, must = Seq(LexicalMulti(
          Seq("text" -> 1.0, "path" -> 2.0), MultiTerms, BestFields(0.3))),
          should = Nil, mustNot = Nil, msm = 0),
      "multi_cross_fields" ->
        boolOracle(tokCte, must = Seq(LexicalMulti(
          Seq("text" -> 1.0, "path" -> 2.0), MultiTerms, CrossFields)),
          should = Nil, mustNot = Nil, msm = 0),
      "multi_most_fields" ->
        boolOracle(tokCte, must = Seq(LexicalMulti(
          Seq("text" -> 1.0, "path" -> 2.0), MultiTerms, MostFields)),
          should = Nil, mustNot = Nil, msm = 0),
      "dsl_multi_match" ->
        boolOracle(tokCte, must = Seq(LexicalMulti(
          Seq("text" -> 1.0, "path" -> 2.0), MultiTerms, BestFields(0.3))),
          should = Nil, mustNot = Seq(Lexical(Seq("dup"))), msm = 0),
      "dsl_combined_fields" ->
        boolOracle(tokCte, must = Seq(LexicalMulti(
          Seq("text" -> 1.0, "title" -> 2.0), Seq("join", "merge", "hash"),
          CombinedFields(2))),
          should = Seq(Lexical(Seq("sort"))), mustNot = Nil, msm = 0),
      "dsl_combined_fields_and" ->
        boolOracle(tokCte, must = Seq(LexicalMulti(
          Seq("text" -> 1.0, "path" -> 1.0), Seq("join", "en"),
          CombinedFields(2))),
          should = Nil, mustNot = Nil, msm = 0),
      "dsl_multi_match_phrase_prefix" ->
        boolOracle(tokCte, must = Nil, should = Seq(
          LexicalMulti(Seq("text" -> 1.0, "path" -> 2.0),
            Seq("table", "ha"), PhrasePrefixFields(0.0, 10)),
          LexicalMulti(Seq("text" -> 1.0, "path" -> 2.0),
            Seq("src", "pkg"), PhrasePrefixFields(0.3, 5))),
          mustNot = Nil, msm = 1),
      "dsl_multi_match_bool_prefix" ->
        boolOracle(tokCte,
          must = Seq(LexicalMulti(Seq("text" -> 1.0, "path" -> 2.0),
            Seq("merge", "fil"), BoolPrefixFields(0.3))),
          should = Seq(Lexical(Seq("sort"))), mustNot = Nil, msm = 0),
      "dsl_bool_nested_filter" ->
        boolOracle(tokCte,
          must = Seq(BoolSub(
            should = Seq(Lexical(Seq("join")), Lexical(Seq("merge"))),
            filter = Seq(Lexical(Seq("hash"))))),
          should = Nil, mustNot = Seq(Lexical(Seq("dup"))), msm = 0),
      "dsl_multi_match_phrase" ->
        boolOracle(tokCte, must = Nil, should = Seq(
          LexicalMulti(Seq("text" -> 1.0, "path" -> 2.0),
            Seq("table", "hash"), PhraseFields()),
          LexicalMulti(Seq("text" -> 1.0, "path" -> 2.0),
            Seq("src", "pkg7"), PhraseFields(0.3))),
          mustNot = Nil, msm = 1),
      "dsl_multi_match_phrase_slop" ->
        boolOracle(tokCte, must = Nil, should = Seq(
          LexicalMulti(Seq("text" -> 1.0, "path" -> 2.0),
            Seq("table", "scan"), PhraseFields(0.0, 2)),
          LexicalMulti(Seq("text" -> 1.0, "path" -> 2.0),
            Seq("pkg7", "en"), PhraseFields(0.3, 2))),
          mustNot = Nil, msm = 1),
      "hybrid_multi_lex" ->
        hybridOracle(tokCte, Seq(LexicalMulti(
          Seq("text" -> 1.0, "path" -> 2.0), MultiTerms, BestFields(0.3)),
          Lexical(A)), MinMaxNormTech(), Combination(Combine.Arithmetic)),
      "hybrid_ann_lex" ->
        hybridOracle(tokCte, Seq(Lexical(A), DenseCosine(DenseQ)),
          MinMaxNormTech(), Combination(Combine.Arithmetic, Seq(0.6, 0.4))),
      "hybrid_ivf_lex" ->
        hybridOracle(tokCte, Seq(Lexical(A), DenseIvf(DenseQ, nProbe = 16)),
          MinMaxNormTech(), Combination(Combine.Arithmetic, Seq(0.6, 0.4))),
      "dsl_knn_radial" ->
        hybridOracle(tokCte, Seq(Lexical(A), DenseRadial(DenseQ3, None, Some(0.8))),
          MinMaxNormTech(), Combination(Combine.Arithmetic, Seq(0.6, 0.4))),
      "dsl_semantic_routed" ->
        hybridOracle(tokCte,
          Seq(Lexical(A), SemanticText("sem_sparse",
            Seq("merge", "window", "dup", "scan", "merge"))),
          MinMaxNormTech(), Combination(Combine.Arithmetic, Seq(0.6, 0.4))),
      "dsl_semantic_routed_dense" ->
        hybridOracle(tokCte,
          Seq(Lexical(A), SemanticText("sem_dense",
            Seq("merge", "window", "dup", "scan", "merge"))),
          MinMaxNormTech(), Combination(Combine.Arithmetic, Seq(0.6, 0.4))),
      "hybrid_tri_modal" ->
        hybridOracle(tokCte, Seq(Lexical(B), SparseLinear(SQ.toMap), DenseCosine(DenseQ3)),
          RrfNormTech(60), Combination(Combine.Rrf)),
      "hybrid_knn_vector" ->
        hybridOracle(tokCte, Seq(Lexical(A), DenseVector(KnnVec)),
          MinMaxNormTech(), Combination(Combine.Arithmetic)),
      "collapse_multi" ->
        hybridOracle(tokCte, lex(Seq(A, B)), MinMaxNormTech(),
          Combination(Combine.Arithmetic, Seq(0.6, 0.4)),
          k = 10, collapse = Some(Collapse("source", 3))),
      "dsl_neural_sparse" ->
        hybridOracle(tokCte, Seq(Lexical(A), SparseLinear(SQ.toMap)),
          MinMaxNormTech(), Combination(Combine.Arithmetic), filterPred = langF),
      "dsl_neural_sparse_analyzer" ->
        hybridOracle(tokCte, Seq(Lexical(A), SparseLinear(Map(
          "merge" -> 1.0, "window" -> 1.0, "dup" -> 1.0, "scan" -> 1.0))),
          MinMaxNormTech(), Combination(Combine.Arithmetic)),
      "dsl_collapse_boost" ->
        hybridOracle(tokCte,
          Seq(Lexical(A, A.map(_ -> 2.0).toMap), Lexical(B)),
          MinMaxNormTech(), Combination(Combine.Arithmetic, Seq(0.6, 0.4)),
          k = 10, collapse = Some(Collapse("source", 2))),

      // weights are the mock encoder's output for the analyzed query text
      // "merge window dup scan merge", derived BY HAND here (count x
      // (1 + len%5/4)): merge x2 -> 2*(1+0) = 2.0; window -> 1+1*0.25 = 1.25;
      // dup -> 1+3*0.25 = 1.75; scan -> 1+4*0.25 = 2.0. If the engine's
      // query-side encoder drifts from this spec, the oracle catches it.
      "dsl_enriched_sparse" ->
        hybridOracle(tokCte,
          Seq(Lexical(A), SparseLinear(Map(
            "merge" -> 2.0, "window" -> 1.25, "dup" -> 1.75, "scan" -> 2.0))),
          MinMaxNormTech(), Combination(Combine.Arithmetic)),
      "hybrid_total_hits" ->
        hybridOracle(tokCte, lex(Seq(A, B)), MinMaxNormTech(), Combination(Combine.Arithmetic),
          k = 10, minScore = Some(0.35), withTotal = true),
      "dsl_sorted_score" ->
        hybridOracle(tokCte, lex(Seq(A, B)), MinMaxNormTech(),
          Combination(Combine.Arithmetic, Seq(0.6, 0.4)),
          minScore = Some(0.3), mixedSort = Seq(("n_chars", true))),
      "dsl_sorted_score_collapse" ->
        hybridOracle(tokCte, lex(Seq(A, B)), MinMaxNormTech(),
          Combination(Combine.Arithmetic, Seq(0.6, 0.4)),
          minScore = Some(0.3), mixedSort = Seq(("n_chars", true)),
          collapse = Some(Collapse("source"))),
      "dsl_sorted_collapse" ->
        s"""WITH $tokCte,
           |m0 AS (SELECT DISTINCT doc_id FROM tf WHERE term IN (${termList(A)})),
           |t0 AS (SELECT m0.doc_id, d.n_chars FROM m0 JOIN documents d USING (doc_id)
           |       ORDER BY d.n_chars DESC, m0.doc_id LIMIT $Depth),
           |m1 AS (SELECT DISTINCT doc_id FROM tf WHERE term IN (${termList(B)})),
           |t1 AS (SELECT m1.doc_id, d.n_chars FROM m1 JOIN documents d USING (doc_id)
           |       ORDER BY d.n_chars DESC, m1.doc_id LIMIT $Depth),
           |u AS (SELECT * FROM t0 UNION SELECT * FROM t1)
           |SELECT doc_id, n_chars FROM (
           |  SELECT u.doc_id, u.n_chars,
           |         row_number() OVER (PARTITION BY d.source
           |                            ORDER BY u.n_chars DESC, u.doc_id) AS rn
           |  FROM u JOIN documents d USING (doc_id))
           |WHERE rn = 1
           |ORDER BY n_chars DESC, doc_id LIMIT 10""".stripMargin,
      "dsl_runtime_field_sort" ->
        s"""WITH $tokCte,
           |m0 AS (SELECT DISTINCT doc_id FROM tf WHERE term IN (${termList(A)})),
           |t0 AS (SELECT m0.doc_id, CAST(floor(d.n_chars/100)*100 AS BIGINT) AS len_bucket
           |       FROM m0 JOIN documents d USING (doc_id)
           |       ORDER BY len_bucket ASC, m0.doc_id LIMIT $Depth),
           |m1 AS (SELECT DISTINCT doc_id FROM tf WHERE term IN (${termList(B)})),
           |t1 AS (SELECT m1.doc_id, CAST(floor(d.n_chars/100)*100 AS BIGINT) AS len_bucket
           |       FROM m1 JOIN documents d USING (doc_id)
           |       ORDER BY len_bucket ASC, m1.doc_id LIMIT $Depth),
           |u AS (SELECT * FROM t0 UNION SELECT * FROM t1)
           |SELECT doc_id, len_bucket FROM u
           |ORDER BY len_bucket ASC, doc_id LIMIT 10""".stripMargin,
      "dsl_sorted" ->
        s"""WITH $tokCte,
           |m0 AS (SELECT DISTINCT doc_id FROM tf WHERE term IN (${termList(A)})),
           |t0 AS (SELECT m0.doc_id, d.n_chars FROM m0 JOIN documents d USING (doc_id)
           |       ORDER BY d.n_chars DESC, m0.doc_id LIMIT $Depth),
           |m1 AS (SELECT DISTINCT doc_id FROM tf WHERE term IN (${termList(B)})),
           |t1 AS (SELECT m1.doc_id, d.n_chars FROM m1 JOIN documents d USING (doc_id)
           |       ORDER BY d.n_chars DESC, m1.doc_id LIMIT $Depth),
           |u AS (SELECT * FROM t0 UNION SELECT * FROM t1)
           |SELECT doc_id, n_chars FROM u
           |ORDER BY n_chars DESC, doc_id LIMIT 10""".stripMargin,
      "hybrid_agg_stats" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)}))
           |SELECT count(*) AS n_docs, min(d.n_chars) AS min_chars,
           |       max(d.n_chars) AS max_chars, round(avg(d.n_chars), 4) AS avg_chars,
           |       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
           |FROM m JOIN documents d USING (doc_id)""".stripMargin,
      "hybrid_agg_extended_stats" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)}))
           |SELECT count(*) AS n_docs,
           |       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
           |       round(avg(d.n_chars), 4) AS avg_chars,
           |       CAST(sum(d.n_chars * d.n_chars) AS BIGINT) AS sum_of_squares,
           |       round(var_pop(d.n_chars), 4) AS variance,
           |       round(stddev_pop(d.n_chars), 4) AS std_deviation,
           |       round(avg(d.n_chars) + 2.0 * stddev_pop(d.n_chars), 4) AS std_upper,
           |       round(avg(d.n_chars) - 2.0 * stddev_pop(d.n_chars), 4) AS std_lower
           |FROM m JOIN documents d USING (doc_id)""".stripMargin,
      "agg_rare_terms" ->
        s"""WITH $tokCte
           |SELECT term, df FROM df WHERE df <= 30
           |ORDER BY df, term""".stripMargin,
      "agg_matrix_stats" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)})),
           |j AS (
           |  SELECT CAST(d.n_chars AS DOUBLE) AS x,
           |         CAST(len(list_filter(string_split(d.text, ' '), v -> v <> '')) AS DOUBLE) AS y
           |  FROM m JOIN documents d USING (doc_id)),
           |a AS (
           |  SELECT CAST(count(*) AS DOUBLE) AS n,
           |         sum(x) AS sx, sum(x*x) AS sx2, sum(x*x*x) AS sx3,
           |         sum(x*x*x*x) AS sx4,
           |         sum(y) AS sy, sum(y*y) AS sy2, sum(x*y) AS sxy
           |  FROM j)
           |SELECT CAST(n AS BIGINT) AS n_docs,
           |       round(sx/n, 4) AS mean_x,
           |       round(sx2/n - (sx/n)*(sx/n), 4) AS var_x,
           |       round((sx3/n - 3.0*(sx/n)*(sx2/n) + 2.0*pow(sx/n, 3))
           |             / pow(sqrt(sx2/n - (sx/n)*(sx/n)), 3), 4) AS skew_x,
           |       round((sx4/n - 4.0*(sx/n)*(sx3/n) + 6.0*pow(sx/n, 2)*(sx2/n)
           |              - 3.0*pow(sx/n, 4))
           |             / pow(sx2/n - (sx/n)*(sx/n), 2), 4) AS kurt_x,
           |       round(sy/n, 4) AS mean_y,
           |       round(sxy/n - (sx/n)*(sy/n), 4) AS cov_xy,
           |       round((sxy/n - (sx/n)*(sy/n))
           |             / (sqrt(sx2/n - (sx/n)*(sx/n)) * sqrt(sy2/n - (sy/n)*(sy/n))), 4)
           |         AS corr_xy
           |FROM a""".stripMargin,
      "agg_top_metrics" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)}))
           |SELECT m.doc_id, d.n_chars, d.source, d.lang
           |FROM m JOIN documents d USING (doc_id)
           |ORDER BY d.n_chars DESC, m.doc_id LIMIT 3""".stripMargin,
      "agg_multi_terms" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)})),
           |j AS (
           |  SELECT m.doc_id, d.source, d.lang, d.n_chars, e.vec_id AS has_vec,
           |         len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS w
           |  FROM m JOIN documents d USING (doc_id)
           |  LEFT JOIN embeddings e ON e.vec_id = m.doc_id)
           |SELECT source, lang, count(*) AS n_docs,
           |       count(has_vec) AS with_vector,
           |       count(*) - count(has_vec) AS missing_vector,
           |       round(sum(n_chars * w) * 1.0 / sum(w), 4) AS w_avg_chars,
           |       (SELECT count(*) FROM documents) AS global_docs
           |FROM j GROUP BY 1, 2
           |ORDER BY n_docs DESC, source, lang LIMIT 10""".stripMargin,
      "agg_adjacency_matrix" ->
        s"""WITH $tokCte,
           |f AS (
           |  SELECT doc_id,
           |         max(CASE WHEN term = 'hash'  THEN 1 ELSE 0 END) AS fa,
           |         max(CASE WHEN term = 'join'  THEN 1 ELSE 0 END) AS fb,
           |         max(CASE WHEN term = 'merge' THEN 1 ELSE 0 END) AS fc
           |  FROM tf WHERE term IN ('hash', 'join', 'merge') GROUP BY doc_id),
           |c AS (SELECT CAST(sum(fa) AS BIGINT) AS a, CAST(sum(fb) AS BIGINT) AS b,
           |             CAST(sum(fc) AS BIGINT) AS c, CAST(sum(fa*fb) AS BIGINT) AS ab,
           |             CAST(sum(fa*fc) AS BIGINT) AS ac, CAST(sum(fb*fc) AS BIGINT) AS bc
           |      FROM f)
           |SELECT key, doc_count FROM (
           |  SELECT 'a' AS key, a AS doc_count FROM c UNION ALL
           |  SELECT 'b', b FROM c UNION ALL
           |  SELECT 'c', c FROM c UNION ALL
           |  SELECT 'a&b', ab FROM c UNION ALL
           |  SELECT 'a&c', ac FROM c UNION ALL
           |  SELECT 'b&c', bc FROM c)
           |WHERE doc_count > 0 ORDER BY key""".stripMargin,
      "agg_sampler_diversified" ->
        s"""WITH $tokCte,
           |sc AS (
           |  SELECT tf.doc_id, $Bm25Sum AS s
           |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
           |  WHERE tf.term IN (${termList(A)})
           |  GROUP BY tf.doc_id),
           |top AS (
           |  SELECT sc.doc_id, sc.s, d.source, d.lang
           |  FROM sc JOIN documents d USING (doc_id)
           |  ORDER BY sc.s DESC, sc.doc_id LIMIT 50),
           |div AS (
           |  SELECT * FROM (
           |    SELECT top.*, row_number() OVER
           |      (PARTITION BY lang ORDER BY s DESC, doc_id) AS rn FROM top)
           |  WHERE rn <= 2)
           |SELECT 'sampler' AS agg, source, count(*) AS n_docs
           |FROM top GROUP BY 2
           |UNION ALL
           |SELECT 'diversified', source, count(*) FROM div GROUP BY 2
           |ORDER BY agg, n_docs DESC, source""".stripMargin,
      // page p of the cursor walk == rows [p*60, (p+1)*60) of the full
      // lexicographic bucket ordering — pagination must be exactly a
      // re-slicing of the one global order, derived here independently
      "agg_composite_walk" ->
        s"""WITH b AS (
           |  SELECT source AS src, lang AS lg, (n_chars // 200) * 200 AS chars_bin,
           |         count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
           |  FROM documents GROUP BY 1, 2, 3),
           |r AS (SELECT *, row_number() OVER (ORDER BY src, lg, chars_bin) AS rn FROM b)
           |SELECT src, lg, chars_bin, n_docs, avg_chars,
           |       CAST((rn - 1) // 60 AS INT) AS page FROM r""".stripMargin,
      "hybrid_agg_source_terms" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)}))
           |SELECT d.source, count(*) AS n_docs
           |FROM m JOIN documents d USING (doc_id)
           |GROUP BY d.source
           |ORDER BY n_docs DESC, d.source LIMIT 5""".stripMargin,
      "hybrid_agg_percentiles" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)}))
           |SELECT round(quantile_cont(d.n_chars, 0.25), 4) AS p25,
           |       round(quantile_cont(d.n_chars, 0.50), 4) AS p50,
           |       round(quantile_cont(d.n_chars, 0.75), 4) AS p75,
           |       round(quantile_cont(d.n_chars, 0.95), 4) AS p95
           |FROM m JOIN documents d USING (doc_id)""".stripMargin,
      "hybrid_sorted" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)}))
           |SELECT m.doc_id, d.n_chars
           |FROM m JOIN documents d USING (doc_id)
           |ORDER BY d.n_chars DESC, m.doc_id LIMIT 10""".stripMargin,
      "hybrid_agg_chars_hist" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)}))
           |SELECT CAST(floor(d.n_chars / 100) * 100 AS BIGINT) AS bucket,
           |       count(*) AS n_docs, round(avg(d.n_chars), 4) AS avg_chars
           |FROM m JOIN documents d USING (doc_id)
           |GROUP BY 1""".stripMargin,
      "hybrid_agg_lang" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)}))
           |SELECT d.lang, count(*) AS n_docs
           |FROM m JOIN documents d USING (doc_id)
           |GROUP BY d.lang""".stripMargin,
      "hybrid_agg_range" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)}))
           |SELECT CASE WHEN d.n_chars < 200 THEN '*-200'
           |            WHEN d.n_chars < 500 THEN '200-500'
           |            ELSE '500-*' END AS bucket,
           |       count(*) AS n_docs, round(avg(d.n_chars), 4) AS avg_chars
           |FROM m JOIN documents d USING (doc_id)
           |GROUP BY 1""".stripMargin,
      "hybrid_agg_filters" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)}))
           |SELECT CAST(sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS f_en,
           |       CAST(sum(CASE WHEN d.source = 's1' THEN 1 ELSE 0 END) AS BIGINT) AS f_s1,
           |       CAST(sum(CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS f_long
           |FROM m JOIN documents d USING (doc_id)""".stripMargin,
      "hybrid_agg_top_hits" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)})),
           |r AS (
           |  SELECT d.source, m.doc_id, d.n_chars,
           |         row_number() OVER (PARTITION BY d.source
           |                            ORDER BY d.n_chars DESC, m.doc_id) AS hit_rank
           |  FROM m JOIN documents d USING (doc_id))
           |SELECT source, hit_rank, doc_id, n_chars FROM r WHERE hit_rank <= 2""".stripMargin,
      "agg_date_histogram" ->
        s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n_events,
           |       round(avg(value), 4) AS avg_value
           |FROM events WHERE event_type = 'purchase'
           |GROUP BY 1""".stripMargin,
      "agg_bucket_pipeline" ->
        s"""WITH h AS (
           |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n_events
           |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
           |m AS (
           |  SELECT day, n_events,
           |         round(avg(n_events) OVER (ORDER BY day
           |           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg
           |  FROM h),
           |b AS (
           |  SELECT round(avg(n_events), 4) AS avg_bucket, max(n_events) AS max_bucket,
           |         min(n_events) AS min_bucket, CAST(sum(n_events) AS BIGINT) AS sum_bucket
           |  FROM h)
           |SELECT * FROM m CROSS JOIN b""".stripMargin,
      "agg_derivative" ->
        s"""WITH h AS (
           |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n_events
           |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
           |SELECT day, n_events,
           |       n_events - lag(n_events, 1) OVER (ORDER BY day) AS deriv
           |FROM h""".stripMargin,
      "hybrid_agg_significant_terms" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)})),
           |fgt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM m),
           |fg AS (
           |  SELECT term, count(*) AS fg_df
           |  FROM (SELECT DISTINCT tf.term, tf.doc_id FROM tf JOIN m USING (doc_id))
           |  GROUP BY term)
           |SELECT term, fg_df, df AS bg_df,
           |       round((fg_df/t - df/n) * ((fg_df/t)/(df/n)), 4) AS score
           |FROM fg JOIN df USING (term) CROSS JOIN stats CROSS JOIN fgt
           |WHERE fg_df/t > df/n
           |ORDER BY (fg_df/t - df/n) * ((fg_df/t)/(df/n)) DESC, term
           |LIMIT 10""".stripMargin,
      "agg_significant_heuristics" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)})),
           |fgt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM m),
           |fg AS (
           |  SELECT term, count(*) AS fg_df
           |  FROM (SELECT DISTINCT tf.term, tf.doc_id FROM tf JOIN m USING (doc_id))
           |  GROUP BY term),
           |cells AS (
           |  SELECT term, fg_df, df AS bg_df, t, CAST(n AS DOUBLE) AS nn,
           |         CAST(fg_df AS DOUBLE) AS o11,
           |         t - fg_df AS o12,
           |         CAST(df AS DOUBLE) - fg_df AS o21,
           |         (n - t) - (CAST(df AS DOUBLE) - fg_df) AS o22,
           |         (fg_df/t - df/n) * ((fg_df/t)/(df/n)) AS jlh
           |  FROM fg JOIN df USING (term) CROSS JOIN stats CROSS JOIN fgt
           |  WHERE fg_df/t > df/n)
           |SELECT term, fg_df, bg_df, round(jlh, 4) AS jlh,
           |       round(nn * pow(o11*o22 - o12*o21, 2)
           |             / ((o11+o12)*(o11+o21)*(o12+o22)*(o21+o22)), 4) AS chi_square,
           |       round(
           |         (CASE WHEN o11 > 0 THEN (o11/nn)*log2((o11/nn)/(((o11+o21)/nn)*(t/nn))) ELSE 0 END)
           |       + (CASE WHEN o12 > 0 THEN (o12/nn)*log2((o12/nn)/(((o12+o22)/nn)*(t/nn))) ELSE 0 END)
           |       + (CASE WHEN o21 > 0 THEN (o21/nn)*log2((o21/nn)/(((o11+o21)/nn)*(1.0 - t/nn))) ELSE 0 END)
           |       + (CASE WHEN o22 > 0 THEN (o22/nn)*log2((o22/nn)/(((o12+o22)/nn)*(1.0 - t/nn))) ELSE 0 END),
           |         6) AS mutual_information
           |FROM cells
           |ORDER BY jlh DESC, term
           |LIMIT 10""".stripMargin,
      "agg_significant_text" ->
        s"""WITH $tokCte,
           |score AS (
           |  SELECT tf.doc_id, $Bm25Sum AS s
           |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
           |  WHERE tf.term IN ('join', 'hash')
           |  GROUP BY tf.doc_id),
           |topd AS (SELECT doc_id FROM score ORDER BY s DESC, doc_id LIMIT 100),
           |fgd AS (SELECT min(d.doc_id) AS doc_id
           |        FROM documents d JOIN topd USING (doc_id) GROUP BY d.text),
           |fgt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM fgd),
           |fg AS (
           |  SELECT term, count(*) AS fg_df
           |  FROM (SELECT DISTINCT tf.term, tf.doc_id FROM tf JOIN fgd USING (doc_id))
           |  GROUP BY term)
           |SELECT term, fg_df, df AS bg_df,
           |       round((fg_df/t - df/n) * ((fg_df/t)/(df/n)), 4) AS score
           |FROM fg JOIN df USING (term) CROSS JOIN stats CROSS JOIN fgt
           |WHERE fg_df/t > df/n
           |ORDER BY (fg_df/t - df/n) * ((fg_df/t)/(df/n)) DESC, term
           |LIMIT 10""".stripMargin,
      "search_highlight_whole" ->
        s"""WITH $tokCte,
           |score AS (
           |  SELECT tf.doc_id, $Bm25Sum AS s
           |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
           |  WHERE tf.term IN (${termList(B)})
           |  GROUP BY tf.doc_id),
           |topd AS (SELECT doc_id FROM score ORDER BY s DESC, doc_id LIMIT 10)
           |SELECT d.doc_id,
           |       array_to_string(list_transform(string_split(d.text, ' '),
           |         t -> CASE WHEN t IN (${termList(B)})
           |                   THEN '<em>' || t || '</em>' ELSE t END), ' ') AS highlighted
           |FROM documents d JOIN topd USING (doc_id)""".stripMargin,
      "search_highlight" ->
        s"""WITH $tokCte,
           |score AS (
           |  SELECT tf.doc_id, $Bm25Sum AS s
           |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
           |  WHERE tf.term IN (${termList(B)})
           |  GROUP BY tf.doc_id),
           |topd AS (SELECT doc_id FROM score ORDER BY s DESC, doc_id LIMIT 10),
           |tks AS (SELECT d.doc_id, string_split(d.text, ' ') AS toks
           |        FROM documents d JOIN topd USING (doc_id)),
           |m AS (
           |  SELECT doc_id, toks, t.term,
           |         CAST(coalesce(list_position(toks, t.term), 0) AS BIGINT) AS pos
           |  FROM tks CROSS JOIN (SELECT unnest(ARRAY[${termList(B)}]) AS term) t)
           |SELECT doc_id, term, pos,
           |       array_to_string(
           |         list_transform(toks[CAST(greatest(pos - 3, 1) AS INT):CAST(pos + 3 AS INT)],
           |           x -> CASE WHEN x = term THEN '<em>' || x || '</em>' ELSE x END),
           |         ' ') AS snippet
           |FROM m WHERE pos > 0""".stripMargin,
      // the full fragment pipeline re-derived: term occurrences + phrase
      // spans -> distinct positions -> island merge (gap > 2w+1 starts a
      // new fragment) -> per-doc fragment ranking -> <em>-tagged render
      "search_highlight_fragments" ->
        s"""WITH $tokCte,
           |score AS (
           |  SELECT tf.doc_id, $Bm25Sum AS s
           |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
           |  WHERE tf.term IN (${termList(B)})
           |  GROUP BY tf.doc_id),
           |topd AS (SELECT doc_id FROM score ORDER BY s DESC, doc_id LIMIT 10),
           |tks AS (SELECT d.doc_id, string_split(d.text, ' ') AS toks
           |        FROM documents d JOIN topd USING (doc_id)),
           |hltok AS (SELECT doc_id, unnest(toks) AS term,
           |                 unnest(range(1, len(toks) + 1)) AS pos
           |          FROM tks),
           |tm AS (SELECT doc_id, pos FROM hltok WHERE term IN ('window')),
           |pm AS (
           |  SELECT t0.doc_id, unnest([t0.pos, t0.pos + 1]) AS pos
           |  FROM hltok t0 JOIN hltok t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
           |  WHERE t0.term = 'merge' AND t1.term = 'sort'),
           |mp AS (SELECT DISTINCT doc_id, pos
           |       FROM (SELECT * FROM tm UNION ALL SELECT * FROM pm)),
           |pv AS (SELECT doc_id, pos,
           |              lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
           |       FROM mp),
           |isl AS (SELECT doc_id, pos,
           |               sum(CASE WHEN prev IS NULL OR pos - prev > 7 THEN 1 ELSE 0 END)
           |                 OVER (PARTITION BY doc_id ORDER BY pos) AS island
           |        FROM pv),
           |frag AS (SELECT doc_id, island, count(*) AS n_matches,
           |                min(pos) AS mn, max(pos) AS mx,
           |                list(pos ORDER BY pos) AS mpos
           |         FROM isl GROUP BY doc_id, island),
           |rk AS (SELECT f.*, row_number() OVER (
           |         PARTITION BY doc_id ORDER BY n_matches DESC, mn) AS frag_rank
           |       FROM frag f)
           |SELECT r.doc_id, r.frag_rank, CAST(r.n_matches AS BIGINT) AS n_matches,
           |       array_to_string(list_transform(
           |         range(CAST(greatest(r.mn - 3, 1) AS INT),
           |               CAST(least(r.mx + 3, len(t.toks)) AS INT) + 1),
           |         i -> CASE WHEN list_contains(r.mpos, i)
           |                   THEN '<em>' || t.toks[i] || '</em>' ELSE t.toks[i] END),
           |         ' ') AS snippet
           |FROM rk r JOIN tks t USING (doc_id)
           |WHERE r.frag_rank <= 2""".stripMargin,
      // the hybrid query's own top-10 (match + bool-with-must_not + phrase,
      // min_max/arithmetic) highlighted with the EXTRACTED terms: 'merge
      // sort' from the match, 'join' from the bool's must ('window' is
      // prohibited and skipped), nothing from the phrase (no registered
      // extractor) — the inlined term list IS the extraction oracle
      "dsl_highlight" -> {
        val hybrid = hybridOracle(tokCte,
          Seq(Lexical(Seq("merge", "sort")),
            BoolSub(must = Seq(Lexical(Seq("join"))),
              mustNot = Seq(Lexical(Seq("window")))),
            LexicalPhrase(Seq("table", "hash"))),
          MinMaxNormTech(), Combination(Combine.Arithmetic))
        val hl = Seq("merge", "sort", "join")
        s"""WITH topd AS (SELECT doc_id FROM ($hybrid)),
           |tks AS (SELECT d.doc_id, string_split(d.text, ' ') AS toks
           |        FROM documents d JOIN topd USING (doc_id)),
           |m AS (
           |  SELECT doc_id, toks, t.term,
           |         CAST(coalesce(list_position(toks, t.term), 0) AS BIGINT) AS pos
           |  FROM tks CROSS JOIN (SELECT unnest(ARRAY[${termList(hl)}]) AS term) t)
           |SELECT doc_id, term, pos,
           |       array_to_string(
           |         list_transform(toks[CAST(greatest(pos - 3, 1) AS INT):CAST(pos + 3 AS INT)],
           |           x -> CASE WHEN x = term THEN '<em>' || x || '</em>' ELSE x END),
           |         ' ') AS snippet
           |FROM m WHERE pos > 0""".stripMargin
      },
      "rerank_by_field" ->
        s"""WITH $tokCte,
           |sc AS (
           |  SELECT tf.doc_id, $Bm25Sum AS s
           |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
           |  WHERE tf.term IN (${termList(A)})
           |  GROUP BY tf.doc_id),
           |topd AS (
           |  SELECT doc_id, s FROM (
           |    SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc)
           |  WHERE rn <= 20)
           |SELECT t.doc_id, CAST(d.n_chars AS DOUBLE) AS score,
           |       round(t.s, 4) AS previous_score
           |FROM topd t JOIN documents d USING (doc_id)""".stripMargin,
      "rerank_rescore" ->
        s"""WITH $tokCte,
           |sc AS (
           |  SELECT tf.doc_id, $Bm25Sum AS s
           |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
           |  WHERE tf.term IN (${termList(A)})
           |  GROUP BY tf.doc_id),
           |topd AS (
           |  SELECT doc_id, s FROM sc ORDER BY s DESC, doc_id LIMIT 30),
           |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 5),
           |re AS (
           |  SELECT t.doc_id, coalesce(${cosSql("e.embedding", "q.qv")}, 0.0) AS c, t.s
           |  FROM topd t LEFT JOIN embeddings e ON e.vec_id = t.doc_id CROSS JOIN q)
           |SELECT doc_id, round(c, 4) AS score, round(s, 4) AS previous_score
           |FROM re ORDER BY c DESC, doc_id LIMIT 10""".stripMargin,
      "hybrid_agg_cardinality" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)}))
           |SELECT count(DISTINCT d.source) AS n_sources,
           |       count(DISTINCT d.lang) AS n_langs
           |FROM m JOIN documents d USING (doc_id)""".stripMargin,
      "hybrid_agg_cum_hist" ->
        s"""WITH $tokCte,
           |m AS (
           |  SELECT DISTINCT doc_id FROM tf
           |  WHERE term IN (${termList(A)}) OR term IN (${termList(B)})),
           |h AS (
           |  SELECT CAST(floor(d.n_chars / 100) * 100 AS BIGINT) AS bucket,
           |         count(*) AS n_docs
           |  FROM m JOIN documents d USING (doc_id)
           |  GROUP BY 1)
           |SELECT bucket, n_docs,
           |       CAST(sum(n_docs) OVER (ORDER BY bucket
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs
           |FROM h""".stripMargin,
      "rerank_mmr" -> {
        // greedy MMR as a recursive CTE: each step's single row is the
        // working table, so the recursion IS the selection loop
        s"""WITH RECURSIVE $tokCte,
           |score AS (
           |  SELECT tf.doc_id, $Bm25Sum AS s
           |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
           |  WHERE tf.term IN (${termList(A)})
           |  GROUP BY tf.doc_id),
           |cand AS (
           |  SELECT c.doc_id, c.s AS rel, e.embedding AS v
           |  FROM (SELECT doc_id, s FROM score ORDER BY s DESC, doc_id LIMIT 20) c
           |  JOIN embeddings e ON e.vec_id = c.doc_id),
           |r AS (
           |  (SELECT 1 AS step, doc_id, rel AS mmr, [doc_id] AS picked
           |   FROM cand ORDER BY rel DESC, doc_id LIMIT 1)
           |  UNION ALL
           |  (SELECT r.step + 1, x.doc_id, x.m, list_append(r.picked, x.doc_id)
           |   FROM r, LATERAL (
           |     SELECT c.doc_id,
           |            0.7 * c.rel - 0.3 * (SELECT max(${cosSql("c.v", "p.v")}) FROM cand p
           |                                 WHERE list_contains(r.picked, p.doc_id)) AS m
           |     FROM cand c
           |     WHERE NOT list_contains(r.picked, c.doc_id)
           |     ORDER BY m DESC, c.doc_id LIMIT 1) x
           |   WHERE r.step < 10))
           |SELECT doc_id, step AS rank, round(mmr, 4) AS mmr FROM r ORDER BY step""".stripMargin
      },
      "collapse_by_source" ->
        s"""WITH $tokCte,
           |sc AS (
           |  SELECT tf.doc_id, $Bm25Sum AS s
           |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
           |  WHERE tf.term IN (${termList(A)})
           |  GROUP BY tf.doc_id),
           |r AS (
           |  SELECT d.source, s.doc_id, s.s,
           |         row_number() OVER (PARTITION BY d.source ORDER BY s.s DESC, s.doc_id) AS rn
           |  FROM sc s JOIN documents d USING (doc_id))
           |SELECT source, doc_id, round(s, 4) AS score
           |FROM r WHERE rn = 1
           |ORDER BY s DESC, doc_id LIMIT 20""".stripMargin,
      "collapse_inner_hits" ->
        s"""WITH $tokCte,
           |sc AS (
           |  SELECT tf.doc_id, $Bm25Sum AS s
           |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
           |  WHERE tf.term IN (${termList(A)})
           |  GROUP BY tf.doc_id),
           |r AS (
           |  SELECT d.source, s.doc_id, s.s,
           |         row_number() OVER (PARTITION BY d.source ORDER BY s.s DESC, s.doc_id) AS rn
           |  FROM sc s JOIN documents d USING (doc_id)),
           |w AS (
           |  SELECT source FROM r WHERE rn = 1
           |  ORDER BY s DESC, doc_id LIMIT 10)
           |SELECT r.source, r.rn AS rank_in_group, r.doc_id, round(r.s, 4) AS score
           |FROM r JOIN w USING (source)
           |WHERE r.rn <= 3""".stripMargin
    )
  }
}
