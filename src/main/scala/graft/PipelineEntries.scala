package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{BoundedCache, IndexCache}
import graft.ops.{Chunkers, Seismic, Sparse, TextOps}

/**
 * Training-data-pipeline + sparse-vector query entries with DuckDB oracles.
 */
object PipelineEntries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def tw(s: SparkSession, dir: String): DataFrame =
    Sparse.encode(IndexCache.documents(s, dir))

  private val SparseQuery = Map("join" -> 3.0, "hash" -> 1.0, "scan" -> 0.5, "dup" -> 0.4)

  /** One exact-mode clustered index per corpus dir per session. Cluster ratio
   *  0.02 keeps the assignment O(n x 0.02n) while still exercising the full
   *  clustering path; exactness never depends on the cluster count. */
  private def seismicExact(s: SparkSession, dir: String) =
    BoundedCache.dataset(s, "seismic-exact", dir)(
      Seismic.buildClusteredIndex(tw(s, dir), nPostings = Int.MaxValue,
        clusterRatio = 0.02, summaryPruneRatio = 1.0, maxClusters = 32,
        hashAssign = true))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- parent-child join field ----
    // has_child: parents ranked by their matching chunk-children (children =
    // fixed-token chunks keyed by parent id; the relation is a plain
    // relational join + one aggregation, no global-ordinals map)
    "join_has_child" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val children = Chunkers.fixedTokenLength(docs, "doc_id", "text", 12)
        .withColumnRenamed("doc_id", "parent_id")
      graft.ops.ParentChild.hasChild(children, "parent_id", "chunk",
          Seq("hash", "join"), scoreMode = "sum", minChildren = 2)
        .orderBy(col("score").desc, col("parent_id").asc)
        .limit(20)
    }),
    // has_parent: children inheriting their matched parent's score (score:
    // true) — parent score = the parent's tf of the query term
    "join_has_parent" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val parents = docs.select(col("doc_id").as("parent_id"),
          size(filter(TextOps.tokensCol(col("text")), t => t === lit("slow")))
            .cast("double").as("score"))
        .where(col("score") > 0)
      val children = Chunkers.fixedTokenLength(docs, "doc_id", "text", 12)
        .withColumnRenamed("doc_id", "child_parent")
      graft.ops.ParentChild.hasParent(children, "child_parent",
          parents, withScore = true)
        .select(col("child_parent").as("parent_id"), col("chunk_idx"),
          col("score"))
    }),
    // ---- sparse token-weight ops ----
    "sparse_prune_topk" -> ((s, dir) =>
      Sparse.pruneTopK(tw(s, dir), 5)
        .select(col("doc_id"), col("token"), round(col("w"), 4).as("w"))),
    "sparse_prune_alpha" -> ((s, dir) =>
      Sparse.pruneAlphaMass(tw(s, dir), 0.8)
        .select(col("doc_id"), col("token"), round(col("w"), 4).as("w"))),
    "sparse_prune_maxratio" -> ((s, dir) =>
      Sparse.pruneMaxRatio(tw(s, dir), 0.4)
        .select(col("doc_id"), col("token"), round(col("w"), 4).as("w"))),
    "sparse_prune_absval" -> ((s, dir) =>
      Sparse.pruneAbsValue(tw(s, dir), 2.0)
        .select(col("doc_id"), col("token"), round(col("w"), 4).as("w"))),
    "sparse_quantize" -> ((s, dir) =>
      tw(s, dir).select(col("doc_id"), col("token"),
        Sparse.quantize(col("w"), 3.0).as("q"))),
    "sparse_dot_topk" -> ((s, dir) =>
      Sparse.linearTopK(tw(s, dir), SparseQuery, 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))),
    "sparse_two_phase" -> ((s, dir) =>
      Sparse.twoPhaseTopK(tw(s, dir), SparseQuery, 10, maxRatio = 0.4, expansion = 2.0)
        .select(col("doc_id"), round(col("score"), 4).as("score"))),

    // ---- SEISMIC clustered ANN ----
    // exact mode: unpruned summaries + heap_factor 1.0 make the cluster-skip
    // bound exact, so results are rank-identical to brute-force dot scoring
    "seismic_ann_exact" -> ((s, dir) => {
      val cidx = seismicExact(s, dir)
      Seismic.annTopK(cidx, SparseQuery, 10, queryCut = 10, heapFactor = 1.0)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // non-scoring filter intersected with the ANN candidate set
    "seismic_ann_filtered" -> ((s, dir) => {
      val cidx = seismicExact(s, dir)
      val f = docs(s, dir).where(col("lang") === "en").select("doc_id")
      Seismic.annTopK(cidx, SparseQuery, 10, heapFactor = 1.0,
        filterDocs = Some(f))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // neural_sparse + method_parameters through the JSON DSL: the clause
    // routes to the SEISMIC cluster-skipping scorer with {top_n, k,
    // heap_factor} (reference: sparse/query/SparseAnnQueryBuilder.java:67-87
    // parses method_parameters on a neural_sparse query against a SEISMIC
    // field) — exact mode, so rank-identical to brute-force dot scoring
    "dsl_neural_sparse_ann" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "neural_sparse": { "sparse_field": {
          |    "query_tokens": { "join": 3.0, "hash": 1.0, "scan": 0.5, "dup": 0.4 },
          |    "method_parameters": { "top_n": 10, "k": 10, "heap_factor": 1.0 } } } },
          |  "size": 10 }""".stripMargin
      val src = graft.hybrid.HybridSources(idx, seismic = Some(seismicExact(s, dir)))
      graft.query.QueryDsl.execute(src, json, docs(s, dir))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // method_parameters.filter: the clause-level NON-SCORING filter
    // evaluated DURING the ANN search (reference:
    // OrderedPostingWithClustersScorer.java:46-52) — a term filter over the
    // stored fields intersects the candidate set before scoring
    "dsl_neural_sparse_ann_filtered" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val json =
        """{ "query": { "neural_sparse": { "sparse_field": {
          |    "query_tokens": { "join": 3.0, "hash": 1.0, "scan": 0.5, "dup": 0.4 },
          |    "method_parameters": { "top_n": 10, "k": 10, "heap_factor": 1.0,
          |      "filter": { "term": { "lang": "en" } } } } } },
          |  "size": 10 }""".stripMargin
      val src = graft.hybrid.HybridSources(idx, seismic = Some(seismicExact(s, dir)))
      graft.query.QueryDsl.execute(src, json, docs(s, dir))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // SEISMIC artifact lifecycle on segment merge: two disjoint half-corpus
    // clustered artifacts merged into one (member-vector recovery ->
    // re-prune -> RE-CLUSTER per term, the reference's merge shape,
    // sparse/codec/MergeHelper.java:82-143) — merged-store ANN must be
    // rank-identical to brute force exactly like the fresh build
    // (SeismicSpec additionally proves merged == fresh bit-identically)
    "seismic_merged_ann" -> ((s, dir) => {
      val t = tw(s, dir)
      def part(x: DataFrame) = Seismic.buildClusteredIndex(x,
        nPostings = Int.MaxValue, clusterRatio = 0.02,
        summaryPruneRatio = 1.0, maxClusters = 32, hashAssign = true)
      val merged = Seismic.mergeClusteredIndexes(
        Seq(part(t.where(pmod(col("doc_id"), lit(2)) === 0)),
          part(t.where(pmod(col("doc_id"), lit(2)) === 1))),
        nPostings = Int.MaxValue, clusterRatio = 0.02,
        summaryPruneRatio = 1.0, maxClusters = 32, hashAssign = true)
      Seismic.annTopK(merged, SparseQuery, 10, heapFactor = 1.0)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // incremental SEISMIC: the corpus staged as a DIRECTORY of files (one
    // micro-batch each), per-batch clustered parts committed by a
    // Structured Streaming job, merged last-part-wins into the queryable
    // artifact — the reference's per-segment flush + merge lifecycle
    // (SparsePostingsConsumer per-segment flush, MergeHelper re-cluster)
    // driven incrementally; exact mode, so merged-stream ANN must be
    // rank-identical to brute force
    "stream_sparse_ann" -> ((s, dir) => {
      val store = CorpusEntries.stagedStreamStore(s, dir, "target/sparsestream")
      val merged = graft.streaming.StreamingSparse.buildAvailableNow(
        s, s"$store/corpus", store, "doc_id", "text",
        nPostings = Int.MaxValue, clusterRatio = 0.02,
        summaryPruneRatio = 1.0, maxClusters = 32, hashAssign = true)
      Seismic.annTopK(merged, SparseQuery, 10, heapFactor = 1.0)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // n_postings prune feeding the clusterer: per-term member count
    "seismic_pruned_df" -> ((s, dir) => {
      val cidx = Seismic.buildClusteredIndex(tw(s, dir), nPostings = 160)
      cidx.toDF().select(col("term"), size(col("doc_ids")).as("sz"))
        .groupBy(col("term")).agg(sum(col("sz")).as("n_docs"))
    }),

    // ---- text analysis ----
    "text_tokens" -> ((s, dir) => TextOps.tokenCounts(docs(s, dir), "doc_id", "text")),
    "text_quality" -> ((s, dir) => TextOps.quality(docs(s, dir), "doc_id", "text")),
    "text_langid" -> ((s, dir) => TextOps.langId(docs(s, dir), "doc_id", "text")),
    "text_fingerprint" -> ((s, dir) => TextOps.fingerprint(docs(s, dir), "doc_id", "text")),
    // Gopher-style repetition quality signals (dup/top n-gram fractions),
    // computed map-only (sorted-array linear folds, no shuffle)
    "text_repetition" -> ((s, dir) => TextOps.repetition(docs(s, dir), "doc_id", "text")),
    // CCNet-style LM-perplexity quality signal: add-one bigram LM trained
    // on the corpus scores each doc (high ppl -> filter candidate)
    "text_lm_perplexity" -> ((s, dir) =>
      TextOps.bigramPerplexity(docs(s, dir), "doc_id", "text")),
    // PII redaction: the synthetic corpus carries no PII, so the entry
    // appends deterministic doc_id-derived email/IP/phone strings (the
    // oracle synthesizes identically) — the regexes are exercised for real
    "text_pii_redact" -> ((s, dir) => {
      val synth = docs(s, dir).select(col("doc_id"), concat(col("text"),
        lit(" mail u"), col("doc_id").cast("string"),
        lit("@ex-"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit(".org ip 10.1."), pmod(col("doc_id"), lit(200)).cast("string"),
        lit("."), pmod(col("doc_id"), lit(250)).cast("string"),
        lit(" tel +4915"), (col("doc_id") + 1000000).cast("string")).as("text"))
      TextOps.redactPii(synth, "doc_id", "text")
    }),

    // ---- chunkers ----
    "chunk_fixed_char" -> ((s, dir) =>
      Chunkers.fixedCharLength(docs(s, dir), "doc_id", "text", 200)),
    "chunk_delimiter" -> ((s, dir) =>
      Chunkers.delimiter(docs(s, dir), "doc_id", "text", " data ")),
    "chunk_fixed_tokens" -> ((s, dir) =>
      Chunkers.fixedTokenLength(docs(s, dir), "doc_id", "text", 20, 0.25)),

    // core ingest-pipeline processor chain (the pipeline surface the
    // reference's own text_embedding/chunking processors plug into): six
    // processors compile into ONE codegen'd projection — rename, copy-set,
    // uppercase, gsub, convert, literal set
    "ingest_pipeline" -> ((s, dir) => {
      import graft.ops.Ingest
      Ingest(docs(s, dir), Seq(
        Ingest.Rename("source", "origin"),
        Ingest.SetCopy("lang_tag", "lang"),
        Ingest.Uppercase("lang_tag"),
        Ingest.Gsub("origin", "[aeiou]", ""),
        Ingest.Convert("n_chars", "double"),
        Ingest.SetLit("pipeline", "v1")))
        .select(col("doc_id"), col("origin"), col("lang_tag"),
          col("n_chars"), col("pipeline"))
    }),

    // ---- semantic-field ingest (chunk -> mock sparse encode) ----
    "semantic_ingest" -> ((s, dir) =>
      graft.ops.Semantic.ingestSparse(docs(s, dir), "doc_id", "text", 20)
        .select(col("doc_id"), col("chunk_idx"), col("token"), round(col("w"), 4).as("w"))),

    // inference-skip incremental ingest (reference: processor/optimization/
    // TextEmbeddingInferenceFilter — unchanged text copies the existing
    // embedding, only changed/new docs run the encoder). The previous
    // snapshot is derived deterministically: every doc_id % 7 == 0 had
    // different text before, so exactly those re-encode (reused = false).
    "semantic_ingest_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val prev = d.withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" zz")))
          .otherwise(col("text")))
      def enc(df: DataFrame): DataFrame = df
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .where(col("token") =!= "")
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
        .withColumn("w", col("tf") * (lit(1.0) + (length(col("token")) % 5) * lit(0.25)))
        .drop("tf")
      graft.ops.Semantic.incremental(d, prev, enc(prev), "doc_id", "text")(enc)
        .select(col("doc_id"), col("token"), round(col("w"), 4).as("w"), col("reused"))
    }),

    // dense knn_vector sub-field (semantic mapper's dense path): chunk ->
    // hashing-trick embedding, exploded (doc, chunk, dim, v) rows
    "semantic_dense_ingest" -> ((s, dir) =>
      graft.ops.Semantic.ingestDense(docs(s, dir), "doc_id", "text", 20)
        .select(col("doc_id"), col("chunk_idx"), col("dim").cast("long").as("dim"),
          round(col("v"), 4).as("v"))),
    // nested kNN over chunk vectors, best chunk per doc, global top-k —
    // the chunk table is the session-cached index artifact, not a per-query
    // corpus re-encode
    "semantic_dense_knn" -> ((s, dir) => {
      val dense = graft.index.IndexCache.semanticDense(s, dir)
      graft.ops.Semantic.denseKnnBestChunk(dense, "doc_id", queryDoc = 7L, queryChunk = 0, k = 10)
        .select(col("doc_id"), col("chunk_idx"), round(col("c"), 4).as("cos"))
    }),
    // asymmetric (E5-style) query/passage encoding (reference:
    // ml/AsymmetricModelDetector.java + AsymmetricTextEmbeddingConstants):
    // the ingest side embeds each chunk as 'passage: <chunk>' and the query
    // side as 'query: <text>' — under the hashing mock encoder each side
    // gains its prefix token's feature, so query and passage embeddings of
    // identical text genuinely differ, exactly the property the detector
    // exists to route around
    "semantic_asymmetric_knn" -> ((s, dir) => {
      val sem = graft.ops.Semantic
      val dense = sem.ingestDense(docs(s, dir), "doc_id", "text", 20, 8,
        passagePrefix = sem.DefaultPassagePrefix)
      val qv = sem.hashQueryVector(Seq("merge", "sort"), 8,
        queryPrefix = sem.DefaultQueryPrefix)
      sem.denseBestChunkScore(dense, "doc_id", qv)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"), round(col("score"), 4).as("cos"))
    }),
    // expand_nested: every matching CHUNK is its own hit — no best-chunk
    // collapse (reference: NeuralKNNQueryBuilder.java:139,425-470)
    "semantic_dense_knn_expanded" -> ((s, dir) => {
      val dense = graft.index.IndexCache.semanticDense(s, dir)
      graft.ops.Semantic.denseKnnExpanded(dense, "doc_id", queryDoc = 7L, queryChunk = 0, k = 15)
        .select(col("doc_id"), col("chunk_idx"), round(col("c"), 4).as("cos"))
    }),
    // nested score_mode family: avg (the nested default) / max / sum / min
    // child-chunk aggregation side by side from one chunk-cosine pass
    "semantic_knn_score_modes" -> ((s, dir) => {
      val dense = graft.index.IndexCache.semanticDense(s, dir)
      graft.ops.Semantic.denseKnnScoreModes(dense, "doc_id", queryDoc = 7L,
          queryChunk = 0, k = 12)
        .select(col("doc_id"), round(col("s_avg"), 4).as("s_avg"),
          round(col("s_max"), 4).as("s_max"), round(col("s_sum"), 4).as("s_sum"),
          round(col("s_min"), 4).as("s_min"), col("n_chunks"))
    }),
    // inner_hits on nested kNN (reference: HybridQueryBuilder.java:289-291,
    // 425-430 extracts inner-hit contexts per sub-query): parents ranked by
    // best chunk, each carrying its top-3 matching chunks with their scores
    "semantic_knn_inner_hits" -> ((s, dir) => {
      val dense = graft.index.IndexCache.semanticDense(s, dir)
      graft.ops.Semantic.denseKnnInnerHits(dense, "doc_id", queryDoc = 7L, queryChunk = 0,
          k = 10, innerSize = 3)
        .select(col("doc_id"), round(col("score"), 4).as("score"),
          col("inner_rank").cast("long").as("inner_rank"), col("chunk_idx"),
          round(col("chunk_cos"), 4).as("chunk_cos"))
    })
  )

  // ------------------------------------------------------------------
  // oracles
  // ------------------------------------------------------------------

  private val TwCte =
    """tw AS (SELECT doc_id, term AS token,
      |             tf * (1.0 + (length(term) % 5) * 0.25) AS w FROM tf)""".stripMargin

  private val QvCte =
    "qv AS (SELECT * FROM (VALUES ('join', 3.0), ('hash', 1.0), ('scan', 0.5), ('dup', 0.4)) t(token, qw))"

  private val Toks = "list_filter(string_split(text, ' '), x -> x <> '')"

  def oracles(tokCte: String): Map[String, String] = Map(
    "ingest_pipeline" ->
      """SELECT doc_id,
        |       regexp_replace(source, '[aeiou]', '', 'g') AS origin,
        |       upper(lang) AS lang_tag,
        |       CAST(n_chars AS DOUBLE) AS n_chars,
        |       'v1' AS pipeline
        |FROM documents""".stripMargin,
    "join_has_child" ->
      s"""WITH ch AS (
         |  SELECT doc_id AS parent_id,
         |         toks[CAST(i*12 + 1 AS INT):CAST(i*12 + 12 AS INT)] AS ctoks
         |  FROM (SELECT doc_id, toks,
         |          unnest(generate_series(0, CAST(floor((len(toks)-1)/12) AS BIGINT))) AS i
         |        FROM (SELECT doc_id, $Toks AS toks FROM documents))),
         |cs AS (
         |  SELECT parent_id,
         |         CAST(len(list_distinct(list_intersect(ctoks, ['hash', 'join']))) AS DOUBLE) AS cs
         |  FROM ch),
         |m AS (
         |  SELECT parent_id, sum(cs) AS score, count(*) AS n_children
         |  FROM cs WHERE cs > 0 GROUP BY 1)
         |SELECT parent_id, score, n_children FROM m
         |WHERE n_children >= 2
         |ORDER BY score DESC, parent_id LIMIT 20""".stripMargin,
    "join_has_parent" ->
      s"""WITH p AS (
         |  SELECT doc_id AS parent_id,
         |         CAST(len(list_filter($Toks, x -> x = 'slow')) AS DOUBLE) AS score
         |  FROM documents),
         |ch AS (
         |  SELECT doc_id AS parent_id, i AS chunk_idx
         |  FROM (SELECT doc_id, toks,
         |          unnest(generate_series(0, CAST(floor((len(toks)-1)/12) AS BIGINT))) AS i
         |        FROM (SELECT doc_id, $Toks AS toks FROM documents)))
         |SELECT ch.parent_id, ch.chunk_idx, p.score
         |FROM ch JOIN p USING (parent_id) WHERE p.score > 0""".stripMargin,
    "sparse_prune_topk" ->
      s"""WITH $tokCte, $TwCte
         |SELECT doc_id, token, round(w, 4) AS w FROM (
         |  SELECT doc_id, token, w,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, token) AS rn
         |  FROM tw) WHERE rn <= 5""".stripMargin,
    "sparse_prune_alpha" ->
      s"""WITH $tokCte, $TwCte
         |SELECT doc_id, token, round(w, 4) AS w FROM (
         |  SELECT doc_id, token, w,
         |         sum(w) OVER (PARTITION BY doc_id ORDER BY w DESC, token
         |                      ROWS UNBOUNDED PRECEDING) AS cw,
         |         sum(w) OVER (PARTITION BY doc_id) AS tot
         |  FROM tw) WHERE cw <= 0.8 * tot""".stripMargin,
    "sparse_prune_maxratio" ->
      s"""WITH $tokCte, $TwCte
         |SELECT doc_id, token, round(w, 4) AS w FROM (
         |  SELECT doc_id, token, w, max(w) OVER (PARTITION BY doc_id) AS mxw
         |  FROM tw) WHERE w >= 0.4 * mxw""".stripMargin,
    "sparse_prune_absval" ->
      s"""WITH $tokCte, $TwCte
         |SELECT doc_id, token, round(w, 4) AS w FROM tw WHERE w >= 2.0""".stripMargin,
    "sparse_quantize" ->
      s"""WITH $tokCte, $TwCte
         |SELECT doc_id, token,
         |       CAST(floor(least(greatest(w, 0.0), 3.0) * 255.0 / 3.0 + 0.5) AS BIGINT) AS q
         |FROM tw""".stripMargin,
    "sparse_dot_topk" ->
      s"""WITH $tokCte, $TwCte, $QvCte
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT doc_id, sum(w * qw) AS s FROM tw JOIN qv USING (token) GROUP BY doc_id)
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,
    "seismic_ann_exact" ->
      s"""WITH $tokCte, $TwCte, $QvCte
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT doc_id, sum(w * qw) AS s FROM tw JOIN qv USING (token) GROUP BY doc_id)
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,
    "seismic_ann_filtered" ->
      s"""WITH $tokCte, $TwCte, $QvCte
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT tw.doc_id, sum(w * qw) AS s FROM tw JOIN qv USING (token)
         |  WHERE tw.doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
         |  GROUP BY tw.doc_id)
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,
    "stream_sparse_ann" ->
      s"""WITH $tokCte, $TwCte, $QvCte
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT doc_id, sum(w * qw) AS s FROM tw JOIN qv USING (token) GROUP BY doc_id)
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,
    "seismic_merged_ann" ->
      s"""WITH $tokCte, $TwCte, $QvCte
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT doc_id, sum(w * qw) AS s FROM tw JOIN qv USING (token) GROUP BY doc_id)
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,
    "dsl_neural_sparse_ann" ->
      s"""WITH $tokCte, $TwCte, $QvCte
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT doc_id, sum(w * qw) AS s FROM tw JOIN qv USING (token) GROUP BY doc_id)
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,
    "dsl_neural_sparse_ann_filtered" ->
      s"""WITH $tokCte, $TwCte, $QvCte
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT tw.doc_id, sum(w * qw) AS s FROM tw JOIN qv USING (token)
         |  WHERE tw.doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
         |  GROUP BY tw.doc_id)
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,
    "seismic_pruned_df" ->
      s"""WITH $tokCte, $TwCte
         |SELECT token AS term, least(count(*), 160) AS n_docs
         |FROM tw GROUP BY token""".stripMargin,
    "sparse_two_phase" ->
      s"""WITH $tokCte, $TwCte, $QvCte,
         |p1 AS (
         |  SELECT doc_id, sum(w * qw) AS s FROM tw JOIN qv USING (token)
         |  WHERE qw >= 0.4 * 3.0 GROUP BY doc_id),
         |cand AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM p1)
         |  WHERE rn <= 20),
         |fullsc AS (
         |  SELECT doc_id, sum(w * qw) AS s FROM tw JOIN qv USING (token) GROUP BY doc_id)
         |SELECT doc_id, round(s, 4) AS score FROM fullsc JOIN cand USING (doc_id)
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,

    "text_lm_perplexity" ->
      s"""WITH $tokCte,
         |tl AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
         |       FROM documents),
         |bg AS (
         |  SELECT doc_id, l[CAST(i AS INT)] AS w1, l[CAST(i+1 AS INT)] AS w2
         |  FROM (SELECT doc_id, l, unnest(generate_series(1, CAST(len(l)-1 AS BIGINT))) AS i
         |        FROM tl WHERE len(l) >= 2)),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
         |v AS (SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v FROM tok2)
         |SELECT doc_id, count(*) AS n_bigrams,
         |       round(exp(avg(ln((c1 + v)/(c12 + 1.0)))), 4) AS ppl
         |FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
         |GROUP BY doc_id""".stripMargin,
    "text_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len($Toks) AS BIGINT) AS ws_tokens,
         |  CAST(len(list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'), x -> x <> '')) AS BIGINT) AS alnum_tokens,
         |  CAST(len(list_distinct($Toks)) AS BIGINT) AS distinct_tokens
         |FROM documents""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
         |  CAST(n AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  round(CASE WHEN n > 0 THEN charsum / n ELSE 0.0 END, 4) AS avg_word_len,
         |  round(CASE WHEN n > 0 THEN stop / n ELSE 0.0 END, 4) AS stopword_ratio,
         |  round(least(1.0, n / 50.0) * (1.0 - CASE WHEN n > 0 THEN stop / n ELSE 0.0 END), 4) AS quality
         |FROM (
         |  SELECT doc_id, text,
         |    CAST(len($Toks) AS DOUBLE) AS n,
         |    CAST(list_aggregate(list_transform($Toks, x -> length(x)), 'sum') AS DOUBLE) AS charsum,
         |    CAST(len(list_filter($Toks,
         |      x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) AS stop
         |  FROM documents)""".stripMargin,
    "text_langid" ->
      s"""SELECT doc_id, round(r, 4) AS marker_ratio,
         |       CASE WHEN r >= 0.02 THEN 'en' ELSE 'unk' END AS pred_lang
         |FROM (
         |  SELECT doc_id,
         |    CASE WHEN len($Toks) > 0 THEN
         |      CAST(len(list_filter($Toks, x -> list_contains(['the','a'], x))) AS DOUBLE)
         |        / CAST(len($Toks) AS DOUBLE)
         |    ELSE 0.0 END AS r
         |  FROM documents)""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct($Toks)), ' ')) AS fingerprint
         |FROM documents""".stripMargin,
    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS g FROM t),
         |g2 AS (SELECT doc_id, unnest(list_transform(
         |         generate_series(1, CAST(len(toks)-1 AS BIGINT)),
         |         i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i+1 AS INT)])) AS g
         |       FROM t WHERE len(toks) >= 2),
         |g3 AS (SELECT doc_id, unnest(list_transform(
         |         generate_series(1, CAST(len(toks)-2 AS BIGINT)),
         |         i -> array_to_string(toks[CAST(i AS INT):CAST(i+2 AS INT)], ' '))) AS g
         |       FROM t WHERE len(toks) >= 3),
         |a1 AS (SELECT doc_id, sum(c) AS n, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup, max(c) AS top
         |       FROM (SELECT doc_id, g, count(*) AS c FROM tok GROUP BY 1, 2) GROUP BY 1),
         |a2 AS (SELECT doc_id, sum(c) AS n, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup, max(c) AS top
         |       FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
         |a3 AS (SELECT doc_id, sum(c) AS n, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup, max(c) AS top
         |       FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1)
         |SELECT t.doc_id,
         |  CAST(coalesce(a1.n, 0) AS BIGINT) AS n_tokens,
         |  round(coalesce(a1.dup * 1.0 / a1.n, 0.0), 4) AS dup_token_frac,
         |  round(coalesce(a2.dup * 1.0 / a2.n, 0.0), 4) AS dup_2gram_frac,
         |  round(coalesce(a2.top * 1.0 / a2.n, 0.0), 4) AS top_2gram_frac,
         |  round(coalesce(a3.dup * 1.0 / a3.n, 0.0), 4) AS dup_3gram_frac,
         |  round(coalesce(a3.top * 1.0 / a3.n, 0.0), 4) AS top_3gram_frac
         |FROM t LEFT JOIN a1 USING (doc_id) LEFT JOIN a2 USING (doc_id)
         |       LEFT JOIN a3 USING (doc_id)""".stripMargin,
    // same doc_id-derived synthesis, same three regexes (Java regex and
    // RE2 agree on char classes, bounded quantifiers, \b), counts on the
    // original text, sequential email -> ip -> phone redaction
    "text_pii_redact" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |         text || ' mail u' || CAST(doc_id AS VARCHAR)
        |              || '@ex-' || CAST(doc_id % 7 AS VARCHAR)
        |              || '.org ip 10.1.' || CAST(doc_id % 200 AS VARCHAR)
        |              || '.' || CAST(doc_id % 250 AS VARCHAR)
        |              || ' tel +4915' || CAST(doc_id + 1000000 AS VARCHAR) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b', '<IP>', 'g'),
        |    '\+[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS clean,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text,
        |    '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(text,
        |    '\+[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS n_phone
        |FROM synth""".stripMargin,

    "chunk_fixed_char" ->
      s"""SELECT doc_id, i AS chunk_idx, substr(text, CAST(i*200 + 1 AS INT), 200) AS chunk
         |FROM (SELECT doc_id, text,
         |        unnest(generate_series(0, CAST(floor((length(text)-1)/200) AS BIGINT))) AS i
         |      FROM documents)""".stripMargin,
    "chunk_delimiter" ->
      s"""SELECT doc_id, i - 1 AS chunk_idx,
         |       parts[CAST(i AS INT)] || (CASE WHEN i < len(parts) THEN ' data ' ELSE '' END) AS chunk
         |FROM (SELECT doc_id, parts, unnest(generate_series(1, CAST(len(parts) AS BIGINT))) AS i
         |      FROM (SELECT doc_id, string_split(text, ' data ') AS parts FROM documents))""".stripMargin,
    // unchanged docs' reused rows equal the fresh encode (same text, same
    // deterministic encoder), so the full result is the current-text encode
    // plus the routing flag: doc_id % 7 == 0 re-encoded, the rest reused
    "semantic_ingest_incremental" ->
      s"""WITH $tokCte
         |SELECT doc_id, term AS token,
         |       round(tf * (1.0 + (length(term) % 5) * 0.25), 4) AS w,
         |       (doc_id % 7 <> 0) AS reused
         |FROM tf""".stripMargin,
    "semantic_ingest" ->
      s"""WITH chunks AS (
         |  SELECT doc_id, i AS chunk_idx,
         |         toks[CAST(i*20 + 1 AS INT):CAST(i*20 + 20 AS INT)] AS ctoks
         |  FROM (SELECT doc_id, toks,
         |          unnest(generate_series(0, CAST(floor((len(toks)-1)/20) AS BIGINT))) AS i
         |        FROM (SELECT doc_id, $Toks AS toks FROM documents))),
         |t AS (SELECT doc_id, chunk_idx, unnest(ctoks) AS token FROM chunks)
         |SELECT doc_id, chunk_idx, token,
         |       round(count(*) * (1.0 + (length(token) % 5) * 0.25), 4) AS w
         |FROM t GROUP BY doc_id, chunk_idx, token""".stripMargin,
    "chunk_fixed_tokens" ->
      s"""SELECT doc_id, i AS chunk_idx,
         |       array_to_string(toks[CAST(i*15 + 1 AS INT):CAST(i*15 + 20 AS INT)], ' ') AS chunk
         |FROM (SELECT doc_id, toks,
         |        unnest(generate_series(0, CAST(floor((len(toks)-1)/15) AS BIGINT))) AS i
         |      FROM (SELECT doc_id, $Toks AS toks FROM documents))""".stripMargin,

    "semantic_dense_ingest" ->
      s"""WITH $DenseCtes
         |SELECT doc_id, chunk_idx, dim, round(v, 4) AS v FROM dv""".stripMargin,
    "semantic_dense_knn" ->
      s"""WITH $DenseCtes,
         |q AS (SELECT dim, v AS qv FROM dv WHERE doc_id = 7 AND chunk_idx = 0),
         |qn AS (SELECT sqrt(sum(qv*qv)) AS qn FROM q),
         |dots AS (SELECT doc_id, chunk_idx, sum(v*qv) AS dot
         |         FROM dv JOIN q USING (dim) GROUP BY doc_id, chunk_idx),
         |norms AS (SELECT doc_id, chunk_idx, sqrt(sum(v*v)) AS n
         |          FROM dv GROUP BY doc_id, chunk_idx),
         |cosv AS (SELECT doc_id, chunk_idx, dot/(n*qn.qn) AS c
         |         FROM dots JOIN norms USING (doc_id, chunk_idx), qn),
         |best AS (SELECT doc_id, chunk_idx, c, row_number() OVER (
         |           PARTITION BY doc_id ORDER BY c DESC, chunk_idx) AS rn FROM cosv)
         |SELECT doc_id, chunk_idx, round(c, 4) AS cos FROM best
         |WHERE rn = 1 ORDER BY c DESC, doc_id LIMIT 10""".stripMargin,
    // asymmetric encoding: the chunk bag gains the 'passage:' token, the
    // query bag the 'query:' token; the rest is the same best-chunk cosine
    "semantic_asymmetric_knn" ->
      s"""WITH $DenseCtes,
         |tA AS (SELECT doc_id, chunk_idx,
         |              unnest(list_prepend('passage:', ctoks)) AS token FROM chunks),
         |semA AS (SELECT doc_id, chunk_idx, token,
         |                count(*) * (1.0 + (length(token) % 5) * 0.25) AS w
         |         FROM tA GROUP BY doc_id, chunk_idx, token),
         |dvA AS (SELECT doc_id, chunk_idx,
         |               (length(token)*31 + ascii(substr(token,1,1))) % 8 AS dim,
         |               sum(w) AS v
         |        FROM semA GROUP BY doc_id, chunk_idx, 3),
         |qt AS (SELECT unnest(ARRAY['query:', 'merge', 'sort']) AS token),
         |qA AS (SELECT (length(token)*31 + ascii(substr(token,1,1))) % 8 AS dim,
         |              sum(1.0 + (length(token) % 5) * 0.25) AS qv
         |       FROM qt GROUP BY 1),
         |qn AS (SELECT sqrt(sum(qv*qv)) AS qn FROM qA),
         |dots AS (SELECT doc_id, chunk_idx, sum(v*qv) AS dot
         |         FROM dvA JOIN qA USING (dim) GROUP BY doc_id, chunk_idx),
         |norms AS (SELECT doc_id, chunk_idx, sqrt(sum(v*v)) AS n
         |          FROM dvA GROUP BY doc_id, chunk_idx),
         |cosv AS (SELECT doc_id, chunk_idx, dot/(n*qn.qn) AS c
         |         FROM dots JOIN norms USING (doc_id, chunk_idx), qn),
         |best AS (SELECT doc_id, max(c) AS c FROM cosv GROUP BY doc_id)
         |SELECT doc_id, round(c, 4) AS cos FROM best
         |ORDER BY c DESC, doc_id LIMIT 10""".stripMargin,
    // expand_nested: same cosine CTEs, no per-doc collapse — chunks are hits
    "semantic_dense_knn_expanded" ->
      s"""WITH $DenseCtes,
         |q AS (SELECT dim, v AS qv FROM dv WHERE doc_id = 7 AND chunk_idx = 0),
         |qn AS (SELECT sqrt(sum(qv*qv)) AS qn FROM q),
         |dots AS (SELECT doc_id, chunk_idx, sum(v*qv) AS dot
         |         FROM dv JOIN q USING (dim) GROUP BY doc_id, chunk_idx),
         |norms AS (SELECT doc_id, chunk_idx, sqrt(sum(v*v)) AS n
         |          FROM dv GROUP BY doc_id, chunk_idx),
         |cosv AS (SELECT doc_id, chunk_idx, dot/(n*qn.qn) AS c
         |         FROM dots JOIN norms USING (doc_id, chunk_idx), qn)
         |SELECT doc_id, chunk_idx, round(c, 4) AS cos FROM cosv
         |ORDER BY c DESC, doc_id, chunk_idx LIMIT 15""".stripMargin,
    // nested score_mode family over the same cosines, ranked by avg
    "semantic_knn_score_modes" ->
      s"""WITH $DenseCtes,
         |q AS (SELECT dim, v AS qv FROM dv WHERE doc_id = 7 AND chunk_idx = 0),
         |qn AS (SELECT sqrt(sum(qv*qv)) AS qn FROM q),
         |dots AS (SELECT doc_id, chunk_idx, sum(v*qv) AS dot
         |         FROM dv JOIN q USING (dim) GROUP BY doc_id, chunk_idx),
         |norms AS (SELECT doc_id, chunk_idx, sqrt(sum(v*v)) AS n
         |          FROM dv GROUP BY doc_id, chunk_idx),
         |cosv AS (SELECT doc_id, chunk_idx, dot/(n*qn.qn) AS c
         |         FROM dots JOIN norms USING (doc_id, chunk_idx), qn)
         |SELECT doc_id, round(avg(c), 4) AS s_avg, round(max(c), 4) AS s_max,
         |       round(sum(c), 4) AS s_sum, round(min(c), 4) AS s_min,
         |       count(*) AS n_chunks
         |FROM cosv GROUP BY doc_id
         |ORDER BY avg(c) DESC, doc_id LIMIT 12""".stripMargin,
    // inner_hits: parents by best chunk (score_mode max), top-3 chunks each
    "semantic_knn_inner_hits" ->
      s"""WITH $DenseCtes,
         |q AS (SELECT dim, v AS qv FROM dv WHERE doc_id = 7 AND chunk_idx = 0),
         |qn AS (SELECT sqrt(sum(qv*qv)) AS qn FROM q),
         |dots AS (SELECT doc_id, chunk_idx, sum(v*qv) AS dot
         |         FROM dv JOIN q USING (dim) GROUP BY doc_id, chunk_idx),
         |norms AS (SELECT doc_id, chunk_idx, sqrt(sum(v*v)) AS n
         |          FROM dv GROUP BY doc_id, chunk_idx),
         |cosv AS (SELECT doc_id, chunk_idx, dot/(n*qn.qn) AS c
         |         FROM dots JOIN norms USING (doc_id, chunk_idx), qn),
         |top AS (SELECT doc_id, max(c) AS score FROM cosv GROUP BY doc_id
         |        ORDER BY score DESC, doc_id LIMIT 10),
         |ih AS (SELECT c.doc_id, t.score, c.chunk_idx, c.c,
         |              row_number() OVER (PARTITION BY c.doc_id
         |                ORDER BY c.c DESC, c.chunk_idx) AS rn
         |       FROM cosv c JOIN top t USING (doc_id))
         |SELECT doc_id, round(score, 4) AS score, rn - 1 AS inner_rank,
         |       chunk_idx, round(c, 4) AS chunk_cos
         |FROM ih WHERE rn <= 3""".stripMargin
  )

  /** dense semantic sub-field CTEs: chunk -> mock sparse weights -> feature-
   *  hashing projection (parity with Semantic.ingestDense, tokenLimit 20,
   *  dims 8) */
  private val DenseCtes =
    s"""chunks AS (
       |  SELECT doc_id, i AS chunk_idx,
       |         toks[CAST(i*20 + 1 AS INT):CAST(i*20 + 20 AS INT)] AS ctoks
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(0, CAST(floor((len(toks)-1)/20) AS BIGINT))) AS i
       |        FROM (SELECT doc_id, $Toks AS toks FROM documents))),
       |t AS (SELECT doc_id, chunk_idx, unnest(ctoks) AS token FROM chunks),
       |sem AS (SELECT doc_id, chunk_idx, token,
       |               count(*) * (1.0 + (length(token) % 5) * 0.25) AS w
       |        FROM t GROUP BY doc_id, chunk_idx, token),
       |dv AS (SELECT doc_id, chunk_idx,
       |              (length(token)*31 + ascii(substr(token,1,1))) % 8 AS dim,
       |              sum(w) AS v
       |       FROM sem GROUP BY doc_id, chunk_idx, 3)""".stripMargin
}
