package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Ann, Chunkers, Dedup, Multimodal, Rerank, Sample, Semantic, Sparse, Seismic, ClusteredPosting}
import graft.hybrid._
import graft.functions.Combine
import graft.stats.EventStats
import graft.index.BoundedCache

/** Typed rows for the sessionization stream (flatMapGroupsWithState). */
case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
case class SessionState(sid: Long, startUs: Long, endUs: Long, n: Long)
case class SessionRow(user_id: Long, session_id: Long,
                      session_start: java.sql.Timestamp,
                      session_end: java.sql.Timestamp, n_events: Long)

/**
 * Dedup / similarity-search / multimodal / relational / streaming entries
 * with DuckDB oracles.
 */
object DataEntries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** fixed deterministic 64-dim query vector for the int8 entry (the
   *  client-side-embedded shape; values span +/- 1) */
  private val Int8QV: Seq[Double] = (0 until 64).map(i => ((i * 29 % 17) - 8) / 8.0)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dedup ----
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactSummary(docs(s, dir), "doc_id", "text")),
    // UNCAPPED sweep — the verification-only oracle baseline (quadratic on
    // stop-shingles; the df-capped default is the production path, see
    // dedup_ngram_jaccard_capped). Opting out of the cap is explicit.
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", k = 3, threshold = 0.2,
        maxShingleDf = Int.MaxValue)),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", k = 3, numHashes = 12, rowsPerBand = 3)),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashSignatures(docs(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")),
    // train/test decontamination: the benchmark set (every doc_id % 97 == 0,
    // standing in for a held-out eval suite) is metadata-sized, so its
    // distinct 3-gram set broadcasts and the corpus side stays map-side
    "decontam_overlap" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.Decontam.overlap(d, d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", k = 3)
    }),
    // pigeonhole multi-band blocking: 4 bands over 32 bits find every pair
    // within hamming <= 3 via bounded equality-join buckets
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHamming = 3)),
    // the 10¹¹-doc width: 128-bit signature (md5's full budget), 32-bit
    // pigeonhole bands — 4x10⁹ buckets per band
    "dedup_simhash_pairs_128" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHamming = 3, bits = 128)),
    // stopword-shingle cap: shingles with df > 4 dropped before the
    // self-join (the scale guard against the shared-shingle pair explosion)
    "dedup_ngram_jaccard_capped" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", k = 3,
        threshold = 0.2, maxShingleDf = 4)),
    // span-level exact dedup (Lee et al. 2022): maximal token spans covered
    // by any 8-token window that occurs more than once across the corpus
    "dedup_duplicate_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(docs(s, dir), "doc_id", "text", k = 8)),
    // canonical duplicate clusters: the n-gram-Jaccard pair list closed
    // under transitivity (large-star/small-star connected components) —
    // cluster_id = min doc_id of each component, the keep-one-of label
    "dedup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text",
          k = 3, threshold = 0.2, maxShingleDf = Int.MaxValue),
        "id_a", "id_b")),
    // the keep-one-of composition: corpus minus non-canonical cluster
    // members (anti join on the duplicate ids only, never corpus text)
    "dedup_keep_canonical" -> ((s, dir) =>
      Dedup.keepCanonical(docs(s, dir), "doc_id",
          Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text",
            k = 3, threshold = 0.2, maxShingleDf = Int.MaxValue),
          "id_a", "id_b")
        .select(col("doc_id"), col("n_chars"))),
    "dedup_embed_cosine" -> ((s, dir) =>
      Ann.cosinePairs(emb(s, dir), "vec_id", "embedding", "label", threshold = 0.35)),
    // oversized-block routing proof: maxBlock squeezed below the label
    // cardinality so SOME labels take the all-pairs path and the rest
    // auto-route through in-block LSH banding — the shape a fat block
    // (e.g. lang='en') takes at 100 TB instead of going quadratic
    "dedup_embed_cosine_routed" -> ((s, dir) =>
      Ann.cosinePairs(emb(s, dir), "vec_id", "embedding", "label",
        threshold = 0.35, maxBlock = 50, nPlanes = 32, nBands = 4, dim = 64)),

    // ---- similarity search ----
    "ann_brute_topk" -> ((s, dir) =>
      Ann.bruteTopK(emb(s, dir), "vec_id", "embedding", queryId = 0L, k = 20)),
    // int8-quantized cosine top-k: the byte-vector form — 4x less to store
    // and scan at 100 TB; dequantize q*scale on the fly, same bounded
    // TakeOrdered shape as brute force
    "ann_int8_topk" -> ((s, dir) =>
      Ann.int8CosineTopK(Ann.quantizeInt8(emb(s, dir), "vec_id", "embedding"),
        "vec_id", Int8QV, k = 20)),
    // the remaining kNN space_types beside cosine: l2 (score 1/(1+l2²),
    // the bounded form) and innerproduct (raw MIP retrieval)
    "ann_brute_l2_topk" -> ((s, dir) =>
      Ann.bruteL2TopK(emb(s, dir), "vec_id", "embedding", queryId = 0L, k = 20)),
    "ann_brute_ip_topk" -> ((s, dir) =>
      Ann.bruteIpTopK(emb(s, dir), "vec_id", "embedding", queryId = 0L, k = 20)),
    // binary (Hamming) kNN: sign bits packed into ONE long per vector
    // (64x reduction), distance = popcount(xor) — the binary vector space
    "ann_hamming_topk" -> ((s, dir) =>
      Ann.hammingTopK(emb(s, dir), "vec_id", "embedding", dim = 64,
        queryId = 0L, k = 20)),
    // int8 with quantization RESCORE (the knn oversample contract): lossy
    // phase collects 3k candidates from the quarter-size artifact, the
    // full-precision vectors re-score ONLY those via a broadcast semi join
    "ann_int8_rescore" -> ((s, dir) =>
      Ann.int8RescoreTopK(Ann.quantizeInt8(emb(s, dir), "vec_id", "embedding"),
        emb(s, dir), "vec_id", "embedding", Int8QV, k = 20, oversample = 3.0)),
    // product quantization (m=8 subspaces x 16 seeded codewords): codes are
    // 8 small ints per vector (32x compression); query-time ADC scores each
    // vector by 8 table lookups from a driver-computed m x 16 dot table
    "ann_pq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = Ann.pqSeededCodebook(e, "vec_id", "embedding", m = 8, nCodes = 16)
      val qv = e.where(col("vec_id") === 1L).select("embedding")
        .collect().head.getSeq[Float](0).map(_.toDouble).toSeq
      Ann.pqTopK(Ann.pqEncode(e, "vec_id", "embedding", cb), "vec_id", qv, cb, 20)
    }),
    // radial (range) kNN: everything within the similarity radius instead
    // of top-k (reference: NeuralQueryBuilder min_score/max_distance)
    "knn_radial" -> ((s, dir) =>
      Ann.radial(emb(s, dir), "vec_id", "embedding", queryId = 5L,
        minScore = Some(0.2))),
    "ann_ivf_topk" -> ((s, dir) =>
      Ann.ivfTopK(emb(s, dir), "vec_id", "embedding", queryId = 1L,
        nCentroids = 16, nProbe = 4, k = 10,
        assigned = Some(ivfAssignment(s, dir)))),
    // the reference's "efficient filtering" decision: a selective filter
    // (10 of 500 ids) takes the exact-over-filtered-subset fallback, a
    // broad one (250 ids) probes the IVF partitions and intersects — the
    // branch taken is part of the oracled output
    "knn_filtered_fallback" -> ((s, dir) => {
      val e = emb(s, dir)
      def run(filter: org.apache.spark.sql.Column) =
        Ann.filteredTopK(e, "vec_id", "embedding",
          queryId = 1L, nCentroids = 16, nProbe = 4, k = 10,
          filterIds = e.where(filter).select("vec_id"),
          exactThreshold = 50, assigned = Some(ivfAssignment(s, dir)))
      // the exact-branch filter is CARDINALITY-INVARIANT across scale
      // factors (<= 40 ids at any sf), so the engine's selectivity-based
      // branch choice matches the oracle's hardcoded branch at every sf —
      // a %-only filter grew past exactThreshold at sf1 and silently
      // flipped the branch
      run(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
        .unionByName(run(col("vec_id") % 2 === 0))
    }),
    // same search against the persisted (partitioned-by-centroid) build
    // artifact: probes prune to nProbe partitions at the storage layer
    "ann_ivf_persisted" -> ((s, dir) => {
      val path = BoundedCache.storePath("target/ivfstore", dir)
      val asg = Ann.ivfBuild(emb(s, dir), "vec_id", "embedding", 16, path)
      Ann.ivfTopK(emb(s, dir), "vec_id", "embedding", queryId = 2L,
        nCentroids = 16, nProbe = 4, k = 10, assigned = Some(asg))
    }),

    // learned centroids: k-means (Lloyd's, deterministic seed + fixed
    // iterations) replaces the luck-based "ids < nCentroids" seed set; with
    // nProbe = nCentroids the search is exact, so the oracle (brute-force
    // top-k) checks that the learned assignment partitions the corpus with
    // no vector lost or duplicated. SAMPLE-trained (id % 4 == 0): the
    // iterations scan a quarter of the corpus; only the final assignment
    // pass is full — exactness at nProbe = C is centroid-independent.
    "ann_ivf_kmeans" -> ((s, dir) => {
      val path = BoundedCache.storePath("target/ivfkmeans", dir)
      val (cents, asg) =
        Ann.ivfBuildLearned(emb(s, dir), "vec_id", "embedding", 16, path, iters = 3,
          trainSampleMod = 4)
      Ann.ivfTopKLearned(emb(s, dir), "vec_id", "embedding", queryId = 3L,
        cents, asg, nProbe = 16, k = 10)
    }),

    // random-hyperplane LSH (Charikar sign-of-projection): near-dup pairs
    // from DERIVED band buckets — no caller-supplied block column, no
    // trained centroids; candidates verify exact cosine. 32 planes, 4
    // 8-bit bands (256 buckets per band at corpus scale)
    "dedup_embed_lsh" -> ((s, dir) =>
      Ann.lshCosinePairs(emb(s, dir), "vec_id", "embedding",
        nPlanes = 32, nBands = 4, threshold = 0.35, dim = 64)),
    // LSH-bucketed approximate top-k: score only vectors sharing >= 1 of
    // the query's band values (the scale path where IVF's centroid train
    // is not worth it), exact cosine rank within candidates
    "ann_lsh_topk" -> ((s, dir) =>
      Ann.lshTopK(emb(s, dir), "vec_id", "embedding", queryId = 9L, k = 10,
        nPlanes = 32, nBands = 4, dim = 64)),
    // approximate-regime recall evidence: recall@10 vs in-plan brute force
    // for IVF probing at nProbe ∈ {1, C/4, C/2, C} and banded LSH at 2/4
    // bands, over the 1-in-50 query panel. nProbe = C must print 1.0 (the
    // exactness claim); the others are the MEASURED floors the 100-TB
    // configurations rely on, oracle-re-derived end to end. The lossy-score
    // compressions join the curve: PQ ADC (m=8 subspaces, 16 codes — the
    // 32x scan compression) and int8 (the 4x) ranked by their own
    // approximate scores
    "ann_recall_curve" -> ((s, dir) =>
      Ann.recallCurve(emb(s, dir), "vec_id", "embedding", queryMod = 50,
        k = 10, nCentroids = 16, probes = Seq(1, 4, 8, 16),
        nPlanes = 32, bandChoices = Seq(2, 4), dim = 64,
        pqMs = Seq(8), pqCodes = 16, int8 = true)),

    // ---- deterministic sampling (training-mix shaping) ----
    // content-addressed Bernoulli off md5(doc_id): reruns pick the SAME
    // sample, zero shuffle, and the oracle reproduces it bit-for-bit
    "sample_fraction" -> ((s, dir) =>
      Sample.fraction(docs(s, dir), "doc_id", 0.2).select("doc_id", "lang")),
    // per-language rates: en downweighted to 25%, zh to 50%, rest kept —
    // the mixture-reweighting step of a corpus curation pipeline
    "sample_stratified" -> ((s, dir) =>
      Sample.stratified(docs(s, dir), "doc_id", "lang",
        Map("en" -> 0.25, "zh" -> 0.5)).select("doc_id", "lang")),
    // exact per-language quota (sample-without-replacement by hash order),
    // via the salted two-level top-n — no one-reducer-per-stratum window
    "sample_quota" -> ((s, dir) =>
      Sample.quota(docs(s, dir), "doc_id", "lang", 25).select("doc_id", "lang")),
    // temperature mixture sampling: stratum share ~ n_s^alpha (alpha 0.5
    // flattens toward uniform), largest-remainder integer apportionment,
    // per-stratum draw by hash order — the LLM-corpus domain re-balancer
    "sample_temperature" -> ((s, dir) =>
      Sample.temperature(docs(s, dir), "doc_id", "source",
        alpha = 0.5, target = 100).select("doc_id", "source")),

    // ---- impact-ordered doc-id reordering (index-sort analogue) ----
    "reorder_by_length" -> ((s, dir) =>
      graft.index.Reorder.denseIds(docs(s, dir).select("doc_id", "n_chars"),
        Seq(col("n_chars"), col("doc_id")), "new_id")
        .select(col("doc_id"), col("new_id"))),

    // index.sort + early termination: the corpus persisted partitioned by
    // coarse n_chars range buckets (rows sorted within); a top-25 by the
    // SAME sort key walks leading buckets only — footer counts pick the
    // minimal prefix, the _sb predicate prunes at the DIRECTORY level, and
    // trailing partitions are never scanned (Lucene index.sort +
    // TopFieldCollector early exit as storage layout)
    "sorted_index_topk" -> ((s, dir) => {
      val path = BoundedCache.storePath("target/sortstore", dir)
      // the on-disk sorted store is keyed on CORPUS IDENTITY (source file
      // names + sizes + mtimes), not just _SUCCESS presence — a changed
      // corpus at the same path invalidates and rewrites instead of
      // serving stale results
      val ident = CorpusEntries.corpusIdent(dir)
      val marker = new java.io.File(s"$path/_corpus_id")
      val fresh = marker.exists() &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath),
          java.nio.charset.StandardCharsets.UTF_8) == ident
      if (!fresh) {
        graft.index.Reorder.sortedWrite(
          docs(s, dir).select("doc_id", "n_chars"), "n_chars",
          bucketWidth = 100L, path)
        // the overwrite cleared the store, stale marker included; the new
        // marker lands whole by rename, so a crash leaves none or this one
        require(!marker.exists(), s"sorted store $path kept a marker through its rewrite")
        val tmp = new java.io.File(s"$path/_corpus_id.tmp")
        java.nio.file.Files.write(tmp.toPath,
          ident.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp.toPath, marker.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      graft.index.Reorder.sortedTopK(s, path, "n_chars", "doc_id", 25)
        .select(col("doc_id"), col("n_chars"))
    }),

    // ---- token-budget shard packing (training-data sequence packing) ----
    "pack_token_budget" -> ((s, dir) =>
      graft.ops.Pack.byTokenBudget(
        docs(s, dir).select(col("doc_id"),
          size(graft.ops.TextOps.tokensCol(col("text"))).as("n_tokens")),
        Seq(col("doc_id")), col("n_tokens"), budget = 500)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"), col("shard"))),

    // ---- multimodal plumbing (stubbed decode) ----
    "mm_features" -> ((s, dir) =>
      Multimodal.features(docs(s, dir), "doc_id", "text")),
    // uniform k-frame sampling over the payload stream: bounded output,
    // offsets computed without materializing unsampled frames
    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(docs(s, dir), "doc_id", "text", k = 4, frameBytes = 16)),
    // combined text+image embedding (TextImageEmbeddingProcessor analogue):
    // feature-hashing text dims + payload byte-feature dims in one vector
    "mm_text_image_embed" -> ((s, dir) =>
      Multimodal.textImageEmbed(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("dim"), round(col("v"), 4).as("v"))),

    // ---- relational coverage over the star schema ----
    "q1_agg" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sq"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"),
          avg(col("l_discount")).as("ad"),
          count(lit(1)).as("n_rows"))
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("sq"), 2).as("sum_qty"), round(col("rev"), 2).as("revenue"),
          round(col("ad"), 4).as("avg_disc"), col("n_rows"))
    }),
    "join_nation_revenue" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"), count(lit(1)).as("n_orders"))
    }),
    "events_hourly" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))),
    "events_top_per_user" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    }),
    "events_json_extract" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))),

    // ---- structured streaming (batch-equivalent windowed agg) ----
    "stream_events_hourly" -> (streamEventsHourly _),
    // custom streaming state: sessionization via flatMapGroupsWithState
    "stream_sessions" -> (streamSessions _),
    // custom streaming state: first-wins exact dedup, one Long of state per
    // distinct content hash
    "stream_dedup" -> (streamDedup _),

    // ---- query-side event counters ----
    "query_stats" -> (queryStats _),
    // ---- memory-accounted LRU cache tier ----
    "cache_stats" -> (cacheStats _)
  )

  /**
   * The memory-accounted artifact cache's stat surface (reference: the
   * sparse cache/ package — AbstractLruCache recency + evict loop,
   * MemoryUsageManager limit, CircuitBreakerManager refused admissions,
   * CacheGatedPostingsReader read-through). A FIXED access script runs
   * against a fresh [[graft.index.BoundedCache]] with a deterministic
   * column-count weigher (40 bytes/column, limit 100): two admissions, one
   * hit, a third admission that must evict the LRU entry, one oversized
   * artifact the breaker refuses (still served unpersisted), and a re-read
   * of the evicted key that misses and evicts again. The oracle's constants
   * are hand-derived from that trace.
   */
  private def cacheStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val c = new graft.index.BoundedCache[String](100L,
      weigher = Some(ds => 40L * ds.columns.length))
    def art(n: Int) = d.where(col("doc_id") % 7 === n).select("doc_id")
    c.get("a")(art(0)) // miss, admit: used 80 after b
    c.get("b")(art(1)) // miss, admit
    c.get("a")(art(0)) // hit — refreshes a's recency, b is now LRU
    c.get("c")(art(2)) // miss: 80+40 > 100 -> evicts b, admits c (used 80)
    c.get("big")(d.select(col("doc_id"), col("source"), col("lang")))
      .count() // 120 > 100: breaker refuses; the read still computes
    c.get("b")(art(1)) // miss again (was evicted): evicts LRU a, admits b
    c.stats.toDF("stat_name", "value").orderBy("stat_name")
  }

  /**
   * Query/control-plane event counters (reference:
   * stats/events/EventStatName.java — per-query-type and per-processor
   * counters under the reference's stat names): a FIXED scenario of query
   * and processor constructions runs against a reset registry and the
   * resulting snapshot is compared to the oracle's hand-written constants,
   * derived independently from the scenario below (7 hybrid requests, one
   * of each normalization/combination family, one of each ingest/response
   * processor, ...). All increments are driver-side at plan construction
   * (never inside tasks — task-side counts would multiply by partitions and
   * retries), so this scenario builds plans without running corpus jobs.
   */
  private def queryStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    EventStats.reset()
    val d = docs(s, dir)

    // ingest processors: the three chunkers, both semantic-field encoders
    // (dense delegates to sparse: its nested counts are part of the spec),
    // the skip-existing incremental re-encode, and the text+image embedder
    Chunkers.fixedTokenLength(d, "doc_id", "text", 10)
    Chunkers.delimiter(d, "doc_id", "text", ".")
    Chunkers.fixedCharLength(d, "doc_id", "text", 40)
    val semSparse = Semantic.ingestSparse(d, "doc_id", "text", 20)
    val semDense = Semantic.ingestDense(d, "doc_id", "text", 20)
    Semantic.incremental(d, d, d.select(col("doc_id")), "doc_id", "text")(
      df => df.select(col("doc_id")))
    Multimodal.textImageEmbed(d, "doc_id", "text")

    // response processors over a literal 2-hit window
    val hits = Seq((1L, 1.0, 0.3), (2L, 0.5, 0.9)).toDF("doc_id", "score", "rating")
    Rerank.byField(hits, "rating")
    Rerank.rescore(hits.select(col("doc_id"), col("score")),
      hits.select(col("doc_id"), col("rating").as("score")), 2)
    Rerank.mmr(hits.select(col("doc_id"), col("score")),
      Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("doc_id", "vec"),
      0.5, 2)

    // sparse two-phase + SEISMIC over literal micro-indexes
    Sparse.twoPhaseTopK(Seq((1L, "alpha", 1.0), (2L, "beta", 0.5)).toDF("doc_id", "token", "w"),
      Map("alpha" -> 1.0, "beta" -> 0.2), 2)
    Seismic.annTopK(Seq(ClusteredPosting("alpha", 0, Array(1L), Array(Array("alpha")),
      Array(Array(1.0)), Array("alpha"), Array(1.0))).toDS(), Map("alpha" -> 1.0), 1)

    // request processor: enricher counted at DSL parse (parse only — the
    // parsed query is not executed, so no hybrid counters fire here)
    graft.query.QueryDsl.parse(
      """{ "query": { "hybrid": { "queries": [ { "match": { "text": "join hash" } } ] } },
        |  "search_pipeline": { "request_processors": [ { "neural_query_enricher": {
        |      "default_model_id": "mock-sparse-encoder-v1" } } ] } }""".stripMargin)

    // query-type counters: 7 hybrid requests covering every sub-query kind
    // and every normalization/combination family
    val idx = graft.index.IndexCache.documents(s, dir)
    val src = HybridSources(idx,
      sparse = Some(Sparse.encode(idx)),
      emb = Some(emb(s, dir).select(col("vec_id").as("doc_id"), col("embedding").as("vec"))),
      semantic = Map(
        "sem_sparse" -> SemanticSource(SemanticSparseKind, semSparse),
        "sem_dense" -> SemanticSource(SemanticDenseKind, semDense, dims = 8)))
    def run(sub: Seq[SubQuery], n: Normalization, c: Combination,
            from: Int = 0, filt: Option[DataFrame] = None): Unit = {
      Hybrid.execute(src, HybridQuery(sub, n, c, from = from), filt); ()
    }
    val lexA = Lexical(Seq("join", "hash")); val lexB = Lexical(Seq("merge", "sort"))
    run(Seq(lexA, SparseLinear(Map("merge" -> 1.0))), MinMaxNormTech(),
      Combination(Combine.Arithmetic), from = 5, filt = Some(d.select(col("doc_id"))))
    run(Seq(DenseCosine(3L)), L2NormTech, Combination(Combine.Geometric))
    run(Seq(lexA, lexB), RrfNormTech(), Combination(Combine.Rrf))
    run(Seq(lexA, lexB), ZScoreNormTech, Combination(Combine.Arithmetic))
    run(Seq(lexA, lexB), L2NormTech, Combination(Combine.Harmonic))
    run(Seq(SemanticText("sem_sparse", Seq("join"))), MinMaxNormTech(),
      Combination(Combine.Arithmetic))
    run(Seq(SemanticText("sem_dense", Seq("join"))), MinMaxNormTech(),
      Combination(Combine.Arithmetic))

    EventStats.snapshot(s)
  }

  /** IVF assignment as a once-per-dir build artifact (it is a function of
   *  the corpus, not the query — recomputing it per query would be
   *  O(corpus x centroids) per search). */
  private def ivfAssignment(s: SparkSession, dir: String): DataFrame =
    BoundedCache.dataset(s, "ivf-assignment", dir)(
      Ann.ivfAssign(emb(s, dir), "vec_id", "embedding", 16))

  /** Structured Streaming over the events table (Trigger-free replay via
   *  processAllAvailable; memory sink), producing the same hourly windowed
   *  aggregate as the batch `events_hourly` — the SURVEY.md §2.9 incremental
   *  path. */
  private def streamEventsHourly(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    val name = "stream_hourly_" + java.lang.Integer.toHexString(path.hashCode).replace('-', '_')
    // streaming file source wants a directory: glob-filter the one table
    val q = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .writeStream.outputMode("complete").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    s.table(name)
  }

  /**
   * Sessionization with CUSTOM STREAMING STATE: events group by user through
   * `flatMapGroupsWithState`, whose per-group state carries the open session
   * across micro-batches; an event more than 30 minutes after the previous
   * one starts a new session. Update output mode — closed sessions emit
   * when their gap is observed, and the still-open session emits its
   * batch-end snapshot (later batches would re-emit it updated, the standard
   * "session so far" Update semantics; under the gate's single AvailableNow
   * replay the snapshot is the final session, making the result equal to
   * the batch gaps-and-islands computation the oracle runs).
   */
  private def streamSessions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import s.implicits._
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    val name = "stream_sessions_" + java.lang.Integer.toHexString(path.hashCode).replace('-', '_')
    val gapUs = 30L * 60 * 1000000 // 30 min in microseconds
    def handle(user: Long, it: Iterator[SessionEvent],
               state: GroupState[SessionState]): Iterator[SessionRow] = {
      def micro(us: Long): java.sql.Timestamp = {
        val t = new java.sql.Timestamp(us / 1000)
        t.setNanos((us % 1000000).toInt * 1000)
        t
      }
      // sort the batch's events: iterator order is shuffle-arrival order
      val evs = it.toArray.sortBy(e => (e.ts, e.event_id))
      var open = state.getOption.orNull
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
      evs.foreach { e =>
        val us = (e.ts.getTime / 1000) * 1000000 + e.ts.getNanos / 1000
        if (open == null) open = SessionState(1L, us, us, 1L)
        else if (us - open.endUs > gapUs) {
          out += SessionRow(user, open.sid, micro(open.startUs), micro(open.endUs), open.n)
          open = SessionState(open.sid + 1, us, us, 1L)
        } else open = open.copy(endUs = math.max(open.endUs, us), n = open.n + 1)
      }
      if (open != null) {
        state.update(open)
        out += SessionRow(user, open.sid, micro(open.startUs), micro(open.endUs), open.n)
      }
      out.iterator
    }
    val q = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(handle)
      .writeStream.outputMode("update").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    s.table(name)
  }

  /** Streaming exact dedup over the documents table: drain the one-batch
   *  replay through [[graft.streaming.StreamingDedup.firstWins]]; under the
   *  single AvailableNow batch the result equals the batch rule "keep
   *  min(doc_id) per content", which the oracle computes directly. */
  private def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val schema = s.read.parquet(path).schema
    val name = "stream_dedup_" + java.lang.Integer.toHexString(path.hashCode).replace('-', '_')
    val q = graft.streaming.StreamingDedup.firstWins(
        s.readStream.schema(schema)
          .option("pathGlobFilter", "documents.parquet").parquet(dir),
        "doc_id", "text")
      .writeStream.outputMode("update").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    s.table(name)
  }

  def oracles(tokCte: String): Map[String, String] = Map(
    // window identity is by token-sequence value (the engine hashes
    // md5(chr(1)-joined window); equal sequences <=> equal hashes), then the
    // same df >= 2 filter, coverage-gap islands (> k breaks) and min/max
    // span fold
    "dedup_duplicate_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, toks, unnest(range(len(toks) - 8 + 1)) AS i
        |  FROM toks WHERE len(toks) >= 8),
        |wins AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |         array_to_string(toks[i+1:i+8], chr(1)) AS w
        |  FROM pos),
        |dup AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY w) AS n FROM wins)
        |  WHERE n >= 2),
        |isl AS (
        |  SELECT doc_id, pos,
        |         sum(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS UNBOUNDED PRECEDING) AS island
        |  FROM (SELECT doc_id, pos,
        |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |        FROM dup))
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |       CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_len
        |FROM isl GROUP BY doc_id, island""".stripMargin,
    // same-content grouping is by text value (the engine hashes sha256(text);
    // equal text <=> equal hash), winner = min(doc_id) per group
    "stream_dedup" ->
      """SELECT d.doc_id, m.keep AS kept_doc_id, d.doc_id <> m.keep AS is_dup
        |FROM documents d
        |JOIN (SELECT text, min(doc_id) AS keep
        |      FROM documents GROUP BY text) m
        |  ON d.text = m.text""".stripMargin,
    // text dims: hashing-trick projection over the shared tf CTE; image
    // dims: byte stats of the utf-8 payload (the corpus text is ascii, so
    // octet_length == length and first/last byte == first/last char)
    "mm_text_image_embed" ->
      s"""WITH $tokCte,
         |tp AS (
         |  SELECT doc_id,
         |         CAST((length(term) * 31 + ascii(substr(term, 1, 1))) % 8 AS BIGINT) AS dim,
         |         round(sum(tf * (1.0 + (length(term) % 5) * 0.25)), 4) AS v
         |  FROM tf GROUP BY doc_id, dim),
         |ip AS (
         |  SELECT doc_id, CAST(8 + i AS BIGINT) AS dim,
         |         round(CASE i
         |           WHEN 0 THEN CAST(octet_length(encode(text)) AS DOUBLE)
         |           WHEN 1 THEN CASE WHEN length(text) = 0 THEN -1
         |                            ELSE ascii(substr(text, 1, 1)) END
         |           ELSE CASE WHEN length(text) = 0 THEN -1
         |                     ELSE ascii(substr(text, length(text), 1)) END
         |         END, 4) AS v
         |  FROM documents CROSS JOIN (SELECT unnest(ARRAY[0, 1, 2]) AS i))
         |SELECT doc_id, dim, v FROM tp
         |UNION ALL SELECT doc_id, dim, v FROM ip""".stripMargin,
    "pack_token_budget" ->
      """SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |       CAST((cum - len(toks)) // 500 AS BIGINT) AS shard FROM (
        |  SELECT doc_id, toks,
        |         sum(len(toks)) OVER (ORDER BY doc_id
        |                              ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |        FROM documents))""".stripMargin,
    "stream_sessions" ->
      """WITH d AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |               OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, ts,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM d)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events
        |FROM g GROUP BY user_id, session_id""".stripMargin,
    "dedup_exact" ->
      """SELECT count(*) AS n_total, count(DISTINCT md5(text)) AS n_distinct,
        |       count(*) - count(DISTINCT md5(text)) AS n_dup_rows
        |FROM documents""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, array_to_string(toks[CAST(i AS INT):CAST(i+2 AS INT)], ' ') AS shingle
         |  FROM (SELECT doc_id, toks, unnest(generate_series(1, CAST(len(toks)-2 AS BIGINT))) AS i
         |        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |              FROM documents)
         |        WHERE len(toks) >= 3)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT id_a, id_b, round(j, 4) AS jaccard FROM (
         |  SELECT id_a, id_b, CAST(i AS DOUBLE)/(sa.sz + sb.sz - i) AS j
         |  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b)
         |WHERE j >= 0.2""".stripMargin,
    "decontam_overlap" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, array_to_string(toks[CAST(i AS INT):CAST(i+2 AS INT)], ' ') AS shingle
         |  FROM (SELECT doc_id, toks, unnest(generate_series(1, CAST(len(toks)-2 AS BIGINT))) AS i
         |        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |              FROM documents)
         |        WHERE len(toks) >= 3)),
         |b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
         |SELECT sh.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(count(b.shingle) AS BIGINT) AS n_contam,
         |  round(count(b.shingle) * 1.0 / count(*), 4) AS contam_frac,
         |  count(b.shingle) > 0 AS contaminated
         |FROM sh LEFT JOIN b ON sh.shingle = b.shingle
         |GROUP BY sh.doc_id""".stripMargin,
    // hand-derived expected counts for the queryStats fixed scenario:
    // 3 standalone chunker calls + 2 nested in the semantic encoders = 5
    // text_chunking (3 fixed_token, 1 delimiter, 1 fixed_char); dense
    // semantic ingest delegates to sparse (2 semantic_field / sparse_
    // encoding, 1 text_embedding); 7 hybrid requests = 1 sparse + 1 knn +
    // 2 semantic + 3 lexical-only, with one of each norm/comb family
    // (minmax 3, l2 2, zscore 1 -> 6 normalization + 1 rank_based rrf;
    // arithmetic 4, geometric/harmonic/rrf 1 each), one paginated and one
    // filtered; one of each response/request processor
    // hand-derived from the fixed access script in cacheStats:
    // miss(a) miss(b) hit(a) miss(c, evicts b) miss+reject(big)
    // miss(b, evicts a) => hits 1, misses 5 (a rejected admission still
    // missed the cache), evictions 2, rejections 1, resident {c, b} at
    // 40 bytes each = 80, entries 2
    "cache_stats" ->
      s"""SELECT stat_name, CAST(value AS BIGINT) AS value FROM (VALUES
         |  ('cache_breaker_rejections', 1),
         |  ('cache_entries', 2),
         |  ('cache_evictions', 2),
         |  ('cache_hits', 1),
         |  ('cache_misses', 5),
         |  ('cache_ram_bytes_used', 80)) t(stat_name, value)
         |ORDER BY stat_name""".stripMargin,
    "query_stats" ->
      s"""SELECT stat_name, CAST(value AS BIGINT) AS value FROM (VALUES
         |  ('comb_arithmetic_executions', 4),
         |  ('comb_geometric_executions', 1),
         |  ('comb_harmonic_executions', 1),
         |  ('comb_rrf_executions', 1),
         |  ('hybrid_query_requests', 7),
         |  ('hybrid_query_with_filter_requests', 1),
         |  ('hybrid_query_with_pagination_requests', 1),
         |  ('mmr_neural_query_transformer_executions', 1),
         |  ('neural_query_against_knn_requests', 1),
         |  ('neural_query_against_semantic_dense_requests', 1),
         |  ('neural_query_against_semantic_sparse_requests', 1),
         |  ('neural_query_enricher_executions', 1),
         |  ('neural_query_requests', 3),
         |  ('neural_sparse_query_requests', 1),
         |  ('neural_sparse_two_phase_executions', 1),
         |  ('norm_l2_executions', 2),
         |  ('norm_minmax_executions', 3),
         |  ('norm_zscore_executions', 1),
         |  ('normalization_processor_executions', 6),
         |  ('rank_based_normalization_processor_executions', 1),
         |  ('rerank_by_field_executions', 1),
         |  ('rerank_ml_executions', 1),
         |  ('seismic_query_requests', 1),
         |  ('semantic_field_chunking_executions', 2),
         |  ('semantic_field_executions', 2),
         |  ('skip_existing_executions', 1),
         |  ('sparse_encoding_executions', 2),
         |  ('text_chunking_delimiter_executions', 1),
         |  ('text_chunking_executions', 5),
         |  ('text_chunking_fixed_char_length_executions', 1),
         |  ('text_chunking_fixed_token_length_executions', 3),
         |  ('text_embedding_executions', 1),
         |  ('text_image_embedding_executions', 1)) AS t(stat_name, value)
         |ORDER BY stat_name""".stripMargin,
    // transitive closure of the same jaccard pair list; cluster label =
    // min reachable id (DuckDB's recursive CTE is the small-scale oracle
    // for the star-contraction result)
    "dedup_clusters" -> s"$clustersCte\nSELECT doc_id, cluster_id FROM cl",
    // corpus minus non-canonical members of the same clusters
    "dedup_keep_canonical" ->
      s"""$clustersCte
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)""".stripMargin,
    "dedup_minhash_lsh" -> minhashLshOracle,
    "dedup_simhash" -> simhashOracle,
    "dedup_simhash_pairs" -> simhashPairsOracle(64),
    "dedup_simhash_pairs_128" -> simhashPairsOracle(128),
    "dedup_ngram_jaccard_capped" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, array_to_string(toks[CAST(i AS INT):CAST(i+2 AS INT)], ' ') AS shingle
         |  FROM (SELECT doc_id, toks, unnest(generate_series(1, CAST(len(toks)-2 AS BIGINT))) AS i
         |        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |              FROM documents)
         |        WHERE len(toks) >= 3)),
         |shc AS (
         |  SELECT sh.doc_id, sh.shingle FROM sh
         |  JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 4) g USING (shingle)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT id_a, id_b, round(j, 4) AS jaccard FROM (
         |  SELECT id_a, id_b, CAST(i AS DOUBLE)/(sa.sz + sb.sz - i) AS j
         |  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b)
         |WHERE j >= 0.2""".stripMargin,
    "dedup_embed_cosine" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, round(c, 4) AS cos
         |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id,
         |LATERAL (SELECT ${cosSql("a.embedding", "b.embedding")} AS c)
         |WHERE c >= 0.35""".stripMargin,
    // split re-derivation: labels with <= 50 vectors take the exact
    // all-pairs form; bigger labels only pair where >= 1 LSH band agrees
    // (the same md5 hyperplanes, inlined as literals)
    "dedup_embed_cosine_routed" ->
      s"""WITH ${lshCtes(32, 4, 64)},
         |bn AS MATERIALIZED (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
         |small AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.embedding", "b.embedding")} AS c
         |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         |  JOIN bn ON bn.label = a.label AND bn.n <= 50),
         |bigcand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bh = b.bh AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id AND eb.label = ea.label
         |  JOIN bn ON bn.label = ea.label AND bn.n > 50),
         |bigv AS (
         |  SELECT id_a, id_b, ${cosSql("ea.embedding", "eb.embedding")} AS c
         |  FROM bigcand JOIN embeddings ea ON ea.vec_id = id_a
         |               JOIN embeddings eb ON eb.vec_id = id_b)
         |SELECT id_a, id_b, round(c, 4) AS cos
         |FROM (SELECT * FROM small UNION ALL SELECT * FROM bigv)
         |WHERE c >= 0.35""".stripMargin,
    "sample_fraction" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
         |      < '${graft.ops.Sample.rateThreshold(0.2)}'""".stripMargin,
    "sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
         |      < (CASE lang WHEN 'en' THEN '${graft.ops.Sample.rateThreshold(0.25)}'
         |                   WHEN 'zh' THEN '${graft.ops.Sample.rateThreshold(0.5)}'
         |                   ELSE '${graft.ops.Sample.rateThreshold(1.0)}' END)""".stripMargin,
    "sample_quota" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang
         |    ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 25""".stripMargin,
    // largest-remainder apportionment of 100 over pow(n_s, 0.5) weights,
    // then the same hash-order draw per stratum (caps never bind at this
    // target; the engine additionally caps at stratum size)
    "sample_temperature" ->
      s"""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         |w AS (SELECT source, n, pow(n, 0.5) AS w FROM c),
         |t AS (SELECT sum(w) AS ws FROM w),
         |r AS (SELECT source, n, 100 * w / ws AS raw FROM w, t),
         |b AS MATERIALIZED (SELECT source, CAST(floor(raw) AS BIGINT) AS bq,
         |             raw - floor(raw) AS rem FROM r),
         |l AS (SELECT 100 - sum(bq) AS leftn FROM b),
         |rk AS (SELECT source, bq, row_number() OVER (ORDER BY rem DESC, source) AS rr FROM b),
         |qt AS (SELECT source, bq + CASE WHEN rr <= (SELECT leftn FROM l)
         |                                THEN 1 ELSE 0 END AS q FROM rk),
         |sel AS (SELECT doc_id, source, row_number() OVER (
         |          PARTITION BY source
         |          ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS hr
         |        FROM documents)
         |SELECT s.doc_id, s.source FROM sel s JOIN qt USING (source)
         |WHERE s.hr <= qt.q""".stripMargin,
    "dedup_embed_lsh" ->
      s"""WITH ${lshCtes(32, 4, 64)},
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bh = b.bh AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, round(c, 4) AS cos
         |FROM cand
         |JOIN embeddings ea ON ea.vec_id = id_a
         |JOIN embeddings eb ON eb.vec_id = id_b,
         |LATERAL (SELECT ${cosSql("ea.embedding", "eb.embedding")} AS c)
         |WHERE c >= 0.35""".stripMargin,
    "ann_recall_curve" ->
      recallOracle(queryMod = 50, k = 10, nCents = 16, probes = Seq(1, 4, 8, 16),
        nPlanes = 32, bandChoices = Seq(2, 4), dim = 64,
        pqMs = Seq(8), pqCodes = 16, int8 = true),
    "ann_lsh_topk" ->
      s"""WITH ${lshCtes(32, 4, 64)},
         |qb AS (SELECT band, bh FROM bands WHERE vec_id = 9),
         |cand AS (SELECT DISTINCT b.vec_id
         |         FROM bands b JOIN qb ON b.band = qb.band AND b.bh = qb.bh),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 9)
         |SELECT vec_id, round(c, 4) AS cos FROM (
         |  SELECT e.vec_id, ${cosSql("e.embedding", "q.qv")} AS c
         |  FROM embeddings e JOIN cand USING (vec_id), q)
         |ORDER BY c DESC, vec_id LIMIT 10""".stripMargin,
    "knn_radial" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 5)
         |SELECT vec_id, round(c, 4) AS cos FROM (
         |  SELECT e.vec_id, ${cosSql("e.embedding", "q.qv")} AS c FROM embeddings e, q)
         |WHERE c >= 0.2
         |ORDER BY c DESC, vec_id""".stripMargin,
    "ann_brute_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, round(c, 4) AS cos FROM (
         |  SELECT e.vec_id, ${cosSql("e.embedding", "q.qv")} AS c FROM embeddings e, q)
         |ORDER BY c DESC, vec_id LIMIT 20""".stripMargin,
    // int8 quantize -> dequantize -> cosine, re-derived with the identical
    // floor(x/scale + 0.5) half-up rule
    "ann_int8_topk" ->
      s"""WITH qn AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         |         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale
         |  FROM embeddings),
         |dq AS (
         |  SELECT vec_id, list_transform(e, x -> floor(x / scale + 0.5) * scale) AS dv
         |  FROM qn WHERE scale > 0)
         |SELECT vec_id, round(c, 4) AS cos FROM (
         |  SELECT vec_id, ${cosSql("dv", Int8QV.mkString("[", ", ", "]"))} AS c FROM dq)
         |ORDER BY c DESC, vec_id LIMIT 20""".stripMargin,
    // l2 re-derivation: the 64 squared diffs sum LEFT-TO-RIGHT as one
    // generated expression — the same fold association the engine's
    // aggregate() uses, so the doubles agree exactly
    "ann_brute_l2_topk" -> {
      val l2 = (1 to 64).map { i =>
        s"(CAST(e.embedding[$i] AS DOUBLE) - CAST(q.qv[$i] AS DOUBLE)) * (CAST(e.embedding[$i] AS DOUBLE) - CAST(q.qv[$i] AS DOUBLE))"
      }.mkString("(", " + ", ")")
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, round(s, 4) AS score FROM (
         |  SELECT e.vec_id, 1.0/(1.0 + $l2) AS s FROM embeddings e, q)
         |ORDER BY s DESC, vec_id LIMIT 20""".stripMargin
    },
    "ann_brute_ip_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, round(s, 4) AS score FROM (
        |  SELECT e.vec_id,
        |         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS s
        |  FROM embeddings e, q)
        |ORDER BY s DESC, vec_id LIMIT 20""".stripMargin,
    "ann_hamming_topk" -> {
      // bit 63 is BIGINT's sign bit: DuckDB rejects 1 << 63, so the last
      // term adds Long.MinValue directly (partial sums stay in range
      // because the fold runs d = 0..63 left-to-right)
      val pack = (0 until 64).map { d =>
        val bit = if (d == 63) "(-9223372036854775807 - 1)" else s"(1::BIGINT << $d)"
        s"CASE WHEN embedding[${d + 1}] > 0 THEN $bit ELSE 0 END"
      }.mkString("(", " + ", ")")
      s"""WITH hp AS (SELECT vec_id, $pack AS h FROM embeddings),
         |q AS (SELECT h AS qh FROM hp WHERE vec_id = 0)
         |SELECT vec_id, CAST(bit_count(xor(hp.h, q.qh)) AS BIGINT) AS hamming
         |FROM hp CROSS JOIN q
         |ORDER BY hamming ASC, vec_id ASC LIMIT 20""".stripMargin
    },
    // two-phase re-derivation: lossy candidates (same half-up rule), then
    // exact cosine over exactly that candidate set
    "ann_int8_rescore" ->
      s"""WITH qn AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         |         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale
         |  FROM embeddings),
         |dq AS (
         |  SELECT vec_id, list_transform(e, x -> floor(x / scale + 0.5) * scale) AS dv
         |  FROM qn WHERE scale > 0),
         |cand AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, ${cosSql("dv", Int8QV.mkString("[", ", ", "]"))} AS c FROM dq)
         |  ORDER BY c DESC, vec_id LIMIT 60)
         |SELECT vec_id, round(c, 4) AS cos FROM (
         |  SELECT e.vec_id, ${cosSql("e.embedding", Int8QV.mkString("[", ", ", "]"))} AS c
         |  FROM embeddings e JOIN cand USING (vec_id))
         |ORDER BY c DESC, vec_id LIMIT 20""".stripMargin,
    "ann_ivf_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
         |cents AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < 16),
         |probed AS (
         |  SELECT c_id FROM (
         |    SELECT c_id, row_number() OVER (
         |      ORDER BY ${cosSql("cv", "q.qv")} DESC, c_id) AS rn
         |    FROM cents, q) WHERE rn <= 4),
         |assigned AS (
         |  SELECT vec_id, c_id FROM (
         |    SELECT e.vec_id, c.c_id, row_number() OVER (
         |      PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "c.cv")} DESC, c.c_id) AS rn
         |    FROM embeddings e, cents c) WHERE rn = 1)
         |SELECT vec_id, round(c, 4) AS cos FROM (
         |  SELECT e.vec_id, ${cosSql("e.embedding", "q.qv")} AS c
         |  FROM embeddings e JOIN assigned a USING (vec_id) JOIN probed p USING (c_id), q)
         |ORDER BY c DESC, vec_id LIMIT 10""".stripMargin,
    "ann_pq_topk" ->
      s"""WITH js AS (SELECT unnest(range(8)) AS j),
         |cb AS (
         |  SELECT c.vec_id AS c_id, js.j,
         |         CAST(c.embedding AS DOUBLE[])[CAST(js.j*8+1 AS INT):CAST(js.j*8+8 AS INT)] AS cw
         |  FROM embeddings c CROSS JOIN js WHERE c.vec_id < 16),
         |subs AS (
         |  SELECT e.vec_id, js.j,
         |         CAST(e.embedding AS DOUBLE[])[CAST(js.j*8+1 AS INT):CAST(js.j*8+8 AS INT)] AS sv
         |  FROM embeddings e CROSS JOIN js),
         |codes AS (
         |  SELECT vec_id, j, c_id AS code FROM (
         |    SELECT s.vec_id, s.j, cb.c_id,
         |           row_number() OVER (PARTITION BY s.vec_id, s.j
         |             ORDER BY list_sum(list_transform(list_zip(s.sv, cb.cw),
         |               x -> (x[1]-x[2])*(x[1]-x[2]))), cb.c_id) AS rn
         |    FROM subs s JOIN cb ON cb.j = s.j) WHERE rn = 1),
         |q AS (SELECT js.j,
         |        CAST(embedding AS DOUBLE[])[CAST(js.j*8+1 AS INT):CAST(js.j*8+8 AS INT)] AS qs
         |      FROM embeddings CROSS JOIN js WHERE vec_id = 1),
         |adc AS (SELECT cb.j, cb.c_id, list_dot_product(q.qs, cb.cw) AS dot
         |        FROM cb JOIN q ON q.j = cb.j),
         |sc AS (SELECT c.vec_id, sum(a.dot) AS approx
         |       FROM codes c JOIN adc a ON a.j = c.j AND a.c_id = c.code
         |       GROUP BY c.vec_id)
         |SELECT vec_id, round(approx, 4) AS approx_dot FROM sc
         |ORDER BY approx DESC, vec_id LIMIT 20""".stripMargin,
    "ann_pq_topk" ->
      s"""WITH js AS (SELECT unnest(range(8)) AS j),
         |cb AS (
         |  SELECT c.vec_id AS c_id, js.j,
         |         CAST(c.embedding AS DOUBLE[])[CAST(js.j*8+1 AS INT):CAST(js.j*8+8 AS INT)] AS cw
         |  FROM embeddings c CROSS JOIN js WHERE c.vec_id < 16),
         |subs AS (
         |  SELECT e.vec_id, js.j,
         |         CAST(e.embedding AS DOUBLE[])[CAST(js.j*8+1 AS INT):CAST(js.j*8+8 AS INT)] AS sv
         |  FROM embeddings e CROSS JOIN js),
         |codes AS (
         |  SELECT vec_id, j, c_id AS code FROM (
         |    SELECT s.vec_id, s.j, cb.c_id,
         |           row_number() OVER (PARTITION BY s.vec_id, s.j
         |             ORDER BY list_sum(list_transform(list_zip(s.sv, cb.cw),
         |               x -> (x[1]-x[2])*(x[1]-x[2]))), cb.c_id) AS rn
         |    FROM subs s JOIN cb ON cb.j = s.j) WHERE rn = 1),
         |q AS (SELECT js.j,
         |        CAST(embedding AS DOUBLE[])[CAST(js.j*8+1 AS INT):CAST(js.j*8+8 AS INT)] AS qs
         |      FROM embeddings CROSS JOIN js WHERE vec_id = 1),
         |adc AS (SELECT cb.j, cb.c_id, list_dot_product(q.qs, cb.cw) AS dot
         |        FROM cb JOIN q ON q.j = cb.j),
         |sc AS (SELECT c.vec_id, sum(a.dot) AS approx
         |       FROM codes c JOIN adc a ON a.j = c.j AND a.c_id = c.code
         |       GROUP BY c.vec_id)
         |SELECT vec_id, round(approx, 4) AS approx_dot FROM sc
         |ORDER BY approx DESC, vec_id LIMIT 20""".stripMargin,
    "knn_filtered_fallback" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
         |cents AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < 16),
         |probed AS (
         |  SELECT c_id FROM (
         |    SELECT c_id, row_number() OVER (
         |      ORDER BY ${cosSql("cv", "q.qv")} DESC, c_id) AS rn
         |    FROM cents, q) WHERE rn <= 4),
         |assigned AS (
         |  SELECT vec_id, c_id FROM (
         |    SELECT e.vec_id, c.c_id, row_number() OVER (
         |      PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "c.cv")} DESC, c.c_id) AS rn
         |    FROM embeddings e, cents c) WHERE rn = 1),
         |sel AS (
         |  SELECT vec_id, round(c, 4) AS cos, 'exact' AS strategy FROM (
         |    SELECT e.vec_id, ${cosSql("e.embedding", "q.qv")} AS c
         |    FROM embeddings e, q WHERE e.vec_id % 50 = 0 AND e.vec_id < 2000)
         |  ORDER BY c DESC, vec_id LIMIT 10),
         |brd AS (
         |  SELECT vec_id, round(c, 4) AS cos, 'ann' AS strategy FROM (
         |    SELECT e.vec_id, ${cosSql("e.embedding", "q.qv")} AS c
         |    FROM embeddings e JOIN assigned a USING (vec_id)
         |    JOIN probed p USING (c_id), q
         |    WHERE e.vec_id % 2 = 0)
         |  ORDER BY c DESC, vec_id LIMIT 10)
         |SELECT * FROM sel UNION ALL SELECT * FROM brd""".stripMargin,
    // exact because all 16 centroids are probed: the learned partition must
    // cover the corpus exactly once, so the result equals brute-force top-k
    "ann_ivf_kmeans" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3)
         |SELECT vec_id, round(c, 4) AS cos FROM (
         |  SELECT e.vec_id, ${cosSql("e.embedding", "q.qv")} AS c FROM embeddings e, q)
         |ORDER BY c DESC, vec_id LIMIT 10""".stripMargin,
    "ann_ivf_persisted" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 2),
         |cents AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < 16),
         |probed AS (
         |  SELECT c_id FROM (
         |    SELECT c_id, row_number() OVER (
         |      ORDER BY ${cosSql("cv", "q.qv")} DESC, c_id) AS rn
         |    FROM cents, q) WHERE rn <= 4),
         |assigned AS (
         |  SELECT vec_id, c_id FROM (
         |    SELECT e.vec_id, c.c_id, row_number() OVER (
         |      PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "c.cv")} DESC, c.c_id) AS rn
         |    FROM embeddings e, cents c) WHERE rn = 1)
         |SELECT vec_id, round(c, 4) AS cos FROM (
         |  SELECT e.vec_id, ${cosSql("e.embedding", "q.qv")} AS c
         |  FROM embeddings e JOIN assigned a USING (vec_id) JOIN probed p USING (c_id), q)
         |ORDER BY c DESC, vec_id LIMIT 10""".stripMargin,
    "reorder_by_length" ->
      """SELECT doc_id, CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT) AS new_id
        |FROM documents""".stripMargin,
    "sorted_index_topk" ->
      """SELECT doc_id, n_chars FROM documents
        |ORDER BY n_chars ASC, doc_id ASC LIMIT 25""".stripMargin,
    // ASCII corpus: payload byte i == text char i, so DuckDB samples the
    // same offsets straight off the text column
    "mm_frame_sample" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(floor(length(text) / 16) AS BIGINT) AS n_frames
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, greatest(1, CAST(floor(n_frames / 4) AS BIGINT)) AS stride,
        |         unnest(generate_series(0, least(4, n_frames) - 1)) AS i
        |  FROM p WHERE n_frames > 0)
        |SELECT s.doc_id, CAST(i * stride AS BIGINT) AS frame_idx,
        |       CAST(i * stride * 16 AS BIGINT) AS offset,
        |       CAST(ascii(substr(d.text, CAST(i * stride * 16 + 1 AS INT), 1)) AS BIGINT) AS lead_byte
        |FROM s JOIN documents d USING (doc_id)""".stripMargin,
    "mm_features" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
        |       CAST(CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1)) ELSE -1 END AS BIGINT) AS first_byte,
        |       CAST(CASE WHEN length(text) > 0 THEN ascii(substr(text, length(text), 1)) ELSE -1 END AS BIGINT) AS last_byte
        |FROM documents""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "join_nation_revenue" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |       count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "events_top_per_user" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "events_json_extract" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events""".stripMargin,
    "stream_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |       count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin
  )

  /** dot/cosine SQL matching Ann.cosine's association exactly. */
  private def cosSql(a: String, b: String): String = {
    def d(x: String, y: String) =
      s"list_dot_product(CAST($x AS DOUBLE[]), CAST($y AS DOUBLE[]))"
    s"(${d(a, b)} / (sqrt(${d(a, a)}) * sqrt(${d(b, b)})))"
  }

  /** Recall@k oracle: re-derives the full recall curve — brute top-k per
   *  query, seeded-IVF candidates per probe depth, LSH candidates per
   *  banding — and the hit-count division, independently of the engine. */
  private def recallOracle(queryMod: Int, k: Int, nCents: Int,
                           probes: Seq[Int], nPlanes: Int,
                           bandChoices: Seq[Int], dim: Int,
                           pqMs: Seq[Int] = Nil, pqCodes: Int = 16,
                           int8: Boolean = false): String = {
    val bits = (0 until nPlanes).map { p =>
      val w = graft.ops.Ann.hyperplane(p, dim).map(x => s"$x.0").mkString(", ")
      s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), [$w]) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    val bandCtes = bandChoices.map { nb =>
      val rows = nPlanes / nb
      s"""bands$nb AS (
         |  SELECT vec_id, bb.b AS band, substring(sig, bb.b*$rows + 1, $rows) AS bh
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${nb - 1})) AS b) bb)""".stripMargin
    }.mkString(",\n")
    val ivfCtes = probes.map { p =>
      s"""ivftop$p AS (
         |  SELECT qid, vid FROM (
         |    SELECT s.qid, s.vid, row_number() OVER (
         |      PARTITION BY s.qid ORDER BY s.c DESC, s.vid) AS rn
         |    FROM scored s JOIN assigned a ON a.vec_id = s.vid
         |                  JOIN qrank r ON r.qid = s.qid AND r.c_id = a.c_id AND r.rn <= $p)
         |  WHERE rn <= $k)""".stripMargin
    }.mkString(",\n")
    val lshCtesSql = bandChoices.map { nb =>
      s"""lshcand$nb AS (
         |  SELECT DISTINCT qb.qid, b.vec_id AS vid
         |  FROM bands$nb b JOIN (
         |    SELECT q.qid, bb.band, bb.bh FROM bands$nb bb JOIN queries q ON bb.vec_id = q.qid) qb
         |    ON b.band = qb.band AND b.bh = qb.bh),
         |lshtop$nb AS (
         |  SELECT qid, vid FROM (
         |    SELECT s.qid, s.vid, row_number() OVER (
         |      PARTITION BY s.qid ORDER BY s.c DESC, s.vid) AS rn
         |    FROM scored s JOIN lshcand$nb c ON c.qid = s.qid AND c.vid = s.vid)
         |  WHERE rn <= $k)""".stripMargin
    }.mkString(",\n")
    def recallSel(top: String, method: String, param: Int) =
      s"""SELECT '$method' AS method, $param AS param,
         |  round(CAST((SELECT count(*) FROM $top t
         |              JOIN brute b ON b.qid = t.qid AND b.vid = t.vid) AS DOUBLE)
         |        / (SELECT CAST(nq * $k AS DOUBLE) FROM nqt), 4) AS recall""".stripMargin
    // PQ ADC per query-panel member: the ann_pq_topk CTE chain with the
    // single query generalized to the panel; ranking is the approx dot
    val pqCtes = pqMs.map { m =>
      val sub = dim / m
      s"""js$m AS (SELECT unnest(range($m)) AS j),
         |cb$m AS (
         |  SELECT c.vec_id AS c_id, js.j,
         |         CAST(c.embedding AS DOUBLE[])[CAST(js.j*$sub+1 AS INT):CAST(js.j*$sub+$sub AS INT)] AS cw
         |  FROM embeddings c CROSS JOIN js$m js WHERE c.vec_id < $pqCodes),
         |subs$m AS (
         |  SELECT e.vec_id, js.j,
         |         CAST(e.embedding AS DOUBLE[])[CAST(js.j*$sub+1 AS INT):CAST(js.j*$sub+$sub AS INT)] AS sv
         |  FROM embeddings e CROSS JOIN js$m js),
         |codes$m AS (
         |  SELECT vec_id, j, c_id AS code FROM (
         |    SELECT s.vec_id, s.j, cb.c_id,
         |           row_number() OVER (PARTITION BY s.vec_id, s.j
         |             ORDER BY list_sum(list_transform(list_zip(s.sv, cb.cw),
         |               x -> (x[1]-x[2])*(x[1]-x[2]))), cb.c_id) AS rn
         |    FROM subs$m s JOIN cb$m cb ON cb.j = s.j) WHERE rn = 1),
         |qsubs$m AS (
         |  SELECT q.qid, js.j,
         |         CAST(q.qv AS DOUBLE[])[CAST(js.j*$sub+1 AS INT):CAST(js.j*$sub+$sub AS INT)] AS qs
         |  FROM queries q CROSS JOIN js$m js),
         |adc$m AS (SELECT q.qid, cb.j, cb.c_id, list_dot_product(q.qs, cb.cw) AS dot
         |          FROM cb$m cb JOIN qsubs$m q ON q.j = cb.j),
         |pqsc$m AS (SELECT a.qid, c.vec_id AS vid,
         |                  list_sum(list(a.dot ORDER BY a.j)) AS approx
         |           FROM codes$m c JOIN adc$m a ON a.j = c.j AND a.c_id = c.code
         |           GROUP BY a.qid, c.vec_id),
         |pqtop$m AS (
         |  SELECT qid, vid FROM (
         |    SELECT qid, vid, row_number() OVER (
         |      PARTITION BY qid ORDER BY approx DESC, vid) AS rn
         |    FROM pqsc$m) WHERE rn <= $k)""".stripMargin
    }.mkString(",\n")
    // int8: dequantize with the engine's floor(x/scale + 0.5) half-up rule,
    // rank by dequantized cosine (ann_int8_topk generalized to the panel)
    val int8Ctes = if (!int8) "" else
      s"""qn8 AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         |         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale
         |  FROM embeddings),
         |dq8 AS (
         |  SELECT vec_id, list_transform(e, x -> floor(x / scale + 0.5) * scale) AS dv
         |  FROM qn8 WHERE scale > 0),
         |i8top AS (
         |  SELECT qid, vid FROM (
         |    SELECT q.qid, d.vec_id AS vid, row_number() OVER (
         |      PARTITION BY q.qid
         |      ORDER BY ${cosSql("d.dv", "q.qv")} DESC, d.vec_id) AS rn
         |    FROM dq8 d, queries q) WHERE rn <= $k)""".stripMargin
    val unions = (probes.map(p => recallSel(s"ivftop$p", "ivf", p)) ++
      bandChoices.map(nb => recallSel(s"lshtop$nb", "lsh", nb)) ++
      pqMs.map(m => recallSel(s"pqtop$m", "pq", m)) ++
      (if (int8) Seq(recallSel("i8top", "int8", 8)) else Nil))
      .mkString("\nUNION ALL\n")
    s"""WITH queries AS MATERIALIZED (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % $queryMod = 0),
       |scored AS MATERIALIZED (
       |  SELECT q.qid, e.vec_id AS vid, ${cosSql("e.embedding", "q.qv")} AS c
       |  FROM embeddings e, queries q),
       |brute AS MATERIALIZED (
       |  SELECT qid, vid FROM (
       |    SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY c DESC, vid) AS rn
       |    FROM scored) WHERE rn <= $k),
       |cents AS MATERIALIZED (
       |  SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < $nCents),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, c_id FROM (
       |    SELECT e.vec_id, c.c_id, row_number() OVER (
       |      PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.cv")} DESC, c.c_id) AS rn
       |    FROM embeddings e, cents c) WHERE rn = 1),
       |qrank AS MATERIALIZED (
       |  SELECT qid, c_id, row_number() OVER (
       |    PARTITION BY qid ORDER BY ${cosSql("cv", "qv")} DESC, c_id) AS rn
       |  FROM cents, queries),
       |nqt AS (SELECT count(*) AS nq FROM queries),
       |sig AS MATERIALIZED (SELECT vec_id, $bits AS sig FROM embeddings),
       |$bandCtes,
       |$ivfCtes,
       |$lshCtesSql${if (pqCtes.nonEmpty) ",\n" + pqCtes else ""}${if (int8Ctes.nonEmpty) ",\n" + int8Ctes else ""}
       |$unions""".stripMargin
  }

  /** The LSH sig + bands CTEs with the SAME +-1 hyperplanes the engine
   *  bakes into its plan, inlined here as SQL literals — the oracle
   *  recomputes every signature bit independently. */
  private def lshCtes(nPlanes: Int, nBands: Int, dim: Int): String = {
    val rows = nPlanes / nBands
    val bits = (0 until nPlanes).map { p =>
      val w = graft.ops.Ann.hyperplane(p, dim).map(x => s"$x.0").mkString(", ")
      s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), [$w]) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    s"""sig AS (SELECT vec_id, $bits AS sig FROM embeddings),
       |bands AS (SELECT vec_id, bb.b AS band, substring(sig, bb.b*$rows + 1, $rows) AS bh
       |          FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${nBands - 1})) AS b) bb)""".stripMargin
  }

  /** Transitive closure of the k=3, threshold=0.2 n-gram-Jaccard pair list;
   *  `cl` = (doc_id, cluster_id = min reachable id) — DuckDB's recursive
   *  CTE as the small-scale oracle for the star-contraction result. */
  private def clustersCte: String =
    s"""WITH RECURSIVE sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(toks[CAST(i AS INT):CAST(i+2 AS INT)], ' ') AS shingle
       |  FROM (SELECT doc_id, toks, unnest(generate_series(1, CAST(len(toks)-2 AS BIGINT))) AS i
       |        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |              FROM documents)
       |        WHERE len(toks) >= 3)),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |pr AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT id_a, id_b, CAST(i AS DOUBLE)/(sa.sz + sb.sz - i) AS j
       |    FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b)
       |  WHERE j >= 0.2),
       |edges AS (SELECT id_a AS u, id_b AS v FROM pr UNION SELECT id_b, id_a FROM pr),
       |reach AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
       |cl AS (
       |  SELECT u AS doc_id, CAST(least(u, min(v)) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY u)""".stripMargin

  private def minhashLshOracle: String = {
    val sigs = (0 until 12).map(i => s"min(md5('$i:' || shingle)) AS h$i").mkString(", ")
    val bands = (0 until 4).map { b =>
      val parts = (0 until 3).map(r => s"h${b * 3 + r}").mkString(", '|', ")
      s"SELECT doc_id, $b AS band, concat($parts) AS bh FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(toks[CAST(i AS INT):CAST(i+2 AS INT)], ' ') AS shingle
       |  FROM (SELECT doc_id, toks, unnest(generate_series(1, CAST(len(toks)-2 AS BIGINT))) AS i
       |        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |              FROM documents)
       |        WHERE len(toks) >= 3)),
       |sig AS (SELECT doc_id, $sigs FROM sh GROUP BY doc_id),
       |bands AS ($bands)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id""".stripMargin
  }

  private def simhashOracle: String = {
    val bitSums = (0 until 32).map(j =>
      s"sum(CASE WHEN substr(h, ${j + 1}, 1) >= '8' THEN tf ELSE -tf END) AS b$j").mkString(", ")
    val bits = (0 until 32).map(j => s"CASE WHEN b$j > 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""WITH tok AS (
       |  SELECT doc_id, t AS token, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
       |    FROM documents) GROUP BY doc_id, t),
       |hs AS (SELECT doc_id, md5(token) AS h, tf FROM tok),
       |sums AS (SELECT doc_id, $bitSums FROM hs GROUP BY doc_id)
       |SELECT doc_id, $bits AS simhash FROM sums""".stripMargin
  }

  /** pigeonhole bands (parity with Dedup.simhashPairs at any `bits` width,
   *  maxHamming = 3): the signature splits into 4 slices; a pair within
   *  hamming 3 shares >= 1 exact band; verification = integer xor +
   *  bit_count on the 32-bit words */
  private def simhashPairsOracle(bits: Int): String = {
    val maxHamming = 3
    val nBands = maxHamming + 1
    val nW = bits / 32
    val bounds = graft.ops.Dedup.bandBounds(nBands, bits)
    // bit j: hex digit j/4 of md5, mask 8 >> j%4 (parity with
    // Dedup.simhashSignaturesWide)
    val bitSums = (0 until bits).map { j =>
      val c = j / 4 + 1
      val mask = 8 >> (j % 4)
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, $c, 1)) - 1) & $mask) <> 0 THEN tf ELSE -tf END) AS s$j"
    }.mkString(", ")
    val words = (0 until nW).map { w =>
      "(" + (w * 32 until w * 32 + 32).map(j =>
        s"CASE WHEN s$j > 0 THEN ${1L << (j - w * 32)} ELSE 0 END").mkString(" + ") +
        s") AS w$w"
    }.mkString(", ")
    def bandExpr(b: Int): String = {
      val loBit = bounds(b)
      (loBit until bounds(b + 1)).map { j =>
        s"CASE WHEN (w${j / 32} & ${1L << (j % 32)}) <> 0 THEN ${1L << (j - loBit)} ELSE 0 END"
      }.mkString(" + ")
    }
    val wList = (0 until nW).map(w => s"w$w").mkString(", ")
    val bandSel = (0 until nBands).map(b =>
      s"SELECT doc_id, $wList, $b AS band, (${bandExpr(b)}) AS bh FROM sig")
      .mkString(" UNION ALL ")
    val abWords = (0 until nW).map(w => s"a.w$w AS aw$w, b.w$w AS bw$w").mkString(", ")
    val hm = (0 until nW).map(w => s"bit_count(xor(aw$w, bw$w))").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, t AS token, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
       |    FROM documents) GROUP BY doc_id, t),
       |hs AS (SELECT doc_id, md5(token) AS h, tf FROM tok),
       |sums AS (SELECT doc_id, $bitSums FROM hs GROUP BY doc_id),
       |sig AS (SELECT doc_id, $words FROM sums),
       |bands AS ($bandSel),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, $abWords
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(hm AS BIGINT) AS hamming FROM (
       |  SELECT id_a, id_b, $hm AS hm FROM cand)
       |WHERE hm <= $maxHamming""".stripMargin
  }
}
