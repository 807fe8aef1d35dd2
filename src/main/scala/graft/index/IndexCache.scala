package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.analysis.Analyzer

/**
 * Session-lifetime indexes and index-time artifacts over a corpus dir — the
 * analogue of the reference's warmed posting cache
 * (reference: transport/NeuralSparseWarmupTransportAction.java; sparse cache pkg),
 * realized as Spark `persist()` entries of the session registry
 * ([[BoundedCache.session]]: LRU recency, byte accounting against a limit,
 * breaker-refused admissions reading through). A corpus index is built
 * with positions, as Lucene indexes a `text` field by default: its posting
 * blocks carry them, and the positional table is a view of those blocks,
 * not a second build or a second entry.
 */
object IndexCache {

  /** The one Index registry entry, laid out on `bucket`
   *  ([[InvertedIndex.bucketLaid]]) so no per-bucket kernel over it
   *  shuffles. `Left(blocks)`: a merged positional block table (the one
   *  analyze + fragment shuffle) — it and the term stats are persisted, and
   *  postings, doc lengths and positions are views of it, so no byte is
   *  held twice. `Right(idx)`:
   *  an index read back from a committed store, its three tables persisted.
   *  Admission materializes every Dataset the entry holds and loads the
   *  driver term dictionary, charging both; eviction unpersists them. */
  private[graft] def cachedIndex(spark: SparkSession, kind: String, dir: String,
                                 params: String = "")(
      source: => Either[(Dataset[BuildBlock], String), Index]): Index =
    BoundedCache.artifact(spark, kind, dir, params) {
      val (idx, held) = source match {
        case Left((merged, analyzer)) =>
          val blocks = InvertedIndex.bucketLaid(merged, "kind", "term").persist()
          val postings = InvertedIndex.postingsFromBlocks(blocks)
          val docLens = InvertedIndex.docLensFromBlocks(blocks)
          val termStats = InvertedIndex.termStatsOf(postings).persist()
          val idx = Index(postings, docLens, termStats, InvertedIndex.statsOf(docLens), analyzer)
          idx.positions = InvertedIndex.positionsFromBlocks(blocks)
          (idx, Seq(blocks, termStats))
        case Right(i) =>
          val idx = Index(InvertedIndex.bucketLaid(i.postings, "term").persist(),
            InvertedIndex.bucketLaid(i.docLens).persist(), i.termStats.persist(), i.stats, i.analyzer)
          (idx, Seq(idx.postings, idx.docLens, idx.termStats))
      }
      idx.loadDictionary()
      (idx, held)
    }

  private def blocksOf(docs: DataFrame, column: String, analyzer: String) =
    Left((InvertedIndex.mergedBlocksOf(docs, "doc_id", column, analyzer, positions = true), analyzer))

  /** Positional blocks over `documents.parquet` (the `.pos` analogue): a
   *  view of [[documents]]' resident blocks, so laid out on `bucket` like
   *  them. */
  def positions(spark: SparkSession, sfDir: String,
                analyzer: String = Analyzer.Simple): Dataset[PosBlock] =
    documents(spark, sfDir, analyzer).positions

  /** Positional blocks over a NON-text corpus column: a view of
   *  [[corpusField]]'s blocks — multi_match type=phrase verifies per-field
   *  adjacency against these. */
  def corpusFieldPositions(spark: SparkSession, sfDir: String, column: String,
                           analyzer: String = Analyzer.Simple): Dataset[PosBlock] =
    corpusField(spark, sfDir, column, analyzer).positions

  /** Session-cached semantic chunk sub-field tables. These are INDEX-time
   *  artifacts — the reference's semantic field mapper generates the chunk
   *  embeddings at ingest and stores them in the index; a query must never
   *  re-encode the corpus. Entries/benches that measure the ingest itself
   *  call the builders directly. */
  def semanticDense(spark: SparkSession, sfDir: String,
                    tokenLimit: Int = 20): DataFrame =
    BoundedCache.dataset(spark, "semantic-dense", sfDir, s"$tokenLimit") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.ops.Semantic.ingestDense(docs, "doc_id", "text", tokenLimit)
    }

  /** Chunk-vector IVF artifact for the PROBE-ROUTED dense semantic path
   *  ([[graft.ops.Semantic.denseChunkIvf]]) — built once per (session,
   *  sfDir) like every index-time structure; queries only read probed
   *  `c_id` partitions off it. */
  def semanticDenseIvf(spark: SparkSession, sfDir: String, tokenLimit: Int = 20,
                       dims: Int = 8, nCentroids: Int = 16): (DataFrame, DataFrame) =
    BoundedCache.artifact(spark, "semantic-dense-ivf", sfDir,
        s"$tokenLimit/$dims/$nCentroids") {
      val path = s"${BoundedCache.storePath("target/semivf", sfDir)}_$dims"
      (graft.ops.Semantic.denseChunkIvf(
        semanticDense(spark, sfDir, tokenLimit), "doc_id", dims, nCentroids, path), Nil)
    }

  def semanticSparse(spark: SparkSession, sfDir: String,
                     tokenLimit: Int = 20): DataFrame =
    BoundedCache.dataset(spark, "semantic-sparse", sfDir, s"$tokenLimit") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.ops.Semantic.ingestSparse(docs, "doc_id", "text", tokenLimit)
    }

  /** Index over a NON-text column of the north-rule corpus projection
   *  ([[graft.corpus.Corpus.ingest]]) — e.g. `path` for multi_match
   *  queries. Each field is its own full index (postings with positions,
   *  doc lengths, collection stats), exactly Lucene's per-field inverted
   *  index, built and warmed like the primary index. */
  def corpusField(spark: SparkSession, sfDir: String, column: String,
                  analyzer: String = Analyzer.Simple): Index =
    cachedIndex(spark, "field-index", sfDir, s"$column/$analyzer")(
      blocksOf(graft.corpus.Corpus.ingest(spark, sfDir), column, analyzer))

  /** Index over the derived `title` field of the documents corpus — the
   *  first 5 whitespace tokens of `text`. A short sibling field whose
   *  vocabulary is a SUBSET of text's, so a combined_fields query over
   *  (text, title) genuinely merges per-field term frequencies before
   *  saturation (the property disjoint-vocabulary fields like `path`
   *  cannot exercise). Built and warmed like any per-field index. */
  def documentsTitle(spark: SparkSession, sfDir: String): Index = {
    import org.apache.spark.sql.functions.{col, concat_ws, slice, split}
    cachedIndex(spark, "title-index", sfDir, Analyzer.Simple)(blocksOf(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), concat_ws(" ", slice(split(col("text"), " "), 1, 5)).as("title")),
      "title", Analyzer.Simple))
  }

  /** Index over `documents.parquet` in sfDir (doc_id, text). */
  def documents(spark: SparkSession, sfDir: String, analyzer: String = Analyzer.Simple): Index =
    cachedIndex(spark, "index", sfDir, analyzer)(
      blocksOf(spark.read.parquet(s"$sfDir/documents.parquet"), "text", analyzer))
}
