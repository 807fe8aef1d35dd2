package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.analysis.Analyzer
import graft.index.{Index, Segments}

/**
 * Incremental index build as a Structured Streaming job — the design slot
 * SURVEY.md §2.9 reserves: the reference's nearest analogue is batched async
 * ingest plus incremental segment publication + background merge
 * (reference: processor/InferenceProcessor.java:63-66 batching,
 * sparse/codec/SparsePostingsConsumer.java:184-197 per-segment flush).
 *
 * Each micro-batch becomes one committed segment through the batch path's
 * segment writer, so both paths share the exact same on-disk layout,
 * commit manifest and merge job. `Trigger.AvailableNow` drains the backlog and stops —
 * the "incremental build mode" of a recurring spark-submit; a continuous
 * trigger turns the same code into a live indexer. Exactly-once comes from
 * the streaming checkpoint (batch replay) + idempotent overwrite-mode segment
 * writes keyed by batchId.
 */
object StreamingIndex {

  /** Shared incremental-drain scaffolding for BOTH streaming builds
   *  (lexical segments here, clustered sparse parts in
   *  [[StreamingSparse]]): stream new parquet files from `corpusDir`
   *  (`maxFilesPerTrigger` files per micro-batch), run `sink` on each
   *  NON-EMPTY batch, `Trigger.AvailableNow` + a checkpoint under
   *  `storeDir/<checkpointName>`. Exactly-once is the checkpoint (batch
   *  replay) plus the sink's idempotent batchId-keyed overwrite writes —
   *  one recipe, one place to fix it. */
  private[streaming] def drainEachBatch(
      spark: SparkSession,
      corpusDir: String,
      schema: StructType,
      storeDir: String,
      checkpointName: String,
      maxFilesPerTrigger: Int
  )(sink: (DataFrame, Long) => Unit): StreamingQuery = {
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(corpusDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$storeDir/$checkpointName")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) sink(batch, batchId)
      }
      .start()
  }

  /** Start the incremental build over new parquet files in `corpusDir`.
   *  Segments land in `storeDir/seg<batchId>`. */
  def start(
      spark: SparkSession,
      corpusDir: String,
      schema: StructType,
      storeDir: String,
      idCol: String,
      textCol: String,
      analyzer: String = Analyzer.Simple,
      maxFilesPerTrigger: Int = 1
  ): StreamingQuery =
    drainEachBatch(spark, corpusDir, schema, storeDir, "_checkpoint",
      maxFilesPerTrigger) { (batch, batchId) =>
      val id = batchId.toInt
      // the batch's id range is not known up front: its digest records it
      Segments.writeSegment(batch, idCol, textCol, analyzer, storeDir, id, None,
        Segments.digests(batch, idCol, textCol, lit(id))(id))
    }

  /** Drain whatever is currently in `corpusDir` into segments and merge to a
   *  queryable Index (the batch-incremental entry point). */
  def buildAvailableNow(
      spark: SparkSession,
      corpusDir: String,
      storeDir: String,
      idCol: String,
      textCol: String,
      analyzer: String = Analyzer.Simple
  ): Index = {
    val schema = spark.read.parquet(corpusDir).schema
    val q = start(spark, corpusDir, schema, storeDir, idCol, textCol, analyzer)
    q.awaitTermination()
    Segments.mergeAll(spark, storeDir, analyzer)
  }
}
