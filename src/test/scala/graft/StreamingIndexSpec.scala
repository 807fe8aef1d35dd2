package graft

import org.apache.spark.sql.functions._
import graft.index.{InvertedIndex, Segments}
import graft.streaming.StreamingIndex

/** Incremental (Structured Streaming) build: micro-batches become committed
 *  segments; merged result must equal the single-shot batch build. */
class StreamingIndexSpec extends SparkSpec {

  test("streamed segments merge to the same index as the batch build") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpusDir = java.nio.file.Files.createTempDirectory("stream-corpus").toString
    // 3 files -> 3 micro-batches with maxFilesPerTrigger=1
    docs.repartitionByRange(3, col("doc_id")).write.mode("overwrite").parquet(corpusDir)

    val store = java.nio.file.Files.createTempDirectory("stream-store").toString
    val merged = StreamingIndex.buildAvailableNow(spark, corpusDir, store, "doc_id", "text")
    val full = InvertedIndex.build(docs, "doc_id", "text")

    assert(merged.stats == full.stats)
    val m = merged.termStats.collect().map(t => t.term -> (t.df, t.ttf)).toMap
    val f = full.termStats.collect().map(t => t.term -> (t.df, t.ttf)).toMap
    assert(m == f)

    // multiple segments were actually committed, each with lineage
    val segs = new java.io.File(store).listFiles().filter(_.getName.startsWith("seg"))
    assert(segs.length >= 2, s"expected multiple micro-batch segments, got ${segs.length}")

    // idempotent restart: checkpoint replays nothing, merge still works
    val merged2 = StreamingIndex.buildAvailableNow(spark, corpusDir, store, "doc_id", "text")
    assert(merged2.stats == full.stats)
  }

  test("incremental SEISMIC parts merge to the fresh artifact; later batch wins an update") {
    import graft.ops.{Seismic, Sparse}
    import graft.streaming.StreamingSparse
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpusDir = java.nio.file.Files.createTempDirectory("sparse-corpus").toString
    // batches 0-2: the corpus in 3 range files; batch 3: doc 7 REINDEXED
    // with changed text — commit order makes the update the winner
    docs.repartitionByRange(3, col("doc_id")).write.mode("overwrite").parquet(corpusDir)
    Thread.sleep(1100) // FileStreamSource orders by mtime; guarantee the
    // update file's timestamp strictly follows the base files even on a
    // second-resolution filesystem
    val upd = docs.where(col("doc_id") === 7)
      .withColumn("text", concat(col("text"), lit(" extra extra token")))
    upd.coalesce(1).write.mode("append").parquet(corpusDir)

    val store = java.nio.file.Files.createTempDirectory("sparse-store").toString
    def run() = StreamingSparse.buildAvailableNow(spark, corpusDir, store,
      "doc_id", "text", nPostings = Int.MaxValue, clusterRatio = 0.02,
      summaryPruneRatio = 1.0, maxClusters = 32, hashAssign = true)
    val merged = run()

    val lastWins = docs.where(col("doc_id") =!= 7).unionByName(upd)
    val fresh = Seismic.buildClusteredIndex(
      Sparse.encode(graft.index.InvertedIndex.build(lastWins, "doc_id", "text")),
      nPostings = Int.MaxValue, clusterRatio = 0.02,
      summaryPruneRatio = 1.0, maxClusters = 32, hashAssign = true)
    def norm(ds: org.apache.spark.sql.Dataset[graft.ops.ClusteredPosting]) =
      ds.collect().map(cp => (cp.term, cp.cluster_id) ->
        (cp.doc_ids.toSeq, cp.doc_ws.map(_.toSeq).toSeq,
          cp.sum_tokens.toSeq, cp.sum_ws.toSeq)).toMap
    val m = norm(merged)
    val f = norm(fresh)
    assert(m.keySet == f.keySet)
    f.foreach { case (k, v) => assert(m(k) == v, s"cluster $k differs") }
    // file-arrival order is not guaranteed to put the update LAST unless
    // it arrived after the drain started — assert the winner explicitly:
    // the updated doc's vector carries the new token
    val d7 = merged.filter(col("term") === "extra").collect()
    assert(d7.exists(_.doc_ids.contains(7L)), "updated doc 7 must carry the new token")
    // idempotent restart: checkpoint replays nothing, merge reproduces
    val m2 = norm(run())
    assert(m2 == m)
  }

  test("streaming dedup state is first-WINS across micro-batches, not min-id") {
    // the single-batch oracle (stream_dedup) cannot distinguish first-wins
    // from batch min(doc_id); two explicit micro-batches can: doc 3 arrives
    // AFTER doc 5 claimed the same content, so 5 stays the winner even
    // though 3 < 5.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup
      .firstWins(in.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.outputMode("update").format("memory")
      .queryName("sd_batches").start()
    in.addData((5L, "xx"), (7L, "yy"))
    q.processAllAvailable()
    in.addData((3L, "xx"), (8L, "yy"), (9L, "zz"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sd_batches")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set(
      (5L, 5L, false), (7L, 7L, false),          // batch 1: both are winners
      (3L, 5L, true), (8L, 7L, true), (9L, 9L, false))) // batch 2: state wins
  }

  test("mergeAll tolerates gaps in segment ids") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val store = java.nio.file.Files.createTempDirectory("gap-store").toString
    // commit segments with ids 0 and 2 (range-split by doc_id)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val mid = maxId / 2
    Segments.buildSegment(docs, "doc_id", "text", "simple", store, 0, 0, mid)
    Segments.buildSegment(docs, "doc_id", "text", "simple", store, 2, mid + 1, maxId)
    val merged = Segments.mergeAll(spark, store)
    val full = InvertedIndex.build(docs, "doc_id", "text")
    assert(merged.stats == full.stats)
  }

  test("staging a corpus evicts only its own older generations, never a " +
    "sibling corpus whose store key extends its own") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("stage-root").toString
    val stores = s"$root/stores"
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val Seq(sf1, backup) = Seq(s"$root/sf1", s"$root/sf1_backup")
    Seq(sf1, backup).foreach(d => docs.write.parquet(s"$d/documents.parquet"))
    // an older generation of sf1's store: the next staging must evict it
    val stale = new java.io.File(graft.index.BoundedCache.storePath(stores, sf1) + "_deadbeef")
    assert(stale.mkdirs())
    val a = CorpusEntries.stagedStreamStore(spark, sf1, stores)
    val b = CorpusEntries.stagedStreamStore(spark, backup, stores)
    assert(!stale.exists(), "an older generation of the same corpus must be evicted")
    // staging sf1 again must leave sf1_backup's live store alone
    assert(CorpusEntries.stagedStreamStore(spark, sf1, stores) == a)
    Seq(a, b).foreach { st =>
      assert(new java.io.File(s"$st/corpus/_SUCCESS").exists(), s"store $st was deleted")
      assert(spark.read.parquet(s"$st/corpus").count() == 2)
    }
  }

  test("deleting an older stream-store generation evicts the index built over it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream-gen").toString
    def generate(n: Int): Unit = (1 to n).map(i => (i.toLong, s"alpha beta w$i"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sc = spark.sparkContext
    generate(20)
    val before = sc.getPersistentRDDs.keySet
    // generation A: staged, streamed and held as a session entry
    CorpusEntries.queries("stream_index_term_stats")(spark, dir).collect()
    val genA = sc.getPersistentRDDs.keySet -- before
    assert(genA.nonEmpty, "the stream entry persists its index tables")
    // the corpus is regenerated: staging generation B deletes A's store
    generate(30)
    val storeB = CorpusEntries.stagedStreamStore(spark, dir, "target/streamstore/v3")
    try assert((sc.getPersistentRDDs.keySet intersect genA).isEmpty,
      "an entry over a deleted store must not stay persisted")
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(storeB))
  }

  test("corpusIdent is the SHA-256 of the documents listing: names, lengths and mtimes") {
    def corpus(files: (String, String, Long)*): String = {
      val dir = java.nio.file.Files.createTempDirectory("ident").toString
      val docs = new java.io.File(s"$dir/documents.parquet")
      assert(docs.mkdirs())
      files.foreach { case (name, body, mtime) =>
        val f = new java.io.File(docs, name)
        java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
        assert(f.setLastModified(mtime))
      }
      CorpusEntries.corpusIdent(dir)
    }
    val base = corpus(("a.parquet", "xxxx", 1000000L), ("b.parquet", "yy", 2000000L))
    assert(base.matches("[0-9a-f]{64}"), base)
    assert(corpus(("b.parquet", "zz", 2000000L), ("a.parquet", "wwww", 1000000L)) == base,
      "equal listings (same names, lengths, mtimes) give equal digests")
    assert(corpus(("a.parquet", "xxxxx", 1000000L), ("b.parquet", "yy", 2000000L)) != base,
      "one file's length changed")
    assert(corpus(("a.parquet", "xxxx", 1000000L), ("b.parquet", "yy", 3000000L)) != base,
      "one file's mtime changed")
  }
}
