package graft

import org.apache.spark.sql.functions._
import graft.analysis.Analyzer
import graft.corpus.Corpus
import graft.index.{InvertedIndex, PostingCodec, Segments, StoreManifest, TermStat}
import graft.query.Bm25

/** Segmented build + merge + lineage/resume semantics (north rule: merge
 *  stage unions per-partition segments into global postings; killed runs
 *  resume from committed lineage without recomputation). */
class SegmentsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")

  /** 23 jobs measured at local[4] with 4 shuffle partitions; the headroom
   *  covers the fallback scans of build observations that arrive late. */
  private val SegmentedJobBudget = 31

  private def decodedPostings(idx: graft.index.Index): Map[(String, Long, Int), Int] =
    idx.postings.collect().flatMap { b =>
      val base = b.bucket << InvertedIndex.BucketBits
      val ids = PostingCodec.decodeDeltas(b.docs, b.cnt)
      val tfs = PostingCodec.decodeInts(b.tfs, b.cnt)
      ids.indices.map(i => ((b.term, b.bucket, (base + ids(i)).toInt), tfs(i)))
    }.toMap

  private def freshStore(): String = {
    val d = java.nio.file.Files.createTempDirectory("segspec").toString
    d
  }

  private def statsMap(ts: org.apache.spark.sql.Dataset[TermStat]): Map[String, (Long, Long)] =
    ts.collect().map(t => t.term -> (t.df, t.ttf)).toMap

  /** Merged term stats (sums of the segments' term stats) against term
   *  stats aggregated from the merged postings. */
  private def assertTermStatsFromPostings(merged: graft.index.Index): Unit = {
    val got = statsMap(merged.termStats)
    assert(got.nonEmpty)
    assert(got == statsMap(InvertedIndex.termStatsOf(merged.postings)))
  }

  test("merge of 3 segments is identical to the single-shot build") {
    val store = freshStore()
    val built = Segments.buildResumable(docs, "doc_id", "text", Analyzer.Simple, store, 3)
    assert(built == Seq(0, 1, 2))
    val merged = Segments.merge(spark, store, 3)
    val full = InvertedIndex.build(docs, "doc_id", "text")

    assert(merged.stats == full.stats)
    assert(decodedPostings(merged) == decodedPostings(full))
    val mStats = merged.termStats.collect().map(t => t.term -> (t.df, t.ttf)).toMap
    val fStats = full.termStats.collect().map(t => t.term -> (t.df, t.ttf)).toMap
    assert(mStats == fStats)
    assertTermStatsFromPostings(Segments.mergeAll(spark, store))
  }

  test("BM25 top-k over merged segments matches the single-shot index") {
    val store = freshStore()
    Segments.buildResumable(docs, "doc_id", "text", Analyzer.Simple, store, 4)
    val merged = Segments.merge(spark, store, 4)
    val full = InvertedIndex.build(docs, "doc_id", "text")
    val qm = Bm25.topK(merged, Seq("merge", "sort"), 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val qf = Bm25.topK(full, Seq("merge", "sort"), 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(qm.toSeq == qf.toSeq)
  }

  test("resume rebuilds only missing segments; lineage sha invariants hold") {
    val store = freshStore()
    val first = Segments.buildResumable(docs, "doc_id", "text", Analyzer.Simple, store, 4)
    assert(first == Seq(0, 1, 2, 3))

    // simulate a killed run: segment 2's manifest (the commit marker) is gone
    assert(new java.io.File(s"$store/seg2/${StoreManifest.FileName}").delete())
    val resumed = Segments.buildResumable(docs, "doc_id", "text", Analyzer.Simple, store, 4)
    assert(resumed == Seq(2), s"resume must rebuild exactly the uncommitted segment, got $resumed")

    // completed run resumes to a no-op
    val again = Segments.buildResumable(docs, "doc_id", "text", Analyzer.Simple, store, 4)
    assert(again.isEmpty)

    // lineage row ranges partition [0, maxId] and sha invariants match corpus
    val lin = Segments.readLineage(spark, store, 4).values.toSeq.sortBy(_.segment_id)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    assert(lin.head.row_lo == 0 && lin.last.row_hi == maxId)
    assert(lin.sliding(2).forall { case Seq(a, b) => b.row_lo == a.row_hi + 1; case _ => true })
    assert(lin.map(_.doc_count).sum == docs.count())

    val corpus = Corpus.ingest(spark, dir)
    val shaAll = corpus.agg(min(col("sha256")), max(col("sha256"))).head()
    assert(lin.map(_.sha_min).min == shaAll.getString(0))
    assert(lin.map(_.sha_max).max == shaAll.getString(1))
  }

  test("snapshot/restore: incremental skip, idempotent restore, corrupt-repo detection") {
    import graft.index.Segments.SnapshotAction
    val store = freshStore()
    Segments.buildResumable(docs, "doc_id", "text", Analyzer.Simple, store, 3)
    val repo = freshStore(); val dst = freshStore()
    // first snapshot copies all; second skips all (segments immutable)
    assert(Segments.snapshot(spark, store, repo, "s1", 3)
      .map(_.action).forall(_ == "copied"))
    assert(Segments.snapshot(spark, store, repo, "s1", 3)
      .map(_.action).forall(_ == "skipped"))
    // restore copies all; second restore finds them present; lineage equal
    assert(Segments.restore(spark, repo, "s1", dst)
      .map(_.action).forall(_ == "restored"))
    assert(Segments.restore(spark, repo, "s1", dst)
      .map(_.action).forall(_ == "present"))
    assert(Segments.readLineage(spark, dst, 3) ==
      Segments.readLineage(spark, store, 3))
    // a corrupt repository segment fails restore verification LOUDLY:
    // overwrite seg1's lineage in the repo with a tampered row
    val m = StoreManifest.read(spark, s"$repo/s1/seg1").get
    val lin = m.lineage.head
    StoreManifest.write(spark, s"$repo/s1/seg1",
      m.copy(lineage = Seq(lin.copy(sha_distinct = lin.sha_distinct + 1))))
    val dst2 = freshStore()
    intercept[IllegalArgumentException] {
      Segments.restore(spark, repo, "s1", dst2)
    }
  }

  test("synthetic corpus generator is deterministic and parallelism-invariant") {
    val a = Corpus.generate(spark, 200).orderBy("doc_id").collect()
    val b = Corpus.generate(spark, 200).repartition(7).orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
    val row = a(5)
    assert(row.getString(6).length == 64) // sha256 hex
    assert(row.getString(4).nonEmpty)
    // head-term skew present: 'import' must dominate a rare symbol
    val toks = a.flatMap(r => r.getString(5).split(' '))
    val counts = toks.groupBy(identity).view.mapValues(_.length)
    assert(counts.getOrElse("import", 0) > 20 * counts.getOrElse("sym17", 1).max(1) / 10)
  }

  test("tieredMergePlan: log-size tiers; a >=3-member tier merges its 3 " +
    "smallest, big/lonely tiers stay untouched") {
    import graft.index.{SegmentLineage, Segments}
    def lin(id: Int, dc: Long) = SegmentLineage(id, 0, 0, dc, 0, "", "", 0)
    val plan = Segments.tieredMergePlan(Seq(
      lin(0, 300), lin(1, 10), lin(2, 12), lin(3, 14), lin(4, 15),
      lin(5, 310), lin(6, 1000000)))
    val m = plan.map(p => p._1 -> p._4).toMap
    // tier floor(ln dc / ln 4): {10,12,14,15} -> tier 1 (4 members),
    // {300,310} -> tier 4 (2 members), {1e6} -> tier 9 (alone)
    assert(m(1).contains(1) && m(2).contains(1) && m(3).contains(1))
    assert(m(4).isEmpty, "4th (largest) member of the tier is left out")
    assert(m(0).isEmpty && m(5).isEmpty, "2-member tier below segments_per_tier")
    assert(m(6).isEmpty, "lone large segment never merges")
    // equal sizes tie-break on segment_id
    val tie = Segments.tieredMergePlan(
      Seq(lin(0, 10), lin(1, 10), lin(2, 10), lin(3, 10)))
    assert(tie.map(p => p._1 -> p._4).toMap ==
      Map(0 -> Some(1), 1 -> Some(1), 2 -> Some(1), 3 -> None))
    intercept[IllegalArgumentException](
      Segments.tieredMergePlan(Seq(lin(0, 10)), segmentsPerTier = 1))
  }

  test("tieredCompact executes the plan: merged store equals fresh build, " +
    "actions match the selection, lineage re-verifies") {
    val store = freshStore(); val dst = freshStore() + "/compacted"
    Segments.buildResumable(docs, "doc_id", "text", Analyzer.Simple, store, 4)
    val plan = Segments.tieredMergePlan(
      Segments.readLineage(spark, store, 4).values.toSeq.sortBy(_.segment_id))
    assert(plan.count(_._4.isDefined) == 3,
      "4 near-equal range slices share a tier -> exactly 3 smallest selected")

    val actions = Segments.tieredCompact(docs, "doc_id", "text", store, dst, 4)
    val byId = actions.filter(_.action != "written").map(a => a.segment_id -> a).toMap
    plan.foreach { case (id, _, _, g) =>
      assert(byId(id).action == (if (g.isDefined) "merged" else "copied")) }
    val written = actions.filter(_.action == "written")
    assert(written.map(_.segment_id) == Seq(4), "one fresh segment with the next free id")
    assert(actions.filter(_.action == "merged").forall(_.target == 4))

    // compacted store answers exactly like the single-shot build
    val compacted = Segments.mergeAll(spark, dst)
    val full = InvertedIndex.build(docs, "doc_id", "text")
    assert(compacted.stats == full.stats)
    assert(decodedPostings(compacted) == decodedPostings(full))
    val qm = Bm25.topK(compacted, Seq("merge", "sort"), 10).collect().toSeq
    val qf = Bm25.topK(full, Seq("merge", "sort"), 10).collect().toSeq
    assert(qm == qf)

    // the fresh segment's lineage carries real content checksums: union of
    // member doc ranges, re-derived counts, recomputed sha min/max
    val lin = Segments.readLineage(spark, dst, 8)
    assert(lin.keySet == Set(3, 4) || lin.keySet.size == 2)
    val merged = lin(4)
    val members = Segments.readLineage(spark, store, 4).filter(kv => plan
      .find(_._1 == kv._1).get._4.isDefined).values.toSeq
    assert(merged.doc_count == members.map(_.doc_count).sum)
    assert(merged.sum_dl == members.map(_.sum_dl).sum)
    assert(merged.sha_min == members.map(_.sha_min).min)
    assert(merged.sha_max == members.map(_.sha_max).max)
    // and the compacted store snapshots/restores like any built store
    val repo = freshStore(); val back = freshStore() + "/restored"
    assert(Segments.snapshot(spark, dst, repo, "c1", 8).map(_.action).forall(_ == "copied"))
    assert(Segments.restore(spark, repo, "c1", back).map(_.action).forall(_ == "restored"))
  }

  test("segment metrics count the rows of the tables each segment wrote") {
    val store = freshStore(); val dst = freshStore() + "/compacted"
    Segments.buildResumable(docs, "doc_id", "text", Analyzer.Simple, store, 3)
    // the 3 near-equal segments share a tier and compact into segment 3
    Segments.tieredCompact(docs, "doc_id", "text", store, dst, 3)
    for ((st, ids) <- Seq(store -> Seq(0, 1, 2), dst -> Seq(3))) {
      val metrics = Segments.readMetrics(spark, st, 4)
      assert(metrics.map(_.segment_id).distinct == ids)
      for (id <- ids) {
        val seg = s"$st/seg$id"
        val idx = InvertedIndex.read(spark, seg)
        val want = Map(
          "postings" -> idx.postings.count(),
          "doclens" -> idx.docLens.count(),
          "termstats" -> spark.read.parquet(s"$seg/termstats").count())
        val mine = metrics.filter(_.segment_id == id)
        assert(mine.map(m => m.stage -> m.rows).toMap == want)
        // postings and doc lengths are written by one job, term stats by another
        val ms = mine.map(m => m.stage -> m.wall_ms).toMap
        assert(ms("postings") == ms("doclens") && ms.values.forall(_ >= 0))
      }
    }
  }

  test("a torn commit (tables written, manifest only as its temp file) is " +
    "skipped by mergeAll and rebuilt by buildResumable") {
    val store = freshStore()
    Segments.buildResumable(docs, "doc_id", "text", Analyzer.Simple, store, 4)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val seg2 = new org.apache.hadoop.fs.Path(s"$store/seg2")
    assert(fs.rename(new org.apache.hadoop.fs.Path(seg2, StoreManifest.FileName),
      new org.apache.hadoop.fs.Path(seg2, StoreManifest.TempName)))
    assert(new java.io.File(s"$store/seg2/blocks").isDirectory)
    val committed = Segments.readLineage(spark, store, 4)
    assert(committed.keySet == Set(0, 1, 3))
    val partial = Segments.mergeAll(spark, store)
    assert(partial.stats.doc_count == committed.values.map(_.doc_count).sum)
    assert(partial.docLens.collect().map(_.cnt.toLong).sum == partial.stats.doc_count,
      "the merged doc lengths hold the committed segments' docs only")

    assert(Segments.buildResumable(docs, "doc_id", "text", Analyzer.Simple, store, 4) == Seq(2))
    assert(new java.io.File(s"$store/seg2/${StoreManifest.FileName}").exists())
    assert(!new java.io.File(s"$store/seg2/${StoreManifest.TempName}").exists())
    val merged = Segments.mergeAll(spark, store)
    assert(merged.stats == InvertedIndex.build(docs, "doc_id", "text").stats)
  }

  test("merged term stats are the sums of the segments' term stats") {
    // a store with a gap in its segment ids
    val gap = freshStore()
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    Segments.buildSegment(docs, "doc_id", "text", "simple", gap, 0, 0, maxId / 2)
    Segments.buildSegment(docs, "doc_id", "text", "simple", gap, 2, maxId / 2 + 1, maxId)
    val merged = Segments.mergeAll(spark, gap)
    assert(statsMap(merged.termStats) ==
      statsMap(InvertedIndex.build(docs, "doc_id", "text").termStats))
    assertTermStatsFromPostings(merged)
    // a store holding a tiered-compaction output segment
    val store = freshStore(); val dst = freshStore() + "/compacted"
    Segments.buildResumable(docs, "doc_id", "text", Analyzer.Simple, store, 4)
    Segments.tieredCompact(docs, "doc_id", "text", store, dst, 4)
    assertTermStatsFromPostings(Segments.mergeAll(spark, dst))
  }

  test("batched lineage digests equal a per-slice recomputation") {
    import spark.implicits._
    // ids outside [0, maxId] (negative, null) belong to no segment; with
    // 5 segments of span 3 over [0, 12], segments 1 and 3 are empty and
    // the last one, [12, 12], is short
    val small = Seq[(Option[Long], String)](
      (Some(-2L), "import os"), (Some(-1L), "def f return"), (None, "class c"),
      (Some(0L), "import os"), (Some(1L), "import os"), (Some(2L), "def g return x"),
      (Some(7L), "def f return"), (Some(8L), "import sys"), (Some(12L), "x = 1"))
      .toDF("doc_id", "text")
    val store = freshStore()
    assert(Segments.buildResumable(small, "doc_id", "text", Analyzer.Simple, store, 5) ==
      (0 until 5))
    val lin = Segments.readLineage(spark, store, 5)
    assert(lin.keySet == (0 until 5).toSet)
    assert(lin(4).row_lo == 12 && lin(4).row_hi == 12)
    lin.values.foreach { l =>
      val slice = small.filter(col("doc_id").between(l.row_lo, l.row_hi))
      val want = slice.select(sha2(col("text"), 256).as("sha"))
        .agg(min("sha"), max("sha"), countDistinct("sha"), count(lit(1)))
        .as[(String, String, Long, Long)].head()
      assert((l.sha_min, l.sha_max, l.sha_distinct, l.doc_count) == want,
        s"segment ${l.segment_id}")
    }
    assert(lin(1).sha_distinct == 0 && lin(3).sha_distinct == 0)
    assert(lin(0).sha_distinct == 2 && lin(0).doc_count == 3)
    val merged = Segments.mergeAll(spark, store)
    assert(merged.stats == InvertedIndex.build(
      small.filter(col("doc_id").between(0L, 12L)), "doc_id", "text").stats)
  }

  test("buildResumable over no documents builds nothing") {
    val store = freshStore()
    assert(Segments.buildResumable(docs.limit(0), "doc_id", "text", Analyzer.Simple, store, 3) == Nil)
    assert(new java.io.File(store).list().isEmpty)
  }

  test("Spark job budget: segmented build + merge, and an index read") {
    val store = freshStore()
    val (_, jobs) = jobsOf {
      Segments.buildResumable(docs, "doc_id", "text", Analyzer.Simple, store, 4)
      Segments.mergeAll(spark, store).termStats.collect()
    }
    info(s"4-segment buildResumable + mergeAll + termStats.collect(): $jobs jobs")
    assert(jobs <= SegmentedJobBudget, s"$jobs jobs")
    val (idx, readJobs) = jobsOf(InvertedIndex.read(spark, s"$store/seg0"))
    assert(readJobs == 0, s"$readJobs jobs")
    assert(idx.stats.doc_count > 0)
  }
}
