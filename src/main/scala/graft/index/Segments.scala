package graft.index

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer

/** Per-stage build metrics committed with each segment (north rule:
 *  "resumable from checkpoint with per-partition lineage + metrics"):
 *  `rows` of the stage's table and `wall_ms` of the write that produced it,
 *  both taken from that write job (postings and doc lengths share the
 *  blocks write). */
case class SegmentMetric(segment_id: Int, stage: String, rows: Long, wall_ms: Long)

/**
 * Per-segment lineage row — the checkpoint unit of the build
 * (BASELINE.json north rule: "checkpoints per-partition lineage (segment id,
 * row ranges, content sha256) so a killed spark-submit run resumes without
 * recomputation").
 *
 * `sha_min` / `sha_max` / `sha_distinct` summarize the per-row
 * `sha256(content)` invariants of the segment's doc range deterministically
 * and order-independently (a sorted-concat digest would not scale to 10^12
 * rows; min/max/count-distinct are single-pass partial aggregates).
 */
case class SegmentLineage(
    segment_id: Int,
    row_lo: Long,
    row_hi: Long,
    doc_count: Long,
    sum_dl: Long,
    sha_min: String,
    sha_max: String,
    sha_distinct: Long
)

/**
 * Segmented index build + merge — the Spark re-expression of the reference's
 * Lucene segment lifecycle: per-segment flush writes term dict + postings
 * (reference: sparse/codec/SparsePostingsConsumer.java:87-153), a merge stage
 * unions term sets across segments, remaps doc ids and rewrites one merged
 * segment (reference: sparse/codec/MergeHelper.java:82-179,
 * SparsePostingsReader.java:45-139).
 *
 * Spark-first differences:
 *  - a "segment" is a doc-id range slice of the corpus written as its own
 *    index store dir (block table, term stats and a [[StoreManifest]]
 *    holding its stats, metrics and lineage) by the same writer a
 *    single-shot build uses — at cluster scale each spark-submit increment
 *    appends one segment, exactly the reference's flush;
 *  - doc ids are globally dense, so merge needs NO docId remap (the
 *    reference's `mergeState.docMaps` exists only because Lucene renumbers);
 *    merging = union of the segments' block tables + the build's own
 *    (kind, term, bucket) fragment merge, which re-encodes only the
 *    boundary buckets two segments share;
 *  - merged term stats are the per-term sums of the segments' own `termstats`
 *    tables: segments hold disjoint doc ranges, so df and ttf add up and the
 *    merge never re-aggregates the merged postings;
 *  - resume: a segment is committed iff its manifest parses AND its lineage
 *    matches the recomputed range; `buildResumable` skips committed segments,
 *    so a killed run redoes only the in-flight slice.
 */
object Segments {

  /** Doc-id span per segment for an n-way segmentation of [0, maxId]. */
  def span(maxId: Long, nSegments: Int): Long =
    (maxId + nSegments) / nSegments // ceil((maxId+1)/n)

  private def segDir(dir: String, id: Int) = s"$dir/seg$id"

  /** The lineage committed in the manifest of the store at `dir`. Commit
   *  discovery goes through the SAME filesystem layer the segment writes use
   *  (Spark's Hadoop FS), so it works on HDFS/S3/local alike. */
  private def lineageAt(spark: SparkSession, dir: String): Option[SegmentLineage] =
    StoreManifest.read(spark, dir).flatMap(_.lineage.headOption)

  /** Content checksums of one segment's rows and the doc ids they span:
   *  the lineage row's sha columns, plus the bounds a segment with unknown
   *  range (a streamed micro-batch) records as its row range. */
  private[graft] case class Digest(id_min: Long, id_max: Long,
                                   sha_min: String, sha_max: String, sha_distinct: Long)

  /** The digest of a segment with no rows. */
  private val EmptyDigest = Digest(0L, 0L, null, null, 0L)

  /** Digests of many segments in ONE grouped aggregate: every row of `docs`
   *  belongs to the segment `seg` names. A segment with no rows gets no
   *  entry. */
  private[graft] def digests(docs: DataFrame, idCol: String, textCol: String,
                             seg: Column): Map[Int, Digest] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(seg.cast("int").as("seg"), col(idCol).cast("long").as("id"),
        sha2(col(textCol), 256).as("sha"))
      .groupBy($"seg")
      .agg(min($"id"), max($"id"), min($"sha"), max($"sha"), countDistinct($"sha"))
      .as[(Int, Long, Long, String, String, Long)].collect()
      .map { case (s, lo, hi, mn, mx, nd) => s -> Digest(lo, hi, mn, mx, nd) }.toMap
  }

  /** Build ONE segment (docs with doc_id in [lo, hi]) and commit it with its
   *  lineage row. Idempotent: overwrite-mode writes + a manifest written
   *  last make the commit atomic at the segment granularity. */
  def buildSegment(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      analyzer: String,
      dir: String,
      id: Int,
      lo: Long,
      hi: Long
  ): SegmentLineage = {
    val slice = docs.filter(inSlice(col(idCol), lo, hi))
    writeSegment(slice, idCol, textCol, analyzer, dir, id, Some((lo, hi)),
      digests(slice, idCol, textCol, lit(id)).getOrElse(id, EmptyDigest))
  }

  /** The slice filter of segment [lo, hi]. */
  private def inSlice(id: Column, lo: Long, hi: Long): Column = id >= lo && id <= hi

  /** Build and commit segment `id` of `slice`. Its content digest is
   *  awaited only after the segment's tables are written; a segment whose
   *  range is not known up front (a streamed micro-batch) records the id
   *  bounds of its digest. */
  private[graft] def writeSegment(slice: DataFrame, idCol: String, textCol: String,
                                  analyzer: String, dir: String, id: Int,
                                  range: Option[(Long, Long)], digest: => Digest): SegmentLineage =
    commit(InvertedIndex.mergedBlocksOf(slice, idCol, textCol, analyzer), segDir(dir, id), id,
      analyzer) { st =>
      val d = digest
      val (lo, hi) = range.getOrElse((d.id_min, d.id_max))
      SegmentLineage(id, lo, hi, st.doc_count, st.sum_dl, d.sha_min, d.sha_max, d.sha_distinct)
    }

  /** Write `blocks` as segment `id` at `dir` and commit it with the
   *  writer's metrics and the lineage `lineage` makes from its stats. */
  private def commit(blocks: Dataset[BuildBlock], dir: String, id: Int, analyzer: String)(
      lineage: CorpusStats => SegmentLineage): SegmentLineage =
    InvertedIndex.writeStore(blocks, dir, analyzer) { (st, rep) =>
      StoreManifest(st, Seq(
        SegmentMetric(id, "postings", rep.postings, rep.blocksMs),
        SegmentMetric(id, "doclens", rep.docLens, rep.blocksMs),
        SegmentMetric(id, "termstats", rep.termStats, rep.termStatsMs)), Seq(lineage(st)))
    }._2.lineage.head

  /** One segment's snapshot outcome: `copied` on first capture,
   *  `skipped` when the repository already holds this lineage (the
   *  incremental contract). */
  case class SnapshotAction(segment_id: Int, action: String)

  /** Snapshot the committed segments of `srcDir` into
   *  `repoDir/<name>` — the reference's repository snapshot, which is
   *  INCREMENTAL at segment granularity: Lucene segments are immutable, so
   *  a segment whose lineage row (content checksums included) already sits
   *  in the repository is skipped, and only new/changed segments copy. A
   *  [[StoreManifest]] listing the lineage rows is written last, making the snapshot
   *  atomic-by-manifest: a reader only trusts segments the manifest names.
   *  Per-segment file copies are driver-side FileSystem ops over the
   *  segment DIRECTORY (metadata-scale, one per segment — never row
   *  data through the driver). */
  def snapshot(spark: SparkSession, srcDir: String, repoDir: String,
               name: String, nSegments: Int): Seq[SnapshotAction] = {
    val lineage = readLineage(spark, srcDir, nSegments)
    require(lineage.nonEmpty, s"nothing committed under $srcDir to snapshot")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(repoDir)
      .getFileSystem(conf)
    val actions = lineage.toSeq.sortBy(_._1).map { case (id, lin) =>
      val dst = new org.apache.hadoop.fs.Path(s"$repoDir/$name/seg$id")
      if (lineageAt(spark, s"$repoDir/$name/seg$id").contains(lin)) SnapshotAction(id, "skipped")
      else {
        fs.delete(dst, true)
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(segDir(srcDir, id)),
          fs, dst, false, conf)
        SnapshotAction(id, "copied")
      }
    }
    // manifest written LAST: the snapshot exists only once it does
    val rows = lineage.values.toSeq.sortBy(_.segment_id)
    StoreManifest.write(spark, s"$repoDir/$name", StoreManifest(statsOf(rows), Nil, rows))
    actions
  }

  /** Restore snapshot `name` from the repository into `dstDir`: copy back
   *  only segments missing or lineage-mismatched at the target (the same
   *  incremental rule in reverse), then VERIFY every restored segment's
   *  lineage row against the manifest — a corrupt or partial copy fails
   *  loudly instead of serving wrong postings. Returns the per-segment
   *  (segment_id, action) with action `restored` or `present`. */
  def restore(spark: SparkSession, repoDir: String, name: String,
              dstDir: String): Seq[SnapshotAction] = {
    val manifest = StoreManifest.read(spark, s"$repoDir/$name")
      .getOrElse(throw new IllegalArgumentException(s"no snapshot [$name] in $repoDir")).lineage
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dstDir).getFileSystem(conf)
    val actions = manifest.map { lin =>
      val id = lin.segment_id
      if (lineageAt(spark, segDir(dstDir, id)).contains(lin)) SnapshotAction(id, "present")
      else {
        val dst = new org.apache.hadoop.fs.Path(segDir(dstDir, id))
        fs.delete(dst, true)
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(s"$repoDir/$name/seg$id"),
          fs, dst, false, conf)
        SnapshotAction(id, "restored")
      }
    }
    // verification: every manifest row must now be readable at the target
    // and equal the manifest's lineage (content checksums included)
    manifest.foreach { lin =>
      val got = lineageAt(spark, segDir(dstDir, lin.segment_id))
      require(got.contains(lin),
        s"restore verification failed for segment ${lin.segment_id}: $got != $lin")
    }
    actions
  }

  /** Metrics rows of all committed segments under `dir`. */
  def readMetrics(spark: SparkSession, dir: String, nSegments: Int): Seq[SegmentMetric] =
    (0 until nSegments).flatMap(id => StoreManifest.read(spark, segDir(dir, id)).toSeq.flatMap(_.metrics))

  /** Lineage rows of all committed segments under `dir` (empty if none). */
  def readLineage(spark: SparkSession, dir: String, nSegments: Int): Map[Int, SegmentLineage] =
    lineageOf(spark, dir, 0 until nSegments)

  private def lineageOf(spark: SparkSession, dir: String, ids: Seq[Int]): Map[Int, SegmentLineage] =
    ids.flatMap(id => lineageAt(spark, segDir(dir, id)).map(id -> _)).toMap

  /** Corpus stats of disjoint segments: the sums of their lineage counts. */
  private def statsOf(lineage: Seq[SegmentLineage]): CorpusStats =
    InvertedIndex.corpusStats(lineage.map(_.doc_count).sum, lineage.map(_.sum_dl).sum)

  /**
   * Build all n segments, skipping segments whose lineage is already
   * committed (the resume path). Returns the ids actually built this run —
   * a killed-and-restarted run reports only the missing tail.
   */
  def buildResumable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      analyzer: String,
      dir: String,
      nSegments: Int
  ): Seq[Int] = {
    val spark = docs.sparkSession
    val maxRow = docs.agg(max(col(idCol))).head()
    if (maxRow.isNullAt(0)) return Nil
    val maxId = maxRow.getLong(0)
    val sp = span(maxId, nSegments)
    // a segment is committed iff its lineage exists AND its recorded row
    // range matches the range THIS run would assign it — a rerun with a
    // different nSegments (or a grown corpus) changes the span, and reusing
    // a stale slice would silently double-count or drop docs at merge
    val done = readLineage(spark, dir, nSegments).filter { case (id, l) =>
      val lo = id.toLong * sp
      val hi = math.min(lo + sp - 1, maxId)
      l.row_lo == lo && l.row_hi == hi
    }
    val todo = (0 until nSegments).filterNot(done.contains)
    // segments are independent slices: build them as concurrent Spark jobs
    // (the analogue of the reference's parallel per-segment flushes on the
    // seismic thread pool, plugin/NeuralSearch.java:296-308). The content
    // digests of all of them are ONE grouped aggregate, submitted first so
    // it owns a thread of its own and runs alongside the builds, which
    // await it only to commit their lineage. A row's segment is id div span
    // on [0, maxId], which gives each segment exactly the rows its slice
    // filter selects; rows outside [0, maxId] belong to none.
    if (todo.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(4, todo.size) + 1)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val seg = call_function("div", col(idCol), lit(sp))
      val fDigests = Future(digests(
        docs.filter(inSlice(col(idCol), 0L, maxId) && seg.isin(todo: _*)), idCol, textCol, seg))
      val fs = todo.map { id =>
        Future {
          val lo = id.toLong * sp
          val hi = math.min(lo + sp - 1, maxId)
          writeSegment(docs.filter(inSlice(col(idCol), lo, hi)), idCol, textCol, analyzer,
            dir, id, Some((lo, hi)), Await.result(fDigests, Duration.Inf).getOrElse(id, EmptyDigest))
        }
      }
      try Await.result(Future.sequence(fs), Duration.Inf)
      finally pool.shutdown()
    }
    todo
  }

  /**
   * Merge committed segments into one global Index. One (kind, term,
   * bucket) shuffle over block rows — every group is <= nSegments blocks of <= 4096
   * postings, so merge work per reducer is bounded regardless of corpus
   * size; term stats are the per-term sums of the segments' term stats.
   */
  def merge(spark: SparkSession, dir: String, nSegments: Int, analyzer: String = Analyzer.Simple): Index = {
    val lineage = readLineage(spark, dir, nSegments)
    require(lineage.size == nSegments, s"merge: only ${lineage.size}/$nSegments segments committed")
    mergeIds(spark, dir, (0 until nSegments).toSeq, lineage.values.toSeq, analyzer)
  }

  /** One selection round of a Lucene-TieredMergePolicy-style merge plan
   *  over the segment METADATA: segments bucket into size tiers
   *  (floor(log_tierFactor doc_count) — TMP's logarithmic size levels),
   *  and any tier holding at least `segmentsPerTier` segments yields one
   *  merge group: its `segmentsPerTier` SMALLEST members (doc_count asc,
   *  segment_id asc) — TMP's preference for merging small similar-sized
   *  segments while leaving large ones alone. Pure metadata decision over
   *  the lineage rows (bounded = segment count); postings are never read.
   *  Execute a group with [[mergeAll]]/`mergeIds` as usual.
   *
   *  @return one row per segment: (segment_id, doc_count, tier,
   *          merge_group) — merge_group = the tier id when the segment is
   *          selected for that tier's merge, None otherwise. */
  def tieredMergePlan(lineage: Seq[SegmentLineage], segmentsPerTier: Int = 3,
                      tierFactor: Double = 4.0): Seq[(Int, Long, Int, Option[Int])] = {
    require(segmentsPerTier >= 2, s"segments_per_tier must be >= 2, got $segmentsPerTier")
    require(tierFactor > 1.0, s"tier factor must be > 1, got $tierFactor")
    val tiers = lineage.map(l => (l.segment_id, l.doc_count,
      math.floor(math.log(math.max(l.doc_count, 1L).toDouble) /
        math.log(tierFactor)).toInt))
    val byTier = tiers.groupBy(_._3)
    tiers.sortBy(_._1).map { case (id, dc, t) =>
      val members = byTier(t)
      val selected: Set[Int] =
        if (members.size >= segmentsPerTier)
          members.sortBy(m => (m._2, m._1)).take(segmentsPerTier).map(_._1).toSet
        else Set.empty
      (id, dc, t, if (selected(id)) Some(t) else None)
    }
  }

  /** One original segment's fate in a [[tieredCompact]] round: `copied`
   *  (not selected — the immutable segment moves verbatim) or
   *  `merged` into `target` (the fresh segment id its group wrote). A
   *  `written` row per fresh segment records the group's output. */
  case class CompactAction(segment_id: Int, tier: Int, action: String, target: Int)

  /**
   * EXECUTE one [[tieredMergePlan]] selection round — Lucene's
   * TieredMergePolicy hands its OneMerge groups to the merge scheduler;
   * this is that scheduler step over the committed store at `srcDir`,
   * producing a compacted store at `dstDir`:
   *
   *  - unselected segments copy verbatim (segments are immutable — same
   *    driver-side directory copy the snapshot path uses);
   *  - each selected group runs the bounded (kind, term, bucket) block
   *    merge (work per reducer <= group-size blocks of <= 4096 postings,
   *    independent of corpus size) and lands through the segment writer as
   *    ONE fresh segment with the next free id and the writer's metrics;
   *  - the fresh segment's doc_count / sum_dl are RE-DERIVED from its
   *    merged doc-length blocks and verified against the member lineage
   *    sums before its manifest is written — a dropped or duplicated
   *    posting fails loudly here, not at query time;
   *  - sha_min/max/distinct recompute over the members' doc ranges of
   *    `docs` (distinct-sha does not compose from member summaries), the
   *    same content pass [[buildSegment]] makes — so the compacted store's
   *    lineage carries first-class checksums and a later snapshot/restore
   *    verifies it like any built segment.
   *
   * The compacted store merges/queries through the ordinary readers
   * ([[mergeAll]] tolerates id gaps), so plan → execute → query equals a
   * fresh single-shot build — the oracle the `segments_tiered_compact`
   * entry checks. Reference behavior: Lucene TieredMergePolicy +
   * ConcurrentMergeScheduler (the reference's segment lifecycle,
   * e.g. sparse/codec/MergeHelper.java:82-179 drives per-field merge when
   * the scheduler fires).
   */
  def tieredCompact(docs: DataFrame, idCol: String, textCol: String,
                    srcDir: String, dstDir: String, nSegments: Int,
                    segmentsPerTier: Int = 3, tierFactor: Double = 4.0,
                    analyzer: String = Analyzer.Simple): Seq[CompactAction] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lineage = readLineage(spark, srcDir, nSegments)
    require(lineage.nonEmpty, s"tieredCompact: nothing committed under $srcDir")
    val linSeq = lineage.values.toSeq.sortBy(_.segment_id)
    val plan = tieredMergePlan(linSeq, segmentsPerTier, tierFactor)
    val groups = plan.flatMap { case (id, _, _, g) => g.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toSeq.sortBy(_._1)

    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dstDir).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(dstDir), true)

    val selected = groups.flatMap(_._2).toSet
    val copied = plan.filterNot(p => selected(p._1)).map { case (id, _, t, _) =>
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(segDir(srcDir, id)),
        fs, new org.apache.hadoop.fs.Path(segDir(dstDir, id)), false, conf)
      CompactAction(id, t, "copied", id)
    }

    var nextId = linSeq.map(_.segment_id).max
    val mergedActions = groups.flatMap { case (tier, ids) =>
      nextId += 1
      val id = nextId
      val members = ids.map(lineage)
      val out = segDir(dstDir, id)
      commit(mergedBlocks(spark, srcDir, ids), out, id, analyzer) { _ =>
        // re-verify from what was WRITTEN, not from the inputs: decode the
        // merged doc-length blocks back off disk and require the re-derived
        // doc_count / sum_dl to equal the member lineage sums
        val (gotN, gotDl) = InvertedIndex.docLensFromBlocks(InvertedIndex.blocksAt(spark, out))
          .map(b => (b.cnt.toLong, PostingCodec.decodeInts(b.dls, b.cnt).map(_.toLong).sum))
          .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
        val want = statsOf(members)
        require(gotN == want.doc_count && gotDl == want.sum_dl,
          s"tieredCompact verification failed for merged segment $id: re-derived " +
            s"(docs=$gotN, sum_dl=$gotDl) != member sums (docs=${want.doc_count}, sum_dl=${want.sum_dl})")
        val inRange = members.map(l => inSlice(col(idCol), l.row_lo, l.row_hi))
          .reduce(_ || _)
        val sha = digests(docs.filter(inRange), idCol, textCol, lit(id))
          .getOrElse(id, EmptyDigest)
        SegmentLineage(id, members.map(_.row_lo).min,
          members.map(_.row_hi).max, gotN, gotDl, sha.sha_min, sha.sha_max, sha.sha_distinct)
      }

      ids.map(i => CompactAction(i, tier, "merged", nextId)) :+
        CompactAction(nextId, tier, "written", nextId)
    }
    (copied ++ mergedActions).sortBy(a => (a.segment_id, a.action))
  }

  /** Merge every committed segment found under `dir` (whatever its id) —
   *  the shape the streaming/incremental path needs, where segment ids are
   *  micro-batch ids with possible gaps. */
  def mergeAll(spark: SparkSession, dir: String, analyzer: String = Analyzer.Simple): Index = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirIds =
      (if (fs.exists(root)) fs.listStatus(root).toSeq else Seq.empty)
        .filter(st => st.isDirectory && st.getPath.getName.matches("seg\\d+"))
        .map(_.getPath.getName.drop(3).toInt).sorted
    val lineage = lineageOf(spark, dir, dirIds)
    val ids = dirIds.filter(lineage.contains)
    require(ids.nonEmpty, s"mergeAll: no committed segments under $dir")
    mergeIds(spark, dir, ids, ids.map(lineage), analyzer)
  }

  /** The segments' block rows that `keep` selects (a `kind` predicate reads
   *  only that kind's directories), merged per (kind, term, bucket). The
   *  union goes by name: an empty segment's table has no `kind=`
   *  directory, so its partition column is not moved last. */
  private def mergedBlocks(spark: SparkSession, dir: String, ids: Seq[Int],
                           keep: Column = lit(true)): Dataset[BuildBlock] =
    InvertedIndex.mergeBlocks(ids.map(id =>
      InvertedIndex.blocksAt(spark, segDir(dir, id)).filter(keep)).reduce(_ unionByName _))

  private def mergeIds(spark: SparkSession, dir: String, ids: Seq[Int],
                       lineage: Seq[SegmentLineage], analyzer: String): Index = {
    import spark.implicits._
    // each kind is merged on its own, so the lazy merged doc lengths never
    // shuffle a posting block
    val postings = InvertedIndex.postingsFromBlocks(mergedBlocks(spark, dir, ids, $"kind" === 0))
    val docLens = InvertedIndex.docLensFromBlocks(mergedBlocks(spark, dir, ids, $"kind" === 1))
    // segments hold disjoint doc ranges: df and ttf are sums over segments
    val termStats = ids.map(id => InvertedIndex.table[TermStat](spark, s"${segDir(dir, id)}/termstats"))
      .reduce(_ union _)
      .groupBy($"term").agg(sum($"df").as("df"), sum($"ttf").as("ttf")).as[TermStat]
    Index(postings, docLens, termStats, statsOf(lineage), analyzer)
  }
}
