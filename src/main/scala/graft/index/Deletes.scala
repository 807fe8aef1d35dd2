package graft.index

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Document delete / update lifecycle — the Spark re-expression of Lucene's
 * liveDocs model the reference's index mutations ride on (an OpenSearch
 * delete or update never rewrites a committed segment: deletes mark a
 * per-segment live-docs bitmap, updates are delete + re-add, and the marked
 * docs are physically purged only when segments merge).
 *
 * Semantics matched deliberately:
 *  - a search against an index WITH tombstones excludes deleted docs from
 *    the hits but still scores with the PRE-delete statistics (docCount,
 *    avgdl, docFreq) — Lucene's documented stale-stats behavior, where
 *    `docFreq includes deleted documents until merge`;
 *  - `compact` is the merge-time purge: postings and doc-length blocks are
 *    rewritten without the tombstoned ids and every statistic is recomputed,
 *    after which the tombstone set is spent;
 *  - `applyUpdate` is delete + add: the old rows of the updated ids are
 *    purged and a freshly built delta index over the new row versions is
 *    block-merged in (the updated doc keeps its global doc_id — dense ids
 *    make Lucene's docId remap unnecessary, see Segments).
 *
 * Scale shape: tombstones never broadcast and never join the corpus row-wise.
 * They shuffle ONCE into per-bucket sorted local-id sets (each bounded by the
 * 4096-doc bucket span) and cogroup against the block tables on `bucket`, so
 * masking a block is one linear merge over two sorted int arrays and the
 * work is proportional to the touched buckets, not to corpus size.
 */
object Deletes {

  /** Tombstones grouped per 4096-doc bucket: sorted local ids, bounded at
   *  the bucket span. The unit every mask/purge cogroups on. */
  case class DeleteSet(bucket: Long, locals: Array[Int])

  /** One shuffle: raw tombstone doc ids -> per-bucket sorted local-id sets. */
  def deleteSets(tombstones: DataFrame, idCol: String): Dataset[DeleteSet] = {
    val spark = tombstones.sparkSession
    import spark.implicits._
    tombstones.select(col(idCol).cast("long")).as[Long]
      .map { id =>
        val bucket = id >> InvertedIndex.BucketBits
        (bucket, (id - (bucket << InvertedIndex.BucketBits)).toInt)
      }
      .groupByKey(_._1)
      .mapGroups { (bucket, it) =>
        DeleteSet(bucket, it.map(_._2).toArray.distinct.sorted)
      }
  }

  /** Is sorted array `xs` containing `v`? (binary search, no boxing). */
  private def contains(xs: Array[Int], v: Int): Boolean =
    java.util.Arrays.binarySearch(xs, v) >= 0

  /**
   * The liveDocs view: doc-length blocks with tombstoned entries removed and
   * `min_dl` recomputed over the survivors. The scorers treat a doc with no
   * forward entry (dl window slot 0) as not-live, so masking the forward
   * table alone gates collection everywhere — postings stay untouched, as
   * Lucene leaves postings untouched until merge. Blocks emptied entirely
   * are dropped (their buckets vanish from the dl join and every posting in
   * them is skipped).
   */
  def maskDocLens(docLens: Dataset[DocLenBlock], dels: Dataset[DeleteSet]): Dataset[DocLenBlock] = {
    val spark = docLens.sparkSession
    import spark.implicits._
    dels.groupByKey(_.bucket).cogroup(docLens.groupByKey(_.bucket)) { (_, dIt, bIt) =>
      val dead = if (dIt.hasNext) dIt.next().locals else Array.empty[Int]
      if (dead.isEmpty) bIt
      else bIt.flatMap { b =>
        val ids = PostingCodec.decodeDeltas(b.ids, b.cnt)
        val dls = PostingCodec.decodeInts(b.dls, b.cnt)
        val keep = ids.indices.filterNot(i => contains(dead, ids(i))).toArray
        if (keep.isEmpty) None
        else Some(DocLenBlock(b.bucket, keep.length,
          keep.map(dls(_)).min,
          PostingCodec.encodeDeltas(keep.map(ids(_))),
          PostingCodec.encodeInts(keep.map(dls(_)))))
      }
    }
  }

  /** Search-time view with tombstones applied: hits exclude deleted docs,
   *  statistics stay stale (Lucene's pre-merge behavior). */
  def withDeletes(idx: Index, tombstones: DataFrame, idCol: String): Index =
    idx.copy(docLens = maskDocLens(idx.docLens, deleteSets(tombstones, idCol)))

  /** Purge tombstoned ids out of posting blocks (drop empty blocks). */
  def maskPostings(postings: Dataset[PostingBlock], dels: Dataset[DeleteSet]): Dataset[PostingBlock] = {
    val spark = postings.sparkSession
    import spark.implicits._
    dels.groupByKey(_.bucket).cogroup(postings.groupByKey(_.bucket)) { (_, dIt, bIt) =>
      val dead = if (dIt.hasNext) dIt.next().locals else Array.empty[Int]
      if (dead.isEmpty) bIt
      else bIt.flatMap { b =>
        val ids = PostingCodec.decodeDeltas(b.docs, b.cnt)
        val tfs = PostingCodec.decodeInts(b.tfs, b.cnt)
        val keep = ids.indices.filterNot(i => contains(dead, ids(i))).toArray
        if (keep.isEmpty) None
        else {
          val kTfs = keep.map(tfs(_))
          Some(PostingBlock(b.term, b.bucket, keep.length, kTfs.max,
            kTfs.map(_.toLong).sum,
            PostingCodec.encodeDeltas(keep.map(ids(_))),
            PostingCodec.encodeInts(kTfs)))
        }
      }
    }
  }

  /**
   * Merge-time purge: rewrite postings + doc lengths without the tombstoned
   * ids and recompute term and corpus statistics from the purged blocks —
   * after this, scores reflect the post-delete corpus exactly. All work is
   * block-local behind one bucket-keyed cogroup per table; nothing
   * re-tokenizes the corpus.
   */
  def compact(idx: Index, tombstones: DataFrame, idCol: String): Index = {
    val dels = deleteSets(tombstones, idCol)
    val postings = maskPostings(idx.postings, dels)
    val docLens = maskDocLens(idx.docLens, dels)
    Index(postings, docLens, InvertedIndex.termStatsOf(postings),
      InvertedIndex.statsOf(docLens), idx.analyzer)
  }

  /**
   * Update = delete + add, Lucene's only update primitive: purge the updated
   * ids from the committed index, build a delta index over the NEW row
   * versions only (re-tokenization cost proportional to the update set, not
   * the corpus), and block-merge delta into base. The returned index scores
   * exactly as a fresh build over the updated corpus would.
   */
  def applyUpdate(idx: Index, updatedDocs: DataFrame, idCol: String, textCol: String): Index = {
    val purged = compact(idx, updatedDocs.select(idCol), idCol)
    val delta = InvertedIndex.build(updatedDocs, idCol, textCol, idx.analyzer)
    // the block merge of the build, one shuffle per table
    val postings = InvertedIndex.postingsFromBlocks(InvertedIndex.mergeBlocks(
      InvertedIndex.postingsAsBlocks(purged.postings).union(InvertedIndex.postingsAsBlocks(delta.postings))))
    val docLens = InvertedIndex.docLensFromBlocks(InvertedIndex.mergeBlocks(
      InvertedIndex.docLensAsBlocks(purged.docLens).union(InvertedIndex.docLensAsBlocks(delta.docLens))))
    Index(postings, docLens, InvertedIndex.termStatsOf(postings),
      InvertedIndex.statsOf(docLens), idx.analyzer)
  }

  /** `_delete_by_query`: the matched set of a DSL bool query becomes the
   *  tombstone set. The reference scrolls the query and bulk-deletes the
   *  hits batch by batch; here the matched set IS a DataFrame, so the whole
   *  delete is one query execution + the standard per-bucket tombstone mask
   *  — no scroll, no bulk round trips, no driver materialization.
   *  Statistics stay stale until [[compact]], exactly like single-doc
   *  deletes (the reference's _delete_by_query leaves the same pre-merge
   *  state). */
  def deleteByQuery(src: graft.hybrid.HybridSources, json: String,
                    analyzer: String = graft.analysis.Analyzer.Simple): Index = {
    val parsed = graft.query.QueryDsl.parseBool(json, analyzer)
    require(parsed.filters.isEmpty && parsed.ranges.isEmpty && parsed.slice.isEmpty,
      "delete_by_query supports the bool query body (no root filters/slice)")
    val dead = graft.query.BoolQuery.score(src, parsed.bool).select("doc_id")
    withDeletes(src.idx, dead, "doc_id")
  }

  /** `_update_by_query`: every doc matched by the DSL bool query gets its
   *  text replaced by `newText` (the script analogue — a Column over the
   *  matched rows), then delete + re-add via [[applyUpdate]]. One query
   *  execution + one semi join sized by the matched set; the unmatched
   *  corpus is never rewritten. */
  def updateByQuery(src: graft.hybrid.HybridSources, docs: DataFrame,
                    idCol: String, textCol: String, json: String,
                    newText: org.apache.spark.sql.Column,
                    analyzer: String = graft.analysis.Analyzer.Simple): Index = {
    val parsed = graft.query.QueryDsl.parseBool(json, analyzer)
    require(parsed.filters.isEmpty && parsed.ranges.isEmpty && parsed.slice.isEmpty,
      "update_by_query supports the bool query body (no root filters/slice)")
    val matched = graft.query.BoolQuery.score(src, parsed.bool).select("doc_id")
    val updated = docs
      .join(matched, docs(idCol) === matched("doc_id"), "left_semi")
      .withColumn(textCol, newText)
    applyUpdate(src.idx, updated, idCol, textCol)
  }
}
