package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions.{col, lit, when}
import graft.index.{DocLenBlock, Index, InvertedIndex, PosBlock, PostingBlock, PostingCodec}

/**
 * The one per-bucket execution shape every BM25, phrase, span and
 * intervals matcher runs on — the analogue of the reference's 4096-doc
 * bulk-scoring window (reference: query/HybridBulkScorer.java:75-100):
 *
 *  - the matched block rows (postings or positions, already filtered to the
 *    query's terms) are co-grouped on their `bucket` column with the
 *    forward doc-length blocks. Over a registry-resident index both sides
 *    are laid out on `bucket` ([[graft.index.InvertedIndex.bucketLaid]]),
 *    so the co-group reads the two cached scans in place — no exchange, no
 *    sort, one Spark job. Over any other index Catalyst shuffles both sides
 *    on `bucket`: the same groups, so the same results;
 *  - a bucket without matched blocks is skipped before its doc lengths
 *    decode; each other bucket decodes its dense doc-length window
 *    ([[dlWindow]]) once and hands it, with the bucket's blocks, to the
 *    matcher's own loop;
 *  - `dlArr(local) == 0` is the liveDocs gate: a live doc with any posting
 *    has dl >= 1, a tombstoned one (Deletes.maskDocLens) has no forward
 *    entry;
 *  - several fields of one document set ([[fields]]) co-group as ONE pair
 *    of field-tagged unions (matched blocks, doc lengths): every field is
 *    laid out on the same `bucket` and partition count, and a union of
 *    co-partitioned children keeps their partitioning, so the co-group
 *    still reads the cached scans in place (Hadoop++'s layout).
 *
 * BM25 scorers share `Bm25`'s one loop, positional matchers keep their
 * own; block order in a bucket, so every float sum, is the scorer's.
 */
object BucketKernel {

  // derived once: a product encoder is built by reflection
  private implicit val postingEncoder: Encoder[PostingBlock] = Encoders.product[PostingBlock]
  private implicit val lensEncoder: Encoder[DocLenBlock] = Encoders.product[DocLenBlock]
  private implicit val fieldBlockEncoder: Encoder[FieldBlock] = Encoders.product[FieldBlock]
  private implicit val fieldLensEncoder: Encoder[FieldLens] = Encoders.product[FieldLens]

  /** Per-bucket call: `f(bucket, blocks, dlArr)` for every bucket holding at
   *  least one matched block; `dlArr` is the bucket's dense doc-length
   *  window indexed by local doc id. */
  def apply[B: Encoder, O: Encoder](idx: Index, matched: Dataset[B])(
      f: (Long, Iterator[B], Array[Int]) => Iterator[O]): Dataset[O] =
    grouped(matched, idx.docLens) { (bucket, blocksIt, dlIt) =>
      val dlArr = new Array[Int](InvertedIndex.BucketSpan)
      dlIt.foreach(l => decodeInto(dlArr, l.ids, l.dls, l.cnt))
      f(bucket, blocksIt, dlArr)
    }

  /** Several fields in one co-group: `sides(j)` is field j's index and its
   *  matched blocks (None: only its doc lengths are read); `f(bucket,
   *  blocks, dls)` gets the blocks tagged with their field and `dls(j)`,
   *  field j's dense doc-length window. One side is [[apply]], untagged in
   *  the plan. */
  def fields[O: Encoder](sides: Seq[(Index, Option[Dataset[PostingBlock]])])(
      f: (Long, Iterator[FieldBlock], Array[Array[Int]]) => Iterator[O]): Dataset[O] = {
    def tagged(j: Int, ds: Dataset[_], cols: Seq[String]) = ds.select(lit(j).as("field") +: cols.map(col): _*)
    if (sides.size == 1)
      apply(sides.head._1, sides.head._2.get)((bucket, blocksIt, dlArr) =>
        f(bucket, blocksIt.map(FieldBlock.of(0, _)), Array(dlArr)))
    else grouped(
      sides.zipWithIndex.flatMap { case ((_, m), j) => m.map(tagged(j, _, postingEncoder.schema.fieldNames)) }
        .reduce(_ union _).as[FieldBlock],
      sides.zipWithIndex.map { case ((i, _), j) => tagged(j, i.docLens, Seq("bucket", "cnt", "ids", "dls")) }
        .reduce(_ union _).as[FieldLens]) { (bucket, blocksIt, lensIt) =>
      val dls = Array.fill(sides.size)(new Array[Int](InvertedIndex.BucketSpan))
      lensIt.foreach(l => decodeInto(dls(l.field), l.ids, l.dls, l.cnt))
      f(bucket, blocksIt, dls)
    }
  }

  /** The co-group itself, doc-length blocks undecoded; buckets without
   *  matched blocks are skipped. Buckets arrive in key order within a
   *  partition, each whole in one task (adaptive execution splits skewed
   *  join partitions, never a co-group's). */
  def grouped[B: Encoder, L: Encoder, O: Encoder](matched: Dataset[B], lens: Dataset[L])(
      f: (Long, Iterator[B], Iterator[L]) => Iterator[O]): Dataset[O] = {
    val spark = matched.sparkSession
    import spark.implicits._
    // co-group keys must have one type, and a parquet read's `bucket` is
    // nullable while an in-memory table's is not: a mixed pair groups its
    // non-nullable side on a nullable copy (a computed key, so it shuffles)
    val mixed = matched.schema("bucket").nullable != lens.schema("bucket").nullable
    def keyed[T: Encoder](ds: Dataset[T]) =
      (if (!mixed || ds.schema("bucket").nullable) ds
       else ds.withColumn("bucket", when($"bucket".isNotNull, $"bucket")).as[T])
        .groupBy($"bucket").as[Long, T]
    keyed(matched).cogroup(keyed(lens)) { (bucket, blocksIt, dlIt) =>
      if (!blocksIt.hasNext) Iterator.empty else f(bucket, blocksIt, dlIt)
    }
  }

  /** Dense doc-length window of one bucket, indexed by local doc id. */
  def dlWindow(dlb: DocLenBlock): Array[Int] = {
    val dlArr = new Array[Int](InvertedIndex.BucketSpan)
    decodeInto(dlArr, dlb.ids, dlb.dls, dlb.cnt)
    dlArr
  }

  private def decodeInto(dlArr: Array[Int], idBytes: Array[Byte], dlBytes: Array[Byte],
                         cnt: Int): Unit = {
    val ids = PostingCodec.decodeDeltas(idBytes, cnt)
    val dls = PostingCodec.decodeInts(dlBytes, cnt)
    var i = 0
    while (i < cnt) { dlArr(ids(i)) = dls(i); i += 1 }
  }

  /** A bucket's position blocks decoded per term: term -> (local, positions)
   *  entries in local-id order (one merged block per (term, bucket)). */
  def byTerm(blocks: Iterator[PosBlock]): Map[String, Array[(Int, Array[Int])]] =
    blocks.map(b => b.term -> graft.index.Positions.decodeEntries(b)).toMap

  /** Slot conjunction: the live docs of this bucket holding every slot's
   *  term, with each slot's positions (`docPs(i)` for `slots(i)`; repeated
   *  terms share one array). Empty when a slot's term has no block here.
   *  The rarest slot leads the doc loop; the others are probed through
   *  per-slot hash lookups. */
  def conjunction(byTerm: Map[String, Array[(Int, Array[Int])]], slots: Array[String],
                  dlArr: Array[Int]): Iterator[(Int, Array[Array[Int]])] =
    if (slots.exists(t => !byTerm.contains(t))) Iterator.empty
    else {
      val perSlot = slots.map(byTerm(_))
      val lead = perSlot.indices.minBy(i => perSlot(i).length)
      val others = perSlot.indices.filter(_ != lead).toArray
      val lookups = others.map { i =>
        val m = new java.util.HashMap[Integer, Array[Int]]()
        perSlot(i).foreach { case (d, ps) => m.put(d, ps) }
        m
      }
      perSlot(lead).iterator.flatMap { case (local, leadPs) =>
        if (dlArr(local) == 0) None
        else {
          val docPs = new Array[Array[Int]](slots.length)
          docPs(lead) = leadPs
          var ok = true
          var i = 0
          while (ok && i < others.length) {
            val ps = lookups(i).get(local)
            if (ps == null) ok = false else docPs(others(i)) = ps
            i += 1
          }
          if (ok) Some((local, docPs)) else None
        }
      }
    }
}

/** A matched posting block of field `field` in a [[BucketKernel.fields]]
 *  co-group. */
case class FieldBlock(field: Int, term: String, bucket: Long, cnt: Int, max_tf: Int,
                      sum_tf: Long, docs: Array[Byte], tfs: Array[Byte])

object FieldBlock {
  def of(field: Int, b: PostingBlock): FieldBlock =
    FieldBlock(field, b.term, b.bucket, b.cnt, b.max_tf, b.sum_tf, b.docs, b.tfs)
}

/** Field `field`'s doc-length block of one bucket in a
 *  [[BucketKernel.fields]] co-group. */
case class FieldLens(field: Int, bucket: Long, cnt: Int, ids: Array[Byte], dls: Array[Byte])

/** Bounded top-k collector by (score desc, doc_id asc) under Spark SQL's
 *  double order: a min-heap of the best `k` (doc_id, score) pairs seen,
 *  each with an optional payload — the reference's HitQueue
 *  (search/collector/HybridTopScoreDocCollector.java:135-190). */
final class BoundedTopK(k: Int) {
  private val ord: Ordering[BoundedTopK.Hit] = (a, b) => {
    val c = SQLOrderingUtil.compareDoubles(a.score, b.score)
    if (c != 0) c else java.lang.Long.compare(b.id, a.id)
  }
  private val pq = new scala.collection.mutable.PriorityQueue[BoundedTopK.Hit]()(ord.reverse)

  def offer(id: Long, score: Double, payload: Any = null): Unit = {
    val cand = BoundedTopK.Hit(id, score, payload)
    if (pq.size < k) pq.enqueue(cand)
    else if (ord.gt(cand, pq.head)) { pq.dequeue(); pq.enqueue(cand) }
  }

  /** True once `k` candidates are held. */
  def full: Boolean = pq.size == k

  /** The k-th best score held — the pruning threshold once [[full]]. */
  def threshold: Double = pq.head.score

  def iterator: Iterator[(Long, Double)] = pq.iterator.map(h => (h.id, h.score))

  def payloads: Iterator[Any] = pq.iterator.map(_.payload)
}

object BoundedTopK {
  final case class Hit(id: Long, score: Double, payload: Any)

  /** The per-partition HitQueues before the one merge ("Cache-Efficient
   *  Top-k Aggregation", VLDB 2023): rows (key: Int, doc_id: Long,
   *  score: Double, payload columns...) go through [[kept]] in each
   *  partition, so collecting the result brings at most
   *  keys x k x partitions rows to the driver. */
  def perPartition(df: DataFrame, k: Int, perGroup: Int = 0): DataFrame =
    df.mapPartitions(it => kept(it, k, perGroup))(Encoders.row(df.schema))

  /** The best `k` rows of each key; with `perGroup` > 0 (collapse, group in
   *  column 3), of the best `perGroup` of each (key, group). Exact run per
   *  partition and again over the survivors: a row that loses its place in
   *  a partition to `k` better rows is below, for each of their groups, as
   *  many globally kept rows as that group lent — `k` in all. */
  def kept(rows: Iterator[Row], k: Int, perGroup: Int = 0): Iterator[Row] = {
    def best(rs: Iterator[Row], n: Int)(key: Row => Any): Iterator[Row] = {
      val heaps = scala.collection.mutable.HashMap.empty[Any, BoundedTopK]
      rs.foreach(r => heaps.getOrElseUpdate(key(r), new BoundedTopK(n))
        .offer(r.getLong(1), r.getDouble(2), r))
      heaps.valuesIterator.flatMap(_.payloads.map(_.asInstanceOf[Row]))
    }
    val inGroups = if (perGroup <= 0) rows else best(rows, perGroup)(r => (r.getInt(0), r.get(3)))
    best(inGroups, k)(_.getInt(0))
  }

  /** The driver-side merge of collected [[perPartition]] rows of one key:
   *  the same keep, then the best `k` by (score desc, doc_id asc) under
   *  Spark SQL's double order (0.0 equals -0.0, NaN sorts highest), as an
   *  `orderBy` ranks. */
  def ranked(rows: Seq[Row], k: Int, perGroup: Int = 0): Seq[Row] =
    (if (perGroup <= 0) rows else kept(rows.iterator, k, perGroup).toSeq)
      .sortWith((a, b) => before(a.getDouble(2), a.getLong(1), b.getDouble(2), b.getLong(1))).take(k)

  /** (score desc, doc_id asc) under Spark SQL's double order. */
  def before(s1: Double, id1: Long, s2: Double, id2: Long): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(s1, s2)
    if (c != 0) c > 0 else id1 < id2
  }
}
