package graft.query

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.when
import graft.index.{DocLenBlock, Index, InvertedIndex, PosBlock, PostingCodec}

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
 *    entry.
 *
 * Matchers keep their own inner loops and block order, so float
 * accumulation order — and every score — is the matcher's alone.
 */
object BucketKernel {

  /** Per-bucket call: `f(bucket, blocks, dlArr)` for every bucket holding at
   *  least one matched block; `dlArr` is the bucket's dense doc-length
   *  window indexed by local doc id. */
  def apply[B: Encoder, O: Encoder](idx: Index, matched: Dataset[B])(
      f: (Long, Iterator[B], Array[Int]) => Iterator[O]): Dataset[O] =
    grouped(idx, matched) { (bucket, blocksIt, dlIt) =>
      val dlArr = new Array[Int](InvertedIndex.BucketSpan)
      dlIt.foreach(decodeInto(dlArr, _))
      f(bucket, blocksIt, dlArr)
    }

  /** The co-group itself, doc-length blocks undecoded. Buckets arrive in
   *  key order within a partition, each whole in one task (adaptive
   *  execution splits skewed join partitions, never a co-group's). */
  def grouped[B: Encoder, O: Encoder](idx: Index, matched: Dataset[B])(
      f: (Long, Iterator[B], Iterator[DocLenBlock]) => Iterator[O]): Dataset[O] = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    // co-group keys must have one type, and a parquet read's `bucket` is
    // nullable while an in-memory table's is not: a mixed pair groups its
    // non-nullable side on a nullable copy (a computed key, so it shuffles)
    val mixed = matched.schema("bucket").nullable != idx.docLens.schema("bucket").nullable
    def keyed[T: Encoder](ds: Dataset[T]) =
      (if (!mixed || ds.schema("bucket").nullable) ds
       else ds.withColumn("bucket", when($"bucket".isNotNull, $"bucket")).as[T])
        .groupBy($"bucket").as[Long, T]
    keyed(matched).cogroup(keyed(idx.docLens)) { (bucket, blocksIt, dlIt) =>
      if (!blocksIt.hasNext) Iterator.empty else f(bucket, blocksIt, dlIt)
    }
  }

  /** Dense doc-length window of one bucket, indexed by local doc id. */
  def dlWindow(dlb: DocLenBlock): Array[Int] = {
    val dlArr = new Array[Int](InvertedIndex.BucketSpan)
    decodeInto(dlArr, dlb)
    dlArr
  }

  private def decodeInto(dlArr: Array[Int], dlb: DocLenBlock): Unit = {
    val ids = PostingCodec.decodeDeltas(dlb.ids, dlb.cnt)
    val dls = PostingCodec.decodeInts(dlb.dls, dlb.cnt)
    var i = 0
    while (i < dlb.cnt) { dlArr(ids(i)) = dls(i); i += 1 }
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

/** Bounded top-k collector by (score desc, doc_id asc): a min-heap of the
 *  best `k` (doc_id, score) pairs seen — the reference's HitQueue
 *  (search/collector/HybridTopScoreDocCollector.java:135-190). */
final class BoundedTopK(k: Int) {
  private val ord = Ordering.by[(Long, Double), (Double, Long)] { case (id, s) => (s, -id) }
  private val pq = new scala.collection.mutable.PriorityQueue[(Long, Double)]()(ord.reverse)

  def offer(id: Long, score: Double): Unit = {
    val cand = (id, score)
    if (pq.size < k) pq.enqueue(cand)
    else if (ord.gt(cand, pq.head)) { pq.dequeue(); pq.enqueue(cand) }
  }

  /** True once `k` candidates are held. */
  def full: Boolean = pq.size == k

  /** The k-th best score held — the pruning threshold once [[full]]. */
  def threshold: Double = pq.head._2

  def iterator: Iterator[(Long, Double)] = pq.iterator
}
