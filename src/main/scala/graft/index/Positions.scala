package graft.index

import org.apache.spark.sql.{DataFrame, Dataset}
import graft.analysis.Analyzer

/**
 * Positional posting block: for one (term, 4096-doc bucket), the sorted
 * local doc ids, each doc's position count, and every occurrence position —
 * the Lucene `.pos` file re-expressed as a block-per-row table (the same
 * container as [[PostingBlock]]: Parquet term pushdown is the term seek,
 * the bucket span bounds every shuffle group).
 *
 * Wire format mirrors Lucene's: positions are strictly increasing within a
 * doc, so the `poss` stream stores per-doc first-value + gaps as unsigned
 * varints (`npos` total values), segmented by `lens`.
 */
case class PosBlock(
    term: String,
    bucket: Long,
    cnt: Int,
    npos: Int,
    docs: Array[Byte],
    lens: Array[Byte],
    poss: Array[Byte]
)

object Positions {

  /** Encode (localId, positions) entries — sorted by localId — into a block. */
  private def encode(term: String, bucket: Long,
                     entries: Array[(Int, Array[Int])]): PosBlock = {
    val sorted = entries.sortBy(_._1)
    val docs = sorted.map(_._1)
    val lens = sorted.map(_._2.length)
    val deltas = new Array[Int](lens.sum)
    var o = 0
    sorted.foreach { case (_, ps) =>
      var prev = 0
      var i = 0
      while (i < ps.length) { deltas(o) = ps(i) - prev; prev = ps(i); o += 1; i += 1 }
    }
    PosBlock(term, bucket, docs.length, deltas.length,
      PostingCodec.encodeDeltas(docs), PostingCodec.encodeInts(lens),
      PostingCodec.encodeInts(deltas))
  }

  /** Decode a block back to (localId, positions) pairs in localId order. */
  def decodeEntries(b: PosBlock): Array[(Int, Array[Int])] = {
    val docs = PostingCodec.decodeDeltas(b.docs, b.cnt)
    val lens = PostingCodec.decodeInts(b.lens, b.cnt)
    val deltas = PostingCodec.decodeInts(b.poss, b.npos)
    val out = new Array[(Int, Array[Int])](b.cnt)
    var o = 0
    var i = 0
    while (i < b.cnt) {
      val ps = new Array[Int](lens(i))
      var prev = 0
      var j = 0
      while (j < lens(i)) { prev += deltas(o); ps(j) = prev; o += 1; j += 1 }
      out(i) = (docs(i), ps)
      i += 1
    }
    out
  }

  /**
   * Single-pass positional build, same shape as the main index build
   * ([[InvertedIndex.buildBlocksOf]]): analyze each doc once, accumulate the
   * CURRENT bucket's per-term (doc, positions) entries, flush compressed
   * fragments on bucket change, merge same-key fragments through one
   * (term, bucket) shuffle. Positions index the ANALYZED token sequence
   * (post stop/empty filtering), the convention Lucene's analyzers use.
   * A doc lives wholly in one input row, so a (term, doc) never spans
   * fragments — merge is pure concatenation + docId sort.
   */
  def build(docs: DataFrame, idCol: String, textCol: String,
            analyzer: String = Analyzer.Simple): Dataset[PosBlock] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val rows = docs.select(col(idCol).cast("long"), col(textCol), lit(analyzer))
      .as[(Long, String, String)]
    val fragments = rows.mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer.empty[PosBlock]
      val cur = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[(Int, Array[Int])]]()
      val docPos = new java.util.HashMap[String, InvertedIndex.IntBuf]()
      var curBucket = Long.MinValue
      def flush(): Unit = if (curBucket != Long.MinValue) {
        val e = cur.entrySet().iterator()
        while (e.hasNext) {
          val kv = e.next()
          out += encode(kv.getKey, curBucket, kv.getValue.toArray)
        }
        cur.clear()
      }
      it.foreach { case (docId, text, an) =>
        val toks = Analyzer.analyze(an)(text)
        val bucket = docId >> InvertedIndex.BucketBits
        val local = (docId - (bucket << InvertedIndex.BucketBits)).toInt
        if (bucket != curBucket) { flush(); curBucket = bucket }
        docPos.clear()
        var i = 0
        while (i < toks.length) {
          var cell = docPos.get(toks(i))
          if (cell == null) { cell = new InvertedIndex.IntBuf(4); docPos.put(toks(i), cell) }
          cell.add(i)
          i += 1
        }
        val e = docPos.entrySet().iterator()
        while (e.hasNext) {
          val kv = e.next()
          var acc = cur.get(kv.getKey)
          if (acc == null) {
            acc = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Int])]
            cur.put(kv.getKey, acc)
          }
          acc += ((local, kv.getValue.toArray))
        }
      }
      flush()
      out.iterator
    }
    fragments
      .groupByKey(b => (b.term, b.bucket))
      .mapGroups { (key, it) =>
        val blocks = it.toArray
        if (blocks.length == 1) blocks(0)
        else encode(key._1, key._2, blocks.flatMap(decodeEntries))
      }
  }
}
