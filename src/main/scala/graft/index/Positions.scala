package graft.index

import org.apache.spark.sql.{DataFrame, Dataset}
import graft.analysis.Analyzer

/**
 * Positional posting block: for one (term, 4096-doc bucket), the sorted
 * local doc ids, each doc's position count, and every occurrence position —
 * the Lucene `.pos` file re-expressed as a block-per-row table. Like
 * Lucene's `.doc` and `.pos` under one term dictionary, positions are a
 * payload of the one index build: a positional build's kind-0
 * [[BuildBlock]] carries them in `poss`, and a `PosBlock` is a view of
 * that row ([[InvertedIndex.positionsFromBlocks]]) — `docs` are its docs,
 * `lens` its tfs, `npos` its `sum_tf`.
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

  /** The positional blocks of `docs`' one positional build (unlaid-out;
   *  [[IndexCache.positions]] is the resident view). */
  def build(docs: DataFrame, idCol: String, textCol: String,
            analyzer: String = Analyzer.Simple): Dataset[PosBlock] =
    InvertedIndex.positionsFromBlocks(
      InvertedIndex.mergedBlocksOf(docs, idCol, textCol, analyzer, positions = true))
}
