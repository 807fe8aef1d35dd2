package graft

import graft.analysis.Analyzer
import graft.index.{IndexCache, InvertedIndex, PostingCodec, Positions}

/** Positions are a payload of the one index build. A first-principles
 *  model: every positional block of a seeded corpus is decoded and compared
 *  with a brute-force per-doc enumeration of the analyzed tokens, and every
 *  posting row's docs/tfs are checked against its positional view and
 *  against a build without positions. The corpus arrives with doc ids
 *  unordered across partitions (one (term, bucket) merges fragments of
 *  several tasks), repeats terms inside a doc, holds empty docs, and is
 *  built plain and lang-tagged. */
class PositionsModelSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20261020)
  private val vocab = Array("the", "and", "of", "merge", "join", "hash", "table", "scan",
    "window", "sort", "filter", "group", "spark", "stream", "index", "bucket")
  // doc ids over 0..20,479: five 4096-doc buckets; about one doc in ten is
  // empty, or (lang-tagged) English stop words only
  private val rows: Seq[(Long, String, String)] = rnd.shuffle((0 until 20480).toVector)
    .take(900).map { id =>
      val n = if (rnd.nextInt(10) == 0) 0 else 1 + rnd.nextInt(20)
      val words = Seq.fill(n)(vocab(math.min(vocab.length - 1, (rnd.nextGaussian().abs * 5).toInt)))
      val text = if (n == 0 && rnd.nextBoolean()) "  !! " else words.mkString(" ")
      (id.toLong, text, if (rnd.nextBoolean()) "en" else "fr")
    }
  // rows in a seeded random order, round-robin over four tasks: every task
  // sees every bucket, its ids out of order
  private lazy val docs = rnd.shuffle(rows).toDF("doc_id", "text", "lang").repartition(4)

  private def analyzerOf(analyzer: String, lang: String): String =
    if (analyzer == Analyzer.LangTagged) (if (lang == "en") Analyzer.EnSimple else Analyzer.Simple)
    else analyzer

  /** (term, doc_id) -> the term's positions in the doc's analyzed tokens. */
  private def model(analyzer: String): Map[(String, Long), Seq[Int]] = rows.flatMap { case (id, text, lang) =>
    Analyzer.analyze(analyzerOf(analyzer, lang))(text).zipWithIndex.groupBy(_._1).map {
      case (t, occ) => (t, id) -> occ.map(_._2).toSeq
    }
  }.toMap

  private def bytes(a: Array[Byte]) = a.toSeq

  for (analyzer <- Seq(Analyzer.Simple, Analyzer.LangTagged)) {
    test(s"$analyzer: positional blocks decode to the analyzed tokens' positions") {
      assert(rows.exists { case (id, text, lang) =>
        Analyzer.analyze(analyzerOf(analyzer, lang))(text).isEmpty }, "the corpus holds empty docs")
      assert(rows.exists { case (_, text, _) => text.split(" ").distinct.length < text.split(" ").length },
        "the corpus repeats terms inside docs")
      // fragments of one (term, bucket) come from several tasks
      val fragments = InvertedIndex.buildBlocksOf(docs, "doc_id", "text", analyzer, positions = true)
        .filter($"kind" === 0).groupBy("term", "bucket").count()
      assert(fragments.filter($"count" > 1).count() > 0, "some (term, bucket) merges fragments")
      val got = Positions.build(docs, "doc_id", "text", analyzer).collect().toSeq.flatMap { b =>
        Positions.decodeEntries(b).toSeq.map { case (local, ps) =>
          (b.term, (b.bucket << InvertedIndex.BucketBits) + local) -> ps.toSeq
        }
      }
      assert(got.map(_._1).distinct.size == got.size, "one entry per (term, doc)")
      val want = model(analyzer)
      assert(got.toMap == want)
    }

    test(s"$analyzer: every posting row's positional view is its docs/tfs, npos its sum_tf") {
      val positional = InvertedIndex.mergedBlocksOf(docs, "doc_id", "text", analyzer, positions = true)
      val plain = InvertedIndex.mergedBlocksOf(docs, "doc_id", "text", analyzer)
      val posRows = InvertedIndex.positionsFromBlocks(positional).collect()
        .map(b => (b.term, b.bucket) -> b).toMap
      val postings = InvertedIndex.postingsFromBlocks(positional).collect()
      assert(postings.length == posRows.size && postings.nonEmpty)
      for (p <- postings) {
        val b = posRows((p.term, p.bucket))
        assert(b.cnt == p.cnt && bytes(b.docs) == bytes(p.docs) && bytes(b.lens) == bytes(p.tfs), p.term)
        assert(b.npos.toLong == p.sum_tf, p.term)
        assert(PostingCodec.decodeInts(b.lens, b.cnt).sum == b.npos, p.term)
      }
      // positions ride along without moving a posting or doc-length byte
      def key(r: graft.index.BuildBlock) = (r.kind, r.term, r.bucket, r.cnt, r.max_tf, r.min_v, r.sum_tf,
        bytes(r.docs), bytes(r.tfs))
      val withPos = positional.collect()
      assert(withPos.map(key).toSet == plain.collect().map(key).toSet)
      assert(withPos.forall(r => (r.kind == 0) == (r.poss != null)), "only posting rows carry positions")
      assert(plain.collect().forall(_.poss == null), "a build without positions carries none")
    }
  }

  test("the registry entry's positions equal the one build's, laid out like its postings") {
    val dir = java.nio.file.Files.createTempDirectory("positions-model").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val idx = IndexCache.documents(spark, dir)
    val resident = IndexCache.positions(spark, dir)
    def entries(ds: org.apache.spark.sql.Dataset[graft.index.PosBlock]) =
      ds.collect().flatMap(b => Positions.decodeEntries(b).map { case (l, ps) =>
        (b.term, (b.bucket << InvertedIndex.BucketBits) + l) -> ps.toSeq
      }).toMap
    assert(entries(resident) == model(Analyzer.Simple))
    assert(resident.rdd.getNumPartitions == idx.postings.rdd.getNumPartitions)
    graft.index.BoundedCache.session.invalidate(_.dir == dir)
  }
}
