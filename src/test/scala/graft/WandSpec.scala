package graft

import graft.index.{IndexCache, InvertedIndex}
import graft.query.Bm25

/** Block-max WAND must be EXACT: identical (doc_id, score) top-k to the
 *  single-pass scorer for every query shape (head terms, rare terms, missing
 *  terms, k larger than the match set, boosts). */
class WandSpec extends SparkSpec {

  private lazy val idx = IndexCache.documents(spark, "/root/testdata/sf0.001")

  private def run(terms: Seq[String], k: Int, boosts: Map[String, Double] = Map.empty) = {
    val plain = Bm25.topK(idx, terms, k, boosts).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val wand = Bm25.topKWand(idx, terms, k, boosts).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(wand.toSeq == plain.toSeq, s"terms=$terms k=$k")
  }

  test("wand == plain on head terms")  { run(Seq("join"), 10) }
  test("wand == plain on rare terms")  { run(Seq("dup"), 10) }
  test("wand == plain multi-term")     { run(Seq("merge", "sort", "window"), 10) }
  test("wand == plain k=100")          { run(Seq("hash", "join"), 100) }
  test("wand == plain with boosts")    { run(Seq("spark", "filter"), 25, Map("spark" -> 2.5)) }
  test("wand == plain unknown term")   { run(Seq("zzzznotaterm"), 10) }
  test("wand == plain mixed known/unknown") { run(Seq("join", "zzzznotaterm"), 10) }
  test("wand == plain k exceeds matches")   { run(Seq("dup"), 5000) }

  test("k <= 0 is rejected on the driver, by every top-k entry point") {
    for (k <- Seq(0, -1)) {
      val plain = intercept[IllegalArgumentException](Bm25.topK(idx, Seq("join"), k))
      assert(plain.getMessage.contains("k must be > 0"), plain.getMessage)
      intercept[IllegalArgumentException](Bm25.topKWand(idx, Seq("join"), k))
    }
  }

  test("wand == plain across many seeded term sets") {
    val vocab = idx.termStats.collect().map(_.term).sorted
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 10) {
      val n = 1 + rnd.nextInt(4)
      val terms = Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))
      run(terms, 1 + rnd.nextInt(40))
    }
  }
}
