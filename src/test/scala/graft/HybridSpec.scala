package graft

import graft.functions.Combine
import graft.hybrid._
import graft.index.InvertedIndex
import graft.query.Bm25

/** End-to-end hybrid pipeline on a tiny corpus with independently-derived
 *  expectations (FIXTURES.md §2 query shapes). */
class HybridSpec extends SparkSpec {

  test("knn clause with a mismatched vector dimension fails loudly, not with null scores") {
    import spark.implicits._
    val idx = graft.index.IndexCache.documents(spark, "/root/testdata/sf0.001")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".as("doc_id"), $"embedding".as("vec"))
    val q = HybridQuery(Seq(DenseVector(Seq(1.0, 2.0, 3.0))), // 3 dims vs 64
      MinMaxNormTech(), Combination(graft.functions.Combine.Arithmetic), k = 5, depth = 20)
    val ex = intercept[Exception](
      Hybrid.execute(HybridSources(idx, emb = Some(emb)), q, None).collect())
    assert(ex.getMessage != null)
  }
  import spark.implicits._

  private lazy val idx = InvertedIndex.build(
    Seq(
      (0L, "a b a c"),
      (1L, "a b"),
      (2L, "c d"),
      (3L, "d d e"),
      (4L, "e a c")
    ).toDF("doc_id", "text"), "doc_id", "text")

  test("hybrid min_max + arithmetic: best doc tops both sub-queries") {
    val q = HybridQuery(
      subQueries = Seq(SubQuery(Seq("a")), SubQuery(Seq("c"))),
      norm = MinMaxNormTech(), comb = Combination(Combine.Arithmetic), k = 5, depth = 10)
    val rows = Hybrid.execute(idx, q).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.nonEmpty)
    // doc 0 has max BM25 for 'a' (tf=2) and matches 'c': must rank first
    assert(rows.head._1 == 0L)
    // all combined scores in (0, 1]
    assert(rows.forall { case (_, s) => s > 0 && s <= 1.0 + 1e-9 })
    // a doc matching only one sub-query gets the missing score as 0.0, so its
    // combined arithmetic mean is halved: doc 1 (only 'a') scores < doc 0
    val m = rows.toMap
    assert(m(1L) < m(0L))
  }

  test("hybrid rrf: scores are sums of 1/(60+rank)") {
    val q = HybridQuery(
      subQueries = Seq(SubQuery(Seq("a")), SubQuery(Seq("c"))),
      norm = RrfNormTech(60), comb = Combination(Combine.Rrf), k = 5, depth = 10)
    val rows = Hybrid.execute(idx, q).collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // 'a' ranks by bm25: tf=2 doc0 first; all rrf scores must be sums of 1/(60+r)
    val valid = (1 to 4).map(r => BigDecimal(1) / (60 + r)).map(_.toDouble).toSet
    rows.values.foreach { s =>
      val ok = valid.exists(v => math.abs(s - v) < 1e-6) ||
        valid.toSeq.combinations(2).exists(p => math.abs(s - p.sum) < 1e-6)
      assert(ok, s"unexpected rrf score $s")
    }
  }

  test("depth bounds the per-sub-query collection") {
    val q = HybridQuery(
      subQueries = Seq(SubQuery(Seq("a"))),
      norm = MinMaxNormTech(), comb = Combination(Combine.Arithmetic), k = 10, depth = 2)
    // 'a' matches docs 0,1,4 but depth=2 keeps only top-2
    assert(Hybrid.execute(idx, q).count() == 2)
  }

  test("filter restricts every sub-query before top-k") {
    val filter = Seq(2L, 3L, 4L).toDF("doc_id")
    val q = HybridQuery(
      subQueries = Seq(SubQuery(Seq("a")), SubQuery(Seq("d"))),
      norm = MinMaxNormTech(), comb = Combination(Combine.Arithmetic), k = 10, depth = 10)
    val ids = Hybrid.execute(idx, q, Some(filter)).collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(Set(2L, 3L, 4L)))
    assert(ids.contains(3L)) // 'd' tf=2
  }

  test("pagination: from skips leading hits deterministically") {
    val q0 = HybridQuery(Seq(SubQuery(Seq("a")), SubQuery(Seq("c"))), k = 10, depth = 10)
    val all = Hybrid.execute(idx, q0).collect().map(_.getLong(0)).toSeq
    val page = Hybrid.execute(idx, q0.copy(from = 1, k = 2)).collect().map(_.getLong(0)).toSeq
    assert(page == all.slice(1, 3))
  }

  test("z_score only pairs with arithmetic_mean") {
    intercept[IllegalArgumentException] {
      Hybrid.execute(idx, HybridQuery(Seq(SubQuery(Seq("a"))),
        norm = ZScoreNormTech, comb = Combination(Combine.Geometric)))
    }
  }

  test("weights validation mirrors ScoreCombinationUtil.java:83-139") {
    intercept[IllegalArgumentException] {
      Hybrid.execute(idx, HybridQuery(
        Seq(SubQuery(Seq("a")), SubQuery(Seq("c"))),
        comb = Combination(Combine.Arithmetic, Seq(0.9, 0.9))))
    }
  }

  test("all-unknown terms yield an empty page, not an error") {
    val r = Hybrid.execute(idx,
      HybridQuery(Seq(SubQuery(Seq("zzz")), SubQuery(Seq("qqq"))))).collect()
    assert(r.isEmpty)
  }

  test("one empty sub-query still normalizes/combines the other") {
    val r = Hybrid.execute(idx,
      HybridQuery(Seq(SubQuery(Seq("a")), SubQuery(Seq("zzz"))))).collect()
    assert(r.nonEmpty)
    // docs containing 'a' must all appear; missing sub-query contributes 0.0
    assert(r.map(_.getLong(0)).toSet == Set(0L, 1L, 4L))
  }

  test("heterogeneous hybrid: sparse and dense clauses need their sources") {
    intercept[IllegalArgumentException] {
      Hybrid.execute(HybridSources(idx),
        HybridQuery(Seq(Lexical(Seq("a")), SparseLinear(Map("a" -> 1.0)))), None)
    }
    intercept[IllegalArgumentException] {
      Hybrid.execute(HybridSources(idx),
        HybridQuery(Seq(DenseCosine(0L))), None)
    }
  }

  test("match_phrase clause needs the positional source; 1-term phrase rejected") {
    intercept[IllegalArgumentException] {
      Hybrid.execute(HybridSources(idx),
        HybridQuery(Seq(LexicalPhrase(Seq("a", "b")))), None)
    }
  }

  test("heterogeneous hybrid: lexical + sparse + dense execute end-to-end") {
    val sparse = Seq((0L, "a", 3.0), (1L, "a", 1.0), (2L, "c", 2.0))
      .toDF("doc_id", "token", "w")
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.5f, 0.5f)), (4L, Array(1.0f, 0.2f)))
      .toDF("doc_id", "vec")
    val src = HybridSources(idx, sparse = Some(sparse), emb = Some(emb))
    val q = HybridQuery(
      Seq(Lexical(Seq("a")), SparseLinear(Map("a" -> 2.0)), DenseCosine(0L)),
      norm = MinMaxNormTech(), comb = Combination(Combine.Arithmetic), k = 5, depth = 10)
    val rows = Hybrid.execute(src, q, None).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.nonEmpty)
    // doc 0: top BM25 for 'a' (tf=2), top sparse weight (3.0), exact-match
    // dense vector (cos=1) -> normalized 1.0 on all three, must rank first
    assert(rows.head._1 == 0L)
    assert(math.abs(rows.head._2 - 1.0) < 1e-9)
  }

  test("collapse keeps docs_per_group_per_subquery then best-per-group") {
    val fields = Seq((0L, "g1"), (1L, "g1"), (2L, "g2"), (3L, "g2"), (4L, "g1"))
      .toDF("doc_id", "source")
    val src = HybridSources(idx, fields = Some(fields))
    val q = HybridQuery(Seq(Lexical(Seq("a")), Lexical(Seq("d"))),
      k = 5, depth = 10, collapse = Some(Collapse("source", 2)))
    val rows = Hybrid.execute(src, q, None).collect().map(_.getLong(0))
    // one doc per group in the final page
    val grp = fields.as[(Long, String)].collect().toMap
    assert(rows.map(grp).distinct.length == rows.length)
    // a keep of no docs per group is rejected, not an empty page
    intercept[IllegalArgumentException](
      Hybrid.execute(src, q.copy(collapse = Some(Collapse("source", 0))), None))
  }

  test("total-hits relation: merged count >= depth without truncation stays eq") {
    // 'a' matches 3 docs, 'd' matches 2: merged 5 unique >= depth 4, but
    // NEITHER sub-query collected depth rows — both counts are exact, so the
    // relation must be eq (merged size alone must not flip it to gte)
    val q = HybridQuery(Seq(SubQuery(Seq("a")), SubQuery(Seq("d"))), k = 10, depth = 4)
    val rows = Hybrid.executeWithTotal(HybridSources(idx), q).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("relation") == "eq"))
    assert(rows.head.getAs[Long]("total_hits") == 5L)
  }

  test("total-hits relation: a truncated sub-query reports gte; min_score recount reports eq") {
    // depth 2 truncates 'a' (3 matches) -> gte
    val qT = HybridQuery(Seq(SubQuery(Seq("a"))), k = 10, depth = 2)
    val rT = Hybrid.executeWithTotal(HybridSources(idx), qT).collect()
    assert(rT.forall(_.getAs[String]("relation") == "gte"))
    // min_score drops docs -> the recount is exact -> eq even when truncated
    val qM = HybridQuery(Seq(SubQuery(Seq("a"))), k = 10, depth = 2, minScore = Some(0.9))
    val rM = Hybrid.executeWithTotal(HybridSources(idx), qM).collect()
    assert(rM.forall(_.getAs[String]("relation") == "eq"))
  }

  test("sorted-by-score collapse picks the group winner BEFORE min_score drops it") {
    // group g1 = {0,1,4}, g2 = {2,3}; sort by _score desc. With collapse
    // first, each group's WINNER is its best-scored doc; a min_score that the
    // winner fails must drop the whole group — no lower-ranked group member
    // may survive in its place.
    val fields = Seq((0L, "g1"), (1L, "g1"), (2L, "g2"), (3L, "g2"), (4L, "g1"))
      .toDF("doc_id", "source")
    val src = HybridSources(idx, fields = Some(fields))
    val q = HybridQuery(Seq(SubQuery(Seq("a")), SubQuery(Seq("d"))),
      k = 10, depth = 10, collapse = Some(Collapse("source")), minScore = Some(2.0))
    // min_score 2.0 > any combined score in [0,1]: EVERYTHING drops; a
    // member-survives bug would keep a row per group instead
    val r = Hybrid.executeSorted(src, q, Seq(("_score", false)))
    assert(r.collect().isEmpty)
    // and with a passable min_score, exactly one doc per group survives
    val q2 = q.copy(minScore = Some(0.1))
    val rows = Hybrid.executeSorted(src, q2, Seq(("_score", false)))
      .collect().map(_.getAs[Long]("doc_id"))
    val grp = fields.as[(Long, String)].collect().toMap
    assert(rows.map(grp).distinct.length == rows.length)
  }

  test("explain mode flattens per-sub-query normalized scores") {
    val r = Hybrid.executeExplain(idx,
      HybridQuery(Seq(SubQuery(Seq("a")), SubQuery(Seq("d"))))).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val n0 = row.getDouble(1)
      val n1 = row.getDouble(2)
      val combined = row.getDouble(3)
      assert(math.abs(combined - (n0 + n1) / 2.0) < 1e-9) // arithmetic default
    }
  }
}
