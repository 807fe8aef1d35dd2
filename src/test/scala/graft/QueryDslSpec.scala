package graft

import graft.functions.Combine
import graft.hybrid._
import graft.query.QueryDsl

/** JSON DSL parse semantics (reference: HybridQueryBuilder.fromXContent). */
class QueryDslSpec extends SparkSpec {

  test("full request parses: subqueries, filter, pipeline, paging") {
    val p = QueryDsl.parse(
      """{ "query": { "hybrid": {
        |    "queries": [ { "match": { "text": "mergeSort quick" } },
        |                 { "term": { "text": "join" } } ],
        |    "filter": { "term": { "lang": "en" } },
        |    "pagination_depth": 77 } },
        |  "size": 25, "from": 5, "min_score": 0.25,
        |  "search_pipeline": {
        |    "normalization": { "technique": "rrf", "rank_constant": 42 },
        |    "combination": { "technique": "rrf", "weights": [0.6, 0.4] } } }""".stripMargin)
    assert(p.query.subQueries == Seq(
      SubQuery(Seq("mergesort", "quick")), SubQuery(Seq("join"))))
    assert(p.filterField.contains(("lang", "en")))
    assert(p.query.norm == RrfNormTech(42))
    assert(p.query.comb == Combination(Combine.Rrf, Seq(0.6, 0.4)))
    assert(p.query.k == 25 && p.query.from == 5 && p.query.depth == 77)
    assert(p.query.minScore.contains(0.25))
  }

  test("defaults: min_max + arithmetic, k=10, depth=50") {
    val p = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[{"term":{"text":"a"}}]}}}""")
    assert(p.query.norm == MinMaxNormTech())
    assert(p.query.comb.technique == Combine.Arithmetic)
    assert(p.query.k == 10 && p.query.depth == 50 && p.query.from == 0)
    assert(p.query.minScore.isEmpty && p.filterField.isEmpty)
  }

  test("code analyzer splits camelCase in match text") {
    val p = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[{"match":{"content":"parseQueryPlan"}}]}}}""",
      analyzer = graft.analysis.Analyzer.Code)
    assert(p.query.subQueries.head.asInstanceOf[Lexical].terms ==
      Seq("parsequeryplan", "parse", "query", "plan"))
  }

  test("neural_sparse and neural sub-queries parse to typed clauses") {
    val p = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"neural_sparse":{"sf":{"query_tokens":{"join":2.0,"hash":0.5}}}},
        |  {"neural":{"emb":{"query_id":7}}},
        |  {"match":{"text":"scan"}}]}}}""".stripMargin)
    assert(p.query.subQueries(0) == SparseLinear(Map("join" -> 2.0, "hash" -> 0.5)))
    assert(p.query.subQueries(1) == DenseCosine(7L))
    assert(p.query.subQueries(2) == Lexical(Seq("scan")))
  }

  test("bool filter parses to multiple equality filters") {
    val p = QueryDsl.parse(
      """{"query":{"hybrid":{
        |  "queries":[{"term":{"text":"a"}}],
        |  "filter":{"bool":{"must":[{"term":{"lang":"en"}},{"term":{"source":"s1"}}]}}}}}""".stripMargin)
    assert(p.filters == Seq(("lang", "en"), ("source", "s1")))
  }

  test("per-clause boost and request-level collapse parse") {
    val p = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"match":{"text":{"query":"a b","boost":2.0}}},
        |  {"term":{"text":{"value":"c","boost":3.0}}}]}},
        |"collapse":{"field":"source","docs_per_group_per_subquery":2}}""".stripMargin)
    assert(p.query.subQueries(0) == Lexical(Seq("a", "b"), Map("a" -> 2.0, "b" -> 2.0)))
    assert(p.query.subQueries(1) == Lexical(Seq("c"), Map("c" -> 3.0)))
    assert(p.query.collapse.contains(Collapse("source", 2)))
  }

  test("zero / negative per-clause boosts are rejected (Lucene rejects them; a negative weight breaks block-max pruning)") {
    intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[{"match":{"text":{"query":"a","boost":0.0}}}]}}}"""))
    intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[{"match":{"text":{"query":"a","boost":-2.0}}}]}}}"""))
    intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[{"term":{"text":{"value":"a","boost":-1.0}}}]}}}"""))
  }

  test("neural_sparse method_parameters k / top_n < 1 are rejected at parse; annTopK rejects k <= 0") {
    for (key <- Seq("k", "top_n"); v <- Seq(0, -3)) {
      val e = intercept[IllegalArgumentException](QueryDsl.parse(
        s"""{"query":{"hybrid":{"queries":[
           |  {"neural_sparse":{"sf":{"query_tokens":{"join":1.0},
           |     "method_parameters":{"$key":$v}}}}]}}}""".stripMargin))
      assert(e.getMessage.contains(s"[$key] must be an integer >= 1"), e.getMessage)
    }
    import spark.implicits._
    val cidx = Seq(graft.ops.ClusteredPosting("alpha", 0, Array(1L), Array(Array("alpha")),
      Array(Array(1.0)), Array("alpha"), Array(1.0))).toDS()
    intercept[IllegalArgumentException](graft.ops.Seismic.annTopK(cidx, Map("alpha" -> 1.0), 0))
    assert(graft.ops.Seismic.annTopK(cidx, Map("alpha" -> 1.0), 1).count() == 1)
  }

  test("match_phrase parses both forms; bad slop and 1-term phrases rejected") {
    // plain-text form
    val p1 = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[{"match_phrase":{"text":"hash join"}}]}}}""")
    assert(p1.query.subQueries.head == graft.hybrid.LexicalPhrase(Seq("hash", "join")))
    // object form with explicit slop 0
    val p2 = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"match_phrase":{"text":{"query":"merge sort window","slop":0}}}]}}}""".stripMargin)
    assert(p2.query.subQueries.head ==
      graft.hybrid.LexicalPhrase(Seq("merge", "sort", "window")))
    // slop > 0 parses into a sloppy phrase clause
    val p3 = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"match_phrase":{"text":{"query":"a b","slop":2}}}]}}}""".stripMargin)
    assert(p3.query.subQueries.head ==
      graft.hybrid.LexicalPhrase(Seq("a", "b"), slop = 2))
    // negative slop rejected; repeated terms at slop > 0 parse into the
    // sloppy clause (the Lucene hasRpts repeat machinery handles them)
    intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"match_phrase":{"text":{"query":"a b","slop":-1}}}]}}}""".stripMargin))
    val pr = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"match_phrase":{"text":{"query":"a b a","slop":1}}}]}}}""".stripMargin)
    assert(pr.query.subQueries.head ==
      graft.hybrid.LexicalPhrase(Seq("a", "b", "a"), slop = 1))
    // a single analyzed term is not a phrase
    intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[{"match_phrase":{"text":"hash"}}]}}}"""))
    // empty text rejected
    intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[{"match_phrase":{"text":{"query":""}}}]}}}"""))
  }

  test("hybrid-level boost != 1.0 is rejected (HybridQueryBuilder.java:247-253)") {
    intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"boost":2.0,"queries":[{"term":{"text":"a"}}]}}}"""))
    // boost == 1.0 (the default) is accepted
    QueryDsl.parse(
      """{"query":{"hybrid":{"boost":1.0,"queries":[{"term":{"text":"a"}}]}}}""")
  }

  test("neural_query_enricher fills the missing model_id for query_text clauses") {
    // count x (1 + len%5/4): merge x2 -> 2.0, window -> 1.25, dup -> 1.75
    val p = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"neural_sparse":{"sf":{"query_text":"merge window dup merge"}}}]}},
        |"search_pipeline":{"request_processors":[
        |  {"neural_query_enricher":{"default_model_id":"m-default"}}]}}""".stripMargin)
    assert(p.query.subQueries.head ==
      SparseLinear(Map("merge" -> 2.0, "window" -> 1.25, "dup" -> 1.75)))
  }

  test("enricher field default beats the global default; clause model_id beats both") {
    val e = QueryDsl.Enricher(Some("global"), Map("sf" -> "per-field"))
    assert(e.resolve("sf", None).contains("per-field"))
    assert(e.resolve("other", None).contains("global"))
    assert(e.resolve("sf", Some("clause")).contains("clause"))
    // with an explicit clause model_id, no enricher is needed at all
    val p = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"neural_sparse":{"sf":{"query_text":"scan","model_id":"m1"}}}]}}}""".stripMargin)
    assert(p.query.subQueries.head == SparseLinear(Map("scan" -> 2.0)))
  }

  test("query_text without any model_id source is rejected") {
    val ex = intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"neural_sparse":{"sf":{"query_text":"scan"}}}]}}}""".stripMargin))
    assert(ex.getMessage.contains("model_id"))
  }

  test("knn clause parses a raw vector; empty vector rejected") {
    val p = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"knn":{"emb":{"vector":[0.5,-0.25,1.0],"k":10}}}]}}}""".stripMargin)
    assert(p.query.subQueries.head == DenseVector(Seq(0.5, -0.25, 1.0)))
    intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[{"knn":{"emb":{"vector":[]}}}]}}}"""))
  }

  test("radial knn parses min_score/max_distance; k+radial combos rejected") {
    // neural + min_score -> radial clause
    val p1 = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"neural":{"emb":{"query_id":3,"min_score":0.2}}}]}}}""".stripMargin)
    assert(p1.query.subQueries.head == DenseRadial(3L, Some(0.2), None))
    // neural + max_distance -> radial with the 1-distance cosine bound
    val p2 = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"neural":{"emb":{"query_id":3,"max_distance":0.8}}}]}}}""".stripMargin)
    assert(p2.query.subQueries.head == DenseRadial(3L, None, Some(0.8)))
    // knn raw-vector + min_score -> radial-bounded DenseVector
    val p3 = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"knn":{"emb":{"vector":[0.5,1.0],"min_score":0.1}}}]}}}""".stripMargin)
    assert(p3.query.subQueries.head == DenseVector(Seq(0.5, 1.0), Some(0.1), None))
    // the reference's exclusivity rule: only one of k/max_distance/min_score
    // (util/NeuralQueryValidationUtil.java:139-148)
    val ex1 = intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"neural":{"emb":{"query_id":3,"min_score":0.2,"max_distance":0.5}}}]}}}""".stripMargin))
    assert(ex1.getMessage.contains("Only one of"))
    val ex2 = intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"neural":{"emb":{"query_id":3,"k":10,"min_score":0.2}}}]}}}""".stripMargin))
    assert(ex2.getMessage.contains("Only one of"))
    val ex3 = intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"knn":{"emb":{"vector":[0.5],"k":5,"max_distance":0.4}}}]}}}""".stripMargin))
    assert(ex3.getMessage.contains("Only one of"))
    // negative max_distance rejected
    intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"neural":{"emb":{"query_id":3,"max_distance":-0.1}}}]}}}""".stripMargin))
  }

  test("neural with query_text routes to the semantic field; query_id+query_text rejected") {
    val p = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"neural":{"body":{"query_text":"merge sort merge"}}}]}}}""".stripMargin)
    assert(p.query.subQueries.head == SemanticText("body", Seq("merge", "sort", "merge")))
    val ex = intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"neural":{"body":{"query_text":"merge","query_id":3}}}]}}}""".stripMargin))
    assert(ex.getMessage.contains("not both"))
    // an unregistered field fails at validation, not silently
    val q = HybridQuery(Seq(SemanticText("nope", Seq("a"))), MinMaxNormTech(),
      Combination(graft.functions.Combine.Arithmetic), k = 5, depth = 20)
    val idx = graft.index.IndexCache.documents(spark, "/root/testdata/sf0.001")
    val ex2 = intercept[IllegalArgumentException](
      Hybrid.execute(HybridSources(idx), q, None))
    assert(ex2.getMessage.contains("not a registered semantic field"))
  }

  test("request-level sort parses both forms; bad order rejected") {
    val p = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[{"term":{"t":"a"}}]}},
        |"sort":[{"n_chars":{"order":"desc"}},{"doc_id":"asc"}]}""".stripMargin)
    assert(p.sort == Seq(("n_chars", false), ("doc_id", true)))
    intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[{"term":{"t":"a"}}]}},
        |"sort":[{"n_chars":"sideways"}]}""".stripMargin))
  }

  test("sort composes with collapse and _score (reference semantics)") {
    val p = QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[{"term":{"t":"a"}}]}},
        |"sort":[{"_score":"desc"},{"n_chars":"asc"}],
        |"collapse":{"field":"source"}, "min_score": 0.5}""".stripMargin)
    assert(p.sort == Seq(("_score", false), ("n_chars", true)))
    assert(p.query.collapse.contains(Collapse("source", 1)))
    assert(p.query.minScore.contains(0.5))
  }

  test("object-form match/term without the query/value key is rejected") {
    intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[{"match":{"text":{"querry":"join","boost":2.0}}}]}}}"""))
    intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[{"term":{"t":{"boost":2.0}}}]}}}"""))
  }

  test("match operator/msm forms parse; conflicts and typos rejected") {
    val pb = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[
        |  {"match":{"text":{"query":"a b c","operator":"and"}}},
        |  {"match":{"text":{"query":"a b c","minimum_should_match":2}}},
        |  {"match_all":{"boost":1.5}}]}}}""".stripMargin)
    assert(pb.bool.must(0) == graft.hybrid.LexicalMsm(Seq("a", "b", "c"), 3))
    assert(pb.bool.must(1) == graft.hybrid.LexicalMsm(Seq("a", "b", "c"), 2))
    assert(pb.bool.must(2) == graft.hybrid.MatchAll(1.5))

    def bad(clause: String): Unit = intercept[IllegalArgumentException] {
      QueryDsl.parseBool(s"""{"query":{"bool":{"must":[$clause]}}}""")
    }
    // operator typo, msm+and conflict, msm out of range, non-positive boost
    bad("""{"match":{"text":{"query":"a","operator":"AND_"}}}""")
    bad("""{"match":{"text":{"query":"a b","operator":"and","minimum_should_match":1}}}""")
    bad("""{"match":{"text":{"query":"a b","minimum_should_match":3}}}""")
    bad("""{"match_all":{"boost":0}}""")
    // filter inside a nested bool parses into the FILTER occur (required,
    // non-scoring — supported since round 4)
    val pf = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[
        |{"bool":{"must":[{"term":{"text":"a"}}],"filter":{"term":{"text":"b"}}}}]}}}""".stripMargin)
    assert(pf.bool.must.head == graft.hybrid.BoolSub(
      must = Seq(graft.hybrid.Lexical(Seq("a"))),
      filter = Seq(graft.hybrid.Lexical(Seq("b")))))
  }

  test("prefix/wildcard/constant_score parse; range filter parses both forms") {
    val pb = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[
        |  {"prefix":{"text":"sc"}},
        |  {"wildcard":{"text":{"value":"s?a*","boost":2.0}}},
        |  {"constant_score":{"filter":{"term":{"text":"a"}},"boost":1.5}}],
        |  "filter":{"bool":{"must":[
        |    {"term":{"lang":"en"}},
        |    {"range":{"doc_id":{"gte":10,"lt":20}}}]}}}}}""".stripMargin)
    assert(pb.bool.must(0) == graft.hybrid.TermPattern("sc%", 1.0))
    assert(pb.bool.must(1) == graft.hybrid.TermPattern("s_a%", 2.0))
    assert(pb.bool.must(2) ==
      graft.hybrid.ConstantScore(graft.hybrid.Lexical(Seq("a")), 1.5))
    assert(pb.filters == Seq(("lang", "en")))
    assert(pb.ranges == Seq(QueryDsl.RangeF("doc_id", Some(10.0), None, None, Some(20.0))))

    def bad(q: String): Unit = intercept[IllegalArgumentException] {
      QueryDsl.parseBool(s"""{"query":{"bool":{"must":[$q]}}}""")
    }
    // out-of-alphabet pattern, empty value, missing constant_score filter
    bad("""{"prefix":{"text":"Sc%"}}""")
    bad("""{"wildcard":{"text":""}}""")
    bad("""{"constant_score":{"boost":2.0}}""")
    // range with no bound / conflicting bounds
    intercept[IllegalArgumentException](QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"term":{"text":"a"}}],
        |"filter":{"range":{"doc_id":{}}}}}}""".stripMargin))
    intercept[IllegalArgumentException](QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"term":{"text":"a"}}],
        |"filter":{"range":{"doc_id":{"gte":1,"gt":2}}}}}}""".stripMargin))
  }

  test("dis_max/boosting/fuzzy parse; malformed forms rejected") {
    val pb = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[
        |  {"dis_max":{"queries":[{"term":{"text":"a"}},{"term":{"text":"b"}}],"tie_breaker":0.3}},
        |  {"boosting":{"positive":{"term":{"text":"a"}},"negative":{"term":{"text":"b"}},"negative_boost":0.4}},
        |  {"fuzzy":{"text":{"value":"ab","fuzziness":2,"boost":1.5}}}]}}}""".stripMargin)
    assert(pb.bool.must(0) == graft.hybrid.DisMax(
      Seq(graft.hybrid.Lexical(Seq("a")), graft.hybrid.Lexical(Seq("b"))), 0.3))
    assert(pb.bool.must(1) == graft.hybrid.Boosting(
      graft.hybrid.Lexical(Seq("a")), graft.hybrid.Lexical(Seq("b")), 0.4))
    assert(pb.bool.must(2) == graft.hybrid.Fuzzy("ab", 2, 1.5))

    def bad(q: String): Unit = intercept[IllegalArgumentException] {
      QueryDsl.parseBool(s"""{"query":{"bool":{"must":[$q]}}}""")
    }
    bad("""{"dis_max":{"queries":[]}}""")
    bad("""{"boosting":{"positive":{"term":{"text":"a"}},"negative_boost":0.4}}""")
    bad("""{"boosting":{"positive":{"term":{"text":"a"}},"negative":{"term":{"text":"b"}}}}""")
    bad("""{"fuzzy":{"text":""}}""")
  }

  test("search_after chains pages exactly: page2 == rows k+1..2k of one big page") {
    import graft.hybrid.{Hybrid, HybridQuery, HybridSources, Lexical}
    import spark.implicits._
    val docs = (0L until 60L).map(i =>
      (i, if (i % 3 == 0) "alpha beta" else "alpha", i % 7)).toDF("doc_id", "text", "grp")
    val idx2 = graft.index.InvertedIndex.build(docs, "doc_id", "text")
    val src = HybridSources(idx2, fields = Some(docs))
    val q = HybridQuery(Seq(Lexical(Seq("alpha"))), k = 10, depth = 100)
    val sort = Seq(("grp", false))
    val big = Hybrid.executeSorted(src, q.copy(k = 20), sort).collect()
    val p1 = Hybrid.executeSorted(src, q, sort).collect()
    assert(p1.toSeq == big.take(10).toSeq)
    val last = p1.last
    val cursor = Seq(last.getAs[Any]("grp"), last.getAs[Long]("doc_id"))
    val p2 = Hybrid.executeSorted(src, q, sort, None, cursor).collect()
    assert(p2.map(_.getLong(0)).toSeq == big.slice(10, 20).map(_.getLong(0)).toSeq)
    // _score sort path too: cursor = (score, doc_id) of the k-th hit
    val sortS = Seq(("_score", false))
    val bigS = Hybrid.executeSorted(src, q.copy(k = 20), sortS).collect()
    val p1s = Hybrid.executeSorted(src, q, sortS).collect()
    val cS = Seq(p1s.last.getAs[Double]("score"), p1s.last.getLong(0))
    val p2s = Hybrid.executeSorted(src, q, sortS, None, cS).collect()
    assert(p2s.map(_.getLong(0)).toSeq == bigS.slice(10, 20).map(_.getLong(0)).toSeq)
    // search_after + from is rejected; wrong arity is rejected
    intercept[IllegalArgumentException] {
      Hybrid.executeSorted(src, q.copy(from = 5), sort, None, cursor)
    }
    intercept[IllegalArgumentException] {
      Hybrid.executeSorted(src, q, sort, None, Seq(1L))
    }
    // DSL: search_after without sort is rejected
    intercept[IllegalArgumentException] {
      QueryDsl.execute(src,
        """{"query":{"hybrid":{"queries":[{"match":{"text":"alpha"}}]}},
          |"search_after":[3, 10],
          |"search_pipeline":{"normalization":{"technique":"min_max"},
          |"combination":{"technique":"arithmetic_mean"}}}""".stripMargin, docs)
    }
  }

  test("ids/terms parse with boosts; empty value arrays rejected") {
    val pb = QueryDsl.parseBool(
      """{"query":{"bool":{"should":[
        |  {"ids":{"values":[3, 7],"boost":2.0}},
        |  {"terms":{"text":["a","b"],"boost":1.5}}]}}}""".stripMargin)
    assert(pb.bool.should(0) == graft.hybrid.IdsQ(Seq(3L, 7L), 2.0))
    assert(pb.bool.should(1) == graft.hybrid.TermsSet(Seq("a", "b"), 1.5))
    def bad(q: String): Unit = intercept[IllegalArgumentException] {
      QueryDsl.parseBool(s"""{"query":{"bool":{"must":[$q]}}}""")
    }
    bad("""{"ids":{"values":[]}}""")
    bad("""{"terms":{"text":[]}}""")
    bad("""{"terms":{"boost":2.0}}""")
  }

  test("simple_query_string parses +/-/phrase/bare into the bool algebra") {
    val pb = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[
        |  {"simple_query_string":{"query":"b -d +a \"a c\" \"e\""}}]}}}""".stripMargin)
    val b = pb.bool.must.head.asInstanceOf[graft.hybrid.BoolSub]
    assert(b.must == Seq(graft.hybrid.Lexical(Seq("a"))))
    // bare term, 2-term phrase, and the 1-term "phrase" degraded to a term
    assert(b.should == Seq(graft.hybrid.Lexical(Seq("b")),
      graft.hybrid.LexicalPhrase(Seq("a", "c")), graft.hybrid.Lexical(Seq("e"))))
    assert(b.mustNot == Seq(graft.hybrid.Lexical(Seq("d"))))
    intercept[IllegalArgumentException] {
      QueryDsl.parseBool(
        """{"query":{"bool":{"must":[{"simple_query_string":{"query":""}}]}}}""")
    }
  }

  test("query_string parses the classic mini-language into the bool algebra") {
    import graft.hybrid._
    def p(s: String, and: Boolean = false) =
      QueryDsl.parseQueryString(s, defaultAnd = and, graft.analysis.Analyzer.Simple)
    assert(p("(join AND hash) OR (merge -dup)") == BoolSub(should = Seq(
      BoolSub(must = Seq(Lexical(Seq("join")), Lexical(Seq("hash")))),
      BoolSub(should = Seq(Lexical(Seq("merge"))),
        mustNot = Seq(Lexical(Seq("dup")))))))
    // adjacency takes the default operator
    assert(p("merge dup", and = true) ==
      BoolSub(must = Seq(Lexical(Seq("merge")), Lexical(Seq("dup")))))
    assert(p("merge dup") ==
      BoolSub(should = Seq(Lexical(Seq("merge")), Lexical(Seq("dup")))))
    // occur flags at the OR level: + must, - must_not, bare should
    assert(p("+join hash -dup") == BoolSub(
      must = Seq(Lexical(Seq("join"))),
      should = Seq(Lexical(Seq("hash"))),
      mustNot = Seq(Lexical(Seq("dup")))))
    // field:term^boost, wildcard, quoted phrase
    assert(p("path:pkg7^2 sc?n \"table hash\"") == BoolSub(should = Seq(
      LexicalMulti(Seq("path" -> 2.0), Seq("pkg7"), MostFields),
      TermPattern("sc_n", 1.0),
      LexicalPhrase(Seq("table", "hash")))))
    // a single bare term stays a plain leaf
    assert(p("join") == Lexical(Seq("join")))
    // NOT chains to the next atom; && / || are operator synonyms
    assert(p("join && NOT dup") == BoolSub(
      must = Seq(Lexical(Seq("join"))), mustNot = Seq(Lexical(Seq("dup")))))
    intercept[IllegalArgumentException](p("(join OR hash"))
    intercept[IllegalArgumentException](p("NOT +join"))
    intercept[IllegalArgumentException](p("\"table hash\"^2"))
    intercept[IllegalArgumentException](p(""))
  }

  test("query-text extraction: registry semantics over the parsed tree " +
    "(QueryTextExtractorRegistry)") {
    import graft.query.QueryText
    val parsed = QueryDsl.parse(
      """{ "query": { "hybrid": {
        |    "queries": [ { "match": { "text": "merge sort" } },
        |                 { "bool": { "must": [ { "match": { "text": "join" } } ],
        |                             "must_not": [ { "match": { "text": "window" } } ] } },
        |                 { "match_phrase": { "text": { "query": "table hash" } } } ] } },
        |  "size": 10 }""".stripMargin)
    // match contributes its terms; the bool skips the prohibited clause;
    // the phrase has no registered extractor and contributes nothing
    assert(QueryText.extractHybrid(parsed.query, "text") == "merge sort join")
    assert(QueryText.highlightTerms(parsed.query, "text") ==
      Seq("merge", "sort", "join"))

    // term field check: a different highlighted field drops lexical text
    assert(QueryText.extractHybrid(parsed.query, "title") == "")

    // hybrid de-dup: identical sub-query texts join once (reference uses a
    // set; first-seen order keeps it deterministic here)
    val dup = QueryDsl.parse(
      """{ "query": { "hybrid": {
        |    "queries": [ { "match": { "text": "merge sort" } },
        |                 { "match": { "text": "merge sort" } } ] } } }""".stripMargin)
    assert(QueryText.extractHybrid(dup.query, "text") == "merge sort")

    // multi_match: most_fields (BooleanQuery shape) contributes on a
    // matching field; best_fields (DisMax — unregistered) never does
    val most = HybridQuery(Seq(
      LexicalMulti(Seq("title" -> 1.0, "text" -> 1.0), Seq("scan"), MostFields)))
    assert(QueryText.extractHybrid(most, "title") == "scan")
    val best = HybridQuery(Seq(
      LexicalMulti(Seq("title" -> 1.0), Seq("scan"), BestFields())))
    assert(QueryText.extractHybrid(best, "title") == "")

    // nested bool recursion + neural original-text passthrough
    val nested = HybridQuery(Seq(BoolSub(
      must = Seq(BoolSub(should = Seq(Lexical(Seq("hash"))),
        mustNot = Seq(Lexical(Seq("dup"))))),
      should = Seq(SemanticText("body_semantic", Seq("bloom", "filter"))))))
    assert(QueryText.extractHybrid(nested, "text") == "hash bloom filter")
  }

  test("function_score parses functions + modes; malformed forms rejected") {
    import graft.hybrid._
    val pb = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"function_score":{
        |  "query":{"match":{"text":"join"}},
        |  "functions":[
        |    {"filter":{"term":{"text":"dup"}},"weight":0.5},
        |    {"field_value_factor":{"field":"n_chars","factor":0.01,
        |      "modifier":"log1p","missing":1}},
        |    {"gauss":{"n_chars":{"origin":300,"scale":150,"offset":25,
        |      "decay":0.5}},"weight":2}],
        |  "score_mode":"sum","boost_mode":"multiply","max_boost":3}}]}}}""".stripMargin)
    val fs = pb.bool.must.head.asInstanceOf[FunctionScore]
    assert(fs.inner == Lexical(Seq("join")))
    assert(fs.functions == Seq(
      WeightFn(0.5, Some(Lexical(Seq("dup")))),
      FieldValueFactorFn("n_chars", 0.01, "log1p", Some(1.0)),
      DecayFn("gauss", "n_chars", 300, 150, 25, 0.5, 2.0)))
    assert(fs.scoreMode == "sum" && fs.boostMode == "multiply" && fs.maxBoost == 3.0)

    // single-function shorthand: keys inline on the function_score body
    val short = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"function_score":{
        |  "query":{"match":{"text":"join"}},
        |  "linear":{"n_chars":{"origin":0,"scale":100}}}}]}}}""".stripMargin)
      .bool.must.head.asInstanceOf[FunctionScore]
    assert(short.functions == Seq(DecayFn("linear", "n_chars", 0, 100, 0, 0.5, 1.0)))
    assert(short.maxBoost == Double.MaxValue)

    def bad(q: String): Unit = intercept[IllegalArgumentException] {
      QueryDsl.parseBool(s"""{"query":{"bool":{"must":[$q]}}}""")
    }
    val innerQ = """"query":{"match":{"text":"a"}}"""
    bad(s"""{"function_score":{"functions":[{"weight":2}]}}""")           // no query
    bad(s"""{"function_score":{$innerQ,"functions":[]}}""")               // empty functions
    bad(s"""{"function_score":{$innerQ,"functions":[{"filter":{"term":{"text":"a"}}}]}}""") // functionless
    bad(s"""{"function_score":{$innerQ,"functions":[{"weight":2}],"score_mode":"prod"}}""")
    bad(s"""{"function_score":{$innerQ,"functions":[{"weight":2}],"boost_mode":"times"}}""")
    bad(s"""{"function_score":{$innerQ,"functions":[{"field_value_factor":{"field":"n","modifier":"cube"}}]}}""")
    bad(s"""{"function_score":{$innerQ,"functions":[{"gauss":{"n":{"origin":0,"scale":100,"decay":1.5}}}]}}""")
    bad(s"""{"function_score":{$innerQ,"functions":[{"gauss":{"n":{"origin":0,"scale":-5}}}]}}""")
    bad(s"""{"function_score":{$innerQ,"functions":[{"gauss":{"n":{"origin":0,"scale":1}},"exp":{"n":{"origin":0,"scale":1}}}]}}""")
  }

  test("match_bool_prefix parses to term-shoulds + last-token prefix; " +
    "slice parses and covers disjointly") {
    import graft.hybrid._
    val pb = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"match_bool_prefix":{"text":
        |{"query":"hash jo","minimum_should_match":2}}}]}}}""".stripMargin)
    assert(pb.bool.must.head == BoolSub(
      should = Seq(Lexical(Seq("hash")), TermPattern("jo%")),
      minimumShouldMatch = Some(2)))
    // single token -> prefix only
    val one = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"match_bool_prefix":{"text":"jo"}}]}}}""")
    assert(one.bool.must.head == BoolSub(should = Seq(TermPattern("jo%"))))
    intercept[IllegalArgumentException](QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"match_bool_prefix":{"text":
        |{"query":"a b","minimum_should_match":3}}}]}}}""".stripMargin))

    // slice: parse + rejections
    val sl = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"match":{"text":"a"}}]}},
        |"slice":{"id":2,"max":5}}""".stripMargin)
    assert(sl.slice.contains((2, 5)))
    def badSlice(s: String): Unit = intercept[IllegalArgumentException](
      QueryDsl.parseBool(
        s"""{"query":{"bool":{"must":[{"match":{"text":"a"}}]}},"slice":$s}"""))
    badSlice("""{"id":4,"max":4}""")
    badSlice("""{"id":-1,"max":4}""")
    badSlice("""{"id":0,"max":1}""")
    badSlice("""{"id":0}""")

    // slices are disjoint and cover: union of all 4 == unsliced matched set
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, "alpha")).toDF("doc_id", "text")
    val idx2 = graft.index.InvertedIndex.build(docs, "doc_id", "text")
    val src = graft.hybrid.HybridSources(idx2)
    def ids(json: String): Set[Long] =
      QueryDsl.execute(src, json, docs).collect().map(_.getAs[Long]("doc_id")).toSet
    val all = ids("""{"query":{"bool":{"must":[{"match":{"text":"alpha"}}]}},"size":100}""")
    val slices = (0 until 4).map(i => ids(
      s"""{"query":{"bool":{"must":[{"match":{"text":"alpha"}}]}},
         |"slice":{"id":$i,"max":4},"size":100}""".stripMargin))
    assert(slices.map(_.size).sum == all.size && slices.reduce(_ ++ _) == all,
      "4 slices must partition the matched set")
    assert(slices.combinations(2).forall { case Seq(a, b) => (a & b).isEmpty })
    // bare-leaf path honors slice too
    val bare = ids("""{"query":{"match":{"text":"alpha"}},"slice":{"id":1,"max":4},"size":100}""")
    assert(bare == slices(1))
  }

  test("intervals lowers onto the span matcher; span_first/span_not parse " +
    "with validation") {
    import graft.hybrid._
    val iv = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"intervals":{"text":{"match":
        |{"query":"hash join","ordered":true,"max_gaps":2}}}}]}}}""".stripMargin)
    assert(iv.bool.must.head == SpanNearQ(Seq("hash", "join"), 2, inOrder = true))
    val sf = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"span_first":{"match":
        |{"span_term":{"text":"merge"}},"end":3}}]}}}""".stripMargin)
    assert(sf.bool.must.head == SpanFirstQ("merge", 3))
    val sn = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"span_not":{
        |"include":{"span_term":{"text":"join"}},
        |"exclude":{"span_term":{"text":"hash"}},"pre":1,"post":1}}]}}}""".stripMargin)
    assert(sn.bool.must.head == SpanNotQ("join", "hash", 1, 1))
    def bad(q: String): Unit = intercept[IllegalArgumentException] {
      QueryDsl.parseBool(s"""{"query":{"bool":{"must":[$q]}}}""")
    }
    bad("""{"intervals":{"text":{"match":{"query":"solo"}}}}""")
    bad("""{"intervals":{"text":{"match":{"query":"a b","max_gaps":-2}}}}""")
    // -1 = unlimited (and the parsed DEFAULT, matching the reference):
    // cannot lower onto the width-budget span matcher — routes through the
    // interval algebra
    val ivU = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"intervals":{"text":{"match":
        |{"query":"a b","ordered":true,"max_gaps":-1}}}}]}}}""".stripMargin)
    assert(ivU.bool.must.head == IntervalsQ(
      graft.query.Intervals.IMatch(Seq("a", "b"), -1, ordered = true)))
    val ivD = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"intervals":{"text":{"match":
        |{"query":"a b","ordered":true}}}}]}}}""".stripMargin)
    assert(ivD == ivU)
    bad("""{"span_first":{"match":{"span_term":{"text":"a"}},"end":0}}""")
    bad("""{"span_not":{"include":{"span_term":{"text":"a"}},
      |"exclude":{"span_term":{"text":"a"}}}}""".stripMargin)
    bad("""{"span_not":{"include":{"span_term":{"text":"a"}},
      |"exclude":{"span_term":{"text":"b"}},"pre":-1}}""".stripMargin)
    // multi-term rules parse to pattern leaves (resolved at execute time)
    import graft.query.Intervals
    val ivP = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"intervals":{"text":{"all_of":{
        |"ordered":true,"max_gaps":2,"intervals":[
        |{"prefix":{"prefix":"sc"}},
        |{"wildcard":{"pattern":"jo*n","max_expansions":16}},
        |{"fuzzy":{"term":"hsah","fuzziness":1,"prefix_length":1,
        | "transpositions":false}}]}}}}]}}}""".stripMargin)
    assert(ivP.bool.must.head == IntervalsQ(Intervals.IAllOf(Seq(
      Intervals.IPrefix("sc"),
      Intervals.IWildcard("jo*n", 16),
      Intervals.IFuzzy("hsah", 1, 1, transpositions = false)),
      maxGaps = 2, ordered = true)))
    // a filter key on any rule wraps it in IFiltered; a filtered single
    // match routes through the interval algebra (not the span matcher)
    val ivF = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"intervals":{"text":{"match":
        |{"query":"hash join","ordered":true,"max_gaps":2,
        | "filter":{"not_containing":{"match":{"query":"scan"}}}}}}}]}}}""".stripMargin)
    assert(ivF.bool.must.head == IntervalsQ(Intervals.IFiltered(
      Intervals.IMatch(Seq("hash", "join"), 2, ordered = true),
      Intervals.FNotContaining, Intervals.IMatch(Seq("scan")))))
    bad("""{"intervals":{"text":{"prefix":{"prefix":""}}}}""")
    bad("""{"intervals":{"text":{"wildcard":{"pattern":"A*"}}}}""")
    bad("""{"intervals":{"text":{"fuzzy":{"term":"ab","fuzziness":3}}}}""")
    bad("""{"intervals":{"text":{"match":{"query":"a b",
      |"filter":{"nope":{"match":{"query":"c"}}}}}}}""".stripMargin)
    bad("""{"intervals":{"text":{"match":{"query":"a b",
      |"filter":{"before":{"match":{"query":"c"}},
      |          "after":{"match":{"query":"d"}}}}}}}""".stripMargin)
    // span_multi inside span_near lowers the whole query onto the interval
    // algebra (identical width contract); all-span_term keeps SpanNearQ
    val sm = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"span_near":{"clauses":[
        |{"span_multi":{"match":{"wildcard":{"text":{"value":"s?a*"}}}}},
        |{"span_term":{"text":"join"}}],"slop":2,"in_order":true}}]}}}""".stripMargin)
    assert(sm.bool.must.head == IntervalsQ(Intervals.IAllOf(Seq(
      Intervals.IWildcard("s?a*"), Intervals.IMatch(Seq("join"))),
      maxGaps = 2, ordered = true)))
    // standalone span_multi: each multi-term kind parses to its leaf
    val smP = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"span_multi":{"match":
        |{"prefix":{"text":{"value":"sc"}}},"boost":2.0}}]}}}""".stripMargin)
    assert(smP.bool.must.head == IntervalsQ(Intervals.IPrefix("sc"), 2.0))
    val smF = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"span_multi":{"match":
        |{"fuzzy":{"text":{"value":"hasj","fuzziness":1,
        |"prefix_length":1}}}}}]}}}""".stripMargin)
    assert(smF.bool.must.head == IntervalsQ(Intervals.IFuzzy("hasj", 1, 1)))
    // simple_query_string term-level operators: prefix (*), fuzzy (~N),
    // phrase slop ("..."~N), explicit OR (|) parses as the default
    val sqs = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"simple_query_string":{
        |"query":"fil* | merg~1 +\"hash join\"~2 -dup plain"}}]}}}""".stripMargin)
    assert(sqs.bool.must.head == BoolSub(
      must = Seq(LexicalPhrase(Seq("hash", "join"), 2)),
      should = Seq(TermPattern("fil%"), Fuzzy("merg", 1), Lexical(Seq("plain"))),
      mustNot = Seq(Lexical(Seq("dup")))))
    // range as a scoring clause: JSON leaf + query_string comparison syntax
    val rq = QueryDsl.parseBool(
      """{"query":{"bool":{
        |"must":[{"query_string":{"query":"merge AND n_chars:>=300^2"}}],
        |"should":[{"range":{"n_chars":{"gte":100,"lt":220,"boost":0.5}}}]}}}"""
        .stripMargin)
    assert(rq.bool.must.head == BoolSub(must = Seq(Lexical(Seq("merge")),
      RangeQ("n_chars", gte = Some(300), boost = 2.0))))
    assert(rq.bool.should.head ==
      RangeQ("n_chars", gte = Some(100), lt = Some(220), boost = 0.5))
    bad("""{"range":{"n_chars":{}}}""")
    intercept[IllegalArgumentException](
      RangeQ("n_chars", gte = Some(1.0), gt = Some(2.0)))
    // nested lowers onto the has_child machinery with nested's OWN defaults
    // (score_mode avg, no children bounds)
    val nq = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"nested":{"path":"chunks",
        |"query":{"match":{"chunk":"hash join"}}}}]}}}""".stripMargin)
    assert(nq.bool.must.head ==
      HasChildQ("chunks", Seq("hash", "join"), "avg", 1, Int.MaxValue))
    bad("""{"nested":{"query":{"match":{"chunk":"a"}}}}""")
    bad("""{"nested":{"path":"chunks","query":{"term":{"chunk":"a"}}}}""")
    bad("""{"span_multi":{"match":{"term":{"text":"a"}}}}""")
    bad("""{"span_multi":{"match":{"wildcard":{"text":{"value":""}}}}}""")
    bad("""{"span_near":{"clauses":[{"span_multi":{"match":
      |{"regexp":{"text":{"value":"[bad"}}}}},
      |{"span_term":{"text":"a"}}],"slop":1}}""".stripMargin)
  }

  test("span_containing/span_within lower onto one matcher; span_or lowers " +
    "to the any-of terms matcher") {
    import graft.hybrid._
    val want = SpanContainingQ(Seq("hash", "join"), 3, inOrder = true, "merge")
    val sc = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"span_containing":{
        |"big":{"span_near":{"clauses":[{"span_term":{"text":"hash"}},
        |{"span_term":{"text":"join"}}],"slop":3,"in_order":true}},
        |"little":{"span_term":{"text":"merge"}}}}]}}}""".stripMargin)
    assert(sc.bool.must.head == want)
    val sw = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"span_within":{
        |"little":{"span_term":{"text":"merge"}},
        |"big":{"span_near":{"clauses":[{"span_term":{"text":"hash"}},
        |{"span_term":{"text":"join"}}],"slop":3,"in_order":true}}}}]}}}""".stripMargin)
    assert(sw.bool.must.head == want)
    val so = QueryDsl.parseBool(
      """{"query":{"bool":{"should":[{"span_or":{"clauses":[
        |{"span_term":{"text":"scan"}},{"span_term":{"text":"sort"}},
        |{"span_term":{"text":"scan"}}]}}]}}}""".stripMargin)
    assert(so.bool.should.head == TermsSet(Seq("scan", "sort")))
    def bad(q: String): Unit = intercept[IllegalArgumentException] {
      QueryDsl.parseBool(s"""{"query":{"bool":{"must":[$q]}}}""")
    }
    bad("""{"span_or":{"clauses":[]}}""")
    bad("""{"span_containing":{"big":{"span_near":{"clauses":[
      |{"span_term":{"text":"a"}},{"span_term":{"text":"b"}}],"slop":1}}}}""".stripMargin)
    bad("""{"span_containing":{"big":{"span_term":{"text":"a"}},
      |"little":{"span_term":{"text":"b"}}}}""".stripMargin)
  }

  test("has_child parses as a composable clause with validation") {
    import graft.hybrid._
    val p = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"has_child":{"type":"chunks",
        |"query":{"match":{"chunk":"hash join"}},
        |"score_mode":"sum","min_children":2,"max_children":9}}]}}}""".stripMargin)
    assert(p.bool.must.head ==
      HasChildQ("chunks", Seq("hash", "join"), "sum", 2, 9))
    def bad(q: String): Unit = intercept[IllegalArgumentException] {
      QueryDsl.parseBool(s"""{"query":{"bool":{"must":[$q]}}}""")
    }
    bad("""{"has_child":{"query":{"match":{"chunk":"a"}}}}""")
    bad("""{"has_child":{"type":"chunks","query":{"term":{"chunk":"a"}}}}""")
    bad("""{"has_child":{"type":"chunks","query":{"match":{"chunk":""}}}}""")
    // unregistered relation + bad mode are rejected at execute-time
    import spark.implicits._
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    val idx = graft.index.InvertedIndex.build(docs, "doc_id", "text")
    intercept[IllegalArgumentException] {
      QueryDsl.execute(HybridSources(idx),
        """{"query":{"bool":{"must":[{"has_child":{"type":"nope",
          |"query":{"match":{"chunk":"a"}}}}]}}}""".stripMargin, docs)
    }
  }

  test("script_score replaces the inner score with the vector space function") {
    import spark.implicits._
    val docs = Seq((1L, "hash join x"), (2L, "merge"), (3L, "hash join scan"),
      (4L, "scan only")).toDF("doc_id", "text")
    val idx = graft.index.InvertedIndex.build(docs, "doc_id", "text")
    val emb = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(0.6, 0.8)))
      .toDF("doc_id", "vec")
    val src = HybridSources(idx, emb = Some(emb))
    def ss(innerText: String, source: String, boost: String = "") =
      s"""{"script_score":{"query":{"match":{"text":"$innerText"}},
         |"script":{"source":"$source",
         |"params":{"query_vector":[1.0, 0.0]}}$boost}}""".stripMargin
    val json =
      s"""{"query":{"bool":{
         |  "must":[${ss("hash join", "cosineSimilarity(params.query_vector, doc['embedding']) + 1.0")}],
         |  "should":[${ss("scan", "innerProduct(params.query_vector, doc['embedding'])", ""","boost":2.0""")}]}},
         |"size":10}""".stripMargin
    val got = QueryDsl.execute(src, json, docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc1: cos([1,0])+1 = 2; doc3: 1.6 (cos 0.6+1) + 2*0.6 innerProduct;
    // doc2 fails the must; doc4 has no stored vector -> never matches
    assert(got.keySet == Set(1L, 3L))
    assert(math.abs(got(1L) - 2.0) < 1e-9 && math.abs(got(3L) - 2.8) < 1e-9)
    // 1/(1+l2Squared): doc2's vector is [0,1], qv [1,0] -> l2sq 2 -> 1/3
    val l2 = QueryDsl.execute(src,
      s"""{"query":{"bool":{"must":[${ss("merge",
         "1 / (1 + l2Squared(params.query_vector, doc['embedding']))")}]}}}""",
      docs).collect()
    assert(l2.map(_.getLong(0)).toSeq == Seq(2L))
    assert(math.abs(l2.head.getDouble(1) - 1.0 / 3.0) < 1e-9)
    // rejections: unknown source, missing vector, missing inner query
    def bad(q: String): Unit = intercept[IllegalArgumentException] {
      QueryDsl.parseBool(s"""{"query":{"bool":{"must":[$q]}}}""")
    }
    bad("""{"script_score":{"query":{"match":{"text":"a"}},
      |"script":{"source":"doc['x'].value * 2",
      |"params":{"query_vector":[1.0]}}}}""".stripMargin)
    bad("""{"script_score":{"query":{"match":{"text":"a"}},
      |"script":{"source":"innerProduct(params.query_vector, doc['embedding'])",
      |"params":{}}}}""".stripMargin)
    bad("""{"script_score":{"script":{
      |"source":"innerProduct(params.query_vector, doc['embedding'])",
      |"params":{"query_vector":[1.0]}}}}""".stripMargin)
  }

  test("pinned promotes ids in given order above organic; distance_feature " +
    "scores the proximity curve") {
    import graft.hybrid._
    import spark.implicits._
    val docs = (0L until 10L).map(i =>
      (i, if (i == 5) "beta" else "alpha", 100L + i * 50)).toDF("doc_id", "text", "n")
    val idx2 = graft.index.InvertedIndex.build(docs, "doc_id", "text")
    val src = graft.hybrid.HybridSources(idx2, fields = Some(docs))
    val got = QueryDsl.execute(src,
      """{"query":{"pinned":{"ids":[7, 2],
        |"organic":{"match":{"text":"alpha"}}}},"size":10}""".stripMargin, docs)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    // 7 then 2 (given order), then the organic alphas minus the pins;
    // doc 5 (beta) matches nothing organic and is not pinned -> absent
    assert(got.take(2) == Seq(7L, 2L), s"got $got")
    assert(got.drop(2).toSet == Set(0L, 1L, 3L, 4L, 6L, 8L, 9L))
    assert(!got.contains(5L))

    val df = QueryDsl.execute(src,
      """{"query":{"distance_feature":{"field":"n","origin":200,
        |"pivot":100,"boost":2}},"size":10}""".stripMargin, docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    // score = 2 * 100 / (100 + |n - 200|); doc 2 has n=200 -> 2.0
    (0L until 10L).foreach { i =>
      val want = 2.0 * 100 / (100 + math.abs(100.0 + i * 50 - 200))
      assert(math.abs(df(i) - want) < 1e-9, s"doc $i: ${df(i)} vs $want")
    }
    def bad(q: String): Unit = intercept[IllegalArgumentException] {
      QueryDsl.parseBool(s"""{"query":{"bool":{"must":[$q]}}}""")
    }
    bad("""{"pinned":{"ids":[],"organic":{"match":{"text":"a"}}}}""")
    bad("""{"pinned":{"ids":[1,1],"organic":{"match":{"text":"a"}}}}""")
    bad("""{"pinned":{"ids":[1]}}""")
    bad("""{"distance_feature":{"field":"n","origin":0,"pivot":0}}""")
    bad("""{"distance_feature":{"field":"n","pivot":10}}""")
  }

  test("rank_feature parses FeatureField functions; scores saturation exactly") {
    import graft.hybrid._
    val pb = QueryDsl.parseBool(
      """{"query":{"bool":{"should":[
        |{"rank_feature":{"field":"features.join","saturation":{"pivot":8},"boost":2}},
        |{"rank_feature":{"field":"f.hash","log":{"scaling_factor":1.5}}},
        |{"rank_feature":{"field":"scan","sigmoid":{"pivot":3,"exponent":0.6}}},
        |{"rank_feature":{"field":"x","linear":{}}}]}}}""".stripMargin)
    assert(pb.bool.should == Seq(
      RankFeatureQ("join", "saturation", pivot = 8, boost = 2),
      RankFeatureQ("hash", "log", scalingFactor = 1.5),
      RankFeatureQ("scan", "sigmoid", pivot = 3, exponent = 0.6),
      RankFeatureQ("x", "linear")))

    def bad(q: String): Unit = intercept[IllegalArgumentException] {
      QueryDsl.parseBool(s"""{"query":{"bool":{"must":[$q]}}}""")
    }
    bad("""{"rank_feature":{"saturation":{"pivot":8}}}""")
    bad("""{"rank_feature":{"field":"f","saturation":{"pivot":1},"linear":{}}}""")
    bad("""{"rank_feature":{"field":"f","saturation":{}}}""")
    bad("""{"rank_feature":{"field":"f","log":{"scaling_factor":0.5}}}""")
    bad("""{"rank_feature":{"field":"f","sigmoid":{"pivot":3}}}""")
    bad("""{"rank_feature":{"field":"f","linear":{},"boost":0}}""")

    // saturation w/(w+pivot) over the encoded weights: token "beta"
    // (len 4 -> weight 2.0 per tf occurrence)
    import spark.implicits._
    val docs = Seq((1L, "beta"), (2L, "beta beta beta"), (3L, "alpha"))
      .toDF("doc_id", "text")
    val idx2 = graft.index.InvertedIndex.build(docs, "doc_id", "text")
    val src = graft.hybrid.HybridSources(idx2,
      sparse = Some(graft.ops.Sparse.encode(idx2)))
    val got = graft.query.BoolQuery.topK(src,
      BoolSub(must = Seq(RankFeatureQ("beta", "saturation", pivot = 2.0))), 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(got == Map(1L -> 0.5, 2L -> 0.75), s"got $got") // w=2 -> .5, w=6 -> .75
  }

  test("function_score semantics: every score/boost mode, filters, fvf, " +
    "decay, max_boost, none-matched neutrality — vs hand math") {
    import graft.hybrid._
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta", 100L), (2L, "alpha", 300L),
      (3L, "alpha beta", 500L), (4L, "alpha", 700L))
      .toDF("doc_id", "text", "n_chars")
    val idx2 = graft.index.InvertedIndex.build(docs, "doc_id", "text")
    val src = graft.hybrid.HybridSources(idx2, fields = Some(docs))
    val fns = Seq(
      WeightFn(3.0, Some(Lexical(Seq("beta")))),
      FieldValueFactorFn("n_chars", 0.01, "sqrt"),
      DecayFn("linear", "n_chars", origin = 100, scale = 300, decay = 0.5,
        weight = 2.0))
    val nChars = Map(1L -> 100.0, 2L -> 300.0, 3L -> 500.0, 4L -> 700.0)
    // (matched, weighted value, weight) per function, straight from the spec
    def vals(id: Long) = Seq(
      (id == 1 || id == 3, 3.0, 3.0),
      (true, math.sqrt(nChars(id) * 0.01), 1.0),
      (true, math.max(0.0, 1.0 - math.abs(nChars(id) - 100.0) / 600.0) * 2.0, 2.0))
    def factor(id: Long, mode: String): Double = {
      val vs = vals(id).filter(_._1)
      mode match {
        case "multiply" => vs.map(_._2).product
        case "sum"      => vs.map(_._2).sum
        case "avg"      => vs.map(_._2).sum / vs.map(_._3).sum
        case "max"      => vs.map(_._2).max
        case "min"      => vs.map(_._2).min
        case "first"    => vs.head._2
      }
    }
    def run(fs: FunctionScore): Map[Long, Double] =
      graft.query.BoolQuery.topK(src, BoolSub(must = Seq(fs)), 10)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    for (mode <- Seq("multiply", "sum", "avg", "max", "min", "first")) {
      val got = run(FunctionScore(MatchAll(2.0), fns, mode, "multiply"))
      (1L to 4L).foreach { id =>
        assert(math.abs(got(id) - 2.0 * factor(id, mode)) < 1e-9,
          s"score_mode=$mode doc=$id: got ${got(id)}, want ${2.0 * factor(id, mode)}")
      }
    }
    // boost modes fold the (sum) factor into the query score
    val f1 = factor(1L, "sum")
    val boostExpect = Map("multiply" -> (2.0 * f1), "replace" -> f1,
      "sum" -> (2.0 + f1), "avg" -> ((2.0 + f1) / 2.0),
      "max" -> math.max(2.0, f1), "min" -> math.min(2.0, f1))
    for ((bm, want) <- boostExpect) {
      val got = run(FunctionScore(MatchAll(2.0), fns, "sum", bm))
      assert(math.abs(got(1L) - want) < 1e-9, s"boost_mode=$bm: got ${got(1L)}")
    }
    // max_boost caps the factor BEFORE boost_mode
    val capped = run(FunctionScore(MatchAll(2.0), fns, "sum", "multiply", maxBoost = 4.0))
    assert(math.abs(capped(1L) - 2.0 * math.min(f1, 4.0)) < 1e-9)
    // no matching function -> neutral 1.0 factor (docs 2/4 keep query score)
    val neutral = run(FunctionScore(MatchAll(2.0),
      Seq(WeightFn(5.0, Some(Lexical(Seq("beta"))))), "sum", "multiply"))
    assert(neutral(2L) == 2.0 && neutral(4L) == 2.0 && neutral(1L) == 10.0)
  }

  test("wrapper decodes to the inline query; match_none is the neutral leaf") {
    import spark.implicits._
    def b64(s: String): String =
      java.util.Base64.getEncoder.encodeToString(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // wrapper(term a) parses identically to the inline term
    val pb = QueryDsl.parseBool(
      s"""{"query":{"bool":{"must":[
         |  {"wrapper":{"query":"${b64("""{"term":{"text":"alpha"}}""")}"}},
         |  {"match_none":{}}]}}}""".stripMargin)
    assert(pb.bool.must.head == Lexical(Seq("alpha")))
    assert(pb.bool.must(1) == MatchNoneQ)
    // execution: match_none in must empties the result; in must_not it is
    // a no-op; a dis_max over (match_none, match) scores like the match
    val docs = (0L until 20L).map(i =>
      (i, if (i % 2 == 0) "alpha beta" else "beta")).toDF("doc_id", "text")
    val idx2 = graft.index.InvertedIndex.build(docs, "doc_id", "text")
    val src = HybridSources(idx2, fields = Some(docs))
    val viaMust = graft.query.BoolQuery.topK(src,
      BoolSub(must = Seq(Lexical(Seq("alpha")), MatchNoneQ)), 10).collect()
    assert(viaMust.isEmpty)
    val viaNot = graft.query.BoolQuery.topK(src,
      BoolSub(must = Seq(Lexical(Seq("alpha"))), mustNot = Seq(MatchNoneQ)), 10)
      .collect()
    val plain = graft.query.BoolQuery.topK(src,
      BoolSub(must = Seq(Lexical(Seq("alpha")))), 10).collect()
    assert(viaNot.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      plain.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    val viaDisMax = graft.query.BoolQuery.topK(src,
      BoolSub(must = Seq(DisMax(Seq(MatchNoneQ, Lexical(Seq("alpha")))))), 10)
      .collect()
    assert(viaDisMax.map(_.getLong(0)).toSeq == plain.map(_.getLong(0)).toSeq)
    // rejections: bad base64, base64 of non-JSON, base64 of a non-object
    intercept[IllegalArgumentException](QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"wrapper":{"query":"%%%"}}]}}}"""))
    intercept[IllegalArgumentException](QueryDsl.parseBool(
      s"""{"query":{"bool":{"must":[{"wrapper":{"query":"${b64("not json")}"}}]}}}"""))
    intercept[IllegalArgumentException](QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"wrapper":{}}]}}}"""))
  }

  test("terms lookup resolves the stored doc's tokens; missing doc rejected") {
    import spark.implicits._
    val pb = QueryDsl.parseBool(
      """{"query":{"bool":{"must":[
        |  {"terms":{"text":{"index":"documents","id":3,"path":"text"}}}]}}}""".stripMargin)
    assert(pb.bool.must.head == TermsLookupQ(3L, "text"))
    val docs = Seq(
      (0L, "alpha beta"), (1L, "gamma"), (2L, "alpha delta"), (3L, "beta delta"))
      .toDF("doc_id", "text")
    val idx2 = graft.index.InvertedIndex.build(docs, "doc_id", "text")
    val src = HybridSources(idx2, fields = Some(docs))
    // doc 3's tokens {beta, delta}: docs 0 (beta), 2 (delta), 3 match
    val got = graft.query.BoolQuery.topK(src,
      BoolSub(must = Seq(TermsLookupQ(3L, "text", boost = 2.0))), 10).collect()
    assert(got.map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 3L))
    assert(got.forall(_.getDouble(1) == 2.0))
    intercept[IllegalArgumentException] {
      graft.query.BoolQuery.topK(src,
        BoolSub(must = Seq(TermsLookupQ(99L, "text"))), 10).collect()
    }
    // parse rejections: missing path, non-numeric id
    intercept[IllegalArgumentException](QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"terms":{"text":{"id":3}}}]}}}"""))
    intercept[IllegalArgumentException](QueryDsl.parseBool(
      """{"query":{"bool":{"must":[{"terms":{"text":{"id":"x","path":"text"}}}]}}}"""))
  }

  test("search_template rendering: substitution, escaping, unresolved rejection") {
    val tpl = """{"query":{"match":{"text":"{{q}}"}},"size":{{k}}}"""
    assert(QueryDsl.renderTemplate(tpl, Map("q" -> "a b", "k" -> 7)) ==
      """{"query":{"match":{"text":"a b"}},"size":7}""")
    // string params are JSON-escaped so a quote cannot break the template
    assert(QueryDsl.renderTemplate("""{"x":"{{v}}"}""", Map("v" -> "a\"b\\c")) ==
      """{"x":"a\"b\\c"}""")
    // a missing param leaves its placeholder -> reject, never search braces
    intercept[IllegalArgumentException](
      QueryDsl.renderTemplate(tpl, Map("q" -> "a")))
  }

  test("runtime_mappings scripts are sandboxed to deterministic scalar functions") {
    import spark.implicits._
    val docs = (0L until 20L).map(i => (i, "alpha beta", i * 10))
      .toDF("doc_id", "text", "n_chars")
    val idx2 = graft.index.InvertedIndex.build(docs, "doc_id", "text")
    val src = HybridSources(idx2, fields = Some(docs))
    def run(script: String) = QueryDsl.execute(src,
      s"""{"runtime_mappings":{"rf":{"type":"long","script":"$script"}},
         |"query":{"bool":{"must":[{"match":{"text":"alpha"}}],
         |"filter":{"range":{"rf":{"gte":0}}}}},"size":5}""".stripMargin, docs)
    // the deterministic expression subset works
    assert(run("CAST(floor(n_chars / 7) * 7 AS BIGINT)").count() == 5)
    // reflection / JVM-method invocation, non-determinism, subqueries, and
    // paren-less literal time functions are all rejected at request time
    def rejected(script: String): Unit = {
      val ex = intercept[IllegalArgumentException](run(script))
      assert(ex.getMessage.contains("allowlist") ||
        ex.getMessage.contains("subquery"), s"unexpected: ${ex.getMessage}")
    }
    rejected("java_method('java.lang.System','getenv')")
    rejected("reflect('java.lang.UUID','randomUUID')")
    rejected("rand()")
    rejected("monotonically_increasing_id()")
    rejected("n_chars in (select 1)")
    rejected("current_timestamp")
    // a STORED COLUMN named like a literal function shadows it (columns
    // win at resolution) — not a sandbox violation
    val docs2 = (0L until 5L).map(i => (i, "alpha", i))
      .toDF("doc_id", "text", "user")
    val idx3 = graft.index.InvertedIndex.build(docs2, "doc_id", "text")
    val r2 = QueryDsl.execute(HybridSources(idx3, fields = Some(docs2)),
      """{"runtime_mappings":{"rf":{"type":"long","script":"user * 2"}},
         |"query":{"bool":{"must":[{"match":{"text":"alpha"}}],
         |"filter":{"range":{"rf":{"gte":0}}}}},"size":5}""".stripMargin, docs2)
    assert(r2.count() == 5)
  }

  test("trailing-caret field spec fails loudly") {
    // "text^" must hit the fail-loudly branch, not parse as boost 1.0
    intercept[IllegalArgumentException](QueryDsl.parse(
      """{"query":{"hybrid":{"queries":[
        |  {"multi_match":{"query":"scan","fields":["text^"]}}]}}}""".stripMargin))
  }

  test("malformed requests are rejected") {
    intercept[IllegalArgumentException](QueryDsl.parse("""{"query":{}}"""))
    intercept[IllegalArgumentException](
      QueryDsl.parse("""{"query":{"hybrid":{"queries":[]}}}"""))
    intercept[IllegalArgumentException](
      QueryDsl.parse("""{"query":{"hybrid":{"queries":[{"knn":{"v":[1]}}]}}}"""))
    intercept[IllegalArgumentException](
      QueryDsl.parse(
        """{"query":{"hybrid":{"queries":[{"term":{"t":"a"}}]}},
          |"search_pipeline":{"normalization":{"technique":"bogus"}}}""".stripMargin))
  }
}
