package graft.query

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.analysis.Analyzer
import graft.functions.Combine
import graft.hybrid._
import graft.index.Index
import graft.ops.Sparse

/**
 * JSON query DSL — the parse step of the reference's search lifecycle
 * (reference: query/HybridQueryBuilder.java:202-299 fromXContent — <=5
 * sub-queries, optional filter, pagination_depth, boost != 1.0 REJECTED at
 * the hybrid level per HybridQueryBuilder.java:247-253; plus the
 * search-pipeline normalization/combination config the normalization
 * processor reads, processor/NormalizationProcessor.java). A request like:
 *
 * {{{
 * { "query": { "hybrid": {
 *     "queries": [ { "match": { "text": "merge sort" } },
 *                  { "neural_sparse": { "sparse_field": {
 *                      "query_tokens": { "join": 2.0, "hash": 0.5 } } } },
 *                  { "neural": { "embedding": { "query_id": 7 } } } ],
 *     "filter": { "bool": { "must": [ { "term": { "lang": "en" } },
 *                                     { "term": { "source": "s1" } } ] } },
 *     "pagination_depth": 50 } },
 *   "size": 10, "from": 0, "min_score": 0.1,
 *   "search_pipeline": {
 *     "normalization": { "technique": "min_max" },
 *     "combination":   { "technique": "arithmetic_mean", "weights": [0.7, 0.3] } } }
 * }}}
 *
 * parses to a [[HybridQuery]] + equality filters, and `execute` runs it
 * against [[HybridSources]]. Sub-query kinds mirror the reference's builders:
 * `match`/`term` (lexical BM25), `neural_sparse` with explicit `query_tokens`
 * (reference: NeuralSparseQueryBuilder.java:307-374 — the query_tokens form;
 * model inference is out of scope under zero egress), `neural` with
 * `query_id` (a stored-embedding lookup standing in for text-to-vector
 * inference, reference: NeuralQueryBuilder/NeuralKNNQueryBuilder).
 * Jackson ships with Spark (no extra dependency).
 */
object QueryDsl {

  private val mapper = new ObjectMapper()

  /** `neural_query_enricher` search-request processor config: a default
   *  model id plus per-field overrides, injected into neural/neural_sparse
   *  clauses that carry `query_text` without a `model_id` (reference:
   *  processor/NeuralQueryEnricherProcessor — registered in
   *  plugin/NeuralSearch.java:385-396; config keys `default_model_id`,
   *  `neural_field_default_id`). */
  case class Enricher(defaultModelId: Option[String] = None,
                      fieldDefaults: Map[String, String] = Map.empty) {
    def resolve(field: String, clauseModelId: Option[String]): Option[String] =
      clauseModelId.orElse(fieldDefaults.get(field)).orElse(defaultModelId)
  }

  case class Parsed(query: HybridQuery, filters: Seq[(String, String)],
                    sort: Seq[(String, Boolean)] = Nil,
                    ranges: Seq[RangeF] = Nil,
                    searchAfter: Seq[Any] = Nil,
                    slice: Option[(Int, Int)] = None) {
    /** first equality filter, if any (back-compat accessor) */
    def filterField: Option[(String, String)] = filters.headOption
  }

  case class ParsedBool(bool: BoolQuery.BoolSpec, filters: Seq[(String, String)],
                        k: Int, ranges: Seq[RangeF] = Nil,
                        slice: Option[(Int, Int)] = None)

  /** Root-level `slice` (sliced scroll — the parallel-export contract:
   *  `{"slice": {"id": n, "max": m}}` partitions the matched doc set into m
   *  disjoint covering slices so m independent consumers can drain a large
   *  result in parallel). Slicing on doc_id % max (OpenSearch's default
   *  slices on the _id hash; modulo is the same disjoint-cover contract,
   *  deterministic across engines). */
  private def parseSlice(root: JsonNode): Option[(Int, Int)] =
    Option(root.path("slice")).filterNot(_.isMissingNode).map { sl =>
      require(sl.path("id").isNumber && sl.path("max").isNumber,
        "slice requires numeric [id] and [max]")
      val (id, max) = (sl.path("id").asInt(), sl.path("max").asInt())
      require(max >= 2, s"slice [max] must be >= 2, got $max")
      require(id >= 0 && id < max, s"slice [id] must be in [0, $max), got $id")
      (id, max)
    }

  /** Parse a top-level scoring `bool` request (must / should / must_not /
   *  minimum_should_match / filter). Clauses are the same grammar as
   *  hybrid's sub-queries (match, term, match_phrase, neural_sparse, knn,
   *  ...), single-object or array form. */
  def parseBool(json: String, analyzer: String = Analyzer.Simple): ParsedBool = {
    val root = mapper.readTree(json)
    val b = root.path("query").path("bool")
    require(!b.isMissingNode, "query.bool is required")
    val enricher = parseEnricher(root.path("search_pipeline").path("request_processors"))
    def clauses(name: String): Seq[SubQuery] = {
      val node = b.path(name)
      if (node.isMissingNode) Nil
      else if (node.isArray)
        (0 until node.size()).map(i => parseSubQuery(node.get(i), analyzer, enricher))
      else Seq(parseSubQuery(node, analyzer, enricher))
    }
    val msm = Option(b.path("minimum_should_match")).filter(_.isNumber).map(_.asInt())
    val (eqs, ranges) = parseFilter(b.path("filter"))
    ParsedBool(
      BoolQuery.BoolSpec(clauses("must"), clauses("should"), clauses("must_not"), msm),
      eqs,
      root.path("size").asInt(10),
      ranges,
      parseSlice(root))
  }

  def parse(json: String, analyzer: String = Analyzer.Simple): Parsed = {
    val root = mapper.readTree(json)
    val hybrid = Option(root.path("query").path("hybrid"))
      .filterNot(_.isMissingNode)
      .getOrElse(throw new IllegalArgumentException("query.hybrid is required"))

    // the reference rejects any non-default boost on the hybrid query itself
    // (HybridQueryBuilder.java:247-253)
    val boostNode = hybrid.path("boost")
    require(boostNode.isMissingNode || boostNode.asDouble(1.0) == 1.0,
      "hybrid query does not support [boost]")

    // request processors run before sub-query construction (reference:
    // search-request processors transform the SearchRequest itself)
    val enricher = parseEnricher(root.path("search_pipeline").path("request_processors"))

    val subs = {
      val arr = hybrid.path("queries")
      require(arr.isArray && arr.size() > 0, "hybrid.queries must be a non-empty array")
      (0 until arr.size()).map(i => parseSubQuery(arr.get(i), analyzer, enricher))
    }

    val (filters, ranges) = parseFilter(hybrid.path("filter"))

    val pipeline = root.path("search_pipeline")
    val normNode = pipeline.path("normalization")
    val norm: Normalization = normNode.path("technique").asText("min_max") match {
      case "min_max" => MinMaxNormTech()
      case "l2"      => L2NormTech
      case "z_score" => ZScoreNormTech
      case "rrf"     => RrfNormTech(normNode.path("rank_constant").asInt(60))
      case other     => throw new IllegalArgumentException(s"unknown normalization: $other")
    }
    val combNode = pipeline.path("combination")
    val weights =
      if (combNode.path("weights").isArray)
        (0 until combNode.path("weights").size()).map(combNode.path("weights").get(_).asDouble())
      else Seq.empty[Double]
    val comb = Combination(combNode.path("technique").asText(Combine.Arithmetic), weights)

    // request-level collapse (reference: field collapsing with
    // docs_per_group_per_subquery, plugin/NeuralSearch.java:367)
    val collapse = Option(root.path("collapse")).filterNot(_.isMissingNode).map { c =>
      val field = c.path("field").asText("")
      require(field.nonEmpty, "collapse requires a field")
      Collapse(field, c.path("docs_per_group_per_subquery").asInt(1))
    }

    // request-level sort (reference: sort-enabled hybrid — per-sub-query
    // TopFieldDocs merged by field order, ScoreCombiner.java:281-311);
    // entries are {"field": "desc"} or {"field": {"order": "desc"}}
    val sort = Option(root.path("sort")).filter(_.isArray).toSeq.flatMap { arr =>
      (0 until arr.size()).map { i =>
        val (field, body) = firstField(arr.get(i))
        val order = if (body.isObject) body.path("order").asText("asc") else body.asText("asc")
        require(order == "asc" || order == "desc", s"sort order must be asc|desc, got $order")
        (field, order == "asc")
      }
    }
    // reference semantics for sort composition: collapse picks the group
    // winner under the SORT order (HybridCollapsingTopDocsCollector takes
    // the sort); min_score applies only when the sort orders by _score
    // (ScoreCombiner.isMinScoreAvailable) and is otherwise a no-op — both
    // handled inside Hybrid.executeSorted, nothing to reject here.

    Parsed(
      HybridQuery(
        subQueries = subs,
        norm = norm,
        comb = comb,
        k = root.path("size").asInt(10),
        depth = hybrid.path("pagination_depth").asInt(50),
        from = root.path("from").asInt(0),
        minScore = Option(root.path("min_score")).filter(_.isNumber).map(_.asDouble()),
        collapse = collapse
      ),
      filters,
      sort,
      ranges,
      searchAfter = {
        // cursor values aligned with the sort keys + the implicit doc_id
        // tiebreaker; numbers keep their JSON type (integral -> long)
        val sa = root.path("search_after")
        if (!sa.isArray) Nil
        else {
          require(sort.nonEmpty, "[search_after] requires a [sort]")
          (0 until sa.size()).map { i =>
            val n = sa.get(i)
            if (n.isIntegralNumber) n.asLong()
            else if (n.isNumber) n.asDouble()
            else n.asText(): Any
          }
        }
      },
      slice = parseSlice(root)
    )
  }

  /** Lucene caret field specs (`field` / `field^boost`) shared by
   *  multi_match and combined_fields. A non-numeric boost, an empty field
   *  name, or an empty array all fail loudly. */
  private def parseFieldSpecs(fNode: JsonNode,
                              what: String): Seq[(String, Double)] = {
    require(fNode.isArray && fNode.size() > 0,
      s"$what requires a non-empty [fields] array")
    (0 until fNode.size()).map { i =>
      val spec = fNode.get(i).asText()
      // limit -1 keeps trailing empty tokens: "text^" must hit the error
      // branch below, not silently parse as boost 1.0
      spec.split("\\^", -1) match {
        case Array(f) if f.nonEmpty => (f, 1.0)
        case Array(f, b) if f.nonEmpty =>
          (f, try b.toDouble catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"bad $what field boost [$spec]")
          })
        case _ => throw new IllegalArgumentException(
          s"bad $what field spec [$spec] — use field or field^boost")
      }
    }
  }

  private def parseEnricher(node: JsonNode): Enricher =
    if (!node.isArray) Enricher()
    else (0 until node.size()).map(node.get).collectFirst {
      case p if !p.path("neural_query_enricher").isMissingNode =>
        graft.stats.EventStats.increment("neural_query_enricher_executions")
        val c = p.path("neural_query_enricher")
        val fieldDefaults = {
          val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
          val fd = c.path("neural_field_default_id")
          if (fd.isObject) fd.fields().forEachRemaining(e => m += (e.getKey -> e.getValue.asText()))
          m.toMap
        }
        Enricher(
          Option(c.path("default_model_id")).filterNot(_.isMissingNode).map(_.asText()),
          fieldDefaults)
    }.getOrElse(Enricher())

  private def parseSubQuery(q: JsonNode, analyzer: String, enricher: Enricher): SubQuery =
    if (!q.path("match").isMissingNode) {
      // value form: "text": "..." ; object form: "text": {"query": "...",
      // "boost": 2.0, "operator": "and"|"or",
      // "minimum_should_match": n} (per-sub-query boost is legal INSIDE a
      // clause — only the hybrid-level boost is rejected,
      // HybridQueryBuilder.java:247-253)
      val (_, body) = firstField(q.path("match"))
      val (text, boost) =
        if (body.isObject) (body.path("query").asText(), body.path("boost").asDouble(1.0))
        else (body.asText(), 1.0)
      require(text.nonEmpty,
        "match requires a non-empty query text (object form: {\"query\": ...})")
      // Lucene rejects non-positive boosts; accepting one here would also
      // break block-max pruning, whose bucket upper bound only dominates
      // real scores when every term weight is non-negative
      require(boost > 0, s"[boost] must be > 0, got $boost")
      val terms = Analyzer.analyze(analyzer)(text).toSeq
      val boosts = if (boost == 1.0) Map.empty[String, Double] else terms.map(_ -> boost).toMap
      val operator = if (body.isObject) body.path("operator").asText("or") else "or"
      require(operator == "or" || operator == "and",
        s"match [operator] must be or|and, got [$operator]")
      val msmNode = body.path("minimum_should_match") // MissingNode on value-form bodies
      require(operator == "or" || msmNode.isMissingNode,
        "[minimum_should_match] conflicts with operator and (and already requires every term)")
      if (operator == "and")
        graft.hybrid.LexicalMsm(terms, terms.distinct.size, boosts)
      else if (!msmNode.isMissingNode) {
        val m = msmNode.asInt()
        require(m >= 1 && m <= terms.distinct.size,
          s"minimum_should_match must be in [1, ${terms.distinct.size}], got $m")
        graft.hybrid.LexicalMsm(terms, m, boosts)
      } else
        Lexical(terms, boosts)
    } else if (!q.path("prefix").isMissingNode) {
      // {"prefix": {"text": "sc"}} | {"prefix": {"text": {"value": "sc",
      //   "boost": 2.0}}} — constant-score rewrite, like Lucene's default
      val (_, body) = firstField(q.path("prefix"))
      val (v, boost) =
        if (body.isObject) (body.path("value").asText(), body.path("boost").asDouble(1.0))
        else (body.asText(), 1.0)
      require(v.nonEmpty, "prefix requires a non-empty value")
      require(v.matches("[a-z0-9]+"),
        s"prefix must stay in the analyzer's alphabet [a-z0-9], got [$v]")
      graft.hybrid.TermPattern(v + "%", boost)
    } else if (!q.path("wildcard").isMissingNode) {
      // {"wildcard": {"text": {"value": "s?a*"}}} — Lucene * / ? translate
      // to SQL LIKE % / _ over the term dictionary
      val (_, body) = firstField(q.path("wildcard"))
      val (v, boost) =
        if (body.isObject) (body.path("value").asText(), body.path("boost").asDouble(1.0))
        else (body.asText(), 1.0)
      require(v.nonEmpty, "wildcard requires a non-empty value")
      require(v.matches("[a-z0-9*?]+"),
        s"wildcard must stay in [a-z0-9] plus * and ?, got [$v]")
      graft.hybrid.TermPattern(v.replace('*', '%').replace('?', '_'), boost)
    } else if (!q.path("dis_max").isMissingNode) {
      // {"dis_max": {"queries": [ ... ], "tie_breaker": 0.3}}
      val body = q.path("dis_max")
      val qs = body.path("queries")
      require(qs.isArray && qs.size() > 0,
        "dis_max requires a non-empty [queries] array")
      val clauses = (0 until qs.size()).map(i => parseSubQuery(qs.get(i), analyzer, enricher))
      graft.hybrid.DisMax(clauses, body.path("tie_breaker").asDouble(0.0))
    } else if (!q.path("boosting").isMissingNode) {
      // {"boosting": {"positive": {...}, "negative": {...}, "negative_boost": 0.4}}
      val body = q.path("boosting")
      require(body.path("positive").isObject && body.path("negative").isObject,
        "boosting requires [positive] and [negative] clauses")
      require(body.path("negative_boost").isNumber,
        "boosting requires a numeric [negative_boost]")
      graft.hybrid.Boosting(
        parseSubQuery(body.path("positive"), analyzer, enricher),
        parseSubQuery(body.path("negative"), analyzer, enricher),
        body.path("negative_boost").asDouble())
    } else if (!q.path("pinned").isMissingNode) {
      // {"pinned": {"ids": [3, 7], "organic": {"match": {...}}}} — the
      // named docs first, in the given order, above every organic hit
      val body = q.path("pinned")
      val idsN = body.path("ids")
      require(idsN.isArray && idsN.size() > 0,
        "pinned requires a non-empty [ids] array")
      require(body.path("organic").isObject, "pinned requires an [organic] query")
      val ids = (0 until idsN.size()).map(idsN.get(_).asLong())
      require(ids.distinct.size == ids.size, "pinned [ids] must be distinct")
      graft.hybrid.PinnedQ(ids,
        parseSubQuery(body.path("organic"), analyzer, enricher))
    } else if (!q.path("distance_feature").isMissingNode) {
      // {"distance_feature": {"field": "n_chars", "origin": 300,
      //   "pivot": 50, "boost": 2}}
      val body = q.path("distance_feature")
      val field = body.path("field").asText("")
      require(field.nonEmpty, "distance_feature requires a [field]")
      require(body.path("origin").isNumber && body.path("pivot").isNumber,
        "distance_feature requires numeric [origin] and [pivot]")
      val pivot = body.path("pivot").asDouble()
      require(pivot > 0, s"distance_feature [pivot] must be > 0, got $pivot")
      val boost = body.path("boost").asDouble(1.0)
      require(boost > 0, s"[boost] must be > 0, got $boost")
      graft.hybrid.DistanceFeatureQ(field, body.path("origin").asDouble(), pivot, boost)
    } else if (!q.path("rank_feature").isMissingNode) {
      // {"rank_feature": {"field": "features.join", "saturation": {"pivot": 8},
      //   "boost": 2}} — field's last dot-segment names the feature token;
      // exactly one of saturation/log/sigmoid/linear (saturation needs an
      // explicit pivot — the reference's computed-pivot default needs index
      // stats the query parser doesn't have)
      val body = q.path("rank_feature")
      val field = body.path("field").asText("")
      require(field.nonEmpty, "rank_feature requires a [field]")
      val token = field.split('.').last
      val boost = body.path("boost").asDouble(1.0)
      require(boost > 0, s"[boost] must be > 0, got $boost")
      val fnKeys = Seq("saturation", "log", "sigmoid", "linear")
        .filter(k => !body.path(k).isMissingNode)
      require(fnKeys.size == 1,
        s"rank_feature requires exactly one of saturation|log|sigmoid|linear, got $fnKeys")
      fnKeys.head match {
        case "saturation" =>
          val p = body.path("saturation").path("pivot")
          require(p.isNumber && p.asDouble() > 0,
            "rank_feature saturation requires a positive [pivot]")
          graft.hybrid.RankFeatureQ(token, "saturation", pivot = p.asDouble(),
            boost = boost)
        case "log" =>
          val sf = body.path("log").path("scaling_factor")
          require(sf.isNumber && sf.asDouble() >= 1,
            "rank_feature log requires [scaling_factor] >= 1")
          graft.hybrid.RankFeatureQ(token, "log", scalingFactor = sf.asDouble(),
            boost = boost)
        case "sigmoid" =>
          val (p, e) = (body.path("sigmoid").path("pivot"),
            body.path("sigmoid").path("exponent"))
          require(p.isNumber && p.asDouble() > 0 && e.isNumber && e.asDouble() > 0,
            "rank_feature sigmoid requires positive [pivot] and [exponent]")
          graft.hybrid.RankFeatureQ(token, "sigmoid", pivot = p.asDouble(),
            exponent = e.asDouble(), boost = boost)
        case "linear" =>
          graft.hybrid.RankFeatureQ(token, "linear", boost = boost)
      }
    } else if (!q.path("function_score").isMissingNode) {
      // {"function_score": {"query": {...}, "functions": [
      //    {"filter": {...}, "weight": 2},
      //    {"field_value_factor": {"field": "n_chars", "factor": 0.01,
      //      "modifier": "log1p", "missing": 1}},
      //    {"gauss": {"n_chars": {"origin": 300, "scale": 150,
      //      "offset": 50, "decay": 0.5}}} ],
      //   "score_mode": "sum", "boost_mode": "multiply", "max_boost": 10}}
      // — or the single-function shorthand with the function keys inline.
      val body = q.path("function_score")
      require(body.path("query").isObject, "function_score requires a [query]")
      val inner = parseSubQuery(body.path("query"), analyzer, enricher)
      val modifiers = Set("none", "log", "log1p", "log2p", "ln", "ln1p",
        "ln2p", "sqrt", "square", "reciprocal")
      def parseFn(n: JsonNode): graft.hybrid.ScoreFn = {
        val filter = Option(n.path("filter")).filterNot(_.isMissingNode)
          .map(parseSubQuery(_, analyzer, enricher))
        val weight = if (n.path("weight").isNumber) n.path("weight").asDouble() else 1.0
        val decayKinds = Seq("gauss", "exp", "linear").filter(k => !n.path(k).isMissingNode)
        if (!n.path("field_value_factor").isMissingNode) {
          val f = n.path("field_value_factor")
          val field = f.path("field").asText("")
          require(field.nonEmpty, "field_value_factor requires a [field]")
          val modifier = f.path("modifier").asText("none")
          require(modifiers(modifier),
            s"field_value_factor [modifier] must be one of $modifiers, got [$modifier]")
          graft.hybrid.FieldValueFactorFn(field, f.path("factor").asDouble(1.0),
            modifier,
            Option(f.path("missing")).filter(_.isNumber).map(_.asDouble()),
            weight, filter)
        } else if (decayKinds.nonEmpty) {
          require(decayKinds.size == 1,
            s"a function may define only one decay, got $decayKinds")
          val kind = decayKinds.head
          val (field, cfg) = firstField(n.path(kind))
          require(cfg.path("origin").isNumber && cfg.path("scale").isNumber,
            s"$kind decay requires numeric [origin] and [scale]")
          val scale = cfg.path("scale").asDouble()
          require(scale > 0, s"$kind [scale] must be > 0, got $scale")
          val decay = cfg.path("decay").asDouble(0.5)
          require(decay > 0 && decay < 1,
            s"$kind [decay] must be in (0, 1), got $decay")
          graft.hybrid.DecayFn(kind, field, cfg.path("origin").asDouble(), scale,
            cfg.path("offset").asDouble(0.0), decay, weight, filter)
        } else {
          require(n.path("weight").isNumber,
            "function must define weight, field_value_factor, or a decay (gauss/exp/linear)")
          graft.hybrid.WeightFn(weight, filter)
        }
      }
      val fnsNode = body.path("functions")
      val fns =
        if (fnsNode.isArray) {
          require(fnsNode.size() > 0, "function_score [functions] must be non-empty")
          (0 until fnsNode.size()).map(i => parseFn(fnsNode.get(i)))
        } else Seq(parseFn(body))
      val scoreMode = body.path("score_mode").asText("multiply")
      require(Set("multiply", "sum", "avg", "first", "max", "min")(scoreMode),
        s"function_score [score_mode] must be multiply|sum|avg|first|max|min, got [$scoreMode]")
      val boostMode = body.path("boost_mode").asText("multiply")
      require(Set("multiply", "replace", "sum", "avg", "max", "min")(boostMode),
        s"function_score [boost_mode] must be multiply|replace|sum|avg|max|min, got [$boostMode]")
      val maxBoost =
        if (body.path("max_boost").isNumber) body.path("max_boost").asDouble()
        else Double.MaxValue
      graft.hybrid.FunctionScore(inner, fns, scoreMode, boostMode, maxBoost)
    } else if (!q.path("query_string").isMissingNode) {
      // {"query_string": {"query": "(join AND hash) OR path:pkg7^2 -dup",
      //   "default_operator": "OR"}} — the classic Lucene mini-language:
      //   AND/OR/NOT (and &&/||), parentheses, +must/-must_not flags,
      //   field:term, "phrases", trailing ^boost, * ? wildcards.
      val body = q.path("query_string")
      val text = if (body.isObject) body.path("query").asText("") else body.asText("")
      require(text.nonEmpty, "query_string requires a non-empty [query]")
      val defOp = body.path("default_operator").asText("OR").toUpperCase
      require(defOp == "OR" || defOp == "AND",
        s"default_operator must be OR|AND, got [$defOp]")
      parseQueryString(text, defaultAnd = defOp == "AND", analyzer)
    } else if (!q.path("match_bool_prefix").isMissingNode) {
      // {"match_bool_prefix": {"text": {"query": "hash jo",
      //   "minimum_should_match": 1}}} — every analyzed token a should term
      // clause except the LAST, which matches as a prefix (the type-ahead
      // form: terms can match in any order/position, unlike
      // match_phrase_prefix). Composes as the equivalent bool.
      val (_, body) = firstField(q.path("match_bool_prefix"))
      val (text, msmN) =
        if (body.isObject) (body.path("query").asText(),
          Option(body.path("minimum_should_match")).filter(_.isNumber).map(_.asInt()))
        else (body.asText(), None)
      require(text.nonEmpty, "match_bool_prefix requires a non-empty query text")
      val toks = Analyzer.analyze(analyzer)(text).toSeq
      require(toks.nonEmpty, "match_bool_prefix analyzed to zero tokens")
      msmN.foreach(m => require(m >= 1 && m <= toks.size,
        s"minimum_should_match must be in [1, ${toks.size}], got $m"))
      graft.hybrid.BoolSub(
        should = toks.init.map(t => Lexical(Seq(t))) :+
          graft.hybrid.TermPattern(toks.last + "%"),
        minimumShouldMatch = msmN)
    } else if (!q.path("match_phrase_prefix").isMissingNode) {
      // {"match_phrase_prefix": {"text": {"query": "merge so",
      //   "max_expansions": 50}}} | {"match_phrase_prefix": {"text": "..."}}
      // — last analyzed token is the prefix, the rest are exact slots
      val (_, body) = firstField(q.path("match_phrase_prefix"))
      val (text, maxExp) =
        if (body.isObject) (body.path("query").asText(), body.path("max_expansions").asInt(50))
        else (body.asText(), 50)
      val toks = Analyzer.analyze(analyzer)(text).toSeq
      require(toks.size >= 2,
        "match_phrase_prefix needs at least 2 analyzed tokens (exact slots + prefix)")
      graft.hybrid.LexicalPhrasePrefix(toks.init, toks.last, maxExp)
    } else if (!q.path("regexp").isMissingNode) {
      // {"regexp": {"text": {"value": "ha[sz]h(es)?", "boost": 2.0}}} |
      // {"regexp": {"text": "sc.*"}} — constant-score multi-term; the
      // pattern matches the entire term (Lucene's implicit anchoring)
      val (_, body) = firstField(q.path("regexp"))
      val (v, boost) =
        if (body.isObject) (body.path("value").asText(), body.path("boost").asDouble(1.0))
        else (body.asText(), 1.0)
      require(v.nonEmpty, "regexp requires a non-empty value")
      graft.hybrid.RegexPattern(v, boost)
    } else if (!q.path("exists").isMissingNode) {
      // {"exists": {"field": "text", "boost": 1.0}}
      val body = q.path("exists")
      val f = body.path("field").asText("")
      require(f.nonEmpty, "exists requires a [field]")
      graft.hybrid.ExistsQ(f, body.path("boost").asDouble(1.0))
    } else if (!q.path("span_near").isMissingNode) {
      // {"span_near": {"clauses": [{"span_term": {"text": "hash"}}, ...],
      //   "slop": 3, "in_order": true, "boost": 1.0}} — clauses are
      //   span_term or span_multi (SpanMultiTermQueryWrapper around
      //   prefix/wildcard/fuzzy/regexp). All-span_term keeps the dedicated
      //   span matcher; a span_multi clause lowers the whole query onto the
      //   interval algebra — IDENTICAL width contract (window - k <= slop),
      //   the multi-term slot expanded against the dictionary
      val body = q.path("span_near")
      val cs = body.path("clauses")
      require(cs.isArray && cs.size() >= 2,
        "span_near requires a [clauses] array of at least 2 span clauses")
      // slot = (source field, term | multi-term source); a plain span_term
      // reads the primary field, a field_masking_span wrapper reads its
      // inner span_term's field while masking as [field] (Lucene
      // FieldMaskingSpanQuery — the parallel-token-stream idiom)
      val slots: Seq[(String, Either[String, graft.query.Intervals.Source])] =
        (0 until cs.size()).map { i =>
          def termOf(st: JsonNode): (String, String) = {
            val (f, b) = firstField(st)
            val t = if (b.isObject) b.path("value").asText() else b.asText()
            require(t.nonEmpty, "span_term requires a non-empty value")
            (f, t)
          }
          val st = cs.get(i).path("span_term")
          val fm = cs.get(i).path("field_masking_span")
          if (!st.isMissingNode) {
            val (f, t) = termOf(st)
            require(f == "text",
              s"a bare span_term in span_near must target the primary field, got [$f] — wrap it in field_masking_span")
            ("text", Left(t))
          } else if (!fm.isMissingNode) {
            val inner = fm.path("query").path("span_term")
            require(!inner.isMissingNode,
              "field_masking_span requires a [query] holding a span_term")
            val mask = fm.path("field").asText("")
            require(mask == "text",
              s"field_masking_span must mask as the primary field [text], got [$mask]")
            val (f, t) = termOf(inner)
            (f, Left(t))
          } else {
            val sm = cs.get(i).path("span_multi")
            require(!sm.isMissingNode,
              "span_near clauses must be span_term, field_masking_span, or span_multi objects")
            ("text", Right(parseSpanMulti(sm)))
          }
        }
      require(!body.path("slop").isMissingNode, "span_near requires [slop]")
      val slop = body.path("slop").asInt()
      val inOrder = body.path("in_order").asBoolean(false)
      val boost = body.path("boost").asDouble(1.0)
      if (slots.exists(_._1 != "text")) {
        require(slots.forall(_._2.isLeft),
          "field_masking_span cannot mix with span_multi clauses")
        graft.hybrid.SpanNearMaskedQ(
          slots.map { case (f, e) => (f, e.left.get) }, slop, inOrder, boost)
      } else if (slots.forall(_._2.isLeft))
        graft.hybrid.SpanNearQ(slots.map(_._2.left.get), slop, inOrder, boost)
      else {
        import graft.query.Intervals
        val sources = slots.map(_._2).map {
          case Left(t)    => Intervals.IMatch(Seq(t))
          case Right(src) => src
        }
        graft.hybrid.IntervalsQ(
          Intervals.IAllOf(sources, maxGaps = slop, ordered = inOrder), boost)
      }
    } else if (!q.path("span_multi").isMissingNode) {
      // standalone span_multi: existence of any dictionary expansion —
      // constant-score like the rest of the span family
      val body = q.path("span_multi")
      graft.hybrid.IntervalsQ(parseSpanMulti(body),
        body.path("boost").asDouble(1.0))
    } else if (!q.path("intervals").isMissingNode) {
      // {"intervals": {"text": {"match": {"query": "hash join",
      //   "ordered": true, "max_gaps": 2}}}} — the modern span form — or a
      // COMPOSED source tree: {"all_of": {"ordered": true, "max_gaps": 1,
      // "intervals": [ {"match": ...}, {"any_of": {"intervals": [...]}} ]}}
      // nesting arbitrarily (Lucene's minimal-interval algebra). A single
      // top-level match keeps lowering onto the span matcher (identical
      // width contract: max - min + 1 - k <= max_gaps); compositions lower
      // onto graft.query.Intervals. max_gaps -1 (unlimited) is rejected as
      // unbounded work here.
      import graft.query.Intervals
      def parseSource(node: com.fasterxml.jackson.databind.JsonNode): Intervals.Source = {
        // every rule accepts a `filter` key: { "<kind>": { <rule> } } with
        // kind one of containing / contained_by / not_containing /
        // not_contained_by / overlapping / not_overlapping / before / after
        // (Lucene's FilteredIntervalsSource, applied to minimal intervals)
        def withFilter(ruleBody: com.fasterxml.jackson.databind.JsonNode,
                       src: Intervals.Source): Intervals.Source = {
          val fNode = ruleBody.path("filter")
          if (fNode.isMissingNode) src
          else {
            require(fNode.isObject && fNode.size() == 1,
              "intervals [filter] must carry exactly one filter kind")
            val kindName = fNode.fieldNames().next()
            val kind = Intervals.FilterKinds.find(_.name == kindName).getOrElse(
              throw new IllegalArgumentException(
                s"unknown intervals filter [$kindName] — one of " +
                  Intervals.FilterKinds.map(_.name).mkString(", ")))
            Intervals.IFiltered(src, kind, parseSource(fNode.path(kindName)))
          }
        }
        if (!node.path("match").isMissingNode) {
          val m = node.path("match")
          val text = m.path("query").asText("")
          require(text.nonEmpty, "intervals match requires a non-empty [query]")
          val toks = Analyzer.analyze(analyzer)(text).toSeq
          require(toks.nonEmpty, "intervals match needs at least 1 analyzed token")
          // the reference's default is -1 = UNLIMITED gaps (Lucene's own
          // encoding); the budget only filters candidate windows, so
          // unlimited costs the same DFS as any bound
          val mg = m.path("max_gaps").asInt(-1)
          require(mg >= -1, s"intervals [max_gaps] must be >= -1 (-1 = unlimited), got $mg")
          withFilter(m, Intervals.IMatch(toks, mg, m.path("ordered").asBoolean(false)))
        } else if (!node.path("all_of").isMissingNode) {
          val b = node.path("all_of")
          val arr = b.path("intervals")
          require(arr.isArray && arr.size() >= 2,
            "intervals all_of requires an [intervals] array of at least 2 sources")
          val mg = b.path("max_gaps").asInt(-1)
          require(mg >= -1, s"intervals [max_gaps] must be >= -1 (-1 = unlimited), got $mg")
          withFilter(b,
            Intervals.IAllOf((0 until arr.size()).map(i => parseSource(arr.get(i))),
              mg, b.path("ordered").asBoolean(false)))
        } else if (!node.path("any_of").isMissingNode) {
          val b = node.path("any_of")
          val arr = b.path("intervals")
          require(arr.isArray && arr.size() >= 2,
            "intervals any_of requires an [intervals] array of at least 2 sources")
          withFilter(b,
            Intervals.IAnyOf((0 until arr.size()).map(i => parseSource(arr.get(i)))))
        } else if (!node.path("prefix").isMissingNode) {
          // {"prefix": {"prefix": "sca"}} — dictionary-expanded multi-term
          // rule (<= max_expansions terms, fail loudly past the cap)
          val b = node.path("prefix")
          withFilter(b, Intervals.IPrefix(b.path("prefix").asText(""),
            b.path("max_expansions").asInt(Intervals.DefaultExpansions)))
        } else if (!node.path("wildcard").isMissingNode) {
          // {"wildcard": {"pattern": "sc*"}} — * = any run, ? = one char
          val b = node.path("wildcard")
          withFilter(b, Intervals.IWildcard(b.path("pattern").asText(""),
            b.path("max_expansions").asInt(Intervals.DefaultExpansions)))
        } else if (!node.path("fuzzy").isMissingNode) {
          // {"fuzzy": {"term": "hsah", "fuzziness": 1, "prefix_length": 0,
          //  "transpositions": true}} — Damerau by default, Lucene's bound
          val b = node.path("fuzzy")
          withFilter(b, Intervals.IFuzzy(
            b.path("term").asText(""),
            b.path("fuzziness").asInt(2),
            b.path("prefix_length").asInt(0),
            if (b.path("transpositions").isMissingNode) true
            else b.path("transpositions").asBoolean(true),
            b.path("max_expansions").asInt(Intervals.DefaultExpansions)))
        } else if (!node.path("regexp").isMissingNode) {
          // {"regexp": {"pattern": "sc.n|sort"}} — whole-term automaton
          val b = node.path("regexp")
          withFilter(b, Intervals.IRegexp(b.path("pattern").asText(""),
            b.path("max_expansions").asInt(Intervals.DefaultExpansions)))
        } else throw new IllegalArgumentException(
          "intervals rule must be one of [match], [all_of], [any_of], " +
            "[prefix], [wildcard], [fuzzy], [regexp]")
      }
      val (_, body) = firstField(q.path("intervals"))
      if (!body.path("match").isMissingNode) {
        val m = body.path("match")
        parseSource(body) match {
          case Intervals.IMatch(toks, mg, ordered) if mg >= 0 =>
            require(toks.size >= 2, "intervals match needs at least 2 analyzed tokens")
            graft.hybrid.SpanNearQ(toks, mg, ordered, m.path("boost").asDouble(1.0))
          case im: Intervals.IMatch =>
            // unlimited gaps cannot lower onto the width-budget span
            // matcher — evaluate through the interval algebra directly
            require(im.terms.size >= 2, "intervals match needs at least 2 analyzed tokens")
            graft.hybrid.IntervalsQ(im, m.path("boost").asDouble(1.0))
          case filtered: Intervals.IFiltered =>
            // a filter rides the match — the interval algebra evaluates it
            graft.hybrid.IntervalsQ(filtered, m.path("boost").asDouble(1.0))
          case other => throw new IllegalStateException(s"unreachable: $other")
        }
      } else
        graft.hybrid.IntervalsQ(parseSource(body), body.path("boost").asDouble(1.0))
    } else if (!q.path("span_first").isMissingNode) {
      // {"span_first": {"match": {"span_term": {"text": "merge"}}, "end": 3}}
      val body = q.path("span_first")
      val st = body.path("match").path("span_term")
      require(!st.isMissingNode, "span_first [match] must be a span_term")
      val (_, b) = firstField(st)
      val t = if (b.isObject) b.path("value").asText() else b.asText()
      require(t.nonEmpty, "span_term requires a non-empty value")
      require(body.path("end").isNumber && body.path("end").asInt() >= 1,
        "span_first requires [end] >= 1")
      graft.hybrid.SpanFirstQ(t, body.path("end").asInt(),
        body.path("boost").asDouble(1.0))
    } else if (!q.path("span_not").isMissingNode) {
      // {"span_not": {"include": {"span_term": {"text": "a"}},
      //   "exclude": {"span_term": {"text": "b"}}, "pre": 0, "post": 1}}
      val body = q.path("span_not")
      def spanTerm(key: String): String = {
        val st = body.path(key).path("span_term")
        require(!st.isMissingNode, s"span_not [$key] must be a span_term")
        val (_, b) = firstField(st)
        val t = if (b.isObject) b.path("value").asText() else b.asText()
        require(t.nonEmpty, "span_term requires a non-empty value")
        t
      }
      val (inc, exc) = (spanTerm("include"), spanTerm("exclude"))
      require(inc != exc, "span_not include and exclude must differ")
      val (pre, post) = (body.path("pre").asInt(0), body.path("post").asInt(0))
      require(pre >= 0 && post >= 0, "span_not [pre]/[post] must be >= 0")
      graft.hybrid.SpanNotQ(inc, exc, pre, post, body.path("boost").asDouble(1.0))
    } else if (!q.path("span_containing").isMissingNode ||
               !q.path("span_within").isMissingNode) {
      // {"span_containing": {"big": {"span_near": {...}}, "little":
      //   {"span_term": {...}}}} | {"span_within": {"little": ..., "big":
      //   ...}} — both lower onto the ONE containment matcher: at the
      //   matched-doc level a big span containing little exists iff a
      //   little span within big does
      val body = if (!q.path("span_containing").isMissingNode)
        q.path("span_containing") else q.path("span_within")
      val near = body.path("big").path("span_near")
      require(!near.isMissingNode, "span_containing/span_within [big] must be a span_near")
      val cls = near.path("clauses")
      require(cls.isArray && cls.size() >= 2,
        "span_near requires at least 2 [clauses]")
      val bigTerms = (0 until cls.size()).map { j =>
        val st = cls.get(j).path("span_term")
        require(!st.isMissingNode, "span_near clauses must be span_term")
        val (_, b) = firstField(st)
        val t = if (b.isObject) b.path("value").asText() else b.asText()
        require(t.nonEmpty, "span_term requires a non-empty value")
        t
      }
      require(near.path("slop").isNumber, "span_near requires [slop]")
      val lt = body.path("little").path("span_term")
      require(!lt.isMissingNode, "span_containing/span_within [little] must be a span_term")
      val (_, lb) = firstField(lt)
      val little = if (lb.isObject) lb.path("value").asText() else lb.asText()
      require(little.nonEmpty, "span_term requires a non-empty value")
      graft.hybrid.SpanContainingQ(bigTerms, near.path("slop").asInt(),
        near.path("in_order").asBoolean(false), little,
        body.path("boost").asDouble(1.0))
    } else if (!q.path("span_or").isMissingNode) {
      // {"span_or": {"clauses": [{"span_term": ...}, ...]}} — a doc matches
      // if ANY clause span occurs; as a matched-set filter that is exactly
      // the constant-score any-of terms matcher, so it lowers onto
      // TermsSet — zero new execution machinery
      val cls = q.path("span_or").path("clauses")
      require(cls.isArray && cls.size() >= 1, "span_or requires [clauses]")
      val terms = (0 until cls.size()).map { j =>
        val st = cls.get(j).path("span_term")
        require(!st.isMissingNode, "span_or clauses must be span_term")
        val (_, b) = firstField(st)
        val t = if (b.isObject) b.path("value").asText() else b.asText()
        require(t.nonEmpty, "span_term requires a non-empty value")
        t
      }
      graft.hybrid.TermsSet(terms.distinct,
        q.path("span_or").path("boost").asDouble(1.0))
    } else if (!q.path("has_child").isMissingNode) {
      // {"has_child": {"type": "chunks", "query": {"match": {...}},
      //   "score_mode": "sum", "min_children": 2}} — parents of matching
      // children in the registered child relation; composes because the
      // parents ARE docs
      val body = q.path("has_child")
      val rel = body.path("type").asText("")
      require(rel.nonEmpty, "has_child requires [type] (the child relation)")
      val m = body.path("query").path("match")
      require(!m.isMissingNode, "has_child [query] must be a match clause")
      val (_, mv) = firstField(m)
      val text = if (mv.isObject) mv.path("query").asText() else mv.asText()
      val toks = Analyzer.analyze(analyzer)(text).toSeq
      require(toks.nonEmpty, "has_child match requires non-empty query text")
      val minC = body.path("min_children").asInt(1)
      val maxC = if (body.path("max_children").isMissingNode) Int.MaxValue
                 else body.path("max_children").asInt()
      graft.hybrid.HasChildQ(rel, toks,
        body.path("score_mode").asText("none"), minC, maxC,
        body.path("boost").asDouble(1.0))
    } else if (!q.path("nested").isMissingNode) {
      // {"nested": {"path": "chunks", "query": {"match": {...}},
      //   "score_mode": "avg"}} — the block-join over sub-documents. The
      // relational formulation keeps nested docs as a first-class child
      // table keyed by the parent id, so `nested` and `has_child` share
      // ONE join + ONE score_mode aggregation; the semantic differences
      // that survive are the defaults (nested scores avg, has_child none)
      // and the absence of min/max_children
      val body = q.path("nested")
      val rel = body.path("path").asText("")
      require(rel.nonEmpty, "nested requires [path] (the registered nested relation)")
      val m = body.path("query").path("match")
      require(!m.isMissingNode, "nested [query] must be a match clause")
      val (_, mv) = firstField(m)
      val text = if (mv.isObject) mv.path("query").asText() else mv.asText()
      val toks = Analyzer.analyze(analyzer)(text).toSeq
      require(toks.nonEmpty, "nested match requires non-empty query text")
      graft.hybrid.HasChildQ(rel, toks,
        body.path("score_mode").asText("avg"), 1, Int.MaxValue,
        body.path("boost").asDouble(1.0))
    } else if (!q.path("fuzzy").isMissingNode) {
      // {"fuzzy": {"text": {"value": "joim", "fuzziness": 1, "boost": 2.0,
      // "transpositions": true}}} | {"fuzzy": {"text": "joim"}} (fuzziness
      // defaults to 1, like AUTO resolves for short terms; transpositions
      // defaults true — Lucene FuzzyQuery counts an adjacent swap as 1 edit)
      val (_, body) = firstField(q.path("fuzzy"))
      val (v, fz, boost, tr) =
        if (body.isObject)
          (body.path("value").asText(), body.path("fuzziness").asInt(1),
            body.path("boost").asDouble(1.0),
            body.path("transpositions").asBoolean(true))
        else (body.asText(), 1, 1.0, true)
      require(v.nonEmpty, "fuzzy requires a non-empty value")
      graft.hybrid.Fuzzy(v, fz, boost, tr)
    } else if (!q.path("simple_query_string").isMissingNode) {
      // {"simple_query_string": {"query":
      //   "merge -dup +join fil* merg~1 \"table hash\"~1"}} — the
      // fail-soft mini-language: bare tokens are optional (OR), '+'
      // requires, '-' prohibits, quotes make a phrase; a trailing '*' is a
      // PREFIX operator (constant-score dictionary expansion), a trailing
      // '~N' on a term is FUZZY (Damerau, Lucene's default) and on a
      // phrase is SLOP. '|' is the explicit OR separator — the default
      // already, so it parses as whitespace. Parses into the bool algebra,
      // so it composes like any clause.
      val body = q.path("simple_query_string")
      val text = if (body.isObject) body.path("query").asText("") else body.asText("")
      require(text.nonEmpty, "simple_query_string requires a non-empty [query]")
      val tok = java.util.regex.Pattern.compile(
        "([+-]?)(\"([^\"]*)\"(~(\\d+))?|\\S+)")
      val m = tok.matcher(text)
      val must = Seq.newBuilder[SubQuery]
      val should = Seq.newBuilder[SubQuery]
      val mustNot = Seq.newBuilder[SubQuery]
      val analyze: String => Array[String] = Analyzer.analyze(analyzer)(_)
      while (m.find()) {
        val quoted = m.group(3) != null
        val raw = if (quoted) m.group(3) else m.group(2)
        // term-level operators, applied BEFORE analysis strips them
        val (core, suffix: Option[SubQuery]) =
          if (quoted) (raw, None)
          else raw match {
            case s if s == "|" => ("", None) // explicit OR = the default
            case s if s.endsWith("*") && s.length > 1 &&
                s.dropRight(1).matches("[a-z0-9]+") =>
              ("", Some(graft.hybrid.TermPattern(s.dropRight(1) + "%")))
            case s if s.matches("[a-z0-9]+~[0-2]") =>
              val Array(t, f) = s.split('~')
              ("", Some(graft.hybrid.Fuzzy(t, f.toInt)))
            case s => (s, None)
          }
        val terms = if (core.isEmpty) Seq.empty else analyze(core).toSeq
        val clause: Option[SubQuery] = suffix.orElse {
          if (terms.isEmpty) None
          // a 1-term "phrase" degrades to a term match, like the reference
          else if (quoted && terms.size >= 2) {
            val slop = Option(m.group(5)).map(_.toInt).getOrElse(0)
            Some(graft.hybrid.LexicalPhrase(terms, slop))
          } else Some(Lexical(terms))
        }
        clause.foreach { c =>
          m.group(1) match {
            case "+" => must += c
            case "-" => mustNot += c
            case _   => should += c
          }
        }
      }
      val b = graft.hybrid.BoolSub(must.result(), should.result(), mustNot.result())
      require(b.must.nonEmpty || b.should.nonEmpty || b.mustNot.nonEmpty,
        "simple_query_string parsed no clauses")
      b
    } else if (!q.path("ids").isMissingNode) {
      // {"ids": {"values": [1, 2, 3], "boost": 2.0}}
      val body = q.path("ids")
      val vs = body.path("values")
      require(vs.isArray && vs.size() > 0, "ids requires a non-empty [values] array")
      val boost = body.path("boost").asDouble(1.0)
      graft.hybrid.IdsQ((0 until vs.size()).map(i => vs.get(i).asLong()), boost)
    } else if (!q.path("terms").isMissingNode) {
      // {"terms": {"text": ["merge", "scan"], "boost": 1.5}} — the boost
      // key rides beside the field key, as in OpenSearch
      val body = q.path("terms")
      val fieldEntry = {
        val it = body.fields()
        var found: Option[(String, JsonNode)] = None
        while (it.hasNext && found.isEmpty) {
          val e = it.next()
          if (e.getKey != "boost") found = Some(e.getKey -> e.getValue)
        }
        found.getOrElse(throw new IllegalArgumentException(
          "terms requires a field with a values array"))
      }
      if (fieldEntry._2.isObject) {
        // lookup form: {"terms": {"text": {"index": "documents", "id": 7,
        //   "path": "text"}}} — values fetched from a stored doc's field at
        // scoring time (OpenSearch's terms-lookup realtime GET)
        val b = fieldEntry._2
        require(b.path("id").isNumber, "terms lookup requires a numeric [id]")
        val path = b.path("path").asText("")
        require(path.nonEmpty, "terms lookup requires a [path]")
        graft.hybrid.TermsLookupQ(b.path("id").asLong(), path,
          body.path("boost").asDouble(1.0))
      } else {
        require(fieldEntry._2.isArray && fieldEntry._2.size() > 0,
          "terms requires a non-empty values array")
        val values = (0 until fieldEntry._2.size()).map(i => fieldEntry._2.get(i).asText())
        graft.hybrid.TermsSet(values, body.path("boost").asDouble(1.0))
      }
    } else if (!q.path("more_like_this").isMissingNode) {
      // {"more_like_this": {"like": {"_id": 7} | [{"_id": 7}],
      //   "max_query_terms": 25, "min_term_freq": 2, "min_doc_freq": 5,
      //   "minimum_should_match": "30%"}} — only stored-doc like is
      // supported (free-text like would need its own analysis path)
      val body = q.path("more_like_this")
      val likeNode = {
        val l = body.path("like")
        if (l.isArray) { require(l.size() == 1, "more_like_this supports exactly one like doc"); l.get(0) }
        else l
      }
      require(likeNode.path("_id").isNumber,
        "more_like_this requires like: {\"_id\": <doc id>}")
      val msmRatio = {
        val s = body.path("minimum_should_match").asText("30%")
        require(s.endsWith("%"), s"minimum_should_match must be a percentage, got [$s]")
        s.dropRight(1).toDouble / 100.0
      }
      graft.hybrid.MoreLikeThisQ(
        likeNode.path("_id").asLong(),
        body.path("max_query_terms").asInt(25),
        body.path("min_term_freq").asInt(2),
        body.path("min_doc_freq").asInt(5),
        msmRatio)
    } else if (!q.path("constant_score").isMissingNode) {
      // {"constant_score": {"filter": {<clause>}, "boost": 1.5}}
      val body = q.path("constant_score")
      val f = body.path("filter")
      require(!f.isMissingNode && f.isObject && f.size() > 0,
        "constant_score requires a [filter] clause")
      val boost = body.path("boost").asDouble(1.0)
      graft.hybrid.ConstantScore(parseSubQuery(f, analyzer, enricher), boost)
    } else if (!q.path("match_all").isMissingNode) {
      val body = q.path("match_all")
      val boost = body.path("boost").asDouble(1.0)
      require(boost > 0, s"[boost] must be > 0, got $boost")
      graft.hybrid.MatchAll(boost)
    } else if (!q.path("match_none").isMissingNode) {
      // {"match_none": {}} — Lucene MatchNoDocsQuery; the neutral element
      graft.hybrid.MatchNoneQ
    } else if (!q.path("wrapper").isMissingNode) {
      // {"wrapper": {"query": "<base64 of a query JSON>"}} — the escape
      // hatch clients use to ship a prebuilt query through systems that
      // mangle raw JSON; decodes and re-enters this parser, so whatever a
      // clause can be, a wrapper can carry
      val body = q.path("wrapper")
      val b64 = if (body.isObject) body.path("query").asText("") else body.asText("")
      require(b64.nonEmpty, "wrapper requires a base64 [query]")
      val decoded =
        try new String(java.util.Base64.getDecoder.decode(b64),
          java.nio.charset.StandardCharsets.UTF_8)
        catch { case _: IllegalArgumentException => throw new IllegalArgumentException(
          "wrapper [query] is not valid base64") }
      val node =
        try mapper.readTree(decoded)
        catch { case e: Exception => throw new IllegalArgumentException(
          s"wrapper [query] does not decode to JSON: ${e.getMessage}") }
      require(node != null && node.isObject, "wrapper [query] must decode to a JSON object")
      parseSubQuery(node, analyzer, enricher)
    } else if (!q.path("bool").isMissingNode) {
      // nested bool clause — Lucene BooleanQueries nest arbitrarily,
      // including FILTER context (Occur.FILTER: required, non-scoring):
      // any sub-query is legal inside [filter] and gates matching without
      // contributing to the score
      val b = q.path("bool")
      def cl(name: String): Seq[SubQuery] = {
        val node = b.path(name)
        if (node.isMissingNode) Nil
        else if (node.isArray)
          (0 until node.size()).map(i => parseSubQuery(node.get(i), analyzer, enricher))
        else Seq(parseSubQuery(node, analyzer, enricher))
      }
      val msm = Option(b.path("minimum_should_match")).filter(_.isNumber).map(_.asInt())
      graft.hybrid.BoolSub(cl("must"), cl("should"), cl("must_not"), msm, cl("filter"))
    } else if (!q.path("match_phrase").isMissingNode) {
      // phrase query: slop 0 = consecutive analyzed positions (Lucene
      // ExactPhraseMatcher); slop > 0 = Lucene SloppyPhraseMatcher over the
      // positional blocks (distinct terms only — repeats rejected)
      val (_, body) = firstField(q.path("match_phrase"))
      val text =
        if (body.isObject) body.path("query").asText() else body.asText()
      require(text.nonEmpty,
        "match_phrase requires a non-empty query text (object form: {\"query\": ...})")
      val slop = if (body.isObject) body.path("slop").asInt(0) else 0
      require(slop >= 0, s"match_phrase [slop] must be >= 0, got $slop")
      val terms = Analyzer.analyze(analyzer)(text).toSeq
      require(terms.size >= 2, "match_phrase requires at least 2 analyzed terms")
      graft.hybrid.LexicalPhrase(terms, slop)
    } else if (!q.path("multi_match").isMissingNode) {
      // {"multi_match": {"query": "...", "fields": ["text", "path^2"],
      //   "type": "best_fields"|"most_fields", "tie_breaker": 0.3}} —
      // field boosts in Lucene's caret syntax. cross_fields / phrase types
      // are not implemented and rejected explicitly.
      val body = q.path("multi_match")
      val text = body.path("query").asText("")
      require(text.nonEmpty, "multi_match requires a non-empty [query]")
      val fields = parseFieldSpecs(body.path("fields"), "multi_match")
      val mm = body.path("type").asText("best_fields") match {
        case "best_fields" =>
          graft.hybrid.BestFields(body.path("tie_breaker").asDouble(0.0))
        case "most_fields" =>
          require(body.path("tie_breaker").isMissingNode,
            "[tie_breaker] only applies to type best_fields")
          graft.hybrid.MostFields
        case "cross_fields" =>
          require(body.path("tie_breaker").isMissingNode,
            "[tie_breaker] only applies to type best_fields and phrase")
          graft.hybrid.CrossFields
        case "phrase" =>
          // one PhraseQuery per field under a DisjunctionMaxQuery
          // (MultiMatchQueryBuilder.Type.PHRASE); slop applies per field
          graft.hybrid.PhraseFields(
            body.path("tie_breaker").asDouble(0.0), body.path("slop").asInt(0))
        case "phrase_prefix" =>
          // one MultiPhrasePrefixQuery per field, expansions from each
          // field's own dictionary (Type.PHRASE_PREFIX)
          graft.hybrid.PhrasePrefixFields(
            body.path("tie_breaker").asDouble(0.0),
            body.path("max_expansions").asInt(50))
        case "bool_prefix" =>
          // one match_bool_prefix per field under a dis-max
          // (Type.BOOL_PREFIX): leading tokens score, the last is a
          // constant-score prefix on each field's own dictionary
          graft.hybrid.BoolPrefixFields(body.path("tie_breaker").asDouble(0.0))
        case other => throw new IllegalArgumentException(
          s"multi_match type [$other] is not supported " +
            "(best_fields, most_fields, cross_fields, phrase, " +
            "phrase_prefix, bool_prefix)")
      }
      val terms = Analyzer.analyze(analyzer)(text).toSeq
      graft.hybrid.LexicalMulti(fields, terms, mm)
    } else if (!q.path("combined_fields").isMissingNode) {
      // {"combined_fields": {"query": "...", "fields": ["text", "path^2"],
      //   "operator": "and"|"or", "minimum_should_match": n}} — Lucene's
      //   CombinedFieldQuery: the fields merge into one pseudo-field
      //   (tf/length/collection stats merge BEFORE BM25 saturation), each
      //   analyzed term is one clause of a should-bool so operator/msm gate
      //   on distinct matched terms. Field weights must be >= 1 (validated
      //   downstream, the Lucene contract).
      val body = q.path("combined_fields")
      val text = body.path("query").asText("")
      require(text.nonEmpty, "combined_fields requires a non-empty [query]")
      val fields = parseFieldSpecs(body.path("fields"), "combined_fields")
      val terms = Analyzer.analyze(analyzer)(text).toSeq
      val operator = body.path("operator").asText("or")
      require(operator == "or" || operator == "and",
        s"combined_fields operator must be and|or, got [$operator]")
      val msmNode = body.path("minimum_should_match")
      require(msmNode.isMissingNode || operator == "or",
        "minimum_should_match only applies with operator or")
      val msm =
        if (operator == "and") terms.distinct.size
        else if (!msmNode.isMissingNode) msmNode.asInt()
        else 0
      graft.hybrid.LexicalMulti(fields, terms,
        graft.hybrid.CombinedFields(msm))
    } else if (!q.path("term").isMissingNode) {
      val (_, body) = firstField(q.path("term"))
      val (v, boost) =
        if (body.isObject) (body.path("value").asText(), body.path("boost").asDouble(1.0))
        else (body.asText(), 1.0)
      require(v.nonEmpty,
        "term requires a non-empty value (object form: {\"value\": ...})")
      require(boost > 0, s"[boost] must be > 0, got $boost")
      Lexical(Seq(v), if (boost == 1.0) Map.empty else Map(v -> boost))
    } else if (!q.path("range").isMissingNode) {
      // {"range": {"n_chars": {"gte": 100, "lt": 300, "boost": 2.0}}} as a
      // SCORING-context clause (must/should): constant-score like Lucene's
      // ConstantScore(PointRangeQuery). Filter-context ranges keep the
      // request-level filter machinery (pushed into every sub-query).
      val (f, body) = firstField(q.path("range"))
      def num(k: String): Option[Double] =
        Option(body.path(k)).filter(_.isNumber).map(_.asDouble())
      graft.hybrid.RangeQ(f, num("gte"), num("gt"), num("lte"), num("lt"),
        body.path("boost").asDouble(1.0))
    } else if (!q.path("terms_set").isMissingNode) {
      // {"terms_set": {"text": {"terms": [...],
      //   "minimum_should_match_field": "required_matches"}}} — the per-doc
      // msm form (Lucene CoveringQuery); the constant-msm form is `match`
      // with minimum_should_match
      val (_, body) = firstField(q.path("terms_set"))
      val arr = body.path("terms")
      require(arr.isArray && arr.size() > 0,
        "terms_set requires a non-empty [terms] array")
      val ts = (0 until arr.size()).map(arr.get(_).asText())
      val f = body.path("minimum_should_match_field").asText("")
      graft.hybrid.TermsSetFieldQ(ts, f, body.path("boost").asDouble(1.0))
    } else if (!q.path("neural_sparse").isMissingNode) {
      val (field, body) = firstField(q.path("neural_sparse"))
      val toks = body.path("query_tokens")
      val qtokens: Map[String, Double] =
        if (toks.isObject && toks.size() > 0) {
          // raw-token form: the caller supplies the encoded query directly
          // (reference: NeuralSparseQueryBuilder.java:307-374 query_tokens)
          val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
          toks.fields().forEachRemaining(e => m += (e.getKey -> e.getValue.asDouble()))
          m.toMap
        } else {
          val text = body.path("query_text").asText("")
          require(text.nonEmpty,
            "neural_sparse requires query_tokens or query_text")
          val anaNode = body.path("analyzer")
          val modelNode = Option(body.path("model_id"))
            .filterNot(_.isMissingNode).map(_.asText())
          if (!anaNode.isMissingNode) {
            // analyzer form (model-free query-side tokenization — the
            // reference's NeuralSparseQueryBuilder accepts `analyzer` as the
            // mutually-exclusive alternative to model inference: tokens come
            // from the named analyzer, each weighted 1.0, and the stored
            // sparse vectors carry all the learned weighting)
            require(modelNode.isEmpty,
              "neural_sparse accepts [analyzer] or [model_id], not both")
            val ts = Analyzer.analyze(anaNode.asText())(text).toSeq
            require(ts.nonEmpty, "neural_sparse analyzer produced no tokens")
            ts.distinct.map(_ -> 1.0).toMap
          } else {
            // query_text form: run the (mock) sparse encoding model over the
            // analyzed text; the model id must come from the clause or a
            // neural_query_enricher request-processor default (reference:
            // NeuralSparseQueryBuilder requires model_id for inference;
            // NeuralQueryEnricherProcessor fills the default)
            val modelId = enricher.resolve(field, modelNode)
            require(modelId.nonEmpty,
              "neural_sparse [query_text] requires a model_id — set it on the clause " +
                "or configure a neural_query_enricher request processor with default_model_id")
            Sparse.encodeQueryTokens(Analyzer.analyze(analyzer)(text).toSeq)
          }
        }
      val mp = body.path("method_parameters")
      if (mp.isMissingNode) SparseLinear(qtokens)
      else {
        // method_parameters routes the clause to the SEISMIC
        // cluster-skipping scorer (reference:
        // sparse/query/SparseAnnQueryBuilder.java:67-87 — {top_n, k,
        // heap_factor, filter} on a neural_sparse query against a
        // SEISMIC-enabled field); defaults k=10, top_n=10, heap_factor=1.0
        // (SparseConstants). Unknown keys fail loudly.
        require(mp.isObject, "neural_sparse [method_parameters] must be an object")
        mp.fieldNames().forEachRemaining { k =>
          require(Set("top_n", "k", "heap_factor", "filter")(k),
            s"unknown method_parameters key [$k] — supported: top_n, k, heap_factor, filter")
        }
        def intP(k: String, d: Int): Int = {
          val n = mp.path(k)
          if (n.isMissingNode) d
          else {
            require(n.isIntegralNumber && n.asInt() >= 1, s"[$k] must be an integer >= 1")
            n.asInt()
          }
        }
        val hfNode = mp.path("heap_factor")
        val hf =
          if (hfNode.isMissingNode) 1.0
          else { require(hfNode.isNumber, "[heap_factor] must be a number"); hfNode.asDouble() }
        val filt = Option(mp.path("filter")).filterNot(_.isMissingNode)
          .map(annFilterColumn)
        SparseAnn(qtokens, topN = intP("top_n", 10), heapFactor = hf,
          k = intP("k", 10), filter = filt)
      }
    } else if (!q.path("neural").isMissingNode) {
      val (field, body) = firstField(q.path("neural"))
      val qid = body.path("query_id")
      val qtext = body.path("query_text").asText("")
      if (qtext.nonEmpty) {
        // semantic-field routing: a neural clause with query_text against a
        // SEMANTIC field resolves at scoring time to the field's generated
        // chunk sub-field (dense or sparse per its registration) with nested
        // best-chunk scoring — the reference's semantic rewrite
        // (query/NeuralQueryBuilder.java:1019-1065,
        // mapper/SemanticFieldMapper.java:268-276)
        require(!qid.isNumber,
          "neural accepts query_text (semantic field) or query_id, not both")
        SemanticText(field, Analyzer.analyze(analyzer)(qtext).toSeq)
      } else {
        require(qid.isNumber,
          "neural requires query_id (stored-embedding lookup) or query_text (semantic field)")
        val (ms, md) = radialBounds(body)
        if (ms.isDefined || md.isDefined) DenseRadial(qid.asLong(), ms, md)
        else DenseCosine(qid.asLong())
      }
    } else if (!q.path("knn").isMissingNode) {
      // raw-vector form: the caller embedded client-side and supplies the
      // vector directly (reference: NeuralKNNQueryBuilder.vector(float[]))
      val (_, body) = firstField(q.path("knn"))
      val vec = body.path("vector")
      require(vec.isArray && vec.size() > 0, "knn requires a non-empty vector array")
      val (ms, md) = radialBounds(body)
      DenseVector((0 until vec.size()).map(vec.get(_).asDouble()), ms, md)
    } else if (!q.path("script_score").isMissingNode) {
      // {"script_score": {"query": {...}, "script": {"source":
      //   "cosineSimilarity(params.query_vector, doc['embedding']) + 1.0",
      //   "params": {"query_vector": [...]}}}} — the exact-kNN idiom: the
      // inner query filters, the space function REPLACES the score. Only
      // the three documented deterministic vector sources are accepted
      // (real painless compilation is out of scope and says so).
      val body = q.path("script_score")
      require(!body.path("query").isMissingNode, "script_score requires [query]")
      val inner = parseSubQuery(body.path("query"), analyzer, enricher)
      val script = body.path("script")
      val source = script.path("source").asText("")
      val qvNode = script.path("params").path("query_vector")
      require(qvNode.isArray && qvNode.size() > 0,
        "script_score requires a non-empty [params.query_vector]")
      val qv = (0 until qvNode.size()).map(qvNode.get(_).asDouble())
      val Cos = """cosineSimilarity\(params\.query_vector,\s*doc\['embedding'\]\)\s*\+\s*1\.0""".r
      val L2 = """1\s*/\s*\(\s*1\s*\+\s*l2Squared\(params\.query_vector,\s*doc\['embedding'\]\)\s*\)""".r
      val Ip = """innerProduct\(params\.query_vector,\s*doc\['embedding'\]\)""".r
      val fn = source.trim match {
        case Cos() => graft.hybrid.CosinePlusOne
        case L2()  => graft.hybrid.InvL2
        case Ip()  => graft.hybrid.InnerProd
        case other => throw new IllegalArgumentException(
          s"unsupported script_score source [$other] — supported vector " +
            "functions: cosineSimilarity(...)+1.0, 1/(1+l2Squared(...)), " +
            "innerProduct(...) over doc['embedding']")
      }
      graft.hybrid.ScriptScoreQ(inner, fn, qv, body.path("boost").asDouble(1.0))
    } else throw new IllegalArgumentException(s"unsupported sub-query: $q")

  /** Radial-form bounds of a neural/knn clause, enforcing the reference's
   *  rule that at most one of `k`, `max_distance`, `min_score` may be set
   *  (util/NeuralQueryValidationUtil.java:139-148 — "Only one of k,
   *  max_distance, or min_score can be provided"). `k` itself is not used
   *  (pagination_depth plays its role inside hybrid) but still counts
   *  toward the exclusivity rule, exactly as the reference parses it. */
  private def radialBounds(body: JsonNode): (Option[Double], Option[Double]) = {
    val k = Option(body.path("k")).filter(_.isNumber)
    val md = Option(body.path("max_distance")).filter(_.isNumber).map(_.asDouble())
    val ms = Option(body.path("min_score")).filter(_.isNumber).map(_.asDouble())
    val n = Seq(k.isDefined, md.isDefined, ms.isDefined).count(identity)
    require(n <= 1, "Only one of [k], [max_distance], or [min_score] can be provided")
    require(md.forall(_ >= 0.0), "max_distance must be >= 0")
    (ms, md)
  }

  /** A numeric `range` filter clause: any of gte/gt/lte/lt, ANDed. */
  case class RangeF(field: String, gte: Option[Double], gt: Option[Double],
                    lte: Option[Double], lt: Option[Double]) {
    require(Seq(gte, gt, lte, lt).exists(_.nonEmpty),
      s"range [$field] requires at least one of gte/gt/lte/lt")
    require(gte.isEmpty || gt.isEmpty, s"range [$field]: gte and gt conflict")
    require(lte.isEmpty || lt.isEmpty, s"range [$field]: lte and lt conflict")
    def predicate: org.apache.spark.sql.Column =
      (gte.map(col(field) >= _) ++ gt.map(col(field) > _) ++
        lte.map(col(field) <= _) ++ lt.map(col(field) < _)).reduce(_ && _)
  }

  private def parseRange(r: JsonNode): RangeF = {
    val (field, body) = firstField(r)
    def num(k: String): Option[Double] =
      Option(body.path(k)).filter(_.isNumber).map(_.asDouble())
    RangeF(field, num("gte"), num("gt"), num("lte"), num("lt"))
  }

  /** `filter` accepts a single `term`/`range` clause or a `bool.must` of
   *  them, like the reference's filter QueryBuilder (pushed into every
   *  sub-query, HybridQueryBuilder.java:116-127). Returns equality filters
   *  plus numeric range filters. */
  private def parseFilter(node: JsonNode): (Seq[(String, String)], Seq[RangeF]) =
    if (node.isMissingNode) (Nil, Nil)
    else if (!node.path("term").isMissingNode && node.path("term").isObject) {
      val (name, v) = firstField(node.path("term"))
      (Seq((name, v.asText())), Nil)
    } else if (!node.path("range").isMissingNode && node.path("range").isObject) {
      (Nil, Seq(parseRange(node.path("range"))))
    } else if (!node.path("bool").isMissingNode) {
      val must = node.path("bool").path("must")
      require(must.isArray && must.size() > 0, "filter.bool.must must be a non-empty array")
      val parsed = (0 until must.size()).map { i =>
        val t = must.get(i).path("term")
        val r = must.get(i).path("range")
        if (!t.isMissingNode && t.isObject) {
          val (name, v) = firstField(t)
          Left((name, v.asText()))
        } else if (!r.isMissingNode && r.isObject) Right(parseRange(r))
        else throw new IllegalArgumentException(
          s"filter.bool.must supports term and range clauses, got ${must.get(i)}")
      }
      (parsed.collect { case Left(x) => x }, parsed.collect { case Right(x) => x })
    } else throw new IllegalArgumentException(s"unsupported filter: $node")

  /** A sparse-ANN clause-level filter as ONE Column predicate over the
   *  stored-fields table — same accepted shapes as the request-level
   *  filter (term / range / bool.must of them), but evaluated DURING the
   *  ANN search rather than pushed into every sub-query. */
  private def annFilterColumn(node: JsonNode): org.apache.spark.sql.Column = {
    val (eqs, ranges) = parseFilter(node)
    require(eqs.nonEmpty || ranges.nonEmpty,
      "sparse ANN [filter] supports term / range / bool.must of them")
    (eqs.map { case (f, v) => col(f) === v } ++ ranges.map(_.predicate))
      .reduce(_ && _)
  }

  /** Apply parsed equality + range filters to the docs table -> doc_id set. */
  private def filterDf(docs: => DataFrame, eqs: Seq[(String, String)],
                       ranges: Seq[RangeF],
                       slice: Option[(Int, Int)] = None): Option[DataFrame] =
    if (eqs.isEmpty && ranges.isEmpty && slice.isEmpty) None
    else {
      val afterEq = eqs.foldLeft(docs)((d, f) => d.where(col(f._1) === f._2))
      val afterR = ranges.foldLeft(afterEq)((d, r) => d.where(r.predicate))
      // slice id of max: doc_id % max == id — m disjoint covering slices,
      // each consumer's predicate reaches the scan like any pushed filter
      val sliced = slice.fold(afterR) { case (id, max) =>
        afterR.where(org.apache.spark.sql.functions.pmod(
          col("doc_id"), org.apache.spark.sql.functions.lit(max.toLong)) === id.toLong)
      }
      Some(sliced.select("doc_id"))
    }

  /** `search_template` rendering — the mustache-subset substitution every
   *  template request uses: `{{name}}` placeholders replaced by the
   *  param's JSON-escaped string form (numbers/booleans verbatim, so a
   *  placeholder can sit in a value position like `"size": {{size}}`).
   *  Unresolved placeholders are rejected: a template with a missing param
   *  must fail loudly, not search for the literal braces. */
  def renderTemplate(source: String, params: Map[String, Any]): String = {
    val out = params.foldLeft(source) { case (acc, (k, v)) =>
      acc.replace(s"{{$k}}", v match {
        case s: String => s.replace("\\", "\\\\").replace("\"", "\\\"")
        case other     => String.valueOf(other)
      })
    }
    val leftover = "\\{\\{[^}]*\\}\\}".r.findFirstIn(out)
    require(leftover.isEmpty, s"unresolved template parameter: ${leftover.get}")
    out
  }

  /** The NAMED functions a runtime-field script may call — the sandbox
   *  analogue of painless's fixed whitelist. Request JSON reaches `expr()`
   *  here, and an unrestricted parse would admit `java_method()` /
   *  `reflect()` (arbitrary JVM static-method invocation), registered
   *  UDFs, and non-deterministic calls (`rand`, `uuid`,
   *  `monotonically_increasing_id`) — none of which the reference's
   *  sandboxed runtime fields can express. Operators, literals, casts,
   *  field references, CASE/WHEN and lambda parameters parse to dedicated
   *  deterministic expression nodes and are always allowed; every named
   *  call must be on this list (deterministic scalar built-ins only). */
  private val RuntimeScriptFunctions: Set[String] = Set(
    // math
    "abs", "ceil", "ceiling", "floor", "round", "bround", "sqrt", "cbrt",
    "exp", "expm1", "ln", "log", "log10", "log2", "log1p", "pow", "power",
    "mod", "pmod", "sign", "signum", "greatest", "least", "sin", "cos",
    "tan", "asin", "acos", "atan", "atan2", "sinh", "cosh", "tanh",
    "degrees", "radians", "pi", "e", "factorial", "rint", "hypot",
    "positive", "negative", "try_divide", "try_add", "try_subtract",
    "try_multiply",
    // string
    "length", "char_length", "character_length", "lower", "lcase", "upper",
    "ucase", "substring", "substr", "concat", "concat_ws", "trim", "ltrim",
    "rtrim", "btrim", "replace", "translate", "split", "split_part",
    "regexp_extract", "regexp_extract_all", "regexp_replace", "regexp_like",
    "regexp_count", "regexp_substr", "rlike", "like", "ilike", "instr",
    "locate", "position", "lpad", "rpad", "repeat", "reverse", "initcap",
    "left", "right", "startswith", "endswith", "contains",
    "substring_index", "ascii", "chr", "char", "format_number",
    "format_string", "printf", "elt", "find_in_set", "levenshtein",
    "soundex", "overlay",
    // deterministic hashes / conversions
    "md5", "sha", "sha1", "sha2", "hash", "xxhash64", "crc32", "conv",
    "bin", "hex", "unhex", "base64", "unbase64", "encode", "decode",
    "to_number", "try_to_number",
    // conditional / null handling
    "if", "iff", "coalesce", "nullif", "nvl", "nvl2", "ifnull", "isnull",
    "isnotnull", "nanvl",
    // date/time on EXPLICIT inputs (current_date/current_timestamp/now are
    // deliberately absent — a runtime field must be a pure function of the
    // row)
    "to_date", "to_timestamp", "try_to_timestamp", "date_add", "dateadd",
    "date_sub", "datediff", "date_diff", "add_months", "months_between",
    "year", "quarter", "month", "day", "dayofmonth", "dayofweek",
    "weekday", "dayofyear", "weekofyear", "hour", "minute", "second",
    "date_trunc", "trunc", "last_day", "next_day", "from_unixtime",
    "to_unix_timestamp", "unix_timestamp", "unix_date", "date_format",
    "make_date", "make_timestamp", "date_part", "datepart", "extract",
    // arrays / maps / structs (incl. the deterministic lambda HOFs)
    "size", "cardinality", "array", "array_contains", "array_position",
    "array_remove", "array_distinct", "array_intersect", "array_union",
    "array_except", "array_join", "array_min", "array_max", "array_repeat",
    "array_compact", "array_append", "array_prepend", "array_insert",
    "array_size", "arrays_zip", "arrays_overlap", "element_at",
    "try_element_at", "get", "slice", "sort_array", "array_sort",
    "sequence", "flatten", "transform", "filter", "exists", "forall",
    "aggregate", "reduce", "zip_with", "map_filter", "map_zip_with",
    "transform_keys", "transform_values", "map", "map_keys", "map_values",
    "map_entries", "map_concat", "map_from_entries", "map_from_arrays",
    "str_to_map", "named_struct", "struct",
    // json (parse-only, deterministic)
    "get_json_object", "json_tuple", "from_json", "to_json",
    "schema_of_json", "parse_url", "url_decode", "url_encode")

  /** Reject any script whose expression tree calls a function outside
   *  [[RuntimeScriptFunctions]] or embeds a subquery. Walks the PARSED
   *  (unresolved) tree: every named call is an `UnresolvedFunction` at
   *  this stage, so the check runs before any resolution could bind a
   *  dangerous builtin or a session-registered UDF. */
  private def validateRuntimeScript(name: String,
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      columns: Set[String]): Unit =
    e.foreach {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        val fn = f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT))
          .mkString(".")
        require(f.nameParts.size == 1 && RuntimeScriptFunctions.contains(fn),
          s"runtime field [$name] calls [$fn], which is outside the " +
            "deterministic scalar-function allowlist for runtime scripts")
      case _: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
        throw new IllegalArgumentException(
          s"runtime field [$name] script may not contain a subquery")
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        // paren-less literal functions (CURRENT_TIMESTAMP etc.) parse as
        // attributes and only become function calls during analysis —
        // reject them by name so a runtime field stays a pure row
        // function. A STORED COLUMN with such a name shadows the function
        // during resolution (columns win), so it passes; the analyzed-tree
        // determinism gate below backstops the resolution either way.
        val an = a.name.toLowerCase(java.util.Locale.ROOT)
        require(columns.contains(a.name) ||
          !Set("current_timestamp", "current_date", "current_time",
            "now", "localtimestamp", "current_user", "user", "session_user",
            "current_database", "current_schema", "current_catalog")(an),
          s"runtime field [$name] references [$an], which is outside the " +
            "deterministic scalar-function allowlist for runtime scripts")
      case _ => ()
    }

  /** Parse + execute against hybrid sources; `docs` supplies filter and
   *  collapse fields. */
  /** `runtime_mappings`: query-time computed fields over the stored docs
   *  table (the OpenSearch runtime-field contract — derived at search
   *  time, never indexed, usable by filters / sort / collapse exactly
   *  like stored fields). The script dialect here is the deterministic
   *  Spark SQL expression subset (`floor(n_chars/100)*100` etc.) rather
   *  than painless, SANDBOXED to the [[RuntimeScriptFunctions]] allowlist
   *  — parse failures, out-of-allowlist calls, subqueries, and
   *  stored-field shadowing are all rejected at request time; the derived
   *  column is a codegen'd projection fused into the same scan, never a
   *  second pass. */
  private def applyRuntimeMappings(rm: JsonNode, docs: DataFrame): DataFrame =
    if (rm.isMissingNode || !rm.isObject || rm.size() == 0) docs
    else {
      var out = docs
      rm.fields().forEachRemaining { e =>
        val name = e.getKey
        val sNode = e.getValue.path("script")
        val script =
          if (sNode.isTextual) sNode.asText() else sNode.path("source").asText("")
        require(script.nonEmpty, s"runtime field [$name] requires a [script]")
        require(!out.columns.contains(name),
          s"runtime field [$name] shadows an existing field")
        val parsed =
          try docs.sparkSession.sessionState.sqlParser.parseExpression(script)
          catch {
            case ex: org.apache.spark.sql.catalyst.parser.ParseException =>
              throw new IllegalArgumentException(
                s"runtime field [$name] script does not parse: ${ex.getMessage}")
          }
        validateRuntimeScript(name, parsed, out.columns.toSet)
        out = out.withColumn(name, org.apache.spark.sql.functions.expr(script))
        // belt-and-braces determinism gate over the ANALYZED column: even
        // an allowlisted spelling that resolved to something
        // non-deterministic would be rejected here
        out.queryExecution.analyzed.expressions.foreach(_.foreach { x =>
          require(x.deterministic,
            s"runtime field [$name] resolved to a non-deterministic " +
              s"expression [${x.prettyName}]")
        })
      }
      out
    }

  def execute(src0: HybridSources, json: String, docs0: => DataFrame): DataFrame = {
    val rmNode = mapper.readTree(json).path("runtime_mappings")
    lazy val docs: DataFrame = applyRuntimeMappings(rmNode, docs0)
    // runtime fields must be visible to sort/collapse too: an
    // already-registered fields table gains the derived columns the same
    // way the filter docs do
    val src = src0.copy(fields = src0.fields.map(applyRuntimeMappings(rmNode, _)))
    val rootQ = mapper.readTree(json).path("query")
    if (!rootQ.path("bool").isMissingNode) {
      val pb = parseBool(json, src.idx.analyzer)
      val srcB = if (src.fields.isEmpty) src.copy(fields = Some(docs)) else src
      return BoolQuery.topK(srcB, pb.bool, pb.k,
        filterDf(docs, pb.filters, pb.ranges, pb.slice))
    }
    // a plain top-level clause ({"query": {"match": ...}} etc.) runs as the
    // single scoring clause of an implicit bool — exactly how OpenSearch
    // executes a bare leaf query
    if (rootQ.isObject && rootQ.size() == 1 && rootQ.path("hybrid").isMissingNode) {
      val root = mapper.readTree(json)
      val enricher = parseEnricher(root.path("search_pipeline").path("request_processors"))
      val clause = parseSubQuery(rootQ, src.idx.analyzer, enricher)
      val srcB = if (src.fields.isEmpty) src.copy(fields = Some(docs)) else src
      return BoolQuery.topK(srcB, graft.hybrid.BoolSub(must = Seq(clause)),
        root.path("size").asInt(10), filterDf(docs, Nil, Nil, parseSlice(root)))
    }
    val parsed = parse(json, src.idx.analyzer)
    val fDf = filterDf(docs, parsed.filters, parsed.ranges, parsed.slice)
    val src2 =
      if ((parsed.query.collapse.nonEmpty || parsed.sort.nonEmpty) && src.fields.isEmpty)
        src.copy(fields = Some(docs))
      else src
    if (parsed.sort.nonEmpty)
      Hybrid.executeSorted(src2, parsed.query, parsed.sort, fDf, parsed.searchAfter)
    else {
      require(parsed.searchAfter.isEmpty, "[search_after] requires a [sort]")
      Hybrid.execute(src2, parsed.query, fDf)
    }
  }

  /** Back-compat entry: lexical + sparse clauses only (no embedding source). */
  def execute(idx: Index, json: String, spark: SparkSession, docs: => DataFrame): DataFrame =
    execute(HybridSources(idx, sparse = Some(Sparse.encode(idx)), fields = Some(docs)),
      json, docs)

  // ---- query_string: the classic Lucene mini-language --------------------
  // Grammar (precedence tightest-first): NOT/- / + flags bind to the next
  // atom or group; AND (or &&) chains; OR (or ||) chains; adjacency inserts
  // the default operator. Occur flags map exactly onto BooleanQuery
  // construction: at any level, '+'-flagged operands become must,
  // '-'/NOT-flagged become must_not, bare OR-operands should (msm follows
  // BoolSub's documented default: 1 when should-only), bare AND-operands
  // must. Atoms: [field:]term[^boost], "phrase"[^boost], wildcard terms with
  // * ? (text field only, constant-score rewrite — the same TermPattern as
  // the wildcard query).
  private sealed trait QsTok
  private case object QsLP extends QsTok
  private case object QsRP extends QsTok
  private case object QsAnd extends QsTok
  private case object QsOr extends QsTok
  private case object QsNot extends QsTok
  private case object QsPlus extends QsTok
  private case class QsAtom(field: Option[String], body: String,
                            quoted: Boolean, boost: Double) extends QsTok

  private[graft] def parseQueryString(input: String, defaultAnd: Boolean,
                                      analyzer: String): SubQuery = {
    val pat = java.util.regex.Pattern.compile(
      """\(|\)|&&|\|\||"([^"]*)"(\^[0-9.]+)?|[^\s()"]+""")
    val m = pat.matcher(input)
    val raw = scala.collection.mutable.ArrayBuffer.empty[QsTok]
    while (m.find()) {
      m.group() match {
        case "("  => raw += QsLP
        case ")"  => raw += QsRP
        case "&&" => raw += QsAnd
        case "||" => raw += QsOr
        case _ if m.group(1) != null =>
          val b = Option(m.group(2)).map(_.drop(1).toDouble).getOrElse(1.0)
          raw += QsAtom(None, m.group(1), quoted = true, b)
        case "AND" => raw += QsAnd
        case "OR"  => raw += QsOr
        case "NOT" => raw += QsNot
        case w =>
          var rest = w
          if (rest.startsWith("+")) { raw += QsPlus; rest = rest.drop(1) }
          else if (rest.startsWith("-")) { raw += QsNot; rest = rest.drop(1) }
          require(rest.nonEmpty, s"dangling occur flag in query_string: [$w]")
          val (bodyAndField, boost) = rest.lastIndexOf('^') match {
            case -1 => (rest, 1.0)
            case ix =>
              val bs = rest.substring(ix + 1)
              require(bs.nonEmpty && bs.matches("[0-9.]+"),
                s"invalid boost in query_string term [$rest]")
              (rest.substring(0, ix), bs.toDouble)
          }
          val (field, body) = bodyAndField.indexOf(':') match {
            case -1 => (None, bodyAndField)
            case ix => (Some(bodyAndField.substring(0, ix)), bodyAndField.substring(ix + 1))
          }
          require(body.nonEmpty, s"empty term in query_string: [$w]")
          raw += QsAtom(field, body, quoted = false, boost)
      }
    }
    require(raw.nonEmpty, "query_string parsed no tokens")
    // adjacency -> the default operator (between an operand end and the
    // next operand start)
    val toks = scala.collection.mutable.ArrayBuffer.empty[QsTok]
    raw.foreach { t =>
      val opEnd = toks.lastOption.exists {
        case _: QsAtom | QsRP => true
        case _                => false
      }
      val opStart = t match {
        case _: QsAtom | QsLP | QsNot | QsPlus => true
        case _                                 => false
      }
      if (opEnd && opStart) toks += (if (defaultAnd) QsAnd else QsOr)
      toks += t
    }

    var pos = 0
    def peek: Option[QsTok] = if (pos < toks.size) Some(toks(pos)) else None
    def next(): QsTok = { val t = toks(pos); pos += 1; t }

    sealed trait Flag
    case object FMust extends Flag; case object FNot extends Flag
    case object FBare extends Flag

    def atomToClause(a: QsAtom): SubQuery = {
      // fielded comparison syntax: field:>=n field:>n field:<=n field:<n —
      // Lucene query_string's open-ended range forms, lowered onto the
      // constant-score RangeQ clause (the bracket form [a TO b] spans
      // lexer tokens and is not supported — compose two comparisons)
      val cmp = "(>=|<=|>|<)(-?[0-9.]+)".r
      (a.field, a.body) match {
        case (Some(f), cmp(op, n)) if !a.quoted =>
          val v = n.toDouble
          return op match {
            case ">=" => graft.hybrid.RangeQ(f, gte = Some(v), boost = a.boost)
            case ">"  => graft.hybrid.RangeQ(f, gt = Some(v), boost = a.boost)
            case "<=" => graft.hybrid.RangeQ(f, lte = Some(v), boost = a.boost)
            case "<"  => graft.hybrid.RangeQ(f, lt = Some(v), boost = a.boost)
          }
        case _ => ()
      }
      if (a.quoted) {
        val ts = Analyzer.analyze(analyzer)(a.body).toSeq
        require(ts.nonEmpty, s"query_string phrase analyzed to nothing: [${a.body}]")
        if (ts.size >= 2) {
          // LexicalPhrase carries no boost — reject rather than silently drop
          require(a.boost == 1.0, "query_string phrase boost is not supported")
          graft.hybrid.LexicalPhrase(ts)
        }
        else Lexical(ts, if (a.boost == 1.0) Map.empty else ts.map(_ -> a.boost).toMap)
      } else if (a.body.exists(c => c == '*' || c == '?')) {
        require(a.field.isEmpty,
          s"query_string wildcard terms are text-field only, got [${a.field.get}:${a.body}]")
        require(a.body.matches("[a-z0-9*?]+"),
          s"wildcard term must be [a-z0-9] plus * ?, got [${a.body}]")
        graft.hybrid.TermPattern(a.body.replace('*', '%').replace('?', '_'), a.boost)
      } else {
        val ts = Analyzer.analyze(analyzer)(a.body).toSeq
        require(ts.nonEmpty, s"query_string term analyzed to nothing: [${a.body}]")
        a.field match {
          case None | Some("text") =>
            Lexical(ts, if (a.boost == 1.0) Map.empty else ts.map(_ -> a.boost).toMap)
          case Some(f) =>
            graft.hybrid.LexicalMulti(Seq(f -> a.boost), ts, graft.hybrid.MostFields)
        }
      }
    }

    def parseUnary(): (Flag, SubQuery) = peek match {
      case Some(QsNot)  => next(); val (f, c) = parseUnary()
        require(f == FBare, "query_string: conflicting occur flags"); (FNot, c)
      case Some(QsPlus) => next(); val (f, c) = parseUnary()
        require(f == FBare, "query_string: conflicting occur flags"); (FMust, c)
      case Some(QsLP) =>
        next()
        val inner = parseOr()
        require(peek.contains(QsRP), "query_string: unbalanced parentheses")
        next()
        (FBare, inner)
      case Some(a: QsAtom) => next(); (FBare, atomToClause(a))
      case other => throw new IllegalArgumentException(
        s"query_string: expected a term or group, got $other")
    }

    def build(ops: Seq[(Flag, SubQuery)], bareIsMust: Boolean): SubQuery = {
      val must = ops.collect { case (FMust, c) => c } ++
        (if (bareIsMust) ops.collect { case (FBare, c) => c } else Nil)
      val should = if (bareIsMust) Nil else ops.collect { case (FBare, c) => c }
      val mustNot = ops.collect { case (FNot, c) => c }
      if (must.size == 1 && should.isEmpty && mustNot.isEmpty) must.head
      else graft.hybrid.BoolSub(must, should, mustNot)
    }

    def parseAnd(): (Flag, SubQuery) = {
      val ops = scala.collection.mutable.ArrayBuffer(parseUnary())
      while (peek.contains(QsAnd)) { next(); ops += parseUnary() }
      if (ops.size == 1) ops.head
      else (FBare, build(ops.toSeq, bareIsMust = true))
    }

    def parseOr(): SubQuery = {
      val ops = scala.collection.mutable.ArrayBuffer(parseAnd())
      while (peek.contains(QsOr)) { next(); ops += parseAnd() }
      if (ops.size == 1 && ops.head._1 == FBare) ops.head._2
      else build(ops.toSeq, bareIsMust = false)
    }

    val result = parseOr()
    require(pos == toks.size, "query_string: unbalanced parentheses")
    result
  }

  private def firstField(n: JsonNode): (String, JsonNode) = {
    val it = n.fields()
    require(it.hasNext, s"expected an object with one field, got $n")
    val e = it.next()
    (e.getKey, e.getValue)
  }

  /** `span_multi` body → a multi-term interval leaf. Lucene's
   *  SpanMultiTermQueryWrapper accepts prefix / wildcard / fuzzy / regexp
   *  under `match`; each becomes the corresponding dictionary-expanded
   *  pattern leaf (<= 128 expansions, fail loudly — the same cap the
   *  wrapper's rewrite inherits). */
  private def parseSpanMulti(body: JsonNode): graft.query.Intervals.Source = {
    import graft.query.Intervals
    val m = body.path("match")
    require(!m.isMissingNode && m.isObject && m.size() == 1,
      "span_multi requires a [match] object carrying exactly one multi-term query")
    val (kind, fieldObj) = firstField(m)
    val (_, vNode) = firstField(fieldObj)
    def strField(n: JsonNode, key: String): String =
      if (n.isObject) n.path(key).asText("") else n.asText("")
    kind match {
      case "prefix" =>
        Intervals.IPrefix(strField(vNode, "value"))
      case "wildcard" =>
        Intervals.IWildcard(strField(vNode, "value"))
      case "regexp" =>
        Intervals.IRegexp(strField(vNode, "value"))
      case "fuzzy" =>
        require(vNode.isObject, "span_multi fuzzy requires an object with [value]")
        Intervals.IFuzzy(
          vNode.path("value").asText(""),
          vNode.path("fuzziness").asInt(2),
          vNode.path("prefix_length").asInt(0),
          if (vNode.path("transpositions").isMissingNode) true
          else vNode.path("transpositions").asBoolean(true))
      case other => throw new IllegalArgumentException(
        s"span_multi match must be one of [prefix], [wildcard], [fuzzy], " +
          s"[regexp], got [$other]")
    }
  }
}
