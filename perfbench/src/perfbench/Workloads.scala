package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.analysis.Analyzer
import graft.index.{Index, IndexCache, InvertedIndex, Segments}
import graft.query.{Bm25, QueryDsl, Search}
import graft.hybrid.HybridSources
import Inputs.rng

/** Ranked hits of one top-k request, keyed by the query's words. */
final case class Hits(kind: String, words: Seq[Int], k: Int, hits: Seq[(Long, Double)])

/** A DSL request: its JSON, and what the check knows about it. */
sealed trait DslReq { def json: String; def size: Int }
/** Hybrid of `match` sub-queries only: checked against the model. */
final case class LexHybrid(json: String, subs: Seq[Seq[Int]], norm: HybridModel.Norm, technique: String,
                           weights: Seq[Double], depth: Int, from: Int, size: Int,
                           minScore: Option[Double], lang: Option[String]) extends DslReq
/** Hybrid of a `match` and a `match_phrase`: every hit matches one of them. */
final case class PhraseHybrid(json: String, matchWords: Seq[Int], phrase: Seq[Int], size: Int) extends DslReq
/** Scoring bool: a `match_phrase` must, a `match` should, a `match` must_not
 *  and a `lang` filter. */
final case class BoolReq(json: String, mustPhrase: Seq[Int], mustNot: Seq[Int], lang: String,
                         size: Int) extends DslReq

final case class DslOut(req: DslReq, id: Long, hits: Seq[(Long, Double)])

/** search: one warm code-analyzed index with positions, served to one
 *  closed-loop client. Each round queries four seeded term shapes (head
 *  keywords, a camelCase identifier, a rare word, and a mix of the three)
 *  through WAND, the plain scorer and a 4-request msearch batch, and sends
 *  one JSON request through `QueryDsl.execute`: a hybrid or a scoring
 *  bool. */
final class SearchWorkload(spark: SparkSession, o: Main.Opts) extends Workload {
  val corpus = new Corpus(o.seed, Sizes.SearchDocs,
    Corpus.vocabulary(o.seed, Sizes.Words, Sizes.Parts))
  private val truth = new Truth(corpus, _.codeTokens)
  private var idx: Index = _
  private var src: HybridSources = _
  private var docs: DataFrame = _
  def warmupRounds = 1

  def setup(dir: String): Unit = {
    idx = Trace.span("cache.index_warm") {
      val i = IndexCache.documents(spark, dir, Analyzer.Code)
      i.postings.count(); i.docLens.count(); i.termStats.count()
      i
    }
    val pos = Trace.span("cache.positions_warm") {
      val p = IndexCache.positions(spark, dir, Analyzer.Code)
      p.count()
      p
    }
    docs = spark.read.parquet(s"$dir/documents.parquet")
    src = HybridSources(idx, positions = Some(pos), fields = Some(docs))
  }

  def indexBytesPerDoc(): Double = Inputs.cachedBytes(spark).toDouble / corpus.nDocs

  /** Round r queries its four shapes: WAND top-100 head, WAND top-10
   *  camelCase, plain top-10 head, the msearch batch, WAND top-10 rare, WAND
   *  top-100 mixed, plain top-100 mixed, and one DSL request. */
  def round(r: Int): Seq[Op] = {
    val s = shapes(r)
    Seq(
      topk("wand-head", s("head"), 100, wand = true),
      topk("wand-camel", s("camel"), 10, wand = true),
      topk("plain-head", s("head"), 10, wand = false),
      msearch(Seq("head", "camel", "rare", "mixed").map(s), 10),
      topk("wand-rare", s("rare"), 10, wand = true),
      topk("wand-mixed", s("mixed"), 100, wand = true),
      topk("plain-mixed", s("mixed"), 100, wand = false),
      dslOp(dslRequest(r)))
  }

  private def text(words: Seq[Int]) = words.map(corpus.words(_).surface).mkString(" ")

  // ---- BM25 requests ----

  /** Word ids of the four query shapes of round r. */
  private def shapes(r: Int): Map[String, Seq[Int]] = {
    val g = rng(o.seed, 0, r, 1)
    val w = corpus.words
    def pick(lo: Int, hi: Int, ok: Word => Boolean): Int =
      Iterator.continually(lo + g.nextInt(hi - lo)).find(i => ok(w(i))).get
    val heads = Seq(g.nextInt(10), 10 + g.nextInt(20))
    val camel = pick(30, 2000, x => x.codeTokens.length > 2 && x.surface.exists(_.isUpper))
    val rare = pick(4000, 8000, _.codeTokens.length == 1)
    Map("head" -> heads, "camel" -> Seq(camel), "rare" -> Seq(rare), "mixed" -> Seq(heads(0), camel, rare))
  }

  private def topk(kind: String, words: Seq[Int], k: Int, wand: Boolean): Op =
    Op(kind, s"top-$k ${text(words)}", req => Trace.span("request", req, Seq("kind" -> kind)) {
      val terms = Trace.span("analysis") { Analyzer.code(text(words)).toSeq }
      val df = Trace.span("query.plan") {
        if (wand) Bm25.topKWand(idx, terms, k) else Bm25.topK(idx, terms, k)
      }
      val rows = Trace.span("query.exec") { df.collect() }
      Hits(kind, words, k, rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq)
    })

  private def msearch(qs: Seq[Seq[Int]], k: Int): Op =
    Op("msearch", s"top-$k " + qs.map(text).mkString(" | "), req =>
      Trace.span("request", req, Seq("kind" -> "msearch")) {
        val reqs = Trace.span("analysis") {
          qs.zipWithIndex.map { case (ws, i) => (s"q$i", Analyzer.code(text(ws)).toSeq) }
        }
        val df = Trace.span("query.plan") { Search.msearch(idx, reqs, k) }
        val rows = Trace.span("query.exec") { df.collect() }
        val byQ = rows.groupBy(_.getAs[String]("query_id"))
        qs.zipWithIndex.map { case (ws, i) =>
          val hits = byQ.getOrElse(s"q$i", Array.empty[Row]).sortBy(_.getAs[Int]("rank"))
            .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
          Hits("msearch", ws, k, hits)
        }
      })

  private def checkHits(hits: Seq[Hits]): Seq[String] =
    hits.groupBy(_.words).toSeq.flatMap { case (words, hs) =>
      val want = truth.ref.topK(truth.queryTokens(words), hs.map(_.k).max)
      val name = s"'${text(words)}'"
      val vsRef = hs.flatMap(h => Ref.compare(h.hits, want.take(h.k).toSeq).map(e => s"${h.kind} $name: $e"))
      // WAND, plain and msearch must return the same ranking on their common depth
      val base = hs.maxBy(_.k)
      val vsEach = hs.filter(h => h.hits != base.hits.take(h.k))
        .map(h => s"${h.kind} $name differs from ${base.kind}")
      vsRef ++ vsEach
    }

  // ---- DSL requests ----

  private def q(s: String) = Trace.quote(s)
  private def matchJ(ws: Seq[Int]) = s"""{"match": {"text": ${q(text(ws))}}}"""
  private def phraseJ(ws: Seq[Int]) = s"""{"match_phrase": {"text": ${q(text(ws))}}}"""
  private def langJ(l: String) = s"""{"term": {"lang": ${q(l)}}}"""

  private def hybrid(subs: Seq[String], norm: String, tech: String, weights: Seq[Double], depth: Int,
                     from: Int, size: Int, minScore: Option[Double], lang: Option[String]): String = {
    val filter = lang.map(l => s""", "filter": ${langJ(l)}""").getOrElse("")
    val w = if (weights.isEmpty) "" else weights.mkString(""", "weights": [""", ", ", "]")
    val ms = minScore.map(m => s""", "min_score": $m""").getOrElse("")
    s"""{"query": {"hybrid": {"queries": [${subs.mkString(", ")}]$filter, "pagination_depth": $depth}}, """ +
      s""""size": $size, "from": $from$ms, "search_pipeline": {"normalization": {"technique": ${q(norm)}}, """ +
      s""""combination": {"technique": ${q(tech)}$w}}}"""
  }

  private def lex(subs: Seq[Seq[Int]], norm: HybridModel.Norm, normName: String, tech: String,
                  weights: Seq[Double], depth: Int, from: Int, size: Int, minScore: Option[Double],
                  lang: Option[String]) =
    LexHybrid(hybrid(subs.map(matchJ), normName, tech, weights, depth, from, size, minScore, lang),
      subs, norm, tech, weights, depth, from, size, minScore, lang)

  /** The DSL request of round r, its words seeded by (seed, round). Its
   *  shape follows the round alone, so every run's window meets the same
   *  shapes in the same order; round 0 is the warm-up. Six shapes in turn:
   *  min_max + harmonic_mean with weights and a filter; a bool with a
   *  `match_phrase` must, a `match` should, a `match` must_not and a filter;
   *  l2 + geometric_mean over three sub-queries, second page; min_max +
   *  arithmetic_mean over a `match` and a `match_phrase`; z_score +
   *  arithmetic_mean with min_score; rrf + rrf. */
  def dslRequest(r: Int): DslReq = {
    val g = rng(o.seed, 1, r, 2)
    val w = corpus.words
    def pick(lo: Int, hi: Int): Int = lo + g.nextInt(hi - lo)
    def head() = pick(0, 300)
    def mid() = pick(300, 5000)
    def lang() = Corpus.Langs(g.nextInt(Corpus.Langs.length))
    // a phrase of two adjacent one-token words taken from a random document
    def phrase(): Seq[Int] = Iterator.continually {
      val ws = corpus.docWords(g.nextInt(corpus.nDocs))
      val i = g.nextInt(ws.length - 1)
      Seq(ws(i), ws(i + 1))
    }.find(_.forall(w(_).codeTokens.length == 1)).get
    import HybridModel._
    r % 6 match {
      case 0 => lex(Seq(Seq(head()), Seq(mid())), MinMax, "min_max", "harmonic_mean", Seq(0.6, 0.4), 50, 0, 10,
        None, Some(lang()))
      case 1 =>
        val (ph, should, not, l) = (phrase(), Seq(mid()), Seq(pick(50, 500)), lang())
        BoolReq(s"""{"query": {"bool": {"must": [${phraseJ(ph)}], "should": [${matchJ(should)}], """ +
          s""""must_not": [${matchJ(not)}], "filter": ${langJ(l)}}}, "size": 10}""", ph, not, l, 10)
      case 2 => lex(Seq(Seq(head()), Seq(mid()), Seq(mid(), head())), L2, "l2", "geometric_mean", Nil, 40, 10, 10,
        None, None)
      case 3 =>
        val (m, ph) = (Seq(mid()), phrase())
        PhraseHybrid(hybrid(Seq(matchJ(m), phraseJ(ph)), "min_max", "arithmetic_mean", Nil, 50, 0, 10, None, None),
          m, ph, 10)
      case 4 => lex(Seq(Seq(mid()), Seq(head(), mid())), ZScore, "z_score", "arithmetic_mean", Nil, 30, 0, 10,
        Some(0.3), None)
      case _ => lex(Seq(Seq(head()), Seq(mid())), Rrf(60), "rrf", "rrf", Nil, 50, 0, 20, None, None)
    }
  }

  /** One operation kind for every DSL shape: each round sends one DSL
   *  request, of the round's shape; the shape is kept on the request's span. */
  private def dslOp(req: DslReq): Op = {
    val shape = req match {
      case _: LexHybrid => "hybrid-lexical"
      case _: PhraseHybrid => "hybrid-phrase"
      case _: BoolReq => "bool"
    }
    Op("dsl", req.json, id => Trace.span("request", id, Seq("kind" -> shape)) {
      val df = Trace.span("hybrid.plan") { QueryDsl.execute(src, req.json, docs) }
      val rows = Trace.span("hybrid.exec") { df.collect() }
      DslOut(req, id, rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq)
    }, id => dslProbe(req, id))
  }

  /** Traced only, right after the request: the parse alone
   *  (`execute` parses again inside the request), and each lexical sub-query
   *  of a lexical hybrid run alone as the hybrid runs it, at the request's
   *  depth and under its filter. Only the sub-queries' collects are spanned
   *  `hybrid.subquery`, to set against the request's collect. */
  private def dslProbe(req: DslReq, id: Long): Unit = {
    Trace.span("dsl.parse", id) {
      req match {
        case _: BoolReq => QueryDsl.parseBool(req.json, Analyzer.Code)
        case _ => QueryDsl.parse(req.json, Analyzer.Code)
      }
    }
    req match {
      case l: LexHybrid => l.subs.foreach { ws =>
        val df = Trace.span("hybrid.subquery_plan", id) {
          val terms = Analyzer.code(text(ws)).toSeq
          l.lang match {
            case None => Bm25.topK(idx, terms, l.depth)
            case Some(lang) =>
              val keep = docs.filter(col("lang") === lang).select("doc_id")
              Bm25.scoreTerms(idx, terms).join(keep, Seq("doc_id"), "left_semi")
                .orderBy(col("score").desc, col("doc_id").asc).limit(l.depth)
          }
        }
        Trace.span("hybrid.subquery", id) { df.collect() }
      }
      case _ =>
    }
  }

  private lazy val docTokenSets: Array[java.util.BitSet] = truth.docTokens.map { ts =>
    val b = new java.util.BitSet(); ts.foreach(b.set); b
  }

  private def hasPhrase(doc: Int, phrase: Seq[Int]): Boolean = {
    val p = truth.tokensInOrder(phrase)
    truth.docTokens(doc).sliding(p.length).exists(_.sameElements(p))
  }

  private def checkDsl(out: DslOut): Seq[String] = {
    val hits = out.hits
    val props = scala.collection.mutable.ArrayBuffer.empty[String]
    if (hits.size > out.req.size) props += s"${hits.size} hits > size ${out.req.size}"
    if (hits.sliding(2).exists { case Seq(a, b) => b._2 > a._2; case _ => false }) props += "scores increase"
    def each(what: String)(ok: Int => Boolean): Unit =
      hits.find(h => !ok(h._1.toInt)).foreach(h => props += s"doc ${h._1} $what")
    def anyToken(words: Seq[Int])(d: Int) = truth.queryTokens(words).exists(docTokenSets(d).get)
    out.req match {
      case l: LexHybrid =>
        val keep: Int => Boolean = d => l.lang.forall(_ == corpus.lang(d))
        val perSub = l.subs.map(ws => truth.ref.scoreAll(truth.queryTokens(ws), keep))
        val want = HybridModel.run(perSub, l.norm, l.technique, l.weights, l.depth, l.from, l.size, l.minScore)
        Ref.compare(hits, want.toSeq).foreach(props += _)
      case p: PhraseHybrid =>
        each("matches neither sub-query")(d => anyToken(p.matchWords)(d) || hasPhrase(d, p.phrase))
      case b: BoolReq =>
        each(s"fails the lang filter ${b.lang}")(d => corpus.lang(d) == b.lang)
        each("contains a must_not term")(d => !anyToken(b.mustNot)(d))
        each("lacks the must phrase")(d => hasPhrase(d, b.mustPhrase))
    }
    props.map(e => s"${out.req.json}: $e").toSeq
  }

  def check(results: Seq[Any]): Seq[String] = {
    val hits = results.flatMap {
      case h: Hits => Seq(h)
      case hs: Seq[_] => hs.collect { case h: Hits => h }
      case _ => Nil
    }
    checkHits(hits) ++ results.collect { case d: DslOut => d }.flatMap(checkDsl)
  }
}

/** The single-shot build of one round. */
final case class BuildOut(round: Int, single: Index)
/** The segmented build of one round, merged. */
final case class MergedOut(round: Int, merged: graft.index.CorpusStats, mergedTerms: Map[String, (Long, Long)])

/** index-build: each round builds the cached corpus once with
 *  `buildAndWrite` (one operation) and once as four resumable segments
 *  merged by `mergeAll` (a second operation). */
final class BuildWorkload(spark: SparkSession, o: Main.Opts) extends Workload {
  val corpus = new Corpus(o.seed, Sizes.BuildDocs,
    Corpus.vocabulary(o.seed, Sizes.Words, Sizes.Parts))
  private val truth = new Truth(corpus, _.codeTokens)
  private var docs: DataFrame = _
  private var firstDir: String = _
  def warmupRounds = 1

  def setup(dir: String): Unit = {
    docs = spark.read.parquet(s"$dir/documents.parquet").cache()
    docs.count()
  }

  def round(r: Int): Seq[Op] = Seq(
    Op("build", s"buildAndWrite of ${corpus.nDocs} docs", build(r, _)),
    Op("segmented", s"4 resumable segments + mergeAll of ${corpus.nDocs} docs", segmented(r, _)))

  private def build(r: Int, id: Long): BuildOut = Trace.span("request", id, Seq("kind" -> "build")) {
    val dir = s"${o.work}/build-$r/full"
    val single = Trace.span("index.write") {
      InvertedIndex.buildAndWrite(docs, "doc_id", "text", dir, Analyzer.Code)
    }
    if (firstDir == null) firstDir = dir
    BuildOut(r, single)
  }

  private def segmented(r: Int, id: Long): MergedOut = Trace.span("request", id, Seq("kind" -> "segmented")) {
    val dir = s"${o.work}/build-$r/seg"
    Trace.span("segments.build") {
      Segments.buildResumable(docs, "doc_id", "text", Analyzer.Code, dir, 4)
    }
    Trace.span("segments.merge") {
      val m = Segments.mergeAll(spark, dir, Analyzer.Code)
      val ts = m.termStats.collect().map(t => t.term -> (t.df, t.ttf)).toMap
      m.docLens.count()
      MergedOut(r, m.stats, ts)
    }
  }

  def indexBytesPerDoc(): Double = Inputs.dirBytes(firstDir).toDouble / corpus.nDocs

  override def facts(): Seq[(String, Double)] = Seq(
    "index.postings_bytes" -> Inputs.dirBytes(s"$firstDir/blocks/kind=0").toDouble,
    "index.doclens_bytes" -> Inputs.dirBytes(s"$firstDir/blocks/kind=1").toDouble,
    "index.termstats_bytes" -> Inputs.dirBytes(s"$firstDir/termstats").toDouble)

  /** The build split into its steps: the encode pass alone, then encode
   *  plus the fragment shuffle and block merge. */
  override def afterTraced(): Unit = {
    val id = Trace.newRequest()
    Trace.span("index.encode", id) { InvertedIndex.buildBlocksOf(docs, "doc_id", "text", Analyzer.Code).count() }
    Trace.span("index.merge", id) { InvertedIndex.mergedBlocksOf(docs, "doc_id", "text", Analyzer.Code).count() }
  }

  def check(results: Seq[Any]): Seq[String] = {
    val ref = truth.ref
    val want = ref.df.indices.filter(ref.df(_) > 0).map(t => truth.name(t) -> (ref.df(t), ref.ttf(t))).toMap
    def vsTruth(what: String, round: Int, stats: graft.index.CorpusStats,
                got: Map[String, (Long, Long)]): Seq[String] = {
      val e = scala.collection.mutable.ArrayBuffer.empty[String]
      if (stats.doc_count != corpus.nDocs || stats.sum_dl != ref.sumDl)
        e += s"round $round $what: corpus stats $stats, expected ${corpus.nDocs} docs, sum_dl ${ref.sumDl}"
      if (got != want) {
        val bad = (got.keySet ++ want.keySet).find(t => got.get(t) != want.get(t)).get
        e += s"round $round $what: term '$bad' has df/ttf ${got.get(bad)}, expected ${want.get(bad)}"
      }
      e.toSeq
    }
    val singles = results.collect { case b: BuildOut => b.round -> b.single.stats }.toMap
    results.flatMap {
      case b: BuildOut =>
        vsTruth("build", b.round, b.single.stats, b.single.termStats.collect().map(t => t.term -> (t.df, t.ttf)).toMap)
      case m: MergedOut =>
        // the merged index must match the truth, and its corpus statistics
        // the single-shot build of the same round
        vsTruth("segmented", m.round, m.merged, m.mergedTerms) ++
          singles.get(m.round).filter(_ != m.merged).map(s => s"round ${m.round}: merged stats ${m.merged} != $s")
      case _ => Nil
    }
  }
}
