package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{IndexCache, PostingCodec}
import graft.query.Bm25

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("bm25_match_multi")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL building blocks (simple analyzer == split on space
  // for the pure [a-z ] `documents.text` corpus; parity with
  // graft.analysis.Analyzer.simple).
  // ---------------------------------------------------------------------
  private[graft] val TOK_CTE =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |stats AS (SELECT (SELECT count(*) FROM documents) AS n,
      |                 (SELECT sum(dl)*1.0/(SELECT count(*) FROM documents) FROM dl) AS avgdl)""".stripMargin

  /** Lang-tagged tokenization: `en` rows drop the classic English stop set
   *  at INDEX time (the per-row analyzer dispatch of Analyzer.LangTagged);
   *  other langs tokenize neutrally. Mirrors Analyzer.enSimple exactly. */
  private[graft] val TOK_CTE_LANG: String = {
    val stop = graft.analysis.Analyzer.EnStopwords.toSeq.sorted
      .map("'" + _ + "'").mkString(", ")
    s"""tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents),
       |tok2 AS (SELECT doc_id, term FROM tok
       |         WHERE term <> '' AND NOT (lower(lang) = 'en' AND term IN ($stop))),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |stats AS (SELECT (SELECT count(*) FROM documents) AS n,
       |                 (SELECT sum(dl)*1.0/(SELECT count(*) FROM documents) FROM dl) AS avgdl)""".stripMargin
  }

  /** BM25 oracle: same association order as Bm25.scoreTerms/tfNorm. */
  private def bm25OracleSql(termsSqlList: String, k: Int, cte: String = TOK_CTE): String =
    s"""WITH $cte,
       |score AS (
       |  SELECT tf.doc_id,
       |         sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
       |              * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) ) AS s
       |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
       |  WHERE tf.term IN ($termsSqlList)
       |  GROUP BY tf.doc_id)
       |SELECT doc_id, round(s, 4) AS score FROM score
       |ORDER BY s DESC, doc_id LIMIT $k""".stripMargin

  private def bm25Query(terms: Seq[String], k: Int)(s: SparkSession, dir: String): DataFrame =
    Bm25.topK(IndexCache.documents(s, dir), terms, k)
      .select(col("doc_id"), round(col("score"), 4).as("score"))

  /** Phrase-BM25 oracle: positions over the FILTERED token list (parallel
   *  unnest zips terms with their analyzed positions), consecutive-position
   *  join chain for the phrase frequency, idf summed per phrase slot. */
  private def phraseOracleSql(phrase: Seq[String], k: Int): String = {
    val joins = phrase.zipWithIndex.tail.map { case (t, i) =>
      s"JOIN tokp t$i ON t$i.doc_id = t0.doc_id AND t$i.pos = t0.pos + $i AND t$i.term = '$t'"
    }.mkString("\n       ")
    val idfTerms = phrase.map(t =>
      s"(SELECT ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5)) FROM df CROSS JOIN stats WHERE df.term = '$t')")
      .mkString(" + ")
    s"""WITH $TOK_CTE,
       |toksq AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l FROM documents),
       |tokp AS (SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS pos FROM toksq),
       |ph AS (
       |  SELECT t0.doc_id, count(*) AS freq
       |  FROM tokp t0
       |       $joins
       |  WHERE t0.term = '${phrase.head}'
       |  GROUP BY t0.doc_id),
       |idfw AS (SELECT ($idfTerms) AS w)
       |SELECT doc_id, round(s, 4) AS score FROM (
       |  SELECT ph.doc_id,
       |         idfw.w * (ph.freq / (ph.freq + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) AS s
       |  FROM ph JOIN dl USING (doc_id) CROSS JOIN idfw CROSS JOIN stats)
       |ORDER BY s DESC, doc_id LIMIT $k""".stripMargin
  }

  private val MsearchRequests: Seq[(String, Seq[String])] = Seq(
    "q_join_hash"  -> Seq("join", "hash"),
    "q_merge_sort" -> Seq("merge", "sort"),
    "q_window"     -> Seq("window"),
    "q_scan_table" -> Seq("scan", "table"))

  /** msearch_template fixtures: (id, mustache template, params) — and the
   *  analyzed terms each one renders to, for the shared oracle. */
  private val MsearchTemplates: Seq[(String, String, Map[String, Any])] = Seq(
    ("t_one_field",
      """{"query":{"bool":{"must":[{"match":{"text":"{{q}}"}}]}}}""",
      Map("q" -> "join hash")),
    ("t_two_params",
      """{"query":{"bool":{"must":[{"match":{"text":"{{a}} {{b}}"}}]}}}""",
      Map("a" -> "merge", "b" -> "window")),
    ("t_single",
      """{"query":{"bool":{"must":[{"match":{"text":"{{q}}"}}]}}}""",
      Map("q" -> "scan")))
  private val MsearchTemplateTerms: Seq[(String, Seq[String])] = Seq(
    "t_one_field"  -> Seq("join", "hash"),
    "t_two_params" -> Seq("merge", "window"),
    "t_single"     -> Seq("scan"))

  /** msearch oracle: each request re-derived independently (ranked BM25
   *  top-k), union'd — the per-request independence contract itself. */
  private def msearchOracleSql(requests: Seq[(String, Seq[String])], k: Int): String = {
    val ctes = requests.zipWithIndex.map { case ((_, terms), i) =>
      val lst = terms.map("'" + _ + "'").mkString(", ")
      s"""s$i AS (
         |  SELECT tf.doc_id,
         |         sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
         |              * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) ) AS s
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
         |  WHERE tf.term IN ($lst)
         |  GROUP BY tf.doc_id),
         |t$i AS (SELECT '${requests(i)._1}' AS query_id,
         |               row_number() OVER (ORDER BY s DESC, doc_id) AS rank,
         |               doc_id, round(s, 4) AS score
         |        FROM s$i ORDER BY s DESC, doc_id LIMIT $k)""".stripMargin
    }.mkString(",\n")
    val unions = requests.indices.map(i => s"SELECT * FROM t$i").mkString("\nUNION ALL ")
    s"WITH $TOK_CTE,\n$ctes\n$unions"
  }

  // ---------------------------------------------------------------------
  // queries + oracleSql (column names MUST match the oracle)
  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map[String, (SparkSession, String) => DataFrame](
    // ---- index internals, decoded back out of the compressed blocks ----
    "corpus_stats" -> ((s, dir) => {
      import s.implicits._
      val st = IndexCache.documents(s, dir).stats
      Seq((st.doc_count, st.sum_dl, st.avgdl)).toDF("doc_count", "sum_dl", "avgdl")
        .select($"doc_count", $"sum_dl", round($"avgdl", 4).as("avgdl"))
    }),
    "doc_lengths" -> ((s, dir) => {
      import s.implicits._
      IndexCache.documents(s, dir).docLens.flatMap { b =>
        val base = b.bucket << graft.index.InvertedIndex.BucketBits
        val ids = PostingCodec.decodeDeltas(b.ids, b.cnt)
        val dls = PostingCodec.decodeInts(b.dls, b.cnt)
        ids.indices.map(i => (base + ids(i), dls(i).toLong))
      }.toDF("doc_id", "dl")
    }),
    "term_stats" -> ((s, dir) =>
      IndexCache.documents(s, dir).termStats
        .select(col("term"), col("df"), col("ttf"))),
    "postings_decode" -> ((s, dir) => {
      import s.implicits._
      IndexCache.documents(s, dir).postings
        .filter(col("term").isin("join", "dup"))
        .flatMap { b =>
          val base = b.bucket << graft.index.InvertedIndex.BucketBits
          val ids = PostingCodec.decodeDeltas(b.docs, b.cnt)
          val tfs = PostingCodec.decodeInts(b.tfs, b.cnt)
          ids.indices.map(i => (b.term, base + ids(i), tfs(i).toLong))
        }.toDF("term", "doc_id", "tf")
    }),

    // ---- BM25 top-k through the full engine path (build -> compressed
    //      postings -> block scorer -> TakeOrdered) ----
    "bm25_term_head"   -> bm25Query(Seq("join"), 10) _,
    "bm25_term_rare"   -> bm25Query(Seq("dup"), 10) _,
    "bm25_match_multi" -> bm25Query(Seq("merge", "sort", "window"), 10) _,
    "bm25_match_top100" -> bm25Query(Seq("hash", "join"), 100) _,
    // fetch phase: ranked hits joined back to stored fields (broadcast)
    "search_fetch" -> ((s, dir) =>
      graft.query.Search.bm25(IndexCache.documents(s, dir), Seq("merge", "sort"), 10,
        s.read.parquet(s"$dir/documents.parquet"), Seq("lang", "source", "n_chars"))
        .select(col("doc_id"), round(col("score"), 4).as("score"),
          col("lang"), col("source"), col("n_chars"))),
    "bm25_boosted" -> ((s, dir) =>
      Bm25.topK(IndexCache.documents(s, dir), Seq("join", "window"), 10,
        boosts = Map("window" -> 2.0))
        .select(col("doc_id"), round(col("score"), 4).as("score"))),
    // a rare and a common term through the plain scorer
    "bm25_auto_top10" -> ((s, dir) =>
      Bm25.topK(IndexCache.documents(s, dir), Seq("merge", "dup"), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))),
    // lang-tagged analyzer dispatch (north_star: "lang-tagged analyzers per
    // content row"): index-time analysis routes each row by its lang tag —
    // en rows through the English-stop analyzer, others neutral — so 'the'
    // is indexed ONLY for non-en docs and scores reflect per-lang dl/df;
    // the query analyzes neutrally (search_analyzer convention)
    "bm25_lang_tagged" -> ((s, dir) =>
      Bm25.topK(IndexCache.documents(s, dir, graft.analysis.Analyzer.LangTagged),
        Seq("the", "table"), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))),
    // exact phrase (match_phrase, slop 0): consecutive analyzed positions,
    // tf = phrase frequency, BM25 weight = sum of member-term idfs — the
    // Lucene PhraseQuery contract over the positional block table
    "bm25_phrase" -> ((s, dir) =>
      graft.query.Phrase.topK(IndexCache.documents(s, dir),
        IndexCache.positions(s, dir), Seq("table", "hash"), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))),
    // 3-term phrase with within-doc repeats (phrase freq > 1 exercised)
    "bm25_phrase3" -> ((s, dir) =>
      graft.query.Phrase.topK(IndexCache.documents(s, dir),
        IndexCache.positions(s, dir), Seq("slow", "hash", "batch"), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))),
    // block-max WAND path: same exact results, blocks below the pass-1
    // threshold never decoded (SURVEY.md §7.4 two-pass scheme)
    "bm25_wand_top10" -> ((s, dir) =>
      Bm25.topKWand(IndexCache.documents(s, dir), Seq("spark", "stream", "filter"), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))),
    "bm25_wand_top100" -> ((s, dir) =>
      Bm25.topKWand(IndexCache.documents(s, dir), Seq("table", "scan"), 100)
        .select(col("doc_id"), round(col("score"), 4).as("score"))),
    // _msearch: 4 independent BM25 requests in ONE postings pass — the
    // union-term scan filtered once, each block decoded once, tfNorm
    // shared across requests, per-request top-k via salted bounded TopN
    "bm25_msearch" -> ((s, dir) =>
      graft.query.Search.msearch(IndexCache.documents(s, dir), MsearchRequests, 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 4).as("score"))),
    // _msearch_template: the batched search_template — each request
    // renders through the mustache subset then ALL of them share msearch's
    // one postings pass
    "msearch_template" -> ((s, dir) =>
      graft.query.Search.msearchTemplate(IndexCache.documents(s, dir),
        MsearchTemplates, 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 4).as("score"))),
    // Lucene SynonymQuery: the synonym set scores as ONE pseudo-term —
    // tf summed across members BEFORE saturation, df = max member df
    "bm25_synonym" -> ((s, dir) =>
      Bm25.synonymTopK(IndexCache.documents(s, dir), Seq("fast", "slow"), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))),
    // _reindex: a query-matched subset rebuilt as a NEW index (one filtered
    // scan + the standard single-pass build); checked via the new index's
    // own term statistics
    "reindex_filtered" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en")
      graft.index.InvertedIndex.build(docs, "doc_id", "text")
        .termStats.filter(col("term").isin("join", "hash", "merge"))
        .select(col("term"), col("df"), col("ttf"))
    })
  ) ++ HybridEntries.queries ++ PipelineEntries.queries ++ DataEntries.queries ++ CorpusEntries.queries ++ AggEntries.queries

  def oracleSql: Map[String, String] = Map(
    "corpus_stats" ->
      s"""WITH $TOK_CTE
         |SELECT stats.n AS doc_count,
         |       (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS sum_dl,
         |       round(stats.avgdl, 4) AS avgdl
         |FROM stats""".stripMargin,
    "doc_lengths" ->
      s"""WITH $TOK_CTE
         |SELECT d.doc_id, CAST(coalesce(dl.dl, 0) AS BIGINT) AS dl
         |FROM documents d LEFT JOIN dl USING (doc_id)""".stripMargin,
    "term_stats" ->
      s"""WITH $TOK_CTE
         |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf
         |FROM tf GROUP BY term""".stripMargin,
    "postings_decode" ->
      s"""WITH $TOK_CTE
         |SELECT term, doc_id, CAST(tf AS BIGINT) AS tf
         |FROM tf WHERE term IN ('join', 'dup')""".stripMargin,
    "bm25_term_head"    -> bm25OracleSql("'join'", 10),
    "bm25_term_rare"    -> bm25OracleSql("'dup'", 10),
    "bm25_match_multi"  -> bm25OracleSql("'merge', 'sort', 'window'", 10),
    "bm25_match_top100" -> bm25OracleSql("'hash', 'join'", 100),
    "search_fetch" ->
      s"""WITH $TOK_CTE,
         |score AS (
         |  SELECT tf.doc_id,
         |         sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
         |              * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) ) AS s
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
         |  WHERE tf.term IN ('merge', 'sort')
         |  GROUP BY tf.doc_id),
         |topd AS (SELECT doc_id, round(s, 4) AS score FROM score
         |         ORDER BY s DESC, doc_id LIMIT 10)
         |SELECT t.doc_id, t.score, d.lang, d.source, d.n_chars
         |FROM topd t JOIN documents d USING (doc_id)""".stripMargin,
    "bm25_boosted" ->
      s"""WITH $TOK_CTE,
         |score AS (
         |  SELECT tf.doc_id,
         |         sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
         |              * (CASE tf.term WHEN 'window' THEN 2.0 ELSE 1.0 END)
         |              * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) ) AS s
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
         |  WHERE tf.term IN ('join', 'window')
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, round(s, 4) AS score FROM score
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,
    "bm25_auto_top10"   -> bm25OracleSql("'merge', 'dup'", 10),
    "bm25_lang_tagged"  -> bm25OracleSql("'the', 'table'", 10, TOK_CTE_LANG),
    "bm25_phrase"  -> phraseOracleSql(Seq("table", "hash"), 10),
    "bm25_phrase3" -> phraseOracleSql(Seq("slow", "hash", "batch"), 10),
    "bm25_wand_top10"   -> bm25OracleSql("'spark', 'stream', 'filter'", 10),
    "bm25_wand_top100"  -> bm25OracleSql("'table', 'scan'", 100),
    "bm25_msearch"      -> msearchOracleSql(MsearchRequests, 10),
    "msearch_template"  -> msearchOracleSql(MsearchTemplateTerms, 10),
    "bm25_synonym" ->
      s"""WITH $TOK_CTE,
         |syn AS (SELECT doc_id, sum(tf) AS stf FROM tf
         |        WHERE term IN ('fast', 'slow') GROUP BY doc_id),
         |mdf AS (SELECT max(df) AS df FROM df WHERE term IN ('fast', 'slow'))
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT syn.doc_id,
         |         ln(1 + (stats.n - mdf.df + 0.5)/(mdf.df + 0.5))
         |           * (syn.stf / (syn.stf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) AS s
         |  FROM syn JOIN dl USING (doc_id) CROSS JOIN mdf CROSS JOIN stats)
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,
    "reindex_filtered" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents WHERE lang = 'en'),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
        |       GROUP BY doc_id, term)
        |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf
        |FROM tf WHERE term IN ('join', 'hash', 'merge')
        |GROUP BY term""".stripMargin
  ) ++ HybridEntries.oracles(TOK_CTE) ++ PipelineEntries.oracles(TOK_CTE) ++ DataEntries.oracles(TOK_CTE) ++ CorpusEntries.oracles(TOK_CTE) ++ AggEntries.oracles(TOK_CTE)
}
