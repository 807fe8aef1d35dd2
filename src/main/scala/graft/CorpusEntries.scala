package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer
import graft.corpus.Corpus
import graft.index.{BoundedCache, Deletes, Index, IndexCache, Segments}
import graft.query.Bm25

/**
 * North-rule corpus + segmented-build entries: deterministic ingest into the
 * `(repo, path, commit, lang, content, sha256)` shape, range-segmented index
 * build with per-segment lineage, and the merge stage verified end-to-end
 * against the single-shot DuckDB oracle.
 */
object CorpusEntries {

  /** Cheap corpus identity: the SHA-256 hex of the documents table's file
   *  names + sizes + mtimes — on-disk stores key their path (or marker) on
   *  it so a REGENERATED corpus at the same dir gets a fresh store instead
   *  of serving stale state (documents.parquet may be a single file or a
   *  Spark-written directory). */
  private[graft] def corpusIdent(dir: String): String = {
    val src = new java.io.File(s"$dir/documents.parquet")
    val files =
      if (src.isDirectory) Option(src.listFiles()).getOrElse(Array.empty).toSeq
      else Seq(src)
    val ident = files.map(f => s"${f.getName}|${f.length}|${f.lastModified}")
      .sorted.mkString("\n")
    java.util.HexFormat.of().formatHex(java.security.MessageDigest.getInstance("SHA-256")
      .digest(ident.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** Ident-keyed streaming store with the corpus staged as a DIRECTORY of
   *  range files (one micro-batch each, the file-arrival pattern of an
   *  incremental ingest). Older-generation sibling stores for the same
   *  corpus dir are evicted (they would otherwise accumulate one full
   *  staged corpus copy + checkpoint per regeneration), and a
   *  half-written staging (no _SUCCESS — e.g. a crash mid-write)
   *  restages instead of latching a partial corpus forever. Registry
   *  entries built over an evicted generation are evicted with it. Returns
   *  the store dir; staged files live at `<store>/corpus`. */
  private[graft] def stagedStreamStore(s: SparkSession, dir: String,
                                       root: String): String = {
    val base = BoundedCache.storePath(root, dir)
    val store = s"${base}_${corpusIdent(dir)}"
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    // this corpus's generations only: `<key>_<hex ident>` exactly — a prefix
    // match would also take a sibling corpus whose key extends this one
    // (`sf1` vs `sf1_backup`)
    val generation = (java.util.regex.Pattern.quote(base) + "_[0-9a-f]+").r
    Option(new java.io.File(root).list()).getOrElse(Array.empty).map(g => s"$root/$g")
      .filter(g => generation.matches(g) && g != store)
      .foreach { g =>
        fs.delete(new org.apache.hadoop.fs.Path(g), true)
        BoundedCache.session.invalidate(_.dir == g)
      }
    val corpusDir = s"$store/corpus"
    if (!new java.io.File(s"$corpusDir/_SUCCESS").exists()) {
      s.read.parquet(s"$dir/documents.parquet")
        .repartitionByRange(3, col("doc_id"))
        .write.mode("overwrite").parquet(corpusDir)
    }
    store
  }


  private val NSeg = 4

  /** Store layout version — bump when the on-disk block schema or commit
   *  layout changes so a stale store from an older build is never merged
   *  against new readers. */
  private def segStore(dir: String) = BoundedCache.storePath("target/segstore/v3", dir)

  /** One segmented build per (session, sfDir), committed under target/. */
  private def segmented(s: SparkSession, dir: String): Index =
    IndexCache.cachedIndex(s, "segments", dir) {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Segments.buildResumable(docs, "doc_id", "text", Analyzer.Simple, segStore(dir), NSeg)
      Right(Segments.merge(s, segStore(dir), NSeg))
    }

  private def lineageDf(s: SparkSession, dir: String): DataFrame = {
    segmented(s, dir) // ensure built
    import s.implicits._
    Segments.readLineage(s, segStore(dir), NSeg).values.toSeq.sortBy(_.segment_id).toDS().toDF()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_ingest" -> ((s, dir) => Corpus.ingest(s, dir)),

    "segments_lineage" -> ((s, dir) => lineageDf(s, dir)),

    // TieredMergePolicy-style selection round over segment metadata:
    // tier = floor(log4 doc_count); a tier with >= 3 members merges its 3
    // smallest (doc_count asc, id asc). Metadata only — no postings read.
    "segments_tiered_plan" -> ((s, dir) => {
      segmented(s, dir) // ensure built
      import s.implicits._
      val lin = Segments.readLineage(s, segStore(dir), NSeg)
        .values.toSeq.sortBy(_.segment_id)
      Segments.tieredMergePlan(lin, segmentsPerTier = 3, tierFactor = 4.0)
        .toDF("segment_id", "doc_count", "tier", "merge_group")
    }),

    // snapshot -> incremental re-snapshot (all skipped) -> restore into a
    // fresh dir -> idempotent re-restore (all present), lineage verified
    // against the manifest: the full repository round trip, every action
    // part of the oracled output
    "segments_snapshot_restore" -> ((s, dir) => {
      import s.implicits._
      segmented(s, dir) // ensure built
      val repo = BoundedCache.storePath("target/snaprepo", dir)
      val rest = BoundedCache.storePath("target/snaprest", dir)
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(repo), true)
      fs.delete(new org.apache.hadoop.fs.Path(rest), true)
      val first = Segments.snapshot(s, segStore(dir), repo, "snap1", NSeg)
        .map(a => a.segment_id -> a.action).toMap
      val second = Segments.snapshot(s, segStore(dir), repo, "snap1", NSeg)
        .map(a => a.segment_id -> a.action).toMap
      val restored = Segments.restore(s, repo, "snap1", rest)
        .map(a => a.segment_id -> a.action).toMap
      val again = Segments.restore(s, repo, "snap1", rest)
        .map(a => a.segment_id -> a.action).toMap
      Segments.readLineage(s, rest, NSeg).values.toSeq.sortBy(_.segment_id)
        .map(l => (l.segment_id, l.doc_count, l.sum_dl, l.sha_distinct,
          first(l.segment_id), second(l.segment_id),
          restored(l.segment_id), again(l.segment_id)))
        .toDF("segment_id", "doc_count", "sum_dl", "sha_distinct",
          "first_snapshot", "second_snapshot", "restore", "restore_again")
    }),

    "segments_merged_term_stats" -> ((s, dir) =>
      segmented(s, dir).termStats.toDF().select(col("term"), col("df"), col("ttf"))),

    "segments_merged_bm25" -> ((s, dir) =>
      Bm25.topK(segmented(s, dir), Seq("filter", "group", "scan"), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))),

    "segments_metrics" -> ((s, dir) => {
      segmented(s, dir) // ensure built
      import s.implicits._
      Segments.readMetrics(s, segStore(dir), NSeg).toDS().toDF()
        .select(col("segment_id"), col("stage"), col("rows"))
    }),

    // tiered-merge EXECUTION: run the plan's merge groups through the
    // bounded block merge into a compacted store (unselected segments copy
    // verbatim), verify every action against the plan, then prove the
    // compacted store still answers like a fresh single-shot build by
    // emitting its merged term stats against the fresh-build oracle
    "segments_tiered_compact" -> ((s, dir) => {
      segmented(s, dir) // ensure built
      val dst = BoundedCache.storePath("target/tiercompact", dir)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val actions = Segments.tieredCompact(docs, "doc_id", "text",
        segStore(dir), dst, NSeg)
      val plan = Segments.tieredMergePlan(
        Segments.readLineage(s, segStore(dir), NSeg).values.toSeq.sortBy(_.segment_id))
      plan.foreach { case (id, _, _, g) =>
        val act = actions.find(a => a.segment_id == id && a.action != "written")
          .getOrElse(sys.error(s"no compact action for segment $id")).action
        require(act == (if (g.isDefined) "merged" else "copied"),
          s"segment $id executed as [$act] but the plan said ${g.fold("copy")(_ => "merge")}")
      }
      Segments.mergeAll(s, dst).termStats.toDF()
        .select(col("term"), col("df"), col("ttf"))
    }),

    // ---- delete / update lifecycle (Lucene liveDocs analogue) ----
    // tombstoned docs vanish from the hits while statistics stay STALE
    // (docCount/avgdl/df still include them) — Lucene's documented
    // pre-merge behavior, which the oracle replicates by scoring with
    // full-corpus stats and filtering only the hit set
    "bm25_with_deletes" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val dead = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 7 === 3).select("doc_id")
      Bm25.topK(Deletes.withDeletes(idx, dead, "doc_id"), Seq("merge", "group"), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // point-in-time reader (PIT + search_after's stability contract): a
    // reader opened BEFORE a delete keeps serving the pre-delete view while
    // the live index excludes the tombstoned docs — here both views answer
    // the same query side by side; the snapshot/lineage machinery
    // (segments_snapshot_restore) is what pins a PIT on disk, and the
    // immutable block tables make the old reader free to keep
    "search_pit" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val dead = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 7 === 3).select("doc_id")
      val pit = Bm25.topK(idx, Seq("merge", "group"), 10)
        .select(lit("pit").as("view"), col("doc_id"),
          round(col("score"), 4).as("score"))
      val live = Bm25.topK(Deletes.withDeletes(idx, dead, "doc_id"),
          Seq("merge", "group"), 10)
        .select(lit("live").as("view"), col("doc_id"),
          round(col("score"), 4).as("score"))
      pit.unionByName(live)
    }),
    // merge-time purge: blocks rewritten without the tombstoned ids, every
    // statistic recomputed — scores now reflect the post-delete corpus
    "bm25_compacted" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val dead = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 7 === 3).select("doc_id")
      Bm25.topK(Deletes.compact(idx, dead, "doc_id"), Seq("merge", "group"), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // update = delete + add: purge the old rows, build a delta index over
    // the new row versions only, block-merge into base — must score exactly
    // as a fresh build over the updated corpus
    "bm25_after_update" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val updated = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 13 === 5)
        .withColumn("text", concat(col("text"), lit(" rewritten content patch")))
      // top-10 cut at the PUBLISHED 4-decimal score resolution: engine and
      // oracle agree on scores to 1e-4 (the reference's own test tolerance)
      // but not on last-ulp doubles, so an unrounded rank cut inside a
      // near-tie group is a cross-engine coin flip — the sf1 drive's denser
      // score space hit exactly that. Unbounded scoring -> rounded
      // TakeOrdered is the same scan + bounded-heap shape as topK.
      Bm25.scoreTerms(Deletes.applyUpdate(idx, updated, "doc_id", "text"),
          Seq("rewritten", "patch", "join"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc).limit(10)
    }),
    // _delete_by_query: the matched set of a DSL bool query becomes the
    // tombstone set — one query execution + the per-bucket mask, no scroll,
    // no bulk round trips; stats stay stale until compact
    "dsl_delete_by_query" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val masked = Deletes.deleteByQuery(graft.hybrid.HybridSources(idx),
        """{"query":{"bool":{"must":[{"match":{"text":"slow"}}]}}}""")
      Bm25.topK(masked, Seq("merge", "group"), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),
    // _update_by_query: matched docs get the script-analogue text transform,
    // then delete + re-add; the unmatched corpus is never rewritten
    // _bulk: one ORDERED mixed batch (index / update / delete, including a
    // doc updated-then-deleted and one deleted-then-reindexed) folded
    // last-wins per doc id, then the surviving corpus flows through the
    // standard single-pass build — the bulk-then-refresh lifecycle; checked
    // via the fresh index's term statistics over batch-marker terms
    "bulk_apply" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val s2 = s
      import s2.implicits._
      val ops = docs.where(col("doc_id") % 13 === 5)
        .select(col("doc_id"), lit(null).cast("string").as("ntext"),
          lit("delete").as("op"), lit(1L).as("seq"))
        .unionByName(docs.where(col("doc_id") % 13 === 6)
          .select(col("doc_id"), concat(col("text"), lit(" bulkupd")).as("ntext"),
            lit("index").as("op"), lit(1L).as("seq")))
        .unionByName(s.range(50).select((col("id") + 100000L).as("doc_id"),
          concat(lit("fresh bulk row "), col("id")).as("ntext"),
          lit("index").as("op"), lit(1L).as("seq")))
        .unionByName(Seq(
          (7L, "temporary seven", "index", 2L),
          (7L, null.asInstanceOf[String], "delete", 3L),
          (8L, null.asInstanceOf[String], "delete", 2L),
          (8L, "resurrected bulk eight", "index", 3L))
          .toDF("doc_id", "ntext", "op", "seq"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("seq").desc)
      val last = ops.withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1).select(col("doc_id"), col("ntext"), col("op"))
      val applied = docs.join(last, Seq("doc_id"), "full_outer")
        .where(col("op").isNull || col("op") =!= "delete")
        .select(col("doc_id"),
          coalesce(col("ntext"), col("text")).as("text"))
      graft.index.InvertedIndex.build(applied, "doc_id", "text")
        .termStats
        .filter(col("term").isin("bulkupd", "fresh", "resurrected",
          "temporary", "join"))
        .select(col("term"), col("df"), col("ttf"))
    }),
    "dsl_update_by_query" -> ((s, dir) => {
      val idx = IndexCache.documents(s, dir)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val updated = Deletes.updateByQuery(graft.hybrid.HybridSources(idx),
        docs, "doc_id", "text",
        """{"query":{"bool":{"must":[{"match":{"text":"batch"}}]}}}""",
        concat(col("text"), lit(" refreshed content patch")))
      Bm25.topK(updated, Seq("refreshed", "patch", "join"), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),

    // incremental build: Structured Streaming micro-batches -> segments ->
    // merge; stats must equal the batch build's (same oracle as term_stats)
    "stream_index_term_stats" -> ((s, dir) => {
      // keyed on the ident-bearing STORE path: a regenerated corpus at the
      // same dir misses and builds a fresh store
      val store = stagedStreamStore(s, dir, "target/streamstore/v3")
      val idx = IndexCache.cachedIndex(s, "stream-index", store)(Right(
        graft.streaming.StreamingIndex.buildAvailableNow(
          s, s"$store/corpus", store, "doc_id", "text")))
      idx.termStats.toDF().select(col("term"), col("df"), col("ttf"))
    })
  )

  def oracles(tokCte: String): Map[String, String] = Map(
    "corpus_ingest" ->
      """SELECT doc_id,
        |       'repo-' || (doc_id % 50) AS repo,
        |       'src/pkg' || (doc_id % 97) || '/File' || doc_id || '.' || lang AS path,
        |       substr(sha256(('repo-' || (doc_id % 50)) || '/' ||
        |              ('src/pkg' || (doc_id % 97) || '/File' || doc_id || '.' || lang) || '/' ||
        |              text), 1, 12) AS "commit",
        |       lang,
        |       text AS content,
        |       sha256(text) AS sha256
        |FROM documents""".stripMargin,

    "segments_lineage" ->
      s"""WITH $tokCte,
         |bounds AS (SELECT max(doc_id) AS mx FROM documents),
         |segspan AS (SELECT (mx + $NSeg) // $NSeg AS sp, mx FROM bounds),
         |segd AS (
         |  SELECT CAST(d.doc_id // s.sp AS INT) AS segment_id,
         |         d.doc_id, sha256(d.text) AS sha, coalesce(dl.dl, 0) AS dl,
         |         s.sp, s.mx
         |  FROM documents d CROSS JOIN segspan s LEFT JOIN dl ON d.doc_id = dl.doc_id)
         |SELECT segment_id,
         |       CAST(segment_id * sp AS BIGINT) AS row_lo,
         |       CAST(least(segment_id * sp + sp - 1, mx) AS BIGINT) AS row_hi,
         |       count(*) AS doc_count,
         |       CAST(sum(dl) AS BIGINT) AS sum_dl,
         |       min(sha) AS sha_min,
         |       max(sha) AS sha_max,
         |       count(DISTINCT sha) AS sha_distinct
         |FROM segd GROUP BY segment_id, sp, mx""".stripMargin,

    // the restored store's lineage re-derived from first principles; the
    // actions are the snapshot contract itself (incremental second
    // snapshot, idempotent second restore)
    "segments_snapshot_restore" ->
      s"""WITH $tokCte,
         |bounds AS (SELECT max(doc_id) AS mx FROM documents),
         |segspan AS (SELECT (mx + $NSeg) // $NSeg AS sp, mx FROM bounds),
         |segd AS (
         |  SELECT CAST(d.doc_id // s.sp AS INT) AS segment_id,
         |         sha256(d.text) AS sha, coalesce(dl.dl, 0) AS dl
         |  FROM documents d CROSS JOIN segspan s LEFT JOIN dl ON d.doc_id = dl.doc_id)
         |SELECT segment_id, count(*) AS doc_count,
         |       CAST(sum(dl) AS BIGINT) AS sum_dl,
         |       count(DISTINCT sha) AS sha_distinct,
         |       'copied' AS first_snapshot, 'skipped' AS second_snapshot,
         |       'restored' AS restore, 'present' AS restore_again
         |FROM segd GROUP BY segment_id""".stripMargin,

    // execution preserves the corpus: merged term stats over the compacted
    // store must equal a fresh single-shot build's
    "segments_tiered_compact" ->
      s"""WITH $tokCte
         |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf
         |FROM tf GROUP BY term""".stripMargin,

    "segments_tiered_plan" ->
      s"""WITH $tokCte,
         |bounds AS (SELECT max(doc_id) AS mx FROM documents),
         |segspan AS (SELECT (mx + $NSeg) // $NSeg AS sp FROM bounds),
         |segs AS (
         |  SELECT CAST(d.doc_id // s.sp AS INT) AS segment_id,
         |         count(*) AS doc_count
         |  FROM documents d CROSS JOIN segspan s GROUP BY 1),
         |tiers AS (
         |  SELECT segment_id, doc_count,
         |         CAST(floor(ln(greatest(doc_count, 1)) / ln(4.0)) AS INT) AS tier
         |  FROM segs),
         |ranked AS (
         |  SELECT *, count(*) OVER (PARTITION BY tier) AS tn,
         |         row_number() OVER (PARTITION BY tier
         |           ORDER BY doc_count, segment_id) AS rn
         |  FROM tiers)
         |SELECT segment_id, CAST(doc_count AS BIGINT) AS doc_count, tier,
         |       CASE WHEN tn >= 3 AND rn <= 3 THEN tier END AS merge_group
         |FROM ranked""".stripMargin,

    "segments_merged_term_stats" ->
      s"""WITH $tokCte
         |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf
         |FROM tf GROUP BY term""".stripMargin,

    "stream_index_term_stats" ->
      s"""WITH $tokCte
         |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf
         |FROM tf GROUP BY term""".stripMargin,

    // stale-stats deletes: full-corpus stats CTEs, deleted ids filtered
    // from the HIT SET only (Lucene liveDocs semantics pre-merge)
    "bm25_with_deletes" ->
      s"""WITH $tokCte,
         |score AS (
         |  SELECT tf.doc_id,
         |         sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
         |              * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) ) AS s
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
         |  WHERE tf.term IN ('merge', 'group')
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, round(s, 4) AS score FROM score
         |WHERE doc_id % 7 <> 3
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,

    "bulk_apply" ->
      """WITH ops AS (
        |  SELECT doc_id, NULL AS ntext, 'delete' AS op, 1 AS seq
        |  FROM documents WHERE doc_id % 13 = 5
        |  UNION ALL SELECT doc_id, text || ' bulkupd', 'index', 1
        |  FROM documents WHERE doc_id % 13 = 6
        |  UNION ALL SELECT 100000 + i, 'fresh bulk row ' || i, 'index', 1
        |  FROM range(0, 50) t(i)
        |  UNION ALL SELECT * FROM (VALUES
        |    (7, 'temporary seven', 'index', 2),
        |    (7, NULL, 'delete', 3),
        |    (8, NULL, 'delete', 2),
        |    (8, 'resurrected bulk eight', 'index', 3)) v(doc_id, ntext, op, seq)),
        |lastop AS (SELECT doc_id, ntext, op FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
        |  FROM ops) WHERE rn = 1),
        |applied AS (
        |  SELECT coalesce(d.doc_id, l.doc_id) AS doc_id,
        |         coalesce(l.ntext, d.text) AS text
        |  FROM documents d FULL OUTER JOIN lastop l ON d.doc_id = l.doc_id
        |  WHERE l.op IS NULL OR l.op <> 'delete'),
        |btok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM applied),
        |btok2 AS (SELECT doc_id, term FROM btok WHERE term <> ''),
        |btf AS (SELECT doc_id, term, count(*) AS tf FROM btok2 GROUP BY 1, 2)
        |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf FROM btf
        |WHERE term IN ('bulkupd', 'fresh', 'resurrected', 'temporary', 'join')
        |GROUP BY term""".stripMargin,
    "search_pit" ->
      s"""WITH $tokCte,
         |score AS (
         |  SELECT tf.doc_id,
         |         sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
         |              * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) ) AS s
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
         |  WHERE tf.term IN ('merge', 'group')
         |  GROUP BY tf.doc_id)
         |SELECT * FROM (
         |  SELECT 'pit' AS view, doc_id, round(s, 4) AS score FROM score
         |  ORDER BY s DESC, doc_id LIMIT 10)
         |UNION ALL
         |SELECT * FROM (
         |  SELECT 'live' AS view, doc_id, round(s, 4) AS score FROM score
         |  WHERE doc_id % 7 <> 3
         |  ORDER BY s DESC, doc_id LIMIT 10)""".stripMargin,

    // post-compaction: every stat recomputed over the live corpus — the
    // tok/df/dl/stats CTEs all read the filtered live_docs view
    "bm25_compacted" ->
      s"""WITH live_docs AS (SELECT * FROM documents WHERE doc_id % 7 <> 3),
         |${tokCte.replace("FROM documents", "FROM live_docs")},
         |score AS (
         |  SELECT tf.doc_id,
         |         sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
         |              * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) ) AS s
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
         |  WHERE tf.term IN ('merge', 'group')
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, round(s, 4) AS score FROM score
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,

    // update = delete + add: the oracle scores a fresh build over the
    // updated corpus (same rows, %13==5 texts rewritten)
    "bm25_after_update" ->
      s"""WITH live_docs AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 13 = 5
         |              THEN text || ' rewritten content patch' ELSE text END AS text
         |  FROM documents),
         |${tokCte.replace("FROM documents", "FROM live_docs")},
         |score AS (
         |  SELECT tf.doc_id,
         |         sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
         |              * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) ) AS s
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
         |  WHERE tf.term IN ('rewritten', 'patch', 'join')
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, round(s, 4) AS score FROM score
         |ORDER BY round(s, 4) DESC, doc_id LIMIT 10""".stripMargin,

    // delete_by_query: stale-stats tombstones over the QUERY's matched set
    // (docs containing the analyzed token 'slow')
    "dsl_delete_by_query" ->
      s"""WITH $tokCte,
         |score AS (
         |  SELECT tf.doc_id,
         |         sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
         |              * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) ) AS s
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
         |  WHERE tf.term IN ('merge', 'group')
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, round(s, 4) AS score FROM score
         |WHERE doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'slow')
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,

    // update_by_query: fresh scoring over the corpus where every doc the
    // query matched (token 'batch') carries the transformed text
    "dsl_update_by_query" ->
      s"""WITH base_tok AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |    FROM documents) WHERE term = 'batch'),
         |live_docs AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id IN (SELECT doc_id FROM base_tok)
         |              THEN text || ' refreshed content patch' ELSE text END AS text
         |  FROM documents),
         |${tokCte.replace("FROM documents", "FROM live_docs")},
         |score AS (
         |  SELECT tf.doc_id,
         |         sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
         |              * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) ) AS s
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
         |  WHERE tf.term IN ('refreshed', 'patch', 'join')
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, round(s, 4) AS score FROM score
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,

    "segments_metrics" ->
      s"""WITH $tokCte,
         |bounds AS (SELECT max(doc_id) AS mx FROM documents),
         |segspan AS (SELECT (mx + $NSeg) // $NSeg AS sp FROM bounds),
         |segd AS (SELECT CAST(d.doc_id // s.sp AS INT) AS segment_id, d.doc_id
         |         FROM documents d CROSS JOIN segspan s),
         |p AS (SELECT segd.segment_id, count(DISTINCT tf.term || '#' || CAST(tf.doc_id // 4096 AS VARCHAR)) AS rows
         |      FROM tf JOIN segd USING (doc_id) GROUP BY segd.segment_id),
         |d AS (SELECT segment_id, count(DISTINCT doc_id // 4096) AS rows
         |      FROM segd GROUP BY segment_id),
         |t AS (SELECT segd.segment_id, count(DISTINCT tf.term) AS rows
         |      FROM tf JOIN segd USING (doc_id) GROUP BY segd.segment_id)
         |SELECT segment_id, 'postings' AS stage, rows FROM p
         |UNION ALL SELECT segment_id, 'doclens', rows FROM d
         |UNION ALL SELECT segment_id, 'termstats', rows FROM t""".stripMargin,

    "segments_merged_bm25" ->
      s"""WITH $tokCte,
         |score AS (
         |  SELECT tf.doc_id,
         |         sum( ln(1 + (stats.n - df.df + 0.5)/(df.df + 0.5))
         |              * (tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))) ) AS s
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
         |  WHERE tf.term IN ('filter', 'group', 'scan')
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, round(s, 4) AS score FROM score
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin
  )
}
