package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CoGroupExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer
import graft.hybrid._
import graft.index.{BoundedCache, InvertedIndex, IndexCache}
import graft.query.Bm25

/**
 * Physical-plan shape assertions — the scale claims as executable checks:
 * bounded top-k collection (TakeOrderedAndProject, never a global sort of
 * scored rows into <= numSubQueries partitions), parquet filter pushdown on
 * the disk-backed postings term seek, no forced broadcast on the
 * non-scoring hybrid filter, and per-bucket scoring in place over a
 * registry-resident index (its tables co-partitioned on `bucket`: no
 * Exchange below the scorer, one Spark job per BM25 query) with the same
 * rows as over the same index read without that layout.
 */
class PlanSpec extends SparkSpec {

  private lazy val idx = IndexCache.documents(spark, "/root/testdata/sf0.001")

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("bm25 topK collects through TakeOrderedAndProject, no global Sort+Limit") {
    val p = plan(Bm25.topK(idx, Seq("join", "merge"), 10))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("fused WAND is one job with no Exchange, ending in TakeOrderedAndProject") {
    val q = () => Bm25.topKWand(idx, Seq("join", "merge"), 10)
    val df = q()
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    // the scorer runs inside mapPartitions over the kernel's co-group of the
    // two co-partitioned cached scans: no exchange, no broadcast, and no
    // per-bucket Window sort anywhere in the WAND plan
    inPlace("topKWand", df)
    assert(!p.contains("Window"), p.take(2000))
    q().collect()
    assert(jobsOf(q().collect())._2 == 1)
  }

  test("disk-backed postings scan pushes the term filter into parquet") {
    val tmp = java.nio.file.Files.createTempDirectory("plan-idx-").toString
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"alpha beta w$i")).toDF("doc_id", "text")
    val disk = InvertedIndex.buildAndWrite(docs, "doc_id", "text", tmp, Analyzer.Simple)
    val p = disk.postings.filter(col("term").isin("alpha", "beta"))
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("term"), p.take(3000))
    assert(p.contains("In(term") || p.contains("term IN") || p.contains("in(term"),
      "term isin must reach the scan: " + p.take(3000))
  }

  test("prefix pattern reaches the disk-backed postings scan as StartsWith") {
    val tmp = java.nio.file.Files.createTempDirectory("plan-pre-").toString
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"alpha beta w$i")).toDF("doc_id", "text")
    val disk = InvertedIndex.buildAndWrite(docs, "doc_id", "text", tmp, Analyzer.Simple)
    // Bm25.matchLike's term predicate: LikeSimplification rewrites
    // `LIKE 'al%'` to StartsWith, which parquet accepts as a pushed filter —
    // the dictionary seek never decodes non-matching row groups' terms
    val p = disk.postings.filter(col("term").like("al%"))
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") &&
      (p.contains("StringStartsWith(term") || p.contains("StartsWith(term")),
      "prefix must reach the scan as a pushed StartsWith: " + p.take(3000))
  }

  test("bool topK is one aggregation ending in TakeOrdered — no Window, no global Sort+Limit") {
    import graft.query.BoolQuery
    import graft.hybrid.{BoolSub, Lexical}
    val p = plan(BoolQuery.topK(HybridSources(idx),
      BoolSub(must = Seq(Lexical(Seq("join"))), should = Seq(Lexical(Seq("merge"))),
        mustNot = Seq(Lexical(Seq("dup")))), 10))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    // exactly ONE doc_id alignment shuffle: the post-union pivot+gate
    // aggregate (clause scorers only add bucket-metadata exchanges)
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size == 1,
      p.take(3000))
  }

  test("hybrid sub-query collection is TakeOrdered per clause, not a subq-partitioned window over scored rows") {
    val q = HybridQuery(Seq(Lexical(Seq("join")), Lexical(Seq("merge"))),
      MinMaxNormTech(), Combination(graft.functions.Combine.Arithmetic), k = 5, depth = 20)
    val p = plan(Hybrid.execute(idx, q))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    // the only Window allowed is the rank over the <= nSub x depth collected
    // rows (feeds RRF); it must sit ABOVE a TakeOrdered/limit boundary, which
    // holds iff no Window appears below the union of bounded collections.
    // Cheap structural proxy: scored-row count entering any Window is bounded
    // by nSub x depth = 40 here, so the plan's Window input must descend from
    // a GlobalLimit/TakeOrdered, never directly from the posting cogroup.
    val windowIdx = p.indexOf("Window")
    if (windowIdx >= 0) {
      val below = p.substring(windowIdx)
      assert(below.contains("TakeOrderedAndProject") || below.contains("GlobalLimit"),
        "Window must be fed by bounded (limited) collections: " + p.take(3000))
    }
  }

  test("IVF probe prunes assignment partitions at the storage layer") {
    import spark.implicits._
    val emb = (0L until 200L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 13 + d) % 7).toFloat - 3f))).toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("plan-ivf-").toString
    val asg = graft.ops.Ann.ivfBuild(emb, "vec_id", "embedding", 4, path)
    // a probe of 2 centroids must reach the scan as a partition filter —
    // only those c_id= directories are read, the storage-layer analogue of
    // SEISMIC's cluster skipping
    val probed = asg.where($"c_id".isin(0, 1))
    val p = probed.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("c_id"), p.take(3000))
  }

  test("index.sort early termination: minimal bucket prefix, partition-pruned scan") {
    import spark.implicits._
    // 300 rows over sort-key buckets 0..2 (100 each at width 100): top-25
    // fits entirely in bucket 0, so buckets 1-2 must never be scanned
    val docs = (0L until 300L).map(i => (i, i)).toDF("doc_id", "n_chars")
    val path = java.nio.file.Files.createTempDirectory("plan-sort-").toString
    graft.index.Reorder.sortedWrite(docs, "n_chars", 100L, path)
    val top = graft.index.Reorder.sortedTopK(spark, path, "n_chars", "doc_id", 25)
    def partFilter(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("PartitionFilters"))
        .map(l => l.substring(l.indexOf("PartitionFilters")))
        .map(l => l.take(l.indexOf(']') + 1))
        .mkString(";")
    // only bucket 0 survives the partition filter — buckets 1-2 are pruned
    // at the directory level
    val pf = partFilter(top)
    assert("_sb#\\d+ = 0\\)".r.findFirstIn(pf).isDefined && !pf.contains("IN"), pf)
    // result equals the global sort
    assert(top.collect().map(_.getLong(0)).toSeq == (0L until 25L))
    // k spanning buckets: the chosen prefix grows to {0,1}, result exact
    val top150 = graft.index.Reorder.sortedTopK(spark, path, "n_chars", "doc_id", 150)
    val pf150 = partFilter(top150)
    assert(pf150.contains("IN (0,1)") || pf150.contains("IN (0, 1)"), pf150)
    assert(top150.collect().map(_.getLong(0)).toSeq == (0L until 150L))
  }

  test("hybrid DenseIvf clause's probe partition-prunes the vector artifact") {
    import spark.implicits._
    val emb = (0L until 200L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 13 + d) % 7).toFloat - 3f))).toDF("doc_id", "vec")
    val path = java.nio.file.Files.createTempDirectory("plan-ivf-hyb-").toString
    val cents = emb.where($"doc_id" < 8).select($"doc_id".as("c_id"), $"vec".as("cv"))
    val vecs = graft.ops.Ann.ivfBuildVectors(emb, "doc_id", "vec", cents, path)
    val src = HybridSources(idx, emb = Some(emb), ivf = Some(IvfSource(cents, vecs)))
    val q = HybridQuery(Seq(Lexical(Seq("join")), DenseIvf(0L, nProbe = 2)),
      MinMaxNormTech(), Combination(graft.functions.Combine.Arithmetic),
      k = 5, depth = 20)
    // the probed c_ids must reach the artifact scan as a STATIC
    // PartitionFilter (c_id IN (...)) — only nProbe of the 8 c_id=
    // directories are read. The combine stage is a single lineage over the
    // collected set (no checkpoint barrier), so the probe scan is visible
    // in the FULL execute plan.
    val p = plan(Hybrid.execute(src, q, None))
    assert(p.contains("PartitionFilters: [c_id"), p.take(3000))
  }

  test("routed semantic dense clause partition-prunes the chunk-vector artifact") {
    import spark.implicits._
    val docs = (0L until 120L).map(i =>
      (i, s"alpha merge window dup scan w${i % 9} v${i % 17}")).toDF("doc_id", "text")
    val dense = graft.ops.Semantic.ingestDense(docs, "doc_id", "text", tokenLimit = 4)
    val path = java.nio.file.Files.createTempDirectory("plan-semivf-").toString + "/ivf"
    val (cents, vecs) = graft.ops.Semantic.denseChunkIvf(dense, "doc_id", 8, 8, path)
    val src = HybridSources(idx, semantic = Map("sd" -> SemanticSource(
      SemanticDenseKind, dense, dims = 8, ivf = Some(IvfSource(cents, vecs)),
      ivfProbe = 3)))
    val q = HybridQuery(Seq(Lexical(Seq("join")),
      SemanticText("sd", Seq("merge", "window", "dup"))),
      MinMaxNormTech(), Combination(graft.functions.Combine.Arithmetic),
      k = 5, depth = 20)
    // the probed c_ids must reach the artifact scan as a STATIC
    // PartitionFilter — only ivfProbe of the 8 c_id= directories are read
    val p = plan(Hybrid.execute(src, q, None))
    assert(p.contains("PartitionFilters: [c_id"), p.take(3000))

    // and exact-probe routing (ivfProbe = centroid count) returns the exact
    // exploded-chunk scores
    val routed = graft.ops.Semantic.denseBestChunkScoreIvf(vecs, cents,
      graft.ops.Semantic.hashQueryVector(Seq("merge", "window", "dup"), 8),
      8, nProbe = 8, "doc_id")
      .collect().map(r => r.getLong(0) -> math.round(r.getDouble(1) * 1e9)).toMap
    val exact = graft.ops.Semantic.denseBestChunkScore(dense, "doc_id",
      graft.ops.Semantic.hashQueryVector(Seq("merge", "window", "dup"), 8))
      .collect().map(r => r.getLong(0) -> math.round(r.getDouble(1) * 1e9)).toMap
    assert(routed == exact,
      s"routed/exact diverge: ${(routed.toSet diff exact.toSet).take(5)}")
  }

  test("hybrid combine stage is a single lineage: normalization stats add no second scan of the scorers") {
    // min_max/l2/z_score per-sub-query stats are window aggregates over the
    // collected rows, not a groupBy + self-join second branch — so a stats-
    // bearing plan must scan each clause's sources exactly as many times as
    // the stats-free rrf plan over the same clauses. A second lineage branch
    // would double every scorer scan inside one job at corpus scale.
    def scans(p: String): Int =
      "InMemoryTableScan|Scan parquet|Scan ExistingRDD".r.findAllIn(p).length
    val subs = Seq(Lexical(Seq("join")), Lexical(Seq("merge")))
    val minmax = plan(Hybrid.execute(idx, HybridQuery(subs, MinMaxNormTech(),
      Combination(graft.functions.Combine.Arithmetic), k = 5, depth = 20)))
    val rrf = plan(Hybrid.execute(idx, HybridQuery(subs, RrfNormTech(),
      Combination(graft.functions.Combine.Rrf), k = 5, depth = 20)))
    assert(scans(minmax) == scans(rrf),
      s"min_max plan has ${scans(minmax)} scans vs rrf's ${scans(rrf)}:\n" + minmax.take(3000))
    assert(scans(rrf) > 0, rrf.take(2000))
  }

  test("hybrid non-scoring filter join carries no broadcast hint from our code") {
    val filt = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("lang") === "en").select("doc_id")
    val q = HybridQuery(Seq(Lexical(Seq("join"))), MinMaxNormTech(),
      Combination(graft.functions.Combine.Arithmetic), k = 5, depth = 20)
    // the filter semi-join must not be pinned by a ResolvedHint we inserted;
    // AQE/stats pick the strategy (a 50%-of-corpus filter must not be forced
    // into a driver broadcast). Catalyst erases hints it applies, so the
    // optimized plan of the collection stage (the stage holding the filter
    // join) must simply contain the LeftSemi join.
    val lp = Hybrid.collectSubQueries(HybridSources(idx), q, Some(filt))
      .queryExecution.optimizedPlan.toString
    assert(lp.contains("LeftSemi"), lp.take(3000))
  }

  test("significant_terms prunes postings by broadcast bucket join and ends in TakeOrdered") {
    val matched = Bm25.scoreTerms(idx, Seq("dup")).select("doc_id")
    val p = plan(graft.query.SignificantTerms(idx, matched, 10))
    // the matched docs' buckets broadcast INTO the postings scan — the
    // foreground decode must never be a full-index pass
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("percolate joins the doc tokens against BROADCAST query postings — " +
    "no sort-merge on the candidate join") {
    import graft.query.Percolate, Percolate.Registered
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(Percolate.matches(spark,
      Seq(Registered(1L, Seq("hash", "join"), 2),
        Registered(2L, Seq("merge"), 1, notTerms = Seq("slow"))), docs))
    // the registered-query posting tables are dimension-sized: both the
    // candidate join and the prohibited-term anti join must broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("intervals pattern expansion is dictionary-only; the positional cogroup " +
    "prunes by the EXPANDED term set") {
    import graft.query.Intervals
    // expansion side: the prefix predicate reaches the disk-backed termStats
    // scan as a pushed StartsWith — the expansion never touches postings
    val tmp = java.nio.file.Files.createTempDirectory("plan-iv-").toString
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"alpha beta w$i")).toDF("doc_id", "text")
    val disk = InvertedIndex.buildAndWrite(docs, "doc_id", "text", tmp, Analyzer.Simple)
    val ep = disk.termStats.filter(col("term").startsWith("al"))
      .queryExecution.executedPlan.toString
    assert(ep.contains("PushedFilters") &&
      (ep.contains("StringStartsWith(term") || ep.contains("StartsWith(term")),
      "expansion predicate must reach the termStats scan: " + ep.take(3000))
    assert(Intervals.resolve(disk, Intervals.IPrefix("al")) ==
      Intervals.ITermSet(Seq("alpha")))
    // match side: after resolve, the positional scan filters by the CONCRETE
    // expanded terms (bounded isin), evaluated in the same cogroup kernel as
    // every positional matcher — no Window, no global sort
    val pos = IndexCache.positions(spark, "/root/testdata/sf0.001")
    val p = plan(Intervals.matchDocs(idx, pos, Intervals.IAllOf(Seq(
      Intervals.IPrefix("ta"), Intervals.IMatch(Seq("join"))),
      maxGaps = 2, ordered = true)))
    assert(p.contains("CoGroup"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert(!p.contains("rangepartitioning"), p.take(3000))
    assert(p.contains("table"), // 'ta%' expands to the concrete term
      "the expanded term must appear as a literal scan filter: " + p.take(3000))
  }

  test("span_near matched set stays a cogroup over pruned positional blocks — no Window, no global sort") {
    val pos = IndexCache.positions(spark, "/root/testdata/sf0.001")
    val p = plan(graft.query.Phrase.spanNearMatch(
      idx, pos, Seq("table", "hash"), slop = 2, inOrder = false))
    assert(p.contains("CoGroup"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    // partition-local sorts feed the cogroup; a GLOBAL sort would show as a
    // range-partitioned exchange
    assert(!p.contains("rangepartitioning"), p.take(3000))
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** The executed plan of `df` from its bucket kernel's CoGroup down. A
   *  cached table's scan is a leaf there: the plans that filled it are not
   *  among its children. */
  private def scorer(df: DataFrame): SparkPlan =
    Plans.collectFirst(df.queryExecution.executedPlan) { case c: CoGroupExec => c }
      .getOrElse(fail("no CoGroup: " + plan(df).take(3000)))

  /** The exchanges and broadcast joins below the scorer. */
  private def moved(df: DataFrame): Seq[SparkPlan] =
    Plans.collect(scorer(df)) { case e: Exchange => e; case j: BroadcastHashJoinExec => j }

  /** The scorer reads the resident tables in place. */
  private def inPlace(name: String, df: DataFrame): Unit = {
    assert(moved(df).isEmpty,
      s"$name: no exchange or broadcast below the CoGroup: " + plan(df).take(3000))
    assert(Plans.collect(scorer(df)) { case t: InMemoryTableScanExec => t }.size >= 2,
      s"$name: " + plan(df).take(3000))
  }

  test("every bucket-kernel user is one CoGroup over resident scans at a fixed job count") {
    import graft.query.{Intervals, Phrase, Search}
    import Intervals.{IAllOf, IMatch, IPrefix}
    val pos = IndexCache.positions(spark, "/root/testdata/sf0.001")
    // (name, query, Spark jobs of one warm call + collect): the kernel
    // stage, plus msearch's per-request rank exchange and the termStats
    // scan of an intervals pattern — pinned, so an added scan, join or
    // collect shows
    val rows: Seq[(String, () => DataFrame, Int)] = Seq(
      ("bm25 plain", () => Bm25.topK(idx, Seq("join", "merge"), 10), 1),
      ("bm25 synonym", () => Bm25.synonymTopK(idx, Seq("join", "merge"), 10), 1),
      ("bm25 matchLike", () => Bm25.matchLike(idx, "ta%"), 1),
      ("msearch", () => Search.msearch(idx,
        Seq("q1" -> Seq("join", "merge"), "q2" -> Seq("hash")), 10), 2),
      ("phrase exact", () => Phrase.score(idx, pos, Seq("hash", "join")), 1),
      ("phrase sloppy", () => Phrase.sloppyScore(idx, pos, Seq("hash", "join"), 2), 1),
      ("phrase prefix", () => Phrase.phrasePrefixScore(idx, pos, Seq("hash"), "jo"), 1),
      ("span_near", () => Phrase.spanNearMatch(
        idx, pos, Seq("table", "hash"), slop = 2, inOrder = false), 1),
      ("span_first", () => Phrase.spanFirstMatch(idx, pos, "join", 3), 1),
      ("span_not", () => Phrase.spanNotMatch(idx, pos, "join", "hash", 1, 1), 1),
      ("span_containing", () => Phrase.spanContainingMatch(
        idx, pos, Seq("hash", "join"), 2, inOrder = false, "table"), 1),
      // after resolve, the positional scan filters by the CONCRETE expanded
      // terms ('ta%' -> table) as a literal
      ("intervals", () => Intervals.matchDocs(idx, pos, IAllOf(Seq(
        IPrefix("ta"), IMatch(Seq("join"))), maxGaps = 2, ordered = true)), 2))
    val measured = rows.map { case (name, q, _) =>
      val df = q()
      val p = plan(df)
      assert("CoGroup".r.findAllIn(p).size == 1, s"$name: " + p.take(3000))
      inPlace(name, df)
      // msearch ranks its <= k rows per request with a Window ABOVE the
      // kernel; below the CoGroup no plan may window or sort globally
      val checked = if (name == "msearch") p.substring(p.indexOf("CoGroup")) else p
      assert(!checked.contains("Window"), s"$name: " + p.take(3000))
      assert("Sort \\[[^\\]]*\\], true".r.findFirstIn(checked).isEmpty &&
        !checked.contains("rangepartitioning"), s"$name: no global sort: " + p.take(3000))
      if (name == "intervals")
        assert(p.contains("table"), "the expanded term must appear as a literal scan filter: " +
          p.take(3000))
      q().collect() // warm: the first collect of a plan pays one-off caching
      name -> jobsOf(q().collect())._2
    }
    val want = rows.map { case (name, _, jobs) => name -> jobs }
    assert(measured == want, s"jobs per call: measured $measured")
  }

  test("every registry index entry is co-partitioned with its doc lengths") {
    import graft.query.Phrase
    val dir = "/root/testdata/sf0.001"
    val store = java.nio.file.Files.createTempDirectory("plan-store-").toString
    InvertedIndex.buildAndWrite(spark.read.parquet(s"$dir/documents.parquet"),
      "doc_id", "text", store)
    val entries = Seq(
      "documents" -> IndexCache.documents(spark, dir),
      "corpusField" -> IndexCache.corpusField(spark, dir, "path"),
      "documentsTitle" -> IndexCache.documentsTitle(spark, dir),
      "store entry" -> IndexCache.cachedIndex(spark, "plan-store", store)(
        Right(InvertedIndex.read(spark, store))))
    for ((name, i) <- entries) {
      val term = i.termStats.orderBy(col("df").desc, col("term")).first().term
      inPlace(s"$name topK", Bm25.topK(i, Seq(term), 10))
      inPlace(s"$name topKWand", Bm25.topKWand(i, Seq(term), 10))
    }
    val pos = IndexCache.positions(spark, dir)
    inPlace("positions", Phrase.score(idx, pos, Seq("hash", "join")))
    val fieldPos = IndexCache.corpusFieldPositions(spark, dir, "path")
    val pathIdx = IndexCache.corpusField(spark, dir, "path")
    val pathTerms = pathIdx.termStats.orderBy(col("df").desc, col("term")).take(2).map(_.term)
      .toSeq
    inPlace("field positions", Phrase.score(pathIdx, fieldPos, pathTerms))
    BoundedCache.session.invalidate(_.kind == "plan-store")
  }

  test("the resident layout changes speed only: non-resident reads return the same bits") {
    import graft.query.{Phrase, Search}
    import graft.index.{Deletes, Index, PosBlock, Positions}
    import spark.implicits._
    // 3,000 docs over ids 0..20,993: six 4096-doc buckets spread over the
    // session's partitions
    val rnd = new scala.util.Random(7)
    val vocab = Array.tabulate(60)(i => s"w$i")
    val rows = (0 until 3000).map { i =>
      (i * 7L, Seq.fill(3 + rnd.nextInt(12))(vocab(math.min(59, (rnd.nextGaussian().abs * 15).toInt)))
        .mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("plan-layout-").toString
    rows.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val resident = IndexCache.documents(spark, dir)
    val store = s"$dir/store"
    def withConf[A](kvs: (String, String)*)(f: => A): A = {
      val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try f finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    // one file per shuffle partition and kind, each holding some blocks of
    // every bucket
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      InvertedIndex.buildAndWrite(docs, "doc_id", "text", store)
    }
    // adaptive execution may split a skewed partition of a shuffled join by
    // map ranges: with the store read one map task per file and every
    // partition above the median counted as skewed, it must still score
    // each bucket whole, in one task
    def skewSplit[A](f: => A): A = withConf(
      "spark.sql.files.openCostInBytes" -> "128m",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1")(f)
    val variants = Seq(
      "store read" -> InvertedIndex.read(spark, store),
      "deletes view" -> Deletes.withDeletes(resident, docs.filter($"doc_id" < 0).select("doc_id"),
        "doc_id"))
    val pos = IndexCache.positions(spark, dir)
    val rawPos = Positions.build(docs, "doc_id", "text")
    def bits(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
      case v => String.valueOf(v)
    }.mkString(","))
    val queries: Seq[(String, (Index, org.apache.spark.sql.Dataset[PosBlock]) => DataFrame)] = Seq(
      "topK" -> ((i, _) => Bm25.topK(i, Seq("w0", "w3", "w20"), 25)),
      "topKWand" -> ((i, _) => Bm25.topKWand(i, Seq("w0", "w3", "w20"), 25)),
      "msearch" -> ((i, _) => Search.msearch(i,
        Seq("a" -> Seq("w1", "w2"), "b" -> Seq("w30"), "c" -> Seq("w5", "w40")), 20)
        .orderBy("query_id", "rank")),
      "phrase" -> ((i, p) => Phrase.score(i, p, Seq("w0", "w1"))
        .orderBy(col("score").desc, col("doc_id"))))
    for ((qname, q) <- queries) {
      val want = bits(q(resident, pos))
      assert(want.nonEmpty, qname)
      assert(moved(q(variants(0)._2, rawPos)).exists(_.isInstanceOf[Exchange]),
        s"$qname: the store read is not laid out, so its plan shuffles")
      for ((vname, v) <- variants)
        assert(bits(q(v, rawPos)) == want, s"$qname over the $vname")
      assert(skewSplit(bits(q(variants(0)._2, rawPos))) == want,
        s"$qname over the store read, skewed partitions split")
    }
    BoundedCache.session.invalidate(_.dir == dir)
  }
}
