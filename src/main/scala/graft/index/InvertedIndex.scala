package graft.index

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer

/**
 * One compressed posting block: all postings of `term` whose docIds fall in
 * the 4096-doc span `bucket` (localId = doc_id - bucket*4096), delta-varint
 * encoded, with the per-block max term frequency kept as the block-max impact
 * for WAND-style pruning.
 *
 * The reference accumulates per-term `DocWeight(docID, weight)` lists at
 * segment flush and vint-encodes them into clustered postings
 * (reference: sparse/codec/ClusteredPostingTermsWriter.java:155-198). Our
 * block-per-row layout replaces both the Lucene segment file and its term
 * dictionary: Parquet predicate pushdown on `term` is the term seek, and the
 * fixed docId span per block bounds every shuffle group at 4096 entries, so
 * head terms ("import"/"return"-style skew) can never produce a giant row —
 * the bucketing IS the salt.
 */
case class PostingBlock(
    term: String,
    bucket: Long,
    cnt: Int,
    max_tf: Int,
    sum_tf: Long,
    docs: Array[Byte],
    tfs: Array[Byte]
)

/** Forward doc-length block for one bucket (the BM25 norm source).
 *  Mirrors Lucene's per-doc norms that BM25Similarity reads; the reference
 *  keeps a BinaryDocValues forward index per doc
 *  (reference: sparse/codec/SparseDocValuesConsumer.java). `min_dl` is block
 *  metadata for WAND: the tightest per-bucket BM25 upper bound uses the
 *  bucket's shortest doc, not dl -> 0. */
case class DocLenBlock(bucket: Long, cnt: Int, min_dl: Int, ids: Array[Byte], dls: Array[Byte])

/** Per-term statistics feeding BM25 idf (Lucene TermStatistics analogue;
 *  reference stubs these in sparse/codec/SparseTerms.java:54-66 and delegates
 *  real BM25 stats to Lucene core). */
case class TermStat(term: String, df: Long, ttf: Long)

/**
 * One partition-local compressed fragment emitted by the single-pass build:
 * kind 0 = posting fragment of (term, bucket), payload tfs; kind 1 = doc-length
 * fragment of bucket (term empty), payload dls. A positional build also fills
 * a kind-0 fragment's `poss` — per doc, its first position then the gaps, as
 * varints (`sum_tf` values, segmented by `tfs`), the wire format of
 * [[PosBlock.poss]]; it is null otherwise. Fragments are the unit shipped
 * through the shuffle — already delta-varint compressed, so the shuffle moves
 * ~10x fewer bytes than raw (doc, term, tf) rows would. This mirrors the
 * reference's per-segment flush-then-merge lifecycle (reference:
 * sparse/codec/SparsePostingsConsumer.java:87-153 flush,
 * MergeHelper.java:82-179 merge) inside one Spark job.
 */
case class BuildBlock(
    kind: Byte,
    term: String,
    bucket: Long,
    cnt: Int,
    max_tf: Int,
    min_v: Int,
    sum_tf: Long,
    docs: Array[Byte],
    tfs: Array[Byte],
    poss: Array[Byte]
)

case class CorpusStats(doc_count: Long, sum_dl: Long, avgdl: Double)

/** What one build wrote: row counts of its postings (kind 0), doc-length
 *  (kind 1) and term-stats tables, and the wall time of the blocks write and
 *  of the termstats write. */
case class WriteReport(postings: Long, docLens: Long, termStats: Long, blocksMs: Long, termStatsMs: Long)

/** In-memory handle on a built index. */
case class Index(
    postings: Dataset[PostingBlock],
    docLens: Dataset[DocLenBlock],
    termStats: Dataset[TermStat],
    stats: CorpusStats,
    analyzer: String
) extends BoundedCache.DriverHeld {
  // the whole term dictionary (term -> df) and its estimated bytes: loaded
  // at registry admission, null on any other handle (a store read, a copy)
  @transient @volatile private var dictionary: Map[String, Long] = _
  @transient @volatile private var bytes = 0L
  def driverBytes: Long = bytes
  // the positional view of the block table a registry entry was built
  // from (IndexCache.positions), null on any other handle
  @transient @volatile private[index] var positions: Dataset[PosBlock] = _

  private[index] def loadDictionary(): Unit = {
    dictionary = fetch(termStats)
    bytes = org.apache.spark.util.SizeEstimator.estimate(dictionary)
  }

  private def fetch(rows: Dataset[TermStat]) = rows.collect().map(t => t.term -> t.df).toMap

  /** The dfs of `terms` (absent terms omitted) — the TermStatistics lookup
   *  every BM25 weight reads: no Spark job on a resident handle; any other
   *  handle fetches only these terms' rows. */
  def dfs(terms: Seq[String]): Map[String, Long] = {
    val d = Option(dictionary).getOrElse(fetch(termStats.filter(col("term").isin(terms.distinct: _*))))
    terms.distinct.flatMap(t => d.get(t).map(t -> _)).toMap
  }

  /** The first `max` (term, df) pairs whose term starts with `prefix`, in
   *  Spark's (UTF-8 byte) term order. */
  def prefixed(prefix: String, max: Int): Seq[(String, Long)] =
    Option(dictionary).getOrElse(fetch(termStats.filter(col("term").startsWith(prefix))
      .orderBy("term").limit(max))).toSeq.filter(_._1.startsWith(prefix))
      .sortBy(t => org.apache.spark.unsafe.types.UTF8String.fromString(t._1)).take(max)
}

object InvertedIndex {

  /** 4096-doc span per block — mirrors the reference's 4096-doc bulk-scoring
   *  window (reference: query/HybridBulkScorer.java:27-29). */
  val BucketBits = 12
  val BucketSpan: Int = 1 << BucketBits

  /** Growable primitive int buffer (no boxing in the build hot loop). */
  private[index] final class IntBuf(initial: Int = 8) {
    private var arr = new Array[Int](initial)
    private var n = 0
    def add(v: Int): Unit = {
      if (n == arr.length) {
        val bigger = new Array[Int](arr.length * 2)
        System.arraycopy(arr, 0, bigger, 0, n)
        arr = bigger
      }
      arr(n) = v
      n += 1
    }
    def size: Int = n
    def apply(i: Int): Int = arr(i)
    def toArray: Array[Int] = java.util.Arrays.copyOfRange(arr, 0, n)
  }

  /**
   * Single-pass partition-local build: analyze each doc once, accumulate
   * per-(term, bucket) postings AND per-bucket doc lengths in primitive
   * buffers, emit compressed fragments. The downstream (kind, term, bucket)
   * shuffle then only moves varint blocks. Memory per task is bounded by the
   * partition's vocabulary x bucket span, independent of corpus size.
   * With `positions`, each posting also keeps the doc's occurrence
   * positions of the term (the `.pos` payload, in `poss`): the indexes of
   * the ANALYZED token sequence (post stop/empty filtering), the
   * convention Lucene's analyzers use, taken from the same tokens that
   * count its tf.
   */
  def buildBlocksOf(docs: DataFrame, idCol: String, textCol: String, analyzer: String,
                    positions: Boolean = false): Dataset[BuildBlock] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // lang-tagged dispatch: the third column carries each ROW's analyzer
    // name — resolved from the document's `lang` column when the index is
    // declared LangTagged, constant otherwise. The single-pass build below
    // is analyzer-agnostic either way.
    val rows: Dataset[(Long, String, String)] =
      if (analyzer == Analyzer.LangTagged)
        docs.select(col(idCol).cast("long"), col(textCol),
          when(lower(col("lang")) === "en", Analyzer.EnSimple)
            .otherwise(Analyzer.Simple)).as[(Long, String, String)]
      else
        docs.select(col(idCol).cast("long"), col(textCol), lit(analyzer))
          .as[(Long, String, String)]
    rows.mapPartitions { rows =>
      // Postings accumulate in a BUCKET-LOCAL map flushed on bucket change:
      // doc ids arrive (near-)ordered, so the bucket switches once per 4096
      // docs and the map is keyed by plain term String — no (String, Long)
      // tuple allocation + boxing per unique term per doc, and task memory
      // is bounded by ONE bucket's vocabulary instead of the partition's
      // vocabulary x bucket span. Unordered arrivals stay correct: a
      // revisited bucket just emits another fragment for the same
      // (term, bucket) key and the merge shuffle combines them.
      val out = scala.collection.mutable.ArrayBuffer.empty[BuildBlock]
      // term -> (local ids, tfs, position gaps or null)
      val cur = new java.util.HashMap[String, (IntBuf, IntBuf, IntBuf)]()
      val doclens = new java.util.HashMap[Long, (IntBuf, IntBuf)]()
      // the current doc's positions of each of its terms
      val docPos = new java.util.HashMap[String, IntBuf]()
      var curBucket = Long.MinValue
      var dlCell: (IntBuf, IntBuf) = null
      def flush(): Unit = if (curBucket != Long.MinValue) {
        val it = cur.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val (ids, tfs, gaps) = e.getValue
          out += encodeFragment(0, e.getKey, curBucket, ids.toArray, tfs.toArray,
            if (gaps == null) null else gaps.toArray)
        }
        cur.clear()
      }
      rows.foreach { case (docId, text, an) =>
        val toks = Analyzer.analyze(an)(text)
        val bucket = docId >> BucketBits
        val local = (docId - (bucket << BucketBits)).toInt
        if (bucket != curBucket) {
          flush()
          curBucket = bucket
          dlCell = doclens.get(bucket)
          if (dlCell == null) { dlCell = (new IntBuf(64), new IntBuf(64)); doclens.put(bucket, dlCell) }
        }
        dlCell._1.add(local)
        dlCell._2.add(toks.length)
        docPos.clear()
        var i = 0
        while (i < toks.length) {
          var cell = docPos.get(toks(i))
          if (cell == null) { cell = new IntBuf(2); docPos.put(toks(i), cell) }
          cell.add(i)
          i += 1
        }
        val it = docPos.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          var pCell = cur.get(e.getKey)
          if (pCell == null) {
            pCell = (new IntBuf(4), new IntBuf(4), if (positions) new IntBuf(4) else null)
            cur.put(e.getKey, pCell)
          }
          val ps = e.getValue
          pCell._1.add(local)
          pCell._2.add(ps.size)
          if (positions) {
            var prev = 0
            var j = 0
            while (j < ps.size) { pCell._3.add(ps(j) - prev); prev = ps(j); j += 1 }
          }
        }
      }
      flush()
      val dit = doclens.entrySet().iterator()
      while (dit.hasNext) {
        val e = dit.next()
        out += encodeFragment(1, "", e.getKey, e.getValue._1.toArray, e.getValue._2.toArray, null)
      }
      out.iterator
    }
  }

  /** Sort parallel (ids, vals) by id — with each id's `vals(i)` position
   *  gaps in `gaps`, when not null — and delta/varint-encode them into a
   *  fragment. */
  private def encodeFragment(kind: Byte, term: String, bucket: Long,
                             ids: Array[Int], vals: Array[Int], gaps: Array[Int]): BuildBlock = {
    // insertion order is usually already ascending (range-partitioned doc
    // ids); sort defensively via index permutation
    var sorted = true
    var i = 1
    while (sorted && i < ids.length) { sorted = ids(i - 1) < ids(i); i += 1 }
    val (sIds, sVals, sGaps) = if (sorted) (ids, vals, gaps) else {
      val ord = ids.indices.toArray.sortBy(ids(_))
      // each id's gaps move as one run
      val sGaps = if (gaps == null) null else {
        val from = vals.scanLeft(0)(_ + _)
        ord.flatMap(j => gaps.slice(from(j), from(j + 1)))
      }
      (ord.map(ids(_)), ord.map(vals(_)), sGaps)
    }
    var maxV = 0
    var minV = Int.MaxValue
    var sumV = 0L
    i = 0
    while (i < sVals.length) {
      if (sVals(i) > maxV) maxV = sVals(i)
      if (sVals(i) < minV) minV = sVals(i)
      sumV += sVals(i)
      i += 1
    }
    if (sVals.isEmpty) minV = 0
    BuildBlock(kind, term, bucket, sIds.length, maxV, minV, sumV,
      PostingCodec.encodeDeltas(sIds), PostingCodec.encodeInts(sVals),
      if (sGaps == null) null else PostingCodec.encodeInts(sGaps))
  }

  /** Merge same-key fragments from different partitions into one block. */
  def mergeFragments(blocks: Array[BuildBlock]): BuildBlock = {
    if (blocks.length == 1) blocks(0)
    else {
      val n = blocks.map(_.cnt).sum
      val ids = new Array[Int](n)
      val vals = new Array[Int](n)
      val gaps = if (blocks(0).poss == null) null else new Array[Int](blocks.map(_.sum_tf.toInt).sum)
      var off = 0
      var gOff = 0
      for (b <- blocks) {
        val bi = PostingCodec.decodeDeltas(b.docs, b.cnt)
        val bv = PostingCodec.decodeInts(b.tfs, b.cnt)
        System.arraycopy(bi, 0, ids, off, b.cnt)
        System.arraycopy(bv, 0, vals, off, b.cnt)
        off += b.cnt
        if (gaps != null) {
          val npos = b.sum_tf.toInt
          System.arraycopy(PostingCodec.decodeInts(b.poss, npos), 0, gaps, gOff, npos)
          gOff += npos
        }
      }
      encodeFragment(blocks(0).kind, blocks(0).term, blocks(0).bucket, ids, vals, gaps)
    }
  }

  /** The one block merge: fragments of the same (kind, term, bucket) —
   *  from the partitions of one build, or from the segments of a store —
   *  become one block. */
  def mergeBlocks(fragments: Dataset[BuildBlock]): Dataset[BuildBlock] = {
    val spark = fragments.sparkSession
    import spark.implicits._
    fragments.groupByKey(b => (b.kind, b.term, b.bucket))
      .mapGroups((_, it) => mergeFragments(it.toArray))
  }

  /** All index blocks (postings + doclens, and with `positions` the
   *  postings' positions) in one analyze pass + one compressed-fragment
   *  shuffle. */
  def mergedBlocksOf(docs: DataFrame, idCol: String, textCol: String, analyzer: String,
                     positions: Boolean = false): Dataset[BuildBlock] =
    mergeBlocks(buildBlocksOf(docs, idCol, textCol, analyzer, positions))

  /** The resident layout of an index table (Hadoop++'s co-partitioned
   *  load): hash-partitioned on `bucket` into the session's shuffle
   *  partition count — explicit, so adaptive execution never coalesces it —
   *  and sorted by `bucket`, then `sortCols`. A per-bucket join or co-group
   *  of two laid-out tables plans no exchange and no sort. */
  private[graft] def bucketLaid[T](table: Dataset[T], sortCols: String*): Dataset[T] = {
    val p = table.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    table.repartition(p, col("bucket")).sortWithinPartitions(("bucket" +: sortCols).map(col): _*)
  }

  /** The postings (kind 0) of a block table. Over a table on disk the
   *  kind=0 directory alone is read, and term predicates push into parquet
   *  row-group stats. */
  def postingsFromBlocks(blocks: Dataset[BuildBlock]): Dataset[PostingBlock] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.filter(col("kind") === 0)
      .select(col("term"), col("bucket"), col("cnt"), col("max_tf"),
        col("sum_tf"), col("docs"), col("tfs")).as[PostingBlock]
  }

  /** The doc lengths (kind 1) of a block table. */
  def docLensFromBlocks(blocks: Dataset[BuildBlock]): Dataset[DocLenBlock] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.filter(col("kind") === 1)
      .select(col("bucket"), col("cnt"), col("min_v").as("min_dl"),
        col("docs").as("ids"), col("tfs").as("dls")).as[DocLenBlock]
  }

  /** The positional blocks of a positional build's block table: a view of
   *  its kind-0 rows, whose position counts are their tfs. */
  def positionsFromBlocks(blocks: Dataset[BuildBlock]): Dataset[PosBlock] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.filter(col("kind") === 0)
      .select(col("term"), col("bucket"), col("cnt"), col("sum_tf").cast("int").as("npos"),
        col("docs"), col("tfs").as("lens"), col("poss")).as[PosBlock]
  }

  /** Postings as kind-0 blocks, so [[mergeBlocks]] can merge them. A
   *  posting row keeps no `min_v`; the merge recomputes it and
   *  [[postingsFromBlocks]] drops it. */
  private[graft] def postingsAsBlocks(postings: Dataset[PostingBlock]): Dataset[BuildBlock] = {
    val spark = postings.sparkSession
    import spark.implicits._
    postings.select(lit(0.toByte).as("kind"), col("term"), col("bucket"), col("cnt"),
      col("max_tf"), lit(0).as("min_v"), col("sum_tf"), col("docs"), col("tfs"), noPositions)
      .as[BuildBlock]
  }

  /** Doc lengths as kind-1 blocks (the inverse of [[docLensFromBlocks]]). */
  private[graft] def docLensAsBlocks(docLens: Dataset[DocLenBlock]): Dataset[BuildBlock] = {
    val spark = docLens.sparkSession
    import spark.implicits._
    docLens.select(lit(1.toByte).as("kind"), lit("").as("term"), col("bucket"), col("cnt"),
      lit(0).as("max_tf"), col("min_dl").as("min_v"), lit(0L).as("sum_tf"),
      col("ids").as("docs"), col("dls").as("tfs"), noPositions).as[BuildBlock]
  }

  private def noPositions = lit(null).cast("binary").as("poss")

  /** All live doc ids, decoded block-locally from the forward (doc-length)
   *  table — the MatchAllDocsQuery universe. Tombstoned docs never appear
   *  here (Deletes.maskDocLens removes their forward entries), so match_all
   *  respects deletes like every scorer. */
  def liveDocIds(docLens: Dataset[DocLenBlock]): org.apache.spark.sql.DataFrame = {
    val spark = docLens.sparkSession
    import spark.implicits._
    docLens.flatMap { b =>
      val ids = PostingCodec.decodeDeltas(b.ids, b.cnt)
      val base = b.bucket << BucketBits
      (0 until b.cnt).iterator.map(i => base + ids(i))
    }.toDF("doc_id")
  }

  /** Docs whose field produced AT LEAST ONE token — the `exists` universe.
   *  Unlike [[liveDocIds]] (which includes rows whose value analyzed to
   *  zero tokens — they are live for match_all), a token-less value
   *  indexes nothing, so the field "does not exist" for it. This is the
   *  index-derived analogue of Lucene's FieldExistsQuery; OpenSearch
   *  additionally counts a literal empty string as existing via the stored
   *  _field_names mapper, which has no index-side equivalent here — a
   *  documented divergence on ""-valued fields only. */
  def existsDocIds(docLens: Dataset[DocLenBlock]): org.apache.spark.sql.DataFrame = {
    val spark = docLens.sparkSession
    import spark.implicits._
    docLens.flatMap { b =>
      val ids = PostingCodec.decodeDeltas(b.ids, b.cnt)
      val dls = PostingCodec.decodeInts(b.dls, b.cnt)
      val base = b.bucket << BucketBits
      (0 until b.cnt).iterator.filter(dls(_) > 0).map(i => base + ids(i))
    }.toDF("doc_id")
  }

  /** Per-term stats derived from posting blocks — no re-tokenize: partial
   *  aggregation over the already-compressed block rows. */
  def termStatsOf(postings: Dataset[PostingBlock]): Dataset[TermStat] = {
    val spark = postings.sparkSession
    import spark.implicits._
    postings.groupBy($"term")
      .agg(sum($"cnt").as("df"), sum($"sum_tf").as("ttf"))
      .as[TermStat]
  }

  /** Corpus stats derived from doc-length blocks (decode is per-block local). */
  def statsOf(docLens: Dataset[DocLenBlock]): CorpusStats = {
    val spark = docLens.sparkSession
    import spark.implicits._
    val row = docLens
      .map { b =>
        var s = 0L
        val dls = PostingCodec.decodeInts(b.dls, b.cnt)
        var i = 0
        while (i < b.cnt) { s += dls(i); i += 1 }
        (b.cnt.toLong, s)
      }
      .toDF("c", "s").agg(sum($"c"), sum($"s")).as[(Option[Long], Option[Long])].head()
    corpusStats(row._1.getOrElse(0L), row._2.getOrElse(0L))
  }

  def build(docs: DataFrame, idCol: String, textCol: String, analyzer: String = Analyzer.Simple): Index = {
    val blocks = mergedBlocksOf(docs, idCol, textCol, analyzer)
    val postings = postingsFromBlocks(blocks)
    val docLens = docLensFromBlocks(blocks)
    Index(postings, docLens, termStatsOf(postings), statsOf(docLens), analyzer)
  }

  /**
   * The production build path: materialize each table ONCE and derive
   * downstream tables from what is already on disk — postings see exactly one
   * tokenize+shuffle pass, doc lengths one analyze pass, and term/corpus
   * stats re-read the compressed block tables instead of the raw corpus.
   * (The lazy `build` recomputes its inputs per downstream action unless the
   * caller persists them; at 10^12 docs re-tokenizing is the dominant cost,
   * so the write-then-derive ordering IS the optimization.)
   */
  def buildAndWrite(docs: DataFrame, idCol: String, textCol: String, dir: String,
                    analyzer: String = Analyzer.Simple): Index =
    writeStore(mergedBlocksOf(docs, idCol, textCol, analyzer), dir, analyzer)(
      (st, _) => StoreManifest(st))._1

  /**
   * The one index-store writer. A store dir holds the kind-partitioned
   * `blocks` table, the `termstats` table and, written last, the
   * [[StoreManifest]] that `commit` makes from the corpus stats and the
   * [[WriteReport]] of the two writes. A store without a readable manifest
   * is not committed, so the old manifest is deleted before the tables are
   * overwritten. `commit` runs after both tables are written: a caller can
   * verify them there, and a throw leaves the store uncommitted.
   */
  private[graft] def writeStore(blocks: Dataset[BuildBlock], dir: String, analyzer: String)(
      commit: (CorpusStats, WriteReport) => StoreManifest): (Index, StoreManifest) = {
    val spark = blocks.sparkSession
    import spark.implicits._
    StoreManifest.delete(spark, dir)
    // ONE job does tokenize + fragment shuffle + the kind-partitioned block
    // write — no persist and no separate materialize pass. The earlier
    // cache-then-derive design paid the whole pipeline twice (once into the
    // cache, once out of it) and its typed filter/map stats derivations
    // deserialized full payload bytes from the cache, defeating column
    // pruning. Every derived table (termstats, corpus stats) is a function
    // of the METADATA columns alone — kind=0: (term, cnt, sum_tf) aggregate
    // to df/ttf; kind=1: sum(cnt)/sum(sum_tf) ARE doc_count/sum_dl, because
    // a doc-length fragment's sum over payload values is kept as sum_tf at
    // encode time — so the read-back prunes to slim columns and never
    // touches the payload bytes. Rows are pre-sorted (kind, term, bucket)
    // inside each task so the dynamic partitioning needs no extra sort and
    // term row-group stats stay tight for the read-side seek.
    // Corpus stats and the per-kind row counts ride the SAME job as the
    // block write: an `observe` (CollectMetrics — Spark's exactly-once
    // job-level aggregate, safe under task retries where accumulators are
    // not) sums the metadata columns as the rows stream into parquet. At
    // bench scale a post-write stats or count job is fixed overhead (~1 s
    // regardless of core count), i.e. pure serial tail that erodes N->4N
    // wall scaling; at 10^12 docs each is a full re-listing of the store.
    val tallies = Seq(
      sum(when($"kind" === 1, $"cnt").otherwise(0L)).as("n"),
      sum(when($"kind" === 1, $"sum_tf").otherwise(0L)).as("sd"),
      count(when($"kind" === 0, 1)).as("postings"),
      count(when($"kind" === 1, 1)).as("doclens"))
    val obs = new org.apache.spark.sql.Observation("graft-corpus-stats")
    val blocksMs = timedMs(blocks.drop("poss") // a store never carries positions
      .observe(obs, tallies.head, tallies.tail: _*)
      .sortWithinPartitions("kind", "term", "bucket")
      .write.mode("overwrite").partitionBy("kind").parquet(s"$dir/blocks"))
    val meta = table[BuildBlock](spark, s"$dir/blocks")
      .select($"kind", $"term", $"cnt", $"sum_tf")
    val tsObs = new org.apache.spark.sql.Observation("graft-termstats-rows")
    val tsMs = timedMs(meta.filter($"kind" === 0)
      .groupBy($"term").agg(sum($"cnt").as("df"), sum($"sum_tf").as("ttf"))
      .observe(tsObs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(s"$dir/termstats"))
    // an observation that does not arrive (or saw no rows) falls back to
    // one scan of what was written
    val tsRows = observed(tsObs).map(_.getLong(0))
      .getOrElse(table[TermStat](spark, s"$dir/termstats").count())
    val row = observed(obs).filterNot(_.isNullAt(0))
      .getOrElse(meta.agg(tallies.head, tallies.tail: _*).head())
    def long(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    val stats = corpusStats(long(0), long(1))
    val manifest = commit(stats, WriteReport(long(2), long(3), tsRows, blocksMs, tsMs))
    StoreManifest.write(spark, dir, manifest)
    (open(spark, dir, stats, analyzer), manifest)
  }

  private[graft] def corpusStats(docCount: Long, sumDl: Long): CorpusStats =
    CorpusStats(docCount, sumDl, if (docCount == 0) 0.0 else sumDl.toDouble / docCount)

  private def timedMs(f: => Unit): Long = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1000000
  }

  /** The listener bus delivers observed metrics asynchronously after the
   *  action returns: wait briefly; None sends the caller to a scan. */
  private def observed(obs: org.apache.spark.sql.Observation): Option[org.apache.spark.sql.Row] =
    try Some(scala.concurrent.Await.result(obs.future, scala.concurrent.duration.Duration(2, "s")))
    catch { case _: java.util.concurrent.TimeoutException => None }

  /** One of the index's own parquet tables, read with the schema of its row
   *  class. A read given no schema runs a Spark job to read the file
   *  footers; every table the index writes has a row class, so none needs
   *  that job. */
  private[graft] def table[T <: Product : TypeTag](spark: SparkSession, paths: String*): Dataset[T] = {
    val enc = Encoders.product[T]
    spark.read.schema(enc.schema).parquet(paths: _*).as[T](enc)
  }

  /** The kind-partitioned block table of the store at `dir`. */
  private[graft] def blocksAt(spark: SparkSession, dir: String): Dataset[BuildBlock] =
    table[BuildBlock](spark, s"$dir/blocks")

  private def open(spark: SparkSession, dir: String, stats: CorpusStats, analyzer: String): Index = {
    val blocks = blocksAt(spark, dir)
    Index(postingsFromBlocks(blocks), docLensFromBlocks(blocks),
      table[TermStat](spark, s"$dir/termstats"), stats, analyzer)
  }

  /** The committed index at `dir`. Its corpus stats come from the store's
   *  manifest, so opening it runs no Spark job. */
  def read(spark: SparkSession, dir: String, analyzer: String = Analyzer.Simple): Index =
    open(spark, dir, StoreManifest.read(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no committed index at $dir")).stats, analyzer)
}
