package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines: exact, n-gram
 * Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
 *
 * Portability-first hashing: every hash is md5-hex based, so a SQL oracle
 * (DuckDB) computes identical values — no engine-private hash functions.
 * MinHash uses the lexicographic MIN of salted md5 strings (min over a
 * random permutation of the shingle universe), bands are concatenations of
 * adjacent signature slots; SimHash draws each of its 32 bits from the top
 * bit of one hex digit of the token's md5.
 *
 * Scale notes: exact dedup is one hash aggregate; MinHash/LSH is
 * flatMap-free column algebra + one groupBy(doc) + one self-join on band
 * values (the classic band-bucket join — skew-bounded because a band bucket
 * holding B docs yields B^2/2 pairs only within that bucket); n-gram Jaccard
 * joins on shared shingles and is intended for candidate verification, not
 * full-corpus sweeps.
 */
object Dedup {

  /** Materialize a signature/shingle table ONCE for the multi-branch plan
   *  built on top of it. The pair generators below scan their signature
   *  table 2-6 times (band self-joins, size joins, duplicate-cluster
   *  reconstruction); left as lineage, the expensive upstream
   *  (tokenize/shingle explosion + signature aggregation) would recompute
   *  per branch. An eager localCheckpoint computes it once, truncates the
   *  lineage, and lets AQE plan the downstream (small) joins against real
   *  materialized sizes. At corpus scale this is exactly the shape a real
   *  pipeline uses: signatures are a persisted artifact, orders of
   *  magnitude smaller than the corpus. The blocks are NOT a
   *  session-lifetime pin: once the caller drops the result, the
   *  ContextCleaner unpersists them with the unreachable RDD. */
  private def sharedScan(df: DataFrame): DataFrame =
    df.localCheckpoint(true)

  /** Exact dedup summary: (n_total, n_distinct, n_dup_rows) by text hash. */
  def exactSummary(docs: DataFrame, id: String, text: String): DataFrame =
    docs.agg(
      count(lit(1)).as("n_total"),
      countDistinct(md5(col(text))).as("n_distinct"))
      .withColumn("n_dup_rows", col("n_total") - col("n_distinct"))

  /** Duplicate-substring spans — the SPAN-level exact dedup rule
   *  ("Deduplicating Training Data Makes Language Models Better", Lee et
   *  al. 2022: a k-token window occurring more than once across the corpus
   *  marks its tokens as duplicated; overlapping duplicated windows merge
   *  into maximal spans, which a pipeline then cuts or drops). Output:
   *  (doc_id, span_start, span_len) in 0-based token positions. Repeats
   *  WITHIN one doc count as duplication too, as in the paper.
   *
   *  Plan shape for 100 TB: window fingerprints are one md5 per token
   *  position, built inside a single map-side projection (transform over a
   *  position sequence — the token array is never exploded). ONE shuffle
   *  partitions (doc, pos, hash) by hash for a window-frame count — no
   *  collect_list row blowup, and no second scan of the corpus (the
   *  groupBy-then-semi-join alternative either rescans the fingerprint
   *  stage or materializes it, and the fingerprint table is token-count-
   *  sized — the one intermediate here too big to checkpoint). Honest
   *  tail: WindowExec buffers each hash partition in a spillable
   *  (disk-backed) row array, so a pathologically ubiquitous window
   *  (df ~ corpus) lands on one spilling reducer; if that tail matters,
   *  prefilter stopword-dominated windows the way ngramJaccardPairs caps
   *  shingle df. Survivors (df >= 2) shuffle once more by doc — bounded
   *  per doc by its token count — where a coverage-gap cumulative sum
   *  merges overlapping windows into maximal spans. */
  def duplicateSpans(docs: DataFrame, id: String, text: String, k: Int): DataFrame = {
    val toks = docs
      .select(col(id).as("doc_id"), TextOps.tokensCol(col(text)).as("toks"))
      .where(size(col("toks")) >= k)
    val wins = toks.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - k),
          i => md5(concat_ws("\u0001", slice(col("toks"), (i + 1).cast("int"), lit(k)))))))
      .toDF("doc_id", "pos", "h")
    val dup = wins
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("h"))))
      .where(col("n") >= 2)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dup
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > k, 1).otherwise(0))
      .withColumn("island", sum(col("brk"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + k).cast("long").as("span_len"))
      .select(col("doc_id"), col("span_start"), col("span_len"))
  }

  /** Distinct word k-shingles per doc: (id, shingle) with shingle =
   *  space-joined k consecutive tokens. */
  def shingles(docs: DataFrame, id: String, text: String, k: Int): DataFrame = {
    val toks = TextOps.tokensCol(col(text))
    docs.select(col(id), explode(array_distinct(
      transform(sequence(lit(0), size(toks) - k),
        i => array_join(slice(toks, (i + 1).cast("int"), lit(k)), " "))))
      .as("shingle"))
      .where(size(toks) >= k)
      .distinct()
  }

  /** n-gram Jaccard near-dup pairs: candidate pairs share >= 1 shingle;
   *  jaccard = |A ∩ B| / |A ∪ B| >= threshold. Returns (id_a, id_b, jaccard),
   *  id_a < id_b.
   *
   *  `maxShingleDf` is the scale guard: a shingle present in more than that
   *  many docs is dropped BEFORE the self-join (stopword-shingle removal —
   *  ubiquitous shingles carry no dedup signal but alone would produce
   *  df^2/2 candidate pairs, the self-join explosion that makes an uncapped
   *  sweep impossible at corpus scale). Sizes and intersections are both
   *  computed over the capped shingle space, so the jaccard is exact w.r.t.
   *  the capped sets.
   *
   *  The cap is ON BY DEFAULT (64 — a shared shingle contributes at most
   *  ~2k candidate pairs); the uncapped sweep is the small-scale oracle
   *  BASELINE only and must be requested explicitly with
   *  `maxShingleDf = Int.MaxValue`. */
  def ngramJaccardPairs(docs: DataFrame, id: String, text: String,
                        k: Int, threshold: Double,
                        maxShingleDf: Int = 64): DataFrame = {
    require(maxShingleDf > 0, s"maxShingleDf must be > 0, got $maxShingleDf")
    // shared scans: shAll feeds both sides of the df-cap join, and sh feeds
    // the size aggregate plus both sides of the intersection self-join —
    // without sharing, the shingle explosion runs once per branch
    val shAll = sharedScan(shingles(docs, id, text, k).toDF("id", "shingle"))
    val sh = sharedScan(
      if (maxShingleDf == Int.MaxValue) shAll
      else shAll.join(
        shAll.groupBy(col("shingle")).agg(count(lit(1)).as("sdf"))
          .where(col("sdf") <= maxShingleDf).select("shingle"),
        "shingle"))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"), col("a.shingle") === col("b.shingle"))
      .where(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** MinHash signature slot h_i(doc) = min over shingles of md5(i ':' shingle)
   *  (lexicographic min of hex strings == min of a salted hash permutation). */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i:"), col("shingle")))).as(s"h$i"))
    sh.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: equal band (rowsPerBand adjacent slots concatenated)
   *  in any band -> candidate. Returns distinct (id_a, id_b), id_a < id_b.
   *
   *  Duplicate-cluster pre-grouping (the extreme-scale guard): docs with an
   *  IDENTICAL full signature are interchangeable for banding, so they
   *  collapse to one representative BEFORE the band self-join — a cluster of
   *  B exact near-duplicates contributes 1 row per band instead of B,
   *  removing the B²-rows-inside-the-join blowup an exact-duplicate cluster
   *  would otherwise cause in its band buckets. The full candidate-pair set
   *  is reconstructed afterwards from cluster membership (cross-cluster
   *  pairs expand from matched representatives; within-cluster pairs are
   *  candidates by construction — identical signatures share every band),
   *  so the result is EXACTLY the naive join's, pair for pair. */
  def minhashLshPairs(docs: DataFrame, id: String, text: String,
                      k: Int, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0)
    val sig = minhashSignatures(shingles(docs, id, text, k).toDF("id", "shingle"), numHashes)
    val sigCols = (0 until numHashes).map(i => col(s"h$i"))
    // the signature table feeds members (x4 scans: cross expansion + intra
    // self-join) and reps -> bands (x2: band self-join); share one scan so
    // the shingle explosion + minhash aggregation runs once
    val clustered = sharedScan(sig.withColumn("ckey", md5(concat_ws("|", sigCols: _*))))
    val members = clustered.select(col("id"), col("ckey"))
    val reps = clustered.groupBy(col("ckey"))
      .agg(min(col("id")).as("rid"),
        (0 until numHashes).map(i => first(col(s"h$i")).as(s"h$i")): _*)
    val nBands = numHashes / rowsPerBand
    val bands = reps.select(col("ckey"), col("rid"), posexplode(array(
      (0 until nBands).map(b =>
        concat_ws("|", (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*)): _*))
      .as(Seq("band", "bh")))
    val repPairs = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.rid") < col("b.rid"))
      .select(col("a.ckey").as("cka"), col("b.ckey").as("ckb"))
      .distinct()
    // cross-cluster expansion: every member of A pairs with every member of B
    val cross = repPairs
      .join(members.select(col("id").as("ia"), col("ckey").as("cka")), "cka")
      .join(members.select(col("id").as("ib"), col("ckey").as("ckb")), "ckb")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"))
    // within-cluster pairs (only multi-member clusters produce rows)
    val intra = members.as("a").join(members.as("b"),
        col("a.ckey") === col("b.ckey") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    cross.unionByName(intra)
  }

  /** Connected components over a near-dup pair list: (doc_id, cluster_id)
   *  with cluster_id = the MINIMUM doc id of the component — the step that
   *  turns pairwise candidates (LSH bands, SimHash buckets, Jaccard
   *  survivors) into canonical duplicate groups a pipeline can keep-one-of.
   *  Only ids that appear in >= 1 pair are labelled (a doc with no pair is
   *  trivially its own cluster, and emitting corpus-sized identity rows
   *  would dwarf the real output).
   *
   *  Algorithm: alternating large-star / small-star (Kiveris et al.,
   *  "Connected Components in MapReduce and Beyond", SoCC 2014). Each
   *  round is pure bounded DataFrame algebra — a map-side-combined per-node
   *  MIN joined back plus a distinct per star step, edge-count-proportional
   *  shuffles, no
   *  per-component state and no driver-side graph — and the edge set
   *  provably converges in O(log^2 n) rounds to stars rooted at each
   *  component's minimum. That termination bound is why this beats naive
   *  min-label propagation (O(diameter) rounds) at 100 TB: duplicate
   *  chains in web corpora can be arbitrarily long, but the star steps
   *  halve path lengths regardless of topology. The driver sees only a
   *  (count, hash-sum) convergence signature per round; every round's
   *  edge set is eagerly localCheckpoint'ed so lineage stays one round
   *  deep (the iterative-algorithm rule) and superseded checkpoint blocks
   *  are released by the ContextCleaner as the loop advances. */
  def connectedComponents(pairs: DataFrame, idA: String, idB: String,
                          maxIter: Int = 30): DataFrame = {
    // Per-node minimum as a partially-aggregated groupBy joined back to the
    // edges, NOT a Window.partitionBy(u): the min combines map-side (the
    // shuffle carries one row per (node, input partition) instead of every
    // edge), and the join back is AQE-skew-splittable, while a window
    // partition holding a celebrity node's whole edge list is not. Star
    // graphs with corpus-scale duplicate clusters are exactly where that
    // hot key appears.
    def withMin(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("nmin"))
      e.join(mins, "u")
    }
    // large-star: every node u connects its LARGER neighbors to
    // m = min(N(u) ∪ {u}) — long chains contract toward small ids
    def largeStar(e: DataFrame): DataFrame = {
      val both = e.union(e.select(col("v").as("u"), col("u").as("v")))
      withMin(both)
        .withColumn("m", least(col("u"), col("nmin")))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct() // m <= u < v, so no self-loops survive
    }
    // small-star: orient larger -> smaller; u and its smaller neighbors
    // all connect to the smallest neighbor m
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val withM = withMin(or).withColumn("m", col("nmin"))
      withM.where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v")))
        .distinct() // m < u and m < v here, so no self-loops survive
    }
    // convergence signature: order-independent (count, sum of row hashes);
    // engine-internal only (never compared against the oracle), so the
    // non-portable-but-cheap xxhash64 is fine where result hashes are not
    def sig(e: DataFrame): (Long, BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head
      (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    // each iteration localCheckpoints (persisted blocks); the SUPERSEDED
    // generation must be freed or checkpoint blocks accumulate across the
    // O(log n) rounds — and across repeated calls in one session (the
    // bench measured rep-over-rep growth before this tracked unpersist).
    // The checkpoint RDD handle comes straight off the checkpointed
    // Dataset's plan (GraftRddBridge) — no getPersistentRDDs diffing, so
    // concurrent jobs' persisted RDDs can never be freed by this loop.
    def checkpointed(df: DataFrame): (DataFrame, Option[org.apache.spark.rdd.RDD[_]]) = {
      val out = df.localCheckpoint(true)
      (out, org.apache.spark.sql.GraftRddBridge.checkpointRdd(out))
    }
    def free(r: Option[org.apache.spark.rdd.RDD[_]]): Unit =
      r.foreach(_.unpersist(false))
    var (edges, liveRdd) = checkpointed(pairs
      .select(col(idA).cast("long").as("u"), col(idB).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .distinct())
    var curSig = sig(edges)
    var converged = curSig._1 == 0L
    var it = 0
    while (!converged && it < maxIter) {
      val (next, nextRdd) = checkpointed(smallStar(largeStar(edges)))
      val nextSig = sig(next)
      converged = nextSig == curSig
      curSig = nextSig
      free(liveRdd) // the previous generation is no longer reachable
      liveRdd = nextRdd
      edges = next
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // fixed point = stars: every edge is (member, root); roots label themselves
    edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .distinct()
  }

  /** The keep-one-of step: drop every non-canonical cluster member
   *  (doc_id != cluster_id under [[connectedComponents]]'s min-id labels)
   *  from the corpus — what a training-data pipeline actually ships after
   *  near-dup detection. The drop set is a LEFT ANTI join on doc_id: sized
   *  by duplicates (tiny vs the corpus), so at scale it broadcasts or
   *  shuffles only the duplicate ids, never corpus text. */
  def keepCanonical(docs: DataFrame, id: String, pairs: DataFrame,
                    idA: String, idB: String): DataFrame = {
    val losers = connectedComponents(pairs, idA, idB)
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("__drop_id"))
    docs.join(losers, docs(id) === col("__drop_id"), "left_anti")
  }

  /** 32-bit SimHash as a '0'/'1' string: bit j is the sign of the tf-weighted
   *  sum of (top bit of hex digit j of md5(token)) over the doc's tokens. */
  def simhashSignatures(docs: DataFrame, id: String, text: String): DataFrame = {
    val tok = docs.select(col(id).as("id"),
      explode(TextOps.tokensCol(col(text))).as("token"))
      .groupBy(col("id"), col("token")).agg(count(lit(1)).as("tf"))
      .withColumn("h", md5(col("token")))
    val bitSums = (0 until 32).map { j =>
      sum(when(substring(col("h"), j + 1, 1) >= "8", col("tf")).otherwise(-col("tf")))
        .as(s"b$j")
    }
    tok.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), concat(
        (0 until 32).map(j => when(col(s"b$j") > 0, "1").otherwise("0")): _*).as("simhash"))
  }

  /** Band boundaries splitting `bits` into n near-equal slices. */
  def bandBounds(nBands: Int, bits: Int = 32): IndexedSeq[Int] =
    (0 to nBands).map(b => (bits * b) / nBands)

  /** `bits`-wide SimHash signature packed into 32-bit words
   *  (id, w0 .. w{bits/32-1}): bit j of md5(token) (hex digit j/4, mask
   *  8 >> j%4) votes +tf / -tf; signature bit j is 1 when the sum is
   *  positive, stored in word j/32 at offset j%32. The width is a BLOCKING
   *  parameter, not an accuracy one: pigeonhole bands must be wide enough
   *  that a band-equality bucket stays tiny at corpus scale — 16-bit bands
   *  (64-bit signature, maxHamming 3) give 65536 buckets per band, fine to
   *  ~10¹⁰ docs; at 10¹¹ the md5 budget allows 128 bits = 32-bit bands =
   *  4×10⁹ buckets per band. `bits` must be a positive multiple of 32 and
   *  <= 128 (one md5). */
  def simhashSignaturesWide(docs: DataFrame, id: String, text: String,
                            bits: Int = 64): DataFrame = {
    require(bits > 0 && bits % 32 == 0 && bits <= 128,
      s"bits must be a positive multiple of 32 and <= 128 (md5 budget), got $bits")
    val tok = docs.select(col(id).as("id"),
      explode(TextOps.tokensCol(col(text))).as("token"))
      .groupBy(col("id"), col("token")).agg(count(lit(1)).as("tf"))
      .withColumn("h", md5(col("token")))
    val withVals = tok.select(
      (col("id") +: col("tf") +: (1 to bits / 4).map(c =>
        conv(substring(col("h"), c, 1), 16, 10).cast("int").as(s"v$c"))): _*)
    val bitSums = (0 until bits).map { j =>
      val c = j / 4 + 1
      val mask = 8 >> (j % 4)
      sum(when((col(s"v$c").bitwiseAND(mask)) > 0, col("tf")).otherwise(-col("tf")))
        .as(s"s$j")
    }
    val agg = withVals.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val words = (0 until bits / 32).map { w =>
      (w * 32 until w * 32 + 32).map(j =>
        when(col(s"s$j") > 0, lit(1L << (j - w * 32))).otherwise(lit(0L)))
        .reduce(_ + _).as(s"w$w")
    }
    agg.select(col("id") +: words: _*)
  }

  /** SimHash near-dup pairs with PIGEONHOLE multi-band blocking: the
   *  `bits`-wide signature splits into (maxHamming + 1) bands, and any pair
   *  within hamming distance maxHamming must agree exactly on at least one
   *  band — so an equality join per band finds EVERY qualifying pair
   *  (complete, unlike prefix blocking, which misses pairs differing early)
   *  while each band-value bucket stays a bounded candidate set. Survivors
   *  verify on the full signature via integer xor + bit_count — no
   *  per-character string comparison in the pair loop. Size `bits` to the
   *  corpus (see [[simhashSignaturesWide]]): bucket count per band is
   *  2^(bits/(maxHamming+1)). */
  def simhashPairs(docs: DataFrame, id: String, text: String, maxHamming: Int,
                   bits: Int = 64): DataFrame = {
    // both sides of the band self-join scan the signature aggregate
    val sig = sharedScan(simhashSignaturesWide(docs, id, text, bits))
    val nW = bits / 32
    val wCols = (0 until nW).map(w => col(s"w$w"))
    val nBands = maxHamming + 1
    val bounds = bandBounds(nBands, bits)
    def bandVal(b: Int): Column = {
      val loBit = bounds(b)
      (loBit until bounds(b + 1)).map { j =>
        when(col(s"w${j / 32}").bitwiseAND(lit(1L << (j % 32))) =!= 0,
          lit(1L << (j - loBit))).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val bands = sig.select(col("id") +: wCols :+ posexplode(array(
      (0 until nBands).map(bandVal): _*)).as(Seq("band", "bh")): _*)
    val aCols = (0 until nW).map(w => col(s"a.w$w").as(s"aw$w"))
    val bCols = (0 until nW).map(w => col(s"b.w$w").as(s"bw$w"))
    val hamming = (0 until nW).map(w =>
      bit_count(col(s"aw$w").bitwiseXOR(col(s"bw$w")))).reduce(_ + _).cast("long")
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a") +: col("b.id").as("id_b") +: (aCols ++ bCols): _*)
      .distinct() // a pair matching several bands counts once
      .withColumn("hamming", hamming)
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
