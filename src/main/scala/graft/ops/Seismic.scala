package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.query.BoundedTopK
import graft.stats.EventStats

/** One clustered posting row: the docs of `term`'s (pruned) posting list that
 *  landed in cluster `cluster_id`, their full sparse vectors (aligned with
 *  `doc_ids` — the reference's DocumentCluster carries its members' vectors
 *  so the scorer never needs a forward-index lookup), plus the cluster's
 *  summary vector (token-wise max over member vectors, mass-pruned).
 *  Mirrors the reference (reference: sparse/data/DocumentCluster.java:140-171,
 *  PostingsProcessingUtils.java:70-108). */
case class ClusteredPosting(
    term: String,
    cluster_id: Int,
    doc_ids: Array[Long],
    doc_tokens: Array[Array[String]],
    doc_ws: Array[Array[Double]],
    sum_tokens: Array[String],
    sum_ws: Array[Double]
)

/**
 * SEISMIC-style clustered sparse index + cluster-skipping ANN, re-expressed
 * as Dataset operators (reference: sparse/ package — the one place the
 * plugin builds its own index):
 *
 *  - posting prune to n_postings by weight
 *    (reference: ClusteredPostingTermsWriter.java:136-143);
 *  - per-term clustering: seeded random centers + dot-product assignment,
 *    cluster count = ceil(cluster_ratio x postings), lists under
 *    min_cluster_size stay unclustered
 *    (reference: algorithm/RandomClusteringAlgorithm.java:42-91,
 *    SeismicPostingClusterer.java:23,55-68);
 *  - summary vector = token-wise max, pruned to the smallest prefix holding
 *    summary_prune_ratio of total mass (reference:
 *    PostingsProcessingUtils.java:70-108);
 *  - query: top query_cut tokens -> candidate clusters -> skip clusters whose
 *    summary upper bound cannot beat the running threshold / heap_factor ->
 *    exact dot-product rescore of survivors
 *    (reference: query/SeismicBaseScorer.java:74-122,202-220).
 *
 * Scale shape: clustering happens per term AFTER the n_postings prune, so a
 * group is <= n_postings rows no matter the corpus; query-time pruning is the
 * same two-pass threshold scheme as block-max WAND (pass 1 establishes theta
 * from the most promising clusters, pass 2 touches only clusters whose
 * summary bound survives), so pruned clusters' doc vectors are never read.
 * With summaryPruneRatio = 1.0 and heapFactor = 1.0 the bound is exact and
 * results are rank-identical to brute-force linear scoring (oracle-checked);
 * the reference's defaults (0.4 / 1.0) give the approximate mode.
 */
object Seismic {

  val MinClusterSize = 10 // reference: SeismicPostingClusterer.java:23

  /** Forward sparse vectors (token-sorted) from exploded (doc_id, token, w). */
  def forward(tw: DataFrame): DataFrame = {
    tw.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("token"), col("w")))).as("vec"))
      .select(col("doc_id"),
        col("vec.token").as("tokens"), col("vec.w").as("ws"))
  }

  /** Sorted-merge dot product of two token-sorted sparse vectors. */
  def dot(aTok: Seq[String], aW: Seq[Double], bTok: Seq[String], bW: Seq[Double]): Double = {
    var i = 0
    var j = 0
    var s = 0.0
    while (i < aTok.length && j < bTok.length) {
      val c = aTok(i).compareTo(bTok(j))
      if (c == 0) { s += aW(i) * bW(j); i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    s
  }

  private def dotMap(tok: Seq[String], w: Seq[Double], q: Map[String, Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < tok.length) {
      val qw = q.getOrElse(tok(i), 0.0)
      if (qw != 0.0) s += w(i) * qw
      i += 1
    }
    s
  }

  /**
   * Build the clustered index from exploded token weights.
   * One window prune (bounded groups), one doc_id join to attach vectors,
   * one per-term groupBy whose groups are <= nPostings rows.
   */
  def buildClusteredIndex(
      tw: DataFrame,
      nPostings: Int = 160,
      clusterRatio: Double = 0.1,
      summaryPruneRatio: Double = 0.4,
      seed: Long = 42L,
      maxClusters: Int = Int.MaxValue,
      hashAssign: Boolean = false
  ): Dataset[ClusteredPosting] = {
    val spark = tw.sparkSession
    import spark.implicits._

    val fwd = forward(tw)

    // Member rows (term, doc_id, doc vector). With the n_postings prune: a
    // two-level salted rank (a head token's full posting list would
    // otherwise land on ONE task), then a doc_id join to attach vectors.
    // nPostings == Int.MaxValue disables the prune outright (exact mode) —
    // there the member rows ARE fwd exploded by its own tokens, generated
    // map-side with no rank and no join shuffle.
    val member: DataFrame =
      if (nPostings == Int.MaxValue)
        fwd.as[(Long, Seq[String], Seq[Double])].flatMap { case (id, toks, ws) =>
          toks.iterator.map(t => (t, id, toks, ws))
        }.toDF("term", "doc_id", "tokens", "ws")
      else
        TopN.perGroup(tw, Seq("token"), "doc_id", nPostings,
          Seq(col("w").desc, col("doc_id").asc))
          .select(col("token").as("term"), col("doc_id"))
          .join(fwd, "doc_id")
          .select(col("term"), col("doc_id"), col("tokens"), col("ws"))

    val ratio = clusterRatio
    val spr = summaryPruneRatio
    val sd = seed
    val maxC = maxClusters
    val hashA = hashAssign
    member
      .as[(String, Long, Seq[String], Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (term, it) =>
        val docs = it.toArray.sortBy(_._2)
        val n = docs.length
        // maxClusters caps the O(n x nClusters) assignment on unpruned head
        // lists (with the production n_postings cap the ceiling never binds;
        // correctness of the skip bound holds for ANY clustering)
        val nClusters =
          if (n < MinClusterSize) 1
          else math.min(maxC, math.max(1, math.ceil(ratio * n).toInt))
        val assign = new Array[Int](n)
        if (hashA) {
          // dot-free deterministic assignment: the skip bound is exact for
          // ANY clustering (summaries dominate their members tokenwise), so
          // exact-mode builds skip the O(n x nClusters) center dots that
          // only improve approximate-mode recall
          var i = 0
          while (i < n) {
            assign(i) = ((docs(i)._2 % nClusters) + nClusters).toInt % nClusters
            i += 1
          }
        } else {
          val rnd = new scala.util.Random(sd ^ term.hashCode.toLong)
          val centerIdx = rnd.shuffle(docs.indices.toList).take(nClusters).toArray
          var i = 0
          while (i < n) {
            var best = 0
            var bestDot = Double.NegativeInfinity
            var c = 0
            while (c < centerIdx.length) {
              val ctr = docs(centerIdx(c))
              val d = dot(docs(i)._3, docs(i)._4, ctr._3, ctr._4)
              if (d > bestDot) { bestDot = d; best = c }
              c += 1
            }
            assign(i) = best
            i += 1
          }
        }
        (0 until nClusters).iterator.flatMap { c =>
          val members = docs.indices.filter(assign(_) == c)
          if (members.isEmpty) Iterator.empty
          else {
            // token-wise max summary
            val acc = scala.collection.mutable.HashMap.empty[String, Double]
            members.foreach { m =>
              val (_, _, toks, ws) = docs(m)
              var t = 0
              while (t < toks.length) {
                val cur = acc.getOrElse(toks(t), 0.0)
                if (ws(t) > cur) acc(toks(t)) = ws(t)
                t += 1
              }
            }
            // mass prune: smallest prefix (by weight desc) reaching spr * total
            val entries = acc.toArray.sortBy { case (t, w) => (-w, t) }
            val total = entries.map(_._2).sum
            val target = spr * total
            val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
            var cum = 0.0
            var e = 0
            while (e < entries.length && cum < target) {
              kept += entries(e)
              cum += entries(e)._2
              e += 1
            }
            val keptSorted = kept.sortBy(_._1).toArray
            Iterator.single(ClusteredPosting(term, c,
              members.map(docs(_)._2).toArray,
              members.map(docs(_)._3.toArray).toArray,
              members.map(docs(_)._4.toArray).toArray,
              keptSorted.map(_._1), keptSorted.map(_._2)))
          }
        }
      }
  }

  /**
   * Merge N clustered sparse artifacts into ONE, re-pruning and
   * RE-CLUSTERING per term over the union — the reference re-clusters
   * every merged term batch rather than stitching old clusters
   * (reference: sparse/codec/MergeHelper.java:82-143;
   * SparsePostingsReader.java:45 batches 50 terms per merge task).
   *
   * The result is BIT-IDENTICAL to a fresh [[buildClusteredIndex]] over
   * the union corpus when parts partition the docs (the segment model) —
   * SeismicSpec proves it on production and exact parameters:
   *  - member vectors round-trip exactly (clusters carry their members'
   *    full vectors — DocumentCluster does the same);
   *  - the per-part n_postings prune is a rank filter whose union
   *    contains the global top-n (any doc in the global top-n for a term
   *    ranks top-n within its own part too), so re-ranking the recovered
   *    rows reproduces the fresh prune — a doc's locally-pruned terms
   *    reappear in its recovered vector but can never out-rank the true
   *    winners;
   *  - the seeded per-term clustering and summary prune are pure
   *    functions of (term, member set, vectors, seed).
   *
   * OVERLAPPING parts (a doc reindexed into a later part) resolve
   * LAST-PART-WINS over the parts' RECOVERABLE rows. With UNPRUNED parts
   * this equals a fresh build over the last-wins corpus (spec-proved);
   * with per-part pruning it follows the reference's own per-segment
   * prune semantics (each segment prunes independently and the merge
   * re-clusters what the segments kept, MergeHelper.java:82-143) — in the
   * corner where a reindexed doc was pruned out of EVERY term's list in
   * its newest part, that part carries no row to win with and an older
   * vector can persist, exactly as a Lucene segment merge without a
   * tombstone would behave. Callers needing strict update semantics
   * should delete-then-reindex (tombstoning the doc out of older parts)
   * or build parts unpruned and let the merge's global re-prune bind.
   *
   * Scale shape: one dropDuplicates over doc vectors (shuffle bounded by
   * the distinct-doc count) feeding the same bounded per-term groups as
   * the build; no driver-side data. SeismicSpec proves merged == fresh on
   * both production (pruned, random-clustered) and exact parameters. */
  def mergeClusteredIndexes(
      parts: Seq[Dataset[ClusteredPosting]],
      nPostings: Int = 160,
      clusterRatio: Double = 0.1,
      summaryPruneRatio: Double = 0.4,
      seed: Long = 42L,
      maxClusters: Int = Int.MaxValue,
      hashAssign: Boolean = false
  ): Dataset[ClusteredPosting] = {
    require(parts.nonEmpty, "mergeClusteredIndexes requires at least one part")
    val spark = parts.head.sparkSession
    import spark.implicits._
    // recover each member doc's full sparse vector. Parts are segments in
    // commit order: within one part every copy of a doc (across terms and
    // clusters) carries the identical vector, and a doc present in SEVERAL
    // parts (updated, then reindexed into a later segment) resolves
    // LAST-PART-WINS — the same last-wins fold the _bulk/update lifecycle
    // applies — so the merge equals a fresh build over the last-wins
    // corpus, deterministically
    val union = parts.zipWithIndex.map { case (p, pi) =>
      p.flatMap { cp =>
        cp.doc_ids.indices.iterator.map { i =>
          (cp.doc_ids(i), cp.doc_tokens(i).toSeq, cp.doc_ws(i).toSeq, pi)
        }
      }.toDF("doc_id", "tokens", "ws", "part")
    }.reduce(_ unionByName _)
    // TopN.perGroup is row_number-based: exactly ONE row survives per doc
    // (ties among a part's identical copies broken arbitrarily — all equal)
    val tw = TopN.perGroup(union, Seq("doc_id"), "part", 1,
        Seq(col("part").desc))
      .select("doc_id", "tokens", "ws")
      .as[(Long, Seq[String], Seq[Double])]
      .flatMap { case (id, toks, ws) =>
        toks.indices.iterator.map(i => (id, toks(i), ws(i)))
      }.toDF("doc_id", "token", "w")
    buildClusteredIndex(tw, nPostings, clusterRatio, summaryPruneRatio,
      seed, maxClusters, hashAssign)
  }

  /**
   * Cluster-skipping ANN top-k, FUSED into one job (the block-max WAND
   * pattern, `Bm25.topKWand`): all of a term's clusters land in one
   * partition, streamed in upper-bound-descending order against a running
   * bounded heap — once the heap holds k docs, a cluster whose summary
   * bound falls below theta / heapFactor is skipped without computing a
   * single dot product. This is exactly the reference's threshold loop
   * (reference: sparse/query/SeismicBaseScorer.java:99-122,202-220) run
   * once per partition; the per-partition heaps merge through one
   * TakeOrdered. No driver round-trip between a threshold pass and a
   * rescore pass, and no forward-index join — the clusters carry their
   * members' vectors (DocumentCluster does the same).
   *
   * Exactness: the partition-local theta is <= the global theta, so the
   * skip is only ever conservative. A doc appearing in several query
   * terms' clusters is scored once per partition (per-partition seen-set)
   * and deduped at the merge — every copy's cluster summary dominates the
   * doc's true score, so whichever copies get skipped were provably below
   * theta. With summaryPruneRatio = 1.0 and heapFactor = 1.0 results are
   * rank-identical to brute-force linear scoring (oracle-checked).
   *
   * heapFactor > 1 relaxes the skip (more recall work), < 1 prunes
   * aggressively (reference semantics: heap_factor scales the threshold).
   */
  def annTopK(
      index: Dataset[ClusteredPosting],
      query: Map[String, Double],
      k: Int,
      queryCut: Int = 10,
      heapFactor: Double = 1.0,
      filterDocs: Option[DataFrame] = None
  ): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    EventStats.increment("seismic_query_requests")
    val spark = index.sparkSession
    import spark.implicits._

    val q = query.toSeq.sortBy { case (t, w) => (-w, t) }.take(queryCut).toMap
    val qB = spark.sparkContext.broadcast(q)

    // pushed term filter: only the <= queryCut query terms' clusters are read
    val cand = index.filter(col("term").isin(q.keys.toSeq: _*))

    // doc-level candidate rows, each carrying its cluster's summary upper
    // bound: ub = dot(summary, query) dominates every member's true score
    // (summaries are token-wise maxima over members)
    val docRows = cand.flatMap { cp =>
      val ub = dotMap(cp.sum_tokens, cp.sum_ws, qB.value)
      cp.doc_ids.indices.iterator.map { i =>
        (cp.term, cp.cluster_id, ub, cp.doc_ids(i), cp.doc_tokens(i), cp.doc_ws(i))
      }
    }.toDF("term", "cluster_id", "ub", "doc_id", "tokens", "ws")

    // non-scoring filter intersected with candidates before scoring
    // (reference: sparse/query/OrderedPostingWithClustersScorer.java:46-52).
    // No broadcast hint: the filter can be an unbounded share of the corpus
    // (e.g. lang = 'en'), so the semi-join strategy is AQE's call.
    val filtered = filterDocs match {
      case Some(f) => docRows.join(f.select("doc_id"), Seq("doc_id"), "left_semi")
      case None    => docRows
    }

    val kk = k
    val hf = heapFactor
    val topped = filtered
      .select(col("term"), col("cluster_id"), col("ub"), col("doc_id"),
        col("tokens"), col("ws"))
      .as[(String, Int, Double, Long, Seq[String], Seq[Double])]
      // a term's clusters stay whole within one partition; ub-desc order
      // saturates the heap with the most promising clusters first, so the
      // low-bound tail is skipped (cluster_id in the sort key keeps
      // equal-ub clusters contiguous)
      .repartition(col("term"))
      .sortWithinPartitions(col("ub").desc, col("term").asc,
        col("cluster_id").asc, col("doc_id").asc)
      .mapPartitions { it =>
        val buf = it.buffered
        val top = new BoundedTopK(kk)
        val seen = new java.util.HashSet[Long]()
        while (buf.hasNext) {
          val (term, cid, ub, _, _, _) = buf.head
          // theta-tied bounds still score: a theta-tied doc with a smaller
          // doc_id wins the tie, so only strictly-below bounds are safe
          val skip = top.full && ub < top.threshold / hf
          var more = true
          while (more) {
            val (_, _, _, id, toks, ws) = buf.next()
            if (!skip && seen.add(id)) top.offer(id, dotMap(toks, ws, qB.value))
            more = buf.hasNext && buf.head._1 == term && buf.head._2 == cid
          }
        }
        top.iterator
      }

    // cross-partition copies of the same doc carry bit-identical scores
    // (same stored vector, same accumulation order) — dedupe the <= P x k
    // merged rows, then one bounded top-k
    topped.toDF("doc_id", "score").dropDuplicates("doc_id")
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }
}
