package graft

import graft.functions.{Bound, BoundMode, Combine}
import graft.hybrid._
import graft.index.InvertedIndex

/**
 * Randomized model check for the hybrid pipeline end to end: random
 * corpora and random `match` / `operator: and` / `match_all` clauses,
 * compared against a first-principles Scala model of the shard-side
 * collection (filter, collapse keep, top `depth` per sub-query) and of the
 * coordinator (normalization per sub-query, per-doc alignment with missing
 * scores as 0.0, weighted combination, final collapse, min_score, from/size,
 * total hits and their relation), written after the reference's
 * ScoreCombiner.java:361-395 and the normalization techniques. The model
 * recomputes BM25 from the tokenized docs and shares no code with the
 * engine's score math. Seeded, so failures replay deterministically.
 */
class HybridModelSpec extends SparkSpec {

  import spark.implicits._

  private val rnd = new scala.util.Random(20261020L)
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")

  private case class Doc(id: Long, toks: Seq[String], grp: String)

  // ---- first-principles model -------------------------------------------

  private def bm25(docs: Seq[Doc], terms: Seq[String], boosts: Map[String, Double],
                   msm: Int): Map[Long, Double] = {
    val n = docs.size.toDouble
    val avgdl = docs.map(_.toks.size).sum / n
    val uniq = terms.distinct
    val df = uniq.map(t => t -> docs.count(_.toks.contains(t))).toMap
    docs.flatMap { d =>
      val hit = uniq.filter(d.toks.contains)
      if (hit.isEmpty || hit.size < msm) None
      else Some(d.id -> hit.map { t =>
        val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
        val tf = d.toks.count(_ == t).toDouble
        idf * boosts.getOrElse(t, 1.0) * tf / (tf + 1.2 * (0.25 + 0.75 * d.toks.size / avgdl))
      }.sum)
    }.toMap
  }

  private def clauseScores(docs: Seq[Doc], sq: SubQuery): Map[Long, Double] = sq match {
    case Lexical(ts, bs)        => bm25(docs, ts, bs, 0)
    case LexicalMsm(ts, m, bs)  => bm25(docs, ts, bs, m)
    case MatchAll(boost)        => docs.map(_.id -> boost).toMap
    case other                  => fail(s"no model for $other")
  }

  /** score desc, doc_id asc — the collector's HitQueue order */
  private def best(xs: Seq[(Long, Double)]): Seq[(Long, Double)] =
    xs.sortBy { case (id, s) => (-s, id) }

  private case class Expected(page: Seq[(Long, Double)], total: Long, relation: String)

  private def model(docs: Seq[Doc], q: HybridQuery, filter: Option[Set[Long]]): Expected = {
    val grpOf = docs.map(d => d.id -> d.grp).toMap
    // shard side: each sub-query's matched set, the filter as a non-scoring
    // clause, the collapse keep, then its top `depth`
    val collected: Seq[Seq[(Long, Double)]] = q.subQueries.map { sq =>
      val matched = clauseScores(docs, sq).toSeq.filter { case (id, _) =>
        filter.forall(_.contains(id)) }
      val kept = q.collapse.fold(matched)(c => matched.groupBy { case (id, _) => grpOf(id) }
        .values.flatMap(g => best(g).take(c.docsPerGroupPerSubquery)).toSeq)
      best(kept).take(q.depth)
    }
    // coordinator: normalize each sub-query's collected scores
    val normalized: Seq[Map[Long, Double]] = collected.zipWithIndex.map { case (hits, i) =>
      val ss = hits.map(_._2)
      val mx = if (ss.isEmpty) 0.0 else ss.max
      val mn = if (ss.isEmpty) 0.0 else ss.min
      val norm: ((Long, Double), Int) => Double = q.norm match {
        case MinMaxNormTech(lower, upper) =>
          val lb = lower.map(_(i)); val ub = upper.map(_(i))
          (h, _) => {
            val s = h._2
            val lowMode = lb.map(_.mode).getOrElse(BoundMode.Ignore)
            val upMode = ub.map(_.mode).getOrElse(BoundMode.Ignore)
            val lo = lowMode match {
              case BoundMode.Apply => if (mx > lb.get.score && s > lb.get.score) lb.get.score else mn
              case BoundMode.Clip  => if (mx < lb.get.score) mn else lb.get.score
              case _               => mn
            }
            val hi = upMode match {
              case BoundMode.Apply => if (mn < ub.get.score && s < ub.get.score) ub.get.score else mx
              case BoundMode.Clip  => if (mn > ub.get.score) mx else ub.get.score
              case _               => mx
            }
            if (mx == mn && s == mx) 1.0
            else if (lowMode == BoundMode.Clip && s < lo) 0.001
            else if (upMode == BoundMode.Clip && s > hi) 1.0
            else if (hi == lo) 1.0
            else { val v = (s - lo) / (hi - lo); if (v == 0.0) 0.001 else v }
          }
        case L2NormTech =>
          val l2 = math.sqrt(ss.map(s => s * s).sum)
          (h, _) => if (l2 == 0.0) 0.001 else h._2 / l2
        case ZScoreNormTech =>
          val mean = ss.sum / ss.size
          val sd = if (ss.size < 2) 0.0
            else math.sqrt(ss.map(s => (s - mean) * (s - mean)).sum / (ss.size - 1))
          (h, _) => {
            val s = h._2
            if (s == mean) mx else if (sd == 0.0) mn
            else { val z = (s - mean) / sd; if (z <= 0.0) 0.001 else z }
          }
        case RrfNormTech(rc) =>
          (_, rank0) => java.math.BigDecimal.ONE.divide(java.math.BigDecimal.valueOf(rc + rank0 + 1L),
            10, java.math.RoundingMode.HALF_UP).doubleValue()
      }
      hits.zipWithIndex.map { case (h, r) => h._1 -> norm(h, r) }.toMap
    }
    // ScoreCombiner: align per doc (missing -> 0.0), then combine
    val w = (i: Int) => if (q.comb.weights.isEmpty) 1.0 else q.comb.weights(i)
    val ids = normalized.flatMap(_.keys).distinct
    val combined = ids.map { id =>
      val v = normalized.map(_.getOrElse(id, 0.0))
      val in = v.indices.filter(i => if (q.comb.technique == Combine.Arithmetic ||
        q.comb.technique == Combine.Rrf) v(i) >= 0.0 else v(i) > 0.0)
      val ws = in.map(w).sum
      val s = q.comb.technique match {
        case Combine.Arithmetic => if (ws == 0.0) 0.0 else in.map(i => w(i) * v(i)).sum / ws
        case Combine.Rrf        => if (ws == 0.0) 0.0 else in.map(i => w(i) * v(i)).sum
        case Combine.Geometric  =>
          if (ws == 0.0) 0.0 else math.exp(in.map(i => w(i) * math.log(v(i))).sum / ws)
        case Combine.Harmonic   =>
          val hs = in.map(i => w(i) / v(i)).sum
          if (hs > 0.0) ws / hs else 0.0
      }
      id -> s
    }
    val collapsed = q.collapse.fold(combined)(_ =>
      combined.groupBy { case (id, _) => grpOf(id) }.values.map(g => best(g).head).toSeq)
    val kept = best(collapsed).filter { case (_, s) => q.minScore.forall(s >= _) }
    val relation =
      if (kept.size < collapsed.size) "eq"
      else if (collected.exists(_.size >= q.depth)) "gte"
      else "eq"
    Expected(kept.slice(q.from, q.from + q.k), kept.size.toLong, relation)
  }

  // ---- random cases -------------------------------------------------------

  /** Runs `q` through `executeWithTotal`, `execute` and `executeSorted` by
   *  `_score` and asserts each against the model; returns its answer. */
  private def check(c: Int, docs: Seq[Doc], src: HybridSources, q: HybridQuery,
                    filter: Option[Set[Long]]): Expected = {
    val want = model(docs, q, filter)
    val filterDf = filter.map(_.toSeq.toDF("doc_id"))
    val got = Hybrid.executeWithTotal(src, q, filterDf).collect()
    val page = got.map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val what = s"case $c: $q filter=${filter.map(_.size)}\n got $page\n exp ${want.page}"
    assert(page.map(_._1) == want.page.map(_._1), what)
    page.zip(want.page).foreach { case ((_, g), (_, e)) => assert(math.abs(g - e) < 1e-9, what) }
    got.foreach { r =>
      assert(r.getLong(2) == want.total && r.getString(3) == want.relation, what) }
    val plain = Hybrid.execute(src, q, filterDf).collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(plain.toSeq == page, what)
    // a sort by _score desc is the same order, collapse and min_score
    val sorted = Hybrid.executeSorted(src, q, Seq("_score" -> false), filterDf).collect()
    assert(sorted.map(r => r.getLong(0) -> r.getDouble(1)).toSeq == page, what)
    want
  }

  private def terms(): Seq[String] = Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.size)))

  private def clause(): SubQuery = rnd.nextInt(6) match {
    case 0 => LexicalMsm(terms() ++ terms(), 2)
    case 1 => MatchAll(0.5 + rnd.nextInt(3))
    case 2 => Lexical(terms(), Map(vocab(rnd.nextInt(vocab.size)) -> (0.5 + rnd.nextInt(4))))
    case _ => Lexical(terms())
  }

  private def bounds(n: Int): Seq[Bound] = Seq.fill(n)(Bound(
    Seq(BoundMode.Apply, BoundMode.Clip, BoundMode.Ignore)(rnd.nextInt(3)), rnd.nextInt(4) * 0.5))

  private def weights(n: Int): Seq[Double] = Seq(Nil, Seq(1.0), Seq(0.3, 0.7), Seq(0.2, 0.3, 0.5))(n)

  test("random hybrid requests match the collection + normalize/combine model (16 cases)") {
    // (normalization, combination, weighted, filtered, collapsed, min_score)
    val shapes: Seq[(Int => Normalization, String, Boolean, Boolean, Boolean, Boolean)] = Seq(
      (_ => MinMaxNormTech(), Combine.Arithmetic, false, false, false, false),
      (n => MinMaxNormTech(Some(bounds(n)), Some(bounds(n))), Combine.Arithmetic, true, false, false, false),
      (n => MinMaxNormTech(Some(bounds(n)), None), Combine.Harmonic, false, true, false, true),
      (_ => MinMaxNormTech(), Combine.Geometric, true, false, true, false),
      (_ => L2NormTech, Combine.Arithmetic, false, true, false, false),
      (_ => L2NormTech, Combine.Harmonic, true, false, false, true),
      (_ => L2NormTech, Combine.Geometric, false, false, true, true),
      (_ => ZScoreNormTech, Combine.Arithmetic, false, false, false, false),
      (_ => ZScoreNormTech, Combine.Arithmetic, true, true, true, true),
      (_ => RrfNormTech(60), Combine.Rrf, false, false, false, false),
      (_ => RrfNormTech(5), Combine.Rrf, true, true, false, true),
      (_ => RrfNormTech(60), Combine.Arithmetic, false, false, true, false),
      (_ => RrfNormTech(20), Combine.Geometric, true, false, false, false),
      (_ => RrfNormTech(60), Combine.Harmonic, false, true, true, false),
      (n => MinMaxNormTech(None, Some(bounds(n))), Combine.Arithmetic, false, true, true, true),
      (_ => L2NormTech, Combine.Arithmetic, true, false, false, false))
    var shown = 0
    val relations = scala.collection.mutable.Set.empty[String]
    for (((normOf, tech, weighted, filtered, collapsed, withMin), c) <- shapes.zipWithIndex) {
      val docs = (0 until 25 + rnd.nextInt(25)).map(i => Doc(i * 3L + rnd.nextInt(3),
        Seq.fill(1 + rnd.nextInt(7))(vocab(rnd.nextInt(vocab.size))), s"g${rnd.nextInt(5)}"))
      val fields = docs.map(d => (d.id, d.toks.mkString(" "), d.grp)).toDF("doc_id", "text", "grp")
      val src = HybridSources(InvertedIndex.build(fields, "doc_id", "text"), fields = Some(fields))
      val subs = Seq.fill(1 + rnd.nextInt(3))(clause())
      val filter = if (filtered) Some(docs.map(_.id).filter(_ => rnd.nextInt(3) > 0).toSet) else None
      val base = HybridQuery(subs, normOf(subs.size),
        Combination(tech, if (weighted) weights(subs.size) else Nil),
        k = 3 + rnd.nextInt(6), depth = 3 + rnd.nextInt(13), from = rnd.nextInt(4),
        collapse = if (collapsed) Some(Collapse("grp", 1 + rnd.nextInt(2))) else None)
      // min_score halfway between two distinct combined scores, so no
      // score sits on the threshold
      val q = if (!withMin) base else {
        val ss = model(docs, base.copy(from = 0, k = 1000), filter).page.map(_._2).distinct
        if (ss.size < 2) base else base.copy(minScore = Some((ss(ss.size / 2) + ss(ss.size / 2 - 1)) / 2))
      }
      val want = check(c, docs, src, q, filter)
      if (want.page.nonEmpty) shown += 1
      relations += want.relation
    }
    // the random stream must reach real pages and both total-hits relations
    assert(shown >= 12 && relations == Set("eq", "gte"), s"$shown non-empty pages, $relations")
  }

  test("collapse across partitions: groups split over buckets match the model (12 cases)") {
    // ids over 4-5 buckets of 4096 and 2-3 group values, so each group's
    // docs score in several tasks; no partition coalescing, so the
    // per-partition keeps really run apart and fuse must replay them
    val old = spark.conf.getOption("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val norms: Seq[Int => Normalization] = Seq(_ => MinMaxNormTech(), _ => L2NormTech,
        _ => ZScoreNormTech, _ => RrfNormTech(60))
      var shown = 0
      val tasks = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      for (c <- 0 until 12) {
        val nGroups = 2 + rnd.nextInt(2)
        val docs = (0 until 40 + rnd.nextInt(20)).map(i => Doc(i * 331L + rnd.nextInt(3),
          Seq.fill(1 + rnd.nextInt(7))(vocab(rnd.nextInt(vocab.size))), s"g${rnd.nextInt(nGroups)}"))
        val fields = docs.map(d => (d.id, d.toks.mkString(" "), d.grp)).toDF("doc_id", "text", "grp")
        val src = HybridSources(InvertedIndex.build(fields, "doc_id", "text"), fields = Some(fields))
        val subs = Seq.fill(1 + rnd.nextInt(3))(clause())
        val norm = norms(c % norms.size)(subs.size)
        val q = HybridQuery(subs, norm,
          Combination(if (norm == ZScoreNormTech) Combine.Arithmetic
                      else Seq(Combine.Arithmetic, Combine.Harmonic, Combine.Geometric)(rnd.nextInt(3))),
          k = 3 + rnd.nextInt(6), depth = 2 + rnd.nextInt(6), from = rnd.nextInt(2),
          collapse = Some(Collapse("grp", 1 + c % 2)))
        val filter = if (c % 3 == 2) Some(docs.map(_.id).filter(_ => rnd.nextInt(3) > 0).toSet) else None
        if (check(c, docs, src, q, filter).page.nonEmpty) shown += 1
        tasks += c -> Hybrid.collection(src, q, filter.map(_.toSeq.toDF("doc_id"))).rdd
          .mapPartitions(it => Iterator(it.hasNext)).collect().count(identity)
      }
      assert(shown >= 9, s"$shown non-empty pages")
      assert(tasks.forall(_._2 >= 2), s"(case, partitions the collection kept rows in): $tasks")
    } finally old.fold(spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled"))(
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", _))
  }
}
