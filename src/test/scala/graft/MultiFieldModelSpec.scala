package graft

import graft.hybrid._
import graft.index.{Deletes, Index, InvertedIndex}
import graft.query.Bm25

/**
 * Randomized model check for the multi-field and synonym BM25 clauses:
 * random three-field corpora (doc ids across several 4096-doc buckets,
 * some docs deleted) and random `cross_fields`, `combined_fields` and
 * synonym clauses, compared EXACTLY against a first-principles Scala BM25
 * that recomputes every statistic from the tokenized docs and folds in the
 * documented orders:
 *
 *  - `combined_fields`: per term tf' = Σ w·tf and per doc dl' = Σ w·dl in
 *    field order, one saturation, idf of the max field df; terms sum in
 *    query order, gated on distinct matched terms;
 *  - `cross_fields`: per term the blended idf rides each field's weight
 *    (idf_f · (b · idf_blend / idf_f)), each field saturates on its own dl
 *    and avgdl, the best field wins; terms sum in query order;
 *  - synonyms: per position group tf summed before saturation, idf of the
 *    max member df, times the group boost; positions sum in order.
 *
 * Deletes are a search-time view: statistics stay those of the full
 * corpus, deleted docs never match. Seeded, so failures replay.
 */
class MultiFieldModelSpec extends SparkSpec {

  import spark.implicits._

  private val rnd = new scala.util.Random(20261021L)
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
  private val fieldNames = Seq("text", "title", "body")

  /** One doc: its id and its tokens per field (every field non-empty). */
  private case class Doc(id: Long, toks: Map[String, Seq[String]])

  private def corpus(): Seq[Doc] = {
    val ids = rnd.shuffle((0L until 4L * InvertedIndex.BucketSpan).toVector).take(40 + rnd.nextInt(30))
    ids.map(id => Doc(id, fieldNames.map(f =>
      f -> Seq.fill(1 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))).toMap))
  }

  // ---- first-principles model -------------------------------------------

  private case class Stats(n: Long, sumDl: Long, avgdl: Double, df: Map[String, Long])

  private def stats(docs: Seq[Doc], f: String): Stats = {
    val sumDl = docs.map(_.toks(f).size.toLong).sum
    Stats(docs.size.toLong, sumDl, sumDl.toDouble / docs.size,
      vocab.map(t => t -> docs.count(_.toks(f).contains(t)).toLong).filter(_._2 > 0).toMap)
  }

  private def idf(df: Long, n: Long): Double = math.log(1.0 + (n - df + 0.5) / (df + 0.5))

  private def tfn(tf: Double, dl: Double, avgdl: Double): Double =
    tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))

  private def tf(d: Doc, f: String, t: String): Int = d.toks(f).count(_ == t)

  /** Sum of the matched slots' scores in slot order, kept when at least
   *  `need` slots matched. */
  private def folded(live: Seq[Doc], need: Int)(slots: Doc => Seq[Option[Double]]): Map[Long, Double] =
    live.flatMap { d =>
      val hits = slots(d).flatten
      if (hits.size >= need) Some(d.id -> hits.foldLeft(0.0)(_ + _)) else None
    }.toMap

  private def combinedModel(docs: Seq[Doc], live: Seq[Doc], fields: Seq[(String, Double)],
                            terms: Seq[String], msm: Int): Map[Long, Double] = {
    val st = fields.map { case (f, _) => f -> stats(docs, f) }.toMap
    val n = docs.size.toLong
    val merged = terms.distinct.flatMap { t =>
      val ds = fields.flatMap { case (f, _) => st(f).df.get(t) }
      if (ds.isEmpty) None else Some(t -> ds.max)
    }
    if (merged.isEmpty || merged.size < msm) Map.empty
    else {
      val avgdl = fields.map { case (f, w) => w * st(f).sumDl }.foldLeft(0.0)(_ + _) / n
      folded(live, math.max(msm, 1)) { d =>
        val dl = fields.map { case (f, w) => w * d.toks(f).size }.foldLeft(0.0)(_ + _)
        merged.map { case (t, df) =>
          val in = fields.filter { case (f, _) => tf(d, f, t) > 0 }
          if (in.isEmpty) None
          else Some(idf(df, n) * tfn(in.map { case (f, w) => w * tf(d, f, t) }.foldLeft(0.0)(_ + _), dl, avgdl))
        }
      }
    }
  }

  private def crossModel(docs: Seq[Doc], live: Seq[Doc], fields: Seq[(String, Double)],
                         terms: Seq[String]): Map[Long, Double] = {
    val st = fields.map { case (f, _) => f -> stats(docs, f) }.toMap
    val n = docs.size.toLong
    folded(live, 1) { d =>
      terms.distinct.map { t =>
        val dfs = fields.flatMap { case (f, _) => st(f).df.get(t) }
        val scores = if (dfs.isEmpty) Nil else fields.collect {
          case (f, b) if tf(d, f, t) > 0 =>
            val own = idf(st(f).df(t), st(f).n)
            own * (b * idf(dfs.max, n) / own) * tfn(tf(d, f, t), d.toks(f).size, st(f).avgdl)
        }
        scores.reduceOption((a, b) => if (b > a) b else a)
      }
    }
  }

  private def synonymModel(docs: Seq[Doc], live: Seq[Doc],
                           groups: Seq[(Seq[String], Double)]): Map[Long, Double] = {
    val st = stats(docs, "text")
    folded(live, 1) { d =>
      groups.map { case (g, boost) =>
        val present = g.distinct.filter(st.df.contains)
        val sum = present.map(tf(d, "text", _)).sum
        if (present.isEmpty || sum == 0) None
        else Some(idf(present.map(st.df).max, st.n) * tfn(sum, d.toks("text").size, st.avgdl) * boost)
      }
    }
  }

  // ---- engine -------------------------------------------------------------

  private def scored(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def randomTerms(): Seq[String] =
    Seq.fill(1 + rnd.nextInt(4))(if (rnd.nextInt(8) == 0) "zzz" else vocab(rnd.nextInt(vocab.size)))

  private def randomFields(): Seq[(String, Double)] =
    rnd.shuffle(fieldNames).take(2 + rnd.nextInt(2)).map(f => f -> Seq(1.0, 1.5, 2.0, 3.25)(rnd.nextInt(4)))

  test("cross_fields, combined_fields and synonym clauses equal the first-principles model, " +
    "alone and in one batch") {
    for (round <- 0 until 3) {
      val docs = corpus()
      val dead = docs.filter(_ => rnd.nextInt(7) == 0).map(_.id)
      val live = docs.filterNot(d => dead.contains(d.id))
      assert(docs.map(_.id >> InvertedIndex.BucketBits).distinct.size >= 3)
      val idxs: Map[String, Index] = fieldNames.map { f =>
        val built = InvertedIndex.build(
          docs.map(d => (d.id, d.toks(f).mkString(" "))).toDF("doc_id", "text"), "doc_id", "text")
        f -> Deletes.withDeletes(built, dead.toDF("doc_id"), "doc_id")
      }.toMap
      val src = HybridSources(idxs("text"), fieldIdx = idxs - "text")
      for (q <- 0 until 4) {
        val ctx = s"round $round query $q"
        val terms = randomTerms()
        val cfFields = randomFields()
        val msm = rnd.nextInt(terms.distinct.size + 1)
        val crFields = randomFields().map { case (f, _) => f -> Seq(0.5, 1.0, 2.0)(rnd.nextInt(3)) }
        val groups = Seq.fill(1 + rnd.nextInt(3))(
          (Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.size))), Seq(1.0, 0.5, 2.5)(rnd.nextInt(3))))
        val clauses: Seq[SubQuery] = Seq(
          LexicalMulti(cfFields, terms, CombinedFields(msm)),
          LexicalMulti(crFields, terms, CrossFields),
          LexicalSyn(groups))
        val want = Seq(
          combinedModel(docs, live, cfFields, terms, msm),
          crossModel(docs, live, crFields, terms),
          synonymModel(docs, live, groups))
        clauses.zip(want).foreach { case (c, w) =>
          assert(scored(Hybrid.scoreClause(src, c, 0)) == w, s"$ctx: $c")
        }
        // one batch over every field: each clause's rows are its own run's
        val batch = Bm25.scoreBatch(src.idx, Seq(
          Bm25.CombinedFieldsClause(cfFields.map { case (f, w) => src.field(f) -> w }, terms, msm),
          Bm25.CrossFieldsClause(crFields.map { case (f, b) => src.field(f) -> b }, terms),
          Bm25.SynonymClause(groups))).collect().groupBy(_._1)
        want.indices.foreach { i =>
          assert(batch.getOrElse(i, Array.empty).map(r => r._2 -> r._3).toMap == want(i), s"$ctx: batch clause $i")
        }
      }
    }
  }

  test("a synonym-rewritten match scores one group per distinct token") {
    val docs = corpus()
    val idx = InvertedIndex.build(
      docs.map(d => (d.id, d.toks("text").mkString(" "))).toDF("doc_id", "text"), "doc_id", "text")
    val src = HybridSources(idx, synonyms = Map("alpha" -> Seq("beta", "gamma")))
    val got = scored(Hybrid.scoreClause(src, Lexical(Seq("alpha", "delta", "alpha", "eps")), 0))
    assert(got == synonymModel(docs, docs,
      Seq(Seq("alpha", "beta", "gamma") -> 1.0, Seq("delta") -> 1.0, Seq("eps") -> 1.0)))
  }
}
