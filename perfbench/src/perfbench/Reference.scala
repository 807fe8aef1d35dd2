package perfbench

/** Brute-force Lucene BM25 (k1 = 1.2, b = 0.75, exact doc lengths) over
 *  documents given as token-id sequences. Shares no code with the program:
 *  a document's tokens come from the generator's vocabulary table.
 *
 *  @param docTokens per document, its analyzed token ids (all tokens, in order)
 *  @param nTokens   size of the token-id space */
final class Bm25Ref(docTokens: Int => Array[Int], val nDocs: Int, nTokens: Int) {
  val K1 = 1.2
  val B = 0.75

  val dl: Array[Int] = Array.tabulate(nDocs)(d => docTokens(d).length)
  val sumDl: Long = dl.foldLeft(0L)(_ + _)
  val avgdl: Double = if (nDocs == 0) 0.0 else sumDl.toDouble / nDocs

  /** df and ttf of every token, counted by a full scan. */
  lazy val (df: Array[Long], ttf: Array[Long]) = {
    val df = new Array[Long](nTokens)
    val ttf = new Array[Long](nTokens)
    val last = Array.fill(nTokens)(-1)
    var d = 0
    while (d < nDocs) {
      val ts = docTokens(d)
      var i = 0
      while (i < ts.length) {
        val t = ts(i)
        ttf(t) += 1
        if (last(t) != d) { last(t) = d; df(t) += 1 }
        i += 1
      }
      d += 1
    }
    (df, ttf)
  }

  def idf(df: Long): Double = math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))

  /** Every matching document's score for an OR of `terms` (distinct token
   *  ids). Per-term contributions are added in the order given, so callers
   *  pass terms sorted by their string form, the order Lucene's BooleanQuery
   *  visits them in this engine. `keep` restricts the scored documents. */
  def scoreAll(terms: Seq[Int], keep: Int => Boolean = _ => true): Array[(Long, Double)] = {
    val q = terms.distinct.toArray
    val tf = new Array[Int](q.length)
    val dfq = new Array[Long](q.length)
    val slot = Array.fill(nTokens)(-1)
    q.indices.foreach(i => slot(q(i)) = i)
    val perDoc = new Array[Array[Int]](nDocs)
    var d = 0
    while (d < nDocs) {
      java.util.Arrays.fill(tf, 0)
      val ts = docTokens(d)
      var i = 0
      var any = false
      while (i < ts.length) {
        val s = slot(ts(i))
        if (s >= 0) { tf(s) += 1; any = true }
        i += 1
      }
      if (any) {
        perDoc(d) = tf.clone()
        var j = 0
        while (j < q.length) { if (tf(j) > 0) dfq(j) += 1; j += 1 }
      }
      d += 1
    }
    val w = dfq.map(idf)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    d = 0
    while (d < nDocs) {
      val tfd = perDoc(d)
      if (tfd != null && keep(d)) {
        var s = 0.0
        var j = 0
        while (j < q.length) {
          if (tfd(j) > 0) s += w(j) * (tfd(j) / (tfd(j) + K1 * (1 - B + B * dl(d) / avgdl)))
          j += 1
        }
        out += ((d.toLong, s))
      }
      d += 1
    }
    out.toArray
  }

  def topK(terms: Seq[Int], k: Int, keep: Int => Boolean = _ => true): Array[(Long, Double)] =
    Ref.ranked(scoreAll(terms, keep)).take(k)
}

object Ref {
  /** Score descending, doc id ascending. */
  def ranked(xs: Array[(Long, Double)]): Array[(Long, Double)] =
    xs.sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))

  def close(a: Double, b: Double, rel: Double = 1e-9): Boolean =
    a == b || math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b))

  /** Compare a ranked hit list from the program with the reference list for
   *  the same request. Doc ids must agree position by position, except that
   *  docs whose reference scores tie within `rel` may trade places; scores
   *  must agree within `rel`; the program's own order must be score
   *  descending with exact ties by doc id ascending. Returns an error or
   *  None. */
  def compare(got: Seq[(Long, Double)], want: Seq[(Long, Double)], rel: Double = 1e-9): Option[String] = {
    if (got.size != want.size) return Some(s"${got.size} hits, expected ${want.size}")
    val wantScore = want.toMap
    var i = 0
    while (i < got.size) {
      val (gd, gs) = got(i)
      val (wd, ws) = want(i)
      if (!close(gs, ws, rel)) return Some(s"rank $i: score $gs, expected $ws (doc $wd)")
      if (gd != wd && !wantScore.get(gd).exists(close(_, gs, rel)))
        return Some(s"rank $i: doc $gd, expected $wd")
      if (i > 0) {
        val (pd, ps) = got(i - 1)
        if (ps < gs || (ps == gs && pd > gd)) return Some(s"rank $i: order broken at doc $gd")
      }
      i += 1
    }
    None
  }
}

/** Model of the hybrid normalize / combine pipeline, following the reference
 *  ScoreCombiner and normalization techniques:
 *  - min_max: (s - min) / (max - min); one distinct score -> 1.0; a result of
 *    exactly 0 is floored to 0.001;
 *  - l2: s / sqrt(sum s^2); a zero norm -> 0.001;
 *  - z_score: (s - mean) / sample sd; s == mean -> the sub-query's max score;
 *    sd == 0 -> its min score; a result <= 0 -> 0.001;
 *  - rrf: 1 / (rank_constant + rank), BigDecimal scale 10 HALF_UP;
 *  - combination over per-sub-query scores (a doc a sub-query did not
 *    collect scores 0.0): arithmetic weighted mean over scores >= 0;
 *    geometric and harmonic weighted means over scores > 0; rrf the weighted
 *    sum; a zero weight sum gives 0. */
object HybridModel {
  sealed trait Norm
  case object MinMax extends Norm
  case object L2 extends Norm
  case object ZScore extends Norm
  final case class Rrf(rankConstant: Int = 60) extends Norm

  def normalize(norm: Norm, collected: Array[(Long, Double)]): Array[(Long, Double)] = {
    if (collected.isEmpty) return collected
    val s = collected.map(_._2)
    val mn = s.min
    val mx = s.max
    norm match {
      case MinMax =>
        collected.map { case (d, x) =>
          val n = if (mx == mn) 1.0 else (x - mn) / (mx - mn)
          (d, if (n == 0.0) 0.001 else n)
        }
      case L2 =>
        val norm2 = math.sqrt(s.map(x => x * x).sum)
        collected.map { case (d, x) => (d, if (norm2 == 0.0) 0.001 else x / norm2) }
      case ZScore =>
        val mean = s.sum / s.length
        val sd =
          if (s.length < 2) 0.0
          else math.sqrt(s.map(x => (x - mean) * (x - mean)).sum / (s.length - 1))
        collected.map { case (d, x) =>
          val n =
            if (x == mean) mx
            else if (sd == 0.0) mn
            else { val z = (x - mean) / sd; if (z <= 0.0) 0.001 else z }
          (d, n)
        }
      case Rrf(rc) =>
        collected.zipWithIndex.map { case ((d, _), i) =>
          val bd = java.math.BigDecimal.ONE.divide(
            java.math.BigDecimal.valueOf(rc.toLong + i + 1), 10, java.math.RoundingMode.HALF_UP)
          (d, bd.doubleValue())
        }
    }
  }

  def combine(technique: String, scores: Array[Double], weights: Seq[Double]): Double = {
    def w(i: Int) = if (i < weights.length) weights(i) else 1.0
    val idx = scores.indices
    technique match {
      case "arithmetic_mean" | "rrf" =>
        val used = idx.filter(scores(_) >= 0.0)
        val ws = used.map(w).sum
        val cs = used.map(i => scores(i) * w(i)).sum
        if (ws == 0.0) 0.0 else if (technique == "rrf") cs else cs / ws
      case "geometric_mean" =>
        val used = idx.filter(scores(_) > 0.0)
        val ws = used.map(w).sum
        if (ws == 0.0) 0.0 else math.exp(used.map(i => w(i) * math.log(scores(i))).sum / ws)
      case "harmonic_mean" =>
        val used = idx.filter(scores(_) > 0.0)
        val hs = used.map(i => w(i) / scores(i)).sum
        if (hs > 0.0) used.map(w).sum / hs else 0.0
    }
  }

  /** The full pipeline over per-sub-query ranked results: collect the top
   *  `depth` of each, normalize, combine, drop scores below `minScore`, rank,
   *  then page with `from` / `size`. */
  def run(perSub: Seq[Array[(Long, Double)]], norm: Norm, technique: String,
          weights: Seq[Double], depth: Int, from: Int, size: Int,
          minScore: Option[Double]): Array[(Long, Double)] = {
    val normed = perSub.map(r => normalize(norm, Ref.ranked(r).take(depth)).toMap)
    val docs = normed.flatMap(_.keys).distinct.toArray
    val combined = docs.map { d =>
      (d, combine(technique, normed.map(_.getOrElse(d, 0.0)).toArray, weights))
    }.filter { case (_, s) => minScore.forall(s >= _) }
    Ref.ranked(combined).slice(from, from + size)
  }
}
