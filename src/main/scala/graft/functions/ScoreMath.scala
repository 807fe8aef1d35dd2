package graft.functions

/**
 * Scalar score math shared by the Catalyst expressions' interpreted `eval`
 * AND their generated code (the codegen emits static calls into this object,
 * so both paths are one implementation — and HotSpot inlines the call inside
 * the whole-stage loop). Float variants replicate the reference's float
 * arithmetic bit-for-bit (SURVEY.md §7.4).
 *
 * Bound modes: 0 = none, 1 = apply, 2 = clip
 * (reference: processor/normalization/bounds/BoundMode.java:12-17).
 */
object ScoreMath {

  private def effLower(s: Double, mn: Double, mx: Double, lbm: Int, lb: Double): Double =
    lbm match {
      case 1 => if (mx > lb && s > lb) lb else mn
      case 2 => if (mx < lb) mn else lb
      case _ => mn
    }

  private def effUpper(s: Double, mn: Double, mx: Double, ubm: Int, ub: Double): Double =
    ubm match {
      case 1 => if (mn < ub && s < ub) ub else mx
      case 2 => if (mn > ub) mx else ub
      case _ => mx
    }

  def minmaxD(s: Double, mn: Double, mx: Double, lbm: Int, lb: Double, ubm: Int, ub: Double): Double = {
    if (mx == mn && mx == s) return 1.0
    val effMn = effLower(s, mn, mx, lbm, lb)
    val effMx = effUpper(s, mn, mx, ubm, ub)
    if (lbm == 2 && s < effMn) return 0.001
    if (ubm == 2 && s > effMx) return 1.0
    if (effMx == effMn) return 1.0
    val n = (s - effMn) / (effMx - effMn)
    if (n == 0.0) 0.001 else n
  }

  def minmaxF(s: Float, mn: Float, mx: Float, lbm: Int, lb: Double, ubm: Int, ub: Double): Float = {
    if (mx == mn && mx == s) return 1.0f
    val effMn = effLower(s.toDouble, mn.toDouble, mx.toDouble, lbm, lb).toFloat
    val effMx = effUpper(s.toDouble, mn.toDouble, mx.toDouble, ubm, ub).toFloat
    if (lbm == 2 && s < effMn) return 0.001f
    if (ubm == 2 && s > effMx) return 1.0f
    if (effMx == effMn) return 1.0f
    val n = (s - effMn) / (effMx - effMn)
    if (n == 0.0f) 0.001f else n
  }

  def l2D(s: Double, n: Double): Double = if (n == 0d) 0.001 else s / n

  def l2F(s: Float, n: Float): Float = if (n == 0f) 0.001f else s / n

  def zD(s: Double, m: Double, sd: Double, mx: Double, mn: Double): Double = {
    if (s == m) mx
    else if (sd == 0.0) mn
    else { val n = (s - m) / sd; if (n <= 0.0) 0.001 else n }
  }

  def zF(s: Float, m: Float, sd: Float, mx: Float, mn: Float): Float = {
    if (java.lang.Float.compare(m, s) == 0) mx
    else if (java.lang.Float.compare(sd, 0.0f) == 0) mn
    else { val n = (s - m) / sd; if (n <= 0.0f) 0.001f else n }
  }

  /** BigDecimal scale-10 HALF_UP, like the reference
   *  (RRFNormalizationTechnique.java:221-223). */
  def rrf(rank: Int, rankConstant: Int, useFloat: Boolean): Double = {
    val bd = java.math.BigDecimal.ONE.divide(
      java.math.BigDecimal.valueOf(rankConstant.toLong + rank), 10, java.math.RoundingMode.HALF_UP)
    if (useFloat) bd.floatValue().toDouble else bd.doubleValue()
  }

  /** Bound mode id of an optional min-max bound. */
  def boundMode(b: Option[Bound]): Int = b.map(_.mode) match {
    case Some(BoundMode.Apply) => 1
    case Some(BoundMode.Clip)  => 2
    case _                     => 0
  }

  /** technique ids ([[Combine.id]]): 0 arithmetic, 1 geometric, 2 harmonic, 3 rrf. */
  def combine(arr: Array[Double], tech: Int, weights: Array[Double], useFloat: Boolean): Double = {
    @inline def w(i: Int): Double = if (i < weights.length) weights(i) else 1.0
    if (useFloat) {
      tech match {
        case 0 | 3 =>
          var cs = 0.0f; var ws = 0.0f
          var i = 0
          while (i < arr.length) {
            val s = arr(i).toFloat
            if (s >= 0.0f) { val wi = w(i).toFloat; cs += s * wi; ws += wi }
            i += 1
          }
          if (ws == 0.0f) 0.0 else if (tech == 0) (cs / ws).toDouble else cs.toDouble
        case 1 =>
          var ls = 0.0f; var ws = 0.0f
          var i = 0
          while (i < arr.length) {
            val s = arr(i).toFloat
            if (s > 0.0f) { val wi = w(i).toFloat; ws += wi; ls += wi * math.log(s.toDouble).toFloat }
            i += 1
          }
          if (ws == 0.0f) 0.0 else math.exp((ls / ws).toDouble).toFloat.toDouble
        case 2 =>
          var ws = 0.0f; var hs = 0.0f
          var i = 0
          while (i < arr.length) {
            val s = arr(i).toFloat
            if (s > 0.0f) { val wi = w(i).toFloat; ws += wi; hs += wi / s }
            i += 1
          }
          (if (hs > 0.0f) ws / hs else 0.0f).toDouble
        case other => throw new IllegalArgumentException(s"unknown technique id: $other")
      }
    } else {
      tech match {
        case 0 | 3 =>
          var cs = 0.0; var ws = 0.0
          var i = 0
          while (i < arr.length) {
            if (arr(i) >= 0.0) { val wi = w(i); cs += arr(i) * wi; ws += wi }
            i += 1
          }
          if (ws == 0.0) 0.0 else if (tech == 0) cs / ws else cs
        case 1 =>
          var ls = 0.0; var ws = 0.0
          var i = 0
          while (i < arr.length) {
            if (arr(i) > 0.0) { val wi = w(i); ws += wi; ls += wi * math.log(arr(i)) }
            i += 1
          }
          if (ws == 0.0) 0.0 else math.exp(ls / ws)
        case 2 =>
          var ws = 0.0; var hs = 0.0
          var i = 0
          while (i < arr.length) {
            if (arr(i) > 0.0) { val wi = w(i); ws += wi; hs += wi / arr(i) }
            i += 1
          }
          if (hs > 0.0) ws / hs else 0.0
        case other => throw new IllegalArgumentException(s"unknown technique id: $other")
      }
    }
  }
}
