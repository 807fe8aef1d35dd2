package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions.lit

/**
 * Score normalization + combination as native Catalyst expressions (north
 * rule: "mirroring its min-max/L2 score-normalization processors as Catalyst
 * expressions"). Each expression reproduces one reference technique's scalar
 * math exactly, including the idiosyncratic clamps:
 *
 *  - min_max  (reference: processor/normalization/MinMaxScoreNormalizationTechnique.java:260-297
 *    + bounds/LowerBound.java:53-77, bounds/UpperBound.java:53-77):
 *    single-score -> 1.0; bound modes apply/clip/ignore; clip -> 0.001/1.0;
 *    effMax==effMin -> 1.0; normalized==0 -> 0.001.
 *  - l2       (reference: L2ScoreNormalizationTechnique.java:143-145): norm==0 -> 0.001.
 *  - z_score  (reference: ZScoreNormalizationTechnique.java:206-224):
 *    score==mean -> max; sd==0 -> min; result<=0 -> 0.001; sd is the SAMPLE
 *    standard deviation (commons-math DescriptiveStatistics).
 *  - rrf      (reference: RRFNormalizationTechnique.java:221-223):
 *    BigDecimal ONE/(rankConstant + rank) at scale 10 HALF_UP.
 *  - combine  (reference: combination package, XxxScoreCombinationTechnique.java):
 *    arithmetic/geometric/harmonic weighted means + rrf weighted sum, with
 *    the reference's >=0 / >0 inclusion rules and zero-weight-sum -> 0.
 *
 * `useFloat = true` reproduces the reference's float32 arithmetic bit-exactly
 * (for golden-value parity tests); `false` computes in float64 (for
 * DuckDB-oracle parity). Every expression implements `doGenCode`, so the
 * normalize/combine stage stays inside whole-stage codegen: the generated
 * Java emits a static call into [[ScoreMath]] (the single implementation
 * both the interpreted and generated paths share), which HotSpot inlines.
 */
object BoundMode {
  val Apply = "apply"
  val Clip = "clip"
  val Ignore = "ignore"
}

/** Optional min-max bound (mode, boundScore) pair. */
case class Bound(mode: String, score: Double)

case class MinMaxNorm(
    score: Expression,
    min: Expression,
    max: Expression,
    lower: Option[Bound],
    upper: Option[Bound],
    useFloat: Boolean
) extends TernaryExpression {

  override def first: Expression = score
  override def second: Expression = min
  override def third: Expression = max
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "minmax_norm"

  private val lbm = ScoreMath.boundMode(lower)
  private val lb = lower.map(_.score).getOrElse(0.0)
  private val ubm = ScoreMath.boundMode(upper)
  private val ub = upper.map(_.score).getOrElse(0.0)

  override protected def nullSafeEval(s0: Any, mn0: Any, mx0: Any): Any = {
    if (useFloat)
      ScoreMath.minmaxF(s0.asInstanceOf[Double].toFloat, mn0.asInstanceOf[Double].toFloat,
        mx0.asInstanceOf[Double].toFloat, lbm, lb, ubm, ub).toDouble
    else
      ScoreMath.minmaxD(s0.asInstanceOf[Double], mn0.asInstanceOf[Double],
        mx0.asInstanceOf[Double], lbm, lb, ubm, ub)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, mn, mx) => {
      val m = "graft.functions.ScoreMath"
      if (useFloat)
        s"${ev.value} = (double) $m.minmaxF((float)$s, (float)$mn, (float)$mx, $lbm, ${lb}D, $ubm, ${ub}D);"
      else
        s"${ev.value} = $m.minmaxD($s, $mn, $mx, $lbm, ${lb}D, $ubm, ${ub}D);"
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(score = f, min = s, max = t)
}

case class L2Normalize(score: Expression, norm: Expression, useFloat: Boolean)
    extends BinaryExpression {
  override def left: Expression = score
  override def right: Expression = norm
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "l2_normalize"

  override protected def nullSafeEval(s: Any, n: Any): Any = {
    if (useFloat)
      ScoreMath.l2F(s.asInstanceOf[Double].toFloat, n.asInstanceOf[Double].toFloat).toDouble
    else
      ScoreMath.l2D(s.asInstanceOf[Double], n.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, n) => {
      val m = "graft.functions.ScoreMath"
      if (useFloat) s"${ev.value} = (double) $m.l2F((float)$s, (float)$n);"
      else s"${ev.value} = $m.l2D($s, $n);"
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(score = l, norm = r)
}

case class ZScoreNorm(
    score: Expression, mean: Expression, sd: Expression, maxS: Expression, minS: Expression,
    useFloat: Boolean
) extends Expression {
  override def children: Seq[Expression] = Seq(score, mean, sd, maxS, minS)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "zscore_norm"

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) return null
    val Seq(s, m, d, mx, mn) = vs.map(_.asInstanceOf[Double])
    if (useFloat)
      ScoreMath.zF(s.toFloat, m.toFloat, d.toFloat, mx.toFloat, mn.toFloat).toDouble
    else
      ScoreMath.zD(s, m, d, mx, mn)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val mth = "graft.functions.ScoreMath"
    val args = evals.map(_.value).mkString(", ")
    val fargs = evals.map(e => s"(float)${e.value}").mkString(", ")
    val call =
      if (useFloat) s"(double) $mth.zF($fargs)" else s"$mth.zD($args)"
    val nullCheck = evals.map(_.isNull).mkString(" || ")
    ev.copy(code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      boolean ${ev.isNull} = $nullCheck;
      double ${ev.value} = -1.0;
      if (!${ev.isNull}) {
        ${ev.value} = $call;
      }""")
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(score = cs(0), mean = cs(1), sd = cs(2), maxS = cs(3), minS = cs(4))
}

/** rank is the 1-based global rank within the sub-query. */
case class RrfScore(rank: Expression, rankConstant: Int, useFloat: Boolean)
    extends UnaryExpression {
  override def child: Expression = rank
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "rrf_score"

  override protected def nullSafeEval(r: Any): Any =
    ScoreMath.rrf(r.asInstanceOf[Int], rankConstant, useFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, r =>
      s"${ev.value} = graft.functions.ScoreMath.rrf($r, $rankConstant, $useFloat);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(rank = c)
}

object Combine {
  val Arithmetic = "arithmetic_mean"
  val Geometric = "geometric_mean"
  val Harmonic = "harmonic_mean"
  val Rrf = "rrf"

  /** The technique id [[ScoreMath.combine]] takes. */
  def id(technique: String): Int = technique match {
    case Arithmetic => 0
    case Geometric  => 1
    case Harmonic   => 2
    case Rrf        => 3
    case other => throw new IllegalArgumentException(s"unknown combination technique: $other")
  }
}

/** Combine the per-sub-query normalized score array into one score.
 *  Missing sub-query entries must be pre-filled with 0.0 (the reference
 *  zero-initializes its per-doc float[numSubQueries] —
 *  processor/combination/ScoreCombiner.java:361-375). */
case class CombineScores(scores: Expression, technique: String, weights: Seq[Double], useFloat: Boolean)
    extends UnaryExpression {
  override def child: Expression = scores
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "combine_scores"

  private val techId: Int = Combine.id(technique)
  private lazy val weightArr: Array[Double] = weights.toArray

  override protected def nullSafeEval(a: Any): Any =
    ScoreMath.combine(a.asInstanceOf[ArrayData].toDoubleArray(), techId, weightArr, useFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("combineWeights", weightArr, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ScoreMath.combine($a.toDoubleArray(), $techId, $wRef, $useFloat);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(scores = c)
}

/** Column-API facade + SQL registration for the score expressions. */
object ScoreFunctions {

  private def col(e: Expression): Column = org.apache.spark.sql.GraftColumnBridge.column(e)
  private def ex(c: Column): Expression = org.apache.spark.sql.GraftColumnBridge.expression(c)

  def minmaxNorm(score: Column, min: Column, max: Column,
                 lower: Option[Bound] = None, upper: Option[Bound] = None,
                 useFloat: Boolean = false): Column =
    col(MinMaxNorm(ex(score), ex(min), ex(max), lower, upper, useFloat))

  def l2Normalize(score: Column, norm: Column, useFloat: Boolean = false): Column =
    col(L2Normalize(ex(score), ex(norm), useFloat))

  def zscoreNorm(score: Column, mean: Column, sd: Column, maxS: Column, minS: Column,
                 useFloat: Boolean = false): Column =
    col(ZScoreNorm(ex(score), ex(mean), ex(sd), ex(maxS), ex(minS), useFloat))

  def rrfScore(rank: Column, rankConstant: Int = 60, useFloat: Boolean = false): Column =
    col(RrfScore(ex(rank), rankConstant, useFloat))

  def combineScores(scores: Column, technique: String, weights: Seq[Double] = Nil,
                    useFloat: Boolean = false): Column =
    col(CombineScores(ex(scores), technique, weights, useFloat))

  /** Register SQL-callable forms (defaults: no bounds, double math),
   *  mirroring the reference's technique factories keyed by name
   *  (reference: processor/normalization/ScoreNormalizationFactory.java:98-109). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("minmax_norm",
      es => MinMaxNorm(es(0), es(1), es(2), None, None, useFloat = false), "scala_udf")
    reg.createOrReplaceTempFunction("l2_normalize",
      es => L2Normalize(es(0), es(1), useFloat = false), "scala_udf")
    reg.createOrReplaceTempFunction("zscore_norm",
      es => ZScoreNorm(es(0), es(1), es(2), es(3), es(4), useFloat = false), "scala_udf")
    reg.createOrReplaceTempFunction("rrf_score",
      es => RrfScore(es(0), 60, useFloat = false), "scala_udf")
  }
}
