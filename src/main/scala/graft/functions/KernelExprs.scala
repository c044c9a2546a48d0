package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DoubleType,
  StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.kernel.{Distance, Distances, Scoring, Weights}

/** JVM entry points shared by the [[PairScoreMax]] / [[PairAccept]]
  * codegen paths and their interpreted evals: the symmetric analiticcl
  * verification score over precomputed normKey strings + case classes —
  * [[graft.kernel.Scoring.score]] of the matcher's own
  * [[graft.kernel.Scoring.distanceFeatures]] in both directions, max
  * (KernelExprsSpec pins it bit-for-bit against an unstripped full-DP
  * scoring of the normalized texts). NaN encodes null (no DL within
  * maxEditDistance, or an empty/null side); a legitimate score is a
  * finite weighted mean in [0,1], never NaN.
  */
object KernelExprs {

  def pairScoreMax(na: UTF8String, nb: UTF8String, la: Byte, lb: Byte,
      maxEditDistance: Int, wLd: Double, wLcs: Double, wPrefix: Double,
      wSuffix: Double, wCase: Double): Double = {
    if (na == null || nb == null) return Double.NaN
    val a = na.toString
    val b = nb.toString
    if (a.isEmpty || b.isEmpty) return Double.NaN
    val w = Weights(wLd, wLcs, wPrefix, wSuffix, wCase)
    Scoring.distanceFeatures(a, b, Scoring.sameCase(la, lb, w), maxEditDistance, w) match {
      case Some(d) => math.max(Scoring.score(d, a.length, w), Scoring.score(d, b.length, w))
      case None => Double.NaN
    }
  }

  /** Decision form of [[pairScoreMax]] for the dedup verify filter:
    * returns exactly (pairScoreMax(...) >= threshold) without computing
    * the exact LCS when the decision doesn't need it — which is almost
    * always, because the score is MONOTONE non-decreasing in the lcs
    * feature (its weight is non-negative, and IEEE +, *, / round
    * monotonically), so:
    *
    *   - lcs >= max(prefixLen, suffixLen) (both are common substrings):
    *     if that lower bound already clears the threshold, accept —
    *     near-dup pairs (the verify stage's dominant outcome) decide
    *     here with zero LCS work;
    *   - lcs <= min(|a|, |b|): if even that can't reach the threshold,
    *     reject;
    *   - otherwise binary-search the EXACT scoring arithmetic for the
    *     smallest lcs value L that clears the threshold, turning the
    *     decision into `lcs >= L` — answered by the early-exit diagonal
    *     scan [[Distances.lcsAtLeast]] instead of the full |a|x|b| DP.
    *
    * Same DL gate, same feature skipping on zero weights, same null /
    * empty handling as [[pairScoreMax]] (score null => reject).
    * KernelExprsSpec pins decision equality against
    * pairScoreMax >= threshold across weight sets and thresholds.
    */
  def pairAccept(na: UTF8String, nb: UTF8String, la: Byte, lb: Byte,
      maxEditDistance: Int, wLd: Double, wLcs: Double, wPrefix: Double,
      wSuffix: Double, wCase: Double, threshold: Double): Boolean = {
    if (na == null || nb == null) return false
    // the monotonicity argument needs wLcs >= 0 and a positive weight
    // sum (true of every production config); anything else falls back
    // to the exact score
    val wSum = wLd + wLcs + wPrefix + wSuffix + wCase
    if (wLcs < 0.0 || !(wSum > 0.0) || java.lang.Double.isNaN(threshold)) {
      val v = pairScoreMax(na, nb, la, lb, maxEditDistance,
        wLd, wLcs, wPrefix, wSuffix, wCase)
      return !java.lang.Double.isNaN(v) && v >= threshold
    }
    val a = na.toString
    val b = nb.toString
    if (a.isEmpty || b.isEmpty) return false
    val ld = Distances.dlChars(a, b, maxEditDistance)
    if (ld < 0) return false
    val w = Weights(wLd, wLcs, wPrefix, wSuffix, wCase)
    val pre = if (w.prefix > 0.0) Distances.prefixChars(a, b) else 0
    val suf = if (w.suffix > 0.0) Distances.suffixChars(a, b) else 0
    val same = Scoring.sameCase(la, lb, w)
    def s(lcs: Int): Double = {
      val d = Distance(ld, lcs, pre, suf, same)
      math.max(
        Scoring.score(d, a.length, w),
        Scoring.score(d, b.length, w))
    }
    if (w.lcs == 0.0) return s(0) >= threshold // pairScoreMax skips lcs too
    val lb0 = math.max(pre, suf)
    if (s(lb0) >= threshold) return true
    val minLen = math.min(a.length, b.length)
    if (s(minLen) < threshold) return false
    // smallest L in (lb0, minLen] clearing the threshold; the two checks
    // above bracket it, and s is monotone in the integer lcs argument
    var loL = lb0 + 1
    var hiL = minLen
    while (loL < hiL) {
      val mid = (loL + hiL) >>> 1
      if (s(mid) >= threshold) hiL = mid else loL = mid + 1
    }
    Distances.lcsAtLeast(a, b, loL)
  }
}

/** The children, input check and evaluation skeleton shared by
  * [[PairScoreMax]] and [[PairAccept]]. Children: normA/normB (normKey
  * strings), caseA/caseB (byte case classes: 0 lower, 1 not lower,
  * 2 empty — see [[Kernels.caseClass]]); any other type fails at
  * analysis. maxEditDistance, the weights and the threshold are
  * plan-time constants, embedded in the generated code as Java literals.
  */
sealed trait PairKernel extends Expression {
  def normA: Expression
  def normB: Expression
  def caseA: Expression
  def caseB: Expression

  override def children: Seq[Expression] = Seq(normA, normB, caseA, caseB)

  override def checkInputDataTypes(): TypeCheckResult = {
    val string = (t: DataType) => t.isInstanceOf[StringType]
    val byte = (t: DataType) => t == ByteType
    InputTypes.check((normA, "STRING", string), (normB, "STRING", string),
      (caseA, "TINYINT", byte), (caseB, "TINYINT", byte))
  }

  /** `kernel` over the four child values, or `absent` if any is null. */
  protected def evalPresent(input: InternalRow, absent: Any)(
      kernel: (UTF8String, UTF8String, Byte, Byte) => Any): Any = {
    val a = normA.eval(input)
    val b = normB.eval(input)
    val ca = caseA.eval(input)
    val cb = caseB.eval(input)
    if (a == null || b == null || ca == null || cb == null) absent
    else kernel(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String],
      ca.asInstanceOf[Byte], cb.asInstanceOf[Byte])
  }

  /** Generated code: the four children, then `init` (the result's
    * defaults), then `present(args)` when no child is null, where `args`
    * is the child values as a Java argument list.
    */
  protected def genPresent(ctx: CodegenContext, ev: ExprCode, init: String)(
      present: String => String): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    ev.copy(code = code"""
      ${evs(0).code}
      ${evs(1).code}
      ${evs(2).code}
      ${evs(3).code}
      $init
      if (!${evs(0).isNull} && !${evs(1).isNull} &&
          !${evs(2).isNull} && !${evs(3).isNull}) {
        ${present(evs.map(_.value).mkString(", "))}
      }
    """)
  }

  /** Double.toString round-trips exactly, so the embedded literals are
    * the same doubles the interpreted path uses.
    */
  protected def dlit(x: Double): String = java.lang.Double.toString(x) + "D"
}

/** Native Catalyst expression for the symmetric verify score — the
  * largest single phase of the pipeline at 1 core (BASELINE.md: 263 s of
  * 404). It participates in whole-stage codegen and calls the static
  * kernel [[KernelExprs.pairScoreMax]] directly from the generated stage
  * method, with no per-call UDF converter boundary.
  *
  * DataFrame callers build it with [[Kernels.pairScoreMax]] (native in any
  * session); [[graft.spark.GraftExtensions]] registers the SQL name
  * `pair_score_max`. Null when no DL is within maxEditDistance or a side
  * is null/empty.
  */
case class PairScoreMax(
    normA: Expression, normB: Expression,
    caseA: Expression, caseB: Expression,
    maxEditDistance: Int,
    wLd: Double, wLcs: Double, wPrefix: Double,
    wSuffix: Double, wCase: Double)
    extends PairKernel {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pair_score_max"

  override def eval(input: InternalRow): Any =
    evalPresent(input, null) { (a, b, ca, cb) =>
      val v = KernelExprs.pairScoreMax(a, b, ca, cb,
        maxEditDistance, wLd, wLcs, wPrefix, wSuffix, wCase)
      if (java.lang.Double.isNaN(v)) null else v
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.freshName("pairScore")
    genPresent(ctx, ev,
      s"boolean ${ev.isNull} = true; double ${ev.value} = 0.0;") { args =>
      s"""
        final double $v = graft.functions.KernelExprs.pairScoreMax($args,
          $maxEditDistance, ${dlit(wLd)}, ${dlit(wLcs)}, ${dlit(wPrefix)},
          ${dlit(wSuffix)}, ${dlit(wCase)});
        if (!java.lang.Double.isNaN($v)) {
          ${ev.isNull} = false;
          ${ev.value} = $v;
        }
      """
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(normA = newChildren(0), normB = newChildren(1),
      caseA = newChildren(2), caseB = newChildren(3))
}

/** Native codegen decision form of [[PairScoreMax]] — the dedup verify
  * filter (`pair_accept(...) == pair_score_max(...) >= threshold`,
  * decided without the exact LCS whenever the score bounds already
  * settle it; see [[KernelExprs.pairAccept]]). Never null: a null input
  * channel or an out-of-band DL is a reject, exactly like the
  * score-form filter `score IS NOT NULL AND score >= threshold`.
  * DataFrame callers build it with [[Kernels.pairAccept]]; the SQL name
  * `pair_accept` comes from [[graft.spark.GraftExtensions]].
  */
case class PairAccept(
    normA: Expression, normB: Expression,
    caseA: Expression, caseB: Expression,
    maxEditDistance: Int,
    wLd: Double, wLcs: Double, wPrefix: Double,
    wSuffix: Double, wCase: Double, threshold: Double)
    extends PairKernel {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "pair_accept"

  override def eval(input: InternalRow): Any =
    evalPresent(input, false) { (a, b, ca, cb) =>
      KernelExprs.pairAccept(a, b, ca, cb,
        maxEditDistance, wLd, wLcs, wPrefix, wSuffix, wCase, threshold)
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genPresent(ctx, ev,
      s"boolean ${ev.isNull} = false; boolean ${ev.value} = false;") { args =>
      s"""
        ${ev.value} = graft.functions.KernelExprs.pairAccept($args,
          $maxEditDistance, ${dlit(wLd)}, ${dlit(wLcs)}, ${dlit(wPrefix)},
          ${dlit(wSuffix)}, ${dlit(wCase)}, ${dlit(threshold)});
      """
    }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(normA = newChildren(0), normB = newChildren(1),
      caseA = newChildren(2), caseB = newChildren(3))
}
