package graft.spark

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, IntegerType,
  NullType, ShortType}

import graft.functions.{CosineSim, PairAccept, PairScoreMax, SortedIntersectCount}

/** Session extensions registering graft's native Catalyst expressions
  * (the public injection route: `.config("spark.sql.extensions",
  * classOf[GraftExtensions].getName)` or `--conf spark.sql.extensions=...`
  * on spark-submit — no private Spark API touched).
  *
  * Callers that may run in a session built without the extension go
  * through [[graft.functions.TextFns.cosineIn]], which checks the
  * session's registry and falls back to the interpreted HOF formulation.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"cosine_sim takes 2 arguments, got ${children.length}")
        // input coercion at the registration seam (CosineSim assumes
        // double arrays; see the note there): float/int arrays widen
        def widen(e: Expression): Expression =
          if (e.dataType == ArrayType(DoubleType, containsNull = false)) e
          else Cast(e, ArrayType(DoubleType))
        CosineSim(widen(children.head), widen(children(1)))
      }))
    e.injectFunction((
      FunctionIdentifier("pair_score_max"),
      new ExpressionInfo(classOf[PairScoreMax].getName, "pair_score_max"),
      (children: Seq[Expression]) => {
        require(children.length == 10,
          "pair_score_max takes (normA, normB, caseA, caseB, " +
            s"maxEditDistance, wLd, wLcs, wPrefix, wSuffix, wCase), " +
            s"got ${children.length} arguments")
        // config args must be plan-time constants: the kernel's band
        // width and weights are embedded in the generated code
        def num(e: Expression, what: String): Double = {
          require(e.foldable, s"pair_score_max: $what must be a literal")
          e.eval(null) match {
            case n: java.lang.Number => n.doubleValue()
            case other => sys.error(s"pair_score_max: $what is not numeric: $other")
          }
        }
        PairScoreMax(
          children(0), children(1),
          Cast(children(2), ByteType), Cast(children(3), ByteType),
          maxEditDistance = num(children(4), "maxEditDistance").toInt,
          wLd = num(children(5), "wLd"), wLcs = num(children(6), "wLcs"),
          wPrefix = num(children(7), "wPrefix"),
          wSuffix = num(children(8), "wSuffix"),
          wCase = num(children(9), "wCase"))
      }))
    e.injectFunction((
      FunctionIdentifier("pair_accept"),
      new ExpressionInfo(classOf[PairAccept].getName, "pair_accept"),
      (children: Seq[Expression]) => {
        require(children.length == 11,
          "pair_accept takes (normA, normB, caseA, caseB, " +
            s"maxEditDistance, wLd, wLcs, wPrefix, wSuffix, wCase, " +
            s"threshold), got ${children.length} arguments")
        def num(e: Expression, what: String): Double = {
          require(e.foldable, s"pair_accept: $what must be a literal")
          e.eval(null) match {
            case n: java.lang.Number => n.doubleValue()
            case other => sys.error(s"pair_accept: $what is not numeric: $other")
          }
        }
        PairAccept(
          children(0), children(1),
          Cast(children(2), ByteType), Cast(children(3), ByteType),
          maxEditDistance = num(children(4), "maxEditDistance").toInt,
          wLd = num(children(5), "wLd"), wLcs = num(children(6), "wLcs"),
          wPrefix = num(children(7), "wPrefix"),
          wSuffix = num(children(8), "wSuffix"),
          wCase = num(children(9), "wCase"),
          threshold = num(children(10), "threshold"))
      }))
    e.injectFunction((
      FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"sorted_intersect_count takes 2 arguments, got ${children.length}")
        // input coercion at the registration seam: lossless widening
        // only (tinyint/smallint elements, an untyped NULL); any other
        // type reaches the expression's input check and fails analysis
        // instead of casting strings or bigints into wrong counts
        def toInts(e: Expression): Expression = e.dataType match {
          case ArrayType(ByteType | ShortType, _) | NullType =>
            Cast(e, ArrayType(IntegerType))
          case _ => e
        }
        SortedIntersectCount(toInts(children.head), toInts(children(1)))
      }))
  }
}

object GraftExtensions {
  /** Value for the `spark.sql.extensions` conf key. */
  val name: String = classOf[GraftExtensions].getName
}
