package graft.spark

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType,
  IntegerType, LongType, NullType, NumericType, ShortType, StringType}

import graft.functions.{CosineSim, PairAccept, PairScoreMax, SortedIntersectCount}

/** Session extensions adding SQL names for graft's native Catalyst
  * expressions (the public injection route: `.config("spark.sql.extensions",
  * classOf[GraftExtensions].getName)` or `--conf spark.sql.extensions=...`
  * on spark-submit — no private Spark API touched).
  *
  * DataFrame callers do not need it: [[graft.functions.TextFns]] and
  * [[graft.functions.Kernels]] build the same expressions as plain Columns,
  * native in any session. Each SQL name builds its expression through the
  * same constructor, after coercing its arguments: numeric arrays widen,
  * integer case classes narrow to tinyint and an untyped NULL takes the
  * required type; any other type reaches the expression's input check
  * and fails analysis.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit = {
    inject(e, "cosine_sim", classOf[CosineSim], "left, right") { c =>
      CosineSim(toDoubles(c(0)), toDoubles(c(1)))
    }
    inject(e, "sorted_intersect_count", classOf[SortedIntersectCount],
      "left, right") { c =>
      SortedIntersectCount(toInts(c(0)), toInts(c(1)))
    }
    inject(e, "pair_score_max", classOf[PairScoreMax], pairArgs) { c =>
      val n = constants("pair_score_max", c)
      PairScoreMax(toStr(c(0)), toStr(c(1)), toByte(c(2)), toByte(c(3)),
        n(0).toInt, n(1), n(2), n(3), n(4), n(5))
    }
    inject(e, "pair_accept", classOf[PairAccept], pairArgs + ", threshold") { c =>
      val n = constants("pair_accept", c)
      PairAccept(toStr(c(0)), toStr(c(1)), toByte(c(2)), toByte(c(3)),
        n(0).toInt, n(1), n(2), n(3), n(4), n(5), n(6))
    }
  }
}

object GraftExtensions {
  /** Value for the `spark.sql.extensions` conf key. */
  val name: String = classOf[GraftExtensions].getName

  private val pairArgs = "normA, normB, caseA, caseB, maxEditDistance, " +
    "wLd, wLcs, wPrefix, wSuffix, wCase"

  private def inject(e: SparkSessionExtensions, fn: String, cls: Class[_],
      args: String)(build: Seq[Expression] => Expression): Unit = {
    val arity = args.split(",").length
    e.injectFunction((FunctionIdentifier(fn),
      new ExpressionInfo(cls.getName, fn),
      (children: Seq[Expression]) => {
        require(children.length == arity,
          s"$fn takes ($args), got ${children.length} arguments")
        build(children)
      }))
  }

  /** The config arguments of the pair kernels (maxEditDistance onwards):
    * plan-time constants, because the band width, weights and threshold
    * are embedded in the generated code. Any foldable numeric expression
    * is accepted — `0.5` (a decimal literal), `0.5D`, `3` or `1/8`.
    */
  private def constants(fn: String, children: Seq[Expression]): Seq[Double] =
    children.drop(4).map { e =>
      val value = e.dataType match {
        case _: NumericType if e.foldable => Cast(e, DoubleType).eval()
        case _                            => null
      }
      if (value == null) throw new AnalysisException(
        "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT", Map(
          "sqlExpr" -> s"\"$fn(${children.map(_.sql).mkString(", ")})\"",
          "inputName" -> s"`${e.sql}`",
          "inputType" -> "\"NUMERIC\"",
          "inputExpr" -> s"\"${e.sql}\""))
      value.asInstanceOf[Double]
    }

  private def cast(e: Expression, to: DataType, widen: DataType => Boolean) =
    if (e.dataType != to && (e.dataType == NullType || widen(e.dataType)))
      Cast(e, to)
    else e

  private def toDoubles(e: Expression) =
    cast(e, ArrayType(DoubleType), {
      case ArrayType(t: NumericType, _) => t != DoubleType
      case _                            => false
    })

  private def toInts(e: Expression) =
    cast(e, ArrayType(IntegerType), {
      case ArrayType(ByteType | ShortType, _) => true
      case _                                  => false
    })

  private def toStr(e: Expression) = cast(e, StringType, _ => false)

  /** Case classes are 0..2, so an integer literal or column narrows. */
  private def toByte(e: Expression) = cast(e, ByteType, {
    case ShortType | IntegerType | LongType => true
    case _                                  => false
  })
}
