package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Native Catalyst expression: |A ∩ B| for two SORTED (ascending),
  * duplicate-free, null-free int arrays — the per-pair kernel of the
  * n-gram Jaccard query.
  *
  * `size(array_intersect(a, b))` builds a hash set of one side per pair
  * evaluation (an allocation plus hashing per element, every pair); on
  * arrays that are already sorted sets, the intersection SIZE is a
  * single allocation-free merge scan — O(|A|+|B|) comparisons of
  * primitive ints inside whole-stage codegen. The caller sorts each
  * row's array ONCE (`sort_array(array_distinct(...))`, amortized over
  * all pairs the row joins into); set size is order-independent, so the
  * result equals `size(array_intersect(a, b))` on the same distinct
  * arrays exactly.
  *
  * DataFrame callers build it with [[TextFns.sortedIntersectCount]] (native
  * in any session); [[graft.spark.GraftExtensions]] registers the SQL
  * name `sorted_intersect_count`.
  *
  * Both arguments must be `array<int>`; any other type fails at analysis
  * (the merge scan reads elements with getInt, so an `array<string>` or
  * `array<bigint>` would otherwise count garbage). Caller contract (not
  * checked): elements sorted ascending, distinct, no null elements. Only
  * top-level null arrays null out the result.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val intArray = (t: DataType) => t match {
      case ArrayType(IntegerType, _) => true
      case _                         => false
    }
    InputTypes.check((left, "ARRAY<INT>", intArray), (right, "ARRAY<INT>", intArray))
  }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val xv = x.getInt(i)
      val yv = y.getInt(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val c = ctx.freshName("c")
      s"""
         |final int $n = $a.numElements();
         |final int $m = $b.numElements();
         |int $i = 0;
         |int $j = 0;
         |int $c = 0;
         |while ($i < $n && $j < $m) {
         |  final int $xv = $a.getInt($i);
         |  final int $yv = $b.getInt($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
