package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two double-array
  * columns — the hot kernel of the embedding ANN queries.
  *
  * Spark's higher-order functions (`aggregate`/`zip_with`) are interpreted
  * per element — three lambda invocations per dimension. This expression
  * participates in whole-stage codegen (`doGenCode` emits one fused java
  * loop), turning a 64-dim cosine into 64 straight-line multiply-adds
  * inside the stage's generated method. IEEE operation order: dot and
  * norms accumulated left-to-right, then `dot / (sqrt(na) * sqrt(nb))`
  * (CosineSimSpec pins it bit-for-bit against a Scala loop).
  *
  * DataFrame callers build it with [[TextFns.cosineSim]] (native in any
  * session); [[graft.spark.GraftExtensions]] registers the SQL name
  * `cosine_sim`, widening other numeric arrays to `array<double>`.
  *
  * Both arguments must be `array<double>`; any other type fails at
  * analysis. Null elements inside the arrays are not expected (embedding
  * vectors are dense); only top-level null arrays null out the result.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val doubleArray = (t: DataType) => t match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    InputTypes.check((left, "ARRAY<DOUBLE>", doubleArray),
      (right, "ARRAY<DOUBLE>", doubleArray))
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    val n = math.min(nx, ny)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    var na = 0.0
    i = 0
    while (i < nx) { val v = x.getDouble(i); na += v * v; i += 1 }
    var nb = 0.0
    i = 0
    while (i < ny) { val v = y.getDouble(i); nb += v * v; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val v = ctx.freshName("v")
      s"""
         |final int $nx = $a.numElements();
         |final int $ny = $b.numElements();
         |final int $n = $nx < $ny ? $nx : $ny;
         |double $dot = 0.0;
         |double $na = 0.0;
         |double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |for (int $i = 0; $i < $nx; $i++) {
         |  final double $v = $a.getDouble($i); $na += $v * $v;
         |}
         |for (int $i = 0; $i < $ny; $i++) {
         |  final double $v = $b.getDouble($i); $nb += $v * $v;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
