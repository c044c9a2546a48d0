package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.DataType

/** Input check shared by the native expressions: the first argument whose
  * type fails its test is reported as Spark's UNEXPECTED_INPUT_TYPE
  * mismatch, so a bad call fails at analysis instead of inside a task.
  * Each argument is (expression, required type as SQL, test).
  */
private[functions] object InputTypes {
  private val ordinals = Seq("first", "second", "third", "fourth")

  def check(args: (Expression, String, DataType => Boolean)*): TypeCheckResult =
    args.zip(ordinals).collectFirst {
      case ((e, required, ok), i) if !ok(e.dataType) =>
        TypeCheckResult.DataTypeMismatch("UNEXPECTED_INPUT_TYPE", Map(
          "paramIndex" -> i,
          "requiredType" -> s"\"$required\"",
          "inputSql" -> s"\"${e.sql}\"",
          "inputType" -> s"\"${e.dataType.sql}\""))
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
}
