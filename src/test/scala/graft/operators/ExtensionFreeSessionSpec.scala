package graft.operators

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.Kernels

/** The operators' native kernels do not depend on GraftExtensions: in a
  * session where the SQL names are not registered, the dedup verify
  * filter and the cosine column still plan as the native codegen
  * expressions, with no UDF or higher-order function in the executed
  * plan, and return the same rows as in an extension session.
  */
class ExtensionFreeSessionSpec extends SparkSpecBase {

  /** A child session of `spark` whose function registry lacks graft's
    * SQL names (child sessions get a fresh registry, so `spark` keeps them).
    */
  private lazy val bare: SparkSession = {
    val s = spark.newSession()
    val registry = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    Seq("pair_accept", "pair_score_max", "cosine_sim", "sorted_intersect_count")
      .foreach(n => registry.dropFunction(FunctionIdentifier(n)))
    s
  }

  private def executed(df: DataFrame): (Set[String], String) = {
    val rows = df.collect().map(_.mkString("|")).toSet
    (rows, df.queryExecution.executedPlan.toString)
  }

  test("the verify filter plans as native pair_accept") {
    val e = intercept[AnalysisException](
      bare.sql("SELECT pair_accept('a', 'b', 0, 0, 3, 0.5D, 0.125D, 0.125D, " +
        "0.125D, 0.125D, 0.7D)").collect())
    assert(e.getMessage.contains("UNRESOLVED_ROUTINE"), e.getMessage)
    val K = Kernels.test
    val texts = Seq("separate", "seperate", "operate", "desperate",
      "Separate", "sepperate", "unrelated words", "unrelated word")
    // norms computed up front, so the only kernel in the verify plan is
    // the one verifyPairs adds
    val base = spark.createDataFrame(texts.zipWithIndex.map(_.swap))
      .toDF("id", "text")
      .select(col("id").cast("long").as("id"), K.normKey(col("text")).as("norm"),
        K.caseClass(col("text")).as("lc"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getByte(2)))
    val pairs = for (a <- texts.indices; b <- texts.indices if a < b)
      yield (a.toLong, b.toLong)
    def verify(s: SparkSession): DataFrame = {
      val cands = s.createDataFrame(pairs).toDF("a", "b")
      val b = s.createDataFrame(base.toSeq).toDF("id", "norm", "lc")
      DedupPipeline.verifyPairs(cands, b, DedupConfig(), K)
    }
    val (bareRows, plan) = executed(verify(bare))
    val (extRows, _) = executed(verify(spark))
    assert(bareRows == extRows)
    assert(bareRows.contains("0|1") && !bareRows.contains("0|6"), bareRows)
    // a whole-stage-codegen'd operator (`*(n)`) evaluates pair_accept,
    // as a Filter or folded into the join condition
    assert(plan.linesIterator.exists(_.matches(""".*\*\(\d+\) .*pair_accept\(.*""")),
      s"verify filter is not a codegen'd pair_accept:\n$plan")
    assert(!plan.contains("UDF"), s"verify filter routes through a UDF:\n$plan")
  }

  test("the cosine column plans as native cosine_sim") {
    def topK(s: SparkSession): DataFrame = {
      val rng = new scala.util.Random(5L)
      val vecs = s.createDataFrame((0 until 40).map(i =>
        (i.toLong, Seq.fill(8)(rng.nextGaussian())))).toDF("id", "emb")
      AnnIvf.bruteTopK(vecs, vecs.filter(col("id") % 10 === 0), topK = 3)
    }
    val (bareRows, plan) = executed(topK(bare))
    val (extRows, _) = executed(topK(spark))
    assert(bareRows == extRows && bareRows.size == 12)
    assert(plan.contains("cosine_sim("), plan)
    assert(!plan.contains("lambdafunction") && !plan.contains("UDF"), plan)
  }
}
