package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.{TextFns => T}

class CosineSimSpec extends SparkSpecBase {
  import spark.implicits._

  private def randomVecs(n: Int, dim: Int, seed: Long): Seq[(Long, Seq[Double], Seq[Double])] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i =>
      (i.toLong, Seq.fill(dim)(rng.nextGaussian()), Seq.fill(dim)(rng.nextGaussian())))
  }

  /** The reference: dot and norms accumulated left-to-right, then
    * dot / (sqrt(na) * sqrt(nb)) — the IEEE order CosineSim promises.
    */
  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    a.zip(b).foreach { case (x, y) => dot += x * y }
    a.foreach(x => na += x * x)
    b.foreach(y => nb += y * y)
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("cosineSim and SQL cosine_sim match a Scala loop bit-for-bit") {
    val vecs = randomVecs(200, 64, 42L)
    // an RDD source, so the projection runs in generated code
    val out = spark.sparkContext.parallelize(vecs, 4).toDF("id", "a", "b")
      .select(col("id"),
        T.cosineSim(col("a"), col("b")).as("native"),
        call_function("cosine_sim", col("a"), col("b")).as("sql"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    // identical IEEE operation order -> identical doubles, not just close
    vecs.foreach { case (id, a, b) =>
      assert(out(id) == ((cosine(a, b), cosine(a, b))), s"id=$id")
    }
  }

  test("cosineSim plans as the native expression, no higher-order functions") {
    val df = randomVecs(10, 16, 7L).toDF("id", "a", "b")
    val plan = df.select(T.cosineSim(col("a"), col("b")).as("c"))
      .queryExecution.analyzed.toString
    assert(plan.contains("cosine_sim"), plan)
    assert(!plan.contains("lambda"), plan)
  }

  test("null arrays null out; self-similarity is 1.0") {
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Option(Seq(1.0, 2.0, 3.0))),
      (2L, Seq(1.0, 2.0, 3.0), None: Option[Seq[Double]])
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), T.cosineSim(col("a"), col("b")).as("c"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(math.abs(out(1L).get - 1.0) < 1e-12)
    assert(out(2L).isEmpty)
  }

  test("interpreted eval path agrees with codegen (whole-stage off)") {
    val df = randomVecs(50, 32, 11L).toDF("id", "a", "b")
    val expr = T.cosineSim(col("a"), col("b")).as("c")
    val withCodegen = df.select(expr).collect().map(_.getDouble(0))
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interpreted = df.select(expr).collect().map(_.getDouble(0))
      assert(withCodegen.toSeq == interpreted.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("non array<double> arguments fail at analysis") {
    Seq("cosine_sim(array('a'), array('b'))",
      "cosine_sim(array(1.0D), 'x')",
      "cosine_sim(array(true), array(1.0D))").foreach { q =>
      val e = intercept[AnalysisException](spark.sql(s"SELECT $q").collect())
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    }
    val df = Seq((Seq("a"), Seq(1.0))).toDF("s", "d")
    val e = intercept[AnalysisException](
      df.select(T.cosineSim(col("s"), col("d"))).collect())
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    // numeric arrays (decimal literals, ints, floats) widen in SQL
    val c = spark.sql("SELECT cosine_sim(array(0.6, 0.8), array(4, 3)), " +
      "cosine_sim(array(CAST(1 AS FLOAT)), array(2.0D))").head()
    assert(math.abs(c.getDouble(0) - 0.96) < 1e-12 && c.getDouble(1) == 1.0)
    assert(spark.sql("SELECT cosine_sim(NULL, array(1.0D))").head().isNullAt(0))
  }
}
