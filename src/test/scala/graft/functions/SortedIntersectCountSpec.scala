package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.{TextFns => T}

/** Pins the native `sorted_intersect_count` merge scan to
  * `size(array_intersect(a, b))` on sorted duplicate-free int arrays —
  * the dedup_jaccard per-pair kernel equivalence.
  */
class SortedIntersectCountSpec extends SparkSpecBase {
  import spark.implicits._

  /** Random sorted duplicate-free int arrays, including empties and
    * many forced-overlap pairs (elements drawn from a small universe).
    */
  private def randomSortedSets(n: Int, seed: Long)
      : Seq[(Long, Seq[Int], Seq[Int])] = {
    val rng = new scala.util.Random(seed)
    def set(): Seq[Int] = {
      val len = rng.nextInt(31) // 0..30, the shingle-array regime
      Seq.fill(len)(rng.nextInt(120)).distinct.sorted
    }
    (0 until n).map(i => (i.toLong, set(), set()))
  }

  test("sorted_intersect_count is registered and equals size(array_intersect) exactly") {
    val df = randomSortedSets(2000, 42L).toDF("id", "a", "b")
    val out = df.select(
      call_function("sorted_intersect_count", col("a"), col("b")).as("native"),
      T.sortedIntersectCount(col("a"), col("b")).as("column"),
      size(array_intersect(col("a"), col("b"))).as("builtin")
    ).collect()
    assert(out.forall(r => r.getInt(0) == r.getInt(2) && r.getInt(1) == r.getInt(2)))
  }

  test("edge cases: empty, disjoint, identical, subset") {
    val df = Seq(
      (1L, Seq.empty[Int], Seq(1, 2, 3)),
      (2L, Seq(1, 2, 3), Seq.empty[Int]),
      (3L, Seq(1, 3, 5), Seq(2, 4, 6)),
      (4L, Seq(1, 2, 3), Seq(1, 2, 3)),
      (5L, Seq(2, 3), Seq(1, 2, 3, 4)),
      (6L, Seq(Int.MinValue, 0, Int.MaxValue), Seq(Int.MinValue, Int.MaxValue))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"),
      call_function("sorted_intersect_count", col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 3, 5L -> 2, 6L -> 2))
  }

  test("null arrays null out; the Column form plans natively") {
    val df = Seq(
      (1L, Option(Seq(1, 2)), Option(Seq(2, 3))),
      (2L, Option(Seq(1, 2)), None: Option[Seq[Int]])
    ).toDF("id", "a", "b")
    val out = df.select(col("id"),
      call_function("sorted_intersect_count", col("a"), col("b")).as("c"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .toMap
    assert(out == Map(1L -> Some(1), 2L -> None))
    val plan = df.select(
      T.sortedIntersectCount(col("a"), col("b")).as("c"))
      .queryExecution.analyzed.toString
    assert(plan.contains("sorted_intersect_count"), plan)
    assert(!plan.contains("array_intersect"), plan)
  }

  test("interpreted eval path agrees with codegen (whole-stage off)") {
    val df = randomSortedSets(500, 11L).toDF("id", "a", "b")
    val expr = call_function("sorted_intersect_count", col("a"), col("b")).as("c")
    val withCodegen = df.select(expr).collect().map(_.getInt(0))
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interpreted = df.select(expr).collect().map(_.getInt(0))
      assert(withCodegen.toSeq == interpreted.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("non array<int> arguments fail at analysis") {
    Seq("sorted_intersect_count(array('a'), array('b'))",
      "sorted_intersect_count(array(1L), array(2L))",
      "sorted_intersect_count(array(1), 'x')").foreach { q =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT $q").collect())
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    }
    // lossless widening still resolves
    assert(spark.sql("SELECT sorted_intersect_count(array(1, 2), " +
      "array(CAST(2 AS SMALLINT), CAST(3 AS SMALLINT)))").head().getInt(0) == 1)
    assert(spark.sql("SELECT sorted_intersect_count(NULL, array(1))")
      .head().isNullAt(0))
  }
}
