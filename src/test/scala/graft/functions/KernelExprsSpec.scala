package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.kernel.{Alphabet, FullDpOracle, Scoring, Weights}

/** Parity pin for the native codegen verify kernels: the PairScoreMax
  * expression, fed the production normKey/caseClass columns, must be
  * BIT-identical to the reference scoring ([[Scoring.score]] of the
  * unstripped full-DP [[FullDpOracle]] features of the normalized texts,
  * computed in the driver) on every input class; the
  * PairAccept decision must equal score >= threshold. The spec guards the
  * expression plumbing — null channels, byte case classes, literal
  * embedding in generated code — and the SQL seam's argument handling.
  */
class KernelExprsSpec extends SparkSpecBase {

  private val K = Kernels.test

  /** Deterministic normKey-ish pairs: strings over the compact class
    * alphabet (codepoints 33..59 = the 27-class test alphabet), lengths
    * 0..12, edit distances 0..large, plus null rows.
    */
  private def pairs: Seq[(String, String, Byte, Byte)] = {
    var state = 0xDEADBEEFL
    def next(n: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 33) % n).toInt
    }
    def word(): String =
      (0 until next(13)).map(_ => (33 + next(27)).toChar).mkString
    val rand = (1 to 400).map { _ =>
      val a = word()
      // half the pairs are perturbations of a (near dups), half random
      val b =
        if (next(2) == 0) word()
        else {
          val sb = new StringBuilder(a)
          if (sb.nonEmpty && next(2) == 0) sb.setCharAt(next(sb.length), (33 + next(27)).toChar)
          if (next(3) == 0) sb.append((33 + next(27)).toChar)
          sb.toString
        }
      (a, b, next(3).toByte, next(3).toByte)
    }
    rand ++ Seq(
      (null, "abc", 0.toByte, 0.toByte),
      ("abc", null, 0.toByte, 1.toByte),
      ("", "abc", 2.toByte, 0.toByte),
      ("abc", "", 0.toByte, 2.toByte),
      ("abc", "abc", 0.toByte, 0.toByte),
      ("abc", "abc", 0.toByte, 1.toByte))
  }

  /** Text pairs over the test alphabet: transcript-like phrases and
    * their 1-3 edit corruptions (near dups), unrelated phrases, case
    * flips, unknown-class characters, empty and null sides.
    */
  private def texts: Seq[(String, String)] = {
    val rng = new scala.util.Random(77L)
    def phrase(): String =
      graft.sources.SyntheticText.phrase(rng, 1 + rng.nextInt(6))
    val rand = (1 to 400).map { _ =>
      val a = phrase()
      val b = rng.nextInt(4) match {
        case 0 => phrase()
        case 1 => a.capitalize
        case _ => graft.sources.SyntheticText.corrupt(rng, a, 1 + rng.nextInt(3))
      }
      (a, b)
    }
    rand ++ Seq(
      (null, "abc"), ("abc", null), ("", "abc"), ("abc", ""),
      ("abc", "abc"), ("abc", "Abc"), ("a-b!", "a b?"), ("!!", "??"))
  }

  /** The reference: symmetric analiticcl score over the normalized texts,
    * None where the native kernel is null.
    */
  private def reference(x: String, y: String, maxEditDistance: Int,
      w: Weights): Option[Double] =
    if (x == null || y == null) None
    else {
      val nx = Alphabet.test.normalize(x)
      val ny = Alphabet.test.normalize(y)
      if (nx.isEmpty || ny.isEmpty) None
      else FullDpOracle.distanceFeatures(nx, x, ny, y, maxEditDistance, w)
        .map(d => math.max(Scoring.score(d, nx.length, w),
          Scoring.score(d, ny.length, w)))
    }

  /** Native pair_score_max over the texts' normKey/caseClass columns,
    * zipped with the reference, per maxEditDistance and weights.
    */
  private def scored(maxEditDistance: Int, w: Weights)
      : Seq[(Option[Double], Option[Double])] = {
    import spark.implicits._
    // an RDD source, not a local table: the projection runs in generated
    // code instead of being folded at plan time
    val out = spark.sparkContext.parallelize(texts, 4).toDF("x", "y")
      .select(K.pairScoreMax(K.normKey(col("x")), K.normKey(col("y")),
        K.caseClass(col("x")), K.caseClass(col("y")), maxEditDistance, w))
      .collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.length == texts.length)
    texts.zip(out).map { case ((x, y), n) =>
      (reference(x, y, maxEditDistance, w), n)
    }
  }

  test("PairScoreMax == Scoring over the normalized texts, bit for bit") {
    val both = scored(3, Weights())
    both.foreach { case (ref, n) =>
      assert(ref == n, s"reference=$ref native=$n") // exact, not tolerance
    }
    // the fixture must exercise BOTH channels meaningfully
    val nScored = both.count(_._2.isDefined)
    assert(nScored > 50, s"only $nScored scored pairs — fixture too thin")
    assert(nScored < both.length, "no null results — fixture too easy")
  }

  test("non-default weights and maxEditDistance reach the generated code") {
    val w = Weights(ld = 0.7, lcs = 0.1, prefix = 0.1, suffix = 0.05,
      caseW = 0.05)
    scored(1, w).foreach { case (ref, n) =>
      assert(ref == n, s"reference=$ref native=$n")
    }
  }

  test("pairAccept decision == pairScoreMax >= threshold, every weight set") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
    // short fixture pairs + transcript-length near-dups (the production
    // shape, exercising the lower-bound accept, the upper-bound reject,
    // and the binary-search + diagonal-scan fallback)
    var state = 0x5EEDL
    def next(n: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 33) % n).toInt
    }
    val rng = new scala.util.Random(4242L)
    val long = (1 to 150).map { _ =>
      val a = graft.sources.SyntheticText.phrase(rng, 5 + rng.nextInt(40))
      val b =
        if (rng.nextInt(5) == 0) graft.sources.SyntheticText.phrase(rng, 5 + rng.nextInt(40))
        else graft.sources.SyntheticText.corrupt(rng, a, 1 + rng.nextInt(3))
      (a, b, next(3).toByte, next(3).toByte)
    }
    val weightSets = Seq(
      Weights(),
      Weights(ld = 1.0, lcs = 0.0, prefix = 0.2, suffix = 0.2, caseW = 0.1),
      Weights(ld = 0.1, lcs = 1.0, prefix = 0.1, suffix = 0.1, caseW = 0.1),
      Weights(ld = 0.5, lcs = -0.2, prefix = 0.3, suffix = 0.3, caseW = 0.1))
    val thresholds = Seq(0.0, 0.3, 0.5, 0.7, 0.9, 1.0)
    var accepts = 0
    var rejectsScored = 0
    for ((a, b, ca, cb) <- pairs ++ long; w <- weightSets; t <- thresholds) {
      val score = KernelExprs.pairScoreMax(u8(a), u8(b), ca, cb, 3,
        w.ld, w.lcs, w.prefix, w.suffix, w.caseW)
      val expected = !java.lang.Double.isNaN(score) && score >= t
      val got = KernelExprs.pairAccept(u8(a), u8(b), ca, cb, 3,
        w.ld, w.lcs, w.prefix, w.suffix, w.caseW, t)
      assert(got == expected, s"a=$a b=$b w=$w t=$t score=$score")
      if (expected) accepts += 1
      else if (!java.lang.Double.isNaN(score)) rejectsScored += 1
    }
    // the grid must exercise both outcomes on scored pairs
    assert(accepts > 100, s"only $accepts accepts — fixture too thin")
    assert(rejectsScored > 100, s"only $rejectsScored scored rejects")
  }

  test("PairAccept expression == pair_score_max >= threshold in a plan") {
    import spark.implicits._
    val w = Weights()
    val df = pairs.toDF("na", "nb", "ca", "cb")
      .select(col("na"), col("nb"),
        col("ca").cast("byte").as("ca"), col("cb").cast("byte").as("cb"))
    val score = K.pairScoreMax(col("na"), col("nb"), col("ca"), col("cb"), 3, w)
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val both = df.select(
        (score.isNotNull && score >= t).as("viaScore"),
        K.pairAccept(col("na"), col("nb"), col("ca"), col("cb"), 3, t, w)
          .as("viaAccept"))
        .collect()
      both.foreach { r =>
        assert(!r.isNullAt(1), "pair_accept must never be null")
        assert(r.getBoolean(0) == r.getBoolean(1), s"t=$t row=$r")
      }
    }
  }

  test("the accept-filter plan stays codegen'd with the extension") {
    val df = spark.range(50).select(
      concat(lit("abcd"), (col("id") % 7).cast("string")).as("na"),
      concat(lit("abc"), (col("id") % 5).cast("string")).as("nb"),
      (col("id") % 3).cast("byte").as("ca"),
      (col("id") % 3).cast("byte").as("cb"))
    val plan = df.filter(
      K.pairAccept(col("na"), col("nb"), col("ca"), col("cb"), 3, 0.7,
        Weights()))
      .queryExecution.executedPlan.toString
    assert(plan.contains("pair_accept"), plan)
    assert(!plan.contains("UDF"), s"native path still routes through a UDF:\n$plan")
  }

  test("the verify plan stays codegen'd (no UDF boundary) with the extension") {
    // a range source, not a local literal table: ConvertToLocalRelation
    // would otherwise evaluate the projection at plan time and leave
    // nothing to inspect (which exercises eval(), not the plan)
    val df = spark.range(50).select(
      concat(lit("abcd"), (col("id") % 7).cast("string")).as("na"),
      concat(lit("abc"), (col("id") % 5).cast("string")).as("nb"),
      (col("id") % 3).cast("byte").as("ca"),
      (col("id") % 3).cast("byte").as("cb"))
    val plan = df.select(
      K.pairScoreMax(col("na"), col("nb"), col("ca"), col("cb"), 3,
        Weights()).as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("pair_score_max"), plan)
    assert(!plan.contains("UDF"), s"native path still routes through a UDF:\n$plan")
  }

  test("SQL calls accept any foldable numeric constant, decimals included") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
    val w = Weights(0.5, 0.125, 0.125, 0.125, 0.125)
    // `0.5` is a DECIMAL literal, `1/8` a foldable division
    val accept = spark.sql("SELECT pair_accept('abc', 'abd', 0, 0, 3, " +
      "0.5, 0.125, 0.125, 1/8, 0.125, 0.7)").head().getBoolean(0)
    assert(accept == KernelExprs.pairAccept(u8("abc"), u8("abd"), 0, 0, 3,
      w.ld, w.lcs, w.prefix, w.suffix, w.caseW, 0.7))
    val score = spark.sql("SELECT pair_score_max('abc', 'abd', 0, 0, 3.0, " +
      "0.5, 0.125, 0.125, 0.125, CAST(0.125 AS FLOAT))").head().getDouble(0)
    assert(score == KernelExprs.pairScoreMax(u8("abc"), u8("abd"), 0, 0, 3,
      w.ld, w.lcs, w.prefix, w.suffix, w.caseW))
    assert(spark.sql("SELECT pair_score_max(NULL, 'abd', 0, 0, 3, " +
      "0.5, 0.125, 0.125, 0.125, 0.125)").head().isNullAt(0))
  }

  test("bad pair kernel arguments fail at analysis") {
    val weights = "3, 0.5D, 0.125D, 0.125D, 0.125D, 0.125D"
    Seq(
      s"pair_accept(id, id, 0, 0, $weights, 0.7D)",
      s"pair_score_max(array(id), 'x', 0, 0, $weights)",
      s"pair_score_max('a', 'b', 'x', 0, $weights)",
      s"pair_accept('a', 'b', 0, 0, 3, id, 0.125, 0.125, 0.125, 0.125, 0.7)",
      s"pair_accept('a', 'b', 0, 0, 3, 0.5, 0.125, 0.125, 0.125, 0.125, '0.7')"
    ).foreach { q =>
      val e = intercept[AnalysisException](
        spark.sql(s"SELECT $q FROM range(3)").collect())
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    }
  }
}
