package graft.operators

import graft.SparkSpecBase
import graft.kernel._
import graft.sources.SyntheticText

/** Parity: the two distributed strategies must agree with each other and
  * with the LocalVariantModel (itself pinned to the reference's unit-test
  * vectors in KernelSpec).
  */
class VariantMatcherSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions._

  val params: SearchParameters = SearchParameters(
    maxAnagramDistance = DistanceThreshold.Absolute(3),
    maxEditDistance = DistanceThreshold.Absolute(3),
    maxMatches = 10,
    scoreThreshold = 0.25,
    cutoffThreshold = 2.0
  )

  lazy val lexiconWords: Seq[String] = SyntheticText.defaultWords
  lazy val queries: Seq[String] = {
    val rng = new scala.util.Random(7)
    lexiconWords.flatMap(w =>
      Seq(w, SyntheticText.corrupt(rng, w, 1), SyntheticText.corrupt(rng, w, 2)))
  }.distinct

  lazy val model: LocalVariantModel =
    VariantMatcher.buildModel(Alphabet.test, lexiconWords.map(w => (w, None)))

  test("broadcast strategy == local model, per query and rank") {
    import spark.implicits._
    val qdf = queries.toDF("query")
    val got = VariantMatcher
      .matchBroadcast(spark, model, qdf, params)
      .collect()
      .groupBy(_.query)
      .view.mapValues(_.sortBy(_.rank).map(m => (m.matchText, m.distScore)).toSeq)
      .toMap
    for (q <- queries) {
      val expected = model.findVariants(q, params)
        .map(r => (model.text(r.vocabId), r.distScore))
      assert(got.getOrElse(q, Seq.empty) == expected, s"query=$q")
    }
  }

  test("join strategy == local model, per query and rank") {
    import spark.implicits._
    val lexDf = lexiconWords.zipWithIndex
      .map { case (w, i) => (w, i.toLong) }
      .toDF("text", "id")
    val qdf = queries.toDF("query")
    val got = VariantMatcher
      .matchJoin(spark, Alphabet.test, lexDf, qdf, params)
      .select(col("query"), col("rank"), col("match_text"), col("dist_score"))
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(r => (r.getString(2), r.getDouble(3))).toSeq)
      .toMap
    for (q <- queries) {
      val expected = model.findVariants(q, params)
        .map(r => (model.text(r.vocabId), r.distScore))
      assert(got.getOrElse(q, Seq.empty) == expected, s"query=$q")
    }
  }

  /** Model with frequencies, transparent + opaque variant edges and a
    * confusable — the configs the reference supports beyond the plain
    * lexicon (ref lib.rs:1677-1727 expansion, lib.rs:1591-1595 confusable
    * rescoring, types.rs:335-341 blended ranking).
    */
  private def richModel(confusablesBeforePruning: Boolean): LocalVariantModel = {
    val m = new LocalVariantModel(Alphabet.test,
      confusablesBeforePruning = confusablesBeforePruning)
    Seq("separate" -> 100L, "operate" -> 40L, "desperate" -> 20L,
      "right" -> 60L, "house" -> 80L, "huis" -> 30L, "huls" -> 25L,
      "think" -> 10L).foreach { case (w, f) => m.add(w, Some(f)) }
    // error list: TRANSPARENT variants bridge a larger edit distance and
    // are dropped from results after expansion (ref lib.rs:1714-1717)
    m.readVariantsLines(Seq(
      "separate\tseperate\t0.9\tseperete\t0.7",
      "operate\topperate\t0.8"), transparent = true)
    // plain weighted variant list: originals stay in the result set
    m.readVariantsLines(Seq("huis\thuys\t0.95"), transparent = false)
    m.addConfusable("-[y]+[i]", 1.3)
    m.build()
    m
  }

  test("join strategy == local model with variants+confusables+freqWeight") {
    import spark.implicits._
    val qs = Seq("seperat", "seperate", "seperete", "opperat", "opperate",
      "huys", "huis", "separate", "desperat", "rigt", "hause", "think")
    for (early <- Seq(false, true); fw <- Seq(0.0f, 0.25f)) {
      val m = richModel(early)
      val (lexDf, edgesDf) = VariantMatcher.modelFrames(spark, m)
      val p = params.copy(freqWeight = fw, maxMatches = 3,
        scoreThreshold = 0.2, cutoffThreshold = 2.0)
      val got = VariantMatcher
        .matchJoin(spark, Alphabet.test, lexDf, qs.toDF("query"), p,
          variantEdges = Some(edgesDf), confusables = m.confusables,
          confusablesBeforePruning = early)
        .select(col("query"), col("rank"), col("match_text"),
          col("dist_score"), col("freq_score"))
        .collect()
        .groupBy(_.getString(0))
        .view.mapValues(_.sortBy(_.getInt(1))
          .map(r => (r.getString(2), r.getDouble(3), r.getDouble(4))).toSeq)
        .toMap
      for (q <- qs) {
        val expected = m.findVariants(q, p)
          .map(r => (m.text(r.vocabId), r.distScore, r.freqScore))
        assert(got.getOrElse(q, Seq.empty) == expected,
          s"query=$q early=$early freqWeight=$fw")
      }
    }
  }

  /** matchJoin == findVariants per query and rank, on the model's lexicon */
  private def assertJoinParity(m: LocalVariantModel, qs: Seq[String],
      p: SearchParameters, what: String): Unit = {
    import spark.implicits._
    val got = VariantMatcher
      .matchJoin(spark, m.alphabet, VariantMatcher.modelFrames(spark, m)._1, qs.toDF("query"), p)
      .select(col("query"), col("rank"), col("match_text"), col("dist_score"), col("freq_score"))
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.sortBy(_.getInt(1))
        .map(r => (r.getString(2), r.getDouble(3), r.getDouble(4))).toSeq)
      .toMap
    for (q <- qs) {
      val expected = m.findVariants(q, p)
        .map(r => (m.text(r.vocabId), r.distScore, r.freqScore))
      assert(got.getOrElse(q, Seq.empty) == expected, s"query=$q $what")
    }
  }

  test("join strategy == local model under StopAtExactMatch") {
    val p = params.copy(stopCriterion = StopCriterion.StopAtExactMatch)
    // tires and tire have anagrams in the lexicon, so neither keeps the
    // words one letter away (rite for tires; tires and tiers for tire)
    val small = VariantMatcher.buildModel(Alphabet.test,
      Seq("rites", "tiers", "tires", "rite").map(w => (w, None)))
    assert(small.findVariants("tires", p).map(r => small.text(r.vocabId)).toSet ==
      Set("rites", "tiers", "tires"))
    assertJoinParity(small, Seq("tires", "tire", "tirs", "rtes"), p, "small lexicon")
    assertJoinParity(model, queries, p, "default lexicon")
  }

  test("join strategy == local model over a 20,000-entry lexicon") {
    val (lex, generated) = graft.kernel.MatcherParity.inputs(1L)
    val m = VariantMatcher.buildModel(Alphabet.simpleLatin, lex)
    val qs = (generated.take(1000) ++ lex.takeRight(100).map(_._1) ++
      graft.kernel.MatcherParity.edgeStrings).distinct
    val distances = (0 to 5).map(DistanceThreshold.Absolute(_)) :+ DistanceThreshold.Ratio(0.5f)
    for (dist <- distances; stop <- Seq(StopCriterion.Exhaustive, StopCriterion.StopAtExactMatch)) {
      val p = SearchParameters(maxAnagramDistance = dist, stopCriterion = stop)
      assertJoinParity(m, qs, p, s"distance=$dist stop=$stop")
    }
    // crops of 1 and 2 fall inside tie groups; without frequencies a
    // distScore tie is a full tie, so the crop keeps the first rows of
    // the gather order and these pin the order the join ranks in
    val noFreq = VariantMatcher.buildModel(Alphabet.simpleLatin, lex.map(e => (e._1, None)))
    for (mm <- Seq(1, 2); dist <- Seq(DistanceThreshold.Absolute(2), DistanceThreshold.Ratio(0.5f))) {
      val p = SearchParameters(maxAnagramDistance = dist, maxMatches = mm)
      assertJoinParity(noFreq, qs, p, s"no freq distance=$dist maxMatches=$mm")
    }
  }

  test("huys parity through the distributed path") {
    import spark.implicits._
    val m = VariantMatcher.buildModel(Alphabet.test,
      Seq(("huis", None), ("huls", None)))
    val p = params.copy(maxAnagramDistance = DistanceThreshold.Absolute(2),
      maxEditDistance = DistanceThreshold.Absolute(2), scoreThreshold = 0.0,
      cutoffThreshold = 0.0)
    val rs = VariantMatcher
      .matchBroadcast(spark, m, Seq("huys").toDF("query"), p)
      .collect().sortBy(_.rank)
    assert(rs.map(_.matchText).toSeq == Seq("huis", "huls"))
    assert(rs(0).distScore == 0.65625 && rs(1).distScore == 0.65625)
    // the full tie straddles maxMatches = 1: the crop keeps the first of
    // the gather order (ascending anagram value), so the join must rank
    // each query's rows in that order
    assertJoinParity(m, Seq("huys"), p.copy(maxMatches = 1), "tie at maxMatches")
  }
}
