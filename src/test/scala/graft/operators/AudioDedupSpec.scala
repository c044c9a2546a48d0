package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.sources.ClipGen

/** Acoustic near-dup pipeline vs ClipGen's ground truth (canonical +
  * SNR ≥ 30 dB perturbed copies per cluster): recall and zero false
  * merges from AUDIO alone (transcripts never read), partitioning
  * invariance of the verified edge set, hot-bucket cap accounting,
  * null/undecodable byte handling.
  */
class AudioDedupSpec extends SparkSpecBase {

  /** Synthetic clip table with ground truth, keyed for CC (long ids). */
  private lazy val clips: DataFrame = {
    val t = ClipGen.table(spark, seed = 11L, nClusters = 40)
      .withColumn("id", xxhash64(col("clip_id")))
    t.persist()
    t.count()
    t
  }

  private def pairsWithin(groups: Map[Long, Seq[Long]]): Set[(Long, Long)] =
    groups.values.flatMap { ids =>
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet

  test("recovers ground-truth clusters from audio alone") {
    val (assign, m) = AudioDedup.run(spark, clips, "id", "bytes")
    val rows = assign.join(
        clips.select(col("id"), col("cluster_id").as("truth")), Seq("id"))
      .select("id", "cluster", "truth")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    val truthPairs = pairsWithin(
      rows.groupBy(_._3).map { case (t, rs) => (t, rs.map(_._1).toSeq) })
    val outPairs = pairsWithin(
      rows.groupBy(_._2).map { case (c, rs) => (c, rs.map(_._1).toSeq) })

    // no false merges: every produced pair is a ground-truth dup pair
    assert((outPairs -- truthPairs).isEmpty,
      s"false merges: ${(outPairs -- truthPairs).take(5)}")
    // recall of ground-truth dup pairs
    val recall = (truthPairs & outPairs).size.toDouble /
      math.max(1, truthPairs.size)
    assert(recall >= 0.98, s"recall $recall of ${truthPairs.size} pairs")
    assert(m.nRows == rows.length)
    assert(m.nUndecodable == 0)
    assert(m.nVerifiedEdges >= truthPairs.size * 0.98)
  }

  test("verified edge set is invariant to input partitioning") {
    def edges(parts: Int): Set[(Long, Long)] =
      AudioDedup.nearDupPairs(spark, clips.repartition(parts), "id",
        "bytes")._1.df
        .select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges(3) == edges(13))
  }

  test("hot-bucket cap drops and counts oversized buckets") {
    // cap=1 is degenerate on purpose: every 2+ bucket is dropped, so no
    // candidates survive and the drop counter owns the loss
    val (pairs, m) = AudioDedup.nearDupPairs(spark, clips, "id", "bytes",
      AudioDedupConfig(bucketCap = 1))
    assert(pairs.df.count() == 0)
    assert(m.nCandidatePairs == 0)
    assert(m.nDroppedBuckets > 0)
  }

  test("null and undecodable bytes become counted singletons") {
    import spark.implicits._
    val bad = Seq(
      (900001L, null.asInstanceOf[Array[Byte]]),
      (900002L, "not a wav".getBytes("UTF-8"))
    ).toDF("id", "bytes")
    val two = clips.select("id", "bytes").limit(0).union(bad)
    val (assign, m) = AudioDedup.run(spark, two, "id", "bytes")
    val out = assign.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(900001L -> 900001L, 900002L -> 900002L))
    assert(m.nRows == 1) // only the non-null-bytes row reaches decode
    assert(m.nUndecodable == 1)
  }

  test("observed counters equal counts computed with plain DataFrame jobs") {
    import spark.implicits._
    val bad = Seq(
      (900001L, null.asInstanceOf[Array[Byte]]),
      (900002L, "not a wav".getBytes("UTF-8"))
    ).toDF("id", "bytes")
    val df = clips.select("id", "bytes").union(bad)
    val fps = AudioDedup.fingerprints(df, "id", "bytes", AudioDedupConfig())
    fps.persist()
    val good = fps.filter(col("fp").isNotNull)
    val keyed = good.select(col("id"), explode(col("keys")).as("k"))
    val sizes = keyed.groupBy("k").count()
    def fp(side: String) = good.select(col("id").as(side),
      col("fp").as(side + "fp"))
    // bucketCap = 1 keeps no bucket: adaptive execution skips the empty
    // hot-key broadcast and its observation, so the overflow is counted
    // by the fallback job
    for (cfg <- Seq(AudioDedupConfig(), AudioDedupConfig(bucketCap = 1))) {
      val (assign, m) = AudioDedup.run(spark, df, "id", "bytes", cfg)
      val capped = keyed.join(
        sizes.filter(col("count").between(2, cfg.bucketCap)), "k")
      val cand = capped.select(col("k"), col("id").as("a"))
        .join(capped.select(col("k"), col("id").as("b")), "k")
        .filter(col("a") < col("b")).select("a", "b").distinct()
      val ber = udf { (a: Seq[Int], b: Seq[Int]) =>
        graft.audio.Fingerprint.ber(a.toArray, b.toArray, cfg.maxShiftFrames)
      }
      val verified = cand.join(fp("a"), "a").join(fp("b"), "b")
        .filter(ber(col("afp"), col("bfp")) <= cfg.maxBer)
      val want = AudioDedupMetrics(
        nRows = df.filter(col("bytes").isNotNull).count(),
        nUndecodable = fps.filter(col("fp").isNull).count(),
        nCandidatePairs = cand.count(),
        nDroppedBuckets = sizes.filter(col("count") > cfg.bucketCap).count(),
        nVerifiedEdges = verified.count(),
        nClusters = assign.select("cluster").distinct().count())
      assert(m == want, cfg.toString)
      assert(m.nUndecodable == 1, m.toString)
      assert(if (cfg.bucketCap == 1) m.nDroppedBuckets > 0
        else m.nVerifiedEdges > 0, m.toString)
      // fresh observations per call: a second pass reports the same counts
      assert(AudioDedup.run(spark, df, "id", "bytes", cfg)._2 == m)
    }
    fps.unpersist()
  }
}
