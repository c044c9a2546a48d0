package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Production embedding near-dup operator: recall vs brute-force cosine
  * pairs on clustered synthetic embeddings, integer-bucket determinism
  * across partitionings, hot-bucket cap accounting, scale-aware config
  * derivation.
  */
class EmbDedupSpec extends SparkSpecBase {

  private val dims = 64

  /** Deterministic clustered corpus: nClusters unit base vectors, each
    * with `dupsPer` jittered near-dup copies (cos ~0.97-0.995 to the
    * base), bases mutually near-orthogonal. Returns (id, embedding).
    */
  private def clusteredEmbeddings(nClusters: Int, dupsPer: Int,
      jitter: Double): Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(1234L)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    (0 until nClusters).flatMap { c =>
      val base = unit(Array.fill(dims)(rng.nextGaussian()))
      val rows = (0 to dupsPer).map { d =>
        val v =
          if (d == 0) base
          else unit(base.map(_ + rng.nextGaussian() * jitter))
        ((c.toLong * 100) + d, v.map(_.toFloat))
      }
      rows
    }
  }

  /** All pairs with exact cosine >= threshold, computed brute-force on
    * the driver (the ground truth the LSH path is graded against).
    */
  private def brutePairs(rows: Seq[(Long, Array[Float])],
      threshold: Double): Set[(Long, Long)] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / math.sqrt(na * nb)
    }
    (for {
      i <- rows.indices.iterator
      j <- (i + 1) until rows.size
      if cos(rows(i)._2, rows(j)._2) >= threshold
    } yield {
      val (x, y) = (rows(i)._1, rows(j)._1)
      (math.min(x, y), math.max(x, y))
    }).toSet
  }

  test("nearDupPairs recall >= 0.95 vs brute force; zero false edges") {
    import spark.implicits._
    val rows = clusteredEmbeddings(nClusters = 150, dupsPer = 3,
      jitter = 0.02)
    val truth = brutePairs(rows, 0.9)
    assert(truth.size >= 150, "fixture must contain real near-dup pairs")
    val df = rows.toDF("id", "embedding").repartition(4)
    // 16 bands x 10 bits: 600 rows want ~10-bit buckets
    // (EmbDedupConfig.forScale(600) would derive 8; 10 shows a
    // non-default width); 16 bands for ~0.99 recall at cos 0.95+
    val cfg = EmbDedupConfig(dims = dims, bands = 16, bitsPerBand = 10,
      cosThreshold = 0.9)
    val (pairs, m) = EmbDedup.nearDupPairs(spark, df, "id", "embedding", cfg)
    val got = pairs.df.select("a", "b").as[(Long, Long)].collect().toSet
    // verification is EXACT cosine: anything returned must be in truth
    assert(got.subsetOf(truth),
      s"false edges: ${got.diff(truth).take(5)}")
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.95, s"recall $recall (${got.size}/${truth.size})")
    assert(m.nVerifiedEdges == got.size)
    assert(m.nCandidatePairs >= m.nVerifiedEdges)
  }

  test("bucket membership is integer-exact: identical pairs at any partitioning") {
    import spark.implicits._
    val rows = clusteredEmbeddings(nClusters = 40, dupsPer = 2,
      jitter = 0.02)
    val cfg = EmbDedupConfig(dims = dims, bands = 8, bitsPerBand = 10)
    def run(parts: Int): Set[(Long, Long)] = {
      val df = rows.toDF("id", "embedding").repartition(parts)
      EmbDedup.nearDupPairs(spark, df, "id", "embedding", cfg)._1.df
        .select("a", "b").as[(Long, Long)].collect().toSet
    }
    assert(run(1) == run(7))
  }

  test("memory-derived verify partitioning: explicit numParts keeps the pair set and sets the partition count") {
    import spark.implicits._
    val rows = clusteredEmbeddings(nClusters = 40, dupsPer = 2,
      jitter = 0.02)
    val cfg = EmbDedupConfig(dims = dims, bands = 8, bitsPerBand = 10)
    val df = rows.toDF("id", "embedding").repartition(3)
    val keyed = EmbDedup.bandKeys(EmbDedup.signed(df, "id", "embedding", cfg))
    def pairsAt(numParts: Option[Int]) =
      CappedPairs.fromKeys(keyed, cfg.bucketCap, numParts)
    val default = pairsAt(None)
    val derived = pairsAt(Some(5))
    // the a-keyed dedup exchange honors the memory-derived count...
    assert(derived.rdd.getNumPartitions == 5)
    // ...and the candidate set is bit-identical to the default path
    // (hashpartitioning(a) at ANY partition count satisfies the (a, b)
    // dedup clustering)
    assert(default.select("a", "b").as[(Long, Long)].collect().toSet ==
      derived.select("a", "b").as[(Long, Long)].collect().toSet)
  }

  test("verify joins take the memory-derived partition count, not the session default") {
    import spark.implicits._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    object plans extends AdaptiveSparkPlanHelper
    val joinParts =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val js = plans.collect(qe.executedPlan) {
          case j: ShuffledHashJoinExec => j.outputPartitioning.numPartitions
        }
        if (js.nonEmpty) joinParts.add(js)
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val rows = clusteredEmbeddings(nClusters = 40, dupsPer = 2,
      jitter = 0.02)
    val cfg = EmbDedupConfig(dims = dims, bands = 8, bitsPerBand = 10)
    val dp = spark.sparkContext.defaultParallelism
    assert(dp > 1, "the session needs a default parallelism above 1")
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "1") // a core-count default far below the rule's
    spark.listenerManager.register(listener)
    try {
      val (pairs, m) = EmbDedup.nearDupPairs(spark,
        rows.toDF("id", "embedding"), "id", "embedding", cfg)
      assert(pairs.df.count() > 0)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (joinParts.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      val want = CappedPairs.verifyParts(spark, m.nRows,
        EmbDedup.verifyBuildRows)
      assert(want == dp)
      // exactly one executed plan, the verify cut, holds the two joins
      assert(joinParts.size == 1, joinParts)
      assert(joinParts.peek() == Seq(want, want), joinParts)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set(key, saved)
    }
  }

  test("observed counters equal counts computed with plain DataFrame jobs") {
    import spark.implicits._
    // clustered near-dups, a null-embedding row and 12 identical
    // vectors whose band buckets overflow a cap of 8
    val same = Array.fill(dims)(0.1f)
    val rows: Seq[(Long, Array[Float])] =
      clusteredEmbeddings(nClusters = 30, dupsPer = 2, jitter = 0.02) ++
        (0L until 12L).map(i => (500000L + i, same)) :+
        ((999999L, null.asInstanceOf[Array[Float]]))
    val df = rows.toDF("id", "embedding")
    val cfg = EmbDedupConfig(dims = dims, bands = 8, bitsPerBand = 10,
      bucketCap = 8)
    val (assign, m) = EmbDedup.run(spark, df, "id", "embedding", cfg)

    val keyed = EmbDedup.bandKeys(EmbDedup.signed(df, "id", "embedding", cfg))
    val sizes = keyed.groupBy("k").count()
    val capped = keyed.join(
      sizes.filter(col("count").between(2, cfg.bucketCap)), "k")
    val cand = capped.select(col("k"), col("id").as("a"))
      .join(capped.select(col("k"), col("id").as("b")), "k")
      .filter(col("a") < col("b")).select("a", "b").distinct()
    def vec(side: String) = df.select(col("id").as(side),
      col("embedding").as(side + "e"))
    def dot(x: String, y: String) = aggregate(
      zip_with(col(x), col(y), (p, q) => p.cast("double") * q),
      lit(0.0), (acc, v) => acc + v)
    val verified = cand.join(vec("a"), "a").join(vec("b"), "b")
      .filter(dot("ae", "be") /
        sqrt(dot("ae", "ae") * dot("be", "be")) >= cfg.cosThreshold)
    val want = EmbDedupMetrics(
      nRows = df.count(),
      nCandidatePairs = cand.count(),
      nDroppedBuckets = sizes.filter(col("count") > cfg.bucketCap).count(),
      nVerifiedEdges = verified.count(),
      nClusters = assign.select("cluster").distinct().count())
    assert(m == want)
    assert(m.nDroppedBuckets > 0 && m.nVerifiedEdges > 0,
      s"fixture too weak: $m")
    assert(assign.count() == m.nRows)
    // fresh observations per call: a second pass reports the same counts
    assert(EmbDedup.run(spark, df, "id", "embedding", cfg)._2 == m)
    val (_, empty) = EmbDedup.run(spark, df.limit(0), "id", "embedding", cfg)
    assert(empty == EmbDedupMetrics(0, 0, 0, 0, 0), empty.toString)
  }

  test("hot-bucket cap drops mega-buckets and accounts for them") {
    import spark.implicits._
    // 200 IDENTICAL vectors -> every band bucket holds all 200 rows,
    // far over the cap: candidate generation must drop them (counted),
    // not explode into 19900 pairs x bands
    val v = Array.fill(dims)(0.1f)
    val rows = (0L until 200L).map(i => (i, v))
    val df = rows.toDF("id", "embedding")
    val cfg = EmbDedupConfig(dims = dims, bands = 4, bitsPerBand = 12,
      bucketCap = 64)
    val (pairs, m) = EmbDedup.nearDupPairs(spark, df, "id", "embedding", cfg)
    assert(m.nDroppedBuckets == 4, "all 4 band buckets over the cap")
    assert(m.nCandidatePairs == 0)
    assert(pairs.df.count() == 0)
  }

  test("run clusters the verified edges; isolated vectors self-assign") {
    import spark.implicits._
    val rows = clusteredEmbeddings(nClusters = 30, dupsPer = 2,
      jitter = 0.02)
    val cfg = EmbDedupConfig(dims = dims, bands = 16, bitsPerBand = 8,
      cosThreshold = 0.9)
    val (asg, m) = EmbDedup.run(spark, rows.toDF("id", "embedding"),
      "id", "embedding", cfg)
    val byCluster = asg.groupBy("cluster").count()
      .select("count").as[Long].collect()
    assert(asg.count() == rows.size)
    assert(m.nClusters == byCluster.length)
    // every synthetic cluster of 3 should collapse (cos ~0.99 >> 0.9)
    assert(byCluster.count(_ >= 3) >= 28,
      s"expected >=28 full clusters, got ${byCluster.count(_ >= 3)}")
  }

  test("forScale derives band width from corpus size, clamped [8,24]") {
    assert(EmbDedupConfig.forScale(1000L).bitsPerBand == 8)
    assert(EmbDedupConfig.forScale(1000000L).bitsPerBand == 16)
    assert(EmbDedupConfig.forScale(1000000000L).bitsPerBand == 24)
    assert(EmbDedupConfig.forScale(100000000000L).bitsPerBand == 24)
  }
}
