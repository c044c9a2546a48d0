package graft.operators

import graft.SparkSpecBase
import graft.kernel._
import graft.sources.SyntheticText

class ConnectedComponentsSpec extends SparkSpecBase {
  import spark.implicits._

  // both physical strategies must produce identical assignments: the
  // one-task union-find kernel (small edge sets) and the distributed
  // large/small-star loop (forced via localKernelMaxEdges = 0)
  def bothPaths(edges: org.apache.spark.sql.DataFrame): Seq[Map[Long, Long]] =
    Seq(ConnectedComponents.runCut(spark, edges),
      ConnectedComponents.runCut(spark, edges, localKernelMaxEdges = 0L))
      .map(_.df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)

  test("chains, triangles, singletons and merges resolve to min-id components") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), // chain -> 1
      (10L, 11L), (11L, 10L), (10L, 10L), // dup/self edges -> 10
      (20L, 21L), (22L, 21L), (22L, 20L), // triangle -> 20
      (30L, 31L), (32L, 33L), (31L, 32L) // merged chain -> 30
    ).toDF("src", "dst")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L)
    bothPaths(edges).foreach(got => assert(got == expected))
  }

  test("long path converges (log-round behavior)") {
    val n = 200
    val edges = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("src", "dst")
    bothPaths(edges).foreach { got =>
      assert(got.size == n)
      assert(got.values.forall(_ == 0L))
    }
  }

  test("loop path resumes MID-LOOP from persisted rounds") {
    // driver-restart story: run the loop with a resume key but stop after
    // one round (simulated crash), then run again — the second run must
    // seed from the persisted round instead of recomputing it, and still
    // converge to the right answer
    val dir = java.nio.file.Files.createTempDirectory("graft-ccr").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val edges = (0 until 63).map(i => (i.toLong, (i + 1).toLong))
        .toDF("src", "dst")
      // "crashed" run: only round 1 completes
      ConnectedComponents.runCut(spark, edges, localKernelMaxEdges = 0L,
        maxIterations = 1, resumeKey = Some("t1")).release()
      val round1 = new java.io.File(s"$dir/cc-t1/round-1")
      assert(round1.exists(), "round-1 not persisted")
      val mtime = round1.listFiles().map(_.lastModified()).max
      Thread.sleep(1100)
      // resumed run: completes from round 1
      val got = ConnectedComponents.runCut(spark, edges,
        localKernelMaxEdges = 0L, resumeKey = Some("t1"))
        .df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 64 && got.values.forall(_ == 0L))
      val mtime2 = round1.listFiles().map(_.lastModified()).max
      assert(mtime2 == mtime, "round-1 was recomputed on resume")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("loop path resumes from a reliable checkpoint dir") {
    // reliable-checkpoint mode (spark.graft.checkpointDir): each round's
    // edges land on the fault-tolerant FS instead of executor storage, so
    // an executor loss replays from the last committed round. Here we
    // verify the mode end-to-end: files appear under the dir and the
    // assignment is unchanged.
    val dir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val edges = (0 until 63).map(i => (i.toLong, (i + 1).toLong))
        .toDF("src", "dst")
      val got = ConnectedComponents
        .runCut(spark, edges, localKernelMaxEdges = 0L)
        .df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 64 && got.values.forall(_ == 0L))
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty, "no reliable checkpoint files written")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
    }
  }
}

/** End-to-end dedup: recover ground-truth clusters from a corrupted
  * corpus, and agree with the reference-semantics matcher's assignment
  * (the north rule's recall >= 0.99 criterion, small scale).
  */
class DedupPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  lazy val corpus: Vector[SyntheticText.Doc] =
    SyntheticText.corpus(seed = 42, nClusters = 120, maxDups = 3, maxEdits = 2)

  lazy val cfg: DedupConfig = DedupConfig()

  lazy val result: (org.apache.spark.sql.DataFrame, DedupMetrics) = {
    val df = corpus.map(d => (d.id, d.text)).toDF("id", "text")
    DedupPipeline.run(spark, df, "id", "text", cfg)
  }

  def truePairs: Set[(Long, Long)] =
    corpus.groupBy(_.clusterId).values.flatMap { docs =>
      for (a <- docs; b <- docs if a.id < b.id) yield (a.id, b.id)
    }.toSet

  def predictedPairs(assign: Map[Long, Long]): Set[(Long, Long)] =
    assign.toSeq.groupBy(_._2).values.flatMap { members =>
      val ids = members.map(_._1).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet

  test("ground-truth recovery is sane (informational floor)") {
    // The north-rule criterion is agreement with the REFERENCE matcher
    // (next test). Ground truth includes pairs beyond the configured
    // score threshold (2-edit corruptions of short phrases score < 0.7),
    // which the reference itself does not link at this config — so this
    // is a sanity floor, not the parity gate.
    val (assignDf, metrics) = result
    val assign = assignDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign.size == corpus.size)
    val tp = truePairs
    val pp = predictedPairs(assign)
    val recall = (tp & pp).size.toDouble / tp.size
    val precision = if (pp.isEmpty) 1.0 else (tp & pp).size.toDouble / pp.size
    info(s"ground-truth recall=$recall precision=$precision metrics=$metrics")
    assert(recall >= 0.6, s"ground-truth recall $recall < 0.6")
    assert(precision >= 0.85, s"precision $precision < 0.85")
  }

  test("substring pass links containment dups the DL verify rejects") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "quick brown fox jumps over"), // strict substring of 1
      (3L, "an entirely different transcript about ships and harbors"),
      (4L, "short one") // above no probe (too short w/ minLen 12)
    ).toDF("id", "text")
    // off (default): the big length gap defeats the DL kernel -> no link
    val (offAssign, _) = DedupPipeline.run(spark, docs, "id", "text",
      DedupConfig())
    val off = offAssign.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(off(2L) != off(1L))
    // on: min-shingle anchor meets the pair, instr verifies containment
    val (onAssign, _) = DedupPipeline.run(spark, docs, "id", "text",
      DedupConfig(substringMinLen = 12))
    val on = onAssign.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(on(2L) == on(1L))
    assert(on(3L) != on(1L))
    assert(on(4L) != on(1L))
  }

  test("suffix-array host verification agrees with a naive instr computation") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    // hosts > 64 chars with >= 4 probes each trigger the suffix-array
    // branch of the per-host verifier; shorter/lighter groups take the
    // direct-scan branch — both must equal the naive per-pair answer
    val hostA = "the quick brown fox jumps over the lazy dog while " +
      "the band plays a slow waltz in the harbor tonight"
    val hostB = "ships and harbors and lighthouses mark the northern " +
      "coastline where fishermen mend their nets at dawn"
    val probesA = Seq("quick brown fox", "lazy dog while", "slow waltz in the",
      "harbor tonight", "band plays")
    val probesB = Seq("lighthouses mark", "northern coastline",
      "mend their nets", "fishermen")
    val decoys = Seq("completely unrelated phrase one",
      "another absent probe text")
    val docs = ((hostA +: probesA) ++ (hostB +: probesB) ++ decoys)
      .zipWithIndex.map { case (t, i) => (i.toLong + 1L, t) }.toDF("id", "text")
    val cfg2 = DedupConfig(substringMinLen = 6)
    val K = new graft.functions.Kernels(Alphabet.test)
    val base = DedupPipeline.sketchBase(
      docs.select(col("id"), col("text"))
        .withColumn("norm", K.normKey(col("text")))
        .withColumn("nh", xxhash64(col("norm")))
        .withColumn("lc", K.caseClass(col("text"))), cfg2, K)
    val got = DedupPipeline.containmentEdges(base, cfg2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // naive oracle over the normalized texts
    val norms = base.select("id", "norm").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val want = (for {
      (a, na) <- norms; (b, nb) <- norms
      if a != b && na.length >= 6 && na.length < nb.length && nb.contains(na)
    } yield (math.min(a, b), math.max(a, b))).toSet
    assert(want.nonEmpty && want.size >= 9, s"fixture too weak: $want")
    assert(got == want)
  }

  test("observed metrics equal counts computed with plain DataFrame jobs") {
    import org.apache.spark.sql.functions._
    // one fixture with every counter live: exact-duplicate texts, a
    // family of one-edit variants whose shared band keys overflow a
    // small bucketCap, a containment pair for the substring pass, and
    // 128-bit binary ids
    val family = (1 to 6).map(i =>
      s"the harbor lights flicker over the quiet water number $i")
    val texts = corpus.map(_.text) ++ corpus.take(8).map(_.text) ++
      family ++ Seq(
        "a long transcript about lighthouses along the northern coast",
        "lighthouses along the northern")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("n", "text")
      .select(unhex(lpad(hex(col("n")), 32, "0")).as("id"), col("text"))
    val cfg2 = DedupConfig(bucketCap = 3, substringMinLen = 12)
    val (assign, m) = DedupPipeline.run(spark, df, "id", "text", cfg2)

    val K = new graft.functions.Kernels(Alphabet.test)
    val rows = df.select(col("id"), col("text"))
      .withColumn("norm", K.normKey(col("text")))
      .withColumn("nh", unhex(md5(col("norm"))))
      .withColumn("lc", K.caseClass(col("text")))
      .drop("text")
    val base = DedupPipeline.sketchBase(rows, cfg2, K)
    val candidates = DedupPipeline.candidatePairs(base, cfg2).distinct()
    val edges = DedupPipeline.verifyPairs(candidates, base, cfg2, K)
      .union(DedupPipeline.exactStarEdges(rows))
      .union(DedupPipeline.containmentEdges(base, cfg2))
    val want = DedupMetrics(
      nRows = df.count(),
      nExactGroups = rows.groupBy("nh").count()
        .filter(col("count") > 1).count(),
      nCandidatePairs = candidates.count(),
      nDroppedBuckets = DedupPipeline.candidateKeys(base, cfg2)
        .groupBy("k").count().filter(col("count") > cfg2.bucketCap).count(),
      nVerifiedEdges = edges.count(),
      nClusters = assign.select("cluster").distinct().count())
    assert(m == want)
    assert(m.nExactGroups > 0 && m.nDroppedBuckets > 0, s"fixture too weak: $m")
    assert(assign.count() == m.nRows)
    // fresh observations per call: a second pass reports the same counts
    assert(DedupPipeline.run(spark, df, "id", "text", cfg2)._2 == m)
  }

  test("inputs with no candidate buckets still count every metric") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    // bucketCap = 1 drops every shared bucket: adaptive execution then
    // skips the empty hot-key broadcast and its observation, yet the
    // overflow is still counted
    val docs = ((1 to 5).map(i => (i.toLong, "the same phrase again")) ++
      Seq((8L, "the quick brown fox jumps over the dog"),
        (9L, "the quick brown fox jumped over the dog"))).toDF("id", "text")
    val cfg1 = DedupConfig(bucketCap = 1)
    val (_, m) = DedupPipeline.run(spark, docs, "id", "text", cfg1)
    val K = new graft.functions.Kernels(Alphabet.test)
    val base = DedupPipeline.sketchBase(docs
      .withColumn("norm", K.normKey(col("text")))
      .withColumn("nh", xxhash64(col("norm")))
      .withColumn("lc", K.caseClass(col("text"))), cfg1, K)
    val dropped = DedupPipeline.candidateKeys(base, cfg1).groupBy("k")
      .count().filter(col("count") > 1).count()
    assert(dropped > 0)
    assert(m == DedupMetrics(7, 1, 0, dropped, 4, 3), m.toString)
    val (_, empty) = DedupPipeline.run(spark, docs.limit(0), "id", "text")
    assert(empty == DedupMetrics(0, 0, 0, 0, 0, 0), empty.toString)
  }

  /** The executed plans of the queries `body` runs, in completion order. */
  def executedPlans(body: => Unit)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive asynchronously but in order: once a
      // marker query's plan is in, so are the body's
      spark.range(1).selectExpr("id AS plans_marker").collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def marked = plans.stream().anyMatch(_.toString.contains("plans_marker"))
      while (!marked && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[org.apache.spark.sql.execution.SparkPlan])
      .toSeq.filterNot(_.toString.contains("plans_marker"))
  }

  object planHelper
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** The dedup_near input (ClipGen seed 1, 2,000 clusters), cached. */
  lazy val nearInput: org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, substring_index}
    val in = graft.sources.ClipGen.transcriptTable(spark, 1L, 2000)
      .select((col("cluster_id") * 4 + substring_index(col("clip_id"), "_", -1)
        .cast("long")).as("id"), col("transcript"))
      .cache()
    in.count()
    in
  }

  test("run()'s edge cut fuses the candidate dedup with verify join 1") {
    import org.apache.spark.sql.execution.exchange.Exchange
    var m: DedupMetrics = null
    val plans = executedPlans {
      m = DedupPipeline.run(spark, nearInput, "id", "transcript")._2
    }
    assert(m.nCandidatePairs == 35998 && m.nVerifiedEdges == 4540, m)
    val verify = plans.filter(_.toString.contains("pair_accept("))
    assert(verify.size == 1, s"${verify.size} plans run the verify kernel")
    // count agg, hot-key broadcast, bucket collect, the a-keyed dedup
    // that is also join 1's pair-side exchange, join 1's text side (which
    // join 2's text side reuses) and join 2's pair side: a dedup split
    // from join 1 adds one. The exact-star edges read the front cut
    // without an exchange.
    val exchanges = planHelper.collect(verify.head) { case e: Exchange => e }
    assert(exchanges.size == 6, verify.head.toString)
  }

  /** The number of jobs `body` starts. */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = "graft.spec.jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marked = new java.util.concurrent.atomic.AtomicBoolean
    // jobs inherit the starting thread's local properties, including the
    // broadcast and query-stage jobs adaptive execution starts for it
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)) match {
          case Some("body")   => jobs.incrementAndGet()
          case Some("marker") => marked.set(true)
          case _              =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      body
      // listener events arrive asynchronously but in order: once the
      // marker job's start is in, so are the body's
      sc.setLocalProperty(tag, "marker")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!marked.get && System.nanoTime() < deadline) Thread.sleep(20)
      assert(marked.get, "the marker job's start never arrived")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("a run() pass takes at most 12 jobs") {
    // one windowed front cut serves the rows, the sketch base and the
    // exact-star edges, and the clustering takes the edge count the edge
    // cut observed: 16 jobs before both
    var m: DedupMetrics = null
    val jobs = jobsOf {
      m = DedupPipeline.run(spark, nearInput, "id", "transcript")._2
    }
    assert(m == DedupMetrics(5062, 21, 35998, 356, 4540, 2000), m)
    assert(jobs <= 12, s"$jobs jobs")
  }

  test("verifyPairs skips join 2's pair-side exchange at one partition") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val K = new graft.functions.Kernels(Alphabet.test)
    val base = DedupPipeline.sketchBase(corpus.map(d => (d.id, d.text))
      .toDF("id", "text")
      .withColumn("norm", K.normKey(col("text")))
      .withColumn("nh", xxhash64(col("norm")))
      .withColumn("lc", K.caseClass(col("text"))), cfg, K)
    val candidates = DedupPipeline.candidatePairs(base, cfg)
    // the shuffle origins of every exchange, and the edges, of a verify
    // whose candidates come from run()'s a-keyed dedup at `parts`
    def verify(parts: Int): (Seq[String], Set[(Long, Long)]) = {
      val df = DedupPipeline.verifyPairs(
        candidates.repartition(parts, col("a")).dropDuplicates("a", "b"),
        base, cfg, K, numParts = Some(parts))
      val edges = df.as[(Long, Long)].collect().toSet
      (planHelper.collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e.shuffleOrigin.toString
      }, edges)
    }
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "1") // the session of a one-core run
    try {
      val (onePlan, one) = verify(1)
      val (fourPlan, four) = verify(4)
      // one partition already satisfies join 2's distribution: the only
      // explicit repartition is the candidate dedup's, and no exchange
      // takes the place of the one skipped
      assert(onePlan.count(_ == "REPARTITION_BY_NUM") == 1, onePlan)
      assert(fourPlan.count(_ == "REPARTITION_BY_NUM") == 2, fourPlan)
      assert(onePlan.size == fourPlan.size - 1, (onePlan, fourPlan))
      assert(one.nonEmpty && one == four)
    } finally spark.conf.set(key, saved)
  }

  test("agrees with the reference-semantics matcher's cluster assignment") {
    // reference path: match every doc against the canonical lexicon with
    // the LocalVariantModel (pinned to the reference's unit tests);
    // cluster = best-match canonical
    val canon = corpus.filter(_.isCanonical)
    val model = VariantMatcher.buildModel(Alphabet.test,
      canon.map(c => (c.text, None)))
    val params = SearchParameters(
      maxAnagramDistance = DistanceThreshold.Absolute(3),
      maxEditDistance = DistanceThreshold.Absolute(3),
      maxMatches = 1, scoreThreshold = cfg.scoreThreshold,
      cutoffThreshold = 0.0)
    val canonIdByText = canon.map(c => c.text -> c.id).toMap
    val refAssign: Map[Long, Long] = corpus.map { d =>
      val rs = model.findVariants(d.text, params)
      val cluster = rs.headOption
        .map(r => canonIdByText(model.text(r.vocabId)))
        .getOrElse(d.id)
      d.id -> cluster
    }.toMap

    val (assignDf, _) = result
    val ourAssign = assignDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val refPairs = predictedPairs(refAssign)
    val ourPairs = predictedPairs(ourAssign)
    val recall = if (refPairs.isEmpty) 1.0
      else (refPairs & ourPairs).size.toDouble / refPairs.size
    info(s"reference-pair recall=$recall (${refPairs.size} ref pairs)")
    assert(recall >= 0.99, s"recall vs reference assignment $recall < 0.99")
  }
}
