package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{KernelExprs, Kernels}
import graft.kernel.Alphabet
import graft.operators.{ConnectedComponents, DedupConfig, DedupPipeline}
import graft.sources.ClipGen
import graft.spark.Checkpoints

/** `dedup_near`: DedupPipeline.run in its default-argument form over a
  * ClipGen transcript table of (id, transcript). Sketch, candidates and
  * verify do most of a pass.
  */
object DedupNear {
  val Clusters = 2000

  /** Generated input, cached: (id, transcript) for the program plus the
    * generator-truth cluster, which the program never sees. id encodes
    * (cluster, copy) as cluster * 4 + copy (ClipGen makes at most 3 dups).
    */
  def input(spark: SparkSession, seed: Long): DataFrame = {
    val df = ClipGen.transcriptTable(spark, seed, Clusters)
      .select(
        (col("cluster_id") * 4 + substring_index(col("clip_id"), "_", -1)
          .cast("long")).as("id"),
        col("transcript"), col("cluster_id").as("truth"))
      .cache()
    df.count()
    df
  }

  final case class Pass(seconds: Double, assignments: DataFrame,
      pairs: Long, dropped: Long, edges: Long, clusters: Long)

  def pass(spark: SparkSession, in: DataFrame): Pass = {
    val ((asg, m), s) = Util.timed(
      DedupPipeline.run(spark, in.select("id", "transcript"), "id", "transcript"))
    Pass(s, asg, m.nCandidatePairs, m.nDroppedBuckets, m.nVerifiedEdges, m.nClusters)
  }

  /** A timed pass whose assignments are checked against `ref` and then
    * dropped: the checkpoint blocks run() leaves behind for its result are
    * freed, so memory does not grow with the number of passes in a run.
    */
  def checkedPass(spark: SparkSession, in: DataFrame, ref: (Long, String), out: Outcome): Double = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val p = pass(spark, in)
    out.op(checksum(p.assignments) == ref)
    (sc.getPersistentRDDs.keySet -- before).foreach(id => sc.getPersistentRDDs(id).unpersist(false))
    p.seconds
  }

  /** (rows, order-insensitive hash) of an (id, cluster) assignment. */
  def checksum(asg: DataFrame): (Long, String) = Util.resultHash(asg.select("id", "cluster"))

  def recall(asg: DataFrame, in: DataFrame): Double =
    Util.pairRecall(in.select("id", "truth").join(asg, "id"))

  def checkPins(p: Pass, seed: Long, out: Outcome): Unit =
    if (seed == Pins.DefaultSeed) {
      val want = Pins.dedupNear
      val got = Map("candidate_pairs" -> p.pairs, "dropped_buckets" -> p.dropped,
        "verified_edges" -> p.edges, "components" -> p.clusters)
      out.gate("dedup_near.pinned_counts", got == want, s"got $got, pinned $want")
    }

  def untraced(env: Env, out: Outcome): Unit = {
    val (spark, in) = Setup.rounds(out) {
      val spark = Util.session(env.cores)
      (spark, input(spark, env.seed))
    }

    val first = pass(spark, in) // cold pass: JIT and codegen warm-up
    val ref = checksum(first.assignments)
    val r = recall(first.assignments, in)
    out.gate("dedup_near.recall", r >= 0.99, f"recall $r%.5f (>= 0.99)")
    checkPins(first, env.seed, out)

    val times = Util.repeatFor(env.seconds, 5, 50)(_ => checkedPass(spark, in, ref, out))
    val nRows = in.count()
    out.metric("items_per_s", nRows / Util.median(times), "1/s")
    System.err.println(s"[perfbench] dedup_near passes=${times.map(t => f"$t%.3f").mkString(",")} rows=$nRows")
    spark.stop()
  }

  /** One pass at local[1] on the same input; must give the same
    * assignments as the `local[cores]` pass (`ref`). Returns its seconds.
    */
  def localOne(env: Env, ref: (Long, String), out: Outcome): Double = {
    val one = Util.session(1)
    val p1 = pass(one, input(one, env.seed))
    val sum = checksum(p1.assignments)
    out.gate("dedup_near.local1_same_assignments", sum == ref,
      s"local[1] $sum vs local[${env.cores}] $ref")
    one.stop()
    p1.seconds
  }

  /** Traced run: one untraced run() pass, then the same pipeline decomposed
    * into its public stage builders with a span around each phase; the
    * decomposition must reproduce run()'s counts and assignments.
    */
  def traced(spark: SparkSession, env: Env, tr: Tracer, out: Outcome): Unit = {
    val in = input(spark, env.seed)
    pass(spark, in) // warm-up
    val plain = pass(spark, in)
    val plainSum = checksum(plain.assignments)

    val cfg = DedupConfig()
    val K = new Kernels(Alphabet.test)
    val gc0 = Util.gcSeconds()
    val (dropped, asg, cuts) = tr.span("dedup.pass") {
      val (rowsCut, nRows) = tr.span("rows") {
        val c = Checkpoints.cut(in.select(col("id").cast("long").as("id"),
            col("transcript").cast("string").as("text"))
          .withColumn("norm", K.normKey(col("text")))
          .withColumn("nh", xxhash64(col("norm")))
          .withColumn("lc", K.caseClass(col("text")))
          .drop("text"))
        (c, c.df.count())
      }
      val rows = rowsCut.df
      val baseCut = tr.span("sketch") {
        Checkpoints.cut(DedupPipeline.sketchBase(rows, cfg, K))
      }
      val base = baseCut.df
      val dp = spark.sparkContext.defaultParallelism
      val verifyParts = (dp * math.max(1L,
        (nRows + DedupPipeline.verifyBuildRows * dp - 1) /
          (DedupPipeline.verifyBuildRows * dp))).toInt
      val (dropped, candCut) = tr.span("candidates") {
        val dropped = DedupPipeline.candidateKeys(base, cfg).groupBy("k")
          .agg(count(lit(1)).as("n")).filter(col("n") > cfg.bucketCap).count()
        (dropped, Checkpoints.cut(DedupPipeline.candidatePairs(base, cfg)
          .repartition(verifyParts, col("a")).dropDuplicates("a", "b")))
      }
      val (verifiedCut, edgesCut) = tr.span("verify") {
        val v = Checkpoints.cut(DedupPipeline.verifyPairs(candCut.df, base, cfg, K,
          numParts = Some(verifyParts)))
        (v, Checkpoints.cut(v.df.union(DedupPipeline.exactStarEdges(rows))))
      }
      val cc = tr.span("cc") {
        ConnectedComponents.runCut(spark, edgesCut.df, withAllNodes = false,
          edgesMaterialized = true)
      }
      val asg = tr.span("finalize") {
        Checkpoints.cut(rows.select(col("id"))
          .join(cc.df.withColumnRenamed("node", "id").hint("SHUFFLE_HASH"),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))).df
      }
      (dropped, asg, Seq(rowsCut, baseCut, candCut, verifiedCut, edgesCut, cc))
    }
    val gcS = Util.gcSeconds() - gc0
    tr.drain()
    val Seq(_, baseCut, candCut, verifiedCut, edgesCut, _) = cuts
    val pairs = candCut.df.count()
    val verified = verifiedCut.df.count()
    val edges = edgesCut.df.count()
    val sketchRows = baseCut.df.count()
    val clusters = asg.select("cluster").distinct().count()
    val tracedSum = checksum(asg)
    out.gate("dedup_near.trace_reproduces_run",
      pairs == plain.pairs && edges == plain.edges && tracedSum == plainSum,
      s"traced pairs=$pairs edges=$edges sum=$tracedSum; " +
        s"run() pairs=${plain.pairs} edges=${plain.edges} sum=$plainSum")
    checkPins(plain, env.seed, out)
    val r = recall(asg, in)
    out.gate("dedup_near.recall", r >= 0.99, f"recall $r%.5f (>= 0.99)")

    val nsPerPair = kernelNsPerPair(candCut.df, baseCut.df, cfg)
    cuts.foreach(_.release())

    def phase(name: String) = tr.totals(name)
    out.metric("pipeline.s", tr.seconds("dedup.pass"), "s")
    out.metric("pipeline.self_s", tr.selfSeconds("dedup.pass"), "s")
    out.metric("pipeline.driver_gap_s", tr.driverGapSeconds("dedup.pass"), "s")
    out.metric("pipeline.jobs", phase("dedup.pass").jobs, "count")
    out.metric("trace.overhead_s", tr.seconds("dedup.pass") - plain.seconds, "s")
    out.metric("jvm.gc_s", gcS, "s")
    out.metric("rows.s", tr.selfSeconds("rows"), "s")
    out.metric("sketch.s", tr.selfSeconds("sketch"), "s")
    out.metric("sketch.rows_out", sketchRows, "count")
    out.metric("sketch.shuffle_write_bytes", phase("sketch").shuffleWriteBytes, "bytes")
    out.metric("sketch.busy_s", phase("sketch").runMs / 1e3, "s")
    out.metric("candidates.s", tr.selfSeconds("candidates"), "s")
    out.metric("candidates.pairs", pairs, "count")
    out.metric("candidates.dropped_buckets", dropped, "count")
    out.metric("candidates.shuffle_write_bytes", phase("candidates").shuffleWriteBytes, "bytes")
    out.metric("candidates.spill_bytes", phase("candidates").spillBytes, "bytes")
    out.metric("candidates.busy_s", phase("candidates").runMs / 1e3, "s")
    out.metric("verify.s", tr.selfSeconds("verify"), "s")
    out.metric("verify.edges", edges, "count")
    out.metric("verify.accept_ratio", verified.toDouble / math.max(pairs, 1L), "ratio")
    out.metric("verify.shuffle_read_bytes", phase("verify").shuffleReadBytes, "bytes")
    out.metric("verify.task_max_over_median", Util.maxOverMedian(phase("verify").taskMs.toSeq), "ratio")
    out.metric("verify.busy_s", phase("verify").runMs / 1e3, "s")
    out.metric("verify_kernel.ns_per_pair", nsPerPair, "ns")
    out.metric("cc.s", tr.selfSeconds("cc"), "s")
    out.metric("cc.components", clusters, "count")
    out.metric("finalize.s", tr.selfSeconds("finalize"), "s")
    out.metric("dedup_near.recall", r, "ratio")
  }

  /** The verify kernel alone, one thread, over this run's candidate pairs
    * (norms and case classes as the verify join feeds them).
    */
  private def kernelNsPerPair(cand: DataFrame, base: DataFrame, cfg: DedupConfig): Double = {
    val t = base.select(col("id"), col("norm"), col("lc").cast("byte").as("lc"))
    val rows = cand.limit(20000)
      .join(t.toDF("a", "na", "lca"), "a").join(t.toDF("b", "nb", "lcb"), "b")
      .select("na", "nb", "lca", "lcb").collect()
    val na = rows.map(r => UTF8String.fromString(r.getString(0)))
    val nb = rows.map(r => UTF8String.fromString(r.getString(1)))
    val la = rows.map(_.getByte(2))
    val lb = rows.map(_.getByte(3))
    val w = cfg.weights
    def loop(): Long = {
      var acc = 0L
      var i = 0
      while (i < na.length) {
        if (KernelExprs.pairAccept(na(i), nb(i), la(i), lb(i), cfg.maxEditDistance,
          w.ld, w.lcs, w.prefix, w.suffix, w.caseW, cfg.scoreThreshold)) acc += 1
        i += 1
      }
      acc
    }
    (0 until 3).foreach(_ => loop())
    val samples = (0 until 5).map { _ =>
      val (_, s) = Util.timed(loop())
      s * 1e9 / math.max(na.length, 1)
    }
    Util.median(samples)
  }
}
