package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.audio.Wav
import graft.functions.{FastHash, Kernels}
import graft.kernel.Alphabet

/** Resumable, checkpointed clip-dedup job over the input_hint table
  * (clip_id, bytes, sr_hz, dur_ms, codec, transcript).
  *
  * Each stage commits its output through a [[StageStore]] — the explicit
  * Iceberg seam: production swaps in an Iceberg-backed store (snapshot
  * commits), the sandbox uses [[ParquetStageStore]] (parquet + _SUCCESS,
  * same commit-visibility contract). Resume = rerun the job with the same workDir:
  * completed stages whose fingerprint matches are read back, not
  * recomputed. A per-stage,
  * per-partition lineage row (stage, partition, rows) plus stage wall
  * times land in `<workDir>/metrics`.
  *
  * Node ids: clip_id strings are keyed by xxhash64 for the CC stage
  * (64-bit birthday bound is fine to ~10^9 rows; the 10^12 deployment
  * swaps in the 128-bit hash pair — same plan shape, two key columns).
  */
object ClipDedup {

  final case class StageResult(name: String, seconds: Double, rows: Long,
      resumed: Boolean)

  /** A hex SHA-256 of `parts`' strings: a stage's fingerprint. */
  def fingerprint(parts: Seq[Any]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString("\u0000").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Runs the stages of one job; `jobKey` fingerprints what the job's
    * stages depend on besides their own names and columns.
    */
  final class Runner(spark: SparkSession, store: StageStore, jobKey: String = "") {
    val stageLog = scala.collection.mutable.ArrayBuffer.empty[StageResult]

    /** Run-or-resume one stage; always returns the materialized output.
      * A stored stage is only resumed when the fingerprint committed with
      * it is this stage's: the hash of its name, its expected columns and
      * `jobKey`. A stage stored with another config, input or column list
      * is recomputed instead of silently mixing stage semantics.
      * (`expect` is a literal list, NOT derived from the plan: deriving
      * it would force plan construction — and for stages whose builder
      * runs driver actions, the whole computation — on every resume.)
      */
    def stage(name: String, expect: Seq[String])(f: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val key = fingerprint(name +: expect :+ jobKey)
      val stored = store.exists(name)
      val resumed = stored && store.key(name).contains(key)
      if (stored && !resumed)
        System.err.println(s"[clipdedup] stage $name: stored under another " +
          "fingerprint (config, input or columns) — recomputing")
      if (!resumed) store.write(name, f, key)
      val out = store.read(name)
      val rows = out.count()
      stageLog += StageResult(name, (System.nanoTime() - t0) / 1e9, rows, resumed)
      // per-partition lineage row (partition id -> row count) per stage
      store.appendMetrics(
        out.groupBy(spark_partition_id().as("partition"))
          .agg(count(lit(1)).as("rows"))
          .withColumn("stage", lit(name)))
      out
    }
  }

  /** Full job. Returns (assignments(clip_id, cluster_id), stage log).
    *
    * @param wideIds 128-bit id keying (the 10^12-row contract): clip and
    *        exact-group keys become 16-byte `unhex(md5(...))` binaries
    *        instead of xxhash64 longs — expected birthday collisions drop
    *        from ~10^4 (silent false merges at a trillion rows) to ~1e-15.
    *        Every downstream stage (sketch, capped buckets, verify, CC —
    *        including CC's local union-find, which gets a binary-keyed
    *        kernel) is key-type agnostic, so the plans are unchanged in
    *        shape; cluster_id comes out binary.
    *
    * Resume fingerprints each stage with `cfg`, `alphabet`, `wideIds` and
    * the identity of `clips`' input files (sorted paths, lengths and
    * modification times). In-memory inputs have no input files, so for
    * them a rerun resumes whatever the same config stored.
    */
  def run(
      spark: SparkSession,
      clips: DataFrame,
      workDir: String,
      cfg: DedupConfig = DedupConfig(),
      alphabet: Alphabet = Alphabet.test,
      wideIds: Boolean = false
  ): (DataFrame, Seq[StageResult]) = {
    val K = new Kernels(alphabet)
    val conf = spark.sparkContext.hadoopConfiguration
    val inputs = clips.inputFiles.sorted.map { f =>
      val st = new Path(f).getFileSystem(conf).getFileStatus(new Path(f))
      s"$f:${st.getLen}:${st.getModificationTime}"
    }
    val r = new Runner(spark, new ParquetStageStore(spark, workDir),
      fingerprint(Seq(cfg, alphabet, wideIds) ++ inputs))
    def keyOf(c: org.apache.spark.sql.Column) =
      if (wideIds) unhex(md5(c)) else xxhash64(c)

    // ---- stage 1: per-clip normalization (narrow map over the input;
    //      this is the clip_id <-> id <-> norm-hash universe the later
    //      stages and the final assignment join against) ----
    val norms = r.stage("norms",
        Seq("clip_id", "id", "text", "norm", "nh")) {
      clips.select(col("clip_id"), col("transcript"))
        .withColumn("id", keyOf(col("clip_id")))
        .withColumn("text", col("transcript"))
        .withColumn("norm", K.normKey(col("transcript")))
        .withColumn("nh", keyOf(col("norm")))
        .select(col("clip_id"), col("id"), col("text"), col("norm"), col("nh"))
    }

    // ---- stage 2: sketches over DISTINCT norms (exact-dup groups
    //      collapse to their min-id representative BEFORE candidate
    //      generation — identical texts can never pile into an LSH
    //      bucket; shared builder with DedupPipeline) ----
    val sketches = r.stage("sketches",
        Seq("id", "norm", "lc", "len", "sim", "bands", "anakey")) {
      // lc computed per row BEFORE sketchBase's group-by (the norms
      // stage keeps the full text for lineage; the shuffle doesn't)
      DedupPipeline.sketchBase(
        norms.withColumn("lc", K.caseClass(col("text"))), cfg, K)
    }

    // ---- stage 3: candidate pairs (one keyed union over LSH + simhash
    //      + anagram paths -> one count agg -> capped buckets) ----
    val candidates = r.stage("candidates", Seq("a", "b")) {
      DedupPipeline.candidatePairs(sketches, cfg).distinct()
    }

    // ---- stage 4: verified edges (kernel score on candidates + exact
    //      star edges + optional containment pass) ----
    val edges = r.stage("edges", Seq("src", "dst")) {
      // memory-derived verify partitioning (see
      // [[CappedPairs.verifyParts]]), from the row count the sketches
      // stage already logged
      val nSk = r.stageLog.find(_.name == "sketches").get.rows
      val vParts = CappedPairs.verifyParts(spark, nSk,
        DedupPipeline.verifyBuildRows)
      val verified = DedupPipeline.verifyPairs(
        candidates.repartition(vParts, col("a")), sketches, cfg, K,
        numParts = Some(vParts))
      val exact = DedupPipeline.exactStarEdges(norms)
      val withSub =
        if (cfg.substringMinLen > 0)
          verified.union(DedupPipeline.containmentEdges(sketches, cfg))
        else verified
      withSub.union(exact).distinct()
    }

    // ---- stage 5: clusters ----
    var ccCut: graft.spark.Checkpoints.Cut = null
    val clusters = r.stage("clusters", Seq("clip_id", "cluster_id")) {
      ccCut = ConnectedComponents.runCut(spark, edges, withAllNodes = false,
        edgesMaterialized = true) // edges = stage parquet, already on disk
      norms.select(col("clip_id"), col("id")) // SHUFFLE_HASH: sort-free
        .join(ccCut.df.withColumnRenamed("node", "id").hint("SHUFFLE_HASH"),
          Seq("id"), "left")
        .select(col("clip_id"),
          coalesce(col("component"), col("id")).as("cluster_id"))
    }
    if (ccCut != null) ccCut.release()

    (clusters, r.stageLog.toSeq)
  }

  /** Per-row audio invariant (input_hint): decoded PCM of a clip claimed
    * duplicate must be allclose to its cluster canonical — SNR >= 30 dB.
    * Distributed check over exact-duplicate groups; returns violations.
    */
  def audioInvariantViolations(
      spark: SparkSession,
      clips: DataFrame,
      assignments: DataFrame,
      sampleFraction: Double = 1.0
  ): DataFrame = {
    val snrOk = udf { (refBytes: Array[Byte], testBytes: Array[Byte]) =>
      val (ref, srA) = Wav.decode(refBytes)
      val (test, srB) = Wav.decode(testBytes)
      srA == srB && ref.length == test.length && Wav.snrDb(ref, test) >= 30.0
    }
    val withCluster = clips.join(assignments, Seq("clip_id"))
    val sampled = if (sampleFraction >= 1.0) withCluster
      else withCluster.sample(withReplacement = false, sampleFraction, 42L)
    // cluster canonical = row with the min clip_id, elected by min_by
    // aggregation (map-side partial, shuffle-light) — a row_number window
    // here would sort a pathological mega-cluster in one task
    val canon = withCluster
      .groupBy(col("cluster_id"))
      .agg(min_by(
        struct(col("bytes"), col("sr_hz"), col("dur_ms")),
        col("clip_id")).as("c"))
      .select(col("cluster_id"), col("c.bytes").as("canon_bytes"),
        col("c.sr_hz").as("canon_sr"), col("c.dur_ms").as("canon_dur"))
    sampled.join(canon, Seq("cluster_id"))
      .filter(col("sr_hz") === col("canon_sr") && col("dur_ms") === col("canon_dur"))
      .filter(!snrOk(col("canon_bytes"), col("bytes")))
      .select(col("clip_id"), col("cluster_id"))
  }
}
