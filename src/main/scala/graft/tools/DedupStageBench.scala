package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{DedupConfig, DedupMetrics, DedupPipeline}
import graft.sources.ClipGen

/** Strong-scaling diagnosis harness: run the dedup pipeline once at a
  * given core count. The per-phase split (rows, sketch, candidates,
  * verify, cc, finalize) comes from the traced benchmark run,
  * `python3 perfbench/run.py --workload dedup_near --trace 1`. Every
  * timed rep also returns the pipeline's stage counters, which
  * `Dataset.observe` collects on the jobs the pass already runs; the
  * RESULT line reports the last rep's as the guard values.
  * Usage: runMain graft.tools.DedupStageBench <cpus> <nClusters>
  */
object DedupStageBench {

  /** Fixed-work memory-bandwidth calibration: a STREAM-triad-like pass
    * (a(i) = b(i) + 3*c(i)) over 3 x 4M-long arrays per thread,
    * `threads` threads, 24 timed passes after 1 warm pass. The work is
    * deterministic and independent of the benchmark input, so its wall
    * time calibrates the HOST WINDOW: the sandbox VM's multi-core
    * throughput swings up to ~2.5x on 10-30 min episodes (hypervisor
    * neighbors on the shared memory bus — measured 106 s vs 245 s for
    * the identical 4-core dedup rep 90 min apart), and echoing this
    * number beside each rep makes a degraded window visible IN the
    * artifact instead of being an after-the-fact claim.
    *
    * Sizing: 3 x 32 MB per thread (~0.77 GiB total at 8 threads — small
    * enough to never pressure a clip-cache-resident 8 GiB child heap,
    * large enough that the 96 MB/thread working set can't sit in L3) x
    * 24 passes = the same ~18 GB of bus traffic as the original
    * 3-GiB-footprint probe, so the reading stays a bus-saturation
    * measure. Re-measured after the resize (2026-08-18, BASELINE.md):
    * quiet floor 0.21-0.22 s at 8 threads (11 samples over ~6 min);
    * a degradation episode that started during the measurement read
    * 0.42/0.81 s — the 2x-quiet gate Bench uses separates the two
    * cleanly. The arrays are allocated per call and dropped — pre/post
    * probes never hold 3 GiB concurrently with timed reps.
    *
    * Callers pass a FIXED thread count (8, not the child's core count):
    * the probe must SATURATE the shared bus to feel what a multi-core
    * Spark stage feels — per-level threading measured 0.22 s at 4
    * threads in the same window where the 4-core dedup rep ran 2-4x
    * inflated (under-threaded streaming is concurrency-bound, not
    * bandwidth-bound) — and a fixed count keeps the number comparable
    * across the lo/hi/peak children.
    */
  def bandwidthCalib(threads: Int): Double = {
    val n = 4 << 20
    val workers = (0 until threads).map { _ =>
      new Thread {
        val a = new Array[Long](n)
        val b = new Array[Long](n)
        val c = new Array[Long](n)
        var sink = 0L
        private def pass(): Unit = {
          var i = 0
          while (i < n) { a(i) = b(i) + 3 * c(i); i += 1 }
          sink += a(n - 1)
        }
        pass() // fault + warm
        var calibSec = 0.0
        override def run(): Unit = {
          val t0 = System.nanoTime()
          var r = 0
          while (r < 24) { pass(); r += 1 }
          calibSec = (System.nanoTime() - t0) / 1e9
        }
      }
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    workers.map(_.calibSec).max
  }

  /** Convergence-aware timed-rep driver shared by the bench children
    * (dedup + matcher). Samples at least `minReps`; past that it keeps
    * sampling only while the series has NOT converged on a floor —
    * the last rep either improved the best by >10% (the JIT tail: on
    * this workload the first 1-2 full-size passes run 1.8-2.2x even
    * after a pipeline-shape warmup, and C2 keeps compiling through
    * them) or read >1.3x the best (a host noise burst — the old rule
    * stopped exactly when noise hit, which is when the floor needs
    * MORE samples, not fewer). Bounded twice, both metric-blind: a
    * rep-count cap (`maxReps`) and a wall-clock deadline over the
    * TIMED section (`deadlineSec`; a rep started before the deadline
    * may finish past it — callers budget deadline + one rep). The rule
    * is identical at every parallelism level, so adaptive sampling
    * tightens each level's min toward its true time symmetrically.
    *
    * A calibration probe runs before the first rep and after EVERY rep
    * (pre, after-rep-1, ..., after-rep-n) so each rep in the artifact
    * is bracketed by host-window evidence, not just the child as a
    * whole (run I: a 424.8 s rep sat between two quiet per-child
    * calibs 10 minutes apart and was indistinguishable from signal).
    *
    * Returns (rep times, calib times).
    */
  def timedReps(minReps: Int, maxReps: Int, deadlineSec: Double,
      label: String)(rep: Int => Double): (Seq[Double], Seq[Double]) = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val calibs = scala.collection.mutable.ArrayBuffer.empty[Double]
    calibs += bandwidthCalib(8)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var continue = true
    while (continue) {
      val prevBest = if (times.isEmpty) Double.MaxValue else times.min
      val dt = rep(times.length + 1)
      times += dt
      calibs += bandwidthCalib(8)
      val improving = dt < prevBest * 0.90
      val burst = times.length > 1 && dt > times.min * 1.30
      continue = times.length < minReps ||
        (times.length < maxReps && (improving || burst) &&
          elapsed < deadlineSec)
      if (!continue && times.length < maxReps && elapsed >= deadlineSec &&
          (improving || burst))
        System.err.println(f"[$label] deadline ${deadlineSec}%.0fs hit " +
          f"after ${times.length} reps (elapsed $elapsed%.1fs)")
    }
    (times.toSeq, calibs.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val n = args(1).toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // native kernel expressions (codegen'd pair_score_max on the
      // verify stage — the largest single phase at 1 core)
      .config("spark.sql.extensions", graft.spark.GraftExtensions.name)
      // tmpfs shuffle: the candidate stages are shuffle-volume-bound; on
      // the shared VM disk they cap at ~1.4x speedup from 4x cores (the
      // cluster equivalent is NVMe shuffle volumes)
      .config("spark.local.dir", "/dev/shm/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // warmup at a realistic size: tiny warmups leave AQE on different
      // plan shapes and the kernel half-JITted (first timed rep measured
      // 1.7-2.7x slower after a 300-cluster warmup)
      val warmClusters =
        if (args.length > 2) args(2).toInt else math.max(300, n / 8)
      val warm = ClipGen.transcriptTable(spark, 1L, warmClusters)
        .select(xxhash64(col("clip_id")).as("id"), col("transcript"))
      DedupPipeline.run(spark, warm, "id", "transcript", DedupConfig())._1
        .write.format("noop").mode("overwrite").save()
      val clips = ClipGen.transcriptTable(spark, 42L, n)
        .select(xxhash64(col("clip_id")).as("id"), col("transcript")).cache()
      val total = clips.count()
      // convergence-aware timed repeats, min taken — see [[timedReps]]
      val maxReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
      val minReps =
        math.min(maxReps, sys.env.getOrElse("SPARK_GRAFT_BENCH_MIN_REPS", "2").toInt)
      val deadlineSec = sys.env
        .getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "1e9").toDouble
      // the guard counters (dropped buckets, candidate/verified pairs,
      // clusters) are observed by the pass's own jobs, so every timed
      // rep carries them at no cost; the last rep's are reported
      var metrics: DedupMetrics = null
      val (times, calibs) =
        timedReps(minReps, maxReps, deadlineSec, "dedup-phase") { rep =>
          val t0 = System.nanoTime()
          val (assignments, m) = DedupPipeline.run(spark, clips, "id",
            "transcript", DedupConfig())
          assignments.write.format("noop").mode("overwrite").save()
          metrics = m
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(
            f"[dedup-phase] rep$rep $dt%.2fs clips=$total cpus=$cpus")
          dt
        }
      System.err.println(s"[dedup-phase] $metrics")
      System.err.println(
        f"[dedup-phase] TOTAL ${times.min}%.2fs clips=$total cpus=$cpus " +
          s"calib=${calibs.map(c => f"$c%.2f").mkString("/")}")
      // machine-readable line for the Bench orchestrator (child-JVM mode)
      println(f"RESULT dedup min=${times.min}%.3f " +
        s"reps=${times.map(t => f"$t%.3f").mkString(",")} " +
        s"calib=${calibs.map(c => f"$c%.3f").mkString(",")} " +
        s"clips=$total cpus=$cpus" +
        s" dropped=${metrics.nDroppedBuckets} cand=${metrics.nCandidatePairs}" +
        s" verified=${metrics.nVerifiedEdges} clusters=${metrics.nClusters}")
    } finally spark.stop()
  }
}
