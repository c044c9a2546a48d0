package graft.tools

import org.apache.spark.sql.SparkSession

import graft.kernel.{Alphabet, SearchParameters}
import graft.operators.VariantMatcher

/** Spark variant-matcher throughput at one parallelism level — the
  * child-JVM worker of graft.Bench's matcher phase (broadcast-once
  * steady state, directly comparable to the reference's published
  * items/sec). Adaptive timed repeats as in DedupStageBench; emits a
  * machine-readable RESULT line on stdout.
  *
  * Usage: runMain graft.tools.MatcherSparkBench <cpus> <lexSize> <nQueries>
  */
object MatcherSparkBench {
  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val lexSize = if (args.length > 1) args(1).toInt else 120000
    val nQueries = if (args.length > 2) args(2).toInt else 150000
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-matcher-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      val rng = new scala.util.Random(7L)
      val lexicon = (0 until lexSize).map { _ =>
        val len = 4 + rng.nextInt(9)
        (String.valueOf(Array.fill(len)(('a' + rng.nextInt(26)).toChar)),
          None: Option[Long])
      }.distinct
      val model = VariantMatcher.buildModel(Alphabet.simpleLatin, lexicon)
      val queries = (0 until nQueries).map { i =>
        graft.sources.SyntheticText.corrupt(rng,
          lexicon(rng.nextInt(lexicon.size))._1, 1 + (i % 2))
      }
      // tasks ≫ cores (4 waves) so per-query cost variance can't
      // straggle a level: with one task per core a single heavy
      // partition sets the wall clock; 4 waves let the scheduler
      // rebalance.
      val parts = math.max(cpus * 4, 4)
      val qdf = queries.toDF("query").repartition(parts).cache()
      qdf.count()
      val params = SearchParameters()
      // steady state: model broadcast ONCE (as in production); a warmup
      // batch pulls the broadcast, compiles codegen and JITs the kernel
      val matcher = VariantMatcher.broadcastMatcher(spark, model)
      matcher(qdf.limit(5000), params)
        .write.format("noop").mode("overwrite").save()
      val maxReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
      val minReps = math.min(maxReps,
        sys.env.getOrElse("SPARK_GRAFT_BENCH_MIN_REPS", "2").toInt)
      val deadlineSec = sys.env
        .getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "1e9").toDouble
      // same convergence-aware rep driver + per-rep host-window
      // calibration as the dedup children (see DedupStageBench.timedReps):
      // the matcher level gets suspect flags + symmetric escalation in
      // Bench too, and those need the probe beside the reps
      val (times, calibs) = DedupStageBench.timedReps(
        minReps, maxReps, deadlineSec, "matcher-phase") { rep =>
        val t0 = System.nanoTime()
        matcher(qdf, params).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[matcher-phase] rep$rep $dt%.2fs cpus=$cpus")
        dt
      }
      println(f"RESULT matcher min=${times.min}%.3f " +
        s"reps=${times.map(t => f"$t%.3f").mkString(",")} " +
        s"calib=${calibs.map(c => f"$c%.3f").mkString(",")} " +
        s"queries=$nQueries cpus=$cpus")
    } finally spark.stop()
  }
}
