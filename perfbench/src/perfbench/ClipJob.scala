package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ClipDedup
import graft.sources.ClipGen

/** `clip_job`: the checkpointed ClipDedup.run job over the input_hint
  * table without PCM bytes, written once to parquet in set-up. Each
  * operation is a fresh run (every stage committed through the parquet
  * stage store, counted and lineage-logged) followed by a resume that
  * reads all five stages back.
  */
object ClipJob {
  val Clusters = 2000
  val Stages = Seq("norms", "sketches", "candidates", "edges", "clusters")

  /** Writes the generated clip table to `dir`; returns the generator
    * truth (clip_id, truth), cached.
    */
  def writeInput(spark: SparkSession, seed: Long, dir: String): DataFrame = {
    val t = ClipGen.transcriptTable(spark, seed, Clusters).cache()
    t.select("clip_id", "sr_hz", "dur_ms", "codec", "transcript")
      .write.mode("overwrite").parquet(dir)
    val truth = t.select(col("clip_id"), col("cluster_id").as("truth")).cache()
    truth.count()
    t.unpersist()
    truth
  }

  final case class Run(freshS: Double, resumeS: Double,
      fresh: Seq[ClipDedup.StageResult], resume: Seq[ClipDedup.StageResult],
      stageBytes: Map[String, Long], writtenBytes: Long,
      freshSum: (Long, String), resumeSum: (Long, String), assignments: DataFrame)

  /** A fresh run into an empty `jobDir`, then a resume from it. */
  def once(spark: SparkSession, inDir: String, jobDir: String,
      tr: Option[Tracer] = None): Run = {
    def span[T](name: String)(body: => T): T = tr.fold(body)(_.span(name)(body))
    Util.deleteDir(jobDir)
    val clips = spark.read.parquet(inDir)
    val ((fa, fl), fs) = span("clip_job.fresh")(Util.timed(ClipDedup.run(spark, clips, jobDir)))
    val stageBytes = Stages.map(s => s -> Util.dirBytes(s"$jobDir/$s")).toMap
    val written = Util.dirBytes(jobDir)
    val ((ra, rl), rs) = span("clip_job.resume")(Util.timed(ClipDedup.run(spark, clips, jobDir)))
    Run(fs, rs, fl, rl, stageBytes, written,
      Util.resultHash(fa), Util.resultHash(ra), fa)
  }

  def check(r: Run, out: Outcome): Unit = {
    out.gate("clip_job.resume_all_stages", r.resume.forall(_.resumed) &&
      r.resume.map(_.name) == Stages && r.fresh.forall(!_.resumed),
      s"fresh ${r.fresh.map(s => s.name -> s.resumed)}, resume ${r.resume.map(s => s.name -> s.resumed)}")
    out.gate("clip_job.resume_same_assignments", r.freshSum == r.resumeSum,
      s"fresh ${r.freshSum} vs resume ${r.resumeSum}")
  }

  def checkFirst(r: Run, truth: DataFrame, seed: Long, out: Outcome): Double = {
    check(r, out)
    val rec = Util.pairRecall(truth.join(
      r.assignments.withColumnRenamed("cluster_id", "cluster"), "clip_id"))
    out.gate("clip_job.recall", rec >= 0.99, f"recall $rec%.5f (>= 0.99)")
    if (seed == Pins.DefaultSeed) {
      val rows = r.fresh.map(s => s.name -> s.rows).toMap
      out.gate("clip_job.pinned_stage_rows", rows == Pins.clipJobRows,
        s"got $rows, pinned ${Pins.clipJobRows}")
      out.gate("clip_job.pinned_stage_bytes", r.stageBytes == Pins.clipJobBytes,
        s"got ${r.stageBytes}, pinned ${Pins.clipJobBytes}")
    }
    rec
  }

  def untraced(env: Env, out: Outcome): Unit = {
    val inDir = s"${env.workDir}/clip_input"
    val (spark, truth) = Setup.rounds(out) {
      val spark = Util.session(env.cores)
      (spark, writeInput(spark, env.seed, inDir))
    }
    val nClips = truth.count()
    checkFirst(once(spark, inDir, s"${env.workDir}/job-warm"), truth, env.seed, out)
    val runs = scala.collection.mutable.ArrayBuffer.empty[Run]
    Util.repeatFor(env.seconds, 2, 50) { _ =>
      val r = once(spark, inDir, s"${env.workDir}/job-loop")
      check(r, out)
      runs += r
      r.freshS
    }
    out.metric("items_per_s", nClips / Util.median(runs.map(_.freshS).toSeq), "1/s")
    System.err.println(s"[perfbench] clip_job fresh=${runs.map(r => f"${r.freshS}%.3f").mkString(",")} " +
      s"resume=${runs.map(r => f"${r.resumeS}%.3f").mkString(",")} clips=$nClips")
    spark.stop()
  }

  def traced(spark: SparkSession, env: Env, tr: Tracer, out: Outcome): Unit = {
    val inDir = s"${env.workDir}/clip_input"
    val truth = writeInput(spark, env.seed, inDir)
    val r = once(spark, inDir, s"${env.workDir}/job-traced", Some(tr))
    tr.drain()
    val rec = checkFirst(r, truth, env.seed, out)
    val inBytes = Util.dirBytes(inDir)
    r.fresh.foreach { s => out.metric(s"stage.${s.name}.s", s.seconds, "s") }
    r.stageBytes.toSeq.sortBy(_._1).foreach { case (n, b) => out.metric(s"stage.$n.bytes", b, "bytes") }
    out.metric("store.jobs", tr.totals("clip_job.fresh").jobs, "count")
    out.metric("store.resume_jobs", tr.totals("clip_job.resume").jobs, "count")
    out.metric("clip_job.fresh_s", r.freshS, "s")
    out.metric("clip_job.resume_s", r.resumeS, "s")
    out.metric("clip_job.bytes_written_per_input_byte", r.writtenBytes.toDouble / inBytes, "ratio")
    out.metric("clip_job.recall", rec, "ratio")
  }
}
