package graft.tools

import org.apache.spark.sql.SparkSession

import graft.operators.{ClipDedup, DedupConfig}

/** Cluster entry point for the clip-dedup pipeline, designed for
  * spark-submit (the sandbox's DedupCli builds a local session and
  * synthesizes input; this one takes the cluster's):
  *
  * {{{
  * spark-submit --class graft.tools.SubmitJob \
  *   --master yarn --deploy-mode cluster \
  *   --conf spark.sql.extensions=graft.spark.GraftExtensions \
  *   --conf spark.graft.checkpointDir=hdfs://.../graft-ckpt \
  *   analiticclspark.jar <input> <workDir> <outputPath>
  * }}}
  *
  * `<input>` is a parquet path, or `table:<name>` for a catalog table
  * (the Iceberg deployment: `table:lake.clips` — snapshot isolation and
  * the stage tables then come from the session catalog's Iceberg
  * support). The input must carry the input_hint columns
  * (clip_id, bytes, sr_hz, dur_ms, codec, transcript).
  *
  * No master/parallelism is set here — spark-submit owns cluster sizing,
  * which is how the N-vs-4N scaling protocol runs the SAME artifact at
  * two executor counts. Resumability: rerun with the same `<workDir>`;
  * a completed stage is read back when its fingerprint (the DedupConfig,
  * alphabet, id width and input files it was stored under) matches, and
  * recomputed otherwise. With `spark.graft.checkpointDir` set, the CC
  * loop's per-round checkpoints are reliable, so an executor loss within
  * a run replays from the last committed round; a rerun recomputes CC.
  */
object SubmitJob {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: SubmitJob <input|table:name> <workDir> <outputPath>")
      sys.exit(2)
    }
    val Array(input, workDir, outputPath) = args.take(3)
    val spark = SparkSession.builder()
      .appName("graft-clip-dedup")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", graft.spark.GraftExtensions.name)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val clips =
      if (input.startsWith("table:")) spark.table(input.stripPrefix("table:"))
      else spark.read.parquet(input)

    val t0 = System.nanoTime()
    val (assignments, stages) =
      ClipDedup.run(spark, clips, workDir, DedupConfig())
    assignments.write.mode("overwrite").parquet(outputPath)
    val wall = (System.nanoTime() - t0) / 1e9

    stages.foreach { s =>
      println(f"[stage] ${s.name}%-12s ${s.seconds}%8.2fs " +
        f"rows=${s.rows}%-9d resumed=${s.resumed}")
    }
    println(f"[done] wall=$wall%.2fs output=$outputPath " +
      s"metrics=$workDir/metrics")
    spark.stop()
  }
}
