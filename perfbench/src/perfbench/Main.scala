package perfbench

/** One benchmark JVM. Untraced (--trace 0): runs the named workload and
  * reports its end-to-end metrics. Traced (--trace 1): runs a traced pass
  * of every workload in one session, so each traced run reports every
  * per-layer metric, and writes the spans to --trace-file. Prints the
  * result JSON as the last line of stdout; perfbench/run.py adds the
  * process-level metrics (peak RSS, host calibration).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val env = Env.parse(args)
    val out = new Outcome
    if (!env.trace) env.workload match {
      case "dedup_near" => DedupNear.untraced(env, out)
      case "clip_job" => ClipJob.untraced(env, out)
      case "matcher" => Matcher.untraced(env, out)
      case "queries" => QuerySweep.untraced(env, out)
    } else {
      val spark = Util.session(env.cores)
      val tr = new Tracer(spark, s"${env.workload}-seed${env.seed}")
      tr.span("dedup_near")(DedupNear.traced(spark, env, tr, out))
      tr.span("clip_job")(ClipJob.traced(spark, env, tr, out))
      tr.span("matcher")(Matcher.traced(spark, env, tr, out))
      tr.span("queries")(QuerySweep.traced(spark, env, tr, out))
      tr.stop()
      tr.write(env.traceFile)
      // scaling: one more run() pass here and one at local[1], both after
      // the whole traced run, so the JIT is equally warm for the two
      val p4 = DedupNear.pass(spark, DedupNear.input(spark, env.seed))
      val ref = DedupNear.checksum(p4.assignments)
      spark.stop()
      val t1 = DedupNear.localOne(env, ref, out)
      out.metric("dedup_near.scaling_efficiency", t1 / p4.seconds / env.cores, "ratio")
    }
    println(out.json)
  }
}

/** Host-window calibration probe (DedupStageBench.bandwidthCalib), run in
  * its own JVM before and after a workload so it adds nothing to the
  * workload JVM's memory.
  */
object Calib {
  def main(args: Array[String]): Unit = {
    val s = graft.tools.DedupStageBench.bandwidthCalib(args(0).toInt)
    println(s"""{"calib_s": ${Json.num(s)}}""")
  }
}
