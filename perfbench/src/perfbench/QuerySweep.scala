package perfbench

import org.apache.spark.sql.SparkSession

/** `queries`: the 32 declared SparkEntry.queries over generated tables.
  * Each query's result is consumed by its row count and order-insensitive
  * hash, which must equal the pinned values, so every timed sweep is also
  * the correctness gate. The tables are fixed (QueryTables.DataSeed); the
  * workload seed sets the order of the queries in every sweep. Each query
  * is a short job, so planner and per-job overheads show here.
  */
object QuerySweep {
  def names: Seq[String] = graft.SparkEntry.queries.keys.toSeq.sorted

  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(names)

  /** Runs one query to its (row count, hash); false if it fails or the
    * result differs from the pinned one.
    */
  def run(spark: SparkSession, dir: String, name: String): Boolean = {
    val got = scala.util.Try(Util.resultHash(graft.SparkEntry.queries(name)(spark, dir)))
    val ok = got.toOption == Pins.queries.get(name)
    if (!ok) System.err.println(s"[perfbench] query $name: got $got, pinned ${Pins.queries.get(name)}")
    ok
  }

  /** One sweep in seeded order; each query is one operation, failed
    * unless it matches its pin. Returns the sweep's seconds.
    */
  def sweep(spark: SparkSession, dir: String, seed: Long, out: Outcome,
      tr: Option[Tracer] = None): Double = {
    def span[T](name: String)(body: => T): T = tr.fold(body)(_.span(name)(body))
    val (oks, s) = Util.timed(order(seed).map(q => span(s"q.$q")(run(spark, dir, q))))
    oks.foreach(out.op)
    s
  }

  /** Writes the tables on first use, then reads their schemas. */
  def tables(spark: SparkSession, dir: String): Unit = {
    if (!new java.io.File(dir).exists()) QueryTables.write(spark, dir)
    Seq("documents", "embeddings", "events", "orders", "lineitem")
      .foreach(t => graft.spark.Tables.read(spark, dir, t).schema)
  }

  /** Sweeps until --seconds have passed, at least one. A sweep takes longer
    * than the standard run, so the sample is the first sweep, in which each
    * query is planned, code-generated and compiled for the first time, as in
    * a fresh application that runs its queries once.
    */
  def untraced(env: Env, out: Outcome): Unit = {
    out.gate("queries.declared", names.size == 32, s"${names.size} declared queries")
    val dir = s"${env.workDir}/tables"
    val (spark, _) = Setup.rounds(out) {
      val spark = Util.session(env.cores)
      (spark, tables(spark, dir))
    }
    val totals = Util.repeatFor(env.seconds, 1, 50)(_ => sweep(spark, dir, env.seed, out))
    out.metric("items_per_s", names.size / Util.median(totals), "1/s")
    System.err.println(s"[perfbench] queries sweeps=${totals.map(t => f"$t%.3f").mkString(",")}")
    spark.stop()
  }

  def traced(spark: SparkSession, env: Env, tr: Tracer, out: Outcome): Unit = {
    val dir = s"${env.workDir}/tables"
    tables(spark, dir)
    tr.span("queries.sweep")(sweep(spark, dir, env.seed, out, Some(tr)))
    tr.drain()
    out.metric("queries.total_s", tr.seconds("queries.sweep"), "s")
    names.foreach { q =>
      val t = tr.totals(s"q.$q")
      out.metric(s"q.$q.s", tr.seconds(s"q.$q"), "s")
      out.metric(s"q.$q.shuffle_bytes", t.shuffleWriteBytes, "bytes")
    }
  }
}
