package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit, when}

/** Lineage-cut seam for iterative jobs (CC rounds, learn iterations).
  *
  * Two modes:
  *  - default: `localCheckpoint(eager)` — executor-storage only. Fast,
  *    but an executor loss kills the job at cluster scale; acceptable in
  *    local mode and for short loops.
  *  - reliable: when `spark.graft.checkpointDir` is set (or a checkpoint
  *    dir is already configured on the SparkContext), uses fault-tolerant
  *    `checkpoint(eager)` — blocks are written to the shared FS and the
  *    job survives executor loss; together with the per-stage table
  *    writes in ClipDedup this is the resumability story of the north
  *    rule (Iceberg snapshots in production, parquet + _SUCCESS here).
  *
  * Every cut is returned as a [[Checkpoints.Cut]] carrying the ids of the
  * RDDs the checkpoint persisted, because `Dataset.unpersist()` does NOT
  * free localCheckpoint blocks (they are RDD-level persistence, not
  * CacheManager entries, and otherwise linger until the JVM happens to GC
  * the plan — measured as block-manager growth across iterative runs).
  * Callers release each cut as soon as its consumer is materialized.
  * Stage counters ride on the same jobs ([[observeCount]]).
  */
object Checkpoints {

  final case class Cut(df: DataFrame, rddIds: Seq[Int]) {
    /** Free the checkpoint's storage. The df must not be used afterwards. */
    def release(): Unit = {
      val persistent = df.sparkSession.sparkContext.getPersistentRDDs
      rddIds.foreach(id => persistent.get(id).foreach(_.unpersist(false)))
    }
  }

  def reliableDir(df: DataFrame): Option[String] =
    df.sparkSession.conf.getOption("spark.graft.checkpointDir")

  /** Materialize `df` with its lineage cut, tracking persisted blocks. */
  def cut(df: DataFrame): Cut = synchronized {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = reliableDir(df) match {
      case Some(dir) =>
        if (!sc.getCheckpointDir.contains(dir)) sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case None =>
        df.localCheckpoint(eager = true)
    }
    val added = (sc.getPersistentRDDs.keySet -- before).toSeq
    Cut(out, added)
  }

  /** `df` with `obs` (when given) counting the rows where `cond` holds,
    * collected by whichever job runs `df` (a cut, an aggregation, a
    * dedup the operator runs anyway), so no counter costs a job of its
    * own. Read it with [[counted]].
    */
  def observeCount(df: DataFrame, obs: Option[Observation],
      cond: Column = lit(true)): DataFrame =
    obs.fold(df)(o => df.observe(o, count(when(cond, 1)).as("n")))

  /** The count an [[observeCount]] observation collected. Blocks until
    * the job that runs the observed plan has finished; None if that job
    * skipped the observed node (adaptive execution drops a join input
    * once the join is proven empty).
    */
  def counted(o: Observation): Option[Long] =
    o.get.get("n").map(_.asInstanceOf[Long])

  /** [[counted]] for a node that runs unless its input is empty, so a
    * count the job never filled is 0.
    */
  def countedOrZero(o: Observation): Long = counted(o).getOrElse(0L)
}
