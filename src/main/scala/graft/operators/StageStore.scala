package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage seam for checkpointed stage outputs (the explicit swap point
  * the north rule's Iceberg requirement lands on): the production
  * implementation backs each stage with an Iceberg table — `write` is a
  * snapshot commit, `exists`/`read` resolve the last committed snapshot,
  * and executor loss mid-stage costs only that stage because committed
  * snapshots are durable cluster-wide. This sandbox has no Iceberg jars
  * (`/opt/spark/jars` checked), so [[ParquetStageStore]] stands in with
  * parquet + `_SUCCESS` markers — the same commit-visibility contract
  * (output is only `exists` after a complete atomic write), so swapping
  * implementations changes no pipeline code.
  */
trait StageStore {
  /** True iff `name` holds a complete committed write. */
  def exists(name: String): Boolean
  /** The fingerprint recorded with `name`'s last commit, if any. */
  def key(name: String): Option[String]
  def read(name: String): DataFrame
  /** Atomic commit of `df` with its fingerprint `key`: `exists(name)` must
    * not turn true on partial output, and `key(name)` gives `key` only
    * once `df` is committed.
    */
  def write(name: String, df: DataFrame, key: String): Unit
  /** Append rows to the job's metrics/lineage table. */
  def appendMetrics(df: DataFrame): Unit
}

/** Parquet + `_SUCCESS` implementation (sandbox stand-in for Iceberg;
  * Spark's parquet committer writes `_SUCCESS` only after all task
  * commits succeed, giving the same all-or-nothing visibility). A
  * stage's fingerprint lives in `<workDir>/_stage_keys/<name>`, outside
  * the stage directory: it is removed before the write and written after
  * the commit, so an interrupted write leaves no fingerprint.
  */
final class ParquetStageStore(spark: SparkSession, workDir: String)
    extends StageStore {
  private val fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)
  private def path(name: String) = s"$workDir/$name"
  private def keyPath(name: String) = new Path(s"$workDir/_stage_keys/$name")

  def exists(name: String): Boolean =
    fs.exists(new Path(s"${path(name)}/_SUCCESS"))
  def key(name: String): Option[String] =
    if (!fs.exists(keyPath(name))) None
    else {
      val in = fs.open(keyPath(name))
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    }
  def read(name: String): DataFrame = spark.read.parquet(path(name))
  def write(name: String, df: DataFrame, key: String): Unit = {
    fs.delete(keyPath(name), false)
    df.write.mode("overwrite").parquet(path(name))
    val out = fs.create(keyPath(name), true)
    try out.write(key.getBytes(UTF_8)) finally out.close()
  }
  def appendMetrics(df: DataFrame): Unit =
    df.write.mode("append").parquet(s"$workDir/metrics")
  def readMetrics(): DataFrame = spark.read.parquet(s"$workDir/metrics")
}
