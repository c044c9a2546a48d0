package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpecBase
import graft.sources.ClipGen

/** In-memory snapshot-commit store: the Iceberg-shaped mock. `write`
  * stages the full output first and swaps the committed snapshot pointer
  * as the LAST step — so a failure injected anywhere before that point
  * leaves the previous snapshot (or absence) visible, exactly the
  * snapshot-isolation contract the production Iceberg impl provides.
  */
final class InMemorySnapshotStore(spark: SparkSession) extends StageStore {
  final case class Snapshot(schema: StructType, rows: Seq[Row], key: String = "")
  private val committed = scala.collection.mutable.Map.empty[String, Snapshot]
  private val metrics = scala.collection.mutable.ArrayBuffer.empty[Snapshot]
  /** Test hook: injected failure fired after staging, before commit. */
  @volatile var failBeforeCommit: Boolean = false
  var commitCount: Int = 0

  def exists(name: String): Boolean = committed.contains(name)
  def key(name: String): Option[String] = committed.get(name).map(_.key)
  def read(name: String): DataFrame = {
    val s = committed.getOrElse(name,
      sys.error(s"read of uncommitted snapshot: $name"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(s.rows, math.max(1, s.rows.size min 4)),
      s.schema)
  }
  def write(name: String, df: DataFrame, key: String): Unit = {
    val staged = Snapshot(df.schema, df.collect().toSeq, key) // stage fully...
    if (failBeforeCommit) sys.error("injected failure before snapshot commit")
    committed(name) = staged // ...then one atomic pointer swap
    commitCount += 1
  }
  def appendMetrics(df: DataFrame): Unit =
    metrics += Snapshot(df.schema, df.collect().toSeq)
  def metricsRows: Long = metrics.map(_.rows.size.toLong).sum
}

/** Contract suite run against BOTH StageStore implementations (the
  * sandbox ParquetStageStore and the Iceberg-shaped snapshot mock): the
  * production swap is specified by these tests, not by a comment —
  * commit visibility (no partial output ever `exists`), read-back
  * equality, overwrite, metrics append, and the ClipDedup.Runner resume
  * behaviors (resumed stages skip recompute; schema drift recomputes).
  */
class StageStoreContractSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions.{col, lit}

  private def df(n: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize((1 to n).map(i => Row(i.toLong, s"v$i")), 2),
      schema)
  }

  private def contract(mkStore: () => StageStore, label: String): Unit = {
    test(s"$label: write-then-read round-trips; exists flips on commit") {
      val s = mkStore()
      assert(!s.exists("a"))
      s.write("a", df(10), "k")
      assert(s.exists("a"))
      val back = s.read("a")
      assert(back.columns.toSeq == Seq("k", "v"))
      assert(back.orderBy("k").collect().map(_.getLong(0)).toSeq ==
        (1L to 10L))
    }

    test(s"$label: overwrite replaces the committed output") {
      val s = mkStore()
      s.write("b", df(5), "k")
      s.write("b", df(3), "k")
      assert(s.read("b").count() == 3)
    }

    test(s"$label: Runner resumes committed stages, recomputes on schema drift") {
      val s = mkStore()
      var builds = 0
      val r1 = new ClipDedup.Runner(spark, s)
      r1.stage("st", Seq("k", "v")) { builds += 1; df(4) }
      assert(builds == 1 && !r1.stageLog.head.resumed)
      // same store, fresh runner: the committed stage must NOT rebuild
      val r2 = new ClipDedup.Runner(spark, s)
      val out = r2.stage("st", Seq("k", "v")) { builds += 1; df(4) }
      assert(builds == 1 && r2.stageLog.head.resumed && out.count() == 4)
      // schema drift (older code/config wrote different columns): recompute
      val r3 = new ClipDedup.Runner(spark, s)
      r3.stage("st", Seq("k", "v", "extra")) {
        builds += 1; df(2).withColumn("extra", lit(1L))
      }
      assert(builds == 2 && !r3.stageLog.head.resumed)
      assert(s.read("st").columns.toSeq == Seq("k", "v", "extra"))
    }

    test(s"$label: metrics append accumulates lineage rows") {
      val s = mkStore()
      val r = new ClipDedup.Runner(spark, s)
      r.stage("m1", Seq("k", "v"))(df(4))
      r.stage("m2", Seq("k", "v"))(df(4))
      // each stage appends >=1 per-partition lineage row
      s match {
        case mem: InMemorySnapshotStore => assert(mem.metricsRows >= 2)
        case p: ParquetStageStore => assert(p.readMetrics().count() >= 2)
      }
    }
  }

  contract(() => new InMemorySnapshotStore(spark), "snapshot-mock")
  contract(() => new ParquetStageStore(spark,
    Files.createTempDirectory("stagestore").toString), "parquet")

  test("snapshot-mock: a failed write never becomes visible (atomic commit)") {
    val s = new InMemorySnapshotStore(spark)
    s.write("c", df(6), "k")
    s.failBeforeCommit = true
    intercept[RuntimeException] { s.write("c", df(1), "k") }
    s.failBeforeCommit = false
    // the previous snapshot is still what readers see — snapshot isolation
    assert(s.exists("c") && s.read("c").count() == 6)
    intercept[RuntimeException] { s.failBeforeCommit = true; s.write("d", df(1), "k") }
    s.failBeforeCommit = false
    assert(!s.exists("d"))
  }

  test("parquet: ClipDedup.run recomputes stages stored under another config") {
    val clips = ClipGen.transcriptTable(spark, seed = 7L, nClusters = 60)
    val dir = Files.createTempDirectory("stagestore-config").toString
    def rows(df: DataFrame): Set[(String, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val (loose, _) = ClipDedup.run(spark, clips, s"$dir/job")
    val looseRows = rows(loose)
    val strict = DedupConfig(scoreThreshold = 0.99)
    val (rerun, log) = ClipDedup.run(spark, clips, s"$dir/job", strict)
    assert(log.forall(!_.resumed), log.map(s => s.name -> s.resumed))
    val (fresh, _) = ClipDedup.run(spark, clips, s"$dir/fresh", strict)
    assert(rows(rerun) == rows(fresh))
    assert(rows(fresh) != looseRows)
  }

  test("parquet: partial output without _SUCCESS does not exist") {
    val dir = Files.createTempDirectory("stagestore-partial").toString
    val s = new ParquetStageStore(spark, dir)
    // simulate a task-level crash: data files landed, no committer marker
    val stage = new java.io.File(s"$dir/part")
    assert(stage.mkdirs())
    df(3).coalesce(1).write.mode("overwrite").parquet(s"$dir/tmp-files")
    val datafile = new java.io.File(s"$dir/tmp-files").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(datafile.toPath,
      new java.io.File(stage, datafile.getName).toPath)
    assert(!s.exists("part"))
    // a later complete write of the same stage commits and is visible
    s.write("part", df(3), "k")
    assert(s.exists("part") && s.read("part").count() == 3)
  }
}
