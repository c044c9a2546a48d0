package graft.tools

import org.apache.spark.sql.SparkSession

import graft.kernel._
import graft.operators.VariantMatcher

/** Wall time of one `VariantMatcher.matchJoin` pass (the shuffled
  * strategy) over `MatcherBench`'s lexicon and queries, default search
  * parameters, written to a noop sink at local[cpus].
  *
  * Usage: sbt "Test/runMain graft.tools.MatchJoinBench [lexSize] [nQueries] [cpus]"
  */
object MatchJoinBench {
  def main(args: Array[String]): Unit = {
    val lexSize = if (args.length > 0) args(0).toInt else 120000
    val nQueries = if (args.length > 1) args(1).toInt else 2000
    val cpus = if (args.length > 2) args(2).toInt else 4
    val (lexicon, queries) = MatcherBench.inputs(lexSize, nQueries)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val lexDf = lexicon.zipWithIndex.map { case (w, i) => (w, i.toLong) }.toDF("text", "id")
    val qDf = queries.toDF("query")
    val t0 = System.nanoTime()
    val rows = VariantMatcher.matchJoin(spark, Alphabet.simpleLatin, lexDf, qDf,
      SearchParameters()).count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[matchJoin] ${lexicon.size} entries x $nQueries queries at local[$cpus]: " +
      f"$rows rows in $sec%.1f s")
    spark.stop()
  }
}
