package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Command-line options of one benchmark JVM. */
final case class Env(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    workDir: String,
    cores: Int,
    traceFile: String
)

object Env {
  def parse(args: Array[String]): Env = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Env(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("work"), m("cores").toInt, m("trace-file"))
  }
}

/** Attempted/failed operations, correctness gates and metrics of a run.
  * A failed gate counts as a failed operation.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def gate(name: String, ok: Boolean, detail: => String): Unit = {
    op(ok)
    System.err.println(s"[perfbench] gate ${if (ok) "ok  " else "FAIL"} $name: $detail")
  }

  def metric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = (value, unit)
  }

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}

object Setup {
  /** Set-up measured three times: `body` builds a session and the
    * workload's prepared state; the first two sessions are stopped, the
    * last is kept. Records setup_s as the median of the three.
    */
  def rounds[T](out: Outcome)(body: => (SparkSession, T)): (SparkSession, T) = {
    var kept: (SparkSession, T) = null
    val times = (0 until 3).map { round =>
      val (r, s) = Util.timed(body)
      if (round < 2) r._1.stop() else kept = r
      s
    }
    System.err.println(s"[perfbench] setup rounds ${times.map(t => f"$t%.3f").mkString(",")}")
    out.metric("setup_s", Util.median(times), "s")
    System.gc() // drop what the stopped sessions left on the heap
    kept
  }
}

object Util {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def maxOverMedian(xs: Seq[Double]): Double =
    if (xs.isEmpty) 1.0 else { val m = median(xs); if (m > 0) xs.max / m else 1.0 }

  /** Repeats `body` (which returns its own measured seconds) until
    * `seconds` of wall time have passed and at least `minReps` ran. A full
    * collection before each repetition starts every one from the same heap
    * state, so neither its time nor the peak RSS depends on when the
    * collector last ran.
    */
  def repeatFor(seconds: Double, minReps: Int, maxReps: Int)(body: Int => Double): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[Double]
    while (out.length < maxReps &&
      (out.length < minReps || secondsSince(t0) < seconds)) {
      System.gc()
      out += body(out.length)
    }
    out.toSeq
  }

  /** The program's own session factory (GraftExtensions, AQE, shuffle
    * partitions = cores). spark.local.dir comes from the JVM's system
    * properties.
    */
  def session(cores: Int): SparkSession =
    graft.spark.Sessions.local(cores, s"perfbench-local$cores")

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteDir(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  /** Hashable form of a column: doubles rounded to 6 decimals (engine
    * summation order moves the last bits), nested values rendered.
    */
  private def stable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => stable(x, et))
    case _ => c
  }

  /** (row count, order-insensitive hash) of a result: the exact decimal
    * sum of per-row xxhash64 values.
    */
  def resultHash(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map(f => stable(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  /** Share of generator-truth duplicate pairs that the assignment puts
    * in one cluster. `joined` has columns truth and cluster.
    */
  def pairRecall(joined: DataFrame): Double = {
    def pairs(keys: String*): Double = {
      val r = joined.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * (col("n") - 1) / 2)).head()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    }
    val truth = pairs("truth")
    if (truth == 0) 1.0 else pairs("truth", "cluster") / truth
  }
}
