package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Task totals attributed to one span (its own jobs, not its children's). */
final class TaskTotals {
  var jobs = 0
  var tasks = 0
  var runMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Double]

  def add(o: TaskTotals): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    taskMs ++= o.taskMs
  }
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    startMs: Long, var endNs: Long = -1L, var endMs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer, plus a
  * SparkListener that attributes task metrics to the innermost open span
  * through the job group set before each call. Spans stay in memory and
  * are written as JSON by [[write]].
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val groupPrefix = s"perfbench-$runId-"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val own = mutable.HashMap.empty[Int, TaskTotals]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = e.time
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(groupPrefix))
        .map(_.stripPrefix(groupPrefix).toInt)
        .foreach { id =>
          own.getOrElseUpdate(id, new TaskTotals).jobs += 1
          e.stageIds.foreach(s => stageSpan(s) = id)
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val t = own.getOrElseUpdate(id, new TaskTotals)
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.taskMs += m.executorRunTime.toDouble
      }
    }
  }
  sc.addSparkListener(listener)

  private def setGroup(): Unit = open.headOption match {
    case Some(s) => sc.setJobGroup(groupPrefix + s.id, s.name, interruptOnCancel = false)
    case None => sc.clearJobGroup()
  }

  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val s = Span(spans.length, name, open.headOption.fold(-1)(_.id),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      s
    }
    setGroup()
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      synchronized { open = open.tail }
      setGroup()
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def stop(): Unit = { drain(); sc.removeSparkListener(listener) }

  private def byName(name: String): Span =
    spans.filter(_.name == name).lastOption
      .getOrElse(sys.error(s"no span named $name"))

  private def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def seconds(name: String): Double = byName(name).seconds

  /** Span duration minus the part of it that its child spans cover. */
  def selfSeconds(name: String): Double = selfSeconds(byName(name))
  private def selfSeconds(s: Span): Double =
    s.seconds - children(s).map(_.seconds).sum

  /** Task totals of a span and all its descendants. */
  def totals(name: String): TaskTotals = synchronized { totals(byName(name)) }
  private def totals(s: Span): TaskTotals = {
    val t = new TaskTotals
    own.get(s.id).foreach(t.add)
    children(s).foreach(c => t.add(totals(c)))
    t
  }

  /** Seconds of the span's interval during which no Spark job ran. */
  def driverGapSeconds(name: String): Double = synchronized {
    val s = byName(name)
    val clipped = jobIntervals.map { case (a, b) =>
      (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, (s.endMs - s.startMs - covered) / 1e3)
  }

  /** All spans as JSON: name, start, end, parent, run id, self time and
    * the span's own task totals.
    */
  def write(path: String): Unit = synchronized {
    val t0 = spans.headOption.fold(0L)(_.startNs)
    val rows = spans.map { s =>
      val t = own.getOrElse(s.id, new TaskTotals)
      Seq(
        "run_id" -> Json.str(runId),
        "id" -> s.id.toString,
        "name" -> Json.str(s.name),
        "parent" -> s.parent.toString,
        "start_s" -> Json.num((s.startNs - t0) / 1e9),
        "end_s" -> Json.num((s.endNs - t0) / 1e9),
        "self_s" -> Json.num(selfSeconds(s)),
        "jobs" -> t.jobs.toString,
        "tasks" -> t.tasks.toString,
        "busy_s" -> Json.num(t.runMs / 1e3),
        "shuffle_read_bytes" -> t.shuffleReadBytes.toString,
        "shuffle_write_bytes" -> t.shuffleWriteBytes.toString,
        "spill_bytes" -> t.spillBytes.toString
      ).map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    }
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(rows.mkString("[\n", ",\n", "\n]")) finally w.close()
  }
}
