package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are wall-clock milliseconds (fractional),
  * the clock Spark's listener events use, so spans and jobs compare
  * directly. `op` is the id every span of one operation shares.
  */
final case class Span(id: Int, op: String, name: String, parent: Int,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** A Spark job seen by the listener, with the task totals of its stages. */
final class JobRec(val id: Int, val op: String, val startMs: Double) {
  var endMs: Double = startMs
  var taskMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

/** Span recorder plus job listener. Spans stay in memory until the run
  * ends. When disabled every call is a pass-through, so the untraced run
  * measures the same code path without recording anything.
  */
final class Tracer(val enabled: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Wall = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Wall + (System.nanoTime() - t0Nanos) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var currentOp = ""
  /** Whether the current operation records spans (traced runs trace
    * every other operation, so the same run also yields untraced
    * timings to compare against).
    */
  var recording = false

  val TagKey = "perfbench.op"

  /** Start operation `op`: tags the driver thread so Spark jobs carry it. */
  def beginOp(sc: SparkContext, op: String, record: Boolean): Unit = {
    currentOp = op
    recording = enabled && record
    sc.setLocalProperty(TagKey, op)
  }

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, currentOp, name, parent, nowMs, Double.NaN)
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans(id) = spans(id).copy(endMs = nowMs)
      }
    }

  /** Adds an already-measured interval as a child of the open span. */
  def record(name: String, startMs: Double, endMs: Double): Unit =
    if (recording)
      spans += Span(spans.size, currentOp, name, stack.headOption.getOrElse(-1), startMs, endMs)

  // ---- Spark listener -------------------------------------------------
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")
      val j = new JobRec(e.jobId, op, e.time.toDouble)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.taskMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def attach(sc: SparkContext): Unit = sc.addSparkListener(listener)
  /** Stops listening once every event posted so far has been delivered. */
  def detach(sc: SparkContext): Unit = {
    org.apache.spark.PerfbenchShim.drainListeners(sc)
    sc.removeSparkListener(listener)
  }

  /** Jobs whose tag is `op`, once the listener bus has drained. */
  def jobsOf(op: String): Seq[JobRec] = jobs.synchronized(jobs.values.filter(_.op == op).toSeq)

  /** Milliseconds of [startMs, endMs] covered by the union of the jobs. */
  def coveredMs(js: Seq[JobRec], startMs: Double, endMs: Double): Double =
    Tracer.covered(js.map(j => (j.startMs, j.endMs)), startMs, endMs)

  /** Self time per span name: duration minus the part its children cover. */
  def selfTimes: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        s.ms - Tracer.covered(kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).toSeq, s.startMs, s.endMs)
      }.sum
    }
  }

  /** Spans, jobs and self times, for the trace file. */
  def dump: Map[String, Any] = Map(
    "spans" -> spans.toList.map(s => Map("id" -> s.id, "op" -> s.op, "name" -> s.name,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
    "jobs" -> jobs.synchronized(jobs.values.toList).map(j => Map("job" -> j.id, "op" -> j.op,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "task_ms" -> j.taskMs,
      "shuffle_bytes" -> j.shuffleBytes, "input_bytes" -> j.inputBytes,
      "output_bytes" -> j.outputBytes)),
    "self_ms" -> selfTimes)
}

object Tracer {
  /** Length of [start, end] covered by the union of `intervals`. */
  def covered(intervals: Seq[(Double, Double)], start: Double, end: Double): Double = {
    var total = 0.0
    var reach = start
    for ((a, b) <- intervals.sortBy(_._1)) {
      val s = math.max(a, reach)
      val e = math.min(b, end)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }
}

/** Order statistics for latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * (n-10)-th smallest sample. Returns (value, percentile, samples).
    * Below 21 samples that percentile falls under the median, so the
    * maximum stands in, reported as percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n < 21) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}
