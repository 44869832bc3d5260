package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

/** Process and machine readings: heap after GC, GC and CPU time, and the
  * run-validity fields (steal, loadavg, foreign JVMs) read from the same
  * `/proc` files the engine's `graft.Bench` reads.
  */
object Probe {
  private def readProc(p: String): Option[String] = Try(Files.readString(Paths.get(p))).toOption

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat. */
  def cpuStat(): (Long, Long) =
    readProc("/proc/stat").map { s =>
      val v = s.linesIterator.next().split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    }.getOrElse((0L, 0L))

  def loadAvg(): Double =
    readProc("/proc/loadavg").map(_.split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** Java processes other than this JVM and its ancestors. */
  def unrelatedJvms(): Long = {
    val family = Iterator.iterate(Option(ProcessHandle.current()))(
      _.flatMap(p => Option(p.parent().orElse(null)))).takeWhile(_.isDefined)
      .take(16).map(_.get.pid).toSet
    ProcessHandle.allProcesses().iterator().asScala.count { p =>
      p.info().command().orElse("").contains("java") && !family.contains(p.pid)
    }.toLong
  }

  /** Heap in use; right after a full collection, the live set. */
  def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def cpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  def heapMaxMb(): Double = Runtime.getRuntime.maxMemory / 1048576.0

  /** Milliseconds for a fixed single-threaded integer loop, best of five:
    * a host whose cores run slower than usual shows here even when
    * steal and loadavg look clean.
    */
  def calibrationMs(): Double = (0 until 5).map { _ =>
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) println(x) // keeps the loop from being optimised away
    (System.nanoTime() - t0) / 1e6
  }.min

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** Validity readings over one measured window. */
final class Window {
  private val (steal0, total0) = Probe.cpuStat()
  private val gc0 = Probe.gcMs()
  private val cpu0 = Probe.cpuS()

  private var forcedGcMs = 0L

  /** Collects until the live heap settles and returns it in MB; the
    * window does not count this collection time as GC time. Spark's
    * context cleaner drops dead broadcasts and shuffles only after a
    * collection has shown them dead, so one collection is not enough:
    * collect again after a pause until the heap stops shrinking.
    */
  def settledHeapMb(): Double = {
    val before = Probe.gcMs()
    def collect() = { System.gc(); Probe.heapUsedMb() }
    var last = Double.MaxValue
    var cur = collect()
    var rounds = 0
    while (rounds < 5 && cur < last * 0.99) {
      last = cur
      Thread.sleep(200)
      cur = collect()
      rounds += 1
    }
    forcedGcMs += Probe.gcMs() - before
    cur
  }
  private var closed: Option[(Long, Double)] = None
  /** Freezes the GC and CPU readings at the end of the window. */
  def close(): Unit = closed = Some((Probe.gcMs() - gc0 - forcedGcMs, Probe.cpuS() - cpu0))
  /** Collection time in the window, without forced collections. */
  def gcMs: Long = closed.get._1
  def cpuS: Double = closed.get._2

  def validity: Map[String, Any] = {
    val (steal1, total1) = Probe.cpuStat()
    val dt = total1 - total0
    Map(
      "steal_pct" -> (if (dt > 0) 100.0 * (steal1 - steal0) / dt else 0.0),
      "loadavg_1m" -> Probe.loadAvg(),
      "unrelated_jvms" -> Probe.unrelatedJvms(),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cpu_calibration_ms" -> Probe.calibrationMs(),
      "heap_max_mb" -> Probe.heapMaxMb())
  }
}
