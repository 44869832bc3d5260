package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.meta.Snapshot
import graft.table.{GraftCatalog, TableIdent}

import org.apache.spark.sql.SparkSession

/** One timed operation: `kind` names the metric it feeds, `traced`
  * whether spans were recorded for it.
  */
final case class Op(kind: String, id: String, traced: Boolean, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** State shared by one run of one workload. */
final class Run(val spark: SparkSession, val warehouse: Path, val gen: Gen,
                val tracer: Tracer, val seconds: Int, val setupReps: Int = 3) {
  val catalog: GraftCatalog = GraftCatalog(spark, warehouse.toString)
  val ops = mutable.ArrayBuffer.empty[Op]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Validity, GC and CPU readings of the measuring window (the traced
    * one in a traced run).
    */
  var window = new Window
  /** Live heap settled by forced collections where each window opens
    * and closes, outside any timed operation: readings after natural
    * collections depend on when those happen to run.
    */
  private var heapPeakMb = 0.0
  private var deadlineNs = Long.MaxValue

  private val born = System.nanoTime()
  /** Marks the end of a run phase in the detail block (seconds since start). */
  def phase(name: String): Unit = detail(s"phase_${name}_s") = (System.nanoTime() - born) / 1e9

  /** Runs the measuring loop `body` for `seconds`, untraced. A traced run
    * splits the untraced time in two halves around a traced window of
    * `seconds` with the listener attached: per-layer figures come from
    * the traced window, and the tracing overhead compares it with the
    * halves around it, which cancels the drift of a still-warming JVM.
    */
  def measure(body: Boolean => Unit): Unit = {
    phase("setup_done")
    val windows =
      if (tracer.enabled) Seq(false -> seconds / 2.0, true -> seconds.toDouble, false -> seconds / 2.0)
      else Seq(false -> seconds.toDouble)
    for ((traced, s) <- windows) {
      val w = new Window
      if (traced || !tracer.enabled) window = w
      if (traced) tracer.attach(spark.sparkContext)
      heapPeakMb = math.max(heapPeakMb, w.settledHeapMb())
      deadlineNs = System.nanoTime() + (s * 1e9).toLong
      body(traced)
      w.close()
      if (traced) tracer.detach(spark.sparkContext)
      heapPeakMb = math.max(heapPeakMb, w.settledHeapMb())
    }
    deadlineNs = Long.MaxValue
    phase("measure_done")
    detail("samples_ms") = ops.filter(_.kind != "warmup").groupBy(_.kind)
      .map { case (k, os) => k -> os.map(_.ms).toSeq }
  }

  def timeLeft: Boolean = System.nanoTime() < deadlineNs

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
    System.err.println(s"perfbench: FAILED $what")
  }

  /** A correctness check: counts as attempted, and as failed unless it holds. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch { case e: Exception => fail(s"$what: $e"); return }
    if (!good) fail(what)
  }

  /** Times `body` as operation `id` of metric `kind`; `traced` records
    * its spans. A throwing operation counts as failed and yields None.
    */
  def op[T](kind: String, id: String, traced: Boolean)(body: => T): Option[T] = {
    attempted += 1
    tracer.beginOp(spark.sparkContext, id, traced)
    val t0 = tracer.nowMs
    try {
      val r = tracer.span(s"op.$kind")(body)
      ops += Op(kind, id, traced, t0, tracer.nowMs)
      Some(r)
    } catch {
      case e: Exception => fail(s"$kind $id: $e"); None
    }
  }

  def ms(kind: String, traced: Boolean): Seq[Double] =
    ops.filter(o => o.kind == kind && o.traced == traced).map(_.ms).toSeq

  /** The median of `setup` over `setupReps` runs, in seconds. */
  def setupS(setup: Int => Unit): Double = {
    val ts = (0 until setupReps).map { i =>
      val t0 = System.nanoTime()
      setup(i)
      (System.nanoTime() - t0) / 1e9
    }
    detail("setup_reps_s") = ts
    Stats.median(ts)
  }

  /** Bytes the table's current snapshot references (data, delete and
    * manifest files plus the snapshot file itself).
    */
  def referencedBytes(ident: TableIdent): Long = {
    val t = catalog.load(ident)
    val s = t.currentOrFail()
    val dir = Paths.get(t.tableDir.toUri)
    val meta = dir.resolve("_meta")
    val deletes = s.deleteGroups.collect {
      case g: graft.meta.EqualityDeleteGroup => g.group
      case g: graft.meta.PositionDeleteGroup => g.group
    }
    val manifests = (s.fileGroups ++ deletes).map(_.manifest).distinct
      .map(m => meta.resolve(m)).filter(Files.exists(_)).map(Files.size).sum
    (s.files ++ deletes.flatMap(_.files)).map(_.sizeBytes).sum + manifests +
      Files.size(meta.resolve(f"v${s.version}%08d.json"))
  }

  /** An Arrow IPC stream as the loader's batch iterator, with decode
    * time traced as `sources.next`.
    */
  def ipcSource(bytes: Array[Byte]): Iterator[org.apache.spark.sql.DataFrame] = {
    val under = graft.sources.ArrowIpcSource.read(spark, new java.io.ByteArrayInputStream(bytes))
    new Iterator[org.apache.spark.sql.DataFrame] {
      def hasNext = tracer.span("sources.next")(under.hasNext)
      def next() = tracer.span("sources.next")(under.next())
    }
  }

  /** Referenced bytes and live rows over every table of namespace `ns`. */
  def stored(ns: String): (Long, Long) = {
    val ts = catalog.listTables(ns)
    (ts.map(referencedBytes).sum, ts.map(t => catalog.load(t).scan().count()).sum)
  }

  /** Per-layer readings common to every workload: the `table` and `meta`
    * state of the workload's main table, snapshot diffs of the versions
    * the measured loop committed, and Spark/JVM totals per operation.
    */
  def commonLayers(main: TableIdent, firstVersion: Int, opKinds: Set[String]): Unit = {
    val t = catalog.load(main)
    val snaps = t.log.listVersions().filter(_ >= firstVersion).map(t.log.read)
    val diffs = snaps.sliding(2).collect { case Seq(a, b) => Snapshot.diffFiles(a, b) }.toSeq
    val n = math.max(1, diffs.size).toDouble
    layer("table.files_per_flush") = diffs.map(_._1.size).sum / n
    layer("table.write_mb_per_flush") = diffs.map(_._1.map(_.sizeBytes).sum).sum / n / 1048576.0
    val cur = t.currentOrFail()
    layer("table.live_files") = cur.files.size.toDouble
    layer("table.delete_groups") = cur.deleteGroups.size.toDouble
    // a fresh handle reading its current snapshot and file list: what
    // each loader call and each SQL loadTable pays before planning
    val loads = (0 until 5).map { _ =>
      val fresh = GraftCatalog(spark, warehouse.toString)
      val t0 = System.nanoTime()
      val ft = fresh.load(main)
      ft.currentOrFail().files.size
      ((System.nanoTime() - t0) / 1e6, ft.log.manifestParses.get().toDouble)
    }
    layer("meta.load_ms") = Stats.median(loads.map(_._1))
    layer("meta.manifest_parses") = Stats.median(loads.map(_._2))
    layer("meta.versions") = t.log.listVersions().size.toDouble
    layer("meta.bytes") = Probe.dirBytes(Paths.get(t.tableDir.toUri).resolve("_meta")).toDouble

    val traced = ops.filter(o => o.traced && opKinds(o.kind)).toSeq
    val perOp = math.max(1, traced.size).toDouble
    val js = traced.flatMap(o => tracer.jobsOf(o.id))
    layer("spark.jobs") = js.size / perOp
    layer("spark.task_s") = js.map(_.taskMs).sum / 1000.0 / perOp
    layer("spark.shuffle_mb") = js.map(_.shuffleBytes).sum / 1048576.0 / perOp
    layer("spark.input_mb") = js.map(_.inputBytes).sum / 1048576.0 / perOp
    layer("spark.output_mb") = js.map(_.outputBytes).sum / 1048576.0 / perOp
    val busy = traced.map(o => tracer.coveredMs(tracer.jobsOf(o.id), o.startMs, o.endMs)).sum
    layer("spark.job_busy_frac") = busy / math.max(1e-9, traced.map(_.ms).sum)
    layer("jvm.gc_ms") = window.gcMs / perOp
    layer("jvm.cpu_s") = window.cpuS / perOp
  }

  /** Median and tail of `xs` under the workload-specific name `name`, with
    * the tail's percentile and sample count.
    */
  def named(name: String, xs: Seq[Double]): Unit = if (xs.nonEmpty) {
    val (tail, pct, n) = Stats.tail(xs)
    detail(s"${name}_p50_ms") = Stats.median(xs)
    detail(s"${name}_tail_ms") = tail
    detail(s"${name}_tail_pct") = pct
    detail(s"${name}_samples") = n
  }

  /** Records the end-to-end metrics. `main` and `side` are (latency,
    * traced) samples; end-to-end medians use the untraced ones, and a
    * traced run adds the traced/untraced ratio of each as overhead.
    * Tails go to the detail block under workload names (see [[named]]).
    */
  def report(setupS: Double, main: Seq[(Double, Boolean)], side: Seq[(Double, Boolean)],
             rowsPerS: Boolean => Double, ns: String): Unit = {
    val (storedBytes, rows) = stored(ns)
    def of(xs: Seq[(Double, Boolean)], traced: Boolean) = xs.filter(_._2 == traced).map(_._1)
    e2e("setup_s") = setupS
    e2e("rows_per_s") = rowsPerS(false)
    e2e("stored_bytes_per_row") = storedBytes.toDouble / math.max(1L, rows)
    e2e("live_heap_peak_mb") = heapPeakMb
    for ((m, xs) <- Seq("main" -> main, "side" -> side)) {
      val (u, t) = (of(xs, false), of(xs, true))
      if (u.nonEmpty) e2e(s"${m}_p50_ms") = Stats.median(u)
      if (tracer.enabled)
        layer(s"overhead.${m}_p50_ms") = if (u.isEmpty || t.isEmpty) 0.0 else Stats.median(t) / Stats.median(u)
    }
    if (tracer.enabled) layer("overhead.rows_per_s") = rowsPerS(true) / math.max(1e-9, rowsPerS(false))
  }

  /** Jobs per operation and the operation time no job covers. */
  def jobsAndGap(kinds: Set[String]): (Double, Double) = {
    val traced = ops.filter(o => kinds(o.kind) && o.traced)
    if (traced.isEmpty) (0.0, 0.0)
    else {
      val js = traced.map(o => tracer.jobsOf(o.id))
      (js.map(_.size).sum.toDouble / traced.size,
       traced.zip(js).map { case (o, j) => o.ms - tracer.coveredMs(j, o.startMs, o.endMs) }.sum / traced.size)
    }
  }
}

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --out <result.json> --work <dir>`, or `--selftest`.
  * Writes the result object (check counts, end-to-end and per-layer
  * values by metric name, and a detail block) to `--out`, and the spans
  * of a traced run beside it. Exits 1 when a correctness check failed.
  */
object Main {
  val Workloads: Map[String, Run => Unit] = Map(
    "ingest_stream" -> IngestStream.run,
    "upsert_mixed" -> UpsertMixed.run,
    "mv_refresh" -> MvRefresh.run)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.contains("--selftest")) { SelfTest.run(); return }
    val workload = a("workload")
    val train = workload == "train"
    require(train || Workloads.contains(workload), s"unknown workload $workload")
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out")).toAbsolutePath
    val warehouse = work.resolve("warehouse")
    Files.createDirectories(warehouse)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark keeps per-job and per-query status for its UI even when the
      // UI is off; capped, that state stops growing with the operation
      // count, so the live heap reflects the engine's own state
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.connector.GraftSparkCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(trace)
    val gen = new Gen(a("seed").toLong)
    // training: one short pass of every workload, so the class-data
    // archive written at exit covers the classes all of them load
    if (train) {
      Workloads.values.foreach(_(new Run(spark, warehouse, gen, tracer, 1, setupReps = 1)))
      spark.stop()
      return
    }
    val run = new Run(spark, warehouse, gen, tracer, a("seconds").toInt)
    try Workloads(workload)(run)
    catch { case e: Exception => e.printStackTrace(); run.fail(s"workload aborted: $e") }
    run.phase("end")

    val detail = run.detail.toSeq ++ run.window.validity.toSeq ++ Seq(
      "session_start_s" -> sessionS,
      "failed_frac" -> run.failed.toDouble / math.max(1L, run.attempted),
      "failures" -> run.failures.toSeq)
    val json = Map(
      "correct" -> (run.failed == 0),
      "attempted" -> math.max(1L, run.attempted),
      "failed" -> run.failed,
      "end_to_end" -> run.e2e.toMap,
      "per_layer" -> run.layer.toMap,
      "detail" -> detail.toMap)
    def write(path: Path, value: AnyRef): Unit =
      Files.writeString(path, org.json4s.jackson.Serialization.write(value)(org.json4s.DefaultFormats))
    write(out, json)
    if (trace) write(Paths.get(out.toString.stripSuffix(".json") + ".trace.json"), tracer.dump)
    spark.stop()
    if (run.failed > 0) System.exit(1)
  }
}
