package perfbench

import java.io.ByteArrayInputStream

import scala.collection.mutable

import graft.config.{LoaderConfig, WriteMode}
import graft.loader.Loader
import graft.table.TableIdent

import org.apache.spark.sql.DataFrame

/** `ingest_stream`: the reference's own harness shape (examples/
  * load_stream.py) at a smaller size: one Arrow IPC stream of 2k-row
  * batches into `Loader.loadBatches`, append mode, `commitInterval = 5`,
  * `partitionCol = "day(ts)"`. Main latency is the commit-to-commit
  * interval of the stream's snapshots; side latency is each batch's
  * freshness, from the moment the source hands it to the loader until
  * the snapshot holding it commits.
  */
object IngestStream {
  val BatchRows = 1000
  val Interval = 5
  /** Batches each set-up repetition loads into its own table. */
  val SetupBatches = 10
  /** Untimed batches streamed into the measured table before the clock
    * starts: the JIT is still speeding flushes up for the first few.
    */
  val WarmBatches = 20

  /** The source iterator as the loader sees it for one measuring window.
    * It ends the stream at the first flush boundary past the deadline,
    * tags the Spark jobs of flush k with operation `flush-k` (numbered
    * from `firstFlush`), and records when each batch was handed over and
    * when each flush ran.
    */
  final class Feed(run: Run, under: Iterator[DataFrame], traced: Boolean, firstFlush: Int)
      extends Iterator[DataFrame] {
    private val sc = run.spark.sparkContext
    private val tracer = run.tracer
    val handedAt = mutable.ArrayBuffer.empty[Double]
    /** Per flush: (start of its first batch, flush start, flush end). */
    val groups = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    private var groupStart = Double.NaN
    private var flushStart = Double.NaN
    private var flushing = false
    private var started = -1
    private var stopped = false
    var exhausted = false

    /** The loader asks for the next batch only once its flush is done. */
    private def endFlush(): Unit = if (flushing) {
      val now = tracer.nowMs
      tracer.record("loader.flush", flushStart, now)
      groups += ((groupStart, flushStart, now))
      flushing = false
    }

    def hasNext: Boolean = {
      endFlush()
      val k = handedAt.size / Interval
      if (!stopped && handedAt.size % Interval == 0 && started < k) {
        if (!run.timeLeft) stopped = true
        else {
          tracer.beginOp(sc, s"flush-${firstFlush + k}", traced)
          groupStart = tracer.nowMs
          started = k
        }
      }
      !stopped && {
        val more = under.hasNext
        exhausted = !more
        more
      }
    }

    def next(): DataFrame = {
      val df = under.next()
      handedAt += tracer.nowMs
      if (handedAt.size % Interval == 0) { flushStart = tracer.nowMs; flushing = true }
      df
    }

    /** Closes the last flush once the loader has returned. */
    def finish(): Unit = endFlush()
  }

  def run(r: Run): Unit = {
    val gen = r.gen
    val loader = new Loader(r.catalog)
    val cfg = LoaderConfig(writeMode = WriteMode.Append, partitionCol = Some("day(ts)"),
      commitInterval = Interval)
    val windows = if (r.tracer.enabled) 2 else 1
    val poolBatches = windows * math.max(50, r.seconds * 30) / Interval * Interval
    val first = SetupBatches + WarmBatches
    val sums = new Array[(Long, Long)](first + poolBatches)
    def batches(from: Int, until: Int) = (from until until).iterator.map { b =>
      val rows = gen.ingestBatch(b, BatchRows)
      sums(b) = (rows.size.toLong, rows.map(Gen.hash).sum)
      rows
    }
    val setup = Gen.ipc(batches(0, SetupBatches))
    val warm = Gen.ipc(batches(SetupBatches, first))
    val pool = Gen.ipc(batches(first, first + poolBatches))

    r.phase("inputs_done")
    val ns = s"ingest${r.setupReps - 1}"
    val ident = TableIdent(ns, "s")
    val setupS = r.setupS { i =>
      loader.loadIpcStream(new ByteArrayInputStream(setup), TableIdent(s"ingest$i", "s"), Some(cfg))
    }
    loader.loadIpcStream(new ByteArrayInputStream(warm), ident, Some(cfg))
    r.phase("warmup_done")
    val log = r.catalog.load(ident).log

    // every window continues the one stream where the last one stopped
    val source = r.ipcSource(pool)
    val flushes, fresh = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val groups = mutable.ArrayBuffer.empty[((Double, Double, Double), Boolean)]
    var used = 0
    var exhausted = false
    var tracedFrom = 0
    r.measure { traced =>
      val v0 = log.currentVersion().get
      if (traced) tracedFrom = v0
      val feed = new Feed(r, source, traced, groups.size)
      r.attempted += 1
      try {
        val res = loader.loadBatches(feed, ident, Some(cfg))
        r.check("rows_loaded matches the rows handed over")(
          res.rowsLoaded == feed.handedAt.size.toLong * BatchRows)
      } catch { case e: Exception => r.fail(s"stream: $e") }
      feed.finish()
      val commits = log.listVersions().filter(_ > v0).map(v => log.read(v).timestampMs.toDouble)
      r.check(s"one commit per flush (${commits.size} commits, ${feed.groups.size} flushes)")(
        commits.size == feed.groups.size && feed.handedAt.size % Interval == 0)
      val n = math.min(commits.size, feed.groups.size)
      for (k <- 1 until n) flushes += ((commits(k) - commits(k - 1), traced))
      for (k <- 0 until n; b <- k * Interval until (k + 1) * Interval)
        fresh += ((commits(k) - feed.handedAt(b), traced))
      // flushes as operations, for the per-operation job accounting
      feed.groups.zipWithIndex.foreach { case ((_, fs, fe), k) =>
        r.ops += Op("flush", s"flush-${groups.size + k}", traced, fs, fe)
      }
      groups ++= feed.groups.map(_ -> traced)
      used += feed.handedAt.size
      exhausted ||= feed.exhausted
    }
    r.detail("input_exhausted") = exhausted
    r.detail("batches") = used

    val expect = sums.take(first + used)
    val got = r.spark.sql(s"SELECT count(*), coalesce(sum(${Gen.hashSql}), 0) FROM graft.$ns.s").head()
    r.check(s"table count and checksum match the generator")(
      got.getLong(0) == expect.map(_._1).sum && got.getLong(1) == expect.map(_._2).sum)

    def rate(traced: Boolean): Double = {
      val gs = groups.filter(_._2 == traced).map(_._1)
      gs.size * Interval * BatchRows / math.max(1e-9, gs.map(g => (g._3 - g._1) / 1000).sum)
    }
    r.report(setupS, flushes.toSeq, fresh.toSeq, rate, ns)
    r.detail("ingest_rows_per_s") = rate(false)
    r.named("flush", flushes.filterNot(_._2).map(_._1).toSeq)
    r.named("freshness", fresh.filterNot(_._2).map(_._1).toSeq)

    if (r.tracer.enabled) {
      val batches = groups.count(_._2) * Interval
      r.layer("sources.decode_ms") =
        r.tracer.spans.filter(_.name == "sources.next").map(_.ms).sum / math.max(1, batches)
      val (jobs, gap) = r.jobsAndGap(Set("flush"))
      r.layer("loader.jobs_per_flush") = jobs
      r.layer("loader.driver_gap_ms") = gap
      r.commonLayers(ident, tracedFrom, Set("flush"))
    }
  }
}
