package perfbench

import scala.jdk.CollectionConverters._

import graft.config.{LoaderConfig, WriteMode}
import graft.loader.Loader
import graft.meta.Snapshot
import graft.table.TableIdent

/** `upsert_mixed`: writes beside reads on one keyed table. A table of
  * 200k rows partitioned `bucket(8, id)` is built in set-up; each cycle
  * then runs one `Loader` upsert (`joinCols = id`, 1k rows favouring
  * recent ids, a fifth of them new) fed as an Arrow IPC stream, four SQL
  * point lookups and one SQL range aggregate. Main latency is the
  * upsert, side latency the point lookup; the range aggregate is
  * reported as `scan`. A change that makes upserts cheaper by pushing
  * work onto reads shows up in the side latency and in `scan`.
  */
object UpsertMixed {
  val BaseRows = 50000
  val BatchRows = 500
  val Range = 2000
  /** Untimed cycles before the clock starts: the JIT is still speeding
    * the upsert and read paths up for the first few.
    */
  val WarmCycles = 3

  def run(r: Run): Unit = {
    val gen = r.gen
    val spark = r.spark
    val loader = new Loader(r.catalog)
    val spec = Some("bucket(8, id)")
    val createCfg = LoaderConfig(writeMode = WriteMode.Append, partitionCol = spec, commitInterval = 4)
    val upsertCfg = LoaderConfig(writeMode = WriteMode.Upsert, partitionCol = spec, joinCols = Some(Seq("id")))

    val model = new java.util.TreeMap[java.lang.Long, Rec]()
    val base = gen.upsertBase(BaseRows)
    base.foreach(x => model.put(x.id, x))
    val baseIpc = Gen.ipc(base.grouped(BaseRows / 4))
    var nextId = model.lastKey + 1

    // each repetition builds its own table; the loop runs on the last one
    r.phase("inputs_done")
    val ns = s"upsert${r.setupReps - 1}"
    val ident = TableIdent(ns, "t")
    val table = s"graft.$ns.t"
    val setupS = r.setupS { i =>
      loader.loadBatches(r.ipcSource(baseIpc), TableIdent(s"upsert$i", "t"), Some(createCfg))
    }
    val log = r.catalog.load(ident).log

    def sameRow(row: org.apache.spark.sql.Row, x: Rec): Boolean = {
      val ts = row.getTimestamp(1)
      row.getLong(0) == x.id && ts.getTime / 1000 * 1000000L + ts.getNanos / 1000 == x.tsMicros &&
        row.getString(2) == x.name && row.getDouble(3) == x.v
    }

    val rewrite, prune, plan = scala.collection.mutable.ArrayBuffer.empty[Double]
    /** One cycle of the mix. Warm-up cycles (negative `c`) run and check
      * the same operations under the kind `warmup`, which no metric reads.
      */
    def cycle(c: Int, traced: Boolean): Unit = {
      def kind(k: String) = if (c < 0) "warmup" else k
      val batch = gen.upsertBatch(c, BatchRows, nextId)
      val bytes = Gen.ipc(Iterator(batch))
      val v0 = log.currentVersion().get
      r.op(kind("upsert"), s"upsert-$c", traced) {
        loader.loadBatches(r.ipcSource(bytes), ident, Some(upsertCfg))
      }.foreach { res =>
        r.check(s"upsert $c loaded $BatchRows rows")(res.rowsLoaded == BatchRows)
        batch.foreach(x => model.put(x.id, x))
        nextId = model.lastKey + 1
        if (traced) {
          val (added, removed) = Snapshot.diffFiles(log.read(v0), log.read(log.currentVersion().get))
          rewrite += (added ++ removed).map(_.sizeBytes).sum.toDouble / bytes.length
        }
      }

      val (points, lo) = gen.readsOf(c, nextId, Range)
      for ((id, j) <- points.zipWithIndex if r.timeLeft) {
        r.op(kind("lookup"), s"lookup-$c-$j", traced) {
          val df = spark.sql(s"SELECT id, ts, name, v FROM $table WHERE id = $id")
          if (traced) {
            val t0 = r.tracer.nowMs
            r.tracer.span("table.plan")(df.queryExecution.executedPlan)
            plan += r.tracer.nowMs - t0
          }
          df.collect()
        }.foreach { rows =>
          r.check(s"lookup of id $id returns the model's row")(Option(model.get(id)) match {
            case Some(x) => rows.length == 1 && sameRow(rows(0), x)
            case None => rows.isEmpty
          })
        }
        if (traced) {
          val t = r.catalog.load(ident)
          prune += t.prunedFiles(s"id = ${id}L").size.toDouble / math.max(1, t.currentOrFail().files.size)
        }
      }
      if (r.timeLeft) r.op(kind("scan"), s"scan-$c", traced) {
        spark.sql(s"SELECT count(*), coalesce(sum(${Gen.hashSql}), 0) FROM $table " +
          s"WHERE id BETWEEN $lo AND ${lo + Range - 1}").head()
      }.foreach { row =>
        val in = model.subMap(lo, true, lo + Range - 1, true).values().asScala
        r.check(s"range aggregate from $lo matches the model")(
          row.getLong(0) == in.size && row.getLong(1) == in.iterator.map(Gen.hash).sum)
      }
    }

    (-WarmCycles until 0).foreach(cycle(_, traced = false))
    r.phase("warmup_done")
    var c = 0
    var tracedFrom = 0
    r.measure { traced =>
      if (traced) tracedFrom = log.currentVersion().get
      while (r.timeLeft) { cycle(c, traced); c += 1 }
    }
    val all = model.values().asScala
    val got = spark.sql(s"SELECT count(*), coalesce(sum(${Gen.hashSql}), 0) FROM $table").head()
    r.check("final table hash equals the model's")(
      got.getLong(0) == model.size && got.getLong(1) == all.iterator.map(Gen.hash).sum)

    def withFlag(kind: String) = r.ops.filter(_.kind == kind).map(o => (o.ms, o.traced)).toSeq
    def rate(traced: Boolean): Double = {
      val os = r.ops.filter(o => o.traced == traced && o.kind != "warmup")
      os.count(_.kind == "upsert") * BatchRows / math.max(1e-9, os.map(_.ms).sum / 1000)
    }
    r.report(setupS, withFlag("upsert"), withFlag("lookup"), rate, ns)
    for (k <- Seq("upsert", "lookup", "scan")) r.named(k, r.ms(k, traced = false))
    r.detail("cycles") = c

    if (r.tracer.enabled) {
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val decode = r.tracer.spans.filter(_.name == "sources.next")
      val upserts = r.ops.count(o => o.kind == "upsert" && o.traced)
      r.layer("sources.decode_ms") = decode.map(_.ms).sum / math.max(1, upserts)
      val (jobs, gap) = r.jobsAndGap(Set("upsert"))
      r.layer("loader.jobs_per_flush") = jobs
      r.layer("loader.driver_gap_ms") = gap
      r.layer("table.upsert_rewrite_ratio") = mean(rewrite.toSeq)
      r.layer("table.prune_frac") = mean(prune.toSeq)
      r.layer("table.plan_ms") = if (plan.isEmpty) 0.0 else Stats.median(plan.toSeq)
      r.commonLayers(ident, tracedFrom, Set("upsert", "lookup", "scan"))
    }
  }
}
