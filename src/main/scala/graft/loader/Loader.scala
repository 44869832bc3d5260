package graft.loader

import java.time.Instant

import graft.config.LoaderConfig
import graft.table.{GraftCatalog, GraftTable, Projection, TableIdent}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

/** Result stats of one load call (`core/loader.py:237-258`). */
final case class LoadResult(
    rowsLoaded: Long,
    writeMode: String,
    partitionCol: Option[String],
    tableLocation: String,
    snapshotId: Option[Long],
    batchesProcessed: Int,
    newTableCreated: Boolean) {
  /** Reference renders a missing snapshot as the string `'none'`. */
  def snapshotIdString: String = snapshotId.map(_.toString).getOrElse("none")
}

/** Ingestion orchestrator — the Spark realization of
  * `IcebergLoader` (`src/iceberg_loader/core/loader.py:39-258`).
  *
  *   - [[loadData]]     = `load_data` (S1): whole table in one stream.
  *   - [[loadBatches]]  = `load_data_batches` (S3): iterator of
  *     micro-batch DataFrames, flushed every `commitInterval` batches as
  *     one transaction (ST1); `0` behaves as `1` — one transaction per
  *     batch (the `max(1, interval)` guard, `core/loader.py:214`).
  *   - mixed-schema batches inside one flush are normalized with
  *     `unionByName(allowMissingColumns)` (ST2, `core/loader.py:70-107`);
  *   - `_load_dttm` injection (P4, `core/loader.py:137-143`);
  *   - get-or-create + optional additive schema evolution per flush
  *     (C1/C2, `core/schema.py:32-78`);
  *   - empty stream ⇒ no table touched, `rows_loaded=0`,
  *     `snapshot_id='none'` (ST3, `core/loader.py:237-258`).
  *
  * Scale: each flush is a single distributed write job; the driver only
  * buffers DataFrame *plans* (lazy), never rows, so memory is bounded by
  * plan size — the Spark analogue of the reference's
  * `commit_interval × batch_size` bound (`README.md:64`).
  */
final class Loader(catalog: GraftCatalog, defaultConfig: LoaderConfig = LoaderConfig()) {

  def loadData(df: DataFrame, ident: TableIdent,
               config: Option[LoaderConfig] = None): LoadResult =
    loadBatches(Iterator.single(df), ident, config)

  /** S2: ingest an Arrow IPC stream — each record batch is one
    * micro-batch through the same pipeline (`core/loader.py:56-68,294-306`).
    */
  def loadIpcStream(source: java.io.InputStream, ident: TableIdent,
                    config: Option[LoaderConfig] = None): LoadResult =
    loadBatches(graft.sources.ArrowIpcSource.read(catalog.spark, source), ident, config)

  def loadIpcFile(path: String, ident: TableIdent,
                  config: Option[LoaderConfig] = None): LoadResult =
    loadBatches(graft.sources.ArrowIpcSource.readFile(catalog.spark, path), ident, config)

  /** S6: ingest a REST endpoint — each fetched JSON batch becomes one
    * micro-batch through the messy-dict pipeline (`examples/
    * rest_adapter.py:9-35` feeding `load_data_batches`).
    */
  def loadRest(url: String, ident: TableIdent,
               config: Option[LoaderConfig] = None,
               rest: graft.sources.RestSource.RestConfig =
                 graft.sources.RestSource.RestConfig()): LoadResult =
    loadBatches(
      graft.sources.RestSource.getData(url, rest)
        .filter(_.nonEmpty)
        .map(b => graft.sources.JsonIngest.createDataFrame(catalog.spark, b)),
      ident, config)

  def loadBatches(batches: Iterator[DataFrame], ident: TableIdent,
                  config: Option[LoaderConfig] = None): LoadResult = {
    val cfg = config.getOrElse(defaultConfig)
    val strategy = WriteStrategy.forConfig(cfg)
    val flushEvery = math.max(1, cfg.commitInterval)

    var table: Option[GraftTable] = None
    var isFirstWrite = true
    var newTableCreated = false
    var totalRows = 0L
    var batchCount = 0
    var lastSnapshot: Option[Long] = None

    val buffer = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    def flush(): Unit = {
      if (buffer.isEmpty) return
      val combined = normalize(buffer.toSeq)
      buffer.clear()
      val stamped = Loader.injectLoadTs(combined, cfg)
      val t = table.getOrElse {
        val existed = catalog.exists(ident)
        val tt = catalog.ensure(ident, cfg.partitionCol)
        newTableCreated = !existed
        table = Some(tt)
        tt
      }
      // additive schema evolution before projection (C2); only when the
      // table already has a snapshot to evolve
      if (cfg.schemaEvolution && t.current().isDefined) {
        t.evolveSchema(stamped.schema)
      }
      // Row accounting rides the job that evaluates the buffered batches
      // (Observation): the write job for append/overwrite, the source
      // checkpoint that feeds the write for upsert. No second evaluation,
      // and the count is what the commit actually holds — a separate
      // count() would re-read the source and could diverge on
      // non-deterministic inputs.
      val obs = org.apache.spark.sql.Observation(
        s"graft_load_${java.util.UUID.randomUUID().toString.take(8)}")
      val observed = stamped.observe(obs, count(lit(1)).as("rows"))
      val snap = strategy.write(t, observed, cfg, isFirstWrite)
      val rows = obs.get("rows").asInstanceOf[Long]
      isFirstWrite = false
      totalRows += rows
      lastSnapshot = Some(snap.snapshotId)
      graft.observability.Log.metrics("flush_committed",
        "table" -> ident, "rows" -> rows, "snapshot_id" -> snap.snapshotId,
        "operation" -> snap.operation)
    }

    batches.foreach { b =>
      buffer += b
      batchCount += 1
      if (buffer.size >= flushEvery) flush()
    }
    flush() // final partial buffer (`core/loader.py:227-235`)

    LoadResult(
      rowsLoaded = totalRows,
      writeMode = strategy.name,
      partitionCol = cfg.partitionCol,
      tableLocation = catalog.tableDir(ident).toString,
      snapshotId = lastSnapshot,
      batchesProcessed = batchCount,
      newTableCreated = newTableCreated)
  }

  /** Mixed-schema normalization (ST2): union buffered batches by column
    * name, filling missing columns with NULL — the Spark equivalent of
    * the reference's evolve-and-cast fallback (`core/loader.py:70-107`).
    */
  private def normalize(batches: Seq[DataFrame]): DataFrame =
    batches.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))

}

object Loader {
  /** P4: constant load-timestamp column (`core/loader.py:137-143`).
    * Replaces an incoming column of the same name, like the reference's
    * set_column-or-append behavior. Shared by the batch loader and the
    * streaming sink ([[graft.streaming.GraftStream]]).
    */
  def injectLoadTs(df: DataFrame, cfg: LoaderConfig): DataFrame =
    cfg.loadTimestamp match {
      case None => df
      case Some(ts) =>
        val without =
          if (df.columns.exists(_.equalsIgnoreCase(cfg.loadTsCol))) df.drop(cfg.loadTsCol)
          else df
        without.withColumn(cfg.loadTsCol,
          lit(java.sql.Timestamp.from(ts)).cast(TimestampType))
    }
}
