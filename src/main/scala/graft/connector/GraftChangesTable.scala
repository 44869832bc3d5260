package graft.connector

import java.util

import graft.meta.DataFile
import graft.table.GraftTable

import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** The CDC surface of a graft table as a DSv2 relation —
  * `graft.ns.t.changes` — completing the Iceberg-changelog / Delta-CDF
  * analogy whose batch side is [[GraftTable.scanChangesBetween]]:
  *
  * {{{
  * -- batch: commits in (startingVersion, endingVersion]
  * spark.read.option("startingVersion", 0).table("graft.ns.t.changes")
  * -- streaming: offset = table version, rows tagged insert/delete
  * spark.readStream.option("streamStartVersion", "-1").table("graft.ns.t.changes")
  * -- either: skipMaintenance=true drops visible-row-preserving
  * -- rewrites (compaction/cluster/delete coalescing) from the feed —
  * -- the Delta-CDF dataChange=false analog for stateful consumers
  * }}}
  *
  * Schema = the table's columns + `_change_type` ('insert' | 'delete')
  * + `_commit_version`. EVERY commit kind is consumable — rewriting
  * commits (delete-where, upsert, compaction) emit file-level
  * delete+insert pairs; merge-on-read delete commits emit their exact
  * pre-image; ranges crossing column rename/drop history read old
  * files under their physical era names, mapped back by field id. The
  * feed therefore keeps working in exactly the at-scale configuration
  * (`graft.delete.mode=mor`, metadata-only renames) — the round-11
  * refusals are gone.
  *
  * Planning is metadata-only for file-representable commits (per-
  * version manifest diffs on the driver, one native ParquetScan per
  * (side, write-era)); merge-on-read shapes read a per-version
  * MATERIALIZED change cache ([[GraftTable.cdcSides]]) computed once
  * with the exact batch-changelog plans and then replayed as plain
  * file scans by every consumer. The two CDC columns are appended
  * per-partition by a reader wrapper — the tag is constant per
  * (file, commit), so it costs a JoinedRow, not a per-row computation.
  * Column pruning and data-column filters push through to the parquet
  * scan on current-era files; every filter stays residual, so pushdown
  * is pure speedup, never semantics.
  */
final class GraftChangesTable(tbl: GraftTable, ident: Identifier)
    extends Table with SupportsRead {

  override def name(): String = ident.toString

  override def schema(): StructType = GraftCdc.changeSchema(tbl.schema)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftChangesScanBuilder(tbl, options)
}

final class GraftChangesScanBuilder(tbl: GraftTable,
                                    options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  // pinned at scan build: era mapping and output naming must stay
  // stable for the scan's (and a stream's) whole lifetime even if the
  // table is renamed underneath it
  private val tableSchema: StructType = tbl.schema

  private var required: StructType = GraftCdc.changeSchema(tableSchema)
  private var pushed: Array[Filter] = Array.empty
  private var all: Array[Filter] = Array.empty

  /** Keep data-column filters for parquet row-group pruning; return
    * EVERY filter residual (Spark re-evaluates row-level), so CDC-
    * column predicates and untranslatable shapes lose nothing. The
    * full conjunction is also kept: predicates on the metadata columns
    * prune at PLAN time (skip change sides / whole versions) — see
    * [[GraftCdc.MetaPruning]].
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val dataCols = tableSchema.fieldNames.map(_.toLowerCase).toSet
    pushed = filters.filter(_.references.forall(r => dataCols.contains(r.toLowerCase)))
    all = filters
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftChangesScan(tbl, options, tableSchema, required, pushed,
      GraftCdc.MetaPruning(all))
}

final class GraftChangesScan(tbl: GraftTable, options: CaseInsensitiveStringMap,
                             tableSchema: StructType,
                             required: StructType, pushed: Array[Filter],
                             metaPrune: GraftCdc.MetaPruning)
    extends Scan with GraftMicroBatchStream.VersionFeed {

  // the pruned read split into its parquet part and its constant part.
  // Data fields are re-bound to the PINNED table schema's StructFields:
  // Spark's column pruning may strip field metadata, and the era
  // mapping matches physical names BY FIELD ID from that metadata.
  private val dataPart = StructType(
    required.fields.flatMap(f => tableSchema.fields.find(_.name == f.name)))
  override val metaPart: Seq[String] =
    required.fields.map(_.name).filter(GraftCdc.MetaCols.contains).toSeq

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftChanges(${tbl.tableDir}, read=${required.fieldNames.mkString(",")}, " +
      s"pushed=[${pushed.mkString(", ")}], meta=$metaPrune)"

  override def toBatch: Batch = new Batch {
    private val from = Option(options.get("startingVersion")).map(_.toInt).getOrElse(0)
    private val to = Option(options.get("endingVersion")).map(_.toInt)
      .getOrElse(tbl.currentOrFail().version)

    override def planInputPartitions(): Array[InputPartition] =
      partitions(from, to, tbl.cdcSides)

    override def createReaderFactory(): PartitionReaderFactory =
      new GraftCdc.CdcReaderFactory(metaPart)
  }

  /** Streaming CDC over [[GraftMicroBatchStream]]: rows tagged insert /
    * delete per version (`-1` = genesis emits v0's state as inserts at
    * version 0). Admission sizes a version by its CHANGE (insert +
    * delete sides); `maxVersionsPerTrigger` also caps the version span.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(tbl, options, this)

  override def maxVersions: Option[Int] =
    Option(options.get("maxVersionsPerTrigger")).map(_.toInt)

  override def sizeOf(v: Int, sides: Int => GraftTable.CdcSides): (Long, Long) = {
    val s = sides(v)
    (s.fileCount.toLong, s.rowCount)
  }

  override def partitions(from: Int, to: Int,
                          sides: Int => GraftTable.CdcSides): Array[InputPartition] =
    GraftCdc.partitionsBetween(tbl, from, to, tableSchema, dataPart, pushed,
      metaPrune, sides, skipMaintenance = options.getBoolean("skipMaintenance", false))

  override def expired(v: Int): String = GraftCdc.expired(tbl, v)
}

private[graft] object GraftCdc {

  val MetaCols: Set[String] = Set("_change_type", "_commit_version")

  /** Plan-time pruning derived from predicates on the CDC metadata
    * columns. The filter array Spark pushes is a CONJUNCTION of
    * top-level filters, so any single conjunct bounding `_change_type`
    * or `_commit_version` may prune sides/versions soundly — every
    * filter also stays residual, so an unrecognized shape (Or, Not,
    * casts) merely loses the pruning, never rows. `WHERE _change_type =
    * 'insert'` plans zero delete-side scans; `WHERE _commit_version =
    * 5` walks one version instead of the whole range.
    */
  final case class MetaPruning(changeTypes: Option[Set[String]],
                               minVersion: Option[Int],
                               maxVersion: Option[Int],
                               versionSet: Option[Set[Int]]) {
    def sideAllowed(tag: String): Boolean = changeTypes.forall(_.contains(tag))
    def versionAllowed(v: Int): Boolean =
      minVersion.forall(v >= _) && maxVersion.forall(v <= _) &&
        versionSet.forall(_.contains(v))
    override def toString: String = {
      val parts = changeTypes.map(t => s"type in ${t.mkString("{", ",", "}")}").toSeq ++
        minVersion.map(v => s"v>=$v") ++ maxVersion.map(v => s"v<=$v") ++
        versionSet.map(s => s"v in ${s.toSeq.sorted.mkString("{", ",", "}")}")
      if (parts.isEmpty) "all" else parts.mkString(" and ")
    }
  }

  object MetaPruning {
    val all: MetaPruning = MetaPruning(None, None, None, None)

    def apply(filters: Array[Filter]): MetaPruning = {
      import org.apache.spark.sql.sources._
      def asInt(v: Any): Option[Int] = v match {
        case i: Int => Some(i)
        case l: Long if l.isValidInt => Some(l.toInt)
        case s: Short => Some(s.toInt)
        case _ => None
      }
      var ct: Option[Set[String]] = None
      var lo: Option[Int] = None
      var hi: Option[Int] = None
      var vs: Option[Set[Int]] = None
      def tightenCt(s: Set[String]): Unit =
        ct = Some(ct.map(_.intersect(s)).getOrElse(s))
      def tightenLo(v: Int): Unit = lo = Some(lo.map(math.max(_, v)).getOrElse(v))
      def tightenHi(v: Int): Unit = hi = Some(hi.map(math.min(_, v)).getOrElse(v))
      filters.foreach {
        case EqualTo("_change_type", s: String) => tightenCt(Set(s))
        case EqualNullSafe("_change_type", s: String) => tightenCt(Set(s))
        case In("_change_type", vals) =>
          tightenCt(vals.collect { case s: String => s }.toSet)
        case EqualTo("_commit_version", v) =>
          asInt(v).foreach { i => tightenLo(i); tightenHi(i) }
        case EqualNullSafe("_commit_version", v) =>
          asInt(v).foreach { i => tightenLo(i); tightenHi(i) }
        case GreaterThan("_commit_version", v) => asInt(v).foreach(i => tightenLo(i + 1))
        case GreaterThanOrEqual("_commit_version", v) => asInt(v).foreach(tightenLo)
        case LessThan("_commit_version", v) => asInt(v).foreach(i => tightenHi(i - 1))
        case LessThanOrEqual("_commit_version", v) => asInt(v).foreach(tightenHi)
        case In("_commit_version", vals) =>
          val ints = vals.flatMap(asInt).toSet
          if (ints.size == vals.length)
            vs = Some(vs.map(_.intersect(ints)).getOrElse(ints))
        case _ => () // unrecognized conjunct: no pruning from it
      }
      MetaPruning(ct, lo, hi, vs)
    }
  }

  def changeSchema(dataSchema: StructType): StructType =
    StructType(dataSchema.fields :+
      StructField("_change_type", StringType, nullable = false) :+
      StructField("_commit_version", IntegerType, nullable = false))

  /** One read task = a delegate parquet partition plus the constant
    * (change side, commit version) it carries and the reader factory
    * that knows its era's physical read schema. Embedding the factory
    * per partition is what lets ONE batch span several eras and the
    * materialized cache — each is a different physical column layout.
    * The table stream, which requests no constant column, tags a scan
    * spanning several versions with the batch's end version.
    */
  final case class CdcPartition(delegate: InputPartition, changeType: String,
                                version: Int,
                                factory: PartitionReaderFactory) extends InputPartition {
    override def preferredLocations(): Array[String] = delegate.preferredLocations()
  }

  /** Per-version change partitions of (`from`, `to`] — the exact
    * row-level diff of each commit ([[GraftTable.cdcSides]]): raw
    * manifest diffs per write era, materialized-cache scans for
    * merge-on-read shapes. O(changed manifests) metadata work per
    * file-representable version; a version's insert and delete sides
    * each plan through native ParquetScans.
    */
  def partitionsBetween(tbl: GraftTable, from: Int, to: Int,
                        tableSchema: StructType,
                        dataPart: StructType,
                        pushed: Array[Filter],
                        metaPrune: MetaPruning,
                        sidesAt: Int => GraftTable.CdcSides,
                        skipMaintenance: Boolean = false): Array[InputPartition] = {
    require(from <= to, s"bad change range: $from..$to")
    (math.max(from + 1, 0) to to).flatMap { v =>
      GraftMicroBatchStream.whenLive(expired(tbl, v)) {
        if (!metaPrune.versionAllowed(v) || skipMaintenance &&
            GraftTable.MaintenanceOps.contains(tbl.log.read(v).operation)) Nil
        else {
          val sides = sidesAt(v)
          def emit(tag: String, parts: Seq[GraftTable.CdcFiles]) =
            if (!metaPrune.sideAllowed(tag)) Nil
            else parts.flatMap(p =>
              eraPartitions(tbl, p, tableSchema, dataPart, pushed, tag, v))
          emit("insert", sides.ins) ++ emit("delete", sides.del)
        }
      }
    }.toArray
  }

  def expired(tbl: GraftTable, v: Int): String =
    s"graft change feed over ${tbl.tableDir} needs version $v, which has " +
      "been removed by expire_snapshots; the requested range is gone and " +
      "cannot be replayed. Restart from a live startingVersion / fresh " +
      "checkpoint."

  /** The read tasks of one era scan over `part`, tagged (`tag`, `v`). */
  def eraPartitions(tbl: GraftTable, part: GraftTable.CdcFiles,
                    tableSchema: StructType, dataPart: StructType,
                    pushed: Array[Filter], tag: String, v: Int): Seq[InputPartition] =
    if (part.files.isEmpty) Nil
    else {
      val batch = eraScan(tbl, part.writeSchema, part.files, tableSchema, dataPart, pushed).toBatch
      val factory = batch.createReaderFactory()
      batch.planInputPartitions().toSeq.map(CdcPartition(_, tag, v, factory))
    }

  /** A native ParquetScan over files written under `writeSchema`,
    * reading the requested fields under their PHYSICAL era names
    * (mapped by field id — [[GraftTable.nameMapping]]); output rows are
    * positionally identical to `dataPart`, so no per-row renaming ever
    * happens. Fields postdating the era null-fill; a name reused by a
    * since-dropped different field reads salted (never resurrecting the
    * dead values). Filters push into EVERY era with their column
    * references translated to the era's physical names
    * ([[FilterRename]]) — row-group pruning keeps working inside
    * pre-rename files; a filter on a column the era cannot answer is
    * simply not pushed. Every filter stays residual above, so the push
    * is pure speedup, never semantics.
    */
  private def eraScan(tbl: GraftTable, writeSchema: StructType,
                      files: Seq[DataFile], tableSchema: StructType,
                      dataPart: StructType, pushed: Array[Filter]): ParquetScan = {
    val spark = tbl.spark
    val mapping = tbl.nameMapping(writeSchema, dataPart)
    val physSchema = mapping match {
      case None => dataPart
      case Some(m) => StructType(m.map { case (n, f) =>
        StructField(n, f.dataType, nullable = true) })
    }
    // filters may reference unprojected columns: translate through the
    // FULL current schema's era mapping, not the pruned one
    val filterMap = FilterRename.eraMap(writeSchema,
      tbl.nameMapping(writeSchema, tableSchema), tableSchema)
    val pushable = pushed.flatMap(FilterRename(_, filterMap))
    // FILE-level zone-map pruning from the same translated conjunction:
    // a changed file whose stats prove no row can satisfy the pushed
    // filters contributes nothing the residual re-evaluation wouldn't
    // drop, so a filtered CDC backfill skips it without opening it.
    // Stats are keyed by the files' own physical (era) names — the
    // translated predicate speaks exactly that naming.
    val pruned =
      if (pushable.isEmpty) files
      else {
        val preds = pushable.flatMap(FilterSql.toSql)
        if (preds.isEmpty) files
        else {
          val expr = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(preds.mkString("(", ") AND (", ")"))
          files.filter(f =>
            graft.table.StatsPruner.evaluate(f, writeSchema, expr).may)
        }
      }
    ParquetScan(
      sparkSession = spark,
      hadoopConf = GraftSqlShim.newHadoopConf(spark),
      fileIndex = new GraftFileIndex(spark, tbl.tableDir, pruned, writeSchema),
      dataSchema = writeSchema,
      readDataSchema = physSchema,
      readPartitionSchema = StructType(Nil),
      pushedFilters = pushable, // row-group pruning; all residual above
      options = CaseInsensitiveStringMap.empty())
  }

  /** Dispatches each [[CdcPartition]] to its embedded era factory and
    * appends the REQUESTED subset of (`_change_type`,
    * `_commit_version`). Both read shapes are served: the row path
    * wraps a reused JoinedRow; the columnar path keeps the delegate's
    * vectorized parquet batches INTACT and appends two
    * [[ConstantColumnVector]]s — the tag is constant per (file,
    * commit), so a CDC backfill scan stays inside whole-stage codegen's
    * ColumnarToRow instead of paying a per-row wrapper. With no
    * constant column requested (the table stream, a data-only change
    * read) the era reader is handed back untouched.
    */
  final class CdcReaderFactory(metaPart: Seq[String])
      extends PartitionReaderFactory {

    private def cdc(partition: InputPartition): CdcPartition = partition match {
      case c: CdcPartition => c
      case other => throw new IllegalStateException(s"unexpected partition kind: $other")
    }

    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val c = cdc(partition)
      val inner = c.factory.createReader(c.delegate)
      if (metaPart.isEmpty) return inner
      val meta = new GenericInternalRow(metaPart.map {
        case "_change_type" => UTF8String.fromString(c.changeType): Any
        case "_commit_version" => c.version: Any
      }.toArray)
      val joined = new JoinedRow
      new PartitionReader[InternalRow] {
        override def next(): Boolean = inner.next()
        override def get(): InternalRow = joined(inner.get(), meta)
        override def close(): Unit = inner.close()
      }
    }

    override def createColumnarReader(partition: InputPartition)
        : PartitionReader[ColumnarBatch] = {
      val c = cdc(partition)
      val inner = c.factory.createColumnarReader(c.delegate)
      if (metaPart.isEmpty) return inner
      new PartitionReader[ColumnarBatch] {
        override def next(): Boolean = inner.next()
        override def get(): ColumnarBatch = {
          val b = inner.get()
          val metaVecs = metaPart.map {
            case "_change_type" =>
              val v = new ConstantColumnVector(b.numRows, StringType)
              v.setUtf8String(UTF8String.fromString(c.changeType))
              v: ColumnVector
            case "_commit_version" =>
              val v = new ConstantColumnVector(b.numRows, IntegerType)
              v.setInt(c.version)
              v: ColumnVector
          }
          val cols = Array.tabulate[ColumnVector](b.numCols)(b.column) ++ metaVecs
          // wraps the delegate's vectors; the inner reader owns and
          // closes them, the constant vectors hold no buffers
          new ColumnarBatch(cols, b.numRows)
        }
        override def close(): Unit = inner.close()
      }
    }

    /** Columnar iff the era's parquet factory reads this partition
      * vectorized (flat schemas: yes) — the constant append handles
      * either way.
      */
    override def supportColumnarReads(partition: InputPartition): Boolean = {
      val c = cdc(partition)
      c.factory.supportColumnarReads(c.delegate)
    }
  }
}
