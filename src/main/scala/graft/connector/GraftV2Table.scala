package graft.connector

import java.util

import graft.table.GraftTable

import graft.meta.{DataFile, Snapshot}

import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** DSv2 `Table` over a [[GraftTable]]: reads plan NATIVELY — pushed
  * filters prune manifests and files via the summary/partition/zone-map
  * pruners, and the surviving file set is handed to Spark's own DSv2
  * `ParquetScan` over a metadata-backed [[GraftFileIndex]] (no
  * filesystem listing, vectorized columnar reads, whole-stage codegen,
  * exact snapshot statistics visible to join planning). Spark still
  * evaluates every filter on the surviving rows, so pruning is pure
  * speedup, never semantics. Writes bridge through `V1Write` into the
  * optimistic-commit append/overwrite path.
  *
  * `asOf` pins the table to a snapshot for SQL time travel
  * (`VERSION AS OF` / `TIMESTAMP AS OF`); pinned tables are read-only
  * and plan the same native scan against their pinned snapshot.
  * `DELETE FROM ... WHERE` bridges to the copy-on-write
  * [[GraftTable.deleteWhere]] when every filter is translatable.
  */
final class GraftV2Table(tbl: GraftTable, ident: Identifier,
                         asOf: Option[Either[Int, Long]] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  override def name(): String = ident.toString

  /** The table-format handle, for sibling command rewrites (MERGE). */
  private[connector] def underlying: GraftTable = tbl

  /** Structural equality: same table directory + same time-travel pin.
    * Each catalog lookup builds a fresh handle, so without this two
    * separately-analyzed plans over the same table never compare equal
    * at the leaves — which defeats canonicalized-plan matching
    * (`sameResult`): Spark's exchange/subquery reuse within a query,
    * and the opt-in MV rewrite's shape matcher across queries.
    */
  override def equals(other: Any): Boolean = other match {
    case o: GraftV2Table =>
      o.underlying.tableDir.toString == tbl.tableDir.toString && o.pin == asOf
    case _ => false
  }
  override def hashCode(): Int = (tbl.tableDir.toString, asOf).##
  private[connector] def pin: Option[Either[Int, Long]] = asOf

  // resolved once: Spark calls schema()/readSchema several times during
  // analysis, and each resolution re-reads the snapshot log
  private lazy val pinnedSnap: Snapshot = asOf match {
    case Some(Left(version)) => tbl.snapshotAt(version)
    case Some(Right(tsMs)) => tbl.snapshotAsOfTimestamp(tsMs)
    case None => tbl.currentOrFail()
  }

  override def schema(): StructType = asOf match {
    case None => tbl.schema
    case Some(_) => pinnedSnap.schema
  }

  /** The snapshot this table would scan, when it carries pending
    * merge-on-read deletes — the trigger for [[GraftMorScanRule]] to
    * replace the native file scan with the delete-applying plan.
    * None in the (overwhelmingly common) delete-free state.
    */
  private[connector] def morSnapshot: Option[Snapshot] =
    (asOf match {
      case None => tbl.current()
      case Some(_) => Some(pinnedSnap)
    // pending MoR deletes AND live name-evolution history both need the
    // table-side plan: the native scan reads raw files by CURRENT
    // column names, which pre-rename files don't carry
    }).filter(s => s.deleteGroups.nonEmpty || s.schemaLog.nonEmpty)

  override def capabilities(): util.Set[TableCapability] =
    if (asOf.isDefined) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def properties(): util.Map[String, String] =
    (tbl.currentOrFail().properties ++
      Map("format" -> "graft/parquet",
          "location" -> tbl.tableDir.toString)).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    asOf match {
      case None => new GraftScanBuilder(tbl, () => tbl.currentOrFail(), options)
      case Some(_) => new GraftScanBuilder(tbl, () => pinnedSnap, options)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty, "cannot write to a time-travel (AS OF) table")
    new GraftWriteBuilder(tbl)
  }

  // ---- DELETE FROM ... WHERE ----------------------------------------

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOf.isEmpty && filters.forall(f => FilterSql.toSql(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val preds = filters.flatMap(FilterSql.toSql)
    val sql = if (preds.isEmpty) "true" else preds.mkString("(", ") AND (", ")")
    tbl.deleteWhere(sql)
  }
}

final class GraftScanBuilder(tbl: GraftTable, snapAt: () => Snapshot,
                             options: CaseInsensitiveStringMap =
                               CaseInsensitiveStringMap.empty())
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private var pushed: Array[Filter] = Array.empty
  private var required: Option[StructType] = None
  private var aggResult: Option[(StructType, Array[org.apache.spark.sql.catalyst.InternalRow])] = None
  private var limit: Option[Int] = None

  /** Filterless `LIMIT n` caps the PLANNED FILE SET: take files until
    * their cumulative metadata row count reaches n, so `SELECT * FROM t
    * LIMIT 10` plans one file instead of 10⁵. Partial push — Spark
    * keeps its own Limit on top, the scan only guarantees at least
    * min(n, |t|) rows. Spark never pushes a limit past a residual
    * Filter, and this builder reports every filter residual, so the
    * cap composes with nothing that drops rows (the scan additionally
    * ignores runtime join filters once capped).
    */
  override def pushLimit(n: Int): Boolean =
    if (pushed.nonEmpty || n <= 0) false
    else { limit = Some(n); true }

  override def isPartiallyPushed(): Boolean = true

  /** Keep the translatable filters for FILE pruning but return every
    * filter as residual — Spark re-evaluates them row-level, so an
    * unsound pruner translation can only cost performance, never rows.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => FilterSql.toSql(f).isDefined)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  // ---- metadata-only aggregate pushdown (see GraftAggPushdown) ------
  // Spark only attempts this on filterless scans (every filter above is
  // reported residual), so a successful push answers count/min/max from
  // the manifest-list summaries without opening a single data file.

  // memoized per Aggregation instance: Spark calls
  // supportCompletePushDown then pushAggregation with the same object,
  // and the grouped plan walks O(#files) metadata — once is enough
  private var plannedAgg: Option[(Aggregation, Option[(StructType, Array[org.apache.spark.sql.catalyst.InternalRow])])] = None

  private def planAgg(agg: Aggregation) = plannedAgg match {
    case Some((a, r)) if a eq agg => r
    case _ =>
      val snap = snapAt()
      // manifest counts include rows pending merge-on-read deletion —
      // metadata answers would overcount, so the push is declined.
      // Name-evolution history declines too: pre-rename groups key
      // their summary stats by the OLD column names, so a by-name
      // min/max/null-count lookup would silently skip (or, after a
      // blocked-but-conceivable name reuse, misattribute) them.
      val r = if (pushed.nonEmpty || snap.deleteGroups.nonEmpty ||
                  snap.schemaLog.nonEmpty) None
              else GraftAggPushdown.plan(snap, agg)
      plannedAgg = Some((agg, r))
      r
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    planAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    planAgg(agg) match {
      case some @ Some(_) => aggResult = some; true
      case None => false
    }

  override def build(): Scan = aggResult match {
    case Some((out, rows)) => new GraftAggScan(out, rows, tbl.tableDir.toString)
    case None => new GraftNativeScan(tbl, snapAt(), pushed, required, options, limit)
  }
}

/** Native DSv2 scan: snapshot metadata chooses the file set (manifest
  * summaries → partition transforms → zone maps), then Spark's own
  * `ParquetScan` executes it over a metadata-backed [[GraftFileIndex]].
  * Replaces the earlier `V1Scan`/`DataFrame.rdd` bridge, which
  * materialized `RDD[Row]` and broke columnar transfer + whole-stage
  * codegen across the scan boundary — this scan keeps the vectorized
  * parquet reader's `ColumnarBatch`es flowing straight into codegen,
  * and (unlike the V1 wrapper, which drops `SupportsReportStatistics`)
  * lets the exact metadata row/byte counts reach join planning.
  */
final class GraftNativeScan(tbl: GraftTable, snap: Snapshot,
                            pushed: Array[Filter],
                            required: Option[StructType],
                            options: CaseInsensitiveStringMap =
                              CaseInsensitiveStringMap.empty(),
                            limit: Option[Int] = None) extends Scan
    with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  override def readSchema(): StructType = required.getOrElse(snap.schema)

  /** translated pushed filters, shared by scan, stats, and description
    * so the three can never diverge */
  private lazy val predSql: Option[String] = {
    val preds = pushed.flatMap(FilterSql.toSql)
    if (preds.isEmpty) None else Some(preds.mkString("(", ") AND (", ")"))
  }

  // ---- runtime (DPP-style) filtering --------------------------------
  // Spark may deliver join-key IN-sets at EXECUTION time (dynamic
  // partition pruning through DSv2). Any top-level column is fair game:
  // partition values prune via transforms, everything else via zone
  // maps — either way the re-prune is pure driver-side metadata, and a
  // filter that doesn't prune simply leaves the file set unchanged.
  @volatile private var runtimeSql: Option[String] = None

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only columns in the scan OUTPUT: Spark resolves each attribute
    // against the pruned relation and fails on absent ones
    readSchema().fields.map(f =>
      org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(filters: Array[Filter]): Unit = {
    // a limit-capped scan must KEEP its planned file set: a runtime
    // filter drops rows the JOIN would discard, but the pushed limit
    // promised at least min(n, |t|) rows BEFORE the join sees them
    if (limit.isDefined) return
    val preds = filters.flatMap(FilterSql.toSql)
    val sql = preds.mkString("(", ") AND (", ")")
    // runtime pruning is an OPTIMIZATION — skipping it is always sound.
    // A high-cardinality join key can deliver an IN-set whose predicate
    // text costs more to parse + evaluate per file than the pruning
    // saves, so oversized filters are dropped rather than applied.
    if (preds.nonEmpty && sql.length <= GraftNativeScan.MaxRuntimePredicateChars)
      synchronized {
        runtimeSql = Some(sql)
        cachedFiles = None // re-prune with the tightened predicate
      }
  }

  private var cachedFiles: Option[Seq[DataFile]] = None

  private def files: Seq[DataFile] = synchronized {
    cachedFiles.getOrElse {
      val pred = (predSql.toSeq ++ runtimeSql.toSeq) match {
        case Seq() => None
        case ps => Some(ps.mkString("(", ") AND (", ")"))
      }
      val pruned = pred match {
        case None => snap.files
        case Some(p) => tbl.prunedFilesOf(snap, CatalystSqlParser.parseExpression(p))
      }
      // pushed limit (filterless by construction): plan only enough
      // files to cover n rows — metadata row counts are exact
      val f = limit match {
        case Some(n) =>
          val cum = pruned.scanLeft(0L)(_ + _.rows)
          pruned.zip(cum).takeWhile(_._2 < n).map(_._1)
        case None => pruned
      }
      cachedFiles = Some(f)
      f
    }
  }

  // rebuilt iff the pruned file set changed (runtime filters can arrive
  // AFTER planning already forced a delegate via columnarSupportMode)
  private var cachedDelegate: Option[(Seq[DataFile], ParquetScan)] = None

  private def delegate: ParquetScan = synchronized {
    val fs = files
    cachedDelegate match {
      case Some((built, d)) if built eq fs => d
      case _ =>
        val spark = tbl.spark
        val d = ParquetScan(
          sparkSession = spark,
          hadoopConf = GraftSqlShim.newHadoopConf(spark),
          fileIndex = new GraftFileIndex(spark, tbl.tableDir, fs, snap.schema),
          dataSchema = snap.schema,
          readDataSchema = readSchema(),
          readPartitionSchema = StructType(Nil),
          pushedFilters = pushed, // row-group/page-level pruning inside parquet
          options = CaseInsensitiveStringMap.empty())
        cachedDelegate = Some((fs, d))
        d
    }
  }

  // ---- storage-partitioned reads (SPJ) -------------------------------
  // A bucket- or identity-partitioned table reports KeyGroupedPartitioning
  // so Spark can join/aggregate two co-partitioned graft tables with NO
  // shuffle (the Iceberg storage-partitioned-join shape; requires
  // spark.sql.sources.v2.bucketing.enabled). One input partition per
  // distinct partition value — the same task granularity as a bucketed
  // Hive table; bucket counts are the user's parallelism dial.

  /** Key-grouped planning only engages when the session asked for it:
    * without the conf, Spark ignores the reported partitioning anyway,
    * and one-task-per-partition-value planning (whole un-split files)
    * would silently replace ParquetScan's size-balanced splits on
    * EVERY scan of a partitioned table — 8 straggler tasks for a
    * 100 GB bucket(8) table with no join in sight.
    */
  private def v2BucketingOn: Boolean =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean

  /** The ordered partition fields whose key domain round-trips exactly
    * from the stored partition-value strings: bucket (key = bucket id,
    * INT), identity over an integral/string/date column, or a
    * temporal transform (`year`/`month`/`day`/`hour`) over a DATE /
    * wall-clock TIMESTAMP_NTZ column (keys parsed from the stored
    * formatted strings as DATE / epoch-relative INTs; zoned
    * timestamps are excluded — the writer's session timezone shaped
    * the stored keys and is recorded nowhere). A spec whose fields are
    * ALL in the domain — `day(ts), bucket(16, id)`, the canonical
    * 100-TB layout — reports the full value TUPLE as the grouping key
    * and joins shuffle-free on it.
    *
    * Fields OUTSIDE the round-trip domain (truncate/void, temporal
    * transforms over ZONED timestamps, or fields whose source column
    * the query pruned away) are dropped from the reported key rather
    * than disabling SPJ wholesale: the scan reports the surviving
    * SUBSET tuple and [[spjGroups]] groups files by it — every row
    * with bucket b really is in input partition b, so the clustering
    * claim stays exact and a join on the surviving keys avoids
    * shuffling the big side. The trade is coarser tasks (one per
    * surviving-tuple value) while the bucketing conf is on — bucket
    * count remains the parallelism dial. An empty surviving set
    * reports UnknownPartitioning as before.
    *
    * Fields whose SOURCE COLUMN was pruned out of the scan output are
    * dropped the same way: Spark resolves the reported transform
    * expressions against the pruned relation output, so `identity
    * (region)` is unresolvable (→ no SPJ at all) when the query never
    * reads `region` — exactly the single-field-join case. Reporting
    * the surviving subset instead makes `SELECT f.k ... JOIN ON f.k =
    * d.k` over `(region, bucket(k))` tables co-locate by bucket with
    * no conf beyond the bucketing switch.
    */
  private lazy val spjFields: Option[Seq[(graft.partitioning.PartitionField, DataType)]] =
    snap.partitionSpec.flatMap { spec =>
      scala.util.Try(graft.partitioning.PartitionExpr.parseSpec(spec)).toOption
    }.filter(_.nonEmpty).flatMap { pfs =>
      val outputCols = readSchema().fieldNames.map(_.toLowerCase).toSet
      val resolved = pfs.filter(pf => outputCols.contains(pf.sourceCol.toLowerCase))
        .flatMap { pf =>
          pf.transform match {
            case _: graft.partitioning.Transform.Bucket => Some(pf -> (IntegerType: DataType))
            case graft.partitioning.Transform.Identity =>
              snap.schema.fields.find(_.name.equalsIgnoreCase(pf.sourceCol)).collect {
                case f if GraftPartitionKeys.keyDomain(f.dataType) => pf -> f.dataType
              }
            // Temporal transforms: boundaries are timezone-free by
            // construction for all three temporal types — wall-clock
            // for DATE/TIMESTAMP_NTZ, UTC for zoned TIMESTAMP — because
            // the write path derives keys from raw values with exact
            // integer/calendar math (never through the writer's session
            // timezone), matching the V2 functions' reading. `day` keys
            // parse as DATE; year/month/hour parse as epoch-relative
            // INTs matching their V2 functions.
            case graft.partitioning.Transform.Day |
                 graft.partitioning.Transform.Year |
                 graft.partitioning.Transform.Month |
                 graft.partitioning.Transform.Hour =>
              snap.schema.fields.find(_.name.equalsIgnoreCase(pf.sourceCol)).collect {
                case f if f.dataType == DateType || f.dataType == TimestampNTZType ||
                    f.dataType == TimestampType =>
                  pf -> (if (pf.transform == graft.partitioning.Transform.Day)
                           DateType: DataType
                         else IntegerType: DataType)
              }
            case _ => None
          }
        }
      if (resolved.isEmpty) None else Some(resolved)
    }

  /** Files grouped by partition key, FROZEN at first evaluation (static
    * planning time). Runtime filters may later shrink the file set, but
    * the KEY set must stay exactly what `outputPartitioning` reported —
    * a group whose files are all pruned still plans as an empty task.
    * None when any file lacks a parseable key (legacy/void values) —
    * then the scan reports UnknownPartitioning and plans normally.
    */
  private lazy val spjGroups: Option[Seq[(InternalRow, Seq[DataFile])]] =
    spjFields.flatMap { pfds =>
      val fs = files
      if (fs.isEmpty) None
      else {
        // one key cell per spec field, all parseable or the file bails
        def keyOf(f: DataFile): Option[Seq[Option[Any]]] = {
          val cells = pfds.map { case (pf, dt) =>
            f.partitionValues.flatMap(_.get(pf.fieldName)) match {
              case Some(Some(s)) =>
                GraftPartitionKeys.parseTransform(pf.transform, dt, s)
                  .map(v => Some(v): Option[Any])
              // Hive default-partition encoding conflates null and '' for
              // string keys: a null-keyed group may hold ''-keyed rows, and
              // reporting them as key=null to KeyGroupedPartitioning would
              // let SPJ mis-cluster (or skip) them. Bail to a normal scan.
              case Some(None) if dt == StringType => None
              case Some(None) => Some(None: Option[Any])
              case None => None
            }
          }
          if (cells.forall(_.isDefined)) Some(cells.map(_.get)) else None
        }
        val keyed = fs.map(f => keyOf(f).map(_ -> f))
        if (keyed.exists(_.isEmpty)) None
        else Some(keyed.flatten.groupBy(_._1).toSeq.map { case (k, kfs) =>
          (new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            k.map(_.orNull).toArray[Any]), kfs.map(_._2))
        })
      }
    }

  /** Hot-group splitting (partially-clustered SPJ): one task per key
    * tuple makes a skewed bucket ONE giant straggler. When the user
    * opted into Spark's partially-clustered distribution, each frozen
    * key group is bin-packed into `spark.sql.files.maxPartitionBytes`
    * chunks that all carry the SAME partition key — Spark then keeps
    * the hot side split into parallel tasks and replicates the other
    * side's matching partitions, while with the conf off it would only
    * re-merge the chunks into one task per key, so splitting is gated
    * on the conf to keep the default plan byte-identical. Chunk
    * boundaries freeze with the groups: runtime filters may empty a
    * chunk but never change the reported partition count.
    */
  private def partiallyClusteredOn: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.getConfString(
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
      "false").toBoolean

  private lazy val spjPlannedGroups: Option[Seq[(InternalRow, Seq[DataFile])]] =
    spjGroups.map { groups =>
      if (!partiallyClusteredOn) groups
      else {
        val maxBytes = org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
        groups.flatMap { case (k, fs) =>
          val chunks = scala.collection.mutable.ArrayBuffer(
            scala.collection.mutable.ArrayBuffer.empty[DataFile])
          var acc = 0L
          fs.foreach { f =>
            if (chunks.last.nonEmpty && acc + f.sizeBytes > maxBytes) {
              chunks += scala.collection.mutable.ArrayBuffer.empty[DataFile]
              acc = 0L
            }
            chunks.last += f
            acc += f.sizeBytes
          }
          chunks.map(c => (k, c.toSeq)).toSeq
        }
      }
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    (if (v2BucketingOn) spjPlannedGroups else None) match {
      case Some(groups) =>
        val keys = spjFields.get.map { case (pf, _) =>
          pf.transform match {
            case graft.partitioning.Transform.Bucket(n) =>
              org.apache.spark.sql.connector.expressions.Expressions.bucket(n, pf.sourceCol)
            case graft.partitioning.Transform.Day =>
              org.apache.spark.sql.connector.expressions.Expressions.days(pf.sourceCol)
            case graft.partitioning.Transform.Year =>
              org.apache.spark.sql.connector.expressions.Expressions.years(pf.sourceCol)
            case graft.partitioning.Transform.Month =>
              org.apache.spark.sql.connector.expressions.Expressions.months(pf.sourceCol)
            case graft.partitioning.Transform.Hour =>
              org.apache.spark.sql.connector.expressions.Expressions.hours(pf.sourceCol)
            case _ =>
              org.apache.spark.sql.connector.expressions.Expressions.identity(pf.sourceCol)
          }
        }.toArray[org.apache.spark.sql.connector.expressions.Expression]
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          keys, groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  override def toBatch: Batch = (if (v2BucketingOn) spjPlannedGroups else None) match {
    case Some(groups) =>
      // intersect each frozen group with the CURRENT file set (runtime
      // filters only ever remove files) — keys stay stable, empty
      // groups become empty tasks
      val live = files.map(_.path).toSet
      val current = groups.map { case (k, fs) => (k, fs.filter(f => live(f.path))) }
      new GraftKeyedBatch(delegate, current, tbl)
    case None => delegate.toBatch
  }

  /** `spark.readStream.table(...)`: micro-batch offsets are metadata-log
    * versions; see [[GraftMicroBatchStream]].
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // re-bind pruned fields to the snapshot's StructFields: pruning may
    // strip field metadata, and the stream's era mapping matches
    // physical names BY FIELD ID from that metadata
    val pinned = StructType(readSchema().fields.map(f =>
      snap.schema.fields.find(_.name == f.name).getOrElse(f)))
    new GraftMicroBatchStream(tbl, options, new GraftMicroBatchStream.TableFeed(
      tbl, pinned, pushed, snap.schema, options.getBoolean("streamSkipRewrites", false)))
  }

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    delegate.columnarSupportMode()

  /** Exact statistics from snapshot metadata (post file-pruning) — on
    * the native scan these DO reach `V2ScanRelationPushDown`, so a
    * provably small graft table broadcast-joins without AQE's help.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(files.map(_.sizeBytes).sum)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(files.map(_.rows).sum)
    }

  override def description(): String =
    s"GraftScan(native parquet, files pruned by: ${predSql.getOrElse("<none>")}" +
      limit.fold("")(n => s", limit=$n caps planned files") + ")"
}

object GraftNativeScan {
  /** Runtime-filter predicates longer than this are dropped unapplied
    * (≈ a few thousand IN values) — see `GraftNativeScan.filter`.
    */
  val MaxRuntimePredicateChars: Int = 256 * 1024
}

final class GraftWriteBuilder(tbl: GraftTable)
    extends WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, ovr: Boolean): Unit =
          if (overwrite || ovr) tbl.overwrite(data) else tbl.append(data)
      }
  }
}

/** v1 `sources.Filter` → SQL predicate text for the driver-side file
  * pruners. Untranslatable filters return None and simply don't prune.
  */
object FilterSql {

  def toSql(f: Filter): Option[String] = f match {
    case sources.AlwaysTrue() => Some("true")
    case sources.AlwaysFalse() => Some("false")
    case sources.EqualTo(a, v) => bin(a, "=", v)
    case sources.GreaterThan(a, v) => bin(a, ">", v)
    case sources.GreaterThanOrEqual(a, v) => bin(a, ">=", v)
    case sources.LessThan(a, v) => bin(a, "<", v)
    case sources.LessThanOrEqual(a, v) => bin(a, "<=", v)
    case sources.IsNull(a) => col(a).map(c => s"$c IS NULL")
    case sources.IsNotNull(a) => col(a).map(c => s"$c IS NOT NULL")
    case sources.In(a, vs) if vs.nonEmpty && vs.forall(_ != null) =>
      for { c <- col(a); ls <- sequence(vs.toSeq.map(lit)) }
        yield s"$c IN (${ls.mkString(", ")})"
    case sources.And(l, r) =>
      for { ls <- toSql(l); rs <- toSql(r) } yield s"($ls) AND ($rs)"
    case sources.Or(l, r) =>
      for { ls <- toSql(l); rs <- toSql(r) } yield s"($ls) OR ($rs)"
    case sources.Not(c) => toSql(c).map(s => s"NOT ($s)")
    case _ => None
  }

  private def bin(a: String, op: String, v: Any): Option[String] =
    for { c <- col(a); l <- lit(v) } yield s"$c $op $l"

  /** Top-level columns only — nested fields don't reach the pruners. */
  private def col(a: String): Option[String] =
    if (a.contains('.')) None else Some(s"`$a`")

  private def lit(v: Any): Option[String] = v match {
    case null => None
    // Spark SQL single-quoted literals treat backslash as an escape —
    // an unescaped backslash would change the value and prune the
    // WRONG files (data loss, not just a slow read)
    case s: String =>
      Some("'" + s.replace("\\", "\\\\").replace("'", "''") + "'")
    case b: Boolean => Some(b.toString)
    // NaN / Infinity have no SQL literal form — don't translate (the
    // filter simply won't prune; Spark still applies it to rows)
    case f: Float if f.isNaN || f.isInfinite => None
    case d: Double if d.isNaN || d.isInfinite => None
    case n @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double) =>
      Some(n.toString)
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: java.sql.Date => Some(s"DATE '$d'")
    case d: java.time.LocalDate => Some(s"DATE '$d'")
    // render LTZ instants in ISO-8601 UTC ('Z' suffix): Timestamp
    // .toString is JVM-default-timezone local text, which reparsed
    // under spark.sql.session.timeZone would SHIFT the instant —
    // authoritative in DELETE and in scanWhere's row filter
    case t: java.sql.Timestamp => Some(s"TIMESTAMP '${t.toInstant}'")
    case t: java.time.Instant => Some(s"TIMESTAMP '$t'")
    // NTZ literal keeps the comparison timezone-independent (a plain
    // TIMESTAMP literal is LTZ and would shift under non-UTC sessions)
    case t: java.time.LocalDateTime => Some(s"TIMESTAMP_NTZ '$t'")
    case _ => None
  }

  private def sequence[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None
}

/** Batch for a storage-partitioned scan: one [[FilePartition]] task per
  * distinct partition value, each tagged with its key via
  * [[HasPartitionKey]] so Spark's key-grouped exec can line tasks up
  * across the two sides of a join. Reading delegates to the inner
  * [[ParquetScan]]'s vectorized reader factory — this class only
  * changes task GROUPING, never the read path.
  */
private[connector] final class GraftKeyedBatch(
    inner: ParquetScan,
    groups: Seq[(InternalRow, Seq[DataFile])],
    tbl: GraftTable) extends Batch {

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
    groups.zipWithIndex.map { case ((key, fs), i) =>
      val pfiles = fs.map { f =>
        val p = new org.apache.hadoop.fs.Path(tbl.tableDir, f.path)
        PartitionedFile(
          partitionValues = InternalRow.empty,
          filePath = org.apache.spark.paths.SparkPath.fromPath(p),
          start = 0L,
          length = f.sizeBytes,
          locations = Array.empty,
          modificationTime = 0L,
          fileSize = f.sizeBytes)
      }.toArray
      new GraftKeyedFilePartition(key, FilePartition(i, pfiles))
        : org.apache.spark.sql.connector.read.InputPartition
    }.toArray
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new GraftKeyUnwrapReaderFactory(inner.toBatch.createReaderFactory())
}

/** A file task plus the partition key all its files share. */
private[graft] final class GraftKeyedFilePartition(
    key: InternalRow,
    val inner: org.apache.spark.sql.execution.datasources.FilePartition)
    extends org.apache.spark.sql.connector.read.InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Unwraps [[GraftKeyedFilePartition]] before handing tasks to the
  * parquet reader factory (which pattern-matches on `FilePartition`).
  */
private[connector] final class GraftKeyUnwrapReaderFactory(
    inner: org.apache.spark.sql.connector.read.PartitionReaderFactory)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  private def unwrap(p: org.apache.spark.sql.connector.read.InputPartition) =
    p.asInstanceOf[GraftKeyedFilePartition].inner
  override def createReader(p: org.apache.spark.sql.connector.read.InputPartition) =
    inner.createReader(unwrap(p))
  override def createColumnarReader(p: org.apache.spark.sql.connector.read.InputPartition) =
    inner.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: org.apache.spark.sql.connector.read.InputPartition) =
    inner.supportColumnarReads(unwrap(p))
}
