package graft.connector

import graft.table.GraftTable
import graft.table.GraftTable.{CdcFiles, CdcSides}

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, ReadMaxRows, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Stream offset = metadata-log version: "every change up to and
  * including version N has been emitted". Versions are the table's own
  * durable, totally-ordered commit sequence, so offsets survive
  * restarts and re-planning a (start, end] range is deterministic —
  * exactly-once per version.
  */
final case class GraftStreamOffset(version: Int) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

object GraftStreamOffset {
  def fromJson(json: String): GraftStreamOffset = {
    val m = """"version"\s*:\s*(-?\d+)""".r
    m.findFirstMatchIn(json) match {
      case Some(g) => GraftStreamOffset(g.group(1).toInt)
      case None => throw new IllegalArgumentException(s"bad graft offset: $json")
    }
  }
}

object GraftMicroBatchStream {
  /** The admission walk as a pure function (property-tested): largest
    * end version in (from, latest] whose cumulative (files, rows) —
    * supplied per version by `sizeOf` — stays within the caps.
    * A version that would push the batch PAST a cap is deferred unless
    * it is the batch's first version, which is admitted whole (the
    * progress guarantee). `sizeOf` is called once per inspected
    * version, in ascending order.
    */
  private[graft] def admitWalk(from: Int, latest: Int,
                                   maxFiles: Option[Int], maxRows: Option[Long])(
                                   sizeOf: Int => (Long, Long)): Int = {
    var v = from + 1
    var files = 0L
    var rows = 0L
    while (v <= latest) {
      val (f, r) = sizeOf(v)
      files += f
      rows += r
      if ((maxFiles.exists(files > _) || maxRows.exists(rows > _)) && v > from + 1)
        return v - 1
      if (maxFiles.exists(files >= _) || maxRows.exists(rows >= _)) return v
      v += 1
    }
    latest
  }

  /** `read` of one version, failing with `expired` — the version was
    * removed by expire_snapshots — instead of a bare missing-file error
    * from the metadata log.
    */
  private[connector] def whenLive[T](expired: => String)(read: => T): T =
    try read catch {
      case e @ (_: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException) =>
        throw new IllegalStateException(expired, e)
    }

  /** What one relation emits from each table version. The stream owns
    * offsets, admission and the reader; a feed only measures and plans
    * versions from their change ([[GraftTable.cdcSides]], memoized by
    * the stream per trigger).
    */
  private[connector] trait VersionFeed {
    /** The constant CDC columns the read requested, in output order. */
    def metaPart: Seq[String]
    /** The version-span cap per batch, if the relation has one. */
    def maxVersions: Option[Int]
    /** (files, rows) version `v` adds to a batch — admission's measure. */
    def sizeOf(v: Int, sides: Int => CdcSides): (Long, Long)
    /** The read tasks emitting versions (from, to]. */
    def partitions(from: Int, to: Int, sides: Int => CdcSides): Array[InputPartition]
    /** The error for a version removed by expire_snapshots. */
    def expired(v: Int): String
  }

  /** `spark.readStream.table("graft.ns.t")`: each append commit's new
    * files, per write era, from the insert side of its change.
    *
    * A commit that rewrites existing rows aborts the stream by
    * default — its file churn re-emits rows already emitted. With
    * `streamSkipRewrites=true` a commit that only removes or rewrites
    * rows is skipped instead: appends stay exact, but rows deleted or
    * modified after their append commit were already emitted
    * as-appended (the Iceberg streaming-skip-delete-snapshots trade).
    * A commit that also inserts rows (upsert, merge, overwrite,
    * rollback) aborts even then: skipping it would silently lose those
    * rows. Such commits are never passed to `cdcSides`: a merge-on-read
    * one would materialize a change cache, a write.
    */
  private[connector] final class TableFeed(tbl: GraftTable,
                                           readDataSchema: StructType,
                                           pushed: Array[Filter],
                                           pinnedSchema: StructType,
                                           skipRewrites: Boolean) extends VersionFeed {
    override def metaPart: Seq[String] = Nil
    override def maxVersions: Option[Int] = None

    private def operation(v: Int): String =
      whenLive(expired(v))(tbl.snapshotAt(v).operation)

    /** An append, or v0 (its state is the stream's genesis). An
      * append's group sequence outranks every pending delete, so its
      * insert side is raw files, never a cache.
      */
    private def appends(v: Int): Boolean = v == 0 || operation(v) == "append"

    override def sizeOf(v: Int, sides: Int => CdcSides): (Long, Long) =
      if (!appends(v)) (0L, 0L) // planning skips or aborts it
      else {
        val added = sides(v).insRaw.flatMap(_.files)
        (added.size.toLong, added.map(_.rows).sum)
      }

    override def partitions(from: Int, to: Int,
                            sides: Int => CdcSides): Array[InputPartition] = {
      val added = (math.max(from + 1, 0) to to).flatMap { v =>
        if (appends(v)) sides(v).insRaw
        else { requireSkippable(v); Nil }
      }
      // one native scan per WRITE-ERA schema across the batch's
      // versions: files committed before a rename read under their
      // physical era names, mapped to the stream's PINNED naming by
      // field id — a rename does not abort the stream
      added.groupBy(_.writeSchema).toSeq.flatMap { case (era, parts) =>
        GraftCdc.eraPartitions(tbl, CdcFiles(era, parts.flatMap(_.files)),
          pinnedSchema, readDataSchema, pushed, "insert", to)
      }.toArray
    }

    private def requireSkippable(v: Int): Unit = {
      val op = operation(v)
      if (TableFeed.MetadataOps(op) || skipRewrites && TableFeed.RewriteOps(op)) return
      val hint =
        if (TableFeed.RewriteOps(op))
          "set streamSkipRewrites=true to skip pure-rewrite commits " +
            "(appends stay exact; later deletes/updates are not replayed)"
        else
          s"'$op' inserts new rows and cannot be skipped " +
            s"(streamSkipRewrites only skips ${TableFeed.RewriteOps.toSeq.sorted.mkString("/")}); " +
            "restart the stream from a later streamStartVersion"
      throw new IllegalStateException(
        s"graft stream over ${tbl.tableDir} hit a non-append commit (v$v: $op); " + hint)
    }

    override def expired(v: Int): String =
      s"graft stream over ${tbl.tableDir} needs version $v, which has " +
        "been removed by expire_snapshots; the checkpointed range is " +
        "gone and cannot be replayed. Restart with a fresh checkpoint " +
        "(optionally pinning streamStartVersion to a live version)."
  }

  private[connector] object TableFeed {
    /** Commits that change no row: they pass as empty batches. */
    val MetadataOps: Set[String] = Set("evolve-noop", "evolve-schema",
      "rename-column", "drop-column", "set-properties", "set-partition-spec")

    /** Commits that only remove or rewrite existing rows — skippable
      * under `streamSkipRewrites`.
      */
    val RewriteOps: Set[String] =
      Set("delete", "update", "dedup") ++ GraftTable.MaintenanceOps
  }
}

/** Structured Streaming SOURCE over a graft table's versions — the
  * read-side completion of [[graft.streaming.GraftStream]]'s sink (the
  * reference streams only INTO tables, `core/loader.py:210-235`). One
  * source serves two relations, each a [[GraftMicroBatchStream.VersionFeed]]
  * over the same per-version change ([[GraftTable.cdcSides]]):
  *
  *  - `spark.readStream.table("graft.ns.t")` — new rows of each append
  *    commit ([[GraftMicroBatchStream.TableFeed]]);
  *  - `spark.readStream.table("graft.ns.t.changes")` — every commit's
  *    insert and delete sides, tagged `_change_type` /
  *    `_commit_version` ([[GraftChangesScan]]).
  *
  * Micro-batch planning is metadata only: a version's change is a
  * manifest diff against its parent (only changed manifests are
  * parsed, so planning is O(new files), never O(table)), read by the
  * same native columnar ParquetScan as batch scans, one scan per write
  * era. The column naming is PINNED at stream start: commits after a
  * rename keep streaming under the pinned names, matched by field id.
  *
  * Options:
  * {{{
  * option                 table  .changes  meaning
  * streamStartVersion       x       x      exclusive start version; default:
  *                                         the version current at stream start
  *                                         (only NEW commits); -1 = genesis
  * streamStartTimestamp     x       x      epoch millis: replay every commit at
  *                                         or after it (before the first commit
  *                                         = genesis)
  * maxFilesPerTrigger       x       x      admission cap on files per batch
  * maxRowsPerTrigger        x       x      admission cap on rows per batch
  * streamSkipRewrites       x              skip pure-rewrite commits instead of
  *                                         aborting (see TableFeed)
  * maxVersionsPerTrigger            x      cap on versions per batch
  * skipMaintenance                  x      drop commits that change no visible
  *                                         row (compaction, clustering, delete
  *                                         coalescing) from the feed
  * }}}
  * The table stream sizes a version by its new files; the change feed
  * by both its sides. Admission stays VERSION-granular, so
  * exactly-once per version holds: at least one version is always
  * admitted, and a single commit larger than a cap is admitted whole.
  * `Trigger.AvailableNow` pins the end version when the run is
  * prepared. Source metrics report how many versions the consumer
  * trails the table head by.
  */
final class GraftMicroBatchStream(
    tbl: GraftTable,
    options: CaseInsensitiveStringMap,
    feed: GraftMicroBatchStream.VersionFeed)
    extends MicroBatchStream with SupportsTriggerAvailableNow with ReportsSourceMetrics {
  import GraftMicroBatchStream.{admitWalk, whenLive}

  /** Per-batch observability in `StreamingQueryProgress.sources[i]
    * .metrics`: how far the consumer lags the table's head, in
    * versions — the number an operator alarms on.
    */
  override def metrics(latestConsumed: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val head = tbl.currentOrFail().version
    // After a checkpoint restart the progress reporter hands back the
    // offset rehydrated from the offset log (SerializedOffset), not
    // this source's offset class — same defense as Kafka's source.
    val consumed =
      if (latestConsumed.isPresent) latestConsumed.get match {
        case g: GraftStreamOffset => g.version
        case o => GraftStreamOffset.fromJson(o.json).version
      }
      else -1
    java.util.Map.of(
      "tableVersion", head.toString,
      "consumedVersion", consumed.toString,
      "versionsBehind", math.max(0, head - consumed).toString)
  }

  // Trigger.AvailableNow: pin the end version at preparation time so
  // the bounded run processes exactly the data available THEN (in
  // rate-limited batches) and stops, even while writers keep committing
  @volatile private var availableNowEnd: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(tbl.currentOrFail().version)

  override def initialOffset(): Offset = {
    // precedence: explicit version > timestamp > "now" (only NEW
    // commits). A timestamp resolves to the last version committed
    // STRICTLY BEFORE it (the offset is an exclusive lower bound), so a
    // commit stamped exactly at the requested timestamp IS replayed —
    // Iceberg's stream-from-timestamp includes snapshots with
    // timestamp >= ts.
    val v = Option(options.get("streamStartVersion")).map(_.toInt)
      .orElse(Option(options.get("streamStartTimestamp")).map { ts =>
        val tsMs = ts.toLong
        // only "timestamp predates the first commit" means genesis (-1);
        // a transient metadata-read failure must FAIL the query start,
        // not silently replay the whole table into the sink
        try tbl.snapshotAsOfTimestamp(tsMs - 1).version
        catch { case _: IllegalArgumentException => -1 }
      })
      .getOrElse(tbl.currentOrFail().version)
    GraftStreamOffset(v)
  }

  override def latestOffset(): Offset =
    GraftStreamOffset(availableNowEnd.getOrElse(tbl.currentOrFail().version))

  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      Option(options.get("maxFilesPerTrigger")).map(s => ReadLimit.maxFiles(s.toInt)),
      Option(options.get("maxRowsPerTrigger")).map(s => ReadLimit.maxRows(s.toLong))).flatten
    limits match {
      case Seq()  => ReadLimit.allAvailable()
      case Seq(l) => l
      case ls     => ReadLimit.compositeLimit(ls.toArray)
    }
  }

  /** Memo of the most recent admission walk's per-version change:
    * `latestOffset(start, limit)` and the `planInputPartitions` that
    * follows cover the same versions, so each version's manifest diff
    * (and any change-cache materialization) happens once per trigger.
    * Replaced wholesale per walk — bounded by one batch's version span,
    * never the stream's lifetime.
    */
  @volatile private var sidesMemo: Map[Int, CdcSides] = Map.empty

  private def sidesOf(v: Int): CdcSides = whenLive(feed.expired(v))(tbl.cdcSides(v))

  /** Largest end version in (from, latest] whose cumulative files/rows
    * stay within `limit` — walking METADATA only, never file contents —
    * then capped by the feed's version span.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftStreamOffset].version
    val latest = availableNowEnd.getOrElse(tbl.currentOrFail().version)
    def caps(l: ReadLimit): (Option[Int], Option[Long]) = l match {
      case f: ReadMaxFiles => (Some(f.maxFiles), None)
      case r: ReadMaxRows => (None, Some(r.maxRows))
      case c: CompositeReadLimit =>
        c.getReadLimits.map(caps).reduce { (a, b) =>
          (Seq(a._1, b._1).flatten.minOption, Seq(a._2, b._2).flatten.minOption)
        }
      case _ => (None, None)
    }
    val (maxFiles, maxRows) = caps(limit)
    val admitted =
      if (maxFiles.isEmpty && maxRows.isEmpty) latest
      else {
        val memo = scala.collection.mutable.HashMap.empty[Int, CdcSides]
        try admitWalk(from, latest, maxFiles, maxRows)(
          feed.sizeOf(_, v => memo.getOrElseUpdate(v, sidesOf(v))))
        finally sidesMemo = memo.toMap
      }
    GraftStreamOffset(feed.maxVersions match {
      case Some(m) if admitted > from => math.min(from + math.max(1, m), admitted)
      case _ => admitted
    })
  }

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    feed.partitions(start.asInstanceOf[GraftStreamOffset].version,
      end.asInstanceOf[GraftStreamOffset].version,
      v => sidesMemo.getOrElse(v, sidesOf(v)))

  override def createReaderFactory(): PartitionReaderFactory =
    // file identity AND era factory ride inside each partition, so one
    // instance serves every batch
    new GraftCdc.CdcReaderFactory(feed.metaPart)

  override def commit(end: Offset): Unit = () // offsets live in the checkpoint
  override def stop(): Unit = ()
}
