package graft.table

import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import graft.config.LoaderConfig
import graft.meta.{ColumnStats, DataFile, DeleteGroup, EqualityDeleteGroup, FileGroup, MetadataLog, PositionDeleteGroup, PredicateDeleteGroup, Snapshot}
import graft.partitioning.{PartitionExpr, PartitionField}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Identifier `(namespace, table)` — the reference's
  * `tuple[str, str]` (`core/loader.py:42`).
  */
final case class TableIdent(namespace: String, name: String) {
  override def toString = s"$namespace.$name"
}

/** One WHEN clause of a general `MERGE INTO`, pre-rendered by the SQL
  * resolution rule: `kind` is `update`, `delete`, or `insert`;
  * `condition` and every assignment value are SQL text over the
  * prefixed merge frame (target columns `_t_<name>`, source columns
  * `_s_<i>`). Update clauses keep unassigned columns; insert clauses
  * null-fill them (SQL standard).
  */
final case class MergeClause(kind: String, condition: Option[String],
                             assigns: Seq[(String, String)])

/** A snapshot-versioned Parquet table ("graft table", SURVEY §7.0).
  *
  * Layout under `tableDir`:
  * {{{
  *   data/<commit-uuid>/[_p_field=value/]part-*.parquet
  *   _meta/v%08d.json          (snapshot: schema/spec/props + manifest refs)
  *   _meta/m-<uuid>.json       (manifest: one write batch's data files)
  * }}}
  *
  * Data files and manifests are immutable and uniquely named, so
  * snapshots share them freely (manifest reuse keeps commit metadata
  * O(files touched)); commits go through [[graft.meta.MetadataLog]]'s
  * optimistic atomic-publish protocol (Hadoop FileSystem; hard-link
  * fast path on local roots). Each write operation below is one transaction ⇒
  * one snapshot, matching the reference's per-flush
  * `table.transaction()` boundary (`core/strategies.py:32,43,61`).
  *
  * Scale notes (100 TB): all data movement is plain `DataFrame` writes —
  * executors write file splits in parallel; the driver only lists the
  * commit directory and appends metadata. Delete/upsert prune the
  * rewrite set by partition before reading any target file — a keyed
  * write derives its partition values in one aggregation over the
  * (small) source side — so a predicate or key-set touching one
  * partition rewrites one partition, not the table.
  */
final class GraftTable(val spark: SparkSession, val tableDir: HPath, val log: MetadataLog) {

  // every internal commit (loader, MV refresh, compaction, expire)
  // bypasses Spark's DSv2 write-path cache refresh — recache any
  // cached plan over this table after each successful commit
  log.onCommit(() =>
    graft.connector.GraftCacheSync.recacheByDir(spark, tableDir.toString))

  /** The table root's filesystem — shared with the metadata log so data
    * and metadata always agree on the store.
    */
  private def fs: FileSystem = log.fs

  /** Table-relative path of an absolute path on the table's filesystem —
    * delegates to [[FooterStats.relativize]], the single definition both
    * manifest minting and orphan-GC matching share.
    */
  private def relPath(p: HPath): String =
    FooterStats.relativize(tableDir.toString, p)

  def current(): Option[Snapshot] = log.current()
  def currentOrFail(): Snapshot =
    current().getOrElse(throw new IllegalStateException(s"No snapshot in $tableDir"))
  def schema: StructType = currentOrFail().schema
  def snapshots(): Seq[Snapshot] = log.snapshots()

  /** The table's partition spec as an ORDERED list of transforms —
    * Iceberg specs compose (`day(ts), bucket(16, id)` is the canonical
    * 100-TB layout), and every pruning/write path below threads the
    * full list. Empty = unpartitioned.
    */
  def partitionFields(): Seq[PartitionField] =
    current().flatMap(_.partitionSpec).map(PartitionExpr.parseSpec).getOrElse(Nil)

  /** First partition field, for single-field callers (SPJ, legacy). */
  def partitionField(): Option[PartitionField] = partitionFields().headOption

  // ------------------------------------------------------------------
  // Write path
  // ------------------------------------------------------------------

  /** Append: new snapshot = parent groups + one new group (W1,
    * `core/strategies.py:28-33`). Parent manifests are reused verbatim —
    * the commit writes O(new files) metadata regardless of table size.
    *
    * `requireVirginParent` turns the append into a first-commit CAS:
    * it lands only if NO snapshot exists at commit time. CDC appliers
    * racing to seed an empty replica need this — both pass an
    * is-empty probe, and without the guard both appends land and the
    * first batch double-applies. The loser gets a
    * ConcurrentModificationException and re-nets against the real
    * snapshot.
    */
  def append(df: DataFrame, props: Map[String, String] = Map.empty,
             requireVirginParent: Boolean = false): Snapshot =
    writeOp(df, "append", props) { (parent, newGroup) =>
      if (requireVirginParent && parent.isDefined)
        throw new java.util.ConcurrentModificationException(
          s"append to $tableDir expected a virgin table but snapshot v" +
            s"${parent.get.version} exists — a concurrent writer seeded it " +
            "first; re-apply against the current snapshot")
      parent.map(_.fileGroups).getOrElse(Nil) :+ newGroup
    }

  /** Overwrite: new snapshot = only the new group (W2 first-flush,
    * `core/strategies.py:36-48`).
    */
  def overwrite(df: DataFrame, props: Map[String, String] = Map.empty): Snapshot =
    writeOp(df, "overwrite", props) { (_, newGroup) => Seq(newGroup) }

  /** Dynamic partition overwrite (the Hive/Iceberg `INSERT OVERWRITE
    * ... partitionOverwriteMode=dynamic` semantics as a table API):
    * REPLACE exactly the partition tuples the incoming data writes to,
    * carry every other partition verbatim — the idempotent daily-rerun
    * idiom without spelling the predicate the Idempotent strategy (W3)
    * needs. On an unpartitioned table this is a plain [[overwrite]]
    * (the whole table is one partition). The replaced set is decided
    * by FULL tuple equality over the current spec's derived values —
    * never a per-field cross product — and files predating a partition
    * -spec evolution (no current-spec values) fail loudly instead of
    * silently surviving an overwrite that should have replaced them.
    * One commit; racing appends into a replaced partition survive
    * (equivalent to the append-after-overwrite serial order).
    */
  def overwriteDynamic(df: DataFrame, props: Map[String, String] = Map.empty): Snapshot = {
    val snap = currentOrFail()
    val specs = partitionFields()
    if (specs.isEmpty) return overwrite(df, props)
    // one evaluation: the frame feeds tuple derivation AND the write
    val projected = Projection.project(df, snap.schema).localCheckpoint()
    val deriveCols = specs.map { pf =>
      val srcField = snap.schema.fields.find(_.name.equalsIgnoreCase(pf.sourceCol))
        .getOrElse(throw new IllegalStateException(
          s"partition source '${pf.sourceCol}' missing from schema"))
      pf.derive(col(s"`${srcField.name}`"), srcField.dataType).as(pf.fieldName)
    }
    // Hive default-partition encoding conflates null and '' for string
    // sources — both land in the same physical directory, so they are
    // the same partition and must replace together: normalize '' to
    // None on BOTH sides of the tuple match for string-sourced fields
    val stringSourced: Seq[Boolean] = specs.map(pf =>
      snap.schema.fields.find(_.name.equalsIgnoreCase(pf.sourceCol))
        .exists(_.dataType == StringType))
    def normTuple(t: Seq[Option[String]]): Seq[Option[String]] =
      t.zip(stringSourced).map {
        case (v, true) => v.filter(_.nonEmpty)
        case (v, _)    => v
      }
    val tuples: Set[Seq[Option[String]]] = projected.select(deriveCols: _*)
      .distinct().collect()
      .map(r => normTuple(specs.indices.map(i => Option(r.getString(i)))))
      .toSet
    val removed = snap.files.filter { f =>
      f.partitionValues match {
        case Some(pv) if specs.forall(pf => pv.contains(pf.fieldName)) =>
          tuples.contains(normTuple(specs.map(pf => pv(pf.fieldName))))
        case _ =>
          // a file without the current spec's values (pre-spec-evolution
          // layout, or unpartitioned era) cannot be tuple-matched; if
          // its rows could belong to a replaced partition, silently
          // keeping them would corrupt the overwrite — reject loudly
          throw new IllegalStateException(
            s"dynamic overwrite: file ${f.path} predates the current " +
              s"partition spec (${snap.partitionSpec.getOrElse("")}); " +
              "compact() to migrate the layout first")
      }
    }
    commitRewrite(snap, "overwrite-dynamic", removed.map(_.path).toSet,
      Some(writeDataFiles(projected, snap.schema, specs)), props = props)
  }

  /** Copy-on-write delete (backs W3, `core/strategies.py:51-66`):
    * files whose rows ALL match the predicate are dropped whole (no
    * Spark job — the reference's replace-partition fast path,
    * `examples/advanced_scenarios.py:79-109`); files that MAY contain
    * matches are rewritten with `filter(!pred)`; untouched files carry
    * over. Returns the new snapshot (no-op commit if nothing matched).
    */
  def deleteWhere(predicateSql: String): Snapshot = {
    val snap = currentOrFail()
    val pred = CatalystSqlParser.parseExpression(predicateSql)
    val (skipGroups, dropped, mayMatch) = classifyGroups(snap, pred)
    // Merge-on-read path: whole-match files still drop as metadata
    // (free), but instead of rewriting the partially-matching files the
    // predicate itself is recorded as a delete group — ZERO data IO at
    // commit, scans apply `NOT pred` to older-seq groups, and
    // compaction folds it in later. Chosen when the CoW rewrite would
    // exceed the MoR threshold (see [[chooseMor]]).
    val mor = mayMatch.nonEmpty && chooseMor(snap, mayMatch.map(_.sizeBytes).sum) &&
      morSafePredicate(pred)
    val rewritten: Option[FileGroup] =
      if (mayMatch.isEmpty || mor) None
      else {
        // SQL DELETE drops only rows where the predicate is TRUE; rows
        // evaluating NULL are kept. A bare `!pred` would evaluate NULL on
        // them too and filter them out, so keep rows where pred IS NOT TRUE.
        // Pending MoR deletes are applied first: the rewrite's output
        // carries a fresh (higher) seq, so rows it resurrects would
        // escape them forever.
        val rewriteDf = readFilesMoR(snap, mayMatch, snap.schema)
          .filter(!coalesce(expr(predicateSql), lit(false)))
        Some(writeDataFiles(rewriteDf, snap.schema, partitionFields()))
      }
    commitRewrite(snap, "delete",
      (if (mor) dropped else dropped ++ mayMatch).map(_.path).toSet, rewritten,
      mask = if (mor) Some(PredicateDeleteGroup(_, predicateSql)) else None,
      blind = mor, untouched = skipGroups.map(_.manifest).toSet)
  }

  /** The ONE definition of UPDATE's SET projection, shared by the MoR
    * and CoW branches so assignment resolution can never drift between
    * them: with `cond` each assignment wraps in CASE WHEN (CoW rewrites
    * matched and unmatched rows together); without it the input is
    * pre-filtered to matches and assignments apply unconditionally.
    */
  private def applySet(df: DataFrame, schema: StructType,
                       set: Map[String, String],
                       cond: Option[org.apache.spark.sql.Column]): DataFrame =
    df.select(schema.fields.map { f =>
      set.collectFirst { case (k, v) if k.equalsIgnoreCase(f.name) => v } match {
        case Some(valueSql) =>
          val e = expr(valueSql).cast(f.dataType)
          cond.fold(e)(c => when(c, e).otherwise(col(s"`${f.name}`"))).as(f.name)
        case None => col(s"`${f.name}`")
      }
    }: _*)

  /** Is this predicate safe to record as a merge-on-read mask? The
    * stored SQL is re-evaluated at EVERY future scan, so anything
    * time-varying or non-deterministic would make the delete's row set
    * drift after commit (`ts < now()` swallows more rows every hour,
    * and the same snapshot stops being reproducible — time travel
    * breaks). Detection runs on the UNRESOLVED tree (the predicate is
    * stored as raw SQL), so current-time/random functions appear as
    * UnresolvedFunction by name. Unsafe ⇒ the caller uses the
    * copy-on-write path, which evaluates the predicate exactly once.
    */
  private def morSafePredicate(
      pred: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    val schemaCols = currentOrFail().schema.fieldNames.map(_.toLowerCase).toSet
    !pred.exists {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        val n = f.nameParts.last.toLowerCase
        GraftTable.MorUnsafeFunctions(n) ||
          (n == "unix_timestamp" && f.arguments.isEmpty)
      // CURRENT_TIMESTAMP without parentheses parses as an ATTRIBUTE
      // and only resolves to the niladic function when no column
      // shadows it — mirror that resolution order here
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        if a.nameParts.length == 1 =>
        val n = a.nameParts.head.toLowerCase
        GraftTable.MorUnsafeFunctions(n) && !schemaCols(n)
      case e => !e.deterministic
    }
  }

  /** Copy-on-write UPDATE (`UPDATE ... SET ... WHERE ...`): files that
    * may hold matching rows are rewritten once with
    * `CASE WHEN pred THEN value ELSE old END` per assigned column;
    * untouched files carry their manifests over verbatim — an update
    * touching one partition rewrites one partition. `set` maps column
    * name → SQL expression text evaluated against the row (so
    * `v = concat(v, '!')` works). One snapshot, same conflict
    * validation as delete. SQL three-valued semantics: rows where the
    * predicate is NULL keep their old values. Past the merge-on-read
    * threshold only the matched rows are read, updated and appended,
    * under a predicate mask that hides their old copies.
    */
  def updateWhere(predicateSql: String, set: Map[String, String]): Snapshot = {
    val snap = currentOrFail()
    require(set.nonEmpty, "update requires at least one assignment")
    val unknown = set.keySet.filterNot(k =>
      snap.schema.fieldNames.exists(_.equalsIgnoreCase(k)))
    require(unknown.isEmpty, s"unknown column(s) in UPDATE: ${unknown.mkString(", ")}")
    val pred = CatalystSqlParser.parseExpression(predicateSql)
    // unlike delete, all-match files still need rewriting (values change)
    val (skipGroups, allMatch, mayMatch) = classifyGroups(snap, pred)
    val affected = allMatch ++ mayMatch
    if (affected.isEmpty) return snap
    val cond = coalesce(expr(predicateSql), lit(false))
    // Merge-on-read UPDATE past the threshold: only the MATCHED rows
    // are read (pruned + filtered), updated, and appended at a fresh
    // sequence, with a predicate delete at the SAME sequence masking
    // the old copies. Commit cost is O(matched rows), not O(touched
    // files); updated rows sit at seq ns so the mask (applying to
    // seq < ns only) never re-deletes them even when they still
    // satisfy the predicate. Requires a time-stable deterministic
    // predicate (the mask is re-evaluated at every scan — `ts < now()`
    // would drift and start swallowing rows the update never touched);
    // unsafe predicates fall back to the copy-on-write rewrite below.
    if (chooseMor(snap, affected.map(_.sizeBytes).sum) && morSafePredicate(pred)) {
      val updated = applySet(
        readFilesMoR(snap, affected, snap.schema).filter(cond),
        snap.schema, set, cond = None).localCheckpoint()
      if (updated.isEmpty) return snap // zone-range false positive: no-op
      return commitRewrite(snap, "update", Set.empty,
        Some(writeDataFiles(updated, snap.schema, partitionFields())),
        mask = Some(PredicateDeleteGroup(_, predicateSql)),
        read = affected.map(_.path).toSet)
    }
    val rewriteDf = applySet(readFilesMoR(snap, affected, snap.schema),
      snap.schema, set, cond = Some(cond))
    commitRewrite(snap, "update", affected.map(_.path).toSet,
      Some(writeDataFiles(rewriteDf, snap.schema, partitionFields())),
      untouched = skipGroups.map(_.manifest).toSet)
  }

  /** Integrity audit of the CURRENT snapshot — the `fsck` every table
    * format needs before anyone trusts a 10⁵-file catalog: every
    * manifest parses, every summary's counts reconcile with its file
    * entries, every data file exists on disk at its recorded size.
    * Read-only; returns (files checked, rows, issues) — empty issues
    * means the snapshot is internally consistent and fully backed by
    * storage.
    */
  def verifyIntegrity(): (Int, Long, Seq[String]) = {
    val snap = currentOrFail()
    val issues = Seq.newBuilder[String]
    var files = 0
    var rows = 0L
    val toStat = Seq.newBuilder[(String, Long)] // (rel path, recorded size)
    val auditGroups = snap.fileGroups ++
      snap.deleteGroups.collect {
        case e: EqualityDeleteGroup => e.group
        case p: PositionDeleteGroup => p.group
      }
    auditGroups.foreach { g =>
      val loaded =
        try Some(g.files)
        catch { case e: Exception =>
          issues += s"manifest ${g.manifest} unreadable: ${e.getMessage}"; None
        }
      loaded.foreach { dfs =>
        g.summary.foreach { s =>
          if (s.fileCount != dfs.size)
            issues += s"${g.manifest}: summary fileCount ${s.fileCount} != ${dfs.size}"
          if (s.rows != dfs.map(_.rows).sum)
            issues += s"${g.manifest}: summary rows ${s.rows} != ${dfs.map(_.rows).sum}"
        }
        dfs.foreach { f =>
          files += 1
          rows += f.rows
          toStat += (f.path -> f.sizeBytes)
        }
      }
    }
    // Existence/size audit of the data files. Same two regimes as the
    // commit path's footer harvest: a driver-side loop for typical
    // tables, a Spark job above [[GraftTable.FooterJobThreshold]] — at
    // the 10⁵-file scale this fsck targets, a sequential stat loop IS
    // the bottleneck (one round-trip per file on an object store).
    val checks = toStat.result()
    val rootStr = tableDir.toString
    // stat through the raw FS on local roots — existence/size audits
    // need no checksum machinery, and at 10⁵ files the per-stat
    // overhead compounds
    if (checks.size <= GraftTable.FooterJobThreshold) {
      val sfs = MetadataLog.rawIfLocal(fs)
      checks.foreach { case (p, sz) =>
        GraftTable.statIssue(p, sz, sfs, rootStr).foreach(issues += _)
      }
    } else {
      issues ++= metadataJob(checks) { (conf, it) =>
        val efs = MetadataLog.rawIfLocal(new HPath(rootStr).getFileSystem(conf.value))
        it.flatMap { case (p, sz) => GraftTable.statIssue(p, sz, efs, rootStr) }
      }
    }
    (files, rows, issues.result())
  }

  /** Run a small metadata job over `items`: executors each process a
    * slice with the broadcast SESSION Hadoop configuration (so
    * executor-side file IO sees `spark.hadoop.*` like the query read
    * path). Shared scaffolding of the two above-threshold paths —
    * footer harvest and integrity audit.
    */
  private def metadataJob[A: scala.reflect.ClassTag, B: scala.reflect.ClassTag](items: Seq[A])(
      f: (org.apache.spark.util.SerializableConfiguration, Iterator[A]) => Iterator[B]): Seq[B] = {
    val slices = math.max(1, math.min(items.size, spark.sparkContext.defaultParallelism))
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        org.apache.spark.sql.GraftSqlShim.newHadoopConf(spark)))
    try spark.sparkContext
      .parallelize(items, slices)
      .mapPartitions(it => f(confB.value, it))
      .collect().toSeq
    finally confB.destroy()
  }

  /** Partition-spec evolution: a metadata-only commit switching the
    * table's WRITE layout — no data rewrite, the Iceberg
    * partition-evolution contract. Existing files keep their old
    * partition values; the scan planner simply stops partition-pruning
    * them (their values carry the old field name, which reads as
    * "unknown" — zone maps still prune) while every NEW write lands in
    * the new layout and prunes fully. `compact()` afterwards rewrites
    * everything into the new layout, completing the migration lazily:
    * the "bucket(16) turned out too coarse, move to bucket(256)"
    * operation that would otherwise mean an offline table rebuild.
    * `None` makes the table unpartitioned for new writes.
    */
  def setPartitionSpec(spec: Option[String]): Snapshot = {
    val snap = currentOrFail()
    spec.foreach { s =>
      PartitionExpr.parseSpec(s).foreach { pf => // throws on grammar errors
        require(PartitionExpr.validate(pf, snap.schema).isDefined,
          s"partition spec '$s' does not fit the schema: column missing " +
            "or type not accepted by the transform")
      }
    }
    if (spec == snap.partitionSpec) return snap
    log.commit { parent =>
      val p = parent.getOrElse(snap)
      p.copy(snapshotId = newSnapshotId(),
        operation = "set-partition-spec",
        partitionSpec = spec)
    }
  }

  /** Metadata-only commit updating table properties (`ALTER TABLE
    * SET/UNSET TBLPROPERTIES`): data files and manifests carry over
    * verbatim — the commit writes O(1) metadata.
    */
  def updateProperties(set: Map[String, String],
                       remove: Seq[String] = Nil,
                       requireParentProps: Map[String, String] = Map.empty): Snapshot = {
    val snap = currentOrFail()
    log.commit { parent =>
      val p = parent.getOrElse(snap)
      requireParentPropsUnchanged(p, requireParentProps)
      p.copy(
        snapshotId = newSnapshotId(),
        operation = "set-properties",
        properties = (p.properties ++ set) -- remove)
    }
  }

  /** Copy-on-write conflict validation: a concurrent commit that
    * rewrote or dropped any file this operation's rewrite was computed
    * from makes the rewrite stale — committing it would duplicate or
    * resurrect rows. Fail like Iceberg's validation does; the caller
    * re-runs the operation against the new snapshot.
    */
  private def requireNoConflict(parent: Snapshot, analyzed: Set[String], op: String): Unit = {
    if (analyzed.isEmpty) return // listing the parent's files parses every manifest
    val live = parent.files.map(_.path).toSet
    val gone = analyzed.diff(live)
    if (gone.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"$op conflicts with a concurrent commit: ${gone.size} analyzed file(s) " +
          s"no longer current (e.g. ${gone.head}); re-run against the latest snapshot")
  }

  /** The one commit every write that replaces, masks or adds rows ends
    * in: copy-on-write rewrites, merge-on-read masks, and the keyed
    * merge-on-read write. Each attempt of [[MetadataLog]]'s optimistic
    * publish, against the latest parent:
    *  - checks the marker CAS (each `requireParentProps` value still
    *    held) and the concurrency policy below;
    *  - takes the next sequence number when the commit adds a data
    *    group or a `mask` (a delete group built at that number), and
    *    gives it to both;
    *  - reuses every manifest the commit does not touch, and writes a
    *    pruned manifest only for a group that loses some files;
    *    `untouched` manifests, ruled out at planning time, are not even
    *    parsed, and nothing is parsed when no file is removed;
    *  - drops delete groups that no older data group needs any more.
    *
    * The concurrency policy, against what `snap` held at analysis.
    * `read` names the files the output was computed from beyond
    * `removed`; a `blind` output was not computed from the table's
    * visible rows (a merge-on-read predicate delete, the keyed
    * merge-on-read write):
    *  - every removed or read file must still be live;
    *  - output computed from visible rows aborts on a new delete
    *    group: its rows would resurrect what that delete removed;
    *  - rows computed from visible rows and appended under a mask
    *    abort on a new data group: the racing rows would fall under
    *    the mask without being computed;
    *  - a column rename or drop always aborts: the new files and the
    *    mask carry the analyzed names.
    * {{{
    *   commit                      live files  no new deletes  no new data
    *   copy-on-write rewrite       removed     yes             -
    *   merge-on-read deleteWhere   removed     -               -
    *   merge-on-read update/merge  read        yes             yes
    *   keyed merge-on-read write   -           -               -
    *   dedupTable                  read        yes             -
    * }}}
    */
  private def commitRewrite(snap: Snapshot, op: String, removed: Set[String],
                            added: Option[FileGroup],
                            mask: Option[Long => DeleteGroup] = None,
                            read: Set[String] = Set.empty,
                            blind: Boolean = false,
                            untouched: Set[String] = Set.empty,
                            props: Map[String, String] = Map.empty,
                            requireParentProps: Map[String, String] = Map.empty): Snapshot = {
    val known = snap.fileGroups.map(_.manifest).toSet
    log.commit { parent =>
      val p = parent.getOrElse(snap)
      requireParentPropsUnchanged(p, requireParentProps)
      requireNoConflict(p, removed ++ read, op)
      if (blind) requireStableNames(p, snap, op) else requireNoNewDeletes(p, snap, op)
      if (!blind && mask.isDefined && added.isDefined &&
          p.fileGroups.exists(g => !known(g.manifest)))
        throw new java.util.ConcurrentModificationException(
          s"merge-on-read $op conflicts with a concurrent data commit; " +
            "re-run against the latest snapshot")
      val ns = if (added.isDefined || mask.isDefined) p.lastSeq + 1 else p.lastSeq
      val kept =
        if (removed.isEmpty) p.fileGroups
        else pruneGroups(p.schema, p.fileGroups, removed, untouched)
      val groups = kept ++ added.map(_.withSeq(ns))
      p.copy(
        snapshotId = newSnapshotId(),
        operation = op,
        properties = p.properties ++ props,
        fileGroups = groups,
        deleteGroups = purgeDeletes(groups, p.deleteGroups) ++ mask.map(_(ns)),
        lastSeq = ns)
    }
  }

  /** Upsert / MERGE (W4+J1, `core/strategies.py:69-81`): rows in
    * `source` replace target rows with equal `keys`; unmatched source
    * rows are inserted. Duplicate source keys make the merge ambiguous
    * (which version wins?) and are rejected like PyIceberg's upsert
    * (SURVEY §7.4); NULL keys are exempt — SQL equality never matches
    * them, so two NULL-keyed rows are two independent inserts. Target
    * files the keys provably miss (partition values, zone maps) carry
    * over untouched — at scale an upsert into one day's partition
    * rewrites one day, not 100 TB.
    */
  def upsert(source: DataFrame, keys: Seq[String], props: Map[String, String] = Map.empty): Snapshot = {
    require(keys.nonEmpty, "upsert requires join columns")
    applyKeyed(planKeyed(currentOrFail(), "upsert", keys, None, Some(source),
      nullSafe = false), props)
  }

  /** Bulk keyed delete: target rows whose `keys` tuple appears in
    * `source` are removed — [[upsert]]'s rewrite machinery without the
    * insert side, which is the GDPR/opt-out deletion shape: delete a
    * million user ids from a 100 TB table rewriting only the files
    * that can contain them. NULL source keys never match (SQL
    * equality), like upsert. Duplicate source keys are fine here
    * (deleting twice is deleting once), and re-running the same delete
    * converges to the same state — CDC appliers can replay it under
    * at-least-once delivery. Past the merge-on-read threshold the keys
    * land as an equality-delete group instead — commit cost O(keys),
    * zero data files rewritten. When no file can hold a matched key,
    * nothing is committed.
    */
  def deleteByKeys(source: DataFrame, keys: Seq[String]): Snapshot = {
    require(keys.nonEmpty, "deleteByKeys requires key columns")
    val plan = planKeyed(currentOrFail(), "delete", keys, Some(source), None,
      nullSafe = false)
    if (plan.rewriteSet.isEmpty) plan.snap
    else applyKeyed(plan)
  }

  /** General `MERGE INTO` — arbitrary WHEN clauses beyond the canonical
    * upsert/delete shapes [[upsert]] and [[deleteByKeys]] serve:
    * conditional `WHEN MATCHED [AND c] THEN UPDATE SET .../DELETE`,
    * partial assignment lists, multiple clauses (first match wins, the
    * SQL-standard order), conditional inserts, and
    * `WHEN NOT MATCHED BY SOURCE` update/delete. One copy-on-write
    * commit; the reference exposes only the canonical upsert
    * (`core/strategies.py:69-81`), so this is the superset a SQL user
    * expects from the verb.
    *
    * Contract with the resolution rule ([[graft.connector.GraftMergeRule]]):
    * `source` arrives with positional `_s_<i>` column names; every SQL
    * string (`condSql`, clause conditions, assignment values) is
    * rendered over the prefixed merge frame — target columns as
    * `_t_<name>`, source columns as `_s_<i>` — so shared names never
    * collide. `pruneKeys` lists `(targetCol, _s_<i>)` equality
    * conjuncts of the ON condition, used ONLY for partition pruning
    * (correctness never depends on them).
    *
    * Scale shape: the rewrite set is partition-pruned by the equi-key
    * conjuncts exactly like [[upsert]] — a keyed merge into one day's
    * partition rewrites one day. `WHEN NOT MATCHED BY SOURCE` clauses
    * can by definition touch every target row, so their presence widens
    * the rewrite set to the full table (the verb's semantics, not an
    * implementation choice). Inserts anti-join the source against the
    * FULL target (matched-or-not is a whole-table question); with
    * equality conjuncts that is a hash anti join on the keys.
    *
    * Ambiguity: a target row matching >1 source rows while MATCHED
    * clauses exist aborts (SQL-standard cardinality violation, the
    * Delta/Iceberg behavior) — also what keeps the left-outer rewrite
    * join exactly 1:≤1, so no target row can fan out.
    */
  def mergeRows(source: DataFrame, condSql: String,
                matched: Seq[MergeClause], notMatched: Seq[MergeClause],
                notMatchedBySource: Seq[MergeClause],
                pruneKeys: Seq[(String, String)] = Nil,
                equiCondition: Boolean = false): Snapshot = {
    val snap = currentOrFail()
    val specs = partitionFields()
    val fields = snap.schema.fields.toSeq
    // pin ONE evaluation: the source feeds the rewrite join and the
    // insert anti join — a nondeterministic USING subquery must not
    // produce different rows per pass
    val src = source.localCheckpoint().withColumn("_s_exists", lit(true))
    // the rewrite join is materialized via localCheckpoint (one pass
    // serves both the cardinality guard and the write), which compiles
    // WITHOUT AQE — a small source will not auto-broadcast there, so
    // pick the broadcast explicitly below a counted bound (same
    // AQE-skip stance as dedupTable)
    val srcJ =
      if (src.count() <= GraftTable.MergeBroadcastRowBound) broadcast(src) else src
    val joinCond = expr(condSql)
    def clauseCond(c: MergeClause): Column =
      c.condition.map(s => coalesce(expr(s), lit(false))).getOrElse(lit(true))
    def assignFor(c: MergeClause, f: StructField): Option[String] =
      c.assigns.collectFirst { case (k, v) if k.equalsIgnoreCase(f.name) => v }

    // Rewrite candidates. NMBS clauses can touch any target row; plain
    // matched clauses prune by the ON condition's equi-keys like upsert.
    val rewriteSet: Seq[DataFile] =
      if (notMatchedBySource.nonEmpty) snap.files
      else if (matched.isEmpty) Nil
      else if (pruneKeys.nonEmpty) {
        val pruning = new KeyPruning(snap, pruneKeys.map(_._1))
        if (pruning.aggs.isEmpty) snap.files
        else pruning.files(src.select(pruneKeys.map { case (t, s) =>
          val f = fields.find(_.name.equalsIgnoreCase(t)).get
          col(s"`$s`").cast(f.dataType).as(f.name)
        }: _*).agg(pruning.aggs.head, pruning.aggs.tail: _*).head, 0)
      } else snap.files

    val addrCols = Seq(PositionDeleteGroup.FileKeyCol, PositionDeleteGroup.PosCol)
    // target rows under `_t_` names, the position address pair as row id
    def prefixedTarget(files: Seq[DataFile]): DataFrame =
      readFilesMoRPos(snap, files, snap.schema).select(
        fields.map(f => col(s"`${f.name}`").as("_t_" + f.name)) ++
          addrCols.map(c => col(s"`$c`")): _*)

    // SQL-standard cardinality guard (and the invariant the left-outer
    // rewrite depends on): with MATCHED clauses present, no target row
    // may match two source rows. Folded into the SAME pass as the
    // rewrite join below — `rows` is the already-materialized matched
    // side, so the probe re-reads checkpoint blocks, never the table.
    def requireMergeCardinality(rows: DataFrame): Unit = {
      val dup = rows.groupBy(addrCols.map(c => col(s"`$c`")): _*)
        .agg(count(lit(1)).as("_n")).where(col("_n") > 1).limit(1).collect()
      if (dup.nonEmpty)
        throw new UnsupportedOperationException(
          "MERGE cardinality violation: a target row matches more than one " +
            "source row while WHEN MATCHED clauses exist; deduplicate the " +
            "source on the merge keys")
    }

    // Unmatched-source inserts, first-match-wins across NOT MATCHED
    // clauses; unassigned columns null-fill (SQL standard). Lazy plan —
    // shared by the merge-on-read and copy-on-write paths below.
    val inserts: Option[DataFrame] =
      if (notMatched.isEmpty) None
      else {
        val fullTarget = scanSnapshot(snap).select(
          fields.map(f => col(s"`${f.name}`").as("_t_" + f.name)): _*)
        val unmatchedSrc = src.join(fullTarget, joinCond, "left_anti")
        val sel = notMatched.zipWithIndex.foldRight(lit(-1)) {
          case ((c, i), acc) => when(clauseCond(c), lit(i)).otherwise(acc)
        }
        val rows = unmatchedSrc.withColumn("_clause", sel).where(col("_clause") >= 0)
        Some(rows.select(fields.map { f =>
          notMatched.zipWithIndex.foldRight(lit(null).cast(f.dataType)) {
            case ((c, i), acc) => assignFor(c, f) match {
              case Some(vs) =>
                when(col("_clause") === i, expr(vs).cast(f.dataType)).otherwise(acc)
              case None => acc
            }
          }.as(f.name)
        }: _*))
      }

    // Merge-on-read general merge: when the ON condition is PURE key
    // equality, no NOT MATCHED BY SOURCE clause exists, and the touched
    // bytes clear the threshold, the merge commits O(affected + source)
    // instead of rewriting files: affected matched rows are read
    // (partition-pruned), their clause outcomes appended at a fresh
    // sequence, and their keys masked by an equality-delete group at
    // the SAME sequence — the Iceberg MoR MERGE shape generalized to
    // conditional clauses. The mask is per KEY, but a conditional
    // clause applies per ROW — with duplicate target keys, a matched
    // row whose clause conditions are all false can share its key with
    // a row that took an update/delete, so the re-appended data must
    // carry those untouched rows too or the mask would swallow them
    // (the randomized differential suite caught exactly this). Rows
    // whose key no clause touched anywhere stay out of both the append
    // and the mask.
    if (equiCondition && notMatchedBySource.isEmpty && matched.nonEmpty &&
        pruneKeys.nonEmpty && rewriteSet.nonEmpty &&
        chooseMor(snap, rewriteSet.map(_.sizeBytes).sum)) {
      val allMatched = prefixedTarget(rewriteSet).join(srcJ, joinCond, "inner")
        .withColumn("_clause", clauseSelector(matched, Nil, clauseCond, lit(true)))
        .localCheckpoint() // one evaluation: guard + outcomes + keys + emptiness
      requireMergeCardinality(allMatched)
      // distinct: `t.id = s.a AND t.id = s.b` yields the same target
      // column twice — the mask tuple must name each column once
      val keyCols = pruneKeys.map(_._1)
        .map(k => fields.find(_.name.equalsIgnoreCase(k)).get.name).distinct
      val affectedKeys = allMatched.where(col("_clause") >= 0)
        .select(keyCols.map(k => col(s"`_t_$k`").as(k)): _*).distinct()
        .localCheckpoint()
      if (affectedKeys.isEmpty) {
        // zone/partition false positive or all clause conditions false:
        // only the insert side can contribute
        inserts match {
          case None => return snap
          case Some(ins) =>
            val chk = ins.localCheckpoint()
            if (chk.isEmpty) return snap
            return commitRewrite(snap, "merge", Set.empty,
              Some(writeDataFiles(chk, snap.schema, specs)))
        }
      }
      // every matched row CARRYING an affected key re-emits (clause
      // outcome, or unchanged when no clause applied); affectedKeys is
      // distinct, so the inner join cannot fan rows out
      val reEmit = allMatched.join(
        affectedKeys.select(keyCols.map(k => col(s"`$k`").as(s"_t_$k")): _*),
        keyCols.map(k => s"_t_$k"))
      val updated = applyClauseChain(fields, reEmit, matched, Nil)
      val morRows = (Seq(updated) ++ inserts.toSeq).reduce(_.unionByName(_))
      val dataGroup = writeDataFiles(morRows, snap.schema, specs)
      val keyGroup = writeDataFiles(affectedKeys,
        deleteKeySchema(snap, keyCols), Nil)
      return commitRewrite(snap, "merge", Set.empty, Some(dataGroup),
        mask = Some(ns => EqualityDeleteGroup(ns, keyCols, keyGroup.withSeq(ns))),
        read = rewriteSet.map(_.path).toSet)
    }

    // Rewritten survivors of the touched files, projected back to the
    // plain target schema.
    val kept: Option[DataFrame] =
      if (rewriteSet.isEmpty) None
      else if (matched.isEmpty) {
        // only NMBS clauses modify: matched rows carry over via a semi
        // join (one copy per row even under duplicate source matches —
        // no cardinality error applies here), unmatched rows get the
        // clause chain
        val t = prefixedTarget(rewriteSet)
        val same = t.join(srcJ, joinCond, "left_semi")
          .withColumn("_clause", lit(-1))
        val unmatched = t.join(srcJ, joinCond, "left_anti")
          .withColumn("_clause",
            clauseSelector(Nil, notMatchedBySource, clauseCond, lit(false)))
        Some(applyClauseChain(fields, same.unionByName(unmatched),
          matched = Nil, nmbs = notMatchedBySource))
      } else {
        // ONE pass over the pruned target: the materialized outer join
        // feeds the cardinality guard and the clause chain (round-11
        // read the touched files twice — once for a separate probe)
        val t = prefixedTarget(rewriteSet)
        val mExists = col("_s_exists").isNotNull
        val joined = t.join(srcJ, joinCond, "left_outer").localCheckpoint()
        requireMergeCardinality(joined.where(mExists))
        val tagged = joined.withColumn("_clause",
          clauseSelector(matched, notMatchedBySource, clauseCond, mExists))
        Some(applyClauseChain(fields, tagged, matched, notMatchedBySource))
      }

    if (kept.isEmpty && inserts.isEmpty) return snap
    val merged = (kept.toSeq ++ inserts.toSeq).reduce(_.unionByName(_))
    if (rewriteSet.isEmpty) {
      // insert-only outcome: skip the commit when nothing inserts
      val chk = merged.localCheckpoint()
      if (chk.isEmpty) return snap
      return commitRewrite(snap, "merge", Set.empty,
        Some(writeDataFiles(chk, snap.schema, specs)))
    }
    commitRewrite(snap, "merge", rewriteSet.map(_.path).toSet,
      Some(writeDataFiles(merged, snap.schema, specs)))
  }

  /** NOT MATCHED BY SOURCE clause-id offset: past the matched clause
    * ids, never below 100 (the historical base). A fixed 100 alone
    * would silently collide ids for a merge with >100 WHEN MATCHED
    * clauses and apply the wrong assignments.
    */
  private def nmbsOffset(matched: Seq[MergeClause]): Int =
    math.max(100, matched.size)

  /** First-match-wins clause selector (SQL-standard clause order):
    * matched clause i → i when the match guard + its condition hold,
    * NMBS clause i → [[nmbsOffset]]+i under the inverse guard, else
    * -1 = keep the row unchanged.
    */
  private def clauseSelector(matched: Seq[MergeClause], nmbs: Seq[MergeClause],
                             clauseCond: MergeClause => Column,
                             mExists: Column): Column = {
    val off = nmbsOffset(matched)
    val entries =
      matched.zipWithIndex.map { case (c, i) => (mExists && clauseCond(c), i) } ++
        nmbs.zipWithIndex.map { case (c, i) => (!mExists && clauseCond(c), off + i) }
    entries.foldRight(lit(-1)) { case ((p, v), acc) => when(p, lit(v)).otherwise(acc) }
  }

  /** Apply tagged update/delete clauses: delete-tagged rows drop, each
    * update clause's assignments replace the target value for its rows,
    * untagged rows keep every column. Output = plain target schema.
    */
  private def applyClauseChain(fields: Seq[StructField], tagged: DataFrame,
                               matched: Seq[MergeClause],
                               nmbs: Seq[MergeClause]): DataFrame = {
    val indexed = matched.zipWithIndex.map { case (c, i) => (c, i) } ++
      nmbs.zipWithIndex.map { case (c, i) => (c, nmbsOffset(matched) + i) }
    val deleteIds = indexed.collect { case (c, i) if c.kind == "delete" => i }
    val updates = indexed.filter(_._1.kind == "update")
    val alive =
      if (deleteIds.isEmpty) tagged
      else tagged.where(!col("_clause").isin(deleteIds.map(Integer.valueOf): _*))
    alive.select(fields.map { f =>
      updates.foldRight(col("_t_" + f.name)) { case ((c, idx), acc) =>
        c.assigns.collectFirst { case (k, v) if k.equalsIgnoreCase(f.name) => v } match {
          case Some(vs) =>
            when(col("_clause") === idx, expr(vs).cast(f.dataType)).otherwise(acc)
          case None => acc
        }
      }.cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Apply the NET effect of a CDC batch — a set of keyed deletes and a
    * set of keyed upserts, disjoint per key — in ONE commit:
    * target rows matching ANY key (delete or upsert) are removed and
    * the upsert rows inserted, so a reader never observes the
    * intermediate "deletes applied, inserts missing" state a
    * deleteByKeys-then-upsert sequence exposes between its two
    * snapshots. Upsert rows follow upsert's duplicate-key contract;
    * delete keys may repeat ([[deleteByKeys]]' contract). Idempotent
    * under replay: re-deleting absent keys is a no-op and re-upserting
    * the same rows converges — at-least-once CDC appliers can re-run a
    * batch safely. An empty batch still commits, so `props` (a CDC or
    * refresh marker) always advances.
    *
    * `nullSafeKeys` switches key matching from SQL equality to
    * null-safe equality (`<=>`): a NULL key component addresses the
    * row whose stored component is NULL, instead of matching nothing.
    * The materialized-view refresh path needs this — a GROUP BY over a
    * nullable expression legitimately owns a NULL-keyed group row.
    */
  def applyNetChanges(deleteKeys: DataFrame, upserts: DataFrame,
                      keys: Seq[String],
                      props: Map[String, String] = Map.empty,
                      requireParentProps: Map[String, String] = Map.empty,
                      nullSafeKeys: Boolean = false): Snapshot = {
    require(keys.nonEmpty, "applyNetChanges requires key columns")
    applyKeyed(planKeyed(currentOrFail(), "merge", keys, Some(deleteKeys), Some(upserts),
      nullSafeKeys), props, requireParentProps)
  }

  /** A planned keyed write under operation `op`: the once-evaluated
    * upsert rows, the key frame the rewrite anti-joins (and a
    * merge-on-read commit masks) with and its row count, and the pruned
    * rewrite set. `keys` are the target's column names.
    */
  private final class KeyedPlan(val snap: Snapshot, val op: String, val keys: Seq[String],
                                val rows: Option[DataFrame], val keyDf: DataFrame,
                                val nKeys: Long, val rewriteSet: Seq[DataFile],
                                val nullSafe: Boolean, val anyNullKey: Boolean)

  /** Plan step of the one keyed write behind [[upsert]], [[deleteByKeys]]
    * and [[applyNetChanges]]. Both input frames are evaluated once
    * first ([[evaluatedOnce]]), so every later pass (aggregation, anti
    * join, write) sees the same rows: a nondeterministic caller source
    * (sample, rand filter, shuffled limit) must not let pruning computed
    * from one evaluation carry a file whose matches only another
    * evaluation saw, nor leave a key twice in the table.
    *
    * Then one grouped aggregation over the union of delete keys and
    * upsert keys — the small side, never the target — yields:
    *  - an example duplicate upsert key, which is rejected;
    *  - the count of key rows that can match, for the anti join's
    *    broadcast;
    *  - each key component's [min, max] and NULL count, for zone maps;
    *  - the derived partition values of [[KeyPruning]].
    *
    * A matching row needs EVERY key component inside the key frame's
    * [min, max], so files whose stats exclude any component carry over
    * unrewritten — on an unpartitioned but key-clustered table (the
    * replica and materialized-view layout) a batch costs O(affected
    * files), not O(table). Under SQL equality a tuple with a NULL
    * component matches nothing and is neither a match candidate nor a
    * duplicate. Under `nullSafe` NULL is a key value: a component that
    * holds one gives no range conjunct (a range never admits NULL), and
    * the other components still refine.
    */
  private def planKeyed(snap: Snapshot, op: String, keys: Seq[String],
                        deleteKeys: Option[DataFrame], upserts: Option[DataFrame],
                        nullSafe: Boolean): KeyedPlan = {
    val joinKeys = keys.map(k =>
      snap.schema.fields.find(_.name.equalsIgnoreCase(k)).fold(k)(_.name))
    val dels = deleteKeys.map(src => evaluatedOnce(src.select(keys.map { k =>
      val f = snap.schema.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(s"unknown key column '$k'"))
      col(s"`$k`").cast(f.dataType).as(f.name)
    }: _*)))
    val rows = upserts.map(u => evaluatedOnce(Projection.project(u, snap.schema)))
    val keyCols = joinKeys.map(k => col(s"`$k`"))
    val allKeys = (dels.map(_.withColumn("_graft_up", lit(0))).toSeq ++
      rows.map(_.select(keyCols :+ lit(1).as("_graft_up"): _*)).toSeq)
      .reduce(_.unionByName(_))
    val matchable = if (nullSafe) lit(true) else keyCols.map(_.isNotNull).reduce(_ && _)
    val pruning = new KeyPruning(snap, joinKeys)
    val stats = {
      val perKey = allKeys.groupBy(keyCols: _*)
        .agg(sum("_graft_up").as("_graft_up"), count(lit(1)).as("_graft_n"))
      val aggs = Seq(
        first(when(matchable && col("_graft_up") > 1, struct(keyCols: _*)), ignoreNulls = true),
        coalesce(sum(when(matchable, col("_graft_n"))), lit(0L))) ++
        keyCols.flatMap(c => Seq(min(c), max(c), count(when(c.isNull, 1)))) ++
        pruning.aggs
      perKey.agg(aggs.head, aggs.tail: _*).head
    }
    if (!stats.isNullAt(0))
      throw new IllegalArgumentException(
        s"$op rows contain duplicate keys on (${keys.mkString(", ")}), " +
          s"e.g. ${stats.getStruct(0).toSeq.mkString("/")}")
    val nKeys = stats.getLong(1)
    def hasNull(i: Int) = stats.getLong(4 + 3 * i) > 0
    val rewriteSet: Seq[DataFile] =
      if (nKeys == 0) Nil // no key tuple can match a stored row
      else {
        import org.apache.spark.sql.catalyst.expressions._
        val conjuncts = joinKeys.indices.filterNot(i => nullSafe && hasNull(i)).map { i =>
          val attr = org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(joinKeys(i))
          val dt = snap.schema(joinKeys(i)).dataType
          And(GreaterThanOrEqual(attr, Literal.create(stats.get(2 + 3 * i), dt)),
            LessThanOrEqual(attr, Literal.create(stats.get(3 + 3 * i), dt)))
        }
        val partPruned = pruning.files(stats, 2 + 3 * joinKeys.size)
        if (conjuncts.isEmpty) partPruned
        else {
          val rangePred = conjuncts.reduce[Expression](And(_, _))
          partPruned.filter(f => StatsPruner.evaluate(f, snap.schema, rangePred).may)
        }
      }
    new KeyedPlan(snap, op, joinKeys, rows, allKeys.where(matchable).select(keyCols: _*),
      nKeys, rewriteSet, nullSafe, anyNullKey = nullSafe && joinKeys.indices.exists(hasNull))
  }

  /** `df` checkpointed — unless it is already a deterministic plan
    * whose leaves are all materialized checkpoints (filters and
    * projections of a checkpointed frame): every evaluation of such a
    * plan yields the same rows, so a second checkpoint would only cost a
    * job.
    */
  private def evaluatedOnce(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val overCheckpoints = plan.deterministic && plan.collectLeaves().forall {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.isCheckpointed
      case _ => false
    }
    if (overCheckpoints) df else df.localCheckpoint()
  }

  /** Apply step of the keyed write. Past [[chooseMor]] the rows land
    * as an append group masked by an equality-delete group on the keys
    * at the same sequence, so the new rows stay visible and every older
    * row with a matching key is replaced with zero rewrites — unless a
    * null-safe batch carries a NULL component: equality deletes apply
    * with SQL equality on read and would never mask the stored
    * NULL-keyed row. Otherwise the rewrite set is read once,
    * anti-joined against the key frame and written back with the
    * upsert rows. Both shapes end in [[commitRewrite]]. The
    * checkpointed key frame carries no size stats and compiles without
    * AQE, so it is broadcast explicitly below the merge bound — else
    * the planner sort-merge-joins it, shuffling every rewritten file to
    * anti-join a batch-sized key list.
    */
  private def applyKeyed(plan: KeyedPlan,
                         props: Map[String, String] = Map.empty,
                         requireParentProps: Map[String, String] = Map.empty): Snapshot = {
    import plan._
    if (rewriteSet.nonEmpty && !anyNullKey && chooseMor(snap, rewriteSet.map(_.sizeBytes).sum)) {
      val dataGroup = rows.map(writeDataFiles(_, snap.schema, partitionFields()))
      val keyGroup = writeDataFiles(keyDf.distinct(), deleteKeySchema(snap, keys), Nil)
      return commitRewrite(snap, op, Set.empty, dataGroup,
        mask = Some(ns => EqualityDeleteGroup(ns, keys, keyGroup.withSeq(ns))),
        blind = true, props = props, requireParentProps = requireParentProps)
    }
    val kept = if (rewriteSet.isEmpty) None else Some {
      val base = readFilesMoR(snap, rewriteSet, snap.schema)
      val keysJ =
        if (nKeys <= GraftTable.MergeBroadcastRowBound) broadcast(keyDf) else keyDf
      if (nullSafe) {
        val renamed = keysJ.toDF(keys.map("_graft_nk_" + _): _*)
        base.join(renamed,
          keys.map(k => col(s"`$k`") <=> col(s"`_graft_nk_$k`")).reduce(_ && _),
          "left_anti")
      } else base.join(keysJ, keys, "left_anti")
    }
    val written = writeDataFiles((kept.toSeq ++ rows.toSeq).reduce(_.unionByName(_)),
      snap.schema, partitionFields())
    commitRewrite(snap, op, rewriteSet.map(_.path).toSet, Some(written),
      props = props, requireParentProps = requireParentProps)
  }

  /** Compare-and-set guard for marker-carrying commits (CDC replication,
    * materialized-view refresh): the commit only lands if each named
    * property still holds the value the batch derived from. Two racing
    * appliers that read the same marker otherwise BOTH commit — file
    * conflict detection cannot catch the case where neither touches an
    * existing file (a pure new-key batch), and the second apply would
    * double-count. With the CAS, the loser aborts on its commit retry
    * with the remedy (re-run; the marker advanced) instead of writing.
    */
  private def requireParentPropsUnchanged(p: Snapshot,
                                          expected: Map[String, String]): Unit =
    expected.foreach { case (k, want) =>
      val got = p.properties.get(k)
      require(got.contains(want),
        s"concurrent update: property '$k' is ${got.map("'" + _ + "'")
          .getOrElse("absent")}, but this batch derived from '$want' — " +
          "another applier committed first; re-run to apply from the new marker")
    }

  /** Drop `removed` paths from `groups`, reusing untouched manifests and
    * writing pruned manifests only for partially-affected groups —
    * commit metadata cost stays O(files touched). Manifests in
    * `provenUntouched` (ruled out by summary pruning at planning time)
    * carry over WITHOUT being parsed; manifests not in the set — which
    * includes any manifest a concurrent commit created or merged, since
    * planning never saw it — are loaded and checked, so a racing
    * manifest-merge can never resurrect removed files.
    */
  private def pruneGroups(schema: StructType, groups: Seq[FileGroup],
                          removed: Set[String],
                          provenUntouched: Set[String] = Set.empty): Seq[FileGroup] =
    groups.flatMap { g =>
      if (provenUntouched.contains(g.manifest)) Some(g)
      else {
        val survivors = g.files.filterNot(f => removed.contains(f.path))
        if (survivors.size == g.files.size) Some(g)      // untouched: reuse
        else if (survivors.isEmpty) None                 // emptied: drop
        // pruned subset KEEPS the group's data sequence — the surviving
        // rows were written then, and MoR delete applicability rides on it
        else Some(log.writeManifest(survivors, Some(schema)).withSeq(g.seq))
      }
    }

  /** Evolve the table schema additively from an incoming schema
    * (C2, `core/schema.py:52-78`). Returns the (possibly unchanged)
    * current schema after the commit.
    */
  def evolveSchema(incoming: StructType): StructType = {
    val snap = currentOrFail()
    // new ids must clear every id the naming history used — recycling a
    // dropped column's id would resurrect its values from old files.
    // The floor is the DURABLE lastFieldId (survives schemaLog pruning;
    // Iceberg's last-column-id) maxed with the prunable history floor,
    // which still covers legacy snapshots from before the field existed
    def idFloor(s: Snapshot): Long =
      (s.schemaLog.map { case (_, sch) => Projection.maxFieldId(sch) } :+
        s.lastFieldId).max
    Projection.evolve(snap.schema, incoming, idFloor(snap)) match {
      case None => snap.schema
      case Some(evolved) =>
        log.commit { parent =>
          val p = parent.getOrElse(snap)
          Projection.evolve(p.schema, incoming, idFloor(p)) match {
            case None => p.copy(snapshotId = newSnapshotId(), operation = "evolve-noop")
            case Some(e2) =>
              // an added column may not take a name a since-renamed or
              // since-dropped column used while its files are still
              // live — old zone maps carry the name with the old
              // meaning (same rule renameColumn enforces)
              val existing = p.schema.fieldNames.map(_.toLowerCase).toSet
              e2.fields.filterNot(f => existing(f.name.toLowerCase))
                .foreach(f => requireNameAvailable(p, f.name, Projection.fieldId(f)))
              p.copy(
                snapshotId = newSnapshotId(),
                operation = "evolve-schema",
                schema = e2,
                schemaVersion = p.schemaVersion + 1,
                lastFieldId = math.max(idFloor(p), Projection.maxFieldId(e2)))
          }
        }.schema
    }
  }

  /** Rename a column — metadata-only, zero file rewrites, the Iceberg
    * rename contract: the field keeps its ID, a [[graft.meta.Snapshot
    * .schemaLog]] entry records the old naming, and every read of
    * pre-rename files maps physical→current names by field id
    * ([[nameMapping]]). At 100 TB this is the difference between an
    * instant `ALTER TABLE` and a full-table rewrite.
    *
    * Pending merge-on-read deletes survive the rename: the commit
    * remaps their stored references (equality keys, predicate SQL) to
    * the new name, while the key FILES keep their stored naming
    * (frozen in [[graft.meta.EqualityDeleteGroup.physKeys]]) — still
    * zero data IO. Constraints (each rejected loudly):
    *  - the partition spec's source columns are part of the physical
    *    layout — re-spec first (`set_partition_spec`);
    *  - a name previously used by a DIFFERENT field, while files from
    *    that era are still live, stays unavailable: old zone
    *    maps/summaries still carry it with the old meaning, and a
    *    lookup hit on them would prune wrongly. Compaction rewrites
    *    the old files and frees the name.
    */
  def renameColumn(oldName: String, newName: String): Snapshot = {
    require(oldName.nonEmpty && newName.nonEmpty, "empty column name")
    val snap = currentOrFail()
    if (snap.schema.fields.find(_.name.equalsIgnoreCase(oldName)).exists(_.name == newName))
      return snap // already that exact name: no-op without a commit
    log.commit { parent =>
      val p = parent.getOrElse(snap)
      val f = p.schema.fields.find(_.name.equalsIgnoreCase(oldName)).getOrElse(
        throw new IllegalArgumentException(s"unknown column '$oldName'"))
      requireNameChangeAllowed(p, f.name, "rename")
      if (!newName.equalsIgnoreCase(f.name))
        require(!p.schema.fields.exists(_.name.equalsIgnoreCase(newName)),
          s"column '$newName' already exists")
      requireNameAvailable(p, newName, Projection.fieldId(f))
      val renamed = StructType(p.schema.fields.map(x =>
        if (x.name == f.name) x.copy(name = newName) else x))
      p.copy(
        snapshotId = newSnapshotId(),
        operation = "rename-column",
        schema = renamed,
        schemaVersion = p.schemaVersion + 1,
        schemaLog = appendSchemaLog(p),
        deleteGroups = renameInDeletes(p.deleteGroups, f.name, newName),
        lastFieldId = math.max(p.lastFieldId, Projection.maxFieldId(p.schema)),
        properties = renameInProperties(p.properties, f.name, newName))
    }
  }

  /** Drop a column — metadata-only like [[renameColumn]]: the field
    * leaves the schema (its ID is never reused — [[Projection]] assigns
    * max+1), old files keep the physical column but no read requests
    * it, and re-adding the NAME is blocked while covered files live
    * (their zone maps still carry it with the dead meaning; a by-name
    * parquet read would also resurrect the dead values — the salted
    * absent-name read in [[nameMapping]] guards the read side, the
    * availability check guards the stats side).
    */
  def dropColumn(name: String): Snapshot = {
    val snap = currentOrFail()
    log.commit { parent =>
      val p = parent.getOrElse(snap)
      val f = p.schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"unknown column '$name'"))
      require(p.schema.fields.length > 1, "cannot drop the only column")
      requireNameChangeAllowed(p, f.name, "drop")
      p.copy(
        snapshotId = newSnapshotId(),
        operation = "drop-column",
        schema = StructType(p.schema.fields.filterNot(_.name == f.name)),
        schemaVersion = p.schemaVersion + 1,
        schemaLog = appendSchemaLog(p),
        // the PRE-drop schema's max enters the durable floor here —
        // the dropped id must never be recycled even after compaction
        // prunes the schema-log entry that carried it
        lastFieldId = math.max(p.lastFieldId, Projection.maxFieldId(p.schema)),
        properties = renameInProperties(p.properties, f.name, ""))
    }
  }

  /** Shared preconditions of the name-changing evolutions. Pending
    * merge-on-read deletes no longer block a RENAME — the commit
    * remaps their stored references ([[renameInDeletes]]); a DROP
    * still refuses while a pending delete references the column (its
    * key tuples / predicate would lose meaning).
    */
  private def requireNameChangeAllowed(p: Snapshot, colName: String, op: String): Unit = {
    if (op == "drop") {
      val referenced = p.deleteGroups.exists {
        case e: EqualityDeleteGroup => e.keys.exists(_.equalsIgnoreCase(colName))
        case pd: PredicateDeleteGroup =>
          predicateRefs(pd.predicateSql).contains(colName.toLowerCase)
        case _: PositionDeleteGroup => false
      }
      require(!referenced,
        s"cannot drop column '$colName': a pending merge-on-read delete " +
          "references it; run rewrite_deletes or compact first")
    }
    val specSources = p.partitionSpec.toSeq
      .flatMap(PartitionExpr.parseSpec).map(_.sourceCol)
    require(!specSources.exists(_.equalsIgnoreCase(colName)),
      s"cannot $op column '$colName': it is a partition-spec source " +
        s"(${p.partitionSpec.getOrElse("")}); set_partition_spec first")
  }

  /** Top-level column names a stored delete predicate references. */
  private def predicateRefs(sql: String): Set[String] =
    CatalystSqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head.toLowerCase
    }.toSet

  /** Remap a rename through the snapshot's pending merge-on-read
    * deletes: equality keys change name (the key FILES stay untouched —
    * their stored naming freezes into `physKeys`), predicate SQL
    * rewrites its references. Purely metadata, like the rename itself.
    */
  private def renameInDeletes(dels: Seq[DeleteGroup], oldName: String,
                              newName: String): Seq[DeleteGroup] = dels.map {
    case e: EqualityDeleteGroup if e.keys.exists(_.equalsIgnoreCase(oldName)) =>
      e.copy(
        keys = e.keys.map(k => if (k.equalsIgnoreCase(oldName)) newName else k),
        physKeys = e.physicalKeys)
    case pd: PredicateDeleteGroup
        if predicateRefs(pd.predicateSql).contains(oldName.toLowerCase) =>
      val rewritten = CatalystSqlParser.parseExpression(pd.predicateSql).transformUp {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.nameParts.length == 1 && a.nameParts.head.equalsIgnoreCase(oldName) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(newName))
      }
      pd.copy(predicateSql = rewritten.sql)
    case d => d
  }

  /** Is `name` free for (re)use by the field with id `forId`? Blocked
    * while any still-covered write-time schema used it for a DIFFERENT
    * field — old per-file zone maps and manifest summaries carry the
    * name with the old meaning, and a stats lookup hit would prune or
    * aggregate wrongly. Renaming a column BACK to its own former name
    * is always fine (same id ⇒ same meaning).
    */
  private def requireNameAvailable(p: Snapshot, name: String,
                                   forId: Option[Long]): Unit = {
    val clash = p.coveringSchemas.exists(_.fields.exists(w =>
      w.name.equalsIgnoreCase(name) && Projection.fieldId(w) != forId))
    require(!clash,
      s"column name '$name' was previously used by a different column and " +
        "files from that era are still live (their stats carry the old " +
        "meaning); compact the table first")
  }

  /** Push the parent's naming onto the schema log (covering all groups
    * up to its lastSeq), pruning entries that no longer cover any live
    * group. Skips the push when an entry at this seq boundary already
    * exists — two renames with no data commit between them need one
    * entry (the OLDER naming wins first-match, as it must).
    */
  private def appendSchemaLog(p: Snapshot): Seq[(Long, StructType)] = {
    val covered = p.fileGroups
      .map(g => p.schemaLog.indexWhere(g.seq <= _._1)).filter(_ >= 0).toSet
    val pruned = p.schemaLog.zipWithIndex
      .collect { case (e, i) if covered(i) => e }
    if (pruned.lastOption.exists(_._1 >= p.lastSeq)) pruned
    else if (p.fileGroups.isEmpty) pruned // nothing written yet: no files to map
    else pruned :+ (p.lastSeq -> p.schema)
  }

  /** Rename (or scrub, when `newName` is empty) a column's mentions in
    * the layout-hint properties — `write.sort.columns` and the parquet
    * bloom-filter toggles. Hints only: writes ignore unknown columns,
    * but carrying the stale name would silently drop the hint.
    */
  private def renameInProperties(props: Map[String, String], oldName: String,
                                 newName: String): Map[String, String] = {
    val bloomPrefix = "write.parquet.bloom-filter-enabled.column."
    props.flatMap {
      case ("write.sort.columns", v) =>
        val cols = v.split(",").map(_.trim).filter(_.nonEmpty)
          .flatMap { c =>
            if (!c.equalsIgnoreCase(oldName)) Some(c)
            else if (newName.nonEmpty) Some(newName) else None
          }
        if (cols.isEmpty) None else Some("write.sort.columns" -> cols.mkString(","))
      case (k, v) if k.startsWith(bloomPrefix) &&
          k.stripPrefix(bloomPrefix).equalsIgnoreCase(oldName) =>
        if (newName.nonEmpty) Some(s"$bloomPrefix$newName" -> v) else None
      case (k, v) => Some(k -> v)
    }
  }

  // ------------------------------------------------------------------
  // Read path (S8)
  // ------------------------------------------------------------------

  /** Scan the current snapshot. Files written under older schema
    * versions are projected onto the current schema (missing columns
    * null-filled by the Parquet reader given the explicit schema).
    */
  def scan(): DataFrame = scanSnapshot(currentOrFail())

  /** Time travel by snapshot id (`table.snapshots()` read-back, S9). */
  def scanAsOf(snapshotId: Long): DataFrame = {
    val snap = snapshots().find(_.snapshotId == snapshotId)
      .getOrElse(throw new IllegalArgumentException(s"No snapshot $snapshotId"))
    scanSnapshot(snap)
  }

  def scanAsOfVersion(version: Int): DataFrame = scanSnapshot(snapshotAt(version))

  /** Time travel by wall-clock: the latest snapshot committed at or
    * before `timestampMs`.
    */
  def scanAsOfTimestamp(timestampMs: Long): DataFrame =
    scanSnapshot(snapshotAsOfTimestamp(timestampMs))

  /** Snapshot resolution for time travel — exposed so the DSv2
    * connector plans pinned scans from snapshot metadata directly.
    */
  def snapshotAt(version: Int): Snapshot = log.read(version)

  def snapshotAsOfTimestamp(timestampMs: Long): Snapshot =
    snapshots().filter(_.timestampMs <= timestampMs)
      .sortBy(s => (s.timestampMs, s.version)).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"No snapshot at or before $timestampMs"))

  // ---- named refs (tags) ---------------------------------------------

  /** Pin `name` to a live version (default: current). A tagged version
    * is protected from [[expireSnapshots]] until the tag is dropped —
    * the training-run-provenance workflow: tag the snapshot a model was
    * trained on and `VERSION AS OF 'name'` reproduces its input
    * forever.
    */
  def createTag(name: String, version: Option[Int] = None): Int = {
    val v = version.getOrElse(currentOrFail().version)
    require(log.listVersions().contains(v),
      s"cannot tag version $v: not in the log (live: ${log.listVersions().mkString(", ")})")
    log.createTag(name, v)
    graft.observability.Log.metrics("create_tag",
      "table" -> tableDir.getName, "tag" -> name, "version" -> v)
    v
  }

  def dropTag(name: String): Boolean = log.dropTag(name)

  def tags(): Map[String, Int] = log.tags()

  /** Resolve a tag to its pinned snapshot. */
  def snapshotAtTag(name: String): Snapshot =
    log.tag(name) match {
      case Some(v) => snapshotAt(v)
      case None => throw new IllegalArgumentException(
        s"unknown tag '$name' (tags: ${tags().keys.toSeq.sorted.mkString(", ")})")
    }

  /** Read the table as it was when `name` was tagged — the direct-API
    * dual of SQL `VERSION AS OF '<name>'`.
    */
  def scanAtTag(name: String): DataFrame = scanSnapshot(snapshotAtTag(name))

  /** Filtered scan with file-level partition pruning: only files that
    * may contain matching rows are read; the full predicate is still
    * applied row-level (and pushed into the Parquet scan by Catalyst).
    */
  def scanWhere(predicateSql: String): DataFrame = {
    val snap = currentOrFail()
    val pred = CatalystSqlParser.parseExpression(predicateSql)
    readFilesMoR(snap, prunedFilesOf(snap, pred), snap.schema).filter(expr(predicateSql))
  }

  /** [[scanWhere]]'s file-level pruning against a PINNED version — the
    * filtered dual of [[scanAsOfVersion]], for refresh paths that must
    * read a consistent head while pruning by a key rectangle.
    */
  def scanVersionWhere(version: Int, predicateSql: String): DataFrame = {
    val snap = snapshotAt(version)
    val pred = CatalystSqlParser.parseExpression(predicateSql)
    readFilesMoR(snap, prunedFilesOf(snap, pred), snap.schema).filter(expr(predicateSql))
  }

  /** Files the pruners keep for a predicate — exposed for tests
    * asserting files-touched < files-total.
    */
  def prunedFiles(predicateSql: String): Seq[DataFile] = {
    val snap = currentOrFail()
    val pred = CatalystSqlParser.parseExpression(predicateSql)
    prunedFilesOf(snap, pred)
  }

  /** Two-level pruning: manifests whose summary proves no match are
    * skipped UNREAD (manifest-list planning — snapshot metadata stays
    * O(manifests), not O(files), for selective scans); surviving
    * groups' files then go through per-file partition + zone-map
    * pruning.
    */
  private[graft] def prunedFilesOf(snap: Snapshot, pred: Expression): Seq[DataFile] =
    snap.fileGroups.iterator
      .filter(g => groupMay(g, snap, pred))
      // rows == 0 is exact footer metadata: an empty file (e.g. an
      // empty partition of a write) can never satisfy any predicate,
      // and its absent stats would otherwise read as "may contain"
      .flatMap(_.files.filter(f => f.rows > 0L && fileTri(f, snap, pred).may))
      .toSeq

  /** Combined three-valued file evaluation: partition-transform pruning
    * (needs a spec) AND-ed with zone-map pruning (works on any column of
    * any file). `may` requires both to allow; `all` holds if either
    * proves it.
    */
  private def fileTri(f: DataFile, snap: Snapshot,
                      pred: Expression): PartitionPruner.Tri = {
    // every partition field prunes independently: a file is skipped if
    // ANY field proves the predicate impossible, and "all rows match"
    // holds if any field proves it
    val pTris = partitionFields().map { pf =>
      val srcType = snap.schema.fields.find(_.name.equalsIgnoreCase(pf.sourceCol))
        .map(_.dataType).getOrElse(StringType)
      PartitionPruner.evaluate(f, pf, srcType, pred)
    }
    val pTri =
      if (pTris.isEmpty) PartitionPruner.Unknown
      else PartitionPruner.Tri(pTris.forall(_.may), pTris.exists(_.all))
    val sTri = StatsPruner.evaluate(f, snap.schema, pred)
    PartitionPruner.Tri(pTri.may && sTri.may, pTri.all || sTri.all)
  }

  private[graft] def scanSnapshot(snap: Snapshot): DataFrame =
    readFilesMoR(snap, snap.files, snap.schema)

  private def readFiles(schema: StructType, files: Seq[DataFile]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).parquet(files.map(f => new HPath(tableDir, f.path).toString): _*)

  /** Physical-name mapping between a write-time schema and the
    * requested read schema, matched BY FIELD ID — what makes
    * rename/drop-column metadata-only: files written before a rename
    * keep their old physical column names forever, and reads alias
    * them back to the current names. `None` = identity (every
    * requested name is the physical name), the zero-overhead common
    * case. A requested field whose id is absent from the write schema
    * was added later: it reads under its own name (the file simply
    * lacks it → null-fill) — UNLESS the write schema had a
    * since-dropped column of the same name under a different id, in
    * which case reading by name would resurrect the dead column's
    * values; a salted name the file cannot contain null-fills instead.
    */
  private[graft] def nameMapping(writeSchema: StructType,
                                 readSchema: StructType): Option[Seq[(String, StructField)]] = {
    if (writeSchema eq readSchema) return None
    val wById = writeSchema.fields
      .flatMap(f => Projection.fieldId(f).map(_ -> f.name)).toMap
    val pairs = readSchema.fields.toSeq.map { f =>
      val phys = Projection.fieldId(f) match {
        case None => f.name // legacy id-less field: by-name read
        case Some(id) => wById.get(id) match {
          case Some(n) => n
          case None =>
            if (writeSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
              s"__graft_absent_${f.name}"
            else f.name
        }
      }
      (phys, f)
    }
    if (pairs.forall { case (n, f) => n == f.name }) None else Some(pairs)
  }

  /** Read `files` under an optional physical-name mapping (from
    * [[nameMapping]]), aliasing back to the requested names; with
    * `withPos` the position-delete address pair rides along.
    */
  private def readMapped(readSchema: StructType, files: Seq[DataFile],
                         mapping: Option[Seq[(String, StructField)]],
                         withPos: Boolean): DataFrame = mapping match {
    case None =>
      if (withPos) readFilesWithPos(readSchema, files)
      else readFiles(readSchema, files)
    case Some(m) =>
      val phys = StructType(m.map { case (n, f) =>
        StructField(n, f.dataType, nullable = true) })
      val aliases = m.map { case (n, f) => col(s"`$n`").as(f.name) }
      if (withPos)
        readFilesWithPos(phys, files).select(aliases ++
          Seq(col(PositionDeleteGroup.FileKeyCol), col(PositionDeleteGroup.PosCol)): _*)
      else readFiles(phys, files).select(aliases: _*)
  }

  // ------------------------------------------------------------------
  // Merge-on-read deletes (Iceberg format-v2 delete files, re-expressed)
  // ------------------------------------------------------------------

  /** Key-column schema of an equality delete, taken from the snapshot
    * schema so the key parquet reads back with the table's own types.
    */
  private def deleteKeySchema(snap: Snapshot, keys: Seq[String]): StructType =
    StructType(keys.map(k => snap.schema.fields.find(_.name.equalsIgnoreCase(k))
      .getOrElse(throw new IllegalStateException(
        s"delete key column '$k' missing from schema"))))

  /** Key-file read, aliasing the PHYSICAL stored column names (the
    * naming at the delete's commit, frozen by [[EqualityDeleteGroup
    * .physKeys]] across renames) back to the current key names.
    */
  private def readDeleteKeys(snap: Snapshot, e: EqualityDeleteGroup): DataFrame = {
    val current = deleteKeySchema(snap, e.keys)
    if (e.physicalKeys == e.keys) readFiles(current, e.group.files)
    else {
      val pairs = current.fields.toSeq.zip(e.physicalKeys)
      readFiles(StructType(pairs.map { case (f, pk) =>
        StructField(pk, f.dataType, nullable = true) }), e.group.files)
        .select(pairs.map { case (f, pk) => col(s"`$pk`").as(f.name) }: _*)
    }
  }

  /** Scheme-stable file key: the trailing `<dir>/<file>` of a path
    * identifies a file uniquely within the table (commit dirs are
    * UUIDs; part files carry job UUIDs) and is identical between the
    * relative metadata path and whatever qualified URI the file source
    * reports. Shared by position deletes and the changelog's
    * wide-range version map.
    */
  private[graft] def fileKeyOf(relPath: String): String =
    relPath.split('/').takeRight(2).mkString("/")

  /** Raw parquet read of `files` with the position-delete address pair
    * attached: `_graft_file_key` (see [[fileKeyOf]]) and `_graft_pos`
    * (the parquet row index, from the file source's metadata column —
    * no shuffle, no window). Callers project the pair away before rows
    * leave the table surface.
    */
  private def readFilesWithPos(readSchema: StructType, files: Seq[DataFile]): DataFrame = {
    val dataCols = readSchema.fieldNames.map(c => col(s"`$c`")).toSeq
    if (files.isEmpty || files.forall(_.rows == 0L))
      return readFiles(readSchema, Nil)
        .select(dataCols :+
          lit(null).cast(StringType).as(PositionDeleteGroup.FileKeyCol) :+
          lit(null).cast("long").as(PositionDeleteGroup.PosCol): _*)
    val parts = split(col("_metadata.file_path"), "/")
    readFiles(readSchema, files).select(dataCols :+
      concat(element_at(parts, -2), lit("/"), element_at(parts, -1))
        .as(PositionDeleteGroup.FileKeyCol) :+
      col("_metadata.row_index").as(PositionDeleteGroup.PosCol): _*)
  }

  /** May position delete `p` touch file `f` at all? The delete
    * manifest's summary stats on the file-key column bound the set of
    * addressed files; `f` outside that range skips the anti join
    * entirely (same zone-map trick as [[deleteMayTouch]] — footer
    * string stats may truncate, which only widens the range: sound).
    */
  private def posDeleteMayTouch(f: DataFile, p: PositionDeleteGroup): Boolean = {
    val stats = p.group.summary.map(_.stats).getOrElse(return true)
    stats.get(PositionDeleteGroup.FileKeyCol) match {
      case Some(cs) => (cs.min, cs.max) match {
        case (Some(mn), Some(mx)) =>
          val k = fileKeyOf(f.path); val o = ColumnStats.StringOrdering
          o.gteq(k, mn) && o.lteq(k, mx)
        case _ => true
      }
      case None => true
    }
  }

  /** Apply delete groups to rows already known to be in their scope:
    * equality deletes anti-join on the key tuple (the delete-keys side
    * carries ONLY key columns, so Catalyst/AQE broadcasts it long
    * before the data side would shuffle); predicate deletes filter
    * with SQL DELETE three-valued semantics (NULL predicate keeps the
    * row, like the copy-on-write path).
    */
  private def applyDeleteGroups(df: DataFrame, dels: Seq[DeleteGroup],
                                snap: Snapshot): DataFrame =
    dels.foldLeft(df) {
      case (acc, e: EqualityDeleteGroup) =>
        acc.join(readDeleteKeys(snap, e), e.keys, "left_anti")
      case (acc, p: PredicateDeleteGroup) =>
        acc.filter(!coalesce(expr(p.predicateSql), lit(false)))
      // requires `acc` to carry the position address pair (callers
      // read via readFilesWithPos whenever a position group is in
      // scope); the delete side is (file_key, pos) tuples only, so
      // AQE broadcasts it like the equality-key side
      case (acc, p: PositionDeleteGroup) =>
        acc.join(readFiles(PositionDeleteGroup.KeySchema, p.group.files),
          Seq(PositionDeleteGroup.FileKeyCol, PositionDeleteGroup.PosCol),
          "left_anti")
    }

  /** May any key tuple of equality delete `e` fall inside `f`'s zone
    * maps? A tuple match needs EVERY key component inside the file's
    * [min, max], so one provably-disjoint component means the delete
    * cannot touch the file at all — the anti join is skipped for it.
    * The bounds come for free: the delete manifest's summary carries
    * per-key-column stats harvested at write time. Unknown stats on
    * either side degrade to "may touch" (sound).
    */
  private def deleteMayTouch(f: DataFile, e: EqualityDeleteGroup,
                             snap: Snapshot): Boolean = {
    val keyStats = e.group.summary.map(_.stats).getOrElse(return true)
    // key-side summary stats are keyed by the PHYSICAL stored names
    e.keys.zip(e.physicalKeys).forall { case (k, pk) =>
      val dt = snap.schema.fields.find(_.name.equalsIgnoreCase(k))
        .map(_.dataType).getOrElse(return true)
      (f.stats.get(k), keyStats.get(pk)) match {
        case (Some(fs), Some(ds)) =>
          (fs.min, fs.max, ds.min, ds.max) match {
            case (Some(fmin), Some(fmax), Some(dmin), Some(dmax)) =>
              def num(s: String) = scala.util.Try(BigDecimal(s)).toOption
              dt match {
                case _: NumericType | DateType | TimestampType | TimestampNTZType =>
                  (for { a <- num(fmin); b <- num(fmax)
                         c <- num(dmin); d <- num(dmax) }
                    yield !(b < c || a > d)).getOrElse(true)
                case StringType =>
                  val o = ColumnStats.StringOrdering
                  !(o.lt(fmax, dmin) || o.gt(fmin, dmax))
                case _ => true
              }
            case _ => true
          }
        case _ => true
      }
    }
  }

  /** Read a subset of `snap`'s data files with the snapshot's
    * merge-on-read deletes applied. A delete applies to data groups
    * with `seq <` its own; on top of that sequence gate, equality
    * deletes are zone-map-refined per FILE ([[deleteMayTouch]]) — on a
    * key-clustered table a narrow keyed delete then anti-joins a
    * handful of files while the rest read plain. Files are bucketed by
    * their EFFECTIVE applicable-delete set, each bucket read once with
    * its anti-join/filter chain, and the buckets unioned — a row
    * re-inserted after a delete sits in a later-seq bucket and is
    * never filtered. Zero overhead when no deletes are pending (the
    * overwhelmingly common state): one plain parquet read.
    */
  private[graft] def readFilesMoR(snap: Snapshot, files: Seq[DataFile],
                                  readSchema: StructType): DataFrame =
    readFilesMoRImpl(snap, files, readSchema, keepPos = false)

  /** [[readFilesMoR]] but every row keeps its position-delete address
    * pair (`_graft_file_key`, `_graft_pos`) — the input to operations
    * that address specific row occurrences (dedupTable).
    */
  private def readFilesMoRPos(snap: Snapshot, files: Seq[DataFile],
                              readSchema: StructType): DataFrame =
    readFilesMoRImpl(snap, files, readSchema, keepPos = true)

  private def readFilesMoRImpl(snap: Snapshot, files: Seq[DataFile],
                               readSchema: StructType, keepPos: Boolean): DataFrame = {
    // identity fast path: no pending deletes, no name-evolution
    // history, and the requested names ARE the write names — one plain
    // parquet read (the overwhelmingly common state)
    if (snap.deleteGroups.isEmpty && snap.schemaLog.isEmpty &&
        nameMapping(snap.schema, readSchema).isEmpty)
      return if (keepPos) readFilesWithPos(readSchema, files)
             else readFiles(readSchema, files)
    val dels = snap.deleteGroups.sortBy(_.seq)
    val remaining = scala.collection.mutable.Set[String](files.map(_.path): _*)
    // bucket key: (effective delete set, write-schema log index) — a
    // group written under an older naming reads with its physical
    // names and aliases back BEFORE any delete anti join, so delete
    // keys (always current names) match
    val buckets = scala.collection.mutable.LinkedHashMap.empty[(Seq[Long], Int), Vector[DataFile]]
    snap.fileGroups.foreach { g =>
      if (remaining.nonEmpty) {
        val member = g.files.filter(f => remaining.remove(f.path))
        if (member.nonEmpty) {
          val applicable = dels.filter(_.appliesTo(g.seq))
          val schemaIdx = snap.schemaLog.indexWhere(g.seq <= _._1)
          member.foreach { f =>
            val eff = applicable.filter {
              case e: EqualityDeleteGroup => deleteMayTouch(f, e, snap)
              case p: PositionDeleteGroup => posDeleteMayTouch(f, p)
              case _: PredicateDeleteGroup => true
            }.map(_.seq)
            buckets.updateWith((eff, schemaIdx))(v => Some(v.getOrElse(Vector.empty) :+ f))
          }
        }
      }
    }
    require(remaining.isEmpty,
      s"readFilesMoR: ${remaining.size} file(s) not in snapshot groups (e.g. ${remaining.headOption.getOrElse("")})")
    val dataCols = readSchema.fieldNames.map(c => col(s"`$c`")).toSeq
    buckets.toSeq.map { case ((seqs, schemaIdx), fs) =>
      val set = seqs.toSet
      val applicable = dels.filter(d => set(d.seq))
      val mapping = nameMapping(
        if (schemaIdx >= 0) snap.schemaLog(schemaIdx)._2 else snap.schema,
        readSchema)
      // position deletes address (file, row-index) pairs: such buckets
      // read with the address pair attached and project it away after
      // (unless the caller asked to keep it)
      if (keepPos || applicable.exists(_.isInstanceOf[PositionDeleteGroup])) {
        val applied = applyDeleteGroups(
          readMapped(readSchema, fs, mapping, withPos = true), applicable, snap)
        if (keepPos) applied else applied.select(dataCols: _*)
      } else
        applyDeleteGroups(
          readMapped(readSchema, fs, mapping, withPos = false), applicable, snap)
    }.reduceOption(_.unionByName(_)).getOrElse(
      if (keepPos) readFilesWithPos(readSchema, Nil) else readFiles(readSchema, Nil))
  }

  /** Rows a delete group REMOVED, as visible just before it committed
    * — older-seq data with the PRIOR deletes applied, then this
    * delete's own match (semi join / predicate). The changelog's
    * delete-side emission for merge-on-read commits. `excludeAdded`
    * (the paths the commit ADDED — a commit-sized set, so callers never
    * materialize the table's full listing) restricts the base to files
    * the PREVIOUS snapshot also held: a group (re-)adopted in the same
    * commit as its files (rollback across a compaction) must not
    * re-delete rows the insert side never emitted — file churn belongs
    * to the raw sides.
    */
  private[graft] def morDeletedRows(snap: Snapshot, d: DeleteGroup,
                                    readSchema: StructType,
                                    excludeAdded: Option[Set[String]] = None): DataFrame = {
    val priors = snap.deleteGroups.filter(_.seq < d.seq).sortBy(_.seq)
    val needPos = (priors :+ d).exists(_.isInstanceOf[PositionDeleteGroup])
    val dataCols = readSchema.fieldNames.map(c => col(s"`$c`")).toSeq
    val baseGroups = snap.fileGroups.filter(g => d.appliesTo(g.seq))
    if (baseGroups.isEmpty) return readFiles(readSchema, Nil)
    val base = baseGroups.map { g =>
      val files = g.files.filter(_.rows > 0)
        .filter(f => !excludeAdded.exists(_.contains(f.path)))
      val b = readMapped(readSchema, files,
        nameMapping(snap.writeSchemaFor(g.seq), readSchema), needPos)
      applyDeleteGroups(b, priors.filter(_.appliesTo(g.seq)), snap)
    }.reduce(_.unionByName(_))
    val matched = d match {
      case e: EqualityDeleteGroup =>
        base.join(readDeleteKeys(snap, e), e.keys, "left_semi")
      case p: PredicateDeleteGroup =>
        base.filter(coalesce(expr(p.predicateSql), lit(false)))
      case p: PositionDeleteGroup =>
        base.join(readFiles(PositionDeleteGroup.KeySchema, p.group.files),
          Seq(PositionDeleteGroup.FileKeyCol, PositionDeleteGroup.PosCol),
          "left_semi")
    }
    if (needPos) matched.select(dataCols: _*) else matched
  }

  /** Both directions of the merge-on-read VISIBILITY change between
    * two adjacent snapshots over the files they SHARE (file churn is
    * the changelog's raw sides' job): rows visible under `to`'s delete
    * state but not `from`'s (reappearances — a rollback dropping
    * delete groups) and vice versa. Address-pair anti joins over the
    * seq-gated affected files; exact by construction under every
    * compound delete-state change (simultaneous additions + removals,
    * rollback across a compaction that had purged the groups) — the
    * shapes where emitting each added group's pre-image independently
    * double-counts. Only needed when groups were REMOVED; the
    * added-only fast path keeps [[morDeletedRows]]'s cheaper
    * one-read-plus-semi-join plan.
    */
  private[graft] def morVisibilityDiff(from: Snapshot, to: Snapshot,
                                       readSchema: StructType): (DataFrame, DataFrame) = {
    val dataCols = readSchema.fieldNames.map(c => col(s"`$c`")).toSeq
    def empty = readFiles(readSchema, Nil)
    val fromSeqs = from.deleteGroups.map(_.seq).toSet
    val toSeqs = to.deleteGroups.map(_.seq).toSet
    // same-seq content changes (compact_deletes coalescing, rename key
    // remaps) are semantics-preserving by construction — only presence
    // changes can move visibility
    val changed = from.deleteGroups.filterNot(d => toSeqs(d.seq)) ++
      to.deleteGroups.filterNot(d => fromSeqs(d.seq))
    if (changed.isEmpty) return (empty, empty)
    // shared files = from's files minus the ones the commit REMOVED —
    // a commit-sized set via the group-level diff, so this never
    // materializes `to`'s full listing
    val removedPaths = Snapshot.diffFiles(from, to)._2.map(_.path).toSet
    val affected = from.fileGroups.flatMap { g =>
      if (changed.exists(_.appliesTo(g.seq)))
        g.files.filter(f => !removedPaths.contains(f.path) && f.rows > 0)
      else Nil
    }
    if (affected.isEmpty) return (empty, empty)
    val addr = Seq(PositionDeleteGroup.FileKeyCol, PositionDeleteGroup.PosCol)
    val fromVis = readFilesMoRPos(from, affected, readSchema)
    val toVis = readFilesMoRPos(to, affected, readSchema)
    (toVis.join(fromVis.select(addr.map(col): _*), addr, "left_anti")
       .select(dataCols: _*),
     fromVis.join(toVis.select(addr.map(col): _*), addr, "left_anti")
       .select(dataCols: _*))
  }

  /** Delete groups still needed by `groups`: one with no live data
    * group older than itself applies to nothing and is dropped — which
    * is exactly how compaction (rewriting everything into a fresh
    * top-seq group) purges accumulated delete files.
    */
  private def purgeDeletes(groups: Seq[FileGroup],
                           dels: Seq[DeleteGroup]): Seq[DeleteGroup] =
    dels.filter(d => groups.exists(_.seq < d.seq))

  /** Rewrites read data WITHOUT deletes that land concurrently — their
    * rewritten rows would carry a seq above the racing delete's and
    * resurrect deleted rows. Fail like [[requireNoConflict]] does.
    */
  private def requireNoNewDeletes(p: Snapshot, analyzed: Snapshot, op: String): Unit = {
    val known = analyzed.deleteGroups.map(_.seq).toSet
    if (p.deleteGroups.exists(d => !known.contains(d.seq)))
      throw new java.util.ConcurrentModificationException(
        s"$op conflicts with a concurrent merge-on-read delete; " +
          "re-run against the latest snapshot")
    requireStableNames(p, analyzed, op)
  }

  /** Abort when a concurrent commit renamed or dropped columns after
    * this operation analyzed the table: the operation's data files
    * were already written with the ANALYZED naming, but as fresh-seq
    * groups the schema log would map them to the parent's (renamed)
    * naming — the one interleaving the seq-keyed mapping cannot
    * represent. Additive/widening concurrent evolution stays fine
    * (names unchanged; by-name null-fill covers the new column).
    */
  private def requireStableNames(p: Snapshot, analyzed: Snapshot, op: String): Unit = {
    if (p.schemaVersion == analyzed.schemaVersion) return
    def ids(s: StructType) = s.fields
      .flatMap(f => Projection.fieldId(f).map(_ -> f.name)).toMap
    val pm = ids(p.schema)
    val broken = ids(analyzed.schema).collect {
      case (id, n) if !pm.get(id).contains(n) => n
    }
    if (broken.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"$op conflicts with a concurrent column rename/drop " +
          s"(${broken.mkString(", ")}); re-run against the latest snapshot")
  }

  /** Partition pruning for keyed rewrites (upsert / deleteByKeys /
    * mergeRows / net-apply): a target file is CARRIED when any
    * partition field sourced from a key column proves its stored value
    * absent from the key frame's derived set — with a multi-field spec
    * every key-sourced field prunes independently (day(ts) AND
    * bucket(n,id) both cut). Unknown/absent values and Hive's
    * null-vs-'' string conflation always rewrite (sound side).
    *
    * Pruning runs no action of its own: the caller folds [[aggs]] into
    * an aggregation it already runs over the key frame, then hands the
    * result row to [[files]].
    */
  private final class KeyPruning(snap: Snapshot, joinKeys: Seq[String]) {
    private val fields: Seq[(PartitionField, StructField)] = partitionFields()
      .filter(pf => joinKeys.exists(_.equalsIgnoreCase(pf.sourceCol)))
      .flatMap(pf => snap.schema.fields.find(_.name.equalsIgnoreCase(pf.sourceCol)).map(pf -> _))

    /** One derived-value set per key-sourced field — struct-wrapped
      * because collect_set drops NULLs, and a NULL key's NULL derived
      * value must still reach [[files]].
      */
    val aggs: Seq[Column] = fields.map { case (pf, f) =>
      collect_set(struct(pf.derive(col(s"`${f.name}`"), f.dataType)))
    }

    /** The rewrite set, given the [[aggs]] values at `row(at)` onward. */
    def files(row: Row, at: Int): Seq[DataFile] = {
      val deriveds = fields.zipWithIndex.map { case ((pf, f), i) =>
        (pf, f.dataType, row.getSeq[Row](at + i).map(r => Option(r.getString(0))).toSet)
      }
      snap.files.filter(f => deriveds.forall { case (pf, srcType, derived) =>
        f.partitionValues.flatMap(_.get(pf.fieldName)) match {
          // Hive default-partition encoding conflates null and '' for
          // string sources: a null stored value may hide ''-keyed rows,
          // so such files must always be rewritten
          case Some(None) if srcType == StringType => true
          case Some(v) => derived.contains(v)
          case None    => true // unpartitioned / unknown ⇒ must rewrite
        }
      })
    }
  }

  private def morMode(snap: Snapshot): String =
    snap.properties.getOrElse(GraftTable.DeleteModeProp, "auto").toLowerCase

  /** Should this delete go merge-on-read? `graft.delete.mode` = `cow` |
    * `mor` | `auto` (default): auto flips to MoR when the copy-on-write
    * rewrite would touch more than `graft.delete.mor.threshold-bytes`
    * (default 256 MiB) — the scattered-keys-over-a-huge-table shape
    * where CoW would rewrite nearly everything.
    */
  private def chooseMor(snap: Snapshot, rewriteBytes: Long): Boolean =
    morMode(snap) match {
      case "mor" => true
      case "cow" => false
      case _     => rewriteBytes > snap.properties
        .get(GraftTable.MorThresholdProp)
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .getOrElse(GraftTable.DefaultMorThresholdBytes)
    }

  // ------------------------------------------------------------------
  // Maintenance (M1–M3)
  // ------------------------------------------------------------------

  /** Roll the table back to snapshot `version`: a NEW forward commit
    * (the log stays append-only, history preserved) whose file set,
    * schema, and partition spec are exactly the target snapshot's —
    * Iceberg's `rollback_to_snapshot`. Metadata-only: no data is read
    * or written; fails if the target snapshot is expired (its log
    * entry gone) since its files may have been garbage-collected.
    */
  def rollbackTo(version: Int): Snapshot = {
    val target = snapshotAt(version)
    log.commit { parent =>
      val p = parent.getOrElse(
        throw new IllegalStateException("cannot roll back an empty table"))
      require(version <= p.version,
        s"cannot roll back to future version $version (current ${p.version})")
      p.copy(
        snapshotId = newSnapshotId(),
        operation = "rollback",
        schema = target.schema,
        schemaVersion = target.schemaVersion,
        partitionSpec = target.partitionSpec,
        properties = target.properties,
        fileGroups = target.fileGroups,
        // adopt the target's delete groups too (they were part of its
        // logical state); lastSeq stays monotonic so post-rollback
        // commits never reuse a sequence. The target's schema log rides
        // along for the same reason — its groups' physical names are
        // defined relative to ITS naming history, not the abandoned one.
        deleteGroups = target.deleteGroups,
        schemaLog = target.schemaLog,
        lastSeq = math.max(p.lastSeq, target.lastSeq))
    }
  }

  // ------------------------------------------------------------------
  // Branches — write-audit-publish (WAP)
  // ------------------------------------------------------------------

  /** Fork branch `name` from `fromVersion` (default: the current
    * snapshot). O(metadata): the fork commit is the base snapshot's
    * file groups re-published as the branch's v0 — no data moves, and
    * main/branch histories then advance independently (each branch is
    * its own optimistic-commit log under `_meta/branches/<name>/`,
    * sharing the table's manifest namespace). The standard staging
    * shape for risky pipeline writes: fork, write+audit on the branch,
    * [[fastForward]] to publish — or [[dropBranch]] to walk away, with
    * orphan GC sweeping the staged files.
    */
  def createBranch(name: String, fromVersion: Option[Int] = None): Snapshot = {
    require(log.branch.isEmpty, "branches fork from the main table, not a branch view")
    val base = fromVersion.map(snapshotAt).getOrElse(currentOrFail())
    val bl = log.branchLog(name)
    require(!bl.exists(), s"branch '$name' already exists")
    bl.commit { parent =>
      require(parent.isEmpty, s"branch '$name' already exists")
      base.copy(
        snapshotId = newSnapshotId(),
        operation = "branch",
        properties = base.properties +
          (GraftTable.ForkVersionProp -> base.version.toString))
    }
  }

  /** This table seen through branch `name`: a full [[GraftTable]] whose
    * log is the branch's, so every operation — append, upsert,
    * delete-where, compaction, scans, time travel — works unchanged and
    * commits only to the branch.
    */
  def branch(name: String): GraftTable = {
    require(log.branch.isEmpty, "already a branch view; branch from the main table")
    val bl = log.branchLog(name)
    require(bl.exists(), s"unknown branch '$name'")
    new GraftTable(spark, tableDir, bl)
  }

  def listBranches(): Seq[String] = log.listBranches()

  /** Delete branch `name`'s version chain. Data files staged only on
    * the branch become unreferenced and fall to [[removeOrphanFiles]]
    * (liveness is family-wide, so files shared with main survive).
    */
  def dropBranch(name: String): Unit = {
    require(log.branch.isEmpty, "drop branches from the main table")
    val bl = log.branchLog(name)
    require(bl.exists(), s"unknown branch '$name'")
    bl.destroy()
  }

  /** Publish branch `name`: one main-log commit adopting the branch
    * head's file set, schema, and spec — the WAP publish step,
    * metadata-only like [[rollbackTo]]. Requires main to still sit at
    * the branch's fork version: fast-forward is adoption, not a merge,
    * and silently overwriting commits that landed on main since the
    * fork would lose them. On conflict, re-fork and replay the branch.
    */
  def fastForward(name: String): Snapshot = {
    require(log.branch.isEmpty, "fast-forward publishes into the main log")
    val bl = log.branchLog(name)
    val head = bl.current().getOrElse(
      throw new IllegalArgumentException(s"unknown branch '$name'"))
    val forkVersion = bl.read(0).properties.getOrElse(GraftTable.ForkVersionProp,
      throw new IllegalStateException(s"branch '$name' carries no fork marker")).toInt
    log.commit { parent =>
      val p = parent.getOrElse(
        throw new IllegalStateException("cannot fast-forward an empty table"))
      require(p.version == forkVersion,
        s"main advanced since fork (fork v$forkVersion, main v${p.version}); " +
          "fast-forward is not a merge — re-fork and replay the branch, " +
          "or use mergeBranch for an append-only branch")
      head.copy(snapshotId = newSnapshotId(), operation = "fast-forward")
    }
  }

  /** Merge branch `name` into main even after main advanced past the
    * fork — the completion of [[fastForward]]'s adoption-only contract.
    *
    * Semantics are a REBASE of the branch's net effect onto current
    * main, defined only when that effect is append-only: every data
    * file the fork base had must still be in the branch head. Appends
    * commute with anything main did meanwhile (a branch-staged file is
    * invisible to main's deletes/compactions, and main's own appends
    * are disjoint paths), so grafting the added files onto main's
    * current snapshot is conflict-free by construction — one
    * O(new-files) manifest write, no data IO. A branch that rewrote or
    * deleted fork-base rows (delete-where, upsert, overwrite,
    * compaction) is rejected with the operations named: replaying a
    * rewrite against a moved base needs row-level conflict resolution
    * the format doesn't model — re-fork and replay, or publish via
    * [[fastForward]] before main moves.
    *
    * Schema: at most ONE side may have evolved since the fork (both =
    * reject); the evolved side's schema wins, additive evolution (C2)
    * making it cover the other side's files. Main still at the fork
    * version degenerates to plain adoption. Re-merging an already
    * merged branch is a no-op commit (added files already present are
    * skipped), so merge is idempotent.
    */
  def mergeBranch(name: String): Snapshot = {
    require(log.branch.isEmpty, "merge publishes into the main log")
    val bl = log.branchLog(name)
    val head = bl.current().getOrElse(
      throw new IllegalArgumentException(s"unknown branch '$name'"))
    val fork = bl.read(0)
    val forkVersion = fork.properties.getOrElse(GraftTable.ForkVersionProp,
      throw new IllegalStateException(s"branch '$name' carries no fork marker")).toInt
    // group-level diff (round 20): parses only manifests the branch
    // touched, not the fork-base table's full listing
    val (appendedFiles, removedFiles) = Snapshot.diffFiles(fork, head)
    val removed = removedFiles.map(_.path)
    if (removed.nonEmpty) {
      val rewriteOps = (1 to head.version).map(bl.read).map(_.operation)
        .filterNot(op => op == "append" || op.startsWith("evolve")).distinct
      throw new IllegalStateException(
        s"branch '$name' is not append-only: ${removed.size} fork-base file(s) " +
          s"removed by [${rewriteOps.mkString(", ")}] — merge rebases appends only; " +
          "fast-forward before main advances, or drop the branch and re-fork")
    }
    require(head.partitionSpec == fork.partitionSpec,
      s"branch '$name' changed the partition spec since the fork; " +
        "publish via fast-forward or re-fork")
    // a branch that added merge-on-read deletes is NOT append-only
    // either: its delete groups remove fork-base rows at read time,
    // and rebasing them onto an advanced main needs the same row-level
    // conflict resolution a file rewrite would
    require(head.deleteGroups.map(_.seq).toSet == fork.deleteGroups.map(_.seq).toSet,
      s"branch '$name' staged merge-on-read deletes since the fork — " +
        "merge rebases appends only; fast-forward before main advances, " +
        "or drop the branch and re-fork")
    val appended = appendedFiles
    log.commit { parent =>
      val p = parent.getOrElse(
        throw new IllegalStateException("cannot merge into an empty table"))
      if (p.version == forkVersion)
        head.copy(snapshotId = newSnapshotId(), operation = "merge")
      else {
        val branchEvolved = head.schemaVersion != fork.schemaVersion
        val mainEvolved = p.schemaVersion != fork.schemaVersion ||
          p.schema != fork.schema
        if (branchEvolved && mainEvolved)
          throw new IllegalStateException(
            s"both main and branch '$name' evolved the schema since the fork " +
              s"(fork sv${fork.schemaVersion}, branch sv${head.schemaVersion}, " +
              s"main sv${p.schemaVersion}) — re-fork and replay")
        // renames/drops are NOT rebasable: grafted files take a fresh
        // main sequence, which the schema log would map to the
        // POST-rename naming while their physical columns carry the
        // fork-era names — no entry can represent that. Additive
        // evolution (names stable) remains fine.
        def naming(s: StructType) = s.fields
          .flatMap(f => Projection.fieldId(f).map(_ -> f.name)).toMap
        val forkNaming = naming(fork.schema)
        if (head.schemaLog != fork.schemaLog ||
            forkNaming.exists { case (id, n) => naming(head.schema).get(id).exists(_ != n) })
          throw new IllegalStateException(
            s"branch '$name' renamed or dropped columns since the fork — " +
              "merge rebases appends only; fast-forward before main " +
              "advances, or drop the branch and re-fork")
        if (forkNaming.exists { case (id, n) => !naming(p.schema).get(id).contains(n) })
          throw new IllegalStateException(
            s"main renamed or dropped columns since branch '$name' forked — " +
              "the branch's files carry the fork-era names; re-fork and replay")
        val (schema, schemaVersion) =
          if (branchEvolved) (head.schema, math.max(head.schemaVersion, p.schemaVersion))
          else (p.schema, p.schemaVersion)
        val present = p.files.map(_.path).toSet
        val toAdd = appended.filterNot(f => present.contains(f.path))
        // grafted files take a FRESH main sequence: the rebase makes
        // them logically land after everything main did meanwhile, so
        // a post-fork main-side MoR delete must not apply to them
        val ns = if (toAdd.isEmpty) p.lastSeq else p.lastSeq + 1
        val groups =
          if (toAdd.isEmpty) p.fileGroups
          else p.fileGroups :+ log.writeManifest(toAdd, Some(schema)).withSeq(ns)
        p.copy(snapshotId = newSnapshotId(), operation = "merge",
          schema = schema, schemaVersion = schemaVersion, fileGroups = groups,
          lastSeq = ns)
      }
    }
  }

  /** Expire snapshots (M1, `services/maintenance.py:12-86`).
    * Cutoff = `olderThanMs` if given, else timestamp of the
    * `keepLast`-th newest snapshot minus 1 ms. `keepLast` ≤ 0 or
    * fewer than `keepLast` snapshots ⇒ no-op. The newest snapshot is
    * never expired. Data files referenced only by expired snapshots are
    * garbage-collected. Returns the number of expired snapshots.
    */
  def expireSnapshots(keepLast: Int = 1, olderThanMs: Option[Long] = None): Int = {
    val all = snapshots().sortBy(_.timestampMs)
    if (all.size <= 1) return 0
    val cutoff: Option[Long] = olderThanMs.orElse {
      if (keepLast <= 0 || all.size <= keepLast) None
      else Some(all(all.size - keepLast).timestampMs - 1)
    }
    cutoff match {
      case None => 0
      case Some(ms) =>
        val newest = all.last
        // tagged versions are pinned: a tag names a version someone
        // depends on reproducing (training-run provenance), so expiry
        // must never collect it or its files
        val tagged = log.tags().values.toSet
        val expired = all.filter(s => s.timestampMs <= ms &&
          s.version != newest.version && !tagged.contains(s.version))
        if (expired.isEmpty) return 0
        // Proactive MV guard (r17 verdict #3): a registered MV's
        // incremental refresh replays this table's changelog FROM its
        // applied/pinned marker — expiring any version at or above a
        // dependent marker would surface only at the next refresh as
        // `changelogGone`, forcing a full recompute of (at 100 TB) a
        // very expensive view. Refuse BY NAME instead, naming the
        // remedy. Tables outside a catalog warehouse sweep nothing and
        // proceed unchanged; the sweep is metadata-only.
        locally {
          val wh = tableDir.getParent.getParent
          val rel = s"${tableDir.getParent.getName}/${tableDir.getName}"
          // Only a graft-warehouse-shaped tree can register MVs: some
          // namespace dir under the inferred root carries a `_views`
          // store. A table parked outside any warehouse (scratch dirs,
          // direct GraftTable use) skips the sweep instead of listing
          // unrelated sibling directories; a probe failure logs and
          // skips (nothing to protect if the root is unlistable). Once
          // the root IS warehouse-shaped, a sweep failure ABORTS the
          // expire (fail closed) — swallowing it would silently
          // disable the very protection this guard exists to provide
          // (ADVICE r18).
          val warehouseShaped = scala.util.Try(
            fs.listStatus(wh).exists(d => d.isDirectory &&
              fs.exists(new HPath(d.getPath, "_views")))
          ).recover { case e =>
            graft.observability.Log.warn("expire-snapshots MV-guard probe failed",
              "warehouse" -> wh.toString, "error" -> String.valueOf(e.getMessage))
            false
          }.get
          val stranded = (if (!warehouseShaped) Nil
            else graft.connector.GraftMaterializedView.dependentMarkers(
              GraftCatalog(spark, wh.toString), rel))
            .filter { case (_, marker) => expired.exists(_.version >= marker) }
            .sortBy(_._1).distinct
          require(stranded.isEmpty,
            s"cannot expire snapshots of ${tableDir.getName}: materialized " +
              s"view(s) ${stranded.map { case (mv, m) => s"$mv (marker $m)" }
                .mkString(", ")} still need the changelog from their " +
              "applied/pinned versions — refresh them past the cutoff " +
              "(CALL graft.system.refresh_mview) or drop them first, or " +
              "expire with a cutoff below the minimum marker")
        }
        val survivors = all.diff(expired)
        // liveness is FAMILY-wide: a file or manifest this log no
        // longer references may still be live from main or a branch
        val otherRefs = log.family().filter(_.branch != log.branch)
          .flatMap(_.snapshots())
        // liveness covers equality-delete key files too (deleteFiles):
        // a delete manifest still applied by a survivor must keep its
        // parquet
        val keptPaths = (survivors ++ otherRefs)
          .flatMap(s => s.files.map(_.path) ++ s.deleteFiles.map(_.path)).toSet
        val keptManifests = (survivors ++ otherRefs).flatMap(_.manifestPaths).toSet
        expired.foreach(s => log.delete(s.version))
        // orphan GC: data files + manifests no surviving snapshot
        // references; best-effort like the reference's maintenance
        // (failures logged, never raised, `services/maintenance.py:40-45`)
        graft.observability.Log.suppressAndWarn("expire-snapshots orphan GC") {
          expired.flatMap(s => s.files.map(_.path) ++ s.deleteFiles.map(_.path)).distinct
            .filterNot(keptPaths.contains)
            .foreach(p => fs.delete(new HPath(tableDir, p), false))
          expired.flatMap(_.manifestPaths).distinct
            .filterNot(keptManifests.contains)
            .foreach(log.deleteManifest)
          // change-feed caches of expired versions can never be read
          // again (the version range is gone) — sweep them along
          expired.foreach(s =>
            fs.delete(new HPath(tableDir, s"$cdcRoot/v${s.version}"), true))
        }
        graft.observability.Log.metrics("expire_snapshots",
          "table" -> tableDir.getName, "expired" -> expired.size)
        expired.size
    }
  }

  /** Remove files under the table directory that no snapshot references
    * — leftovers of crashed or conflict-aborted commits, which write
    * data files and manifests before winning the metadata race. Only
    * files older than `olderThanMs` wall-clock are touched so an
    * in-flight commit's fresh files survive (Iceberg's
    * remove_orphan_files contract). With `dryRun` nothing is deleted;
    * the count of WOULD-be-deleted files is returned instead.
    *
    * Scale: candidate discovery is one recursive listing (batched LIST
    * calls on object stores); the deletes — one round-trip each on an
    * object store — run as a small Spark job above
    * [[GraftTable.FooterJobThreshold]], same cutover as the footer
    * harvest and `verifyIntegrity`. A crashed 10⁵-file compaction is
    * then GC'd at executor parallelism, not one driver round-trip at a
    * time. Returns the number of files deleted (or planned, if dryRun).
    */
  def removeOrphanFiles(olderThanMs: Long = 3 * 24 * 3600 * 1000L,
                        dryRun: Boolean = false): Int = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    // family-wide liveness: branch-only files are NOT orphans; equality-
    // delete key files live under data/ like data files and count too
    val snaps = log.family().flatMap(_.snapshots())
    val liveData = snaps.flatMap(s => s.files.map(_.path) ++ s.deleteFiles.map(_.path)).toSet
    val liveManifests = snaps.flatMap(_.manifestPaths).toSet
    // plan first: absolute data-file paths + manifest names, so dry-run
    // and delete share one discovery pass
    val dataDir = new HPath(tableDir, "data")
    val dataOrphans = MetadataLog.listFilesRecursive(fs, dataDir)
      .collect {
        case st if st.getModificationTime < cutoff &&
            !liveData.contains(relPath(st.getPath)) => st.getPath.toString
      }
    val manifestOrphans = Seq.newBuilder[String]
    val metaDir = new HPath(tableDir, "_meta")
    try fs.listStatus(metaDir).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("m-") && st.getModificationTime < cutoff &&
          !liveManifests.contains(name))
        manifestOrphans += name
    } catch { case _: java.io.FileNotFoundException => () }
    // change-feed cache hygiene: crashed materializations leave
    // `.tmp-*` staging dirs, versions dropped from the log (expire's
    // own sweep is best-effort) leave unreadable `v{N}` caches, and a
    // dropped branch leaves its whole `b-<name>` prefix — all orphans
    // by the same age rule. Whole-directory removals: a cache dir is
    // only ever consumed as a unit. Branch version sequences are
    // independent, so liveness is checked per ref.
    val cdcOrphans = Seq.newBuilder[String]
    try {
      val fam = log.family()
      def liveOf(l: graft.meta.MetadataLog): Set[String] =
        l.snapshots().map(s => s"v${s.version}").toSet
      val mainLive = fam.find(_.branch.isEmpty).map(liveOf).getOrElse(Set.empty)
      val branchLive = fam.flatMap(l => l.branch.map(_ -> liveOf(l))).toMap
      def sweep(dir: HPath, live: Set[String]): Unit =
        fs.listStatus(dir).foreach { st =>
          val name = st.getPath.getName
          if (name.startsWith("b-")) {
            branchLive.get(name.drop(2)) match {
              case Some(bl) => sweep(st.getPath, bl)
              case None if st.getModificationTime < cutoff =>
                cdcOrphans += st.getPath.toString // dropped branch
              case None => ()
            }
          } else if (st.getModificationTime < cutoff &&
                     (name.startsWith(".tmp-") || !live.contains(name)))
            cdcOrphans += st.getPath.toString
        }
      sweep(new HPath(tableDir, "_cdc"), mainLive)
    } catch { case _: java.io.FileNotFoundException => () }
    val doomed = dataOrphans
    val cdcDirs = cdcOrphans.result()
    val manifests = manifestOrphans.result()
    var deleted = 0
    if (!dryRun) {
      // deletes go through the CHECKSUMMED fs: Spark wrote the data
      // files through it, so deleting the same way sweeps each file's
      // `.crc` sidecar along (the raw fs would leak sidecars behind)
      if (doomed.size <= GraftTable.FooterJobThreshold) {
        doomed.foreach { p => if (fs.delete(new HPath(p), false)) deleted += 1 }
      } else {
        val rootStr = tableDir.toString
        deleted += metadataJob(doomed) { (conf, it) =>
          val efs = new HPath(rootStr).getFileSystem(conf.value)
          Iterator.single(it.count(p => efs.delete(new HPath(p), false)))
        }.sum
      }
      // manifests are O(commits), not O(files) — driver-side via the log
      // so its parsed-manifest cache stays coherent
      manifests.foreach { name => log.deleteManifest(name); deleted += 1 }
      cdcDirs.foreach { p => if (fs.delete(new HPath(p), true)) deleted += 1 }
    }
    val planned = doomed.size + manifests.size + cdcDirs.size
    graft.observability.Log.metrics("remove_orphan_files",
      "table" -> tableDir.getName,
      "planned" -> planned, "deleted" -> deleted, "dry_run" -> dryRun)
    if (dryRun) planned else deleted
  }

  /** Size-targeted compaction: rewrite into files of ~`targetBytes`
    * (the real-world small-file knob; file count derives from current
    * table bytes).
    */
  def compactBySize(targetBytes: Long): Snapshot = {
    require(targetBytes > 0, "targetBytes must be positive")
    val totalBytes = currentOrFail().files.map(_.sizeBytes).sum
    compact(math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt))
  }

  /** Clustering rewrite (the OPTIMIZE-ZORDER analog, restricted to
    * lexicographic range clustering): rows are range-partitioned and
    * sorted on `cols`, so each rewritten file covers a narrow value
    * range and the per-column zone maps ([[StatsPruner]]) become
    * sharp — point/range predicates on the cluster columns then skip
    * almost every file. One commit replacing the clustered files; the
    * ordering is physical only (scan semantics unchanged).
    */
  def compactClustered(cols: Seq[String], targetFiles: Int): Snapshot = {
    require(cols.nonEmpty, "clustering requires at least one column")
    require(targetFiles > 0, "targetFiles must be positive")
    val snap = currentOrFail()
    // resolve to the schema's exact spelling so the validation and the
    // resolution below can't disagree (e.g. under spark.sql.caseSensitive)
    val canonical = cols.map { c =>
      snap.schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"unknown clustering column: $c"))
    }
    val specs = partitionFields()
    // partitioned tables cluster WITHIN the partition layout: leading
    // the range keys with the derived partition values keeps one
    // partition's rows contiguous so the partitionBy write stays one
    // file per (task, partition-value tuple). Fields whose source
    // column is missing degrade like the write path does.
    val partKeys = specs.flatMap(pf =>
      snap.schema.fields.find(_.name.equalsIgnoreCase(pf.sourceCol))
        .map(f => pf.derive(col(s"`${f.name}`"), f.dataType)))
    rewriteClustered(snap, specs, partKeys ++ canonical.map(c => col(s"`$c`")), targetFiles)
  }

  /** Z-order rewrite: like [[compactClustered]], but files cover
    * compact REGIONS of the multi-column space instead of ranges of a
    * concatenated sort key — so a predicate on ANY of the z-columns
    * prunes files, not just the leading one (linear clustering on
    * (x, y) leaves a y-only filter reading everything; z-order leaves
    * it reading ~the y-matching quadrants). The z-value interleaves
    * the top 16 bits of each column scaled into its GLOBAL [min, max]
    * (one metadata-cheap agg job — the rewrite reads all data anyway);
    * linear scaling is skew-sensitive but order-correct, and the
    * rewrite is purely a LAYOUT change, so a bad z-value can only cost
    * pruning, never rows. Numeric columns only (2–4 of them).
    */
  def compactZOrder(cols: Seq[String], targetFiles: Int): Snapshot = {
    require(cols.size >= 2 && cols.size <= 4,
      "z-order needs 2-4 columns (one column: use compactClustered)")
    require(targetFiles > 0, "targetFiles must be positive")
    val snap = currentOrFail()
    val canonical = cols.map { c =>
      val f = snap.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"unknown z-order column: $c"))
      require(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"z-order column must be numeric, got ${f.name}: ${f.dataType.catalogString}")
      f.name
    }
    val specs = partitionFields()
    val z = zValueColumn(snap, canonical)
    val partKeys = specs.flatMap(pf =>
      snap.schema.fields.find(_.name.equalsIgnoreCase(pf.sourceCol))
        .map(f => pf.derive(col(s"`${f.name}`"), f.dataType)))
    rewriteClustered(snap, specs, partKeys :+ z, targetFiles)
  }

  /** The 64-bit interleaved z-value over up to four 16-bit cells, each
    * column linearly scaled into its global [min, max] from one agg
    * pass (nulls land in cell 0). Built from codegen'd bit ops only.
    */
  private def zValueColumn(snap: Snapshot, canonical: Seq[String]): Column = {
    val aggs = canonical.flatMap(c =>
      Seq(min(col(s"`$c`")).cast("double"), max(col(s"`$c`")).cast("double")))
    val row = scanSnapshot(snap).agg(aggs.head, aggs.tail: _*).head
    val n = canonical.size
    // bits per cell capped so the TOP interleaved bit stays below bit
    // 63: with 4 columns, 16-bit cells would put the 4th column's MSB
    // in the long's SIGN bit and the range sort would order the
    // highest-order half of the curve FIRST — inverting the most
    // significant split (15 bits × 4 tops out at bit 59)
    val bits = if (n == 4) 15 else 16
    val cellMax = (1L << bits) - 1
    val cells = canonical.zipWithIndex.map { case (c, i) =>
      val (lo, hi) =
        if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1)) (0.0, 0.0)
        else (row.getDouble(2 * i), row.getDouble(2 * i + 1))
      val scale = if (hi > lo) cellMax.toDouble / (hi - lo) else 0.0
      least(lit(cellMax), greatest(lit(0L),
        floor((coalesce(col(s"`$c`").cast("double"), lit(lo)) - lit(lo)) * lit(scale))
          .cast("long")))
    }
    cells.zipWithIndex.map { case (cell, i) =>
      (0 until bits).map { j =>
        shiftleft(shiftright(cell, j).bitwiseAND(lit(1L)), j * n + i)
      }.reduce(_.bitwiseOR(_))
    }.reduce(_.bitwiseOR(_))
  }

  private def rewriteClustered(snap: Snapshot,
                               specs: Seq[PartitionField],
                               keyCols: Seq[Column],
                               targetFiles: Int): Snapshot = {
    val df = scanSnapshot(snap)
      .repartitionByRange(targetFiles, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
    commitRewrite(snap, "cluster", snap.files.map(_.path).toSet,
      Some(writeDataFiles(df, snap.schema, specs, preserveDistribution = true)))
  }

  /** Register this table's current snapshot as a temp view so plain
    * `spark.sql` reads it (`SELECT ... FROM name`).
    */
  def createOrReplaceView(name: String): Unit =
    scan().createOrReplaceTempView(name)

  /** Incremental read: rows ADDED between two versions (exclusive
    * `fromVersion`, inclusive `toVersion`) — the Iceberg incremental-
    * scan analogue that lets a downstream pipeline consume only new
    * data per run. Defined for append-only ranges; if any snapshot in
    * the range rewrote or removed files (delete/overwrite/upsert/
    * compact), added-file reads would conflate rewritten old rows with
    * new ones, so the range is rejected.
    */
  def scanAppendedBetween(fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion, s"bad range: $fromVersion..$toVersion")
    val from = log.read(fromVersion)
    val to = log.read(toVersion)
    val intervening = snapshots()
      .filter(s => s.version > fromVersion && s.version <= toVersion)
    val nonAppend = intervening.filterNot(s =>
      s.operation == "append" || s.operation.startsWith("evolve"))
    require(nonAppend.isEmpty,
      s"range contains non-append operations: ${nonAppend.map(_.operation).distinct.mkString(", ")}")
    // group-level diff: parses only the manifests the range ADDED, not
    // the table's full listing (Snapshot.diffByGroup)
    val added = Snapshot.diffFiles(from, to)._1
    readFiles(to.schema, added)
  }

  /** Changelog read (CDC): the row-level effect of every commit in
    * (`fromVersion`, `toVersion`], as data rows plus `_change_type`
    * ('insert' | 'delete') and `_commit_version` — the Iceberg
    * changelog-scan / Delta CDF analogue, and the general form of
    * [[scanAppendedBetween]]: rewriting commits (delete-where, upsert,
    * compaction) are in range, emitted as file-level delete+insert
    * pairs. Rows a rewrite carried over unchanged appear on BOTH sides
    * of that commit (compaction nets to zero); consumers wanting net
    * row change apply inserts-minus-deletes per commit (EXCEPT ALL) —
    * the spec asserts that replay invariant.
    *
    * All columns read through the `toVersion` schema — additive
    * evolution (C2) means it covers every older file, null-filling
    * columns that postdate a deleted file. Plan size is O(commits in
    * range) unioned parquet scans — shaped for the CDC consumption
    * pattern of small ranges per run, not whole-history replays.
    */
  def scanChangesBetween(fromVersion: Int, toVersion: Int): DataFrame =
    scanChangesBetweenImpl(fromVersion, toVersion,
      grouped = toVersion - fromVersion > GraftTable.GroupedChangelogThreshold &&
        // the grouped plan reads raw file diffs with ONE schema; ranges
        // touching merge-on-read state need the per-commit plan (exact
        // delete application), and ranges touching name-evolution
        // history need it too (per-group physical-name mapping).
        // Metadata-only check, O(range).
        (fromVersion to toVersion).forall { v =>
          val s = log.read(v)
          s.deleteGroups.isEmpty && s.schemaLog.isEmpty
        })

  /** [[scanChangesBetween]] minus VISIBLE-ROW-PRESERVING maintenance
    * commits — compaction, z-order clustering, delete-group coalescing
    * and folding rewrite the physical layout without changing a single
    * visible row, so their file-diff churn (delete+insert of identical
    * content) nets to zero through any downstream merge while costing
    * O(compacted bytes) to replay. Delta CDF's `dataChange = false`
    * analog: consumers that fold changes into state (materialized-view
    * refresh, keyed replicas) read THIS feed, so a nightly compaction
    * of a 100 TB table costs their next refresh nothing. The raw
    * `.changes` surface keeps emitting rewrite commits — its contract
    * is the full file history.
    *
    * One plan covers the whole window (the skip is a commit-list
    * filter inside [[scanChangesBetweenImpl]]), so interleaved
    * maintenance neither shatters the range into per-commit unions
    * nor breaks schema alignment across an ADD/WIDEN column — every
    * included commit still era-aligns to the range-end schema.
    */
  def scanDataChangesBetween(fromVersion: Int, toVersion: Int): DataFrame =
    scanChangesBetweenImpl(fromVersion, toVersion,
      grouped = toVersion - fromVersion > GraftTable.GroupedChangelogThreshold &&
        (fromVersion to toVersion).forall { v =>
          val s = log.read(v)
          s.deleteGroups.isEmpty && s.schemaLog.isEmpty
        },
      include =
        v => !GraftTable.MaintenanceOps.contains(log.read(v).operation))

  /** Both changelog plan shapes, selected by range width above.
    *
    * `grouped = false`: one insert+delete scan pair PER COMMIT with the
    * version as a literal — the cheapest plan for the normal CDC
    * consumption pattern of a few commits per run (no join at all).
    *
    * `grouped = true`: the per-commit union is O(commits) parquet scans
    * and a 500-commit backfill would plan a 1000-leaf union. Instead,
    * ONE scan per change side over the distinct file set, with
    * `_commit_version` recovered by broadcast-joining
    * `input_file_name()`'s trailing `<commit-dir>/<file>` key against
    * the driver-side file→version occurrence map. The join is a
    * broadcast of O(changed files) metadata — never a shuffle — and a
    * path that occurs on one side more than once in the range (append,
    * delete-where, then rollback re-add) multiplies through the join,
    * once per occurrence, exactly matching the per-commit shape.
    */
  private[graft] def scanChangesBetweenImpl(fromVersion: Int, toVersion: Int,
                                            grouped: Boolean,
                                            include: Int => Boolean = _ => true)
      : DataFrame = {
    require(fromVersion <= toVersion, s"bad range: $fromVersion..$toVersion")
    val toSchema = log.read(toVersion).schema
    if (!grouped) {
      // Read each commit under ITS OWN era's column names and alias to
      // the end names only afterwards: the era snapshot's delete-group
      // keys and predicates reference era names, so applying them to
      // frames already renamed to the END schema would miss (or fail
      // analysis on) columns renamed later in the range. The era
      // schema maps every end field to its era name by field id; a
      // field that didn't exist then (or existed under a different id)
      // null-fills through the standard mapping machinery.
      def eraPairs(s: Snapshot): Seq[(String, StructField)] =
        toSchema.fields.toSeq.map { f =>
          val eraName = Projection.fieldId(f).flatMap(id =>
            s.schema.fields.find(g => Projection.fieldId(g).contains(id))
              .map(_.name)).getOrElse(f.name)
          (eraName, f)
        }
      def eraAligned(s: Snapshot, read: StructType => DataFrame): DataFrame = {
        val pairs = eraPairs(s)
        require(pairs.map(_._1.toLowerCase).distinct.size == pairs.size,
          "changelog era-name collision; compact the table first")
        // keep field metadata: the era read maps ITS older groups by id
        read(StructType(pairs.map { case (n, f) =>
          StructField(n, f.dataType, nullable = true, f.metadata) }))
          .select(pairs.map { case (n, f) => col(s"`$n`").as(f.name) }: _*)
      }
      val perCommit = (fromVersion until toVersion)
        .filter(v => include(v + 1)).map { v =>
        val prev = log.read(v)
        val cur = log.read(v + 1)
        // group-level diff (Snapshot.diffByGroup): manifests shared by
        // the adjacent snapshots are never parsed — driver work and
        // manifest IO per commit are O(files the commit touched), not
        // O(table files)
        val (added, removed) = Snapshot.diffFiles(prev, cur)
        val addedPaths = added.map(_.path).toSet
        // both sides read MoR-aware: the delete side must not re-emit
        // rows an earlier MoR delete already removed (prev's groups),
        // and the insert side must honor deletes applicable to re-added
        // groups (rollback re-adds carry their ORIGINAL seq)
        val ins = eraAligned(cur, sch => readFilesMoR(cur, added, sch))
          .withColumn("_change_type", lit("insert"))
        val del = eraAligned(prev, sch => readFilesMoR(prev, removed, sch))
          .withColumn("_change_type", lit("delete"))
        // merge-on-read STATE change over the files both snapshots
        // keep: groups only ADDED emit each group's exact pre-image
        // (the cheap semi-join plan); any REMOVED group (rollback —
        // rows reappear, possibly alongside simultaneous re-adoptions
        // where per-group emission would double-count) switches to the
        // exact two-sided visibility diff
        val prevSeqs = prev.deleteGroups.map(_.seq).toSet
        val curSeqs = cur.deleteGroups.map(_.seq).toSet
        val morParts: Seq[DataFrame] =
          if (prev.deleteGroups.forall(d => curSeqs.contains(d.seq)))
            cur.deleteGroups.filterNot(d => prevSeqs.contains(d.seq))
              .map(d => eraAligned(cur,
                  sch => morDeletedRows(cur, d, sch, Some(addedPaths)))
                .withColumn("_change_type", lit("delete")))
          else Seq(
            eraAligned(cur, sch => morVisibilityDiff(prev, cur, sch)._1)
              .withColumn("_change_type", lit("insert")),
            eraAligned(prev, sch => morVisibilityDiff(prev, cur, sch)._2)
              .withColumn("_change_type", lit("delete")))
        (Seq(ins, del) ++ morParts).reduce(_.unionByName(_))
          .withColumn("_commit_version", lit(cur.version))
      }
      val empty = readFiles(toSchema, Nil)
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0))
        .where(lit(false))
      perCommit.foldLeft(empty)(_.unionByName(_))
    } else {
      // (commit version, file) occurrences per side, driver-side metadata
      val commits = (fromVersion until toVersion)
        .filter(v => include(v + 1)).map(v => (log.read(v), log.read(v + 1)))
      require(commits.forall { case (a, b) =>
        a.deleteGroups.isEmpty && b.deleteGroups.isEmpty },
        "grouped changelog plan cannot span merge-on-read delete state; " +
          "use the per-commit plan (scanChangesBetween chooses it automatically)")
      require(commits.forall { case (a, b) =>
        a.schemaLog.isEmpty && b.schemaLog.isEmpty },
        "grouped changelog plan cannot span column rename/drop history " +
          "(it reads raw file diffs with one schema); use the per-commit " +
          "plan (scanChangesBetween chooses it automatically)")
      // one group-level diff per commit: manifest parses ∝ files the
      // range touched, never the per-commit full listings
      val diffs = commits.map { case (prev, cur) =>
        (cur.version, Snapshot.diffFiles(prev, cur))
      }
      val inserts = diffs.flatMap { case (v, (a, _)) => a.map(v -> _) }
      val deletes = diffs.flatMap { case (v, (_, d)) => d.map(v -> _) }
      // scheme-stable join key: the trailing "<commit-dir>/<file>" of a
      // path identifies a file uniquely within the table (commit dirs
      // are UUIDs) and is identical between the relative metadata path
      // and whatever qualified URI input_file_name() reports
      def keyOf(relPath: String): String =
        relPath.split('/').takeRight(2).mkString("/")
      val fileKeyCol = {
        val parts = split(input_file_name(), "/")
        concat(element_at(parts, -2), lit("/"), element_at(parts, -1))
      }
      val dataCols = toSchema.fieldNames.map(c => col(s"`$c`")).toSeq
      def side(tag: String, occ: Seq[(Int, DataFile)]): DataFrame = {
        val distinctFiles = occ.map(_._2).groupBy(_.path).map(_._2.head).toSeq
        val occDf = spark.createDataFrame(occ.map { case (v, f) => (keyOf(f.path), v) })
          .toDF("_graft_file_key", "_commit_version")
        readFiles(toSchema, distinctFiles)
          .withColumn("_graft_file_key", fileKeyCol)
          .join(broadcast(occDf), "_graft_file_key")
          .select(dataCols :+ lit(tag).as("_change_type") :+ col("_commit_version"): _*)
      }
      if (inserts.isEmpty && deletes.isEmpty)
        readFiles(toSchema, Nil)
          .withColumn("_change_type", lit(""))
          .withColumn("_commit_version", lit(0))
          .where(lit(false))
      else side("insert", inserts).unionByName(side("delete", deletes))
    }
  }

  // ------------------------------------------------------------------
  // DSv2 change-feed planning (file-level diffs + materialized cache)
  // ------------------------------------------------------------------

  /** The row-level change of commit `v`, decomposed for the DSv2
    * `.changes` relation into parts a raw parquet scan CAN represent
    * (file-level insert/delete diffs, grouped by their write-era schema
    * so pre-rename files read under their physical names) and parts it
    * CANNOT (merge-on-read interplay, where a commit's change is a
    * join, not a file diff). The unrepresentable parts are computed
    * once with the exact batch-changelog machinery
    * ([[readFilesMoR]] / [[morDeletedRows]] — the same plans
    * [[scanChangesBetween]] runs) and MATERIALIZED as parquet under
    * `_cdc/v{N}/{ins,del}/`, the Delta-CDF change-file idea applied
    * lazily: the first reader pays the (O(changed rows)) computation,
    * every later batch read, streaming restart, and additional consumer
    * replays the immutable cache as a plain file scan. Commit contents
    * are immutable, so the cache needs no invalidation; expire_snapshots
    * sweeps caches of expired versions.
    *
    * Three shapes materialize (the ones the round-11 feed refused):
    *   - the commit ADDED delete groups → their exact pre-image
    *     ([[morDeletedRows]]) joins the delete side;
    *   - it REMOVED files some pending delete applied to → the raw
    *     rows would overstate the delete side, so the pre-image
    *     (pending deletes applied) is materialized instead;
    *   - it RE-ADDED files under pending deletes (rollback; original
    *     seqs) → same, on the insert side.
    * Plain appends on a MoR table stay raw: their fresh seq outranks
    * every pending delete.
    */
  private[graft] def cdcSides(v: Int): GraftTable.CdcSides = {
    val cur = log.read(v)
    def eraRaw(snap: Snapshot, byGroup: Seq[(FileGroup, Seq[DataFile])]) =
      byGroup.groupBy { case (g, _) => snap.writeSchemaFor(g.seq) }
        .map { case (sch, gs) => GraftTable.CdcFiles(sch, gs.flatMap(_._2)) }
        .toSeq
    if (v == 0)
      return GraftTable.CdcSides(
        eraRaw(cur, cur.fileGroups.map(g => g -> g.files).filter(_._2.nonEmpty)),
        None, Nil, None)
    val prev = log.read(v - 1)
    // group-level diff with group attribution (the era bucketing below
    // needs each file's group seq) — shared manifests never parsed
    val (addedByGroup, removedByGroup) = Snapshot.diffByGroup(prev, cur)
    val addedPaths = addedByGroup.flatMap(_._2.map(_.path)).toSet
    val prevSeqs = prev.deleteGroups.map(_.seq).toSet
    val curSeqs = cur.deleteGroups.map(_.seq).toSet
    val removedDels = prev.deleteGroups.filterNot(d => curSeqs.contains(d.seq))
    val newDels = cur.deleteGroups.filterNot(d => prevSeqs.contains(d.seq))
    val insNeedsMat = addedByGroup.exists { case (g, _) =>
      cur.deleteGroups.exists(_.appliesTo(g.seq)) }
    val delNeedsMat = removedByGroup.exists { case (g, _) =>
      prev.deleteGroups.exists(_.appliesTo(g.seq)) }
    // delete-state change over the files both snapshots keep: added-
    // only groups emit their pre-images (cheap semi joins); any
    // REMOVED group (rollback — reappearances, and per-group emission
    // would double-count re-adoptions) switches to the exact
    // two-sided visibility diff, same rule as scanChangesBetween
    val (visIns, visDel): (Seq[DataFrame], Seq[DataFrame]) =
      if (removedDels.isEmpty)
        (Nil, newDels.map(d => morDeletedRows(cur, d, cur.schema, Some(addedPaths))))
      else {
        val (i, d) = morVisibilityDiff(prev, cur, cur.schema)
        (Seq(i), Seq(d))
      }
    val insCacheParts =
      (if (insNeedsMat)
         Seq(readFilesMoR(cur, addedByGroup.flatMap(_._2), cur.schema))
       else Nil) ++ visIns
    val insRaw = if (insNeedsMat) Nil else eraRaw(cur, addedByGroup)
    val insCache =
      if (insCacheParts.isEmpty) None
      else Some(GraftTable.CdcFiles(cur.schema,
        cdcCache(v, "ins", insCacheParts.reduce(_.unionByName(_)))))
    val delRaw = if (delNeedsMat) Nil else eraRaw(prev, removedByGroup)
    // one delete-side cache holds every unrepresentable delete shape —
    // deterministic content, derived from immutable snapshots only
    val delCacheParts =
      (if (delNeedsMat)
         Seq(readFilesMoR(prev, removedByGroup.flatMap(_._2), cur.schema))
       else Nil) ++ visDel
    val delCache =
      if (delCacheParts.isEmpty) None
      else Some(GraftTable.CdcFiles(cur.schema,
        cdcCache(v, "del", delCacheParts.reduce(_.unionByName(_)))))
    GraftTable.CdcSides(insRaw, insCache, delRaw, delCache)
  }

  /** Change-cache root for THIS log's version sequence: branches have
    * independent version numbering over the same table dir, so each
    * branch's feed caches under its own prefix — two branches' v3
    * diffs are different content.
    */
  private def cdcRoot: String =
    log.branch.map(b => s"_cdc/b-$b").getOrElse("_cdc")

  /** Publish (or reuse) the materialized change rows of `(v, side)`.
    * Write-to-temp + atomic rename; a lost publish race reuses the
    * winner's files (identical logical content — both racers derive it
    * from the same immutable snapshots). Row counts come from footers,
    * same harvest as the commit path.
    */
  private def cdcCache(v: Int, side: String, df: => DataFrame): Seq[DataFile] = {
    val dir = new HPath(tableDir, s"$cdcRoot/v$v/$side")
    val marker = new HPath(dir, "_SUCCESS")
    if (!fs.exists(marker)) {
      val tmp = new HPath(tableDir,
        s"$cdcRoot/.tmp-$side-${UUID.randomUUID().toString.take(12)}")
      // v2 committer: the cache's atomicity is the rename below plus
      // the _SUCCESS marker (which the committer still writes here —
      // it IS this path's publish marker)
      df.write.option("compression", "zstd")
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .mode("overwrite").parquet(tmp.toString)
      fs.mkdirs(dir.getParent)
      if (!fs.rename(tmp, dir)) {
        fs.delete(tmp, true)
        if (!fs.exists(marker))
          throw new IllegalStateException(
            s"could not publish change-feed cache $dir (concurrent writer?); retry the read")
      }
    }
    collectDataFiles(dir, Nil).filter(_.rows > 0)
  }

  /** Snapshot history as a DataFrame (S9 read-back surface — the
    * `table.snapshots()` listing of `examples/load_with_commits.py:55-61`
    * as a queryable relation).
    */
  def history(): DataFrame = {
    import spark.implicits._
    historyTuples().toDF("version", "snapshot_id", "parent_id", "timestamp_ms",
      "operation", "schema_version", "file_count", "row_count")
  }

  /** One row per snapshot — the single definition of the history
    * relation's shape, shared by [[history]] and the SQL metadata
    * tables (`t.history` / `t.snapshots`) so the two surfaces cannot
    * diverge.
    */
  def historyTuples(): Seq[(Int, Long, Option[Long], Long, String, Int, Int, Long)] =
    snapshots().map(s => (s.version, s.snapshotId, s.parentId, s.timestampMs,
      s.operation, s.schemaVersion, s.fileGroups.map(_.fileCount).sum, s.rowCount))

  /** Compaction (M3, north star): rewrite the current file set into
    * `targetFiles` larger files, preserving partitioning. Data is
    * unchanged; small-file count drops.
    */
  def compact(targetFiles: Int = 1): Snapshot = {
    val snap = currentOrFail()
    val specs = partitionFields()
    val df0 = scanSnapshot(snap)
    // co-locate rows of one partition-value tuple so each partition dir
    // gets targetFiles files, not targetFiles × shuffle partitions
    val partKeys = specs.flatMap(pf =>
      snap.schema.fields.find(_.name.equalsIgnoreCase(pf.sourceCol))
        .map(f => pf.derive(col(s"`${f.name}`"), f.dataType)))
    val df =
      if (partKeys.nonEmpty) df0.repartition(math.max(1, targetFiles), partKeys: _*)
      else df0.repartition(math.max(1, targetFiles))
    // groups committed concurrently (e.g. a racing append) carry over;
    // only the files this compaction actually read are replaced. The
    // compacted rows had every pending MoR delete applied (the scan
    // did it) and land at a fresh top seq, so the commit's delete purge
    // drops delete groups nothing older references — compaction is the
    // delete-file GC.
    commitRewrite(snap, "compact", snap.files.map(_.path).toSet,
      Some(writeDataFiles(df, snap.schema, specs)))
  }

  /** Coalesce accumulated merge-on-read delete groups WITHOUT touching
    * any data file — the cheap maintenance between full compactions.
    * Every scan pays one anti-join/filter per pending delete group, so
    * a burst of keyed deletes (GDPR/opt-out batches) degrades reads
    * until `compact` rewrites the data; this collapses the burst for
    * the cost of rewriting the (tiny) key manifests only.
    *
    * A run of same-shape groups — equality deletes on the SAME key
    * columns, or predicate deletes — merges into one group at the
    * run's TOP sequence iff no data group's sequence lies inside the
    * run's window `[minSeq, maxSeq)`: the merged group then applies to
    * exactly the data the members applied to, and a row re-inserted
    * between two deletes (whose data seq sits inside the window) keeps
    * the runs apart so it survives, as before. Equality runs union
    * their key tuples (deduplicated) into one fresh key manifest;
    * predicate runs OR their predicates. Delete groups of OTHER shapes
    * at intervening sequences don't block a merge — row-level delete
    * applications commute.
    *
    * Returns the unchanged snapshot when nothing can merge. The commit
    * is metadata + O(keys) IO; concurrent appends/deletes are safe
    * (verified against the parent), concurrent rewrites of the merged
    * groups abort with [[java.util.ConcurrentModificationException]].
    */
  def compactDeletes(): Snapshot = {
    val snap = currentOrFail()
    val dataSeqs = snap.fileGroups.map(_.seq).toSet
    def runsOf[D <: DeleteGroup](ds: Seq[D]): Seq[Seq[D]] =
      ds.sortBy(_.seq).foldLeft(Vector.empty[Vector[D]]) { (acc, d) =>
        acc.lastOption match {
          case Some(run)
            if !dataSeqs.exists(s => s >= run.last.seq && s < d.seq) =>
            acc.init :+ (run :+ d)
          case _ => acc :+ Vector(d)
        }
      }
    val eqRuns = snap.deleteGroups.collect { case e: EqualityDeleteGroup => e }
      .groupBy(_.keys.map(_.toLowerCase)).values.toSeq
      .flatMap(runsOf(_)).filter(_.size >= 2)
    val predRuns =
      runsOf(snap.deleteGroups.collect { case p: PredicateDeleteGroup => p })
        .filter(_.size >= 2)
    val posRuns =
      runsOf(snap.deleteGroups.collect { case p: PositionDeleteGroup => p })
        .filter(_.size >= 2)
    if (eqRuns.isEmpty && predRuns.isEmpty && posRuns.isEmpty) return snap

    // key-manifest writes happen OUTSIDE the commit closure (retries
    // must not rewrite files), like every other write path here
    val mergedEq = eqRuns.map { run =>
      val top = run.last
      val union = run.map(e => readDeleteKeys(snap, e))
        .reduce(_.unionByName(_)).distinct()
      val g = writeDataFiles(union, deleteKeySchema(snap, top.keys), Nil)
      run.map(_.seq) -> EqualityDeleteGroup(top.seq, top.keys, g.withSeq(top.seq))
    }
    val mergedPred = predRuns.map { run =>
      run.map(_.seq) -> PredicateDeleteGroup(run.last.seq,
        run.map(p => s"(${p.predicateSql})").mkString(" OR "))
    }
    val mergedPos = posRuns.map { run =>
      val top = run.last
      val union = run.map(p => readFiles(PositionDeleteGroup.KeySchema, p.group.files))
        .reduce(_.unionByName(_)).distinct()
      val g = writeDataFiles(union, PositionDeleteGroup.KeySchema, Nil)
      run.map(_.seq) -> PositionDeleteGroup(top.seq, g.withSeq(top.seq))
    }
    val windows = (eqRuns: Seq[Seq[DeleteGroup]]).++(predRuns).++(posRuns)
      .map(r => (r.head.seq, r.last.seq))
    val replaced = (mergedEq ++ mergedPred ++ mergedPos).flatMap(_._1).toSet
    val byNewSeq = (mergedEq.map(e => e._2.seq -> (e._2: DeleteGroup)) ++
      mergedPred.map(p => p._2.seq -> (p._2: DeleteGroup)) ++
      mergedPos.map(p => p._2.seq -> (p._2: DeleteGroup))).toMap
    log.commit { parent =>
      val p = parent.getOrElse(snap)
      // the groups being replaced must be exactly as analyzed — a
      // concurrent compaction/purge that touched them invalidates the
      // unions computed above
      val before = snap.deleteGroups.filter(d => replaced(d.seq))
      if (!before.forall(p.deleteGroups.contains(_)))
        throw new java.util.ConcurrentModificationException(
          "compactDeletes conflicts with a concurrent commit that " +
            "rewrote or purged a delete group; re-run")
      // no concurrently-landed data group may sit inside a run window
      // (appends land above lastSeq so this cannot happen today, but
      // soundness is re-proved against the PARENT, not assumed)
      val pData = p.fileGroups.map(_.seq)
      if (windows.exists { case (lo, hi) => pData.exists(s => s >= lo && s < hi) })
        throw new java.util.ConcurrentModificationException(
          "compactDeletes conflicts with a concurrent data commit " +
            "inside a coalesced window; re-run")
      val kept = p.deleteGroups.filterNot(d => replaced(d.seq))
      p.copy(
        snapshotId = newSnapshotId(),
        operation = "compact-deletes",
        deleteGroups = purgeDeletes(p.fileGroups,
          (kept ++ byNewSeq.values).sortBy(_.seq)))
    }
  }

  /** Remove duplicate row OCCURRENCES in place, keeping exactly ONE
    * deterministic survivor per identity — the minimum (snapshot
    * file-list index, position) address, which is stable across
    * re-runs of the same snapshot but NOT ingestion order (use a
    * timestamp column in `cols`' comparison semantics if oldest-wins
    * matters) —
    * committed as a POSITION-delete group with ZERO data files
    * rewritten. This is the one delete shape that can drop one copy of
    * a row while keeping another (an equality or predicate delete
    * would kill every copy), which is what in-place corpus dedup
    * needs: `dedup_table` on an ingested documents table is
    * [[graft.operators.Dedup.exact]] applied to the TABLE itself
    * instead of a derived output.
    *
    * `cols` picks the identity (empty = whole row). Only digests +
    * (file-key, position) addresses shuffle — never row bodies — and
    * only groups with >1 occurrence reach the join (the
    * [[graft.operators.Dedup]] dual-digest stance on collisions).
    * Visibility respects pending MoR deletes: an occurrence already
    * deleted can be neither keeper nor victim. Concurrent rewrites of
    * the scanned files abort the commit (positions would dangle);
    * `compact` later folds the delete group away like any other.
    */
  def dedupTable(cols: Seq[String] = Nil): Snapshot = {
    val snap = currentOrFail()
    val clash = Seq(PositionDeleteGroup.FileKeyCol, PositionDeleteGroup.PosCol)
      .filter(r => snap.schema.fieldNames.exists(_.equalsIgnoreCase(r)))
    require(clash.isEmpty,
      s"dedupTable reserves column name(s) ${clash.mkString(", ")} for " +
        "position-delete addressing; rename the table column(s) first")
    val dcols: Seq[String] =
      if (cols.isEmpty) snap.schema.fieldNames.toSeq
      else cols.map(c => snap.schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(s"unknown column '$c'")).name)
    val fk = col(PositionDeleteGroup.FileKeyCol)
    val pos = col(PositionDeleteGroup.PosCol)
    // the SAME dual-digest identity as Dedup.exact (codegen'd xxhash64
    // pair + weighted-length term — no md5, no JSON re-serialization;
    // ~3× cheaper per row) so in-place and derived dedup agree;
    // digests + addresses only — tiny per row — checkpointed once so
    // the groupBy and the victim join don't re-read the table twice
    val Seq(h1, h2, hl) =
      graft.operators.Dedup.exactKeyExprs(dcols.map(c => col(s"`$c`")))
    // NUMERIC flat address: (dense file index << 40) | row index. A
    // string address (file key + padded pos) would demote the keeper
    // aggregation to SortAggregate — min over a var-length type has no
    // mutable agg buffer — costing two full sorts of every occurrence;
    // min over a LONG stays in codegen'd HashAggregate with map-side
    // combine, and the shuffle carries 8 bytes instead of ~60. The
    // file-index attach and the decode back to (file key, pos) are
    // broadcast joins against a #files-row metadata frame.
    require(snap.files.size < (1 << 22),
      s"dedupTable: ${snap.files.size} files exceed the 2^22 address space")
    require(snap.files.forall(_.rows < (1L << 40)),
      "dedupTable: a file exceeds 2^40 rows")
    val fileIdxDf = spark.createDataFrame(
      snap.files.zipWithIndex.map { case (f, i) => (fileKeyOf(f.path), i.toLong) })
      .toDF(PositionDeleteGroup.FileKeyCol, "_fidx")
    val addr = shiftleft(col("_fidx"), 40).bitwiseOR(pos)
    // checkpointed once: digests + addresses only — 32 B/row — feed
    // both the dup-group aggregation and the victim join without
    // re-reading (and re-hashing) the table twice
    val occ = readFilesMoRPos(snap, snap.files, snap.schema)
      .join(broadcast(fileIdxDf), PositionDeleteGroup.FileKeyCol)
      .select(h1.as("_h1"), h2.as("_h2"), hl.as("_hl"), addr.as("_addr"))
      .localCheckpoint()
    // duplicated identities only — checkpointed so the victims join
    // sees its true (small) size, and so a dup-free table exits before
    // planning any victim work at all
    val dupGroups = occ.groupBy("_h1", "_h2", "_hl")
      .agg(min(col("_addr")).as("_keep"), count(lit(1)).as("_n"))
      .where(col("_n") > 1)
      .select(col("_h1"), col("_h2"), col("_hl"), col("_keep"))
      .localCheckpoint()
    val nDup = dupGroups.count()
    if (nDup == 0L) return snap
    // .rdd-materialized plans skip AQE, so the planner never sees that
    // the dup-group side is tiny — pick the broadcast explicitly below
    // a safe bound (32 B/row -> ~64 MB at the bound), fall back to the
    // shuffle join when dup volume is genuinely large
    val dgSide = if (nDup <= 2000000L) broadcast(dupGroups) else dupGroups
    val victims = occ.join(dgSide, Seq("_h1", "_h2", "_hl"))
      .where(col("_addr") =!= col("_keep"))
      .select(shiftrightunsigned(col("_addr"), 40).as("_fidx"),
        col("_addr").bitwiseAND(lit((1L << 40) - 1)).as(PositionDeleteGroup.PosCol))
      .join(broadcast(fileIdxDf), "_fidx")
      .select(fk, pos)
      .localCheckpoint() // one evaluation: emptiness probe + manifest write
    val nVictims = victims.count()
    if (nVictims == 0L) return snap
    // right-size the delete manifest: addresses are ~10s of bytes, so
    // millions fit one file — 32 shuffle-partition shards of a small
    // delete would tax every future scan with 32 file opens
    val delGroup = writeDataFiles(
      victims.repartition(math.max(1, (nVictims / 4000000L).toInt)),
      PositionDeleteGroup.KeySchema, Nil)
    // positions are only valid against the exact files scanned — a
    // concurrent rewrite (compact/CoW) of any of them dangles them
    commitRewrite(snap, "dedup", Set.empty, None,
      mask = Some(ns => PositionDeleteGroup(ns, delGroup.withSeq(ns))),
      read = snap.files.map(_.path).toSet)
  }

  /** Rewrite EXACTLY the data files the pending merge-on-read deletes
    * may touch, then drop every delete group — O(touched data) instead
    * of `compact`'s O(table). The GDPR flow at scale: a keyed delete
    * commits O(keys), this folds it into the data for O(affected
    * files); together they never read the untouched bulk.
    *
    * Soundness of dropping ALL groups: a file is rewritten iff some
    * applicable delete MAY touch it (equality/position via the delete
    * manifest's zone stats, predicate via the partition + zone-map
    * pruners' three-valued evaluation — `may == false` proves no row
    * of the file matches). Every surviving (file, applicable-delete)
    * pair is therefore provably matchless, so removing the groups
    * changes no visible row. Rewritten rows land at a fresh top
    * sequence with the deletes already applied ([[readFilesMoR]]).
    */
  def rewriteDeletes(): Snapshot = {
    val snap = currentOrFail()
    if (snap.deleteGroups.isEmpty) return snap
    val dels = snap.deleteGroups.sortBy(_.seq)
    val preds = dels.collect { case p: PredicateDeleteGroup =>
      p.seq -> CatalystSqlParser.parseExpression(p.predicateSql)
    }.toMap
    val targets = snap.fileGroups.flatMap { g =>
      val applicable = dels.filter(_.appliesTo(g.seq))
      if (applicable.isEmpty) Nil
      else g.files.filter(f => f.rows > 0L && applicable.exists {
        case e: EqualityDeleteGroup => deleteMayTouch(f, e, snap)
        case p: PositionDeleteGroup => posDeleteMayTouch(f, p)
        case p: PredicateDeleteGroup => fileTri(f, snap, preds(p.seq)).may
      })
    }
    val targetPaths = targets.map(_.path).toSet
    if (targets.isEmpty)
      // nothing touchable: the groups are dead weight — drop them in a
      // metadata-only commit
      return log.commit { parent =>
        val p = parent.getOrElse(snap)
        requireNoNewDeletes(p, snap, "rewrite-deletes")
        p.copy(snapshotId = newSnapshotId(), operation = "rewrite-deletes",
          deleteGroups = Nil)
      }
    val kept = readFilesMoR(snap, targets, snap.schema)
    val newGroup = writeDataFiles(kept, snap.schema, partitionFields())
    log.commit { parent =>
      val p = parent.getOrElse(snap)
      requireNoConflict(p, targetPaths, "rewrite-deletes")
      requireNoNewDeletes(p, snap, "rewrite-deletes")
      val ns = p.lastSeq + 1
      val groups = pruneGroups(p.schema, p.fileGroups, targetPaths) :+
        newGroup.withSeq(ns)
      p.copy(snapshotId = newSnapshotId(), operation = "rewrite-deletes",
        fileGroups = groups,
        deleteGroups = Nil,
        lastSeq = ns)
    }
  }

  // ------------------------------------------------------------------
  // Internals
  // ------------------------------------------------------------------

  private def newSnapshotId(): Long = math.abs(Random.nextLong()) max 1L

  /** P5 (`core/schema.py:114-142`): when a time transform partitions on
    * a string column, promote the TABLE schema column to timestamp so
    * the transform is well-typed; incoming string data is cast on write.
    */
  private def adjustSchemaForPartitioning(schema: StructType,
                                          specs: Seq[PartitionField]): StructType = {
    val timeFields = specs.filter(pf => Seq(graft.partitioning.Transform.Year,
      graft.partitioning.Transform.Month, graft.partitioning.Transform.Day,
      graft.partitioning.Transform.Hour).contains(pf.transform))
    if (timeFields.isEmpty) schema
    else StructType(schema.fields.map { f =>
      if (f.dataType == StringType &&
          timeFields.exists(_.sourceCol.equalsIgnoreCase(f.name))) {
        graft.observability.Log.info("promoting partition column to timestamp",
          "column" -> f.name)
        f.copy(dataType = TimestampNTZType)
      } else f
    })
  }

  /** Iceberg-style manifest merging: without it, N appends leave N
    * manifest refs in every later snapshot (O(N) metadata per commit,
    * O(N²) cumulative). When the group count exceeds the threshold
    * (`graft.manifest.merge-threshold` table property, default 64), the
    * smallest manifests are concatenated into one — a metadata-only
    * rewrite of O(files merged), amortized constant per commit.
    */
  private def maybeMergeGroups(schema: StructType, groups: Seq[FileGroup],
                               props: Map[String, String],
                               dels: Seq[DeleteGroup],
                               schemaLog: Seq[(Long, StructType)] = Nil): Seq[FileGroup] = {
    val threshold = props.get(GraftTable.MergeThresholdProp)
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(64)
    // While MoR delete groups are pending, groups with different data
    // seqs have different delete applicability — merging them into one
    // manifest (one seq) would change which rows the deletes hit.
    // Manifest merging simply pauses until compaction purges the
    // deletes (the MoR state is transient by design). Same pause while
    // name-evolution history is live: merging groups from both sides
    // of a rename boundary to the min seq would map the newer files to
    // the OLD naming.
    if (groups.size <= threshold || dels.nonEmpty || schemaLog.nonEmpty) groups
    else {
      // merge the smallest groups down to half the threshold, keeping
      // the biggest manifests untouched (they'd dominate rewrite cost).
      // With no deletes pending, any seq among the merged ones is
      // equivalent for FUTURE deletes (all are below the next seq);
      // min is the conservative choice.
      val sorted = groups.sortBy(_.fileCount)
      val keepCount = math.max(1, threshold / 2)
      val (merge, keep) = sorted.splitAt(sorted.size - keepCount + 1)
      keep :+ log.writeManifest(merge.flatMap(_.files), Some(schema))
        .withSeq(merge.map(_.seq).min)
    }
  }

  private def writeOp(df: DataFrame, op: String, props: Map[String, String])(
      groupsOf: (Option[Snapshot], FileGroup) => Seq[FileGroup]): Snapshot = {
    val snap = current()
    val targetSchema = snap.map(_.schema).getOrElse(
      Projection.assignFieldIds(
        adjustSchemaForPartitioning(df.schema, partitionFieldsOrInit(snap))))
    val projected =
      if (snap.isDefined || targetSchema != df.schema) Projection.project(df, targetSchema)
      else df
    val newGroup = writeDataFiles(projected, targetSchema, partitionFieldsOrInit(snap))
    log.commit { parent =>
      parent match {
        case Some(p) =>
          snap.foreach(requireStableNames(p, _, op)) // files carry analyzed names
          val ns = p.lastSeq + 1
          val groups = maybeMergeGroups(p.schema,
            groupsOf(Some(p), newGroup.withSeq(ns)),
            p.properties ++ props, p.deleteGroups, p.schemaLog)
          p.copy(
            snapshotId = newSnapshotId(),
            operation = op,
            properties = p.properties ++ props,
            fileGroups = groups,
            // an overwrite leaves only the fresh group: pending MoR
            // deletes then reference nothing older and purge with it
            deleteGroups = purgeDeletes(groups, p.deleteGroups),
            lastSeq = ns)
        case None => Snapshot(
          version = 0,
          snapshotId = newSnapshotId(),
          parentId = None,
          timestampMs = 0L, // overwritten by MetadataLog.commit
          operation = op,
          schema = targetSchema,
          schemaVersion = 0,
          partitionSpec = pendingSpec,
          properties = LoaderConfig.defaultTableProperties ++ props,
          fileGroups = groupsOf(None, newGroup.withSeq(1L)),
          lastSeq = 1L,
          lastFieldId = Projection.maxFieldId(targetSchema))
      }
    }
  }

  /** Classify a snapshot's files against a delete/update predicate:
    * (skippedGroups = whole manifests the summary proves can't match,
    * never parsed; droppedWhole = provably all rows match; rewrite =
    * may contain matches). Files with `may = false` are untouched
    * carries. Zone-map stats make whole-file drops possible even on
    * unpartitioned tables; manifest summaries make whole-GROUP skips
    * possible without reading the manifest.
    */
  private def classifyGroups(snap: Snapshot, pred: Expression)
      : (Seq[FileGroup], Seq[DataFile], Seq[DataFile]) = {
    val (mayGroups, skipGroups) = snap.fileGroups.partition(g => groupMay(g, snap, pred))
    val evaluated = mayGroups.flatMap(_.files).map(f => f -> fileTri(f, snap, pred))
    val dropped = evaluated.collect { case (f, t) if t.all => f }
    val rewrite = evaluated.collect { case (f, t) if t.may && !t.all => f }
    (skipGroups, dropped, rewrite)
  }

  /** May any file of `g` contain predicate matches? Evaluated against
    * the group's merged zone maps (the manifest-list summary) WITHOUT
    * parsing the manifest; groups without a summary degrade to true.
    */
  private def groupMay(g: FileGroup, snap: Snapshot, pred: Expression): Boolean =
    g.summary.forall(sum =>
      StatsPruner.evaluate(sum.asDataFile(g.manifest), snap.schema, pred).may)

  /** Partition spec to apply on first write (set by GraftCatalog.create). */
  private[table] var pendingSpec: Option[String] = None

  private def partitionFieldsOrInit(snap: Option[Snapshot]): Seq[PartitionField] =
    snap.flatMap(_.partitionSpec).orElse(pendingSpec)
      .map(PartitionExpr.parseSpec).getOrElse(Nil)

  /** Write `df` as immutable Parquet files under `data/<uuid>/`,
    * partitioned by the derived column when a spec exists, and publish
    * one manifest for the batch. Per-file row counts come from Parquet
    * footers (metadata-only reads — no Spark job); partition values are
    * parsed back from directory names.
    */
  private def writeDataFiles(df: DataFrame, schema: StructType,
                             specs: Seq[PartitionField],
                             preserveDistribution: Boolean = false): FileGroup = {
    val commitId = UUID.randomUUID().toString.take(12)
    val outDir = new HPath(tableDir, s"data/$commitId")
    // write-time clustering (`write.sort.columns` table property):
    // rows are range-distributed (unpartitioned tables) or sorted
    // within their partition's task (partitioned tables) on the listed
    // columns, so EVERY commit's files carry narrow zone maps — the
    // same pruning sharpening compactClustered gives, paid at write
    // time instead of as a maintenance rewrite. Invalid/missing
    // columns are ignored (a write must never fail on a layout hint).
    val sortCols = current().map(_.properties).getOrElse(Map.empty)
      .get("write.sort.columns").toSeq
      .flatMap(_.split(",")).map(_.trim)
      .filter(c => schema.fieldNames.exists(_.equalsIgnoreCase(c)))
      .map(c => col(s"`$c`"))
    // fields whose source column is missing degrade to unpartitioned
    // (reference's graceful degradation) — per FIELD, not whole-spec
    val valid = specs.filter(pf =>
      schema.fields.exists(_.name.equalsIgnoreCase(pf.sourceCol)))
    val writer =
      if (valid.nonEmpty) {
        val derivedCols = valid.map { pf =>
          val f = schema.fields.find(_.name.equalsIgnoreCase(pf.sourceCol)).get
          pf.derivedColName -> pf.derive(col(s"`${f.name}`"), f.dataType)
        }
        val derived = derivedCols.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
        val keyCols = derivedCols.map { case (n, _) => col(n) }
        // hash-distribute on the partition-value TUPLE (Iceberg's
        // write.distribution-mode=hash): each combination lands in one
        // task, so a commit writes one file per partition combination
        // instead of (tasks × partitions) small files. The partition
        // count is explicit because AQE coalesces a count-less shuffle
        // of a small write into ONE task, which then writes every
        // tuple's file in series; a shuffle with an explicit count is
        // never coalesced, so distinct tuples write in parallel tasks.
        // Callers that pre-arranged a distribution (clustering rewrite)
        // keep it.
        val arranged =
          if (preserveDistribution) derived
          else derived.repartition(
            spark.conf.get("spark.sql.shuffle.partitions").toInt, keyCols: _*)
        val sorted =
          if (sortCols.isEmpty) arranged
          else arranged.sortWithinPartitions(keyCols ++ sortCols: _*)
        sorted.write.partitionBy(valid.map(_.derivedColName): _*)
      } else if (sortCols.nonEmpty && !preserveDistribution) {
        // unpartitioned + sort columns: range-cluster ACROSS files so
        // file-level zone maps are disjoint, then sort within each for
        // row-group/page stats and bloom locality
        df.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*).write
      } else df.write
    writer
      .option("compression", "zstd")
      // Commit atomicity lives in the metadata log (UUID-fresh outDir;
      // files only become visible when the manifest publishes), so the
      // Hadoop committer's two-phase rename buys nothing here — v2
      // commits task output directly and skips the per-task job-commit
      // renames, and the _SUCCESS marker is dead weight (the manifest
      // is the success marker). A failed job leaves an unreferenced
      // temp dir for orphan GC, exactly as under v1.
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .options(bloomFilterOptions)
      .mode("overwrite")
      .parquet(outDir.toString)
    log.writeManifest(collectDataFiles(outDir, specs), Some(schema))
  }

  /** Parquet bloom-filter writer options from table properties
    * (Iceberg's property names):
    *
    *   - `write.parquet.bloom-filter-enabled.column.<col> = true`
    *   - `write.parquet.bloom-filter-ndv.column.<col> = <expected NDV>`
    *
    * Point lookups on a high-cardinality key (`WHERE id = ?`) then skip
    * row groups whose bloom filter rules the value out — zone maps
    * can't help there (a random key sits inside almost every file's
    * [min,max]), which is exactly the gap blooms close at 100 TB.
    * Readers need no changes: the vectorized parquet reader consults
    * blooms for pushed equality predicates on its own.
    */
  private def bloomFilterOptions: Map[String, String] = {
    val props = current().map(_.properties).getOrElse(Map.empty)
    val Enabled = "write.parquet.bloom-filter-enabled.column."
    val Ndv = "write.parquet.bloom-filter-ndv.column."
    props.collect {
      case (k, v) if k.startsWith(Enabled) =>
        s"parquet.bloom.filter.enabled#${k.drop(Enabled.length)}" -> v
      case (k, v) if k.startsWith(Ndv) =>
        s"parquet.bloom.filter.expected.ndv#${k.drop(Ndv.length)}" -> v
    }
  }

  /** Harvest the new files' metadata (footer row counts + zone maps +
    * partition values) for the commit. Two regimes, cut over by file
    * count:
    *
    *   - typical commits (\u2264 [[GraftTable.FooterJobThreshold]] files):
    *     a driver-side parallel loop \u2014 no job scheduling, no broadcast;
    *     footer reads are metadata-only and a few hundred of them cost
    *     less than launching a Spark job does;
    *   - huge commits: a SMALL SPARK JOB \u2014 executors each read a slice
    *     of footers and ship back one [[DataFile]] record per file. At
    *     10\u2075 files per commit a driver-side loop is the bottleneck
    *     (the round-4 verdict's write-side scale flag); the driver then
    *     only lists the directory and collects O(files) small records \u2014
    *     the same order as the manifest it must write anyway.
    */
  private def collectDataFiles(outDir: HPath, specs: Seq[PartitionField]): Seq[DataFile] = {
    val paths = MetadataLog.listFilesRecursive(fs, outDir)
      .collect { case st if st.getPath.getName.endsWith(".parquet") =>
        st.getPath.toString
      }
    if (paths.isEmpty) return Nil
    val tableDirStr = tableDir.toString
    val outDirStr = outDir.toString
    if (paths.size <= GraftTable.FooterJobThreshold) {
      val conf = org.apache.spark.sql.GraftSqlShim.newHadoopConf(spark)
      import scala.collection.parallel.CollectionConverters._
      paths.par
        .map(p => FooterStats.dataFileFor(p, tableDirStr, outDirStr, specs, conf))
        .seq.sortBy(_.path)
    } else {
      metadataJob(paths) { (conf, it) =>
        it.map(p => FooterStats.dataFileFor(p, tableDirStr, outDirStr, specs, conf.value))
      }.sortBy(_.path)
    }
  }

}

object GraftTable {
  /** A change-feed scan unit: files sharing one WRITE-era schema, so a
    * raw parquet read knows their physical column names (mapped to the
    * requested names by field id — see [[GraftTable.nameMapping]]).
    */
  final case class CdcFiles(writeSchema: StructType, files: Seq[DataFile]) {
    def rows: Long = files.map(_.rows).sum
  }

  /** Commit `v`'s change, decomposed for DSv2 planning: raw file-diff
    * scans per era, plus the materialized-cache scan for merge-on-read
    * shapes (see [[GraftTable.cdcSides]]).
    */
  final case class CdcSides(insRaw: Seq[CdcFiles], insCache: Option[CdcFiles],
                            delRaw: Seq[CdcFiles], delCache: Option[CdcFiles]) {
    def ins: Seq[CdcFiles] = insRaw ++ insCache
    def del: Seq[CdcFiles] = delRaw ++ delCache
    def fileCount: Int = (ins ++ del).map(_.files.size).sum
    def rowCount: Long = (ins ++ del).map(_.rows).sum
  }

  /** Table property controlling manifest-merge onset (default 64). */
  val MergeThresholdProp = "graft.manifest.merge-threshold"

  /** Delete execution mode: `cow` (always rewrite), `mor` (always
    * record delete groups), `auto` (default — MoR past the threshold).
    */
  val DeleteModeProp = "graft.delete.mode"

  /** SQL functions whose value changes between evaluations — a
    * predicate containing one can never be stored as a merge-on-read
    * mask (see [[GraftTable.morSafePredicate]]).
    */
  private[table] val MorUnsafeFunctions: Set[String] = Set(
    "now", "current_timestamp", "current_date", "localtimestamp",
    "current_timezone", "curdate", "rand", "randn", "random", "uuid",
    "shuffle", "monotonically_increasing_id", "input_file_name",
    "spark_partition_id", "current_user", "session_user", "user",
    "rand_str", "randstr", "uniform")

  /** Auto-mode cutover: a delete whose copy-on-write rewrite set
    * exceeds this many bytes goes merge-on-read instead (default
    * 256 MiB — roughly "more than a couple of files").
    */
  val MorThresholdProp = "graft.delete.mor.threshold-bytes"

  val DefaultMorThresholdBytes: Long = 256L << 20

  /** Stamped on a branch's fork commit (v0): the main-log version the
    * branch forked from — [[GraftTable.fastForward]]'s publish guard.
    */
  val ForkVersionProp = "graft.branch.fork-version"

  /** Changelog ranges wider than this switch from per-commit union
    * scans (O(commits) plan leaves) to the two-scan broadcast-mapped
    * plan — see [[GraftTable.scanChangesBetweenImpl]].
    */
  val GroupedChangelogThreshold = 50

  /** Operations that rewrite physical layout without changing a single
    * visible row — [[GraftTable.scanDataChangesBetween]] skips their
    * commits. `dedup` is NOT here: position deletes remove real rows.
    */
  val MaintenanceOps: Set[String] =
    Set("compact", "cluster", "compact-deletes", "rewrite-deletes")

  /** Merge sources at or below this row count broadcast explicitly in
    * the checkpointed rewrite join (AQE cannot re-plan there) —
    * ~2M keyed rows ≈ tens of MB, the same bound dedupTable uses.
    */
  val MergeBroadcastRowBound: Long = 2000000L

  /** Commits with more new files than this harvest footer stats via a
    * distributed job instead of a driver-side parallel loop (see
    * `collectDataFiles`). 512 ≈ where job-launch overhead (~100 ms)
    * beats driver-threaded metadata reads. `verifyIntegrity` uses the
    * same cutover for its existence/size audit.
    */
  val FooterJobThreshold = 512

  /** One file's existence/size audit (None = healthy). Lives on the
    * companion so the distributed `verifyIntegrity` path serializes a
    * static call, not the table handle.
    */
  private[table] def statIssue(relPath: String, recorded: Long,
                               fs: FileSystem, root: String): Option[String] =
    try {
      val len = fs.getFileStatus(new HPath(s"$root/$relPath")).getLen
      if (len != recorded) Some(s"$relPath: size $len != recorded $recorded") else None
    } catch {
      case _: java.io.FileNotFoundException => Some(s"missing data file: $relPath")
    }
}

/** Filesystem-metastore catalog over a warehouse directory (C1/C5,
  * `core/schema.py:32-50,87-112`): resolve `(namespace, table)` →
  * `warehouse/<ns>/<table>/`, get-or-create, drop.
  */
final class GraftCatalog(val spark: SparkSession, warehouse0: HPath) {

  private[graft] val hadoopConf = org.apache.spark.sql.GraftSqlShim.newHadoopConf(spark)
  private[graft] val fs: FileSystem = warehouse0.getFileSystem(hadoopConf)

  /** Warehouse root, QUALIFIED (absolute path + scheme/authority) at
    * construction: every table path derives from it, and relativization
    * of fully-qualified listing paths against a relative root (e.g.
    * `GraftCatalog(spark, "spark-warehouse")`) can never prefix-match —
    * commits and GC would throw 'not under table root'.
    */
  val warehouse: HPath = fs.makeQualified(warehouse0)

  def tableDir(ident: TableIdent): HPath =
    new HPath(warehouse, s"${ident.namespace}/${ident.name}")

  def exists(ident: TableIdent): Boolean =
    new MetadataLog(tableDir(ident), hadoopConf).exists()

  def load(ident: TableIdent): GraftTable = {
    val dir = tableDir(ident)
    val log = new MetadataLog(dir, hadoopConf)
    require(log.exists(), s"Table $ident does not exist")
    new GraftTable(spark, dir, log)
  }

  /** Get-or-create (C1): an existing table is returned as-is; otherwise
    * a handle is returned whose first write creates snapshot v0 with
    * the given partition spec (`core/schema.py:87-112` creates lazily
    * from the first batch's schema too).
    */
  def ensure(ident: TableIdent, partitionSpec: Option[String] = None): GraftTable = {
    val dir = tableDir(ident)
    fs.mkdirs(dir)
    val t = new GraftTable(spark, dir, new MetadataLog(dir, hadoopConf))
    if (t.current().isEmpty) t.pendingSpec = partitionSpec.map(_.trim).filter(_.nonEmpty)
    t
  }

  def drop(ident: TableIdent): Unit = {
    try fs.delete(tableDir(ident), true)
    catch { case _: java.io.FileNotFoundException => () }
    ()
  }

  def listNamespaces(): Seq[String] =
    try fs.listStatus(warehouse).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(ns => listTables(ns).nonEmpty)
      .sorted
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Rename = move the table directory (atomic on one filesystem); the
    * metadata log is path-relative so nothing inside changes.
    */
  def rename(from: TableIdent, to: TableIdent): Unit = {
    require(exists(from), s"Table $from does not exist")
    require(!exists(to), s"Table $to already exists")
    // an existing bare destination DIRECTORY (e.g. ensure() that never
    // committed) would make Hadoop rename move the source INTO it
    require(!fs.exists(tableDir(to)),
      s"Cannot rename $from to $to: destination directory already exists")
    fs.mkdirs(tableDir(to).getParent)
    require(fs.rename(tableDir(from), tableDir(to)),
      s"Filesystem rename of $from to $to failed")
  }

  def listTables(namespace: String): Seq[TableIdent] = {
    val ns = new HPath(warehouse, namespace)
    try fs.listStatus(ns).toSeq
      .filter(_.isDirectory)
      .map(st => TableIdent(namespace, st.getPath.getName))
      .filter(exists)
    catch { case _: java.io.FileNotFoundException => Nil }
  }
}

object GraftCatalog {
  def apply(spark: SparkSession, warehouse: String): GraftCatalog =
    new GraftCatalog(spark, new HPath(warehouse))
}
