package graft.connector

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, InsertStarAction, LogicalPlan, MergeIntoTable, OverwritePartitionsDynamic, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** SQL `MERGE INTO` for graft tables — the reference's upsert (W4/J1,
  * `core/strategies.py:69-81`) surfaced as the SQL verb:
  *
  * {{{
  * MERGE INTO graft.ns.t AS t USING updates AS s
  * ON t.id = s.id
  * WHEN MATCHED THEN UPDATE SET *
  * WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * The canonical shapes route to the tuned primitives: the star upsert
  * above → [[graft.table.GraftTable.upsert]] (which picks merge-on-read
  * past the threshold), `WHEN MATCHED THEN DELETE` alone →
  * [[graft.table.GraftTable.deleteByKeys]]. Every OTHER clause
  * combination — conditional matched update/delete, partial SET lists,
  * multiple first-match-wins clauses, conditional inserts,
  * `WHEN NOT MATCHED BY SOURCE` — runs as the general copy-on-write
  * row merge [[graft.table.GraftTable.mergeRows]].
  */
case class GraftMergeRule(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case m: MergeIntoTable if m.resolved && isGraftTarget(m.targetTable) =>
      val tbl = graftTable(m.targetTable).get
      val targetOut = m.targetTable.outputSet
      val sourceOut = m.sourceTable.outputSet

      // type coercion wraps either side in Cast (e.g. INT source key
      // against a BIGINT target key) — still the canonical equality
      def stripCastE(e: Expression): Expression = e match {
        case c: org.apache.spark.sql.catalyst.expressions.Cast => stripCastE(c.child)
        case other => other
      }
      def keyOf(cond: Expression): Option[String] = cond match {
        case EqualTo(l, r) => (stripCastE(l), stripCastE(r)) match {
          case (a: AttributeReference, b: AttributeReference)
              if targetOut.contains(a) && sourceOut.contains(b) &&
                a.name.equalsIgnoreCase(b.name) => Some(a.name)
          case (a: AttributeReference, b: AttributeReference)
              if targetOut.contains(b) && sourceOut.contains(a) &&
                a.name.equalsIgnoreCase(b.name) => Some(b.name)
          case _ => None
        }
        case _ => None
      }
      val keys = splitConjunctivePredicates(m.mergeCondition).map(keyOf)
      // the analyzer expands SET * / INSERT * into per-column
      // same-name assignments before post-hoc rules run — accept both
      // the star form and its expansion
      // A true SET * / INSERT *: every target column assigned exactly
      // once from the SAME-NAMED SOURCE attribute (modulo coercion
      // casts). Partial lists or target-referencing values are NOT
      // star-shaped — without this coverage check, `SET v = s.v` alone
      // would silently run as a whole-row upsert.
      def starAssigns(assigns: Seq[Assignment]): Boolean = {
        val assigned = assigns.flatMap {
          case Assignment(t: AttributeReference, v) => stripCastE(v) match {
            case s: AttributeReference
                if sourceOut.contains(s) && t.name.equalsIgnoreCase(s.name) =>
              Some(t.name.toLowerCase)
            case _ => None
          }
          case _ => None
        }
        assigned.size == assigns.size &&
          assigned.toSet == m.targetTable.output.map(_.name.toLowerCase).toSet &&
          assigned.distinct.size == assigned.size
      }
      // delete-only merge = the bulk keyed delete
      // (GraftTable.deleteByKeys): MERGE ... WHEN MATCHED THEN DELETE
      val deleteOnly = (m.matchedActions, m.notMatchedActions,
        m.notMatchedBySourceActions) match {
        case (Seq(DeleteAction(None)), Seq(), Seq()) => true
        case _ => false
      }
      val canonicalActions = (m.matchedActions, m.notMatchedActions,
        m.notMatchedBySourceActions) match {
        case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None)), Seq()) => true
        case (Seq(u: UpdateAction), Seq(i: InsertAction), Seq()) =>
          u.condition.isEmpty && i.condition.isEmpty &&
            starAssigns(u.assignments) && starAssigns(i.assignments)
        case _ => false
      }
      val canonicalKeys = !keys.exists(_.isEmpty) && keys.nonEmpty
      if (canonicalKeys && deleteOnly)
        GraftMergeDeleteCommand(tbl, m.sourceTable, keys.flatten)
      else if (canonicalKeys && canonicalActions)
        GraftMergeCommand(tbl, m.sourceTable, keys.flatten)
      else {
        // ---- general MERGE: arbitrary clause combinations ----
        // Render every expression over the prefixed merge frame:
        // target attributes as `_t_<name>` (names unique per schema),
        // source attributes as positional `_s_<i>` (a USING subquery
        // may repeat output names). The command renames the source
        // frame to match, so the SQL strings re-parse unambiguously
        // even when target and source share column names.
        val srcName: Map[Long, String] = m.sourceTable.output.zipWithIndex
          .map { case (a, i) => a.exprId.id -> s"_s_$i" }.toMap
        val tgtName: Map[Long, String] = m.targetTable.output
          .map(a => a.exprId.id -> s"_t_${a.name}").toMap
        def rendered(e: Expression): String = e.transform {
          case a: AttributeReference =>
            val n = tgtName.get(a.exprId.id).orElse(srcName.get(a.exprId.id))
              .getOrElse(throw new UnsupportedOperationException(
                "graft MERGE expression references an attribute outside " +
                  s"the target/source scope: ${a.sql}"))
            AttributeReference(n, a.dataType, a.nullable)(a.exprId, Nil)
        }.sql
        def assignPairs(assigns: Seq[Assignment], clause: String): Seq[(String, String)] = {
          val pairs = assigns.map {
            case Assignment(k: AttributeReference, v) => k.name -> rendered(v)
            case a => throw new UnsupportedOperationException(
              s"graft MERGE supports top-level column assignments, got ${a.sql}")
          }
          val dups = pairs.groupBy(_._1.toLowerCase).collect {
            case (k, vs) if vs.size > 1 => k
          }
          if (dups.nonEmpty)
            throw new UnsupportedOperationException(
              s"duplicate assignment(s) in MERGE $clause clause: ${dups.mkString(", ")}")
          pairs
        }
        // unexpanded star actions (the analyzer normally rewrites them
        // to per-column assignments first): target col ← same-named
        // source attr
        def starPairs(clause: String): Seq[(String, String)] =
          m.targetTable.output.map { t =>
            val s = m.sourceTable.output.find(_.name.equalsIgnoreCase(t.name))
              .getOrElse(throw new UnsupportedOperationException(
                s"MERGE $clause *: source has no column matching target '${t.name}'"))
            t.name -> srcName(s.exprId.id)
          }
        def clauseOf(action: org.apache.spark.sql.catalyst.plans.logical.MergeAction,
                     which: String): graft.table.MergeClause = action match {
          case UpdateAction(c, as, _) =>
            graft.table.MergeClause("update", c.map(rendered), assignPairs(as, which))
          case UpdateStarAction(c) =>
            graft.table.MergeClause("update", c.map(rendered), starPairs(which))
          case DeleteAction(c) =>
            graft.table.MergeClause("delete", c.map(rendered), Nil)
          case InsertAction(c, as) =>
            graft.table.MergeClause("insert", c.map(rendered), assignPairs(as, which))
          case InsertStarAction(c) =>
            graft.table.MergeClause("insert", c.map(rendered), starPairs(which))
          case a => throw new UnsupportedOperationException(
            s"unsupported MERGE action: $a")
        }
        // equality conjuncts (any names) feed partition pruning; when
        // they ARE the whole condition, the table layer may take the
        // merge-on-read path (append outcomes + mask affected keys)
        val conjuncts = splitConjunctivePredicates(m.mergeCondition)
        val prunePairs = conjuncts.flatMap {
          case EqualTo(l, r) => (stripCastE(l), stripCastE(r)) match {
            case (a: AttributeReference, b: AttributeReference)
                if targetOut.contains(a) && sourceOut.contains(b) =>
              Some(a.name -> srcName(b.exprId.id))
            case (a: AttributeReference, b: AttributeReference)
                if targetOut.contains(b) && sourceOut.contains(a) =>
              Some(b.name -> srcName(a.exprId.id))
            case _ => None
          }
          case _ => None
        }
        GraftMergeRowsCommand(tbl, m.sourceTable, rendered(m.mergeCondition),
          m.matchedActions.map(clauseOf(_, "MATCHED")),
          m.notMatchedActions.map(clauseOf(_, "NOT MATCHED")),
          m.notMatchedBySourceActions.map(clauseOf(_, "NOT MATCHED BY SOURCE")),
          prunePairs,
          equiCondition = prunePairs.nonEmpty && prunePairs.size == conjuncts.size)
      }

    // INSERT OVERWRITE under partitionOverwriteMode=dynamic (and
    // DataFrameWriterV2's `overwritePartitions()`): Spark has no V1
    // write fallback for OverwritePartitionsDynamic — without this
    // rule the write builder is required to be a full V2 BatchWrite
    // and the statement fails at planning. Route it to the table-API
    // semantics instead ([[graft.table.GraftTable.overwriteDynamic]]:
    // replace exactly the partition tuples the query writes, one
    // commit). By resolution time TableOutputResolver has aligned the
    // query's output positionally with the table schema (both byName
    // and byPosition forms), so a positional rename is exact.
    case o @ OverwritePartitionsDynamic(_, query, _, _, None)
        if o.resolved && isGraftTarget(o.table) =>
      GraftDynamicOverwriteCommand(graftTable(o.table).get, query)

    case u @ UpdateTable(target, assignments, condition)
        if u.resolved && isGraftTarget(target) =>
      val tbl = graftTable(target).get
      // re-parseable SQL text keeps the rewrite decoupled from the
      // relation's attribute ids; expressions whose .sql form doesn't
      // round-trip are rare and fail loudly at parse, not silently
      // resolved attributes print fully qualified (catalog.ns.t.col),
      // which doesn't re-parse against the rewrite DataFrame — strip
      // the qualifiers first
      def plainSql(e: Expression): String = e.transform {
        case a: AttributeReference => a.withQualifier(Nil)
      }.sql
      val pairs = assignments.map {
        case Assignment(k: AttributeReference, v) => k.name -> plainSql(v)
        case a => throw new UnsupportedOperationException(
          s"graft UPDATE supports top-level column assignments, got ${a.sql}")
      }
      // duplicate assignments to one column are an error per the SQL
      // standard — .toMap alone would silently keep the last one
      val dups = pairs.groupBy(_._1.toLowerCase).collect {
        case (k, vs) if vs.size > 1 => k
      }
      if (dups.nonEmpty)
        throw new UnsupportedOperationException(
          s"duplicate assignment(s) in UPDATE: ${dups.mkString(", ")}")
      GraftUpdateCommand(tbl, condition.map(plainSql).getOrElse("true"), pairs.toMap)
  }

  private def isGraftTarget(plan: LogicalPlan): Boolean = graftTable(plan).isDefined

  private def graftTable(plan: LogicalPlan): Option[GraftV2Table] = plan match {
    case r: DataSourceV2Relation => r.table match {
      case g: GraftV2Table => Some(g)
      case _ => None
    }
    case p if p.children.size == 1 => graftTable(p.children.head) // SubqueryAlias etc.
    case _ => None
  }
}

case class GraftUpdateCommand(table: GraftV2Table, predicateSql: String,
                              set: Map[String, String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    table.underlying.updateWhere(predicateSql, set)
    Nil
  }
  override def output: Seq[Attribute] = Nil
}

/** `MERGE ... WHEN MATCHED THEN DELETE` → [[graft.table.GraftTable
  * .deleteByKeys]]: the SQL verb for deleting a key SET (opt-out lists,
  * CDC tombstones) — `DELETE FROM ... WHERE` can't express a
  * million-key predicate, a delete-only merge can.
  */
case class GraftMergeDeleteCommand(table: GraftV2Table, source: LogicalPlan,
                                   keys: Seq[String]) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    // deleteByKeys checkpoints the key frame itself, so a
    // nondeterministic USING subquery is evaluated once
    val keyDf = org.apache.spark.sql.GraftSqlShim.ofRows(spark, source)
      .select(keys.map(k => org.apache.spark.sql.functions.col(s"`$k`")): _*)
    table.underlying.deleteByKeys(keyDf, keys)
    Nil
  }

  override def output: Seq[Attribute] = Nil
}

/** General MERGE (non-canonical clause shapes) →
  * [[graft.table.GraftTable.mergeRows]]: conditional matched
  * update/delete, partial SET lists, multiple first-match-wins clauses,
  * conditional inserts, `WHEN NOT MATCHED BY SOURCE`. The source frame
  * is renamed to the positional `_s_<i>` contract the rendered SQL
  * strings reference.
  */
case class GraftMergeRowsCommand(table: GraftV2Table, source: LogicalPlan,
                                 condSql: String,
                                 matched: Seq[graft.table.MergeClause],
                                 notMatched: Seq[graft.table.MergeClause],
                                 notMatchedBySource: Seq[graft.table.MergeClause],
                                 pruneKeys: Seq[(String, String)],
                                 equiCondition: Boolean = false)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.GraftSqlShim.ofRows(spark, source)
    val renamed = src.toDF(src.columns.indices.map(i => s"_s_$i"): _*)
    table.underlying.mergeRows(renamed, condSql, matched, notMatched,
      notMatchedBySource, pruneKeys, equiCondition)
    Nil
  }

  override def output: Seq[Attribute] = Nil
}

/** `INSERT OVERWRITE` in dynamic mode / `writeTo(...).overwritePartitions()`
  * → [[graft.table.GraftTable.overwriteDynamic]]: replace exactly the
  * partition tuples the query produces, carry the rest verbatim — the
  * idempotent daily-rerun idiom, one commit.
  */
case class GraftDynamicOverwriteCommand(table: GraftV2Table, source: LogicalPlan)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val df = org.apache.spark.sql.GraftSqlShim.ofRows(spark, source)
      // positional rename onto the table's column names (resolution
      // already aligned order and types)
      .toDF(table.underlying.schema.fieldNames.toIndexedSeq: _*)
      // one evaluation: overwriteDynamic derives the replaced partition
      // tuples and writes from this frame; a nondeterministic query
      // must not produce different partitions per pass
      .localCheckpoint()
    table.underlying.overwriteDynamic(df)
    Nil
  }

  override def output: Seq[Attribute] = Nil
}

case class GraftMergeCommand(table: GraftV2Table, source: LogicalPlan,
                             keys: Seq[String]) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val sourceDf = org.apache.spark.sql.GraftSqlShim.ofRows(spark, source)
      // project onto the target schema by name WITH the target's types
      // (MERGE INSERT * semantics; the analyzer already proved coercibility)
      .select(table.underlying.schema.fields.map(f =>
        org.apache.spark.sql.functions.col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
    // upsert checkpoints the source itself, so a nondeterministic
    // USING subquery is evaluated once
    table.underlying.upsert(sourceDf, keys)
    Nil
  }

  override def output: Seq[Attribute] = Nil
}
