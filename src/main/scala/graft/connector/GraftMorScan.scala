package graft.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, MergeIntoTable, Project, UpdateTable, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Makes SQL reads of a graft table with pending MERGE-ON-READ deletes
  * correct: the native DSv2 scan reads raw data files (deleted rows
  * included), so while a snapshot carries delete groups this rule
  * replaces the relation with the delete-applying plan
  * ([[graft.table.GraftTable.scanSnapshot]]: parquet scans bucketed by
  * data sequence, equality deletes as anti joins — broadcast by
  * Catalyst/AQE since the key side is tiny — predicate deletes as
  * filters). The MoR state is transient (compaction purges delete
  * groups and the native scan resumes), so the lost scan perks
  * (metadata agg pushdown, SPJ, limit file-capping) are a bounded,
  * correctness-mandated trade.
  *
  * DML TARGETS stay untouched: rewriting the relation under
  * MERGE/UPDATE/DELETE would break their command rewrites, and the
  * underlying table operations apply pending deletes themselves. Read
  * positions inside those commands (MERGE source, write queries) are
  * still rewritten. Subquery plans (IN, EXISTS, scalar, LATERAL) need
  * no walk here: the analyzer resolves each one by running its
  * resolution rules, this one included, on the subquery plan itself.
  */
case class GraftMorScanRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan)

  private def rewrite(p: LogicalPlan): LogicalPlan = p match {
    // DML: never touch the target relation, do rewrite read positions
    case m: MergeIntoTable => m.copy(sourceTable = rewrite(m.sourceTable))
    case u: UpdateTable => u
    case d: DeleteFromTable => d
    case w: V2WriteCommand => w.withNewQuery(rewrite(w.query))
    case rel: DataSourceV2Relation =>
      rel.table match {
        case g: GraftV2Table =>
          g.morSnapshot match {
            case Some(snap) =>
              val child = g.underlying.scanSnapshot(snap).queryExecution.analyzed
              val byName = child.output.map(a => a.name.toLowerCase -> a).toMap
              // alias onto the relation's attribute ids so references
              // above the replaced relation keep resolving
              Project(rel.output.map { o =>
                Alias(byName(o.name.toLowerCase), o.name)(exprId = o.exprId)
              }, child)
            case None => rel
          }
        case _ => rel
      }
    case other => other.mapChildren(rewrite)
  }
}
