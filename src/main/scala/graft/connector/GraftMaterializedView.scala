package graft.connector

import graft.table.{GraftCatalog, GraftTable, TableIdent}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, CaseWhen, ExprId, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, DateType, DecimalType, DoubleType, FloatType, NumericType, StringType, StructField, TimestampNTZType, TimestampType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Materialized views with INCREMENTAL refresh — the composition the
  * CDC machinery exists for: a stored aggregate whose refresh costs
  * O(changes since last refresh), never O(source table).
  *
  * {{{
  * CALL graft.system.create_mview('ns', 'daily', 'SELECT flag, SUM(qty) q, AVG(qty) a, MAX(qty) m FROM graft.ns.li WHERE ... GROUP BY flag')
  * SELECT * FROM graft.ns.daily             -- MV-speed (a stored view over the storage table)
  * CALL graft.system.refresh_mview('ns', 'daily', false)
  * }}}
  *
  * Layout: the aggregate rows live in a STORAGE graft table
  * `<name>__rows` carrying hidden bookkeeping columns, and a stored SQL
  * view `<name>` projects the public columns — so reads go through the
  * ordinary view/table machinery (pushdown, pruning) and never see the
  * bookkeeping. All MV state (definition, source, applied version,
  * maintenance spec) rides in the storage table's snapshot properties;
  * the applied source version commits ATOMICALLY with each refresh's
  * data (the replicate marker pattern), so refresh is exactly-once
  * under retries with no external checkpoint.
  *
  * Incremental capability is decided ONCE at create by shape analysis
  * of the analyzed plan: one graft FACT — bare, a UNION ALL of graft
  * shard legs (each with an optional per-leg WHERE and, round 17,
  * per-leg SELECT for divergent shard schemas), or either of those as
  * the leftmost leaf
  * of a left-deep chain of inner/left-outer joins onto bare graft
  * DIMENSIONS — an optional deterministic WHERE, GROUP BY
  * deterministic expressions, aggregates limited to SUM / COUNT /
  * COUNT(*) / AVG / MIN / MAX / COUNT|SUM|AVG(DISTINCT x), decimals at
  * every (p,s) (see [[AggKind]]) — each with an optional deterministic
  * FILTER (WHERE p), folded into the aggregated expression as CASE
  * WHEN p THEN e END.
  * Window shapes — ANY deterministic window function over a
  * partitioned window (rank top-N with an optional `rn <= N`
  * predicate, running SUM/AVG/MIN/MAX/COUNT OVER any frame, LAG/LEAD
  * offsets), optional inner WHERE — maintain in their own "window"
  * mode by affected-group recompute (round 16): windows never cross
  * partitions, so changelog-touched groups recompute wholesale and
  * untouched groups keep their stored rows. The window's source may
  * be a bare graft table, a sharded UNION ALL with per-leg
  * WHERE/SELECT and per-leg pins (round 17 — touched keys derive from
  * every leg's slice through its projection, the recompute reads the
  * union'd head), OR a left-deep fact-preserving join onto
  * bare graft dims (round 17 — the rank-over-join dashboard shape):
  * dims pin AS OF like agg mode, touched keys derive from the fact
  * changelog joined to the pinned (and, for a moved dim, current)
  * dims plus the head fact rows matching a moved dim's slice, and the
  * touched groups recompute from the joined head — O(changes +
  * affected groups), never O(fact ⋈ dims).
  * An MV OVER another MV maintains too: shape analysis inlines the
  * public view down to the first MV's storage table, whose own
  * changelog (written exactly-once by level-1's keyed refresh merges)
  * drives level-2 — refresh cascades m1 → m2, each O(changes at its
  * level). A RIGHT OUTER join rewrites to LEFT with the sides swapped
  * at analysis (the preserved side becomes the fact), so it maintains
  * like any left join. An aggregate OVER a window subquery (SUM of a
  * per-group top-N) auto-cascades from one CREATE: the subquery
  * registers as a hidden window MV `<name>__w` and the aggregate as an
  * MV over its storage, refreshed/dropped as one unit through the
  * cascade marker. The DUAL cascades too: a window OVER an aggregate
  * subquery (the rank-over-rollup dashboard — top-N groups per
  * partition by their aggregate) registers the aggregate as a hidden
  * incremental agg MV `<name>__a` and the window over its storage
  * changelog, so one refresh cascades base → rollup → ranks, each
  * level O(changes at its level). A FULL OUTER join maintains with
  * TWO-SIDED flip terms: each side's linear part is the signed slice
  * left-joined from its own side, and the other side's
  * NULL-extensions flip on rows whose match-set crossed zero —
  * slice-bounded semi/anti probes, O(affected), never O(F ⋈ D). The
  * FULL join composes with further inner/left dims when it is the
  * FIRST join (round 17): the suffix dims ride every FULL term at
  * their telescope pins, and a moved suffix dim's term splits the
  * FULL prefix into its fact-preserved part (pruned fact through the
  * FULL downgraded to LEFT) and its extension part (head-dim rows
  * NULL-extended on the fact columns, slice-bounded, anti-probed
  * against the zone-pruned fact) so fact pruning can never invent
  * extensions. Everything else (unpartitioned windows, FULL OUTER
  * deeper in the chain or over a union'd fact) falls back to FULL
  * refresh, which recomputes and overwrites. Join maintenance pins every dimension AS
  * OF the version the stored rows were built with, so the signed fact
  * changelog retracts exactly; a dimension that MOVES maintains
  * incrementally too — a telescoped delta
  * replaces one relation at a time (ΔF against old pins, then F@head
  * against each moved dim's signed slice with earlier dims at new and
  * later dims at old pins), exact by inner-join multilinearity and
  * O(F ⋈ ΔD), never O(F ⋈ D). A moved LEFT-joined dim adds two flip
  * terms on top of its (linear) matched part: prefix rows that lost
  * their last match re-extend with NULLs, rows that gained a first
  * match retract the stored NULL-extension — both computed as
  * slice-bounded semi/anti joins, so the cost stays O(affected ⋈ D).
  * The maintenance algebra of each aggregate kind is defined once, by
  * [[AggKind]]: signed deltas add (SUM, COUNT, COUNT(*), and AVG as a
  * running sum `_mv_as_<i>` over a non-null count `_mv_nn_<i>`), and
  * MIN/MAX merge inserts in closed form, recomputing from the source
  * AS OF the refresh head only the groups whose extreme a delete
  * retracted. `_mv_rows` = COUNT(*) per group; a group vanishes when it
  * hits zero.
  *
  * COUNT/SUM/AVG(DISTINCT x) use the counting algorithm: a dedup-level
  * aux graft table `<storage>__dl<i>` holds one row per (group, value)
  * pair with its net source-row count; refresh first applies the
  * signed pair deltas to the aux table (its OWN applied marker + CAS
  * makes the two-table update crash-safe and exactly-once), then folds
  * the aux table's resulting changelog — pair births +1 (+value for
  * SUM/AVG), deaths −1 (−value) — into the main merge as the distinct
  * aggregate's exact delta. Aggs over the SAME distinct expression
  * share one pair table. Retraction-exact, O(changed pairs) per refresh.
  *
  * Refresh reads the source changelog `(applied, head]`, signs rows
  * (+1 insert / -1 delete pre-image), re-evaluates the stored
  * filter/group/aggregate SQL over the signed rows, and merges the
  * per-group deltas into the storage table via one atomic
  * [[GraftTable.applyNetChanges]] with NULL-SAFE keys — a GROUP BY over
  * a nullable expression legitimately owns a NULL-keyed group row, and
  * the keyed merge addresses it like any other. A negative post-merge
  * group count means the marker and changelog disagree — refresh
  * aborts instead of writing garbage.
  */
object GraftMaterializedView {

  val StorageSuffix = "__rows"
  val SqlProp = "graft.mview.sql"
  val SourceProp = "graft.mview.source" // FACT "<ns>/<table>" under the same warehouse
  val AppliedProp = "graft.mview.applied-version"
  val ModeProp = "graft.mview.mode" // incremental | full
  val FilterProp = "graft.mview.filter" // '' = none
  val GroupProp = "graft.mview.group" // JSON [[name, sql], ...]
  val AggProp = "graft.mview.aggs" // JSON [[name, kind, sql], ...]
  val DimsProp = "graft.mview.dims" // JSON [[rel, joinType, condSql], ...]
  val DimVersProp = "graft.mview.dim-versions" // JSON [[rel, version], ...]
  /** UNION ALL facts beyond the first: JSON [[rel, version], ...] —
    * each leg carries its own applied pin (the first leg rides
    * [[SourceProp]]/[[AppliedProp]]). Union is linear in every leg, so
    * refresh just adds each leg's signed changelog slice.
    */
  val UFactsProp = "graft.mview.union"
  /** Per-leg WHERE under UNION ALL: JSON [[rel, filterSql], ...] for
    * EVERY leg (first leg = the fact's rel; '' = unfiltered). Union is
    * linear, so each leg's slice simply applies its own filter before
    * the shared shape — shard tables with different retention
    * predicates share one MV.
    */
  val UFilterProp = "graft.mview.union-where"
  // per-leg SELECT lists (round 17): one row per leg — [rel, expr1 AS
  // name1, expr2 AS name2, ...] — a bare [rel] row means identity. Every
  // leg read (create scan, head scan, changelog slice) applies its leg's
  // WHERE on the scan columns first, then this projection onto the
  // union's output names, before the shared shape SQL.
  val UProjProp = "graft.mview.union-select"
  /** ROLLUP/CUBE/GROUPING SETS: JSON list of grouping sets, each a list
    * of included positions into the stored group columns (e.g. rollup
    * over 2 keys = [[0,1],[0],[]]). Absent = plain GROUP BY.
    */
  val GroupSetsProp = "graft.mview.group-sets"
  /** Rank-per-group (analytic window) MVs — mode "window". The stored
    * rows are the POST-rank-filter output (top-N per group), so storage
    * stays O(groups × N); refresh recomputes only changelog-touched
    * partition groups from the source AS OF the head (window functions
    * never cross partitions, so a per-group recompute is exact) while
    * untouched groups keep their stored rows.
    */
  val WinPartProp = "graft.mview.win-part" // JSON [[storedName, sourceSql]]
  val WinProjProp = "graft.mview.win-proj" // JSON [[storedName, sourceSql]] incl. _mv_rn
  val WinFilterProp = "graft.mview.win-where" // rank predicate over stored names; '' = none
  /** Per-group ROW_NUMBER over the window's own (partition, order) —
    * the uniqueness component of the merge key (partCols, _mv_rn):
    * RANK/DENSE_RANK tie, ROW_NUMBER doesn't. Ties order arbitrarily,
    * but touched groups are replaced WHOLESALE each refresh, so the
    * stored set equals a recompute set even when tied rows swap slots.
    */
  val WinRnCol = "_mv_rn"
  val RowsCol = "_mv_rows"
  /** Two-level auto-cascade marker (round 17): the outer MV's storage
    * carries "ns/name" of the HIDDEN inner MV auto-registered for its
    * subquery — a window MV `<name>__w` under an aggregate-OVER-window
    * shape, an incremental agg MV `<name>__a` under the dual
    * window-OVER-aggregate (rank-over-rollup) shape; refresh()
    * refreshes the inner first (so the inner storage changelog the
    * outer consumes is current) and drop() drops the inner after the
    * outer.
    */
  val CascadeProp = "graft.mview.cascade"
  /** Grouping-id merge-key column for grouping-sets MVs: two sets can
    * produce identical key tuples (a real NULL key vs a rolled-up one),
    * so the grouping id joins the merge key to keep rows addressable.
    */
  val GidCol = "_mv_gid"
  /** Synthetic constant merge key for GLOBAL aggregates (no GROUP BY):
    * the storage table holds exactly one row and the keyed merge needs
    * a key column to address it. Hidden like all `_mv_` bookkeeping.
    */
  val GlobalKeyCol = "_mv_g"
  def nnCol(i: Int): String = s"_mv_nn_$i"
  def asCol(i: Int): String = s"_mv_as_$i" // AVG running sum (double / exact decimal)
  /** COUNT(DISTINCT) dedup-level aux table: `<storage>__dl<i>` holds one
    * row per (group, value) pair with `_mv_rows` = that pair's net
    * source-row count. The distinct count's delta is the pair BIRTH
    * (+1) / DEATH (−1) stream — exactly the aux table's own changelog —
    * which makes retraction exact (Gupta/Mumick counting algorithm).
    */
  def dlSuffix(i: Int): String = s"__dl$i"
  val DlVCol = "_mv_dlv" // the distinct expression's value in the aux table
  def dlVerProp(i: Int): String = s"graft.mview.dl-version.$i" // aux version folded into main

  final case class AggSpec(name: String, kind: AggKind, sql: String)

  /** How one maintained aggregate is stored, signed, folded and merged:
    * the one definition every create, full-rebuild and refresh site
    * reads. The kinds form five families (count, running sum, double
    * AVG, decimal AVG, extreme); all but the extreme have a plain and a
    * DISTINCT form. A DISTINCT form keeps no delta of its own: phase B
    * folds its pair table's changelog into the columns its plain form's
    * delta carries, so the merge treats both forms alike. `id` is the
    * kind's name in [[AggProp]].
    */
  sealed abstract class AggKind(val id: String, val distinct: Boolean) {
    /** The public column over a grouped base (create, full rebuild). */
    def public(a: AggSpec): Column
    /** Hidden bookkeeping (storage column, aggregate over a grouped
      * base), in stored order; each merges by [[mergeAdd]]. */
    def hidden(a: AggSpec, i: Int): Seq[(String, Column)] = Nil
    /** The signed per-group delta over a `_sign`ed slice. */
    protected def signed(a: AggSpec, i: Int): Seq[Column]
    final def delta(a: AggSpec, i: Int): Seq[Column] = if (distinct) Nil else signed(a, i)
    /** Phase B, DISTINCT forms: (delta column, zero when the pair table
      * did not move, fold over its `_mv_s`-signed changelog, the
      * column whose non-NULL fold flags a NULL value fold as overflow).
      */
    def fold(a: AggSpec, i: Int, t: String => DataType): Seq[AggKind.Fold] = Nil
    /** The public value merged from the merge join's two sides. */
    def merged(a: AggSpec, i: Int, t: String => DataType): Column
    /** The running sum whose NULL at a positive non-null count can only
      * be DECIMAL(38) overflow: the guard families name it.
      */
    protected def guarded(a: AggSpec, i: Int): Option[String] = None
    def extreme: Option[AggKind.Extreme] = None

    /** Overflow seen on the merge join's sides. Spark's non-ANSI
      * decimal `+` returns NULL past DECIMAL(38), and the merge's
      * coalesce would resurrect a NULL sum as 0, a confidently wrong
      * value forever. So abort when the stored sum is NULL at a positive
      * stored count (corrupt storage, or a full refresh that stored the
      * SQL overflow answer), or when a plain form's delta sum is NULL at
      * a nonzero delta count (it overflowed inside the delta
      * aggregation; a DISTINCT form's fold flags that itself).
      */
    final def overflowed(a: AggSpec, i: Int): Seq[Column] = guarded(a, i).toSeq.flatMap { s =>
      val stored = curExists && coalesce(curCol(nnCol(i)), lit(0L)) > 0L && curCol(s).isNull
      if (distinct) Seq(stored)
      else Seq(stored, deltaCol(s).isNull && deltaCol(nnCol(i)) =!= 0L)
    }
    /** Overflow in the merge itself, over the merged frame: every
      * legitimate merged sum is non-NULL (the coalesces see to that).
      */
    final def overflowedMerge(a: AggSpec, i: Int): Option[Column] =
      guarded(a, i).map(s => col(s"`${nnCol(i)}`") > 0L && col(s"`$s`").isNull)
  }

  object AggKind {
    type Fold = (String, Column, Column, Option[String])
    private def count1(e: Column, distinct: Boolean) =
      if (distinct) count_distinct(e) else count(e)
    private def sum1(e: Column, distinct: Boolean) =
      if (distinct) sum_distinct(e) else sum(e)
    private def nnDelta(e: Column) = sum(when(e.isNotNull, col("_sign")).otherwise(lit(0L)))
    // sign via negate, not multiply: DECIMAL(p,s) * BIGINT goes through
    // the precision-loss adjust (precision p+21), which at p+s+21 > 38
    // rounds every signed value to scale 38-(p+11) BEFORE the sum. -e
    // keeps the input's exact (p,s), so the summed delta (and the pair
    // fold) lands in the SAME type the stored running sum uses.
    private def signedSum(e: Column) = sum(when(col("_sign") === 1L, e).otherwise(negate(e)))
    private def signedPair = when(col("_mv_s") === 1L, col(DlVCol)).otherwise(negate(col(DlVCol)))
    private def pairCount = sum(col("_mv_s"))
    private def nnFold(i: Int): Fold = (nnCol(i), lit(0L), pairCount, None)

    /** COUNT(e) / COUNT(*) / COUNT(DISTINCT e): the count adds its delta. */
    final class Counting private[AggKind] (id: String, distinct: Boolean, star: Boolean)
        extends AggKind(id, distinct) {
      def public(a: AggSpec): Column = count1(if (star) lit(1) else expr(a.sql), distinct)
      protected def signed(a: AggSpec, i: Int): Seq[Column] =
        Seq((if (star) sum(col("_sign")) else nnDelta(expr(a.sql))).as(a.name))
      override def fold(a: AggSpec, i: Int, t: String => DataType): Seq[Fold] =
        Seq((a.name, lit(0L), pairCount, None))
      def merged(a: AggSpec, i: Int, t: String => DataType): Column = mergeAdd(a.name, t)
    }

    /** SUM(e) / SUM(DISTINCT e): the public running sum plus its
      * non-null count `_mv_nn` (alive-pair count for DISTINCT), so a
      * SUM over only-NULL inputs stays NULL instead of drifting to 0.
      * A pair birth folds +value, a death -value, a carrier-count
      * update nets 0. Either form's sum is legitimately NULL only at
      * nn = 0, so a NULL at nn > 0 is DECIMAL(38) overflow.
      */
    final class Summing private[AggKind] (id: String, distinct: Boolean)
        extends AggKind(id, distinct) {
      def public(a: AggSpec): Column = sum1(expr(a.sql), distinct)
      override def hidden(a: AggSpec, i: Int) = Seq(nnCol(i) -> count1(expr(a.sql), distinct))
      protected def signed(a: AggSpec, i: Int): Seq[Column] =
        Seq(signedSum(expr(a.sql)).as(a.name), nnDelta(expr(a.sql)).as(nnCol(i)))
      override def fold(a: AggSpec, i: Int, t: String => DataType): Seq[Fold] = {
        val sumT = t(a.name)
        Seq((a.name, lit(0).cast(sumT), sum(signedPair).cast(sumT),
            Option(nnCol(i)).filter(_ => sumT.isInstanceOf[DecimalType])),
          nnFold(i))
      }
      def merged(a: AggSpec, i: Int, t: String => DataType): Column =
        when(mergeAdd(nnCol(i), t) === 0L, lit(null).cast(t(a.name)))
          .otherwise(mergeAdd(a.name, t))
      override protected def guarded(a: AggSpec, i: Int) = Some(a.name)
    }

    /** AVG(e) / AVG(DISTINCT e) over a non-decimal: `_mv_as` holds the
      * running double sum, `_mv_nn` the non-null count, the public
      * column their quotient. Spark's non-decimal Average accumulates in
      * double and divides by the count, so the decomposition is
      * bit-identical to a recompute (the DISTINCT form averages the
      * ORIGINAL type's distinct values, matching the pair table).
      */
    final class DoubleAveraging private[AggKind] (id: String, distinct: Boolean)
        extends AggKind(id, distinct) {
      def public(a: AggSpec): Column =
        if (distinct) expr(s"avg(DISTINCT (${a.sql}))").cast(DoubleType)
        else avg(expr(a.sql).cast(DoubleType))
      override def hidden(a: AggSpec, i: Int) = Seq(
        asCol(i) -> sum1(expr(a.sql).cast(DoubleType), distinct),
        nnCol(i) -> count1(expr(a.sql), distinct))
      protected def signed(a: AggSpec, i: Int): Seq[Column] = Seq(
        sum(expr(a.sql).cast(DoubleType) * col("_sign")).as(asCol(i)),
        nnDelta(expr(a.sql)).as(nnCol(i)))
      override def fold(a: AggSpec, i: Int, t: String => DataType): Seq[Fold] =
        Seq((asCol(i), lit(0d), sum(signedPair.cast(DoubleType)), None), nnFold(i))
      def merged(a: AggSpec, i: Int, t: String => DataType): Column = {
        val nn = mergeAdd(nnCol(i), t)
        when(nn === 0L, lit(null).cast(DoubleType)).otherwise(mergeAdd(asCol(i), t) / nn)
      }
    }

    /** AVG(e) / AVG(DISTINCT e) over a decimal: an exact decimal running
      * sum `_mv_as` at its stored type (the Column `+` would re-round
      * at precision 38), divided at merge by [[avgDivide]], the
      * identical division Spark's decimal Average evaluates, so the
      * maintained value replays a recompute bit-for-bit at every (p,s).
      */
    final class DecimalAveraging private[AggKind] (id: String, distinct: Boolean)
        extends AggKind(id, distinct) {
      def public(a: AggSpec): Column =
        if (distinct) expr(s"avg(DISTINCT (${a.sql}))") else avg(expr(a.sql))
      override def hidden(a: AggSpec, i: Int) = Seq(
        asCol(i) -> sum1(expr(a.sql), distinct), nnCol(i) -> count1(expr(a.sql), distinct))
      protected def signed(a: AggSpec, i: Int): Seq[Column] =
        Seq(signedSum(expr(a.sql)).as(asCol(i)), nnDelta(expr(a.sql)).as(nnCol(i)))
      override def fold(a: AggSpec, i: Int, t: String => DataType): Seq[Fold] = {
        val sumT = t(asCol(i))
        Seq((asCol(i), lit(0).cast(sumT), sum(signedPair).cast(sumT), Some(nnCol(i))), nnFold(i))
      }
      def merged(a: AggSpec, i: Int, t: String => DataType): Column = {
        val outT = t(a.name).asInstanceOf[DecimalType]
        val nn = mergeAdd(nnCol(i), t)
        when(nn === 0L, lit(null).cast(outT))
          .otherwise(avgDivide(mergeAdd(asCol(i), t), nn, outT))
      }
      override protected def guarded(a: AggSpec, i: Int) = Some(asCol(i))
    }

    /** MIN(e) / MAX(e) (DISTINCT is a no-op on an extreme): the delta
      * carries the inserted-side and deleted-side extremes. Inserts
      * merge in closed form; a deleted value that ties or beats the
      * closed-form candidate flags the group for recompute from the
      * source.
      */
    final class Extreme private[AggKind] (id: String, val pick: Column => Column,
                                          closer: (Column, Column) => Column,
                                          reaches: (Column, Column) => Column)
        extends AggKind(id, false) {
      def public(a: AggSpec): Column = pick(expr(a.sql))
      protected def signed(a: AggSpec, i: Int): Seq[Column] = Seq(
        pick(when(col("_sign") === 1L, expr(a.sql))).as(insCol(i)),
        pick(when(col("_sign") === -1L, expr(a.sql))).as(retCol(i)))
      def merged(a: AggSpec, i: Int, t: String => DataType): Column = closedForm(a, i)
      // the stored extreme folded with the inserted-side one (least /
      // greatest skip NULLs): exact unless a deleted value reaches it
      private def closedForm(a: AggSpec, i: Int): Column =
        when(curExists, closer(curCol(a.name), deltaCol(insCol(i)))).otherwise(deltaCol(insCol(i)))
      /** The recompute flag. Comparing against the candidate, not just
        * the stored value, also catches a group born within this slice
        * whose in-slice insert was deleted again, and a NULL candidate
        * while a non-null value was deleted (unknowable).
        */
      def retracted(a: AggSpec, i: Int): Column = {
        val cf = closedForm(a, i)
        deltaCol(retCol(i)).isNotNull && (cf.isNull || reaches(deltaCol(retCol(i)), cf))
      }
      override def extreme: Option[Extreme] = Some(this)
    }

    val Count = new Counting("count", false, star = false)
    val CountStar = new Counting("count_star", false, star = true)
    val CountDistinct = new Counting("cdistinct", true, star = false)
    val Sum = new Summing("sum", false)
    val SumDistinct = new Summing("sdistinct", true)
    val Avg = new DoubleAveraging("avg", false)
    val AvgDistinct = new DoubleAveraging("adistinct", true)
    val DecimalAvg = new DecimalAveraging("davg", false)
    val DecimalAvgDistinct = new DecimalAveraging("dadistinct", true)
    val Min = new Extreme("min", min(_), least(_, _), _ <= _)
    val Max = new Extreme("max", max(_), greatest(_, _), _ >= _)
    private val all = Seq(Count, CountStar, CountDistinct, Sum, SumDistinct, Avg,
      AvgDistinct, DecimalAvg, DecimalAvgDistinct, Min, Max)
    def apply(id: String, agg: String): AggKind =
      all.find(_.id == id).getOrElse(sys.error(s"bad agg kind $id for $agg"))
  }

  // the merge join's sides: `c` the stored row (absent for a new
  // group), `d` the group's folded delta
  private def curCol(n: String): Column = col(s"c.`$n`")
  private def deltaCol(n: String): Column = col(s"d.`$n`")
  private def curExists: Column = curCol(RowsCol).isNotNull

  /** Add a column's stored and delta values at its stored type: exact
    * for a decimal (see [[exactDecimalAdd]]), a missing side as 0.
    */
  private def mergeAdd(n: String, t: String => DataType): Column = t(n) match {
    case d: DecimalType => exactDecimalAdd(
      coalesce(curCol(n), lit(0).cast(d)), coalesce(deltaCol(n), lit(0).cast(d)), d)
    case o => coalesce(curCol(n), lit(0).cast(o)) + coalesce(deltaCol(n), lit(0).cast(o))
  }

  /** Distinct aggregates maintained through a dedup-level pair table.
    * Aggs over the SAME distinct expression share ONE table (a
    * COUNT(DISTINCT x) + SUM(DISTINCT x) pair costs one pair table, not
    * two): the canonical index is the first using agg's position, and
    * `users` lists every (spec, position) folding from it.
    */
  private def dlGroups(aggs: Seq[AggSpec]): Seq[(Int, String, Seq[(AggSpec, Int)])] =
    aggs.zipWithIndex.filter(_._1.kind.distinct)
      .groupBy(_._1.sql).toSeq
      .map { case (vsql, users) => (users.map(_._2).min, vsql, users) }
      .sortBy(_._1)

  final case class Shape(filter: Option[String],
                         groups: Seq[(String, String)],
                         aggs: Seq[AggSpec],
                         sets: Option[Seq[Seq[Int]]] = None)

  /** A dimension side of a maintainable join: the bare graft relation,
    * the join type ("inner" | "left_outer", fact always on the left),
    * and the deterministic ON condition's SQL.
    */
  final case class DimSpec(table: GraftTable, joinType: String, condSql: String)

  /** A fully-analyzed maintainable shape: the FACT (whose changelog
    * drives refresh), the static dimension joins, further UNION ALL
    * fact legs (each with its own pin — mutually exclusive with dims),
    * and the filter/group/agg shape over the joined row.
    */
  final case class JoinShape(fact: GraftTable, dims: Seq[DimSpec], shape: Shape,
                             // further UNION ALL legs, each with its
                             // optional per-leg WHERE and per-leg SELECT
                             // list (rendered SQL, positional onto the
                             // union's output names)
                             unionLegs: Seq[(GraftTable, Option[String],
                               Option[Seq[String]])] = Nil,
                             // the FIRST leg's own WHERE under a union
                             factLegFilter: Option[String] = None,
                             // the FIRST leg's own SELECT under a union
                             factLegProj: Option[Seq[String]] = None,
                             having: Option[String] = None,
                             // public view columns in OUTPUT order when any
                             // is computed (grouping()/grouping_id() over
                             // the stored _mv_gid): name -> None (stored)
                             // or Some((sql, dataType)) (view-computed)
                             viewCols: Option[Seq[(String, Option[(String, DataType)])]] = None)

  private def specJson(pairs: Seq[Seq[String]]): String =
    JsonMethods.compact(JsonMethods.render(
      JArray(pairs.map(p => JArray(p.map(JString(_)).toList)).toList)))

  private def specFromJson(s: String): Seq[Seq[String]] =
    JsonMethods.parse(s) match {
      case JArray(xs) => xs.map {
        case JArray(ys) => ys.map { case JString(v) => v; case o => sys.error(s"bad spec $o") }
        case o => sys.error(s"bad spec $o")
      }
      case o => sys.error(s"bad spec $o")
    }

  private def plainSql(e: Expression): String = e.transform {
    case a: AttributeReference => a.withQualifier(Nil)
  }.sql

  /** EXACT decimal running-sum addition at the stored sum type. The
    * Column `+` goes through the precision-loss adjust, which at
    * precision 38 (any input precision >= 28) re-types
    * DECIMAL(38,s)+DECIMAL(38,s) as DECIMAL(38,s-1) — rounding away the
    * running sum's last digit on every merge. Spark's own decimal
    * Sum/Average accumulate with [[DecimalAddNoOverflowCheck]] at the
    * FIXED buffer type (exact, unbounded BigDecimal underneath); this
    * is that same add, wrapped in [[CheckOverflow]] so a genuine
    * DECIMAL(38) overflow surfaces as NULL for the overflow abort
    * instead of silently wrapping.
    */
  private def exactDecimalAdd(a: Column, b: Column, dt: DecimalType): Column = {
    import org.apache.spark.sql.catalyst.expressions.{CheckOverflow, DecimalAddNoOverflowCheck}
    org.apache.spark.sql.GraftSqlShim.column(CheckOverflow(
      DecimalAddNoOverflowCheck(
        org.apache.spark.sql.GraftSqlShim.expression(a),
        org.apache.spark.sql.GraftSqlShim.expression(b), dt),
      dt, nullOnOverflow = true))
  }

  /** The EXACT division Spark's decimal Average evaluates — quotient
    * computed at full precision and rounded ONCE (HALF_UP) at the avg
    * output scale. The Column `/` is NOT that division: it rounds at
    * the precision-loss-adjusted scale first and the final cast rounds
    * again, so at wide types it is coarser than AVG (adjusted scale <
    * s+4 for precision > 24) and even in-gate it can double-round on
    * ..4999.. quotient boundaries. Replaying the identical expression —
    * including nullOnOverflow, which Average sets to !ansiEnabled — makes
    * the maintained value bit-identical to `avg()` at EVERY decimal
    * (p,s) under BOTH ANSI modes: a quotient that cannot fit the avg
    * output type throws under ANSI and yields NULL otherwise, exactly
    * as a recompute would.
    */
  private def avgDivide(sumC: Column, countC: Column, outT: DecimalType): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, DecimalDivideWithOverflowCheck}
    val ansi = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
    org.apache.spark.sql.GraftSqlShim.column(DecimalDivideWithOverflowCheck(
      org.apache.spark.sql.GraftSqlShim.expression(sumC),
      Cast(org.apache.spark.sql.GraftSqlShim.expression(countC), DecimalType(20, 0)),
      outT, null, nullOnOverflow = !ansi))
  }

  private def unwrapAliases(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, c) => unwrapAliases(c)
    case other => other
  }

  private def graftLeafRel(p: LogicalPlan): Option[DataSourceV2Relation] =
    unwrapAliases(p) match {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftV2Table] => Some(r)
      case _ => None
    }

  /** Analyzed UNION ALL fact: the first leg (its changelog is the
    * staleness contract's tracked source), the further legs with their
    * per-leg WHERE/SELECT SQL, the first leg's own WHERE/SELECT, and
    * the union's OUTPUT column names (what the shape SQL and any join
    * conditions reference).
    */
  private final case class UnionLegs(
      fact: DataSourceV2Relation,
      legs: Seq[(DataSourceV2Relation, Option[String], Option[Seq[String]])],
      factFilter: Option[String],
      factProj: Option[Seq[String]],
      outNames: Seq[String])

  /** UNION ALL of bare graft scans: union is LINEAR in every leg (a
    * signed row moves through it unchanged), so each leg maintains with
    * its own pin and the stored shape SQL — rendered over the union's
    * OUTPUT names — replays against every leg. A PER-LEG WHERE is fine
    * (each leg's contribution is just its filtered slice — shard tables
    * with different retention predicates share one MV), and so is a
    * PER-LEG SELECT (round 17): a leg whose columns are renamed,
    * reordered or computed stores its own deterministic projection SQL
    * (rendered positionally onto the union's output names, analyzer
    * casts included) and every leg read — create scan, head scan,
    * changelog slice — runs scan → leg WHERE → leg SELECT before the
    * shared shape SQL, so shards with divergent physical schemas share
    * one MV.
    */
  private def analyzeUnionLegs(
      u: org.apache.spark.sql.catalyst.plans.logical.Union)
      : Either[String, UnionLegs] = {
    // the parser nests chained UNION ALLs (Union(Union(a,b),c))
    // — CombineUnions is an optimizer rule and never runs here
    def flatLegs(p: LogicalPlan): Either[String,
        Seq[(DataSourceV2Relation, Option[Expression], Seq[Expression])]] = {
      val (core, conds, m) = inlineProjections(p)
      core match {
        case u2: org.apache.spark.sql.catalyst.plans.logical.Union =>
          // a WHERE/SELECT above a NESTED union would need
          // pushing into each inner leg — keep the refusal there
          if (conds.nonEmpty)
            Left("WHERE over a nested UNION ALL — write the " +
              "filter per leg instead")
          else if (m.nonEmpty ||
              p.output.map(_.exprId) != u2.output.map(_.exprId))
            Left("SELECT over a nested UNION ALL — write the " +
              "projection per leg instead")
          else u2.children.foldLeft(Right(Nil): Either[String,
              Seq[(DataSourceV2Relation, Option[Expression], Seq[Expression])]]) {
            case (acc, c) => for { a <- acc; l <- flatLegs(c) } yield a ++ l
          }
        case other => graftLeafRel(other)
          .map { r =>
            // per-position defining expression over the scan
            // (bare attribute when no Project intervened)
            val exprs = p.output.map(a =>
              m.getOrElse(a.exprId, a: Expression))
            Seq((r, conds.reduceOption(
              org.apache.spark.sql.catalyst.expressions.And(_, _)), exprs))
          }
          .toRight("UNION ALL leg is not a bare graft table scan")
      }
    }
    val legs = flatLegs(u) match {
      case Right(ls) => ls
      case Left(reason) => return Left(reason)
    }
    val outAttrs = u.output
    locally {
      // projected output names join the changelog metadata at
      // refresh — a leg renaming INTO those names would collide
      val bad = outAttrs.map(_.name).filter { n =>
        val l = n.toLowerCase
        l == "_change_type" || l == "_commit_version" || l == "_sign"
      }
      if (bad.nonEmpty)
        return Left(s"UNION ALL output name(s) ${bad.mkString(", ")} " +
          "collide with changelog metadata names")
    }
    if (legs.exists(_._3.length != outAttrs.length))
      return Left("UNION ALL legs differ in column count")
    if (legs.exists(_._3.zip(outAttrs).exists {
        case (e, o) => e.dataType != o.dataType }))
      return Left("UNION ALL leg column types diverge from the " +
        "union output — add explicit casts per leg")
    if (legs.exists(_._3.exists(!_.deterministic)))
      return Left("nondeterministic UNION ALL leg SELECT")
    if (legs.exists(_._2.exists(!_.deterministic)))
      return Left("nondeterministic UNION ALL leg WHERE")
    val dirs = legs.map(_._1.table.asInstanceOf[GraftV2Table].underlying.tableDir)
    if (dirs.distinct.size != dirs.size)
      return Left("UNION ALL reads the same graft table twice — " +
        "per-leg pins would collide")
    // identity legs (bare scan whose columns already carry the
    // union's names in order) skip the projection; everything
    // else stores rendered per-leg SELECT SQL
    def projOf(r: DataSourceV2Relation, exprs: Seq[Expression])
        : Option[Seq[String]] = {
      val identity = exprs.length == r.output.length &&
        exprs.zip(r.output).forall {
          case (ar: AttributeReference, o) => ar.exprId == o.exprId
          case _ => false
        } &&
        exprs.zip(outAttrs).forall {
          case (ar: AttributeReference, o) =>
            ar.name.equalsIgnoreCase(o.name)
          case _ => false
        }
      if (identity) None
      else Some(exprs.zip(outAttrs).map { case (e, o) =>
        s"${plainSql(e)} AS `${o.name}`" })
    }
    Right(UnionLegs(
      legs.head._1,
      legs.tail.map { case (r, f, es) => (r, f.map(plainSql), projOf(r, es)) },
      legs.head._2.map(plainSql),
      projOf(legs.head._1, legs.head._3),
      outAttrs.map(_.name)))
  }

  /** Unroll a left-deep chain of FACT-PRESERVING joins onto bare graft
    * dimensions: the leftmost leaf is the fact (its changelog drives
    * refresh), every right side a bare graft dim. Inner and LEFT OUTER
    * qualify directly. A RIGHT OUTER join REWRITES to LEFT with the
    * sides swapped (`l RIGHT JOIN r` ≡ `r LEFT JOIN l` — identical rows,
    * and the replay SQL is name-based so column order is irrelevant)
    * whenever its non-preserved (left) side is a bare leaf, so the
    * preserved side keeps driving the changelog; FULL OUTER preserves
    * neither side and stays refused. The fact position (round 17) may
    * also be a UNION ALL of bare graft legs — a SHARDED fact star join:
    * the union is fact-preserving leg by leg, so the join telescope's
    * fact terms are just the per-leg slices joined to the pinned dims.
    */
  private def unrollJoinChain(p: LogicalPlan): Either[String,
      (Either[UnionLegs, DataSourceV2Relation],
       List[(DataSourceV2Relation, String, String)])] =
    unwrapAliases(p) match {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftV2Table] =>
        Right((Right(r), Nil))
      case u: org.apache.spark.sql.catalyst.plans.logical.Union =>
        analyzeUnionLegs(u).map(ul => (Left(ul), Nil))
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        val cond = j.condition.getOrElse(
          return Left("join without an ON condition"))
        if (!cond.deterministic) return Left("nondeterministic join condition")
        j.joinType match {
          case org.apache.spark.sql.catalyst.plans.Inner |
               org.apache.spark.sql.catalyst.plans.LeftOuter =>
            val jt = if (j.joinType == org.apache.spark.sql.catalyst.plans.Inner)
              "inner" else "left_outer"
            val d = graftLeafRel(j.right).getOrElse(
              return Left("join right side is not a bare graft table"))
            unrollJoinChain(j.left).map { case (f0, ds) =>
              (f0, ds :+ ((d, jt, plainSql(cond))))
            }
          case org.apache.spark.sql.catalyst.plans.RightOuter =>
            val d = graftLeafRel(j.left).getOrElse(
              return Left("RIGHT OUTER join whose left (non-preserved) side " +
                "is not a bare graft table — the LEFT rewrite needs a bare dim"))
            unrollJoinChain(j.right).map { case (f0, ds) =>
              (f0, ds :+ ((d, "left_outer", plainSql(cond))))
            }
          // FULL preserves neither side; the aggregate path maintains it
          // with two-sided flip terms for the SINGLE-join shape (the
          // caller enforces arity), windows refuse it
          case org.apache.spark.sql.catalyst.plans.FullOuter =>
            val d = graftLeafRel(j.right).getOrElse(
              return Left("FULL OUTER join right side is not a bare graft table"))
            unrollJoinChain(j.left).map { case (f0, ds) =>
              (f0, ds :+ ((d, "full_outer", plainSql(cond))))
            }
          case other => Left(s"unsupported join type $other " +
            "(fact-preserving inner/left-outer only; RIGHT rewrites to LEFT, " +
            "FULL maintains as a single join)")
        }
      case _ => Left("source is not a bare graft table scan or a " +
        "left-deep join of graft tables")
    }

  /** Orderable scalar types MIN/MAX maintenance supports: comparison,
    * zone-map bounds, and `least`/`greatest` are all well-defined.
    */
  private def minMaxable(t: DataType): Boolean = t match {
    case _: NumericType | StringType | BooleanType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Every graft table the analyzed plan reads. */
  private def graftSources(plan: LogicalPlan): Seq[GraftTable] =
    plan.collectWithSubqueries {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftV2Table] =>
        r.table.asInstanceOf[GraftV2Table].underlying
    }

  /** Non-graft leaf relations (temp views, files, in-memory) — their
    * changes are untracked, so an MV over them has no staleness story.
    */
  private def foreignSources(plan: LogicalPlan): Seq[String] =
    plan.collectWithSubqueries {
      case r: DataSourceV2Relation if !r.table.isInstanceOf[GraftV2Table] =>
        r.table.name()
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.toString
    }

  /** Incremental shape: Aggregate over (Filter over)? either the bare
    * FACT relation or a LEFT-DEEP chain of inner/left-outer joins whose
    * leftmost leaf is the fact and every right side is a bare graft
    * dimension. Joined shapes are maintainable because refresh pins
    * every dimension AS OF the version the stored rows were built with:
    * a signed fact-changelog row then joins to exactly the dim rows its
    * original apply saw, so retraction is exact. (A dimension that
    * MOVES forward maintains incrementally through the telescoped
    * delta — inner via multilinearity, left via the matched part plus
    * NULL-extension flip terms; only a rolled-back dim falls to one
    * full recompute.) Column names must be
    * globally unique across the join inputs: the stored shape SQL is
    * unqualified. Rejections return the reason.
    */
  /** Decoded grouping-analytics structure: the grouping id's ExprId,
    * each Aggregate grouping attr's set position, the real source SQL
    * per position (read through the below-Project's aliases), and the
    * grouping sets as included-position lists.
    */
  private final case class GroupingInfo(gidId: ExprId,
                                        attrPos: Map[ExprId, Int],
                                        groupSql: Seq[String],
                                        sets: Seq[Seq[Int]])

  /** Decode a ROLLUP/CUBE/GROUPING SETS Expand. The resolver emits
    * `Expand(projections, childOut ++ groupAttrs :+ gid,
    * Project(childOut ++ groupAliases, realChild))` where each
    * projection replicates the input row for one grouping SET —
    * excluded keys nulled, a literal grouping id last. Returns the
    * real child (for WHERE/relation unrolling) and the decoded info.
    */
  private def decodeExpand(ex: Expand, groupingExprs: Seq[Expression])
      : Either[String, (LogicalPlan, GroupingInfo)] = {
    val gid = groupingExprs.lastOption match {
      case Some(a: AttributeReference) if a.name == "spark_grouping_id" => a
      case _ => return Left("Expand without a grouping id — not a grouping-sets aggregate")
    }
    val groupAttrs: Seq[AttributeReference] = groupingExprs.init.map {
      case a: AttributeReference => a
      case other => return Left(s"non-attribute grouping over Expand: ${other.sql}")
    }
    val n = groupAttrs.length
    if (n == 0) return Left("grouping sets with no grouping columns")
    val out = ex.output
    val base = out.length - (n + 1)
    if (base < 0 || out.last.exprId != gid.exprId ||
        groupAttrs.zipWithIndex.exists { case (a, j) => out(base + j).exprId != a.exprId })
      return Left("unrecognized Expand output layout")
    val (aliasMap, realChild) = unwrapAliases(ex.child) match {
      case p: Project =>
        (p.projectList.collect { case al @ Alias(e, _) => al.exprId -> e }.toMap,
          p.child)
      case c => (Map.empty[ExprId, Expression], c)
    }
    val setsB = Seq.newBuilder[Seq[Int]]
    val sqlByPos = scala.collection.mutable.Map.empty[Int, String]
    ex.projections.foreach { proj =>
      if (proj.length != base + n + 1)
        return Left("unrecognized Expand projection arity")
      val incl = Seq.newBuilder[Int]
      (0 until n).foreach { j =>
        proj(base + j) match {
          case Literal(null, _) => ()
          case e =>
            incl += j
            if (!sqlByPos.contains(j)) {
              val real = e match {
                case a: AttributeReference => aliasMap.getOrElse(a.exprId, a)
                case other => other
              }
              if (!real.deterministic)
                return Left(s"nondeterministic grouping expression ${real.sql}")
              sqlByPos(j) = plainSql(real)
            }
        }
      }
      setsB += incl.result()
    }
    val missing = (0 until n).filterNot(sqlByPos.contains)
    if (missing.nonEmpty)
      return Left("a grouping column appears in no grouping set")
    Right((realChild, GroupingInfo(gid.exprId,
      groupAttrs.zipWithIndex.map { case (a, j) => a.exprId -> j }.toMap,
      (0 until n).map(sqlByPos), setsB.result())))
  }

  /** Classify one aggregate call into its maintained (kind, input SQL).
    * A deterministic FILTER (WHERE p) folds into the input as
    * CASE WHEN p THEN e END — exact because every supported aggregate
    * skips NULLs (COUNT(*) FILTER counts the guarded literal);
    * nondeterministic predicates keep the FILTER and land in the
    * unsupported-aggregate refusal.
    */
  private def aggSpecOf(ae0: AggregateExpression, ctx: String)
      : Either[String, (AggKind, String)] = {
    val ae = ae0 match {
      case AggregateExpression(fn, m, dist, Some(p), rid) if p.deterministic =>
        def guard(e: Expression): Expression = CaseWhen(Seq((p, e)), None)
        fn match {
          case Sum(e, em) => AggregateExpression(Sum(guard(e), em), m, dist, None, rid)
          case Count(es) =>
            val one = es match {
              case Seq(e) => e
              case Seq() => Literal(1)
              case _ => return Left(s"multi-argument COUNT in $ctx")
            }
            AggregateExpression(Count(Seq(guard(one))), m, dist, None, rid)
          case Average(e, em) =>
            AggregateExpression(Average(guard(e), em), m, dist, None, rid)
          case Min(e) => AggregateExpression(Min(guard(e)), m, dist, None, rid)
          case Max(e) => AggregateExpression(Max(guard(e)), m, dist, None, rid)
          case _ => ae0
        }
      case other => other
    }
    ae match {
      case AggregateExpression(Sum(e, _), _, false, None, _) =>
        if (!e.deterministic) return Left(s"nondeterministic SUM in $ctx")
        Right((AggKind.Sum, plainSql(e)))
      case AggregateExpression(Sum(e, _), _, true, None, _) =>
        // SUM(DISTINCT x), decimal included: rides the same dedup-level
        // pair table as COUNT(DISTINCT) (see AggKind.Summing)
        if (!e.deterministic) return Left(s"nondeterministic SUM(DISTINCT) in $ctx")
        e.dataType match {
          case _: NumericType => Right((AggKind.SumDistinct, plainSql(e)))
          case _ => Left(s"non-numeric SUM(DISTINCT) in $ctx")
        }
      case AggregateExpression(Count(es), _, false, None, _) =>
        if (es.exists(!_.deterministic))
          return Left(s"nondeterministic COUNT in $ctx")
        es match {
          case Seq(Literal(1, _)) => Right((AggKind.CountStar, ""))
          case Seq() => Right((AggKind.CountStar, ""))
          case Seq(one) => Right((AggKind.Count, plainSql(one)))
          case _ => Left(s"multi-argument COUNT in $ctx")
        }
      case AggregateExpression(Count(es), _, true, None, _) =>
        // COUNT(DISTINCT x): maintained by the counting algorithm — a
        // dedup-level aux table keyed (group, value) whose pair
        // births/deaths are the distinct count's exact deltas.
        es match {
          case Seq(one) =>
            if (!one.deterministic)
              return Left(s"nondeterministic COUNT(DISTINCT) in $ctx")
            if (!minMaxable(one.dataType))
              return Left(s"COUNT(DISTINCT) over an unorderable type in $ctx")
            Right((AggKind.CountDistinct, plainSql(one)))
          case _ => Left(s"multi-argument COUNT(DISTINCT) in $ctx")
        }
      case AggregateExpression(Average(e, _), _, true, None, _) =>
        // AVG(DISTINCT x) = SUM(DISTINCT)/COUNT(DISTINCT), both from the
        // shared pair table, exact like AVG below
        if (!e.deterministic) return Left(s"nondeterministic AVG(DISTINCT) in $ctx")
        e.dataType match {
          case _: DecimalType => Right((AggKind.DecimalAvgDistinct, plainSql(e)))
          case _: NumericType => Right((AggKind.AvgDistinct, plainSql(e)))
          case _ => Left(s"non-numeric AVG(DISTINCT) in $ctx")
        }
      case AggregateExpression(Average(e, _), _, false, None, _) =>
        if (!e.deterministic) return Left(s"nondeterministic AVG in $ctx")
        e.dataType match {
          // decimal AVG is exact at EVERY (p,s): see AggKind.DecimalAveraging
          case _: DecimalType => Right((AggKind.DecimalAvg, plainSql(e)))
          case _: NumericType => Right((AggKind.Avg, plainSql(e)))
          case _ => Left(s"non-numeric AVG in $ctx")
        }
      case AggregateExpression(Min(e), _, _, None, _) =>
        // DISTINCT is a no-op on an extreme — same maintained kind
        if (!e.deterministic) return Left(s"nondeterministic MIN in $ctx")
        if (!minMaxable(e.dataType)) return Left(s"unorderable MIN type in $ctx")
        Right((AggKind.Min, plainSql(e)))
      case AggregateExpression(Max(e), _, _, None, _) =>
        if (!e.deterministic) return Left(s"nondeterministic MAX in $ctx")
        if (!minMaxable(e.dataType)) return Left(s"unorderable MAX type in $ctx")
        Right((AggKind.Max, plainSql(e)))
      case _ => Left(s"unsupported aggregate in $ctx")
    }
  }

  private def analyzeShape(analyzed: LogicalPlan): Either[String, JoinShape] = {
    unwrapAliases(analyzed) match {
      case agg: Aggregate => analyzeAggregate(agg, None, None)
      // SELECT DISTINCT is a GROUP BY over every output with no
      // aggregates — the storage's _mv_rows bookkeeping (count per
      // group, delete at zero) IS the exact multiplicity-to-set
      // maintenance, so DISTINCT MVs ride the same incremental path.
      // (The analyzer keeps the Distinct node; ReplaceDistinctWith-
      // Aggregate is an optimizer rule and never runs here.)
      case d: org.apache.spark.sql.catalyst.plans.logical.Distinct =>
        val (projList, under) = unwrapAliases(d.child) match {
          case p: Project => (p.projectList, p.child)
          case c => (c.output.toSeq: Seq[NamedExpression], c)
        }
        val grouping: Seq[Expression] = projList.map {
          case Alias(e, _) => e
          case e => e
        }
        analyzeAggregate(Aggregate(grouping, projList, under), None, None)
      // HAVING: the analyzer plans it as Filter over the Aggregate,
      // with a Project on top dropping any aggregate/group columns the
      // resolver had to ADD for the predicate (HAVING count(*) > 2 with
      // count(*) unselected; HAVING k = 'a' with the group key
      // unselected). Those extras become hidden `_mv_h<i>` storage
      // columns, maintained like any aggregate; the predicate applies
      // in the PUBLIC VIEW, so storage keeps every group and refresh
      // stays O(changes) — a group crossing the HAVING boundary just
      // appears in / vanishes from the view read.
      case Filter(cond, c) => unwrapAliases(c) match {
        case agg: Aggregate => analyzeAggregate(agg, Some(cond), None)
        case _ => Left("not a plain GROUP BY aggregate")
      }
      case Project(projList, c) => unwrapAliases(c) match {
        case Filter(cond, c2) => unwrapAliases(c2) match {
          case agg: Aggregate =>
            val attrs = Seq.newBuilder[AttributeReference]
            projList.foreach {
              case a: AttributeReference => attrs += a
              case other => return Left(
                s"HAVING projection output ${other.sql} is not a bare column")
            }
            analyzeAggregate(agg, Some(cond), Some(attrs.result()))
          case _ => Left("not a plain GROUP BY aggregate")
        }
        case _ => Left("not a plain GROUP BY aggregate")
      }
      case _ => Left("not a plain GROUP BY aggregate")
    }
  }

  /** Inline deterministic Project/Filter chains between an aggregate
    * and its source by substitution, so VIEW expansions (SubqueryAlias
    * → schema-enforcing cast Project → pruning Project → Filter → rel)
    * and sub-selects analyze as their underlying shape. Returns the
    * terminal plan (relation / join — anything that isn't an inlinable
    * node), the merged filter conjuncts, and the composed alias→expr
    * map, each alias body already rewritten to terminal-plan attrs.
    * Nondeterministic or subquery-bearing nodes stop the walk (the
    * terminal then fails the bare-scan check and the MV registers
    * full — a refusal, never a wrong inline).
    */
  private def inlineProjections(plan: LogicalPlan)
      : (LogicalPlan, Seq[Expression], Map[ExprId, Expression]) = {
    def ok(e: Expression): Boolean = e.deterministic && !e.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])
    def subst(e: Expression, m: Map[ExprId, Expression]): Expression =
      if (m.isEmpty) e
      else e.transformUp {
        case a: AttributeReference if m.contains(a.exprId) => m(a.exprId)
      }
    def walk(p: LogicalPlan)
        : (LogicalPlan, Seq[Expression], Map[ExprId, Expression]) = p match {
      case SubqueryAlias(_, c) => walk(c)
      case Project(list, c) if list.forall(ok) =>
        val (rel, conds, below) = walk(c)
        val entries = list.collect {
          case al @ Alias(e, _) => al.exprId -> subst(e, below)
        }
        (rel, conds, below ++ entries)
      case Filter(cond, c) if ok(cond) =>
        val (rel, conds, below) = walk(c)
        (rel, conds :+ subst(cond, below), below)
      case other => (other, Nil, Map.empty)
    }
    walk(plan)
  }

  private def analyzeAggregate(aggPlan: Aggregate,
                               having: Option[Expression],
                               projected: Option[Seq[AttributeReference]])
      : Either[String, JoinShape] = {
    // collapse view/sub-select expansion under the aggregate: rewrite
    // grouping and aggregate expressions onto the terminal plan's
    // attributes and remember the merged filters. Grouping-sets plans
    // (Expand) keep their own decoding path and skip the collapse.
    val (groupingExprs, aggExprs, child) = unwrapAliases(aggPlan.child) match {
      case _: Expand =>
        (aggPlan.groupingExpressions, aggPlan.aggregateExpressions, aggPlan.child)
      case c0 =>
        val (core, conds, m) = inlineProjections(c0)
        def subst(e: Expression): Expression =
          if (m.isEmpty) e
          else e.transformUp {
            case a: AttributeReference if m.contains(a.exprId) => m(a.exprId)
          }
        val ge = aggPlan.groupingExpressions.map(subst)
        val ae = aggPlan.aggregateExpressions.map {
          case al @ Alias(e, n) =>
            Alias(subst(e), n)(exprId = al.exprId): NamedExpression
          case a: AttributeReference if m.contains(a.exprId) =>
            Alias(m(a.exprId), a.name)(exprId = a.exprId): NamedExpression
          case other => other
        }
        // even with nothing substituted, analyze over the walk's
        // TERMINAL — a bare pruning Project (an MV reading another
        // MV's public view) would otherwise hide the source relation
        val rebuilt =
          if (conds.isEmpty) core
          else Filter(conds.reduce(
            org.apache.spark.sql.catalyst.expressions.And(_, _)), core)
        (ge, ae, rebuilt: LogicalPlan)
    }
    if (having.exists(!_.deterministic)) return Left("nondeterministic HAVING")
    // outputs the Project above the HAVING filter drops are storage-only:
    // renamed into the _mv_ bookkeeping namespace so the public view
    // never surfaces them
    val projectedIds: Option[Set[ExprId]] = projected.map(_.map(_.exprId).toSet)
    var hiddenIdx = 0
    val renames = scala.collection.mutable.Map.empty[ExprId, String]
    def effectiveName(id: ExprId, n: String): String =
      if (projectedIds.forall(_.contains(id))) n
      else renames.getOrElseUpdate(id, { val h = s"_mv_h$hiddenIdx"; hiddenIdx += 1; h })
    // ROLLUP / CUBE / GROUPING SETS plan as Aggregate over Expand over a
    // Project that evaluates each grouping expression once; decode the
    // Expand into per-set inclusion masks + the real grouping SQL and
    // analyze the plan UNDER it
    val (child1, setsInfo) = unwrapAliases(child) match {
      case ex: Expand => decodeExpand(ex, groupingExprs) match {
        case Right((realChild, info)) => (realChild, Some(info))
        case Left(r) => return Left(r)
      }
      case c => (c, None)
    }
    locally {
      val (filterSql, filterRefs, rel) = unwrapAliases(child1) match {
          case f @ Filter(cond, rel2) =>
            if (!cond.deterministic) return Left("nondeterministic WHERE")
            (Some(plainSql(cond)),
              cond.references.map(_.name.toLowerCase).toSet,
              unwrapAliases(rel2))
          case rel2 => (None, Set.empty[String], rel2)
        }
        // UNION ALL facts maintain per leg (see [[analyzeUnionLegs]]),
        // with optional per-leg WHERE and SELECT SQL; since round 17
        // the union may also sit in the FACT position of a left-deep
        // fact-preserving join chain (a SHARDED fact star join) — the
        // legs are each fact-preserving, so every telescope fact term
        // is a per-leg slice joined to the pinned dims, and dim terms
        // run against the union'd head.
        val (factRel, dimRels, unionRels, factLegFilter, factLegProj,
             factOutNames) =
          unrollJoinChain(unwrapAliases(rel)) match {
            case Right((Left(ul), ds)) =>
              (ul.fact, ds, ul.legs, ul.factFilter, ul.factProj,
                Some(ul.outNames))
            case Right((Right(f), ds)) => (f, ds, Nil, None, None, None)
            case Left(reason) => return Left(reason)
          }
        if (dimRels.nonEmpty) {
          // FULL OUTER's two-sided flip algebra is defined around the
          // FACT: it maintains as the FIRST join (round 17 — further
          // inner/left dims then compose linearly: the fact-side and
          // dim-side flip rows thread through the suffix chain exactly
          // as the defining query's NULL-extended rows would, and a
          // moved suffix dim's telescope term splits the FULL prefix
          // into its fact-preserved part — prunable — and its
          // extension part — anti-probed against the zone-pruned
          // fact). The fact position may be a UNION ALL (round 18):
          // union is linear leg by leg, so the FULL slice term unions
          // every leg's slice and the flip probes read the union'd
          // fact at the FROM pins (per-leg) and at the head — the
          // "preserved side" anchoring the flips is the union's output,
          // not any single shard. A FULL join deeper in the chain would
          // need the whole join PREFIX evaluated at both telescope
          // endpoints for the flip probes; a second FULL has no single
          // dim side to anchor the derivation.
          if (dimRels.exists(_._2 == "full_outer")) {
            if (dimRels.count(_._2 == "full_outer") > 1)
              return Left("more than one FULL OUTER join — the two-sided " +
                "NULL-extension flips are maintained for a single FULL join")
            if (dimRels.head._2 != "full_outer")
              return Left("FULL OUTER join must be the FIRST join on the " +
                "fact — deeper in the chain its flip probes would need " +
                "the whole join prefix evaluated at both telescope " +
                "endpoints")
          }
          // a union'd fact contributes its OUTPUT names (post-projection),
          // which is what the join conditions and shape SQL reference
          val names = (factOutNames.getOrElse(factRel.output.map(_.name)) ++
            dimRels.flatMap(_._1.output.map(_.name))).map(_.toLowerCase)
          if (names.distinct.size != names.size)
            return Left("ambiguous column names across join inputs — the " +
              "stored shape SQL is unqualified, so every column name must " +
              "be unique across the fact and dimensions")
          val factDirs = (factRel +: unionRels.map(_._1))
            .map(_.table.asInstanceOf[GraftV2Table].underlying.tableDir).toSet
          if (dimRels.exists(d => factDirs.contains(
              d._1.table.asInstanceOf[GraftV2Table].underlying.tableDir)))
            return Left("self-join of the fact table — both sides change " +
              "together, so dimension pinning cannot make retraction exact")
        }
        // refresh joins the fact CHANGELOG (which carries _change_type /
        // _commit_version) and injects _sign; a source column with one
        // of those names would be ambiguous or silently replaced at
        // refresh while create read the real values — reject up front.
        // The _mv_ prefix is the storage bookkeeping namespace.
        locally {
          val srcCols = (factRel.output ++ dimRels.flatMap(_._1.output) ++
            unionRels.flatMap(_._1.output)).map(_.name)
          val reserved = srcCols.filter { n =>
            val l = n.toLowerCase
            l == "_change_type" || l == "_commit_version" || l == "_sign"
          }
          if (reserved.nonEmpty)
            return Left(s"source column(s) ${reserved.mkString(", ")} collide " +
              "with changelog metadata names")
          // a source may CARRY _mv_ columns (an MV reading another MV's
          // storage table does) — only REFERENCING one from the shape
          // is ambiguous with this view's own bookkeeping
          val mvCols = srcCols.map(_.toLowerCase).filter(_.startsWith("_mv_")).toSet
          if (mvCols.nonEmpty) {
            val referenced = (groupingExprs ++ aggExprs)
              .flatMap(_.references.map(_.name.toLowerCase)).toSet ++ filterRefs
            val used = referenced.intersect(mvCols)
            if (used.nonEmpty)
              return Left(s"shape references source column(s) " +
                s"${used.mkString(", ")} in the reserved _mv_ bookkeeping " +
                "namespace")
          }
        }
        if (groupingExprs.exists(!_.deterministic)) return Left("nondeterministic GROUP BY")
        val groups = scala.collection.mutable.ListBuffer.empty[(String, String)]
        val aggs = scala.collection.mutable.ListBuffer.empty[AggSpec]
        // output order for the public view; grouping()/grouping_id()
        // outputs are VIEW-computed over the stored _mv_gid, not stored
        val groupPos = scala.collection.mutable.Map.empty[String, Int]
        val viewColsB =
          scala.collection.mutable.ListBuffer.empty[(String, Option[(String, DataType)])]
        val deferred = scala.collection.mutable.ListBuffer.empty[(Alias, String, Int)]
        // grouping expression -> storage column name, for rendering
        // derived outputs that reference group keys
        val groupExprToName =
          scala.collection.mutable.ListBuffer.empty[(Expression, String)]
        val minted = scala.collection.mutable.Set.empty[String] // our hidden aggs
        var hasComputed = false
        // every grouping expression the output actually carries — a
        // GROUP BY column missing from the SELECT (valid SQL) would
        // otherwise silently shrink the stored key and merge distinct
        // source groups into one wrong row
        val coveredGroups = Seq.newBuilder[Expression]
        aggExprs.foreach {
          case a: AttributeReference
              if groupingExprs.exists(_.semanticEquals(a)) &&
                !setsInfo.exists(_.gidId == a.exprId) =>
            val nm = effectiveName(a.exprId, a.name)
            val gsql = setsInfo.flatMap(i => i.attrPos.get(a.exprId).map(i.groupSql))
              .getOrElse(plainSql(a))
            setsInfo.flatMap(_.attrPos.get(a.exprId)).foreach(groupPos(nm) = _)
            groups += nm -> gsql
            coveredGroups += a
            groupExprToName += ((a, nm))
            if (!renames.contains(a.exprId)) viewColsB += ((nm, None))
          case al @ Alias(child0, name0) =>
            val name = effectiveName(al.exprId, name0)
            val (na, ng) = (aggs.size, groups.size)
            child0 match {
            case ae: AggregateExpression =>
              aggSpecOf(ae, al.sql) match {
                case Right((kind, sql)) => aggs += AggSpec(name, kind, sql)
                case Left(r) => return Left(r)
              }
            case e if setsInfo.exists(i => e.references.nonEmpty &&
                e.references.forall(_.exprId == i.gidId)) && e.deterministic =>
              // grouping() / grouping_id(): pure functions of the
              // grouping id, COMPUTED in the public view over the
              // stored _mv_gid — never stored, never maintained
              if (!renames.contains(al.exprId)) {
                val gsql = plainSql(e.transform {
                  case a: AttributeReference if a.exprId == setsInfo.get.gidId =>
                    a.withName(GidCol)
                })
                viewColsB += ((name, Some((gsql, e.dataType))))
                hasComputed = true
              }
            case e if groupingExprs.exists(_.semanticEquals(e)) && e.deterministic =>
              val gsql = (e match {
                case a: AttributeReference =>
                  setsInfo.flatMap(i => i.attrPos.get(a.exprId).map(i.groupSql))
                case _ => None
              }).getOrElse(plainSql(e))
              (e match {
                case a: AttributeReference => setsInfo.flatMap(_.attrPos.get(a.exprId))
                case _ => None
              }).foreach(p => groupPos(name) = p)
              groups += name -> gsql
              coveredGroups += e
              groupExprToName += ((e, name))
            case e if e.deterministic && !e.exists(
                _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]) =>
              // DERIVED output — an expression OVER aggregates and/or
              // group keys, e.g. SUM(a)/SUM(b), SUM(v)+1, concat(k,':'),
              // or a constant: each inner aggregate is stored (reusing a
              // public column when one matches, else a hidden _mv_h
              // extra) and the expression is COMPUTED in the public view
              // over the stored columns. Deferred to a second pass so
              // group storage names exist; a residual reference that is
              // neither a group key nor inside an aggregate refuses
              // there. Subqueries are excluded — their results move
              // without a changelog entry on THIS source.
              deferred += ((al, name, viewColsB.size))
              viewColsB += ((name, None)) // placeholder, filled in pass 2
            case _ =>
              return Left(s"output ${al.sql} is neither a grouping expression " +
                "nor a supported aggregate")
          }
          // anything the match stored (a group key or an aggregate) is a
          // PUBLIC view column unless the HAVING projection hid it
          if (!renames.contains(al.exprId) && (aggs.size > na || groups.size > ng))
            viewColsB += ((name, None))
          case other => return Left(s"unsupported output ${other.sql}")
        }
        // pass 2 — derived outputs: replace each inner aggregate with a
        // reference to its stored column (reusing an existing agg with
        // the same kind+input, else minting a hidden _mv_h extra), each
        // group-key subtree with its storage name, the grouping id with
        // _mv_gid — then render the expression as the view-computed SQL
        deferred.foreach { case (al, name, slot) =>
          if (renames.contains(al.exprId))
            return Left(s"HAVING-only derived aggregate output ${al.sql} " +
              "is not supported")
          var err: Option[String] = None
          val replaced = al.child.transformDown {
            case ae: AggregateExpression =>
              aggSpecOf(ae, al.sql) match {
                case Left(r) => err = Some(r); ae
                // COUNT(*) is already stored exactly as the _mv_rows
                // bookkeeping column — read it instead of minting a
                // duplicate hidden aggregate
                case Right((AggKind.CountStar, _))
                    if !aggs.exists(a => a.kind == AggKind.CountStar) =>
                  AttributeReference(RowsCol,
                    org.apache.spark.sql.types.LongType)()
                case Right((kind, sql)) =>
                  val nm = aggs.find(a => a.kind == kind && a.sql == sql)
                    .map(_.name).getOrElse {
                      val h = s"_mv_h$hiddenIdx"; hiddenIdx += 1
                      minted += h
                      aggs += AggSpec(h, kind, sql); h
                    }
                  AttributeReference(nm, ae.dataType)()
              }
            case t if !t.isInstanceOf[Literal] &&
                groupExprToName.exists(_._1.semanticEquals(t)) =>
              AttributeReference(
                groupExprToName.find(_._1.semanticEquals(t)).get._2, t.dataType)()
            case a: AttributeReference if setsInfo.exists(_.gidId == a.exprId) =>
              a.withName(GidCol)
          }
          err.foreach(r => return Left(r))
          val storageNames =
            (groups.map(_._1) ++ aggs.map(_.name)).toSet + GidCol + RowsCol
          if (!replaced.references.forall(r => storageNames.contains(r.name)))
            return Left(s"derived output ${al.sql} references a column that " +
              "is neither a grouping key nor inside an aggregate")
          viewColsB(slot) = (name, Some((plainSql(replaced), al.child.dataType)))
          hasComputed = true
        }
        val covered = coveredGroups.result()
        // the grouping id is OUR bookkeeping (stored as _mv_gid), never
        // a required SELECT output
        val mustCover = groupingExprs.filterNot {
          case a: AttributeReference => setsInfo.exists(_.gidId == a.exprId)
          case _ => false
        }
        if (!mustCover.forall(g => covered.exists(_.semanticEquals(g))))
          return Left("a GROUP BY expression is missing from the SELECT output " +
            "— the stored shape would aggregate at coarser granularity than " +
            "the defining query")
        // grouping sets reference key POSITIONS: order the stored group
        // columns by set position (output order may differ) and refuse
        // duplicate outputs of one key, whose replay would double it
        val orderedGroups = setsInfo match {
          case Some(info) =>
            val g = groups.toSeq
            if (g.size != info.groupSql.size ||
                g.map(_._1).exists(n => !groupPos.contains(n)) ||
                g.map(p => groupPos(p._1)).distinct.size != g.size)
              return Left("every ROLLUP/CUBE/GROUPING SETS key must appear " +
                "exactly once among the outputs")
            g.sortBy(p => groupPos(p._1))
          case None => groups.toSeq
        }
        val shape = Shape(filterSql, orderedGroups, aggs.toSeq, setsInfo.map(_.sets))
        // MIN/MAX maintain under sets: the delta replays the same
        // grouping sets (each subtotal row gets its own inserted-side /
        // retracted-side extremes) and the targeted recompute
        // re-aggregates through them. DISTINCT maintains under sets
        // too — the pair table carries per-set pair rows with the
        // value (a pre-projected copy, so even a DISTINCT over a
        // grouping key never collides with that key's set layout) in
        // EVERY set and the grouping id re-based onto the original
        // group columns (see [[dlAggregate]]), so the two tables' gid
        // layouts never interact.
        if (groupingExprs.nonEmpty && shape.groups.isEmpty)
          return Left("no grouping columns in output")
        locally {
          val hidden = renames.values.toSet ++ minted // ours, not user-chosen
          val bad = (shape.groups.map(_._1) ++ shape.aggs.map(_.name))
            .filter(n => !hidden.contains(n) && n.toLowerCase.startsWith("_mv_"))
          if (bad.nonEmpty)
            return Left(s"output name(s) ${bad.mkString(", ")} use the " +
              "reserved _mv_ bookkeeping prefix")
        }
        // the HAVING predicate rendered over STORAGE column names:
        // public aliases stay, hidden extras read through their
        // _mv_h<i> names
        val havingSql = having.map { cond =>
          val renamed = cond.transform {
            case a: AttributeReference if renames.contains(a.exprId) =>
              a.withName(renames(a.exprId))
            case a: AttributeReference if setsInfo.exists(_.gidId == a.exprId) =>
              a.withName(GidCol) // HAVING grouping(...) reads the stored id
          }
          plainSql(renamed)
        }
        Right(JoinShape(
          factRel.table.asInstanceOf[GraftV2Table].underlying,
          dimRels.map { case (d, jt, c) =>
            DimSpec(d.table.asInstanceOf[GraftV2Table].underlying, jt, c)
          },
          shape,
          unionLegs = unionRels.map { case (r, f, pj) =>
            (r.table.asInstanceOf[GraftV2Table].underlying, f, pj)
          },
          factLegFilter = factLegFilter,
          factLegProj = factLegProj,
          having = havingSql,
          viewCols = if (hasComputed) Some(viewColsB.result()) else None))
    }
  }

  /** Fold the dimension joins onto a fact frame. Catalyst plans the
    * physical join (dims under the broadcast threshold — the typical
    * star-schema case — broadcast; bigger ones shuffle normally).
    */
  private def joinBase(fact: DataFrame,
                       dims: Seq[(DataFrame, String, String)]): DataFrame =
    dims.foldLeft(fact) { case (acc, (d, jt, cond)) => acc.join(d, expr(cond), jt) }

  /** A maintainable rank-per-group window shape: one bare graft FACT,
    * an optional inner WHERE, one window (partition, order) carrying
    * only rank functions (ROW_NUMBER / RANK / DENSE_RANK), and an
    * optional outer rank predicate (`rn <= 3`). `proj` is the full
    * stored projection (public outputs first, then hidden `_mv_wh`/
    * `_mv_wp` extras, then [[WinRnCol]]); `partCols` the stored names
    * of the partition keys with their source-expression SQL.
    */
  final case class WindowShape(fact: GraftTable,
                               filter: Option[String],
                               proj: Seq[(String, String)],
                               partCols: Seq[(String, String)],
                               rankFilter: Option[String],
                               // fact-preserving dim joins under the
                               // window (rank-over-join dashboards) —
                               // pinned AS OF like agg mode
                               dims: Seq[DimSpec] = Nil,
                               // UNION ALL legs beyond the first (round
                               // 17 — sharded window dashboards), each
                               // with its per-leg WHERE/SELECT; mutually
                               // exclusive with dims
                               unionLegs: Seq[(GraftTable, Option[String],
                                 Option[Seq[String]])] = Nil,
                               factLegFilter: Option[String] = None,
                               factLegProj: Option[Seq[String]] = None)

  /** Analyze a rank-per-group top-N shape:
    * {{{
    * SELECT g, k, v, rn FROM (
    *   SELECT g, k, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) rn
    *   FROM graft.ns.t WHERE p) WHERE rn <= 3
    * }}}
    * Accepted plan stack: [bare-attr Project]? [Filter]? [Project]?
    * Window over an inlinable Project/Filter chain to a bare graft
    * relation. ANY deterministic window function qualifies — ranks,
    * running aggregates (SUM/AVG/... OVER with any frame), offsets
    * (LAG/LEAD) — because affected-group recompute re-evaluates the
    * whole group rather than decomposing the function; the window must
    * have a non-empty deterministic PARTITION BY (a global window MV
    * would recompute the whole table on any change, which is FULL
    * refresh spelled differently, so it refuses here). The outer
    * predicate may only reference stored columns. Everything rendered
    * to SQL is re-parsed by `expr()` at create/refresh (the same
    * replay-by-SQL contract the aggregate shapes use).
    */
  /** Peel `[bare-attr Project]? [Filter]?` off a (Project-composed)
    * stack of Window nodes: returns the outer bare projection (when
    * the outer-predicate shape carried one), the outer predicate, the
    * composed selection over the window stack's output, and the
    * directly-stacked Window nodes. Shared by analyzeWindow and the
    * window-over-aggregate cascade detection — both consume the same
    * plan prefix, they differ only in what they accept BELOW the stack.
    */
  private def peelWindowStack(analyzed: LogicalPlan)
      : Either[String, (Option[Seq[AttributeReference]], Option[Expression],
                        Seq[NamedExpression],
                        Seq[org.apache.spark.sql.catalyst.plans.logical.Window])] = {
    import org.apache.spark.sql.catalyst.plans.logical.Window

    // Peel a stack of Projects down to the first Window node, COMPOSING
    // them (ExtractWindowExpressions emits Project(outer) over
    // Project(inner ++ windowAttrs) over Window...) — the returned list
    // is the outermost selection rewritten over the window stack's
    // output. Functions over DIFFERENT (partition, order) specs plan as
    // STACKED Window nodes; the whole directly-stacked run is returned.
    def collectWindows(p: LogicalPlan): (Seq[Window], LogicalPlan) =
      unwrapAliases(p) match {
        case w: Window =>
          val (ws, t) = collectWindows(w.child)
          (w +: ws, t)
        case other => (Nil, other)
      }
    def asWindowStack(p: LogicalPlan): Option[(Seq[NamedExpression], Seq[Window])] =
      unwrapAliases(p) match {
        case w: Window =>
          val (ws, _) = collectWindows(w)
          Some((w.output.toSeq, ws))
        case Project(list, c) => asWindowStack(c).map { case (inner, ws) =>
          val aliased = inner.collect { case al: Alias => al.exprId -> al.child }.toMap
          val composed = list.map {
            case a: AttributeReference if aliased.contains(a.exprId) =>
              Alias(aliased(a.exprId), a.name)(exprId = a.exprId): NamedExpression
            case a: AttributeReference => a: NamedExpression
            case al @ Alias(e, n) =>
              Alias(e.transformUp {
                case a: AttributeReference if aliased.contains(a.exprId) =>
                  aliased(a.exprId)
              }, n)(exprId = al.exprId): NamedExpression
            case _ => return None // unsupported projection entry
          }
          (composed, ws)
        }
        case _ => None
      }

    // filter-free shapes compose the WHOLE Project stack (the analyzer
    // may stack an outer pruning Project over the extraction Project);
    // the outer-predicate shape peels [Project]? Filter first
    asWindowStack(unwrapAliases(analyzed)) match {
      case Some((il, wins)) => Right((None, None, il, wins))
      case None => unwrapAliases(analyzed) match {
        case Project(tl, c1) => unwrapAliases(c1) match {
          case Filter(cond, c2) => asWindowStack(c2) match {
            case Some((il, wins)) =>
              val bare = tl.map {
                case a: AttributeReference => a
                case other => return Left(
                  s"window MV outer projection ${other.sql} is not a bare column")
              }
              Right((Some(bare), Some(cond), il, wins))
            case None => Left("not a partitioned-window shape")
          }
          case _ => Left("not a partitioned-window shape")
        }
        case Filter(cond, c1) => asWindowStack(c1) match {
          case Some((il, wins)) => Right((None, Some(cond), il, wins))
          case None => Left("not a partitioned-window shape")
        }
        case _ => Left("not a partitioned-window shape")
      }
    }
  }

  private[graft] def analyzeWindow(analyzed: LogicalPlan): Either[String, WindowShape] = {
    import org.apache.spark.sql.catalyst.expressions.{RowNumber, WindowExpression}

    val (topAttrs, rankCond, innerList, ws) = peelWindowStack(analyzed) match {
      case Right(x) => x
      case Left(reason) => return Left(reason)
    }

    // the window node: ANY deterministic window function maintains —
    // affected-group recompute never decomposes the function, it
    // re-evaluates it per touched group, and a window never crosses
    // partitions. So ranks (ROW_NUMBER/RANK/DENSE_RANK/NTILE/
    // PERCENT_RANK/CUME_DIST), running aggregates (SUM/AVG/MIN/MAX/
    // COUNT OVER with any frame), and offsets (LAG/LEAD/NTH_VALUE) all
    // qualify; only nondeterministic functions/specs refuse.
    val windowMap: Map[ExprId, WindowExpression] = ws.flatMap(_.windowExpressions).map {
      case al @ Alias(we: WindowExpression, _) =>
        if (!we.deterministic)
          return Left(s"nondeterministic window expression ${we.sql}")
        al.exprId -> we
      case other => return Left(s"unsupported window expression ${other.sql}")
    }.toMap
    // every stacked node must share ONE partition — the touched-group
    // bounding is per partition key, so differently-partitioned windows
    // in one MV cannot be bounded by a single touched set
    val w = ws.head
    if (w.partitionSpec.isEmpty)
      return Left("window without PARTITION BY (a global window MV " +
        "recomputes the whole table on any change — keep it on full refresh)")
    if (ws.exists(n => n.partitionSpec.length != w.partitionSpec.length ||
        !n.partitionSpec.zip(w.partitionSpec).forall {
          case (a, b) => a.semanticEquals(b)
        }))
      return Left("window functions over DIFFERENT partitions in one MV")
    // the merge-key row number needs SOME deterministic order; take the
    // first node that carries one (order-free windows like
    // AVG() OVER (PARTITION BY g) don't need order for themselves)
    val rnOrder = ws.map(_.orderSpec).find(_.nonEmpty).getOrElse(
      return Left("window MV without any ORDER BY — the merge key needs " +
        "a deterministic per-group row order"))

    // collapse anything between the window stack and its relation: a
    // bare graft scan, or a left-deep chain of fact-preserving joins
    // onto bare graft dims (rank-over-join dashboards — the most common
    // real window-MV shape). The dims pin AS OF like agg mode; refresh
    // derives touched partition keys from the fact changelog JOINED to
    // the pinned dims (and, for a moved dim, from the dim slice's
    // affected fact rows) and recomputes those groups from the joined
    // head — the window never crosses partitions, so per-group
    // recompute over the join is exact.
    val (terminal, conds, m) = inlineProjections(ws.last.child)
    val (fact, dims, legs, factLegFilter, factLegProj, unionOutNames) =
      unrollJoinChain(terminal) match {
        case Right((Right(f), ds)) =>
          (f.table.asInstanceOf[GraftV2Table].underlying,
            ds.map { case (d, jt, c) =>
              DimSpec(d.table.asInstanceOf[GraftV2Table].underlying, jt, c)
            },
            Nil: Seq[(GraftTable, Option[String], Option[Seq[String]])],
            None: Option[String], None: Option[Seq[String]],
            None: Option[Seq[String]])
        case Right((Left(ul), ds)) =>
          // a UNION ALL fact (round 17 — sharded window dashboards):
          // touched partition keys derive from EVERY leg's changelog
          // slice (through its per-leg WHERE/SELECT, and joined to the
          // pinned dims when the union composes with a join), the
          // affected groups recompute from the union'd head, and each
          // leg keeps its own pin.
          (ul.fact.table.asInstanceOf[GraftV2Table].underlying,
            ds.map { case (d, jt, c) =>
              DimSpec(d.table.asInstanceOf[GraftV2Table].underlying, jt, c)
            },
            ul.legs.map { case (r, f, pj) =>
              (r.table.asInstanceOf[GraftV2Table].underlying, f, pj)
            }, ul.factFilter, ul.factProj, Some(ul.outNames))
        case Left(reason) => return Left(s"window MV source: $reason")
      }
    if (dims.nonEmpty) {
      // the stored replay SQL is UNQUALIFIED — every column name must be
      // unique across the join, and the changelog metadata names must
      // not collide with source columns (key derivation joins the fact
      // CHANGELOG to the dims). A union'd fact contributes its OUTPUT
      // (post-projection) names — what the join condition references.
      val allCols = unionOutNames.getOrElse(
        fact.schema.fields.map(_.name).toSeq) ++
        dims.flatMap(_.table.schema.fields.map(_.name))
      val lower = allCols.map(_.toLowerCase)
      if (lower.distinct.size != lower.size)
        return Left("ambiguous column names across the window MV's join " +
          "inputs — the stored replay SQL is unqualified, so every column " +
          "name must be unique across the fact and dimensions")
      val reserved = allCols.filter { n =>
        val l = n.toLowerCase
        l == "_change_type" || l == "_commit_version" || l == "_sign"
      }
      if (reserved.nonEmpty)
        return Left(s"source column(s) ${reserved.mkString(", ")} collide " +
          "with changelog metadata names")
      val factDirs = (fact +: legs.map(_._1)).map(_.tableDir).toSet
      if (dims.exists(d => factDirs.contains(d.table.tableDir)))
        return Left("self-join of the fact table — both sides change " +
          "together, so dimension pinning cannot bound the touched groups")
      // FULL under a window (round 18, closes r17 verdict #5): the
      // dim-side NULL extensions ARE boundable — a flipped extension
      // touches exactly its own group's key, derived by NULL-extending
      // the fact side of the slice-matched dim rows (and of the dim
      // slice itself) — so refreshWindow adds those key terms and
      // recomputes touched groups from the FULL-joined head.
      //
      // FULL + SUFFIX dims (round 19, closes r18 verdict #3): mirroring
      // agg mode, the FULL must be the FIRST join; further inner/left
      // dims then compose linearly — every extension frame (slice-
      // matched partners, the dim slice's own extensions, and the
      // anti-probed extension set a moved suffix dim's paths traverse)
      // threads through the suffix chain before its keys are taken, and
      // a moved suffix dim's touched keys derive by substituting its
      // slice into the full join chain at BOTH telescope endpoints.
      // A union'd fact under FULL still refuses (per-leg extension
      // terms), as does a second FULL (no single dim side to anchor).
      if (dims.exists(_.joinType == "full_outer")) {
        if (dims.count(_.joinType == "full_outer") > 1)
          return Left("more than one FULL OUTER join under a window MV — " +
            "the two-sided NULL-extension terms are maintained for a " +
            "single FULL join")
        if (dims.head.joinType != "full_outer")
          return Left("FULL OUTER join must be the FIRST join on the fact " +
            "under a window MV — deeper in the chain its extension terms " +
            "would need the whole join prefix at both telescope endpoints")
        if (legs.nonEmpty)
          return Left("FULL OUTER join over a union'd fact under a window MV")
      }
    }
    def subst(e: Expression): Expression = {
      val winInlined = e.transformUp {
        case a: AttributeReference if windowMap.contains(a.exprId) =>
          windowMap(a.exprId)
      }
      if (m.isEmpty) winInlined
      else winInlined.transformUp {
        case a: AttributeReference if m.contains(a.exprId) => m(a.exprId)
      }
    }

    // the inner selection: every entry rendered over the SOURCE row
    val entries: Seq[(ExprId, String, Expression)] = innerList.map {
      case a: AttributeReference => (a.exprId, a.name, subst(a))
      case al @ Alias(e, n) =>
        val s = subst(e)
        if (!s.deterministic) return Left(s"nondeterministic output $n")
        (al.exprId, n, s)
      case other => return Left(s"unsupported window output ${other.sql}")
    }
    if (entries.exists(_._2.toLowerCase.startsWith("_mv_")))
      return Left("output columns may not use the reserved _mv_ prefix")

    // stored order: public outputs first (outer projection order when
    // present), then non-public inner outputs as hidden _mv_wh<i>
    val byId = entries.map(e => e._1 -> e).toMap
    val publicIds = topAttrs.map(_.map(_.exprId)).getOrElse(entries.map(_._1))
    if (publicIds.distinct.size != publicIds.size)
      return Left("duplicate columns in the window MV projection")
    val public = publicIds.map(id => byId.getOrElse(id,
      return Left("outer projection references a non-window column")))
    if (public.map(_._2.toLowerCase).distinct.size != public.size)
      return Left("duplicate output column names in the window MV")
    val hiddenInner = entries.filterNot(e => publicIds.contains(e._1))
      .zipWithIndex.map { case ((id, _, e), i) => (id, s"_mv_wh$i", e) }
    var stored: Seq[(ExprId, String, Expression)] = public ++ hiddenInner

    // partition keys: reuse a stored column when one computes the same
    // expression, else append a hidden _mv_wp<i> column
    val partSubst = w.partitionSpec.map(subst)
    if (partSubst.exists(e => e.exists(_.isInstanceOf[WindowExpression])))
      return Left("PARTITION BY over a window expression")
    val partCols: Seq[(String, String)] = partSubst.zipWithIndex.map {
      case (pe, i) =>
        stored.find(_._3.semanticEquals(pe)) match {
          case Some((_, n, _)) => (n, plainSql(pe))
          case None =>
            val n = s"_mv_wp$i"
            stored = stored :+ ((NamedExpression.newExprId, n, pe))
            (n, plainSql(pe))
        }
    }

    // the rank predicate renders over STORED names
    val rankFilterSql = rankCond.map { cond =>
      if (!cond.deterministic) return Left("nondeterministic rank predicate")
      val renamed = cond.transformUp {
        case a: AttributeReference =>
          byId.get(a.exprId) match {
            case Some((id, _, _)) =>
              val n = stored.find(_._1 == id).get._2
              AttributeReference(n, a.dataType, a.nullable)()
            case None => return Left(
              s"rank predicate references ${a.name}, which the window " +
                "projection does not carry")
          }
      }
      if (renamed.exists(_.isInstanceOf[WindowExpression]))
        return Left("rank predicate over a raw window expression")
      plainSql(renamed)
    }

    // the merge-key row number, over the window's own partition + order
    val rnExpr = WindowExpression(RowNumber(),
      org.apache.spark.sql.catalyst.expressions.WindowSpecDefinition(
        partSubst, rnOrder.map(subst(_).asInstanceOf[
          org.apache.spark.sql.catalyst.expressions.SortOrder]),
        org.apache.spark.sql.catalyst.expressions.SpecifiedWindowFrame(
          org.apache.spark.sql.catalyst.expressions.RowFrame,
          org.apache.spark.sql.catalyst.expressions.UnboundedPreceding,
          org.apache.spark.sql.catalyst.expressions.CurrentRow)))
    val proj = stored.map { case (_, n, e) => (n, plainSql(e)) } :+
      ((WinRnCol, plainSql(rnExpr)))

    val filterSql =
      if (conds.isEmpty) None
      else Some(plainSql(conds.reduce(
        org.apache.spark.sql.catalyst.expressions.And(_, _))))
    Right(WindowShape(fact, filterSql, proj, partCols, rankFilterSql, dims,
      legs, factLegFilter, factLegProj))
  }

  /** Replay a window shape over a source frame: inner WHERE → stored
    * projection (window exprs included) → rank predicate. The stored
    * rows ARE this replay's output.
    */
  private def windowReplay(base: DataFrame, filter: Option[String],
                           proj: Seq[(String, String)],
                           rankFilter: Option[String]): DataFrame = {
    val filtered = filter.fold(base)(f => base.where(expr(f)))
    val projected = filtered.select(proj.map { case (n, s) => expr(s).as(n) }: _*)
    rankFilter.fold(projected)(rf => projected.where(expr(rf)))
  }

  /** Render the two definition SQLs of an aggregate-OVER-window
    * cascade: the inner window subquery (re-creatable as a hidden
    * window MV) and the outer aggregate rewritten over the inner MV's
    * public name. Everything is rendered from the ANALYZED plan with
    * the same plainSql/replay-by-SQL contract the shapes store — the
    * recursive create() re-analyzes both, so a reconstruction that
    * drifted would refuse, never silently diverge. Returns None when
    * the shape can't be rendered faithfully (rank predicate over a
    * non-public column, non-alias aggregate outputs) — the caller
    * falls back to FULL mode.
    */
  private def cascadeSqls(catalogName: String, ns: String, innerName: String,
                          ws: WindowShape, agg: Aggregate,
                          relOf: GraftTable => String): Option[(String, String)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val pub = ws.proj.filterNot(_._1.toLowerCase.startsWith("_mv_"))
    // the rank predicate re-renders over the SUBQUERY output — it must
    // reference only public (user-visible) columns
    val rfRefs = ws.rankFilter.toSeq.flatMap(rf =>
      org.apache.spark.sql.GraftSqlShim.expression(expr(rf)).collect {
        case a: UnresolvedAttribute => a.nameParts.last.toLowerCase
      })
    if (rfRefs.exists(_.startsWith("_mv_"))) return None
    def tref(t: GraftTable): String = relOf(t).split("/") match {
      case Array(tns, tb) => s"$catalogName.`$tns`.`$tb`"
      case other => sys.error(s"bad rel ${other.mkString("/")}")
    }
    val selectList = pub.map { case (n, s) => s"($s) AS `$n`" }.mkString(", ")
    val joins = ws.dims.map(d =>
      (if (d.joinType == "inner") " JOIN " else " LEFT JOIN ") +
        tref(d.table) + " ON " + d.condSql).mkString
    val where = ws.filter.map(f => s" WHERE $f").getOrElse("")
    val innerCore = s"SELECT $selectList FROM ${tref(ws.fact)}$joins$where"
    val innerSql = ws.rankFilter match {
      case Some(rf) =>
        s"SELECT ${pub.map(p => s"`${p._1}`").mkString(", ")} " +
          s"FROM ($innerCore) WHERE $rf"
      case None => innerCore
    }
    val outs = agg.aggregateExpressions.map {
      case al @ Alias(e, n) => s"(${plainSql(e)}) AS `$n`"
      case a: AttributeReference => s"`${a.name}`"
      case _ => return None
    }
    val groupSqls = agg.groupingExpressions.map(plainSql)
    val outerSql = s"SELECT ${outs.mkString(", ")} " +
      s"FROM $catalogName.`$ns`.`$innerName`" +
      (if (groupSqls.nonEmpty) s" GROUP BY ${groupSqls.mkString(", ")}" else "")
    Some((innerSql, outerSql))
  }

  /** Render the two definition SQLs of a window-OVER-aggregate cascade
    * (the rank-over-rollup dashboard: "top-N groups per partition by
    * their aggregate"): the inner aggregate subquery (re-creatable as a
    * hidden incremental agg MV) and the outer window query rewritten
    * over the inner MV's public name. Same contract as [[cascadeSqls]]:
    * everything renders from the ANALYZED plan and the recursive
    * create() re-analyzes both halves, so a rendering that drifted
    * refuses instead of silently diverging. Union'd facts (per-leg
    * WHERE/SELECT) and FULL-outer dims render faithfully (round 18) —
    * acceptance is adjudicated by the recursive create(). Returns None
    * when the shape can't be rendered at all (HAVING between the
    * levels, non-attribute window inputs, nondeterministic outputs) —
    * the caller falls back to FULL mode.
    */
  private def cascadeWoaSqls(catalogName: String, ns: String, innerName: String,
                             analyzed: LogicalPlan,
                             relOf: GraftTable => String): Option[(String, String)] = {
    val (topAttrs, rankCond, innerList, ws) = peelWindowStack(analyzed) match {
      case Right(x) => x
      case Left(_) => return None
    }
    // below the stack: a plain Aggregate, with no Filter in between (a
    // predicate here is HAVING over the hidden level — the agg MV
    // supports HAVING only at ITS view layer, so refuse the cascade)
    val (terminal, conds, m) = inlineProjections(ws.last.child)
    val agg = terminal match {
      case a: Aggregate if conds.isEmpty => a
      case _ => return None
    }
    // ---- inner: the aggregate rendered over its terminal attrs ----
    val (aggTerm, aggConds, aggMap) = inlineProjections(agg.child)
    // union'd facts and FULL-outer dims render faithfully (round 18 —
    // both pieces maintain separately, q129–q133); the recursive
    // create() re-analyzes the rendered innerSql, so acceptance is
    // adjudicated there and an unsupported composition still falls
    // back loudly to FULL mode
    val (factSrc, dimList) = unrollJoinChain(aggTerm) match {
      case Right((src, ds)) => (src, ds)
      case Left(_) => return None
    }
    def substAgg(e: Expression): Expression =
      if (aggMap.isEmpty) e
      else e.transformUp {
        case a: AttributeReference if aggMap.contains(a.exprId) => aggMap(a.exprId)
      }
    val innerNames = agg.aggregateExpressions.map(_.name)
    if (innerNames.map(_.toLowerCase).distinct.size != innerNames.size ||
        innerNames.exists(_.toLowerCase.startsWith("_mv_"))) return None
    val outs = agg.aggregateExpressions.map {
      case al @ Alias(e, n) =>
        val s = substAgg(e)
        if (!s.deterministic) return None
        s"(${plainSql(s)}) AS `$n`"
      // a bare attr may alias a computed projection below the aggregate
      // (one-level-projected group keys) — render the substituted
      // expression like the Alias case, else the innerSql references a
      // column the base table doesn't have and the cascade silently
      // degrades to FULL mode (ADVICE r17)
      case a: AttributeReference if aggMap.contains(a.exprId) =>
        val s = substAgg(a)
        if (!s.deterministic) return None
        s"(${plainSql(s)}) AS `${a.name}`"
      case a: AttributeReference => s"`${a.name}`"
      case _ => return None
    }
    val groupSqls = agg.groupingExpressions.map(g => plainSql(substAgg(g)))
    if (groupSqls.isEmpty) return None // a global aggregate has no partitioned window
    def tref(t: GraftTable): String = relOf(t).split("/") match {
      case Array(tns, tb) => s"$catalogName.`$tns`.`$tb`"
      case other => sys.error(s"bad rel ${other.mkString("/")}")
    }
    val joins = dimList.map { case (d, jt, condSql) =>
      (jt match {
        case "inner" => " JOIN "
        case "left_outer" => " LEFT JOIN "
        case "full_outer" => " FULL JOIN "
        case _ => return None
      }) + tref(d.table.asInstanceOf[GraftV2Table].underlying) + " ON " + condSql
    }.mkString
    val where =
      if (aggConds.isEmpty) ""
      else " WHERE " + aggConds.map(c => s"(${plainSql(c)})").mkString(" AND ")
    // a union'd fact renders as an inline UNION ALL subquery with each
    // leg's own WHERE/SELECT — exactly the per-leg pins the inner agg
    // MV's shape analysis accepts (sharded fact star joins, q131)
    val fromSql = factSrc match {
      case Right(f) => tref(f.table.asInstanceOf[GraftV2Table].underlying)
      case Left(ul) =>
        def legSql(r: DataSourceV2Relation, lf: Option[String],
                   pj: Option[Seq[String]]): String =
          s"SELECT ${pj.map(_.mkString(", ")).getOrElse("*")} FROM " +
            tref(r.table.asInstanceOf[GraftV2Table].underlying) +
            lf.map(w => s" WHERE $w").getOrElse("")
        "(" + (legSql(ul.fact, ul.factFilter, ul.factProj) +:
          ul.legs.map { case (r, lf, pj) => legSql(r, lf, pj) })
          .mkString(" UNION ALL ") + ")"
    }
    val innerSql = s"SELECT ${outs.mkString(", ")} " +
      s"FROM $fromSql$joins$where" +
      s" GROUP BY ${groupSqls.mkString(", ")}"

    // ---- outer: the window selection over the inner's public name ----
    // window-output attrs substitute to their WindowExpressions, and the
    // in-between projections (m) to aggregate-output attrs, so plainSql
    // renders every non-window reference as an inner public column name
    val windowMap: Map[ExprId, Expression] = ws.flatMap(_.windowExpressions).map {
      case al: Alias => al.exprId -> al.child
      case _ => return None
    }.toMap
    def substWin(e: Expression): Expression = {
      val inlined = e.transformUp {
        case a: AttributeReference if windowMap.contains(a.exprId) => windowMap(a.exprId)
      }
      if (m.isEmpty) inlined
      else inlined.transformUp {
        case a: AttributeReference if m.contains(a.exprId) => m(a.exprId)
      }
    }
    val entries: Seq[(ExprId, String, String)] = innerList.map {
      case a: AttributeReference =>
        val s = substWin(a)
        (a.exprId, a.name, s"(${plainSql(s)}) AS `${a.name}`")
      case al @ Alias(e, n) =>
        val s = substWin(e)
        if (!s.deterministic) return None
        (al.exprId, n, s"(${plainSql(s)}) AS `$n`")
      case _ => return None
    }
    val entryNames = entries.map(_._2)
    if (entryNames.map(_.toLowerCase).distinct.size != entryNames.size ||
        entryNames.exists(_.toLowerCase.startsWith("_mv_"))) return None
    // every aggregate-output attr the entries reference renders as its
    // plain name, which the inner MV exposes as a public column — the
    // recursive re-analysis of outerSql validates every reference
    val core = s"SELECT ${entries.map(_._3).mkString(", ")} " +
      s"FROM $catalogName.`$ns`.`$innerName`"
    val byId = entries.map(e => e._1 -> e._2).toMap
    val outerSql = rankCond match {
      case Some(rc) =>
        if (!rc.deterministic) return None
        val renamed = rc.transformUp {
          case a: AttributeReference =>
            byId.get(a.exprId) match {
              case Some(n) => AttributeReference(n, a.dataType, a.nullable)()
              case None => return None
            }
        }
        val pub = topAttrs
          .map(_.map(a => byId.getOrElse(a.exprId, return None)))
          .getOrElse(entryNames)
        s"SELECT ${pub.map(n => s"`$n`").mkString(", ")} " +
          s"FROM ($core) WHERE ${plainSql(renamed)}"
      case None => core
    }
    Some((innerSql, outerSql))
  }

  /** The grouped materialization frame over `base`, per the stored
    * shape: the public columns, then each aggregate's hidden
    * bookkeeping, then `_mv_rows`.
    */
  private def grouped(base: DataFrame, shape: Shape): DataFrame = {
    val groupCols = shape.groups.map { case (n, s) => expr(s).as(n) }
    val indexed = shape.aggs.zipWithIndex
    val aggCols = indexed.map { case (a, _) => a.kind.public(a).as(a.name) } ++
      indexed.flatMap { case (a, i) => a.kind.hidden(a, i).map { case (n, c) => c.as(n) } } :+
      count(lit(1)).as(RowsCol)
    aggregateBy(base, shape, groupCols, aggCols)
  }

  /** Aggregate `base` per the shape's grouping: grouping SETS replay
    * through `Dataset.groupingSets` with `grouping_id()` appended as the
    * `_mv_gid` merge-key column (set columns must be UNALIASED to match
    * — names are restored positionally after); plain GROUP BY and the
    * GLOBAL one-row shape unchanged.
    */
  private def aggregateBy(base: DataFrame, shape: Shape,
                          groupCols: Seq[Column], aggCols: Seq[Column]): DataFrame =
    shape.sets match {
      case Some(sets) =>
        val gexprs = shape.groups.map { case (_, s) => expr(s) }
        val r = base.groupingSets(sets.map(_.map(gexprs)), gexprs: _*)
          .agg(aggCols.head, (aggCols.tail :+ grouping_id().as(GidCol)): _*)
        r.toDF(shape.groups.map(_._1) ++ r.columns.drop(shape.groups.size): _*)
      case None if shape.groups.isEmpty =>
        base.agg(aggCols.head, aggCols.tail: _*)
          .withColumn(GlobalKeyCol, lit(0))
      case None => base.groupBy(groupCols: _*).agg(aggCols.head, aggCols.tail: _*)
    }

  // delta-only column names for MIN/MAX maintenance
  private def insCol(i: Int): String = s"_mv_ins_$i" // extreme over inserted rows
  private def retCol(i: Int): String = s"_mv_ret_$i" // extreme over deleted rows
  private def rcCol(i: Int): String = s"_mv_rc_$i" // per-agg recompute flag
  private val RcAny = "_mv_rc"
  private val OvfStored = "_mv_ovf_stored" // stored decimal sum lost to overflow

  /** The changelog slice signed (+1 insert / -1 delete pre-image) and
    * narrowed by the stored WHERE — the shared input of the per-group
    * delta AND the dedup-level pair delta.
    */
  private def signedSlice(changes: DataFrame, shape: Shape): DataFrame = {
    val signed0 = changes.withColumn("_sign",
      when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L)))
    shape.filter.fold(signed0)(signed0.where)
  }

  /** One aggregation over (group keys, distinct value) pairs — the
    * shared grouping of the pair table's CONTENTS (create/full rebuild:
    * `agg` = COUNT(*) net carrier count) and its signed DELTA (refresh
    * phase A: `agg` = SUM(_sign)). NULL values are excluded —
    * COUNT(DISTINCT) ignores them. Under ROLLUP/CUBE/GROUPING SETS the
    * value column joins EVERY set (a pair is never rolled up — each
    * set's subtotal needs its own pair rows), while the stored grouping
    * id is re-based onto the ORIGINAL group columns: the value is the
    * LAST grouping column with its bit constantly 0, so the full id is
    * exactly `main_gid << 1` and `shiftright(grouping_id(), 1)` gives
    * the pair table's `_mv_gid` the exact bit layout of the main
    * storage's — the phase-B fold joins on (groups, gid) with no
    * layout translation.
    */
  private def dlAggregate(base: DataFrame, shape: Shape, valueSql: String,
                          agg: Column): DataFrame = {
    val v = expr(valueSql)
    val nn = base.where(v.isNotNull)
    shape.sets match {
      case Some(sets) =>
        val gexprs = shape.groups.map { case (_, s) => expr(s) }
        // the value grouping column is a PRE-PROJECTED copy, not the
        // raw expression: a DISTINCT aggregate over a grouping key
        // would otherwise semantically collapse with that key in the
        // Expand builder and flip its grouping bit on subtotal rows —
        // the copy is a distinct attribute, so the key rolls up
        // normally while the pair keeps its value
        val withV = nn.withColumn(DlVCol, v)
        val vc = col(DlVCol)
        val r = withV.groupingSets(sets.map(_.map(gexprs) :+ vc), (gexprs :+ vc): _*)
          .agg(agg, shiftright(grouping_id(), 1).as(GidCol))
        r.toDF(shape.groups.map(_._1) ++ Seq(DlVCol) ++
          r.columns.drop(shape.groups.size + 1): _*)
      case None if shape.groups.isEmpty =>
        nn.groupBy(v.as(DlVCol)).agg(agg).withColumn(GlobalKeyCol, lit(0))
      case None =>
        nn.groupBy(shape.groups.map { case (n, s) => expr(s).as(n) } :+
          v.as(DlVCol): _*).agg(agg)
    }
  }

  /** Dedup-level pair counts over `base` (group keys + distinct value +
    * `_mv_rows`), the aux table's full contents for a cdistinct agg.
    */
  private def dlPairs(base: DataFrame, shape: Shape, valueSql: String): DataFrame =
    dlAggregate(base, shape, valueSql, count(lit(1)).as(RowsCol))

  /** Signed per-group delta of a changelog slice, per [[AggKind.delta]].
    * A DISTINCT aggregate carries NOTHING here: its delta is derived
    * from the aux table's changelog after the pair apply (see refresh),
    * then folded in under its plain form's column names.
    */
  private def delta(changes: DataFrame, shape: Shape): DataFrame = {
    val signed = signedSlice(changes, shape)
    val groupCols = shape.groups.map { case (n, s) => expr(s).as(n) }
    val aggCols = shape.aggs.zipWithIndex.flatMap { case (a, i) => a.kind.delta(a, i) } :+
      sum(col("_sign")).as(RowsCol)
    val d0 = aggregateBy(signed, shape, groupCols, aggCols)
    if (shape.groups.isEmpty)
      d0.where(col(RowsCol).isNotNull) // all-filtered slice = no delta
    else d0
  }

  /** Parse the stored dim-version pin list (rel → version) — shared
    * with the `mviews` staleness dashboard.
    */
  private[connector] def dimVersFromJson(s: String): Map[String, Int] =
    specFromJson(s).map { case Seq(r, v) => r -> v.toInt }.toMap

  private def shapeFromProps(props: Map[String, String]): Shape = Shape(
    Option(props.getOrElse(FilterProp, "")).filter(_.nonEmpty),
    specFromJson(props(GroupProp)).map { case Seq(n, s) => n -> s },
    aggsFromJson(props(AggProp)),
    props.get(GroupSetsProp).map(specFromJson(_).map(_.map(_.toInt))))

  /** The stored [[AggProp]] list; an unknown kind fails here. */
  private def aggsFromJson(s: String): Seq[AggSpec] =
    specFromJson(s).map { case Seq(n, k, sql) => AggSpec(n, AggKind(k, n), sql) }

  /** Broadcast for checkpointed changelog-bounded frames (slices,
    * touched-key sets, recomputed groups) whose row count `n` is already
    * known: localCheckpoint compiles without AQE and reports no size
    * stats, so the planner sort-merge-joins them against table-scale
    * partners — shuffling the BIG side to meet a changelog-sized frame.
    * Below the bound an explicit hint keeps the big side unshuffled at
    * every scale (guide §3.1, same stance as
    * GraftTable.mergeRows/dedupTable). No action runs.
    */
  private def bcIfSmallN(df: DataFrame, n: Long): DataFrame =
    if (n <= graft.table.GraftTable.MergeBroadcastRowBound) broadcast(df) else df

  /** localCheckpoint + aggregates over the same rows in ONE Spark job:
    * `aggs` ride the materialization itself via `Dataset.observe`, so
    * the refresh's row counts, emptiness and abort probes and zone-map
    * bounds over a checkpointed frame cost no action of their own —
    * each action saved is a driver round-trip (planning, AQE,
    * scheduling) per frame per refresh. Field i of the returned row is
    * aggregate i. The observed row is awaited at most
    * [[ObservationWait]]; past it the same aggregates run over the
    * checkpoint.
    */
  private def checkpointObserved(df: DataFrame, aggs: Seq[Column]): (DataFrame, Row) = {
    val named = aggs.zipWithIndex.map { case (a, i) => a.as(s"_mv_obs$i") }
    val obs = org.apache.spark.sql.Observation()
    val ck = df.observe(obs, named.head, named.tail: _*).localCheckpoint()
    (ck, observedRow(obs, ObservationWait)(ck.agg(named.head, named.tail: _*).head))
  }

  /** [[checkpointObserved]] with the row count alone, for the
    * broadcast decision ([[bcIfSmallN]]).
    */
  private def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val (ck, r) = checkpointObserved(df, Seq(count(lit(1))))
    (ck, r.getLong(0))
  }

  /** How long a refresh waits for an observed row before aggregating. */
  private val ObservationWait = scala.concurrent.duration.Duration(30, "s")

  /** The metrics of `obs`, awaited at most `bound`; `fallback` when
    * they do not arrive in time or their job failed.
    */
  private[graft] def observedRow(obs: org.apache.spark.sql.Observation,
                                 bound: scala.concurrent.duration.FiniteDuration)
                                (fallback: => Row): Row =
    scala.util.Try(scala.concurrent.Await.result(obs.future, bound)).getOrElse(fallback)

  /** The aggregates [[keyBounds]] decodes: per column of `names`, the
    * min, max and NULL count over the rows where `among` holds.
    */
  private def boundAggs(names: Seq[String], among: Column = lit(true)): Seq[Column] =
    names.flatMap { k =>
      val c = col(s"`$k`")
      Seq(min(when(among, c)), max(when(among, c)), count(when(among && c.isNull, 1)))
    }

  /** Per-column [lo, hi] of `names` from the [[boundAggs]] at field
    * `from` of `row`, for narrowing a scan to rows that can belong to an
    * affected group. A column is left out (sound: leaving it out only
    * WIDENS the scan) when the rows hold a NULL in it — a range never
    * admits the NULL-keyed group's rows — or no value at all.
    */
  private def keyBounds(row: Row, from: Int, names: Seq[String]): Map[String, (Any, Any)] =
    names.zipWithIndex.flatMap { case (k, i) =>
      val at = from + 3 * i
      if (row.isNullAt(at) || row.getLong(at + 2) > 0) None
      else Some(k -> (row.get(at), row.get(at + 1)))
    }.toMap

  /** Zone-map filter SQL narrowing a scan of `schema` to the rows that
    * can join a key: per (key, column) pair of `keyCols`, the conjunct
    * `column BETWEEN` the key's [min, max] in `bounds`, rendered through
    * FilterSql's escaping. A pair contributes nothing when the key has
    * no bounds, when its column is not a bare column of `schema` (an
    * expression key) or is a binary float — the bound renders through
    * toString and re-parses as a decimal literal, and 1.1f != 1.1d under
    * the widened comparison, so the boundary row would silently drop.
    * Skipping only widens the scan; every caller joins on the exact keys
    * afterwards. None when no conjunct lands.
    */
  private def rangeSql(bounds: Map[String, (Any, Any)],
                       schema: org.apache.spark.sql.types.StructType,
                       keyCols: Seq[(String, String)]): Option[String] = {
    val sqls = keyCols.flatMap { case (k, s) =>
      val c = s.stripPrefix("`").stripSuffix("`")
      for {
        f <- schema.fields.find(_.name.equalsIgnoreCase(c))
        if f.dataType != FloatType && f.dataType != DoubleType
        (lo, hi) <- bounds.get(k)
        sql <- FilterSql.toSql(org.apache.spark.sql.sources.And(
          org.apache.spark.sql.sources.GreaterThanOrEqual(c, lo),
          org.apache.spark.sql.sources.LessThanOrEqual(c, hi)))
      } yield sql
    }
    if (sqls.isEmpty) None else Some(sqls.mkString("(", ") AND (", ")"))
  }

  /** Every registered MV whose storage reads `rel` as its fact, a
    * dimension, or a UNION ALL leg — with the storage props for further
    * inspection. Metadata-scale sweep shared by the column-evolution,
    * table-rename, and MV-cascade guards.
    */
  private def mviewsReadingWithProps(cat: GraftCatalog, rel: String)
      : Seq[(String, Map[String, String])] = {
    val viewStore = new GraftViewStore(cat.fs, cat.warehouse)
    val namespaces =
      try cat.fs.listStatus(cat.warehouse).toSeq
        .filter(_.isDirectory).map(_.getPath.getName).sorted
      catch { case _: java.io.FileNotFoundException => Nil }
    for {
      ns <- namespaces
      vn <- viewStore.list(ns)
      sv <- viewStore.load(ns, vn).toSeq
      if sv.properties.get("graft.mview").contains("true")
      storageIdent = TableIdent(ns, vn + StorageSuffix)
      if cat.exists(storageIdent)
      props <- cat.load(storageIdent).current().map(_.properties).toSeq
      rels = props.get(SourceProp).toSeq ++
        props.get(DimsProp).toSeq.flatMap(specFromJson(_).map(_.head)) ++
        props.get(UFactsProp).toSeq.flatMap(specFromJson(_).map(_.head))
      if rels.contains(rel)
    } yield (s"$ns.$vn", props)
  }

  /** MVs reading `rel` at all (any column) — the table-rename guard. */
  def mviewsReading(cat: GraftCatalog, rel: String): Seq[String] =
    mviewsReadingWithProps(cat, rel).map(_._1)

  /** Re-entrancy guard for the opt-in transparent rewrite
    * ([[GraftMviewRewrite]]): analysis that runs INSIDE the MV
    * machinery — create()'s shape analysis, the rule's own analysis of
    * candidate definitions and substitute reads — must not itself be
    * rewritten (create would silently register an MV over another MV's
    * storage; the rule would cache an already-substituted definition).
    */
  private[connector] val rewriteDisabled: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial[java.lang.Boolean](() => java.lang.Boolean.FALSE)
  private[connector] def withRewriteDisabled[T](f: => T): T = {
    val old = rewriteDisabled.get()
    rewriteDisabled.set(true)
    try f finally rewriteDisabled.set(old)
  }

  /** Every registered MV in the warehouse with its namespace, name, and
    * storage props — the rewrite rule's candidate enumerator.
    * Metadata-scale: one view-store listing per namespace plus one
    * snapshot-properties read per MV; no job runs.
    */
  def registeredMviews(cat: GraftCatalog): Seq[(String, String, Map[String, String])] = {
    val viewStore = new GraftViewStore(cat.fs, cat.warehouse)
    val namespaces =
      try cat.fs.listStatus(cat.warehouse).toSeq
        .filter(_.isDirectory).map(_.getPath.getName).sorted
      catch { case _: java.io.FileNotFoundException => Nil }
    for {
      ns <- namespaces
      vn <- viewStore.list(ns)
      sv <- viewStore.load(ns, vn).toSeq
      if sv.properties.get("graft.mview").contains("true")
      storageIdent = TableIdent(ns, vn + StorageSuffix)
      if cat.exists(storageIdent)
      props <- cat.load(storageIdent).current().map(_.properties).toSeq
    } yield (ns, vn, props)
  }

  /** Is the MV's stored state current w.r.t. EVERY pinned source —
    * fact, dimensions, union legs? A fresh MV's view read equals its
    * defining query run now, which is what licenses the transparent
    * rewrite's substitution; anything stale (or unparsable) is not.
    */
  def isFresh(cat: GraftCatalog, props: Map[String, String]): Boolean =
    staleDetail(cat, props).isEmpty

  /** None = fresh; Some(detail) names every stale pinned source with
    * its pinned vs current version — the rewrite rule only needs the
    * boolean, but `CALL graft.system.explain_rewrite` answers "why
    * didn't my query hit the MV?" with this string.
    */
  def staleDetail(cat: GraftCatalog, props: Map[String, String]): Option[String] = {
    def cur(rel: String): Option[Int] = rel.split("/") match {
      case Array(rns, rt) =>
        scala.util.Try(cat.load(TableIdent(rns, rt)).currentOrFail().version).toOption
      case _ => None
    }
    val pinned: Option[Seq[(String, Int)]] = scala.util.Try {
      val fact = for {
        r <- props.get(SourceProp)
        a <- props.get(AppliedProp).map(_.toInt)
      } yield (r, a)
      fact.map { f =>
        val dims = props.get(DimVersProp).toSeq.flatMap(j => dimVersFromJson(j).toSeq)
        val legs = props.get(UFactsProp).toSeq.flatMap(j => dimVersFromJson(j).toSeq)
        f +: (dims ++ legs)
      }
    }.toOption.flatten
    pinned match {
      case None => Some("pinned source versions unreadable from storage properties")
      case Some(pins) =>
        val stale = pins.flatMap { case (r, v) =>
          cur(r) match {
            case Some(cv) if cv == v => None
            case Some(cv) => Some(s"$r pinned v$v current v$cv")
            case None => Some(s"$r pinned v$v current unreadable")
          }
        }
        if (stale.isEmpty) None else Some(stale.mkString("; "))
    }
  }

  /** Every changelog anchor a registered MV still needs on `rel`, as
    * (mv-name, marker-version) pairs — the proactive expire guard's
    * input (r17 verdict #3: nothing PREVENTED a retention job from
    * dropping versions a dependent MV's next refresh needs, silently
    * forcing a 100 TB full recompute that surfaced only later as a
    * changelog-gone refresh error). Covers the fact marker, dimension
    * pins, UNION-ALL leg pins, MV-over-MV (`rel` = a level-1 storage table),
    * and COUNT(DISTINCT) dedup-level aux pins (`rel` = an aux table).
    * Metadata-scale, like every other MV guard sweep.
    */
  def dependentMarkers(cat: GraftCatalog, rel: String): Seq[(String, Int)] =
    registeredMviews(cat).flatMap { case (ns, vn, props) =>
      val fact = props.get(SourceProp).filter(_ == rel)
        .flatMap(_ => props.get(AppliedProp).flatMap(_.toIntOption))
      val dim = props.get(DimVersProp).flatMap(j =>
        scala.util.Try(dimVersFromJson(j)).toOption.flatMap(_.get(rel)))
      val leg = props.get(UFactsProp).flatMap(j =>
        scala.util.Try(dimVersFromJson(j)).toOption.flatMap(_.get(rel)))
      val aux = rel.split("/") match {
        case Array(rns, rt)
            if rns == ns && rt.startsWith(vn + StorageSuffix + "__dl") =>
          rt.stripPrefix(vn + StorageSuffix + "__dl").toIntOption
            .flatMap(i => props.get(dlVerProp(i)).flatMap(_.toIntOption))
        case _ => None
      }
      (fact.toSeq ++ dim.toSeq ++ leg.toSeq ++ aux.toSeq)
        .map(v => (s"$ns.$vn", v))
    }

  /** MV dependency guard for SOURCE-table column evolution (round-16):
    * an MV pins its definition SQL (and the derived filter/group/agg
    * shape SQL) in the storage table's properties; renaming or dropping
    * a source column that SQL references would leave the pinned text
    * naming a column that no longer exists — the next refresh (or view
    * read through a full-mode recompute) fails with a raw analysis
    * error, or an incremental changelog slice silently selects nothing.
    * This sweep finds every MV whose FACT, dimension, or UNION-ALL leg
    * is `rel` AND whose pinned SQL references `column`, so DDL can
    * refuse by name instead. Metadata-scale: one view-store listing per
    * namespace plus one snapshot-properties read per MV — no job runs.
    *
    * The reference check is conservatively by NAME (last part of each
    * unresolved attribute, case-insensitive): a joined MV whose
    * dimension has a same-named column refuses too — a false refusal is
    * a re-create, a false allow is a broken dashboard. A bare `*`
    * outside COUNT(*) references every column.
    */
  def mviewsReferencing(spark: SparkSession, cat: GraftCatalog,
                        rel: String, column: String): Seq[String] =
    mviewsReadingWithProps(cat, rel).collect {
      case (mv, props)
        if props.get(SqlProp).exists(referencesColumn(spark, _, column)) => mv
    }

  /** Does `sql` (a stored MV definition) reference `column` by name?
    * Parsed UNRESOLVED (the source schema may already have evolved, so
    * analysis could fail — exactly the state the guard protects
    * against); a stored SQL that no longer parses counts as referencing
    * (conservative). `COUNT(*)`'s star is positional, not a column
    * reference; any other star references everything.
    */
  private def referencesColumn(spark: SparkSession, sql: String,
                               column: String): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedStar}
    val want = column.toLowerCase(java.util.Locale.ROOT)
    try {
      var hit = false
      def walk(e: Expression): Unit = e match {
        case f: UnresolvedFunction if f.nameParts.last.equalsIgnoreCase("count") =>
          f.children.foreach { case _: UnresolvedStar => (); case c => walk(c) }
        case _: UnresolvedStar => hit = true
        case a: UnresolvedAttribute =>
          if (a.nameParts.last.toLowerCase(java.util.Locale.ROOT) == want) hit = true
        case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          s.plan.foreach(_.expressions.foreach(walk))
          s.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      spark.sessionState.sqlParser.parseQuery(sql)
        .foreach(_.expressions.foreach(walk))
      hit
    } catch { case scala.util.control.NonFatal(_) => true }
  }

  /** CREATE: analyze, pick the mode, materialize at the source's
    * current version, and store the public view. Returns
    * (mode, sourceVersion, rows).
    */
  def create(spark: SparkSession, cat: GraftCatalog, catalogName: String,
             ns: String, name: String, sql: String,
             storageSpec: Option[String] = None,
             extraProps: Map[String, String] = Map.empty): (String, Int, Long) =
    // shape analysis must see the user's plan over BASE tables — a
    // transparent rewrite here would silently register the MV over
    // another MV's storage
    withRewriteDisabled {
      createImpl(spark, cat, catalogName, ns, name, sql, storageSpec, extraProps)
    }

  private def createImpl(spark: SparkSession, cat: GraftCatalog, catalogName: String,
                         ns: String, name: String, sql: String,
                         storageSpec: Option[String],
                         extraProps: Map[String, String]): (String, Int, Long) = {
    val parsed = spark.sessionState.sqlParser.parseQuery(sql)
    val analyzed = spark.sessionState.executePlan(parsed).analyzed
    val sources = graftSources(analyzed)
    val foreign = foreignSources(analyzed)
    require(foreign.isEmpty,
      s"materialized view reads non-graft source(s) ${foreign.mkString(", ")} " +
        "— their changes are untracked, so the view would have no staleness contract")
    val wh = cat.warehouse.toString.stripSuffix("/")
    def relOf(t: GraftTable): String = {
      require(t.tableDir.toString.startsWith(wh),
        s"source ${t.tableDir} is not under this catalog's warehouse $wh")
      t.tableDir.toString.stripPrefix(wh).stripPrefix("/")
    }

    val storageIdent = TableIdent(ns, name + StorageSuffix)
    val viewStore = new GraftViewStore(cat.fs, cat.warehouse)
    require(!cat.exists(TableIdent(ns, name)) && !viewStore.exists(ns, name),
      s"cannot create materialized view $ns.$name: a table or view with that name exists")
    require(!cat.exists(storageIdent),
      s"cannot create materialized view $ns.$name: storage table ${storageIdent.name} exists")

    val shaped = analyzeShape(analyzed)
    // window shapes (incl. rank-over-join) analyze only when the
    // aggregate analysis refused — the two shapes are disjoint
    val windowShaped: Either[String, WindowShape] =
      shaped.fold(_ => analyzeWindow(analyzed), _ => Left("aggregate shape"))
    // aggregate OVER a window subquery (round 17): neither shape accepts
    // it directly, but BOTH halves maintain — auto-cascade: register the
    // subquery as a HIDDEN window MV `<name>__w` and the user's MV as an
    // aggregate over its public name (which shape analysis inlines to
    // the hidden storage, whose exactly-once changelog drives it — the
    // q124 cascade, built from one CREATE). refresh()/drop() chain
    // through the cascade marker. A reconstruction that cannot register
    // both halves incrementally tears down what it created and falls
    // through to FULL mode — loud degradation, never a broken pair.
    // A cascade may only claim (and on failure drop) a hidden inner name
    // that nothing else owns — table, view, OR an unclaimed storage
    // table. If the user already owns `<name>__w`/`<name>__a`, skip the
    // cascade entirely and fall through to FULL mode: attempting it
    // would collide, and any cleanup would destroy the unrelated
    // existing object (ADVICE r17, high).
    def innerNameFree(inner: String): Boolean =
      !cat.exists(TableIdent(ns, inner)) && !viewStore.exists(ns, inner) &&
        !cat.exists(TableIdent(ns, inner + StorageSuffix))
    if (shaped.isLeft && windowShaped.isLeft) unwrapAliases(analyzed) match {
      case agg: Aggregate => analyzeWindow(agg.child) match {
        case Right(ws) =>
          val innerName = name + "__w"
          if (innerNameFree(innerName))
            cascadeSqls(catalogName, ns, innerName, ws, agg, relOf).foreach {
              case (innerSql, outerSql) =>
                val (m1, _, _) = create(spark, cat, catalogName, ns, innerName,
                  innerSql, None)
                if (m1 != "window") drop(cat, ns, innerName)
                else {
                  // the cascade marker rides in the outer's creation
                  // commit, so the pair is registered atomically
                  val (m2, v2, rows2) =
                    try create(spark, cat, catalogName, ns, name, outerSql,
                      storageSpec,
                      extraProps = Map(CascadeProp -> s"$ns/$innerName"))
                    catch {
                      case e: Throwable => drop(cat, ns, innerName); throw e
                    }
                  if (m2 != "incremental") drop(cat, ns, name) // chains to inner
                  else return ("incremental", v2, rows2)
                }
            }
        case Left(_) => ()
      }
      case _ => ()
    }
    // window OVER an aggregate subquery — the DUAL cascade (round 17):
    // the rank-over-rollup dashboard ("top-N groups per partition by
    // their aggregate", e.g. rank regions within each month by
    // SUM(revenue)). Neither shape accepts it directly, but both halves
    // maintain: the aggregate registers as a hidden INCREMENTAL agg MV
    // `<name>__a` and the user's MV as a window over its public name —
    // window analysis inlines that view to the hidden storage table,
    // whose exactly-once changelog drives affected-group recompute, so
    // one refresh cascades base → __a → window, each O(changes at its
    // level). Same loud-degradation contract as the aggregate-over-
    // window cascade: a pair that cannot both register incrementally is
    // torn down and the create falls through to FULL mode.
    if (shaped.isLeft && windowShaped.isLeft) {
      val innerName = name + "__a"
      if (innerNameFree(innerName))
        cascadeWoaSqls(catalogName, ns, innerName, analyzed, relOf).foreach {
          case (innerSql, outerSql) =>
            scala.util.Try(
              create(spark, cat, catalogName, ns, innerName, innerSql, None)) match {
              case scala.util.Success((m1, _, _)) =>
                if (m1 != "incremental") drop(cat, ns, innerName)
                else {
                  // the cascade marker rides in the outer's creation
                  // commit, so the pair is registered atomically
                  val (m2, v2, rows2) =
                    try create(spark, cat, catalogName, ns, name, outerSql,
                      storageSpec,
                      extraProps = Map(CascadeProp -> s"$ns/$innerName"))
                    catch {
                      case e: Throwable => drop(cat, ns, innerName); throw e
                    }
                  if (m2 != "window") drop(cat, ns, name) // chains to inner
                  else return ("window", v2, rows2)
                }
              case scala.util.Failure(_) =>
                // the rendering drifted from what create() accepts —
                // clean any debris and fall through to FULL mode (loud
                // in the returned mode, never a broken pair). Safe: the
                // innerNameFree gate above proved nothing pre-existed
                // under this name, so whatever is there now is debris
                // from THIS call.
                scala.util.Try(drop(cat, ns, innerName))
            }
        }
    }
    // the FACT drives the staleness contract; full mode needs exactly
    // one source to track (an unanalyzable multi-table shape has no
    // meaningful single marker — refuse loudly instead of silently
    // registering a view that never notices a source moved)
    val src = (shaped, windowShaped) match {
      case (Right(js), _) => js.fact
      case (_, Right(ws)) => ws.fact
      case (Left(reason), Left(_)) =>
        val srcDirs = sources.map(_.tableDir.toString).distinct
        require(srcDirs.size == 1,
          s"materialized view shape is not incrementally maintainable " +
            s"($reason), and FULL mode tracks exactly ONE graft source — " +
            s"found ${srcDirs.size}" +
            (if (srcDirs.nonEmpty) ": " + srcDirs.mkString(", ") else ""))
        sources.head
    }
    val rel = relOf(src)
    val cur = src.currentOrFail().version
    /** The maintained arms' source: the fact at `cur` and each further
      * UNION ALL leg at its current version, each read through its
      * per-leg WHERE/SELECT and unioned, then joined to each dimension
      * at its current version; with the dims, pins and union-leg
      * properties that record those reads.
      */
    def pinnedSource(dims: Seq[DimSpec],
                     unionLegs: Seq[(GraftTable, Option[String], Option[Seq[String]])],
                     factLegFilter: Option[String],
                     factLegProj: Option[Seq[String]]): (DataFrame, Map[String, String]) = {
      val dimInfo = dims.map { d =>
        val v = d.table.currentOrFail().version
        (relOf(d.table), v, d.table.scanAsOfVersion(v), d.joinType, d.condSql)
      }
      val legInfo = unionLegs.map { case (t, lf, pj) =>
        (relOf(t), t.currentOrFail().version, t, lf, pj)
      }
      def legRead(df: DataFrame, lf: Option[String], pj: Option[Seq[String]]): DataFrame = {
        val filtered = lf.fold(df)(x => df.where(expr(x)))
        pj.fold(filtered)(p => filtered.selectExpr(p: _*))
      }
      val unionScan = legInfo.foldLeft(
          legRead(src.scanAsOfVersion(cur), factLegFilter, factLegProj)) {
        case (acc, (_, v, t, lf, pj)) => acc.unionByName(legRead(t.scanAsOfVersion(v), lf, pj))
      }
      val props =
        (if (dims.isEmpty) Map.empty[String, String]
         else Map(
           DimsProp -> specJson(dimInfo.map(i => Seq(i._1, i._4, i._5))),
           DimVersProp -> specJson(dimInfo.map(i => Seq(i._1, i._2.toString))))) ++
          (if (legInfo.isEmpty) Map.empty[String, String]
           else Map(UFactsProp -> specJson(legInfo.map(i => Seq(i._1, i._2.toString)))) ++
             (if (factLegFilter.isEmpty && legInfo.forall(_._4.isEmpty))
                Map.empty[String, String]
              else Map(UFilterProp -> specJson(
                Seq(Seq(rel, factLegFilter.getOrElse(""))) ++
                  legInfo.map(i => Seq(i._1, i._4.getOrElse("")))))) ++
             (if (factLegProj.isEmpty && legInfo.forall(_._5.isEmpty))
                Map.empty[String, String]
              else Map(UProjProp -> specJson(
                (Seq(rel) ++ factLegProj.getOrElse(Nil)) +:
                  legInfo.map(i => Seq(i._1) ++ i._5.getOrElse(Nil))))))
      (joinBase(unionScan, dimInfo.map(i => (i._3, i._4, i._5))), props)
    }
    val (mode, frame, shapeProps) = shaped match {
      case Right(js) =>
        val (base0, pinProps) =
          pinnedSource(js.dims, js.unionLegs, js.factLegFilter, js.factLegProj)
        val based = js.shape.filter.fold(base0)(base0.where)
        val f = grouped(based, js.shape)
        // dedup-level aux tables lead the main append so their versions
        // ride in its props — create() failing in between leaves no
        // registered MV, only unclaimed storage a re-create rejects
        val dlProps = dlGroups(js.shape.aggs).map { case (ci, vsql, _) =>
          val auxIdent = TableIdent(ns, name + StorageSuffix + dlSuffix(ci))
          require(!cat.exists(auxIdent),
            s"cannot create materialized view $ns.$name: dedup-level " +
              s"table ${auxIdent.name} exists")
          // the pair table shares the MV's optional partition spec —
          // it carries the same group columns, so a bucket/identity
          // spec over them prunes the pair merge the same way
          // (ensure degrades to unpartitioned if the spec references
          // columns the pair schema lacks)
          val aux = cat.ensure(auxIdent, storageSpec)
          aux.append(dlPairs(based, js.shape, vsql),
            props = Map(AppliedProp -> cur.toString))
          dlVerProp(ci) -> aux.currentOrFail().version.toString
        }.toMap
        ("incremental", f, Map(
          FilterProp -> js.shape.filter.getOrElse(""),
          GroupProp -> specJson(js.shape.groups.map(p => Seq(p._1, p._2))),
          AggProp -> specJson(js.shape.aggs.map(a => Seq(a.name, a.kind.id, a.sql)))) ++
          js.shape.sets.map(ss =>
            GroupSetsProp -> specJson(ss.map(_.map(_.toString)))).toMap ++
          pinProps ++ dlProps)
      case Left(_) => windowShaped match {
        case Right(ws) =>
          // rank-per-group top-N: storage holds the post-rank-filter
          // replay (top-N per group) plus the _mv_rn merge key; dims
          // (rank-over-join) pin AS OF the versions read here; union
          // legs (sharded windows) pin per leg like agg mode
          val (base, pinProps) =
            pinnedSource(ws.dims, ws.unionLegs, ws.factLegFilter, ws.factLegProj)
          val f = windowReplay(base, ws.filter, ws.proj, ws.rankFilter)
          ("window", f, Map(
            FilterProp -> ws.filter.getOrElse(""),
            WinPartProp -> specJson(ws.partCols.map(p => Seq(p._1, p._2))),
            WinProjProp -> specJson(ws.proj.map(p => Seq(p._1, p._2))),
            WinFilterProp -> ws.rankFilter.getOrElse("")) ++ pinProps)
        case Left(_) =>
          val f = spark.sql(sql)
          // the public view filters the _mv_ bookkeeping namespace out of
          // the storage columns — a user output named into it would
          // silently vanish from the view instead of erroring
          val bad = f.columns.filter(_.toLowerCase.startsWith("_mv_"))
          require(bad.isEmpty,
            s"materialized view output column(s) ${bad.mkString(", ")} use " +
              "the reserved _mv_ bookkeeping prefix — alias them")
          ("full", f, Map.empty[String, String])
      }
    }
    // an optional partition spec over the GROUP columns (e.g.
    // `bucket(32, region)`) adds directory-level pruning to the keyed
    // refresh rewrite on top of the zone-map refinement — the lever for
    // very high-cardinality MVs
    val storage = cat.ensure(storageIdent, storageSpec)
    // extraProps last: the cascade marker (and any future creation-time
    // metadata) lands in the SAME commit as the storage creation, so a
    // crash between "outer created" and "marker written" cannot leave a
    // registered window MV whose hidden inner level is never refreshed
    // (ADVICE r17)
    storage.append(frame, props = Map(
      SqlProp -> sql,
      SourceProp -> rel,
      AppliedProp -> cur.toString,
      ModeProp -> mode) ++ shapeProps ++ extraProps)
    val publicCols = frame.columns.filterNot(_.startsWith("_mv_"))
    // HAVING applies at VIEW-read time over the stored aggregates (incl.
    // hidden _mv_h extras) — storage keeps every group so refresh stays
    // O(changes) while the boundary-crossing groups flicker in the view
    val havingWhere = shaped.toOption.flatMap(_.having)
      .map(h => s" WHERE $h").getOrElse("")
    // grouping()/grouping_id() outputs are computed in the view over
    // the stored _mv_gid; when present the view keeps OUTPUT order
    val viewColsOpt = shaped.toOption.flatMap(_.viewCols)
    val viewSelect = viewColsOpt match {
      case Some(cols) => cols.map {
        case (n, None) => s"`$n`"
        case (n, Some((sql, _))) => s"($sql) AS `$n`"
      }.mkString(", ")
      case None => publicCols.map(c => s"`$c`").mkString(", ")
    }
    val viewSchema = viewColsOpt match {
      case Some(cols) => org.apache.spark.sql.types.StructType(cols.map {
        case (n, None) => frame.schema(n)
        case (n, Some((_, dt))) => StructField(n, dt)
      })
      case None => org.apache.spark.sql.types.StructType(
        frame.schema.fields.filter(f => publicCols.contains(f.name)))
    }
    viewStore.create(ns, name, StoredView(
      sql = s"SELECT $viewSelect" +
        s" FROM $catalogName.$ns.`${name + StorageSuffix}`$havingWhere",
      currentCatalog = catalogName,
      currentNamespace = Seq(ns),
      schema = viewSchema,
      queryColumnNames = viewColsOpt.fold(publicCols.toSeq)(_.map(_._1)),
      columnAliases = Nil,
      columnComments = Nil,
      properties = Map("graft.mview" -> "true"),
      schemaMode = "SchemaEvolution"), replace = false)
    (mode, cur, storage.currentOrFail().rowCount)
  }

  /** A checkpointed frame with its row count and, per lower-cased
    * equi-join column, the [min, max] of its values — None when it
    * holds no non-NULL value ([[RefreshInputs.boundedSlice]]).
    */
  private final case class BoundedSlice(df: DataFrame, n: Long,
                                        bounds: Map[String, Option[(Any, Any)]])

  /** The pinned inputs of one refresh, read once and shared by both
    * refresh arms (aggregate and window).
    *
    * Pin policy: every relation's version is read ONCE, here — the
    * fact's head `to`, each dimension's and each UNION ALL leg's current
    * version. Every scan of the refresh (slices, recomputes, probes)
    * uses that read, and the pins the refresh records ([[newPins]]) are
    * exactly those reads. A relation committing between two reads would
    * otherwise record a version the stored rows were not built with, a
    * desync no moved check can see: every later increment would be
    * silently wrong.
    */
  private final class RefreshInputs(cat: GraftCatalog, ns: String, name: String,
                                    val storage: GraftTable,
                                    val props: Map[String, String]) {
    private def ident(r: String, what: String): TableIdent = r.split("/") match {
      case Array(rns, rt) => TableIdent(rns, rt)
      case other => sys.error(s"bad mview $what: ${other.mkString("/")}")
    }
    val applied: Int = props(AppliedProp).toInt
    val factRel: String = props(SourceProp)
    val src: GraftTable = cat.load(ident(factRel, "source"))
    val to: Int = src.currentOrFail().version

    /** Dimension joins as (rel, table, join type, condition). The stored
      * rows were built with each dim AS OF its pin, so every incremental
      * slice joins the signed fact rows to exactly the dim rows their
      * original apply saw — which is what makes retraction exact.
      */
    val dimTbls: Seq[(String, GraftTable, String, String)] =
      props.get(DimsProp).map(specFromJson(_).map {
        case Seq(r, jt, c) => (r, cat.load(ident(r, "dim")), jt, c)
      }).getOrElse(Nil)
    private val dimPins: Map[String, Int] =
      props.get(DimVersProp).map(dimVersFromJson).getOrElse(Map.empty)
    def pinnedVer(r: String): Int = dimPins.getOrElse(r, sys.error(
      s"materialized view $ns.$name: dimension $r carries no pinned version"))
    val curVers: Map[String, Int] = dimTbls.map { case (r, t, _, _) =>
      r -> t.currentOrFail().version
    }.toMap

    /** UNION ALL legs beyond the first (the fact), each with its own pin. */
    val legTbls: Seq[(String, GraftTable)] =
      props.get(UFactsProp).map(specFromJson(_).map { case Seq(r, _) =>
        (r, cat.load(ident(r, "union leg")))
      }).getOrElse(Nil)
    private val legPins: Map[String, Int] =
      props.get(UFactsProp).map(dimVersFromJson).getOrElse(Map.empty)
    def legPin(r: String): Int = legPins.getOrElse(r, sys.error(
      s"materialized view $ns.$name: union leg $r carries no pinned version"))
    val legCur: Map[String, Int] = legTbls.map { case (r, t) =>
      r -> t.currentOrFail().version
    }.toMap

    // per-leg WHERE (first leg keyed by the fact's rel, '' = none)
    private val legFilters: Map[String, String] =
      props.get(UFilterProp).map(specFromJson(_).map {
        case Seq(r, f) => r -> f
      }.toMap).getOrElse(Map.empty)
    // per-leg SELECT (first leg keyed by the fact's rel; a bare [rel]
    // row = identity)
    private val legProjs: Map[String, Seq[String]] =
      props.get(UProjProp).map(specFromJson(_).collect {
        case r +: exprs if exprs.nonEmpty => r -> exprs
      }.toMap).getOrElse(Map.empty)
    /** A leg's scan or slice through its own WHERE, then its SELECT
      * projecting the scan columns onto the union's output names;
      * changelog metadata columns pass through untouched. Identity for
      * a fact without union legs.
      */
    def legWhere(r: String)(df: DataFrame): DataFrame = {
      val filtered = legFilters.get(r).filter(_.nonEmpty)
        .fold(df)(f => df.where(expr(f)))
      legProjs.get(r).fold(filtered) { pj =>
        val meta = Seq("_change_type", "_commit_version", "_sign")
          .filter(filtered.columns.contains).map(c => s"`$c`")
        filtered.selectExpr(pj ++ meta: _*)
      }
    }

    /** The data-only changelog of relation `r` (the fact or a leg)
      * between two versions, through its leg WHERE/SELECT. Maintenance
      * commits (compaction, z-order, delete coalescing) preserve every
      * visible row, so the data-only feed keeps their file churn out of
      * the refresh: a nightly compaction must not make it O(table).
      */
    def sliceOf(r: String, t: GraftTable, from: Int, until: Int): DataFrame =
      legWhere(r)(t.scanDataChangesBetween(from, until).drop("_commit_version"))

    /** `factDf` joined to every dim AS OF `vers(dim)`. */
    def pinnedJoin(factDf: DataFrame, vers: String => Int): DataFrame =
      joinBase(factDf, dimTbls.map { case (r, t, jt, c) =>
        (t.scanAsOfVersion(vers(r)), jt, c)
      })

    /** The whole union'd fact: the first leg at `factVersion`, every
      * other leg at `legVers`, each through its own WHERE/SELECT. With
      * `prune` set, legs WITHOUT a projection also zone-prune by the
      * filter SQL it returns for their table (a projected leg's scan
      * columns differ from the union's output names, so it reads whole).
      */
    def headScan(factVersion: Int = to, legVers: String => Int = legCur,
                 prune: GraftTable => Option[String] = _ => None): DataFrame = {
      def one(r: String, t: GraftTable, v: Int): DataFrame =
        legWhere(r)(
          if (legProjs.contains(r)) t.scanAsOfVersion(v)
          else prune(t).fold(t.scanAsOfVersion(v))(t.scanVersionWhere(v, _)))
      legTbls.foldLeft(one(factRel, src, factVersion)) {
        case (acc, (r, t)) => acc.unionByName(one(r, t, legVers(r)))
      }
    }

    val dimsMoved: Boolean = dimTbls.exists { case (r, _, _, _) =>
      curVers(r) != pinnedVer(r)
    }
    val legsMoved: Boolean = legTbls.exists { case (r, _) => legCur(r) != legPin(r) }
    /** A relation rolled BACK behind its pin has no forward changelog
      * slice: a telescope would read an empty changelog over rewound
      * state and REGRESS the marker, silently keeping retracted commits
      * in the stored rows. Only a full recompute re-pins it. A dim or
      * leg that moved FORWARD maintains incrementally: a union is linear
      * in every leg, an inner dim by multilinearity, a LEFT dim via its
      * matched part plus the NULL-extension flip terms.
      */
    val mustRepin: Boolean = applied > to ||
      dimTbls.exists { case (r, _, _, _) => curVers(r) < pinnedVer(r) } ||
      legTbls.exists { case (r, _) => legCur(r) < legPin(r) }

    /** The pins this refresh records: every dim and leg at its read. */
    val newPins: Map[String, String] =
      (if (dimTbls.isEmpty) Map.empty[String, String]
       else Map(DimVersProp -> specJson(dimTbls.map { case (r, _, _, _) =>
         Seq(r, curVers(r).toString)
       }))) ++
        (if (legTbls.isEmpty) Map.empty[String, String]
         else Map(UFactsProp -> specJson(legTbls.map { case (r, _) =>
           Seq(r, legCur(r).toString)
         })))
    /** CAS scope of an incremental commit: the applied marker AND the
      * dim/leg pins — a concurrent refresh that re-pinned them must
      * abort this one at commit, not merge stale deltas over its rows.
      */
    val casProps: Map[String, String] =
      Map(AppliedProp -> applied.toString) ++
        props.get(DimVersProp).map(DimVersProp -> _) ++
        props.get(UFactsProp).map(UFactsProp -> _)

    /** Runs `body`, which reads the `what` changelog over (from, until];
      * a changelog expire_snapshots removed surfaces as an error naming
      * the range and the force_full remedy.
      */
    def replaying[T](what: String, from: Int, until: Int)(body: => T): T =
      try body
      catch {
        case e @ (_: java.io.FileNotFoundException |
                  _: java.nio.file.NoSuchFileException |
                  _: IllegalStateException | _: IllegalArgumentException) =>
          throw new IllegalStateException(
            s"materialized view $ns.$name cannot replay the $what changelog " +
              s"($from, $until] — expire_snapshots may have removed versions " +
              "the marker still needs. Rebuild with refresh_mview(..., " +
              "force_full => true)", e)
      }

    /** The FACT side's fields as the shape SQL sees them: the bare
      * fact's schema, or the union's OUTPUT fields (per-leg projections
      * rename/retype) — what the FULL algebra NULL-casts when it builds
      * extension rows.
      */
    lazy val factSideFields: Seq[StructField] =
      if (legTbls.isEmpty) src.schema.fields.toSeq
      else legWhere(factRel)(src.scanAsOfVersion(to)).schema.fields.toSeq

    /** `df` with `fields` added as typed NULL columns: the missing side
      * of an outer join's NULL-extension rows.
      */
    private def nullExtended(df: DataFrame, fields: Seq[StructField]): DataFrame =
      fields.foldLeft(df)((f, fld) => f.withColumn(fld.name, lit(null).cast(fld.dataType)))

    /** The lower-cased name pairs of `condSql`'s top-level `a = b`
      * conjuncts between bare columns; none when it does not parse.
      */
    private def eqPairs(condSql: String): Seq[(String, String)] = {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.{And => CAnd, EqualTo}
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
        case x => Seq(x)
      }
      scala.util.Try(cat.spark.sessionState.sqlParser.parseExpression(condSql)).toOption.toSeq
        .flatMap(conjuncts).collect {
          case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
            (a.nameParts.last.toLowerCase, b.nameParts.last.toLowerCase)
        }
    }

    /** `df` checkpointed with its row count and, per column of it in a
      * top-level `a = b` conjunct of `condSql` (binary floats left out:
      * NaN breaks the range/equality agreement), the [min, max] of its
      * values — all observed in the checkpoint's own job.
      */
    def boundedSlice(df: DataFrame, condSql: String): BoundedSlice = {
      val cols = df.schema.fields.collect {
        case f if f.dataType != FloatType && f.dataType != DoubleType =>
          f.name.toLowerCase -> f.name
      }.toMap
      val keys = eqPairs(condSql).flatMap { case (a, b) => Seq(a, b) }.distinct
        .filter(cols.contains)
      val (ck, r) = checkpointObserved(df, count(lit(1)) +: boundAggs(keys.map(cols)))
      BoundedSlice(ck, r.getLong(0), keys.zipWithIndex.map { case (k, i) =>
        val at = 1 + 3 * i
        k -> (if (r.isNullAt(at)) None else Some((r.get(at), r.get(at + 1))))
      }.toMap)
    }

    /** The union'd fact at `factVersion` (legs at `legVers`), zone-pruned
      * by `slice`'s equi-join key bounds: a fact row outside [min, max]
      * of the slice's join-key values cannot `condSql`-match any slice
      * row, so the range conjunct reaches the parquet scan and a dim
      * term reads O(matching fact files), not the whole fact. On
      * pass-through leg columns the conjuncts push to each leg's scan
      * through the Union; non-equi conjuncts and expression-valued sides
      * skip pruning; all-NULL slice keys can match nothing, emptying the
      * term.
      */
    def prunedFactFor(slice: BoundedSlice, condSql: String, factVersion: Int = to,
                      legVers: String => Int = legCur): DataFrame = {
      val full = headScan(factVersion, legVers)
      val factCols = full.schema.fields.map(f => f.name.toLowerCase -> f.name).toMap
      eqPairs(condSql).flatMap { case (a, b) =>
        if (factCols.contains(a) && slice.bounds.contains(b)) Some(factCols(a) -> slice.bounds(b))
        else if (factCols.contains(b) && slice.bounds.contains(a)) Some(factCols(b) -> slice.bounds(a))
        else None
      }.foldLeft(full) {
        case (f, (_, None)) => f.where(lit(false))
        case (f, (fc, Some((lo, hi)))) =>
          f.where(col(s"`$fc`") >= lit(lo) && col(s"`$fc`") <= lit(hi))
      }
    }

    /** Telescoped signed changelog of the JOINED shape between the
      * recorded state (fact at `factFrom`, legs at `legFrom`, dims at
      * `pins`) and the refresh head (fact at `to`, legs at `legCur`,
      * dims at `curVers`) — the one definition of "what changed" both
      * refresh arms read. One term per changed relation, changing them
      * left to right:
      *
      *   ΔF ⋈ D1@old ⋈ … ⋈ Dk@old                      (fact term)
      *   F@to ⋈ D1@new ⋈ … ⋈ D(i-1)@new ⋈ ΔDi ⋈ D(i+1)@old ⋈ … (dim i)
      *
      * Each term holds every other relation fixed, so inner-join
      * multilinearity makes its signed rows the exact difference of
      * the two join products: the rows net to J(head) − J(recorded), so
      * every group whose rows changed holds at least one of them.
      * `_change_type` flows from the single changed side and
      * [[signedSlice]] signs it downstream. Cost is O(ΔF ⋈ dims) +
      * Σ O(F ⋈ ΔDi) — the fact is SCANNED only for moved dims and only
      * joined against their (small) slices, never recomputed against
      * whole dimensions.
      */
    def telescopedChanges(factFrom: Int, pins: String => Int,
                          legFrom: String => Int): DataFrame = {
      // UNION ALL legs are linear: each moved leg's signed slice joins
      // the pinned dims exactly like the fact's (legs and dims compose —
      // the union'd fact is the left side of every join)
      val factSlice = legTbls.foldLeft(sliceOf(factRel, src, factFrom, to)) {
        case (acc, (r, t)) => acc.unionByName(sliceOf(r, t, legFrom(r), legCur(r)))
      }
      val factTerm =
        if (!dimTbls.exists(_._3 == "full_outer")) pinnedJoin(factSlice, pins)
        else {
          // A FULL OUTER dim (single FULL, as the first join — enforced
          // at analysis). FULL = LEFT ∪ dim-side NULL-extensions, and
          // LEFT is linear in the FACT side: the signed slice left-joins
          // the pinned dim, so changed fact rows flow through with their
          // matches or their own (f, NULLd) extension. The DIM-side
          // extensions (NULLf, d) flip NON-linearly under the fact move
          // — exactly the mirror of the moved-LEFT-dim flip algebra:
          //   d gained its first match (∅→matches between fact@from and
          //     fact@to): the stored rows held (NULLf, d) — RETRACT;
          //   d lost its last match: (NULLf, d) now exists — INSERT.
          // Only dim rows matching a slice row can flip, so `affectedD`
          // is slice-bounded and the two fact probes — the union'd fact
          // at the FROM pins (per leg) and at the head — are
          // zone-pruned by its keys: O(affected ⋈ F-rowgroups), never
          // O(F ⋈ D).
          val (r, t, _, c) = dimTbls.head
          val (slice, nSlice) = checkpointCounted(factSlice)
          val d0 = t.scanAsOfVersion(pins(r))
          val linear = slice.join(d0, expr(c), "left_outer")
          val affectedD =
            boundedSlice(d0.join(bcIfSmallN(slice, nSlice), expr(c), "left_semi"), c)
          val f0 = prunedFactFor(affectedD, c, factFrom, legFrom)
          val f1 = prunedFactFor(affectedD, c, to)
          val gained = affectedD.df.join(f0, expr(c), "left_anti")
            .join(f1, expr(c), "left_semi")
            .withColumn("_change_type", lit("delete"))
          val lost = affectedD.df.join(f0, expr(c), "left_semi")
            .join(f1, expr(c), "left_anti")
            .withColumn("_change_type", lit("insert"))
          val flips = nullExtended(gained.unionByName(lost), factSideFields)
          // suffix dims (FULL composes as the FIRST join): the fact term
          // holds them at OLD pins like any telescope fact term; the
          // flip rows' NULLed fact columns meet the suffix conditions
          // exactly as the defining query's NULL-extensions would (no
          // match under inner, NULL-extend under left)
          val suffix = dimTbls.tail.map { case (r2, t2, jt2, c2) =>
            (t2.scanAsOfVersion(pins(r2)), jt2, c2)
          }
          joinBase(linear.unionByName(flips), suffix)
        }
      val dimTerms = dimTbls.zipWithIndex.collect {
        case ((r, t, jt, c), i) if curVers(r) != pins(r) =>
          val before = dimTbls.take(i).map { case (r2, t2, jt2, c2) =>
            (t2.scanAsOfVersion(curVers(r2)), jt2, c2)
          }
          // one evaluation: the slice feeds the pruning bounds AND the
          // join (changelog scans re-plan per action otherwise); its
          // count and key bounds ride the checkpoint's own job
          val slice = boundedSlice(
            t.scanDataChangesBetween(pins(r), curVers(r)).drop("_commit_version"), c)
          val sliceJ = bcIfSmallN(slice.df, slice.n)
          val after = dimTbls.drop(i + 1).map { case (r2, t2, jt2, c2) =>
            (t2.scanAsOfVersion(pins(r2)), jt2, c2)
          }
          val base = {
            val fullHead = before.nonEmpty && dimTbls.head._3 == "full_outer"
            if (!fullHead) joinBase(prunedFactFor(slice, c), before)
            else {
              // the prefix holds the FULL head join: pruning the fact by
              // THIS dim's slice bounds would INVENT dim-side extensions
              // for head-dim rows whose real matches were pruned away.
              // Split the prefix instead: the fact-preserved side reads
              // the pruned fact through the FULL downgraded to LEFT
              // (sound under pruning — it emits exactly the fact rows
              // read), and the extension side is rebuilt from the head
              // dim directly — its rows NULL-extended on the fact
              // columns, threaded through the rest of the prefix,
              // bounded by this term's slice, and kept only when an
              // anti probe against the zone-pruned UNPRUNED fact
              // confirms they are unmatched at the head.
              val (r1, t1, _, c1) = dimTbls.head
              val part1 = joinBase(prunedFactFor(slice, c),
                (before.head._1, "left_outer", before.head._3) +: before.tail)
              val ext0 = nullExtended(t1.scanAsOfVersion(curVers(r1)), factSideFields)
              val extCand = joinBase(ext0, before.tail).join(sliceJ, expr(c), "left_semi")
              // the anti probe runs WITHOUT the NULLed fact columns
              // (the FULL condition would otherwise be ambiguous
              // between the probe side's nulls and the fact) and
              // re-adds them after
              val probe = boundedSlice(extCand.drop(factSideFields.map(_.name): _*), c1)
              val extReal = probe.df.join(prunedFactFor(probe, c1), expr(c1), "left_anti")
              part1.unionByName(nullExtended(extReal, factSideFields))
            }
          }
          val matched = joinBase(base.join(sliceJ, expr(c), "inner"), after)
          if (jt == "inner") matched
          else {
            // A moved LEFT dim: LEFT = matched part ∪ NULL-extension,
            // and the matched part is the INNER join — linear in the
            // dim, so the signed slice term above is exact for it. The
            // NULL-extensions flip NON-linearly, but only on prefix
            // rows whose match-set crossed zero, and those are exactly
            // computable with semi/anti joins (multiplicity-preserving,
            // no per-row match counting):
            //   gained a first match (∅→matches): the stored rows held
            //     (p, NULLs) — RETRACT it (sign −1);
            //   lost the last match (matches→∅): (p, NULLs) now exists
            //     — INSERT it (sign +1).
            // Only prefix rows matching a slice row can flip (the dim
            // changed nowhere else), so `affected` is slice-bounded and
            // the fact scan under it is zone-pruned by the slice keys;
            // the two dim probes are semi/anti joins of that small set
            // against the pinned and current dim. A row matching the
            // slice with matches on BOTH ends (an update) joins both
            // probes' keep-sides and lands in neither flip. Suffix dims
            // at old pins apply to the flip rows like any term — their
            // conditions see the NULLed columns exactly as the defining
            // query would.
            val affected = base.join(sliceJ, expr(c), "left_semi")
            val dOld = t.scanAsOfVersion(pins(r))
            val dNew = t.scanAsOfVersion(curVers(r))
            val gained = affected.join(dOld, expr(c), "left_anti")
              .join(dNew, expr(c), "left_semi")
              .withColumn("_change_type", lit("delete"))
            val lost = affected.join(dOld, expr(c), "left_semi")
              .join(dNew, expr(c), "left_anti")
              .withColumn("_change_type", lit("insert"))
            // (the NULLed columns here are the DIM's own — `affected`
            // already carries the prefix's fact/union-output columns)
            val flips = nullExtended(gained.unionByName(lost), t.schema.fields.toSeq)
            // FULL keeps the dim side too: the signed slice LEFT-joins
            // the (pruned) fact FROM THE DIM SIDE, so an unmatched
            // signed dim row carries its own (NULLf, d) extension —
            // linear in the dim; the fact-side flips above are the
            // same algebra as LEFT. Suffix dims apply to it at OLD
            // pins, exactly as they do to the flip rows.
            val linearTerm =
              if (jt == "full_outer") joinBase(slice.df.join(base, expr(c), "left_outer"), after)
              else matched
            linearTerm.unionByName(joinBase(flips, after))
          }
      }
      // a moved dim's term reads it at a newer schema than the fact
      // term's pin: only columns the shape does not reference can
      // differ (the column guards refuse the rest), so they NULL-fill
      dimTerms.foldLeft(factTerm)(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** REFRESH: apply the source changelog since the marker (incremental)
    * or recompute (full / forced). Returns (from, to, action).
    */
  def refresh(spark: SparkSession, cat: GraftCatalog,
              ns: String, name: String, forceFull: Boolean): (Int, Int, String) =
    // refresh's recomputes/replays must read base tables directly — a
    // rewrite substitution mid-refresh is at best wasted matching work
    withRewriteDisabled { refreshImpl(spark, cat, ns, name, forceFull) }

  private def refreshImpl(spark: SparkSession, cat: GraftCatalog,
              ns: String, name: String, forceFull: Boolean): (Int, Int, String) = {
    val storage = cat.load(TableIdent(ns, name + StorageSuffix))
    val props = storage.currentOrFail().properties
    val sql = props.getOrElse(SqlProp,
      throw new IllegalArgumentException(s"$ns.$name is not a materialized view"))
    val mode = props(ModeProp)
    // aggregate-over-window cascade: refresh the hidden inner window MV
    // FIRST, so the inner-storage changelog this refresh consumes
    // reflects the base table's current state — one CALL maintains the
    // whole pair, each level O(changes at its level)
    props.get(CascadeProp).foreach { innerRel =>
      innerRel.split("/") match {
        case Array(ins, inm) => refresh(spark, cat, ins, inm, forceFull)
        case other => sys.error(s"bad mview cascade: ${other.mkString("/")}")
      }
    }
    val in = new RefreshInputs(cat, ns, name, storage, props)
    import in._

    // a FORCED rebuild must rebuild even with the marker at the head —
    // the negative-count / storage-surgery errors name force_full as
    // the remedy precisely when the data is wrong at an applied marker
    // strict equality: a marker AHEAD of the head (out-of-band rewind)
    // is inconsistent state, not idleness — it falls through to the
    // full re-pin instead of reporting noop forever
    if (applied == to && !dimsMoved && !legsMoved && !forceFull)
      return (applied, to, "noop")

    // rank-per-group window MVs recompute the groups the telescoped
    // changelog touches, in their own arm
    if (mode == "window") return refreshWindow(in, forceFull)

    if (mode == "full" || forceFull || mustRepin) {
      var dlProps = Map.empty[String, String]
      val frame =
        if (mode == "full") spark.sql(sql)
        else {
          val shape = shapeFromProps(props)
          val base0 = pinnedJoin(headScan(), curVers)
          val based = shape.filter.fold(base0)(base0.where)
          // rebuild each dedup-level aux table from the same pinned
          // base the rows are rebuilt from, re-point the folded marker
          // at the overwrite version, and re-pin the aux's own dim pins
          dlProps = dlGroups(shape.aggs).map { case (ci, vsql, _) =>
            val aux = cat.load(TableIdent(ns, name + StorageSuffix + dlSuffix(ci)))
            aux.overwrite(dlPairs(based, shape, vsql),
              props = Map(AppliedProp -> to.toString) ++ newPins)
            dlVerProp(ci) -> aux.currentOrFail().version.toString
          }.toMap
          grouped(based, shape)
        }
      storage.overwrite(frame,
        props = props ++ Map(AppliedProp -> to.toString) ++ newPins ++ dlProps)
      return (applied, to, "full")
    }

    val shape = shapeFromProps(props)
    val dlg = dlGroups(shape.aggs)
    // the incremental commit's CAS scope adds the dedup-level folded
    // markers: a concurrent full re-pin rebuilds the aux tables too,
    // possibly leaving AppliedProp unchanged
    val cas: Map[String, String] = casProps ++ dlg.flatMap { case (ci, _, _) =>
      props.get(dlVerProp(ci)).map(dlVerProp(ci) -> _)
    }
    val groupNames = shape.groups.map(_._1)
    // GLOBAL aggregates merge on the synthetic constant key: the
    // storage table holds exactly ONE row (a global aggregate over an
    // empty table is one row — count 0, sums NULL — so the group-vanish
    // delete never applies; the rows==0 row IS the correct state)
    val isGlobal = groupNames.isEmpty
    // grouping sets: two sets can emit identical key tuples (a real
    // NULL key vs a rolled-up one) — the stored grouping id joins the
    // merge key to keep every row uniquely addressable
    val mergeKeys =
      if (isGlobal) Seq(GlobalKeyCol)
      else if (shape.sets.isDefined) groupNames :+ GidCol
      else groupNames
    // the storage scan's zone-map keys: under grouping sets most delta
    // rows carry NULL keys (rolled-up components contribute no
    // conjunct), so the grouping id — never NULL — is the one bound that
    // always lands
    val boundKeys = if (shape.sets.isDefined) groupNames :+ GidCol else groupNames
    // one evaluation: the delta feeds the merge join and both
    // applyNetChanges sides; its row count and key bounds ride the
    // checkpoint's own job
    val (d, dStats) = replaying("source or moved-dimension", applied, to) {
      checkpointObserved(delta(telescopedChanges(applied, pinnedVer, legPin), shape),
        count(lit(1)) +: boundAggs(boundKeys))
    }

    // PHASE A — dedup-level pair apply, one aux table per distinct
    // expression, BEFORE the main merge. Each aux table carries its OWN
    // applied marker with CAS, so the two-table update is crash-safe:
    // a retry after a crash between the phases finds the aux marker at
    // the head, skips the already-applied pair slice, and still folds
    // the aux changelog it produced into the main merge (phase B reads
    // from the main-recorded dl-version, not the aux marker). Returns
    // each aux table's current version, the fold's right endpoint.
    val dlVerNow: Map[Int, Int] = dlg.map { case (ci, vsql, _) =>
      val aux = cat.load(TableIdent(ns, name + StorageSuffix + dlSuffix(ci)))
      val auxProps = aux.currentOrFail().properties
      val auxApplied = auxProps(AppliedProp).toInt
      // the aux table pins dims INDEPENDENTLY: a crash between phase A
      // and the main merge leaves the aux at (to, curVers) while the
      // storage pins stay put — the retry must not replay the dim
      // slices into the pair counts. Legacy aux tables (written before
      // dim terms existed) never absorbed a dim delta, so the main pin
      // is exactly their state.
      val auxDimVers: Map[String, Int] =
        auxProps.get(DimVersProp).map(dimVersFromJson).getOrElse(Map.empty)
      def auxPin(r: String): Int = auxDimVers.getOrElse(r, pinnedVer(r))
      val auxLegVers: Map[String, Int] =
        auxProps.get(UFactsProp).map(dimVersFromJson).getOrElse(Map.empty)
      def auxLegPin(r: String): Int = auxLegVers.getOrElse(r, legPin(r))
      val auxDimsMoved = dimTbls.exists { case (r, _, _, _) =>
        curVers(r) != auxPin(r)
      } || legTbls.exists { case (r, _) => legCur(r) != auxLegPin(r) }
      if (auxApplied < to || auxDimsMoved) {
        val auxCas = Map(AppliedProp -> auxApplied.toString) ++
          auxProps.get(DimVersProp).map(DimVersProp -> _) ++
          auxProps.get(UFactsProp).map(UFactsProp -> _)
        val pairKeys = mergeKeys :+ DlVCol
        val (pd, pdStats) = replaying("COUNT(DISTINCT) pair table's source", auxApplied, to) {
          val slice = signedSlice(
            telescopedChanges(auxApplied, auxPin, auxLegPin), shape)
          checkpointObserved(dlAggregate(slice, shape, vsql, sum(col("_sign")).as("_mv_net")),
            count(lit(1)) +: boundAggs(pairKeys))
        }
        if (pdStats.getLong(0) == 0L)
          aux.updateProperties(Map(AppliedProp -> to.toString) ++ newPins,
            requireParentProps = auxCas)
        else {
          // zone-pruned keyed read of only the pairs that can be hit —
          // same rectangle trick as the main merge, over group+value
          val curA = rangeSql(keyBounds(pdStats, 1, pairKeys), aux.schema,
              pairKeys.map(k => k -> k))
            .fold(aux.scan())(aux.scanWhere)
          def pc(n: String) = col(s"p.`$n`")
          def cc(n: String) = col(s"c.`$n`")
          val (mergedA, aStats) = checkpointObserved(pd.alias("p").join(curA.alias("c"),
              pairKeys.map(n => pc(n) <=> cc(n)).reduce(_ && _), "left")
            .select(pairKeys.map(n => pc(n).as(n)) :+
              (coalesce(cc(RowsCol), lit(0L)) + pc("_mv_net")).as(RowsCol): _*),
            Seq(count(when(col(RowsCol) < 0, 1))))
          if (aStats.getLong(0) > 0L)
            throw new IllegalStateException(
              s"materialized view $ns.$name: a COUNT(DISTINCT) pair count " +
                "went negative — the changelog and the pair table's applied " +
                "marker disagree (manual table surgery?). Refusing to write; " +
                "run refresh_mview with force_full => true to rebuild")
          aux.applyNetChanges(
            mergedA.where(col(RowsCol) === 0)
              .select(pairKeys.map(n => col(s"`$n`")): _*),
            mergedA.where(col(RowsCol) > 0),
            pairKeys,
            props = Map(AppliedProp -> to.toString) ++ newPins,
            requireParentProps = auxCas,
            nullSafeKeys = true)
        }
      }
      ci -> aux.currentOrFail().version
    }.toMap

    if (dStats.getLong(0) == 0L) {
      // net-empty slice: advance the marker metadata-only, CAS-guarded —
      // a stale empty-advance racing a real refresh must not REGRESS the
      // marker (replaying the range would double-apply its changes).
      // (An all-filtered slice nets no pairs either, so phase A above
      // advanced each aux marker the same metadata-only way.) The dim
      // pins advance too: a net-empty telescope still CONSUMED the dim
      // slices — leaving the old pins would replay them next refresh.
      storage.updateProperties(
        Map(AppliedProp -> to.toString) ++ newPins ++
          dlVerNow.map { case (i, v) => dlVerProp(i) -> v.toString },
        requireParentProps = cas)
      return (applied, to, "empty")
    }

    // PHASE B — fold each aux table's changelog since the main-recorded
    // dl-version into the delta, one fold per USING agg: a pair BIRTH
    // (insert with no delete pre-image) is +1 distinct (+value for
    // SUM/AVG DISTINCT), a DEATH is −1 (−value), and a carrier-count
    // update nets 0 in both the sign sum and the sign-weighted value
    // sum — so the group-summed folds ARE the exact distinct deltas,
    // and the merge below treats them like any additive aggregate.
    // decimal fold sums that came out NULL on a MATCHED group (its
    // sign-count fold is non-null — pair values are never NULL, so the
    // signed value sum is NULL only on DECIMAL(38) overflow) are
    // flagged BEFORE the coalesce-to-zero masks them; the flags ride
    // into the merged frame and feed the overflow abort below.
    val storedType = storage.schema.fields.map(f => f.name -> f.dataType).toMap
    val dlOvfFlags = scala.collection.mutable.ListBuffer.empty[String]
    val dFull = dlg.foldLeft(d) { case (acc, (ci, _, users)) =>
      val folds = users.flatMap { case (a, i) => a.kind.fold(a, i, storedType) }
      val fromV = props.getOrElse(dlVerProp(ci), sys.error(
        s"materialized view $ns.$name: missing ${dlVerProp(ci)} marker")).toInt
      val nowV = dlVerNow(ci)
      if (nowV == fromV)
        folds.foldLeft(acc) { case (f, (n, zero, _, _)) => f.withColumn(n, zero) }
      else {
        val aux = cat.load(TableIdent(ns, name + StorageSuffix + dlSuffix(ci)))
        val dd = replaying("distinct-aggregate pair", fromV, nowV) {
          aux.scanChangesBetween(fromV, nowV)
            .withColumn("_mv_s", when(col("_change_type") === "insert", lit(1L))
              .otherwise(lit(-1L)))
            .groupBy(mergeKeys.map(n => col(s"`$n`")): _*)
            .agg(folds.head._3.as(folds.head._1),
              folds.tail.map { case (n, _, e, _) => e.as(n) }: _*)
        }
        val dk = mergeKeys.map("_mvdk_" + _)
        val renamed = dd.toDF(dk ++ folds.map(_._1): _*)
        val joined0 = acc.join(renamed,
          mergeKeys.zip(dk).map { case (n, r) =>
            col(s"`$n`") <=> col(s"`$r`")
          }.reduce(_ && _), "left")
        val flagged = folds.collect { case (n, _, _, Some(ind)) => (n, ind) }
          .foldLeft(joined0) { case (f, (n, ind)) =>
            val flag = s"_mv_dlovf_${dlOvfFlags.size}"
            dlOvfFlags += flag
            f.withColumn(flag, col(s"`$n`").isNull && col(s"`$ind`").isNotNull)
          }
        folds.foldLeft(flagged) { case (f, (n, zero, _, _)) =>
          f.withColumn(n, coalesce(col(s"`$n`"), zero))
        }.drop(dk: _*)
      }
    }

    // read only the storage files that can hold an affected group: a
    // matching row needs every group component inside the delta's
    // [min, max], so the range filter lets scanWhere's zone maps skip
    // the rest. At MV scale this keeps refresh reads at O(affected
    // groups), not O(all groups). A skipped column only widens `cur`:
    // the merge left-joins from the delta, so extra current rows are
    // inert.
    val cur = rangeSql(keyBounds(dStats, 1, boundKeys), storage.schema,
        boundKeys.map(k => k -> k))
      .fold(storage.scan())(storage.scanWhere)
    // null-safe merge join: a NULL group key addresses the stored
    // NULL-keyed row exactly like any other key
    val joined = dFull.alias("d").join(cur.alias("c"),
      mergeKeys.map(n => deltaCol(n) <=> curCol(n)).reduce(_ && _), "left")
    val newRows = (coalesce(curCol(RowsCol), lit(0L)) + deltaCol(RowsCol)).as(RowsCol)
    val indexed = shape.aggs.zipWithIndex
    val extremes = indexed.flatMap { case (a, i) => a.kind.extreme.map(x => (a, i, x)) }
    val valueCols = indexed.map { case (a, i) => a.kind.merged(a, i, storedType).as(a.name) }
    val hiddenCols = indexed.flatMap { case (a, i) =>
      a.kind.hidden(a, i).map { case (n, _) => mergeAdd(n, storedType).as(n) }
    }
    // a delete can retract the extreme: flag the group for targeted recompute
    val rcCols = extremes.map { case (a, i, x) => x.retracted(a, i).as(rcCol(i)) }
    val rcAny: Column =
      (if (rcCols.isEmpty) lit(false)
       else extremes.map { case (_, i, _) => col(s"`${rcCol(i)}`") }.reduce(_ || _))
    val groupSel = mergeKeys.map(n => deltaCol(n).as(n))
    // overflow seen before this merge folds a lost sum into 0
    val ovfStored: Column = {
      val conds = indexed.flatMap { case (a, i) => a.kind.overflowed(a, i) }
      (if (conds.isEmpty) lit(false) else conds.reduce(_ || _)).as(OvfStored)
    }
    // the fold-overflow flags computed in phase B ride along so the
    // abort below can see them post-checkpoint
    val dlOvfCols = dlOvfFlags.toSeq.map(n => deltaCol(n).as(n))
    val merged0 = joined
      .select(groupSel ++ valueCols ++ hiddenCols ++ rcCols ++ dlOvfCols
        :+ newRows :+ ovfStored: _*)
    // grouped MVs delete the rows==0 group (its extremes are moot); the
    // GLOBAL row is upserted even at rows==0, so a retracted extreme
    // must still recompute — over the emptied source the rec row is
    // absent and the extreme correctly resolves to NULL
    val needsRec =
      if (isGlobal) col(RcAny) else col(RcAny) && col(RowsCol) > 0
    // overflow on the merge's sides, in a pair fold, or in the merge
    // itself: the true aggregate exceeds DECIMAL(38) capacity and no
    // incremental answer exists (a view with no such guard never aborts)
    val fresh = indexed.flatMap { case (a, i) => a.kind.overflowedMerge(a, i) } ++
      dlOvfFlags.toSeq.map(n => col(s"`$n`"))
    val anyOvf =
      if (fresh.isEmpty) lit(false) else (col(s"`$OvfStored`") +: fresh).reduce(_ || _)
    // one evaluation, and the abort probes, the recompute count and the
    // recompute keys' bounds ride the checkpoint's own job
    val (merged, mStats) = checkpointObserved(merged0.withColumn(RcAny, rcAny),
      Seq(count(when(col(RowsCol) < 0, 1)), count(when(anyOvf, 1)), count(when(needsRec, 1))) ++
        boundAggs(groupNames, needsRec))

    if (mStats.getLong(0) > 0L)
      throw new IllegalStateException(
        s"materialized view $ns.$name: a group's maintained row count went " +
          "negative — the changelog and the applied-version marker disagree " +
          "(manual table surgery?). Refusing to write; run refresh_mview with " +
          "force_full => true to rebuild")
    if (mStats.getLong(1) > 0L)
      throw new ArithmeticException(
        s"materialized view $ns.$name: a decimal running sum is NULL with a " +
          "positive non-null row count — the sum overflowed DECIMAL(38) (or " +
          "a prior full refresh stored the SQL overflow answer). The " +
          "aggregate is not incrementally maintainable at this magnitude; " +
          "refusing to write a silently-resurrected 0. Drop and recreate " +
          "the view without this SUM/AVG, or keep it on full refresh " +
          "(force_full => true), where NULL is the true SQL answer")

    // targeted MIN/MAX recompute: only groups whose extreme was
    // retracted, read from the source AS OF the refresh head, narrowed
    // to the retracted groups' key range and semi-joined to exactly
    // those keys — O(affected groups), never O(table)
    val nRecKeys = mStats.getLong(2)
    val resolved: DataFrame = {
      if (extremes.isEmpty || nRecKeys == 0L) merged
      else {
        val keyRows = merged.where(needsRec).select(mergeKeys.map(n => col(s"`$n`")): _*)
        val srcBase0 = {
          // recompute against the state this refresh WRITES — fact
          // legs at the head, dims at the versions the telescope
          // advanced them to
          val b = pinnedJoin(headScan(), curVers)
          shape.filter.fold(b)(b.where)
        }
        // parquet-pushdown narrowing on the group expressions (Column
        // conjuncts carry exact literals, so no binary-float skip here)
        val groupExpr = shape.groups.toMap
        val srcNarrow = keyBounds(mStats, 3, groupNames)
          .foldLeft(srcBase0) { case (f, (k, (lo, hi))) =>
            f.where(expr(groupExpr(k)) >= lit(lo) && expr(groupExpr(k)) <= lit(hi))
          }
        // the key frame over the checkpoint (and the rec frame derived
        // from it — one row per affected key tuple, times the
        // grouping-set multiplicity) compiles without AQE/stats, so the
        // planner would sort-merge-join it against the narrowed source
        // scan and the merged frame. Affected-extreme keys are
        // changelog-bounded: broadcast below the counted bound (guide
        // §3.1), keeping the big sides unshuffled at every scale.
        val keyRenamed = bcIfSmallN(keyRows.toDF(mergeKeys.map("_mvk_" + _): _*), nRecKeys)
        val recRenamed = shape.sets match {
          case Some(_) =>
            // grouping sets: a source ROW feeds one subtotal row per
            // set, so aggregate the narrowed source through the SAME
            // sets (grouping id appended, matching the stored _mv_gid)
            // and keep only the affected key tuples
            val recAggs = extremes.map { case (a, i, x) => x.pick(expr(a.sql)).as(s"_mv_rec_$i") }
            val recAll = aggregateBy(srcNarrow, shape,
              shape.groups.map { case (n, s) => expr(s).as(n) }, recAggs)
            val rec = recAll.join(keyRenamed,
              mergeKeys.map(n => col(s"`$n`") <=> col(s"`_mvk_$n`")).reduce(_ && _),
              "left_semi")
            // aggregateBy's sets output order: groups, recs, _mv_gid
            rec.toDF(shape.groups.map(p => "_mvk_" + p._1) ++
              extremes.map { case (_, i, _) => s"_mv_rec_$i" } :+
              ("_mvk_" + GidCol): _*)
          case None =>
            val srcProj0 = srcNarrow.select(
              shape.groups.map { case (n, s) => expr(s).as(n) } ++
                extremes.map { case (a, i, _) => expr(a.sql).as(s"_mv_v_$i") }: _*)
            val srcProj =
              if (isGlobal) srcProj0.withColumn(GlobalKeyCol, lit(0)) else srcProj0
            val recAggs = extremes.map { case (_, i, x) =>
              x.pick(col(s"`_mv_v_$i`")).as(s"_mv_rec_$i")
            }
            val rec = srcProj.join(keyRenamed,
                mergeKeys.map(n => col(s"`$n`") <=> col(s"`_mvk_$n`")).reduce(_ && _),
                "left_semi")
              .groupBy(mergeKeys.map(n => col(s"`$n`")): _*)
              .agg(recAggs.head, recAggs.tail: _*)
            rec.toDF(
              mergeKeys.map("_mvk_" + _) ++
                extremes.map { case (_, i, _) => s"_mv_rec_$i" }: _*)
        }
        val recJ = bcIfSmallN(recRenamed, nRecKeys)
        val withRec = merged.join(recJ,
          mergeKeys.map(n => col(s"`$n`") <=> col(s"`_mvk_$n`")).reduce(_ && _),
          "left")
        val outCols = merged.columns.map { c =>
          extremes.find { case (a, _, _) => a.name == c } match {
            case Some((_, i, _)) =>
              when(col(s"`${rcCol(i)}`"), col(s"`_mv_rec_$i`"))
                .otherwise(col(s"`$c`")).as(c)
            case None => col(s"`$c`")
          }
        }
        // one evaluation: the recompute scan + semi join feed the
        // upsert/delete split AND applyNetChanges' own probes — without
        // the checkpoint the narrowed source scan re-executes 3-4x
        withRec.select(outCols.toIndexedSeq: _*).localCheckpoint()
      }
    }

    // global: the rows==0 row is UPSERTED (count 0, sums/extremes NULL
    // — exactly the global aggregate of the emptied table), never
    // deleted; grouped: a vanished group's key is deleted
    val upserts = (if (isGlobal) resolved else resolved.where(col(RowsCol) > 0))
      .select(storage.schema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*)
    val delKeys = (if (isGlobal) resolved.where(lit(false))
                   else resolved.where(col(RowsCol) === 0))
      .select(mergeKeys.map(n => col(s"`$n`")): _*)
    // marker-CAS: a racing refresh that already advanced the marker
    // makes this one abort at commit instead of double-applying a
    // delta both derived from the same marker
    storage.applyNetChanges(delKeys, upserts, mergeKeys,
      props = props ++ Map(AppliedProp -> to.toString) ++ newPins ++
        dlVerNow.map { case (i, v) => dlVerProp(i) -> v.toString },
      requireParentProps = cas,
      nullSafeKeys = true)
    (applied, to, "incremental")
  }

  /** Refresh a rank-per-group window MV by AFFECTED-GROUP recompute:
    * rank functions are not retraction-decomposable (a single delete
    * re-ranks its whole group), but a window never crosses partitions,
    * so the changelog's touched partition keys bound the work exactly —
    * touched groups recompute from the source AS OF the head and
    * replace their stored rows wholesale, untouched groups keep theirs.
    * Cost is O(touched groups ⋈ source-rows-of-those-groups), never
    * O(table): both the head scan and the stored-slice read are
    * zone-pruned by the touched keys' [min, max] rectangle, and the
    * replacement commits through ONE keyed [[GraftTable.applyNetChanges]]
    * carrying the marker CAS — exactly-once under retries, and a reader
    * never sees a group half-replaced.
    */
  private def refreshWindow(in: RefreshInputs, forceFull: Boolean): (Int, Int, String) = {
    import in._
    val parts = specFromJson(props(WinPartProp)).map { case Seq(n, s) => (n, s) }
    val proj = specFromJson(props(WinProjProp)).map { case Seq(n, s) => (n, s) }
    val innerFilter = props.get(FilterProp).filter(_.nonEmpty)
    val rankFilter = props.get(WinFilterProp).filter(_.nonEmpty)
    def replay(base: DataFrame): DataFrame =
      windowReplay(base, innerFilter, proj, rankFilter)

    // forced rebuild, a rolled-back source, or a rolled-back dim/leg
    // (no forward slice to bound the touched groups with): one full
    // replay over the joined head, overwritten with marker + pins in
    // the same commit
    if (forceFull || mustRepin) {
      storage.overwrite(replay(pinnedJoin(headScan(), curVers)),
        props = props ++ Map(AppliedProp -> to.toString) ++ newPins)
      return (applied, to, "full")
    }

    val keyNames = parts.map(_._1)
    // the partition keys that are bare columns of `schema`
    def bareKeysOf(schema: org.apache.spark.sql.types.StructType): Seq[String] =
      parts.filter { case (_, s) =>
        schema.fields.exists(_.name.equalsIgnoreCase(s.stripPrefix("`").stripSuffix("`")))
      }.map(_._1)
    val factKeyNames = bareKeysOf(src.schema)
    val dimKeyNames = dimTbls.map(d => bareKeysOf(d._2.schema))
    // touched keys whose components in `names` are all NULL
    def allNull(names: Seq[String]): Column =
      if (names.isEmpty) lit(false) else names.map(n => col(s"`$n`").isNull).reduce(_ && _)
    // touched groups: every row of the telescoped changelog of the
    // joined shape that passes the inner WHERE touches its partition
    // key. Its signed rows net to J(head) − J(recorded), so every group
    // whose rows changed holds one of them; rows that cancel touch only
    // unchanged groups, whose recompute from the head is idempotent.
    // One evaluation; the count, the key bounds and the all-NULL probes
    // of the pruning decisions below ride the checkpoint's own job
    val (touched, tStats) = replaying("source or moved-dimension", applied, to) {
      val changes = telescopedChanges(applied, pinnedVer, legPin)
      checkpointObserved(
        innerFilter.fold(changes)(p => changes.where(expr(p)))
          .select(parts.map { case (n, s) => expr(s).as(n) }: _*).distinct(),
        (count(lit(1)) +: boundAggs(keyNames)) ++
          (factKeyNames +: dimKeyNames).map(ns => count(when(allNull(ns), 1))))
    }
    val nTouched = tStats.getLong(0)
    val bounds = keyBounds(tStats, 1, keyNames)
    // no touched key has all of fact (0) or dim j (j + 1) key components NULL
    def noAllNullKey(i: Int): Boolean = tStats.getLong(1 + 3 * keyNames.size + i) == 0L
    if (nTouched == 0L) {
      // all-filtered slice / no affected groups: advance the marker and
      // pins metadata-only, CAS-guarded
      storage.updateProperties(
        Map(AppliedProp -> to.toString) ++ newPins,
        requireParentProps = casProps)
      return (applied, to, "empty")
    }

    // zone-pruned reads on both sides of the replacement: a row of an
    // untouched group outside the touched keys' [min, max] rectangle
    // cannot join and would only idle through the semi join (expression
    // keys skip pruning and stay exact through it)
    val tk = parts.indices.map(i => s"_mvtk_$i")
    // touched keys are changelog-bounded: broadcast below the counted
    // bound so neither the recompute join nor the stored-slice semi
    // join shuffles its big side
    val touchedR = bcIfSmallN(touched.toDF(tk: _*), nTouched)

    // range pruning applies to keys that are bare FACT columns (the
    // schema check skips dim-side keys — still exact via the semi join);
    // a union'd fact prunes each projection-free leg against its OWN
    // schema and reads projected legs whole (their scan columns differ
    // from the union output names — the semi join stays exact).
    //
    // Under a FULL dim, pruning the fact can INVENT dim-side extensions
    // (a dim row whose only matches were pruned away joins as
    // unmatched). A false extension row carries NULL in every
    // fact-derived key component, so it can only land in touched groups
    // whose fact-side key components are all NULL — when no touched key
    // has that shape, every false extension drops at the semi join and
    // fact pruning stays sound; otherwise read the fact whole (the
    // extension rows of the NULL-keyed group need the exact unmatched
    // set).
    val factPruneOk = !dimTbls.exists(_._3 == "full_outer") ||
      (factKeyNames.nonEmpty && noAllNullKey(0))
    val srcScan = headScan(prune = t =>
      if (factPruneOk) rangeSql(bounds, t.schema, parts) else None)
    // DIM-side zone pruning (round 19): when the partition key lives on
    // a dimension (the dim-keyed rank dashboard), the recompute join
    // used to read the WHOLE dim — at scale a full fact x full dim
    // join for a handful of touched groups. Prune each dim's scan by
    // the touched keys' rectangle over its OWN bare key columns.
    // Soundness mirrors factPruneOk: pruning an INNER dim only drops
    // rows whose key is outside every touched key (they cannot join a
    // touched group); pruning a LEFT/FULL dim can additionally INVENT
    // fact-side NULL extensions, whose dim-derived key components are
    // all NULL — sound unless a touched key has exactly that shape.
    val dimPrunedJoin: Seq[(DataFrame, String, String)] =
      dimTbls.zipWithIndex.map { case ((r, t, jt, c), j) =>
        val sound = dimKeyNames(j).nonEmpty && (jt == "inner" || noAllNullKey(j + 1))
        val scan =
          if (!sound) t.scanAsOfVersion(curVers(r))
          else rangeSql(bounds, t.schema, parts) match {
            case Some(p) => t.scanVersionWhere(curVers(r), p)
            case None => t.scanAsOfVersion(curVers(r))
          }
        (scan, jt, c)
      }
    val srcTouched = joinBase(srcScan, dimPrunedJoin).join(touchedR,
      parts.zip(tk).map { case ((_, s), k) => expr(s) <=> col(s"`$k`") }
        .reduce(_ && _), "left_semi")
    val (recomputed, nRecomputed) = checkpointCounted(replay(srcTouched))

    val storedScan = rangeSql(bounds, storage.schema, keyNames.map(k => k -> k)) match {
      case Some(p) => storage.scanWhere(p)
      case None => storage.scan()
    }
    val storedTouched = storedScan.join(touchedR,
      keyNames.zip(tk).map { case (n, k) => col(s"`$n`") <=> col(s"`$k`") }
        .reduce(_ && _), "left_semi")

    val mergeKeys = keyNames :+ WinRnCol
    // null-safe anti join (a NULL partition key addresses a real group):
    // stored keys whose (parts, rn) vanished from the recompute
    val rk = mergeKeys.indices.map(i => s"_mvrk_$i")
    val recomputedKeys = bcIfSmallN(recomputed
      .select(mergeKeys.map(n => col(s"`$n`")): _*).toDF(rk: _*), nRecomputed)
    val delKeys = storedTouched.select(mergeKeys.map(n => col(s"`$n`")): _*)
      .join(recomputedKeys,
        mergeKeys.zip(rk).map { case (n, k) => col(s"`$n`") <=> col(s"`$k`") }
          .reduce(_ && _), "left_anti")
    storage.applyNetChanges(delKeys, recomputed, mergeKeys,
      props = props ++ Map(AppliedProp -> to.toString) ++ newPins,
      requireParentProps = casProps,
      nullSafeKeys = true)
    (applied, to, "incremental")
  }

  /** Continuous maintenance: a Structured Streaming query on the
    * `.changes` relations of the SOURCE table AND every join dimension
    * whose only job is to fire [[refresh]] once per micro-batch —
    * a dim-only commit ticks the stream too, so the telescoped
    * incremental refresh consumes it instead of the MV silently going
    * stale until the next fact commit. The batch DataFrame is never
    * touched — each relation projects to a constant before the union
    * and foreachBatch runs no job over it, so the stream costs
    * offset/admission planning (metadata) per trigger while refresh
    * reads the changelog slices exactly once through its own markers.
    * At-least-once trigger delivery composes with the marker's
    * exactly-once: a replayed trigger sees `applied >= head` with
    * unmoved pins and no-ops. Stop/restart needs only the checkpoint
    * dir; the MV itself carries all refresh state.
    *
    * NOTE: adding dims/legs to the feed changed the stream's SOURCE
    * SHAPE — a checkpoint written by the fact-only version of this
    * method will not recover for join/union MVs. The arity guard
    * below detects such a checkpoint BEFORE start and raises an error
    * naming the remedy: restart with a fresh checkpoint dir (the MV's
    * own markers make the switch lossless).
    */
  def maintainStream(spark: SparkSession, cat: GraftCatalog, catalogName: String,
                     ns: String, name: String, checkpointDir: String,
                     trigger: org.apache.spark.sql.streaming.Trigger =
                       org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val storage = cat.load(TableIdent(ns, name + StorageSuffix))
    val props = storage.currentOrFail().properties
    require(props.contains(SqlProp), s"$ns.$name is not a materialized view")
    val dimVers: Map[String, Int] =
      props.get(DimVersProp).map(dimVersFromJson).getOrElse(Map.empty)
    // (relation, start version): fact at the applied marker, each dim
    // at its pin — so a pre-existing backlog on ANY relation fires the
    // first trigger (a fresh checkpoint would otherwise start at the
    // head and never see it); on restart the checkpoint's offsets win
    // and the start options are ignored
    val legVers: Map[String, Int] =
      props.get(UFactsProp).map(dimVersFromJson).getOrElse(Map.empty)
    // an aggregate-over-window cascade's own source is the HIDDEN inner
    // MV's storage, which only moves when the inner refreshes — the
    // stream must also watch the inner's base relations so a base-table
    // commit fires the trigger (refresh then cascades inner → outer)
    val cascadeFeeds: Seq[(String, String)] =
      props.get(CascadeProp).toSeq.flatMap { innerRel =>
        innerRel.split("/") match {
          case Array(ins, inm) =>
            val ip = cat.load(TableIdent(ins, inm + StorageSuffix))
              .currentOrFail().properties
            val idims = ip.get(DimVersProp).map(dimVersFromJson)
              .getOrElse(Map.empty)
            (ip(SourceProp), ip(AppliedProp)) +:
              idims.toSeq.sorted.map { case (r, v) => (r, v.toString) }
          case _ => Nil
        }
      }
    val feeds: Seq[(String, String)] =
      ((props(SourceProp), props(AppliedProp)) +:
        (dimVers ++ legVers).toSeq.sorted.map { case (r, v) => (r, v.toString) }) ++
        cascadeFeeds
    // Legacy-checkpoint guard: the stream's SOURCE SHAPE is one feed
    // per relation (fact + every dim/union leg). A checkpoint written
    // by the fact-only version of this method (or for an MV whose dim
    // set since changed) cannot recover against a different union
    // arity — Spark would fail deep in offset recovery with no pointer
    // to the remedy. Count the sources in the newest offsets file and
    // fail UP FRONT with the fix by name. (A fresh checkpoint dir is
    // lossless here: all refresh state lives in the MV's own markers.)
    locally {
      val offsets = new org.apache.hadoop.fs.Path(checkpointDir, "offsets")
      val cfs = offsets.getFileSystem(spark.sessionState.newHadoopConf())
      if (cfs.exists(offsets)) {
        cfs.listStatus(offsets).map(_.getPath)
          .filter(p => p.getName.nonEmpty && p.getName.forall(_.isDigit))
          .sortBy(_.getName.toLong).lastOption.foreach { p =>
            val in = cfs.open(p)
            val nSources =
              try scala.io.Source.fromInputStream(in, "UTF-8").getLines().size - 2
              finally in.close()
            if (nSources > 0 && nSources != feeds.size)
              throw new IllegalStateException(
                s"materialized-view stream for $ns.$name reads ${feeds.size} " +
                  s"changelog feed(s) (fact + dims/union legs) but the " +
                  s"checkpoint at $checkpointDir was written with $nSources — " +
                  "an incompatible source shape (written before the feed " +
                  "included dimensions, or the MV's join shape changed). " +
                  "Restart with a FRESH checkpoint directory: the MV's own " +
                  "applied/pin markers make the switch lossless")
          }
      }
    }
    val ticks = feeds.map { case (rel, start) =>
      val Array(rns, rt) = rel.split("/")
      spark.readStream
        .option("streamStartVersion", start)
        .table(s"$catalogName.$rns.$rt.changes")
        .select(lit(1).as("_tick"))
    }
    ticks.reduce(_ unionByName _)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) =>
        refresh(spark, cat, ns, name, forceFull = false)
        ()
      }
      .queryName(s"graft-mview-$ns.$name")
      .start()
  }

  /** DROP: the public view, the storage table, and any dedup-level
    * aux tables (enumerated from the stored agg spec BEFORE the
    * storage that records them goes away).
    */
  def drop(cat: GraftCatalog, ns: String, name: String): Boolean = {
    val viewStore = new GraftViewStore(cat.fs, cat.warehouse)
    val storageIdent = TableIdent(ns, name + StorageSuffix)
    // MV-over-MV cascade guard: a level-2 MV reads this MV's STORAGE
    // table — dropping level-1 first would break level-2's next refresh
    // with a missing-table error. Refuse naming the dependents and the
    // order that works.
    val dependents = mviewsReading(cat, s"$ns/${name + StorageSuffix}")
      .filterNot(_ == s"$ns.$name")
    require(dependents.isEmpty,
      s"cannot drop materialized view $ns.$name: materialized view(s) " +
        s"${dependents.mkString(", ")} read its storage table — drop them first")
    val storedProps: Map[String, String] =
      if (!cat.exists(storageIdent)) Map.empty
      else scala.util.Try(cat.load(storageIdent).currentOrFail().properties)
        .getOrElse(Map.empty)
    val auxIdents: Seq[TableIdent] = scala.util.Try {
      dlGroups(aggsFromJson(storedProps.getOrElse(AggProp, "[]"))).map { case (ci, _, _) =>
        TableIdent(ns, name + StorageSuffix + dlSuffix(ci))
      }
    }.getOrElse(Nil)
    val hadView = viewStore.drop(ns, name)
    val hadTable = cat.exists(storageIdent)
    if (hadTable) cat.drop(storageIdent)
    auxIdents.filter(cat.exists).foreach(cat.drop)
    // aggregate-over-window cascade: the hidden inner window MV goes
    // AFTER the outer that read its storage (the dependents guard above
    // no longer sees the outer's view at this point)
    storedProps.get(CascadeProp).foreach { innerRel =>
      innerRel.split("/") match {
        case Array(ins, inm) => drop(cat, ins, inm)
        case _ => ()
      }
    }
    hadView || hadTable
  }
}
