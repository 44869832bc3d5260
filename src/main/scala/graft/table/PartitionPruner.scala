package graft.table

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import graft.meta.{ColumnStats, DataFile}
import graft.partitioning.{PartitionField, Transform}

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** File-level partition pruning over snapshot metadata.
  *
  * The scan planner and the copy-on-write delete/upsert paths call this
  * before any Spark job runs, so at 100 TB a predicate on the partition
  * source column touches only the matching partition directories'
  * files — the moral equivalent of Iceberg manifest pruning. (Parquet
  * row-group pruning still applies afterwards inside Spark.)
  *
  * Three-valued evaluation per file:
  *   - `mayMatch`  — file can contain rows satisfying the predicate;
  *     scan keeps only these.
  *   - `allMatch`  — every row in the file provably satisfies it;
  *     `deleteWhere` drops such files whole, without a rewrite job —
  *     this is the reference's "replace partition" fast path
  *     (`examples/advanced_scenarios.py:79-109`).
  *
  * Supported leaf shapes: comparisons / In / IsNull / IsNotNull between
  * the partition source column and literals, composed with AND / OR /
  * NOT. Anything else degrades conservatively to (may=true, all=false).
  * Monotone transforms (identity, year/month/day/hour, truncate) support
  * ranges; bucket supports equality/IN only.
  */
object PartitionPruner {

  /** (mayMatch, allMatch) */
  final case class Tri(may: Boolean, all: Boolean) {
    def &&(o: Tri): Tri = Tri(may && o.may, all && o.all)
    def ||(o: Tri): Tri = Tri(may || o.may, all || o.all)
    // NOT under SQL three-valued logic: `all` of the operand proves every
    // row TRUE, so `may` of the negation is its complement. But `may =
    // false` on the operand only proves no row is TRUE — rows may still
    // evaluate NULL (e.g. null column values), and NOT(NULL) is NULL, not
    // TRUE, so the negation may never claim `all` from it. Claiming it
    // would let deleteWhere("NOT (k = 5)") drop a file of all-NULL `k`
    // whole, deleting rows SQL DELETE keeps.
    def unary_! : Tri = Tri(!all, all = false)
  }
  val Unknown: Tri = Tri(may = true, all = false)

  def mayMatch(file: DataFile, spec: PartitionField, sourceType: DataType, predicate: Expression): Boolean =
    evaluate(file, spec, sourceType, predicate).may

  def allMatch(file: DataFile, spec: PartitionField, sourceType: DataType, predicate: Expression): Boolean =
    evaluate(file, spec, sourceType, predicate).all

  /** `sourceType` is the partition source column's type from the table
    * schema. Predicate literals are coerced to it before hashing /
    * comparing — an unresolved predicate like `k = 42` carries an INT
    * literal while the column is BIGINT, and murmur3(42:int) differs
    * from murmur3(42L); without coercion a matching file would be
    * wrongly pruned (silent data loss).
    */
  def evaluate(file: DataFile, spec: PartitionField, sourceType: DataType, predicate: Expression): Tri = {
    val pv: Option[Option[String]] = file.partitionValues.flatMap(_.get(spec.fieldName))
    pv match {
      case None      => Unknown // unpartitioned / unknown field
      case Some(value) => eval(value, spec, sourceType, predicate)
    }
  }

  private def eval(pv: Option[String], spec: PartitionField, st: DataType, e: Expression): Tri = e match {
    case And(l, r) => eval(pv, spec, st, l) && eval(pv, spec, st, r)
    case Or(l, r)  => eval(pv, spec, st, l) || eval(pv, spec, st, r)
    case Not(c)    => !eval(pv, spec, st, c)
    case EqualTo(a, Literal(v, dt)) if isSource(a, spec)          => cmp(pv, spec, st, "=", v, dt)
    case EqualTo(Literal(v, dt), a) if isSource(a, spec)          => cmp(pv, spec, st, "=", v, dt)
    case GreaterThan(a, Literal(v, dt)) if isSource(a, spec)      => cmp(pv, spec, st, ">", v, dt)
    case GreaterThan(Literal(v, dt), a) if isSource(a, spec)      => cmp(pv, spec, st, "<", v, dt)
    case GreaterThanOrEqual(a, Literal(v, dt)) if isSource(a, spec) => cmp(pv, spec, st, ">=", v, dt)
    case GreaterThanOrEqual(Literal(v, dt), a) if isSource(a, spec) => cmp(pv, spec, st, "<=", v, dt)
    case LessThan(a, Literal(v, dt)) if isSource(a, spec)         => cmp(pv, spec, st, "<", v, dt)
    case LessThan(Literal(v, dt), a) if isSource(a, spec)         => cmp(pv, spec, st, ">", v, dt)
    case LessThanOrEqual(a, Literal(v, dt)) if isSource(a, spec)  => cmp(pv, spec, st, "<=", v, dt)
    case LessThanOrEqual(Literal(v, dt), a) if isSource(a, spec)  => cmp(pv, spec, st, ">=", v, dt)
    case In(a, lits) if isSource(a, spec) && lits.forall(_.isInstanceOf[Literal]) =>
      lits.map { case Literal(v, dt) => cmp(pv, spec, st, "=", v, dt) }
        .foldLeft(Tri(may = false, all = false))(_ || _)
    // Hive default-partition encoding conflates null and '' for STRING
    // sources: a null stored value may hide ''-valued (non-null) rows, so
    // neither null-ness claim may be exact there — `may` stays permissive,
    // `all` is never proven (an `all` IsNull would let deleteWhere drop ''
    // rows; an exact IsNotNull prune would lose them from scans).
    case IsNull(a) if isSource(a, spec) && spec.transform == Transform.Identity =>
      if (pv.isEmpty) Tri(may = true, all = st != StringType)
      else Tri(may = false, all = false)
    case IsNotNull(a) if isSource(a, spec) && spec.transform == Transform.Identity =>
      if (pv.isEmpty) Tri(may = st == StringType, all = false)
      else Tri(may = true, all = true)
    // sugar forms evaluate as their semantic rewrite — `BETWEEN`
    // parses to UnresolvedFunction('between') in predicate strings and
    // would otherwise fall through as Unknown (see StatsPruner)
    case fn: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if fn.nameParts.lengthCompare(1) == 0 &&
          fn.nameParts.head.equalsIgnoreCase("between") &&
          fn.arguments.length == 3 =>
      val Seq(a, lo, hi) = fn.arguments
      eval(pv, spec, st, And(GreaterThanOrEqual(a, lo), LessThanOrEqual(a, hi)))
    case r: RuntimeReplaceable =>
      // .replacement on partially-resolved trees can throw AnalysisException
      // and friends, not just RuntimeException — degrade to Unknown, never
      // fail the scan.
      try eval(pv, spec, st, r.replacement)
      catch { case scala.util.control.NonFatal(_) => Unknown }
    case _ => Unknown
  }

  /** Strip casts and match the partition source column by name. */
  private def isSource(e: Expression, spec: PartitionField): Boolean = e match {
    case a: AttributeReference => a.name.equalsIgnoreCase(spec.sourceCol)
    case u: UnresolvedAttribute => u.name.equalsIgnoreCase(spec.sourceCol)
    case Cast(c, _, _, _)      => isSource(c, spec)
    case _                     => false
  }

  // ---- literal → transform-space comparison --------------------------------

  private val dayFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)
  private val hourFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd-HH").withZone(ZoneOffset.UTC)
  private val monthFmt = DateTimeFormatter.ofPattern("yyyy-MM").withZone(ZoneOffset.UTC)
  private val yearFmt = DateTimeFormatter.ofPattern("yyyy").withZone(ZoneOffset.UTC)

  /** Literal as UTC instant, for time transforms. */
  private def toInstant(v: Any, dt: DataType): Option[Instant] = (v, dt) match {
    case (micros: Long, TimestampType | TimestampNTZType) =>
      Some(Instant.EPOCH.plusNanos(micros * 1000L))
    case (days: Int, DateType) =>
      Some(LocalDate.ofEpochDay(days.toLong).atStartOfDay(ZoneOffset.UTC).toInstant)
    case (s: Any, StringType) =>
      val str = s.toString
      try Some(LocalDate.parse(str).atStartOfDay(ZoneOffset.UTC).toInstant)
      catch {
        case _: Exception =>
          try Some(LocalDateTime.parse(str.replace(' ', 'T')).toInstant(ZoneOffset.UTC))
          catch { case _: Exception => None }
      }
    case _ => None
  }

  /** Is the instant exactly on the transform's boundary? (needed for
    * all-match proofs on >= / <=).
    */
  private def onBoundary(i: Instant, t: Transform): Boolean = {
    val ldt = LocalDateTime.ofInstant(i, ZoneOffset.UTC)
    val midnight = ldt.toLocalTime == java.time.LocalTime.MIDNIGHT
    t match {
      case Transform.Hour  => ldt.getMinute == 0 && ldt.getSecond == 0 && ldt.getNano == 0
      case Transform.Day   => midnight
      case Transform.Month => midnight && ldt.getDayOfMonth == 1
      case Transform.Year  => midnight && ldt.getDayOfYear == 1
      case _               => false
    }
  }

  private def fmtFor(t: Transform): DateTimeFormatter = t match {
    case Transform.Year => yearFmt; case Transform.Month => monthFmt
    case Transform.Day => dayFmt; case Transform.Hour => hourFmt
    case _ => sys.error("not a time transform")
  }

  /** Coerce a literal (value, its parsed type) into the partition source
    * column's type using Catalyst's own Cast. None on failed casts.
    */
  private def coerce(v: Any, dt: DataType, target: DataType): Option[Any] =
    if (dt == target) Some(v)
    else if (!Cast.canCast(dt, target)) None
    else Option(Cast(Literal.create(v, dt), target, Some("UTC")).eval(null))

  private def cmp(pv: Option[String], spec: PartitionField, st: DataType, op: String, v: Any, dt: DataType): Tri = {
    if (v == null) return Tri(may = false, all = false) // comparison with NULL matches nothing
    if (pv.isEmpty) {
      // A stored null partition value usually means all rows are null and
      // comparisons fail. But for STRING sources under transforms that map
      // '' → '' (identity, truncate), Hive default-partition encoding
      // conflates null with '': the file may hold ''-valued rows, so bound
      // `may` by evaluating the comparison at ''. `all` is never proven —
      // genuinely-null rows fail every comparison.
      val conflated = st == StringType && (spec.transform match {
        case Transform.Identity | _: Transform.Truncate => true
        case _ => false
      })
      return if (conflated) Tri(may = cmpKnown("", spec, st, op, v, dt).may, all = false)
      else Tri(may = false, all = false)
    }
    cmpKnown(pv.get, spec, st, op, v, dt)
  }

  private def cmpKnown(p: String, spec: PartitionField, st: DataType, op: String, v: Any, dt: DataType): Tri = {
    spec.transform match {
      case Transform.Identity =>
        identityCmp(p, op, v, dt)
      case t @ (Transform.Year | Transform.Month | Transform.Day | Transform.Hour) =>
        toInstant(v, dt) match {
          case None => Unknown
          case Some(inst) =>
            val lv = fmtFor(t).format(inst)
            val c = p.compareTo(lv)
            val boundary = onBoundary(inst, t)
            op match {
              case "="  => Tri(may = c == 0, all = false)
              case ">"  => Tri(may = c >= 0, all = c > 0)
              case ">=" => Tri(may = c >= 0, all = c > 0 || (c == 0 && boundary))
              case "<"  => Tri(may = c <= 0, all = c < 0)
              case "<=" => Tri(may = c <= 0, all = c < 0)
              case _    => Unknown
            }
        }
      case Transform.Truncate(w) =>
        dt match {
          case StringType =>
            val lv = v.toString.take(w)
            val c = ColumnStats.StringOrdering.compare(p, lv)
            op match {
              case "="  => Tri(may = c == 0, all = false)
              case ">" | ">=" => Tri(may = c >= 0, all = c > 0)
              case "<" | "<=" => Tri(may = c <= 0, all = c < 0)
              case _ => Unknown
            }
          case IntegerType | LongType =>
            val n = BigDecimal(v.toString)
            val lv = n - (((n % w) + w) % w)
            val pNum = try BigDecimal(p) catch { case _: Exception => return Unknown }
            val c = pNum.compare(lv)
            op match {
              case "="  => Tri(may = c == 0, all = false)
              case ">" | ">=" => Tri(may = c >= 0, all = c > 0)
              case "<" | "<=" => Tri(may = c <= 0, all = c < 0)
              case _ => Unknown
            }
          case _ => Unknown
        }
      case Transform.Bucket(n) =>
        if (op != "=") Unknown
        else coerce(v, dt, st) match {
          case None => Unknown
          case Some(cv) =>
            try {
              val h = new Murmur3Hash(Seq(Literal.create(cv, st))).eval(null).asInstanceOf[Int]
              val bucket = ((h % n) + n) % n
              Tri(may = p.toInt == bucket, all = false)
            } catch { case _: Exception => Unknown }
        }
      case Transform.Void => Unknown
    }
  }

  /** Identity transform: partition value is `cast(col as string)`;
    * compare numerically for numeric sources, lexically otherwise
    * (date/timestamp/string casts are sortable strings).
    */
  private def identityCmp(p: String, op: String, v: Any, dt: DataType): Tri = {
    val cOpt: Option[Int] = dt match {
      case IntegerType | LongType | FloatType | DoubleType | _: DecimalType =>
        try Some(BigDecimal(p).compare(BigDecimal(v.toString))) catch { case _: Exception => None }
      case StringType => Some(ColumnStats.StringOrdering.compare(p, v.toString))
      case DateType =>
        Some(p.compareTo(LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString))
      case TimestampType | TimestampNTZType =>
        // cast(ts as string) in UTC: "yyyy-MM-dd HH:mm:ss[.SSSSSS]"
        val inst = Instant.EPOCH.plusNanos(v.asInstanceOf[Long] * 1000L)
        val ldt = LocalDateTime.ofInstant(inst, ZoneOffset.UTC)
        val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02d ${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d"
        // Fractional seconds make pure string comparison unreliable;
        // compare on the seconds prefix and treat equality as may-only.
        val c = p.take(base.length).compareTo(base)
        return op match {
          case "="        => Tri(may = c == 0, all = false)
          case ">" | ">=" => Tri(may = c >= 0, all = c > 0)
          case "<" | "<=" => Tri(may = c <= 0, all = c < 0)
          case _          => Unknown
        }
      case _ => None
    }
    cOpt match {
      case None => Unknown
      case Some(c) =>
        op match {
          case "="  => Tri(may = c == 0, all = c == 0) // identity: pv==lit ⇒ every row == lit
          case ">"  => Tri(may = c > 0, all = c > 0)
          case ">=" => Tri(may = c >= 0, all = c >= 0)
          case "<"  => Tri(may = c < 0, all = c < 0)
          case "<=" => Tri(may = c <= 0, all = c <= 0)
          case _    => Unknown
        }
    }
  }
}
