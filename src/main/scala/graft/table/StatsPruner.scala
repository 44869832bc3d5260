package graft.table

import graft.meta.{ColumnStats, DataFile}
import graft.table.PartitionPruner.{Tri, Unknown}

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** Zone-map file pruning over per-file column min/max statistics
  * (`DataFile.stats`, harvested from Parquet footers at write time).
  *
  * Complements [[PartitionPruner]]: partition pruning needs a partition
  * spec and only covers the partition source column; zone maps cover
  * EVERY top-level column of every file, so selective predicates skip
  * files even on unpartitioned tables — the Iceberg manifest-stats /
  * classic zone-map design, evaluated driver-side before any Spark job.
  *
  * Three-valued like the partition pruner: `may` gates the scan set,
  * `all` (provable only when the file has no nulls in the column and
  * [min,max] lies inside the predicate range) lets `deleteWhere` drop
  * whole files without a rewrite.
  */
object StatsPruner {

  def evaluate(file: DataFile, schema: StructType, pred: Expression): Tri =
    eval(file, schema, pred)

  private def eval(f: DataFile, sch: StructType, e: Expression): Tri = e match {
    case And(l, r) => eval(f, sch, l) && eval(f, sch, r)
    case Or(l, r)  => eval(f, sch, l) || eval(f, sch, r)
    case Not(c)    => !eval(f, sch, c)
    case EqualTo(a, Literal(v, dt))             => leaf(f, sch, a, "=", v, dt)
    case EqualTo(Literal(v, dt), a)             => leaf(f, sch, a, "=", v, dt)
    case GreaterThan(a, Literal(v, dt))         => leaf(f, sch, a, ">", v, dt)
    case GreaterThan(Literal(v, dt), a)         => leaf(f, sch, a, "<", v, dt)
    case GreaterThanOrEqual(a, Literal(v, dt))  => leaf(f, sch, a, ">=", v, dt)
    case GreaterThanOrEqual(Literal(v, dt), a)  => leaf(f, sch, a, "<=", v, dt)
    case LessThan(a, Literal(v, dt))            => leaf(f, sch, a, "<", v, dt)
    case LessThan(Literal(v, dt), a)            => leaf(f, sch, a, ">", v, dt)
    case LessThanOrEqual(a, Literal(v, dt))     => leaf(f, sch, a, "<=", v, dt)
    case LessThanOrEqual(Literal(v, dt), a)     => leaf(f, sch, a, ">=", v, dt)
    case In(a, lits) if lits.forall(_.isInstanceOf[Literal]) =>
      lits.map { case Literal(v, dt) => leaf(f, sch, a, "=", v, dt) }
        .foldLeft(Tri(may = false, all = false))(_ || _)
    case IsNull(a) => colName(a).flatMap(f.stats.get) match {
      case Some(s) => Tri(
        may = s.nullCount.forall(_ > 0),
        all = s.nullCount.contains(f.rows))
      case None => Unknown
    }
    case IsNotNull(a) => colName(a).flatMap(f.stats.get) match {
      case Some(s) => Tri(
        may = !s.nullCount.contains(f.rows),
        all = s.nullCount.contains(0L))
      case None => Unknown
    }
    // sugar forms evaluate as their semantic rewrite. `a BETWEEN x AND
    // y` parses to UnresolvedFunction('between') (resolved to a
    // RuntimeReplaceable only by the analyzer, which never sees these
    // predicate strings) and would otherwise fall through as Unknown —
    // silently disabling range pruning for the most idiomatic range
    // predicate. Resolved trees arriving from other paths hit the
    // RuntimeReplaceable case.
    case fn: UnresolvedFunction
        if fn.nameParts.lengthCompare(1) == 0 &&
          fn.nameParts.head.equalsIgnoreCase("between") &&
          fn.arguments.length == 3 =>
      val Seq(a, lo, hi) = fn.arguments
      eval(f, sch, And(GreaterThanOrEqual(a, lo), LessThanOrEqual(a, hi)))
    case r: RuntimeReplaceable =>
      // .replacement on partially-resolved trees can throw AnalysisException
      // and friends, not just RuntimeException — degrade to Unknown, never
      // fail the scan.
      try eval(f, sch, r.replacement)
      catch { case scala.util.control.NonFatal(_) => Unknown }
    case _ => Unknown
  }

  private def colName(e: Expression): Option[String] = e match {
    case a: AttributeReference  => Some(a.name)
    case u: UnresolvedAttribute => Some(u.name)
    case Cast(c, _, _, _)       => colName(c)
    case _                      => None
  }

  private def leaf(f: DataFile, sch: StructType, attr: Expression,
                   op: String, v: Any, dt: DataType): Tri = {
    if (v == null) return Tri(may = false, all = false)
    val tri = for {
      name <- colName(attr)
      field <- sch.fields.find(_.name.equalsIgnoreCase(name))
      stats <- f.stats.get(field.name)
      min <- stats.min
      max <- stats.max
      lit <- toComparable(v, dt, field.dataType)
      lo <- parseStat(min, field.dataType)
      hi <- parseStat(max, field.dataType)
    } yield {
      val noNulls = stats.nullCount.contains(0L)
      val cLo = compare(lo, lit)
      val cHi = compare(hi, lit)
      op match {
        case "="  => Tri(may = cLo <= 0 && cHi >= 0,
                         all = cLo == 0 && cHi == 0 && noNulls)
        case ">"  => Tri(may = cHi > 0,  all = cLo > 0 && noNulls)
        case ">=" => Tri(may = cHi >= 0, all = cLo >= 0 && noNulls)
        case "<"  => Tri(may = cLo < 0,  all = cHi < 0 && noNulls)
        case "<=" => Tri(may = cLo <= 0, all = cHi <= 0 && noNulls)
        case _    => Unknown
      }
    }
    tri.getOrElse(Unknown)
  }

  // ---- value domain ---------------------------------------------------

  private sealed trait Cmp
  private final case class Num(v: BigDecimal) extends Cmp
  private final case class Str(v: String) extends Cmp

  private def compare(a: Cmp, b: Cmp): Int = (a, b) match {
    case (Num(x), Num(y)) => x.compare(y)
    case (Str(x), Str(y)) => ColumnStats.StringOrdering.compare(x, y)
    case _                => 0 // mixed domains never happen for one column
  }

  /** Stat strings are canonical: numbers for numeric/date/timestamp
    * columns (date = epoch days, timestamp = epoch micros), raw text for
    * strings.
    */
  private def parseStat(s: String, dt: DataType): Option[Cmp] = dt match {
    case StringType => Some(Str(s))
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         _: DecimalType | DateType | TimestampType | TimestampNTZType =>
      try Some(Num(BigDecimal(s))) catch { case _: Exception => None }
    case _ => None
  }

  /** Coerce a predicate literal into the column's stat domain, casting
    * through Catalyst when the SQL literal type differs from the column
    * type (e.g. `'2024-01-01'` string vs a timestamp column).
    */
  private def toComparable(v: Any, dt: DataType, colType: DataType): Option[Cmp] = {
    val casted: Option[Any] =
      if (dt == colType) Some(v)
      else if (!Cast.canCast(dt, colType)) None
      else Option(Cast(Literal.create(v, dt), colType, Some("UTC")).eval(null))
    casted.flatMap { cv =>
      colType match {
        case StringType => Some(Str(cv.toString))
        case ByteType | ShortType | IntegerType | LongType =>
          Some(Num(BigDecimal(cv.asInstanceOf[Number].longValue())))
        case FloatType | DoubleType =>
          val d = cv.asInstanceOf[Number].doubleValue()
          if (d.isNaN || d.isInfinite) None else Some(Num(BigDecimal(d)))
        case d: DecimalType => cv match {
          case dec: org.apache.spark.sql.types.Decimal => Some(Num(dec.toBigDecimal))
          case dec: java.math.BigDecimal               => Some(Num(BigDecimal(dec)))
          case n: Number                               => Some(Num(BigDecimal(n.doubleValue())))
        }
        case DateType => Some(Num(BigDecimal(cv.asInstanceOf[Number].intValue()))) // epoch days
        case TimestampType | TimestampNTZType =>
          Some(Num(BigDecimal(cv.asInstanceOf[Number].longValue()))) // epoch micros
        case _ => None
      }
    }
  }
}
