package graft.partitioning

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iceberg-style partition-transform DSL.
  *
  * Grammar mirrors the reference parser
  * (`src/iceberg_loader/core/partitioning.py:21-62`): a bare column name
  * means identity; `year|month|day|hour|void(col)`; `bucket(n, col)` /
  * `truncate(w, col)`. Anything else raises. Derived partition-field
  * names follow `core/schema.py:177-186` (`col`, `col_year`, `col_month`,
  * `col_day`, `col_hour`, `col_bucket_N`, `col_trunc_N`, `col_void`).
  *
  * Spark realization: the transform produces a *derived column* (named
  * `_p_<fieldName>`) that the write path adds and `partitionBy`s on —
  * Iceberg-style hidden partitioning. The source column stays in the data
  * files; the derived column lives only in directory names and the
  * snapshot's per-file partition values, where the scan planner uses it
  * for file pruning ([[graft.table.PartitionPruner]]).
  *
  * Derived values are chosen to sort lexicographically so range pruning
  * is a plain string comparison: year → zero-padded "2024", month →
  * "2024-01", day → "2024-01-15", hour → "2024-01-15-07".
  */
sealed trait Transform {
  def name: String
  /** Partition-field name for source column `src` (reference naming). */
  def fieldName(src: String): String
  /** The derived partition-value column. `dt` is the source column's
    * type from the table schema (Spark 4's `Column` is plan-free — no
    * `.expr` — so type dispatch must be fed from the caller's schema).
    */
  def derive(src: Column, dt: DataType): Column
  /** Is the source type valid for this transform? */
  def accepts(dt: DataType): Boolean
}

object Transform {
  private def isTime(dt: DataType) =
    dt == DateType || dt == TimestampType || dt == TimestampNTZType

  private val MicrosPerDay = 86400000000L
  private val MicrosPerHour = 3600000000L

  /** Calendar day of the source, timezone-FREE: DATE passes through,
    * TIMESTAMP_NTZ truncates its wall clock (NTZ→DATE cast is pure
    * calendar math), zoned TIMESTAMP truncates in UTC via exact integer
    * floor-division of epoch micros. `date_format` is deliberately NOT
    * used: it renders through the writer's SESSION timezone, so an NTZ
    * wall time inside a DST spring-forward gap (e.g. 02:30 on the
    * America/Denver transition day) came back shifted one hour — a
    * stored key that disagreed with the scan pruner and the SPJ V2
    * functions, both of which bind wall-clock/UTC semantics. Zoned
    * values now key on UTC regardless of session timezone — the same
    * reading [[graft.table.PartitionPruner]] has always applied.
    */
  private def utcDay(src: Column, dt: DataType): Column = dt match {
    case TimestampType =>
      val um = unix_micros(src)
      // `div` (IntegralDivide) truncates toward zero, not floor; the
      // pmod subtraction makes the numerator exactly divisible so both
      // agree — exact for pre-1970 instants, no double rounding.
      date_from_unix_date(call_function("div",
        um - pmod(um, lit(MicrosPerDay)), lit(MicrosPerDay)).cast(IntegerType))
    case TimestampNTZType => src.cast(DateType)
    case _ => src
  }
  /** Hour-of-day, timezone-free (0 for DATE, matching the old
    * midnight rendering).
    */
  private def hourPart(src: Column, dt: DataType): Column = dt match {
    case TimestampType =>
      call_function("div", pmod(unix_micros(src), lit(MicrosPerDay)),
        lit(MicrosPerHour)).cast(IntegerType)
    case TimestampNTZType => hour(src) // Hour binds NTZ natively — wall clock
    case _ => when(src.isNull, lit(null).cast(IntegerType)).otherwise(lit(0))
  }
  /** Zero-padded component; NULL-propagating like `date_format`.
    * Pad-only — `lpad` alone TRUNCATES inputs longer than `n`, which
    * would corrupt 5-digit years.
    */
  private def zp(c: Column, n: Int): Column = {
    val s = c.cast(StringType)
    when(length(s) >= n, s).otherwise(lpad(s, n, "0"))
  }

  case object Identity extends Transform {
    val name = "identity"
    def fieldName(src: String): String = src
    def derive(src: Column, dt: DataType): Column = src.cast(StringType)
    def accepts(dt: DataType): Boolean = true
  }
  case object Year extends Transform {
    val name = "year"
    def fieldName(src: String): String = s"${src}_year"
    def derive(src: Column, dt: DataType): Column = zp(year(utcDay(src, dt)), 4)
    def accepts(dt: DataType): Boolean = isTime(dt)
  }
  case object Month extends Transform {
    val name = "month"
    def fieldName(src: String): String = s"${src}_month"
    def derive(src: Column, dt: DataType): Column = {
      val d = utcDay(src, dt)
      concat(zp(year(d), 4), lit("-"), zp(month(d), 2))
    }
    def accepts(dt: DataType): Boolean = isTime(dt)
  }
  case object Day extends Transform {
    val name = "day"
    def fieldName(src: String): String = s"${src}_day"
    def derive(src: Column, dt: DataType): Column = {
      val d = utcDay(src, dt)
      concat(zp(year(d), 4), lit("-"), zp(month(d), 2), lit("-"), zp(dayofmonth(d), 2))
    }
    def accepts(dt: DataType): Boolean = isTime(dt)
  }
  case object Hour extends Transform {
    val name = "hour"
    def fieldName(src: String): String = s"${src}_hour"
    def derive(src: Column, dt: DataType): Column = {
      val d = utcDay(src, dt)
      concat(zp(year(d), 4), lit("-"), zp(month(d), 2), lit("-"),
        zp(dayofmonth(d), 2), lit("-"), zp(hourPart(src, dt), 2))
    }
    def accepts(dt: DataType): Boolean = isTime(dt)
  }
  /** Murmur3-based bucketing. Spark's `hash` IS murmur3_x86_32 (the same
    * family Iceberg specifies); byte encodings differ per type from the
    * Iceberg spec, but since graft defines its own table format the only
    * requirement is that write-side and scan-side bucketing agree — both
    * use this expression.
    */
  final case class Bucket(n: Int) extends Transform {
    val name = "bucket"
    def fieldName(src: String): String = s"${src}_bucket_$n"
    def derive(src: Column, dt: DataType): Column = pmod(hash(src), lit(n)).cast(StringType)
    // AtomicType is private[sql] in Spark 4 — invert: bucket accepts any
    // non-nested, non-null type.
    def accepts(dt: DataType): Boolean = dt match {
      case _: StructType | _: ArrayType | _: MapType | NullType => false
      case _                                                    => true
    }
  }
  final case class Truncate(w: Int) extends Transform {
    val name = "truncate"
    def fieldName(src: String): String = s"${src}_trunc_$w"
    def derive(src: Column, dt: DataType): Column = dt match {
      case StringType => substring(src, 1, w)
      case _          => (src - pmod(src, lit(w))).cast(StringType)
    }
    def accepts(dt: DataType): Boolean = dt match {
      case StringType | IntegerType | LongType => true
      case _: DecimalType                      => true
      case _                                   => false
    }
  }
  case object Void extends Transform {
    val name = "void"
    def fieldName(src: String): String = s"${src}_void"
    def derive(src: Column, dt: DataType): Column = lit(null).cast(StringType)
    def accepts(dt: DataType): Boolean = true
  }
}

/** A parsed partition expression: transform applied to a source column. */
final case class PartitionField(sourceCol: String, transform: Transform) {
  def fieldName: String = transform.fieldName(sourceCol)
  /** Name of the derived column added just for `partitionBy`. */
  def derivedColName: String = s"_p_$fieldName"
  def derive(src: Column, dt: DataType): Column = transform.derive(src, dt)
  override def toString: String = transform match {
    case Transform.Identity    => sourceCol
    case Transform.Bucket(n)   => s"bucket($n, $sourceCol)"
    case Transform.Truncate(w) => s"truncate($w, $sourceCol)"
    case t                     => s"${t.name}($sourceCol)"
  }
}

object PartitionExpr {
  private val bare = """^([A-Za-z_][A-Za-z0-9_]*)$""".r
  private val unary = """^(year|month|day|hour|void)\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)$""".r
  private val binary = """^(bucket|truncate)\(\s*(\d+)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)$""".r

  /** Parse a partition expression string; raises on invalid input exactly
    * like the reference parser (`core/partitioning.py:21-52`).
    */
  def parse(exprStr: String): PartitionField = {
    val s = exprStr.trim
    s match {
      case bare(col)            => PartitionField(col, Transform.Identity)
      case unary("year", col)   => PartitionField(col, Transform.Year)
      case unary("month", col)  => PartitionField(col, Transform.Month)
      case unary("day", col)    => PartitionField(col, Transform.Day)
      case unary("hour", col)   => PartitionField(col, Transform.Hour)
      case unary("void", col)   => PartitionField(col, Transform.Void)
      case binary("bucket", n, col) =>
        val k = n.toInt
        require(k > 0, s"bucket count must be positive: $s")
        PartitionField(col, Transform.Bucket(k))
      case binary("truncate", w, col) =>
        val k = w.toInt
        require(k > 0, s"truncate width must be positive: $s")
        PartitionField(col, Transform.Truncate(k))
      case _ =>
        throw new IllegalArgumentException(s"Invalid partition expression: '$exprStr'")
    }
  }

  /** Validate a parsed field against a schema. Returns None (degrade to
    * unpartitioned, with a warning) when the source column is missing or
    * the transform doesn't accept its type — matching the reference's
    * graceful degradation (`core/schema.py:169-175`).
    */
  def validate(field: PartitionField, schema: StructType): Option[PartitionField] =
    schema.fields.find(_.name == field.sourceCol) match {
      case None => None
      case Some(f) if !field.transform.accepts(f.dataType) => None
      case Some(_) => Some(field)
    }

  /** Parse a partition SPEC: one or more comma-separated transforms,
    * ordered — `day(ts), bucket(16, id)` is the canonical 100-TB
    * layout (time prunes ranges, buckets spread writes and enable
    * co-located joins). Single-expression strings parse exactly as
    * before, so every stored single-field spec keeps its meaning.
    * Derived field names must be distinct (two transforms of one
    * column are fine as long as their field names differ).
    */
  def parseSpec(specStr: String): Seq[PartitionField] = {
    val parts = Vector.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    specStr.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => parts += cur.result(); cur.clear()
      case c => cur += c
    }
    parts += cur.result()
    val fields = parts.result().map(_.trim).filter(_.nonEmpty).map(parse)
    require(fields.nonEmpty, s"empty partition spec: '$specStr'")
    val names = fields.map(_.fieldName)
    require(names.distinct.size == names.size,
      s"duplicate partition field names in spec '$specStr': " +
        names.diff(names.distinct).distinct.mkString(", "))
    fields
  }
}
