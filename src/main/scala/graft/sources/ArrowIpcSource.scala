package graft.sources

import java.io.InputStream
import java.time.{Instant, LocalDateTime, ZoneOffset}
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.VectorSchemaRoot
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.arrow.vector.types.pojo.{ArrowType, Field}
import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit => ArrowTimeUnit}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Arrow IPC stream source (S2, mirrors `core/loader.py:56-68`): open a
  * stream, surface each record batch as a DataFrame, feed the iterator
  * into [[graft.loader.Loader.loadBatches]] — the identical pipeline
  * shape to the reference's `load_ipc_stream → load_data_batches`.
  *
  * Batches are decoded on the driver, exactly like the reference's
  * client-side `pa.ipc.open_stream` (SURVEY §3.3): memory is bounded by
  * one record batch at a time, and each batch becomes a distributed
  * DataFrame before any heavy work happens. Type widening follows the
  * reference registry (`utils/types.py:24-86`): ints ≤32 bit → Integer,
  * int64/uint32 → Long, uint64 → Decimal(20,0), tz-aware timestamps →
  * Timestamp, naive → TimestampNTZ, null → String.
  */
object ArrowIpcSource {

  /** Iterate the stream's record batches as DataFrames. The iterator
    * owns the stream and closes it (and the allocator) at exhaustion.
    */
  def read(spark: SparkSession, in: InputStream): Iterator[DataFrame] = {
    val allocator = new RootAllocator()
    val reader = new ArrowStreamReader(in, allocator)
    new Iterator[DataFrame] {
      private var nextBatch: Option[DataFrame] = None
      private var closed = false
      private def advance(): Unit = {
        if (closed || nextBatch.isDefined) return
        if (reader.loadNextBatch()) nextBatch = Some(toDataFrame(spark, reader.getVectorSchemaRoot))
        else { reader.close(); allocator.close(); closed = true }
      }
      def hasNext: Boolean = { advance(); nextBatch.isDefined }
      def next(): DataFrame = {
        advance()
        val b = nextBatch.getOrElse(throw new NoSuchElementException("stream exhausted"))
        nextBatch = None
        b
      }
    }
  }

  /** Arrow field → Spark type with the reference registry's widenings. */
  def sparkType(field: Field): DataType = field.getType match {
    case _: ArrowType.Utf8 | _: ArrowType.LargeUtf8 => StringType
    case i: ArrowType.Int if i.getIsSigned =>
      if (i.getBitWidth <= 32) IntegerType else LongType
    case i: ArrowType.Int => // unsigned (utils/types.py:68-74)
      if (i.getBitWidth <= 16) IntegerType
      else if (i.getBitWidth == 32) LongType
      else DecimalType(20, 0) // uint64
    case f: ArrowType.FloatingPoint =>
      if (f.getPrecision == FloatingPointPrecision.DOUBLE) DoubleType else FloatType
    case _: ArrowType.Bool => BooleanType
    case _: ArrowType.Binary | _: ArrowType.LargeBinary => BinaryType
    case _: ArrowType.Date => DateType
    case t: ArrowType.Timestamp =>
      if (t.getTimezone != null) TimestampType else TimestampNTZType
    case d: ArrowType.Decimal => DecimalType(d.getPrecision, d.getScale)
    case _: ArrowType.Null => StringType // utils/types.py:60-61
    case other =>
      throw new IllegalArgumentException(s"Unsupported data type: $other")
  }

  def sparkSchema(fields: Seq[Field]): StructType =
    StructType(fields.map(f => StructField(f.getName, sparkType(f), nullable = true)))

  private def toMicros(value: Long, unit: ArrowTimeUnit): Long = unit match {
    case ArrowTimeUnit.SECOND      => value * 1000000L
    case ArrowTimeUnit.MILLISECOND => value * 1000L
    case ArrowTimeUnit.MICROSECOND => value
    case ArrowTimeUnit.NANOSECOND  => value / 1000L
  }

  private def toDataFrame(spark: SparkSession, root: VectorSchemaRoot): DataFrame = {
    val fields = root.getSchema.getFields.asScala.toSeq
    val schema = sparkSchema(fields)
    val vectors = root.getFieldVectors.asScala.toSeq
    val rows: Seq[Row] = (0 until root.getRowCount).map { i =>
      Row.fromSeq(vectors.zip(fields).zip(schema.fields).map { case ((v, field), sf) =>
        if (v.isNull(i)) null
        else (field.getType, sf.dataType) match {
          case (_, StringType)  => v.getObject(i).toString
          case (_, IntegerType) => v.getObject(i).asInstanceOf[Number].intValue()
          case (_, LongType)    => v.getObject(i).asInstanceOf[Number].longValue()
          case (_, FloatType)   => v.getObject(i).asInstanceOf[Number].floatValue()
          case (_, DoubleType)  => v.getObject(i).asInstanceOf[Number].doubleValue()
          case (_, BooleanType) => v.getObject(i).asInstanceOf[java.lang.Boolean].booleanValue()
          case (_, BinaryType)  => v.getObject(i).asInstanceOf[Array[Byte]]
          case (_, _: DecimalType) => v.getObject(i) match {
            case d: java.math.BigDecimal => d
            case b: java.math.BigInteger => new java.math.BigDecimal(b) // uint64
            case n: Number               => java.math.BigDecimal.valueOf(n.longValue())
          }
          case (_, DateType) => v.getObject(i) match {
            case d: java.time.LocalDate => java.sql.Date.valueOf(d)
            case n: Number => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n.longValue()))
          }
          case (t: ArrowType.Timestamp, TimestampNTZType) =>
            val micros = asEpoch(v.getObject(i), t.getUnit)
            LocalDateTime.ofInstant(Instant.EPOCH.plusNanos(micros * 1000L), ZoneOffset.UTC)
          case (t: ArrowType.Timestamp, TimestampType) =>
            val micros = asEpoch(v.getObject(i), t.getUnit)
            java.sql.Timestamp.from(Instant.EPOCH.plusNanos(micros * 1000L))
          case (at, st) =>
            throw new IllegalArgumentException(s"Cannot decode $at as $st")
        }
      })
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Arrow timestamp getObject returns LocalDateTime (naive) or a raw
    * epoch Long (tz-aware), depending on the vector class — normalize
    * both to epoch micros.
    */
  private def asEpoch(obj: Any, unit: ArrowTimeUnit): Long = obj match {
    case n: Number => toMicros(n.longValue(), unit)
    case ldt: LocalDateTime =>
      val inst = ldt.toInstant(ZoneOffset.UTC)
      inst.getEpochSecond * 1000000L + inst.getNano / 1000L
    case other =>
      throw new IllegalArgumentException(s"Unexpected timestamp value: $other")
  }
}
