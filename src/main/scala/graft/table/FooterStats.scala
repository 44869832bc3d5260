package graft.table

import scala.jdk.CollectionConverters._

import graft.meta.{ColumnStats, DataFile, MetadataLog}
import graft.partitioning.PartitionField

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopStreams
import org.apache.parquet.io.InputFile

/** Parquet-footer statistics harvesting for the commit path.
  *
  * A standalone serializable object (not a [[GraftTable]] method) so the
  * work runs INSIDE a Spark job: at 10⁵ files per commit a driver-side
  * footer loop is the metadata bottleneck the round-4 verdict flagged —
  * executors each read a slice of footers (metadata-only reads, no data
  * pages) and ship back one small [[DataFile]] per file.
  */
object FooterStats extends Serializable {

  /** Build the [[DataFile]] entry for one freshly-written Parquet file:
    * relative path, footer row count, per-column zone maps, and
    * partition values parsed back from the Hive-style directory names.
    *
    * `conf` is the SESSION's Hadoop configuration shipped from the
    * driver (see [[graft.util.SerializableHadoopConf]]) so footer reads
    * honor `spark.hadoop.*` settings like the query read path does.
    * All IO and path arithmetic go through the Hadoop FileSystem API —
    * like the metadata-log commit protocol — so the table root may live
    * on any Hadoop-supported store, matching the reference's S3/MinIO
    * deployment (`examples/catalog.py:11-17`). The file's size comes
    * from the same stat that opens the footer (no second round-trip).
    */
  def dataFileFor(pathStr: String, tableDirStr: String, outDirStr: String,
                  specs: Seq[PartitionField], conf: Configuration): DataFile = {
    val p = new HPath(pathStr)
    val rel = relativize(tableDirStr, p)
    // raw (checksum-free) FS on local roots: HadoopInputFile.fromPath
    // would re-resolve the checksummed local FS and pay a `.crc` open +
    // verified read per footer — per-file cost on the commit's hot path
    val fs = MetadataLog.rawIfLocal(p.getFileSystem(conf))
    val st = fs.getFileStatus(p)
    val (rows, stats) = parquetFooterInfo(new FsInputFile(fs, st))
    val pv =
      if (specs.isEmpty) None
      else Some {
        // one nested directory level per partitionBy column; rename
        // each derived `_p_<field>` dir key back to its field name.
        // Fields whose source column degraded at write time have no
        // dir — their absence reads as "unknown" (never pruned on).
        val renames = specs.map(pf => pf.derivedColName -> pf.fieldName).toMap
        val segs = relativize(outDirStr, p).split("/").toSeq
        segs.collect {
          case s if s.contains("=") =>
            val Array(k, v) = s.split("=", 2)
            unescapePath(k) -> (if (v == "__HIVE_DEFAULT_PARTITION__") None
                                else Some(unescapePath(v)))
        }.toMap match {
          case m if m.isEmpty =>
            specs.map(pf => pf.fieldName -> Option.empty[String]).toMap
          case m => m.map { case (k, v) => renames.getOrElse(k, k) -> v }
        }
      }
    DataFile(rel, rows, st.getLen, pv, stats)
  }

  /** Parquet [[InputFile]] over an EXPLICIT FileSystem handle (the
    * stock `HadoopInputFile` factories always re-resolve the filesystem
    * from the path, which on `file:` roots is the checksummed one).
    * Length comes from the status that located the file — no second
    * round-trip.
    */
  private final class FsInputFile(fs: FileSystem, st: FileStatus) extends InputFile {
    override def getLength: Long = st.getLen
    override def newStream(): org.apache.parquet.io.SeekableInputStream =
      HadoopStreams.wrap(fs.open(st.getPath))
    override def toString: String = st.getPath.toString
  }

  /** Relative path of `p` under `baseStr`, comparing URI path components
    * so a scheme-qualified listing entry (`file:/tmp/x/…`) relativizes
    * correctly against a bare base (`/tmp/x`). The ONE relativization
    * used everywhere relative paths are minted or matched (manifests
    * here, orphan GC in GraftTable) — a divergence between minting and
    * matching would let orphan GC delete live files. Throws when `p` is
    * not under the base on a path-component boundary, like
    * java.nio's relativize, rather than degrading to a garbage path.
    *
    * When BOTH sides carry a scheme (or authority) they must agree — a
    * path from a different store with the same directory layout must
    * not silently relativize. Callers hold the other invariant: the
    * base is an ABSOLUTE path (GraftCatalog qualifies the warehouse at
    * construction), since a relative base can never prefix-match the
    * fully-qualified paths Hadoop listings return.
    */
  def relativize(baseStr: String, p: HPath): String = {
    val baseUri = new HPath(baseStr).toUri
    val pUri = p.toUri
    for (bs <- Option(baseUri.getScheme); ps <- Option(pUri.getScheme))
      require(bs == ps,
        s"$p is not under table root $baseStr (scheme '$ps' != '$bs')")
    for (ba <- Option(baseUri.getAuthority); pa <- Option(pUri.getAuthority))
      require(ba == pa,
        s"$p is not under table root $baseStr (authority '$pa' != '$ba')")
    val base = baseUri.getPath.stripSuffix("/")
    val path = pUri.getPath
    require(path.startsWith(base + "/"),
      s"$path is not under table root $base")
    path.drop(base.length + 1)
  }

  /** Row count + per-column zone maps from the Parquet footer — one
    * metadata read per file, no data pages. Stats feed [[StatsPruner]]
    * for file skipping on any column.
    */
  def parquetFooterInfo(in: InputFile): (Long, Map[String, ColumnStats]) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      // accumulate (min/max over value-bearing row groups, nulls) per
      // column. A row group whose stats are missing or in an unhandled
      // domain poisons the column permanently; a row group that is
      // ALL-null is NOT poison — it contributes no values but a valid
      // null count, so e.g. a 1-row file with a null cell still records
      // `ColumnStats(None, None, Some(rows))`, which IS NULL pruning
      // and count(col) aggregate pushdown both rely on.
      val acc = scala.collection.mutable.Map.empty[String, (Option[(Cmp, Cmp)], Option[Long])]
      val poisoned = scala.collection.mutable.Set.empty[String]
      for (block <- blocks; col <- block.getColumns.asScala) {
        val name = col.getPath.toDotString
        if (!name.contains('.') && !poisoned.contains(name)) { // top-level scalars only
          val st = col.getStatistics
          val prim = col.getPrimitiveType
          def longStat(v: Any): Long = v.asInstanceOf[Number].longValue()
          val range: Option[(Cmp, Cmp)] =
            if (st == null || st.isEmpty || !st.hasNonNullValue) None
            else (prim.getPrimitiveTypeName, prim.getLogicalTypeAnnotation) match {
              case (INT32 | INT64, d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
                Some((NumCmp(BigDecimal(BigInt(longStat(st.genericGetMin)), d.getScale)),
                      NumCmp(BigDecimal(BigInt(longStat(st.genericGetMax)), d.getScale))))
              case (INT64, t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
                // normalize to epoch micros, the pruner's timestamp domain
                import LogicalTypeAnnotation.TimeUnit._
                val scale = t.getUnit match {
                  case MILLIS => 1000L
                  case MICROS => 1L
                  case NANOS  => 0L // handled below: divide
                }
                def toMicros(v: Long) =
                  if (scale == 0L) v / 1000L else v * scale
                Some((NumCmp(BigDecimal(toMicros(longStat(st.genericGetMin)))),
                      NumCmp(BigDecimal(toMicros(longStat(st.genericGetMax))))))
              case (INT32, _: LogicalTypeAnnotation.TimeLogicalTypeAnnotation) => None
              case (INT32 | INT64, _) => // plain ints + DATE (epoch days)
                Some((NumCmp(BigDecimal(longStat(st.genericGetMin))),
                      NumCmp(BigDecimal(longStat(st.genericGetMax)))))
              case (FLOAT | DOUBLE, _) =>
                val lo = st.genericGetMin.asInstanceOf[Number].doubleValue()
                val hi = st.genericGetMax.asInstanceOf[Number].doubleValue()
                if (lo.isNaN || hi.isNaN) None
                else Some((NumCmp(BigDecimal(lo)), NumCmp(BigDecimal(hi))))
              case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
                Some((StrCmp(st.minAsString), StrCmp(st.maxAsString)))
              case _ => None // INT96, boolean, binary decimal, nested: skip
            }
          val nulls = if (st != null && !st.isEmpty && st.isNumNullsSet) Some(st.getNumNulls) else None
          // distinguish the three row-group shapes: value-bearing with a
          // decodable range; provably all-null (no values, valid stats);
          // unusable (missing stats or unhandled domain) → poison
          val allNull = st != null && !st.isEmpty && !st.hasNonNullValue
          val decoded: Option[Option[(Cmp, Cmp)]] =
            if (allNull) Some(None)
            else range match {
              case Some(r) => Some(Some(r))
              case None => None
            }
          (acc.remove(name), decoded) match {
            case (_, None) => poisoned += name
            case (None, Some(mm)) => acc(name) = (mm, nulls)
            case (Some((pmm, pn)), Some(mm)) =>
              val merged = (pmm, mm) match {
                case (Some((plo, phi)), Some((lo, hi))) =>
                  Some((minOf(plo, lo), maxOf(phi, hi)))
                case (a, None) => a
                case (None, b) => b
              }
              acc(name) = (merged, for (a <- pn; b <- nulls) yield a + b)
          }
        }
      }
      val stats = acc.flatMap {
        case (name, (Some((lo, hi)), nulls)) =>
          Some(name -> ColumnStats(Some(render(lo)), Some(render(hi)), nulls))
        case (name, (None, Some(n))) => // all-null column: null count only
          Some(name -> ColumnStats(None, None, Some(n)))
        case _ => None // all-null with unknown null count carries no info
      }.toMap
      (reader.getRecordCount, stats)
    } finally reader.close()
  }

  private sealed trait Cmp
  private final case class NumCmp(v: BigDecimal) extends Cmp
  private final case class StrCmp(v: String) extends Cmp
  private def minOf(a: Cmp, b: Cmp): Cmp = (a, b) match {
    case (NumCmp(x), NumCmp(y)) => NumCmp(x.min(y))
    case (StrCmp(x), StrCmp(y)) => StrCmp(ColumnStats.StringOrdering.min(x, y))
    case _                      => a
  }
  private def maxOf(a: Cmp, b: Cmp): Cmp = (a, b) match {
    case (NumCmp(x), NumCmp(y)) => NumCmp(x.max(y))
    case (StrCmp(x), StrCmp(y)) => StrCmp(ColumnStats.StringOrdering.max(x, y))
    case _                      => a
  }
  private def render(c: Cmp): String = c match {
    case NumCmp(v) => v.bigDecimal.toPlainString
    case StrCmp(v) => v
  }

  /** Undo Spark/Hive partition-path escaping (%xx sequences). */
  def unescapePath(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb += Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar
          i += 3
        } catch { case _: NumberFormatException => sb += c; i += 1 }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }
}
