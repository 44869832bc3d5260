package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * payloads plus typed metadata, with the decode/feature kernels STUBBED
  * (the container ships no image/audio codecs) behind deterministic
  * fakes — the Spark-side plumbing (schema, partition-preserving
  * mapPartitions, batch shape) is real and tested.
  *
  * At scale the payload column dominates bytes; the design keeps
  * payloads out of every shuffle: metadata-only projections for
  * filtering/routing, and per-partition streaming decode so one task
  * holds one batch of payloads at a time.
  */
object Multimodal {

  /** Canonical multimodal asset schema. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false), // image|audio|video
    StructField("mime", StringType, nullable = true),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  val featureSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("payload_bytes", LongType, nullable = false),
    StructField("feature", ArrayType(FloatType), nullable = true)))

  /** STUB decode kernel: a real deployment would decode the payload
    * (JPEG → pixels, WAV → PCM) inside this per-partition loop using a
    * native codec. The container has none, so the "feature" is a
    * deterministic 8-dim byte-statistics vector — same signature, same
    * batch shape, same partitioning behavior as the real kernel.
    */
  def extractFeatures(assets: DataFrame, dims: Int = 8): DataFrame = {
    val enc = ExpressionEncoder(RowEncoder.encoderFor(featureSchema))
    assets.select("asset_id", "modality", "payload").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val modality = r.getString(1)
        val payload = if (r.isNullAt(2)) Array.emptyByteArray else r.getAs[Array[Byte]](2)
        // deterministic fake: bucketed byte histogram, L1-normalized
        val hist = new Array[Float](dims)
        var i = 0
        while (i < payload.length) {
          hist(java.lang.Byte.toUnsignedInt(payload(i)) % dims) += 1f
          i += 1
        }
        val total = math.max(1f, payload.length.toFloat)
        Row(id, modality, payload.length.toLong, hist.map(_ / total).toSeq)
      }
    }(enc)
  }

  /** STUB resize kernel: same per-partition streaming shape as a real
    * image resize (one payload in memory per row, output size a pure
    * function of target dims). The fake "resized" payload is a
    * deterministic strided byte sample so tests can pin exact bytes.
    */
  def resize(assets: DataFrame, width: Int, height: Int): DataFrame = {
    val targetLen = math.max(1, width * height / 64) // fake: bytes ∝ area
    val enc = ExpressionEncoder(RowEncoder.encoderFor(assetSchema))
    assets.select("asset_id", "modality", "mime", "payload", "meta").mapPartitions { it =>
      it.map { r =>
        val payload = if (r.isNullAt(3)) Array.emptyByteArray else r.getAs[Array[Byte]](3)
        val out = new Array[Byte](math.min(targetLen, math.max(1, payload.length)))
        var i = 0
        while (i < out.length) {
          out(i) = if (payload.isEmpty) 0 else payload((i.toLong * payload.length / out.length).toInt)
          i += 1
        }
        Row(r.getLong(0), r.getString(1), r.getString(2), out,
          Map("resized" -> s"${width}x$height"))
      }
    }(enc)
  }

  /** STUB frame-sampling kernel for video assets: the fake "video" has
    * one frame per 100 payload bytes (+1); every `everyN`-th frame is
    * emitted as its own asset row (`asset_id * 10000 + frameIdx`). The
    * explode shape — one input row fanning out to K output rows inside
    * mapPartitions, payloads never shuffled beforehand — is the real
    * kernel's plumbing.
    */
  def sampleFrames(assets: DataFrame, everyN: Int): DataFrame = {
    require(everyN > 0, "everyN must be positive")
    val enc = ExpressionEncoder(RowEncoder.encoderFor(frameSchema))
    assets.select("asset_id", "modality", "payload").mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val payload = if (r.isNullAt(2)) Array.emptyByteArray else r.getAs[Array[Byte]](2)
        val frames = payload.length / 100 + 1
        (0 until frames by everyN).map { f =>
          val start = math.min(f * 100, payload.length)
          val end = math.min(start + 100, payload.length)
          Row(id * 10000 + f, id, f, java.util.Arrays.copyOfRange(payload, start, end))
        }
      }
    }(enc)
  }

  val frameSchema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("asset_id", LongType, nullable = false),
    StructField("frame_index", IntegerType, nullable = false),
    StructField("frame", BinaryType, nullable = true)))

  /** Metadata-only projection — the common routing/filter path must
    * never deserialize payloads; Parquet column pruning guarantees the
    * payload column is not even read.
    */
  def metadataOnly(assets: DataFrame): DataFrame =
    assets.select(col("asset_id"), col("modality"), col("mime"),
      length(col("payload")).as("payload_bytes"), col("meta"))

  /** Deterministic synthetic asset table derived from any source table
    * — used by tests and the harness since no real binaries ship.
    */
  def syntheticAssets(src: DataFrame, idCol: String, seedCol: String): DataFrame =
    src.select(
      col(idCol).cast(LongType).as("asset_id"),
      when(pmod(col(idCol), lit(3)) === 0, "image")
        .when(pmod(col(idCol), lit(3)) === 1, "audio")
        .otherwise("video").as("modality"),
      lit("application/octet-stream").as("mime"),
      // payload = utf8 bytes of the seed column (deterministic fake)
      encode(col(seedCol).cast(StringType), "UTF-8").as("payload"),
      map(lit("origin"), lit("synthetic")).as("meta"))
}
