package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column handling for training-data pipelines: image/audio/video
 * payloads ride as opaque `binary` columns with typed metadata, and the
 * compute-heavy steps (decode / feature-extract / frame-sample) run as
 * partition-batched transforms so a real decoder drops in without changing
 * the plan shape.
 *
 * The decode step itself is STUBBED (no image/audio libs in this
 * environment): [[StubCodec]] produces deterministic hash-derived features
 * with the same schema, batch shape and partitioning a real codec would
 * have. Everything Spark-side — schemas, mapPartitions plumbing, per-batch
 * amortization, frame sampling — is real and tested.
 */
object Multimodal {

  /** Typed metadata carried next to the payload. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType),          // image | audio | video
    StructField("media_type", StringType),        // e.g. image/png
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType))))))

  final case class AssetFeature(asset_id: Long, modality: String,
                                feature: Array[Float], n_bytes: Long)

  /** The codec boundary: bytes → fixed-dim feature vector. */
  trait Codec extends Serializable {
    def dim: Int
    def decodeAndEmbed(payload: Array[Byte]): Array[Float]
  }

  /** Deterministic stand-in codec: features derived from a rolling hash of
    * the payload — stable across runs/executors, zero dependencies.
    * Replace with a real decoder (JNI/ONNX/…) behind the same trait. */
  final class StubCodec(override val dim: Int = 16) extends Codec {
    override def decodeAndEmbed(payload: Array[Byte]): Array[Float] = {
      val out = new Array[Float](dim)
      var h = 1125899906842597L
      var i = 0
      while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
      var d = 0
      while (d < dim) {
        h ^= h << 13; h ^= h >>> 7; h ^= h << 17
        out(d) = (h.toDouble / Long.MaxValue.toDouble).toFloat
        d += 1
      }
      out
    }
  }

  /** Oracle-parity stand-in codec: feature d is the SHA-256 lane of
    * `payload ++ "|d"` mapped to [-1, 1) and quantized to FLOAT
    * ([[graft.functions.ShaLanes.jvmLane]]) — deterministic, dependency-free,
    * and bit-reproducible in DuckDB SQL (`sha256(text || '|' || d)`), so the
    * full mapPartitions featurize path is hash-checkable by the correctness
    * oracle. Swap for a real decoder behind the same trait. */
  final class ShaCodec(override val dim: Int = 16) extends Codec {
    override def decodeAndEmbed(payload: Array[Byte]): Array[Float] = {
      val out = new Array[Float](dim)
      var d = 0
      while (d < dim) {
        val suffix = s"|$d".getBytes("UTF-8")
        val bytes = new Array[Byte](payload.length + suffix.length)
        System.arraycopy(payload, 0, bytes, 0, payload.length)
        System.arraycopy(suffix, 0, bytes, payload.length, suffix.length)
        out(d) = (graft.functions.ShaLanes.jvmLane(bytes) /
          graft.functions.ShaLanes.HalfLane - 1.0).toFloat
        d += 1
      }
      out
    }
  }

  /**
   * Partition-batched featurization: one codec instance per partition (the
   * real-codec analog of per-batch model loading), rows streamed through
   * it. Input must have `asset_id`, `modality`, `payload` columns.
   */
  def featurize(assets: DataFrame, codec: Codec): Dataset[AssetFeature] = {
    implicit val enc = Encoders.product[AssetFeature]
    val sel = assets.select(col("asset_id"), col("modality"), col("payload"))
    // Decode is the expensive stage, so it must occupy every core even
    // when the scan is one small file (a 1-partition input would run the
    // whole codec serially). Only a NARROW input is widened: an input
    // that already has enough partitions — the at-scale case — gains
    // nothing from moving the heavy binary payloads through a shuffle.
    val target = assets.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val in = if (sel.rdd.getNumPartitions < target) sel.repartition(target) else sel
    in.mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          AssetFeature(
            r.getAs[Long]("asset_id"),
            r.getAs[String]("modality"),
            codec.decodeAndEmbed(payload),
            payload.length.toLong)
        }
      }
  }

  /**
   * Resize planning: compute aspect-preserving target dimensions for image
   * assets (longest side capped at `maxSide`, never upscaled) — pure
   * column math that runs before any decode, so the decoder receives its
   * output geometry with the batch and intermediate full-size pixels never
   * materialize in the pipeline.
   */
  def resizePlan(assets: DataFrame, maxSide: Int): DataFrame = {
    val w = col("meta.width").cast("double")
    val h = col("meta.height").cast("double")
    val scale = least(lit(1.0), lit(maxSide.toDouble) / greatest(w, h))
    assets
      .filter(col("modality") === "image" &&
        col("meta.width").isNotNull && col("meta.height").isNotNull)
      .select(col("asset_id"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        round(w * scale).cast("int").as("target_width"),
        round(h * scale).cast("int").as("target_height"))
  }

  /** Evenly sample `n` frame offsets from a video payload's duration —
    * pure column math, runs before any decode so only sampled frames are
    * ever decoded downstream. */
  def frameSampleOffsets(assets: DataFrame, n: Int): DataFrame =
    assets
      .filter(col("modality") === "video" && col("meta.duration_ms").isNotNull)
      .select(col("asset_id"),
        explode(transform(sequence(lit(0), lit(n - 1)),
          i => (col("meta.duration_ms") * i / n).cast("long"))).as("frame_offset_ms"))
}
