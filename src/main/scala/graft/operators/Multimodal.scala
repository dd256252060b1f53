package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media travel as opaque `binary` columns with a typed metadata struct —
  * the Spark-side schema, partitioning, and batched kernel shape are real and
  * tested; the codec itself is a clearly-marked deterministic STUB because no
  * image/audio library ships in this offline container (the reference ran
  * InceptionV3 offline the same way — one .npy per image, imagess/
  * dir_image.py:94-152 — features joined back as a column).
  */
object Multimodal {

  case class MediaRow(id: Long, media: Array[Byte], mime: String,
                      width: Int, height: Int)
  case class MediaFeatures(id: Long, dim: Int, features: Array[Float])

  private val DataUriRegex = "data:image/[a-zA-Z]+;base64,([A-Za-z0-9+/=]+)"

  /** ALL embedded data-URI image payloads of a page, each featurized to a
    * `dim`-float pooled vector (empty array when the page embeds none).
    * Degenerate payloads that decode to zero bytes (e.g. a bare padding
    * char) pool to the empty vector and are filtered — they would otherwise
    * null-poison the element-wise mean in [[imageVecFromHtml]]. */
  def imageVecsFromHtml(html: org.apache.spark.sql.Column, dim: Int = 32): org.apache.spark.sql.Column =
    filter(
      transform(
        regexp_extract_all(decode(html, "UTF-8"), lit(DataUriRegex), lit(1)),
        p => graft.functions.GraftFunctions.avg_pool_embed(unbase64(p), dim)),
      v => size(v) > 0)

  /** html → pooled image feature vector for the ER scorer (M9): extract
    * EVERY embedded image, block-average-pool each to `dim` centered floats
    * (graft.functions.Similarity.avgPool), then element-wise mean across the
    * page's image set. The reference featurizes a record's whole image set —
    * every image gets CNN features (imagess/dir_image.py:94-152) and
    * training draws from the set (train_deeper.py:59-70) — so a one-image
    * summary of a multi-image page loses exactly the signal the image
    * channel exists for. The CNN is replaced by the deterministic pooling
    * featurizer (no image runtime ships offline — kernel swap is one line in
    * a real deployment; the plumbing and fusion are the product). Empty
    * array when the page has no image (the scorer zero-gates image features
    * on it). */
  def imageVecFromHtml(html: org.apache.spark.sql.Column, dim: Int = 32): org.apache.spark.sql.Column =
    graft.functions.GraftFunctions.multi_avg_pool_embed(html, dim)

  /** Attach a media column derived from text bytes (fixture-side helper:
    * stands in for reading real image bytes from the lake). */
  def withFakeMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      encode(col(textCol), "UTF-8").as("media"),
      lit("image/fake").as("mime"),
      (pmod(xxhash64(col(idCol)), lit(640)) + 64).cast("int").as("width"),
      (pmod(xxhash64(col(idCol), lit(1)), lit(480)) + 64).cast("int").as("height"))

  /** ==== STUB ==== deterministic fake of the decode→resize→CNN-embed step.
    * Real deployments swap this body for an actual codec + model runtime;
    * everything around it (schema, batching, partitioning) is production
    * shape. Features are the md5 digest of the content mapped to `dim`
    * floats in [0,1) (byte k / 256 — a power-of-two divisor, so the float
    * is exact and a SQL oracle recomputes it bit-for-bit:
    * `('0x'||substr(md5(x),1,2))::INT / 256.0` is feature 0). Digests chain
    * (md5 of md5) for dim > 16. */
  def stubDecodeEmbed(bytes: Array[Byte], dim: Int): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var digest = md.digest(bytes)
    val out = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      if (j > 0 && j % 16 == 0) digest = md.digest(digest)
      out(j) = (digest(j % 16) & 0xFF) / 256.0f
      j += 1
    }
    out
  }

  /** Batched feature extraction over the media column: one kernel invocation
    * per partition iterator (the `tf.data` batch analog, dir_image.py:117-119),
    * emitting a fixed-dim embedding per row. */
  def extractFeatures(spark: SparkSession, media: DataFrame, dim: Int = 16): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) => MediaFeatures(id, dim, stubDecodeEmbed(bytes, dim)) }
      }
  }

  /** Frame-sampling stub for video-like payloads: deterministic byte-range
    * slices standing in for decoded frames; the explode/partition plumbing
    * is the real shape. */
  def sampleFrames(media: DataFrame, everyNBytes: Int = 64): DataFrame =
    media.select(col("id"), posexplode(split(base64(col("media")), s"(?<=\\G.{$everyNBytes})")))
      .withColumnRenamed("pos", "frame_no")
      .withColumnRenamed("col", "frame_b64")
}
