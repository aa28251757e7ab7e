package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing: image/audio/video payloads ride as opaque
 * `binary` columns next to typed metadata, and decode / feature-extract /
 * frame-sample run as typed partition-local transforms.
 *
 * The sandbox has no image/audio codecs, so the DECODE STEP IS A STUB — a
 * clearly-marked deterministic fake (byte histogram + moments standing in
 * for pixel statistics). Everything around it is the real Spark shape:
 * fixed schemas, partition-local batched execution (`mapPartitions`, the
 * JVM analogue of `mapInPandas` batches), binary column pruning, and
 * metadata predicates that push down to the scan so undecodable rows are
 * skipped before any decode work.
 */
object Multimodal {

  /** One media row: payload + typed metadata. */
  final case class MediaRow(
      doc_id: Long,
      media_type: String, // "image" | "audio" | "video"
      payload: Array[Byte],
      n_bytes: Long,
      width: Int, // fake decode metadata, deterministic from doc_id
      height: Int)

  final case class MediaFeatures(
      doc_id: Long,
      media_type: String,
      n_bytes: Long,
      mean_byte: Double,
      histogram: Array[Long]) // 16 bins

  final case class Frame(
      doc_id: Long,
      frame_idx: Int,
      frame_bytes: Array[Byte])

  /** Deterministic media table derived from a documents frame: payload is
    * the UTF-8 text bytes (a stand-in corpus blob), media_type cycles by id,
    * metadata derived arithmetically — everything reproducible in SQL. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("payload"),
      octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
      (pmod(col("doc_id"), lit(8)) * 160 + 320).cast("int").as("width"),
      (pmod(col("doc_id"), lit(8)) * 90 + 180).cast("int").as("height"))

  /**
   * STUB DECODER — in production this calls the codec (libjpeg / ffmpeg /
   * soundfile) inside the partition loop; here it computes a deterministic
   * byte histogram + mean so the pipeline shape (batch-local, no shuffle,
   * bounded memory per row) is real and testable.
   */
  def decodeStub(payload: Array[Byte]): (Double, Array[Long]) = {
    val hist = new Array[Long](16)
    var sum = 0L
    var i = 0
    while (i < payload.length) {
      val b = payload(i) & 0xff
      hist(b >> 4) += 1
      sum += b
      i += 1
    }
    val mean = if (payload.length == 0) 0.0 else sum.toDouble / payload.length
    (mean, hist)
  }

  /** payload → features, partition-local (the `mapInPandas` analogue: one
    * iterator pass per partition, no shuffle, binary column consumed and
    * dropped so downstream stages never carry the blob). */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val (mean, hist) = decodeStub(m.payload)
        // mean is a SINGLE IEEE division of integer-derived values (byte
        // sum / length) — exactly reproducible by the SQL oracle; never
        // post-round a compared double (engines' round() differ in ulps)
        MediaFeatures(m.doc_id, m.media_type, m.n_bytes, mean, hist)
      }
    }
  }

  /** Frame sampling: every `stride` bytes emit a fixed-size "frame" slice —
    * the video-keyframe access pattern (seek + bounded read), as a
    * generator so one row fans out to N without materializing all frames. */
  def sampleFrames(media: Dataset[MediaRow], frameSize: Int, stride: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val n = m.payload.length
      Iterator.range(0, math.max(n - frameSize + 1, 1), stride).zipWithIndex.map {
        case (off, idx) =>
          Frame(m.doc_id, idx, m.payload.slice(off, math.min(off + frameSize, n)))
      }
    }
  }
}
