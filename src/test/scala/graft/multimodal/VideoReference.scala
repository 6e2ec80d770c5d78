package graft.multimodal

import org.apache.spark.sql.{Dataset, SparkSession}

import MultimodalOps.{AudioFeatures, MediaRow, VideoCodec, audioFeaturesOf}

/** The two-pass video forms that the fused operators replaced, kept as their parity
  * references (MultimodalSpec): [[sampleVideoFrames]] + `imageGrayRaster` is what
  * `videoGrayRasters` fuses, and [[videoAudioFeatures]] is the soundtrack channel that
  * `videoAvRasters` emits from the same container walk. */
object VideoReference {

  /** Every `stride`-th frame of a RIFF/AVI or MP4 payload via [[VideoCodec.frames]]
    * (for MJPEG each emitted frame is a standalone JPEG), as (id, frameIdx, frame)
    * rows. Payloads with no decodable container emit nothing. */
  def sampleVideoFrames(ds: Dataset[MediaRow], stride: Int = 1)
                       (implicit spark: SparkSession): Dataset[(Long, Int, Array[Byte])] = {
    require(stride >= 1, "stride must be >= 1")
    import spark.implicits._
    ds.flatMap { r =>
      VideoCodec.frames(r.payload).zipWithIndex.collect {
        case (f, i) if i % stride == 0 => (r.id, i, f)
      }
    }
  }

  /** The container's first sound stream ([[VideoCodec.audioSamples]]) through the
    * windowing kernel of `audioFrameFeatures`. Videos without a decodable PCM
    * track drop. */
  def videoAudioFeatures(ds: Dataset[MediaRow], windowSamples: Int = 256)
                        (implicit spark: SparkSession): Dataset[AudioFeatures] = {
    import spark.implicits._
    ds.mapPartitions(_.flatMap { r =>
      VideoCodec.audioSamples(r.payload)
        .map { case (rate, s) => audioFeaturesOf(r.id, rate, s, windowSamples) }
    })
  }
}
