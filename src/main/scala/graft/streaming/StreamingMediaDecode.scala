package graft.streaming

import scala.util.control.NonFatal

import org.apache.spark.sql.Dataset

import graft.ops.{MediaCodecs, MediaRow, Multimodal}

/** Decoded media features, or a quarantine record: `err` is null for a
  * good row; a corrupt payload keeps its identity + size and carries
  * the parse error instead of structure. */
final case class MediaDecodedOr(
    doc_id: Long,
    kind: String,
    n_bytes: Long,
    width: Int,
    height: Int,
    frames: Int,
    n_samples: Long,
    sample_rate: Int,
    duration_ms: Long,
    mean_val: Double,
    err: String)

/** Media decode AT INGEST — the streaming twin of
  * [[graft.ops.Multimodal.decodeFeatures]].
  *
  * The one semantic a batch decode does not need: a stream must survive
  * poison pills. One corrupt blob in a micro-batch would otherwise fail
  * the task, fail the trigger, and kill the QUERY (streaming restarts
  * replay the same batch — a deterministic parse error loops forever).
  * So the decoder here quarantines: bad payloads become rows with
  * `err` set and their identity/size preserved, good rows decode
  * exactly as the batch path does, and the caller splits on
  * `err IS NULL` (features to the feature store, quarantine to a
  * dead-letter sink).
  *
  * 100 TB shape: stateless mapPartitions — no watermark, no state
  * store, no shuffle; decode parallelism is partition parallelism, and
  * the same function serves batch and stream (the spec pins streamed ==
  * batch on the same rows). */
object StreamingMediaDecode {

  /** Works unchanged on a streaming OR batch Dataset[MediaRow]. */
  def decodeSafe(media: Dataset[MediaRow]): Dataset[MediaDecodedOr] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.grouped(Multimodal.DecodeBatch).flatMap(_.map {
      m =>
        try {
          val d = MediaCodecs.decode(m.kind, m.blob)
          MediaDecodedOr(m.doc_id, m.kind, m.blob.length.toLong, d.width,
            d.height, d.frames, d.nSamples, d.sampleRate, d.durationMs,
            d.meanVal, null)
        } catch {
          case NonFatal(e) =>
            MediaDecodedOr(m.doc_id, m.kind, m.blob.length.toLong,
              0, 0, 0, 0L, 0, 0L, 0.0,
              s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
    }))
  }
}
