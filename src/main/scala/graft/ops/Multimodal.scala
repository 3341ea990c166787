package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One media item: opaque bytes + typed metadata. In a real corpus the
  * blob is an image/audio/video payload; here it is synthesized
  * deterministically from `documents.text` (UTF-8 bytes) so the whole
  * path — binary column, typed Dataset, batched per-partition decode —
  * is real and oracle-checkable even though no codec libraries exist in
  * this container. */
final case class MediaRow(doc_id: Long, kind: String, blob: Array[Byte])

final case class MediaFeatures(
    doc_id: Long,
    kind: String,
    n_bytes: Long,
    width: Int,
    height: Int,
    chk: Long)

/** Fully-decoded media features: structure (oracle-checkable from the
  * generator arithmetic) + one content feature (mean luma / mean
  * |sample|, proven by round-trip spec). */
final case class MediaDecoded(
    doc_id: Long,
    kind: String,
    n_bytes: Long,
    width: Int,
    height: Int,
    frames: Int,
    n_samples: Long,
    sample_rate: Int,
    duration_ms: Long,
    mean_val: Double)

/** Multimodal-column plumbing for training-data pipelines.
  *
  * Two decode paths:
  *
  *  - [[features]] keeps the original STUB decoder (`fakeDecode`) as
  *    the batch-plumbing gate: it stands in for codec-LIBRARY formats
  *    (JPEG/MP3/H.264) that cannot be decoded in this container.
  *  - [[decodedFeatures]] is a REAL decode: blobs are genuine BMP /
  *    WAV / Y4M files (synthesized from `documents.text`, so the
  *    oracle can recompute the structure), parsed by the pure-JVM
  *    binary codecs in [[MediaCodecs]] — header quirks, chunk walks,
  *    row padding and all.
  *
  * Everything around either decoder — the binary column schema, the
  * typed Dataset, the batch shape (64 blobs per decode call, the shape a
  * vectorized decoder or GPU preprocessor wants), partition-local
  * processing with no shuffle — is the production layout. At 100 TB the
  * blobs live in Parquet binary columns exactly like this, and decode
  * parallelism is partition parallelism. */
object Multimodal {

  val DecodeBatch = 64

  /** Binary media table derived from documents: blob = UTF-8 bytes of
    * text; kind cycles image/audio/video by doc_id. */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    TrainOps.docs(spark, sfDir)
      .select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        col("text").cast("binary").as("blob"))
      .as[MediaRow]
  }

  /** STUB decoder — deterministic fake standing in for e.g. libjpeg /
    * ffmpeg. Derives pseudo-metadata from an md5 of the raw bytes, so the
    * DuckDB oracle can recompute it from the same bytes. A real
    * implementation keeps this exact signature: a batch of blobs in, a
    * batch of features out. */
  private def fakeDecode(batch: Seq[MediaRow]): Seq[MediaFeatures] =
    batch.map { m =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(m.blob)
      val hex = md.map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      MediaFeatures(m.doc_id, m.kind, m.blob.length.toLong,
        (64 + h % 512).toInt, (64 + (h / 512) % 512).toInt, h % 997)
    }

  /** Feature extraction: partition-local, batched — no shuffle; decode
    * cost scales linearly with executors. */
  def extractFeatures(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(g => fakeDecode(g.toSeq))
    }.toDF().orderBy("doc_id")
  }

  def features(spark: SparkSession, sfDir: String): DataFrame =
    extractFeatures(mediaTable(spark, sfDir))

  // ================== real encode -> real decode path ==================

  /** Deterministic media synthesis rules, shared verbatim by the
    * engine, the round-trip spec and the DuckDB oracle (which
    * recomputes the STRUCTURE from doc_id + octet_length(text)):
    *  - image (doc_id%3==0): 24bpp BMP, w=8+id%16, h=4+id%8, gray
    *    pixel k = text byte (k mod n) (0 when text is empty);
    *  - audio (doc_id%3==1): PCM16 mono 8 kHz WAV, one sample per text
    *    byte, s_i = (b_i - 128)*256;
    *  - video (doc_id%3==2): 16x8 C420 Y4M, frames=1+id%4, luma of
    *    frame f pixel j = text byte ((f*128 + j) mod n). */
  def encodeRow(id: Long, text: String): MediaRow = {
    val b = text.getBytes("UTF-8")
    val n = b.length
    def byteAt(k: Long): Int = if (n == 0) 0 else b((k % n).toInt) & 0xff
    (id % 3) match {
      case 0 =>
        val w = (8 + id % 16).toInt
        val h = (4 + id % 8).toInt
        MediaRow(id, "image", MediaCodecs.encodeBmp(w, h, k => byteAt(k)))
      case 1 =>
        val samples = new Array[Short](n)
        var i = 0
        while (i < n) { samples(i) = (((b(i) & 0xff) - 128) * 256).toShort; i += 1 }
        MediaRow(id, "audio", MediaCodecs.encodeWav(samples))
      case _ =>
        val fr = (1 + id % 4).toInt
        MediaRow(id, "video", MediaCodecs.encodeY4m(fr,
          (f, j) => byteAt(f.toLong * MediaCodecs.Y4mWidth * MediaCodecs.Y4mHeight + j)))
    }
  }

  /** Binary media table with REAL format payloads (BMP/WAV/Y4M bytes),
    * synthesized partition-locally — no shuffle, scales with executors
    * exactly like a parquet binary-column read would. */
  def realMediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    TrainOps.docs(spark, sfDir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => encodeRow(id, text) })
  }

  /** REAL batched decode: dispatch on kind to the matching binary
    * parser. Partition-local, batched, no shuffle — the same execution
    * shape as [[extractFeatures]], with actual format parsing inside. */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaDecoded] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.grouped(DecodeBatch).flatMap(_.map { m =>
      val d = MediaCodecs.decode(m.kind, m.blob)
      MediaDecoded(m.doc_id, m.kind, m.blob.length.toLong, d.width,
        d.height, d.frames, d.nSamples, d.sampleRate, d.durationMs,
        d.meanVal)
    }))
  }

  /** Gate query: encode real bytes from the corpus, decode them back,
    * emit the structural features (the content feature `mean_val` is
    * covered by the round-trip spec — SQL cannot re-derive a mean over
    * UTF-8 bytes portably). */
  def decoded(spark: SparkSession, sfDir: String): DataFrame =
    decodeFeatures(realMediaTable(spark, sfDir))
      .drop("mean_val").orderBy("doc_id")

  // ==================== media transforms (decode -> re-encode) =======

  /** The three preprocessing transforms a training pipeline runs on
    * media columns, each a REAL decode -> transform -> re-encode over
    * the format bytes:
    *  - image: 2x box-filter downscale (mean of each 2x2 cell; edge
    *    cells average the pixels that exist), re-encoded as BMP;
    *  - audio: 2x decimation (every even-index sample), re-encoded as
    *    WAV — 8 kHz -> effectively 4 kHz content in a 8 kHz container
    *    (rate metadata unchanged keeps the oracle arithmetic format-
    *    local; a production resampler would rewrite the rate field);
    *  - video: frame-sample — extract frame 0's luma plane as a
    *    grayscale BMP still.
    * Output blob is a well-formed file of the OUTPUT format, so
    * transforms compose with [[decodeFeatures]]. */
  def transformRow(m: MediaRow): MediaRow = m.kind match {
    case "image" =>
      val d = MediaCodecs.decodeBmp(m.blob)
      val (w, h) = (d.width, d.height)
      val ow = math.max(1, w / 2)
      val oh = math.max(1, h / 2)
      val px = MediaCodecs.bmpGray(m.blob)
      MediaRow(m.doc_id, "image", MediaCodecs.encodeBmp(ow, oh, { k =>
        val (ox, oy) = (k % ow, k / ow)
        var sum = 0; var cnt = 0
        var dy = 0
        while (dy < 2) {
          var dx = 0
          while (dx < 2) {
            val (x, y) = (2 * ox + dx, 2 * oy + dy)
            if (x < w && y < h) { sum += px(y * w + x); cnt += 1 }
            dx += 1
          }
          dy += 1
        }
        sum / cnt
      }))
    case "audio" =>
      val s = MediaCodecs.wavSamples(m.blob)
      val out = new Array[Short]((s.length + 1) / 2)
      var i = 0
      while (i < out.length) { out(i) = s(2 * i); i += 1 }
      MediaRow(m.doc_id, "audio", MediaCodecs.encodeWav(out))
    case "video" =>
      val (w, h, luma) = MediaCodecs.y4mFirstFrameLuma(m.blob)
      MediaRow(m.doc_id, "image",
        MediaCodecs.encodeBmp(w, h, k => luma(k)))
    case other => MediaCodecs.unknownKind(other)
  }

  /** Gate query: full decode -> transform -> re-encode -> decode chain
    * over the corpus; emits the OUTPUT structure (dims + exact byte
    * size of the re-encoded file — wrong stride/padding/header breaks
    * the hash). Partition-local end to end. */
  def transformed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    realMediaTable(spark, sfDir)
      .mapPartitions(_.grouped(DecodeBatch).flatMap(_.map { m =>
        val t = transformRow(m)
        val d = MediaCodecs.decode(t.kind, t.blob)
        (m.doc_id, m.kind, t.kind, t.blob.length.toLong,
          d.width, d.height, d.nSamples)
      }))
      .toDF("doc_id", "kind", "out_kind", "out_bytes", "out_width",
        "out_height", "out_samples")
      .orderBy("doc_id")
  }
}
