package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** The real binary media codecs: golden byte-level fixtures (header
  * fields at their published offsets), round-trips proving the decoder
  * recovers exactly the structure AND content the encoder wrote
  * (bottom-up BMP rows, WAV chunk walking, Y4M frame markers), and the
  * Spark decode path end-to-end on the test corpus. */
class MediaCodecsSpec extends AnyFunSuite {

  // ============================== BMP ==============================

  test("BMP golden: 2x2 header fields at published offsets") {
    // gray values row-major from top: (0,0)=10 (1,0)=20 / (0,1)=30 (1,1)=40
    val g = Array(10, 20, 30, 40)
    val b = MediaCodecs.encodeBmp(2, 2, g)
    assert(b.length == 54 + 8 * 2)             // stride(2px)=8
    assert(b(0) == 'B' && b(1) == 'M')
    def le32(off: Int) = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
    assert(le32(2) == b.length)                // file size
    assert(le32(10) == 54)                     // pixel offset
    assert(le32(18) == 2 && le32(22) == 2)     // w, h
    assert((b(28) & 0xff) == 24)               // bpp
    // bottom-up: first stored row is the BOTTOM image row (30, 40)
    assert((b(54) & 0xff) == 30 && (b(57) & 0xff) == 40)
    // padding bytes beyond 3*w stay zero
    assert(b(54 + 6) == 0 && b(54 + 7) == 0)
    val d = MediaCodecs.decodeBmp(b)
    assert(d.width == 2 && d.height == 2 && d.frames == 1)
    assert(math.abs(d.meanVal - 25.0) < 1e-9)  // (10+20+30+40)/4
  }

  test("BMP round-trip recovers content through stride padding") {
    // w=3 -> raw row 9 bytes, stride 12: 3 pad bytes per row the
    // decoder must skip or the mean drifts
    val g = (0 until 3 * 5).map(k => (k * 37) % 256)
    val d = MediaCodecs.decodeBmp(MediaCodecs.encodeBmp(3, 5, g))
    assert(d.width == 3 && d.height == 5)
    assert(math.abs(d.meanVal - g.sum / 15.0) < 1e-9)
  }

  test("BMP rejects truncation and wrong magic") {
    val ok = MediaCodecs.encodeBmp(2, 2, _ => 0)
    intercept[IllegalArgumentException] {
      MediaCodecs.decodeBmp(ok.take(40))
    }
    val bad = ok.clone(); bad(0) = 'X'
    intercept[IllegalArgumentException] { MediaCodecs.decodeBmp(bad) }
  }

  // ============================== WAV ==============================

  test("WAV golden: PCM16 fields, duration, mean |sample|") {
    val s = Array[Short](1000, -1000, 0, 32767)
    val b = MediaCodecs.encodeWav(s)
    assert(b.length == 44 + 8)
    assert(new String(b, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(b, 8, 4, "US-ASCII") == "WAVE")
    val d = MediaCodecs.decodeWav(b)
    assert(d.nSamples == 4 && d.sampleRate == 8000)
    assert(d.durationMs == 0)                  // 4 samples @8kHz -> 0 ms
    assert(math.abs(d.meanVal - (1000 + 1000 + 0 + 32767) / 4.0) < 1e-9)
    val d2 = MediaCodecs.decodeWav(
      MediaCodecs.encodeWav(Array.fill[Short](8000)(-256)))
    assert(d2.durationMs == 1000 && math.abs(d2.meanVal - 256.0) < 1e-9)
  }

  test("WAV decoder walks chunks: LIST chunk between fmt and data") {
    val base = MediaCodecs.encodeWav(Array[Short](5, -5))
    // splice an 8+4-byte LIST chunk in front of "data"
    val extra = "LIST".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
    val spliced = base.take(36) ++ extra ++ base.drop(36)
    // fix the RIFF size field (bytes 4..7, little-endian)
    val riffLen = spliced.length - 8
    spliced(4) = (riffLen & 0xff).toByte
    spliced(5) = ((riffLen >> 8) & 0xff).toByte
    val d = MediaCodecs.decodeWav(spliced)
    assert(d.nSamples == 2 && math.abs(d.meanVal - 5.0) < 1e-9)
  }

  test("WAV with two data chunks: both decoders read the first") {
    val first = Array[Short](100, -100, 300)
    val base = MediaCodecs.encodeWav(first)
    // a second, longer data chunk after the first
    val second = "data".getBytes("US-ASCII") ++ Array[Byte](8, 0, 0, 0) ++
      MediaCodecs.encodeWav(Array[Short](7, 7, 7, 7)).drop(44)
    val b = base ++ second
    val riffLen = b.length - 8
    b(4) = (riffLen & 0xff).toByte
    b(5) = ((riffLen >> 8) & 0xff).toByte
    val d = MediaCodecs.decodeWav(b)
    val s = MediaCodecs.wavSamples(b)
    assert(s.length == d.nSamples)
    assert(s.toSeq == first.toSeq)
    assert(math.abs(d.meanVal - 500 / 3.0) < 1e-9)
  }

  test("WAV rejects non-RIFF and missing data chunk") {
    intercept[IllegalArgumentException] {
      MediaCodecs.decodeWav("not audio at all".getBytes)
    }
    val hdrOnly = MediaCodecs.encodeWav(Array.empty[Short]).take(36)
    intercept[IllegalArgumentException] { MediaCodecs.decodeWav(hdrOnly) }
  }

  // ============================== Y4M ==============================

  test("Y4M golden: frame count, duration, first-frame luma sample") {
    val b = MediaCodecs.encodeY4m(3, (f, j) => if (f == 0) 100 else 7)
    assert(b.length == MediaCodecs.y4mSize(3))
    assert(new String(b, 0, 9, "US-ASCII") == "YUV4MPEG2")
    val d = MediaCodecs.decodeY4m(b)
    assert(d.width == 16 && d.height == 8 && d.frames == 3)
    assert(d.durationMs == 120)                // 3 frames @25fps
    assert(math.abs(d.meanVal - 100.0) < 1e-9) // frame-sample = frame 0
  }

  test("Y4M rejects bad marker and truncated frame") {
    val b = MediaCodecs.encodeY4m(1, (_, _) => 0)
    intercept[IllegalArgumentException] {
      MediaCodecs.decodeY4m(b.dropRight(10))
    }
    val bad = b.clone()
    bad(MediaCodecs.Y4mHeader.length) = 'X'    // corrupt "FRAME"
    intercept[IllegalArgumentException] { MediaCodecs.decodeY4m(bad) }
  }

  // ==================== generator round-trip ====================

  test("encodeRow -> decode recovers structure and content per kind") {
    // ids cover all three kinds; texts include empty and multi-byte
    // UTF-8 (ü is 2 bytes -> n != char count, the oracle-parity trap)
    val texts = Seq("hello media", "", "für multi-byte übung",
      "x" * 300)
    for (id <- 0L until 12L; text <- texts) {
      val row = Multimodal.encodeRow(id, text)
      val b = text.getBytes("UTF-8")
      val n = b.length
      def byteAt(k: Long): Int = if (n == 0) 0 else b((k % n).toInt) & 0xff
      (id % 3) match {
        case 0 =>
          val (w, h) = ((8 + id % 16).toInt, (4 + id % 8).toInt)
          val d = MediaCodecs.decodeBmp(row.blob)
          assert(row.kind == "image" && d.width == w && d.height == h)
          assert(row.blob.length == MediaCodecs.bmpSize(w, h))
          val want = (0 until w * h).map(k => byteAt(k)).sum / (w * h).toDouble
          assert(math.abs(d.meanVal - want) < 1e-9, s"id=$id")
        case 1 =>
          val d = MediaCodecs.decodeWav(row.blob)
          assert(row.kind == "audio" && d.nSamples == n)
          assert(row.blob.length == MediaCodecs.wavSize(n))
          val want =
            if (n == 0) 0.0
            else b.map(x => math.abs(((x & 0xff) - 128) * 256)).sum / n.toDouble
          assert(math.abs(d.meanVal - want) < 1e-9, s"id=$id")
        case _ =>
          val fr = (1 + id % 4).toInt
          val d = MediaCodecs.decodeY4m(row.blob)
          assert(row.kind == "video" && d.frames == fr)
          assert(row.blob.length == MediaCodecs.y4mSize(fr))
          val want = (0 until 128).map(j => byteAt(j)).sum / 128.0
          assert(math.abs(d.meanVal - want) < 1e-9, s"id=$id")
      }
    }
  }

  // ==================== transforms ====================

  test("image transform: 2x box downscale averages each 2x2 cell") {
    // 4x2 -> 2x1, row-major rows (1,2,3,4)/(5,6,7,8):
    // cell(0,0)={1,2,5,6} mean 3; cell(1,0)={3,4,7,8} mean 5
    val src = MediaCodecs.encodeBmp(4, 2, Array(1, 2, 3, 4, 5, 6, 7, 8))
    val out = Multimodal.transformRow(MediaRow(0L, "image", src))
    val d = MediaCodecs.decodeBmp(out.blob)
    assert(d.width == 2 && d.height == 1)
    assert(MediaCodecs.bmpGray(out.blob).toSeq == Seq(3, 5))
  }

  test("image transform: odd dims average only existing edge pixels") {
    // 3x3 -> 1x1 (w/2=1, h/2=1): only the top-left 2x2 cell survives
    val src = MediaCodecs.encodeBmp(3, 3,
      Array(10, 20, 99, 30, 40, 99, 99, 99, 99))
    val out = Multimodal.transformRow(MediaRow(0L, "image", src))
    assert(MediaCodecs.bmpGray(out.blob).toSeq == Seq(25))
  }

  test("audio transform: 2x decimation keeps even-index samples") {
    val src = MediaCodecs.encodeWav(Array[Short](100, -1, 200, -2, 300))
    val out = Multimodal.transformRow(MediaRow(1L, "audio", src))
    assert(MediaCodecs.wavSamples(out.blob).toSeq ==
      Seq[Short](100, 200, 300))
  }

  test("video transform: frame-0 luma becomes a grayscale BMP still") {
    val src = MediaCodecs.encodeY4m(2, (f, j) => if (f == 0) j % 256 else 0)
    val out = Multimodal.transformRow(MediaRow(2L, "video", src))
    assert(out.kind == "image")
    val d = MediaCodecs.decodeBmp(out.blob)
    assert(d.width == 16 && d.height == 8)
    assert(out.blob.length == MediaCodecs.bmpSize(16, 8)) // oracle's 438
    assert(MediaCodecs.bmpGray(out.blob).toSeq ==
      (0 until 128).map(_ % 256))
  }

  // ==================== Spark path end-to-end ====================

  test("decodeFeatures rejects an unknown media kind") {
    val spark = SparkFixture.spark
    import spark.implicits._
    val text = Seq(MediaRow(1L, "text", "plain words".getBytes("UTF-8")))
      .toDS()
    val e = intercept[Exception](Multimodal.decodeFeatures(text).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => c.getMessage != null &&
        c.getMessage.contains("unknown media kind 'text'")))
  }

  test("decoded(): real decode over the corpus, no shuffle before sort") {
    val spark = SparkFixture.spark
    val out = Multimodal.decoded(spark, "/root/testdata/sf0.001")
    val rows = out.collect()
    assert(rows.length > 0)
    assert(out.columns.toSeq == Seq("doc_id", "kind", "n_bytes", "width",
      "height", "frames", "n_samples", "sample_rate", "duration_ms"))
    // spot-check one audio row against the generator arithmetic
    val audio = rows.filter(_.getString(1) == "audio")
    assert(audio.nonEmpty)
    audio.take(5).foreach { r =>
      assert(r.getLong(2) == 44 + 2 * r.getLong(6))   // n_bytes vs n_samples
      assert(r.getLong(8) == r.getLong(6) * 1000 / 8000)
    }
    // content feature flows through decodeFeatures (dropped by the gate
    // projection only)
    import spark.implicits._
    val full = Multimodal.decodeFeatures(
      Multimodal.realMediaTable(spark, "/root/testdata/sf0.001"))
    assert(full.filter($"kind" === "audio").head().mean_val > 0.0)
  }
}
