package graft.ops

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property sweeps for the binary media codecs (fixed-seed scalacheck
  * generators, no scalatest bridge — the CodecSpec pattern):
  * encode->decode round-trips over random geometry/content, and
  * decoder robustness: random garbage and random truncation must raise
  * cleanly, never mis-decode or loop. */
class MediaCodecsFuzzSpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private val dims = for {
    w <- Gen.chooseNum(1, 40)
    h <- Gen.chooseNum(1, 24)
    seed <- Gen.chooseNum(0, 255)
  } yield (w, h, seed)

  test("BMP round-trip: random dims and content, mean exact") {
    samples(dims, 200).foreach { case (w, h, s) =>
      val g = (k: Int) => (k * 31 + s) % 256
      val d = MediaCodecs.decodeBmp(MediaCodecs.encodeBmp(w, h, g))
      assert(d.width == w && d.height == h, s"($w,$h)")
      val want = (0 until w * h).map(g(_)).sum / (w * h).toDouble
      assert(math.abs(d.meanVal - want) < 1e-9, s"($w,$h,$s)")
      // payload accessor inverts the bottom-up flip exactly
      assert(MediaCodecs.bmpGray(MediaCodecs.encodeBmp(w, h, g)).toSeq ==
        (0 until w * h).map(g(_)))
    }
  }

  test("WAV round-trip: random sample vectors survive exactly") {
    val gen = for {
      n <- Gen.chooseNum(0, 500)
      seed <- Gen.chooseNum(0, 10000)
    } yield Array.tabulate[Short](n)(i =>
      (((i * 7919 + seed) % 65536) - 32768).toShort)
    samples(gen, 200).foreach { s =>
      assert(MediaCodecs.wavSamples(MediaCodecs.encodeWav(s)).toSeq ==
        s.toSeq)
      val d = MediaCodecs.decodeWav(MediaCodecs.encodeWav(s))
      assert(d.nSamples == s.length &&
        d.durationMs == s.length.toLong * 1000 / 8000)
    }
  }

  test("Y4M round-trip: random frame counts and luma") {
    val gen = for {
      fr <- Gen.chooseNum(1, 12)
      seed <- Gen.chooseNum(0, 255)
    } yield (fr, seed)
    samples(gen, 100).foreach { case (fr, s) =>
      val luma = (f: Int, j: Int) => (f * 131 + j * 17 + s) % 256
      val b = MediaCodecs.encodeY4m(fr, luma)
      val d = MediaCodecs.decodeY4m(b)
      assert(d.frames == fr && d.width == 16 && d.height == 8)
      val (w, h, first) = MediaCodecs.y4mFirstFrameLuma(b)
      assert(first.toSeq == (0 until w * h).map(luma(0, _)))
    }
  }

  test("decoders reject random garbage without mis-decoding") {
    val junk = for {
      n <- Gen.chooseNum(0, 300)
      seed <- Gen.chooseNum(0, 1 << 20)
    } yield Array.tabulate[Byte](n)(i => ((i * 2654435761L + seed) >> 3).toByte)
    samples(junk, 300).foreach { b =>
      // each decoder must throw (no magic match is astronomically
      // unlikely from this generator) — and must never hang or return
      intercept[Exception](MediaCodecs.decodeBmp(b))
      intercept[Exception](MediaCodecs.decodeWav(b))
      intercept[Exception](MediaCodecs.decodeY4m(b))
    }
  }

  test("decoders reject truncation of valid files at every length") {
    val bmp = MediaCodecs.encodeBmp(5, 3, _ % 256)
    val wav = MediaCodecs.encodeWav(Array.tabulate[Short](16)(_.toShort))
    val y4m = MediaCodecs.encodeY4m(2, (_, j) => j % 256)
    for (cut <- 0 until bmp.length)
      intercept[Exception](MediaCodecs.decodeBmp(bmp.take(cut)))
    for (cut <- 0 until wav.length) // data chunk claims 32 bytes, so
      intercept[Exception](MediaCodecs.decodeWav(wav.take(cut))) // every cut fails
    // a cut landing EXACTLY on a frame boundary is a valid shorter
    // video — only mid-frame/mid-header cuts must throw
    val frameBoundary = (k: Int) =>
      MediaCodecs.Y4mHeader.length + k * (6 + MediaCodecs.y4mFrameBytes)
    for (cut <- 0 until y4m.length
         if cut != frameBoundary(0) && cut != frameBoundary(1))
      intercept[Exception](MediaCodecs.decodeY4m(y4m.take(cut)))
    // the boundary cuts ARE valid shorter videos (0- and 1-frame)
    assert(MediaCodecs.decodeY4m(y4m.take(frameBoundary(0))).frames == 0)
    assert(MediaCodecs.decodeY4m(y4m.take(frameBoundary(1))).frames == 1)
  }

  /** Outcome of `body`, run on another thread so that a decoder stuck in
    * a loop (which never checks for interrupts) fails the test after
    * `limit` instead of stalling the suite. */
  private def bounded[A](body: => A, limit: FiniteDuration = 10.seconds): Try[A] =
    Await.result(Future(Try(body))(ExecutionContext.global), limit)

  private def le32(v: Int): Array[Byte] =
    Array(v, v >> 8, v >> 16, v >> 24).map(_.toByte)

  test("RIFF chunks with a negative length are rejected, not looped on") {
    val ascii = (s: String) => s.getBytes("US-ASCII")
    for (len <- Seq(-8, -1, -2, -16, Int.MinValue)) {
      // a junk chunk whose length would stall (-8) or rewind the walk,
      // before and after a valid fmt chunk
      val junk = ascii("JUNK") ++ le32(len) ++ new Array[Byte](8)
      val fmt = MediaCodecs.encodeWav(Array[Short](1, 2)).slice(12, 36)
      for (body <- Seq(junk, fmt ++ junk)) {
        val b = ascii("RIFF") ++ le32(4 + body.length) ++ ascii("WAVE") ++ body
        assert(bounded(MediaCodecs.decodeWav(b)).isFailure, s"len=$len")
        assert(bounded(MediaCodecs.wavSamples(b)).isFailure, s"len=$len")
      }
    }
    // a chunk length past the end ends the walk instead of wrapping
    val huge = MediaCodecs.encodeWav(Array[Short](1, 2)).clone()
    Array.copy(le32(Int.MaxValue), 0, huge, 40, 4) // the data chunk's length
    assert(bounded(MediaCodecs.decodeWav(huge)).isFailure)
  }

  test("BMP headers with bad dimensions or orientation are rejected") {
    val ok = MediaCodecs.encodeBmp(4, 3, _ % 256)
    def withDims(w: Int, h: Int): Array[Byte] = {
      val b = ok.clone()
      Array.copy(le32(w), 0, b, 18, 4)
      Array.copy(le32(h), 0, b, 22, 4)
      b
    }
    // negative widths; dimensions whose byte count overflows an Int (or
    // a Long, when multiplied naively); top-down (negative height)
    val cases = Seq((-4, 3), (-1, 1), (Int.MinValue, 3),
      (1 << 30, 1 << 30), (Int.MaxValue, Int.MaxValue), (715827883, 2),
      (4, -3), (4, Int.MinValue), (0, 3), (4, 0))
    for ((w, h) <- cases) {
      val r = bounded(MediaCodecs.decodeBmp(withDims(w, h)))
      assert(r.failed.toOption.exists(_.isInstanceOf[IllegalArgumentException]),
        s"${w}x$h: $r")
      val g = bounded(MediaCodecs.bmpGray(withDims(w, h)))
      assert(g.failed.toOption.exists(_.isInstanceOf[IllegalArgumentException]),
        s"${w}x$h: $g")
    }
    // a pixel offset inside the header or past the end
    for (off <- Seq(0, 53, -1, Int.MaxValue)) {
      val b = ok.clone()
      Array.copy(le32(off), 0, b, 10, 4)
      assert(bounded(MediaCodecs.decodeBmp(b)).failed.toOption
        .exists(_.isInstanceOf[IllegalArgumentException]), s"offset $off")
    }
  }

  test("Y4M headers with a non-positive or huge frame size are rejected") {
    val frame = "FRAME\n".getBytes("US-ASCII") ++ new Array[Byte](64)
    for ((w, h) <- Seq((4, -1), (-4, 1), (-4, -2), (0, 8), (16, 0), (0, 0),
        (100000, 100000))) {
      val b = s"YUV4MPEG2 W$w H$h F25:1 C420\n".getBytes("US-ASCII") ++
        frame ++ frame
      assert(bounded(MediaCodecs.decodeY4m(b)).isFailure, s"W$w H$h")
      assert(bounded(MediaCodecs.y4mFirstFrameLuma(b)).isFailure, s"W$w H$h")
    }
  }
}
