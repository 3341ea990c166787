package graft.ops

/** Real binary media codecs for the three uncompressed container
  * formats a JVM can parse without any codec library:
  *
  *  - BMP, 24-bit uncompressed (BITMAPINFOHEADER): bottom-up row order,
  *    4-byte row padding, BGR channel order — the classic header quirks
  *    a real decoder must get right.
  *  - WAV, RIFF/PCM signed 16-bit little-endian: proper chunk ITERATION
  *    (fmt / data found by walking the chunk list, never by fixed
  *    offset — encoders legally emit LIST/fact chunks in between).
  *  - Y4M (YUV4MPEG2), 4:2:0: a space-separated ASCII header line, then
  *    `FRAME\n`-delimited raw planes — the simplest real video
  *    container, and enough to make frame-counting and frame-sampling
  *    genuine parsing work.
  *
  * These replace the former all-stub decode step of [[Multimodal]] for
  * every uncompressed payload; only compressed codecs (JPEG/MP3/H.264)
  * remain out of reach in this container and keep the documented stub.
  * Encoders exist so tests and the gate can round-trip: synthesize real
  * bytes from the corpus, then prove the decoder recovers exactly the
  * structure and content the generator put in.
  *
  * Reference analog: contrib multimodal ingestion has no counterpart in
  * lucene.net (text-only engine); this is part of the training-data
  * pipeline surface (SURVEY §2 "beyond the reference" block).
  */
object MediaCodecs {

  // ---- little-endian helpers over plain arrays (no ByteBuffer churn
  // in the per-row hot path) ----
  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def putLe16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
  }
  private def putLe32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
    b(off + 2) = ((v >> 16) & 0xff).toByte
    b(off + 3) = ((v >> 24) & 0xff).toByte
  }

  /** Decoded structure + one content feature per media item. Unused
    * dimensions are 0 (a WAV has no width; a BMP has one frame). */
  final case class Decoded(width: Int, height: Int, frames: Int,
      nSamples: Long, sampleRate: Int, durationMs: Long, meanVal: Double)

  /** The one kind → parser dispatch, shared by the batch decode, the
    * transform check and the streaming decode: "image" is BMP, "audio"
    * WAV, "video" Y4M; any other kind is rejected. */
  def decode(kind: String, blob: Array[Byte]): Decoded = kind match {
    case "image" => decodeBmp(blob)
    case "audio" => decodeWav(blob)
    case "video" => decodeY4m(blob)
    case other => unknownKind(other)
  }

  def unknownKind(kind: String): Nothing =
    throw new IllegalArgumentException(s"unknown media kind '$kind'")

  // ======================================================== BMP ====

  /** Row stride of a 24bpp BMP: 3 bytes/px rounded up to 4. */
  def bmpStride(width: Int): Int = ((3 * width + 3) / 4) * 4

  /** Total file size of a 24bpp BITMAPINFOHEADER BMP. */
  def bmpSize(width: Int, height: Int): Int = 54 + bmpStride(width) * height

  /** Encode a grayscale image (row-major from the TOP, values 0-255)
    * as a 24bpp BMP — stored bottom-up per the format. */
  def encodeBmp(width: Int, height: Int, gray: Int => Int): Array[Byte] = {
    val stride = bmpStride(width)
    val size = bmpSize(width, height)
    val b = new Array[Byte](size)
    b(0) = 'B'; b(1) = 'M'
    putLe32(b, 2, size)          // file size
    putLe32(b, 10, 54)           // pixel data offset
    putLe32(b, 14, 40)           // BITMAPINFOHEADER size
    putLe32(b, 18, width)
    putLe32(b, 22, height)       // positive = bottom-up
    putLe16(b, 26, 1)            // planes
    putLe16(b, 28, 24)           // bpp
    putLe32(b, 30, 0)            // BI_RGB (uncompressed)
    putLe32(b, 34, stride * height)
    var row = 0
    while (row < height) {
      val srcRow = height - 1 - row // bottom-up storage
      var x = 0
      while (x < width) {
        val g = gray(srcRow * width + x) & 0xff
        val off = 54 + row * stride + 3 * x
        b(off) = g.toByte; b(off + 1) = g.toByte; b(off + 2) = g.toByte
        x += 1
      }
      row += 1
    }
    b
  }

  /** Parse a 24bpp uncompressed bottom-up BMP; meanVal = mean over
    * pixels of (r+g+b)/3, iterated in the file's own padded layout.
    * Top-down files (negative height) are rejected: [[bmpGray]] reads
    * rows bottom-up, the only order [[encodeBmp]] writes. */
  def decodeBmp(b: Array[Byte]): Decoded = {
    require(b.length >= 54 && b(0) == 'B' && b(1) == 'M', "not a BMP")
    val dataOff = le32(b, 10)
    val hdrSize = le32(b, 14)
    require(hdrSize >= 40, s"unsupported BMP header size $hdrSize")
    require(dataOff >= 54, s"BMP pixel offset $dataOff inside the header")
    val width = le32(b, 18)
    val height = le32(b, 22)
    require(height >= 0, s"top-down BMP (height $height) unsupported")
    require(width > 0 && height > 0, s"empty BMP ${width}x$height")
    val bpp = le16(b, 28)
    val compression = le32(b, 30)
    require(bpp == 24 && compression == 0,
      s"only 24bpp uncompressed supported (bpp=$bpp comp=$compression)")
    // in Long and by division, so crafted dimensions cannot wrap the
    // bound; once it holds, stride * height fits the array (an Int)
    require(dataOff <= b.length &&
      height <= (b.length - dataOff) / ((3L * width + 3) / 4 * 4),
      "truncated BMP pixels")
    val stride = bmpStride(width)
    var sum = 0.0
    var row = 0
    while (row < height) {
      var x = 0
      while (x < width) {
        val off = dataOff + row * stride + 3 * x
        sum += ((b(off) & 0xff) + (b(off + 1) & 0xff) +
          (b(off + 2) & 0xff)) / 3.0
        x += 1
      }
      row += 1
    }
    Decoded(width, height, 1, 0L, 0, 0L, sum / (width.toLong * height))
  }

  /** Grayscale payload of a 24bpp BMP, row-major from the TOP (the
    * decoder re-flips the bottom-up storage): value = (r+g+b)/3. */
  def bmpGray(b: Array[Byte]): Array[Int] = {
    val d = decodeBmp(b) // validates header/truncation
    val (w, h) = (d.width, d.height)
    val dataOff = le32(b, 10)
    val stride = bmpStride(w)
    val out = new Array[Int](w * h)
    var row = 0
    while (row < h) {
      val srcRow = h - 1 - row // stored bottom-up
      var x = 0
      while (x < w) {
        val off = dataOff + srcRow * stride + 3 * x
        out(row * w + x) = ((b(off) & 0xff) + (b(off + 1) & 0xff) +
          (b(off + 2) & 0xff)) / 3
        x += 1
      }
      row += 1
    }
    out
  }

  // ======================================================== WAV ====

  val WavSampleRate = 8000

  /** File size of a minimal PCM16 mono WAV with n samples. */
  def wavSize(nSamples: Long): Long = 44L + 2L * nSamples

  /** Encode signed 16-bit mono PCM at 8 kHz. */
  def encodeWav(samples: Array[Short]): Array[Byte] = {
    val dataLen = 2 * samples.length
    val b = new Array[Byte](44 + dataLen)
    b(0) = 'R'; b(1) = 'I'; b(2) = 'F'; b(3) = 'F'
    putLe32(b, 4, 36 + dataLen)
    b(8) = 'W'; b(9) = 'A'; b(10) = 'V'; b(11) = 'E'
    b(12) = 'f'; b(13) = 'm'; b(14) = 't'; b(15) = ' '
    putLe32(b, 16, 16)                   // fmt chunk size
    putLe16(b, 20, 1)                    // PCM
    putLe16(b, 22, 1)                    // mono
    putLe32(b, 24, WavSampleRate)
    putLe32(b, 28, WavSampleRate * 2)    // byte rate
    putLe16(b, 32, 2)                    // block align
    putLe16(b, 34, 16)                   // bits/sample
    b(36) = 'd'; b(37) = 'a'; b(38) = 't'; b(39) = 'a'
    putLe32(b, 40, dataLen)
    var i = 0
    while (i < samples.length) {
      putLe16(b, 44 + 2 * i, samples(i) & 0xffff); i += 1
    }
    b
  }

  /** Offset of the RIFF chunk after the one at `off` whose body is
    * `len` bytes (chunks are word-aligned), capped at `end`. A negative
    * length would stall or rewind the walk — a crafted file could loop
    * it forever — so it is rejected; the sum is taken in Long so a huge
    * length ends the walk instead of wrapping to a negative offset. The
    * result is always at least off + 8 or `end`, so the walk strictly
    * advances. */
  private def nextChunk(off: Int, len: Int, end: Int): Int = {
    require(len >= 0, s"bad RIFF chunk length $len at offset $off")
    math.min(off.toLong + 8 + len + (len & 1), end.toLong).toInt
  }

  /** The chunk walk shared by [[decodeWav]] and [[wavSamples]]: checks
    * the RIFF/WAVE magic, reads the fmt fields and stops at the FIRST
    * data chunk (the format puts fmt before data), so both read the same
    * samples. Returns (sample rate, data offset, sample count). */
  private def wavData(b: Array[Byte]): (Int, Int, Int) = {
    require(b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
      b(11) == 'E', "not a RIFF/WAVE file")
    var off = 12
    var sampleRate = 0; var channels = 0; var bits = 0
    var dataOff = -1; var dataLen = 0
    while (dataOff < 0 && off + 8 <= b.length) {
      val id = new String(b, off, 4, "US-ASCII")
      val len = le32(b, off + 4)
      id match {
        case "fmt " =>
          require(le16(b, off + 8) == 1, "only PCM supported")
          channels = le16(b, off + 10)
          sampleRate = le32(b, off + 12)
          bits = le16(b, off + 22)
        case "data" => dataOff = off + 8; dataLen = len
        case _ => () // LIST/fact/...: skip
      }
      off = nextChunk(off, len, b.length) // also rejects a negative length
    }
    require(sampleRate > 0 && dataOff >= 0, "missing fmt or data chunk")
    require(channels == 1 && bits == 16, "only mono PCM16 supported")
    require(dataOff.toLong + dataLen <= b.length, "truncated WAV data")
    (sampleRate, dataOff, dataLen / 2)
  }

  /** Parse a RIFF/WAVE file by chunk iteration (fmt + data located by
    * walking, tolerating interleaved chunks); meanVal = mean |sample|
    * over the PCM16 payload. */
  def decodeWav(b: Array[Byte]): Decoded = {
    val (sampleRate, dataOff, n) = wavData(b)
    var sum = 0.0
    var i = 0
    while (i < n) {
      val s = (le16(b, dataOff + 2 * i) << 16) >> 16 // sign-extend
      sum += math.abs(s)
      i += 1
    }
    Decoded(0, 0, 0, n.toLong, sampleRate,
      n.toLong * 1000 / sampleRate, if (n == 0) 0.0 else sum / n)
  }

  /** PCM16 sample payload of a mono WAV (the samples [[decodeWav]]
    * summarizes). */
  def wavSamples(b: Array[Byte]): Array[Short] = {
    val (_, dataOff, n) = wavData(b)
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      out(i) = le16(b, dataOff + 2 * i).toShort; i += 1
    }
    out
  }

  // ======================================================== Y4M ====

  val Y4mHeader = "YUV4MPEG2 W16 H8 F25:1 Ip A1:1 C420\n"
  val Y4mWidth = 16
  val Y4mHeight = 8
  val Y4mFps = 25
  /** 4:2:0 frame payload: Y (w*h) + U + V (w*h/4 each). */
  def y4mFrameBytes: Int = Y4mWidth * Y4mHeight * 3 / 2

  def y4mSize(frames: Int): Int =
    Y4mHeader.length + frames * (6 + y4mFrameBytes)

  /** Encode fixed-geometry 16x8 C420 video; luma of frame f pixel j =
    * luma(f, j), chroma flat 128. */
  def encodeY4m(frames: Int, luma: (Int, Int) => Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(y4mSize(frames))
    out.write(Y4mHeader.getBytes("US-ASCII"))
    val ySize = Y4mWidth * Y4mHeight
    val cSize = ySize / 4
    var f = 0
    while (f < frames) {
      out.write("FRAME\n".getBytes("US-ASCII"))
      var j = 0
      while (j < ySize) { out.write(luma(f, j) & 0xff); j += 1 }
      var c = 0
      while (c < 2 * cSize) { out.write(128); c += 1 }
      f += 1
    }
    out.toByteArray
  }

  /** Parse the YUV4MPEG2 header tokens (W/H/F), walk the FRAME markers,
    * count frames; meanVal = mean luma of the FIRST frame — the
    * "frame-sample" op a training pipeline runs on video. */
  def decodeY4m(b: Array[Byte]): Decoded = {
    val nl = b.indexOf('\n'.toByte)
    require(nl > 0, "missing Y4M header terminator")
    val hdr = new String(b, 0, nl, "US-ASCII")
    val toks = hdr.split(' ')
    require(toks.headOption.contains("YUV4MPEG2"), "not a YUV4MPEG2 file")
    def tok(p: Char): Option[String] =
      toks.find(t => t.nonEmpty && t.charAt(0) == p).map(_.drop(1))
    val w = tok('W').map(_.toInt).getOrElse(sys.error("Y4M: no width"))
    val h = tok('H').map(_.toInt).getOrElse(sys.error("Y4M: no height"))
    val fps = tok('F').map(_.takeWhile(_ != ':').toInt).getOrElse(25)
    val cs = tok('C').getOrElse("420")
    require(cs.startsWith("420"), s"only C420 supported (got C$cs)")
    // a non-positive size would make frameLen <= 0 and send the frame
    // walk back to the same FRAME marker forever; Long keeps large sizes
    // from wrapping
    require(w > 0 && h > 0, s"Y4M: non-positive frame size ${w}x$h")
    val frameLen = w.toLong * h * 3 / 2
    var off = nl + 1
    var frames = 0
    var firstMean = 0.0
    while (off < b.length) {
      val fnl = {
        var i = off
        while (i < b.length && b(i) != '\n'.toByte) i += 1
        i
      }
      require(fnl < b.length &&
        new String(b, off, math.min(5, fnl - off), "US-ASCII") == "FRAME",
        s"bad FRAME marker at offset $off")
      val dataOff = fnl + 1
      require(dataOff + frameLen <= b.length, "truncated Y4M frame")
      if (frames == 0) {
        var sum = 0.0
        var j = 0
        while (j < w * h) { sum += (b(dataOff + j) & 0xff); j += 1 }
        firstMean = if (w * h == 0) 0.0 else sum / (w * h)
      }
      frames += 1
      off = (dataOff + frameLen).toInt
    }
    Decoded(w, h, frames, 0L, 0,
      frames.toLong * 1000 / fps, firstMean)
  }

  /** Frame-sample: (width, height, luma plane of frame 0, row-major).
    * The frame-extraction op a video preprocessing pipeline runs. */
  def y4mFirstFrameLuma(b: Array[Byte]): (Int, Int, Array[Int]) = {
    // validates header + all frame markers; a frame must exist, so the
    // luma plane below lies inside the file
    require(decodeY4m(b).frames > 0, "Y4M: no frames")
    val nl = b.indexOf('\n'.toByte)
    val toks = new String(b, 0, nl, "US-ASCII").split(' ')
    def tok(p: Char) = toks.find(t => t.nonEmpty && t.charAt(0) == p)
      .map(_.drop(1))
    val w = tok('W').get.toInt
    val h = tok('H').get.toInt
    var i = nl + 1 // first FRAME line
    while (i < b.length && b(i) != '\n'.toByte) i += 1
    val dataOff = i + 1
    val luma = new Array[Int](w * h)
    var j = 0
    while (j < w * h) { luma(j) = b(dataOff + j) & 0xff; j += 1 }
    (w, h, luma)
  }
}
