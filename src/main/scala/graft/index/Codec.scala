package graft.index

import scala.collection.mutable.ArrayBuffer

/** Variable-byte posting-block codec — pure functions over byte arrays.
  *
  * Wire format reproduces the reference's semantics (not its files):
  *  - VByte/VLong: 7-bit groups, low group first, high bit = continuation
  *    (reference /root/reference/src/core/Store/IndexOutput.cs:79-110).
  *  - Doc+freq stream: per posting, gap = docid - prevDocid;
  *    tf==1 → VLong(gap<<1 | 1); else VLong(gap<<1) then VLong(tf)
  *    (reference /root/reference/src/core/Index/FormatPostingsDocsWriter.cs:72-110).
  *  - Position stream: per occurrence, delta from previous position in the
  *    same doc, VLong((delta<<1) | hasPayload); when the payload bit is
  *    set, VLong(float bits) follows — the reference's payload-in-prox
  *    layout (/root/reference/src/core/Index/FormatPostingsPositionsWriter.cs:56-78
  *    writes (delta<<1)|1 + length + bytes; we type the payload as ONE
  *    float, the overwhelmingly common case the reference wraps as
  *    PayloadHelper-encoded floats in its payload queries,
  *    /root/reference/src/core/Search/Payloads/PayloadTermQuery.cs:26-40).
  *    Payload-free streams cost one extra bit per delta and nothing else.
  *  - Doc-length stream (our norms analog — exact ints instead of the
  *    lossy norm byte, see SURVEY.md §1.1): VLong(len) per posting.
  *
  * Blocks hold up to [[BlockSize]] postings of one term and carry
  * skip/WAND stats: (min_docid, max_docid, max_tf, min_len). max_tf and
  * min_len upper-bound the BM25 contribution of every posting in the
  * block (tfNorm is monotone increasing in tf, decreasing in len) — the
  * block-max WAND bound (Ding & Suel SIGIR'11), replacing the
  * reference's multi-level skip lists
  * (/root/reference/src/core/Index/MultiLevelSkipListWriter.cs:28-65).
  */
object Codec {

  /** Postings per block. 128 = the reference's term-index interval
    * (TermInfosWriter.cs:63); a pragmatic VByte block size. */
  val BlockSize = 128

  // ---- VLong primitive ----

  def writeVLong(buf: ArrayBuffer[Byte], v0: Long): Unit = {
    require(v0 >= 0, s"VLong must be non-negative: $v0")
    var v = v0
    while ((v & ~0x7fL) != 0L) {
      buf += ((v & 0x7f) | 0x80).toByte
      v >>>= 7
    }
    buf += v.toByte
  }

  /** Reads a VLong at pos; returns (value, nextPos). */
  def readVLong(bytes: Array[Byte], pos: Int): (Long, Int) = {
    var p = pos
    var b = bytes(p); p += 1
    var v = (b & 0x7f).toLong
    var shift = 7
    while ((b & 0x80) != 0) {
      b = bytes(p); p += 1
      v |= (b & 0x7f).toLong << shift
      shift += 7
    }
    (v, p)
  }

  // ---- one posting within a block ----

  final case class Posting(docid: Long, tf: Long, len: Long,
      positions: Array[Int])

  /** One encoded block of ≤ BlockSize postings for a single term.
    * sumTf lets the dictionary (df, cf) be derived from block stats
    * alone — no decode pass. */
  final case class Block(
      term: String,
      n: Int,
      minDocid: Long,
      maxDocid: Long,
      maxTf: Long,
      minLen: Long,
      sumTf: Long,
      docs: Array[Byte],
      lens: Array[Byte],
      pos: Array[Byte])

  /** Encode postings (MUST be docid-ascending, one term) into blocks. */
  def encode(term: String, postings: Iterator[Posting]): Iterator[Block] =
    postings.grouped(BlockSize).map { group =>
      val docsB = new ArrayBuffer[Byte](group.size * 2)
      val lensB = new ArrayBuffer[Byte](group.size)
      val posB = new ArrayBuffer[Byte](group.size * 2)
      var prevDoc = group.head.docid // first gap = 0 relative to minDocid
      var maxTf = 0L
      var minLen = Long.MaxValue
      var sumTf = 0L
      var prev = -1L
      group.foreach { p =>
        require(p.docid > prev || prev == -1L,
          s"postings not ascending for term=$term: ${p.docid} after $prev")
        prev = p.docid
        val gap = p.docid - prevDoc
        prevDoc = p.docid
        if (p.tf == 1L) writeVLong(docsB, (gap << 1) | 1L)
        else { writeVLong(docsB, gap << 1); writeVLong(docsB, p.tf) }
        writeVLong(lensB, p.len)
        var prevPos = 0L
        p.positions.foreach { pp =>
          writeVLong(posB, (pp - prevPos).toLong << 1); prevPos = pp
        }
        if (p.tf > maxTf) maxTf = p.tf
        if (p.len < minLen) minLen = p.len
        sumTf += p.tf
      }
      Block(term, group.size, group.head.docid, group.last.docid,
        maxTf, minLen, sumTf, docsB.toArray, lensB.toArray, posB.toArray)
    }

  /** VByte-encode one posting's positions (deltas, prev starts at 0) —
    * the per-posting pos stream fragment; block encoding concatenates
    * these verbatim. Payload bit cleared on every occurrence. */
  def encodePositions(positions: Array[Int]): Array[Byte] = {
    val buf = new ArrayBuffer[Byte](positions.length + 2)
    var prev = 0L
    var k = 0
    while (k < positions.length) {
      writeVLong(buf, (positions(k) - prev) << 1); prev = positions(k); k += 1
    }
    buf.toArray
  }

  /** Positions + per-occurrence payloads (Float.NaN = this occurrence
    * carries none → payload bit 0, nothing stored). `payloads` is
    * parallel to `positions`. */
  def encodePosPay(positions: Array[Int], payloads: Array[Float]): Array[Byte] = {
    require(positions.length == payloads.length,
      s"payloads not parallel to positions: ${payloads.length} vs ${positions.length}")
    val buf = new ArrayBuffer[Byte](positions.length * 2 + 2)
    var prev = 0L
    var k = 0
    while (k < positions.length) {
      val pay = payloads(k)
      val hasPay = !java.lang.Float.isNaN(pay)
      writeVLong(buf,
        ((positions(k) - prev) << 1) | (if (hasPay) 1L else 0L))
      if (hasPay)
        writeVLong(buf, java.lang.Float.floatToIntBits(pay) & 0xffffffffL)
      prev = positions(k); k += 1
    }
    buf.toArray
  }

  /** A pre-shuffle posting: positions already VByte-encoded (compact on
    * the wire, no per-element boxing through the exchange). */
  final case class RawPosting(term: String, docid: Long, tf: Long,
      len: Long, pos_blob: Array[Byte])

  /** Encode a docid-ascending run of one term's raw postings into blocks
    * — doc/len streams built here, pos stream = blob concatenation. */
  def encodeRaw(term: String, postings: Iterator[RawPosting]): Iterator[Block] =
    postings.grouped(BlockSize).map { group =>
      val docsB = new ArrayBuffer[Byte](group.size * 2)
      val lensB = new ArrayBuffer[Byte](group.size)
      var posLen = 0
      group.foreach(p => posLen += p.pos_blob.length)
      val posB = new Array[Byte](posLen)
      var posOff = 0
      var prevDoc = group.head.docid
      var maxTf = 0L
      var minLen = Long.MaxValue
      var sumTf = 0L
      var prev = -1L
      group.foreach { p =>
        require(p.docid > prev || prev == -1L,
          s"postings not ascending for term=$term: ${p.docid} after $prev")
        prev = p.docid
        val gap = p.docid - prevDoc
        prevDoc = p.docid
        if (p.tf == 1L) writeVLong(docsB, (gap << 1) | 1L)
        else { writeVLong(docsB, gap << 1); writeVLong(docsB, p.tf) }
        writeVLong(lensB, p.len)
        System.arraycopy(p.pos_blob, 0, posB, posOff, p.pos_blob.length)
        posOff += p.pos_blob.length
        if (p.tf > maxTf) maxTf = p.tf
        if (p.len < minLen) minLen = p.len
        sumTf += p.tf
      }
      Block(term, group.size, group.head.docid, group.last.docid,
        maxTf, minLen, sumTf, docsB.toArray, lensB.toArray, posB)
    }

  /** Incremental builder of one term's posting RUN (an unbounded Block):
    * the map-side partial inversion unit. A whole input partition's
    * postings for one term become ONE run row through the shuffle —
    * delta+VByte-encoded already — instead of one row per posting
    * (reference analog: the per-thread in-RAM segment that
    * FreqProxTermsWriter flushes, FreqProxTermsWriter.cs:70-157). */
  final class RunBuilder(term: String) {
    private val docsB = new ArrayBuffer[Byte](16)
    private val lensB = new ArrayBuffer[Byte](8)
    private val posB = new ArrayBuffer[Byte](16)
    private var first = -1L
    private var prevDoc = 0L
    private var maxTf = 0L
    private var minLen = Long.MaxValue
    private var sumTf = 0L
    private var count = 0

    def add(docid: Long, tf: Long, len: Long, posBlob: Array[Byte]): Unit = {
      require(docid > prevDoc || first == -1L,
        s"run not ascending for term=$term: $docid after $prevDoc")
      if (first == -1L) first = docid
      val gap = docid - (if (count == 0) first else prevDoc)
      prevDoc = docid
      if (tf == 1L) writeVLong(docsB, (gap << 1) | 1L)
      else { writeVLong(docsB, gap << 1); writeVLong(docsB, tf) }
      writeVLong(lensB, len)
      posB ++= posBlob
      if (tf > maxTf) maxTf = tf
      if (len < minLen) minLen = len
      sumTf += tf
      count += 1
    }

    def build(): Block =
      Block(term, count, first, prevDoc, maxTf, minLen, sumTf,
        docsB.toArray, lensB.toArray, posB.toArray)
  }

  /** A corrupt block: an IllegalArgumentException naming the block's
    * term and first docid, so a bad stored block fails its own query or
    * check as a clean error instead of an allocation the JVM cannot
    * survive. */
  private def corrupt(b: Block, what: String): Nothing =
    throw new IllegalArgumentException(
      s"corrupt posting block term=${b.term} min_docid=${b.minDocid}: $what")

  /** A posting's tf, checked before anything is allocated or looped
    * for it: at most the bytes left in the position stream from `pp`,
    * since every position takes at least one byte. */
  private def checkPositions(b: Block, tf: Long, pp: Int): Unit =
    if (tf < 0 || tf > b.pos.length - pp)
      corrupt(b, s"tf $tf exceeds the ${b.pos.length - pp} bytes left in " +
        "the position stream")

  /** Decode to raw postings (position blobs sliced, never materialized
    * as ints) — the merge path's decode: re-encoding concatenates the
    * slices straight back. */
  def decodeRaw(b: Block): Iterator[RawPosting] = new Iterator[RawPosting] {
    private var i = 0
    private var dp = 0
    private var lp = 0
    private var pp = 0
    private var docid = b.minDocid
    override def hasNext: Boolean = i < b.n
    override def next(): RawPosting = {
      val (code, dp1) = readVLong(b.docs, dp); dp = dp1
      docid += (code >>> 1)
      val tf =
        if ((code & 1L) == 1L) 1L
        else { val (t, dp2) = readVLong(b.docs, dp); dp = dp2; t }
      val (len, lp1) = readVLong(b.lens, lp); lp = lp1
      checkPositions(b, tf, pp)
      val start = pp
      var k = 0L
      while (k < tf) {
        val (code, p1) = readVLong(b.pos, pp); pp = p1
        if ((code & 1L) == 1L) { val (_, p2) = readVLong(b.pos, pp); pp = p2 }
        k += 1
      }
      i += 1
      RawPosting(b.term, docid, tf, len,
        java.util.Arrays.copyOfRange(b.pos, start, pp))
    }
  }

  /** Scoring-only decode: (docid, tf, len) with the position stream
    * never touched — BM25 needs nothing else, so the hot term/boolean
    * scoring path skips the per-posting positions allocation entirely
    * (the reference reads .frq without .prx the same way: TermDocs vs
    * TermPositions, SegmentTermDocs.cs:30 vs SegmentTermPositions.cs:28). */
  def decodeScoring(b: Block): Iterator[(Long, Long, Long)] =
    new Iterator[(Long, Long, Long)] {
      private var i = 0
      private var dp = 0
      private var lp = 0
      private var docid = b.minDocid
      private var tfs = 0L
      override def hasNext: Boolean = i < b.n
      override def next(): (Long, Long, Long) = {
        val (code, dp1) = readVLong(b.docs, dp); dp = dp1
        docid += (code >>> 1)
        val tf =
          if ((code & 1L) == 1L) 1L
          else { val (t, dp2) = readVLong(b.docs, dp); dp = dp2; t }
        // the tfs of a block add up to its sum_tf: no tf may pass what
        // is left of it, and the last one must reach it
        if (tf < 0 || tf > b.sumTf - tfs)
          corrupt(b, s"tf $tf exceeds the ${b.sumTf - tfs} left of sum_tf ${b.sumTf}")
        tfs += tf
        val (len, lp1) = readVLong(b.lens, lp); lp = lp1
        i += 1
        if (i == b.n && tfs != b.sumTf)
          corrupt(b, s"tfs sum to $tfs, not to sum_tf ${b.sumTf}")
        (docid, tf, len)
      }
    }

  /** Decode only (docid, len) pairs — skips position materialization
    * (doc-length derivation from blocks). */
  def decodeDocLens(b: Block): Iterator[(Long, Long)] =
    new Iterator[(Long, Long)] {
      private var i = 0
      private var dp = 0
      private var lp = 0
      private var docid = b.minDocid
      override def hasNext: Boolean = i < b.n
      override def next(): (Long, Long) = {
        val (code, dp1) = readVLong(b.docs, dp); dp = dp1
        docid += (code >>> 1)
        if ((code & 1L) == 0L) { val (_, dp2) = readVLong(b.docs, dp); dp = dp2 }
        val (len, lp1) = readVLong(b.lens, lp); lp = lp1
        i += 1
        (docid, len)
      }
    }

  def decode(b: Block): Iterator[Posting] = new Iterator[Posting] {
    private var i = 0
    private var dp = 0
    private var lp = 0
    private var pp = 0
    private var docid = b.minDocid
    override def hasNext: Boolean = i < b.n
    override def next(): Posting = {
      val (code, dp1) = readVLong(b.docs, dp); dp = dp1
      docid += (code >>> 1)
      val tf =
        if ((code & 1L) == 1L) 1L
        else { val (t, dp2) = readVLong(b.docs, dp); dp = dp2; t }
      val (len, lp1) = readVLong(b.lens, lp); lp = lp1
      checkPositions(b, tf, pp)
      val positions = new Array[Int](tf.toInt)
      var prevPos = 0L
      var k = 0
      while (k < tf) {
        val (code, pp1) = readVLong(b.pos, pp); pp = pp1
        if ((code & 1L) == 1L) { val (_, pp2) = readVLong(b.pos, pp); pp = pp2 }
        prevPos += code >>> 1
        positions(k) = prevPos.toInt
        k += 1
      }
      i += 1
      Posting(docid, tf, len, positions)
    }
  }

  /** A posting with its per-occurrence payloads materialized (1.0f for
    * occurrences that stored none: the reference's
    * DefaultSimilarity.ScorePayload identity scores them neutrally,
    * PayloadFunction.cs:30). */
  final case class PostingPay(docid: Long, tf: Long, len: Long,
      positions: Array[Int], payloads: Array[Float])

  /** Payload-materializing decode — the TermPositions.GetPayload path
    * (/root/reference/src/core/Index/SegmentTermPositions.cs:141-176).
    * Only payload queries pay for the float arrays; every other decode
    * skips payload bytes in-stream. */
  def decodePay(b: Block): Iterator[PostingPay] = new Iterator[PostingPay] {
    private var i = 0
    private var dp = 0
    private var lp = 0
    private var pp = 0
    private var docid = b.minDocid
    override def hasNext: Boolean = i < b.n
    override def next(): PostingPay = {
      val (code, dp1) = readVLong(b.docs, dp); dp = dp1
      docid += (code >>> 1)
      val tf =
        if ((code & 1L) == 1L) 1L
        else { val (t, dp2) = readVLong(b.docs, dp); dp = dp2; t }
      val (len, lp1) = readVLong(b.lens, lp); lp = lp1
      checkPositions(b, tf, pp)
      val positions = new Array[Int](tf.toInt)
      val payloads = new Array[Float](tf.toInt)
      var prevPos = 0L
      var k = 0
      while (k < tf) {
        val (c, pp1) = readVLong(b.pos, pp); pp = pp1
        prevPos += c >>> 1
        positions(k) = prevPos.toInt
        payloads(k) =
          if ((c & 1L) == 1L) {
            val (bits, pp2) = readVLong(b.pos, pp); pp = pp2
            java.lang.Float.intBitsToFloat(bits.toInt)
          } else 1.0f
        k += 1
      }
      i += 1
      PostingPay(docid, tf, len, positions, payloads)
    }
  }
}
