package graft.index

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
  * Blocks ([[BlockRow]]) hold up to [[BlockSize]] postings of one term
  * and carry skip/WAND stats: (min_docid, max_docid, max_tf, min_len).
  * max_tf and min_len upper-bound the BM25 contribution of every posting
  * in the block (tfNorm is monotone increasing in tf, decreasing in len)
  * — the block-max WAND bound (Ding & Suel SIGIR'11), replacing the
  * reference's multi-level skip lists
  * (/root/reference/src/core/Index/MultiLevelSkipListWriter.cs:28-65).
  *
  * Each stream is written in one place and read in one place, as the
  * reference writes .frq in FormatPostingsDocsWriter and reads it in
  * SegmentTermDocs, which SegmentTermPositions extends with .prx:
  * [[RunBuilder]] is the one writer of the docs/lens/pos streams
  * ([[encodeRaw]] chunks a run into blocks with it; [[encodePosPay]]
  * writes the pos fragment of one posting it adds), and a private
  * cursor is the one reader, which every decoder views. The cursor holds
  * every check on stored bytes: a stream read past its end, a tf above
  * the position bytes left or above what is left of sum_tf, and tfs that
  * do not add up to sum_tf each fail as an IllegalArgumentException that
  * names the block.
  */
object Codec {

  /** Postings per block. 128 = the reference's term-index interval
    * (TermInfosWriter.cs:63); a pragmatic VByte block size. */
  val BlockSize = 128

  /** A growable byte array: each stream the codec writes. */
  final class Bytes(initial: Int = 16) {
    private var buf = new Array[Byte](initial)
    private var n = 0

    private def room(k: Int): Unit =
      if (n + k > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + k))

    def +=(b: Byte): Unit = { room(1); buf(n) = b; n += 1 }

    def ++=(bs: Array[Byte]): Unit = {
      room(bs.length)
      System.arraycopy(bs, 0, buf, n, bs.length)
      n += bs.length
    }

    def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, n)
  }

  // ---- VLong primitive ----

  def writeVLong(buf: Bytes, v0: Long): Unit = {
    require(v0 >= 0, s"VLong must be non-negative: $v0")
    var v = v0
    while ((v & ~0x7fL) != 0L) {
      buf += ((v & 0x7f) | 0x80).toByte
      v >>>= 7
    }
    buf += v.toByte
  }

  // ---- one posting within a block ----

  final case class Posting(docid: Long, tf: Long, len: Long,
      positions: Array[Int])

  /** VByte-encode one posting's positions (deltas, prev starts at 0) —
    * the per-posting pos stream fragment; block encoding concatenates
    * these verbatim. Payload bit cleared on every occurrence. */
  def encodePositions(positions: Array[Int]): Array[Byte] =
    encodePosPay(positions, null)

  /** Positions + per-occurrence payloads (Float.NaN = this occurrence
    * carries none → payload bit 0, nothing stored). `payloads` is
    * parallel to `positions`, or null for none at all. */
  def encodePosPay(positions: Array[Int], payloads: Array[Float]): Array[Byte] = {
    require(payloads == null || positions.length == payloads.length,
      s"payloads not parallel to positions: ${payloads.length} vs ${positions.length}")
    val buf = new Bytes(positions.length * (if (payloads == null) 1 else 2) + 2)
    var prev = 0L
    var k = 0
    while (k < positions.length) {
      val pay = if (payloads == null) Float.NaN else payloads(k)
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
    * of at most [[BlockSize]] postings, one [[RunBuilder]] each. */
  def encodeRaw(term: String, postings: Iterator[RawPosting]): Iterator[BlockRow] =
    new Iterator[BlockRow] {
      override def hasNext: Boolean = postings.hasNext
      override def next(): BlockRow = {
        val run = new RunBuilder(term)
        while (run.size < BlockSize && postings.hasNext) {
          val p = postings.next()
          run.add(p.docid, p.tf, p.len, p.pos_blob)
        }
        run.build()
      }
    }

  /** The one writer of a block's streams. It builds one term's posting
    * RUN, an unbounded block: the map-side partial inversion unit, where
    * a whole input partition's postings for one term become ONE run row
    * through the shuffle — delta+VByte-encoded already — instead of one
    * row per posting (reference analog: the per-thread in-RAM segment
    * that FreqProxTermsWriter flushes, FreqProxTermsWriter.cs:70-157).
    * [[encodeRaw]] bounds it to a block. */
  final class RunBuilder(term: String) {
    private val docsB = new Bytes(16)
    private val lensB = new Bytes(8)
    private val posB = new Bytes(16)
    private var first = -1L
    private var prevDoc = 0L
    private var maxTf = 0L
    private var minLen = Long.MaxValue
    private var sumTf = 0L
    private var count = 0

    /** Postings added so far. */
    def size: Int = count

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

    def build(): BlockRow =
      BlockRow(term, count, first, prevDoc, maxTf, minLen, sumTf,
        docsB.toArray, lensB.toArray, posB.toArray)
  }

  /** A corrupt block: an IllegalArgumentException naming the block's
    * term and first docid, so a bad stored block fails its own query or
    * check as a clean error instead of an allocation the JVM cannot
    * survive. `what` is built only on failure, so the cursor's
    * per-posting methods stay small enough to inline. */
  private def corrupt(b: BlockRow, what: => String): Nothing =
    throw new IllegalArgumentException(
      s"corrupt posting block term=${b.term} min_docid=${b.min_docid}: $what")

  /** The one reader of a block's streams: a cursor over its postings,
    * and an iterator whose `next` is a decoder's view of each posting.
    * [[advance]] reads the next posting's docid, tf and len; a view that
    * reads positions says so, and then reads exactly tf occurrences with
    * [[position]]; one that does not never touches the position stream
    * (the reference reads .frq without .prx the same way: TermDocs vs
    * TermPositions, SegmentTermDocs.cs:30 vs SegmentTermPositions.cs:28). */
  private abstract class Cursor[T](b: BlockRow) extends Iterator[T] {
    private var i = 0
    private var dp = 0
    private var lp = 0
    /** The read offset in the position stream. */
    protected var pp = 0
    /** Where the last [[vlong]] ended. */
    private var at = 0
    private var tfs = 0L
    private var prevPos = 0L
    protected var docid: Long = b.min_docid
    protected var tf = 0L
    protected var len = 0L
    /** The payload of the occurrence [[position]] read last; 1.0f when
      * it stored none. */
    protected var payload = 1.0f

    final override def hasNext: Boolean = i < b.n

    private def vlong(s: Array[Byte], p0: Int, stream: String): Long = {
      var p = p0
      var v = 0L
      var shift = 0
      var c = 0
      // s(p)'s own bounds check finds a stream cut short (a compare per
      // byte made the decoders 10-25% slower in a microbenchmark)
      try {
        do {
          c = s(p); p += 1
          v |= (c & 0x7fL) << shift
          shift += 7
        } while ((c & 0x80) != 0)
      } catch {
        case _: ArrayIndexOutOfBoundsException =>
          corrupt(b, s"the $stream stream ends inside posting $i, at " +
            s"byte ${s.length}")
      }
      at = p
      v
    }

    protected final def advance(positions: Boolean): Unit = {
      val code = vlong(b.docs, dp, "docs"); dp = at
      docid += code >>> 1
      tf =
        if ((code & 1L) == 1L) 1L
        else { val t = vlong(b.docs, dp, "docs"); dp = at; t }
      // the tfs of a block add up to its sum_tf: no tf may pass what is
      // left of it, and the last one must reach it
      if (tf < 0 || tf > b.sum_tf - tfs)
        corrupt(b,
          s"tf $tf exceeds the ${b.sum_tf - tfs} left of sum_tf ${b.sum_tf}")
      // checked before anything is allocated or looped for it: every
      // position takes at least one byte
      if (positions && tf > b.pos.length - pp)
        corrupt(b, s"tf $tf exceeds the ${b.pos.length - pp} bytes left in " +
          "the position stream")
      tfs += tf
      len = vlong(b.lens, lp, "lens"); lp = at
      i += 1
      if (i == b.n && tfs != b.sum_tf)
        corrupt(b, s"tfs sum to $tfs, not to sum_tf ${b.sum_tf}")
      prevPos = 0L
    }

    /** The current posting's next position; its payload goes to
      * [[payload]]. */
    protected final def position(): Int = {
      val c = vlong(b.pos, pp, "pos"); pp = at
      prevPos += c >>> 1
      payload =
        if ((c & 1L) == 1L) {
          val bits = vlong(b.pos, pp, "pos"); pp = at
          java.lang.Float.intBitsToFloat(bits.toInt)
        } else 1.0f
      prevPos.toInt
    }
  }

  /** Decode to raw postings (position blobs sliced, never materialized
    * as ints) — the merge path's decode: re-encoding concatenates the
    * slices straight back. */
  def decodeRaw(b: BlockRow): Iterator[RawPosting] =
    new Cursor[RawPosting](b) {
      override def next(): RawPosting = {
        advance(positions = true)
        val start = pp
        var k = 0L
        while (k < tf) { position(); k += 1 }
        RawPosting(b.term, docid, tf, len,
          java.util.Arrays.copyOfRange(b.pos, start, pp))
      }
    }

  /** Scoring-only decode: (docid, tf, len) with the position stream
    * never touched — BM25 needs nothing else, so the hot term/boolean
    * scoring path skips the per-posting positions allocation entirely. */
  def decodeScoring(b: BlockRow): Iterator[(Long, Long, Long)] =
    new Cursor[(Long, Long, Long)](b) {
      override def next(): (Long, Long, Long) = {
        advance(positions = false); (docid, tf, len)
      }
    }

  /** Decode only (docid, len) pairs — skips position materialization
    * (doc-length derivation from blocks). */
  def decodeDocLens(b: BlockRow): Iterator[(Long, Long)] =
    new Cursor[(Long, Long)](b) {
      override def next(): (Long, Long) = {
        advance(positions = false); (docid, len)
      }
    }

  /** Decode with positions; payload bytes are skipped in-stream. */
  def decode(b: BlockRow): Iterator[Posting] =
    new Cursor[Posting](b) {
      override def next(): Posting = {
        advance(positions = true)
        val ps = new Array[Int](tf.toInt)
        var k = 0
        while (k < ps.length) { ps(k) = position(); k += 1 }
        Posting(docid, tf, len, ps)
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
  def decodePay(b: BlockRow): Iterator[PostingPay] =
    new Cursor[PostingPay](b) {
      override def next(): PostingPay = {
        advance(positions = true)
        val ps = new Array[Int](tf.toInt)
        val pays = new Array[Float](tf.toInt)
        var k = 0
        while (k < ps.length) {
          ps(k) = position(); pays(k) = payload; k += 1
        }
        PostingPay(docid, tf, len, ps, pays)
      }
    }
}
