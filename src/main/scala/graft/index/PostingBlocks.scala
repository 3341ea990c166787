package graft.index

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Block row as persisted (one term's ≤128 postings, compressed).
  * Skip/WAND stats travel as plain columns so pruning predicates stay in
  * whole-stage codegen and reach Parquet row-group stats. */
final case class BlockRow(
    term: String,
    n: Int,
    min_docid: Long,
    max_docid: Long,
    max_tf: Long,
    min_len: Long,
    sum_tf: Long,
    docs: Array[Byte],
    lens: Array[Byte],
    pos: Array[Byte])

/** Decoded posting row (the logical postings view the query layer sees). */
final case class PostingRow(
    term: String,
    docid: Long,
    tf: Long,
    len: Long,
    positions: Seq[Int])

/** Posting row with per-occurrence payloads (parallel to positions;
  * 1.0f where the occurrence stored none) — only payload queries
  * materialize this shape. */
final case class PayPostingRow(
    term: String,
    docid: Long,
    tf: Long,
    len: Long,
    positions: Seq[Int],
    payloads: Seq[Float])

/** Posting blocks: the at-rest representation of the inverted lists.
  *
  * Build: range-shuffle on (term, docid) — a hot term's postings span
  * MULTIPLE partitions split by docid range (the north rule's explicit
  * skew handling: no single reducer ever owns a whole hot term), then
  * per-partition streaming chunking into ≤128-posting compressed blocks.
  * Blocks at a partition boundary may be short; correctness never
  * depends on exact block fill.
  *
  * Reference analog: FreqProxTermsWriter flush + FormatPostings* encode
  * (/root/reference/src/core/Index/FreqProxTermsWriter.cs:70-157).
  */
object PostingBlocks {

  /** THE build path: docs → per-partition partial inversion into
    * compressed per-term posting RUNS (one shuffle row per term per
    * input partition, delta+VByte from the start — the reference's
    * per-thread in-RAM segments, TermsHashPerField/FreqProxTermsWriter)
    * → range shuffle on (term, run start) → stitch docid-ordered runs
    * into ≤128-posting blocks (AppendPostings,
    * /root/reference/src/core/Index/SegmentMerger.cs:800-847: runs from
    * distinct docid-contiguous input partitions never overlap, so the
    * merge is concatenation with one gap re-link).
    *
    * Each doc is tokenized by `kind` and grouped by term in token order,
    * so positions ascend within a posting. The doc's token count `len`
    * rides with every posting (the norms analog: query-time scoring
    * needs no per-doc join). With `assigner` set, each occurrence's
    * payload rides in the position blob via the codec's payload bit
    * (NaN = none) — the blob then flows VERBATIM through the range
    * shuffle, stitching, and segment parquet, so every index keeps
    * payloads for free (FreqProxTermsWriter.cs:70-157 threads payloads
    * the same way); without one, no payload array is allocated.
    *
    * Scale properties: shuffle volume ≈ compressed index size (not
    * ~40 bytes × postings); hot terms still split across reducers by the
    * run-start component of the range key; map memory is one partition's
    * compact blobs. Input partitions MUST be docid-contiguous and
    * docid-sorted (DocIds.assign output is). */
  def buildFromDocs(docs: DataFrame, numPartitions: Int,
      assigner: Option[graft.analysis.Payloads.Assigner] = None,
      kind: graft.analysis.Analyzers.Kind = graft.analysis.Analyzers.Standard)
      : Dataset[BlockRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val runs: Dataset[BlockRow] = docs.select(col("docid"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val builders = new java.util.LinkedHashMap[String, Codec.RunBuilder]
        it.foreach { case (docid, text) =>
          val toks = graft.analysis.Analyzers.tokenize(kind, text)
          val len = toks.size.toLong
          val m = scala.collection.mutable.LinkedHashMap
            .empty[String, scala.collection.mutable.ArrayBuffer[Int]]
          toks.foreach { t =>
            m.getOrElseUpdate(t.term,
              new scala.collection.mutable.ArrayBuffer[Int](4)) += t.pos
          }
          m.foreach { case (t, ps) =>
            var b = builders.get(t)
            if (b == null) { b = new Codec.RunBuilder(t); builders.put(t, b) }
            val pos = ps.toArray
            b.add(docid, pos.length.toLong, len, assigner match {
              case None => Codec.encodePositions(pos)
              case Some(a) => Codec.encodePosPay(pos, pos.map(a(t, _)))
            })
          }
        }
        import scala.jdk.CollectionConverters._
        builders.values.iterator.asScala.map { rb =>
          val b = rb.build()
          BlockRow(b.term, b.n, b.minDocid, b.maxDocid, b.maxTf,
            b.minLen, b.sumTf, b.docs, b.lens, b.pos)
        }
      }
    runs
      .repartitionByRange(numPartitions, col("term"), col("min_docid"))
      .sortWithinPartitions(col("term"), col("min_docid"))
      .mapPartitions { it =>
        val in = it.buffered
        new Iterator[BlockRow] {
          private var cur: Iterator[Codec.Block] = Iterator.empty
          override def hasNext: Boolean = cur.hasNext || in.hasNext
          override def next(): BlockRow = {
            if (!cur.hasNext) {
              // gather all consecutive runs of the next term, verify the
              // docid ranges are disjoint+ascending, stitch + re-chunk
              val term = in.head.term
              val termRuns = new scala.collection.mutable.ArrayBuffer[BlockRow]
              while (in.hasNext && in.head.term == term) termRuns += in.next()
              var prevMax = -1L
              termRuns.foreach { r =>
                require(r.min_docid > prevMax,
                  s"overlapping runs for term=$term: ${r.min_docid} <= $prevMax")
                prevMax = r.max_docid
              }
              val raw = termRuns.iterator.flatMap { r =>
                Codec.decodeRaw(Codec.Block(r.term, r.n, r.min_docid,
                  r.max_docid, r.max_tf, r.min_len, r.sum_tf, r.docs,
                  r.lens, r.pos))
              }
              cur = raw.grouped(Codec.BlockSize)
                .map(g => Codec.encodeRaw(term, g.iterator).next())
            }
            val b = cur.next()
            BlockRow(b.term, b.n, b.minDocid, b.maxDocid, b.maxTf,
              b.minLen, b.sumTf, b.docs, b.lens, b.pos)
          }
        }
      }
  }

  /** Raw postings → block table (the merge path): positions are already
    * VByte blobs, so the exchange moves compact binary instead of boxed
    * int arrays, and block encode concatenates blobs without re-coding. */
  def fromRaw(raw: Dataset[Codec.RawPosting],
      numPartitions: Int): Dataset[BlockRow] = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw
      .repartitionByRange(numPartitions, col("term"), col("docid"))
      .sortWithinPartitions(col("term"), col("docid"))
      .mapPartitions { it =>
        val in = it.buffered
        new Iterator[BlockRow] {
          override def hasNext: Boolean = in.hasNext
          override def next(): BlockRow = {
            val term = in.head.term
            val chunk = new scala.collection.mutable.ArrayBuffer[Codec.RawPosting](
              Codec.BlockSize)
            while (in.hasNext && in.head.term == term &&
                chunk.size < Codec.BlockSize)
              chunk += in.next()
            val b = Codec.encodeRaw(term, chunk.iterator).next()
            BlockRow(b.term, b.n, b.minDocid, b.maxDocid, b.maxTf,
              b.minLen, b.sumTf, b.docs, b.lens, b.pos)
          }
        }
      }
  }

  /** Decode a block table back to the logical postings view. */
  def toPostings(blocks: DataFrame): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.as[BlockRow].flatMap { r =>
      Codec.decode(Codec.Block(r.term, r.n, r.min_docid, r.max_docid,
        r.max_tf, r.min_len, r.sum_tf, r.docs, r.lens, r.pos))
        .map(p => PostingRow(r.term, p.docid, p.tf, p.len,
          p.positions.toSeq))
    }.toDF()
  }

  /** Scoring-only decode: (term, docid, tf, len), the position stream
    * untouched (TermDocs-vs-TermPositions split). The BM25 scoring paths
    * read THIS view — no per-posting positions array is ever allocated
    * for queries that don't inspect positions. */
  def toScoring(blocks: DataFrame): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.as[BlockRow].flatMap { r =>
      Codec.decodeScoring(Codec.Block(r.term, r.n, r.min_docid,
        r.max_docid, r.max_tf, r.min_len, r.sum_tf, r.docs, r.lens, r.pos))
        .map { case (docid, tf, len) => (r.term, docid, tf, len) }
    }.toDF("term", "docid", "tf", "len")
  }

  /** Payload-materializing decode of a block table — the query path for
    * payload queries only (everything else uses [[toPostings]], which
    * skips payload bytes in-stream). */
  def toPostingsPay(blocks: DataFrame): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.as[BlockRow].flatMap { r =>
      Codec.decodePay(Codec.Block(r.term, r.n, r.min_docid, r.max_docid,
        r.max_tf, r.min_len, r.sum_tf, r.docs, r.lens, r.pos))
        .map(p => PayPostingRow(r.term, p.docid, p.tf, p.len,
          p.positions.toSeq, p.payloads.toSeq))
    }.toDF()
  }

  /** Block table → raw postings (blob positions, no int materialization)
    * — feed straight back into [[fromRaw]] for merges. */
  def toRaw(blocks: DataFrame): Dataset[Codec.RawPosting] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.as[BlockRow].flatMap { r =>
      Codec.decodeRaw(Codec.Block(r.term, r.n, r.min_docid, r.max_docid,
        r.max_tf, r.min_len, r.sum_tf, r.docs, r.lens, r.pos))
    }
  }

  /** Term dictionary (term, df, cf) straight from block stats — no
    * decode: df = Σ n, cf = Σ sum_tf (TermInfosWriter analog derived at
    * read time, .tis per-term df). */
  def dictFromBlocks(blocks: DataFrame): DataFrame =
    blocks.groupBy("term")
      .agg(sum(col("n")).cast("long").as("df"),
        sum(col("sum_tf")).as("cf"))

  /** Per-doc exact lengths from the blocks (lens-only decode, positions
    * untouched), padded with the zero-length docs (all-stopword turns)
    * from the docs table. */
  def docLensFromBlocks(blocks: DataFrame, docs: DataFrame): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    val pairs = blocks.as[BlockRow].flatMap { r =>
      Codec.decodeDocLens(Codec.Block(r.term, r.n, r.min_docid,
        r.max_docid, r.max_tf, r.min_len, r.sum_tf, r.docs, r.lens, r.pos))
    }.toDF("docid", "len")
    docs.select(col("docid"))
      .join(pairs.groupBy(col("docid")).agg(max(col("len")).as("len")),
        Seq("docid"), "left")
      .select(col("docid"), coalesce(col("len"), lit(0L)).as("len"))
  }
}
