package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Logical (table-agnostic) inverted index.
  *
  * One table per concern, mirroring the reference's per-segment files
  * (/root/reference/src/core/Index/IndexFileNames.cs:29-97) as columnar
  * DataFrames:
  *  - docs       — forward/stored fields (.fdt/.fdx analog), live docs
  *                 only ([[storedDocs]] minus the delete set)
  *  - blockTable — the posting lists (.frq/.prx analog): delta+VByte
  *                 blocks of ≤128 postings per term with skip/WAND
  *                 stats. The ONLY posting form: an in-memory build
  *                 caches it, a SegmentStore reads it from parquet — the
  *                 reference's RAMDirectory holds the same segment files
  *                 as FSDirectory, only the Directory differs.
  *  - termDict   — (term, df, cf), one row per term (.tis/.tii analog):
  *                 the whole-dictionary view for suggest, trigrams and
  *                 CheckIndex. Query-time df lookups read the resident
  *                 [[dictionary]] instead (Searcher.dfOf).
  *  - docLens    — exact per-doc token counts (exact-int replacement for
  *                 the lossy norm byte, Similarity.cs:398-413 — BM25
  *                 wants exact lengths)
  * The logical (term, docid, tf, len, positions) view, [[postings]], is
  * one decode of the block table.
  *
  * One value is one commit point: its [[dictionary]] and delete set are
  * read once, on first use, and held on the driver (the reference keeps
  * the term index and the deleted-docs BitVector in RAM per open
  * reader, TermInfosReader.cs / BitVector.cs), so every Searcher,
  * Highlight and Wand over it shares them. A reopen after a write is a
  * new value and reads them afresh.
  */
final case class InvertedIndex(
    storedDocs: DataFrame,
    blockTable: DataFrame,
    termDict: DataFrame,
    docLens: DataFrame,
    numDocs: Long,
    avgdl: Double,
    deleted: Option[DataFrame] = None,
    /** Optional persisted (gram, term, df) dictionary trigram index
      * ([[Trigrams]]) — bounds fuzzy/suggest candidate scans. */
    trigrams: Option[DataFrame] = None,
    /** Per-segment (term, df, cf) rows NOT aggregated across segments
      * (a segmented store's union of its segment dict tables), so a
      * term appears once per segment that holds it; None when
      * `termDict` already has one row per term. */
    segmentDicts: Option[DataFrame] = None,
    /** Rows above which the dictionary or the delete set is not held on
      * the driver: [[InvertedIndex.ResidentRows]]; a spec lowers it to
      * run the scan and anti-join fallbacks on a small corpus. */
    private[graft] val residentRows: Int = InvertedIndex.ResidentRows) {

  /** [[blockTable]] as an Option; kept only for the benchmark program
    * (perfbench), which reads `blocks.get`. */
  def blocks: Option[DataFrame] = Some(blockTable)

  /** Dictionary rows for df lookups: a single-stage scan with no
    * aggregate or shuffle, so an `In` filter on it pushes down to every
    * segment's dict table; callers sum df per term on the driver
    * (TermInfosReader.Get over each segment's .tis,
    * TermInfosReader.cs:178-224). The fallback of a dictionary too large
    * to hold ([[dictionary]] is None). */
  def dictRows: DataFrame = segmentDicts.getOrElse(termDict)

  /** The term dictionary held on the driver: every term with its df
    * summed over segments, sorted. None when it has more than
    * [[residentRows]] per-segment rows; callers then scan [[dictRows]]. */
  lazy val dictionary: Option[InvertedIndex.Dictionary] =
    resident.head.map(InvertedIndex.Dictionary(_))

  /** The live delete set held on the driver, sorted: Some(empty) when
    * nothing is deleted, None when the set has more than
    * [[residentRows]] rows (then [[live]] anti-joins [[deleted]]). */
  lazy val deletedIds: Option[Array[Long]] =
    if (deleted.isEmpty) Some(Array.emptyLongArray)
    else resident(1).map(_.map(_._2).distinct.sorted)

  /** The (term, df) dictionary rows and the (null, docid) delete rows,
    * read together on first use of either. */
  private lazy val resident = InvertedIndex.collectBounded(
    dictRows.select(col("term"), col("df")) +:
      deleted.toSeq.map(_.select(lit(null).cast("string"), col("docid"))),
    residentRows)

  /** Drop the rows of deleted docs (deleted docs are skipped at
    * iteration, stats stay stale until merge — SegmentTermDocs.Next /
    * BufferedDeletes semantics): a lookup in the resident delete set,
    * captured in the task closure, or an anti-join when the set is too
    * large to hold. */
  private[graft] def live(df: DataFrame): DataFrame = deletedIds match {
    case Some(ids) if ids.isEmpty => df
    case Some(_) => df.filter(notDeleted)
    case None => withoutDeleted(df)
  }

  /** `df` anti-joined with the delete set: the fallback of [[live]], and
    * the write paths' view, which need no resident read. */
  private[index] def withoutDeleted(df: DataFrame): DataFrame =
    deleted.fold(df)(df.join(_, Seq("docid"), "left_anti"))

  private lazy val notDeleted: Column =
    InvertedIndex.notIn(deletedIds.get)

  /** Live stored documents. */
  lazy val docs: DataFrame = live(storedDocs)

  /** The logical postings view: (term, docid, tf, len, positions) for
    * every live posting — TermVectors, CheckIndex and the gate dumps read
    * it; queries use the term-restricted accessors below. */
  def postings: DataFrame = live(PostingBlocks.toPostings(blockTable))

  /** Postings restricted to a fixed term set. The term predicate is
    * applied to the BLOCK table (a plain Parquet filter → pushdown +
    * row-group pruning) and only surviving blocks are decoded — the
    * decode flatMap is a pushdown barrier, so filtering after decode
    * would read every block (TermInfosReader seek analog,
    * /root/reference/src/core/Index/TermInfosReader.cs:178-196). */
  def postingsFor(terms: Seq[String]): DataFrame =
    live(PostingBlocks.toPostings(blocksOf(terms)))

  private def blocksOf(terms: Seq[String]): DataFrame =
    blockTable.filter(col("term").isin(terms: _*))

  /** Scoring-only postings for a fixed term set: (term, docid, tf, len),
    * positions never decoded (TermDocs semantics — SegmentTermDocs.cs:30
    * reads .frq without .prx). The BM25 paths use this. */
  def postingsForScoring(terms: Seq[String]): DataFrame =
    live(PostingBlocks.toScoring(blocksOf(terms)))

  /** Scoring-only postings for a computed (small) term-set DataFrame —
    * broadcast semi-joined against the block table before decode. */
  def postingsForTermSetScoring(terms: DataFrame): DataFrame =
    live(PostingBlocks.toScoring(blockTable.join(broadcast(terms), Seq("term"))))

  /** Scoring-only postings for every term matching a dictionary
    * predicate (constant-score multi-term rewrites, MultiTermQuery.cs:84).
    * The predicate is a pure function of `term`, so it applies to the
    * block table directly — a pushed-down scan filter instead of a
    * dictionary scan broadcast into the blocks. */
  def postingsWhereTermScoring(dictPred: Column): DataFrame =
    live(PostingBlocks.toScoring(blockTable.filter(dictPred)))

  /** Payload-materializing variant of [[postingsFor]] — adds the
    * `payloads` column (parallel to positions), decoded from the
    * position stream's payload bit; an occurrence that stored none
    * reads as 1.0f, so an index built without an assigner scores every
    * payload neutrally. */
  def postingsForPay(terms: Seq[String]): DataFrame =
    live(PostingBlocks.toPostingsPay(blocksOf(terms)))
}

object InvertedIndex {

  /** Rows above which the per-segment dictionary (about 100 MB of terms
    * and dfs) or the delete set (8 MB of docids in every task closure) is
    * not held on the driver. */
  val ResidentRows: Int = 1 << 20

  /** A term dictionary on the driver: distinct terms in Spark's string
    * order ([[Utf8Order]]), each with its df summed over segments, so a
    * prefix and a term range are each one contiguous slice. */
  final class Dictionary private (terms: Array[String], dfs: Array[Long]) {
    private def search(t: String): Int =
      java.util.Arrays.binarySearch(terms, t, Utf8Order)

    def df(t: String): Option[Long] = {
      val i = search(t)
      if (i >= 0) Some(dfs(i)) else None
    }

    /** Every (term, df) whose term starts with `prefix`, in term order. */
    def withPrefix(prefix: String): Iterator[(String, Long)] =
      from(prefix, inclusive = true).takeWhile(_._1.startsWith(prefix))

    /** Every (term, df) between the bounds, in term order, comparing as
      * Spark compares a term column with a string literal: a bound is
      * first converted to UTF-8 as Spark converts it. */
    def range(lo: Option[String], hi: Option[String], incLo: Boolean,
        incHi: Boolean): Iterator[(String, Long)] = {
      def utf8(v: String) = UTF8String.fromString(v).toString
      val top = hi.map(utf8)
      lo.fold(from("", inclusive = true))(v => from(utf8(v), incLo))
        .takeWhile { case (t, _) => top.forall { v =>
          val c = Utf8Order.compare(t, v)
          c < 0 || incHi && c == 0
        } }
    }

    /** The terms from `t` on (past it unless `inclusive`). */
    private def from(t: String, inclusive: Boolean): Iterator[(String, Long)] = {
      val i = search(t)
      Iterator.range(if (i < 0) -i - 1 else if (inclusive) i else i + 1,
        terms.length).map(j => (terms(j), dfs(j)))
    }
  }

  object Dictionary {
    def apply(rows: Array[(String, Long)]): Dictionary = {
      val summed = rows.groupMapReduce(_._1)(_._2)(_ + _)
      val terms = summed.keys.toArray
      java.util.Arrays.sort(terms, Utf8Order)
      new Dictionary(terms, terms.map(summed))
    }
  }

  /** Spark's string order, UTF-8 bytes — code point order — over Java
    * strings. `String.compareTo` orders UTF-16 units instead, which
    * differs only where a surrogate meets a unit in U+E000–U+FFFF: code
    * point order puts the surrogate (a supplementary character) last. */
  val Utf8Order: Ordering[String] = new Ordering[String] {
    private def unit(c: Char): Int =
      if (c < 0xd800) c else if (c < 0xe000) c + 0x2000 else c - 0x800
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      if (i < n) unit(a.charAt(i)) - unit(b.charAt(i))
      else a.length - b.length
    }
  }

  /** Each frame's (string, long) rows on the driver, or None for a
    * frame with more than `cap` rows. One job reads every frame: a task
    * ships at most its share of `cap` (cap / the frame's partitions) and
    * counts the rest, stopping once it alone has passed `cap`, so the
    * driver receives at most about `cap` rows per frame. A frame that
    * fits but had a partition above its share re-reads just those
    * partitions in a second job. */
  private[index] def collectBounded(frames: Seq[DataFrame], cap: Int)
      : Seq[Option[Array[(String, Long)]]] = {
    val rdds = frames.map(_.rdd.map(r => (r.getString(0), r.getLong(1))))
    val all = rdds.head.sparkContext.union(rdds)
    // UnionRDD lays out each frame's partitions in turn
    val owner =
      rdds.indices.flatMap(i => Seq.fill(rdds(i).getNumPartitions)(i))
    val share = owner.map(i => cap / rdds(i).getNumPartitions).toArray
    def read(parts: Seq[Int], keep: Array[Int]) =
      all.sparkContext.runJob(all,
        (ctx: TaskContext, it: Iterator[(String, Long)]) => {
          val k = keep(ctx.partitionId)
          val rows =
            scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
          var n = 0L
          while (n <= cap && it.hasNext) {
            val r = it.next()
            n += 1
            if (n <= k) rows += r
          }
          (rows.toArray, n)
        }, parts)
    val first = read(owner.indices, share)
    val fits = rdds.indices.map(i =>
      owner.indices.filter(owner(_) == i).map(first(_)._2).sum <= cap)
    val over = owner.indices
      .filter(p => fits(owner(p)) && first(p)._2 > share(p))
    // no job for an empty partition list: Spark would still post one
    val again: Map[Int, (Array[(String, Long)], Long)] =
      if (over.isEmpty) Map.empty
      else over.zip(read(over, Array.fill(owner.size)(cap))).toMap
    rdds.indices.map(i => Option.when(fits(i))(owner.indices
      .filter(owner(_) == i).flatMap(p => again.getOrElse(p, first(p))._1)
      .toArray))
  }

  /** docid is not in the sorted set `ids`: a binary search in the task
    * closure. */
  private def notIn(ids: Array[Long]): Column =
    udf(new UDF1[java.lang.Long, java.lang.Boolean] {
      def call(d: java.lang.Long): java.lang.Boolean =
        java.util.Arrays.binarySearch(ids, d.longValue) < 0
    }, BooleanType).apply(col("docid"))

  /** An index over a block table — the one derivation shared by the
    * in-memory build and [[SegmentStore]]: doc lengths are a lens-only
    * decode of the blocks padded with the zero-length docs of `docs`,
    * avgdl = sumLen / numDocs, and [[InvertedIndex.docs]] drops the
    * live delete set (stats stay un-discounted, the reference's
    * behavior). */
  def ofBlocks(docs: DataFrame, blocks: DataFrame, termDict: DataFrame,
      numDocs: Long, sumLen: Long, deleted: Option[DataFrame] = None,
      segmentDicts: Option[DataFrame] = None): InvertedIndex =
    InvertedIndex(docs, blocks, termDict,
      PostingBlocks.docLensFromBlocks(blocks, docs),
      numDocs, sumLen.toDouble / numDocs, deleted,
      segmentDicts = segmentDicts)
}

object IndexBuilder {

  /** In-memory build (tests / small interactive sessions): the same
    * tokenize → invert → encode pass [[buildSegments]] writes, kept as a
    * cached block table instead of parquet (RAMDirectory analog). `kind`
    * selects the analyzer chain for the whole index (the
    * IndexWriter-takes-Analyzer contract, IndexWriter.cs:334); with
    * `assigner` set every occurrence carries its payload in the position
    * stream, for the payload queries. */
  def build(transcripts: DataFrame, numPartitions: Int = 32,
      kind: graft.analysis.Analyzers.Kind = graft.analysis.Analyzers.Standard,
      assigner: Option[graft.analysis.Payloads.Assigner] = None)
      : InvertedIndex = {
    val assigned = DocIds.assign(transcripts,
      Seq(col("conv_id"), col("turn_idx")), numPartitions)
    val docs = assigned.docs.cache()
    val blocks = PostingBlocks.buildFromDocs(docs, numPartitions, assigner,
      kind).toDF().cache()
    val termDict = PostingBlocks.dictFromBlocks(blocks).cache()

    // count() materializes the docs cache (MEMORY_AND_DISK — eviction
    // spills, never recomputes), so the inner range-shuffled base can go
    val n = docs.count()
    assigned.release()
    require(n > 0, "empty input: refusing to build an index with no docs" +
      " (avgdl would be NaN and BM25 scores would silently propagate it)")
    // sumLen = Σ tf over postings ≡ Σ len over docs (integer arithmetic —
    // exactly reproducible across engines)
    val sumLen = blocks.agg(coalesce(sum(col("sum_tf")), lit(0L)))
      .collect()(0).getLong(0)
    val idx = InvertedIndex.ofBlocks(docs, blocks, termDict, n, sumLen)
    idx.docLens.cache()
    idx
  }

  /** Segmented, resumable build into a SegmentStore.
    *
    * docids are assigned ONCE over the stable (conv_id, turn_idx) global
    * order; segment b owns the contiguous docid range
    * [b·span, (b+1)·span) — so the segmented index is docid-identical to
    * a direct build. Each batch writes a self-contained segment with a
    * lineage marker; a re-run SKIPS completed segments (no re-tokenize —
    * the north rule's checkpoint-resume), then commits one manifest
    * listing all segments (all-or-nothing visibility).
    */
  def buildSegments(spark: SparkSession, transcripts: DataFrame,
      root: String, numBatches: Int = 4, numPartitions: Int = 32,
      assigner: Option[graft.analysis.Payloads.Assigner] = None,
      kind: graft.analysis.Analyzers.Kind = graft.analysis.Analyzers.Standard,
      // stamped into lineage alongside the analyzer kind: assigners are
      // bare functions with no stable identity, so a resume under a
      // DIFFERENT assigner can only be detected if the caller names it
      payTag: String = ""): Manifest = {
    // assign() pins its sorted base; `docs` is a cheap projection of it
    val assigned = DocIds.assign(transcripts,
      Seq(col("conv_id"), col("turn_idx")), numPartitions)
    val docs = assigned.docs
    val total = assigned.total
    val span = math.max(1L, (total + numBatches - 1) / numBatches)
    val metas = (0 until numBatches).flatMap { b =>
      val lo = b * span
      val hi = math.min(total, (b + 1) * span)
      if (lo >= total) None
      else {
        val id = f"seg_b$b%05d"
        // payload/analyzer builds carry a distinct lineage so a resumed
        // run never reuses a segment analyzed differently
        val src = (if (assigner.isDefined)
            "ingest-pay" + (if (payTag.nonEmpty) s":$payTag" else "")
          else "ingest") +
          (if (kind != graft.analysis.Analyzers.Standard) s" analyzer=$kind"
           else "")
        val lineage = s"batch=$b/$numBatches docids=[$lo,$hi) src=$src"
        SegmentStore.readLineage(root, id) match {
          case Some(m) if m.lineage == lineage => Some(m) // resume: skip
          case _ =>
            val slice = docs.filter(col("docid") >= lo && col("docid") < hi)
            // Tokenize+invert+encode+write in ONE pass: raw postings are
            // never cached (a 10^12-turn batch would not fit anywhere);
            // dict and stats derive from the compact block table
            // afterwards, doc lengths are decoded from blocks on demand —
            // the Lucene shape: segment files are written once, stats
            // are read from the segment.
            SegmentStore.writeTable(root, id, "blocks",
              PostingBlocks.buildFromDocs(slice, numPartitions, assigner,
                kind).toDF())
            val blocksDf = SegmentStore.readTable(spark, root, id, "blocks")
            SegmentStore.writeTable(root, id, "dict",
              PostingBlocks.dictFromBlocks(blocksDf))
            SegmentStore.writeTable(root, id, "docs", slice)
            // docids are dense in [0, total): the slice size is exact
            // arithmetic — no count job
            val n = hi - lo
            val sumLen = blocksDf.agg(coalesce(sum(col("sum_tf")), lit(0L)))
              .collect()(0).getLong(0)
            val meta = SegmentMeta(id, b.toLong, n, sumLen, lineage,
              maxDocid = hi - 1)
            SegmentStore.markComplete(root, meta)
            Some(meta)
        }
      }
    }
    assigned.release()
    val version = SegmentStore.latest(root).map(_.version + 1).getOrElse(1L)
    val m = Manifest(version, metas)
    SegmentStore.commit(root, m)
    m
  }

  /** Write (but do NOT commit) one appended segment re-based past the
    * store watermark. Returns None for an empty batch. Shared by
    * [[appendSegment]] and [[updateByKeyword]] — the latter folds the
    * new segment and a delete set into ONE manifest commit. */
  private def writeAppendedSegment(spark: SparkSession, turns: DataFrame,
      root: String, prev: Option[Manifest], numPartitions: Int,
      lineageTag: String): Option[SegmentMeta] = {
    // re-base past the docid WATERMARK, not numDocs: after a merge
    // expunges deletes, numDocs shrinks but surviving docids keep their
    // values — a numDocs base would collide (delete → merge → append).
    val base = prev.map(_.maxDocid).getOrElse(-1L) + 1
    val nextOrd = prev.flatMap(_.segments.map(_.ord).maxOption)
      .getOrElse(-1L) + 1
    // the id carries the COMMIT VERSION (like merge ids) so directory
    // names are globally unique across history: ords alone repeat after
    // a merge lowers max(ord) (merge keeps ord = min), and an ord-only
    // id would overwrite a dir still referenced by a retained rollback
    // manifest — and poison reopen's reuse-by-id of unchanged segments
    val nextVer = prev.map(_.version + 1).getOrElse(1L)
    val local = DocIds.assign(turns,
      Seq(col("conv_id"), col("turn_idx")), numPartitions)
    val n = local.total
    if (n == 0) {
      // empty batch (streaming micro-batch with no rows, or an empty
      // conv slice): do not write a zero-doc segment — its empty blocks
      // parquet cannot be schema-inferred on re-read.
      local.release()
      return None
    }
    val docs = local.docs.withColumn("docid", col("docid") + lit(base))
      .persist(StorageLevel.DISK_ONLY)
    docs.count()    // materializes the outer pin …
    local.release() // … so the inner range-shuffled base can go
    val id = f"seg_a$nextVer%04d_$nextOrd%05d"
    SegmentStore.writeTable(root, id, "blocks",
      PostingBlocks.buildFromDocs(docs, numPartitions).toDF())
    val blocksDf = SegmentStore.readTable(spark, root, id, "blocks")
    SegmentStore.writeTable(root, id, "dict",
      PostingBlocks.dictFromBlocks(blocksDf))
    SegmentStore.writeTable(root, id, "docs", docs)
    val sumLen = blocksDf.agg(coalesce(sum(col("sum_tf")), lit(0L)))
      .collect()(0).getLong(0)
    val meta = SegmentMeta(id, nextOrd, n, sumLen,
      s"$lineageTag ord=$nextOrd docids=[$base,${base + n})",
      maxDocid = base + n - 1)
    SegmentStore.markComplete(root, meta)
    docs.unpersist(blocking = false)
    Some(meta)
  }

  /** Append a new batch of turns as one segment, re-basing its docids
    * past the store's current maxDoc — the MergeDocIDRemapper.cs analog;
    * also the streaming-sink unit (one micro-batch = one segment,
    * SURVEY.md §2.8). */
  def appendSegment(spark: SparkSession, turns: DataFrame, root: String,
      numPartitions: Int = 32, lineageTag: String = "append"): Manifest = {
    val prev = SegmentStore.latest(root)
    writeAppendedSegment(spark, turns, root, prev, numPartitions,
        lineageTag) match {
      case None => prev.getOrElse(Manifest(0L, Nil))
      case Some(meta) =>
        // the live delete sets carry forward: appended docids sit past
        // every deleted one, so the old sets hide exactly what they did
        val m = Manifest(prev.map(_.version + 1).getOrElse(1L),
          prev.map(_.segments).getOrElse(Nil) :+ meta,
          prev.map(_.deletes).getOrElse(Nil))
        SegmentStore.commit(root, m)
        m
    }
  }

  /** ATOMIC update-by-key (IndexWriter.UpdateDocument,
    * /root/reference/src/core/Index/IndexWriter.cs:2479 — delete +
    * add under one commit): the delete set for `field = value` and the
    * appended replacement segment land in the SAME manifest version, so
    * readers see either the old conv or the new one — never both, never
    * neither. A crash before the commit leaves the old manifest intact
    * (both staged artifacts are unreferenced and GC-able). */
  def updateByKeyword(spark: SparkSession, root: String, field: String,
      value: String, newTurns: DataFrame,
      numPartitions: Int = 32): Manifest = {
    val m = SegmentStore.latest(root).getOrElse(sys.error("empty store"))
    val idx = SegmentStore.open(spark, root)
    val dir = f"del_v${m.version + 1}%05d"
    idx.withoutDeleted(idx.storedDocs.filter(col(field) === value))
      .select("docid")
      .write.mode("overwrite").parquet(s"$root/$dir")
    val meta = writeAppendedSegment(spark, newTurns, root, Some(m),
      numPartitions, s"update $field=$value")
    val next = Manifest(m.version + 1, m.segments ++ meta.toSeq,
      m.deletes :+ dir)
    SegmentStore.commit(root, next)
    next
  }

  /** Geometric compaction (LogDocMergePolicy semantics: group segments
    * into log_mergeFactor(numDocs) levels, merge any run of ≥ mergeFactor
    * same-level segments — /root/reference/src/core/Index/LogMergePolicy.cs:50-55,289-296).
    * Merge = union segment tables → range-shuffle re-encode (the
    * SegmentMerger sort-merge, SegmentMerger.cs:676-848, expressed as a
    * shuffle). Global docids make re-basing a no-op here. Returns the new
    * manifest if a merge ran. */
  def compact(spark: SparkSession, root: String, mergeFactor: Int = 10,
      numPartitions: Int = 32): Option[Manifest] = {
    val m = SegmentStore.latest(root).getOrElse(return None)
    if (m.segments.size < 2) return None
    // integer log: floor(ln(n)/ln(f)) mis-bins exact powers by float
    // rounding (ln(1000)/ln(10) = 2.9999999999999996 -> level 2)
    def level(s: SegmentMeta): Int = {
      var l = 0
      var x = s.numDocs
      while (x >= mergeFactor) { x /= mergeFactor; l += 1 }
      l
    }
    val byLevel = m.segments.groupBy(level).toSeq.sortBy(-_._1)
    byLevel.collectFirst { case (_, segs) if segs.size >= mergeFactor =>
      doMerge(spark, root, m, segs.sortBy(_.ord).take(mergeFactor),
        numPartitions)
    }
  }

  /** Merge ALL live segments into one (IndexWriter.Optimize analog). */
  def forceMerge(spark: SparkSession, root: String,
      numPartitions: Int = 32): Option[Manifest] = {
    val m = SegmentStore.latest(root).getOrElse(return None)
    if (m.segments.size < 2) return None
    Some(doMerge(spark, root, m, m.segments, numPartitions))
  }

  /** Delete every doc containing the analyzed `term`
    * (IndexWriter.DeleteDocuments(Term) analog,
    * /root/reference/src/core/Index/IndexWriter.cs:2479): the matching
    * docids are written as a delete-set parquet and the manifest commit
    * makes them invisible atomically. Stats stay stale until a merge
    * expunges (reference behavior). */
  def deleteByTerm(spark: SparkSession, root: String, term: String): Manifest = {
    val idx = SegmentStore.open(spark, root)
    deleteDocids(spark, root, idx.withoutDeleted(PostingBlocks.toScoring(
      idx.blockTable.filter(col("term") === term)).select("docid").distinct()),
      s"term=$term")
  }

  /** Delete by a NOT_ANALYZED keyword column (e.g. conv_id) — the
    * update-by-key building block: delete old conv, append new turns. */
  def deleteByKeyword(spark: SparkSession, root: String, field: String,
      value: String): Manifest = {
    val idx = SegmentStore.open(spark, root)
    deleteDocids(spark, root,
      idx.withoutDeleted(idx.storedDocs.filter(col(field) === value))
        .select("docid"),
      s"$field=$value")
  }

  private def deleteDocids(spark: SparkSession, root: String,
      docids: DataFrame, what: String): Manifest = {
    val m = SegmentStore.latest(root).getOrElse(sys.error("empty store"))
    val dir = f"del_v${m.version + 1}%05d"
    docids.write.mode("overwrite").parquet(s"$root/$dir")
    val next = m.copy(version = m.version + 1, deletes = m.deletes :+ dir)
    SegmentStore.commit(root, next)
    next
  }

  private def doMerge(spark: SparkSession, root: String, m: Manifest,
      toMerge: Seq[SegmentMeta], numPartitions: Int): Manifest = {
    import spark.implicits._
    def unionOf(sub: String): DataFrame =
      toMerge.map(s => spark.read.parquet(s"$root/${s.id}/$sub"))
        .reduce(_ unionByName _)
    val del: Option[DataFrame] =
      if (m.deletes.isEmpty) None
      else Some(m.deletes.map(d => spark.read.parquet(s"$root/$d"))
        .reduce(_ unionByName _).select("docid").distinct())
    def live(df: DataFrame): DataFrame = del match {
      case Some(d) => df.join(d, Seq("docid"), "left_anti")
      case None => df
    }
    // decode to raw (position blobs sliced, not materialized) →
    // expunge deletes → range-shuffle → re-encode: the SegmentMerger
    // sort-merge with deletion squeeze (SegmentMerger.cs:800-847)
    val raw = live(PostingBlocks.toRaw(unionOf("blocks")).toDF())
      .as[Codec.RawPosting]
    val blocks = PostingBlocks.fromRaw(raw, numPartitions)
    val newOrd = toMerge.map(_.ord).min
    val id = f"seg_m${m.version + 1}%04d_$newOrd%05d"
    val docs = live(unionOf("docs"))
    SegmentStore.writeTable(root, id, "blocks", blocks.toDF())
    val blocksDf = SegmentStore.readTable(spark, root, id, "blocks")
    SegmentStore.writeTable(root, id, "dict",
      PostingBlocks.dictFromBlocks(blocksDf))
    SegmentStore.writeTable(root, id, "docs", docs)
    val (n, sumLen) = del match {
      case None => (toMerge.map(_.numDocs).sum, toMerge.map(_.sumLen).sum)
      case Some(_) =>
        (docs.count(),
          blocksDf.agg(coalesce(sum(col("sum_tf")), lit(0L)))
            .collect()(0).getLong(0))
    }
    // streamBatch markers must SURVIVE merges: the streaming sink's
    // replay check scans lineages for `streamBatch=<id>`, and a
    // compaction that rewrote lineage before the stream checkpoint
    // committed would make a crash-replay re-index the whole batch
    val carried = toMerge
      .flatMap(_.lineage.split(' ').filter(_.startsWith("streamBatch=")))
      .distinct
    val meta = SegmentMeta(id, newOrd, n, sumLen,
      s"merged=[${toMerge.map(_.id).mkString(",")}]" +
        (if (del.isDefined) " expunged-deletes" else "") +
        (if (carried.isEmpty) "" else carried.mkString(" ", " ", "")),
      // the watermark NEVER shrinks on expunge: surviving docids keep
      // their original values, so appends must still re-base past the
      // pre-merge ceiling
      maxDocid = toMerge.map(_.maxDocid).max)
    SegmentStore.markComplete(root, meta)
    val merged = toMerge.map(_.id).toSet
    val mergedAll = merged == m.segments.map(_.id).toSet
    val next = Manifest(m.version + 1,
      (m.segments.filterNot(s => merged.contains(s.id)) :+ meta)
        .sortBy(_.ord),
      // a full merge expunged everything; partial merges keep the list
      // (global docids: already-expunged ids simply match nothing)
      if (mergedAll) Nil else m.deletes)
    SegmentStore.commit(root, next)
    next
  }
}
