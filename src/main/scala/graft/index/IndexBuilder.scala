package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.analysis.Analyzer

/** Logical (table-agnostic) inverted index.
  *
  * One table per concern, mirroring the reference's per-segment files
  * (/root/reference/src/core/Index/IndexFileNames.cs:29-97) as columnar
  * DataFrames:
  *  - docs      — forward/stored fields (.fdt/.fdx analog)
  *  - postings  — (term, docid, tf, len, positions) logical view
  *                (.frq/.prx analog)
  *  - termDict  — (term, df, cf), one row per term (.tis/.tii analog):
  *                the whole-dictionary view for suggest, trigrams and
  *                CheckIndex. Query-time df lookups read [[dictRows]]
  *                instead (Searcher.dfOf).
  *  - docLens   — exact per-doc token counts (exact-int replacement for
  *                the lossy norm byte, Similarity.cs:398-413 — BM25 wants
  *                exact lengths)
  *  - blocks    — optional at-rest compressed form (delta+VByte blocks
  *                with skip/WAND stats); present when opened from a
  *                SegmentStore.
  */
final case class InvertedIndex(
    docs: DataFrame,
    postings: DataFrame,
    termDict: DataFrame,
    docLens: DataFrame,
    numDocs: Long,
    avgdl: Double,
    blocks: Option[DataFrame] = None,
    deleted: Option[DataFrame] = None,
    /** Optional persisted (gram, term, df) dictionary trigram index
      * ([[Trigrams]]) — bounds fuzzy/suggest candidate scans. */
    trigrams: Option[DataFrame] = None,
    /** Per-segment (term, df, cf) rows NOT aggregated across segments
      * (a segmented store's union of its segment dict tables), so a
      * term appears once per segment that holds it; None when
      * `termDict` already has one row per term. */
    segmentDicts: Option[DataFrame] = None) {

  /** Dictionary rows for df lookups: a single-stage scan with no
    * aggregate or shuffle, so an `In` filter on it pushes down to every
    * segment's dict table; callers sum df per term on the driver
    * (TermInfosReader.Get over each segment's .tis,
    * TermInfosReader.cs:178-224). */
  def dictRows: DataFrame = segmentDicts.getOrElse(termDict)

  /** Anti-join the live delete set (deleted docs are skipped at
    * iteration, stats stay stale until merge — SegmentTermDocs.Next /
    * BufferedDeletes semantics). */
  private def live(df: DataFrame): DataFrame = deleted match {
    case Some(del) => df.join(del, Seq("docid"), "left_anti")
    case None => df
  }

  /** Postings restricted to a fixed term set. When the index is
    * block-backed, the term predicate is applied to the BLOCK table (a
    * plain Parquet filter → pushdown + row-group pruning) and only
    * surviving blocks are decoded — the decode flatMap is a pushdown
    * barrier, so filtering after decode would read every block
    * (TermInfosReader seek analog,
    * /root/reference/src/core/Index/TermInfosReader.cs:178-196). */
  def postingsFor(terms: Seq[String]): DataFrame = blocks match {
    case Some(b) =>
      live(PostingBlocks.toPostings(b.filter(col("term").isin(terms: _*))))
    case None => postings.filter(col("term").isin(terms: _*))
  }

  /** Scoring-only postings for a fixed term set: (term, docid, tf, len),
    * positions never decoded (TermDocs semantics — SegmentTermDocs.cs:30
    * reads .frq without .prx). The BM25 paths use this; the mem flavor
    * relies on Catalyst column pruning instead. */
  def postingsForScoring(terms: Seq[String]): DataFrame = blocks match {
    case Some(b) =>
      live(PostingBlocks.toScoring(b.filter(col("term").isin(terms: _*))))
    case None => postings.filter(col("term").isin(terms: _*))
      .select(col("term"), col("docid"), col("tf"), col("len"))
  }

  /** Scoring-only postings for a computed (small) term-set DataFrame —
    * broadcast semi-joined against the block table before decode. */
  def postingsForTermSetScoring(terms: DataFrame): DataFrame = blocks match {
    case Some(b) =>
      live(PostingBlocks.toScoring(b.join(broadcast(terms), Seq("term"))))
    case None => postings.join(broadcast(terms), Seq("term"))
      .select(col("term"), col("docid"), col("tf"), col("len"))
  }

  /** Scoring-only postings for every term matching a dictionary
    * predicate (constant-score multi-term rewrites, MultiTermQuery.cs:84).
    * The predicate is a pure function of `term`, so a block-backed
    * index applies it to the block table directly — a pushed-down scan
    * filter instead of a dictionary scan broadcast into the blocks; the
    * in-memory flavor matches its cached one-row-per-term dictionary
    * rather than every posting. */
  def postingsWhereTermScoring(dictPred: Column): DataFrame = blocks match {
    case Some(b) => live(PostingBlocks.toScoring(b.filter(dictPred)))
    case None =>
      postingsForTermSetScoring(termDict.filter(dictPred).select("term"))
  }

  /** Payload-materializing variant of [[postingsFor]] — adds the
    * `payloads` column (parallel to positions). Block-backed indexes
    * decode payloads straight from the position stream's payload bit;
    * mem-flavor indexes must have been built with
    * [[IndexBuilder.buildPay]]. */
  def postingsForPay(terms: Seq[String]): DataFrame = blocks match {
    case Some(b) =>
      live(PostingBlocks.toPostingsPay(b.filter(col("term").isin(terms: _*))))
    case None =>
      require(postings.columns.contains("payloads"),
        "payload query over an index built without payloads " +
          "(use IndexBuilder.buildPay or a block-backed store)")
      postings.filter(col("term").isin(terms: _*))
  }
}

object IndexBuilder {

  /** Tokenize + invert an already-docid'd docs table into
    * (postings, docLens).
    *
    * The inversion is PARTITION-LOCAL (the reference's per-thread in-RAM
    * inversion, TermsHashPerField.cs:27-137, with Spark partitions as the
    * thread states): each doc is tokenized and inverted to
    * (term → positions) in memory, emitting already-aggregated posting
    * rows — NO shuffle here at all. The only build shuffle is the
    * (term, docid) range-exchange when blocks are encoded (the
    * FreqProxTermsWriter k-way merge analog). `len` is denormalized into
    * postings (the norms analog lives with the posting, so query-time
    * scoring needs no per-doc join — at 10^12 docs that join would
    * dominate every query). Positions are emitted in token order
    * (ascending). docLens is derived lazily for dumps; collection stats
    * come from cheap aggregates (sumLen = Σ tf). */
  def invertRaw(docs: DataFrame,
      kind: graft.analysis.Analyzers.Kind = graft.analysis.Analyzers.Standard)
      : org.apache.spark.sql.Dataset[Codec.RawPosting] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("docid"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (docid, text) =>
          val toks = graft.analysis.Analyzers.tokenize(kind, text)
          val len = toks.size.toLong
          val m = scala.collection.mutable.LinkedHashMap
            .empty[String, scala.collection.mutable.ArrayBuffer[Int]]
          toks.foreach { t =>
            m.getOrElseUpdate(t.term,
              new scala.collection.mutable.ArrayBuffer[Int](4)) += t.pos
          }
          m.iterator.map { case (t, ps) =>
            Codec.RawPosting(t, docid, ps.length.toLong, len,
              Codec.encodePositions(ps.toArray))
          }
        }
      }
  }

  /** Payload-carrying partition-local inversion: identical to
    * [[invertRaw]] except each occurrence's payload (from `assigner`;
    * NaN = none) rides in the position blob via the codec's payload bit
    * — the blob then flows VERBATIM through the range shuffle, run
    * stitching, and segment persistence, so every storage flavor keeps
    * payloads for free (the reference threads payloads through
    * FreqProxTermsWriter the same way, FreqProxTermsWriter.cs:70-157). */
  def invertRawPay(docs: DataFrame, assigner: graft.analysis.Payloads.Assigner)
      : org.apache.spark.sql.Dataset[Codec.RawPosting] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("docid"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (docid, text) =>
          val toks = Analyzer.fastTokenize(text)
          val len = toks.size.toLong
          val m = scala.collection.mutable.LinkedHashMap
            .empty[String, (scala.collection.mutable.ArrayBuffer[Int],
              scala.collection.mutable.ArrayBuffer[Float])]
          toks.foreach { t =>
            val e = m.getOrElseUpdate(t.term,
              (new scala.collection.mutable.ArrayBuffer[Int](4),
                new scala.collection.mutable.ArrayBuffer[Float](4)))
            e._1 += t.pos
            e._2 += assigner(t.term, t.pos)
          }
          m.iterator.map { case (t, (ps, ws)) =>
            Codec.RawPosting(t, docid, ps.length.toLong, len,
              Codec.encodePosPay(ps.toArray, ws.toArray))
          }
        }
      }
  }

  /** Logical-view inversion with payloads materialized as a column
    * (mem-flavor payload indexes). */
  def invertPay(docs: DataFrame,
      assigner: graft.analysis.Payloads.Assigner): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    invertRawPay(docs, assigner).map { r =>
      val (ps, ws) = Codec.decodePosPay(r.pos_blob, r.tf)
      PayPostingRow(r.term, r.docid, r.tf, r.len, ps.toSeq, ws.toSeq)
    }.toDF()
  }

  /** Logical-view inversion (in-memory indexes / tests): decodes the raw
    * position blobs back to arrays. The analyzer kind is pluggable —
    * the IndexWriter-takes-Analyzer contract (IndexWriter.cs:334). */
  def invert(docs: DataFrame,
      kind: graft.analysis.Analyzers.Kind = graft.analysis.Analyzers.Standard)
      : (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val postings = invertRaw(docs, kind).map { r =>
      PostingRow(r.term, r.docid, r.tf, r.len,
        Codec.decodePositions(r.pos_blob, r.tf).toSeq)
    }.toDF()

    // exact field length per doc; docs whose text is all stopwords get 0
    val docLens = docs.select(col("docid"))
      .join(postings.groupBy(col("docid")).agg(max(col("len")).as("len")),
        Seq("docid"), "left")
      .select(col("docid"), coalesce(col("len"), lit(0L)).as("len"))
    (postings, docLens)
  }

  private def dictOf(postings: DataFrame): DataFrame =
    postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))

  /** In-memory build (tests / small interactive sessions); `kind`
    * selects the analyzer chain for the whole index. */
  def build(transcripts: DataFrame, numPartitions: Int = 32,
      kind: graft.analysis.Analyzers.Kind = graft.analysis.Analyzers.Standard)
      : InvertedIndex = {
    val assigned = DocIds.assign(transcripts,
      Seq(col("conv_id"), col("turn_idx")), numPartitions)
    val docs = assigned.docs
    val (postings, docLens) = invert(docs, kind)
    val termDict = dictOf(postings)

    docs.cache(); postings.cache(); docLens.cache(); termDict.cache()

    // count() materializes the docs cache (MEMORY_AND_DISK — eviction
    // spills, never recomputes), so the inner range-shuffled base can go
    val n = docs.count()
    assigned.release()
    require(n > 0, "empty input: refusing to build an index with no docs" +
      " (avgdl would be NaN and BM25 scores would silently propagate it)")
    // sumLen = Σ tf over postings ≡ Σ len over docs (integer arithmetic —
    // exactly reproducible across engines)
    val sumLen = postings.agg(coalesce(sum(col("tf")), lit(0L)))
      .collect()(0).getLong(0)
    InvertedIndex(docs, postings, termDict, docLens, n, sumLen.toDouble / n)
  }

  /** In-memory build whose postings carry per-occurrence payloads (the
    * `payloads` column). Every non-payload query works on it unchanged —
    * the extra column is simply pruned from their plans. */
  def buildPay(transcripts: DataFrame,
      assigner: graft.analysis.Payloads.Assigner,
      numPartitions: Int = 32): InvertedIndex = {
    val assigned = DocIds.assign(transcripts,
      Seq(col("conv_id"), col("turn_idx")), numPartitions)
    val docs = assigned.docs
    val postings = invertPay(docs, assigner)
    val docLens = docs.select(col("docid"))
      .join(postings.groupBy(col("docid")).agg(max(col("len")).as("len")),
        Seq("docid"), "left")
      .select(col("docid"), coalesce(col("len"), lit(0L)).as("len"))
    val termDict = dictOf(postings)
    docs.cache(); postings.cache(); docLens.cache(); termDict.cache()
    val n = docs.count()
    assigned.release()
    require(n > 0, "empty input: refusing to build an index with no docs" +
      " (avgdl would be NaN and BM25 scores would silently propagate it)")
    val sumLen = postings.agg(coalesce(sum(col("tf")), lit(0L)))
      .collect()(0).getLong(0)
    InvertedIndex(docs, postings, termDict, docLens, n, sumLen.toDouble / n)
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
    val tAssign = System.nanoTime()
    // assign() pins its sorted base; `docs` is a cheap projection of it
    val assigned = DocIds.assign(transcripts,
      Seq(col("conv_id"), col("turn_idx")), numPartitions)
    val docs = assigned.docs
    val total = assigned.total
    if (sys.env.contains("SPARK_GRAFT_BUILD_TIMING"))
      System.err.println(
        f"[build] assign+count   ${(System.nanoTime() - tAssign) / 1e9}%8.2fs")
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
            def timed[T](what: String)(f: => T): T = {
              val t0 = System.nanoTime()
              val r = f
              if (sys.env.contains("SPARK_GRAFT_BUILD_TIMING"))
                System.err.println(
                  f"[build] batch=$b $what%-14s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
              r
            }
            val slice = docs.filter(col("docid") >= lo && col("docid") < hi)
            // Tokenize+invert+encode+write in ONE pass: raw postings are
            // never cached (a 10^12-turn batch would not fit anywhere);
            // dict and stats derive from the compact block table
            // afterwards, doc lengths are decoded from blocks on demand —
            // the Lucene shape: segment files are written once, stats
            // are read from the segment.
            timed("blocks")(SegmentStore.writeTable(root, id, "blocks",
              PostingBlocks.buildFromDocs(slice, numPartitions, assigner,
                kind).toDF()))
            val blocksDf = SegmentStore.readTable(spark, root, id, "blocks")
            timed("dict")(SegmentStore.writeTable(root, id, "dict",
              PostingBlocks.dictFromBlocks(blocksDf)))
            timed("docs")(SegmentStore.writeTable(root, id, "docs", slice))
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

  /** Append a new batch of turns as one segment, re-basing its docids
    * past the store's current maxDoc — the MergeDocIDRemapper analog
    * (/root/reference/src/core/Index/MergeDocIDRemapper.cs); also the
    * streaming-sink unit (one micro-batch = one segment, SURVEY.md §2.8). */
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
    idx.docs.filter(col(field) === value).select("docid")
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
    deleteDocids(spark, root,
      idx.postingsFor(Seq(term)).select("docid").distinct(), s"term=$term")
  }

  /** Delete by a NOT_ANALYZED keyword column (e.g. conv_id) — the
    * update-by-key building block: delete old conv, append new turns. */
  def deleteByKeyword(spark: SparkSession, root: String, field: String,
      value: String): Manifest = {
    val idx = SegmentStore.open(spark, root)
    deleteDocids(spark, root,
      idx.docs.filter(col(field) === value).select("docid"),
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
