package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.index.{IndexBuilder, InvertedIndex, SegmentStore}
import graft.model.Transcripts
import graft.search._

/** Session-scoped index cache: Verify/Bench run dozens of queries against
  * the same sfDir — each index flavor is built once and kept persisted
  * (the reference's point-in-time IndexReader analog,
  * /root/reference/src/core/Index/IndexReader.cs:65).
  *
  * Three flavors, all serving the same logical InvertedIndex:
  *  - `index`      — in-memory build: a cached block table (no storage
  *                   round-trip)
  *  - `indexSeg`   — segmented build → SegmentStore (compressed posting
  *                   blocks, manifest commit) → re-opened from disk
  *  - `indexCompacted` — segmented build, then forceMerge + GC, re-opened
  * Verify routes the same oracle queries through all three, proving the
  * storage + merge layers change nothing.
  */
object Engine {
  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, InvertedIndex]

  private def parts(spark: SparkSession): Int =
    math.max(spark.sparkContext.defaultParallelism, 4)

  private def key(spark: SparkSession, sfDir: String, flavor: String) =
    s"$flavor:${spark.sparkContext.applicationId}:$sfDir"

  private def segRoot(spark: SparkSession, sfDir: String, flavor: String) = {
    // sanitized path + raw-path hash keys the store: sanitization alone
    // can collide ('/data/sf.1' vs '_data_sf.1'), a hash alone is
    // unreadable — the pair is both readable and collision-resistant, so
    // lineage-based resume can never pick up stale segments of another
    // corpus
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val tag = Integer.toHexString(sfDir.hashCode)
    s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_${flavor}_" +
      s"${spark.sparkContext.applicationId.replace(':', '_')}_${safe}_$tag"
  }

  def index(spark: SparkSession, sfDir: String): InvertedIndex =
    cache.getOrElseUpdate(key(spark, sfDir, "mem"),
      IndexBuilder.build(Transcripts.fromDocuments(spark, sfDir), parts(spark)))

  /** positionBoost(firstN=5, boost=2) payload parameters of the payload
    * flavor — [[OracleSql.payloadTermTopK]] mirrors exactly these. */
  val PayloadFirstN = 5
  val PayloadBoost = 2.0f

  /** Mem-flavor index whose postings carry per-occurrence payloads
    * (early-in-turn tokens boosted — the NumericPayloadTokenFilter-shaped
    * assigner, graft.analysis.Payloads). */
  def indexPayload(spark: SparkSession, sfDir: String): InvertedIndex =
    cache.getOrElseUpdate(key(spark, sfDir, "pay"),
      IndexBuilder.build(Transcripts.fromDocuments(spark, sfDir),
        parts(spark), assigner = Some(graft.analysis.Payloads.positionBoost(
          PayloadFirstN, PayloadBoost))))

  /** Segmented payload flavor: the same positionBoost payloads PERSISTED
    * through the block store — the payload bit rides the position stream
    * verbatim through the range shuffle, run stitching, and segment
    * parquet, so payload queries over the committed store score exactly
    * like the mem "pay" flavor (storage must be invisible). */
  def indexPaySeg(spark: SparkSession, sfDir: String): InvertedIndex =
    cache.getOrElseUpdate(key(spark, sfDir, "pys"), {
      val root = segRoot(spark, sfDir, "pys")
      IndexBuilder.buildSegments(spark,
        Transcripts.fromDocuments(spark, sfDir), root,
        numBatches = 4, numPartitions = parts(spark),
        assigner = Some(graft.analysis.Payloads.positionBoost(
          PayloadFirstN, PayloadBoost)),
        payTag = s"posBoost($PayloadFirstN,$PayloadBoost)")
      SegmentStore.open(spark, root)
    })

  /** Mem-flavor index built with a NON-default analyzer chain (the
    * IndexWriter-takes-Analyzer contract): one cached flavor per kind.
    * Every query runs unchanged over it — only the term space differs. */
  def indexAnalyzed(spark: SparkSession, sfDir: String,
      kind: graft.analysis.Analyzers.Kind): InvertedIndex =
    cache.getOrElseUpdate(key(spark, sfDir, s"ana:$kind"),
      IndexBuilder.build(Transcripts.fromDocuments(spark, sfDir),
        parts(spark), kind))

  /** Build → persist as 4 segments → open from the committed manifest.
    * A dictionary trigram index is persisted alongside (out-of-band job,
    * like a compaction) so fuzzy/suggest candidate scans are gram-bounded
    * instead of full-dictionary. */
  def indexSeg(spark: SparkSession, sfDir: String): InvertedIndex =
    cache.getOrElseUpdate(key(spark, sfDir, "seg"), {
      val root = segRoot(spark, sfDir, "seg")
      IndexBuilder.buildSegments(spark,
        Transcripts.fromDocuments(spark, sfDir), root,
        numBatches = 4, numPartitions = parts(spark))
      val idx = SegmentStore.open(spark, root)
      if (!graft.index.Trigrams.exists(root))
        graft.index.Trigrams.write(root, idx.termDict, parts(spark))
      idx.copy(trigrams = Some(graft.index.Trigrams.read(spark, root)))
    })

  /** Segmented build, then merge-all + GC (SegmentMerger/Optimize path). */
  def indexCompacted(spark: SparkSession, sfDir: String): InvertedIndex =
    cache.getOrElseUpdate(key(spark, sfDir, "cmp"), {
      val root = segRoot(spark, sfDir, "cmp")
      IndexBuilder.buildSegments(spark,
        Transcripts.fromDocuments(spark, sfDir), root,
        numBatches = 4, numPartitions = parts(spark))
      IndexBuilder.forceMerge(spark, root, parts(spark))
      SegmentStore.gc(root)
      SegmentStore.open(spark, root)
    })

  /** Incremental NRT-style build: ingest in ordered conv_id ranges via
    * appendSegment (docid re-base per batch) — the streaming-sink unit. */
  def indexAppended(spark: SparkSession, sfDir: String): InvertedIndex =
    cache.getOrElseUpdate(key(spark, sfDir, "app"), {
      val root = segRoot(spark, sfDir, "app")
      val t = Transcripts.fromDocuments(spark, sfDir)
      // three ordered conv_id ranges appended in order → docids equal the
      // one-shot build's (stable (conv_id, turn_idx) global order).
      // Cut points come from a RANGE SHUFFLE of the distinct conv_ids
      // (per-partition minima, 3 rows to the driver) — never a collect
      // of every conv_id (at 10^9 convs that collect is a driver OOM).
      val cuts = {
        import spark.implicits._
        t.select("conv_id").distinct()
          .repartitionByRange(3, col("conv_id"))
          .mapPartitions(it =>
            if (it.hasNext) Iterator.single(it.map(_.getString(0)).min)
            else Iterator.empty)
          .collect().sorted
      }
      val slices: Seq[DataFrame] = cuts.length match {
        case n if n >= 3 =>
          Seq(t.filter(col("conv_id") < cuts(1)),
            t.filter(col("conv_id") >= cuts(1) && col("conv_id") < cuts(2)),
            t.filter(col("conv_id") >= cuts(2)))
        case _ => Seq(t) // 1-2 distinct convs: one batch (no empty slices)
      }
      slices.foreach(s =>
        IndexBuilder.appendSegment(spark, s, root, parts(spark)))
      SegmentStore.open(spark, root)
    })

  /** Segmented build, then delete every doc containing "dup"
    * (IndexWriter.DeleteDocuments(Term) analog): queries must hide the
    * deleted docs while BM25 stats stay un-discounted until merge. */
  def indexDeleted(spark: SparkSession, sfDir: String): InvertedIndex =
    cache.getOrElseUpdate(key(spark, sfDir, "del"), {
      val root = segRoot(spark, sfDir, "del")
      IndexBuilder.buildSegments(spark,
        Transcripts.fromDocuments(spark, sfDir), root,
        numBatches = 4, numPartitions = parts(spark))
      IndexBuilder.deleteByTerm(spark, root, "dup")
      SegmentStore.open(spark, root)
    })

  /** Force-build every index flavor (timed): Bench calls this before the
    * query loop so per-query numbers measure QUERIES, not the first-touch
    * construction of a segmented/compacted/deleted store (round-1 bench
    * had ft_compact_bool at 17.9 s of which ~17 s was store build). */
  def prewarm(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    def t(name: String)(f: => InvertedIndex): (String, Double) = {
      val t0 = System.nanoTime()
      val idx = f
      idx.docs.count()
      idx.termDict.count() // materializes a mem flavor's block + dict caches
      name -> (System.nanoTime() - t0) / 1e9
    }
    val flavors = Seq(
      t("mem")(index(spark, sfDir)),
      t("pay")(indexPayload(spark, sfDir)),
      t("pys")(indexPaySeg(spark, sfDir)),
      t("shg")(indexAnalyzed(spark, sfDir,
        graft.analysis.Analyzers.Shingles(2))),
      t("rev")(indexAnalyzed(spark, sfDir,
        graft.analysis.Analyzers.Reversed)),
      t("seg")(indexSeg(spark, sfDir)),
      t("cmp")(indexCompacted(spark, sfDir)),
      t("app")(indexAppended(spark, sfDir)),
      t("del")(indexDeleted(spark, sfDir)),
      t("upd")(indexUpdated(spark, sfDir)))
    // the seg store's tvec parquet is store construction too — build it
    // here so the tvec-highlighter query times only the query
    val t0 = System.nanoTime()
    termVectorsOf(spark, sfDir, Seq(0L)).count()
    // the dedup family's shared shingle + dense-embedding tables likewise
    // materialize once per corpus; charge them here, not to whichever
    // dd_* query runs first
    val t1 = System.nanoTime()
    graft.ops.TrainOps.shingles(spark, sfDir)
    graft.ops.TrainOps.embVecsOf(spark, sfDir)
    graft.ops.TrainOps.lshBuckets(spark, sfDir)
    // the persisted ANN (IVF cells) and spatial (grid cells) stores are
    // store construction too — build/commit them here so ann_ivf_seg and
    // geo_cells time partition-pruned queries, not first-touch builds
    // (both are manifest-idempotent: a committed store is a no-op reuse)
    val t2 = System.nanoTime()
    graft.ops.AnnIndex.build(spark, sfDir)
    val t3 = System.nanoTime()
    graft.ops.GeoIndex.build(spark,
      graft.ops.Geo.syntheticCoords(
        graft.ops.TrainOps.docs(spark, sfDir).select(col("doc_id"))),
      graft.ops.GeoIndex.defaultRoot(sfDir))
    flavors :+ ("tvec" -> (t1 - t0) / 1e9) :+
      ("dds" -> (t2 - t1) / 1e9) :+
      ("anns" -> (t3 - t2) / 1e9) :+
      ("geo" -> (System.nanoTime() - t3) / 1e9)
  }

  /** Conversation updated in the "upd" flavor + the text suffix appended
    * to each of its turns (mirrored in OracleSql.preludeUpdated). */
  val UpdatedConv = "c000000"
  val UpdatedSuffix = " updated row"

  /** Atomic update flavor: build, then replace one conversation's turns
    * (text + suffix) via updateByKeyword — delete set + appended segment
    * in ONE manifest commit (IndexWriter.UpdateDocument analog). */
  def indexUpdated(spark: SparkSession, sfDir: String): InvertedIndex =
    cache.getOrElseUpdate(key(spark, sfDir, "upd"), {
      val root = segRoot(spark, sfDir, "upd")
      val t = Transcripts.fromDocuments(spark, sfDir)
      IndexBuilder.buildSegments(spark, t, root,
        numBatches = 4, numPartitions = parts(spark))
      val newTurns = t.filter(col("conv_id") === UpdatedConv)
        .withColumn("text", concat(col("text"), lit(UpdatedSuffix)))
      IndexBuilder.updateByKeyword(spark, root, "conv_id", UpdatedConv,
        newTurns, parts(spark))
      SegmentStore.open(spark, root)
    })

  /** Standalone CheckIndex over the segmented store (CheckIndex.cs:42
    * analog) — gate shape: (num_docs, num_terms, violations). */
  def checkIndexSeg(spark: SparkSession, sfDir: String): DataFrame = {
    indexSeg(spark, sfDir) // ensure the store exists
    graft.index.CheckIndex.reportDf(spark, segRoot(spark, sfDir, "seg"))
  }

  private val tvecBuilt = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Term vectors of selected docs, via the persisted docid-partitioned
    * tvec table (built once per store — TermVectorsWriter analog). */
  def termVectorsOf(spark: SparkSession, sfDir: String,
      docids: Seq[Long]): DataFrame = {
    val root = segRoot(spark, sfDir, "seg")
    val idx = indexSeg(spark, sfDir)
    tvecBuilt.getOrElseUpdate(root, {
      graft.index.TermVectors.write(root, idx, parts(spark)); true
    })
    spark.read.parquet(s"$root/tvec")
      .filter(col("docid").isin(docids: _*))
  }

  /** (rank, docid, text, hit positions) of the query's top-k hits, the
    * positions of every query term read from the persisted term vectors
    * — the prologue of [[highlightTvec]] and [[highlightTvecN]]. */
  private def tvecHits(spark: SparkSession, sfDir: String, q: Query,
      k: Int): Dataset[(Long, Long, String, Seq[Int])] = {
    import spark.implicits._
    val idx = indexSeg(spark, sfDir)
    val terms = QueryAst.terms(q)
    val hits = Highlight.rankedHits(new Searcher(idx), q, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val tv = termVectorsOf(spark, sfDir, hits.map(_._2))
      .filter(col("term").isin(terms.toSeq: _*))
      .groupBy(col("docid"))
      .agg(flatten(collect_list(col("positions"))).as("hitpos"))
    hits.toDF("rank", "docid")
      .join(tv, Seq("docid"), "left")
      .join(idx.docs.select(col("docid"), col("text")), Seq("docid"))
      .select(col("rank"), col("docid"), col("text"),
        coalesce(col("hitpos"), array().cast("array<int>")).as("hitpos"))
      .as[(Long, Long, String, Seq[Int])]
  }

  /** Highlighter over the persisted term-vectors table
    * (FastVectorHighlighter.cs:26 shape): hit MATCHES come from the
    * docid-partitioned tvec parquet (positions in raw-token
    * coordinates), not from re-matching the analyzed tokens; only the
    * k hit docs' vectors are fetched (range-pruned scan). Output is
    * identical to the re-analysis path for non-stopword query terms —
    * both gate entries share one oracle. */
  def highlightTvec(spark: SparkSession, sfDir: String, q: Query,
      k: Int): DataFrame = {
    import spark.implicits._
    tvecHits(spark, sfDir, q, k)
      .map { case (r, d, t, ps) =>
        (r, d, Highlight.bestFragmentFromPositions(t, ps.toSet)) }
      .toDF("rank", "docid", "snippet")
      .orderBy("rank")
  }

  /** IDF-WEIGHTED N-fragment variant over the term-vectors path: the
    * position→term identity from the vectors feeds the QueryScorer
    * distinct-term weighting ([[Highlight.topFragmentsWeighted]]), so
    * this and [[Highlight.highlightWeighted]] share one oracle. */
  def highlightTvecWeighted(spark: SparkSession, sfDir: String, q: Query,
      k: Int, maxFrags: Int): DataFrame = {
    import spark.implicits._
    val idx = indexSeg(spark, sfDir)
    val weights = Highlight.termWeights(idx, q)
    val hits = Highlight.rankedHits(new Searcher(idx), q, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val tv = termVectorsOf(spark, sfDir, hits.map(_._2))
      .filter(col("term").isin(weights.keys.toSeq: _*))
      .groupBy(col("docid"))
      .agg(collect_list(struct(col("term"), col("positions"))).as("tpos"))
    hits.toDF("rank", "docid")
      .join(tv, Seq("docid"), "left")
      .join(idx.docs.select(col("docid"), col("text")), Seq("docid"))
      .select(col("rank"), col("docid"), col("text"),
        coalesce(col("tpos"),
          array().cast("array<struct<term:string,positions:array<int>>>"))
          .as("tpos"))
      .as[(Long, Long, String, Seq[(String, Seq[Int])])]
      .flatMap { case (r, d, t, tp) =>
        val raw = graft.analysis.Analyzer.rawTokens(t)
        val at = tp.flatMap { case (term, ps) => ps.map(_ -> term) }.toMap
        Highlight.topFragmentsWeighted(raw, at.get, weights,
          Highlight.Window, maxFrags)
          .map { case (f, sc, sn) => (r, d, f, sc, sn) }
      }
      .toDF("rank", "docid", "frag", "fscore", "snippet")
  }

  /** N-fragment scored variant of [[highlightTvec]] (the
    * FastVectorHighlighter FieldFragList path): matches come from the
    * persisted term vectors; fragments are scored/chunked exactly like
    * [[Highlight.highlightN]], so both share one oracle. */
  def highlightTvecN(spark: SparkSession, sfDir: String, q: Query,
      k: Int, maxFrags: Int): DataFrame = {
    import spark.implicits._
    tvecHits(spark, sfDir, q, k)
      .flatMap { case (r, d, t, ps) =>
        val raw = graft.analysis.Analyzer.rawTokens(t)
        val hitSet = ps.toSet
        Highlight.topFragments(raw, hitSet.contains,
          Highlight.Window, maxFrags)
          .map { case (f, sc, sn) => (r, d, f, sc, sn) }
      }
      .toDF("rank", "docid", "frag", "fscore", "snippet")
  }

  def searcher(spark: SparkSession, sfDir: String): Searcher =
    new Searcher(index(spark, sfDir))

  private[graft] def ranked(scored: DataFrame): DataFrame =
    scored.withColumn("rank",
      row_number().over(
        Window.orderBy(col("score").desc, col("docid").asc)).cast("long"))
      .select(col("rank"), col("docid"), round(col("score"), 4).as("score"))

  /** Top-k result in the driver-compare shape: (rank, docid, score) with
    * score rounded to 4 decimals (cross-engine float guard) and rank by
    * the mandatory (score desc, docid asc) order. The row_number window
    * runs over k already-collected rows — not a scale concern. */
  def topK(spark: SparkSession, sfDir: String, q: Query, k: Int): DataFrame =
    topKOn(index(spark, sfDir), q, k)

  def topKOn(idx: InvertedIndex, q: Query, k: Int): DataFrame =
    ranked(new Searcher(idx).topK(q, k))

  /** WAND-pruned disjunction top-k over the persisted block tables —
    * result identical to topK(BoolQ(should = terms)) by construction. */
  def topKWand(spark: SparkSession, sfDir: String, terms: Seq[String],
      k: Int): DataFrame =
    ranked(Wand.topKDisjunction(indexSeg(spark, sfDir), terms, k))

  def countQ(spark: SparkSession, sfDir: String, q: Query): DataFrame =
    searcher(spark, sfDir).score(q)
      .agg(count(lit(1)).as("hits"))

  /** Field-sorted top-k in gate shape: (rank, docid, sort fields…, score).
    * Rank = row_number over the SAME order the collector used (window
    * over k already-collected rows). */
  def topKSorted(spark: SparkSession, sfDir: String, q: Query,
      sorts: Seq[SortField], k: Int): DataFrame = {
    val fieldCols = sorts.map(_.field).filter(_ != "score").distinct
    val hits = searcher(spark, sfDir).topKSorted(q, sorts, k)
    // timestamp sort keys are emitted as epoch seconds: the compare layer
    // hashes raw values and timestamp encodings differ across engines
    def out(f: String) =
      if (f == "ts") col("ts").cast("long").as("ts") else col(f)
    hits.withColumn("rank",
      row_number().over(Window.orderBy(Searcher.sortOrder(sorts): _*))
        .cast("long"))
      .select(Seq(col("rank"), col("docid")) ++ fieldCols.map(out) :+
        round(col("score"), 4).as("score"): _*)
  }

  /** Score-breakdown dump (Explain analog) for one term, gate shape. */
  def explainTerm(spark: SparkSession, sfDir: String, t: String): DataFrame =
    searcher(spark, sfDir).explainTerm(t)
      .select(col("docid"), col("term"), col("tf"), col("len"), col("df"),
        round(col("idf"), 4).as("idf"), round(col("tfnorm"), 4).as("tfnorm"),
        round(col("score"), 4).as("score"))
      .orderBy("docid")
}
