package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.{Codec, InvertedIndex, PostingBlocks}

/** Block-max WAND pruning for top-k disjunctions (Broder et al. CIKM'03;
  * Ding & Suel SIGIR'11 block-max variant), re-expressed for a columnar
  * engine. The reference has only multi-level skip lists
  * (/root/reference/src/core/Index/MultiLevelSkipListWriter.cs:28-65);
  * the north rule asks for block-max WAND — the published-literature
  * upgrade of the same idea: skip whole posting blocks whose score upper
  * bound cannot reach the current top-k threshold.
  *
  * Distributed formulation — ONE action, no driver round trips (the
  * round-2 shape collected the seed scores to the driver between passes;
  * three sequential jobs lost to the single-scan disjunction on fixed
  * scheduling cost alone):
  *  threshold (in-plan): exact-score the postings of the single term
  *    with the highest block-max bound; its k-th score is a valid LOWER
  *    bound T on the final k-th total score (any doc's total ≥ its
  *    single-term contribution). T is a broadcast 1-row subplan, not a
  *    collected scalar.
  *  prune (in-plan): a block b of term t can only contain docs with
  *    total score ≤ UB_t(b) + Σ_{t'≠t} gmax_{t'}; if that is < T the
  *    whole block is skipped BEFORE decode (the filter runs on the
  *    compressed block table's stat columns — Parquet row-group pruning
  *    applies).
  *  rescore (bounded decode): surviving blocks yield candidate docids;
  *    candidates are re-scored against the full postings of all query
  *    terms, but ONLY blocks whose [min_docid, max_docid] range contains
  *    a candidate are decoded (each candidate hits ≤1 block per term) —
  *    the round-2 rescore decoded every block of every term, which
  *    erased the pruning win. Returned scores are exact, not truncated.
  *
  * UB_t(b) = idf_t · tfNorm(max_tf(b), min_len(b)) is a true bound:
  * tfNorm is monotone increasing in tf and decreasing in len.
  * Invariant (tested): result set + scores == the unpruned disjunction.
  */
object Wand {

  /** Below this many estimated posting blocks across the query's terms,
    * pruning cannot pay for its extra plan complexity (threshold subplan
    * + stat scan + bounded rescore) — the planner devolves to the plain
    * single-scan disjunction, exactly as the reference only engages skip
    * lists for df >= skipInterval (SegmentTermDocs.cs:246-275). The
    * estimate is free: ceil(df / blockSize) from the already-collected
    * dictionary rows. Measured at sf0.1 (BENCH_r03 wand diagnostic): the
    * forced pruned plan costs ~4 s of fixed overhead against a ~1 s
    * plain scan at ~400 blocks, so the cutoff sits well above that;
    * above the cutoff the [[PruneWorthFraction]] probe — not this static
    * guess — makes the final call from measured prunability. */
  val MinBlocksForPruning = 2048

  /** Above the block cutoff, the planner first runs a STAT-ONLY probe
    * (one aggregation over the block-stat columns + the seed top-k — no
    * posting decode; at dictionary scale the stats table is orders of
    * magnitude smaller than the postings) and devolves to the plain
    * single-scan disjunction when more than this fraction of blocks
    * survives pruning: a near-complete keep means the pruned plan would
    * decode everything the plain scan decodes AND pay the extra joins.
    * Homogeneous corpora (uniform tf/len — e.g. the synthetic testdata
    * dictionary, where every term's per-block bounds are near-constant)
    * always devolve; skewed-tf corpora engage (SegmentStoreSpec "WAND
    * prunes on a tf-skewed corpus"). */
  val PruneWorthFraction = 0.7

  /** Upper bound on the candidate set the rescore may BROADCAST (the
    * docid-range block join and the semi-join both ship the candidates
    * to every task). kept_blocks × BlockSize bounds the candidates, so
    * the adaptive planner devolves to the plain scan when the bound
    * exceeds this — a megarow broadcast plus a nested-loop range join
    * against millions of live blocks is worse than the one-scan
    * disjunction it was supposed to beat. ~1M docids ≈ tens of MB
    * broadcast: safely inside executor memory, far past any top-k that
    * prunes usefully. */
  val MaxRescoreCandidates = 1L << 20

  private final case class Plan(
      live: Seq[String],
      result: DataFrame,
      /** ONE action: (total blocks, blocks surviving pruning) from the
        * stat columns only — no posting decode. */
      stats: () => (Long, Long))

  private def plan(idx: InvertedIndex, terms: Seq[String], k: Int,
      dfs: Map[String, Long]): Option[Plan] = {
    val blocks = idx.blockTable
    val spark = blocks.sparkSession
    import spark.implicits._
    val searcher = new Searcher(idx)
    val live = terms.distinct.filter(dfs.contains)
    if (live.isEmpty) return None
    val idf = live.map(t => t -> Bm25.idf(idx.numDocs, dfs(t))).toMap

    // threshold: exact top-k of the single term most likely to own high
    // scores ALONE — the highest-idf term among those with df >= k (a
    // rarer term cannot fill a k-heap and would yield t0 = 0). Kept
    // IN-PLAN as a 1-row broadcast subtree: no driver collect.
    val seed = live.filter(t => dfs(t) >= k) match {
      case Seq() => live.maxBy(t => dfs(t))
      case withK => withK.maxBy(idf)
    }
    val t0df = searcher.termScores(Set(seed))
      .orderBy(col("tscore").desc).limit(k)
      .agg(min(col("tscore")).as("mn"), count(lit(1)).as("c"))
      .select(when(col("c") === k, col("mn")).otherwise(lit(0.0)).as("t0"))

    // pruning, all bounds IN-PLAN (no block-stat collect): ub(block)
    // from stats; per-term gmax via a tiny re-aggregation of the same
    // stat columns; keep block b of term t iff
    // ub_t(b) + Σ_{t'≠t} gmax_t' >= t0.
    val idfDf = live.map(t => (t, idf(t), dfs(t))).toDF("term", "idf", "df")
    val blocksLive = blocks.filter(col("term").isin(live: _*))
    val withUb = blocksLive
      .join(broadcast(idfDf.select("term", "idf")), Seq("term"))
      .withColumn("ub", col("idf") *
        Bm25.tfNorm(col("max_tf").cast("double"),
          col("min_len").cast("double"), idx.avgdl))
    val gmaxDf = withUb.groupBy("term").agg(max(col("ub")).as("gmax"))
    val totalDf = gmaxDf.agg(sum(col("gmax")).as("gsum"))
    // lazily checkpointed: the stats() probe action and the result plan
    // share the SAME materialized flag table — without it the seed
    // top-k job (t0df: a full scoring decode of one term's postings)
    // and the block-stat aggregation re-execute inside p.result after
    // the probe already paid for them (cross-action Spark reuses
    // nothing). Lazy: plans that never execute never pay it.
    val flagged = withUb
      .join(broadcast(gmaxDf), Seq("term"))
      .crossJoin(broadcast(totalDf))
      .crossJoin(broadcast(t0df))
      .withColumn("keep", col("ub") >= col("t0") - (col("gsum") - col("gmax")))
      .localCheckpoint(false)
    val kept = flagged.filter(col("keep"))
      .drop("keep", "idf", "ub", "gmax", "gsum", "t0")

    // candidate docids (deletes excluded so the rescore never resurrects
    // a deleted doc), then exact deterministic rescoring of candidates
    // against ONLY the blocks whose docid range can contain them
    val cand0 = PostingBlocks.toScoring(kept).select(col("docid")).distinct()
    val candidates = idx.deleted match {
      case Some(d) => cand0.join(d, Seq("docid"), "left_anti")
      case None => cand0
    }
    val rescoreBlocks = blocksLive.as("b")
      .join(broadcast(candidates.as("c")),
        col("c.docid").between(col("b.min_docid"), col("b.max_docid")),
        "left_semi")
    val result = PostingBlocks.toScoring(rescoreBlocks)
      .join(broadcast(candidates), Seq("docid"), "left_semi")
      .join(broadcast(idfDf.select("term", "df")), Seq("term"))
      .select(col("docid"), col("term"),
        Bm25.score(idx.numDocs, idx.avgdl, col("df"), col("tf"), col("len"))
          .as("tscore"))
      .groupBy(col("docid")).agg(
        aggregate(
          sort_array(collect_list(struct(col("term"), col("tscore")))),
          lit(0.0), (acc, x) => acc + x.getField("tscore")).as("score"))
      .orderBy(col("score").desc, col("docid").asc).limit(k)
    // the stats thunk is one stat-only aggregation (probe + pruneStats);
    // the result plan never pays it
    Some(Plan(live, result, () => {
      val r = flagged.agg(count(lit(1)).as("tot"),
        count_if(col("keep")).as("kept")).head()
      (r.getLong(0), r.getLong(1))
    }))
  }

  private def estBlocks(dfs: Map[String, Long]): Long =
    dfs.values.map(df => (df + Codec.BlockSize - 1) / Codec.BlockSize).sum

  /** Pruned top-k for OR(terms): (docid, score), exact scores. Adaptive:
    * short posting lists take the plain single-scan disjunction (same
    * result by the tested invariant; pruning engages only when the
    * estimated block count can amortize the stat scan). */
  def topKDisjunction(idx: InvertedIndex, terms: Seq[String], k: Int): DataFrame = {
    val searcher = new Searcher(idx)
    val dfs = searcher.dfOf(terms.toSet)
    // distinct: the pruned path dedups terms too (plan() live list), so
    // both paths agree on duplicate-term input
    def plain = searcher.topK(BoolQ(should = terms.distinct.map(TermQ(_))), k)
    if (estBlocks(dfs) < MinBlocksForPruning) return plain
    plan(idx, terms, k, dfs) match {
      case None => plain
      case Some(p) =>
        // measured prunability: stat-only probe, then commit to whichever
        // path the keep fraction says will decode less — and never to a
        // pruned plan whose candidate bound would oversize the rescore
        // broadcast ([[MaxRescoreCandidates]])
        val (total, kept) = p.stats()
        if (total == 0 || kept.toDouble / total > PruneWorthFraction ||
          kept * Codec.BlockSize > MaxRescoreCandidates) plain
        else p.result
    }
  }

  /** Force the pruned path regardless of the adaptive cutoff (tests +
    * diagnostics — the pruned-equals-unpruned invariant must hold at any
    * size). */
  def topKDisjunctionPruned(idx: InvertedIndex, terms: Seq[String],
      k: Int): DataFrame =
    topKPruned(idx, terms, k, new Searcher(idx).dfOf(terms.toSet))

  private def topKPruned(idx: InvertedIndex, terms: Seq[String], k: Int,
      dfs: Map[String, Long]): DataFrame = {
    val spark = idx.blockTable.sparkSession
    plan(idx, terms, k, dfs) match {
      case None =>
        spark.range(0).select(col("id").as("docid"), lit(0.0).as("score"))
      case Some(p) => p.result
    }
  }

  /** Diagnostic for the bench: (total blocks, blocks surviving pruning).
    * Always plans the pruned path, regardless of the adaptive cutoff. */
  def pruneStats(idx: InvertedIndex, terms: Seq[String], k: Int): (Long, Long) =
    plan(idx, terms, k, new Searcher(idx).dfOf(terms.toSet)) match {
      case None => (0L, 0L)
      case Some(p) => p.stats()
    }
}
