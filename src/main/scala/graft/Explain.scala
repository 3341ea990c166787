package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec,
  LocalTableScanExec, RDDScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.search._

/** Plan inspector: prints `explain(formatted)` for representative query
  * shapes so pushdown/broadcast/codegen properties can be audited, and
  * for each point query which path served it — the fold over the blocks
  * the index holds on the driver, the prepared block scan or a planned
  * scan — and the Spark jobs its collect ran.
  * Usage: graft.Explain [sfDir] — see scripts/explain.sh. */
object Explain extends AdaptiveSparkPlanHelper {

  /** The path that serves a point query's plan: a local relation alone
    * is the resident fold, an RDD scan with no file scan the prepared
    * scan, anything else a planned scan. */
  private def pathOf(df: DataFrame): String = {
    val leaves = collectLeaves(df.queryExecution.executedPlan)
    if (leaves.forall(_.isInstanceOf[LocalTableScanExec])) "resident fold"
    else if (leaves.exists(_.isInstanceOf[RDDScanExec]) &&
      !leaves.exists(_.isInstanceOf[FileSourceScanExec])) "prepared scan"
    else "planned scan"
  }

  /** The Spark jobs `df.collect()` starts on this thread: counted by a
    * listener over jobs carrying this call's local property, waiting for
    * the asynchronous listener bus to report each started job's end. */
  private def jobsOf(df: DataFrame): Int = {
    val sc = df.sparkSession.sparkContext
    val tag = s"explain-${System.nanoTime()}"
    val ended = new AtomicInteger
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      private def ours(p: java.util.Properties) =
        p != null && p.getProperty("graft.explain.tag") == tag
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.contains(e.jobId)) ended.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.explain.tag", tag)
    try df.collect()
    finally sc.setLocalProperty("graft.explain.tag", null)
    val deadline = System.nanoTime() + 5000000000L
    // the bus may deliver a job's start after collect has returned
    Thread.sleep(200)
    while (ended.get < jobs.size && System.nanoTime() < deadline)
      Thread.sleep(20)
    sc.removeSparkListener(listener)
    jobs.size
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n========== $name ==========")
      df.explain("formatted")
    }

    /** A point query's dump, then its path and its collect's jobs. */
    def point(name: String, df: DataFrame): Unit = {
      dump(name, df)
      println(s"[$name] served by: ${pathOf(df)}; spark jobs: ${jobsOf(df)}")
    }

    // persisted-store path: this store's block files fit
    // InvertedIndex.RoutedBytes, so a point query folds on the driver
    // over the blocks the index holds (a LocalTableScan, no job); on a
    // larger store it reads the prepared block scan in one task
    val seg = Engine.indexSeg(spark, sfDir)
    point("seg term topK",
      new Searcher(seg).topK(TermQ("table"), 10))
    point("seg bool AND", new Searcher(seg)
      .topK(BoolQ(must = Seq(TermQ("table"), TermQ("merge"))), 10))
    dump("WAND disjunction",
      Wand.topKDisjunction(seg, Seq("spark", "hash", "window"), 10))
    // in-memory flavor for comparison
    point("mem phrase", Engine.searcher(spark, sfDir)
      .topK(PhraseQ(Seq("key" -> 0, "agg" -> 1)), 10))
    // FuzzyLikeThis on the seg store: the literal rewrite makes the
    // selected terms a term set the fold reads like a boolean's (not a
    // join-filtered full read)
    point("seg fuzzy-like-this (literal rewrite)",
      new Searcher(seg).topK(FuzzyLikeThisQ("warnimg streem", 1, 8), 10))
    // decontamination: the bench gram table must BROADCAST (never a
    // sort-merge join), and the semi filter must precede the count agg
    dump("decontaminate", graft.ops.TrainOps.decontaminate(spark, sfDir))
    // N-term payload near: one postings scan per clause, no extra agg
    point("payload span-near", new Searcher(Engine.indexPayload(spark, sfDir))
      .topK(PayloadSpanNearQ(Seq("row", "column", "sort"), 6), 10))
    // n-gram Jaccard: every shingle read must come from the cached
    // (InMemoryRelation) table, and the pair-gen join must feed the
    // intersection count directly — no second shingle self-join
    dump("dedup ngram jaccard",
      graft.ops.TrainOps.dedupNgramJaccard(spark, sfDir))
    // embedding-cosine: band self-join on the cached dense-vector table;
    // the cosine is a single projection (zip_with/aggregate), never a
    // per-dim join explosion
    dump("dedup embed cosine",
      graft.ops.TrainOps.dedupEmbedCosine(spark, sfDir))
    // SRP ANN: one map-only signature scan feeding the rescore — no
    // shuffle before the partial top-k
    dump("ann srp", graft.ops.TrainOps.annSrp(spark, sfDir))
    // percolation sweep: a single map-only pass, no shuffle at all
    // before the final ordering
    dump("percolate multi", graft.streaming.StreamingPercolator.percolate(
      graft.model.Transcripts.fromDocuments(spark, sfDir),
      Seq("q" -> TermQ("table"))))
    // stratified sample: the scan's ReadSchema must carry ONLY
    // (source, doc_id) — the hash filter needs no text column
    dump("stratified sample (no text read)", graft.ops.TrainOps
      .stratifiedSample(spark, sfDir, Seq("src3" -> 0.6), 0.25))
    // curation: level-1 window keyed by (source, cell) BEFORE the
    // per-source window — two bounded shuffles, no global sort
    dump("curate top-k (two-level window)",
      graft.ops.TrainOps.curateTopK(spark, sfDir, 3))
    spark.stop()
  }
}
