package graft.search

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  Exchange}
import org.apache.spark.sql.functions.{col, date_format}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.index.{IndexBuilder, SegmentStore}
import graft.model.Transcripts

/** Plan shape of the query layer on a segmented store. Every df a query
  * scores with comes from the index's resident dictionary
  * ([[Searcher.dfOf]]), deletes are a lookup in its resident delete set,
  * a small point query folds in one task, and per-query numbers are plan
  * parameters: a point query is one job with no exchange, reads no
  * dictionary table, and a same-shape query compiles no new class. */
class QueryPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkFixture.spark

  // three segments, so a df is a sum over per-segment dictionary rows
  private lazy val idx = {
    val root = Files.createTempDirectory("graft_plan_").toString
    IndexBuilder.buildSegments(spark,
      Transcripts.synthetic(spark, 1500, seed = 11L, partitions = 6), root,
      numBatches = 3, numPartitions = 4)
    SegmentStore.open(spark, root)
  }

  private val TagKey = "graft.spec.tag"

  /** Jobs started and physical plans executed while `body` runs. Jobs
    * are matched by a local property set on this thread (Spark hands it
    * to every job an action starts); plans come from a
    * QueryExecutionListener. Both arrive over the asynchronous listener
    * bus, so this waits until no job is open and the bus has been quiet
    * for 300 ms. */
  private def record(body: => Unit): (Int, Seq[SparkPlan]) = {
    val sc = spark.sparkContext
    val tag = s"plan-${System.nanoTime()}"
    val started, open, events = new AtomicInteger
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    def ours(props: java.util.Properties): Boolean =
      props != null && props.getProperty(TagKey) == tag
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) {
          started.incrementAndGet(); open.incrementAndGet()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        open.updateAndGet(n => math.max(0, n - 1))
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        events.incrementAndGet()
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    sc.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body
    finally {
      sc.setLocalProperty(TagKey, prev)
      val deadline = System.nanoTime() + 10000000000L
      var last = -1
      var quietSince = System.nanoTime()
      while (System.nanoTime() < deadline &&
        (open.get != 0 || System.nanoTime() - quietSince < 300000000L)) {
        val seen = events.get + started.get + plans.synchronized(plans.size)
        if (seen != last) { last = seen; quietSince = System.nanoTime() }
        Thread.sleep(20)
      }
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(jobs)
    }
    (started.get, plans.synchronized(plans.toSeq))
  }

  private def isDictScan(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec =>
      s.relation.location.rootPaths.exists(_.getName == "dict")
    case _ => false
  }

  private def dictAggOrBroadcast(plans: Seq[SparkPlan]): Seq[String] =
    plans.flatMap(p => collect(p) {
      case n @ (_: BaseAggregateExec | _: BroadcastExchangeExec)
          if find(n)(isDictScan).isDefined => n.nodeName
    })

  private def exchanges(plans: Seq[SparkPlan]): Seq[String] =
    plans.flatMap(p => collect(p) { case e: Exchange => e.nodeName })

  /** Analyzed (term, position) runs of stored turns, for phrases that
    * match. */
  private lazy val runs: Seq[Seq[(String, Int)]] =
    idx.docs.select("text").orderBy("docid").limit(200).collect().toSeq
      .map(r => graft.analysis.Analyzer.tokenize(r.getString(0))
        .map(t => t.term -> t.pos))
      .filter(_.size >= 4)

  /** The first `n` analyzed tokens of a stored turn as a phrase. */
  private def phraseOf(doc: Int, n: Int, slop: Int = 0): PhraseQ =
    PhraseQ(runs(doc).take(n), slop)

  /** One query of every shape in the benchmark's point-query mix. */
  private def pointQueries: Seq[Query] = Seq(
    TermQ("error"),
    BoolQ(must = Seq(TermQ("error"), TermQ("deploy"))),
    BoolQ(should = Seq(TermQ("error"), TermQ("deploy"), TermQ("merge"))),
    BoolQ(must = Seq(TermQ("spark")), mustNot = Seq(TermQ("error"))),
    phraseOf(0, 2),
    phraseOf(1, 3),
    phraseOf(2, 2, slop = 2),
    PrefixQ("de", AutoRewrite), // expands to a scored term set
    PrefixQ("de", ConstantScore),
    BoolQ(must = Seq(KeywordQ("role", "assistant"), TermQ("error"))))

  /** Every point query, on a fresh Searcher over `index` (its resident
    * dictionary and delete set already read), runs one job and executes
    * no exchange. */
  private def assertOneJobEach(index: graft.index.InvertedIndex): Unit = {
    index.dictionary; index.deletedIds
    pointQueries.foreach { q =>
      val s = new Searcher(index)
      val (jobs, plans) =
        record(assert(s.topK(q, 10).collect().nonEmpty, s"$q"))
      assert(jobs == 1, s"$q\n${plans.mkString("\n")}")
      assert(plans.nonEmpty && exchanges(plans).isEmpty,
        s"$q: ${exchanges(plans)}")
    }
  }

  test("a warm term query runs one job, a warm two-term boolean two") {
    val s = new Searcher(idx)
    val term = TermQ("error")
    val bool = BoolQ(should = Seq(TermQ("error"), TermQ("deploy")))
    // the first run resolves df; the second is what a repeat costs
    Seq(term, bool).foreach(q => assert(s.topK(q, 10).collect().nonEmpty))
    val (termJobs, _) = record(s.topK(term, 10).collect())
    assert(termJobs == 1)
    val (boolJobs, _) = record(s.topK(bool, 10).collect())
    assert(boolJobs <= 2)
  }

  test("every point query shape runs one job with no exchange") {
    assertOneJobEach(idx)
  }

  private val gone = Transcripts.vocabulary(40)

  /** The same corpus with every doc holding `gone` deleted. */
  private lazy val deleted = {
    val root = Files.createTempDirectory("graft_plan_del_").toString
    IndexBuilder.buildSegments(spark,
      Transcripts.synthetic(spark, 1500, seed = 11L, partitions = 6), root,
      numBatches = 3, numPartitions = 4)
    IndexBuilder.deleteByTerm(spark, root, gone)
    SegmentStore.open(spark, root)
  }

  test("on a store with deletes every point query still runs one job") {
    assert(deleted.deletedIds.exists(_.nonEmpty))
    assertOneJobEach(deleted)
    // the delete set is applied
    assert(new Searcher(deleted).topK(TermQ(gone), 10).collect().isEmpty)
  }

  test("the resident read holds exactly up to its limit, in <= 2 jobs") {
    val dictRows = deleted.dictRows.count()
    val delRows = deleted.deleted.get.count()
    assert(dictRows > delRows && delRows > 0)
    val all = deleted.dictionary.get.withPrefix("").toSeq
    // at the limit both fit; a partition above its share of the limit
    // (limit / partitions) is re-read by a second job
    val (atJobs, _) = record {
      val at = deleted.copy(residentRows = dictRows.toInt)
      assert(at.dictionary.get.withPrefix("").toSeq == all)
      assert(at.deletedIds.get.toSeq == deleted.deletedIds.get.toSeq)
    }
    assert(atJobs >= 1 && atJobs <= 2)
    // one row past it a side is not held; a side that fits still is
    val past = deleted.copy(residentRows = delRows.toInt)
    assert(past.dictionary.isEmpty)
    assert(past.deletedIds.get.toSeq == deleted.deletedIds.get.toSeq)
    val none = deleted.copy(residentRows = delRows.toInt - 1)
    assert(none.dictionary.isEmpty && none.deletedIds.isEmpty)
  }

  test("above the resident limit, dictionary scans and delete anti-joins") {
    def isDeleteScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.getName.startsWith("del_v"))
      case _ => false
    }
    def top(s: Searcher, q: Query) =
      s.topK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    Seq(idx, deleted).foreach { index =>
      val scan = index.copy(residentRows = 0)
      assert(scan.dictionary.isEmpty)
      assert(scan.deletedIds.isEmpty == index.deleted.isDefined)
      val queries = pointQueries ++ Seq(
        PrefixQ("de", ScoringBoolean), // every match, no cap
        RegexQ("de.*", AutoRewrite), // matches up to the cap
        FuzzyQ("eror", 1)) // candidates from the aggregated dictionary
      queries.foreach { q =>
        val want = top(new Searcher(index), q)
        val s = new Searcher(scan)
        val (_, plans) = record(assert(top(s, q) == want, s"$q"))
        // the lookups read the dictionary table (a constant-score
        // prefix looks up no df) ...
        val looksUp = q != PrefixQ("de", ConstantScore)
        assert(plans.exists(find(_)(isDictScan).isDefined) == looksUp, s"$q")
        // ... as plain scans, but for the fuzzy candidates' aggregate
        if (!q.isInstanceOf[FuzzyQ])
          assert(dictAggOrBroadcast(plans).isEmpty, s"$q")
        assert(plans.exists(find(_)(isDeleteScan).isDefined) ==
          index.deleted.isDefined, s"$q")
        // a repeat finds its df memoized on the Searcher
        if (q.isInstanceOf[TermQ]) {
          val (_, again) = record(assert(top(s, q) == want, s"$q"))
          assert(!again.exists(find(_)(isDictScan).isDefined), s"$q")
        }
      }
    }
  }

  test("a same-shape query on other terms compiles no class") {
    val s = new Searcher(idx)
    val pairs: Seq[(Query, Query)] = Seq(
      TermQ("error") -> TermQ("deploy"),
      BoolQ(must = Seq(TermQ("error"), TermQ("spark"))) ->
        BoolQ(must = Seq(TermQ("deploy"), TermQ("merge"))),
      phraseOf(3, 2) -> phraseOf(4, 2),
      phraseOf(5, 3) -> phraseOf(6, 3),
      phraseOf(7, 2, slop = 1) -> phraseOf(8, 2, slop = 1),
      BoolQ(must = Seq(KeywordQ("role", "user"), TermQ("error"))) ->
        BoolQ(must = Seq(KeywordQ("role", "tool"), TermQ("model"))))
    def compiles(q: Query): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(s.topK(q, 10).collect().nonEmpty, s"$q")
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    pairs.foreach { case (first, second) =>
      // warm the shape: the code cache's LRU is approximate, so one run
      // may evict some of its own classes; three runs settle it
      assert((1 to 3).exists(_ => compiles(first) == 0), s"$first")
      assert(compiles(second) == 0, s"$second compiled a class")
    }
  }

  test("above the single-task row limit the fold keeps its exchange") {
    val scored = new Searcher(idx).termScores(Set("error", "deploy"))
    def folded(rows: Long) = exchanges(Seq(
      Searcher.oneTask(scored, rows).groupBy(col("docid")).count()
        .queryExecution.executedPlan))
    assert(folded(Searcher.SingleTaskRows).isEmpty)
    assert(folded(Searcher.SingleTaskRows + 1).nonEmpty)
  }

  test("no query reads a dictionary table") {
    // the detector works: the dictionary rows are a dict table scan
    assert(find(idx.dictRows.queryExecution.executedPlan)(isDictScan).isDefined)
    idx.dictionary
    val queries = pointQueries ++ Seq(
      BoolQ(must = Seq(TermQ("spark")), should = Seq(TermQ("table")),
        mustNot = Seq(TermQ("merge"))),
      PrefixQ("s", AutoRewrite),
      PrefixQ("", AutoRewrite), // past the cap: constant score
      PrefixQ("de", ScoringBoolean),
      RegexQ("de.*", AutoRewrite),
      WildcardQ("sp?rk*", AutoRewrite))
    queries.foreach { q =>
      // a fresh Searcher: any df lookup it made would be recorded
      val s = new Searcher(idx)
      val (_, plans) =
        record(assert(s.topK(q, 10).collect().nonEmpty, s"$q"))
      assert(plans.nonEmpty && !plans.exists(find(_)(isDictScan).isDefined),
        s"$q")
    }
  }

  test("a date range pushes conservative ts bounds to the docs scan") {
    val s = new Searcher(idx)
    // the corpus's turns are a minute apart from 2025-01-01T00:00Z
    val q = DateRangeQ("ts", Some("2025010105"), Some("2025010110"), "hour")
    val got = s.score(q)
    val scans = collect(got.queryExecution.executedPlan) {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.getName == "docs") => f
    }
    assert(scans.nonEmpty)
    scans.foreach { f =>
      val pushed = f.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("GreaterThanOrEqual(ts") &&
        pushed.contains("LessThan(ts"), pushed)
    }
    // the answer is the key predicate's alone
    val key = date_format(col("ts"), "yyyyMMddHH")
    val want = idx.docs.filter(key >= "2025010105" && key <= "2025010110")
      .select("docid").collect().map(_.getLong(0)).toSet
    assert(want.size == 6 * 60)
    assert(got.select("docid").collect().map(_.getLong(0)).toSet == want)
  }

  test("topK scores equal explain values exactly on random queries") {
    val s = new Searcher(idx)
    val rnd = new Random(2024)
    val words = Seq("error", "warning", "query", "table", "spark", "index",
      "merge", "batch", "stream", "agent", "tool", "model", "deploy") ++
      Transcripts.vocabulary.slice(40, 80)
    def term(): Query = {
      val t = TermQ(words(rnd.nextInt(words.size)))
      if (rnd.nextBoolean()) t else BoostQ(t, 0.5 + rnd.nextInt(4))
    }
    // phrases of two hot words, so most of them match somewhere
    val hot = Transcripts.vocabulary.take(6)
    def phrase(): Query = PhraseQ(Seq(hot(rnd.nextInt(hot.length)) -> 0,
      hot(rnd.nextInt(hot.length)) -> 1), rnd.nextInt(3))
    def role(): Query =
      KeywordQ("role", Seq("user", "assistant", "tool")(rnd.nextInt(3)))
    // shapes whose clause-array fold adds clause scores in the same
    // order as explain's compositional sum (musts, then shoulds; at most
    // one should beside a must; a nested boolean first in its node), so
    // equality is exact. Every shape after the third mixes term clauses
    // with clauses that are their own frames in the clause array.
    val shapes: Seq[() => Query] = Seq(
      () => term(),
      () => BoolQ(should = Seq.fill(2 + rnd.nextInt(3))(term())),
      () => BoolQ(must = Seq(term()), should = Seq(term()),
        mustNot = Seq.fill(rnd.nextInt(2))(term())),
      () => BoolQ(should = Seq(term(), phrase())),
      () => BoolQ(must = Seq(role(), term()), mustNot = Seq(phrase())),
      () => BoolQ(must = Seq(PrefixQ(hot(rnd.nextInt(3)).take(2),
        AutoRewrite)), should = Seq(term())),
      // two levels: a pure-term boolean inside a mixed one inside this
      () => BoolQ(must = Seq(BoolQ(should = Seq(
          BoolQ(should = Seq(term(), term())), phrase()))),
        should = Seq(term())),
      () => DisMaxQ(Seq(term(), phrase(),
        BoolQ(must = Seq(term()), should = Seq(term()))), 0.3))
    val classic = new Searcher(idx, ClassicSim)
    // under coord an explain adds a correction part (raw + (coorded -
    // raw) need not round to coorded), so ClassicSim gets shapes whose
    // every clause must match: coord is 1 and no part is added
    val classicShapes: Seq[() => Query] = Seq(
      () => BoolQ(must = Seq(term(), phrase())),
      () => BoolQ(must = Seq(role(), term())),
      () => BoolQ(must = Seq(BoolQ(must = Seq(term(), term())), role())))
    val queries =
      (0 until 40).map(i => s -> shapes(i % shapes.size)()) ++
        (0 until 9).map(i => classic -> classicShapes(i % classicShapes.size)())
    var compared = 0
    queries.foreach { case (sr, q) =>
      val ex = sr.explain(q).select("docid", "value").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      sr.topK(q, 10).collect().foreach { r =>
        assert(ex.get(r.getLong(0)).contains(r.getDouble(1)),
          s"$q doc ${r.getLong(0)}: score ${r.getDouble(1)} explain " +
            ex.get(r.getLong(0)))
        compared += 1
      }
    }
    assert(compared > 300)
  }

  test("a mixed DisMaxQ is max + tie * (sum - max) of its disjuncts' scores") {
    val s = new Searcher(idx)
    val hot = Transcripts.vocabulary.take(6)
    val ds = Seq(TermQ("error"), PhraseQ(Seq(hot(0) -> 0, hot(1) -> 1), 1),
      BoolQ(must = Seq(TermQ(hot(2))), should = Seq(TermQ("deploy"))),
      KeywordQ("role", "tool"))
    val tie = 0.25
    val each = ds.map(d => s.score(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    val got = s.score(DisMaxQ(ds, tie)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == each.flatMap(_.keySet).toSet)
    got.foreach { case (d, v) =>
      val xs = each.flatMap(_.get(d))
      val (mx, sm) = (xs.max, xs.foldLeft(0.0)(_ + _))
      assert(v == mx + tie * (sm - mx), s"doc $d")
    }
  }

  test("a boolean of two terms and a two-term phrase reads the blocks three times") {
    val s = new Searcher(idx)
    def blockReads(q: Query): Int =
      collect(s.topK(q, 10).queryExecution.executedPlan) {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.getName == "blocks") => f
      }.size
    // one read of the block table is one scan per segment
    val perRead = blockReads(TermQ("error"))
    assert(perRead == 3)
    // both terms in one scan, then one read per phrase slot
    assert(blockReads(BoolQ(should = Seq(TermQ("error"), TermQ("deploy"),
      PhraseQ(Seq("spark" -> 0, "table" -> 1))))) == 3 * perRead)
  }
}
