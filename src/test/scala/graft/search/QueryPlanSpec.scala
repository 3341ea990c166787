package graft.search

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.index.{IndexBuilder, SegmentStore}
import graft.model.Transcripts

/** Plan shape of the query layer on a segmented store. Every df a query
  * scores with is resolved on the driver by the memoized
  * [[Searcher.dfOf]], so a query plan never aggregates or broadcasts the
  * term dictionary, and a query whose terms are already resolved runs
  * only the jobs of its own postings plan. */
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

  /** Aggregates and broadcasts with a dictionary scan below them. */
  private def dictAggOrBroadcast(plans: Seq[SparkPlan]): Seq[String] =
    plans.flatMap(p => collect(p) {
      case n @ (_: BaseAggregateExec | _: BroadcastExchangeExec)
          if find(n)(isDictScan).isDefined => n.nodeName
    })

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

  test("no query plan aggregates or broadcasts the term dictionary") {
    val queries = Seq(
      TermQ("spark"),
      BoolQ(must = Seq(TermQ("spark")), should = Seq(TermQ("table")),
        mustNot = Seq(TermQ("merge"))),
      PrefixQ("s", AutoRewrite), // expands to a scored term set
      PrefixQ("", AutoRewrite), // past the cap: constant score
      PrefixQ("de", ScoringBoolean))
    queries.foreach { q =>
      // a fresh Searcher: the cold df lookups are recorded too
      val s = new Searcher(idx)
      val (_, plans) = record(assert(s.topK(q, 10).collect().nonEmpty))
      // the lookups do read the dictionary (the detector works) ...
      assert(plans.exists(find(_)(isDictScan).isDefined), s"$q")
      // ... but only as plain scans
      assert(dictAggOrBroadcast(plans).isEmpty, s"$q")
    }
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
    // shapes whose single-scan fold adds clause scores in the same
    // order as explain's compositional sum, so equality is exact
    val queries = (0 until 24).map(i => i % 3 match {
      case 0 => term()
      case 1 => BoolQ(should = Seq.fill(2 + rnd.nextInt(3))(term()))
      case _ => BoolQ(must = Seq(term()), should = Seq(term()),
        mustNot = Seq.fill(rnd.nextInt(2))(term()))
    })
    var compared = 0
    queries.foreach { q =>
      val ex = s.explain(q).select("docid", "value").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      s.topK(q, 10).collect().foreach { r =>
        assert(ex.get(r.getLong(0)).contains(r.getDouble(1)),
          s"$q doc ${r.getLong(0)}: score ${r.getDouble(1)} explain " +
            ex.get(r.getLong(0)))
        compared += 1
      }
    }
    assert(compared > 100)
  }
}
