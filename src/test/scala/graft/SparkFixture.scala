package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared local session for the whole suite (reference analog:
  * LuceneTestCase's shared RAM directory defaults,
  * test/core/Util/LuceneTestCase.cs:48). */
object SparkFixture {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** What [[record]] saw: the number of jobs started, and the physical
    * plan and action name of every query executed; the tasks those jobs
    * ran and the input records they read. */
  final case class Recorded(jobs: Int, plans: Seq[SparkPlan],
      actions: Seq[String], tasks: Int = 0, recordsRead: Long = 0L)

  private val TagKey = "graft.spec.tag"

  /** Jobs started and queries executed while `body` runs. Jobs are
    * matched by a local property set on this thread (Spark hands it to
    * every job an action starts); queries come from a
    * QueryExecutionListener. Both arrive over the asynchronous listener
    * bus, so this waits until no job is open and the bus has been quiet
    * for 300 ms. */
  def record(body: => Unit): Recorded = {
    val sc = spark.sparkContext
    val tag = s"plan-${System.nanoTime()}"
    val started, open, events, tasks = new AtomicInteger
    val read = new java.util.concurrent.atomic.AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val plans = mutable.ArrayBuffer.empty[(String, SparkPlan)]
    def ours(props: java.util.Properties): Boolean =
      props != null && props.getProperty(TagKey) == tag
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) {
          e.stageIds.foreach(stages.add)
          started.incrementAndGet(); open.incrementAndGet()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          tasks.incrementAndGet()
          if (e.taskMetrics != null)
            read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        open.updateAndGet(n => math.max(0, n - 1))
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        events.incrementAndGet()
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += f -> qe.executedPlan }
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
    val ps = plans.synchronized(plans.toSeq)
    Recorded(started.get, ps.map(_._2), ps.map(_._1), tasks.get, read.get)
  }
}
