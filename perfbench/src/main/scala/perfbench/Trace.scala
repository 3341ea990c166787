package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around the benchmark's calls into the engine, plus the
  * Spark task metrics of the jobs each span ran. Everything stays in
  * memory until the run writes its record. Only a traced run
  * (`enabled`) registers the listener, and only while `active` does a
  * span tag jobs and read the clock; otherwise it is just the call. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var active = false
  private lazy val listener: TaskListener = {
    val l = new TaskListener
    sc.addSparkListener(l)
    l
  }

  /** Run `f` as span `name`; jobs it starts are tagged with the span. */
  def span[T](name: String)(f: => T): T = {
    if (!(enabled && active)) return f
    listener
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prevTag = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, id.toString)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(TagKey, prevTag)
      spans += Span(id, parent, name, t0, t1)
    }
  }

  /** Wait until the listener bus has delivered every job end. */
  def drain(): Unit = if (enabled && spans.nonEmpty) {
    val deadline = System.nanoTime() + 10L * 1000000000L
    var stableSince = System.nanoTime()
    var last = -1L
    while (System.nanoTime() < deadline &&
      (listener.open != 0 || System.nanoTime() - stableSince < 300000000L)) {
      val seen = listener.events
      if (seen != last) { last = seen; stableSince = System.nanoTime() }
      Thread.sleep(20)
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Summed task metrics of the span and every span below it. */
  def stats(s: Span): TagStats = {
    val ids = mutable.Set(s.id)
    spans.sortBy(_.id).foreach(c => if (ids(c.parent)) ids += c.id)
    val out = new TagStats
    listener.synchronized {
      ids.foreach(i => listener.byTag.get(i.toString).foreach(out.add))
    }
    out
  }

  def record: Seq[Map[String, Any]] = spans.sortBy(_.id).map { s =>
    val st = stats(s)
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "jobs" -> st.jobs, "tasks" -> st.tasks, "bytes_read" -> st.bytesRead,
      "shuffle_read" -> st.shuffleRead, "shuffle_write" -> st.shuffleWrite,
      "spill" -> st.spill, "task_ms" -> st.taskMs)
  }.toSeq
}

object Trace {
  val TagKey = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Per-stage task durations, for the skew of a tag's heaviest stage. */
  final class TagStats {
    var jobs = 0L
    var tasks = 0L
    var bytesRead = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var taskMs = 0L
    val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

    def add(o: TagStats): Unit = {
      jobs += o.jobs; tasks += o.tasks; bytesRead += o.bytesRead
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      spill += o.spill; taskMs += o.taskMs
      o.stageTaskMs.foreach { case (k, v) =>
        stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
    }

    /** max / median task time of the stage with the most task time. */
    def skew: Double =
      if (stageTaskMs.isEmpty) 1.0
      else {
        val ts = stageTaskMs.values.maxBy(_.sum).sorted
        val med = ts(ts.size / 2)
        if (med <= 0) 1.0 else ts.last.toDouble / med
      }
  }

  /** Sums task metrics per span tag. Registered only in traced runs. */
  final class TaskListener extends SparkListener {
    // read only after drain(); every callback holds the lock
    val byTag = mutable.HashMap.empty[String, TagStats]
    private val stageTag = mutable.HashMap.empty[Int, String]
    @volatile var open = 0L
    @volatile var events = 0L

    private def statsOf(tag: String): TagStats =
      byTag.getOrElseUpdate(tag, new TagStats)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      events += 1; open += 1
      val tag = Option(e.properties).map(_.getProperty(TagKey)).orNull
      if (tag != null) {
        statsOf(tag).jobs += 1
        e.stageIds.foreach(s => stageTag(s) = tag)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      events += 1; open -= 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      events += 1
      stageTag.get(e.stageId).filter(_ => e.taskMetrics != null).foreach { tag =>
        val st = statsOf(tag)
        val m = e.taskMetrics
        st.tasks += 1
        st.bytesRead += m.inputMetrics.bytesRead
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        val ms = e.taskInfo.duration
        st.taskMs += ms
        st.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += ms
      }
    }
  }
}
