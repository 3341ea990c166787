package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double,
    traced: Boolean, out: String)

/** The state one run shares across its workload, checks and trace. */
final class Ctx(val spark: SparkSession, val args: Args, val trace: Trace,
    val dir: String) {
  val parts = 4
  val k = 10
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Layer readings that are not span durations (counts, ratios). */
  val gauges = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Wall time of each set-up step, for the record. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  private var roots = 0

  def newRoot(tag: String): String = { roots += 1; s"$dir/$tag-$roots" }

  def fail(what: String, msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$what: ${msg.take(300)}"
  }

  /** One engine operation; a throw counts as failed and yields None. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f) catch { case NonFatal(e) => fail(what, e.toString); None }
  }

  /** One correctness check; `f` returns None on a pass. */
  def check(what: String)(f: => Option[String]): Unit = {
    attempted += 1
    try f.foreach(fail(what, _)) catch { case NonFatal(e) => fail(what, e.toString) }
  }

  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally phases(name) = (System.nanoTime() - t0) / 1e6
  }

  /** Heap in use after a full collection, taken at the start and the
    * end of the timed phase (outside every timed window). The second collection comes after
    * Spark's cleaner has dropped the blocks of broadcasts and cached
    * frames the first one found unreachable. */
  val heapMarksMb = mutable.ArrayBuffer.empty[Double]
  /** GC time spent in those forced collections, kept out of jvm.gc_ms. */
  var forcedGcMs = 0.0
  def heapMark(): Unit = {
    val gc0 = Host.gcTotalMs
    System.gc()
    Thread.sleep(300)
    System.gc()
    forcedGcMs += Host.gcTotalMs - gc0
    heapMarksMb += ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed.toDouble / (1 << 20)
  }

  /** For interleaved steps: whether call `j` of step `i` runs traced.
    * Calls go untraced-traced-traced-untraced, with the pattern flipped
    * on odd steps, so over a pair of steps every call position runs
    * once each way. Sets the trace active accordingly. */
  def tracedCall(i: Int, j: Int): Boolean = {
    val t = args.traced && ((j % 4 == 1 || j % 4 == 2) != (i % 2 == 1))
    trace.active = t
    t
  }

  def gauge(name: String, v: Double): Unit =
    gauges.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Runs `step(i, traced)` until `args.seconds` have passed and at
    * least `min` steps ran. A traced run takes steps in groups of four,
    * untraced-traced-traced-untraced, so both kinds share the same
    * stretch of the run and warm-up drift cancels; with `interleaved`
    * it takes them in pairs and each step picks which of its own calls
    * to trace (see [[tracedCall]]). */
  def loop(min: Int, interleaved: Boolean = false)(step: (Int, Boolean) => Unit): Unit = {
    heapMark()
    val end = System.nanoTime() + (args.seconds * 1e9).toLong
    val group = if (interleaved) 2 else 4
    var i = 0
    while (i < min || System.nanoTime() < end || (args.traced && i % group != 0)) {
      val traced = args.traced && !interleaved && (i % 4 == 1 || i % 4 == 2)
      trace.active = traced
      step(i, traced)
      trace.active = false
      i += 1
    }
    heapMark()
  }
}

object Main {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("out"))
  }

  def session(dir: String): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `--workload all` runs the four workloads in turn in one JVM, a
    * smoke run: set-up times then start at each workload, not at JVM
    * start. */
  def main(argv: Array[String]): Unit = {
    graft.Jvm.routeJvmLogToStderr()
    val args = parse(argv)
    val names =
      if (args.workload == "all") Seq("build", "search", "batch", "ingest")
      else Seq(args.workload)
    if (!names.forall(Workloads.byName.contains)) {
      System.err.println(s"[perfbench] unknown workload ${args.workload}; one of " +
        (Workloads.byName.keys.toSeq.sorted :+ "all").mkString(", "))
      sys.exit(2)
    }
    val host = new Host
    val work = Paths.get(args.out, s"work-${ProcessHandle.current().pid()}")
      .toAbsolutePath.toString
    Files.createDirectories(Paths.get(work))
    val spark = session(work)
    // set-up starts at JVM start; `preMs` is the part before `start`
    var start = Host.mark()
    var preMs = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime).toDouble
    val code = try {
      names.foreach { n =>
        runOne(spark, args.copy(workload = n), host, s"$work/$n", start, preMs)
        start = Host.mark()
        preMs = 0.0
      }
      0
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
    } finally {
      try spark.stop() catch { case NonFatal(_) => () }
      deleteTree(Paths.get(work))
    }
    sys.exit(code)
  }

  private def runOne(spark: SparkSession, args: Args, host: Host, dir: String,
      start: Host.Mark, preMs: Double): Unit = {
    Files.createDirectories(Paths.get(dir))
    val trace = new Trace(spark.sparkContext, args.traced)
    val c = new Ctx(spark, args, trace, dir)
    val out = Workloads.byName(args.workload)(c)
    // net of hypervisor steal, like the call times
    val setup = Host.between(start, out.setupEnd)
    val setupWallS = (preMs + setup.wallMs) / 1000.0
    val setupS = setupWallS * (1.0 - setup.stealShare)
    if (args.traced) Workloads.sweep(c, out)
    trace.drain()
    val e2e = Metrics.endToEnd(c, out, setupS, host)
    val layers = if (args.traced) Metrics.perLayer(c, out, host) else Nil
    val shown = if (args.traced) layers else e2e
    shown.filter(_._2.isNaN).foreach { case (n, _, _) =>
      c.attempted += 1
      c.fail("metric", s"$n was not measured")
    }
    val result = mutable.LinkedHashMap(
      "correct" -> (c.failed == 0),
      "attempted" -> math.max(1L, c.attempted),
      "failed" -> c.failed,
      "metrics" -> mutable.LinkedHashMap(shown.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> (if (v.isNaN) -1.0 else v), "unit" -> u) }: _*))
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.traced, "turns" -> Workloads.Turns,
      "nproc" -> host.nproc, "host_steal_frac" -> host.stealFrac,
      "setup_wall_s" -> setupWallS,
      "result" -> result,
      "end_to_end" -> e2e.map(t => t._1 -> t._2).toMap,
      "per_layer" -> layers.map(t => t._1 -> t._2).toMap,
      "failures" -> c.failures.toSeq,
      "setup_phases_ms" -> c.phases,
      "heap_marks_mb" -> c.heapMarksMb.toSeq,
      "calls" -> out.calls.map(Metrics.callRecord),
      "traced_calls" -> out.traced.map(Metrics.callRecord),
      "samples" -> out.record,
      "gauges" -> c.gauges.map { case (k, v) => k -> v.toSeq },
      "spans" -> trace.record)
    writeRecord(args, json.writeValueAsString(record))
    c.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    println(json.writeValueAsString(result))
    deleteTree(Paths.get(dir))
  }

  private def writeRecord(a: Args, json: String): Unit = {
    val p = Paths.get(a.out,
      s"${a.workload}-seed${a.seed}-trace${if (a.traced) 1 else 0}.json")
    Files.writeString(p, json)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** Bytes on disk of the committed store: the latest manifest and the
    * segment and delete directories it references (older, unreferenced
    * directories are garbage a later `SegmentStore.gc` drops). */
  def storeBytes(root: String): Long =
    graft.index.SegmentStore.latest(root) match {
      case None => 0L
      case Some(m) =>
        (m.segments.map(_.id) ++ m.deletes).map(d => treeBytes(s"$root/$d")).sum +
          Files.size(Paths.get(root, "manifest", s"v${m.version}.json"))
    }

  /** Bytes of every regular file under `root`. */
  def treeBytes(root: String): Long = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}
