package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Run-wide JVM and host readings: GC time, hypervisor steal from
  * /proc/stat, core count. */
final class Host {
  private val gc0 = Host.gcTotalMs
  private val cpu0 = Host.cpuTimes()

  def gcMs: Double = (Host.gcTotalMs - gc0).toDouble

  /** Share of CPU time the hypervisor took since the run started. */
  def stealFrac: Double = (cpu0, Host.cpuTimes()) match {
    case (Some(a), Some(b)) =>
      val d = b.zip(a).map { case (x, y) => x - y }
      if (d.sum <= 0) 0.0 else d.lift(7).getOrElse(0L).toDouble / d.sum
    case _ => 0.0
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors()
}

/** Wall time of one timed call, with the process CPU time it used and
  * the host's busy and stolen CPU ticks over the same interval. */
final case class Call(wallMs: Double, cpuMs: Double, busyTicks: Long, stealTicks: Long) {
  /** Share of the CPU time the guest wanted that the hypervisor took. */
  def stealShare: Double =
    if (busyTicks + stealTicks <= 0) 0.0
    else stealTicks.toDouble / (busyTicks + stealTicks)

  /** Wall time net of hypervisor steal: the time the call would have
    * taken had the guest's CPUs not been taken away (equal to `wallMs`
    * on a host that steals nothing). */
  def netMs: Double = wallMs * (1.0 - stealShare)
}

object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Clock, process CPU time and host CPU ticks at one instant. */
  final case class Mark(nanos: Long, cpuNanos: Long, ticks: Option[Seq[Long]])

  def mark(): Mark = Mark(System.nanoTime(), os.getProcessCpuTime, cpuTimes())

  /** The interval from `a` to `b` as a [[Call]]. */
  def between(a: Mark, b: Mark): Call = {
    val (busy, steal) = (a.ticks, b.ticks) match {
      case (Some(x), Some(y)) =>
        val d = y.zip(x).map { case (p, q) => p - q }
        // user nice system _idle_ _iowait_ irq softirq | steal
        (d(0) + d(1) + d(2) + d(5) + d(6), d(7))
      case _ => (0L, 0L)
    }
    Call((b.nanos - a.nanos) / 1e6, (b.cpuNanos - a.cpuNanos) / 1e6, busy, steal)
  }

  /** Times `f` as a [[Call]]. */
  def call[T](f: => T): (T, Call) = {
    val m = mark()
    val r = f
    (r, between(m, mark()))
  }

  def gcTotalMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** The aggregate `cpu` line of /proc/stat (user nice system idle
    * iowait irq softirq steal), if readable. */
  def cpuTimes(): Option[Seq[Long]] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu "))
      .map(_.split("\\s+").toSeq.slice(1, 9).map(_.toLong))
    finally src.close()
  } catch { case _: Throwable => None }
}
