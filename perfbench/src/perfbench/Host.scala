package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Host and process counters sampled at the edges of a measured window:
  * host CPU steal (from /proc/stat), JVM GC time and process CPU time. */
final case class HostSample(stealTicks: Long, totalTicks: Long, gcMs: Long,
                            cpuNs: Long)

object Host {
  def sample(): HostSample = {
    // first line of /proc/stat: cpu user nice system idle iowait irq softirq steal ...
    val (steal, total) =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } catch { case _: Exception => (0L, 0L) }
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    HostSample(steal, total, gc, cpu)
  }

  /** Steal share of all host CPU time between two samples, in percent. */
  def stealPct(a: HostSample, b: HostSample): Double = {
    val dt = b.totalTicks - a.totalTicks
    if (dt <= 0) 0.0 else 100.0 * (b.stealTicks - a.stealTicks) / dt
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
