package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** Host-noise record: CPU steal and this JVM's peak heap. Read-only;
  * nothing here changes kernel or device state. */
object Host {

  /** (all jiffies, steal jiffies) from the aggregate line of /proc/stat,
    * or None where the file does not exist. */
  def cpuJiffies(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      finally src.close()
      Some((f.sum, if (f.length > 7) f(7) else 0L))
    } catch { case _: Exception => None }

  def stealFrac(before: Option[(Long, Long)], after: Option[(Long, Long)]): Double =
    (before, after) match {
      case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => 0.0
    }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetPeakHeap(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peaks since the last reset (an upper bound
    * on the peak of their sum). */
  def peakHeapMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
