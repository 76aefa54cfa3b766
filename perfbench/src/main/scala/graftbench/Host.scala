package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

/** Process and host readings: CPU time, GC, heap, and the measurement-window
  * fingerprint (steal, load, a fixed CPU canary). Neighbour-VM steal on a
  * shared host moves wall times by 10–30% and loadavg does not show it, so
  * every result carries the window it was measured in. */
object Host {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM process, all threads, in nanoseconds. */
  def processCpuNs(): Long = os.getProcessCpuTime

  /** Total GC time so far, milliseconds. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, MiB. */
  def heapPeakMb(): Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  /** Aggregate `cpu` line of /proc/stat: (steal, total) jiffies. */
  final case class CpuTimes(steal: Long, total: Long)

  def cpuTimes(): Option[CpuTimes] =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal (guest is already
      // counted inside user)
      Some(CpuTimes(f(7), f.take(8).sum))
    } catch { case _: Throwable => None }

  def stealFrac(a: Option[CpuTimes], b: Option[CpuTimes]): Double =
    (a, b) match {
      case (Some(x), Some(y)) if y.total > x.total =>
        (y.steal - x.steal).toDouble / (y.total - x.total)
      case _ => 0.0
    }

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** A fixed pure-CPU task: a 200k-step sha256 chain, single thread, best
    * of three. Its time moves only with the CPU this process is given. */
  def canaryMs(): Double = {
    def once(): Double = {
      val md = MessageDigest.getInstance("SHA-256")
      var d = new Array[Byte](32)
      val t0 = System.nanoTime()
      var i = 0
      while (i < 200000) { d = md.digest(d); i += 1 }
      (System.nanoTime() - t0) / 1e6
    }
    (0 until 3).map(_ => once()).min
  }
}
