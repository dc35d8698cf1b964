package graftbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Host and JVM readings recorded with every run (never gated): CPU steal
  * from /proc/stat, process CPU time, GC totals, peak and live heap, and peak RSS.
  */
object Host {
  private def procStatCpu: Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1).map(_.toLong))
        .getOrElse(Array.empty)
      finally src.close()
    } catch { case _: Exception => Array.empty }

  /** Host-wide CPU steal so far, in seconds (USER_HZ = 100). */
  def stealSeconds: Double = {
    val f = procStatCpu
    if (f.length > 7) f(7) / 100.0 else 0.0
  }

  def processCpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  private def procStatus(field: String): Option[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith(field + ":"))
        .map(_.split("\\s+")(1).toLong)
      finally src.close()
    } catch { case _: Exception => None }

  /** Peak resident set size (VmHWM), MiB. */
  def peakRssMb: Double = procStatus("VmHWM").map(_ / 1024.0).getOrElse(0.0)

  def gcCount: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionCount).filter(_ >= 0).sum
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Sum of the heap pools' peak usage, MiB. */
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap in use right after a full collection, MiB: what the program
    * still holds (caches, persisted blocks, session state), without the
    * garbage and the untouched regions that peak heap and RSS include. The
    * collection counts in [[gcCount]] and [[gcMs]].
    */
  def liveHeapMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def jvmStartEpochMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  def jvmFlags: Seq[String] = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    .filterNot(_.startsWith("--add-opens")).toSeq
  def maxHeapMb: Long = Runtime.getRuntime.maxMemory / 1048576
}

/** Wall, steal and CPU seconds per phase of a run; each phase is also the
  * root span of the operations inside it.
  */
final class PhaseClock(tracer: Tracer) {
  private val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double, Double)]

  def apply[T](name: String)(body: => T): T = {
    val w0 = System.nanoTime(); val s0 = Host.stealSeconds; val c0 = Host.processCpuSeconds
    try tracer.span(s"phase $name")(body)
    finally rows += ((name, (System.nanoTime() - w0) / 1e9, Host.stealSeconds - s0,
      Host.processCpuSeconds - c0))
  }

  def asJson: String = rows.map { case (n, w, s, c) =>
    Json.obj("phase" -> n, "wall_s" -> w, "steal_s" -> s, "cpu_s" -> c)
  }.mkString("[", ",", "]")
}
