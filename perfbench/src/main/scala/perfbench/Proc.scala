package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Process-level readings taken from outside the engine. */
object Proc {
  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (all threads), ns. */
  def cpuNanos: Long = os.getProcessCpuTime

  /** JIT compilation time since start, summed over compiler threads, ms. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Heap bytes allocated by all JVM threads since start, exited ones too. */
  def allocBytes: Long = threads.getTotalThreadAllocatedBytes

  /** Heap bytes allocated by the calling thread since it started. */
  def threadAllocBytes: Long = threads.getCurrentThreadAllocatedBytes

  /** JVM start, epoch ms: set-up time is counted from here. */
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** High-water resident set size of this process, MiB. */
  def peakRssMb: Double =
    procLines("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def loadavg: String = procLines("/proc/loadavg").headOption.getOrElse("").trim

  /** Cumulative (steal, total) CPU ticks of the machine, from /proc/stat. */
  def cpuTicks: (Long, Long) =
    procLines("/proc/stat").find(_.startsWith("cpu ")).map { l =>
      val t = l.split("\\s+").drop(1).map(_.toLong)
      (if (t.length > 7) t(7) else 0L, t.sum)
    }.getOrElse((0L, 0L))

  private def procLines(p: String): Seq[String] =
    try scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(Paths.get(p))).asScala.toSeq
    catch { case _: java.io.IOException => Nil }
}

/** Order statistics over timing samples. */
object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
