package perfbench

import scala.io.Source
import scala.util.Try

final case class Metric(name: String, value: Double, unit: String)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile of an ascending sequence (an element of it). */
  def nearestRank(sorted: IndexedSeq[Int], p: Double): Int =
    if (sorted.isEmpty) 0
    else sorted(math.max(0, math.ceil(p / 100.0 * sorted.length).toInt - 1))

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Host stamp carried by every record. */
object Host {
  def loadavg: String =
    Try(Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+").take(3).mkString(" ")).getOrElse("")

  /** Aggregate CPU jiffies from /proc/stat: (steal, total). */
  def cpuJiffies: (Long, Long) =
    Try {
      val src = Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    }.getOrElse((0L, 0L))

  /** VmHWM of this JVM, in MiB. */
  def rssPeakMb: Double =
    Try {
      val src = Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.get
      finally src.close()
    }.getOrElse(0.0)

  def stamp(nproc: Int, loadStart: String, cpuStart: (Long, Long)): Map[String, Any] = {
    val (steal, total) = cpuJiffies
    val args = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
    val xmx = scala.jdk.CollectionConverters.ListHasAsScala(args).asScala.filter(_.startsWith("-Xmx")).lastOption
    Map(
      "nproc" -> nproc,
      "loadavg_start" -> loadStart,
      "loadavg_end" -> loadavg,
      // share of the host's CPU time taken by other guests during the run
      "cpu_steal_share" -> (if (total > cpuStart._2) (steal - cpuStart._1).toDouble / (total - cpuStart._2) else 0.0),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "xmx" -> xmx.getOrElse(s"${Runtime.getRuntime.maxMemory / (1 << 20)}m (default)"))
  }
}
