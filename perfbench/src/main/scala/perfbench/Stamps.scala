package perfbench

import scala.util.Try

/** Host conditions recorded at the start and end of every run, so a run
  * measured under foreign load is identifiable from its record alone. */
object Stamps {
  private def read(path: String): Option[String] =
    Try(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))).toOption

  def load1: Double =
    read("/proc/loadavg").flatMap(s => Try(s.trim.split("\\s+")(0).toDouble).toOption)
      .getOrElse(-1.0)

  /** PSI cpu `some` avg10 and avg60 (percent), -1 where the kernel lacks PSI. */
  def psiCpu: (Double, Double) = read("/proc/pressure/cpu").flatMap { s =>
    s.linesIterator.find(_.startsWith("some")).map { l =>
      val kv = l.split("\\s+").drop(1).map(_.split("=")).collect { case Array(k, v) => k -> v }.toMap
      (kv.get("avg10").map(_.toDouble).getOrElse(-1.0), kv.get("avg60").map(_.toDouble).getOrElse(-1.0))
    }
  }.getOrElse((-1.0, -1.0))

  /** Aggregate (steal, total) jiffies from /proc/stat: time the host gave
    * this machine's vCPUs to someone else. */
  def cpuJiffies: (Long, Long) = read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
    .map { l =>
      val f = l.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }.getOrElse((0L, 0L))

  /** JVM process CPU time (all threads), in seconds. */
  def processCpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => -1.0
  }

  def now(): Map[String, Any] = {
    val (p10, p60) = psiCpu
    val (steal, total) = cpuJiffies
    Map("load1" -> load1, "psi_cpu_some_avg10" -> p10, "psi_cpu_some_avg60" -> p60,
      "disk_free_gb" -> graft.util.Disk.freeGb("."), "process_cpu_s" -> processCpuS,
      "cpu_steal_jiffies" -> steal, "cpu_total_jiffies" -> total)
  }
}
