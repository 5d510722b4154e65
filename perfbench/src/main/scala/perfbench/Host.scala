package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** What the OS reports about this process and the machine. */
object Host {

  /** Aggregate `cpu` line of /proc/stat: user nice system idle iowait irq
    * softirq steal, in clock ticks; zeros where /proc is absent.
    */
  def cpuTicks(): Array[Long] =
    try {
      Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+").drop(1).take(8).map(_.toLong)).getOrElse(Array.fill(8)(0L))
    } catch { case _: java.io.IOException => Array.fill(8)(0L) }

  /** (steal, idle) shares of all ticks between two [[cpuTicks]] readings. */
  def stealIdle(before: Array[Long], after: Array[Long]): (Double, Double) = {
    val d = after.zip(before).map { case (a, b) => a - b }
    val total = d.sum.toDouble
    if (total <= 0) (0.0, 0.0) else (d(7) / total, d(3) / total)
  }

  def loadAvg1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: java.io.IOException => 0.0 }

  /** CPU time of every thread of this process, seconds. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }
}

/** The little JSON the harness writes. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
