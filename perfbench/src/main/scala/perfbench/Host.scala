package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Host and process readings: CPU steal, load, peak RSS, GC time and
  * on-disk sizes. Readings a platform lacks come back as -1. */
object Host {

  private def procLine(path: String, prefix: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().find(_.startsWith(prefix)) finally src.close()
    } catch { case _: java.io.IOException => None }

  /** Steal jiffies so far (8th value of the aggregate cpu line of /proc/stat). */
  def stealJiffies(): Long =
    procLine("/proc/stat", "cpu ").map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)

  /** All jiffies so far, summed over every CPU. */
  def totalJiffies(): Long =
    procLine("/proc/stat", "cpu ").map(_.trim.split("\\s+").drop(1).take(8).map(_.toLong).sum)
      .getOrElse(-1L)

  def load1(): Double =
    procLine("/proc/loadavg", "").map(_.trim.split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** Peak resident set size of this process in MB. */
  def peakRssMb(): Double =
    procLine("/proc/self/status", "VmHWM:").map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Total GC time of this JVM so far, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Steal and load around one timed window. A window counts as
    * contaminated when steal exceeds 2% of its CPU time or, before it
    * starts, the load is already twice the cores this benchmark uses. */
  final case class Window(stealJiffies: Long, cpuJiffies: Long, load1Start: Double,
      load1End: Double, cores: Int) {
    def stealShare: Double = if (cpuJiffies <= 0) 0.0 else stealJiffies.toDouble / cpuJiffies
    def contaminated: Boolean =
      stealShare > 0.02 || load1Start > 2.0 * cores
  }

  final class WindowProbe(cores: Int) {
    private val steal0 = stealJiffies()
    private val total0 = totalJiffies()
    private val load0 = load1()

    def end(): Window = {
      val (s1, t1) = (stealJiffies(), totalJiffies())
      Window(if (steal0 < 0 || s1 < 0) -1L else s1 - steal0,
        if (total0 < 0 || t1 < 0) -1L else t1 - total0, load0, load1(), cores)
    }
  }
}
