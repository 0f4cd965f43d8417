package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files => JFiles, Path => JPath, Paths}

/** Small helpers: JSON, file-tree sizes, /proc probes, stats. */
object Util {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Scala maps, sequences, options and scalars as JSON. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  /** A JSON object of string keys to string values, the shape of the
    * expectations file. */
  def readStringMap(path: String): Map[String, String] =
    mapper.readValue(new java.io.File(path), classOf[Map[String, String]])

  def writeString(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(JFiles.createDirectories(_))
    JFiles.writeString(p, s)
  }

  def deleteTree(p: JPath): Unit =
    if (JFiles.exists(p)) {
      val s = JFiles.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => JFiles.deleteIfExists(x))
      finally s.close()
    }

  /** Bytes of the regular files under `dir`; `dataOnly` skips checksum
    * side files and hidden or underscore-prefixed bookkeeping files. */
  def treeBytes(dir: String, dataOnly: Boolean = false): Long = {
    val p = Paths.get(dir)
    if (!JFiles.exists(p)) 0L
    else {
      val s = JFiles.walk(p)
      try s.filter(JFiles.isRegularFile(_)).filter { f =>
        val n = f.getFileName.toString
        !dataOnly || !(n.endsWith(".crc") || n.startsWith(".") || n.startsWith("_"))
      }.mapToLong(f => JFiles.size(f)).sum()
      finally s.close()
    }
  }

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case _: Throwable => "unavailable" }

  /** Peak resident set of this JVM in MB (VmHWM); local mode holds the
    * driver and the executors in this one process. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  /** Median as Python's `statistics.median`: the mean of the middle two
    * for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile; `None` unless at least ten samples lie
    * beyond it, so a tail figure is never read off a handful of points. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    val s = xs.sorted
    val idx = math.ceil(p * s.size).toInt - 1
    if (s.isEmpty || s.size - 1 - idx < 10) None else Some(s(idx.max(0)))
  }
}
