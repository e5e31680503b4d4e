package lakebench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Host and process probes: run metadata (steal, CPU calibration) and
  * the JVM and disk figures the report needs. */
object Host {
  /** (steal ticks, all ticks) of the aggregate cpu line of /proc/stat. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(new File("/proc/stat").toPath, StandardCharsets.UTF_8).asScala
      val v = f.head.trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Seconds for a fixed, allocation-free integer loop on one thread:
    * the host's effective single-core speed right now. */
  def calibrate(iters: Long = 200000000L): Double = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < iters) {
      h = h * 0x9E3779B97F4A7C15L + i
      h ^= (h >>> 29)
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (h == 42L) println("") // keeps the loop's result alive
    s
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try {
      Files.readAllLines(new File("/proc/self/status").toPath, StandardCharsets.UTF_8).asScala
        .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
        .getOrElse(0.0)
    } catch { case _: Exception => 0.0 }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def heapUsedMb(): Double = {
    val r = Runtime.getRuntime
    (r.totalMemory() - r.freeMemory()) / 1048576.0
  }

  /** (files, bytes) under `dir`, or of the data files only. */
  def du(dir: File, parquetOnly: Boolean = false): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else {
      val s = Files.walk(dir.toPath)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p))
        .filter(p => !parquetOnly || p.getFileName.toString.endsWith(".parquet"))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }
}
