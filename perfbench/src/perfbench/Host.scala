package perfbench

import java.io.File

/** Process and host counters read from /proc, plus small file helpers. */
object Host {

  /** CPU seconds this JVM has used (all threads). */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Host-wide (system, steal) CPU seconds since boot, from /proc/stat. */
  def sysAndSteal(): (Double, Double) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).map(_.toDouble)
      (f(2) / 100.0, (if (f.length > 7) f(7) else 0.0) / 100.0)
    } finally src.close()
  } catch { case _: Exception => (0.0, 0.0) }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble * 1024 / 1e6).getOrElse(0.0)
    finally src.close()
  } catch { case _: Exception => 0.0 }

  /** (bytes, files) under `dir`; entries that vanish mid-walk are skipped. */
  def treeSize(dir: File): (Long, Long) = {
    var bytes = 0L
    var files = 0L
    def walk(f: File): Unit = {
      val kids = f.listFiles()
      if (kids == null) { if (f.isFile) { bytes += f.length(); files += 1 } }
      else kids.foreach(walk)
    }
    if (dir.exists()) walk(dir)
    (bytes, files)
  }

  def rmTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmTree)
    f.delete(): Unit
  }

  /** Samples the byte size of a directory tree every `periodMs` on a daemon
    * thread and keeps the maximum (Spark's scratch lives and dies inside one
    * operation, so only a sampler sees its peak).
    */
  final class PeakSampler(dir: File, periodMs: Long = 20L) {
    @volatile private var running = true
    @volatile private var peak = 0L
    private val t = new Thread(() => {
      while (running) {
        peak = math.max(peak, treeSize(dir)._1)
        Thread.sleep(periodMs)
      }
    }, "perfbench-scratch-sampler")
    t.setDaemon(true)
    t.start()

    /** Stops the sampler, takes a last sample and returns the peak in MB. */
    def stop(): Double = {
      running = false
      t.join()
      math.max(peak, treeSize(dir)._1) / 1e6
    }
  }
}
