package graft.perfbench

import java.nio.file.{Files, Paths}

/** Host-noise probes: machine-wide CPU steal from /proc/stat (the same
  * reading graft.Bench takes), a fixed-work calibration timed at the
  * start and end of each measurement, and the JVM's peak resident set. */
object Host {
  /** Machine-wide steal seconds so far (USER_HZ = 100 ticks/s). */
  def stealSeconds(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      line.trim.split("\\s+")(8).toDouble / 100.0
    } catch { case _: Throwable => 0.0 }

  /** Milliseconds for a fixed amount of single-threaded integer work,
    * the fastest of five tries. The result feeds a sink so the JIT
    * cannot drop the loop. */
  @volatile private var sink = 0L
  def calibrate(): Double = (1 to 5).map { _ =>
    val t0 = System.nanoTime()
    var h = 1469598103934665603L
    var i = 0
    while (i < 20000000) {
      h = (h ^ i) * 1099511628211L
      h ^= h >>> 29
      i += 1
    }
    sink += h
    (System.nanoTime() - t0) / 1e6
  }.min

  /** Garbage-collection time of this JVM so far, all collectors. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => 0.0 }
}
