package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Host-state probes recorded with every run, so a record taken on a
  * busy host shows it: the 1-minute load average and a fixed-work CPU
  * canary (wall seconds of a deterministic single-thread integer loop;
  * it slows uniformly when the host is contended even while the load
  * average looks idle).
  */
object Host {

  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  def canary(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL; i += 1 }
    if (x == 42L) print("") // keep the loop live
    (System.nanoTime() - t0) / 1e9
  }

  /** (steal, total) CPU jiffies of the host since boot, from /proc/stat:
    * their deltas over a run give the share of CPU time the hypervisor
    * gave to other guests.
    */
  def stealTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail.take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Load average and canary, taken together. */
  def sample(): Map[String, Double] = Map("loadavg" -> loadAvg(), "canary_s" -> canary())

  /** CPU time this process has used, all threads (JIT and GC included).
    * The guest kernel does not charge time stolen by the hypervisor to
    * the process, so this stays comparable on a contended host.
    */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** High-water resident set of this process, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** (files, bytes) of the regular files under `dir`, 0 when absent. */
  def du(dir: Path, filter: Path => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val fs = s.iterator().asScala.filter(p => Files.isRegularFile(p) && filter(p)).toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
}
