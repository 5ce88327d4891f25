package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Host witnesses recorded beside every run, so a slow run can be blamed on
  * the host from its own detail file: hypervisor steal, storage iowait, a
  * fixed-work CPU canary (slow silicon or SMT pressure shows as a slow
  * canary), the 1-minute load, plus the pinned `local[N]` and driver heap.
  * No run is dropped on a witness; they are only reported.
  */
object Host {

  /** Aggregate `/proc/stat` cpu field i in jiffies, -1 when unreadable. */
  private def procStat(i: Int): Long =
    try {
      val p = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (p.length > i) p(i).toLong else -1L
    } catch { case NonFatal(_) => -1L }

  /** ~8M xorshift steps on one thread, in microseconds. */
  def canaryMicros(): Long = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 8000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1000
  }
  @volatile private var sink = 0L

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** JVM-wide garbage-collection time so far, ms. */
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Witnesses over a measured window: open one before, close it after. */
  final class Window(cpus: Int) {
    private val canaryBefore = canaryMicros()
    private val loadBefore = loadAvg()
    private val steal0 = procStat(8)
    private val iowait0 = procStat(5)

    def close(): Map[String, Any] = {
      // jiffy = 10 ms at the standard USER_HZ = 100
      def delta(a: Long, b: Long): Long = if (a < 0 || b < 0) -1L else (b - a) * 10L
      Map(
        "steal_ms" -> delta(steal0, procStat(8)),
        "iowait_ms" -> delta(iowait0, procStat(5)),
        "canary_us_before" -> canaryBefore,
        "canary_us_after" -> canaryMicros(),
        "load_avg_1m_before" -> loadBefore,
        "load_avg_1m_after" -> loadAvg(),
        "local_cpus" -> cpus,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))
    }
  }
}
