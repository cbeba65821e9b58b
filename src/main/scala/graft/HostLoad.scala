package graft

/** Host load / contention probes for perfbench, recorded next to every
  * timed round: a timing needs contention evidence, or a co-tenant burst
  * on a shared host skews it without a trace.
  *
  * All probes are read-only procfs reads or a bounded spin; each returns a
  * sentinel (-1) instead of throwing on a non-Linux / unreadable host so
  * callers record-but-never-flag.
  */
object HostLoad {

  /** 1-minute load average from /proc/loadavg (-1 if unreadable). */
  def loadavg(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (system-wide busy jiffies, this process's busy jiffies). The round-5
    * verdict showed why a probe can't carry the contention guard: a
    * single-thread spin runs clean while a co-tenant holds 5 of 32 cores,
    * because the probe thread always finds a free core — yet the 32-thread
    * query sweep loses those 5 cores for its whole runtime. And loadavg is
    * a 1-minute EMA polluted by our own sweep for a minute after every
    * query. The signal immune to both is CPU accounting over the exact run
    * window: delta(/proc/stat busy) - delta(/proc/self utime+stime) is the
    * jiffies OTHER processes (plus hypervisor steal) consumed while the
    * query ran; divided by wall time it is the number of cores we did not
    * get. */
  def cpuJiffies(): (Long, Long) =
    try {
      val sys = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().split("\\s+")
      // cpu user nice system idle iowait irq softirq steal ...
      // busy = user+nice+system+irq+softirq+steal (idle/iowait excluded;
      // steal is hypervisor-side contention we also did not get to use)
      val busy = Seq(1, 2, 3, 6, 7, 8).map(i => sys(i).toLong).sum
      val self = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")), "UTF-8")
        .split("\\s+")
      // fields 14/15 (1-based) = utime/stime, summed over all our threads
      (busy, self(13).toLong + self(14).toLong)
    } catch { case _: Throwable => (-1L, -1L) }

  /** Average number of cores consumed by processes OTHER than this JVM
    * between two cpuJiffies() snapshots spanning `wallSec`. -1 if procfs
    * was unreadable (non-Linux), in which case the guard records but never
    * flags. USER_HZ is 100 on every mainstream Linux (getconf CLK_TCK). */
  def externalCores(before: (Long, Long), after: (Long, Long),
                    wallSec: Double): Double = {
    if (before._1 < 0 || after._1 < 0 || wallSec <= 0) return -1.0
    val ext = (after._1 - before._1) - (after._2 - before._2)
    math.max(0.0, ext.toDouble / 100.0 / wallSec)
  }

  /** Single-thread host-speed stamp (million mix-ops/sec over ~250 ms of
    * a fixed integer-mixing loop). ext_cores catches co-tenant CPU theft
    * but NOT a host that is simply running slower (frequency scaling,
    * hypervisor throttling — observed round 12: the same-code sweep and
    * the DuckDB oracle both slowed ~1.7× together for a stretch, with
    * ext ≈ 0). Recording the stamp at sweep start and end makes every
    * committed number interpretable across rounds: divide by the stamp
    * ratio before comparing hosts. */
  def hostSpeedMops(): Double = {
    var x = 0x9e3779b97f4a7c15L
    var ops = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + 250000000L
    while (System.nanoTime() < deadline) {
      var i = 0
      while (i < 1000000) {
        x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
        x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
        i += 1
      }
      ops += 1000000L
    }
    if (x == 42L) println("") // keep the loop un-eliminable
    val took = (System.nanoTime() - t0).toDouble
    math.round(ops / (took / 1e9) / 1e6 * 10.0) / 10.0
  }
}
