package perfbench

/** The machine conditions each run is stamped with, measured as
  * `graft.Bench` measures them: the 1-minute load average, the per-core
  * throughput probe (min/max work per core over a fixed window), and the
  * share of the machine's CPU other processes used during the window. */
object Conditions {
  def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Whole-machine busy CPU seconds since boot (USER_HZ = 100). */
  def machineBusySec(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cols = try f.getLines().next().trim.split("\\s+") finally f.close()
      val v = cols.drop(1).map(_.toDouble)
      (v(0) + v(1) + v(2) + v(5) + v(6) + (if (v.length > 7) v(7) else 0.0)) / 100.0
    } catch { case _: Throwable => -1.0 }

  /** This JVM's consumed CPU seconds. */
  def selfCpuSec(): Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    catch { case _: Throwable => -1.0 }

  /** One burn thread per core for ~300 ms; returns (min/max completed
    * work ratio, max per-core rate). Dedicated cores read near 1.0. */
  def coreRatio(): (Double, Long) = {
    val n = Runtime.getRuntime.availableProcessors()
    val counts = new java.util.concurrent.atomic.AtomicLongArray(n)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        var x = i.toLong + 1L
        var c = 0L
        while (!stop.get()) {
          var j = 0
          while (j < 10000) {
            x = x * 6364136223846793005L + 1442695040888963407L
            j += 1
          }
          c += 1L
        }
        counts.set(i, math.max(1L, c + (x & 1L)))
      })
      t.setDaemon(true); t.start(); t
    }
    Thread.sleep(300L)
    stop.set(true)
    threads.foreach(_.join(2000L))
    val vals = (0 until n).map(counts.get)
    if (vals.exists(_ <= 0L)) (0.0, 0L) else (vals.min.toDouble / vals.max, vals.max)
  }

  /** Starts a window; the returned function gives the external CPU share
    * (other processes' busy CPU over machine capacity) since then. */
  def externalCpuShare(): () => Double = {
    val busy0 = machineBusySec(); val self0 = selfCpuSec(); val t0 = System.nanoTime()
    val n = Runtime.getRuntime.availableProcessors()
    () => {
      val wall = (System.nanoTime() - t0) / 1e9
      val busy1 = machineBusySec(); val self1 = selfCpuSec()
      if (busy0 < 0 || busy1 < 0 || self0 < 0 || self1 < 0 || wall <= 0) -1.0
      else math.max(0.0, ((busy1 - busy0) - (self1 - self0)) / (wall * n))
    }
  }
}
