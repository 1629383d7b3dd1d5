package perfbench

import java.nio.file.{Files, Paths}

/** Box-health readings recorded next to every run, so a drifting
  * window (CPU steal, a co-tenant memory-bandwidth squeeze) shows in
  * the artifact instead of reading as a regression. */
object Box {

  private def read(p: String): String =
    try Files.readString(Paths.get(p)) catch { case _: Throwable => "" }

  /** (steal, total) jiffies from the aggregate `cpu` line. */
  def cpuJiffies(): (Long, Long) =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu ")) match {
      case Some(l) =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      case None => (0L, 0L)
    }

  def loadAvg(): Seq[Double] =
    read("/proc/loadavg").trim.split("\\s+").take(3).toSeq
      .flatMap(_.toDoubleOption)

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** The multi-threaded copy probe `graft.Bench` uses as its
    * bandwidth control: `threads` × 32 MiB src/dst, 3 passes each,
    * aggregate GB/s over the slowest thread. */
  def memcpyGbps(threads: Int): Double = {
    val bytes = 32 << 20
    val passes = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val tasks = (0 until threads).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            val src = new Array[Byte](bytes)
            val dst = new Array[Byte](bytes)
            val t0 = System.nanoTime()
            var p = 0
            while (p < passes) {
              System.arraycopy(src, 0, dst, 0, bytes)
              System.arraycopy(dst, 0, src, 0, bytes)
              p += 1
            }
            System.nanoTime() - t0
          }
        })
      }
      val nanos = tasks.map(_.get()).max.toDouble
      threads.toLong * 2L * passes * bytes / nanos
    } finally pool.shutdown()
  }
}
