package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. One invocation is one run of one
  * workload:
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --result <file> [--data <sfDir>]
  * }}}
  *
  * It sets up (several times, so set-up time has a median), warms up,
  * measures operations for `--seconds`, checks every output, and
  * writes raw measurements to `--result` as JSON; `perfbench/run.py`
  * turns them into metrics. All program output and Spark scratch go
  * under `--work`, which the run deletes. */
object Main {

  final class Ctx(val args: Map[String, String]) {
    val workload: String = args("workload")
    val seed: Long = args("seed").toLong
    val seconds: Double = args("seconds").toDouble
    val traced: Boolean = args.getOrElse("trace", "0") == "1"
    val work: String = args("work")
    /** Spark's worker threads: the JVM's processor count, which
      * `run.py` caps below the box's (`--nproc`). */
    val cores: Int = Runtime.getRuntime.availableProcessors()
    val nproc: Int = args.get("nproc").map(_.toInt).getOrElse(cores)
    val trace = new Trace(System.nanoTime())
    trace.enabled = traced
    val counters = new Counters(trace)
    val progress = new StreamProgress(trace)
    val out = mutable.LinkedHashMap.empty[String, Any]
    var spark: SparkSession = _
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]

    /** Record one checked operation; `problem` set means it failed. */
    def check(problem: Option[String]): Unit = {
      attempted += 1
      problem.foreach { p => failed += 1; if (problems.size < 50) problems += p }
    }

    def startSession(): Unit = {
      spark = trace.span("sessions.start") { graft.Sessions.local(cores) }
      if (traced) {
        spark.sparkContext.addSparkListener(counters)
        spark.streams.addListener(progress)
        spark.sparkContext.setLocalProperty("perfbench.tag", null)
      }
    }

    def stopSession(): Unit = if (spark != null) {
      trace.span("sessions.stop") {
        spark.streams.active.foreach(_.stop())
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = null
    }

    def tag(t: String): Unit = spark.sparkContext.setLocalProperty("perfbench.tag", t)

    /** Let listeners see every event of finished actions. */
    def drainEvents(): Unit =
      if (traced && spark != null)
        org.apache.spark.perfbenchshim.BusShim.drain(spark.sparkContext)

    /** Switch tracing (spans and listeners) on or off mid-run. */
    def setTracing(on: Boolean): Unit = if (traced && trace.enabled != on) {
      if (on) {
        spark.sparkContext.addSparkListener(counters)
        spark.streams.addListener(progress)
      } else {
        spark.sparkContext.removeSparkListener(counters)
        spark.streams.removeListener(progress)
      }
      trace.enabled = on
    }

    /** The untraced control of a traced run: `body` with tracing off,
      * inside one `bench.untraced_control` span. Tracing overhead is the
      * traced operations against these. */
    def untraced[T](body: => T): T =
      trace.span("bench.untraced_control") {
        drainEvents() // the last traced action's events reach the counters
        setTracing(false)
        try body finally setTracing(true)
      }

    /** Start of the timed window: counters cover it alone. */
    def startMeasuring(): Unit = { drainEvents(); counters.reset(); progress.reset() }

    def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    /** CPU time of the whole JVM (every thread: tasks, driver, GC,
      * JIT) in ns. Time the host steals from the box's cores is not in
      * it, nor time the threads wait for a core. */
    def cpuNanos(): Long = Main.os.getProcessCpuTime
    def cpuSecs(c0: Long): Double = (cpuNanos() - c0) / 1e9
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val ctx = new Ctx(args)
    val (steal0, total0) = Box.cpuJiffies()
    val load0 = Box.loadAvg()
    val t0 = System.nanoTime()
    try ctx.trace.span("run") {
      ctx.workload match {
        case "bulk_acquisition" => Bulk.run(ctx)
        case "landing_fleet" => Landing.run(ctx)
        case "query_mix" => QueryMix.run(ctx, args.getOrElse("data", ""))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch { case e: Throwable =>
      e.printStackTrace()
      // Spark's non-daemon threads must not keep a failed run alive
      System.exit(1)
    } finally {
      ctx.drainEvents()
      ctx.stopSession()
    }
    val wall = ctx.secs(t0)
    val (steal1, total1) = Box.cpuJiffies()
    ctx.out("wall_s") = wall
    ctx.out("attempted") = ctx.attempted
    ctx.out("failed") = ctx.failed
    ctx.out("problems") = ctx.problems.toSeq
    ctx.out("peak_rss_mb") = Box.peakRssMb()
    ctx.out("counters") = ctx.counters.snapshot
    ctx.out("streaming") = ctx.progress.summary
    ctx.out("spans") = Json.Raw(ctx.trace.toJson)
    ctx.out("box") = Map(
      "nproc" -> ctx.nproc,
      "threads" -> ctx.cores,
      "loadavg_start" -> load0,
      "loadavg_end" -> Box.loadAvg(),
      "steal_frac" -> (if (total1 > total0)
        (steal1 - steal0).toDouble / (total1 - total0) else 0.0),
      "memcpy_gbps" -> Box.memcpyGbps(ctx.cores))
    Files.writeString(Paths.get(args("result")), Json.value(ctx.out) + "\n")
    // streaming and pool threads must not keep the JVM alive
    System.exit(0)
  }
}
