package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.fixtures.AcquisitionFixture
import graft.fixtures.AcquisitionFixture.Spec
import graft.streaming.StreamingIngest

/** `landing_fleet`: an open-loop generator in one thread lands
  * acquisitions at a fixed rate while `StreamingIngest.run` tails the
  * landing dir with `Trigger.ProcessingTime(0)`.
  *
  * Fleet shape: `Devices` devices, each uploading consecutive
  * `AcqSeconds` acquisitions on one UTC day; files land one at a time
  * in a seeded order, each moved into place atomically (hidden temp
  * name, then rename — a GCS finalize); a few acquisitions never get
  * `device_config.json`. Latency runs from the *scheduled* landing of
  * an acquisition's last required file to its renamed RMS file being
  * visible, so generator stalls count against the system. */
object Landing {

  val Devices = 4
  val AcqSeconds = 10.0
  /** Offered load, acquisitions per second (below the serial
    * `foreachBatch` loop's capacity, so the backlog stays bounded). */
  val Rate = 0.5
  /** Seconds between consecutive files of one acquisition. */
  val FileGap = 0.05
  /** One acquisition in `IncompleteEvery` (seeded which) never gets
    * its device_config.json. */
  val IncompleteEvery = 10
  val SetupRounds = 3
  val Files3 = Seq("acquisition_info.json", "device_config.json", "iis3dwb_acc.dat")

  final case class Acq(idx: Int, name: String, spec: Spec, k: Int,
      complete: Boolean, order: Seq[String]) {
    def alias: String = spec.alias
    def stamp: String = name.substring(name.indexOf('_') + 1)
  }

  def run(ctx: Main.Ctx): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    // at least two acquisitions per device: the same-day fleet shape
    val n = math.max(2 * Devices, math.round(Rate * ctx.seconds).toInt)
    val day = java.time.Instant.parse("2025-07-11T00:00:00Z").getEpochSecond
    val base = day + 3600L + rnd.nextInt(18 * 3600)
    val aliases = (0 until Devices).map(d => f"F${ctx.seed % 1000}%03d${('A' + d).toChar}")
    val incomplete = (0 until n).grouped(IncompleteEvery)
      .map(g => g(rnd.nextInt(g.size))).toSet
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .withZone(java.time.ZoneOffset.UTC)
    val acqs = (0 until n).map { i =>
      val k = i / Devices
      val start = base + (k * AcqSeconds).toLong
      val spec = Fixture.spec(rnd, aliases(i % Devices), AcqSeconds)
        .copy(startTime = Fixture.startIso(start))
      val complete = !incomplete(i)
      val files = if (complete) Files3 else Files3.filterNot(_ == "device_config.json")
      Acq(i, s"${spec.alias}_${fmt.format(java.time.Instant.ofEpochSecond(start))}",
        spec, k, complete, rnd.shuffle(files))
    }
    val warm = Acq(-1, "WARM_20250711_000000",
      Fixture.spec(rnd, "WARM", AcqSeconds).copy(startTime = "2025-07-11T00:00:00Z"),
      0, complete = true, Files3)
    val (rows, rmsRows) = Fixture.expectedCounts(acqs.head.spec)
    ctx.out("acquisitions") = n
    ctx.out("incomplete") = incomplete.size
    ctx.out("rate_per_s") = Rate

    val landing = s"${ctx.work}/landing"
    val out = s"${ctx.work}/out"
    var stream: Thread = null

    def rmsFile(a: Acq): java.io.File = {
      val d = java.time.LocalDate.parse(a.spec.startTime.take(10))
      new java.io.File(s"$out/data_parquet_rms/alias=${a.alias}/year=${d.getYear}" +
        s"/month=${d.getMonthValue}/day=${d.getDayOfMonth}/iis3dwb_acc_${a.stamp}_rms_00000.parquet")
    }
    def land(a: Acq, file: String): Unit = {
      val dst = Paths.get(landing, a.name)
      Files.createDirectories(dst)
      val tmp = dst.resolve("." + file + ".tmp")
      Files.move(Paths.get(ctx.work, "staging", a.name, file), tmp)
      Files.move(tmp, dst.resolve(file), StandardCopyOption.ATOMIC_MOVE)
    }

    val setups = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      stopStream(ctx, stream)
      ctx.stopSession()
      ctx.startSession()
      Seq("landing", "out", "ckpt", "staging").foreach(d => Main.deleteTree(s"${ctx.work}/$d"))
      ctx.trace.span("fixtures.write") {
        (acqs :+ warm).foreach { a =>
          val dir = s"${ctx.work}/staging/${a.name}"
          if (a.complete) AcquisitionFixture.write(dir, a.spec)
          else AcquisitionFixture.writeIncomplete(dir, a.spec)
        }
      }
      Files3.foreach(f => land(warm, f))
      stream = startStream(ctx, landing, out)
      ctx.trace.span("bench.wait_warmup") {
        val deadline = System.nanoTime() + 120000000000L
        while (!rmsFile(warm).exists() && System.nanoTime() < deadline) Thread.sleep(5)
      }
      if (!rmsFile(warm).exists()) throw new IllegalStateException("warm-up acquisition never became visible")
      ctx.secs(t0)
    }
    ctx.out("setup_rounds_s") = setups

    ctx.startMeasuring()

    // open-loop generator (one thread) + visibility poller
    val t0 = System.nanoTime() + 200000000L
    val scheduled = acqs.map(a => t0 + ((a.idx / Rate + 2 * FileGap) * 1e9).toLong)
    val visible = scala.collection.mutable.Map.empty[Int, Long] // acq idx -> nanoTime seen
    val lateMax = new java.util.concurrent.atomic.AtomicLong(0L)
    val gen = new Thread(() => {
      acqs.foreach { a =>
        // traced runs alternate: odd acquisitions are the untraced control
        ctx.setTracing(a.idx % 2 == 0)
        a.order.zipWithIndex.foreach { case (f, j) =>
          val due = t0 + ((a.idx / Rate + j * FileGap) * 1e9).toLong
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          ctx.trace.span("fixtures.land")(land(a, f))
          lateMax.accumulateAndGet(System.nanoTime() - due, math.max)
        }
      }
    }, "perfbench-landing-generator")
    var backlogMax = 0
    val complete = acqs.filter(_.complete)
    val c0 = ctx.cpuNanos()
    ctx.trace.span("bench.wait_landing") {
      gen.start()
      val deadline = scheduled.last + 60000000000L
      while ((visible.size < complete.size || gen.isAlive) && System.nanoTime() < deadline) {
        val now = System.nanoTime()
        complete.foreach { a =>
          if (!visible.contains(a.idx) && rmsFile(a).exists()) visible(a.idx) = now
        }
        val backlog = complete.count(a => scheduled(a.idx) <= now && !visible.contains(a.idx))
        backlogMax = math.max(backlogMax, backlog)
        Thread.sleep(5)
      }
      gen.join()
    }
    // JVM CPU of the whole landing window (stream, generator, poller)
    // per acquisition landed
    ctx.out("op_cpus_s") = Seq(ctx.cpuSecs(c0) / n)
    ctx.setTracing(true)
    stopStream(ctx, stream)
    ctx.drainEvents()
    val latency = complete.flatMap(a => visible.get(a.idx).map(v => a.idx -> (v - scheduled(a.idx)) / 1e9))
    ctx.out("latencies_s") = latency.map(_._2)
    if (ctx.traced) {
      ctx.out("traced_walls_s") = latency.collect { case (i, l) if i % 2 == 0 => l }
      ctx.out("control_walls_s") = latency.collect { case (i, l) if i % 2 == 1 => l }
    }
    ctx.out("gen_late_max_s") = lateMax.get / 1e9
    ctx.out("backlog_max") = backlogMax

    ctx.trace.span("bench.verify") { verify(ctx, acqs, out, base, rows, rmsRows, visible) }
  }

  private def startStream(ctx: Main.Ctx, landing: String, out: String): Thread = {
    val spark = ctx.spark
    val t = new Thread(() => {
      try StreamingIngest.run(spark, landing, out, s"${ctx.work}/ckpt", Trigger.ProcessingTime(0))
      catch { case e: Throwable => System.err.println(s"[perfbench] stream ended: $e") }
    }, "perfbench-stream")
    t.setDaemon(true)
    t.start()
    t
  }

  private def stopStream(ctx: Main.Ctx, t: Thread): Unit = if (t != null) {
    ctx.trace.span("streaming.stop") {
      if (ctx.spark != null) ctx.spark.streams.active.foreach(_.stop())
      t.join(60000L)
    }
  }

  /** Every complete acquisition's rows and RMS rows must be in the
    * final tables with closed-form values; no incomplete acquisition
    * may be emitted. A complete acquisition whose rows are missing is
    * a failed (lost) operation. */
  private def verify(ctx: Main.Ctx, acqs: Seq[Acq], out: String, base: Long,
      rows: Long, rmsRows: Long, visible: scala.collection.Map[Int, Long]): Unit = {
    val spark = ctx.spark
    val fleet = acqs.map(_.alias).distinct
    val baseNs = base * 1000000000L
    val acqKey = ((col("Time") - lit(baseNs)) / lit((AcqSeconds * 1e9).toLong)).cast("long")
    def exists(p: String) = new java.io.File(p).exists()
    val counts: Map[(String, Long), Long] =
      if (!exists(s"$out/data_parquet")) Map.empty
      else spark.read.parquet(s"$out/data_parquet").where(col("alias").isin(fleet: _*))
        .groupBy(col("alias"), acqKey.as("k")).count().collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rms: Map[(String, Long), Seq[(Double, Double, Double)]] =
      if (!exists(s"$out/data_parquet_rms")) Map.empty
      else spark.read.parquet(s"$out/data_parquet_rms").where(col("alias").isin(fleet: _*))
        .select(col("alias"), acqKey.as("k"), col("rms_x"), col("rms_y"), col("rms_z"))
        .collect().toSeq
        .groupBy(r => (r.getString(0), r.getLong(1)))
        .map { case (key, rs) => key -> rs.map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4))) }
    acqs.foreach { a =>
      val key = (a.alias, a.k.toLong)
      val n = counts.getOrElse(key, 0L)
      val r = rms.getOrElse(key, Nil)
      ctx.check(
        if (!a.complete) {
          if (n > 0 || r.nonEmpty) Some(s"wrong: incomplete ${a.name} emitted ($n rows)") else None
        } else if (!visible.contains(a.idx)) Some(s"lost: ${a.name} never became visible")
        else if (n == 0 && r.isEmpty) Some(s"lost: ${a.name} rows missing from the final tables")
        else if (n != rows) Some(s"wrong: ${a.name} enriched rows $n != $rows")
        else if (r.size != rmsRows) Some(s"wrong: ${a.name} rms rows ${r.size} != $rmsRows")
        else r.iterator.map { case (x, y, z) => Fixture.rmsProblem(a.spec, x, y, z) }
          .collectFirst { case Some(p) => s"wrong: ${a.name} $p" })
    }
  }
}
