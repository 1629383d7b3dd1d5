package perfbench

import graft.fixtures.AcquisitionFixture
import graft.ingest.{Ingest, Pipeline}

/** `bulk_acquisition`: one large acquisition through
  * `Pipeline.processAcquisition`, repeated into fresh output dirs.
  * Decode, enrich, Parquet write and RMS do nearly all the work. */
object Bulk {

  /** Sensor seconds per acquisition (160 kB/s of int16 IIS3DWB data). */
  val SensorSeconds = 90.0
  /** The small acquisition each set-up round warms the path with. */
  val WarmSeconds = 10.0
  val SetupRounds = 3
  /** Fewest timed operations per run, whatever `--seconds` says. */
  val MinOps = 3

  def run(ctx: Main.Ctx): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    val spec = Fixture.spec(rnd, f"BULK${ctx.seed % 1000}%03d", SensorSeconds)
    val warmSpec = Fixture.spec(rnd, "WARM", WarmSeconds)
    val (rows, rmsRows) = Fixture.expectedCounts(spec)
    val acq = s"${ctx.work}/landing/${spec.alias}_acq"
    val warmAcq = s"${ctx.work}/landing/WARM_acq"

    // set-up rounds: session start, fixture staging, a small warm op
    val setups = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      ctx.stopSession()
      ctx.startSession()
      Main.deleteTree(s"${ctx.work}/landing")
      ctx.trace.span("fixtures.write") {
        AcquisitionFixture.write(acq, spec)
        AcquisitionFixture.write(warmAcq, warmSpec)
      }
      val out = s"${ctx.work}/warm_out"
      ctx.trace.span("ingest.processAcquisition") {
        Pipeline.processAcquisition(ctx.spark, warmAcq, out)
      }
      ctx.trace.span("bench.cleanup") { Main.deleteTree(out) }
      ctx.secs(t0)
    }
    val rawBytes = new java.io.File(s"$acq/iis3dwb_acc.dat").length()
    ctx.out("setup_rounds_s") = setups
    ctx.out("raw_bytes") = rawBytes
    ctx.out("expected_rows") = rows
    ctx.out("expected_rms_rows") = rmsRows

    // one untimed full-size operation: the first large acquisitions of
    // a JVM still run ~30 % slow (JIT of the wide decode/write paths)
    val tw = System.nanoTime()
    op(ctx, acq, spec, rows, rmsRows, s"${ctx.work}/out_warm")
    ctx.out("warmup_s") = ctx.secs(tw)

    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cpus = scala.collection.mutable.ArrayBuffer.empty[Double]
    val files = scala.collection.mutable.ArrayBuffer.empty[Long]
    val bytes = scala.collection.mutable.ArrayBuffer.empty[Long]
    ctx.startMeasuring()
    val t0 = System.nanoTime()
    var i = 0
    // at least MinOps, then only operations that end inside the window
    while (walls.size < MinOps || ctx.secs(t0) + walls.last <= ctx.seconds) {
      val (wall, cpu, nFiles, nBytes) = op(ctx, acq, spec, rows, rmsRows, s"${ctx.work}/out_$i")
      walls += wall; cpus += cpu; files += nFiles; bytes += nBytes
      i += 1
    }
    ctx.out("op_walls_s") = walls.toSeq
    ctx.out("op_cpus_s") = cpus.toSeq
    ctx.out("enriched_files") = files.toSeq
    ctx.out("enriched_bytes") = bytes.toSeq

    if (ctx.traced) {
      ctx.out("control_walls_s") = ctx.untraced {
        (1 to MinOps).map(j => op(ctx, acq, spec, rows, rmsRows, s"${ctx.work}/out_control_$j")._1)
      }
      probes(ctx, acq, rawBytes)
    }
  }

  /** One timed operation plus its (untimed) correctness check. */
  private def op(ctx: Main.Ctx, acq: String, spec: AcquisitionFixture.Spec,
      rows: Long, rmsRows: Long, out: String): (Double, Double, Long, Long) = {
    ctx.tag("bulk.op")
    val c0 = ctx.cpuNanos()
    val t0 = System.nanoTime()
    val res = ctx.trace.span("ingest.processAcquisition") {
      Pipeline.processAcquisition(ctx.spark, acq, out)
    }
    val wall = ctx.secs(t0)
    val cpu = ctx.cpuSecs(c0)
    ctx.tag("bench.verify")
    val (nFiles, nBytes) = ctx.trace.span("bench.verify") {
      val dataFiles = listParquet(new java.io.File(s"$out/data_parquet"))
      ctx.check(verify(ctx, spec, out, res.isDefined, rows, rmsRows))
      (dataFiles.size.toLong, dataFiles.map(_.length()).sum)
    }
    ctx.trace.span("bench.cleanup") { Main.deleteTree(out) }
    (wall, cpu, nFiles, nBytes)
  }

  def listParquet(d: java.io.File): Seq[java.io.File] =
    if (!d.exists()) Nil
    else d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) listParquet(f)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  private def verify(ctx: Main.Ctx, spec: AcquisitionFixture.Spec, out: String,
      emitted: Boolean, rows: Long, rmsRows: Long): Option[String] = {
    if (!emitted) return Some("lost: complete acquisition not emitted")
    val n = ctx.spark.read.parquet(s"$out/data_parquet").count()
    if (n != rows) return Some(s"wrong: enriched rows $n != $rows")
    val rms = ctx.spark.read.parquet(s"$out/data_parquet_rms")
      .select("rms_x", "rms_y", "rms_z", "alias").collect()
    if (rms.length != rmsRows) return Some(s"wrong: rms rows ${rms.length} != $rmsRows")
    rms.iterator.map { r =>
      if (r.getString(3) != spec.alias) Some(s"rms alias ${r.getString(3)}")
      else Fixture.rmsProblem(spec, r.getDouble(0), r.getDouble(1), r.getDouble(2))
    }.collectFirst { case Some(p) => s"wrong: $p" }
  }

  /** Traced-run-only layer probes over the same `.dat`: the RDD decode
    * (`Ingest.decodeDat`) and the DSv2 scan (`format("hsd")`), each to
    * the noop sink, and the single-thread `Hsd2.decodeBlocks` rate. */
  private def probes(ctx: Main.Ctx, acq: String, rawBytes: Long): Unit = {
    ctx.tag("probe")
    val cfg = Ingest.readMeta(ctx.spark, acq).device.components("iis3dwb_acc")
    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      ctx.trace.span(name)(body)
      ctx.secs(t0)
    }
    val decode = timed("ingest.decodeDat") {
      Ingest.decodeDat(ctx.spark, s"$acq/iis3dwb_acc.dat", cfg)
        .write.format("noop").mode("overwrite").save()
    }
    val scan = timed("sources.hsd_scan") {
      ctx.spark.read.format("hsd").load(acq)
        .write.format("noop").mode("overwrite").save()
    }
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$acq/iis3dwb_acc.dat"))
    var sink = 0.0
    val hsd2 = timed("decode.hsd2_decodeBlocks") {
      val it = graft.decode.Hsd2.decodeBlocks(bytes, cfg,
        graft.decode.Hsd2.completeBlocks(bytes.length, cfg).toInt, cfg.ioffset)
      while (it.hasNext) sink += it.next().time
    }
    ctx.out("probe") = Map(
      "decode_s" -> decode, "hsd_scan_s" -> scan,
      "hsd2_mb_per_s" -> rawBytes / 1e6 / hsd2, "hsd2_checksum" -> sink)
  }
}
