package perfbench

import graft.{Sessions, SparkEntry}

/** `query_mix`: a fixed, family-grouped list of registry queries over
  * the sf0.1 test tables, each into the noop sink with
  * `Sessions.release` between queries (as `graft.Bench.timeOnce`
  * does). One untimed pass writes every result as Parquet for the
  * correctness check; the timed passes follow. */
object QueryMix {

  val SetupRounds = 3
  val MinPasses = 2

  def run(ctx: Main.Ctx, data: String): Unit = {
    require(new java.io.File(data, "lineitem.parquet").exists(),
      s"query_mix needs the sf0.1 test tables; none at '$data'")
    // `--mix family:query,…` in family order (perfbench/lib/mix.py)
    val families: Seq[(String, Seq[String])] = {
      val pairs = ctx.args("mix").split(",").toSeq.map(_.split(":", 2)).map(p => p(0) -> p(1))
      pairs.map(_._1).distinct.map(f => f -> pairs.filter(_._1 == f).map(_._2))
    }
    val all = families.flatMap { case (f, qs) => qs.map(_ -> f) }
    ctx.out("families") = all.toMap
    // re-validation aid: the DuckDB oracle SQL of every listed query
    ctx.args.get("oracle-out").foreach { f =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
        Json.value(all.map { case (q, _) => q -> SparkEntry.oracleSql(q) }.toMap))
    }

    val setups = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      ctx.stopSession()
      ctx.startSession()
      ctx.tag("warmup")
      // the cheapest query of the first and last family: warms session,
      // table loading and codegen without a heavy query per round
      Seq(families.head, families.last).foreach { case (f, qs) =>
        noop(ctx, qs.last, f, data)
      }
      ctx.secs(t0)
    }
    ctx.out("setup_rounds_s") = setups

    // untimed pass: every result to Parquet for the fingerprint check
    val qout = s"${ctx.work}/qout"
    val tw = System.nanoTime()
    val errors = scala.collection.mutable.Map.empty[String, String]
    all.foreach { case (q, f) =>
      try ctx.trace.span("bench.result_pass") {
        SparkEntry.queries(q)(ctx.spark, data).coalesce(1)
          .write.mode("overwrite").parquet(s"$qout/$q")
      } catch { case e: Throwable => errors(q) = String.valueOf(e.getMessage).take(300) }
      finally release(ctx)
    }
    ctx.out("warmup_s") = ctx.secs(tw)
    ctx.out("result_dir") = qout
    ctx.out("result_errors") = errors.toMap

    val walls = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val cpus = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    ctx.startMeasuring()
    val t0 = System.nanoTime()
    // at least MinPasses (the first timed passes still warm up, so a
    // per-query median needs three), then only passes that end inside
    // the window
    def pass(): Double = all.map { case (q, f) =>
      ctx.tag(s"q:$q")
      val w = noop(ctx, q, f, data)
      ctx.check(w.left.toOption.map(e => s"lost: $q failed: $e"))
      w.foreach { case (s, c) =>
        walls(q) = walls.getOrElse(q, Nil) :+ s
        cpus(q) = cpus.getOrElse(q, Nil) :+ c
      }
      w.map(_._1).getOrElse(0.0)
    }.sum
    while (passes.size < MinPasses || ctx.secs(t0) + passes.last <= ctx.seconds)
      passes += pass()
    ctx.out("query_walls_s") = walls.clone()
    ctx.out("query_cpus_s") = cpus.clone()
    ctx.out("op_walls_s") = passes.toSeq
    if (ctx.traced) ctx.out("control_walls_s") = Seq(ctx.untraced(pass()))
  }

  /** One query into the noop sink: plan construction (queries layer)
    * then execution (operators layer); Right((wall, JVM CPU)) in
    * seconds, Left(error) if it throws. */
  private def noop(ctx: Main.Ctx, q: String, family: String,
      data: String): Either[String, (Double, Double)] = {
    val c0 = ctx.cpuNanos()
    val t0 = System.nanoTime()
    val res =
      try {
        val df = ctx.trace.span(s"queries.$q") { SparkEntry.queries(q)(ctx.spark, data) }
        ctx.trace.span(s"operators.$family") {
          df.write.format("noop").mode("overwrite").save()
        }
        Right((ctx.secs(t0), ctx.cpuSecs(c0)))
      } catch { case e: Throwable => Left(String.valueOf(e.getMessage).take(300)) }
    release(ctx)
    res
  }

  private def release(ctx: Main.Ctx): Unit =
    ctx.trace.span("sessions.release") { Sessions.release(ctx.spark) }
}
