package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Work counters per bucket, from Spark's own listener events.
  *
  * A bucket is the harness tag set on the calling thread
  * (`perfbench.tag` local property, e.g. `q:q09_join_agg`) or, for
  * untagged jobs and ingest actions, the ingest phase recognised from
  * the SQL execution's plan ([[phaseOf]]): the enriched write, the
  * RMS aggregate and the RMS write. */
final class Counters(trace: Trace) extends SparkListener {

  final class Acc {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var inputBytes = 0L
    var execs = 0L; var execMs = 0L
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "tasks" -> tasks, "cpu_s" -> cpuNs / 1e9,
      "gc_s" -> gcMs / 1e3, "shuffle_bytes" -> shuffleWrite,
      "spill_bytes" -> spill, "input_bytes" -> inputBytes,
      "executions" -> execs, "execution_s" -> execMs / 1e3)
  }

  private val accs = mutable.Map.empty[String, Acc]
  private val execPhase = mutable.Map.empty[Long, String]
  private val execStart = mutable.Map.empty[Long, Long]
  private val stageBucket = mutable.Map.empty[Int, String]
  private val execBucket = mutable.Map.empty[Long, String]

  private def acc(b: String): Acc = accs.getOrElseUpdate(b, new Acc)

  // Input bytes come from the file scans' "size of files read" SQL
  // metric (a driver-side metric), not from task input metrics: the
  // Parquet reader's vectored IO reads on pool threads, so the
  // per-thread file-system counters behind task input bytes miss them.
  private val filesReadIds = mutable.Set.empty[Long]
  private val execFilesRead = mutable.Map.empty[Long, Long].withDefaultValue(0L)

  private def scanMetrics(p: SparkPlanInfo): Unit = {
    p.metrics.filter(_.name == "size of files read").foreach(m => filesReadIds += m.accumulatorId)
    p.children.foreach(scanMetrics)
  }

  /** Ingest phase of a SQL execution, from its plan text: the two
    * sink writes by output path, and the RMS aggregate by the
    * window-span columns (`__tmin`/`__tmax`) of `Rms.compute` — the
    * write of the persisted RMS frame shows them too, so the writes
    * are matched first. */
  private def phaseOf(plan: String): String = {
    val write = plan.contains("InsertIntoHadoopFsRelationCommand")
    if (write && plan.contains("data_parquet_rms")) "rms_write"
    else if (write && plan.contains("data_parquet")) "enriched_write"
    else if (plan.contains("__tmax")) "rms_aggregate"
    else "other"
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      val own = phaseOf(Option(e.physicalPlanDescription).getOrElse(""))
      val phase =
        if (own != "other") own
        else e.rootExecutionId.flatMap(execPhase.get).getOrElse(own)
      execPhase(e.executionId) = phase
      execStart(e.executionId) = e.time
      scanMetrics(e.sparkPlanInfo)
    }
    case e: SparkListenerSQLAdaptiveExecutionUpdate => synchronized { scanMetrics(e.sparkPlanInfo) }
    case e: SparkListenerDriverAccumUpdates => synchronized {
      e.accumUpdates.foreach { case (id, v) =>
        if (filesReadIds(id)) execFilesRead(e.executionId) += v
      }
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      val phase = execPhase.getOrElse(e.executionId, "other")
      execStart.remove(e.executionId).foreach { s =>
        // the enclosing tag, when a job of this execution carried one
        val bucket = execBucket.getOrElse(e.executionId, phase)
        val a = acc(bucket)
        a.execs += 1
        a.execMs += e.time - s
        a.inputBytes += execFilesRead.remove(e.executionId).getOrElse(0L)
        if (phase != "other" && !bucket.startsWith("q:")) {
          val layer = if (phase == "rms_aggregate") "analytics" else "sink"
          trace.add(s"$layer.$phase", trace.fromEpochMs(s), trace.fromEpochMs(e.time))
        }
      }
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty("perfbench.tag")))
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val phase = exec.flatMap(execPhase.get).getOrElse("other")
    val bucket = tag.filter(_.startsWith("q:")).getOrElse(
      if (phase != "other") phase else tag.getOrElse("untagged"))
    exec.foreach(x => execBucket.getOrElseUpdate(x, bucket))
    e.stageIds.foreach(s => stageBucket(s) = bucket)
    acc(bucket).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageBucket.getOrElse(e.stageId, "untagged"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Forget the counts so far (set-up and warm-up work). */
  def reset(): Unit = synchronized { accs.clear() }

  def snapshot: Map[String, Map[String, Any]] = synchronized {
    accs.map { case (k, v) => k -> v.toMap }.toMap
  }
}
