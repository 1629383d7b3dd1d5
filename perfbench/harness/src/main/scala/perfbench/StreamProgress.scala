package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming micro-batch totals and `streaming.batch` spans, from a
  * `StreamingQueryListener` (traced runs only). */
final class StreamProgress(trace: Trace) extends StreamingQueryListener {
  private val dur = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var batches = 0L
  private var stateRows = 0L
  private var stateBytes = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    batches += 1
    d.foreach { case (k, v) => dur(k) += v }
    p.stateOperators.foreach { s =>
      stateRows = math.max(stateRows, s.numRowsTotal)
      stateBytes = math.max(stateBytes, s.memoryUsedBytes)
    }
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    trace.add("streaming.batch", trace.fromEpochMs(startMs),
      trace.fromEpochMs(startMs + d.getOrElse("triggerExecution", 0L)))
  }
  def reset(): Unit = synchronized {
    dur.clear(); batches = 0L; stateRows = 0L; stateBytes = 0L
  }
  def summary: Map[String, Any] = synchronized {
    Map("batches" -> batches, "state_rows" -> stateRows, "state_bytes" -> stateBytes,
      "duration_s" -> dur.map { case (k, v) => k -> v / 1e3 }.toMap)
  }
}
