package perfbench

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans, written out when the run ends. Times are µs on one
  * clock (epoch µs derived from nanoTime), so listener events stamped in
  * epoch ms line up with the harness's own spans.
  */
final class Tracer {
  @volatile var on = false
  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L
  private val ids = new AtomicLong(0L)
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  /** The innermost open harness span; listener job spans attach to it. */
  val current = new AtomicLong(0L)
  /** The span micro-batch spans attach to: the drain or traffic span. */
  @volatile var streamParent = 0L

  /** Like `span`, and micro-batches that run meanwhile become its children. */
  def streamSpan[T](name: String)(body: => T): T = span(name) {
    streamParent = current.get()
    body
  }

  def nowMicros: Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L

  def record(name: String, parent: Long, startUs: Long, endUs: Long): Long = {
    val id = ids.incrementAndGet()
    if (on) spans.synchronized {
      spans += Map("id" -> id, "parent" -> parent, "name" -> name,
        "start_us" -> startUs, "end_us" -> endUs)
    }
    id
  }

  /** Times `body` as a span named `name` under the current span. */
  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val parent = current.get()
    val id = ids.incrementAndGet()
    val start = nowMicros
    current.set(id)
    try body
    finally {
      current.set(parent)
      spans.synchronized {
        spans += Map("id" -> id, "parent" -> parent, "name" -> name,
          "start_us" -> start, "end_us" -> nowMicros)
      }
    }
  }

  def all: Seq[Map[String, Any]] = spans.synchronized(spans.toList)
}

/** Engine counters over the timed region, from Spark's public listener
  * API: stages, tasks, shuffle and spill bytes, executor run/CPU/GC time,
  * blocks dropped, scan input records and, per job, a span under the
  * harness span that was open when the job started.
  */
final class EngineListener(tracer: Tracer) extends SparkListener {
  @volatile var active = false
  /** Record a span per job: on for the batch rows, whose jobs nest inside
    * the exec span; streaming jobs are covered by the batch phases. */
  @volatile var jobSpans = false
  val c: scala.collection.concurrent.Map[String, Long] =
    new java.util.concurrent.ConcurrentHashMap[String, Long]().asScala
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()

  private def add(k: String, v: Long): Unit = c.updateWith(k) {
    case Some(x) => Some(x + v)
    case None => Some(v)
  }

  def reset(): Unit = c.clear()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    val parent = tracer.current.get()
    jobs.put(e.jobId, (parent, e.time * 1000L))
    add("jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val started = jobs.remove(e.jobId)
    if (started != null && jobSpans)
      tracer.record("spark.job", started._1, started._2, e.time * 1000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (active) add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active && e.taskMetrics != null) {
    val m = e.taskMetrics
    add("tasks", 1)
    add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
    add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
    add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    add("executor_run_ms", m.executorRunTime)
    add("executor_cpu_ns", m.executorCpuTime)
    add("gc_ms", m.jvmGCTime)
    add("input_records", m.inputMetrics.recordsRead)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    if (active && !e.blockUpdatedInfo.storageLevel.isValid) add("blocks_dropped", 1)
}

/** Every micro-batch progress of every query, as the fields the metrics
  * need. `tag` names the timed phase a progress belongs to (null outside
  * timed regions, where progresses are dropped).
  */
final class ProgressLog(tracer: Tracer) extends StreamingQueryListener {
  val tag = new AtomicReference[String](null)
  private val buf = ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val t = tag.get()
    if (t == null) return
    val p = e.progress
    val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    val state = p.stateOperators.headOption
    val sourceMetrics = p.sources.headOption
      .map(_.metrics.asScala.toMap).getOrElse(Map.empty[String, String])
    val row = Map[String, Any](
      "tag" -> t,
      "batch_id" -> p.batchId,
      "start_ms" -> startMs,
      "input_rows" -> p.numInputRows,
      "duration_ms" -> durations,
      "state_rows_total" -> state.map(_.numRowsTotal).getOrElse(0L),
      "state_rows_updated" -> state.map(_.numRowsUpdated).getOrElse(0L),
      "state_memory_bytes" -> state.map(_.memoryUsedBytes).getOrElse(0L),
      "state_commit_ms" -> state.map(_.commitTimeMs).getOrElse(0L),
      "source_metrics" -> sourceMetrics)
    buf.synchronized(buf += row)
    // A micro-batch span with its progress phases laid end to end as
    // children: the phases' sum is what they cover, the rest is the
    // trigger's own (unattributed) time.
    val start = startMs * 1000L
    val trigger = durations.getOrElse("triggerExecution", 0L)
    val id = tracer.record("streaming.batch", tracer.streamParent, start, start + trigger * 1000L)
    var at = start
    durations.toSeq.sortBy(_._1).foreach { case (k, v) =>
      if (k != "triggerExecution") {
        tracer.record(ProgressLog.spanName(k), id, at, at + v * 1000L)
        at += v * 1000L
      }
    }
  }

  def all: Seq[Map[String, Any]] = buf.synchronized(buf.toList)
}

object ProgressLog {
  /** Span name of a progress phase, prefixed by the layer doing the work:
    * offsets and batch planning of the source are the connector's. */
  def spanName(phase: String): String = phase match {
    case "latestOffset" => "kinesis.latest_offset"
    case "getBatch" => "kinesis.get_batch"
    case other => s"streaming.$other"
  }
}

/** Per-session probes, created with the session and torn down with it. */
final class Probes(val spark: SparkSession, val tracer: Tracer) {
  val engine = new EngineListener(tracer)
  val progress = new ProgressLog(tracer)
  spark.sparkContext.addSparkListener(engine)
  spark.streams.addListener(progress)

  /** Waits until the listener bus has delivered every queued event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
