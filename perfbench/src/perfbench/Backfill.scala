package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.Cleanup
import graft.sources.kinesis.{FakeKinesisRegistry, FakeKinesisService, Payload}
import graft.streaming.StreamOps

/** JSON events shaped like the `events` fixture table. */
object Events {
  val Types: Array[String] = Array("signup", "click", "error", "view", "purchase")
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField("due_us", LongType)))

  def json(id: Long, tsMs: Long, user: Long, tpe: String, cents: Long, k: Int,
      dueUs: Long): Array[Byte] =
    (s"""{"event_id":$id,"ts":"${java.time.Instant.ofEpochMilli(tsMs)}","user_id":$user,""" +
      s""""event_type":"$tpe","value":${cents / 100}.${"%02d".format(cents % 100)},""" +
      s""""props":"{\\"k\\": $k}","due_us":$dueUs}""").getBytes(UTF_8)

  /** Reads one long field of a JSON object this harness or the sink wrote. */
  def longField(doc: String, field: String): Long = {
    val at = doc.indexOf("\"" + field + "\":")
    require(at >= 0, s"no $field in $doc")
    var i = at + field.length + 3
    var end = i
    while (end < doc.length && (doc.charAt(end) == '-' || doc.charAt(end).isDigit)) end += 1
    doc.substring(i, end).toLong
  }

  def stringField(doc: String, field: String): String = {
    val at = doc.indexOf("\"" + field + "\":\"")
    require(at >= 0, s"no $field in $doc")
    val from = at + field.length + 4
    doc.substring(from, doc.indexOf('"', from))
  }

  /** Median wall time, in ms, of `reps` calls to `f`. */
  def medianMs(reps: Int)(f: => Unit): Double = {
    val xs = (1 to reps).map { _ =>
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6
    }.sorted
    xs(xs.size / 2)
  }

  /** getRecords time for one 1000-record page at the head and at the
    * tail of the stream's largest shard.
    */
  def pageCosts(svc: FakeKinesisService, stream: String): (Double, Double) = {
    val byShard = svc.allRecords(stream).groupBy(_.shardId)
    val (shard, recs) = byShard.maxBy(_._2.size)
    val head = recs.head.sequenceNumber
    val tail = recs(math.max(0, recs.size - 1000)).sequenceNumber
    (medianMs(21)(svc.getRecords(stream, shard, head, Long.MaxValue, 1000)),
      medianMs(21)(svc.getRecords(stream, shard, tail, Long.MaxValue, 1000)))
  }
}

/** `kinesis_backfill`: a preloaded backlog on a resharded stream, drained
  * with `Trigger.AvailableNow` and `maxRecordsPerTrigger` through
  * `Payload.json` → `StreamOps.watermarkTumbling` → the kinesis sink.
  *
  * The backlog's event-time span is shorter than the watermark delay, so no
  * record is late and the drain itself emits nothing: windows close only
  * when a sentinel, put after the timed drain into a stream the query
  * already reads, moves the watermark. That flush runs outside the timed
  * region, and then every window count must equal the count generated.
  */
final class Backfill(run: Run) extends Workload {
  private val id = "perfbench-backfill"
  private val records = run.p("records").toInt
  private val shards = run.p("shards").toInt
  private val splitAt = run.p("split_at").toDouble
  private val batches = run.p("batches").toInt
  private val spanMs = (run.p("span_minutes").toDouble * 60000).toLong
  private val jitterMs = run.p("jitter_s").toLong * 1000
  private val warmRecords = run.p("warm_records").toInt
  private val BaseMs = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  private var svc: FakeKinesisService = _
  private var expected: Map[(Long, String), Long] = Map.empty
  private var maxTs = 0L
  private var drains = 0

  /** Puts `n` events; splits the first shard after `splitAt` of them.
    * Returns the expected (window start, type) → count map.
    */
  private def preload(stream: String, n: Int, nShards: Int): Map[(Long, String), Long] = {
    svc.createStream(stream, nShards)
    maxTs = 0L
    val rng = new java.util.SplittableRandom(run.seed)
    val counts = mutable.HashMap.empty[(Long, String), Long]
    val batch = ArrayBuffer.empty[(String, Array[Byte])]
    val splitIndex = (n * splitAt).toInt
    (0 until n).foreach { i =>
      if (i == splitIndex) {
        if (batch.nonEmpty) { svc.putRecords(stream, batch.toSeq); batch.clear() }
        svc.splitShard(stream, svc.listShards(stream).filter(!_.isClosed).head.shardId)
      }
      val ts = BaseMs + i.toLong * spanMs / n + rng.nextLong(jitterMs + 1)
      val user = rng.nextLong(1500)  // the events fixture's user_id domain at sf0.1
      val tpe = Events.Types(rng.nextInt(Events.Types.length))
      val cents = (-math.log(1 - rng.nextDouble()) * 5000).toLong
      batch += ((user.toString, Events.json(i, ts, user, tpe, cents, rng.nextInt(100), 0L)))
      if (batch.size == 500) { svc.putRecords(stream, batch.toSeq); batch.clear() }
      val key = (ts / 3600000L * 3600000L, tpe)
      counts(key) = counts.getOrElse(key, 0L) + 1
      maxTs = math.max(maxTs, ts)
    }
    if (batch.nonEmpty) svc.putRecords(stream, batch.toSeq)
    counts.toMap
  }

  private def query(input: String, flush: String, out: String, ckpt: String, budget: Int) = {
    val raw = run.session().readStream.format("kinesis")
      .option("streams", s"$input,$flush")
      .option("initialPosition", "trim_horizon")
      .option("fake.id", id)
      .option("maxRecordsPerTrigger", budget.toString)
      .load()
    val windows: DataFrame = StreamOps.watermarkTumbling(Payload.json(raw, Events.Schema))
    windows
      .select(col("event_type").as("partitionKey"),
        to_json(struct(col("ws"), col("event_type"), col("n_events"))).cast("binary").as("data"))
      .writeStream.format("kinesis")
      .option("streams", out)
      .option("fake.id", id)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** One drain of `input`: timed query run, then, unless `want` is empty,
    * the untimed flush and the window check. Returns (start epoch ms, drain
    * seconds).
    */
  private def drain(input: String, n: Int, want: Map[(Long, String), Long],
      tag: Option[String], budget: Int): (Long, Double) = {
    drains += 1
    val flush = s"flush-$drains"
    val out = s"out-$drains"
    val ckpt = run.work.resolve(s"ckpt-backfill-$drains").toString
    svc.createStream(flush, 1)
    svc.createStream(out, 1)
    tag.foreach(run.probes.progress.tag.set)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    run.tracer.streamSpan("streaming.drain")(query(input, flush, out, ckpt, budget).awaitTermination())
    val secs = (System.nanoTime() - t0) / 1e9
    run.probes.drain()
    run.probes.progress.tag.set(null)
    if (want.isEmpty) return (startMs, secs)
    // The flush and the check are not the drain's work: the engine
    // counters pause until both are done.
    val counting = run.probes.engine.active
    run.probes.engine.active = false
    val sentinelTs = maxTs + 86400000L
    svc.putRecords(flush, Seq(("sentinel",
      Events.json(-1, sentinelTs, 0, "view", 0, 0, 0L))))
    query(input, flush, out, ckpt, budget).awaitTermination()
    check(out, n, want)
    run.probes.drain()
    run.probes.engine.active = counting
    (startMs, secs)
  }

  private def check(out: String, n: Int, want: Map[(Long, String), Long]): Unit = {
    val got = svc.allRecords(out).map { r =>
      val doc = new String(r.data, UTF_8)
      (java.time.Instant.parse(Events.stringField(doc, "ws")).toEpochMilli,
        Events.stringField(doc, "event_type")) -> Events.longField(doc, "n_events")
    }
    val byKey = got.groupMapReduce(_._1)(_._2)(_ + _)
    run.attempted += want.size
    want.foreach { case (k, c) =>
      if (byKey.getOrElse(k, 0L) != c) run.fail(s"window $k: ${byKey.getOrElse(k, 0L)} != $c")
    }
    (byKey.keySet -- want.keySet).foreach(k => run.fail(s"unexpected window $k"))
    if (got.size != byKey.size) run.fail(s"${got.size - byKey.size} windows emitted twice",
      got.size - byKey.size)
    val total = byKey.filter(kv => want.contains(kv._1)).values.sum
    // Already counted per window above; the sum names the symptom.
    if (total != n) run.fail(s"window counts sum to $total, $n records produced", 0)
  }

  def setup(): Unit = {
    svc = FakeKinesisRegistry.create(id)
    preload("warm", warmRecords, 2)
    drain("warm", warmRecords, Map.empty, None, warmRecords / 2)
    run.tracer.span("kinesis.preload") { expected = preload("backlog", records, shards) }
  }

  def measure(phase: String, seconds: Double, traced: Boolean): Map[String, Any] = {
    val runs = ArrayBuffer.empty[Map[String, Any]]
    val (_, region) = run.region(phase, traced) {
      // Drains repeat until the time of the drains alone, without their
      // flushes, covers `seconds`.
      var drained = 0.0
      while (runs.isEmpty || drained < seconds) {
        val tag = s"$phase#${runs.size}"
        val (startMs, secs) = drain("backlog", records, expected, Some(tag), records / batches)
        runs += Map("tag" -> tag, "start_ms" -> startMs, "drain_s" -> secs, "records" -> records)
        drained += secs
      }
    }
    val (head, tail) = Events.pageCosts(svc, "backlog")
    region ++ Map("drains" -> runs.toList, "page_head_ms" -> head, "page_tail_ms" -> tail)
  }

  def finish(): Double = {
    val t0 = System.nanoTime()
    Cleanup.release(run.session(), blocking = true)
    (System.nanoTime() - t0) / 1e9
  }
}
