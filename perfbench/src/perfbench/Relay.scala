package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Cleanup
import graft.sources.kinesis.{FakeKinesisRegistry, FakeKinesisService, Kpl, Payload}

/** `kinesis_relay`: live pass-through under an open-loop generator.
  *
  * The harness thread is the generator: on a fixed schedule it makes JSON
  * events whose user ids, also their partition keys, follow a Zipf law,
  * re-sends a share of recent events as duplicates, packs them as the KPL
  * does by default (one buffer per predicted shard, closed at a size or
  * buffered-time limit) and puts the closed blobs; between puts it reads
  * the sink stream. The query runs `Payload.deaggregate` → `Payload.json` →
  * `dropDuplicatesWithinWatermark(event_id)` → the kinesis sink with
  * `kplAggregate=true` under the default trigger. A record's latency runs
  * from when it was due on the schedule (stamped into it as `due_us`)
  * until the generator first reads it from the sink, so a late generator
  * or a stalled query both count.
  */
final class Relay(run: Run) extends Workload {
  private val id = "perfbench-relay"
  private val rate = run.p("rate").toDouble
  private val shards = run.p("shards").toInt
  private val dupShare = run.p("dup_share").toDouble
  private val zipfS = run.p("zipf_s").toDouble
  private val keys = run.p("keys").toInt
  private val kplMaxBytes = run.p("kpl_max_bytes").toInt
  private val kplMaxBufferedUs = (run.p("kpl_max_buffered_ms").toDouble * 1000).toLong
  private val watermarkS = run.p("watermark_s").toInt
  private val tickNanos = (run.p("tick_ms").toDouble * 1e6).toLong
  private val warmS = run.p("warm_s").toDouble
  private val drainTimeoutS = run.p("drain_timeout_s").toDouble
  private var svc: FakeKinesisService = _
  private var query: StreamingQuery = _
  private val cumulative: Array[Double] = {
    val w = (1 to keys).map(k => 1.0 / math.pow(k, zipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  private def start(): StreamingQuery = {
    val raw = run.session().readStream.format("kinesis")
      .option("streams", "relay-in")
      .option("initialPosition", "trim_horizon")
      .option("fake.id", id)
      .load()
    Payload.json(Payload.deaggregate(raw), Events.Schema)
      .withWatermark("ts", s"$watermarkS seconds")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("partitionKey"),
        to_json(struct(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), col("props"), col("due_us"))).cast("binary").as("data"))
      .writeStream.format("kinesis")
      .option("streams", "relay-out")
      .option("fake.id", id)
      .option("kplAggregate", "true")
      .option("checkpointLocation", run.work.resolve(s"ckpt-relay-$setups").toString)
      .outputMode("append")
      .start()
  }

  /** Reads the sink stream from where the last call stopped. */
  private final class SinkReader {
    private val cursor = mutable.HashMap.empty[String, Long]
    var blobs = 0L
    def poll(f: (Long, Long) => Unit): Unit =
      svc.listShards("relay-out").foreach { sh =>
        val from = cursor.getOrElse(sh.shardId, sh.starting)
        val page = svc.getRecords("relay-out", sh.shardId, from, Long.MaxValue, Int.MaxValue)
        page.foreach { r =>
          blobs += 1
          Kpl.parse(r.data).getOrElse(Seq(r.partitionKey -> r.data)).foreach { case (_, d) =>
            val doc = new String(d, UTF_8)
            f(Events.longField(doc, "event_id"), Events.longField(doc, "due_us"))
          }
        }
        if (page.nonEmpty) cursor(sh.shardId) = page.last.sequenceNumber + 1
      }
  }
  private var reader: SinkReader = _

  /** The KPL's aggregation buffer for one predicted shard. */
  private final class KplBuffer {
    val members = ArrayBuffer.empty[(String, Array[Byte])]
    var bytes = 0
    var firstDueUs = 0L
  }

  /** Offers `seconds` of traffic with event ids from `idBase`, reads the
    * sink until every id has arrived (or the drain times out), and checks
    * that each id arrived exactly once.
    */
  private def traffic(idBase: Long, seconds: Double, seed: Long): Map[String, Any] = {
    val count = (rate * seconds).toInt
    val rng = new java.util.SplittableRandom(seed)
    val seen = new Array[Int](count)
    val dueAt, seenAt = new Array[Long](count)
    val putMs, lateMs = ArrayBuffer.empty[Double]
    val sample = ArrayBuffer.empty[Seq[(String, Array[Byte])]]
    var sampled = 0
    val buffers = Array.fill(shards)(new KplBuffer)
    val ready = ArrayBuffer.empty[(String, Array[Byte])]
    var memberCount, blobCount = 0L
    val ring = new Array[(String, Array[Byte])](1024)
    var arrived = 0
    var dups = 0L
    val blobs0 = reader.blobs
    var delivered = 0L
    val wallMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def nowUs = (System.nanoTime() - t0) / 1000L
    def dueUs(i: Int) = (i * 1e6 / rate).toLong
    def observe(): Unit = run.tracer.span("bench.sink_read") {
      val at = nowUs
      reader.poll { (eid, due) =>
        val i = eid - idBase
        if (i >= 0 && i < count) {
          delivered += 1
          val k = i.toInt
          if (seen(k) == 0) { dueAt(k) = due; seenAt(k) = at; arrived += 1 }
          seen(k) += 1
        }
      }
    }
    def seal(b: KplBuffer): Unit = if (b.members.nonEmpty) {
      val ms = b.members.toSeq
      ready += ms.head._1 -> Kpl.aggregate(ms)
      memberCount += ms.size
      blobCount += 1
      if (sampled < 20000) { sample += ms; sampled += ms.size }
      b.members.clear()
      b.bytes = 0
    }
    // The fake routes a key to open(hash mod #open); the relay stream is
    // never resharded, so the predicted shard is the key's hash mod shards.
    def add(rec: (String, Array[Byte]), due: Long): Unit = {
      val b = buffers(math.floorMod(rec._1.hashCode, shards))
      val size = rec._1.length + rec._2.length + Relay.MemberFraming
      if (b.bytes + size > kplMaxBytes) seal(b)
      if (b.members.isEmpty) b.firstDueUs = due
      b.members += rec
      b.bytes += size
    }
    def put(): Unit = if (ready.nonEmpty) {
      val t = System.nanoTime()
      run.tracer.span("kinesis.put")(svc.putRecords("relay-in", ready.toSeq))
      putMs += (System.nanoTime() - t) / 1e6
      ready.clear()
    }
    var next = 0
    var tick = t0
    while (next < count) {
      val due = math.min(count, (nowUs * rate / 1e6).toInt + 1)
      if (next < due) {
        lateMs += (nowUs - dueUs(next)) / 1000.0
        while (next < due) {
          val slot = java.util.Arrays.binarySearch(cumulative, rng.nextDouble())
          val user = (if (slot < 0) -slot - 1 else slot).toLong
          val d = dueUs(next)
          val rec = user.toString -> Events.json(idBase + next, wallMs + d / 1000, user,
            Events.Types(rng.nextInt(Events.Types.length)), rng.nextLong(50000),
            rng.nextInt(100), d)
          add(rec, d)
          if (next > 0 && rng.nextDouble() < dupShare) {
            add(ring((next - 1 - rng.nextInt(math.min(next, ring.length))) % ring.length), d)
            dups += 1
          }
          ring(next % ring.length) = rec
          next += 1
        }
      }
      val at = nowUs
      buffers.foreach(b => if (b.members.nonEmpty && at - b.firstDueUs >= kplMaxBufferedUs) seal(b))
      put()
      observe()
      tick += tickNanos
      val wait = tick - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait) else tick = System.nanoTime()
    }
    // The producer's flush at the end of the offered window.
    buffers.foreach(seal)
    put()
    val offeredUs = nowUs
    val deadline = System.nanoTime() + (drainTimeoutS * 1e9).toLong
    while (arrived < count && System.nanoTime() < deadline) {
      LockSupport.parkNanos(tickNanos)
      observe()
    }
    val lastUs = nowUs
    run.attempted += count
    val lost = seen.count(_ == 0)
    val doubled = seen.count(_ > 1)
    if (lost > 0) run.fail(s"$lost of $count events never reached the sink", lost)
    if (doubled > 0) run.fail(s"$doubled of $count events reached the sink more than once", doubled)
    val arrivedIds = seen.indices.filter(seen(_) > 0)
    Map("due_us" -> arrivedIds.map(dueAt(_)), "seen_us" -> arrivedIds.map(seenAt(_)),
      "put_ms" -> putMs.toList, "late_ms" -> lateMs.toList, "dups_sent" -> dups,
      "offered_s" -> offeredUs / 1e6, "last_seen_s" -> lastUs / 1e6,
      "sink_records" -> delivered, "sink_blobs" -> (reader.blobs - blobs0),
      "source_records" -> memberCount, "source_blobs" -> blobCount,
      "sample" -> sample.toList)
  }

  /** MB/s of `Kpl.aggregate` over the payload bytes and of `Kpl.parse`
    * over the blob bytes, median of five passes over the first blobs the
    * generator sent, member for member.
    */
  private def kplRates(chunks: Seq[Seq[(String, Array[Byte])]]): (Double, Double) = {
    val inBytes = chunks.flatten.map(r => r._1.length + r._2.length).sum.toDouble
    var blobs: Seq[Array[Byte]] = Nil
    val agg = Events.medianMs(5) { blobs = chunks.map(Kpl.aggregate) }
    val blobBytes = blobs.map(_.length).sum.toDouble
    val parse = Events.medianMs(5)(blobs.foreach(Kpl.parse))
    (inBytes / 1e6 / (agg / 1e3), blobBytes / 1e6 / (parse / 1e3))
  }

  private var setups = 0

  def setup(): Unit = {
    setups += 1
    svc = FakeKinesisRegistry.create(id)
    svc.createStream("relay-in", shards)
    svc.createStream("relay-out", 1)
    reader = new SinkReader
    query = start()
    traffic(900000000L, warmS, run.seed + 7)
  }

  private var phases = 0

  def measure(phase: String, seconds: Double, traced: Boolean): Map[String, Any] = {
    phases += 1
    val (t, region) = run.region(phase, traced) {
      run.tracer.streamSpan("bench.traffic")(traffic(phases * 100000000L, seconds, run.seed * 1000 + phases))
    }
    val (agg, parse) = kplRates(t("sample").asInstanceOf[Seq[Seq[(String, Array[Byte])]]])
    val (head, tail) = Events.pageCosts(svc, "relay-in")
    region ++ (t - "sample") ++ Map("kpl_aggregate_mb_s" -> agg, "kpl_parse_mb_s" -> parse,
      "page_head_ms" -> head, "page_tail_ms" -> tail)
  }

  def finish(): Double = {
    query.stop()
    val t0 = System.nanoTime()
    Cleanup.release(run.session(), blocking = true)
    (System.nanoTime() - t0) / 1e9
  }
}

object Relay {
  /** Bytes of protobuf framing one member adds to a KPL blob besides its
    * key and data: the entry's tag and length, the key index and the data
    * tag and length, for records under 16 KiB. The key is counted with
    * every member, a few bytes more than the blob's key table holds.
    */
  val MemberFraming = 9
}
