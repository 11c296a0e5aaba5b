package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** One workload run, driven by `perfbench/run.py`:
  *
  *   perfbench.Main key=value ...
  *
  * Keys: workload, seed, seconds, trace (0|1), cores, work (scratch dir),
  * out (raw result file), setup_reps, plus the workload's own fixed
  * properties from workloads.json. Writes one JSON object of raw
  * measurements to `out`; every metric is computed from it in Python.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val out = Paths.get(conf("out"))
    // Exit explicitly: a stray non-daemon thread must not keep a finished
    // (or failed) run alive.
    val code = try {
      val json = new ObjectMapper().registerModule(DefaultScalaModule)
      Files.writeString(out, json.writeValueAsString(new Run(conf).execute()))
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }
}

/** Settings shared by every workload; `p` reads a workload property. */
final class Run(val conf: Map[String, String]) {
  val workload: String = conf("workload")
  val seed: Long = conf("seed").toLong
  val seconds: Double = conf("seconds").toDouble
  val traced: Boolean = conf("trace") == "1"
  val cores: Int = conf("cores").toInt
  val work: Path = Paths.get(conf("work"))
  val tracer = new Tracer

  def p(key: String): String =
    conf.getOrElse(key, throw new IllegalArgumentException(s"missing workload property '$key'"))

  private var spark: SparkSession = _
  var probes: Probes = _
  private val failures = mutable.ArrayBuffer.empty[String]
  @volatile var attempted = 0L

  /** Records `n` failed operations, keeping the first messages. */
  def fail(what: String, n: Long = 1): Unit = failures.synchronized {
    if (failures.size < 20) failures += what
    failedCount += n
  }
  @volatile private var failedCount = 0L

  def session(): SparkSession = spark

  /** Bench's session settings; scratch files go to java.io.tmpdir, which
    * run.py points into the run's own directory. */
  private def boot(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stopSession(): Unit = if (spark != null) {
    spark.streams.active.foreach(_.stop())
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** Heap in use after a forced full collection, in MiB. Spark's
    * ContextCleaner frees the blocks of collected references on its own
    * thread after a collection, so collections repeat until the reading
    * settles. */
  def retainedHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var last = used()
    var now = last
    var rounds = 0
    do {
      Thread.sleep(100)
      last = now
      now = used()
      rounds += 1
    } while (rounds < 10 && math.abs(now - last) > 0.5)
    now
  }

  /** Runs one timed region; returns its result and the engine counters. */
  def region[T](tag: String, traceOn: Boolean)(body: => T): (T, Map[String, Any]) = {
    probes.drain()
    probes.engine.reset()
    tracer.on = traceOn
    probes.engine.active = true
    probes.progress.tag.set(tag)
    val r = try body finally {
      probes.drain()
      probes.engine.active = false
      probes.progress.tag.set(null)
      tracer.on = false
    }
    (r, Map("engine" -> probes.engine.c.toMap))
  }

  def execute(): Map[String, Any] = {
    Files.createDirectories(work)
    val w: Workload = workload match {
      case "kinesis_backfill" => new Backfill(this)
      case "kinesis_relay" => new Relay(this)
      case "batch_sql" | "llm_dedup" => new Batch(this)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    // Set-up runs several times; each boots a fresh session and redoes the
    // workload's warm-up and preload. The last one is measured.
    val reps = p("setup_reps").toInt
    val setups = (1 to reps).map { i =>
      stopSession()
      val t0 = System.nanoTime()
      tracer.on = traced
      tracer.span("bench.setup") {
        spark = boot()
        probes = new Probes(spark, tracer)
        w.setup()
      }
      tracer.on = false
      (System.nanoTime() - t0) / 1e9
    }
    val phase = if (traced) "traced" else "untraced"
    val measured = Map(phase -> w.measure(phase, seconds, traced))
    val heap = retainedHeapMb()
    val cleanupS = w.finish()
    val res = Map[String, Any](
      "workload" -> workload,
      "setup_s" -> setups,
      "retained_heap_mb" -> heap,
      "cleanup_s" -> cleanupS,
      "phases" -> measured,
      "progress" -> probes.progress.all,
      "spans" -> tracer.all,
      "attempted" -> attempted,
      "failed" -> failedCount,
      "failures" -> failures.toList,
      "cores" -> cores) ++ w.extra
    stopSession()
    res
  }
}

/** A workload: `setup` prepares one fresh session (warm-up, preload,
  * correctness reference), `measure` runs one timed region and returns its
  * raw numbers, `finish` releases state and returns the cleanup time.
  */
trait Workload {
  def setup(): Unit
  def measure(phase: String, seconds: Double, traced: Boolean): Map[String, Any]
  def finish(): Double
  def extra: Map[String, Any] = Map.empty
}
