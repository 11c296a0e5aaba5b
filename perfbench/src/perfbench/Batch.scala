package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}

import graft.{Cleanup, Q, SparkEntry}

/** `batch_sql` and `llm_dedup`: passes over declared query rows, reached
  * through `SparkEntry.all`, on the generated fixture.
  *
  * Set-up runs every row once and checks its full result (row count and an
  * order-insensitive content hash) against `expected.json`; that pass is
  * also the JIT and class-loading warm-up. A timed pass runs the rows in
  * their declared order; each row's time is `q.fn` (build), planning of
  * its `count()` (plan) and the count itself (exec). `Cleanup.release`
  * runs after each row, outside the row's time. The seed does not change
  * these inputs: the tables are fixed so that the stored hashes hold.
  */
final class Batch(run: Run) extends Workload {
  private val names = run.p("rows").split(",").toSeq
  private val fixture = run.p("fixture")
  private val recording = run.conf.get("record").contains("1")
  private val rows: Seq[Q] = {
    val all = SparkEntry.all.map(q => q.name -> q).toMap
    names.map(n => all.getOrElse(n, throw new IllegalArgumentException(s"no query row '$n'")))
  }
  private val expected: Map[String, (Long, String)] =
    if (recording) Map.empty
    else names.map { n =>
      val Array(count, hash) = run.p(s"expect.$n").split(":")
      n -> (count.toLong, hash)
    }.toMap
  private val recorded = ArrayBuffer.empty[Map[String, Any]]
  private var pending = false

  /** Releases the last row's state; `gc` also collects, as `graft.Bench`
    * does between timed rows, so the next row does not pay for this one. */
  private def release(gc: Boolean = true): Double = {
    val t0 = System.nanoTime()
    run.tracer.span("cleanup.release") {
      Cleanup.release(run.session(), blocking = true)
      if (gc) System.gc()
    }
    pending = false
    (System.nanoTime() - t0) / 1e9
  }

  def setup(): Unit = {
    run.probes.engine.jobSpans = true
    rows.foreach(check)
  }

  private def check(q: Q): Unit = {
    run.attempted += 1
    run.tracer.span(s"queries.check.${q.name}") { try {
      val (n, hash) = Batch.contentHash(q.fn(run.session(), fixture))
      if (recording) recorded += Map("row" -> q.name, "count" -> n, "hash" -> hash)
      else if (expected(q.name) != (n, hash))
        run.fail(s"${q.name}: got $n rows / $hash, expected ${expected(q.name)}")
    } catch {
      case e: Exception => run.fail(s"${q.name} threw in set-up: $e")
    } }
    release(gc = false)
  }

  def measure(phase: String, seconds: Double, traced: Boolean): Map[String, Any] = {
    if (pending) release()
    val samples = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Double]
    val cleanups = ArrayBuffer.empty[Double]
    val (_, region) = run.region(phase, traced) {
      val t0 = System.nanoTime()
      var pass = 0
      while (pass == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        var suite = 0.0
        var cleanup = 0.0
        rows.zipWithIndex.foreach { case (q, i) =>
          val s = timeRow(q, pass)
          samples += s
          suite += s("build_s").asInstanceOf[Double] + s("plan_s").asInstanceOf[Double] +
            s("exec_s").asInstanceOf[Double]
          // The final row's state stays until the heap has been read.
          val lastRow = i == rows.size - 1 && (System.nanoTime() - t0) / 1e9 >= seconds
          if (lastRow) pending = true else cleanup += release()
        }
        passes += suite
        cleanups += cleanup
        pass += 1
      }
    }
    region ++ Map("rows" -> samples.toList, "passes_s" -> passes.toList,
      "cleanup_s" -> cleanups.toList)
  }

  private def timeRow(q: Q, pass: Int): Map[String, Any] = {
    val spark = run.session()
    run.attempted += 1
    run.probes.drain()
    val jobs0 = run.probes.engine.c.getOrElse("jobs", 0L)
    var build, plan, exec = 0.0
    var ok = true
    run.tracer.span(s"queries.row.${q.name}") {
      try {
        var t = System.nanoTime()
        val df = run.tracer.span("queries.build")(q.fn(spark, fixture))
        build = (System.nanoTime() - t) / 1e9
        t = System.nanoTime()
        val counted = df.groupBy().count()
        run.tracer.span("queries.plan")(counted.queryExecution.executedPlan)
        plan = (System.nanoTime() - t) / 1e9
        t = System.nanoTime()
        val n = run.tracer.span("queries.exec")(counted.collect().head.getLong(0))
        exec = (System.nanoTime() - t) / 1e9
        if (!recording && n != expected(q.name)._1) {
          ok = false
          run.fail(s"${q.name}: count $n, expected ${expected(q.name)._1}")
        }
      } catch {
        case e: Exception => ok = false; run.fail(s"${q.name} threw: $e")
      }
    }
    run.probes.drain()
    Map("row" -> q.name, "pass" -> pass, "build_s" -> build, "plan_s" -> plan,
      "exec_s" -> exec, "jobs" -> (run.probes.engine.c.getOrElse("jobs", 0L) - jobs0),
      "ok" -> ok)
  }

  def finish(): Double = release()

  override def extra: Map[String, Any] = Map("recorded" -> recorded.toList)
}

object Batch {
  /** Row count and SHA-256 over the sorted canonical rows, columns in name
    * order. Doubles are compared at 10 significant digits so summation
    * order cannot flip the hash; floats at 6.
    */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.toSeq
    val order = cols.indices.sortBy(cols(_))
    val lines = df.collect().map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(cols(_)).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    (lines.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: java.lang.Double =>
      if (d.isNaN || d.isInfinite) d.toString else digits(new JBigDecimal(d.doubleValue), 10)
    case f: java.lang.Float =>
      if (f.isNaN || f.isInfinite) f.toString else digits(new JBigDecimal(f.doubleValue), 6)
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case t: java.sql.Timestamp => t.toLocalDateTime.toString
    case t: java.time.LocalDateTime => t.toString
    case t: java.time.Instant => t.toString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => String.valueOf(other)
  }

  private def digits(d: JBigDecimal, n: Int): String =
    if (d.signum == 0) "0" else d.round(new MathContext(n)).stripTrailingZeros.toPlainString
}
