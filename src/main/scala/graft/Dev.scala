package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.execution.ExplainMode

/** Single-query dev tool; one fresh JVM per call, session from [[Session]].
  *
  * `Dev time <query> [sfDir]` — the adjudication protocol for per-query
  * bench swings (SURVEY §6): run it interleaved across code variants on one
  * boot, bracketed by tools/host_probe.py, and the swing attributes itself
  * to code or host. The query first runs on the smallest-SF sibling
  * ([[WarmDir]]) so the timed region measures the plan, not classloading
  * and JIT; when that sibling is sfDir itself the warm-up is skipped and
  * flagged, since a same-dir warm-up would time a cache-warmed second run.
  * A blocking [[Cleanup]] then drops the warm-up's state, and one timed
  * run follows. Prints the timed run's per-stage cost table (executor run
  * and CPU time, wall, tasks, shuffle read/write, input, records written,
  * call site; sorted by executor time), then one JSON line as the last
  * stdout line. sfDir defaults to SPARK_GRAFT_SF_DIR, else sf0.1.
  *
  * `Dev plan <outDir> <suffix> <query>...` — writes each query's
  * `.explain("formatted")` text to `<outDir>/<query>_<suffix>.txt`, the
  * before/after plan evidence committed under plans/rNN/. The broadcast
  * threshold is left at its default so the plans match what the bench
  * runs. SPARK_GRAFT_SF_DIR selects the corpus, default sf0.01.
  *
  * Launch with tools/spark_java.sh, e.g.
  * `tools/spark_java.sh -Xmx4g graft.Dev time scan_project_filter`.
  */
object Dev {
  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: name :: rest =>
      time(name, rest.headOption.getOrElse(
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")))
    case "plan" :: outDir :: suffix :: names if names.nonEmpty =>
      plan(outDir, suffix, names,
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    case _ =>
      System.err.println("usage: graft.Dev time <query> [sfDir]\n" +
        "       graft.Dev plan <outDir> <suffix> <query> [query ...]")
      sys.exit(2)
  }

  private def time(name: String, sfDir: String): Unit = {
    val spark = Session()
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo)
    })
    val q = SparkEntry.queries(name)
    val (warmDir, warmed) = WarmDir.resolve(sfDir)
    if (warmed) q(spark, warmDir).count()
    Cleanup.release(spark, blocking = true)
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    q(spark, sfDir).count()
    val sec = (System.nanoTime() - t0) / 1e9
    // Warm-up stages can still be in flight on the listener bus; only
    // stages submitted inside the timed region belong to the table.
    val timed = stages.asScala.toSeq.filter(_.submissionTime.exists(_ >= t0Ms))
    val mb = (b: Long) => f"${b / 1048576.0}%8.1f"
    println(f"\n== $name%s  total=$sec%.2f s  stages=${timed.size}%d ==")
    println(f"${"execMs"}%8s ${"cpuMs"}%8s ${"wallMs"}%7s ${"tasks"}%5s " +
      f"${"shR_MB"}%8s ${"shW_MB"}%8s ${"in_MB"}%8s ${"recsW"}%9s  name / site")
    timed.sortBy(-_.taskMetrics.executorRunTime).take(40).foreach { s =>
      val m = s.taskMetrics
      val wall = (for (a <- s.submissionTime; b <- s.completionTime) yield b - a)
        .getOrElse(-1L)
      val site = s.details.linesIterator
        .filter(l => l.contains("graft") && !l.contains("graft.Dev$"))
        .take(2).mkString(" <- ").trim
      println(f"${m.executorRunTime}%8d ${m.executorCpuTime / 1000000L}%8d " +
        f"$wall%7d ${s.numTasks}%5d " +
        f"${mb(m.shuffleReadMetrics.totalBytesRead)} " +
        f"${mb(m.shuffleWriteMetrics.bytesWritten)} " +
        f"${mb(m.inputMetrics.bytesRead)} " +
        f"${m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten}%9d" +
        f"  ${s.name.take(60)}%s | ${site.take(120)}%s")
    }
    println(f"sum executorRunTime = " +
      f"${timed.map(_.taskMetrics.executorRunTime).sum / 1000.0}%.2f s across " +
      f"${timed.map(_.numTasks).sum}%d tasks; wall $sec%.2f s on " +
      f"${spark.sparkContext.defaultParallelism}%d cores")
    println(s"""{"query":"$name","sec":$sec,"sf":"$sfDir","warmed":$warmed}""")
    spark.stop()
  }

  private def plan(outDir: String, suffix: String, names: Seq[String],
      sfDir: String): Unit = {
    val spark = Session()
    spark.conf.set("spark.sql.maxPlanStringLength", "2000000")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
        df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      Cleanup.release(spark, blocking = true)
    }
    spark.stop()
  }
}
