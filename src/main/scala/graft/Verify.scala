package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    // Focused re-runs (round 15; the Bench/ScaleProbe SPARK_GRAFT_ONLY
    // idiom): restrict the dump to a comma-separated subset for fast
    // iteration on changed queries. Unknown names fail loud so a typo
    // can't silently shrink the evidence; the driver runs unfiltered.
    val only: Set[String] = sys.env.getOrElse("SPARK_GRAFT_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names not declared in SparkEntry: ${unknown.mkString(", ")}")
    val toRun =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    toRun.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Same per-query state hygiene as Bench (graft.Cleanup is the public
      // form): drop cached DFs and leftover localCheckpoint RDDs so 80
      // queries in one session don't accumulate block-manager state.
      Cleanup.release(spark)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(SparkEntry.oracleSql.asJava))
    spark.stop()
  }
}
