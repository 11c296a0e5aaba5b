package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration shared by Bench, Verify, ScaleProbe, Dev
  * and the test suites, so the plans the tests pin are the plans the tools
  * run. `local[cores]` with one shuffle partition per core; cores come from
  * SPARK_GRAFT_CPUS (default 4). UTC (EventStream's sentinel cache assumes
  * every session shares it), ANSI off (every declared query was
  * parity-verified under non-ANSI evaluation), UI off, log level WARN.
  *
  * canChangeCachedPlanOutputPartitioning lets AQE choose the output
  * partitioning of plans that feed a cache. Spark defaults it off purely
  * for partitioning-stability conservatism; with it on, cached builders
  * (rep graphs, IVF/PQ indexes, chunk tables) materialize with
  * AQE-coalesced partition counts instead of a fixed shuffle.partitions,
  * so their many downstream stages stop paying one task per core per tiny
  * cached scan. Measured (same-boot filtered A/B over the 16 cache-heavy
  * rows, two rounds): 77.2/62.6 s off vs 51.8/51.1 s on, no row regressed;
  * rows without caches are unaffected. Scale-neutral: at production sizes
  * AQE targets advisoryPartitionSizeInBytes.
  */
object Session {
  def apply(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
