package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the defaults this engine assumes.
  *
  * Tuned for correctness-at-scale first: AQE on (runtime re-plan, skew-join
  * splitting, shuffle coalescing), shuffle partitions sized for the local
  * harness (a real cluster deployment would raise this to ~2-3x total cores;
  * AQE coalescing makes over-provisioning cheap), UTC so timestamp semantics
  * match the DuckDB oracle bit-for-bit.
  *
  * Generated-code cache: Spark keeps compiled whole-stage/projection classes
  * in an LRU of `spark.sql.codegen.cache.maxEntries` entries (default 100).
  * A serving mix needs more: the agent-state benchmark's seven op classes
  * (memory write/recall, session push/read, retrieve, ingest, maintenance)
  * compile 247 distinct classes by the end of set-up and warm-up (measured
  * with the `CodegenMetrics` compile count, seed 8001), after which each op
  * adds 0–8 one-off literal variants. At 100 entries the LRU cycles and
  * every steady-state op recompiles 7–64 classes with Janino — most of a
  * warm op's time. The cache is fixed at 1000 entries, over 3× the working
  * set, so warm ops reuse compiled code while the LRU ages out the one-off
  * variants; each entry is one loaded class (a few KB of metaspace).
  */
object GraftSession {
  def builder(cores: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  def get(cores: Int = 32): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
