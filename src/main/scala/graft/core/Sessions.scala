package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory.
  *
  * Mirrors the reference's execution profile (dbt-duckdb, single machine,
  * `profiles.yml:10,14` threads) on two levels of Spark's execution model:
  * inside a model, `threads` becomes task parallelism
  * (`spark.sql.shuffle.partitions`, one partition per local core; on a real
  * cluster this is raised to O(cores) and AQE coalesces the rest); across
  * models, [[graft.model.Runner.run]] runs independent models concurrently,
  * at most `defaultParallelism` (the local core count) at a time — dbt's
  * `threads: 4` on a 4-core box.
  *
  * Event-time contract: `events.ts` (TIMESTAMP(NANOS) parquet) reads as
  * TIMESTAMP_NTZ on this toolchain (Spark 4.1) and is canonicalized at
  * first read by [[Tables.canonicalEventsTs]] — a schema probe that fails
  * loudly on any other reading, NOT a conf (the 3.x
  * `spark.sql.legacy.parquet.nanosAsLong` conf is dead on 4.1 and is
  * deliberately not set anywhere). The UTC session timezone below is part
  * of that contract: the ntz→timestamp cast preserves the instant only
  * under UTC, and DuckDB-oracle parity requires UTC regardless.
  */
object Sessions {

  /** Capacity of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). Counted as
    * compiles under an unbounded cache at sf0.01 on local[4]: one refresh
    * cycle of the Eurostat DAG (full refresh, tests, incremental run)
    * generates 318 distinct classes, one sweep of all 274 queries about
    * 3,520. At the default the DAG evicts its own classes, so every cycle
    * recompiled about 490 of them. 1024 holds the DAG three times over. It does not hold a full query sweep: caching that many classes
    * retained about 165 MB more heap after a sweep (402 MB against 237 MB
    * at the default). The value is static: it takes effect in the first
    * session of a JVM.
    */
  val CodegenCacheEntries = 1024

  /** Local session tuned for the test harness (local[n], small data). */
  def local(cpus: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
