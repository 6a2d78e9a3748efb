package graft

import graft.core.Tables
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** The canonical event-time contract (`Tables.canonicalEventsTs`): the
  * TIMESTAMP(NANOS) parquet reading (TIMESTAMP_NTZ on Spark ≥4.1)
  * normalizes to session-zoned TIMESTAMP at the true instant; already-
  * canonical frames pass through; any other reading — or a non-UTC
  * session, where the ntz cast would shift the instant — is a loud error,
  * not a silent unit shear. (Replaces the 3.x `nanosAsLong` conf contract,
  * which Spark 4.1 made dead code.)
  */
class SessionsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("events.ts canonicalizes to TIMESTAMP at the true instant (micros precision)") {
    val e = Tables(spark, dir).events
    assert(e.schema("ts").dataType == TimestampType)
    // the instant survives: first event of the deterministic sf0.001 data
    // is 2024-01-01T00:09:58.778549Z — a nanos/micros/millis unit shear
    // of any direction lands decades away from 2024
    val minMicros = e.agg(min(unix_micros(col("ts")))).head.getLong(0)
    assert(minMicros == 1704067798778549L,
      s"events.ts min instant shifted: $minMicros")
  }

  test("an already-canonical TIMESTAMP frame passes through unchanged") {
    val once  = Tables(spark, dir).events
    val twice = Tables.canonicalEventsTs(once)
    assert(twice.schema("ts").dataType == TimestampType)
    assert(twice.agg(min(unix_micros(col("ts")))).head.getLong(0) ==
           once.agg(min(unix_micros(col("ts")))).head.getLong(0))
  }

  test("an unexpected reading (e.g. the dead 3.x bigint form) is refused loudly") {
    val asLong = spark.read
      .schema("event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING")
      .parquet(s"$dir/events.parquet")
    val ex = intercept[IllegalStateException](Tables.canonicalEventsTs(asLong))
    assert(ex.getMessage.contains("LongType") && ex.getMessage.contains(spark.version))
  }

  test("a non-UTC session cannot canonicalize ntz (the cast would shift the instant)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "America/New_York")
    val raw = s2.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType) // precondition
    val ex = intercept[IllegalStateException](Tables.canonicalEventsTs(raw))
    assert(ex.getMessage.contains("America/New_York"))
  }

  test("isEventTimeType accepts exactly the readings the contract handles") {
    assert(Tables.isEventTimeType(TimestampNTZType))
    assert(Tables.isEventTimeType(TimestampType))
    assert(!Tables.isEventTimeType(LongType))
  }

  test("a cold call in a new session reuses the executor classes the JVM already compiled") {
    // Artifact isolation is off in Sessions.local, so every session's tasks
    // run under one classloader and hit the JVM-wide codegen cache. With
    // isolation on, each newSession() got its own executor classloader and
    // recompiled every class of its first call. AQE is off in both
    // sessions so the plans, and hence the generated sources, are equal.
    def query(s: SparkSession): Long = {
      import s.implicits._
      Tables(s, dir).documents
        .select(col("doc_id"), col("text").cast("string")).as[(Long, String)]
        .map { case (id, t) => (id % 7, if (t == null) 0 else t.length) }
        .toDF("g", "len")
        .groupBy("g").agg(sum("len").as("len"), count(lit(1)).as("n"))
        .count()
    }
    def loaders(s: SparkSession): Set[String] = {
      import s.implicits._
      s.range(0, 8, 1, 4).as[Long].mapPartitions { _ =>
        val cl = Thread.currentThread().getContextClassLoader
        Iterator(s"${cl.getClass.getName}@${System.identityHashCode(cl)}")
      }.collect().toSet
    }
    val first = spark.newSession()
    first.conf.set("spark.sql.adaptive.enabled", "false")
    val warm = query(first)
    val firstLoaders = loaders(first)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cold = spark.newSession()
    cold.conf.set("spark.sql.adaptive.enabled", "false")
    val before = compiles
    assert(query(cold) == warm)
    val compiled = compiles - before
    assert(compiled == 0, s"the cold call in a new session compiled $compiled classes")
    val all = firstLoaders ++ loaders(cold)
    assert(all.size == 1, s"tasks of two sessions ran under ${all.size} classloaders: $all")
  }
}
