package graft.core

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Loader for the driver-provided parquet tables under a scale-factor dir
  * (see /root/repo/TESTDATA.md). One parquet file per table; reading them
  * through `spark.read.parquet` keeps filter pushdown and column pruning
  * available to Catalyst (verify with `.explain("formatted")`:
  * PushedFilters / ReadSchema).
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  /** `events.ts` is TIMESTAMP(NANOS) parquet. Spark 4.1 reads it as
    * TIMESTAMP_NTZ truncated to microseconds (the 3.x
    * `spark.sql.legacy.parquet.nanosAsLong` conf no longer affects the
    * reading); the canonical engine form is session-zoned TIMESTAMP in a
    * UTC session — the same instant, and value parity with DuckDB's own
    * nanos→micros truncation, which the oracle compare depends on.
    * [[Tables.canonicalEventsTs]] asserts this contract and fails loudly
    * if a toolchain change shifts the reading again.
    */
  def events: DataFrame = Tables.canonicalEventsTs(table("events"))
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {

  /** The schema-probe contract for event-time columns (batch and
    * streaming): accept the readings this toolchain can produce and
    * normalize them to ONE canonical type, session-zoned TIMESTAMP at
    * microsecond precision, so every downstream operator
    * (`unix_micros`, windows, watermarks) sees a single representation.
    *
    *  - TIMESTAMP_NTZ (Spark ≥4.1's reading of TIMESTAMP(NANOS) parquet):
    *    cast to TIMESTAMP. The cast reinterprets the wall-clock reading in
    *    the session zone, so it preserves the instant ONLY under UTC —
    *    asserted here rather than assumed.
    *  - TIMESTAMP: already canonical (pass through).
    *  - anything else (e.g. the dead 3.x nanos-as-long bigint reading):
    *    refuse loudly, naming the toolchain behavior, instead of letting
    *    a silently-shifted unit corrupt every window downstream — the
    *    exact failure mode the Spark 4.1.2 upgrade exposed.
    */
  def canonicalEventsTs(raw: DataFrame, colName: String = "ts"): DataFrame =
    raw.schema(colName).dataType match {
      case TimestampNTZType =>
        requireUtc(raw.sparkSession, colName)
        raw.withColumn(colName, col(colName).cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.$colName read as $other on Spark ${raw.sparkSession.version}: " +
          "expected TIMESTAMP_NTZ (Spark >=4.1 reads TIMESTAMP(NANOS) parquet as " +
          "ntz with micros precision; the 3.x nanosAsLong bigint reading is gone). " +
          "The toolchain behavior shifted again - update Tables.canonicalEventsTs.")
    }

  /** True iff `dt` is a type [[canonicalEventsTs]] accepts. */
  def isEventTimeType(dt: DataType): Boolean =
    dt == TimestampNTZType || dt == TimestampType

  /** Public: any operator casting TIMESTAMP_NTZ→TIMESTAMP must enforce
    * the same UTC contract (TemporalJoins guards its entry points with
    * this), not just the events reader.
    */
  def requireUtc(spark: SparkSession, colName: String): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    if (tz != "UTC") throw new IllegalStateException(
      s"session timeZone=$tz: canonicalizing events.$colName from TIMESTAMP_NTZ " +
        "preserves the instant only under UTC - set " +
        "spark.sql.session.timeZone=UTC at session build (oracle parity " +
        "requires it anyway)")
  }

  /** `ds` over at least `defaultParallelism` partitions. Each table is one
    * small parquet file, which a local scan reads as ONE split, so a
    * per-row-heavy stage over it (a BPE apply, a media hash, a moment
    * explode) would run on one core. At warehouse scale the scan already
    * has that many splits and `ds` comes back as it is: no shuffle added.
    */
  def spread[T](ds: Dataset[T]): Dataset[T] = {
    val para = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions < para) ds.repartition(para) else ds
  }
}
