package graft

import graft.core.Materialize
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

/** The two durability classes of `core.Materialize`, pinned with durable
  * mode on: a shared-state `cut` becomes a warehouse table while a
  * `cutLocal` stays a local checkpoint; `release` frees a local cut's
  * blocks, and `cachedWhile` leaves no cache behind.
  */
class MaterializeSpec extends SparkSpec {

  private def durableSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.materialize.durable", "true")
    s
  }

  private def cacheEmpty(s: SparkSession): Boolean =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.isEmpty

  test("durable mode: cut reads back from its graft_mat table, cutLocal stays an RDD scan") {
    val s = durableSession()
    val df = s.range(0, 200).select(col("id"), (col("id") % 7).as("k"))
    val rows = df.collect().toSet

    val shared = Materialize.cut(df, "spec_shared")
    val tables = shared.queryExecution.analyzed.collect {
      case r: LogicalRelation => r.catalogTable.map(_.identifier.table).getOrElse("")
    }
    assert(tables.size == 1 && tables.head.startsWith("graft_mat_spec_shared_"),
      s"shared cut does not read a graft_mat table: ${shared.queryExecution.analyzed}")
    assert(shared.collect().toSet == rows)

    val local = Materialize.cutLocal(df)
    assert(local.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      s"local cut is not an RDD scan: ${local.queryExecution.analyzed}")
    assert(local.collect().toSet == rows)
  }

  test("release drops a local cut's RDD from the persistent RDDs") {
    val s = durableSession()
    val local = Materialize.cutLocal(s.range(0, 50).toDF("id"))
    val rddId = local.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
    assert(s.sparkContext.getPersistentRDDs.contains(rddId))
    Materialize.release(local)
    assert(!s.sparkContext.getPersistentRDDs.contains(rddId))
    // a frame that is not a local cut is left alone
    Materialize.release(s.range(3).toDF("id"))
  }

  test("cachedWhile caches for the body only, also when the body throws") {
    val s = durableSession()
    s.catalog.clearCache()
    val a = s.range(0, 30).toDF("id")
    val b = s.range(0, 40).select((col("id") * 2).as("id"))
    val n = Materialize.cachedWhile(a, b) {
      assert(!cacheEmpty(s), "inputs not cached inside the body")
      a.join(b, "id").count()
    }
    assert(n == 15)
    assert(cacheEmpty(s), "cache outlived the body")
    val e = intercept[IllegalStateException] {
      Materialize.cachedWhile(a) { a.count(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(cacheEmpty(s), "cache outlived a throwing body")
  }
}
