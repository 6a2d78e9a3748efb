package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.core.Tables
import graft.model.Runner
import graft.models.{EurostatModels, TestdataRaw}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Full DAG through the Runner on sf0.001: every model materializes,
  * the singular consistency test passes, the snapshot tracks revisions
  * across two runs, the incremental fact doesn't duplicate, and a repeated
  * full refresh reuses the generated code.
  */
class EndToEndSpec extends SparkSpec {

  private val asOf1 = Timestamp.valueOf("2002-01-01 00:00:00")
  private val asOf2 = Timestamp.valueOf("2002-02-01 00:00:00")

  test("the full eurostat DAG runs end-to-end and all models are non-empty") {
    val wh = Files.createTempDirectory("graft-e2e").toString
    val t  = Tables(spark, "/root/testdata/sf0.001")
    val r  = new Runner(spark, wh, asOf1, "e2e-run-1")
    val out = r.run(EurostatModels.models(asOf1, "e2e-run-1"), TestdataRaw.sources(t))

    val expectModels = Seq(
      "stg_eurostat__gdp", "stg_eurostat__unemployment", "stg_eurostat__inflation",
      "stg_eurostat__population", "int_country_annual_metrics",
      "int_country_monthly_indicators", "dim_country", "fct_economic_indicators",
      "rpt_annual_economic_summary", "py_anomaly_detection",
      "py_data_quality_scores", "py_unemployment_forecast", "snap_gdp_history")
    expectModels.foreach { m =>
      assert(out.contains(m), s"missing model $m")
      assert(out(m).count() > 0, s"model $m produced 0 rows")
    }

    // staging dropped the annual noise rows from monthly tables
    assert(out("stg_eurostat__unemployment")
      .filter(length(col("period_code")) < 7).count() == 0)

    // singular test: aggregate row consistent within 5%
    assert(EurostatModels
      .euAggregateConsistencyViolations(out("stg_eurostat__gdp")).count() == 0)

    // fct has unique keys and references dim
    assert(graft.quality.Checks.unique(out("fct_economic_indicators"),
      Seq("indicator_key")).count() == 0)
    assert(graft.quality.Checks.relationships(
      out("fct_economic_indicators"), "country_key",
      out("dim_country"), "country_key").count() == 0)

    // second run, same sources: incremental appends nothing new
    val r2 = new Runner(spark, wh, asOf2, "e2e-run-2")
    val out2 = r2.run(EurostatModels.models(asOf2, "e2e-run-2"), TestdataRaw.sources(t))
    assert(out2("fct_economic_indicators").count() == out("fct_economic_indicators").count())
    // snapshot unchanged: no new versions opened
    assert(out2("snap_gdp_history").filter(col("dbt_valid_to").isNotNull).count() == 0)

    // A repeated full refresh reuses the first one's generated code.
    // Spark's codegen cache is JVM-wide. At its default 100 entries one
    // DAG run evicts its own classes: a repeated full refresh recompiled
    // 319-324 of them (sf0.001, local[4]). With the cache sized by
    // Sessions.CodegenCacheEntries, repeated runs compiled 2-68 classes
    // over 15 runs, alone and after the rest of the suite: the whole-stage
    // stage number was part of the generated class, and AQE assigns those
    // numbers while it re-plans a running query, so they could differ
    // between runs of one plan. Sessions.local now keeps the number out of
    // class names, and one run alone recompiled 2 classes. The bound of
    // 120 sits above the old spread and well below a thrashing cache.
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val before = compiles
    new Runner(spark, Files.createTempDirectory("graft-e2e").toString, asOf1, "e2e-run-3")
      .run(EurostatModels.models(asOf1, "e2e-run-3"), TestdataRaw.sources(t))
    val recompiled = compiles - before
    assert(recompiled <= 120, s"a repeated full refresh compiled $recompiled classes")
  }

  test("snapshot captures a GDP revision as an SCD2 version pair") {
    val wh = Files.createTempDirectory("graft-snap").toString
    val t  = Tables(spark, "/root/testdata/sf0.001")
    val models = EurostatModels.models(asOf1, "snap-1")
      .filter(m => Set("stg_eurostat__gdp", "snap_gdp_history")(m.name))
    val r1 = new Runner(spark, wh, asOf1, "snap-1")
    r1.run(models, TestdataRaw.sources(t))

    // revise one country-year's GDP by +10% and snapshot again
    val revised = TestdataRaw.rawGdp(t).withColumn("value",
      when(col("geo_code") === "ALLNATIONS", col("value") * 1.1).otherwise(col("value")))
    val r2 = new Runner(spark, wh, asOf2, "snap-2")
    val out = r2.run(
      EurostatModels.models(asOf2, "snap-2")
        .filter(m => Set("stg_eurostat__gdp", "snap_gdp_history")(m.name)),
      TestdataRaw.sources(t) + ("raw_gdp" -> revised))("snap_gdp_history")

    val closed = out.filter(col("dbt_valid_to").isNotNull)
    val opened = out.filter(col("dbt_valid_from") === lit(asOf2))
    assert(closed.count() == opened.count() && closed.count() > 0)
    assert(closed.select("country_code").distinct().collect()
      .map(_.getString(0)).toSet == Set("ALLNATIONS"))
  }
}
