package graft.queries

import java.sql.Timestamp

import graft.analytics.{Anomaly, Forecast, QualityScores}
import graft.core.{Artifact, Tables}
import graft.model.Model
import graft.models._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's full model DAG (staging → intermediate → marts →
  * analytics) run end-to-end over synthesized raw tables
  * ([[TestdataRaw]]), one oracle-checked query per layer. This exercises
  * S1-S8, P1-P6, J1-J9, A1-A8, W1-W9 and F1-F13 of SURVEY §2 inside the
  * real pipeline, not just in isolation.
  *
  * Audit columns (`_loaded_at`, `_dbt_invocation_id`, `_extracted_at`) are
  * dropped from query outputs per the determinism contract
  * (BASELINE.md); date outputs are ISO strings for dtype-stable hashing.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  private val AsOf = Timestamp.valueOf("2002-01-01 00:00:00")

  private val AuditCols = Seq("_loaded_at", "_dbt_invocation_id", "_extracted_at")

  private def out(df: DataFrame): DataFrame = {
    val dropped = df.drop(AuditCols: _*)
    dropped.select(dropped.schema.fields.map { f =>
      f.dataType match {
        case DateType => col(f.name).cast(StringType).as(f.name)
        case _        => col(f.name)
      }
    }: _*)
  }

  /** The composed pipeline references each staging model several times
    * (spine + join + annual rollup); Catalyst does not dedupe identical
    * subtrees, so without a cut the 600k-row raw-synthesis joins re-run
    * per reference. Stage outputs are tiny (countries × months), so each
    * of the eight stages below (staging, intermediate, dim, fct) is an
    * eager lineage cut per (session, sfDir, model), shared across
    * pipeline queries — the query-level analog of the reference
    * materializing marts as tables (`dbt_project.yml:45`). Without the
    * cut, q54/q56/q57/q58/q59 would each re-plan and re-run the whole
    * staging→fct chain.
    */
  private val stageCache = new Artifact[DataFrame]("pipeline_stage")

  /** The Runner's DAG: a stage is its model's transform over its resolved
    * deps, so this object wires no edge of its own.
    */
  private val dag: Map[String, Model] =
    EurostatModels.models(AsOf, "graft-run").map(m => m.name -> m).toMap

  /** `name`'s transform over its deps: stages come cut, raw sources are
    * built only when a stage reads them.
    */
  private def plan(t: Tables, name: String): DataFrame = {
    val m = dag(name)
    def input(d: String) = if (dag.contains(d)) stage(t, d) else TestdataRaw.source(t, d)
    m.transform(m.deps.map(d => d -> input(d)).toMap)
  }
  private def stage(t: Tables, name: String): DataFrame =
    stageCache.cut(t.spark, s"${t.dir}|$name")(plan(t, name))

  private def intAnnual(t: Tables) = stage(t, "int_country_annual_metrics")
  private def dim(t: Tables) = stage(t, "dim_country")
  private def fct(t: Tables) = stage(t, "fct_economic_indicators")

  /** The LAZY fct plan over the memoized upstream stages — the very plan
    * [[fct]] cuts, exposed so PlanQualitySpec can assert the dim-join
    * broadcast shape that the shipped cut form hides behind its
    * checkpoint scan.
    */
  def fctPlan(s: SparkSession, dir: String): DataFrame =
    plan(Tables(s, dir), "fct_economic_indicators")

  val defs: Map[String, Q] = Map(
    "q50_stg_unemployment" -> { (s, dir) =>
      out(stage(Tables(s, dir), "stg_eurostat__unemployment"))
    },
    "q51_int_annual_metrics" -> { (s, dir) => out(intAnnual(Tables(s, dir))) },
    "q52_int_monthly_indicators" -> { (s, dir) =>
      out(stage(Tables(s, dir), "int_country_monthly_indicators"))
    },
    "q53_dim_country" -> { (s, dir) => out(dim(Tables(s, dir))) },
    "q54_fct_indicators" -> { (s, dir) => out(fct(Tables(s, dir))) },
    "q55_rpt_annual_summary" -> { (s, dir) =>
      val t = Tables(s, dir)
      out(Marts.rptAnnualSummary(intAnnual(t), dim(t), AsOf))
    },
    "q56_anomaly_detection" -> { (s, dir) => out(Anomaly.detect(fct(Tables(s, dir)))) },
    "q57_quality_scores" -> { (s, dir) => out(QualityScores.score(fct(Tables(s, dir)), AsOf)) },
    // FULL forecast surface, hash-gated: the sequential ES/Holt
    // recurrences fold in DuckDB via list_reduce over
    // list(y ORDER BY reference_date) — bit-identical to the Scala loop
    // (same IEEE ops in the same order; fuzz-verified) — so every column,
    // including the ensemble and intervals centered on it, oracle-gates.
    // Int-typed columns cast to long and the injected asOf timestamp to
    // string for dtype-stable hashing.
    "q58_forecast" -> { (s, dir) =>
      val f = Forecast.forecast(fct(Tables(s, dir)), AsOf)
      out(f.select(
        col("country_code"),
        col("forecast_date"),
        col("forecast_horizon_months").cast("long"),
        col("last_actual_date"),
        col("last_actual_value"),
        col("forecast_exp_smoothing"),
        col("forecast_holt"),
        col("forecast_linear_reg"),
        col("forecast_ensemble"),
        col("prediction_interval_lower"),
        col("prediction_interval_upper"),
        col("prediction_interval_width"),
        col("prediction_interval_margin"),
        col("forecast_confidence"),
        col("forecast_generated_at").cast(StringType),
        col("model_version"),
        col("min_training_samples").cast("long")))
    },
    // Oracle-gated decomposition of the forecast: the OLS extrapolation,
    // interval margin, date expansion, horizon, and margin-derived
    // confidence bucket are all closed-form — hash-matched vs DuckDB.
    // Only the es/holt recurrences stay ScalaTest-gated (ForecastSpec).
    "q59_forecast_ols" -> { (s, dir) =>
      val f = Forecast.forecast(fct(Tables(s, dir)), AsOf)
      out(f.select(
        col("country_code"),
        col("forecast_date"),
        col("forecast_horizon_months").cast("long"),
        col("last_actual_date"),
        col("last_actual_value"),
        col("forecast_linear_reg"),
        col("prediction_interval_margin"),
        when(col("prediction_interval_margin") * 2.0 < 1.0, "high")
          .when(col("prediction_interval_margin") * 2.0 < 2.0, "medium")
          .otherwise("low").as("margin_confidence"),
        col("min_training_samples").cast("long")))
    },
    "q60_consistency_test" -> { (s, dir) =>
      out(EurostatModels.euAggregateConsistencyViolations(
        stage(Tables(s, dir), "stg_eurostat__gdp")))
    },
    // Semantic-layer gate: the README metric registry (semantic.Metrics)
    // computed over fct at annual grain — all six simple metrics, the
    // derived gdp_per_capita, and both window metrics (yoy growth,
    // cumulative growth vs first year). Every consumer aggregating via
    // the registry gets exactly these values; the oracle pins them.
    "q69_metric_rollup" -> { (s, dir) =>
      val M = graft.semantic.Metrics
      val yearly = fct(Tables(s, dir))
        .groupBy(col("country_code"), col("reference_year"))
        .agg(
          M.simple("total_gdp"), M.simple("population"),
          M.simple("average_gdp_per_capita"), M.simple("unemployment_rate"),
          M.simple("monthly_inflation"), M.simple("annual_inflation"),
          max(col("annual_gdp_million_eur")).as("annual_gdp_million_eur"))
      out(yearly
        .withColumn("gdp_per_capita_derived",
          M.gdpPerCapitaDerived(col("total_gdp"), col("population")))
        .withColumn("gdp_growth",
          M.gdpGrowth(col("country_code"), col("reference_year")))
        .withColumn("cumulative_gdp_growth",
          M.cumulativeGdpGrowth(col("country_code"), col("reference_year")))
        .drop("annual_gdp_million_eur")
        .withColumn("reference_year", col("reference_year").cast("long")))
    },
    // Saved-query API gate — the reference's `mf query` consumption path
    // (README.md:295-297) through Metrics.query: metric names resolved
    // from the registry, MetricFlow time grain mapped, the where filter
    // applied before aggregation, window metric over the grouped frame.
    // Mirrors the README's documented example (unemployment_rate +
    // gdp_growth by country × year, filtered to named countries).
    "q105_metric_query" -> { (s, dir) =>
      out(graft.semantic.Metrics.query(
          fct(Tables(s, dir)),
          metrics = Seq("unemployment_rate", "gdp_growth"),
          groupBy = Seq("country_code", "metric_time__year"),
          where = Some("country_code IN ('NATION_0', 'NATION_7', 'NATION_19')"))
        .withColumn("reference_year", col("reference_year").cast("long")))
    },

    // The monthly-grain registry metric: trailing 12-month unemployment
    // trend (exact decimal window mean) per country over fct.
    "q70_metric_trend" -> { (s, dir) =>
      out(fct(Tables(s, dir))
        .select(col("indicator_key"), col("country_code"), col("reference_date"),
                col("unemployment_rate_pct"))
        .withColumn("unemployment_trend",
          graft.semantic.Metrics.unemploymentTrend(col("country_code"), col("reference_date"))))
    })

  // ---------------------------------------------------------------- SQL

  private def key(cols: String*): String =
    "md5(concat_ws('||', " +
      cols.map(c => s"coalesce(CAST($c AS VARCHAR), '')").mkString(", ") + "))"

  private val stgCtes: String =
    s"""stg_unemp AS (
       |  SELECT ${key("geo_code", "time_code")} AS unemployment_key,
       |    geo_code AS country_code, geo_code AS country_name,
       |    time_code AS period_code,
       |    CAST(SUBSTRING(time_code, 1, 4) AS INTEGER) AS reference_year,
       |    CAST(SUBSTRING(time_code, 6, 2) AS INTEGER) AS reference_month,
       |    make_date(CAST(SUBSTRING(time_code, 1, 4) AS INTEGER),
       |              CAST(SUBSTRING(time_code, 6, 2) AS INTEGER), 1) AS reference_date,
       |    value AS unemployment_rate_pct,
       |    'SA' AS seasonal_adjustment_code, 'Seasonally adjusted' AS seasonal_adjustment,
       |    'Y15-74' AS age_code, '15-74 years' AS age_group,
       |    'T' AS sex_code, 'Total' AS sex,
       |    'PC_ACT' AS unit_code, 'Percentage of active population' AS unit_description,
       |    'une_rt_m' AS source_dataset
       |  FROM raw_unemployment
       |  WHERE value IS NOT NULL AND time_code IS NOT NULL AND geo_code IS NOT NULL
       |    AND LENGTH(time_code) >= 7),
       |stg_infl AS (
       |  SELECT ${key("geo_code", "time_code")} AS inflation_key,
       |    geo_code AS country_code, geo_code AS country_name,
       |    time_code AS period_code,
       |    CAST(SUBSTRING(time_code, 1, 4) AS INTEGER) AS reference_year,
       |    CAST(SUBSTRING(time_code, 6, 2) AS INTEGER) AS reference_month,
       |    make_date(CAST(SUBSTRING(time_code, 1, 4) AS INTEGER),
       |              CAST(SUBSTRING(time_code, 6, 2) AS INTEGER), 1) AS reference_date,
       |    value AS inflation_rate_mom_pct,
       |    'CP00' AS coicop_code, 'All-items HICP' AS coicop_category,
       |    'prc_hicp_mmor' AS source_dataset
       |  FROM raw_inflation
       |  WHERE value IS NOT NULL AND time_code IS NOT NULL AND geo_code IS NOT NULL
       |    AND LENGTH(time_code) >= 7),
       |stg_gdp AS (
       |  SELECT ${key("geo_code", "time_code")} AS gdp_key,
       |    geo_code AS country_code, geo_code AS country_name,
       |    time_code AS year_code,
       |    CAST(time_code AS INTEGER) AS reference_year,
       |    make_date(CAST(time_code AS INTEGER), 1, 1) AS reference_date,
       |    value AS gdp_million_eur,
       |    'CP_MEUR' AS unit_code, 'Current prices, million euro' AS unit_description,
       |    'B1GQ' AS national_accounts_item_code,
       |    'Gross domestic product at market prices' AS national_accounts_item,
       |    'nama_10_gdp' AS source_dataset
       |  FROM raw_gdp
       |  WHERE value IS NOT NULL AND time_code IS NOT NULL AND geo_code IS NOT NULL),
       |stg_pop AS (
       |  SELECT ${key("geo_code", "time_code")} AS population_key,
       |    geo_code AS country_code, geo_code AS country_name,
       |    time_code AS year_code,
       |    CAST(time_code AS INTEGER) AS reference_year,
       |    make_date(CAST(time_code AS INTEGER), 1, 1) AS reference_date,
       |    value AS population_count,
       |    'TOTAL' AS age_code, 'Total' AS age_group,
       |    'T' AS sex_code, 'Total' AS sex,
       |    'demo_pjan' AS source_dataset
       |  FROM raw_population
       |  WHERE value IS NOT NULL AND time_code IS NOT NULL AND geo_code IS NOT NULL)""".stripMargin

  private val intAnnualCte: String =
    s"""int_annual AS (
       |  WITH u AS (
       |    SELECT country_code, reference_year,
       |      CAST(SUM(CAST(unemployment_rate_pct AS DECIMAL(18,6))) AS DOUBLE) / COUNT(unemployment_rate_pct) AS avg_unemployment_rate_pct,
       |      min(unemployment_rate_pct) AS min_unemployment_rate_pct,
       |      max(unemployment_rate_pct) AS max_unemployment_rate_pct,
       |      COUNT(*) AS unemployment_observations
       |    FROM stg_unemp GROUP BY 1, 2),
       |  i AS (
       |    SELECT country_code, reference_year,
       |      CAST(SUM(CAST(inflation_rate_mom_pct AS DECIMAL(18,6))) AS DOUBLE) AS annual_inflation_rate_pct,
       |      CAST(SUM(CAST(inflation_rate_mom_pct AS DECIMAL(18,6))) AS DOUBLE) / COUNT(inflation_rate_mom_pct) AS avg_monthly_inflation_pct,
       |      COUNT(*) AS inflation_observations
       |    FROM stg_infl GROUP BY 1, 2)
       |  SELECT ${key("g.country_code", "g.reference_year")} AS annual_metrics_key,
       |    g.country_code, g.reference_year, g.gdp_million_eur, p.population_count,
       |    CASE WHEN p.population_count > 0
       |         THEN (g.gdp_million_eur * 1000000.0) / p.population_count END AS gdp_per_capita_eur,
       |    u.avg_unemployment_rate_pct, u.min_unemployment_rate_pct,
       |    u.max_unemployment_rate_pct, u.unemployment_observations,
       |    i.annual_inflation_rate_pct, i.avg_monthly_inflation_pct, i.inflation_observations,
       |    CASE WHEN u.unemployment_observations = 12 THEN true ELSE false END AS has_complete_unemployment_data,
       |    CASE WHEN i.inflation_observations = 12 THEN true ELSE false END AS has_complete_inflation_data
       |  FROM stg_gdp g
       |  LEFT JOIN (SELECT country_code, reference_year, population_count FROM stg_pop) p
       |    USING (country_code, reference_year)
       |  LEFT JOIN u USING (country_code, reference_year)
       |  LEFT JOIN i USING (country_code, reference_year))""".stripMargin

  private val intMonthlyCte: String =
    s"""int_monthly AS (
       |  WITH spine AS (
       |    SELECT DISTINCT country_code, country_name, reference_year, reference_month, reference_date
       |    FROM stg_unemp),
       |  j AS (
       |    SELECT ms.*, u.unemployment_rate_pct, i.inflation_rate_mom_pct,
       |           ac.gdp_million_eur, ac.population_count, ac.gdp_per_capita_eur
       |    FROM spine ms
       |    LEFT JOIN (SELECT country_code, reference_date, unemployment_rate_pct FROM stg_unemp) u
       |      USING (country_code, reference_date)
       |    LEFT JOIN (SELECT country_code, reference_date, inflation_rate_mom_pct FROM stg_infl) i
       |      USING (country_code, reference_date)
       |    LEFT JOIN (SELECT country_code, reference_year, gdp_million_eur, population_count, gdp_per_capita_eur
       |               FROM int_annual) ac
       |      USING (country_code, reference_year))
       |  SELECT ${key("country_code", "reference_date")} AS monthly_metrics_key,
       |    country_code, country_name, reference_year, reference_month, reference_date,
       |    unemployment_rate_pct, inflation_rate_mom_pct,
       |    gdp_million_eur AS annual_gdp_million_eur,
       |    population_count AS annual_population_count,
       |    gdp_per_capita_eur AS annual_gdp_per_capita_eur,
       |    lag(unemployment_rate_pct) OVER w AS unemployment_rate_prev_month,
       |    lag(inflation_rate_mom_pct) OVER w AS inflation_rate_prev_month,
       |    lag(unemployment_rate_pct, 12) OVER w AS unemployment_rate_prev_year,
       |    CAST(SUM(CAST(unemployment_rate_pct AS DECIMAL(18,6))) OVER wr AS DOUBLE)
       |      / COUNT(unemployment_rate_pct) OVER wr AS unemployment_rate_12m_avg,
       |    CAST(SUM(CAST(inflation_rate_mom_pct AS DECIMAL(18,6))) OVER wr AS DOUBLE)
       |      / COUNT(inflation_rate_mom_pct) OVER wr AS inflation_rate_12m_avg
       |  FROM j
       |  WINDOW w AS (PARTITION BY country_code ORDER BY reference_date),
       |         wr AS (PARTITION BY country_code ORDER BY reference_date
       |                ROWS BETWEEN 11 PRECEDING AND CURRENT ROW))""".stripMargin

  private val dimCte: String =
    s"""dim_country AS (
       |  SELECT ${key("cs.country_code")} AS country_key,
       |    cs.country_code,
       |    coalesce(cs.country_name, cn.country_name_eurostat) AS country_name,
       |    cs.eu_member_since, cs.eurozone_member, cs.region, cs.subregion,
       |    CASE WHEN cs.eurozone_member THEN 'Eurozone'
       |         WHEN cs.eu_member_since IS NOT NULL THEN 'EU (non-Euro)'
       |         ELSE 'Non-EU' END AS eu_status,
       |    da.earliest_gdp_year, da.latest_gdp_year, da.years_of_gdp_data
       |  FROM country_metadata cs
       |  LEFT JOIN (SELECT country_code, max_by(country_name, reference_year) AS country_name_eurostat
       |             FROM stg_gdp GROUP BY 1) cn USING (country_code)
       |  LEFT JOIN (SELECT country_code,
       |               CAST(min(reference_year) AS BIGINT) AS earliest_gdp_year,
       |               CAST(max(reference_year) AS BIGINT) AS latest_gdp_year,
       |               COUNT(DISTINCT reference_year) AS years_of_gdp_data
       |             FROM stg_gdp GROUP BY 1) da USING (country_code))""".stripMargin

  private val fctCte: String =
    """fct AS (
      |  SELECT mi.monthly_metrics_key AS indicator_key,
      |    mi.country_code, cd.country_key,
      |    mi.reference_year, mi.reference_month, mi.reference_date,
      |    mi.unemployment_rate_pct, mi.inflation_rate_mom_pct,
      |    mi.unemployment_rate_prev_month, mi.unemployment_rate_prev_year,
      |    mi.unemployment_rate_12m_avg, mi.inflation_rate_12m_avg,
      |    mi.unemployment_rate_pct - mi.unemployment_rate_prev_month AS unemployment_mom_change,
      |    mi.unemployment_rate_pct - mi.unemployment_rate_prev_year AS unemployment_yoy_change,
      |    mi.annual_gdp_million_eur, mi.annual_population_count, mi.annual_gdp_per_capita_eur
      |  FROM int_monthly mi
      |  LEFT JOIN dim_country cd ON mi.country_code = cd.country_code)""".stripMargin

  private def withCtes(parts: String*): String =
    s"WITH ${(TestdataRaw.sqlCtes +: parts).mkString(",\n")}\n"

  val oracles: Map[String, String] = Map(
    "q50_stg_unemployment" -> (withCtes(stgCtes) +
      """SELECT unemployment_key, country_code, country_name, period_code,
        |  reference_year, reference_month, CAST(reference_date AS VARCHAR) AS reference_date,
        |  unemployment_rate_pct, seasonal_adjustment_code, seasonal_adjustment,
        |  age_code, age_group, sex_code, sex, unit_code, unit_description, source_dataset
        |FROM stg_unemp""".stripMargin),
    "q51_int_annual_metrics" -> (withCtes(stgCtes, intAnnualCte) +
      """SELECT annual_metrics_key, country_code, reference_year, gdp_million_eur,
        |  population_count, gdp_per_capita_eur,
        |  avg_unemployment_rate_pct, min_unemployment_rate_pct, max_unemployment_rate_pct,
        |  unemployment_observations, annual_inflation_rate_pct, avg_monthly_inflation_pct,
        |  inflation_observations, has_complete_unemployment_data, has_complete_inflation_data
        |FROM int_annual""".stripMargin),
    "q52_int_monthly_indicators" -> (withCtes(stgCtes, intAnnualCte, intMonthlyCte) +
      """SELECT monthly_metrics_key, country_code, country_name, reference_year,
        |  reference_month, CAST(reference_date AS VARCHAR) AS reference_date,
        |  unemployment_rate_pct, inflation_rate_mom_pct,
        |  annual_gdp_million_eur, annual_population_count, annual_gdp_per_capita_eur,
        |  unemployment_rate_prev_month, inflation_rate_prev_month, unemployment_rate_prev_year,
        |  unemployment_rate_12m_avg, inflation_rate_12m_avg
        |FROM int_monthly""".stripMargin),
    "q53_dim_country" -> (withCtes(stgCtes, dimCte) +
      """SELECT country_key, country_code, country_name,
        |  CAST(eu_member_since AS VARCHAR) AS eu_member_since,
        |  eurozone_member, region, subregion, eu_status,
        |  earliest_gdp_year, latest_gdp_year, years_of_gdp_data
        |FROM dim_country""".stripMargin),
    "q54_fct_indicators" -> (withCtes(stgCtes, intAnnualCte, intMonthlyCte, dimCte, fctCte) +
      """SELECT indicator_key, country_code, country_key, reference_year, reference_month,
        |  CAST(reference_date AS VARCHAR) AS reference_date,
        |  unemployment_rate_pct, inflation_rate_mom_pct,
        |  unemployment_rate_prev_month, unemployment_rate_prev_year,
        |  unemployment_rate_12m_avg, inflation_rate_12m_avg,
        |  unemployment_mom_change, unemployment_yoy_change,
        |  annual_gdp_million_eur, annual_population_count, annual_gdp_per_capita_eur
        |FROM fct""".stripMargin),
    "q55_rpt_annual_summary" -> (withCtes(stgCtes, intAnnualCte, dimCte) +
      s""", am AS (SELECT * FROM int_annual WHERE country_code != 'ALLNATIONS'),
         |eu AS (
         |  SELECT reference_year,
         |    CAST(SUM(CAST(gdp_million_eur AS DECIMAL(18,6))) AS DOUBLE) AS eu_total_gdp_million_eur,
         |    CAST(SUM(CAST(population_count AS DECIMAL(18,6))) AS DOUBLE) AS eu_total_population,
         |    CAST(SUM(CAST(avg_unemployment_rate_pct AS DECIMAL(18,6))) AS DOUBLE) / COUNT(avg_unemployment_rate_pct) AS eu_avg_unemployment_rate,
         |    CAST(SUM(CAST(annual_inflation_rate_pct AS DECIMAL(18,6))) AS DOUBLE) / COUNT(annual_inflation_rate_pct) AS eu_avg_inflation_rate
         |  FROM am GROUP BY 1),
         |ranked AS (
         |  SELECT am.*,
         |    CAST(rank() OVER (PARTITION BY reference_year ORDER BY gdp_million_eur DESC NULLS LAST) AS BIGINT) AS gdp_rank,
         |    CAST(rank() OVER (PARTITION BY reference_year ORDER BY gdp_per_capita_eur DESC NULLS LAST) AS BIGINT) AS gdp_per_capita_rank,
         |    CAST(rank() OVER (PARTITION BY reference_year ORDER BY avg_unemployment_rate_pct ASC NULLS LAST) AS BIGINT) AS unemployment_rank,
         |    CAST(rank() OVER (PARTITION BY reference_year ORDER BY annual_inflation_rate_pct ASC NULLS LAST) AS BIGINT) AS inflation_rank,
         |    lag(gdp_million_eur) OVER wc AS prev_year_gdp,
         |    lag(avg_unemployment_rate_pct) OVER wc AS prev_year_unemployment,
         |    lag(annual_inflation_rate_pct) OVER wc AS prev_year_inflation
         |  FROM am
         |  WINDOW wc AS (PARTITION BY country_code ORDER BY reference_year))
         |SELECT ${key("r.country_code", "r.reference_year")} AS summary_key,
         |  r.country_code, cd.country_key, r.reference_year,
         |  r.gdp_million_eur, r.population_count, r.gdp_per_capita_eur,
         |  r.avg_unemployment_rate_pct, r.annual_inflation_rate_pct,
         |  r.gdp_rank, r.gdp_per_capita_rank, r.unemployment_rank, r.inflation_rank,
         |  CASE WHEN r.prev_year_gdp > 0
         |       THEN (r.gdp_million_eur - r.prev_year_gdp) / r.prev_year_gdp * 100 END AS gdp_yoy_growth_pct,
         |  r.avg_unemployment_rate_pct - r.prev_year_unemployment AS unemployment_yoy_change_pp,
         |  r.annual_inflation_rate_pct - r.prev_year_inflation AS inflation_yoy_change_pp,
         |  CASE WHEN eu.eu_total_gdp_million_eur > 0
         |       THEN r.gdp_million_eur / eu.eu_total_gdp_million_eur * 100 END AS share_of_eu_gdp_pct,
         |  CASE WHEN eu.eu_total_population > 0
         |       THEN CAST(r.population_count AS DOUBLE) / eu.eu_total_population * 100 END AS share_of_eu_population_pct,
         |  r.gdp_per_capita_eur - (eu.eu_total_gdp_million_eur * 1000000.0 / eu.eu_total_population) AS gdp_per_capita_vs_eu_avg,
         |  r.avg_unemployment_rate_pct - eu.eu_avg_unemployment_rate AS unemployment_vs_eu_avg_pp,
         |  r.annual_inflation_rate_pct - eu.eu_avg_inflation_rate AS inflation_vs_eu_avg_pp,
         |  r.has_complete_unemployment_data, r.has_complete_inflation_data,
         |  cd.country_name, cd.eu_status, cd.eurozone_member, cd.region
         |FROM ranked r
         |LEFT JOIN dim_country cd ON r.country_code = cd.country_code
         |LEFT JOIN eu ON r.reference_year = eu.reference_year""".stripMargin),
    "q56_anomaly_detection" -> (withCtes(stgCtes, intAnnualCte, intMonthlyCte, dimCte, fctCte) +
      """, stats AS (
        |  SELECT *,
        |    COUNT(unemployment_rate_pct) OVER wc AS n_u,
        |    CAST(SUM(CAST(unemployment_rate_pct AS DECIMAL(18,6))) OVER wc AS DOUBLE) AS sx_u,
        |    CAST(SUM(CAST(unemployment_rate_pct AS DECIMAL(18,6)) * CAST(unemployment_rate_pct AS DECIMAL(18,6))) OVER wc AS DOUBLE) AS sxx_u,
        |    quantile_cont(unemployment_rate_pct, 0.25) OVER wc AS q1_u,
        |    quantile_cont(unemployment_rate_pct, 0.75) OVER wc AS q3_u,
        |    last_value(unemployment_rate_pct IGNORE NULLS) OVER
        |      (PARTITION BY country_code ORDER BY reference_date, indicator_key
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_u,
        |    COUNT(inflation_rate_mom_pct) OVER wc AS n_i,
        |    CAST(SUM(CAST(inflation_rate_mom_pct AS DECIMAL(18,6))) OVER wc AS DOUBLE) AS sx_i,
        |    CAST(SUM(CAST(inflation_rate_mom_pct AS DECIMAL(18,6)) * CAST(inflation_rate_mom_pct AS DECIMAL(18,6))) OVER wc AS DOUBLE) AS sxx_i,
        |    quantile_cont(inflation_rate_mom_pct, 0.25) OVER wc AS q1_i,
        |    quantile_cont(inflation_rate_mom_pct, 0.75) OVER wc AS q3_i,
        |    last_value(inflation_rate_mom_pct IGNORE NULLS) OVER
        |      (PARTITION BY country_code ORDER BY reference_date, indicator_key
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_i
        |  FROM fct
        |  WINDOW wc AS (PARTITION BY country_code)),
        |z AS (
        |  SELECT *,
        |    CASE WHEN n_u > 1 THEN sqrt(greatest(0.0, (n_u * sxx_u - sx_u * sx_u) / (n_u * (n_u - 1.0)))) END AS sd_u,
        |    CAST(sx_u / n_u AS DOUBLE) AS mean_u,
        |    CASE WHEN n_i > 1 THEN sqrt(greatest(0.0, (n_i * sxx_i - sx_i * sx_i) / (n_i * (n_i - 1.0)))) END AS sd_i,
        |    CAST(sx_i / n_i AS DOUBLE) AS mean_i
        |  FROM stats),
        |flags AS (
        |  SELECT indicator_key, country_code, reference_date, reference_year, reference_month,
        |    unemployment_rate_pct, inflation_rate_mom_pct,
        |    CASE WHEN n_u > 10 THEN
        |      CASE WHEN sd_u IS NULL OR sd_u = 0 THEN 0.0
        |           ELSE (unemployment_rate_pct - mean_u) / sd_u END END AS unemployment_z_score,
        |    CASE WHEN n_i > 10 THEN
        |      CASE WHEN sd_i IS NULL OR sd_i = 0 THEN 0.0
        |           ELSE (inflation_rate_mom_pct - mean_i) / sd_i END END AS inflation_z_score,
        |    CASE WHEN n_u > 10 THEN coalesce(
        |      unemployment_rate_pct < q1_u - 1.5 * (q3_u - q1_u) OR
        |      unemployment_rate_pct > q3_u + 1.5 * (q3_u - q1_u), false) ELSE false END AS iqr_u,
        |    CASE WHEN n_i > 10 THEN coalesce(
        |      inflation_rate_mom_pct < q1_i - 1.5 * (q3_i - q1_i) OR
        |      inflation_rate_mom_pct > q3_i + 1.5 * (q3_i - q1_i), false) ELSE false END AS iqr_i,
        |    CASE WHEN n_u > 10 THEN
        |      CASE WHEN prev_u IS NULL THEN false
        |           WHEN prev_u = 0 AND unemployment_rate_pct != 0 THEN true
        |           WHEN prev_u = 0 THEN false
        |           ELSE coalesce(abs(unemployment_rate_pct / prev_u - 1) > 0.5, false) END
        |      ELSE false END AS roc_u,
        |    CASE WHEN n_i > 10 THEN
        |      CASE WHEN prev_i IS NULL THEN false
        |           WHEN prev_i = 0 AND inflation_rate_mom_pct != 0 THEN true
        |           WHEN prev_i = 0 THEN false
        |           ELSE coalesce(abs(inflation_rate_mom_pct / prev_i - 1) > 0.5, false) END
        |      ELSE false END AS roc_i
        |  FROM z)
        |SELECT indicator_key, country_code, CAST(reference_date AS VARCHAR) AS reference_date,
        |  reference_year, reference_month, unemployment_rate_pct, inflation_rate_mom_pct,
        |  unemployment_z_score, inflation_z_score,
        |  (coalesce(abs(unemployment_z_score) > 3.0, false) OR iqr_u OR roc_u) AS is_unemployment_anomaly,
        |  (coalesce(abs(inflation_z_score) > 3.0, false) OR iqr_i OR roc_i) AS is_inflation_anomaly,
        |  ((coalesce(abs(unemployment_z_score) > 3.0, false) OR iqr_u OR roc_u) OR
        |   (coalesce(abs(inflation_z_score) > 3.0, false) OR iqr_i OR roc_i)) AS is_any_anomaly,
        |  least(least(coalesce(abs(unemployment_z_score), 0.0), 5.0) * 10 +
        |        least(coalesce(abs(inflation_z_score), 0.0), 5.0) * 10, 100.0) AS anomaly_severity_score
        |FROM flags""".stripMargin),
    "q57_quality_scores" -> (withCtes(stgCtes, intAnnualCte, intMonthlyCte, dimCte, fctCte) +
      """, rep AS (
        |  SELECT *,
        |    CAST(unemployment_rate_pct = last_value(unemployment_rate_pct IGNORE NULLS) OVER wp AS BIGINT) AS u_rep,
        |    CAST(inflation_rate_mom_pct = last_value(inflation_rate_mom_pct IGNORE NULLS) OVER wp AS BIGINT) AS i_rep
        |  FROM fct
        |  WINDOW wp AS (PARTITION BY country_code ORDER BY reference_date, indicator_key
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |agg AS (
        |  SELECT country_code, COUNT(*) AS total_records,
        |    COUNT(unemployment_rate_pct) AS u_nonnull,
        |    COUNT(inflation_rate_mom_pct) AS i_nonnull,
        |    COUNT(CASE WHEN unemployment_rate_pct BETWEEN 0.0 AND 30.0 THEN 1 END) AS u_valid,
        |    COUNT(CASE WHEN inflation_rate_mom_pct BETWEEN -5.0 AND 20.0 THEN 1 END) AS i_valid,
        |    SUM(coalesce(u_rep, 0)) AS u_repeats,
        |    SUM(coalesce(i_rep, 0)) AS i_repeats,
        |    max(reference_date) AS latest_data_date
        |  FROM rep GROUP BY 1),
        |scored AS (
        |  SELECT country_code, total_records,
        |    CAST(u_nonnull AS DOUBLE) / CAST(total_records AS DOUBLE) * 100 AS u_comp,
        |    CAST(i_nonnull AS DOUBLE) / CAST(total_records AS DOUBLE) * 100 AS i_comp,
        |    CAST(date_diff('day', latest_data_date, DATE '2002-01-01') AS BIGINT) AS days_since,
        |    latest_data_date,
        |    CASE WHEN u_nonnull > 0 THEN CAST(u_valid AS DOUBLE) / CAST(u_nonnull AS DOUBLE) * 100 END AS u_validity,
        |    CASE WHEN i_nonnull > 0 THEN CAST(i_valid AS DOUBLE) / CAST(i_nonnull AS DOUBLE) * 100 END AS i_validity,
        |    CASE WHEN u_nonnull > 10
        |         THEN greatest(0.0, 100.0 - CAST(u_repeats AS DOUBLE) / CAST(u_nonnull AS DOUBLE) * 100 * 2) END AS u_cons,
        |    CASE WHEN i_nonnull > 10
        |         THEN greatest(0.0, 100.0 - CAST(i_repeats AS DOUBLE) / CAST(i_nonnull AS DOUBLE) * 100 * 2) END AS i_cons
        |  FROM agg),
        |final AS (
        |  SELECT country_code, total_records,
        |    (u_comp + i_comp) / 2 AS completeness_score,
        |    u_comp AS unemployment_completeness, i_comp AS inflation_completeness,
        |    CASE WHEN days_since <= 90 THEN 100.0
        |         ELSE greatest(0.0, 100.0 - CAST(days_since - 90 AS DOUBLE) / 30.0 * 10.0) END AS timeliness_score,
        |    days_since AS days_since_latest_data,
        |    CAST(latest_data_date AS VARCHAR) AS latest_data_date,
        |    CASE WHEN u_validity IS NOT NULL AND i_validity IS NOT NULL THEN (u_validity + i_validity) / 2
        |         WHEN u_validity IS NOT NULL THEN u_validity
        |         WHEN i_validity IS NOT NULL THEN i_validity
        |         ELSE 100.0 END AS validity_score,
        |    coalesce(u_validity, 0.0) AS unemployment_validity,
        |    coalesce(i_validity, 0.0) AS inflation_validity,
        |    CASE WHEN u_cons IS NOT NULL AND i_cons IS NOT NULL THEN (u_cons + i_cons) / 2
        |         WHEN u_cons IS NOT NULL THEN u_cons
        |         WHEN i_cons IS NOT NULL THEN i_cons
        |         ELSE 100.0 END AS consistency_score
        |  FROM scored)
        |SELECT country_code, total_records, completeness_score,
        |  unemployment_completeness, inflation_completeness, timeliness_score,
        |  days_since_latest_data, latest_data_date, validity_score,
        |  unemployment_validity, inflation_validity, consistency_score,
        |  overall_quality_score,
        |  CASE WHEN overall_quality_score >= 90 THEN 'A' WHEN overall_quality_score >= 80 THEN 'B'
        |       WHEN overall_quality_score >= 70 THEN 'C' WHEN overall_quality_score >= 60 THEN 'D'
        |       ELSE 'F' END AS quality_grade,
        |  '1.0.0' AS scoring_model_version,
        |  CASE WHEN completeness_score < 80 THEN 'completeness'
        |       WHEN timeliness_score < 80 THEN 'timeliness'
        |       WHEN validity_score < 80 THEN 'validity'
        |       WHEN consistency_score < 80 THEN 'consistency'
        |       ELSE 'none' END AS primary_issue,
        |  overall_quality_score < 70 AS requires_attention
        |FROM (SELECT *,
        |        0.30 * completeness_score + 0.25 * timeliness_score +
        |        0.25 * validity_score + 0.20 * consistency_score AS overall_quality_score
        |      FROM final)""".stripMargin),
    // The ES/Holt recurrences fold with list_reduce. The Holt state rides
    // in ONE list-valued struct field updated atomically: DuckDB 1.0's
    // list_reduce mutates the accumulator struct IN PLACE field by field
    // (a later field reads earlier fields' NEW values), so a
    // {level, trend} two-field state would corrupt — packing both into a
    // single assignment sidesteps the evaluation-order dependency under
    // either in-place or snapshot semantics. Arithmetic is written with
    // the exact operand order of Forecast.expSmoothing/holt, so the
    // doubles are bit-identical (1 - 0.3 == 0.7 exactly in IEEE, etc.).
    "q58_forecast" -> (withCtes(stgCtes, intAnnualCte, intMonthlyCte, dimCte, fctCte) +
      """, unemp AS (
        |  SELECT country_code, reference_date, unemployment_rate_pct AS y
        |  FROM fct WHERE unemployment_rate_pct IS NOT NULL),
        |pos AS (
        |  SELECT country_code, reference_date, y,
        |    CAST(row_number() OVER (PARTITION BY country_code ORDER BY reference_date) AS BIGINT) - 1 AS i,
        |    lag(y) OVER (PARTITION BY country_code ORDER BY reference_date) AS y_prev
        |  FROM unemp),
        |sums AS (
        |  SELECT country_code,
        |    COUNT(*) AS n,
        |    max(reference_date) AS last_date,
        |    max_by(y, reference_date) AS last_value,
        |    list(y ORDER BY reference_date) AS ys,
        |    CAST(SUM(i) AS DOUBLE) AS sx,
        |    CAST(SUM(i * i) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(i AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
        |    COUNT(y_prev) AS m,
        |    CAST(SUM(CAST(y AS DECIMAL(18,6)) - CAST(y_prev AS DECIMAL(18,6))) AS DOUBLE) AS sd,
        |    CAST(SUM((CAST(y AS DECIMAL(18,6)) - CAST(y_prev AS DECIMAL(18,6)))
        |           * (CAST(y AS DECIMAL(18,6)) - CAST(y_prev AS DECIMAL(18,6)))) AS DOUBLE) AS sdd
        |  FROM pos GROUP BY 1 HAVING COUNT(*) >= 24),
        |folds AS (
        |  SELECT *,
        |    list_reduce(ys, (acc, x) -> 0.3*x + (1-0.3)*acc) AS es_last,
        |    list_reduce(
        |      [{'st': [ys[1], ys[2] - ys[1]], 'x': CAST(0 AS DOUBLE)}] ||
        |      list_transform(ys[2:], x -> {'st': CAST([] AS DOUBLE[]), 'x': x}),
        |      (acc, e) -> {'st': [0.3*e.x + (1-0.3)*(acc.st[1] + acc.st[2]),
        |                          0.1*((0.3*e.x + (1-0.3)*(acc.st[1] + acc.st[2])) - acc.st[1]) + (1-0.1)*acc.st[2]],
        |                   'x': e.x}) AS hf
        |  FROM sums),
        |params AS (
        |  SELECT *,
        |    hf.st[1] AS holt_level, hf.st[2] AS holt_trend,
        |    (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope
        |  FROM folds),
        |params2 AS (
        |  SELECT *,
        |    (sy - slope * sx) / CAST(n AS DOUBLE) AS intercept,
        |    CASE WHEN n < 5 THEN 1.0
        |         ELSE 1.96 * sqrt(greatest(0.0, (CAST(m AS DOUBLE) * sdd - sd * sd)
        |                          / (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) - 1.0))))
        |              * sqrt(1 + 1.0 / CAST(n AS DOUBLE)) END AS margin
        |  FROM params),
        |fc AS (
        |  SELECT country_code, h, last_date, last_value, margin, n,
        |    es_last + CAST(h - 1 AS DOUBLE) * holt_trend AS es_f,
        |    holt_level + CAST(h AS DOUBLE) * holt_trend AS holt_f,
        |    intercept + slope * CAST(n + h - 1 AS DOUBLE) AS lr_f
        |  FROM params2 CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6]) AS h)),
        |fc2 AS (SELECT *, ((es_f + holt_f) + lr_f) / CAST(3 AS DOUBLE) AS ens FROM fc),
        |fc3 AS (SELECT *, ens - margin AS lo, ens + margin AS hi FROM fc2)
        |SELECT country_code,
        |  CAST(date_trunc('month', last_date + to_months(h)) AS VARCHAR) AS forecast_date,
        |  CAST(h AS BIGINT) AS forecast_horizon_months,
        |  CAST(last_date AS VARCHAR) AS last_actual_date,
        |  last_value AS last_actual_value,
        |  es_f AS forecast_exp_smoothing,
        |  holt_f AS forecast_holt,
        |  lr_f AS forecast_linear_reg,
        |  ens AS forecast_ensemble,
        |  lo AS prediction_interval_lower,
        |  hi AS prediction_interval_upper,
        |  hi - lo AS prediction_interval_width,
        |  margin AS prediction_interval_margin,
        |  CASE WHEN hi - lo < 1.0 THEN 'high'
        |       WHEN hi - lo < 2.0 THEN 'medium'
        |       ELSE 'low' END AS forecast_confidence,
        |  CAST(TIMESTAMP '2002-01-01 00:00:00' AS VARCHAR) AS forecast_generated_at,
        |  '1.0.0' AS model_version,
        |  CAST(n AS BIGINT) AS min_training_samples
        |FROM fc3""".stripMargin),
    "q59_forecast_ols" -> (withCtes(stgCtes, intAnnualCte, intMonthlyCte, dimCte, fctCte) +
      """, unemp AS (
        |  SELECT country_code, reference_date, unemployment_rate_pct AS y
        |  FROM fct WHERE unemployment_rate_pct IS NOT NULL),
        |pos AS (
        |  SELECT country_code, reference_date, y,
        |    CAST(row_number() OVER (PARTITION BY country_code ORDER BY reference_date) AS BIGINT) - 1 AS i,
        |    lag(y) OVER (PARTITION BY country_code ORDER BY reference_date) AS y_prev
        |  FROM unemp),
        |sums AS (
        |  SELECT country_code,
        |    COUNT(*) AS n,
        |    max(reference_date) AS last_date,
        |    max_by(y, reference_date) AS last_value,
        |    CAST(SUM(i) AS DOUBLE) AS sx,
        |    CAST(SUM(i * i) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(i AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
        |    COUNT(y_prev) AS m,
        |    CAST(SUM(CAST(y AS DECIMAL(18,6)) - CAST(y_prev AS DECIMAL(18,6))) AS DOUBLE) AS sd,
        |    CAST(SUM((CAST(y AS DECIMAL(18,6)) - CAST(y_prev AS DECIMAL(18,6)))
        |           * (CAST(y AS DECIMAL(18,6)) - CAST(y_prev AS DECIMAL(18,6)))) AS DOUBLE) AS sdd
        |  FROM pos GROUP BY 1 HAVING COUNT(*) >= 24),
        |params AS (
        |  SELECT *,
        |    (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope
        |  FROM sums),
        |params2 AS (
        |  SELECT *,
        |    (sy - slope * sx) / CAST(n AS DOUBLE) AS intercept,
        |    CASE WHEN n < 5 THEN 1.0
        |         ELSE 1.96 * sqrt(greatest(0.0, (CAST(m AS DOUBLE) * sdd - sd * sd)
        |                          / (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) - 1.0))))
        |              * sqrt(1 + 1.0 / CAST(n AS DOUBLE)) END AS margin
        |  FROM params)
        |SELECT country_code,
        |  CAST(date_trunc('month', last_date + to_months(h)) AS VARCHAR) AS forecast_date,
        |  CAST(h AS BIGINT) AS forecast_horizon_months,
        |  CAST(last_date AS VARCHAR) AS last_actual_date,
        |  last_value AS last_actual_value,
        |  intercept + slope * CAST(n + h - 1 AS DOUBLE) AS forecast_linear_reg,
        |  margin AS prediction_interval_margin,
        |  CASE WHEN margin * 2.0 < 1.0 THEN 'high'
        |       WHEN margin * 2.0 < 2.0 THEN 'medium'
        |       ELSE 'low' END AS margin_confidence,
        |  CAST(n AS BIGINT) AS min_training_samples
        |FROM params2 CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6]) AS h)""".stripMargin),
    "q69_metric_rollup" -> (withCtes(stgCtes, intAnnualCte, intMonthlyCte, dimCte, fctCte) +
      """, yearly AS (
        |  SELECT country_code, reference_year,
        |    CAST(SUM(CAST(annual_gdp_million_eur AS DECIMAL(18,6))) AS DOUBLE) AS total_gdp,
        |    CAST(SUM(CAST(annual_population_count AS DECIMAL(18,6))) AS DOUBLE) AS population,
        |    CAST(SUM(CAST(annual_gdp_per_capita_eur AS DECIMAL(18,6))) AS DOUBLE)
        |      / CAST(COUNT(annual_gdp_per_capita_eur) AS DOUBLE) AS average_gdp_per_capita,
        |    CAST(SUM(CAST(unemployment_rate_pct AS DECIMAL(18,6))) AS DOUBLE)
        |      / CAST(COUNT(unemployment_rate_pct) AS DOUBLE) AS unemployment_rate,
        |    CAST(SUM(CAST(inflation_rate_mom_pct AS DECIMAL(18,6))) AS DOUBLE)
        |      / CAST(COUNT(inflation_rate_mom_pct) AS DOUBLE) AS monthly_inflation,
        |    CAST(SUM(CAST(inflation_rate_mom_pct AS DECIMAL(18,6))) AS DOUBLE) AS annual_inflation,
        |    max(annual_gdp_million_eur) AS annual_gdp
        |  FROM fct GROUP BY 1, 2),
        |w1 AS (
        |  SELECT *,
        |    lag(annual_gdp) OVER (PARTITION BY country_code ORDER BY reference_year) AS prev_gdp,
        |    first_value(annual_gdp IGNORE NULLS) OVER
        |      (PARTITION BY country_code ORDER BY reference_year
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS base_gdp
        |  FROM yearly)
        |SELECT country_code, CAST(reference_year AS BIGINT) AS reference_year,
        |  total_gdp, population, average_gdp_per_capita, unemployment_rate,
        |  monthly_inflation, annual_inflation,
        |  CASE WHEN population IS NULL OR population = 0 THEN NULL
        |       ELSE (total_gdp * 1000000.0) / population END AS gdp_per_capita_derived,
        |  CASE WHEN prev_gdp IS NOT NULL AND prev_gdp != 0
        |       THEN (annual_gdp - prev_gdp) / prev_gdp * 100 END AS gdp_growth,
        |  CASE WHEN base_gdp IS NOT NULL AND base_gdp != 0
        |       THEN (annual_gdp - base_gdp) / base_gdp * 100 END AS cumulative_gdp_growth
        |FROM w1""".stripMargin),
    "q105_metric_query" -> (withCtes(stgCtes, intAnnualCte, intMonthlyCte, dimCte, fctCte) +
      """, yearly AS (
        |  SELECT country_code, reference_year,
        |    CAST(SUM(CAST(unemployment_rate_pct AS DECIMAL(18,6))) AS DOUBLE)
        |      / CAST(COUNT(unemployment_rate_pct) AS DOUBLE) AS unemployment_rate,
        |    max(annual_gdp_million_eur) AS annual_gdp
        |  FROM fct
        |  WHERE country_code IN ('NATION_0', 'NATION_7', 'NATION_19')
        |  GROUP BY 1, 2),
        |w1 AS (
        |  SELECT *,
        |    lag(annual_gdp) OVER (PARTITION BY country_code ORDER BY reference_year) AS prev_gdp
        |  FROM yearly)
        |SELECT country_code, CAST(reference_year AS BIGINT) AS reference_year,
        |  unemployment_rate,
        |  CASE WHEN prev_gdp IS NOT NULL AND prev_gdp != 0
        |       THEN (annual_gdp - prev_gdp) / prev_gdp * 100 END AS gdp_growth
        |FROM w1""".stripMargin),
    "q70_metric_trend" -> (withCtes(stgCtes, intAnnualCte, intMonthlyCte, dimCte, fctCte) +
      """SELECT indicator_key, country_code,
        |  CAST(reference_date AS VARCHAR) AS reference_date,
        |  unemployment_rate_pct,
        |  CAST(SUM(CAST(unemployment_rate_pct AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |    / CAST(COUNT(unemployment_rate_pct) OVER w AS DOUBLE) AS unemployment_trend
        |FROM fct
        |WINDOW w AS (PARTITION BY country_code ORDER BY reference_date
        |             ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)""".stripMargin),
    "q60_consistency_test" -> (withCtes(stgCtes) +
      """, totals AS (
        |  SELECT reference_year,
        |    CAST(SUM(CAST(gdp_million_eur AS DECIMAL(18,6))) AS DOUBLE) AS summed_gdp
        |  FROM stg_gdp WHERE country_code != 'ALLNATIONS' GROUP BY 1),
        |reported AS (
        |  SELECT reference_year, gdp_million_eur AS eu_reported_gdp
        |  FROM stg_gdp WHERE country_code = 'ALLNATIONS')
        |SELECT t.reference_year, t.summed_gdp, r.eu_reported_gdp,
        |  abs(t.summed_gdp - r.eu_reported_gdp) AS absolute_difference,
        |  abs(t.summed_gdp - r.eu_reported_gdp) / r.eu_reported_gdp * 100 AS percentage_difference
        |FROM totals t JOIN reported r USING (reference_year)
        |WHERE abs(t.summed_gdp - r.eu_reported_gdp) / r.eu_reported_gdp * 100 > 5""".stripMargin))
}
