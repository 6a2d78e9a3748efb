package graft.models

import graft.core.Tables
import graft.functions.Exact._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Synthesizes the reference's four raw Eurostat tables
  * (`scripts/extract_eurostat.py:236-311` DDL) deterministically from the
  * driver's TPC-H-ish testdata, so the full model DAG runs — and is
  * DuckDB-oracle-checkable — without live API data:
  *
  *   - nation        → country (geo_code = n_name)
  *   - orders/year   → raw_gdp (annual, exact sum → round 2)
  *   - orders/month  → raw_unemployment (monthly avg-price-derived rate)
  *   - lineitem/month→ raw_inflation (monthly discount-derived MoM rate)
  *   - customers/year→ raw_population
  *
  * An `EU27_2020`-style aggregate row (geo `ALLNATIONS`) is added per year
  * to exercise the aggregate-exclusion filters and the consistency test.
  * Monthly tables also emit annual (`YYYY`) rows that staging must drop
  * via the length-≥7 format guard. Every value is rounded to 2 decimals so
  * downstream decimal casts are lossless (determinism, SURVEY §7.4).
  */
object TestdataRaw {

  val ExtractedAt = "2026-01-09 00:00:00"

  /** Portable 2-decimal rounding: floor(x*100 + 0.5)/100 — identical IEEE
    * double ops in Spark and DuckDB, unlike each engine's round(), which
    * disagree on values whose binary form sits a hair under a half-cent.
    */
  private def r2(c: Column): Column =
    floor(c * 100 + 0.5) / 100

  /** `facts` (orders, or lineitem ⋈ orders) joined to each order's
    * customer and, broadcast, the customer's nation — the `n_name`
    * geo code every raw table groups by.
    */
  private def byNation(t: Tables, facts: DataFrame): DataFrame =
    facts
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))

  /** `monthly` plus one annual (`YYYY`) row per (geo, year) — the average
    * of its months — which staging's length-≥7 guard must drop.
    */
  private def withAnnualNoise(monthly: DataFrame): DataFrame = {
    val annualNoise = monthly
      .withColumn("time_code", substring(col("time_code"), 1, 4))
      .groupBy(col("geo_code"), col("time_code"))
      .agg(r2(avgExact(col("value"), 6)).as("value"))
    monthly.unionByName(annualNoise)
  }

  /** The raw-table column head of the extract DDL — dataset and
    * extraction stamp, value, frequency, geo and time codes with their
    * labels — then the table's `dims`.
    */
  private def rawTable(df: DataFrame, dataset: String, freqCode: String,
                       freqLabel: String, dims: Column*): DataFrame =
    df.select((Seq(
      lit(dataset).as("dataset_code"),
      lit(ExtractedAt).cast(TimestampType).as("extracted_at"),
      col("value"), lit(freqCode).as("freq_code"), lit(freqLabel).as("freq_label"),
      col("geo_code"), col("geo_code").as("geo_label"),
      col("time_code"), col("time_code").as("time_label")) ++ dims): _*)

  def rawGdp(t: Tables): DataFrame = {
    val perNation = byNation(t, t.orders)
      .groupBy(col("n_name").as("geo_code"),
               year(col("o_orderdate")).cast(StringType).as("time_code"))
      .agg(r2(sumExact(col("o_totalprice")) / 1000.0).as("value"))
    val euRow = perNation
      .groupBy(col("time_code"))
      .agg(r2(sumExact(col("value"))).as("value"))
      .withColumn("geo_code", lit("ALLNATIONS"))
    rawTable(perNation.unionByName(euRow), "nama_10_gdp", "A", "Annual",
      lit("CP_MEUR").as("unit_code"),
      lit("Current prices, million euro").as("unit_label"),
      lit("B1GQ").as("na_item_code"),
      lit("Gross domestic product at market prices").as("na_item_label"))
  }

  def rawPopulation(t: Tables): DataFrame =
    rawTable(byNation(t, t.orders)
        .groupBy(col("n_name").as("geo_code"),
                 year(col("o_orderdate")).cast(StringType).as("time_code"))
        .agg((countDistinct(col("c_custkey")) * 1000).cast(DoubleType).as("value")),
      "demo_pjan", "A", "Annual",
      lit("T").as("sex_code"), lit("Total").as("sex_label"),
      lit("TOTAL").as("age_code"), lit("Total").as("age_label"))

  /** Monthly unemployment-style rate: avg order price scaled into a
    * plausible 0-50 band; plus annual rows the staging filter must drop.
    */
  def rawUnemployment(t: Tables): DataFrame = {
    val monthly = byNation(t, t.orders)
      .groupBy(col("n_name").as("geo_code"),
               date_format(col("o_orderdate"), "yyyy-MM").as("time_code"))
      .agg(r2(avgExact(col("o_totalprice")) / 20000.0).as("value"))
    rawTable(withAnnualNoise(monthly), "une_rt_m", "M", "Monthly",
      lit("SA").as("s_adj_code"), lit("Seasonally adjusted").as("s_adj_label"),
      lit("Y15-74").as("age_code"), lit("15-74 years").as("age_label"),
      lit("PC_ACT").as("unit_code"), lit("Percentage of active population").as("unit_label"),
      lit("T").as("sex_code"), lit("Total").as("sex_label"))
  }

  /** Monthly inflation-style MoM rate from lineitem discounts (can be
    * negative); plus annual rows to drop.
    */
  def rawInflation(t: Tables): DataFrame = {
    val monthly = byNation(t, t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey")))
      .groupBy(col("n_name").as("geo_code"),
               date_format(col("l_shipdate"), "yyyy-MM").as("time_code"))
      .agg(r2(avgExact(col("l_discount"), 6) * 100 - 2.5).as("value"))
    rawTable(withAnnualNoise(monthly), "prc_hicp_mmor", "M", "Monthly",
      lit("CP00").as("coicop_code"), lit("All-items HICP").as("coicop_label"))
  }

  /** Seed analog of `seeds/country_metadata.csv`: one row per nation with
    * deterministic membership attributes, plus the aggregate row with null
    * membership fields (csv row 29 analog).
    */
  def seedCountryMetadata(t: Tables): DataFrame = {
    val base = t.nation
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"), "left")
      .select(
        col("n_name").as("country_code"),
        lower(col("n_name")).as("country_name"),
        when(col("n_nationkey") % 4 =!= 0,
          make_date(lit(1957) + (col("n_nationkey") % 40).cast(IntegerType), lit(1), lit(1)))
          .as("eu_member_since"),
        (col("n_nationkey") % 2 === 0).as("eurozone_member"),
        col("r_name").as("region"),
        concat(col("r_name"), lit("-"), (col("n_nationkey") % 3).cast(StringType))
          .as("subregion"))
    val aggRow = t.nation.limit(1).select(
      lit("ALLNATIONS").as("country_code"),
      lit("All Nations Aggregate").as("country_name"),
      lit(null).cast(DateType).as("eu_member_since"),
      lit(null).cast(BooleanType).as("eurozone_member"),
      lit(null).cast(StringType).as("region"),
      lit(null).cast(StringType).as("subregion"))
    base.unionByName(aggRow)
  }

  private val builders: Seq[(String, Tables => DataFrame)] = Seq(
    "raw_gdp"          -> rawGdp,
    "raw_unemployment" -> rawUnemployment,
    "raw_inflation"    -> rawInflation,
    "raw_population"   -> rawPopulation,
    "country_metadata" -> seedCountryMetadata)

  /** All four raw tables + seed, keyed by source name for the Runner. */
  def sources(t: Tables): Map[String, DataFrame] = builders.map { case (n, b) => n -> b(t) }.toMap

  /** One raw table or the seed, by source name; builds no other. */
  def source(t: Tables, name: String): DataFrame = builders.toMap.apply(name)(t)

  /** DuckDB CTEs computing the exact same raw tables from the parquet
    * views — the shared prefix of every pipeline oracle query.
    */
  val sqlCtes: String =
    s"""raw_gdp AS (
       |  WITH per_nation AS (
       |    SELECT n_name AS geo_code, CAST(year(o_orderdate) AS VARCHAR) AS time_code,
       |           floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 1000.0 * 100 + 0.5) / 100 AS value
       |    FROM orders JOIN customer ON o_custkey = c_custkey
       |    JOIN nation ON c_nationkey = n_nationkey
       |    GROUP BY 1, 2)
       |  SELECT geo_code, time_code, value, TIMESTAMP '$ExtractedAt' AS extracted_at FROM per_nation
       |  UNION ALL
       |  SELECT 'ALLNATIONS', time_code, floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * 100 + 0.5) / 100,
       |         TIMESTAMP '$ExtractedAt'
       |  FROM per_nation GROUP BY time_code),
       |raw_population AS (
       |  SELECT n_name AS geo_code, CAST(year(o_orderdate) AS VARCHAR) AS time_code,
       |         CAST(COUNT(DISTINCT c_custkey) * 1000 AS DOUBLE) AS value,
       |         TIMESTAMP '$ExtractedAt' AS extracted_at
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2),
       |raw_unemployment AS (
       |  WITH monthly AS (
       |    SELECT n_name AS geo_code, strftime(o_orderdate, '%Y-%m') AS time_code,
       |           floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_totalprice) / 20000.0 * 100 + 0.5) / 100 AS value
       |    FROM orders JOIN customer ON o_custkey = c_custkey
       |    JOIN nation ON c_nationkey = n_nationkey
       |    GROUP BY 1, 2)
       |  SELECT geo_code, time_code, value, TIMESTAMP '$ExtractedAt' AS extracted_at FROM monthly
       |  UNION ALL
       |  SELECT geo_code, SUBSTRING(time_code, 1, 4),
       |         floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) * 100 + 0.5) / 100,
       |         TIMESTAMP '$ExtractedAt'
       |  FROM monthly GROUP BY 1, 2),
       |raw_inflation AS (
       |  WITH monthly AS (
       |    SELECT n_name AS geo_code, strftime(l_shipdate, '%Y-%m') AS time_code,
       |           floor((CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_discount) * 100 - 2.5) * 100 + 0.5) / 100 AS value
       |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |    JOIN customer ON o_custkey = c_custkey
       |    JOIN nation ON c_nationkey = n_nationkey
       |    GROUP BY 1, 2)
       |  SELECT geo_code, time_code, value, TIMESTAMP '$ExtractedAt' AS extracted_at FROM monthly
       |  UNION ALL
       |  SELECT geo_code, SUBSTRING(time_code, 1, 4),
       |         floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) * 100 + 0.5) / 100,
       |         TIMESTAMP '$ExtractedAt'
       |  FROM monthly GROUP BY 1, 2),
       |country_metadata AS (
       |  SELECT n_name AS country_code,
       |         lower(n_name) AS country_name,
       |         CASE WHEN n_nationkey % 4 != 0
       |              THEN make_date(CAST(1957 + (n_nationkey % 40) AS INTEGER), 1, 1) END AS eu_member_since,
       |         n_nationkey % 2 = 0 AS eurozone_member,
       |         r_name AS region,
       |         r_name || '-' || CAST(n_nationkey % 3 AS VARCHAR) AS subregion
       |  FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
       |  UNION ALL
       |  SELECT 'ALLNATIONS', 'All Nations Aggregate', NULL, NULL, NULL, NULL)""".stripMargin
}
