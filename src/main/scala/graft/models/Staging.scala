package graft.models

import graft.functions.Macros.surrogateKey
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Staging layer: rename-projection + validity filters + period parsing +
  * surrogate keys — ports of the four staging models
  * (`models/staging/stg_eurostat__{gdp,unemployment,inflation,population}.sql`).
  */
object Staging {

  /** The time grain of a staging model: annual `YYYY` or monthly
    * `YYYY-MM` time codes.
    */
  private sealed trait Grain
  private case object Annual extends Grain
  private case object Monthly extends Grain

  /** The shared shape of the four staging models: drop rows missing a
    * value, time code or geo code (monthly grain also drops the annual
    * rows via the `length(time_code) >= 7` guard), then emit the
    * `keyName` surrogate key over (geo_code, time_code), the country
    * columns, the parsed period, the value as `valueName`, the model's
    * `extras` and the source columns.
    */
  private def stage(raw: DataFrame, keyName: String, grain: Grain, valueName: String,
                    extras: Column*): DataFrame = {
    val valid = raw
      .filter(col("value").isNotNull && col("time_code").isNotNull && col("geo_code").isNotNull)
    val (rows, period) = grain match {
      case Annual =>
        val year = col("time_code").cast(IntegerType)
        (valid, Seq(col("time_code").as("year_code"),
                    year.as("reference_year"),
                    make_date(year, lit(1), lit(1)).as("reference_date")))
      case Monthly =>
        val year = substring(col("time_code"), 1, 4).cast(IntegerType)
        val month = substring(col("time_code"), 6, 2).cast(IntegerType)
        (valid.filter(length(col("time_code")) >= 7),
         Seq(col("time_code").as("period_code"),
             year.as("reference_year"),
             month.as("reference_month"),
             make_date(year, month, lit(1)).as("reference_date")))
    }
    rows.select((Seq(
        surrogateKey(col("geo_code"), col("time_code")).as(keyName),
        col("geo_code").as("country_code"),
        col("geo_label").as("country_name")) ++
      period ++
      Seq(col("value").as(valueName)) ++
      extras ++
      Seq(col("dataset_code").as("source_dataset"),
          col("extracted_at").as("_extracted_at"))): _*)
  }

  /** `stg_eurostat__gdp.sql:18-53`: annual grain, YYYY time codes. */
  def gdp(raw: DataFrame): DataFrame =
    stage(raw, "gdp_key", Annual, "gdp_million_eur",
      col("unit_code"),
      col("unit_label").as("unit_description"),
      col("na_item_code").as("national_accounts_item_code"),
      col("na_item_label").as("national_accounts_item"))

  /** `stg_eurostat__unemployment.sql:18-62`: monthly grain; the
    * `length(time_code) >= 7` guard drops annual rows.
    */
  def unemployment(raw: DataFrame): DataFrame =
    stage(raw, "unemployment_key", Monthly, "unemployment_rate_pct",
      col("s_adj_code").as("seasonal_adjustment_code"),
      col("s_adj_label").as("seasonal_adjustment"),
      col("age_code"),
      col("age_label").as("age_group"),
      col("sex_code"),
      col("sex_label").as("sex"),
      col("unit_code"),
      col("unit_label").as("unit_description"))

  /** `stg_eurostat__inflation.sql:18-55`: monthly grain, coicop metadata. */
  def inflation(raw: DataFrame): DataFrame =
    stage(raw, "inflation_key", Monthly, "inflation_rate_mom_pct",
      col("coicop_code"),
      col("coicop_label").as("coicop_category"))

  /** `stg_eurostat__population.sql:18-50`: annual grain. */
  def population(raw: DataFrame): DataFrame =
    stage(raw, "population_key", Annual, "population_count",
      col("age_code"),
      col("age_label").as("age_group"),
      col("sex_code"),
      col("sex_label").as("sex"))
}
