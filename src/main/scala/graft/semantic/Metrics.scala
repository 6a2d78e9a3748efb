package graft.semantic

import graft.functions.Exact
import graft.functions.Macros
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Semantic layer: the metric registry documented in the reference README
  * (`README.md:224-258`; the repo documents MetricFlow metrics but ships
  * no `_semantic_models.yml` — SURVEY §1.1). Metrics are named aggregate /
  * window `Column` definitions over the marts, so every consumer
  * aggregates the same way.
  *
  * Usage: `fct.groupBy($"country_code").agg(Metrics.simple("total_gdp"))`
  * for simple metrics; `Metrics.windowed(name)` for time-series metrics
  * that need a (partition, order) context.
  */
object Metrics {

  /** Simple aggregate metrics (measure → aggregation). */
  val simple: Map[String, Column] = Map(
    "total_gdp" ->
      Exact.sumExact(col("annual_gdp_million_eur"), 6).as("total_gdp"),
    "population" ->
      Exact.sumExact(col("annual_population_count"), 6).as("population"),
    "average_gdp_per_capita" ->
      Exact.avgExact(col("annual_gdp_per_capita_eur"), 6).as("average_gdp_per_capita"),
    "unemployment_rate" ->
      Exact.avgExact(col("unemployment_rate_pct"), 6).as("unemployment_rate"),
    "monthly_inflation" ->
      Exact.avgExact(col("inflation_rate_mom_pct"), 6).as("monthly_inflation"),
    "annual_inflation" ->
      Exact.sumExact(col("inflation_rate_mom_pct"), 6).as("annual_inflation"))

  /** Derived metric: (total_gdp * 1,000,000) / population (README's
    * `gdp_per_capita_derived` expr).
    */
  def gdpPerCapitaDerived(totalGdp: Column, population: Column): Column =
    Macros.nullSafeDivide(totalGdp * 1000000.0, population).as("gdp_per_capita_derived")

  /** Time-series metrics requiring a window context. */
  def gdpGrowth(partition: Column, order: Column): Column =
    Macros.yoyChange(col("annual_gdp_million_eur"), partition, order).as("gdp_growth")

  /** Trailing 12-period mean, computed like every multi-row reduction in
    * this engine: exact decimal window sum / non-null count (plain double
    * `avg` over a frame is engine- and order-dependent — the q06/q52
    * discipline), so the metric itself hash-gates (q70).
    */
  def unemploymentTrend(partition: Column, order: Column): Column = {
    val w = Window.partitionBy(partition).orderBy(order)
      .rowsBetween(-11, Window.currentRow)
    (sum(Exact.dec(col("unemployment_rate_pct"), 6)).over(w)
        .cast(org.apache.spark.sql.types.DoubleType) /
      count(col("unemployment_rate_pct")).over(w)
        .cast(org.apache.spark.sql.types.DoubleType))
      .as("unemployment_trend")
  }

  /** Cumulative metric: running growth vs the first value in the window. */
  def cumulativeGdpGrowth(partition: Column, order: Column): Column = {
    val w     = Window.partitionBy(partition).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = first(col("annual_gdp_million_eur"), ignoreNulls = true).over(w)
    when(base.isNotNull && base =!= 0,
      (col("annual_gdp_million_eur") - base) / base * 100)
      .as("cumulative_gdp_growth")
  }

  /** MetricFlow-style time-grain dimensions → mart time columns. */
  private val TimeGrainDims = Map(
    "metric_time__year"  -> "reference_year",
    "metric_time__month" -> "reference_date",
    "metric_time"        -> "reference_date")

  private val TimeCols = Set("reference_year", "reference_date")

  private val WindowMetricNames = Set("gdp_growth", "cumulative_gdp_growth")

  /** Every metric name [[query]] accepts. */
  val registryNames: Set[String] =
    simple.keySet ++ WindowMetricNames + "gdp_per_capita_derived"

  /** Saved-query entry point — the Spark rendering of the reference's
    * documented BI consumption path (`README.md:295-297`):
    * {{{
    * mf query --metrics unemployment_rate,gdp_growth \
    *          --group-by country_code,metric_time__year \
    *          --where "country_code = 'DE'"
    * }}}
    * Resolves metric names against the registry, applies the filter
    * BEFORE aggregation (it reaches the scan; no post-agg re-filter),
    * aggregates once per dimension tuple, and returns ONE frame with the
    * dimensions followed by the metrics in request order.
    *
    * Dimensions: mart column names pass through; MetricFlow time grains
    * map via [[TimeGrainDims]]. Derived/window metrics resolve their
    * inputs automatically (hidden dependency columns are aggregated and
    * dropped): `gdp_per_capita_derived` pulls total_gdp + population;
    * `gdp_growth` / `cumulative_gdp_growth` need exactly ONE time
    * dimension in `groupBy` — they partition over the remaining
    * dimensions and order by it. Unknown names fail fast, listing the
    * registry (MetricsSpec gates the negative path; q105 the positive).
    */
  def query(
      fct: DataFrame,
      metrics: Seq[String],
      groupBy: Seq[String],
      where: Option[String] = None): DataFrame = {
    require(metrics.nonEmpty, "query needs at least one metric")
    require(metrics.distinct == metrics, s"duplicate metric in: $metrics")
    require(groupBy.nonEmpty, "query needs at least one group-by dimension")
    val unknown = metrics.filterNot(registryNames.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown metric(s): ${unknown.mkString(", ")} — registry: " +
          registryNames.toSeq.sorted.mkString(", "))

    val dimCols  = groupBy.map(d => TimeGrainDims.getOrElse(d, d))
    val filtered = where.map(fct.filter).getOrElse(fct)

    val simpleWanted  = metrics.filter(simple.contains)
    val wantDerived   = metrics.contains("gdp_per_capita_derived")
    val windowWanted  = metrics.filter(WindowMetricNames.contains)
    // hidden dependencies, aggregated alongside and dropped by the final
    // projection (the names match what the window/derived helpers read)
    val hidden = Seq(
      if (wantDerived && !simpleWanted.contains("total_gdp"))
        Some(simple("total_gdp")) else None,
      if (wantDerived && !simpleWanted.contains("population"))
        Some(simple("population")) else None,
      if (windowWanted.nonEmpty)
        Some(max(col("annual_gdp_million_eur")).as("annual_gdp_million_eur"))
      else None).flatten
    val aggCols = simpleWanted.map(simple) ++ hidden
    val grouped = filtered.groupBy(dimCols.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)

    val withWindows =
      if (windowWanted.isEmpty) grouped
      else {
        val timeDims = dimCols.filter(TimeCols.contains)
        require(timeDims.size == 1,
          s"window metrics ${windowWanted.mkString(", ")} need exactly one " +
            s"time dimension in groupBy (got: ${timeDims.mkString(", ")})")
        // all non-time dimensions partition as one struct key; constant
        // when the query is time-only (post-agg frame is grain-sized)
        val partCols = dimCols.filterNot(timeDims.contains).map(col)
        val part = if (partCols.isEmpty) lit(1) else struct(partCols: _*)
        val ord  = col(timeDims.head)
        windowWanted.foldLeft(grouped) {
          case (df, "gdp_growth") =>
            df.withColumn("gdp_growth", gdpGrowth(part, ord))
          case (df, _) =>
            df.withColumn("cumulative_gdp_growth", cumulativeGdpGrowth(part, ord))
        }
      }
    val withDerived =
      if (!wantDerived) withWindows
      else withWindows.withColumn("gdp_per_capita_derived",
        gdpPerCapitaDerived(col("total_gdp"), col("population")))
    withDerived.select((dimCols ++ metrics).map(col): _*)
  }
}
