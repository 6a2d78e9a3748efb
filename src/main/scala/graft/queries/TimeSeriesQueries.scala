package graft.queries

import graft.core.Tables
import graft.functions.Exact._
import graft.functions.Macros._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Time-series / window operator inventory (SURVEY §2.5, §2.9b) over the
  * `events` panel (user_id × ts ≅ country_code × reference_date). This is
  * the semantic core of the reference: lag/lead, rolling windows, YoY,
  * z-score anomalies, IQR outliers, OLS trend, forecast expansion, data
  * quality scoring.
  *
  * Windows all carry a unique tiebreaker (`event_id`) in their ordering so
  * results are total-order deterministic; full-partition statistics use
  * exact decimal power sums (see [[graft.functions.Exact]]) so nothing
  * depends on partial-aggregate merge order.
  */
object TimeSeriesQueries {

  type Q = (SparkSession, String) => DataFrame

  private def wUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
  private def wUserAll = Window.partitionBy(col("user_id"))

  /** stddev_samp over an unbounded partition window from exact power sums. */
  private def stddevSampOver(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val n   = count(c).over(w).cast(DoubleType)
    val sx  = sum(dec(c)).over(w).cast(DoubleType)
    val sxx = sum(dec(c) * dec(c)).over(w).cast(DoubleType)
    when(count(c).over(w) > 1, sqrt(greatest(lit(0.0), (n * sxx - sx * sx) / (n * (n - lit(1.0))))))
      .otherwise(lit(null).cast(DoubleType))
  }

  val defs: Map[String, Q] = Map(
    // W1/W2/W7: lag-1, lag-12, pct-change per entity in time order
    // (int_country_monthly_indicators.sql:85-99; py_anomaly_detection.py:63-66).
    "q05_window_lag" -> { (s, dir) =>
      val e    = Tables(s, dir).events
      val prev = lag(col("value"), 1).over(wUser)
      e.select(
        col("user_id"), col("event_id"), col("ts"), col("value"),
        prev.as("prev_value"),
        lag(col("value"), 12).over(wUser).as("value_12_back"),
        when(prev.isNotNull && prev =!= 0, (col("value") - prev) / prev * 100)
          .otherwise(lit(null)).as("pct_change"))
    },

    // W3: trailing 12-row rolling average with partial windows
    // (macros/calculations.sql:51-69). Exact: windowed decimal sum / count.
    "q06_rolling_avg" -> { (s, dir) =>
      val e  = Tables(s, dir).events
      val wF = wUser.rowsBetween(-11, Window.currentRow)
      e.select(
        col("user_id"), col("event_id"), col("ts"), col("value"),
        (sum(dec(col("value"))).over(wF).cast(DoubleType) /
          count(lit(1)).over(wF).cast(DoubleType)).as("rolling_avg_12"))
    },

    // W6: latest observation per entity — deterministic replacement for
    // first_value over desc order (dim_country.sql:21-29, SURVEY §7.4.5).
    "q08_latest_value" -> { (s, dir) =>
      val e  = Tables(s, dir).events
      val wD = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      e.withColumn("rn", row_number().over(wD))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("latest_ts"),
                col("value").as("latest_value"), col("event_type").as("latest_event_type"))
    },

    // A1+F7: per-entity observation counts → completeness flags
    // (int_country_annual_metrics.sql:93-94 shape).
    "q13_completeness_flags" -> { (s, dir) =>
      val e = Tables(s, dir).events
      e.groupBy(col("user_id"))
        .agg(
          countDistinct(to_date(col("ts"))).as("active_days"),
          count(lit(1)).as("observations"),
          avgExact(col("value")).as("avg_value"))
        .withColumn("has_complete_activity", col("active_days") >= 25)
    },

    // Freshness SLA check with an injected clock (_sources.yml:27-30;
    // SURVEY §2.10.2): warn after 7d, error after 30d.
    "q14_freshness" -> { (s, dir) =>
      val e    = Tables(s, dir).events
      val asOf = lit("2024-02-15").cast(DateType)
      e.groupBy(col("event_type"))
        .agg(max(col("ts")).as("max_loaded_at"))
        .select(
          col("event_type"), col("max_loaded_at"),
          datediff(asOf, to_date(col("max_loaded_at"))).cast(LongType).as("days_since_load"))
        .withColumn("freshness_status",
          when(col("days_since_load") <= 7, "fresh")
            .when(col("days_since_load") <= 30, "warn")
            .otherwise("error"))
    },

    // W5: YoY change on an annual rollup (rpt_annual_economic_summary.sql:50-52,
    // macros/calculations.sql:16-48). Annual grain here = user_id × day-of-month
    // bucket is too thin, so roll up to user × day and lag by one day-row.
    "q16_yoy_change" -> { (s, dir) =>
      val e = Tables(s, dir).events
      val daily = e
        .groupBy(col("user_id"), to_date(col("ts")).cast(StringType).as("activity_date"))
        .agg(avgExact(col("value")).as("daily_avg"))
      val w    = Window.partitionBy(col("user_id")).orderBy(col("activity_date"))
      val prev = lag(col("daily_avg"), 1).over(w)
      daily.select(
        col("user_id"), col("activity_date"), col("daily_avg"),
        when(prev.isNotNull && prev =!= 0, (col("daily_avg") - prev) / prev * 100)
          .otherwise(lit(null)).as("dod_change_pct"))
    },

    // W8: z-score over the full per-entity series, ddof=1 like pandas
    // (py_anomaly_detection.py:46-52); |z| > 2 flags, ≥10-obs guard.
    "q17_zscore_anomaly" -> { (s, dir) =>
      val e    = Tables(s, dir).events
      val mean = sum(dec(col("value"))).over(wUserAll).cast(DoubleType) /
        count(col("value")).over(wUserAll).cast(DoubleType)
      val sd   = stddevSampOver(col("value"), wUserAll)
      val n    = count(col("value")).over(wUserAll)
      val z    = when(sd.isNotNull && sd =!= 0 && n >= 10, (col("value") - mean) / sd)
      e.select(
        col("user_id"), col("event_id"), col("value"),
        z.as("z_score"),
        coalesce(abs(z) > 2, lit(false)).as("is_zscore_anomaly"))
    },

    // W9: IQR outliers with exact interpolated percentiles — pandas
    // `quantile` ≡ Spark `percentile` ≡ DuckDB `quantile_cont`
    // (py_anomaly_detection.py:54-61; SURVEY §7.4.2).
    "q18_iqr_outliers" -> { (s, dir) =>
      val e = Tables(s, dir).events
      val q = e.groupBy(col("user_id").as("uid"))
        .agg(
          expr("percentile(value, 0.25)").as("q1"),
          expr("percentile(value, 0.75)").as("q3"))
      e.join(broadcast(q), col("user_id") === col("uid"))
        .select(
          col("user_id"), col("event_id"), col("value"), col("q1"), col("q3"),
          (col("value") < col("q1") - (col("q3") - col("q1")) * 1.5 ||
            col("value") > col("q3") + (col("q3") - col("q1")) * 1.5).as("is_iqr_outlier"))
    },

    // Robust (median/MAD) outlier scoring per event type — the
    // Iglewicz–Hoaglin modified z-score (0.6745·(x−med)/MAD, |z|>3.5),
    // the outlier filter a curation pipeline applies to long-tailed
    // per-document statistics (perplexity, length) where mean/stddev
    // (q17) are themselves dragged by the outliers. Exact interpolated
    // percentiles like q18 (the same Spark percentile ≡ DuckDB
    // quantile_cont bridge); the per-group medians broadcast back.
    // This is the EXACT-verification complement: at 100 TB you'd feed
    // the q93 histogram sketch's bin medians instead — same downstream
    // shape, constant-size stats.
    "q94_mad_outliers" -> { (s, dir) =>
      val e = Tables(s, dir).events
      val med = e.groupBy(col("event_type").as("et"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = e.join(broadcast(med), col("event_type") === col("et"))
        .select(col("event_id"), col("event_type"), col("value"), col("med"),
                abs(col("value") - col("med")).as("absdev"))
      val mad = dev.groupBy(col("event_type").as("et2"))
        .agg(expr("percentile(absdev, 0.5)").as("mad"))
      val z = when(col("mad") =!= 0.0,
        lit(0.6745) * (col("value") - col("med")) / col("mad")).otherwise(lit(0.0))
      dev.join(broadcast(mad), col("event_type") === col("et2"))
        .select(col("event_id"), col("event_type"), col("value"),
                col("med"), col("mad"),
                q9(z).as("robust_z"),
                coalesce(abs(z) > 3.5, lit(false)).as("is_mad_outlier"))
    },

    // OLS trend per entity from exact power sums — regr_slope/intercept
    // semantics, order-independent (py_unemployment_forecast.py:74-104).
    "q19_ols_trend" -> { (s, dir) =>
      val e = Tables(s, dir).events
      val x = datediff(to_date(col("ts")), lit("2024-01-01").cast(DateType))
      e.groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_obs"),
          olsSlopeExact(x, col("value")).as("trend_slope"),
          olsInterceptExact(x, col("value")).as("trend_intercept"))
    },

    // W7 + guard: rate-of-change spike anomaly, |pct_change| > 0.5 with
    // ≥10-observation guard (py_anomaly_detection.py:63-66,78).
    "q20_value_spike" -> { (s, dir) =>
      val e    = Tables(s, dir).events
      val prev = lag(col("value"), 1).over(wUser)
      val pc   = when(prev.isNotNull && prev =!= 0, (col("value") - prev) / prev)
      val n    = count(lit(1)).over(wUserAll)
      e.select(
        col("user_id"), col("event_id"), col("value"),
        pc.as("rate_of_change"),
        (coalesce(abs(pc) > 0.5, lit(false)) && n >= 10).as("is_rate_anomaly"))
    },

    // W10: repeated-consecutive-value consistency penalty
    // (py_data_quality_scores.py:117-143).
    "q21_consistency_repeats" -> { (s, dir) =>
      val e    = Tables(s, dir).events
      val same = (col("value") === lag(col("value"), 1).over(wUser)).cast(LongType)
      e.withColumn("is_repeat", coalesce(same, lit(0L)))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_obs"), sum(col("is_repeat")).as("repeated_values"))
        .select(
          col("user_id"), col("n_obs"), col("repeated_values"),
          when(col("n_obs") > 1,
            greatest(lit(0.0),
              lit(100.0) - col("repeated_values").cast(DoubleType) /
                (col("n_obs") - 1).cast(DoubleType) * 100.0 * 2.0))
            .otherwise(lit(100.0)).as("consistency_score"))
    },

    // Prediction interval width from stddev of first differences —
    // exact decimal diffs (py_unemployment_forecast.py:106-122).
    "q22_forecast_interval" -> { (s, dir) =>
      val e    = Tables(s, dir).events
      val diff = dec(col("value")) - lag(dec(col("value")), 1).over(wUser)
      e.withColumn("d", diff)
        .filter(col("d").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_diffs"),
          {
            val n   = count(col("d")).cast(DoubleType)
            val sx  = sum(col("d")).cast(DoubleType)
            val sxx = sum(col("d") * col("d")).cast(DoubleType)
            when(count(col("d")) > 1, sqrt(greatest(lit(0.0), (n * sxx - sx * sx) / (n * (n - lit(1.0))))))
              .otherwise(lit(null).cast(DoubleType)).as("diff_stddev")
          })
        .withColumn("interval_halfwidth", col("diff_stddev") * 1.96)
    },

    // F13 + UDTF-shape: 6-step forecast-horizon expansion per entity —
    // explode(sequence(1,6)) against the latest observation
    // (py_unemployment_forecast.py:152-189).
    "q23_forecast_horizon" -> { (s, dir) =>
      val e  = Tables(s, dir).events
      val wD = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      val last = e.withColumn("rn", row_number().over(wD))
        .filter(col("rn") === 1)
        .select(col("user_id"), to_date(col("ts")).as("last_date"), col("value").as("last_value"))
      last
        .select(col("user_id"), col("last_date"), col("last_value"),
                explode(sequence(lit(1), lit(6))).as("step"))
        .select(
          col("user_id"),
          col("step").cast(LongType).as("step"),
          add_months(trunc(col("last_date"), "MM"), col("step").cast(IntegerType))
            .cast(StringType).as("forecast_date"),
          col("last_value").as("forecast_value"))
    },

    // The data-quality scorecard: completeness / validity / consistency /
    // timeliness → weighted overall score, A-F grade, primary issue
    // (py_data_quality_scores.py:19-240), injected asOf clock for
    // determinism (SURVEY §7.4.4).
    "q24_quality_scores" -> { (s, dir) =>
      val e    = Tables(s, dir).events
      val asOf = lit("2024-02-15").cast(DateType)
      val nonZero = when(col("value") =!= 0, col("value"))
      val same    = (col("value") === lag(col("value"), 1).over(wUser)).cast(LongType)
      val scored = e
        .withColumn("is_repeat", coalesce(same, lit(0L)))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_obs"),
          count(nonZero).as("n_nonzero"),
          count(when(col("value") >= 0 && col("value") <= 500, lit(1))).as("n_valid"),
          sum(col("is_repeat")).as("n_repeats"),
          max(to_date(col("ts"))).as("latest_date"))
        .select(
          col("user_id"), col("n_obs"),
          (col("n_nonzero").cast(DoubleType) / col("n_obs").cast(DoubleType) * 100).as("completeness_score"),
          (col("n_valid").cast(DoubleType) / col("n_obs").cast(DoubleType) * 100).as("validity_score"),
          when(col("n_obs") > 1,
            greatest(lit(0.0),
              lit(100.0) - col("n_repeats").cast(DoubleType) /
                (col("n_obs") - 1).cast(DoubleType) * 100.0 * 2.0))
            .otherwise(lit(100.0)).as("consistency_score"),
          greatest(lit(0.0),
            lit(100.0) - greatest(lit(0L),
              datediff(asOf, col("latest_date")).cast(LongType) - 7).cast(DoubleType))
            .as("timeliness_score"))
      val overall =
        col("completeness_score") * 0.3 + col("validity_score") * 0.3 +
          col("consistency_score") * 0.2 + col("timeliness_score") * 0.2
      scored
        .withColumn("overall_score", overall)
        .withColumn("quality_grade",
          when(col("overall_score") >= 90, "A")
            .when(col("overall_score") >= 80, "B")
            .when(col("overall_score") >= 70, "C")
            .when(col("overall_score") >= 60, "D")
            .otherwise("F"))
        .withColumn("needs_attention", col("overall_score") < 70)
    })

  private val winSql = "PARTITION BY user_id ORDER BY ts, event_id"

  val oracles: Map[String, String] = Map(
    "q05_window_lag" ->
      s"""SELECT user_id, event_id, ts, value,
         |  lag(value) OVER ($winSql) AS prev_value,
         |  lag(value, 12) OVER ($winSql) AS value_12_back,
         |  CASE WHEN lag(value) OVER ($winSql) IS NOT NULL AND lag(value) OVER ($winSql) != 0
         |       THEN (value - lag(value) OVER ($winSql)) / lag(value) OVER ($winSql) * 100
         |       ELSE NULL END AS pct_change
         |FROM events""".stripMargin,
    "q06_rolling_avg" ->
      s"""SELECT user_id, event_id, ts, value,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER ($winSql ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    / CAST(COUNT(*) OVER ($winSql ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_avg_12
         |FROM events""".stripMargin,
    "q08_latest_value" ->
      """SELECT user_id, ts AS latest_ts, value AS latest_value, event_type AS latest_event_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,
    "q13_completeness_flags" ->
      """SELECT user_id,
        |  COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
        |  COUNT(*) AS observations,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value,
        |  COUNT(DISTINCT CAST(ts AS DATE)) >= 25 AS has_complete_activity
        |FROM events GROUP BY user_id""".stripMargin,
    "q14_freshness" ->
      """SELECT event_type, max(ts) AS max_loaded_at,
        |  CAST(date_diff('day', CAST(max(ts) AS DATE), DATE '2024-02-15') AS BIGINT) AS days_since_load,
        |  CASE WHEN date_diff('day', CAST(max(ts) AS DATE), DATE '2024-02-15') <= 7 THEN 'fresh'
        |       WHEN date_diff('day', CAST(max(ts) AS DATE), DATE '2024-02-15') <= 30 THEN 'warn'
        |       ELSE 'error' END AS freshness_status
        |FROM events GROUP BY event_type""".stripMargin,
    "q16_yoy_change" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS activity_date,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS daily_avg
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, activity_date, daily_avg,
        |  CASE WHEN lag(daily_avg) OVER w IS NOT NULL AND lag(daily_avg) OVER w != 0
        |       THEN (daily_avg - lag(daily_avg) OVER w) / lag(daily_avg) OVER w * 100
        |       ELSE NULL END AS dod_change_pct
        |FROM daily
        |WINDOW w AS (PARTITION BY user_id ORDER BY activity_date)""".stripMargin,
    "q17_zscore_anomaly" ->
      """WITH stats AS (
        |  SELECT *,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER wu AS DOUBLE) / CAST(COUNT(value) OVER wu AS DOUBLE) AS mean_v,
        |    CAST(COUNT(value) OVER wu AS DOUBLE) AS n_v,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER wu AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) OVER wu AS DOUBLE) AS sxx
        |  FROM events WINDOW wu AS (PARTITION BY user_id)),
        |z AS (
        |  SELECT user_id, event_id, value,
        |    CASE WHEN n_v > 1 THEN sqrt(greatest(0.0, (n_v * sxx - sx * sx) / (n_v * (n_v - 1.0)))) END AS sd,
        |    mean_v, n_v
        |  FROM stats)
        |SELECT user_id, event_id, value,
        |  CASE WHEN sd IS NOT NULL AND sd != 0 AND n_v >= 10 THEN (value - mean_v) / sd END AS z_score,
        |  coalesce(CASE WHEN sd IS NOT NULL AND sd != 0 AND n_v >= 10 THEN abs((value - mean_v) / sd) > 2 END, false) AS is_zscore_anomaly
        |FROM z""".stripMargin,
    "q18_iqr_outliers" ->
      """WITH q AS (
        |  SELECT user_id AS uid, quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY 1)
        |SELECT user_id, event_id, value, q1, q3,
        |  (value < q1 - (q3 - q1) * 1.5 OR value > q3 + (q3 - q1) * 1.5) AS is_iqr_outlier
        |FROM events JOIN q ON user_id = uid""".stripMargin,
    "q94_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type AS et, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |dev AS (
        |  SELECT event_id, event_type, value, med, abs(value - med) AS absdev
        |  FROM events JOIN med ON event_type = et),
        |mad AS (
        |  SELECT event_type AS et2, quantile_cont(absdev, 0.5) AS mad
        |  FROM dev GROUP BY 1),
        |z AS (
        |  SELECT event_id, event_type, value, med, mad,
        |    CASE WHEN mad != 0.0 THEN 0.6745 * (value - med) / mad
        |         ELSE 0.0 END AS zr
        |  FROM dev JOIN mad ON event_type = et2)
        |SELECT event_id, event_type, value, med, mad,
        |  floor(zr * 1e9 + 0.5) / 1e9 AS robust_z,
        |  coalesce(abs(zr) > 3.5, false) AS is_mad_outlier
        |FROM z""".stripMargin,

    "q19_ols_trend" ->
      """WITH pts AS (
        |  SELECT user_id,
        |         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
        |         value AS y
        |  FROM events),
        |sums AS (
        |  SELECT user_id, COUNT(*) AS n_obs,
        |    CAST(COUNT(y) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x AS BIGINT)) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CAST(x AS BIGINT) AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS DOUBLE) AS sxx
        |  FROM pts GROUP BY user_id)
        |SELECT user_id, n_obs,
        |  CASE WHEN n * sxx - sx * sx != 0 THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS trend_slope,
        |  (sy - (CASE WHEN n * sxx - sx * sx != 0 THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END) * sx) / n AS trend_intercept
        |FROM sums""".stripMargin,
    "q20_value_spike" ->
      s"""SELECT user_id, event_id, value,
         |  CASE WHEN lag(value) OVER ($winSql) IS NOT NULL AND lag(value) OVER ($winSql) != 0
         |       THEN (value - lag(value) OVER ($winSql)) / lag(value) OVER ($winSql) END AS rate_of_change,
         |  (coalesce(abs(CASE WHEN lag(value) OVER ($winSql) IS NOT NULL AND lag(value) OVER ($winSql) != 0
         |       THEN (value - lag(value) OVER ($winSql)) / lag(value) OVER ($winSql) END) > 0.5, false)
         |   AND COUNT(*) OVER (PARTITION BY user_id) >= 10) AS is_rate_anomaly
         |FROM events""".stripMargin,
    "q21_consistency_repeats" ->
      s"""WITH r AS (
         |  SELECT user_id,
         |         coalesce(CAST(value = lag(value) OVER ($winSql) AS BIGINT), 0) AS is_repeat
         |  FROM events)
         |SELECT user_id, COUNT(*) AS n_obs, CAST(SUM(is_repeat) AS BIGINT) AS repeated_values,
         |  CASE WHEN COUNT(*) > 1
         |       THEN greatest(0.0, 100.0 - CAST(SUM(is_repeat) AS DOUBLE) / CAST(COUNT(*) - 1 AS DOUBLE) * 100.0 * 2.0)
         |       ELSE 100.0 END AS consistency_score
         |FROM r GROUP BY user_id""".stripMargin,
    "q22_forecast_interval" ->
      s"""WITH d AS (
         |  SELECT user_id,
         |         CAST(value AS DECIMAL(18,2)) - lag(CAST(value AS DECIMAL(18,2))) OVER ($winSql) AS d
         |  FROM events)
         |SELECT user_id, COUNT(*) AS n_diffs,
         |  CASE WHEN COUNT(d) > 1
         |       THEN sqrt(greatest(0.0, (CAST(COUNT(d) AS DOUBLE) * CAST(SUM(d * d) AS DOUBLE) - CAST(SUM(d) AS DOUBLE) * CAST(SUM(d) AS DOUBLE))
         |                 / (CAST(COUNT(d) AS DOUBLE) * (CAST(COUNT(d) AS DOUBLE) - 1.0)))) END AS diff_stddev,
         |  CASE WHEN COUNT(d) > 1
         |       THEN sqrt(greatest(0.0, (CAST(COUNT(d) AS DOUBLE) * CAST(SUM(d * d) AS DOUBLE) - CAST(SUM(d) AS DOUBLE) * CAST(SUM(d) AS DOUBLE))
         |                 / (CAST(COUNT(d) AS DOUBLE) * (CAST(COUNT(d) AS DOUBLE) - 1.0)))) END * 1.96 AS interval_halfwidth
         |FROM d WHERE d IS NOT NULL GROUP BY user_id""".stripMargin,
    "q23_forecast_horizon" ->
      """WITH last AS (
        |  SELECT user_id, CAST(ts AS DATE) AS last_date, value AS last_value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1)
        |SELECT user_id, CAST(step AS BIGINT) AS step,
        |  CAST(CAST(date_trunc('month', last_date) + to_months(CAST(step AS INTEGER)) AS DATE) AS VARCHAR) AS forecast_date,
        |  last_value AS forecast_value
        |FROM last CROSS JOIN (SELECT unnest(generate_series(1, 6)) AS step)""".stripMargin,
    "q24_quality_scores" ->
      s"""WITH r AS (
         |  SELECT user_id, value, ts,
         |         coalesce(CAST(value = lag(value) OVER ($winSql) AS BIGINT), 0) AS is_repeat
         |  FROM events),
         |agg AS (
         |  SELECT user_id, COUNT(*) AS n_obs,
         |    COUNT(CASE WHEN value != 0 THEN value END) AS n_nonzero,
         |    COUNT(CASE WHEN value >= 0 AND value <= 500 THEN 1 END) AS n_valid,
         |    SUM(is_repeat) AS n_repeats,
         |    max(CAST(ts AS DATE)) AS latest_date
         |  FROM r GROUP BY user_id),
         |scored AS (
         |  SELECT user_id, n_obs,
         |    CAST(n_nonzero AS DOUBLE) / CAST(n_obs AS DOUBLE) * 100 AS completeness_score,
         |    CAST(n_valid AS DOUBLE) / CAST(n_obs AS DOUBLE) * 100 AS validity_score,
         |    CASE WHEN n_obs > 1
         |         THEN greatest(0.0, 100.0 - CAST(n_repeats AS DOUBLE) / CAST(n_obs - 1 AS DOUBLE) * 100.0 * 2.0)
         |         ELSE 100.0 END AS consistency_score,
         |    greatest(0.0, 100.0 - CAST(greatest(0, CAST(date_diff('day', latest_date, DATE '2024-02-15') AS BIGINT) - 7) AS DOUBLE)) AS timeliness_score
         |  FROM agg)
         |SELECT *,
         |  CASE WHEN overall_score >= 90 THEN 'A' WHEN overall_score >= 80 THEN 'B'
         |       WHEN overall_score >= 70 THEN 'C' WHEN overall_score >= 60 THEN 'D'
         |       ELSE 'F' END AS quality_grade,
         |  overall_score < 70 AS needs_attention
         |FROM (SELECT *,
         |        completeness_score * 0.3 + validity_score * 0.3 +
         |        consistency_score * 0.2 + timeliness_score * 0.2 AS overall_score
         |      FROM scored)""".stripMargin)
}
