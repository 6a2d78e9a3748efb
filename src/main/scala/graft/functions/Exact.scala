package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Deterministic, order-independent numeric aggregation helpers.
  *
  * Floating-point `sum`/`avg`/`stddev` over doubles are sensitive to the
  * order partial aggregates merge in — which varies with partitioning and
  * differs between engines. For oracle hash-matching (and for reproducible
  * results on a real cluster, where partition order is never stable), all
  * multi-row reductions here go through exact decimal arithmetic, then any
  * derived floating-point math happens on exact inputs (deterministic:
  * identical IEEE ops on identical values).
  *
  * The source data carries at most 2 decimal places (TESTDATA probe), so
  * DECIMAL(18,2) casts are lossless for it; scale is a parameter.
  */
object Exact {

  def dec(c: Column, scale: Int = 2): Column = c.cast(DecimalType(18, scale))

  /** Exact sum (decimal), surfaced as double. */
  def sumExact(c: Column, scale: Int = 2): Column =
    sum(dec(c, scale)).cast(DoubleType)

  /** Exact mean: exact decimal sum / count, evaluated as double division. */
  def avgExact(c: Column, scale: Int = 2): Column =
    sum(dec(c, scale)).cast(DoubleType) / count(c).cast(DoubleType)

  /** Sample standard deviation from exact power sums:
    * sqrt((n*Σx² − (Σx)²) / (n(n−1))). Σx and Σx² are exact decimals (the
    * square of a scale-s decimal is a scale-2s decimal, still exact), so the
    * final double expression is order-independent. Equivalent to pandas
    * `std(ddof=1)` / `stddev_samp` (SURVEY §7.4.3).
    */
  def stddevSampExact(c: Column, scale: Int = 2): Column = {
    val n   = count(c).cast(DoubleType)
    val sx  = sum(dec(c, scale)).cast(DoubleType)
    val sxx = sum(dec(c, scale) * dec(c, scale)).cast(DoubleType)
    when(count(c) > 1, sqrt(greatest(lit(0.0), (n * sxx - sx * sx) / (n * (n - lit(1.0))))))
      .otherwise(lit(null).cast(DoubleType))
  }

  /** Closed-form OLS slope over (x, y) pairs from exact sums:
    * (nΣxy − ΣxΣy) / (nΣx² − (Σx)²). `x` must be integral (exact as-is);
    * `y` is decimal-cast. Matches `regr_slope` semantics but
    * order-independent (reference computes the same closed form in numpy,
    * `py_unemployment_forecast.py:74-104`).
    */
  def olsSlopeExact(x: Column, y: Column, yScale: Int = 2): Column = {
    val n   = count(y).cast(DoubleType)
    val sx  = sum(x.cast(LongType)).cast(DoubleType)
    val sy  = sum(dec(y, yScale)).cast(DoubleType)
    val sxy = sum(x.cast(LongType).cast(DecimalType(18, 0)) * dec(y, yScale)).cast(DoubleType)
    val sxx = sum(x.cast(LongType) * x.cast(LongType)).cast(DoubleType)
    when(n * sxx - sx * sx =!= 0, (n * sxy - sx * sy) / (n * sxx - sx * sx))
      .otherwise(lit(null).cast(DoubleType))
  }

  /** OLS intercept companion: (Σy − slope·Σx) / n. */
  def olsInterceptExact(x: Column, y: Column, yScale: Int = 2): Column = {
    val n  = count(y).cast(DoubleType)
    val sx = sum(x.cast(LongType)).cast(DoubleType)
    val sy = sum(dec(y, yScale)).cast(DoubleType)
    (sy - olsSlopeExact(x, y, yScale) * sx) / n
  }
}
