package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
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
  *
  * Quantization rule: every double that feeds a sum, a comparison key or
  * an emitted value after a transcendental (`ln`, `exp`, `sqrt`) or a
  * fixed-order float formula is rounded to 1e-9 units as
  * `floor(x·1e9 + 0.5)` — [[e9]] keeps the integer units, [[q9]] divides
  * back by 1e9. JVM and DuckDB `ln` differ by 1 ulp on about 3% of
  * arguments; the quantum absorbs that, so quantize each term BEFORE any
  * sum, never after. The oracle SQL spells the same expression literally.
  */
object Exact {

  /** `x` rounded half-up to 1e-9: `floor(x·1e9 + 0.5) / 1e9`. */
  def q9(c: Column): Column = floor(c * 1e9 + 0.5) / 1e9

  /** `x` in integer 1e-9 units: `floor(x·1e9 + 0.5)` as BIGINT. */
  def e9(c: Column): Column = floor(c * 1e9 + 0.5).cast(LongType)

  /** Driver-side [[q9]]: the same IEEE steps, through the same long. */
  def q9(x: Double): Double = e9(x) / 1e9

  /** Driver-side [[e9]]: Spark's `floor` of a double is the JVM's
    * `(long) Math.floor`, so the two forms agree bit for bit.
    */
  def e9(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong

  /** One Shannon entropy term `−p·ln p` in 1e-9 units. Each term is
    * quantized before the exact integer sum over terms, so the total is
    * independent of the order the terms arrive in.
    */
  def entropyTerm(p: Column): Column = e9(-p * log(p))

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

  /** OLS fit of ln(y) on ln(x) over the positive `(x, y)` rows of
    * `points`: one row `(n, slope, intercept, r_squared)`. Each ln point
    * is [[q9]]-quantized before the DECIMAL(18,9) power sums; slope,
    * intercept and r² are fixed-order IEEE formulas of the exact sums,
    * quantized again. A caller that drops `r_squared` also drops its Σy²
    * from the optimized plan.
    */
  def logLogFit(points: DataFrame, x: Column, y: Column): DataFrame = {
    val pts = points.select(q9(log(x)).as("x"), q9(log(y)).as("y"))
    val agg = pts.agg(
      count(lit(1)).as("n"),
      sum(dec(col("x"), 9)).as("sx"), sum(dec(col("y"), 9)).as("sy"),
      sum(dec(col("x"), 9) * dec(col("x"), 9)).as("sxx"),
      sum(dec(col("x"), 9) * dec(col("y"), 9)).as("sxy"),
      sum(dec(col("y"), 9) * dec(col("y"), 9)).as("syy"))
    val nd   = col("n").cast(DoubleType)
    val sxd  = col("sx").cast(DoubleType); val syd = col("sy").cast(DoubleType)
    val sxxd = col("sxx").cast(DoubleType); val sxyd = col("sxy").cast(DoubleType)
    val syyd = col("syy").cast(DoubleType)
    val den   = nd * sxxd - sxd * sxd
    val slope = (nd * sxyd - sxd * syd) / den
    val r2 = ((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)) /
      (den * (nd * syyd - syd * syd))
    agg.select(col("n"), q9(slope).as("slope"),
               q9((syd - slope * sxd) / nd).as("intercept"), q9(r2).as("r_squared"))
  }
}
