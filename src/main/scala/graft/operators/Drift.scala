package graft.operators

import graft.functions.Exact
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Population Stability Index: how far a current histogram has drifted
  * from a reference one over the same B bins.
  */
object Drift {

  /** PSI per group of `cells` — one row per (`by`…, bin) with integer
    * `ref_cnt` and `cur_cnt`. Shares are Laplace-smoothed,
    * p = (ref_cnt + ½)/(n_ref + B/2) and q likewise, so empty bins stay
    * finite. Each bin's term (p − q)·ln(p/q) is quantized
    * ([[graft.functions.Exact.q9]]) and the group total is the exact
    * DECIMAL(18,9) sum of its terms, independent of partition order.
    * Returns `cells`' columns plus `psi_term` and `psi_total`.
    */
  def psi(cells: DataFrame, bins: Int, by: String*): DataFrame = {
    def attach(rows: DataFrame, perGroup: DataFrame): DataFrame =
      if (by.isEmpty) rows.crossJoin(broadcast(perGroup))
      else rows.join(broadcast(perGroup), by)
    val totals = cells.groupBy(by.map(col): _*)
      .agg(sum(col("ref_cnt")).as("n_ref"), sum(col("cur_cnt")).as("n_cur"))
    val p = (col("ref_cnt").cast(DoubleType) + 0.5) /
      (col("n_ref").cast(DoubleType) + 0.5 * bins)
    val q = (col("cur_cnt").cast(DoubleType) + 0.5) /
      (col("n_cur").cast(DoubleType) + 0.5 * bins)
    val perBin = attach(cells, totals)
      .select(cells.columns.map(col) :+ Exact.q9((p - q) * log(p / q)).as("psi_term"): _*)
    attach(perBin, perBin.groupBy(by.map(col): _*)
      .agg(Exact.sumExact(col("psi_term"), 9).as("psi_total")))
  }
}
