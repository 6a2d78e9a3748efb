package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.TopKPairs
import org.apache.spark.sql.types.{LongType, StringType}

/** Exact-count stratified sampling. */
object Sampling {

  /** Largest-remainder quota sample of `budget` rows of `pool`, stratified
    * by `stratum` and keyed by the unique `id`.
    *
    * Quotas are Hamilton's method in INTEGER arithmetic: with n the
    * stratum's row count and N the pool's, the base is ⌊B·n/N⌋ and the
    * remainder B·n − base·N; the B − Σ base residual seats go to the
    * largest remainders, ties to the LOWER stratum value (the rank is a
    * `sort_array` over (−remainder, stratum), so it needs no window). The
    * ≤|strata|-row quota table is cut, because the residual count and the
    * ranking both read it. Each stratum then keeps its `target_n` smallest
    * md5(`salt` ‖ id) keys, picked by the bounded TopKPairs heap: exact
    * counts, no rand(), no per-stratum sort, no window over the pool.
    *
    * Returns (`stratum`, `id`, strat_rank, target_n), strat_rank being the
    * row's 1-based key rank within its stratum.
    */
  def quotaSample(pool: DataFrame, stratum: String, id: String,
                  budget: Int, salt: String): DataFrame = {
    val counts = pool.groupBy(col(stratum)).agg(count(lit(1)).as("n_l"))
    val tot = counts.agg(sum(col("n_l")).as("nn"))
    val q = Materialize.cutLocal(counts.crossJoin(broadcast(tot))
      .select(col(stratum), col("n_l"),
              expr(s"($budget * n_l) DIV nn").as("base_l"),
              (lit(budget.toLong) * col("n_l") -
                expr(s"($budget * n_l) DIV nn") * col("nn")).as("rem"))) // ≤|strata| rows, consumed twice below
    val sumBase = q.agg(sum(col("base_l")).as("sum_base"))
    val ranked = q
      .agg(sort_array(collect_list(struct((-col("rem")).as("negrem"),
             col(stratum).as(stratum), col("base_l").as("base_l")))).as("xs"))
      .select(posexplode(col("xs")).as(Seq("pos", "x")))
      .select(col(s"x.$stratum").as(stratum), col("x.base_l").as("base_l"),
              (col("pos") + 1).cast(LongType).as("seat_rank"))
    val tgt = ranked.crossJoin(broadcast(sumBase))
      .select(col(stratum),
              (col("base_l") +
                when(col("seat_rank") <= lit(budget.toLong) - col("sum_base"),
                     lit(1L)).otherwise(lit(0L))).as("target_n"))
    val key = md5(concat(lit(salt), col(id).cast(StringType)))
    pool.select(col(id), col(stratum), key.as("sample_key"))
      .groupBy(col(stratum))
      .agg(TopKPairs.topK(col("sample_key"), col(id), budget).as("top"))
      .select(col(stratum), posexplode(col("top")))
      .select(col(stratum), col("col.id").as(id),
              (col("pos") + 1).cast(LongType).as("strat_rank"))
      .join(broadcast(tgt), Seq(stratum))
      .filter(col("strat_rank") <= col("target_n"))
      .select(col(stratum), col(id), col("strat_rank"),
              col("target_n").cast(LongType).as("target_n"))
  }
}
