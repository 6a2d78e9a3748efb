package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.DotProduct
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** Lloyd k-means over an embedding column — the clustering primitive of a
  * training-data pipeline (semantic dedup groups, topic balancing,
  * coreset selection), deterministic enough to hash-gate against a SQL
  * oracle.
  *
  * Determinism contract (every step engine-reproducible):
  *  - seeds = first k vectors in md5(seed-prefix‖id) order (never rand());
  *  - assignment distance d² = x·x − 2·x·c + c·c with every dot product a
  *    SEQUENTIAL ascending-index fold (graftx.DotProduct's codegen loop ≡
  *    DuckDB's list_dot_product ≡ the driver-side fold used for c·c), so
  *    the doubles are bit-identical everywhere; ties break on cluster id;
  *  - centroid updates are per-dimension DECIMAL(18,7) power sums
  *    (`graft.functions.Exact` discipline, the q45 bridge) — exact,
  *    merge-order independent — divided by exact counts;
  *  - empty clusters keep their previous centroid.
  *
  * 100 TB shape: centroids are k·dims doubles — driver-sized BY
  * CONSTRUCTION (the q64 IVF argument), so each assignment pass embeds
  * them as literals and is a SHUFFLE-FREE codegen projection over the
  * scan; each update pass is one partial+final aggregation of (cluster,
  * dim) cells. Per iteration: one scan + one aggregation shuffle of
  * k·dims·P cells — no join, no window, the corpus is never shuffled.
  * The collect per iteration moves k·dims doubles to the driver, nothing
  * data-sized.
  */
object Clustering {

  /** Documented driver-state caps (see [[graft.core.Guard]]): the
    * centroid matrix and per-iteration (cluster, dim) moment table are
    * driver-resident — k·dims doubles each.
    */
  val MaxCentroids: Int = 65536
  val MaxCentroidCells: Long = 1L << 24

  /** @param vecs   input frame
    * @param idCol  unique integral id column
    * @param vecCol array&lt;float&gt;/array&lt;double&gt; embedding column
    * @param keepVectors when true the output retains the double-cast
    *                    vector as `v` — callers that need the embedding
    *                    downstream (q98's within-cluster cosine) avoid
    *                    re-joining the corpus just to fetch it back
    * @return (idCol, cluster_id, dist2[, v]) — final assignment against
    *         the last updated centroids; dist2 quantized to 1e-9
    */
  def kmeans(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      seedPrefix: String = "km|",
      keepVectors: Boolean = false,
      precomputed: Option[Array[Seq[Double]]] = None): DataFrame = {
    // precomputed: a caller that already holds THIS fit's centroids (the
    // fit is deterministic, so sharing is bit-identical) skips the
    // iters × k aggregation jobs — see VectorQueries.cents8
    val centroids = precomputed.getOrElse(
      fitCentroids(vecs, idCol, vecCol, k, iters, seedPrefix))
    val v = vecs.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val best = nearestCentroid(centroids, col("v"))
    val out = v.select(col(idCol), col("v"), best.getField("cid").as("cluster_id"),
                       best.getField("d2").as("dist2"))
    val cols = col(idCol) +: col("cluster_id") +:
      graft.functions.Exact.q9(col("dist2")).as("dist2") +:
      (if (keepVectors) Seq(col("v")) else Nil)
    out.select(cols: _*)
  }

  /** Lloyd fit returning the final centroids (k·dims doubles — driver-
    * sized by construction). Same determinism contract as [[kmeans]];
    * exposed for operators that block on the clustering but need their own
    * downstream projection (q38's exact near-dup ball cover keeps the
    * ORIGINAL vector next to the normalized one, which the kmeans output
    * schema can't carry).
    */
  def fitCentroids(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      seedPrefix: String = "km|"): Array[Seq[Double]] = {
    require(k >= 1 && iters >= 1, "k and iters must be >= 1")
    graft.core.Guard.boundedArg(k, MaxCentroids, "kmeans k",
      "centroids (k·dims doubles) live on the driver and ride every " +
        "NearestCentroid literal — shard the clustering or raise the cap " +
        "with a matching driver-memory plan")
    val v = vecs.select(col(idCol), col(vecCol).cast("array<double>").as("v"))

    // seed selection: a TakeOrdered of k rows (k·dims doubles — driver-
    // sized by construction, the q64 argument); md5-hex string ASC order
    // ≡ the oracle's ORDER BY md5(...), vec_id
    val seeds: Array[Seq[Double]] = v
      .orderBy(md5(concat(lit(seedPrefix), col(idCol).cast(StringType))),
               col(idCol))
      .limit(k)
      .collect()
      .map(_.getSeq[Double](1))
    require(seeds.nonEmpty, "kmeans: input frame has no rows to seed from")
    graft.core.Guard.boundedArg(k.toLong * seeds.head.length, MaxCentroidCells,
      s"kmeans centroid state (k = $k × dims = ${seeds.head.length} cells)",
      "reduce k or project the vectors down first (JL projection) — the " +
        "per-iteration moment table is collected to the driver")

    var centroids = seeds
    for (_ <- 1 to iters) {
      // one partial+final aggregation of (cluster, dim) cells; exact
      // decimal sums so the new components are merge-order independent;
      // ≤ k·dims rows by construction — enforced at collect time too, so
      // a widened group key fails fast instead of OOMing the driver
      val cells = graft.core.Guard.boundedCollect(
        v.select(nearestCentroid(centroids, col("v")).getField("cid").as("cluster_id"),
                 col("v"))
          .select(col("cluster_id"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy(col("cluster_id"), col("dim"))
          .agg((sum(graft.functions.Exact.dec(col("x"), 7)).cast(DoubleType) /
                 count(col("x")).cast(DoubleType)).as("c")),
        k.toLong * seeds.head.length,
        s"kmeans moment cells (k = $k × dims = ${seeds.head.length})",
        "the group key must stay (cluster_id, dim)")
        .map(r => (r.getLong(0).toInt, r.getInt(1)) -> r.getDouble(2))
        .toMap
      centroids = centroids.zipWithIndex.map { case (prev, j) =>
        if (cells.contains((j, 0)))
          prev.indices.map(d => cells.getOrElse((j, d), throw new IllegalArgumentException(
            s"kmeans: cluster $j has no dimension-$d cell — input vectors are " +
              s"ragged (shorter than the ${prev.length}-dim seeds); " +
              "kmeans requires a uniform embedding width")))
        else prev // empty cluster keeps its centroid
      }
    }
    centroids
  }

  /** Shuffle-free nearest-centroid assignment against literal centroids:
    * a `struct(d2, cid)` column where cluster = argmin over k of
    * (x·x − 2·x·cⱼ + cⱼ·cⱼ), ties to the smaller cluster id via the
    * struct's field-lexicographic order. Every dot product is the
    * sequential ascending fold (graftx.DotProduct), so d2 is
    * bit-identical to the oracle's expression.
    */
  def nearestCentroid(centroids: Array[Seq[Double]], v: Column): Column = {
    val xx = DotProduct.dotNative(v, v)
    val structs = centroids.zipWithIndex.map { case (c, j) =>
      struct(
        (xx - lit(2.0) * DotProduct.dotNative(v, array(c.map(lit): _*)) +
          lit(DotProduct.dot(c, c))).as("d2"),
        lit(j.toLong).as("cid"))
    }
    // least() requires ≥ 2 arguments; with a single centroid (k = 1, or
    // fewer input rows than k) the argmin is that centroid's struct
    if (structs.length == 1) structs.head else least(structs: _*)
  }
}
