package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** Product quantization (Jégou et al., PAMI 2011 — the memory-compression
  * half of every large-scale ANN system, IVF-PQ/FAISS shape): split each
  * vector into M subspaces, run an independent small k-means per
  * subspace ([[Clustering]]'s deterministic Lloyd — md5 seeds, sequential
  * dot-product folds, decimal centroid updates), and store each vector as
  * M one-byte codes. 64-dim floats (256 B) become 4 codes (4 B) — the
  * 64× compression that lets a trillion-vector index live in RAM.
  *
  * Determinism contract = [[Clustering]]'s: every per-subspace fit is the
  * q97 arithmetic on the sliced sub-vector with its own seed prefix
  * (`pq0|`…), assignment d² is the same sequential-fold expression, and
  * every d² readout is 1e-9-quantized; sums across subspaces are fixed
  * left-associated column expressions — so codes, distortions, and ADC
  * distances all hash-gate against a DuckDB replay.
  *
  * 100 TB shape: codebooks are M·k·subDim doubles — driver-sized BY
  * CONSTRUCTION; encoding is ONE shuffle-free codegen projection over the
  * scan (all M nearest-codeword argmins inline, centroid literals); ADC
  * scoring joins the corpus CODES (not vectors) against a
  * queries × M × k lookup table that is broadcast-sized by construction.
  */
object Pq {

  /** Documented driver-state cap (see [[graft.core.Guard]]): m·k codebook
    * centroids of subDim doubles each, driver-resident.
    */
  val MaxCodebookEntries: Long = 1L << 20

  /** Per-subspace codebooks: `m` independent Lloyd fits over the sliced
    * sub-vectors. Returns m arrays of k centroids of subDim doubles.
    */
  def fitCodebooks(vecs: DataFrame, idCol: String, vecCol: String,
                   m: Int, subDim: Int, k: Int, iters: Int,
                   seedBase: String = "pq"): Seq[Array[Seq[Double]]] = {
    graft.core.Guard.boundedArg(m.toLong * k, MaxCodebookEntries,
      s"PQ codebook state (m = $m × k = $k centroids)",
      "codebooks are driver-resident and ride the encode projection as " +
        "literals — reduce m or k, or shard the index")
    val v = vecs.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    (0 until m).map { j =>
      Clustering.fitCentroids(
        v.select(col(idCol), slice(col("v"), j * subDim + 1, subDim).as("v")),
        idCol, "v", k, iters, seedPrefix = s"$seedBase$j|")
    }
  }

  /** Encode every vector against fixed codebooks: ONE shuffle-free
    * projection emitting (id, code_0..m-1, d2_0..m-1, distortion) —
    * d2 per subspace 1e-9-quantized, distortion their fixed-order sum.
    */
  def encode(vecs: DataFrame, idCol: String, vecCol: String,
             codebooks: Seq[Array[Seq[Double]]], subDim: Int): DataFrame = {
    val v = vecs.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val parts: Seq[(Column, Column)] = codebooks.zipWithIndex.map { case (cb, j) =>
      val best = Clustering.nearestCentroid(
        cb, slice(col("v"), j * subDim + 1, subDim))
      (best.getField("cid").as(s"code_$j"),
       graft.functions.Exact.q9(best.getField("d2")).as(s"d2_$j"))
    }
    val out = v.select(col(idCol) +: (parts.map(_._1) ++ parts.map(_._2)): _*)
    out.withColumn("distortion",
      codebooks.indices.map(j => col(s"d2_$j")).reduce(_ + _))
  }

  /** The driver-built per-subspace lookup tables: (query_id, code_j,
    * l_j) with l_j the SAME d² expression the oracle's list_dot_product
    * CTE evaluates (sequential ascending folds throughout).
    */
  private def queryLuts(queries: DataFrame, idCol: String, vecCol: String,
                        codebooks: Seq[Array[Seq[Double]]],
                        subDim: Int): Seq[DataFrame] = {
    val spark = queries.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.graftx.DotProduct.dot
    // query batch to the driver: bounded by the caller's predicate
    // (serving batches are small by construction — the q139 argument).
    // The bound is ENFORCED, not assumed: a caller handing a corpus-sized
    // frame here must get a contract error, not a silent driver OOM.
    val MaxQueryBatch = 4096
    val qRows: Seq[(Long, Seq[Double])] = queries
      .select(col(idCol).cast(LongType),
              col(vecCol).cast("array<double>"))
      .limit(MaxQueryBatch + 1)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    require(qRows.length <= MaxQueryBatch,
      s"Pq.queryLuts is a per-BATCH serving kernel: the query frame " +
        s"exceeds $MaxQueryBatch rows and would be collected to the " +
        s"driver — score large query sets through the distributed ADC " +
        s"join instead, or chunk the batch")
    codebooks.zipWithIndex.map { case (cb, j) =>
      val rows = for {
        (qid, qv) <- qRows
        qs = qv.slice(j * subDim, (j + 1) * subDim)
        (c, cid) <- cb.zipWithIndex
      } yield (qid, cid.toLong, dot(qs, qs) - 2.0 * dot(qs, c) + dot(c, c))
      rows.toDF("query_id", s"code_$j", s"l_$j")
    }
  }

  /** Fixed-order quantized ADC sum + per-query rank over a frame that
    * already carries (query_id, neighbor_id, l_0..l_{m-1}).
    */
  private def adcRankTail(joined: DataFrame, m: Int, k: Int): DataFrame = {
    val approx = (0 until m).map(j => col(s"l_$j")).reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("approx_d2").asc, col("neighbor_id").asc)
    joined
      .select(col("query_id"), col("neighbor_id"),
              graft.functions.Exact.q9(approx).as("approx_d2"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("approx_d2"))
  }

  /** Asymmetric-distance (ADC) top-k: score every CODE row against a
    * query batch through a driver-built (query, subspace, code) → d²
    * lookup table, approx d² = fixed-order sum of the M table hits.
    * The corpus side carries only its codes — the vectors never move.
    * The lookup frames are broadcast-sized by construction
    * (|queries|·M·k rows); ranking is per-query (bounded query batch).
    */
  def adcTopK(queries: DataFrame, codes: DataFrame, idCol: String,
              vecCol: String, codebooks: Seq[Array[Seq[Double]]],
              subDim: Int, k: Int): DataFrame = {
    val luts = queryLuts(queries, idCol, vecCol, codebooks, subDim)
    val joined = luts.zipWithIndex.foldLeft(codes) { case (acc, (lut, j)) =>
      val keys = if (j == 0) Seq(s"code_$j") else Seq("query_id", s"code_$j")
      acc.join(broadcast(lut), keys)
    }
    adcRankTail(
      joined.filter(col("query_id") =!= col(idCol))
        .withColumn("neighbor_id", col(idCol)),
      codebooks.length, k)
  }

  /** ADC rank over a PRE-RESTRICTED candidate frame — the IVF-PQ serving
    * tail (q179): `cand` carries (query_id, neighbor_id, code_0..m-1)
    * with candidates already limited to the probed inverted lists, so
    * every lut join is (query_id, code)-keyed.
    */
  def adcRank(cand: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, codebooks: Seq[Array[Seq[Double]]],
              subDim: Int, k: Int): DataFrame = {
    val luts = queryLuts(queries, idCol, vecCol, codebooks, subDim)
    val joined = luts.zipWithIndex.foldLeft(cand) { case (acc, (lut, j)) =>
      acc.join(broadcast(lut), Seq("query_id", s"code_$j"))
    }
    adcRankTail(joined, codebooks.length, k)
  }
}
