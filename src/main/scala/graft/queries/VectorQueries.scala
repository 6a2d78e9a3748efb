package graft.queries

import graft.core.{Artifact, Parallel, Tables}
import graft.functions.Exact
import graft.operators.{Drift, Similarity}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.TopKPairs
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Similarity-search operator inventory over `embeddings`
  * (`array<float>` → `array<double>`): brute-force cosine top-k baseline,
  * embedding near-dup pairs, and LSH-bucketed ANN (the 100 TB scale path).
  *
  * Dot products are sequential left folds on doubles in both engines
  * (verified: DuckDB `list_dot_product` ≡ Spark `aggregate(zip_with)`
  * bitwise), so raw cosine values are oracle-comparable.
  */
object VectorQueries {

  type Q = (SparkSession, String) => DataFrame

  private val NumPlanes  = 8
  private val Dims       = 64
  private val ProjDims   = 16
  private val PowerIters = 12
  private val IvfNlist   = 16
  val IvfNprobe  = 4

  /** q153 truncation widths (first-d-components), evaluated against the
    * full [[Dims]]-wide exact top-3.
    */
  private val TruncDims  = Seq(32, 16)

  /** q248's evaluation depth. */
  private val NdcgK = 10

  /** q268 graph-ANN: NN-descent build (degree [[NndK]], [[NndRounds]]
    * refinement rounds, init = [[NndDraws]] md5-random partitions into
    * constant-size ≈[[NndBlockSize]]-node blocks) + beam-search serve
    * ([[BeamWidth]] kept per round, [[BeamRounds]] expansion rounds).
    * Build cost is O(N·K²) candidates per round (linear in corpus);
    * serve cost per query is O(BeamWidth · deg · BeamRounds) —
    * corpus-size-free. Measured recall@3 = 1.0 on the sf0.01 gate.
    */
  private val NndK         = 16
  private val NndRounds    = 2
  private val NndBlockSize = 64L
  private val NndDraws     = 2
  private val BeamWidth    = 16
  private val BeamRounds   = 4

  /** q271 personalized PageRank: seeds = vec_id < PprSeeds, integer
    * start mass per seed, restart share in percent (α = 0.15), push
    * rounds. Integer mass keeps every rank exactly reproducible.
    */
  private val PprSeeds    = 10
  private val PprMass     = 1000000000000L // 10^12
  private val PprAlphaPct = 15L
  private val PprRounds   = 3

  /** q272 serve-cost sweep: beam widths measured against the q37 truth. */
  private val BeamSweepWidths = Seq(4, 8, 16)

  /** q248's position discounts D_i = floor(1e9 / log2(i+1) + 0.5),
    * i = 1..[[NdcgK]] — precomputed driver-side (corpus-independent,
    * q199's static-planner discipline) so DCG terms are exact BIGINT
    * products rel·D_i in both engines and per-query sums are
    * partition-order-free integers.
    */
  private val NdcgDiscounts: Seq[(Long, Long)] =
    (1 to NdcgK).map { i =>
      (i.toLong,
       math.floor(1e9 / (math.log(i + 1.0) / math.log(2.0)) + 0.5).toLong)
    }

  val defs: Map[String, Q] = Map(
    // Brute-force cosine top-k: broadcast query set × corpus scan, window
    // top-k. The exact baseline every ANN variant is measured against.
    "q37_cosine_topk" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 20), e, "vec_id", "embedding", k = 3)
    },

    // Embedding near-dup pairs with EXACT recall, no cartesian: the
    // ball-cover blocked form — cluster the normalized vectors, then
    // compare only cluster pairs whose centroid distance can possibly
    // hold a qualifying pair (triangle inequality; see
    // Similarity.exactNearDupBlocked for the proof and 100 TB shape).
    // Replaced the broadcast-crossJoin baseline of rounds 3–6: same
    // bit-identical output, but the plan is broadcast(≤k² probe pairs) +
    // ONE cluster-key equi-join (PlanQualitySpec asserts no
    // CartesianProduct / BroadcastNestedLoopJoin).
    // cacheKey: q38/q274/q280's exact side share ONE session-memoized
    // ball-cover fit (corpus-fitted, threshold-independent — the
    // jacCache discipline); the fit is deterministic, so shared vs
    // per-call covers are bit-identical.
    "q38_embedding_neardup" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      Similarity.exactNearDupBlocked(e, "vec_id", "embedding", minCosine = 0.4,
                                     cacheKey = Some(s"$dir|embeddings"))
        .select(col("id_a"), col("id_b"), col("cosine"))
    },

    // q38's CAPPED companion — the form that survives 100×. q38's
    // all-pairs-≥t output contract densifies superlinearly at a fixed
    // threshold (measured sf1→sf3 exponent 1.88: the PAIR LIST is the
    // scale-killer, not the plan); this emits each doc's top-5 neighbors
    // above the same threshold instead — ≤ 5·N output rows by
    // construction, ranked by a bounded TopKPairs heap whose partial agg
    // collapses the candidate stream map-side. Same ball-cover candidate
    // generation, so recall stays EXACT (triangle-inequality argument in
    // Similarity.exactNearDupBlocked). Use q38 when the full duplicate
    // graph is the product (cluster-then-canonicalize); use this when
    // "who are my near-dups" per doc is (dedup candidate review, dedup
    // pair sampling, retrieval eval).
    "q274_neardup_topk" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      Similarity.nearDupTopK(e, "vec_id", "embedding",
                             minCosine = 0.4, kNeighbors = 5,
                             cacheKey = Some(s"$dir|embeddings"))
    },

    // q278: the LOW-THRESHOLD near-dup route (round-17 verdict #3). At
    // the gated t = 0.4 the exact ball cover provably cannot prune
    // (BENCH_CLUSTERED's gated_threshold_note: τ = √1.2 reaches every
    // cell on any geometry), so nearDupAuto routes sub-PruneFloorCosine
    // requests to banded sign-LSH pre-blocking with exact re-scoring:
    // candidates mined from 36 × 12-bit quantized hyperplane signatures
    // (the q40/q216 integer-dot determinism family — the oracle replays
    // the buckets bit-for-bit via SQL-side md5 planes), scored with
    // q38's own cosine expression INSIDE the (band, sig) equi-join.
    // Output ⊆ q38's exact pair set with identical cosines; recall is
    // cosine-band-dependent by LSH nature and q280 publishes it. Plan:
    // linear N·B sig rows, one self-equi-join scored in place, distinct
    // on the tiny surviving set — never a materialized candidate list.
    "q278_neardup_preblocked" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      Similarity.nearDupAuto(e, "vec_id", "embedding", minCosine = 0.4)
    },

    // q279: exact near-dup with the exact-duplicate COLLAPSE pre-pass
    // (round-17 verdict #4), gated on a duplicate-injected corpus (40
    // cloned vectors) against a brute-force oracle: byte-identical
    // vectors group under one hash window, the ball cover scores only
    // representatives, and pairs expand back through membership —
    // intra-cluster at the rep's self-cosine, inter-cluster inheriting
    // the rep pair's cosine. Exact for any corpus/threshold (identical
    // vectors ⇒ identical cosines under the same fold); the dupes
    // geometry in BENCH_CLUSTERED measures the compute-exponent drop.
    "q279_neardup_collapsed" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
      val dup = e.filter(col("vec_id") < 40)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Similarity.exactNearDupCollapsed(
        e.unionByName(dup), "vec_id", "embedding", minCosine = 0.4)
    },

    // q280: the pre-blocker's RECALL instrument (the q116 discipline —
    // an approximate path ships with its quality measured against the
    // exact truth, in-engine and oracle-gated): q38's exact pairs LEFT
    // JOIN q278's found pairs → recall per 0.1 cosine band plus an
    // overall row (band = -1). Makes the sign-LSH trade visible: ≈ 1
    // for true near-duplicates, degrading toward the threshold floor
    // where no LSH family has a p1/p2 gap.
    "q280_preblock_recall" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val exact = Similarity.exactNearDupBlocked(e, "vec_id", "embedding", 0.4,
        cacheKey = Some(s"$dir|embeddings"))
      val found = Similarity.nearDupPreBlockedLsh(e, "vec_id", "embedding", 0.4)
        .select(col("id_a").as("f_a"), col("id_b").as("f_b"))
      val per = exact
        .join(found, col("id_a") === col("f_a") && col("id_b") === col("f_b"),
              "left")
        .groupBy((floor(col("cosine") * 10) / 10).as("cosine_band"))
        .agg(count(lit(1)).as("n_exact"),
             count(col("f_a")).as("n_found"))
      val withRecall = per.select(col("cosine_band"), col("n_exact"),
        col("n_found"),
        (col("n_found").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
      val total = per.agg(sum(col("n_exact")).as("n_exact"),
                          sum(col("n_found")).as("n_found"))
        .select(lit(-1.0).as("cosine_band"), col("n_exact"), col("n_found"),
                (col("n_found").cast("double") / col("n_exact").cast("double"))
                  .as("recall"))
      withRecall.unionByName(total)
    },

    // Per-label centroids in long format (label × dimension), elementwise
    // exact decimal sums — the clustering/aggregation primitive for
    // embedding pipelines. Long format keeps the oracle to scalar columns.
    "q45_embedding_centroids" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      e.select(col("label").cast("long").as("label"),
               posexplode(col("embedding").cast("array<double>")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim_pos"))
        .agg(
          count(lit(1)).as("n_vectors"),
          (sum(Exact.dec(col("col"), 7)).cast("double") /
            count(col("col")).cast("double")).as("centroid_component"))
    },

    // LSH-bucketed ANN top-k: hyperplane sign buckets (md5-derived ±1
    // planes over integer-quantized vectors — exactly reproducible), then
    // exact cosine within bucket only.
    "q40_ann_lsh" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      annTopKQuantized(e.filter(col("vec_id") < 50), e, k = 3)
    },

    // Multi-probe LSH (Lv et al., VLDB'07): q40's single-bucket probe
    // misses any true neighbor whose signature differs by one bit — the
    // common case near a hyperplane boundary. Probing the 8 hamming-1
    // buckets too recovers most of that recall WITHOUT a second hash
    // table (the classic memory-for-probes trade); see multiprobeTopK
    // for the exploded-probe equi-join shape. q217 measures the gain.
    "q216_multiprobe_lsh" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      multiprobeTopK(e.filter(col("vec_id") < 50), e, k = 3)
    },

    // The q116/q214 "measure, don't guess" gate for q216: recall@3 of
    // single-bucket (probe_bits=0 — q40's shape) vs hamming-1 (q216) vs
    // hamming-2 probing against exact brute-force ground truth over the
    // same 50-query batch — the budget curve an operator reads before
    // spending 9×/37× probe fan-out (q221 closes the loop on it).
    // Ground truth is exact top-3 over the full corpus at gate scale; at
    // 100 TB the same audit runs on a deterministic md5 query sample
    // (the q214 rate knob) — the corpus side of the audit is one
    // broadcast-join pass either way.
    "q217_multiprobe_recall" -> { (s, dir) =>
      val e  = Tables(s, dir).embeddings
      // eagerly cut: the 50-query exact truth feeds the per-budget found
      // counts AND the total - uncut, each reference re-ran the brute-
      // force corpus pass (and q221 wraps this whole query)
      val gt = graft.core.Materialize.cut(
        Similarity.bruteForceTopK(
          e.filter(col("vec_id") < 50), e, "vec_id", "embedding", k = 3)
          .select(col("query_id"), col("neighbor_id")), "q217_truth")
      val ann = defs("q40_ann_lsh")(s, dir)
        .select(col("query_id"), col("neighbor_id"), lit(0L).as("probe_bits"))
        .unionByName(defs("q216_multiprobe_lsh")(s, dir)
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("probe_bits")))
        .unionByName(
          multiprobeTopK(e.filter(col("vec_id") < 50), e, k = 3, maxHam = 2)
            .select(col("query_id"), col("neighbor_id"), lit(2L).as("probe_bits")))
      val found = gt.join(ann, Seq("query_id", "neighbor_id"))
        .groupBy(col("probe_bits")).agg(count(lit(1)).as("found"))
      // left-join from a literal 3-row spine: a budget that finds NOTHING
      // must still report its zero instead of vanishing from the audit
      // no broadcast hint: build-left on a left-outer is unsupported and
      // the 3-row spine is driver-literal anyway
      val spine = s.range(0, 3).select(col("id").as("probe_bits"))
      val tot = gt.agg(count(lit(1)).as("total"))
      spine.join(found, Seq("probe_bits"), "left")
        .crossJoin(broadcast(tot))
        .select(col("probe_bits"),
                coalesce(col("found"), lit(0L)).as("found"), col("total"),
                (coalesce(col("found"), lit(0L)).cast("double") /
                  col("total").cast("double")).as("recall"))
    },

    // Probe-budget planner — the q174/q199 close-the-loop discipline on
    // q217's measured curve: pick the SMALLEST probe budget whose
    // measured recall clears the target, falling back to the largest
    // budget when none does, and report it with its serving cost
    // (probes per query). Recall targets are an SLA, probe count is the
    // cost — the choice must come from the measured curve, not intuition.
    "q221_multiprobe_plan" -> { (s, dir) =>
      // eagerly cut: the 3-row recall curve feeds the budget pick AND
      // the readout join — uncut, each reference re-ran the whole q217
      // multiprobe recall measurement
      val rec = graft.core.Materialize.cut(
        defs("q217_multiprobe_recall")(s, dir), "q221_recall_curve")
      val sel = rec.agg(
        min(when(col("recall") >= MultiprobeTargetRecall, col("probe_bits"))).as("met"),
        max(col("probe_bits")).as("fallback"))
        .select(coalesce(col("met"), col("fallback")).as("probe_bits"))
      val cost = ProbeCounts.foldLeft(lit(null).cast("long")) {
        case (acc, (bits, n)) =>
          when(col("probe_bits") === bits, lit(n.toLong)).otherwise(acc)
      }
      rec.join(broadcast(sel), Seq("probe_bits"))
        .select(col("probe_bits"), col("found"), col("total"), col("recall"),
                cost.as("probes_per_query"),
                (col("recall") >= MultiprobeTargetRecall).as("met_target"))
    },

    // Lloyd k-means (k=8, 2 iterations): md5-ordered seeds, shuffle-free
    // literal-centroid assignment, exact decimal centroid updates — the
    // clustering primitive for semantic grouping / topic balancing. See
    // operators.Clustering for the determinism + 100 TB contract.
    "q97_kmeans" -> { (s, dir) =>
      kmeans8(s, dir).select(col("vec_id"), col("cluster_id"), col("dist2"))
    },

    // -----------------------------------------------------------------
    // q246: DAVIES–BOULDIN clustering-quality audit — the "measure,
    // don't guess" gate for q97's k=8 choice (the q116/q152/q214
    // discipline applied to clustering): per cluster i, the scatter
    // S_i (mean member distance to its centroid) and
    // DB_i = max_{j≠i} (S_i + S_j) / M_ij with M_ij the centroid
    // separation — DB_i ≫ 1 says cluster i bleeds into a neighbor and
    // the k/seeding needs revisiting before anything trusts the
    // partition (q98's semantic dedup, q184's coreset). Determinism:
    // member distances are sqrt of the already-quantized dist2,
    // re-quantized to 1e9 BIGINTs so cluster sums are exact; S_i is one
    // division; the k·(k−1) centroid separations are computed DRIVER-
    // side from the same decimal-exact Lloyd centroids the oracle
    // rebuilds in SQL (identical components by construction, sqrt is
    // IEEE-correctly-rounded in both engines, then 1e9-quantized), and
    // every ratio re-quantizes before the max. Scale shape: one
    // partial+final agg over the memoized assignment to ≤k rows; the
    // pair frame is a k·(k−1)-row broadcast literal; degenerate
    // coincident centroids (M = 0) are excluded from the max rather
    // than emitting an engine-dependent inf.
    // -----------------------------------------------------------------
    "q246_davies_bouldin" -> { (s, dir) =>
      import s.implicits._
      val perDoc = kmeans8(s, dir).select(col("cluster_id"),
        Exact.e9(sqrt(col("dist2"))).as("d_e9"))
      val sFrame = perDoc.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"), sum(col("d_e9")).as("sum_d_e9"))
        .withColumn("s_scatter",
          col("sum_d_e9").cast("double") /
            (col("n_members").cast("double") * 1e9))
      val cents = cents8(s, dir)
      import org.apache.spark.sql.graftx.DotProduct.dot
      val pairs = (for {
        i <- cents.indices; j <- cents.indices if i != j
      } yield {
        val d2 = dot(cents(i), cents(i)) - 2 * dot(cents(i), cents(j)) +
          dot(cents(j), cents(j))
        (i.toLong, j.toLong, Exact.e9(math.sqrt(d2)))
      }).toDF("cid_i", "cid_j", "m_e9")
      val sI = sFrame.select(col("cluster_id").as("cid_i"),
                             col("n_members"), col("s_scatter").as("s_i"))
      val sJ = sFrame.select(col("cluster_id").as("cid_j"),
                             col("s_scatter").as("s_j"))
      broadcast(pairs).filter(col("m_e9") > 0L)
        .join(sI, "cid_i").join(sJ, "cid_j")
        .select(col("cid_i"), col("n_members"), col("s_i"),
                Exact.e9((col("s_i") + col("s_j")) /
                         (col("m_e9").cast("double") / 1e9)).as("r_e9"))
        .groupBy(col("cid_i").as("cluster_id"), col("n_members"),
                 col("s_i").as("s_scatter"))
        .agg((max(col("r_e9")).cast("double") / 1e9).as("db_i"))
    },

    // Product quantization (Jégou et al. 2011 — the FAISS IVF-PQ memory
    // half): 4 independent 16-dim sub-space Lloyd fits (q97's exact
    // arithmetic, per-subspace md5 seeds), every vector stored as 4
    // codes — 64× compression. Encoding is ONE shuffle-free codegen
    // projection (codebook literals inline); d² readouts are
    // 1e-9-quantized, distortion their fixed-order sum.
    "q177_product_quantize" -> { (s, dir) => pqCodes(s, dir) },

    // ADC top-k over the PQ codes (the serving half): a 20-query batch
    // scores the corpus through a broadcast (query, subspace, code) → d²
    // lookup table — the corpus side moves only its 4 codes, never the
    // vectors. Approx distance = fixed-order sum of the 4 table hits,
    // quantized before the per-query rank (bounded query batch).
    "q178_pq_adc_topk" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val codes = pqCodes(s, dir)
        .select(col("vec_id") +: (0 until PqM).map(j => col(s"code_$j")): _*)
      graft.operators.Pq.adcTopK(e.filter(col("vec_id") < 20), codes,
        "vec_id", "embedding", pqCodebooks(s, dir), PqSubDim, k = 3)
    },

    // q185: two-stage retrieval — the production serving pattern that
    // makes PQ's recall loss survivable: ADC over the codes SHORTLISTS
    // cheaply (top-10, vectors never touched), then ONLY the shortlist
    // fetches real vectors for an exact cosine rerank (top-3). The
    // rerank join touches |queries|·10 rows — the whole point: exact
    // arithmetic priced per shortlist, not per corpus.
    "q185_pq_rerank" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val codes = pqCodes(s, dir)
        .select(col("vec_id") +: (0 until PqM).map(j => col(s"code_$j")): _*)
      val shortlist = graft.operators.Pq.adcTopK(e.filter(col("vec_id") < 20),
          codes, "vec_id", "embedding", pqCodebooks(s, dir), PqSubDim, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val n = e.select(col("vec_id"),
                       col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", graft.functions.Vectors.norm(col("v")))
      val scored = shortlist
        .join(n.select(col("vec_id").as("query_id"), col("v").as("qv"),
                       col("nrm").as("qn")), Seq("query_id"))
        .join(n.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
                       col("nrm").as("cn")), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          when(col("qn") > 0 && col("cn") > 0,
            org.apache.spark.sql.graftx.DotProduct.dotNative(col("qv"), col("cv")) /
              (col("qn") * col("cn"))).as("cosine"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cosine").desc_nulls_last, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
    },

    // q193: RESIDUAL product quantization — the fidelity step real
    // IVF-PQ systems take that q177 (raw-vector PQ) deliberately
    // skipped: encode r = v − c(assigned list) instead of v, because
    // residuals concentrate near zero and the same 4×16 codebook budget
    // buys a finer quantization grid. The per-vector readout carries
    // BOTH distortions (residual and raw) plus the `improved` verdict —
    // the measured justification for the extra subtraction. (On THIS
    // synthetic near-uniform corpus the verdict is mostly "not
    // improved" — ~7% of vectors at sf0.01 — because diffuse IVF lists
    // leave residuals as spread as the inputs; that is precisely the
    // readout's point: real embedding corpora cluster, synthetic ones
    // don't, and the operator reports which regime you are in instead
    // of assuming.) IVF centroids need no Lloyd (md5-ordered seeds, the
    // q64 contract), so the residual is one broadcast join + zip_with;
    // the residual frame is cut before the 4 sub-space fits re-scan it.
    "q193_residual_pq" -> { (s, dir) => residualPqFrame(s, dir) },


    // q194: PQ codebook DRIFT gate — the q146 index-health discipline
    // applied to the compression layer: after the corpus grows (odd
    // vec_ids appended to an even-id base), codebooks FROZEN at base
    // time quantize the full corpus worse than a refit; this readout
    // measures exactly how much, per vector (frozen vs refit distortion
    // + the verdict), with delta vectors flagged — the evidence an
    // operator reads before scheduling a codebook rebuild. Code IDs are
    // NOT compared across codebooks (cluster j means different things
    // in each fit); distortion is the comparable quantity.
    "q194_pq_codebook_drift" -> { (s, dir) => pqDriftFrame(s, dir) },


    // q184: cluster-balanced CORESET sampling — the embedding-space
    // dual of q157's language quotas (the "semantic diversity" sampler
    // real pipelines run before expensive annotation/training): q97's
    // kmeans partitions the corpus and
    // [[graft.operators.Sampling.quotaSample]] apportions a 100-vector
    // budget over the clusters and picks each cluster's md5-ranked rows.
    "q184_coreset_sample" -> { (s, dir) =>
      graft.operators.Sampling.quotaSample(
        kmeans8(s, dir).select(col("vec_id"), col("cluster_id")),
        "cluster_id", "vec_id", 100, "coreset|")
    },

    // q180: the PQ quality gate (q116's recall discipline applied to the
    // compression): per query, recall@3 of flat-ADC (q178) and of
    // IVF-PQ (q179) against the exact brute-force top-3 — the curve an
    // operator owner reads before trading 64× memory for recall. Joins
    // are ≤3-row-per-query lists; the heavy lifting is the (memoized)
    // underlying operators.
    "q180_pq_recall" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val exact = q37Truth(s, dir) // the identical 20-query k=3 truth
      val codes = pqCodes(s, dir)
        .select(col("vec_id") +: (0 until PqM).map(j => col(s"code_$j")): _*)
      val adc = graft.operators.Pq.adcTopK(e.filter(col("vec_id") < 20), codes,
          "vec_id", "embedding", pqCodebooks(s, dir), PqSubDim, k = 3)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit_adc"))
      val ivfpq = defs("q179_ivfpq_topk")(s, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit_ivfpq"))
      exact
        .join(adc, Seq("query_id", "neighbor_id"), "left")
        .join(ivfpq, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"),
             sum(coalesce(col("hit_adc"), lit(0L))).as("n_hit_adc"),
             sum(coalesce(col("hit_ivfpq"), lit(0L))).as("n_hit_ivfpq"))
        .select(col("query_id"), col("n_exact"), col("n_hit_adc"), col("n_hit_ivfpq"),
                (col("n_hit_adc").cast("double") / col("n_exact").cast("double"))
                  .as("recall_adc"),
                (col("n_hit_ivfpq").cast("double") / col("n_exact").cast("double"))
                  .as("recall_ivfpq"))
    },

    // The FULL FAISS shape — IVF partition × PQ compression (q139 ∘
    // q177): one scan assigns every vector to its inverted list (q64's
    // cosine argmin) AND encodes its 4 PQ codes; serving probes
    // nprobe=4 lists per query (the proven cosine probe) and ADC-scores
    // ONLY the candidates inside them — the two prunings at once:
    // bucket-restricted candidate sets, code-only distance arithmetic.
    // Probe selection is the index's cosine assignment; refinement is
    // ADC L2 — the hybrid is deliberate (both deterministic) and
    // documented here rather than hidden.
    "q179_ivfpq_topk" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      // serve-many shape: BOTH memoized index frames (the bucketed IVF
      // assignment and the cut PQ codes) — never re-derive either per
      // serve call (the encode/assignment subtrees carry hundreds of
      // centroid literals whose re-planning costs more than this join)
      val (idx, cents) = ivfServingParts(s, dir)
      val codes = pqCodes(s, dir)
        .select(col("vec_id") +: (0 until PqM).map(j => col(s"code_$j")): _*)
        .join(idx.select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"),
                col("embedding").cast("array<double>").as("qv"))
        .withColumn("qn", graft.functions.Vectors.norm(col("qv")))
      val probes = Similarity.ivfProbes(q, cents, nprobe = IvfNprobe)
        .select(col("query_id"), col("centroid_id"))
      val cand = codes.join(broadcast(probes), Seq("centroid_id"))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id") +: col("vec_id").as("neighbor_id") +:
          (0 until PqM).map(j => col(s"code_$j")): _*)
      graft.operators.Pq.adcRank(cand, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", pqCodebooks(s, dir), PqSubDim, k = 3)
    },

    // Semantic dedup (SemDeDup shape): cluster first, then pairwise cosine
    // ONLY within clusters — a vector is dropped when a lower-id
    // cluster-mate is ≥ 0.4-cosine similar. The cluster partition is what
    // makes embedding dedup tractable at corpus scale: the quadratic
    // compare is bounded per cluster (pick k so clusters fit; SemDeDup
    // uses k ≈ 10⁵ at web scale), and the cluster-key self-join is a
    // plain bucketable equi-join — vs q38's exact-recall full crossJoin
    // baseline. Cosine compares are bit-deterministic (sequential-fold
    // dot products), so the verdicts hash-gate.
    "q98_semantic_dedup" -> { (s, dir) =>
      import graft.functions.Vectors
      // keepVectors rode the memoized assignment: the double-cast vector
      // is already in the cut frame, so no corpus-wide join fetches it back
      val w = kmeans8(s, dir)
        .select(col("vec_id"), col("cluster_id"), col("v"))
        .withColumn("nrm", Vectors.norm(col("v")))
      val a = w.select(col("vec_id").as("id_a"), col("cluster_id").as("cid_a"),
                       col("v").as("va"), col("nrm").as("na"))
      val b = w.select(col("vec_id").as("id_b"), col("cluster_id").as("cid_b"),
                       col("v").as("vb"), col("nrm").as("nb"))
      val dups = a.join(b, col("cid_a") === col("cid_b") && col("id_a") < col("id_b"))
        .filter(col("na") > 0 && col("nb") > 0 &&
                Vectors.dot(col("va"), col("vb")) / (col("na") * col("nb")) >= 0.4)
        .groupBy(col("id_b").as("vec_id"))
        .agg(count(lit(1)).as("n_dup"))
      w.select(col("vec_id"), col("cluster_id"))
        .join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster_id"),
                coalesce(col("n_dup"), lit(0L)).as("n_dup_neighbors"),
                (coalesce(col("n_dup"), lit(0L)) === 0L).as("keep"))
    },

    // Cluster medoid selection: per k-means cluster, the member closest
    // to the centroid (ties to the smaller id) — the representative-
    // picking step of diversity-preserving sampling ("keep one per
    // semantic group"). One partial+final min-struct aggregation over the
    // q97 assignment; no window, no sort of the corpus.
    "q99_cluster_medoids" -> { (s, dir) =>
      val km = kmeans8(s, dir)
      km.groupBy(col("cluster_id"))
        .agg(min(struct(col("dist2"), col("vec_id"))).as("m"),
             count(lit(1)).as("cluster_size"))
        .select(col("cluster_id"),
                col("m.vec_id").as("medoid_id"),
                col("m.dist2").as("medoid_dist2"),
                col("cluster_size"))
    },

    // IVF-flat ANN: deterministic seed centroids, shuffle-free
    // nearest-centroid assignment (collected centroid literals), nprobe
    // probed lists, exact cosine on candidates. The data-adaptive ANN
    // scale path alongside q40's data-independent hyperplane LSH.
    "q64_ann_ivf" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      Similarity.annTopKIvf(
        e.filter(col("vec_id") < 50), e, "vec_id", "embedding",
        k = 3, nlist = 16, nprobe = 4)
    },

    // Persisted-index ANN serving — the production split of q64 (build
    // once, serve many): the assigned corpus is materialized ONCE per
    // (session, dir) as a centroid_id-BUCKETED warehouse table (q90's
    // memo discipline), and the serving path collapses its probe list
    // (≤ nlist by construction) into an IN filter on the bucket column,
    // so the scan reads ONLY the probed buckets — SelectedBucketsCount
    // in the plan, source-side pruning an in-session DataFrame can't
    // give you. Same parameters as q64 → the q64 oracle gates that the
    // indexed path returns bit-identical results.
    "q139_ann_ivf_indexed" -> { (s, dir) =>
      ivfServe(s, dir, col("vec_id") < 50, k = 3)
    },

    // Incremental ANN index maintenance — q91's delta-ingest discipline
    // applied to the q139 vector index: the index is built from the BASE
    // corpus (even vec_ids — its centroids freeze then), and a later
    // DELTA batch (odd vec_ids) is assigned with those FROZEN centroids
    // and APPENDED as extra per-bucket files (Warehouse.appendBucketed)
    // — cost ∝ delta, the base is never re-read or re-written, and
    // bucket-pruned serving keeps working across the union of files.
    // Assignment is a pure per-row function, so incremental build ≡
    // one-shot build given the same centroids — which is exactly what
    // the oracle checks (q64's arithmetic with base-only seeds over the
    // full corpus).
    "q141_ann_index_append" -> { (s, dir) =>
      ivfServeIncremental(s, dir, col("vec_id") < 50, k = 3)
    },

    // ANN index re-cluster + compaction — the missing maintenance half
    // of q141: after enough frozen-centroid appends, list sizes skew and
    // recall drifts (SimilaritySpec shows a case where the appended
    // index MISSES true neighbors the rebuilt one finds). The rebuild
    // re-picks centroids from the appended table's own rows and
    // re-assigns in one index scan + one fresh bucketed write (also
    // compacting append-file fragments). The centroid pick is a pure
    // md5-ordered function of the (vec_id, v) set, so rebuild ≡ one-shot
    // full-corpus build bit-for-bit — gated by reusing q64's oracle, the
    // same way q139 is.
    "q146_ann_index_rebuild" -> { (s, dir) =>
      ivfServeRebuilt(s, dir, col("vec_id") < 50, k = 3)
    },

    // IVF index-health MONITOR over q141's appended index — the
    // operational rebuild trigger q146 needs (SimilaritySpec:194 shows
    // the recall cliff only in-test; this is the gated readout an
    // operator watches): per centroid list, sizes split base/delta,
    // list-size skew vs the uniform share, and the mean assignment
    // cosine of frozen-centroid DELTA rows vs base rows — drift shows
    // as delta rows sitting measurably farther from their (stale)
    // centroids. `needs_rebuild` fires on skew > 2× uniform or a delta
    // mean-cosine gap > 0.05 (thresholds documented in PERF.md; the
    // q194 discipline for the PQ side). Cosines are 1e9-quantized
    // BIGINT sums before the mean (the q112 rule), so partition order
    // can't perturb a mean; the only doubles are final divisions —
    // bit-identical across engines. Scale shape: one pass over the
    // index (already centroid_id-bucketed — the groupBy needs no
    // exchange), centroids broadcast, output ≤ nlist rows.
    "q197_ivf_list_drift" -> { (s, dir) => ivfDriftFrame(s, dir) },

    // Hard-negative mining — the contrastive-training data op: per
    // anchor vector, the top-5 most-similar corpus vectors of a
    // DIFFERENT label (the negatives that actually move an embedding
    // model, vs easy random ones). Rides the q64 IVF machinery with the
    // cross-label filter inside the probed-candidate stage
    // (Similarity.annTopKIvf negLabelCol), so the corpus is scanned
    // once, never shuffled, and same-label candidates drop before the
    // top-k; the tiny result then broadcast-joins the label column back
    // for both endpoints.
    "q138_hard_negatives" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val topk = Similarity.annTopKIvf(
        e.filter(col("vec_id") < 50), e, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4, negLabelCol = Some("label"))
      val qlab = e.select(col("vec_id").as("query_id"),
                          col("label").cast("long").as("query_label"))
      val nlab = e.select(col("vec_id").as("neighbor_id"),
                          col("label").cast("long").as("neighbor_label"))
      val withQ = qlab.join(broadcast(topk), Seq("query_id"))
      nlab.join(broadcast(withQ), Seq("neighbor_id"))
        .select(col("query_id"), col("query_label"), col("rank"),
                col("neighbor_id"), col("neighbor_label"), col("cosine"))
    },

    // ANN recall report — "measure, don't guess" applied to the engine's
    // own approximations: per query, how many of the EXACT top-3
    // neighbors (q37's brute-force path) the IVF index (q64's path)
    // actually returned. A pipeline tunes nlist/nprobe against this
    // number before trusting the index at scale. Both sides are
    // query-set-bounded; the comparison join is per-query constant work.
    "q116_ann_recall" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      // query sets mirror the reused gates exactly: q37's exact top-3
      // runs vec_id < 20, q64's IVF runs vec_id < 50 — the join keys on
      // the exact side, so recall is reported for its 20 queries
      val exact = q37Truth(s, dir) // the identical 20-query k=3 truth
      recallAt3(exact, Similarity.annTopKIvf(
          e.filter(col("vec_id") < 50), e, "vec_id", "embedding",
          k = 3, nlist = 16, nprobe = 4))
    },

    // -----------------------------------------------------------------
    // q248: ANN nDCG@10 — the GRADED companion to q116's recall: recall
    // treats every exact top-k member equally, but an index that returns
    // the true #1 at position 1 serves retrieval better than one that
    // buries it at position 10, and nDCG is the standard read of that
    // difference. Gains are the exact ranking's positions (rel = k+1−r,
    // so the true best is worth 10), discounts 1/log2(i+1) enter as the
    // precomputed BIGINT literals [[NdcgDiscounts]] — every DCG term is
    // an exact integer product rel·D_i, per-query sums are exact BIGINTs
    // (partition-order-free), and nDCG is ONE double division against
    // the query's own ideal (computed from its exact list, so short
    // lists stay correct). Scale shape: both rankers are the gated
    // bounded-heap top-k paths (broadcast queries, corpus scanned not
    // shuffled); the discount attach is a ≤k-row broadcast; readout is
    // |queries| rows.
    // -----------------------------------------------------------------
    "q248_ann_ndcg" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir).embeddings
      val q = e.filter(col("vec_id") < 20)
      val exact = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", NdcgK)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
                (lit(NdcgK.toLong) + 1L - col("rank")).as("rel"))
      val approx = Similarity.annTopKIvf(q, e, "vec_id", "embedding",
          k = NdcgK, nlist = IvfNlist, nprobe = IvfNprobe)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
      val dDf = broadcast(NdcgDiscounts.toDF("rank", "d_e9"))
      val dcg = approx
        .join(exact.select(col("query_id"), col("neighbor_id"), col("rel")),
              Seq("query_id", "neighbor_id"), "left")
        .join(dDf, "rank")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("rel"), lit(0L)) * col("d_e9")).as("dcg_e9"))
      val idcg = exact.join(dDf, "rank")
        .groupBy(col("query_id"))
        .agg(sum(col("rel") * col("d_e9")).as("idcg_e9"))
      idcg.join(dcg, Seq("query_id"), "left")
        .select(col("query_id"),
                coalesce(col("dcg_e9"), lit(0L)).as("dcg_e9"),
                col("idcg_e9"),
                (coalesce(col("dcg_e9"), lit(0L)).cast("double") /
                  col("idcg_e9").cast("double")).as("ndcg"))
    },

    // -----------------------------------------------------------------
    // q262: MMR DIVERSITY RE-RANKING (Carbonell & Goldstein 1998) — the
    // retrieval post-processor the top-k family lacked: a near-dup-
    // heavy corpus fills exact top-k with copies of one document; MMR
    // greedily selects argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), so
    // each pick is relevant AND far from what's already chosen. λ = 0.5
    // (both weights exactly representable — no 1−λ rounding skew
    // between engines), 5 picks from each query's exact top-10. The
    // greedy loop is FIVE UNROLLED steps (the q126 LPA discipline): per
    // step one anti-join (remaining), one bounded max-sim agg over the
    // candidate pair frame (≤k² per query), one argmax via
    // max(struct(score, −doc)) ≡ the oracle's (score DESC, doc ASC)
    // row_number. All frames are |queries|·k-sized after the one
    // ranker pass — constant work per step, nothing corpus-scale.
    // -----------------------------------------------------------------
    "q262_mmr_rerank" -> { (s, dir) =>
      // The greedy steps reference these frames through a 5-deep
      // accumulated lineage — WITHOUT a cut, every step re-runs the
      // ranker's corpus pass (measured 11 s vs 4 s cut vs ~1.5 s
      // memoized); the session memo makes the ranker an index build
      // (the kmeans8/pqCodes discipline), so serving folds only
      // |queries|·k rows.
      val cand = mmrCand(s, dir)
      val pairs = mmrPairs(s, dir)
      // The greedy is a per-QUERY fold over ≤k candidates and ≤k² sims
      // — bounded state, so the idiomatic shape is ONE shuffle into
      // flatMapGroups (the Forecast/packGreedy discipline), not 5
      // rounds of tiny cluster jobs (an unrolled-DataFrame form of the
      // same selection measured 3.4 s of pure scheduling overhead at
      // sf0.1). The in-executor arithmetic is the identical IEEE chain
      // (0.5·rel − 0.5·maxsim, max by (score, smaller doc)) on the
      // identical memoized doubles, so the result is unchanged — the
      // oracle's row_number replay pins it.
      import s.implicits._
      // inner join: every query holds k = 10 candidates, so the sims
      // list is always non-empty (k ≥ 2)
      val grouped = cand
        .join(pairs.groupBy(col("query_id"))
                .agg(collect_list(struct(col("doc"), col("sel_doc"),
                                         col("sim"))).as("sims")),
              Seq("query_id"))
        .select(col("query_id"), col("doc"), col("rel"), col("sims"))
        .as[(Long, Long, Double, Seq[(Long, Long, Option[Double])])]
      grouped.groupByKey(_._1)
        .flatMapGroups { (qid: Long,
                          it: Iterator[(Long, Long, Double, Seq[(Long, Long, Option[Double])])]) =>
          val rows = it.toVector
          val cands = rows.map(r => (r._2, r._3))
          val simMap: Map[(Long, Long), Double] = rows.headOption
            .map(_._4.collect { case (a, b, Some(x)) => (a, b) -> x }.toMap)
            .getOrElse(Map.empty)
          var selected = Vector.empty[(Long, Long, Double)] // (step, doc, rel)
          while (selected.size < 5 && selected.size < cands.size) {
            val chosen = cands.filterNot(c => selected.exists(_._2 == c._1))
              .map { case (d, r) =>
                val score =
                  if (selected.isEmpty) r
                  else {
                    val sims = selected.flatMap(sd => simMap.get((d, sd._2)))
                    val maxsim = if (sims.isEmpty) 0.0 else sims.max
                    0.5 * r - 0.5 * maxsim
                  }
                (d, r, score)
              }
              .reduceLeft { (a, b) =>
                if (b._3 > a._3 || (b._3 == a._3 && b._1 < a._1)) b else a
              }
            selected :+= ((selected.size + 1L, chosen._1, chosen._2))
          }
          selected.map { case (step, doc, rel) => (qid, step, doc, rel) }
        }
        .toDF("query_id", "mmr_rank", "neighbor_id", "relevance")
    },

    // -----------------------------------------------------------------
    // q255: INDEX-STALENESS recall audit — the quantitative form of the
    // q197 rebuild trigger: per query, recall@3 of the FRESH index
    // (q64's full-corpus centroids) next to the STALE one (q141's
    // frozen base-seeded centroids serving base+delta), both against
    // the exact top-3 — recall_delta is the recall the staleness is
    // COSTING, the number an operator weighs against a rebuild's cost
    // (q197's skew/cosine drift says "something moved"; this says what
    // it's worth). Composes three gated reads via one pair of per-query
    // hit joins; all counts exact integers, divisions replayed in
    // identical order.
    // -----------------------------------------------------------------
    "q255_index_staleness" -> { (s, dir) =>
      val exact = q37Truth(s, dir)
      def hits(approx: DataFrame, name: String) =
        exact.join(approx.select(col("query_id"), col("neighbor_id"),
                                 lit(1L).as("__h")),
                   Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as(s"__n_$name"),
               sum(coalesce(col("__h"), lit(0L))).as(name))
      val f  = hits(defs("q64_ann_ivf")(s, dir), "n_hit_fresh")
      val st = hits(defs("q141_ann_index_append")(s, dir), "n_hit_stale")
      f.select(col("query_id"), col("__n_n_hit_fresh").as("n_exact"),
               col("n_hit_fresh"))
        .join(st.select(col("query_id"), col("n_hit_stale")), "query_id")
        .select(col("query_id"), col("n_exact"), col("n_hit_fresh"),
                col("n_hit_stale"),
                (col("n_hit_fresh").cast("double") /
                  col("n_exact").cast("double")).as("recall_fresh"),
                (col("n_hit_stale").cast("double") /
                  col("n_exact").cast("double")).as("recall_stale"),
                (col("n_hit_fresh").cast("double") /
                   col("n_exact").cast("double") -
                 col("n_hit_stale").cast("double") /
                   col("n_exact").cast("double")).as("recall_delta"))
    },

    // -----------------------------------------------------------------
    // q252: EMBEDDING-SPACE occupancy drift — the vector-side sibling of
    // q112's value-PSI: token/value drift monitors miss a corpus whose
    // SEMANTICS shift while its surface statistics hold (new topic, same
    // token mix), but the k-means cluster occupancy histogram catches it.
    // Reference = even vec_ids, current = odd (the established
    // base/delta convention); per cluster the two counts and q112's
    // Drift.psi term, and the corpus PSI total with the standard 0.2
    // drift flag. Scale shape: occupancy is a partial+final count over
    // the memoized shuffle-free assignment; everything after runs on the
    // ≤k-row cluster frame against 1-row broadcast totals.
    // -----------------------------------------------------------------
    "q252_embedding_drift" -> { (s, dir) =>
      val asg = kmeans8(s, dir).select(col("vec_id"), col("cluster_id"))
      def counts(parity: Int, name: String) =
        asg.filter(col("vec_id") % 2 === parity)
          .groupBy(col("cluster_id")).agg(count(lit(1)).as(name))
      val clusters = s.range(8).select(col("id").as("cluster_id"))
      val joined = clusters
        .join(counts(0, "ref_cnt"), Seq("cluster_id"), "left")
        .join(counts(1, "cur_cnt"), Seq("cluster_id"), "left")
        .select(col("cluster_id"),
                coalesce(col("ref_cnt"), lit(0L)).as("ref_cnt"),
                coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"))
      Drift.psi(joined, 8).withColumn("is_drifted", col("psi_total") > 0.2)
    },

    // q159: kNN majority-vote classifier over the IVF ANN path — the
    // label-propagation use of the index q64 builds: each query vector's
    // 3 approximate neighbors vote with their labels (tie → smallest
    // label, deterministic), compared against the query's own label.
    // The per-query readout a pipeline inspects before trusting
    // embedding neighborhoods to impute labels / route data at 100 TB.
    // Scale shape: rides q64's plan (shuffle-free assignment, broadcast
    // probes) + one labels equi-join + two bounded aggs; the vote table
    // is ≤ k rows per query.
    "q159_knn_classifier" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val labels = e.select(col("vec_id"), col("label").cast("long").as("label"))
      val votes = defs("q64_ann_ivf")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
        .join(labels.select(col("vec_id").as("neighbor_id"),
                            col("label").as("nbr_label")), Seq("neighbor_id"))
        .groupBy(col("query_id"), col("nbr_label"))
        .agg(count(lit(1)).as("votes"))
      val pred = votes.groupBy(col("query_id"))
        .agg(min(struct((-col("votes")).as("negv"),
                        col("nbr_label").as("label"))).as("p"),
             sum(col("votes")).as("n_votes"))
        .select(col("query_id"), col("p.label").as("predicted_label"),
                (-col("p.negv")).as("n_agree"), col("n_votes"))
      pred.join(labels.select(col("vec_id").as("query_id"),
                              col("label").as("true_label")), Seq("query_id"))
        .select(col("query_id"), col("true_label"), col("predicted_label"),
                col("n_agree"), col("n_votes"),
                (col("true_label") === col("predicted_label")).as("is_correct"))
    },

    // q153: dimension-truncation recall curve — the "measure, don't
    // guess" readout (q116's discipline) for the cheapest ANN speedup
    // there is: drop trailing dimensions. For each truncation width d,
    // brute-force top-3 over the FIRST d components is compared to the
    // full-width exact top-3 (q37's operator, reused verbatim on sliced
    // frames) and recall@3 is reported per query. A pipeline reads this
    // before committing a Matryoshka-style truncated index: the curve
    // quantifies exactly what d/2 or d/4 costs in recall on ITS corpus.
    //
    // 100 TB shape: each leg is the q37 plan (query side broadcast,
    // bounded TopKPairs heap — no window over the corpus, no cartesian
    // materialization); the recall join touches ≤ 3·|queries| rows.
    // Slicing is scan-local; nothing new shuffles.
    "q153_truncation_recall" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val exact = q37Truth(s, dir) // identical 20-query k=3 truth, memo-cut
      TruncDims.map { d =>
        val tr = e.select(col("vec_id"),
                          slice(col("embedding"), 1, d).as("embedding"))
        recallAt3(exact, Similarity.bruteForceTopK(
            tr.filter(col("vec_id") < 20), tr, "vec_id", "embedding", k = 3))
          .select(col("query_id"), lit(d.toLong).as("trunc_dims"),
                  col("n_exact"), col("n_hit"), col("recall_at_3"))
      }.reduce(_ unionByName _)
    },

    // Johnson–Lindenstrauss random projection: 64 → 16 dims via a
    // ±1 sign matrix (md5-derived, the q40 hyperplane family — public
    // Achlioptas-style database-friendly projection). Vectors are
    // integer-quantized (floor(x·1000)) first so every projected
    // component is an EXACT integer sum — immune to float fold order,
    // so it hash-gates. The whole operator is a scan-local projection:
    // ZERO exchanges at any corpus scale (PlanQualitySpec-asserted) —
    // the cheap dimensionality-reduction front end for ANN indexing
    // and dedup blocking at 100 TB.
    "q117_random_projection" -> { (s, dir) =>
      val e  = Tables(s, dir).embeddings
      val planes = Similarity.hyperplanes(ProjDims, Dims)
      val qv = transform(col("embedding").cast("array<double>"),
                         x => floor(x * 1000).cast("long"))
      val sums = planes.map { p =>
        val pl = array(p.map(v => lit(v.toLong)): _*)
        aggregate(zip_with(col("q"), pl, (x, y) => x * y),
                  lit(0L), (acc, x) => acc + x)
      }
      e.select(col("vec_id"), qv.as("q"))
        .select(col("vec_id"), posexplode(array(sums: _*)))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("out_dim"),
                col("col").as("proj_q"),
                (col("col").cast("double") / 1000.0).as("proj"))
    },

    // Blocked kNN-graph construction: per vector, its top-3 cosine
    // neighbors among SAME-LABEL vectors — the neighborhood-graph
    // primitive behind graph-based dedup, NN-descent seeding, and
    // label-conditioned diversity sampling. The label block turns the
    // quadratic compare into a bucketable equi-join (q98's shape; in
    // production the block key is a k-means cluster or LSH bucket), and
    // the per-vector top-3 runs through the bounded-heap TopKPairs
    // aggregate — map-side ≤3 pairs per vector, NO per-vector window
    // over the pair stream. Cosines are 1e-9-quantized INSIDE the sort
    // key (q92's inverted-key trick), so ranking and reported score
    // hash-gate.
    "q118_knn_graph" -> { (s, dir) => knnGraph(s, dir) },

    // -----------------------------------------------------------------
    // q125: Adamic–Adar link prediction over the SYMMETRIZED q118 kNN
    // graph — "which semantically-close pairs are not yet linked" (the
    // classic common-neighbor score, discounting high-degree commons by
    // 1/ln deg). Composition is the point: the kNN construction bounds
    // every degree structurally (~k + in-degree), so EXACT AA is
    // scale-safe here — wedge fan-out per common node is C(deg,2) with
    // deg small by construction, unlike the dense co-purchase graph
    // where wedges are quadratic. A deg ≤ 64 hub cap guards the
    // adversarial-skew tail (AA discounts those commons to ≈0 anyway);
    // the cap is mirrored in the oracle. Determinism: each 1/ln(deg)
    // term is 1e-9-quantized BEFORE the BIGINT sum (q102 idiom), and
    // the top-50 orders by (score, pa, pb) — fully tiebroken.
    // -----------------------------------------------------------------
    "q125_adamic_adar" -> { (s, dir) =>
      graft.operators.Graph.adamicAdar(symKnnEdges(s, dir), degCap = 64, topN = 50)
    },

    // -----------------------------------------------------------------
    // q126: label-propagation communities over the symmetrized kNN graph
    // (3 synchronous iterations, majority label, min-label ties) — the
    // semantic-cluster view that needs NO centroids or k: communities
    // emerge from link structure alone, complementing k-means (q97) and
    // connected components (q67). Scale shape per iteration: one
    // node-key equi-join of the (1-row-per-node) label frame onto the
    // edge table + two partial+final aggregations; state never exceeds
    // one row per node, and there is no per-node window anywhere. The
    // oracle unrolls the same 3 iterations with the edge CTE
    // MATERIALIZED (DuckDB re-inlines plain CTEs per reference).
    // -----------------------------------------------------------------
    "q126_label_propagation" -> { (s, dir) =>
      graft.operators.Graph.labelPropagation(symKnnEdges(s, dir), iters = 3)
        .select(col("node").as("vec_id"), col("label").as("community"))
    },

    // Covariance + correlation matrix over the embedding dimensions —
    // the distributed front half of PCA/whitening (the d×d matrix is
    // what the driver eigendecomposes; d² ≪ n, so computing it IS the
    // scale problem). ONE scan emits, per row, the native MomentTerms
    // array — upper-triangle products (i, j, x_i·x_j) plus first-moment
    // terms (i, 0, x_i); ONE partial+final aggregation collapses every
    // map task to ≤ d(d+1)/2 + d rows before the only shuffle; the
    // moment frame is checkpointed and cov = (Σxy − ΣxΣy/n)/(n−1) is
    // assembled from it with broadcast joins of the d-sized first
    // moments and diagonal. Sums are DECIMAL(28,14)-exact, cov/corr
    // are fixed-order IEEE quantized to 1e-9 — hash-gates.
    "q119_covariance" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      // native MomentTerms: second- AND first-moment terms (the latter
      // tagged j = 0) from one primitive loop — the composable nested-
      // transform form ran d(d+1)/2 interpreted lambdas per row and was
      // the slowest query in the bench (15 s → ~1 s at sf0.1)
      val vecs = e.select(col("embedding").cast("array<double>").as("v"))
      // the explode below multiplies work by d(d+1)/2, so the VECTOR
      // rows are spread first and the term build + partial agg parallelize
      val spread = Tables.spread(vecs)
      // materialize the (d(d+1)/2 + d)-row moment frame (2144 at
      // d=64) BEFORE any branch filters: otherwise the j=0 / j>0 /
      // i=j group filters push below the aggregate and each branch
      // re-scans + re-explodes the corpus (the q35/q36 miner pattern)
      val agg = graft.core.Materialize.cutLocal(spread
        .select(explode(
          org.apache.spark.sql.graftx.MomentTerms.momentTerms(col("v"))).as("e"))
        .groupBy(col("e.i").as("i"), col("e.j").as("j"))
        .agg(sum(col("e.t").cast("decimal(28,14)")).as("s"),
             count(lit(1)).as("n")))
      val firsts = agg.filter(col("j") === 0)
        .select(col("i").as("fi"), col("s").cast("double").as("m"))
      val nd     = col("n").cast("double")
      val covRaw = (col("s").cast("double") - col("mi") * col("mj") / nd) /
        (nd - 1)
      val cv = agg.filter(col("j") > 0)
        .join(broadcast(firsts.select(col("fi"), col("m").as("mi"))),
              col("i") === col("fi")).drop("fi")
        .join(broadcast(firsts.select(col("fi"), col("m").as("mj"))),
              col("j") === col("fi")).drop("fi")
        .select(col("i"), col("j"), col("n"), covRaw.as("cov_raw"))
      val diag = cv.filter(col("i") === col("j"))
        .select(col("i").as("di"), col("cov_raw").as("var_raw"))
      cv.join(broadcast(diag.select(col("di"), col("var_raw").as("vi"))),
              col("i") === col("di")).drop("di")
        .join(broadcast(diag.select(col("di"), col("var_raw").as("vj"))),
              col("j") === col("di")).drop("di")
        .select(col("i").cast("long").as("dim_i"),
                col("j").cast("long").as("dim_j"),
                col("n").as("n_rows"),
                Exact.q9(col("cov_raw")).as("cov"),
                when(col("vi") > 0 && col("vj") > 0,
                     Exact.q9(col("cov_raw") / sqrt(col("vi") * col("vj")))).as("corr"))
    },

    // Distributed PCA, completed: q119's covariance matrix (d² values —
    // driver-sized BY CONSTRUCTION, like the k-means centroids) is
    // collected, the top eigenvector extracted by 12 fixed power-
    // iteration steps on the driver, and every embedding projected onto
    // it in a scan-local literal-vector dot — the standard shape for
    // PCA at corpus scale (the only distributed work is the moment agg
    // and the projection scan; the d×d eigenproblem is driver math).
    // Determinism: the iteration runs on the 1e-9-QUANTIZED covariance
    // (hash-gated by q119), u₀ = 1/√64 = 0.125 exactly, every matvec /
    // norm / division is the same sequential IEEE fold the oracle's
    // list_dot_product chain performs, and outputs quantize to 1e-9 —
    // so a fixed iteration count hash-gates without any convergence
    // assumption.
    "q121_pca_projection" -> { (s, dir) =>
      import graft.functions.Vectors
      // d² upper-triangle cells by construction — enforced (1<<20 cells
      // ≈ d=1448), so a misconfigured wide-embedding run refuses fast
      // instead of OOMing the driver mid-eigensolve
      val covRows = graft.core.Guard.boundedCollect(
        defs("q119_covariance")(s, dir)
          .select(col("dim_i"), col("dim_j"), col("cov")),
        1L << 20, "PCA covariance cells (d² driver eigenproblem)",
        "project the vectors down first (q117 JL projection) or move to " +
          "a distributed eigensolver")
      val d = covRows.map(_.getLong(0).toInt).max
      val C = Array.ofDim[Double](d, d)
      covRows.foreach { r =>
        val (i, j, c) = (r.getLong(0).toInt - 1, r.getLong(1).toInt - 1, r.getDouble(2))
        C(i)(j) = c; C(j)(i) = c
      }
      var u = Array.fill(d)(0.125)
      for (_ <- 1 to PowerIters) {
        val w = Array.tabulate(d) { i =>
          var acc = 0.0; var j = 0
          while (j < d) { acc += C(i)(j) * u(j); j += 1 }; acc
        }
        var n2 = 0.0; var j = 0
        while (j < d) { n2 += w(j) * w(j); j += 1 }
        val nrm = math.sqrt(n2)
        u = w.map(_ / nrm)
      }
      val t = Array.tabulate(d) { i =>
        var acc = 0.0; var j = 0
        while (j < d) { acc += C(i)(j) * u(j); j += 1 }; acc
      }
      var lam = 0.0; var j = 0
      while (j < d) { lam += u(j) * t(j); j += 1 }
      val uLit   = array(u.map(lit(_)): _*)
      val e      = Tables(s, dir).embeddings
      e.select(col("vec_id"),
               Exact.q9(Vectors.dot(col("embedding").cast("array<double>"), uLit))
                 .as("pc1_score"),
               lit(Exact.q9(lam)).as("eigenvalue"))
    },

    // Scalar int8 quantization — the embedding-compression step of a
    // vector-search pipeline (4× smaller than float32, 8× smaller than
    // the double form): per-DIMENSION global min/max → 256 uniform codes.
    // The stats side is one partial-agg'd groupBy whose output is
    // dimension-sized (64 rows) no matter how many vectors exist, so it
    // BROADCASTS back onto the scan at any scale; the quantize itself is
    // then a scan-local projection. Determinism: min/max are exact, and
    // code = floor(normalized·255 + 0.5) is one fixed IEEE op sequence,
    // so codes AND dequantized values hash-gate.
    "q85_embedding_quantize" -> { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val longf = e
        .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim_pos"),
                col("col").as("v"))
      val stats = longf.groupBy(col("dim_pos"))
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      val codeD = when(col("mx") > col("mn"),
        floor((col("v") - col("mn")) / (col("mx") - col("mn")) * 255 + 0.5)
          .cast("double")).otherwise(0.0)
      longf.join(broadcast(stats), "dim_pos")
        .select(col("vec_id"), col("dim_pos"),
                codeD.cast("long").as("code"),
                (col("mn") + codeD / 255.0 * (col("mx") - col("mn"))).as("dequant"))
    },

    // -----------------------------------------------------------------
    // q271: PERSONALIZED PAGERANK (integer mass-push) over the persisted
    // kNN graph — the "what else is in this item's neighborhood that
    // plain kNN misses" expansion read (multi-hop relevance: a node two
    // short hops away can out-rank a node one long hop away), next to
    // global PageRank (q90) and Adamic–Adar (q125). Determinism is the
    // design: instead of float power iteration (whose per-node sums are
    // partition-order-dependent), each seed starts with integer mass
    // 10^12; per round a node BANKS floor(m·15/100) into its rank (the
    // α-restart share) and pushes floor((m − banked)/deg) along each
    // out-edge; after PprRounds rounds the residual mass is absorbed
    // into ranks. Integer floor-division remainders simply vanish —
    // bounded by deg per node per round, ~1e-10 of the mass, and
    // IDENTICALLY in both engines, so ranks hash-gate exactly. Scale
    // shape per round: one equi-join of the (seed × reached-node) mass
    // frame onto the src-bucketed edge table + one partial+final agg —
    // the LPA/CC iteration discipline; mass frames are seeds-bounded,
    // top-5 readout per seed on the bounded heap.
    // -----------------------------------------------------------------
    "q271_graph_ppr" -> { (s, dir) =>
      val edges = symKnnEdges(s, dir)
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val ed = edges.join(deg, Seq("src"))
      def idiv(a: Column, b: Column): Column =
        floor(a.cast(DoubleType) / b.cast(DoubleType)).cast(LongType)
      val seeds = Tables(s, dir).embeddings
        .filter(col("vec_id") < PprSeeds)
        .select(col("vec_id").as("seed"), col("vec_id").as("node"),
                lit(PprMass).as("m"))
      var mass  = seeds
      var ranks = Seq.empty[DataFrame]
      for (r <- 1 to PprRounds) {
        val banked = mass.select(col("seed"), col("node"),
          idiv(col("m") * PprAlphaPct, lit(100L)).as("banked"), col("m"))
        ranks = ranks :+ banked.select(col("seed"), col("node"),
                                       col("banked").as("rmass"))
        val pushed = banked
          .join(ed, col("node") === col("src"))
          .select(col("seed"), col("dst").as("node"),
                  idiv(col("m") - col("banked"), col("deg")).as("c"))
          .groupBy(col("seed"), col("node")).agg(sum(col("c")).as("m"))
        mass = graft.core.Materialize.cut(pushed, s"q271-m$r")
      }
      // absorb the residual so total banked mass is deterministic
      val all = (ranks :+ mass.select(col("seed"), col("node"),
                                      col("m").as("rmass")))
        .reduce(_ unionAll _)
        .groupBy(col("seed"), col("node")).agg(sum(col("rmass")).as("rank_mass"))
        .filter(col("node") =!= col("seed"))
      all.select(col("seed"), TopKPairs.descIdKey(col("rank_mass"), col("node")).as("key"),
                 col("node"))
        .groupBy(col("seed"))
        .agg(TopKPairs.topK(col("key"), col("node"), 5).as("top"))
        .select(col("seed"), posexplode(col("top")))
        .select(col("seed"), (col("pos") + 1).cast(LongType).as("rank"),
                col("col.id").as("node"),
                TopKPairs.descScore(col("col.key")).as("rank_mass"))
    },

    // -----------------------------------------------------------------
    // q267: LABEL-NOISE audit (confident-learning readout, à la Northcutt's
    // count matrix) — the labeled-data-quality gate a training pipeline
    // runs before trusting its labels: the q159 kNN classifier's
    // (true_label, predicted_label) JOINT COUNTS, split by whether the
    // vote was a strict majority ("confident"), plus each true label's
    // estimated noise rate = confidently-relabeled fraction. Off-diagonal
    // confident mass is the canonical mislabeling estimate; a pipeline
    // routes those rows to re-annotation. Composition is the point:
    // q159's prediction frame is reused verbatim (one kNN serve), and the
    // matrix is two partial+final aggs over it — label-domain-sized
    // output (|L|² ≤ dozens of rows) no matter how many vectors exist, so
    // the per-label totals BROADCAST back onto the cells. Every fraction
    // is one double division of two exact BIGINTs (hash-stable).
    // -----------------------------------------------------------------
    "q267_label_noise" -> { (s, dir) =>
      val pred = defs("q159_knn_classifier")(s, dir)
        .withColumn("is_confident", col("n_agree") * 2L > col("n_votes"))
      val cells = pred
        .groupBy(col("true_label"), col("predicted_label"))
        .agg(count(lit(1)).as("n"),
             sum(when(col("is_confident"), 1L).otherwise(0L))
               .as("n_confident"))
      val totals = pred.groupBy(col("true_label"))
        .agg(count(lit(1)).as("n_label"),
             sum(when(col("is_confident") &&
                        col("true_label") =!= col("predicted_label"), 1L)
                   .otherwise(0L)).as("n_noise"))
      cells.join(broadcast(totals), Seq("true_label"))
        .select(col("true_label"), col("predicted_label"), col("n"),
                col("n_confident"),
                (col("true_label") =!= col("predicted_label"))
                  .as("is_offdiag"),
                (col("n").cast(org.apache.spark.sql.types.DoubleType) /
                  col("n_label")).as("frac_of_label"),
                (col("n_noise").cast(org.apache.spark.sql.types.DoubleType) /
                  col("n_label")).as("label_noise_rate"))
    },

    // -----------------------------------------------------------------
    // q268: GRAPH-BASED ANN (NN-descent build + NSW-style beam-search
    // serve) — the graph-index family that completes the ANN inventory
    // (hyperplane LSH q40, IVF q64, PQ q178, IVF-PQ q179, multiprobe
    // q216). BUILD: the navigable graph comes from NN-descent (Dong et
    // al.'s neighbor-of-my-neighbor iteration): init each node's list
    // from NndDraws independent md5-random partitions into CONSTANT-size
    // ≈64-node blocks (within-block pairs = 64·N total — linear, never
    // (N/const)² ; a label-blocked init is useless here because this
    // corpus's exact neighbors are 93% cross-label, and NN-descent can
    // never escape a label-pure init), then NndRounds rounds of "score
    // my neighbors' neighbors, keep the best NndK" — candidate volume
    // O(N·K²) per round, one equi-join shuffle each, every round behind
    // a lineage cut. SERVE: navigate from one entry point per label by
    // expanding the beam's graph neighbors and keeping the BeamWidth
    // best by exact cosine; frontier is |queries|·BeamWidth rows, so
    // serve work is O(queries·beam·deg·rounds) — corpus-size-FREE, the
    // trade graph indexes buy at 100 TB: a handful of edge probes per
    // query instead of an nprobe-th of the corpus (IVF) or a codebook
    // scan (PQ). Recall@3 vs the q37 brute-force truth is measured in
    // the gate (1.0 at sf0.01), never assumed (q116's discipline). Determinism:
    // scores ride the knnGraph scaled-long idiom (1e-9-quantized cosine,
    // ties → lowest id) end to end; block draws are md5-derived.
    // -----------------------------------------------------------------
    "q268_graph_ann_beam" -> { (s, dir) =>
      val found = beamServeTopK(s, dir, BeamWidth, 3)
      recallAt3(q37Truth(s, dir), found)
    },

    // -----------------------------------------------------------------
    // q272: BEAM-WIDTH sweep over the q268 graph index — the serve-cost
    // knob measured before it is chosen (q217's multiprobe discipline,
    // q247's sweep shape): per beam width w ∈ {4, 8, 16}, overall
    // recall@3 vs the q37 exact truth over the SAME session-cached
    // NN-descent graph (the build runs once; legs differ only in how
    // much frontier the serve keeps). Serve cost per query is linear in
    // w, so the knee of this curve is the width a deployment should
    // run. Scale shape identical to q268's serve: per-leg work is
    // O(queries·w·deg·rounds), corpus-size-free.
    // -----------------------------------------------------------------
    "q272_beam_width_sweep" -> { (s, dir) =>
      // cut once per session (q37Truth): three legs consume the exact
      // truth; uncut, each leg's job re-runs the q37 brute-force scoring
      val exact = q37Truth(s, dir)
      // the three width legs are independent serve runs over the SAME
      // session-cached graph (the first leg to reach the memo builds it;
      // the others block on the memo, not on a duplicate build) — their
      // per-round beam jobs overlap (guide §2.6) instead of serializing
      // 3 × BeamRounds round-trips
      Parallel.map(s, BeamSweepWidths) { w =>
        val fin = beamServeTopK(s, dir, w, 3)
        exact.join(fin.withColumn("hit", lit(1L)),
                   Seq("query_id", "neighbor_id"), "left")
          .agg(count(lit(1)).as("total"),
               coalesce(sum(col("hit")), lit(0L)).as("found"))
          .select(lit(w.toLong).as("beam_width"), col("found"), col("total"),
                  (col("found").cast(DoubleType) / col("total").cast(DoubleType))
                    .as("recall"))
      }.reduce(_ unionAll _)
    },

    // -----------------------------------------------------------------
    // q273: INCREMENTAL graph-ANN INSERT — the lifecycle step that makes
    // a graph index operationally viable (the q141/q145 append
    // discipline applied to q268): the NN-descent graph is built ONCE
    // over the base split (vec_id % 5 ≠ 3, 80%); each NEW vector is
    // inserted by beam-searching the EXISTING graph for its NndK nearest
    // base nodes — exactly an HNSW insert — and adopting them as its
    // out-edges (reverse reachability comes free from the serve-side
    // symmetrization). No rebuild, no re-descent: insert cost per vector
    // is one beam search, O(beam·deg·rounds). The gate then serves the
    // q37 query batch over the UPDATED graph and reports recall@3 vs
    // the full-corpus exact truth — the measured price of incremental
    // maintenance vs q268's full rebuild (1.0), read per query.
    // -----------------------------------------------------------------
    "q273_graph_ann_insert" -> { (s, dir) =>
      val n   = labeledVecs(s, dir)
      val ctx = insertContext(s, dir)
      // inserts go through the SAME helper the streaming maintenance leg
      // uses (EventsStream.annGraphMaintainStream) — the stream ≡ batch
      // gate is an identity on this arithmetic, not a re-implementation
      val inserted = insertEdgesOver(ctx,
        Tables(s, dir).embeddings.filter(col("vec_id") % 5 === 3))
      // src id spaces are disjoint (delta vs base), so plain unionAll.
      // The cut is load-bearing: the serve phase references the edge set
      // twice per round, and without it Spark re-executes the whole
      // 4-round insert-beam lineage at every reference (21.3 s → 6.5 s
      // warm at sf0.1; the residual is the genuine 1000-vector insert
      // beam + serve).
      val gInc = graft.core.Materialize.cut(
        ctx.gBase.unionAll(inserted), "q273-ginc")
      // the serve rounds are separate jobs (per-round beam cut), so the
      // incremental graph's symmetrize is cut once here instead of
      // re-running union+distinct in every round's job
      val found = beamOver(
        graft.core.Materialize.cut(symmetrized(gInc), "q273-gsym"),
        nndCorpus(s, dir),
                           queryFrame(n, col("vec_id") < 20),
                           entryFrame(n), BeamWidth, 3)
      recallAt3(q37Truth(s, dir), found)
    })

  /** q268/q272 shared NN-descent machinery. [[nndCorpus]] is the
    * normalized nonzero vector frame behind a lineage cut; [[nndGraph]]
    * is the directed top-[[NndK]] NN-descent edge list — both cached per
    * (session, sfDir) so the build runs ONCE however many serve legs
    * read it (q268 + three q272 widths). [[nndCorpus]]'s keys are
    * [[nndGraphOver]]'s cache keys, so its artifact's `tableName` also
    * names the build's cand_id-bucketed corpus table.
    */
  private[graft] val nndVecCache = new Artifact[DataFrame]("nnd_corpus")
  private val nndEdgeCache = new Artifact[DataFrame]("nnd_edges")
  private val nndSymCache = new Artifact[DataFrame]("nnd_sym_edges")
  private val q37TruthCache = new Artifact[DataFrame]("q37_truth")

  /** The q37 brute-force truth projected to (query_id, neighbor_id), cut
    * ONCE per (session, dir): reference labels for the recall gates
    * (q268, q272's three legs, q273). The truth is a pure function of the
    * corpus, so no gate re-scores it. The q37 gated query itself stays
    * uncached — its bench entry still computes from the parquet scan.
    */
  private def q37Truth(s: SparkSession, dir: String): DataFrame =
    q37TruthCache.cut(s, dir)(
      defs("q37_cosine_topk")(s, dir).select(col("query_id"), col("neighbor_id")))

  /** Recall@3 per query of `found` (query_id, neighbor_id) against the
    * `exact` (query_id, neighbor_id) truth: n_exact truth rows, n_hit of
    * them found, and their ratio. The join keys on the truth side, so a
    * query is reported iff it has truth rows.
    */
  private def recallAt3(exact: DataFrame, found: DataFrame): DataFrame =
    exact.join(found.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
               Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
           coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
              (col("n_hit").cast(DoubleType) / col("n_exact"))
                .as("recall_at_3"))

  /** Symmetrized (both directions, distinct) view of an NN-descent edge
    * frame, materialized ONCE per (session, key). Every beam round
    * references the edge set, and each beam round is its own job after
    * the per-round lineage cut — without cutting the symmetrize here,
    * every round of every serve leg would re-run the union+distinct.
    */
  private def symEdgesCached(s: SparkSession, key: String,
                             g: => DataFrame): DataFrame =
    nndSymCache.cut(s, key)(symmetrized(g))

  /** Warehouse name of the cross-session durable NN-descent edge index
    * for one cache key — shared by [[nndGraphOver]] and the
    * durable-lifecycle tests.
    */
  private[graft] def nndDurableIndexName(cacheKey: String): String =
    graft.sources.Warehouse.keyedName(nndEdgeCache.name, cacheKey)

  /** Normalized nonzero vectors (cand_id, cv, cn) behind a lineage cut;
    * `base = true` restricts to the q273 base split (vec_id % 5 != 3).
    */
  private def nndCorpus(s: SparkSession, dir: String,
                        base: Boolean = false): DataFrame =
    nndVecCache.cut(s, if (base) s"$dir|base" else dir) {
      import graft.functions.Vectors
      val n0 = Tables(s, dir).embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", Vectors.norm(col("v")))
        .filter(col("nrm") > 0)
      val n = if (base) n0.filter(col("vec_id") % 5 =!= 3) else n0
      n.select(col("vec_id").as("cand_id"), col("v").as("cv"), col("nrm").as("cn"))
    }

  /** NN-descent over an arbitrary corpus frame (cand_id, cv, cn):
    * md5-random constant-size block init, NndRounds refinement rounds,
    * directed top-NndK edge list. Cached per (session, cacheKey).
    *
    * Physical shape (round 17 — the round-16 measured scale-killer): the
    * corpus is persisted ONCE as a cand_id-bucketed warehouse table (the
    * q139/q141 persisted-index discipline), so every vector attach joins
    * it with ZERO corpus-side Exchange; candidate pairs are scored with
    * the NN-descent "local join" (Dong et al., WWW'11 §2.3): each pair
    * (x, z) generated via pivot y (edges x→y, y→z) is scored WHERE THE
    * PIVOT'S NEIGHBOR LISTS GATHER, so per round only ~2·K vectors per
    * node move (the in/out neighbor-list gathers) plus id+score rows —
    * never one vector per candidate pair. The ∪g re-score branch reuses
    * the scores the previous round's heap already computed (`g` carries
    * `scaled` between rounds), and the heap itself is [[TopKPairs
    * .topKDistinct]] (set semantics), so the old pre-heap `distinct()`
    * whole-row shuffles disappear. Round-16 BENCH_HEAVY100X measured the
    * old shape (both 64-double vectors riding every candidate join,
    * every round) at ~200 KB of shuffle per corpus vector — ~2 PB at the
    * 10B-vector target; this shape's vector traffic is K·|vec| per node
    * per round, independent of the candidate count.
    *
    * Round 18 (verdict #6): the gathered vectors are INT16-QUANTIZED
    * (floor(x·10⁴) clamped to ±32000, stored on the bucketed corpus as
    * cq/cqn) — the 33 KB/vec structural gather term was pure vector
    * bytes, and 2 B/element cuts it ~4×. Build scoring is the exact
    * integer dot over the quantized components (fold-order-free longs),
    * and the q268/q272/q273 DuckDB oracle unrolls quantize IDENTICALLY
    * (nndVnCteSql's qv2/qnrm), so the gate stays exact: the candidate
    * evolution is DEFINED over quantized scores on both engines. The
    * md5 block draws and the pivot expansion x∈in(y) × z∈out(y) are
    * unchanged; serve/insert beams still score exact doubles.
    */
  private def nndGraphOver(s: SparkSession, corpus: DataFrame,
                           cacheKey: String, tagPfx: String): DataFrame =
    nndEdgeCache(s, cacheKey) {
      // durable mode: the finished edge list is published as a
      // cross-session warehouse index (dir-keyed name), so a NEW session
      // serves from a parquet scan instead of re-paying the build — the
      // production lifecycle the streaming index maintainer implies
      // (round-16 verdict #6). Default mode keeps the session-scoped
      // lifecycle (nothing outlives the JVM).
      if (graft.core.Materialize.durable(s)) {
        // content fingerprint of the INPUT (row count + max id — one
        // column-scan agg, cheap next to the build and to serving):
        // checked against the fingerprint stored beside the index, so a
        // dataset dir mutated IN PLACE is refused instead of silently
        // served a stale graph (round-17 stretch #8). The corpus is
        // materialized by the serve path anyway, so this adds no pass
        // class to a serving session.
        val fpRow = corpus.agg(count(lit(1)), max(col("cand_id"))).first()
        val fp = s"n=${fpRow.getLong(0)}|maxid=${fpRow.get(1)}"
        graft.sources.Warehouse.durableIndex(s, nndDurableIndexName(cacheKey),
          Some(fp))(nndGraphBuild(s, corpus, cacheKey, tagPfx))
      } else nndGraphBuild(s, corpus, cacheKey, tagPfx)
    }

  /** The NN-descent build itself — see [[nndGraphOver]] for the cache /
    * durable-index lifecycle around it.
    */
  private def nndGraphBuild(s: SparkSession, corpus: DataFrame,
                            cacheKey: String, tagPfx: String): DataFrame = {
      val nBlocks = math.max(1L,
        math.ceil(corpus.count().toDouble / NndBlockSize).toLong)
      // one-time bucketed persist: 32 buckets to match this session's
      // shuffle parallelism (a cluster deployment scales the bucket count
      // with executors); repartition first so the write emits one file
      // per bucket instead of tasks×buckets. The persisted copy carries
      // an INT16-QUANTIZED vector (cq = clamp(floor(x·10⁴)) — exact for
      // the |x| < 3.2 domain every corpus here satisfies; the clamp makes
      // an out-of-domain component saturate instead of wrap) plus its
      // quantized norm: ALL build-round scoring reads cq/cqn, so the
      // gathered vector payload is 2 B/element instead of 8 (round-17
      // verdict #6 — the remaining 33 KB/vec structural gather term was
      // pure vector bytes). Integer dots are fold-order-FREE exact longs,
      // and the oracle quantizes identically (nndVnCteSql's qv2/qnrm),
      // so the oracle gate stays exact — the build's candidate evolution
      // is DEFINED over quantized scores on both engines.
      val tbl = nndVecCache.tableName(s, cacheKey)
      val cq = transform(col("cv"), x =>
        greatest(lit(-32000L), least(lit(32000L), floor(x * 10000)))
          .cast("smallint"))
      graft.sources.Warehouse.writeBucketed(
        corpus.repartition(32, col("cand_id"))
          .withColumn("cq", cq)
          .withColumn("cqn", sqrt(org.apache.spark.sql.graftx.DotProductShort
            .dotShort(col("cq"), col("cq")).cast("double"))),
        tbl, "cand_id", numBuckets = 32)
      val corpusB = s.table(tbl)
      val scaled = Exact.e9(org.apache.spark.sql.graftx.DotProductShort
                              .dotShort(col("sq"), col("dq")).cast("double") /
                              (col("sqn") * col("dqn")) + 1).as("scaled")
      // heap over (src, dst, scaled) candidates; re-emits scaled so the
      // next round's ∪g branch reuses it instead of re-joining vectors
      def topKEdges(cand: DataFrame, tag: String): DataFrame = {
        graft.core.Materialize.cut(
          cand.select(col("src"), TopKPairs.descIdKey(col("scaled"), col("dst")).as("key"),
                      col("dst"))
            .groupBy(col("src"))
            .agg(TopKPairs.topKDistinct(col("key"), col("dst"), NndK).as("top"))
            .select(col("src"), explode(col("top")).as("c"))
            .select(col("src"), col("c.id").as("dst"),
                    TopKPairs.descScore(col("c.key")).as("scaled")), tag)
      }
      val initScored = (0 until NndDraws).map { d =>
        // 32-bit draw: value16 capped the usable block count at 65536,
        // so past ~4.2M vectors every block silently grew as N/65536 and
        // the constant-size-block linear build degraded quadratically.
        // 2^32 draws keep blocks ≈ NndBlockSize up to ~2.7e11 vectors.
        // Vectors ride the block shuffle ONCE per draw (one copy per
        // vector), and all block-internal pairs score inside the join
        // stage — the wide two-vector rows never reach an Exchange.
        val blk = corpusB.select(col("cand_id").as("id"), col("cq"), col("cqn"),
          (graft.functions.HexKeys.value32(
             md5(concat(lit(s"nnd$d|"), col("cand_id").cast("string"))), 0)
            % nBlocks).as("g"))
        blk.as("a").join(blk.as("b"),
            col("a.g") === col("b.g") && col("a.id") =!= col("b.id"))
          .select(col("a.id").as("src"), col("b.id").as("dst"),
                  col("a.cq").as("sq"), col("a.cqn").as("sqn"),
                  col("b.cq").as("dq"), col("b.cqn").as("dqn"))
          .select(col("src"), col("dst"), scaled)
      }.reduce(_ union _)
      var g = topKEdges(initScored, s"$tagPfx-g0")
      for (r <- 1 to NndRounds) {
        // local join at the pivot: edge x→y contributes x (with vector)
        // to pivot y's in-list, edge y→z contributes z (with vector) to
        // its out-list; the pivot-keyed join scores in(y)×out(y) pairs
        // in place. Both vector attaches read the bucketed corpus
        // exchange-free — only edge id rows shuffle into the buckets.
        val inV = g.select(col("src"), col("dst").as("pivot"))
          .join(corpusB.select(col("cand_id").as("src"), col("cq").as("sq"),
                               col("cqn").as("sqn")), Seq("src"))
        val outV = g.select(col("src").as("pivot"), col("dst"))
          .join(corpusB.select(col("cand_id").as("dst"), col("cq").as("dq"),
                               col("cqn").as("dqn")), Seq("dst"))
        val coScored = inV.join(outV, Seq("pivot"))
          .filter(col("src") =!= col("dst"))
          .select(col("src"), col("dst"), scaled)
        val cand = coScored
          .union(g.select(col("src"), col("dst"), col("scaled")))
        g = topKEdges(cand, s"$tagPfx-g$r")
      }
      g.select(col("src"), col("dst"))
  }

  private def nndGraph(s: SparkSession, dir: String): DataFrame =
    nndGraphOver(s, nndCorpus(s, dir), dir, "q268")

  /** Measurement hook (ScaleRehearsal heavy100x): the NN-descent BUILD
    * leg alone — forcing this frame runs block init + refinement rounds
    * without the serve-side beam, so per-stage shuffle constants
    * attribute to the build, not the query batch.
    */
  private[graft] def nndBuildFrame(s: SparkSession, dir: String): DataFrame =
    nndGraph(s, dir)

  /** Shared insert machinery for the batch (q273) and streaming
    * (EventsStream.annGraphMaintainStream) graph-ANN insert legs: the
    * base graph (directed + symmetrized view), the base corpus, the
    * per-label base entry points, and the global fallback entry id for
    * labels with no base presence. Built ONCE per (session, dir) via the
    * session caches; the streaming leg captures the frames in its
    * foreachBatch closure, so micro-batch session CLONES (which would
    * miss the per-session cache) never rebuild the graph.
    */
  private[graft] final case class InsertContext(
      gBase: DataFrame, gSym: DataFrame, corpus: DataFrame,
      entries: DataFrame, globalEntry: Long)

  /** Memoized per (session, dir): every field is corpus-FITTED base
    * state (the base graph and its symmetrized view, the base corpus,
    * the per-label entries, the global fallback id) — pure functions of
    * the base split already individually cached; the memo additionally
    * retires the per-call `min(vec_id)` job and frame rebuilds (q273 is
    * re-invoked per bench pass; the streaming leg builds it once anyway).
    */
  private val insertCtxMemo = new Artifact[InsertContext]("q273_insert_context")

  private[graft] def insertContext(s: SparkSession, dir: String): InsertContext =
    insertCtxMemo(s, dir) {
      val nBase = labeledVecs(s, dir).filter(col("vec_id") % 5 =!= 3)
      val gBase = nndGraphOver(s, nndCorpus(s, dir, base = true),
                               s"$dir|base", "q273")
      val geRow = nBase.agg(min(col("vec_id"))).first()
      require(!geRow.isNullAt(0),
        "graph-ANN insert: the base split has no nonzero-norm vectors — " +
          "nothing to beam-search against")
      InsertContext(gBase,
                    symEdgesCached(s, s"$dir|base-sym", gBase),
                    nndCorpus(s, dir, base = true),
                    entryFrame(nBase), geRow.getLong(0))
    }

  /** One insert wave: beam-search the BASE graph for each raw vector's
    * NndK nearest base nodes and emit the adoption edges (src, dst).
    * `raw` is (vec_id, embedding, label) — zero-norm vectors are
    * unsearchable and skipped (the labeledVecs rule). Entry points cover
    * EVERY arriving label: a label absent from the base split falls back
    * to the global min base vec_id (the beam still converges — it just
    * starts one hop farther out). Inserts depend ONLY on the base graph
    * (arriving vectors never see each other — the q273 contract), so
    * any micro-batch partitioning of `raw` yields the same edge set.
    */
  private[graft] def insertEdgesOver(ctx: InsertContext,
                                     raw: DataFrame): DataFrame = {
    import graft.functions.Vectors
    val q = raw.select(col("vec_id").as("query_id"), col("label").as("qlabel"),
                       col("embedding").cast("array<double>").as("qv"))
      .withColumn("qn", Vectors.norm(col("qv")))
      .filter(col("qn") > 0)
    val ent = q.select(col("qlabel")).distinct()
      .join(ctx.entries, Seq("qlabel"), "left")
      .select(col("qlabel"),
              coalesce(col("cand_id"), lit(ctx.globalEntry)).as("cand_id"))
    beamOver(ctx.gSym, ctx.corpus, q, ent, BeamWidth, NndK)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
  }

  private def symmetrized(g: DataFrame): DataFrame =
    g.union(g.select(col("dst").as("src"), col("src").as("dst"))).distinct()

  /** NSW beam search over an arbitrary edge set: `queries` is
    * (query_id, qlabel, qv, qn); `entries` is (qlabel, cand_id);
    * BeamRounds neighbor-expansion rounds keeping the `width` best by
    * quantized cosine, then the top-`k` readout (self excluded).
    * Candidate vectors are looked up in `corpus`. Returns
    * (query_id, neighbor_id).
    */
  private def beamOver(edges: DataFrame, corpus: DataFrame,
                       queries: DataFrame, entries: DataFrame,
                       width: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.graftx.{ScaledCosineLookup, VecTable}
    // The query batch is collected ONCE into a VecTable reference object
    // (driver-bounded by the same serve contract that justified the old
    // per-round broadcast(queries) hint). Each beam round's lineage cut
    // makes the round a fresh job, so the old hash-join attach re-ran the
    // query-frame subtree and re-BUILT the broadcast once per round;
    // holding the batch inside the scoring expression pays the scan once
    // per beamOver call and removes one broadcast build + hash join per
    // round (r18 verdict #2). Bit parity with the composed tree it
    // replaces is documented on ScaledCosineLookup and pinned by
    // VectorOpsSpec; the q255/q268/q272/q273 oracles gate the readouts.
    val batch = queries.select(col("query_id"), col("qv"), col("qn"))
      .collect().sortBy(_.getLong(0))
    val dim = batch.headOption.map(_.getSeq[Double](1).length).getOrElse(1)
    batch.foreach { r =>
      require(r.getSeq[Double](1).length == dim,
        s"beam query batch mixes vector dims (${r.getSeq[Double](1).length} " +
          s"vs $dim) — the VecTable lookup requires a uniform dim")
    }
    val flat = new Array[Double](batch.length * dim)
    batch.zipWithIndex.foreach { case (r, i) =>
      val v = r.getSeq[Double](1)
      var j = 0
      while (j < dim) { flat(i * dim + j) = v(j); j += 1 }
    }
    val table = new VecTable(batch.map(_.getLong(0)), flat,
                             batch.map(_.getDouble(2)), dim)
    var beam = broadcast(queries.select(col("query_id"), col("qlabel")))
      .join(broadcast(entries), Seq("qlabel"))
      .select(col("query_id"), col("cand_id"))
    for (round <- 1 to BeamRounds) {
      // BROADCAST the beam against the edge scan: beam is queries×width
      // rows of two longs — bounded by the same serve contract that
      // already broadcasts `queries` below — while the edge set is
      // corpus-scale. The hinted build side keeps the planner from ever
      // shuffling (or sorting) the edges, per round or at all (guide
      // §3.1); the expansion result stays queries×width×(deg+1) ids and
      // rides the SAME bound into the corpus-attach broadcast, so the
      // corpus is never shuffled either. Duplicate candidates (reached
      // via several edges, or already in the beam) are NOT pre-deduped:
      // they score identically (same fold), and the set-semantics heap
      // below collapses them map-side — ≡ the old distinct() + topK
      // without the distinct's exchange (the TopKPairs contract).
      val expanded = broadcast(beam)
        .join(edges, beam("cand_id") === edges("src"))
        .select(col("query_id"), col("dst").as("cand_id"))
        .union(beam.select(col("query_id"), col("cand_id")))
      // Self stays IN the beam (best hub toward its own neighborhood)
      // and is excluded only at the final readout. The query vector and
      // norm come from the VecTable reference object above — no per-round
      // query-side join; arithmetic is term-for-term the composed tree
      // Exact.e9(dot(qv,cv)/(qn*cn) + 1).
      val scored = broadcast(expanded)
        .join(corpus, Seq("cand_id"))
        .select(col("query_id"), col("cand_id"),
                ScaledCosineLookup.score(col("query_id"), col("cv"),
                                         col("cn"), table).as("scaled"))
      val key = TopKPairs.descIdKey(col("scaled"), col("cand_id"))
      val next = scored
        .select(col("query_id"), key.as("key"), col("cand_id"))
        .groupBy(col("query_id"))
        .agg(TopKPairs.topKDistinct(col("key"), col("cand_id"), width).as("top"))
        .select(col("query_id"), explode(col("top")).as("c"))
        .select(col("query_id"), col("c.id").as("cand_id"),
                TopKPairs.descScore(col("c.key")).as("scaled"))
      // iterative ROUND state (a local cut, as in the CC loop): without
      // the per-round cut the beam lineage
      // COMPOUNDS — round r's broadcast subtrees nest rounds 1..r-1
      // (q273's committed plan hit 292 exchanges) and the A/B probe
      // measured the uncut form 2-4× slower with wild variance. The
      // FINAL round skips the eager cut: its sole consumer is the
      // readout below, so lineage stays one round deep and the
      // checkpoint job would be pure overhead (one fewer action per
      // serve leg — same truncation argument).
      beam = if (round < BeamRounds) graft.core.Materialize.cutLocal(next) else next
    }
    beam.filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), TopKPairs.descIdKey(col("scaled"), col("cand_id")).as("key"),
              col("cand_id"))
      .groupBy(col("query_id"))
      .agg(TopKPairs.topK(col("key"), col("cand_id"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("c"))
      .select(col("query_id"), col("c.id").as("neighbor_id"))
  }

  /** Labeled vector frame + derived query/entry frames shared by the
    * q268-family serve paths.
    */
  private def labeledVecs(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Vectors
    Tables(s, dir).embeddings
      .select(col("vec_id"), col("label"),
              col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
      .filter(col("nrm") > 0)
  }

  private def queryFrame(n: DataFrame, pred: Column): DataFrame =
    n.filter(pred)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
              col("v").as("qv"), col("nrm").as("qn"))

  private def entryFrame(n: DataFrame): DataFrame =
    n.groupBy(col("label")).agg(min(col("vec_id")).as("cand_id"))
      .select(col("label").as("qlabel"), col("cand_id"))

  private def beamServeTopK(s: SparkSession, dir: String, width: Int,
                            k: Int): DataFrame = {
    val n = labeledVecs(s, dir)
    beamOver(symEdgesCached(s, s"$dir|sym", nndGraph(s, dir)),
             nndCorpus(s, dir),
             queryFrame(n, col("vec_id") < 20), entryFrame(n), width, k)
  }

  /** The q118 kNN-graph builder (label-blocked top-3 by quantized cosine,
    * bounded-heap TopKPairs — never a per-vector window over the pair
    * stream); shared with q125's Adamic–Adar scoring.
    */
  private def knnGraph(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Vectors
    val e = Tables(s, dir).embeddings
    val n = e.select(col("vec_id"), col("label"),
                     col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
      .filter(col("nrm") > 0)
    val a = n.select(col("vec_id").as("vid"), col("label"),
                     col("v").as("va"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("nid"), col("label"),
                     col("v").as("vb"), col("nrm").as("nb"))
    val scaled = Exact.e9(Vectors.dot(col("va"), col("vb")) / (col("na") * col("nb")) + 1)
    a.join(b, Seq("label")).filter(col("vid") =!= col("nid"))
      .select(col("vid"), TopKPairs.descIdKey(scaled, col("nid")).as("key"), col("nid"))
      .groupBy(col("vid"))
      .agg(TopKPairs.topK(col("key"), col("nid"), 3).as("top"))
      .select(col("vid").as("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
              col("col.id").as("neighbor_id"),
              (TopKPairs.descScore(col("col.key")).cast("double") / 1e9 - 1).as("cosine"))
  }

  private val knnEdgeCache = new Artifact[DataFrame]("q118_knn_sym_edges")

  /** The symmetrized q118 kNN graph (both directions, distinct),
    * materialized ONCE per (session, dir) to a src-bucketed warehouse
    * table and shared by its iterative consumers (q125 Adamic–Adar,
    * q126 label propagation) — each would otherwise re-run the kNN block
    * join AND re-shuffle the edge list per use/iteration. Bucketing on
    * src is enough for BOTH because every edge join they plan keys on
    * src: AA's degree + wedge self-joins, LPA's symmetric label gather.
    * The q90/q123 pattern: at 100 TB this is exactly a node-bucketed
    * edge table in the warehouse, scanned in place every iteration.
    */
  private def symKnnEdges(s: SparkSession, dir: String): DataFrame =
    knnEdgeCache.table(s, dir)(
        graft.sources.Warehouse.writeBucketed(_, _, "src", numBuckets = 32)) {
      val knn = knnGraph(s, dir).select(col("vec_id"), col("neighbor_id"))
      val di  = knn.select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      di.union(di.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    }

  /** Per-plane sign bits of the 1e3-quantized vector — the signature the
    * q40/q216 bucket keys concatenate. Kept in integer dot-product space
    * so the DuckDB oracle ([[bucketSqlExpr]]) replays it exactly.
    */
  private def quantSigBits(vec: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = {
    // ONE fused BandSigs traversal (planesPerBand = 1: each "band" is a
    // single plane's sign bit) instead of NumPlanes separate
    // aggregate(zip_with(...)) folds each carrying its plane as Dims
    // literal nodes — same integer-exact arithmetic (quantized values in
    // double slots, every product and ≤64-term sum < 2^53), same
    // "1"/"0" strings, ~NumPlanes·Dims fewer expression-tree nodes per
    // call site.
    val planes = Similarity.hyperplanes(NumPlanes, Dims)
    val q = transform(vec, x => floor(x * 1000).cast("double"))
    val sigs = org.apache.spark.sql.graftx.BandSigs.sigs(q, planes, 1)
    (0 until NumPlanes).map(i => sigs.getItem(i).cast("string"))
  }

  /** ANN with determinism-hardened bucketing: vectors are quantized to
    * integers (floor(x·1000)) before the ±1 hyperplane dot, so the bucket
    * bit is a comparison on an exact integer sum — immune to float fold
    * order. Exact cosine then runs on the candidate set only.
    */
  private def annTopKQuantized(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import graft.functions.Vectors._
    def bucket(vec: org.apache.spark.sql.Column) = concat(quantSigBits(vec): _*)
    val q = queries.select(col("vec_id").as("query_id"),
                           col("embedding").cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
      .withColumn("bucket", bucket(col("qv")))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
                          col("embedding").cast("array<double>").as("cv"))
      .withColumn("cn", norm(col("cv")))
      .withColumn("bucket", bucket(col("cv")))
    val scored = broadcast(q).join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
              cosinePrenormed(dot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine"))
    // bucket candidates are ~corpus/2^bits per query — unbounded at scale,
    // so the rank is the bounded heap, not a per-query window
    Similarity.rankTopK(scored, k)
  }

  /** Multi-probe LSH ANN (Lv et al., VLDB'07 "Multi-Probe LSH"): recall
    * of a (NumPlanes+1)-bucket union at the cost of ONE hash table — each
    * query probes its own signature bucket PLUS the `NumPlanes` buckets
    * at hamming distance 1, materialized as an exploded probe list on the
    * (tiny, broadcast) query side equi-joined to the SAME corpus
    * bucketing — never a hamming theta-join over the corpus. A corpus
    * vector matches at most one probe per query (the probe buckets are
    * pairwise distinct), so candidates need no dedup; top-k is the
    * bounded heap. 100 TB shape: corpus work is identical to q40 (one
    * signature pass, one bucket shuffle reused from the same layout);
    * only the broadcast side grows 9×.
    */
  private def multiprobeTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                             maxHam: Int = 1): DataFrame = {
    import graft.functions.Vectors._
    def flip(b: org.apache.spark.sql.Column) =
      when(b === "1", lit("0")).otherwise(lit("1"))
    // signature bits land in a materialized array column first so the
    // probe keys re-read sig[i] instead of re-deriving 8 dot products each
    val q0 = queries.select(col("vec_id").as("query_id"),
                            col("embedding").cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
      .withColumn("sig", array(quantSigBits(col("qv")): _*))
    val sigAt = (i: Int) => col("sig").getItem(i)
    // all flip sets of size ≤ maxHam (size 0 = the exact bucket); the
    // probe list is pairwise distinct by construction
    val flipSets: Seq[Set[Int]] =
      (0 to maxHam).flatMap(h => (0 until NumPlanes).combinations(h).map(_.toSet))
    val probes = array(flipSets.map { fs =>
      concat((0 until NumPlanes).map(j =>
        if (fs.contains(j)) flip(sigAt(j)) else sigAt(j)): _*)
    }: _*)
    val q = q0.withColumn("bucket", explode(probes)).drop("sig")
    val c = corpus.select(col("vec_id").as("neighbor_id"),
                          col("embedding").cast("array<double>").as("cv"))
      .withColumn("cn", norm(col("cv")))
      .withColumn("bucket", concat(quantSigBits(col("cv")): _*))
    val scored = broadcast(q).join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
              cosinePrenormed(dot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine"))
    Similarity.rankTopK(scored, k)
  }

  /** DuckDB literal for one ±1 hyperplane as a BIGINT list. */
  private def planeSql(plane: Seq[Double]): String =
    plane.map(_.toLong).mkString("[", ", ", "]")

  private val bucketSqlExpr: String = {
    val planes = Similarity.hyperplanes(NumPlanes, Dims)
    planes.map { p =>
      s"(CASE WHEN list_dot_product(list_transform(v, x -> CAST(floor(x * 1000) AS BIGINT)), ${planeSql(p)}) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
  }

  /** DuckDB hamming distance between two q.bucket/c.bucket signature
    * strings (per-position mismatch sum) — the q216/q217 probe predicate.
    * The ORACLE may theta-join on it (500 rows); the Spark side never
    * does (exploded probe keys + equi-join).
    */
  private val hamSqlExpr: String = (1 to NumPlanes)
    .map(i => s"(CASE WHEN substr(q.bucket,$i,1) != substr(c.bucket,$i,1) THEN 1 ELSE 0 END)")
    .mkString(" + ")

  /** q221's recall SLA, and the probe fan-out per budget — Σ_{h≤b} C(8,h):
    * 1 / 9 / 37 buckets per query. Shared by the Spark def and the oracle.
    */
  private val MultiprobeTargetRecall = 0.10
  private val ProbeCounts: Seq[(Int, Int)] = (0 to 2).map { b =>
    b -> (0 to b).map(h =>
      (0 until NumPlanes).combinations(h).size).sum
  }

  /** q177/q178 PQ parameters — shared by the defs and the oracle CTEs. */
  val PqM = 4
  val PqSubDim = 16
  private val PqK = 16
  private val PqIters = 2

  /** Codebooks memoized per (session, dir) — 4 driver Lloyd fits, each
    * k·subDim doubles (driver-sized by construction).
    */
  private val pqCbCache = new Artifact[Seq[Array[Seq[Double]]]]("pq_codebooks")
  private def pqCodebooks(s: SparkSession, dir: String): Seq[Array[Seq[Double]]] =
    pqCbCache(s, dir)(
      graft.operators.Pq.fitCodebooks(Tables(s, dir).embeddings,
        "vec_id", "embedding", PqM, PqSubDim, PqK, PqIters))

  /** The shared k=8/iters=2 kmeans assignment (with the double-cast
    * vector riding along), memoized per (session, dir) behind a lineage
    * cut — q97/q98/q99/q184 all consume this one fit instead of each
    * re-running Lloyd (the pqCodes discipline: fit once, serve many; at
    * scale this IS a materialized assignment table).
    */
  private val kmeans8Cache = new Artifact[DataFrame]("kmeans8")
  /** q262's candidate + pairwise-sim frames, memoized per (session,
    * dir) behind lineage cuts — the ranker pass is an index build the
    * 5-step greedy serves from (kmeans8's discipline).
    */
  private val mmrCandCache = new Artifact[DataFrame]("q262_cand")
  private val mmrPairsCache = new Artifact[DataFrame]("q262_pairs")
  private def mmrCand(s: SparkSession, dir: String): DataFrame =
    mmrCandCache.cut(s, dir) {
      val e = Tables(s, dir).embeddings
      Similarity.bruteForceTopK(
          e.filter(col("vec_id") < 20), e, "vec_id", "embedding", 10)
        .filter(col("cosine").isNotNull)
        .select(col("query_id"), col("neighbor_id").as("doc"),
                col("cosine").as("rel"))
    }
  private def mmrPairs(s: SparkSession, dir: String): DataFrame =
    mmrPairsCache.cut(s, dir) {
      val e = Tables(s, dir).embeddings
      val v = e.select(col("vec_id").as("doc"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", graft.functions.Vectors.norm(col("v")))
      val withVec = mmrCand(s, dir).join(v, "doc")
      withVec.as("a").join(withVec.as("b"),
          col("a.query_id") === col("b.query_id") &&
            col("a.doc") =!= col("b.doc"))
        .select(col("a.query_id").as("query_id"), col("a.doc").as("doc"),
                col("b.doc").as("sel_doc"),
                when(col("a.nrm") > 0 && col("b.nrm") > 0,
                     graft.functions.Vectors.dot(col("a.v"), col("b.v")) /
                       (col("a.nrm") * col("b.nrm"))).as("sim"))
    }

  /** The k=8 Lloyd centroids, fitted ONCE per (session, dir) — pure
    * corpus-fitted model state (deterministic md5 seeds) shared by the
    * kmeans8 assignment build and q246's driver-side centroid
    * separations, so the iters × k aggregation fit runs once.
    */
  private val cents8Memo = new Artifact[Array[Seq[Double]]]("kmeans8_centroids")
  private def cents8(s: SparkSession, dir: String): Array[Seq[Double]] =
    cents8Memo(s, dir)(
      graft.operators.Clustering.fitCentroids(
        Tables(s, dir).embeddings, "vec_id", "embedding", k = 8, iters = 2))

  private def kmeans8(s: SparkSession, dir: String): DataFrame =
    kmeans8Cache.cut(s, dir)(
      graft.operators.Clustering.kmeans(Tables(s, dir).embeddings,
        "vec_id", "embedding", k = 8, iters = 2, keepVectors = true,
        precomputed = Some(cents8(s, dir))))

  /** The PQ-codes mart contract (q139's discipline): one row per vector,
    * every code present — a null/duplicate row would silently distort
    * every ADC readout built on the mart.
    */
  val PqCodesContract: graft.model.Contract = graft.model.Contract(
    schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType) +:
      ((0 until PqM).map(j => org.apache.spark.sql.types.StructField(
          s"code_$j", org.apache.spark.sql.types.LongType)) ++
       (0 until PqM).map(j => org.apache.spark.sql.types.StructField(
          s"d2_$j", org.apache.spark.sql.types.DoubleType)) :+
       org.apache.spark.sql.types.StructField("distortion",
         org.apache.spark.sql.types.DoubleType))),
    notNull = Seq("vec_id") ++ (0 until PqM).map(j => s"code_$j"),
    uniqueKeys = Seq(Seq("vec_id")))

  /** q193's per-vector residual-PQ frame, memoized per (session, dir)
    * behind a lineage cut — the two codebook fits are index builds, not
    * per-read work (the pqCodes discipline).
    */
  private val residPqCache = new Artifact[DataFrame]("residual_pq")
  private def residualPqFrame(s: SparkSession, dir: String): DataFrame =
    residPqCache.cut(s, dir) {
      val e = Tables(s, dir).embeddings
      val n = e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val (_, cents) = ivfServingParts(s, dir)
      import s.implicits._
      val centDf = broadcast(
        cents.map { case (id, cv, _) => (id, cv.toSeq) }
          .toDF("centroid_id", "cv"))
      val resid = graft.core.Materialize.cut(
        Similarity.ivfAssignWith(n, cents)
          .select(col("vec_id"), col("v"), col("centroid_id"))
          .join(centDf, Seq("centroid_id"))
          .select(col("vec_id"), col("centroid_id"),
                  zip_with(col("v"), col("cv"), (a, b) => a - b).as("v")),
        "pq_residuals")
      val rcb = graft.operators.Pq.fitCodebooks(
        resid, "vec_id", "v", PqM, PqSubDim, PqK, PqIters, seedBase = "rpq")
      graft.operators.Pq.encode(resid, "vec_id", "v", rcb, PqSubDim)
        .select(col("vec_id") +: (0 until PqM).map(j => col(s"code_$j")) :+
                col("distortion").as("distortion_residual"): _*)
        .join(resid.select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
        .join(pqCodes(s, dir)
                .select(col("vec_id"), col("distortion").as("distortion_raw")),
              Seq("vec_id"))
        .select(col("vec_id"), col("centroid_id"),
                col("code_0"), col("code_1"), col("code_2"), col("code_3"),
                col("distortion_residual"), col("distortion_raw"),
                (col("distortion_residual") < col("distortion_raw")).as("improved"))
    }

  /** q194's drift frame, memoized per (session, dir) behind a lineage
    * cut — both fits plus both encodes run once per session.
    */
  private val pqDriftCache = new Artifact[DataFrame]("pq_drift")
  private def pqDriftFrame(s: SparkSession, dir: String): DataFrame =
    pqDriftCache.cut(s, dir) {
      val e = Tables(s, dir).embeddings
      val frozen = graft.operators.Pq.fitCodebooks(
        e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        PqM, PqSubDim, PqK, PqIters, seedBase = "fpq")
      val refit = graft.operators.Pq.fitCodebooks(
        e, "vec_id", "embedding", PqM, PqSubDim, PqK, PqIters, seedBase = "fpq")
      val encF = graft.operators.Pq.encode(e, "vec_id", "embedding", frozen, PqSubDim)
        .select(col("vec_id"), col("distortion").as("distortion_frozen"))
      val encR = graft.operators.Pq.encode(e, "vec_id", "embedding", refit, PqSubDim)
        .select(col("vec_id"), col("distortion").as("distortion_refit"))
      encF.join(encR, Seq("vec_id"))
        .select(col("vec_id"), (col("vec_id") % 2 === 1).as("is_delta"),
                col("distortion_frozen"), col("distortion_refit"),
                (col("distortion_refit") < col("distortion_frozen"))
                  .as("refit_improves"))
    }

  /** The encoded corpus, memoized per (session, dir) with a lineage cut.
    * The encode expression embeds M·k codebook centroids as literals —
    * cheap to EXECUTE (one scan) but expensive to RE-PLAN: a consumer
    * that joins it four times (q178's lut chain) re-analyzes the whole
    * literal-laden subtree per join and pays seconds of optimizer/codegen
    * time on a frame with thousands of rows. This is also the
    * production shape — encode once, serve many.
    */
  private val pqCodesCache = new Artifact[DataFrame]("pq_codes")
  private def pqCodes(s: SparkSession, dir: String): DataFrame =
    pqCodesCache.cut(s, dir) {
      val enc = graft.operators.Pq.encode(Tables(s, dir).embeddings,
        "vec_id", "embedding", pqCodebooks(s, dir), PqSubDim)
      graft.model.Contract.enforce("q177_pq_codes", enc, PqCodesContract)
      enc
    }

  /** One PQ kmeans-replay chain over source CTE `src` (must expose
    * (vec_id, v)): per-subspace seeds/iterations/assignment, CTE names
    * suffixed `$sfx` so two chains (raw + residual) can coexist in one
    * oracle; emits `${codesName}` = (vec_id, code_0..3, d2_0..3).
    */
  private def pqChainCtes(src: String, seedBase: String, sfx: String,
                          codesName: String): String =
    pqChainCtes(src, src, seedBase, sfx, codesName)

  /** As above with a SEPARATE encode source: codebooks fit on `src`,
    * every vector of `encSrc` assigned against them (the q194 frozen-
    * codebook drift shape).
    */
  private def pqChainCtes(src: String, encSrc: String, seedBase: String,
                          sfx: String, codesName: String): String = {
    def dist(vec: String, cen: String) =
      s"list_dot_product($vec, $vec) - 2 * list_dot_product($vec, $cen)" +
        s" + list_dot_product($cen, $cen)"
    def sub(j: Int): String = {
      val off = j * PqSubDim
      def iter(prev: String, i: Int) =
        s"""a${i}_$sfx$j AS (
           |  SELECT n.vec_id, n.v, s.cid,
           |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
           |      ${dist("n.v", "s.v")} ASC, s.cid ASC) AS rn
           |  FROM n_$sfx$j n CROSS JOIN $prev s),
           |u${i}_$sfx$j AS (
           |  SELECT cid, i AS dim,
           |    CAST(SUM(CAST(v[i] AS DECIMAL(18,7))) AS DOUBLE)
           |      / CAST(COUNT(*) AS DOUBLE) AS comp
           |  FROM (SELECT v, cid FROM a${i}_$sfx$j WHERE rn = 1)
           |       CROSS JOIN (SELECT unnest(range(1, ${PqSubDim + 1})) AS i)
           |  GROUP BY cid, i),
           |c${i}_$sfx$j AS (
           |  SELECT s.cid, coalesce(u.cv, s.v) AS v
           |  FROM $prev s LEFT JOIN
           |    (SELECT cid, list(comp ORDER BY dim) AS cv FROM u${i}_$sfx$j GROUP BY cid) u
           |    USING (cid))""".stripMargin
      s"""n_$sfx$j AS (SELECT vec_id, v[${off + 1}:${off + PqSubDim}] AS v FROM $src),
         |ne_$sfx$j AS (SELECT vec_id, v[${off + 1}:${off + PqSubDim}] AS v FROM $encSrc),
         |seeds_$sfx$j AS (
         |  SELECT CAST(rn - 1 AS BIGINT) AS cid, v FROM (
         |    SELECT v, row_number() OVER (
         |      ORDER BY md5('$seedBase$j|' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |    FROM n_$sfx$j) WHERE rn <= $PqK),
         |${iter(s"seeds_$sfx$j", 1)},
         |${iter(s"c1_$sfx$j", 2)},
         |af_$sfx$j AS (
         |  SELECT n.vec_id, s.cid, ${dist("n.v", "s.v")} AS d2,
         |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |      ${dist("n.v", "s.v")} ASC, s.cid ASC) AS rn
         |  FROM ne_$sfx$j n CROSS JOIN c2_$sfx$j s),
         |best_$sfx$j AS (
         |  SELECT vec_id, cid AS code_$j, floor(d2 * 1e9 + 0.5) / 1e9 AS d2_$j
         |  FROM af_$sfx$j WHERE rn = 1)""".stripMargin
    }
    s"""${(0 until PqM).map(sub).mkString(",\n")},
       |$codesName AS (
       |  SELECT b0.vec_id, b0.code_0, b1.code_1, b2.code_2, b3.code_3,
       |         b0.d2_0, b1.d2_1, b2.d2_2, b3.d2_3
       |  FROM best_${sfx}0 b0 JOIN best_${sfx}1 b1 USING (vec_id)
       |       JOIN best_${sfx}2 b2 USING (vec_id) JOIN best_${sfx}3 b3 USING (vec_id))""".stripMargin
  }

  /** The q177/q178 oracle head: per-subspace kmeans replays (the q97 CTE
    * shape sliced to 16 dims, per-subspace seed prefixes) joined into a
    * `codes` table (vec_id, code_0..3, d2_0..3).
    */
  private def pqOracleCtes: String =
    s"""n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${pqChainCtes("n", "pq", "", "codes")}""".stripMargin

  /** Shared q178/q179 lut CTEs: one (query_id, code_j, l_j) table per
    * subspace from the FINAL per-subspace codebooks; expects a `qs`
    * CTE with (query_id, v) in scope.
    */
  private def pqLutCtes: String = {
    def dist(vec: String, cen: String) =
      s"list_dot_product($vec, $vec) - 2 * list_dot_product($vec, $cen)" +
        s" + list_dot_product($cen, $cen)"
    (0 until PqM).map { j =>
      val off = j * PqSubDim
      s"""lut_$j AS (
         |  SELECT q.query_id, s.cid AS code_$j,
         |    ${dist(s"q.v[${off + 1}:${off + PqSubDim}]", "s.v")} AS l_$j
         |  FROM qs q CROSS JOIN c2_$j s)""".stripMargin
    }.mkString(",\n")
  }

  /** The q141 oracle body — the frozen-centroid (stale) serve chain,
    * shared verbatim by q141 and (as a derived table) q255.
    */
  private lazy val q141Oracle: String =
    s"""WITH $ivfIncListsCtes,
      |qprobe AS (
      |  SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, s.centroid_id,
      |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      (CASE WHEN q.nrm > 0 AND s.cnrm > 0
      |            THEN list_dot_product(q.v, s.cv) / (q.nrm * s.cnrm) END) DESC NULLS LAST,
      |      s.centroid_id) AS prn
      |  FROM n q CROSS JOIN seeds s WHERE q.vec_id < 50),
      |cand AS (
      |  SELECT p.query_id, p.qv, p.qn, l.vec_id AS neighbor_id, l.v AS cv2, l.nrm AS cn
      |  FROM (SELECT * FROM qprobe WHERE prn <= 4) p
      |  JOIN lists l ON p.centroid_id = l.centroid_id
      |  WHERE l.vec_id != p.query_id),
      |sc AS (
      |  SELECT query_id, neighbor_id,
      |    CASE WHEN qn > 0 AND cn > 0
      |         THEN list_dot_product(qv, cv2) / (qn * cn) END AS cosine
      |  FROM cand)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rank
      |      FROM sc)
      |WHERE rank <= 3""".stripMargin

  /** The unrolled 2-iteration Lloyd CTE chain shared by the q97 and q98
    * oracles: seeds → (assign, update) ×2 → final assignment `af`
    * (pick rows with rn = 1). One assign = cross join against the
    * k-row centroid CTE with d² = x·x − 2·x·c + c·c (sequential
    * list_dot_product folds, ties to the smaller cid); one update = the
    * q45 DECIMAL(18,7) exact per-(cluster, dim) means, empty clusters
    * keeping their previous centroid via the LEFT JOIN coalesce.
    */
  private def kmeansOracleCtes: String = {
    def dist(vec: String, cen: String) =
      s"list_dot_product($vec, $vec) - 2 * list_dot_product($vec, $cen)" +
        s" + list_dot_product($cen, $cen)"
    def iter(prev: String, i: Int) =
      s"""a$i AS (
         |  SELECT n.vec_id, n.v, s.cid,
         |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |      ${dist("n.v", "s.v")} ASC, s.cid ASC) AS rn
         |  FROM n CROSS JOIN $prev s),
         |u$i AS (
         |  SELECT cid, i AS dim,
         |    CAST(SUM(CAST(v[i] AS DECIMAL(18,7))) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE) AS comp
         |  FROM (SELECT v, cid FROM a$i WHERE rn = 1)
         |       CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
         |  GROUP BY cid, i),
         |c$i AS (
         |  SELECT s.cid, coalesce(u.cv, s.v) AS v
         |  FROM $prev s LEFT JOIN
         |    (SELECT cid, list(comp ORDER BY dim) AS cv FROM u$i GROUP BY cid) u
         |    USING (cid))""".stripMargin
    s"""n AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |seeds AS (
       |  SELECT CAST(rn - 1 AS BIGINT) AS cid, v FROM (
       |    SELECT v, row_number() OVER (
       |      ORDER BY md5('km|' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |    FROM n) WHERE rn <= 8),
       |${iter("seeds", 1)},
       |${iter("c1", 2)},
       |af AS (
       |  SELECT n.vec_id, s.cid, ${dist("n.v", "s.v")} AS d2,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      ${dist("n.v", "s.v")} ASC, s.cid ASC) AS rn
       |  FROM n CROSS JOIN c2 s)""".stripMargin
  }

  /** The persisted-IVF-index mart contract (the beyond-reference marts
    * carry the same enforcement as the Eurostat marts): assignment frame
    * schema exactly, every column non-null (a null centroid_id row would
    * silently vanish from every bucket-pruned probe), vec_id unique.
    * Enforced before each of the q139/q141/q146 index writes.
    */
  val IvfIndexContract: graft.model.Contract = graft.model.Contract(
    schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField("nrm",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("centroid_id",
        org.apache.spark.sql.types.LongType))),
    notNull = Seq("vec_id", "v", "nrm", "centroid_id"),
    uniqueKeys = Seq(Seq("vec_id")))

  /** The q139 index build, memoized per (session, dir) — q90's bucketed-
    * table memo discipline: the nearest-centroid assignment materializes
    * ONCE to a centroid_id-bucketed warehouse table; every serve call
    * (and the PlanQualitySpec probe) then reads the bucketed layout.
    */
  private[graft] val ivfIdxCache = new Artifact[DataFrame]("q139_ivf_index")
  private def ivfIndex(s: SparkSession, dir: String): DataFrame =
    ivfIdxCache.table(s, dir, Some(IvfIndexContract))(ivfBucketed) {
      val n = Tables(s, dir).embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.ivfIndexFrames(n, IvfNlist)._2
    }

  /** The centroid_id-bucketed layout every IVF index table is written in. */
  private def ivfBucketed(df: DataFrame, table: String): Unit =
    graft.sources.Warehouse.writeBucketed(df, table, "centroid_id", numBuckets = IvfNlist)

  /** The q139 serving path. `queryPred` selects the query batch —
    * exposed so PlanQualitySpec can serve a single query and assert the
    * probe scan touches ≤ nprobe of nlist buckets. Centroids are a tiny
    * driver-side Seq but cost a corpus TakeOrdered per pick — memoized
    * per (session, dir) alongside the index (a
    * racing double-pick is idempotent, the pick is a pure function of
    * the corpus).
    */
  private val ivfCentCache =
    new Artifact[Seq[(Long, Array[Double], Double)]]("q139_ivf_centroids")
  /** The memoized q139 serving pair — bucketed index frame + frozen
    * centroids — exposed for the streaming serving leg, which must score
    * against EXACTLY the session's persisted index to gate parity.
    */
  def ivfServingParts(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Long, Array[Double], Double)]) = {
    val e = Tables(s, dir).embeddings
    val cents = ivfCentCache(s, dir)(
      Similarity.ivfCentroids(
        e.select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
        IvfNlist))
    (ivfIndex(s, dir), cents)
  }

  def ivfServe(s: SparkSession, dir: String,
               queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val (idx, cents) = ivfServingParts(s, dir)
    Similarity.annTopKIvfServe(Tables(s, dir).embeddings.filter(queryPred),
      idx, cents, "vec_id", "embedding", k, nprobe = IvfNprobe)
  }

  /** The q141 incremental build, memoized per (session, dir): base
    * (even vec_ids) builds the bucketed index and freezes the centroids;
    * the delta (odd vec_ids) is assigned with those centroids and
    * APPENDED — the base files are never touched again.
    */
  private[graft] val ivfIncCache = new Artifact[DataFrame]("q141_ivf_index")
  private val ivfIncCentCache =
    new Artifact[Seq[(Long, Array[Double], Double)]]("q141_ivf_centroids")
  private def ivfIncCents(s: SparkSession, dir: String): Seq[(Long, Array[Double], Double)] =
    ivfIncCentCache(s, dir)(
      Similarity.ivfCentroids(
        Tables(s, dir).embeddings.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
        IvfNlist))
  private def ivfIncIndex(s: SparkSession, dir: String): DataFrame =
    ivfIncCache(s, dir) {
      val e = Tables(s, dir).embeddings
      def proj(pred: org.apache.spark.sql.Column) = e.filter(pred)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val cents = ivfIncCents(s, dir)
      val table = ivfIncCache.tableName(s, dir)
      ivfBucketed(Similarity.ivfAssignWith(proj(col("vec_id") % 2 === 0), cents), table)
      graft.sources.Warehouse.appendBucketed(
        Similarity.ivfAssignWith(proj(col("vec_id") % 2 === 1), cents),
        table, "centroid_id", numBuckets = IvfNlist)
      // contract checked on the FINAL table (post-append): uniqueness
      // must hold ACROSS batches — a re-delivered delta row would pass a
      // per-batch check and still corrupt every downstream serve
      graft.model.Contract.enforce("q141_ivf_index_appended",
        s.table(table), IvfIndexContract)
      s.table(table)
    }

  /** q197's drift readout, memoized per (session, dir) and cut (the
    * q194 discipline). See the defs-map comment for semantics.
    */
  private val ivfDriftCache = new Artifact[DataFrame]("ivf_drift")
  private def ivfDriftFrame(s: SparkSession, dir: String): DataFrame =
    ivfDriftCache.cut(s, dir)(ivfDriftPlan(s, dir))

  /** The LAZY q197 readout plan (no memo, no cut) — exposed so
    * PlanQualitySpec can assert the per-centroid aggregate rides the
    * index's bucketed layout without an Exchange.
    */
  private[graft] def ivfDriftPlan(s: SparkSession, dir: String): DataFrame = {
      val idx   = ivfIncIndex(s, dir)
      val cents = ivfIncCents(s, dir)
      val seedDf = broadcast(s.createDataFrame(
          cents.map { case (id, cv, cn) => (id, cv.toSeq, cn) })
        .toDF("centroid_id", "cv", "cnrm"))
      val cos = when(col("nrm") > 0 && col("cnrm") > 0,
        graft.functions.Vectors.dot(col("v"), col("cv")) /
          (col("nrm") * col("cnrm")))
      val per = idx.join(seedDf, Seq("centroid_id"))
        .select(col("centroid_id"), (col("vec_id") % 2 === 0).as("is_base"),
                Exact.e9(cos).as("q"))
      val corpusN = broadcast(per.agg(count(lit(1)).as("corpus_n")))
      val agg0 = per.groupBy(col("centroid_id")).agg(
        count(lit(1)).as("n_total"),
        sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
        sum(when(!col("is_base"), 1L).otherwise(0L)).as("n_delta"),
        sum(when(col("is_base"), col("q"))).as("bq"),
        count(when(col("is_base"), col("q"))).as("nbs"),
        sum(when(!col("is_base"), col("q"))).as("dq"),
        count(when(!col("is_base"), col("q"))).as("nds"))
      val skew = (col("n_total") * IvfNlist).cast("double") /
        col("corpus_n").cast("double")
      val meanB = when(col("nbs") > 0,
        col("bq").cast("double") / col("nbs").cast("double") / 1e9)
      val meanD = when(col("nds") > 0,
        col("dq").cast("double") / col("nds").cast("double") / 1e9)
      agg0.crossJoin(corpusN)
        .select(col("centroid_id"), col("n_total"), col("n_base"),
                col("n_delta"), skew.as("skew_ratio"),
                meanB.as("mean_cos_base"), meanD.as("mean_cos_delta"),
                (skew > 2.0 ||
                 (col("nbs") > 0 && col("nds") > 0 && meanD < meanB - 0.05))
                  .as("needs_rebuild"))
  }

  /** The q141 serving path over the incrementally-built index. */
  def ivfServeIncremental(s: SparkSession, dir: String,
                          queryPred: org.apache.spark.sql.Column, k: Int): DataFrame =
    Similarity.annTopKIvfServe(
      Tables(s, dir).embeddings.filter(queryPred),
      ivfIncIndex(s, dir), ivfIncCents(s, dir),
      "vec_id", "embedding", k, nprobe = IvfNprobe)

  /** q146 rebuild centroids: re-picked from the APPENDED index's own
    * rows. The pick is a pure function of the (vec_id, v) set —
    * md5-ordered seed selection — so rebuilding from the drifted table
    * lands on exactly the centroids a one-shot full-corpus build picks.
    */
  private val ivfRebCentCache =
    new Artifact[Seq[(Long, Array[Double], Double)]]("q146_ivf_centroids")
  private def ivfRebCents(s: SparkSession, dir: String): Seq[(Long, Array[Double], Double)] =
    ivfRebCentCache(s, dir)(
      Similarity.ivfCentroids(
        ivfIncIndex(s, dir).select(col("vec_id"), col("v")), IvfNlist))

  /** The q146 index REBUILD (re-cluster + compaction): q141's appended
    * index assigns deltas under base-frozen centroids — correct, but
    * after many appends the lists skew toward where the base centroids
    * were and recall drifts (SimilaritySpec demonstrates the cliff).
    * The rebuild reads the appended table ONCE, re-picks centroids from
    * the full row set, re-assigns every row, and writes a FRESH bucketed
    * table — which also compacts the per-append file fragments into one
    * clean per-bucket layout. Cost: one index scan + one bucketed write;
    * the raw corpus is never re-read.
    */
  private val ivfRebCache = new Artifact[DataFrame]("q146_ivf_index")
  private def ivfRebIndex(s: SparkSession, dir: String): DataFrame =
    ivfRebCache.table(s, dir, Some(IvfIndexContract))(ivfBucketed)(
      Similarity.ivfAssignWith(
        ivfIncIndex(s, dir).select(col("vec_id"), col("v")), ivfRebCents(s, dir)))

  /** The q146 serving path over the rebuilt index. */
  def ivfServeRebuilt(s: SparkSession, dir: String,
                      queryPred: org.apache.spark.sql.Column, k: Int): DataFrame =
    Similarity.annTopKIvfServe(
      Tables(s, dir).embeddings.filter(queryPred),
      ivfRebIndex(s, dir), ivfRebCents(s, dir),
      "vec_id", "embedding", k, nprobe = IvfNprobe)

  private val baseOracles: Map[String, String] = Map(
    "q37_cosine_topk" ->
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CASE WHEN q.nrm > 0 AND c.nrm > 0
        |         THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END AS cosine
        |  FROM n q, n c WHERE q.vec_id < 20 AND c.vec_id != q.vec_id)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rank
        |      FROM s)
        |WHERE rank <= 3""".stripMargin,
    "q38_embedding_neardup" ->
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
        |FROM n a, n b
        |WHERE a.vec_id < b.vec_id AND a.nrm > 0 AND b.nrm > 0
        |  AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4""".stripMargin,
    "q274_neardup_topk" ->
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS doc_id, b.vec_id AS neighbor_id,
        |    CAST(floor((list_dot_product(a.v, b.v) / (a.nrm * b.nrm) + 1)
        |               * 1e9 + 0.5) AS BIGINT) AS scaled
        |  FROM n a, n b
        |  WHERE a.vec_id <> b.vec_id AND a.nrm > 0 AND b.nrm > 0
        |    AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4)
        |SELECT doc_id, neighbor_id,
        |  CAST(scaled AS DOUBLE) / 1e9 - 1 AS cosine_q
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY scaled DESC, neighbor_id ASC) AS rn FROM p) z
        |WHERE rn <= 5""".stripMargin,
    "q45_embedding_centroids" ->
      """SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS dim_pos,
        |  COUNT(*) AS n_vectors,
        |  CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,7))) AS DOUBLE)
        |    / CAST(COUNT(embedding[i]) AS DOUBLE) AS centroid_component
        |FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
        |GROUP BY 1, 2""".stripMargin,
    "q177_product_quantize" ->
      s"""WITH $pqOracleCtes
         |SELECT vec_id, code_0, code_1, code_2, code_3,
         |  d2_0, d2_1, d2_2, d2_3,
         |  d2_0 + d2_1 + d2_2 + d2_3 AS distortion
         |FROM codes""".stripMargin,

    "q178_pq_adc_topk" ->
      s"""WITH $pqOracleCtes,
         |qs AS (SELECT vec_id AS query_id, v FROM n WHERE vec_id < 20),
         |$pqLutCtes,
         |sc AS (
         |  SELECT l0.query_id, c.vec_id AS neighbor_id,
         |    floor((l_0 + l_1 + l_2 + l_3) * 1e9 + 0.5) / 1e9 AS approx_d2
         |  FROM codes c
         |  JOIN lut_0 l0 ON c.code_0 = l0.code_0
         |  JOIN lut_1 l1 ON c.code_1 = l1.code_1 AND l1.query_id = l0.query_id
         |  JOIN lut_2 l2 ON c.code_2 = l2.code_2 AND l2.query_id = l0.query_id
         |  JOIN lut_3 l3 ON c.code_3 = l3.code_3 AND l3.query_id = l0.query_id
         |  WHERE c.vec_id != l0.query_id)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, approx_d2
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY approx_d2 ASC, neighbor_id ASC) AS rank FROM sc)
         |WHERE rank <= 3""".stripMargin,

    // q178's ADC chain at k=10 as the shortlist, exact cosine rerank on
    // the shortlist only.
    "q185_pq_rerank" ->
      s"""WITH $pqOracleCtes,
         |qs AS (SELECT vec_id AS query_id, v FROM n WHERE vec_id < 20),
         |$pqLutCtes,
         |sc0 AS (
         |  SELECT l0.query_id, c.vec_id AS neighbor_id,
         |    floor((l_0 + l_1 + l_2 + l_3) * 1e9 + 0.5) / 1e9 AS approx_d2
         |  FROM codes c
         |  JOIN lut_0 l0 ON c.code_0 = l0.code_0
         |  JOIN lut_1 l1 ON c.code_1 = l1.code_1 AND l1.query_id = l0.query_id
         |  JOIN lut_2 l2 ON c.code_2 = l2.code_2 AND l2.query_id = l0.query_id
         |  JOIN lut_3 l3 ON c.code_3 = l3.code_3 AND l3.query_id = l0.query_id
         |  WHERE c.vec_id != l0.query_id),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx_d2 ASC, neighbor_id ASC) AS rnk FROM sc0)
         |  WHERE rnk <= 10),
         |nv AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n),
         |rs AS (
         |  SELECT s.query_id, s.neighbor_id,
         |    CASE WHEN q.nrm > 0 AND c.nrm > 0
         |         THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END AS cosine
         |  FROM short s JOIN nv q ON s.query_id = q.vec_id
         |               JOIN nv c ON s.neighbor_id = c.vec_id)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rank FROM rs)
         |WHERE rank <= 3""".stripMargin,

    // q179: pq codes + the q64 IVF probe CTEs; candidates restricted to
    // probed lists before the lut joins.
    "q179_ivfpq_topk" ->
      s"""WITH $pqOracleCtes,
         |nrm2 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n),
         |iseeds AS (
         |  SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
         |  FROM nrm2 ORDER BY md5('ivf|' || CAST(vec_id AS VARCHAR)), vec_id
         |  LIMIT 16),
         |asg2 AS (
         |  SELECT t.vec_id, s.centroid_id,
         |    row_number() OVER (PARTITION BY t.vec_id ORDER BY
         |      (CASE WHEN t.nrm > 0 AND s.cnrm > 0
         |            THEN list_dot_product(t.v, s.cv) / (t.nrm * s.cnrm)
         |       END) DESC NULLS LAST, s.centroid_id) AS rn
         |  FROM nrm2 t CROSS JOIN iseeds s),
         |lists2 AS (SELECT vec_id, centroid_id FROM asg2 WHERE rn = 1),
         |qs AS (SELECT vec_id AS query_id, v,
         |              sqrt(list_dot_product(v, v)) AS qn
         |       FROM n WHERE vec_id < 20),
         |qprobe2 AS (
         |  SELECT q.query_id, s.centroid_id,
         |    row_number() OVER (PARTITION BY q.query_id ORDER BY
         |      (CASE WHEN q.qn > 0 AND s.cnrm > 0
         |            THEN list_dot_product(q.v, s.cv) / (q.qn * s.cnrm)
         |       END) DESC NULLS LAST, s.centroid_id) AS prn
         |  FROM qs q CROSS JOIN iseeds s),
         |probes AS (SELECT query_id, centroid_id FROM qprobe2 WHERE prn <= 4),
         |$pqLutCtes,
         |cand2 AS (
         |  SELECT p.query_id, c.vec_id AS neighbor_id,
         |         c.code_0, c.code_1, c.code_2, c.code_3
         |  FROM codes c
         |  JOIN lists2 l ON c.vec_id = l.vec_id
         |  JOIN probes p ON l.centroid_id = p.centroid_id
         |  WHERE c.vec_id != p.query_id),
         |sc AS (
         |  SELECT cd.query_id, cd.neighbor_id,
         |    floor((l_0 + l_1 + l_2 + l_3) * 1e9 + 0.5) / 1e9 AS approx_d2
         |  FROM cand2 cd
         |  JOIN lut_0 l0 ON cd.query_id = l0.query_id AND cd.code_0 = l0.code_0
         |  JOIN lut_1 l1 ON cd.query_id = l1.query_id AND cd.code_1 = l1.code_1
         |  JOIN lut_2 l2 ON cd.query_id = l2.query_id AND cd.code_2 = l2.code_2
         |  JOIN lut_3 l3 ON cd.query_id = l3.query_id AND cd.code_3 = l3.code_3)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, approx_d2
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY approx_d2 ASC, neighbor_id ASC) AS rank FROM sc)
         |WHERE rank <= 3""".stripMargin,

    // q97's assignment CTEs + q157's apportionment arithmetic over
    // clusters + md5-rank picks.
    "q184_coreset_sample" ->
      s"""WITH $kmeansOracleCtes,
         |asg AS (SELECT vec_id, cid FROM af WHERE rn = 1),
         |counts AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_c FROM asg GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_c) AS BIGINT) AS nn FROM counts),
         |q AS (
         |  SELECT cid, n_c, (100 * n_c) // nn AS base_c,
         |         100 * n_c - ((100 * n_c) // nn) * nn AS rem
         |  FROM counts CROSS JOIN tot),
         |sb AS (SELECT sum(base_c) AS sum_base FROM q),
         |rk AS (SELECT cid, base_c,
         |              row_number() OVER (ORDER BY rem DESC, cid) AS seat_rank
         |       FROM q),
         |tgt AS (
         |  SELECT cid,
         |    base_c + CASE WHEN seat_rank <= 100 - (SELECT sum_base FROM sb)
         |                  THEN 1 ELSE 0 END AS target_n
         |  FROM rk),
         |keyed AS (
         |  SELECT vec_id, cid, md5('coreset|' || CAST(vec_id AS VARCHAR)) AS k
         |  FROM asg),
         |ranked AS (
         |  SELECT vec_id, cid,
         |         row_number() OVER (PARTITION BY cid ORDER BY k, vec_id) AS sr
         |  FROM keyed)
         |SELECT r.cid AS cluster_id, r.vec_id, CAST(r.sr AS BIGINT) AS strat_rank,
         |       CAST(t.target_n AS BIGINT) AS target_n
         |FROM ranked r JOIN tgt t ON r.cid = t.cid
         |WHERE r.sr <= t.target_n""".stripMargin,

    // Raw chain (codes) + the q179 assignment CTEs + residual build +
    // residual chain (rcodes), joined per vector.
    "q193_residual_pq" ->
      s"""WITH $pqOracleCtes,
         |nrm2 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n),
         |iseeds AS (
         |  SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
         |  FROM nrm2 ORDER BY md5('ivf|' || CAST(vec_id AS VARCHAR)), vec_id
         |  LIMIT 16),
         |asg2 AS (
         |  SELECT t.vec_id, s.centroid_id,
         |    row_number() OVER (PARTITION BY t.vec_id ORDER BY
         |      (CASE WHEN t.nrm > 0 AND s.cnrm > 0
         |            THEN list_dot_product(t.v, s.cv) / (t.nrm * s.cnrm)
         |       END) DESC NULLS LAST, s.centroid_id) AS rn
         |  FROM nrm2 t CROSS JOIN iseeds s),
         |lists2 AS (SELECT vec_id, centroid_id FROM asg2 WHERE rn = 1),
         |rres AS (
         |  SELECT l.vec_id, l.centroid_id,
         |    list_transform(range(1, 65), i -> nv.v[i] - s.cv[i]) AS v
         |  FROM lists2 l JOIN nrm2 nv USING (vec_id)
         |       JOIN iseeds s ON l.centroid_id = s.centroid_id),
         |${pqChainCtes("rres", "rpq", "r", "rcodes")}
         |SELECT r.vec_id, l.centroid_id,
         |  r.code_0, r.code_1, r.code_2, r.code_3,
         |  r.d2_0 + r.d2_1 + r.d2_2 + r.d2_3 AS distortion_residual,
         |  c.d2_0 + c.d2_1 + c.d2_2 + c.d2_3 AS distortion_raw,
         |  (r.d2_0 + r.d2_1 + r.d2_2 + r.d2_3) <
         |    (c.d2_0 + c.d2_1 + c.d2_2 + c.d2_3) AS improved
         |FROM rcodes r JOIN codes c USING (vec_id)
         |     JOIN lists2 l USING (vec_id)""".stripMargin,

    // Two fpq-seeded chains — fit on the even base vs fit on the full
    // corpus — both ENCODING the full corpus; distortions joined per
    // vector.
    "q194_pq_codebook_drift" ->
      s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nb AS (SELECT * FROM n WHERE vec_id % 2 = 0),
         |${pqChainCtes("nb", "n", "fpq", "f", "fcodes")},
         |${pqChainCtes("n", "n", "fpq", "g", "gcodes")}
         |SELECT f.vec_id, (f.vec_id % 2 = 1) AS is_delta,
         |  f.d2_0 + f.d2_1 + f.d2_2 + f.d2_3 AS distortion_frozen,
         |  g.d2_0 + g.d2_1 + g.d2_2 + g.d2_3 AS distortion_refit,
         |  (g.d2_0 + g.d2_1 + g.d2_2 + g.d2_3) <
         |    (f.d2_0 + f.d2_1 + f.d2_2 + f.d2_3) AS refit_improves
         |FROM fcodes f JOIN gcodes g USING (vec_id)""".stripMargin,

    "q97_kmeans" ->
      s"""WITH $kmeansOracleCtes
         |SELECT vec_id, cid AS cluster_id,
         |  floor(d2 * 1e9 + 0.5) / 1e9 AS dist2
         |FROM af WHERE rn = 1""".stripMargin,

    // q246: q97's Lloyd CTEs rebuilt (identical decimal-exact centroids),
    // same quantized sqrt/sum/ratio arithmetic, centroid separations from
    // the SQL-side c2 frame — component-identical to the Spark driver's.
    "q246_davies_bouldin" ->
      s"""WITH $kmeansOracleCtes,
         |asg AS (
         |  SELECT vec_id, cid, floor(d2 * 1e9 + 0.5) / 1e9 AS dist2
         |  FROM af WHERE rn = 1),
         |pdd AS (
         |  SELECT cid, CAST(floor(sqrt(dist2) * 1e9 + 0.5) AS BIGINT) AS d_e9
         |  FROM asg),
         |sf AS (
         |  SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
         |         CAST(sum(d_e9) AS BIGINT) AS sum_d_e9
         |  FROM pdd GROUP BY 1),
         |sx AS (
         |  SELECT cid, n_members,
         |    CAST(sum_d_e9 AS DOUBLE) / (CAST(n_members AS DOUBLE) * 1e9)
         |      AS s_scatter
         |  FROM sf),
         |cp AS (
         |  SELECT a.cid AS cid_i, b.cid AS cid_j,
         |    CAST(floor(sqrt(list_dot_product(a.v, a.v)
         |                    - 2 * list_dot_product(a.v, b.v)
         |                    + list_dot_product(b.v, b.v)) * 1e9 + 0.5)
         |         AS BIGINT) AS m_e9
         |  FROM c2 a JOIN c2 b ON a.cid <> b.cid),
         |rt AS (
         |  SELECT cp.cid_i, si.n_members, si.s_scatter,
         |    CAST(floor(((si.s_scatter + sj.s_scatter)
         |                / (CAST(cp.m_e9 AS DOUBLE) / 1e9)) * 1e9 + 0.5)
         |         AS BIGINT) AS r_e9
         |  FROM cp
         |  JOIN sx si ON si.cid = cp.cid_i
         |  JOIN sx sj ON sj.cid = cp.cid_j
         |  WHERE cp.m_e9 > 0)
         |SELECT cid_i AS cluster_id, n_members, s_scatter,
         |  CAST(max(r_e9) AS DOUBLE) / 1e9 AS db_i
         |FROM rt GROUP BY 1, 2, 3""".stripMargin,

    // q252: q97's Lloyd CTEs + parity occupancy counts + q112's exact
    // smoothed-PSI arithmetic (one 1e-9-quantized term per cluster,
    // DECIMAL-exact total).
    "q252_embedding_drift" ->
      s"""WITH $kmeansOracleCtes,
         |asg AS (SELECT vec_id, cid AS cluster_id FROM af WHERE rn = 1),
         |cl AS (SELECT CAST(unnest(range(8)) AS BIGINT) AS cluster_id),
         |rc AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS ref_cnt
         |       FROM asg WHERE vec_id % 2 = 0 GROUP BY 1),
         |cc AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cur_cnt
         |       FROM asg WHERE vec_id % 2 = 1 GROUP BY 1),
         |j AS (
         |  SELECT cl.cluster_id,
         |    CAST(coalesce(rc.ref_cnt, 0) AS BIGINT) AS ref_cnt,
         |    CAST(coalesce(cc.cur_cnt, 0) AS BIGINT) AS cur_cnt
         |  FROM cl LEFT JOIN rc USING (cluster_id)
         |          LEFT JOIN cc USING (cluster_id)),
         |tt AS (SELECT CAST(sum(ref_cnt) AS BIGINT) AS n_ref,
         |              CAST(sum(cur_cnt) AS BIGINT) AS n_cur FROM j),
         |pb AS (
         |  SELECT cluster_id, ref_cnt, cur_cnt,
         |    floor(((CAST(ref_cnt AS DOUBLE) + 0.5) / (CAST(n_ref AS DOUBLE) + 4.0)
         |           - (CAST(cur_cnt AS DOUBLE) + 0.5) / (CAST(n_cur AS DOUBLE) + 4.0))
         |          * ln(((CAST(ref_cnt AS DOUBLE) + 0.5) / (CAST(n_ref AS DOUBLE) + 4.0))
         |               / ((CAST(cur_cnt AS DOUBLE) + 0.5) / (CAST(n_cur AS DOUBLE) + 4.0)))
         |          * 1e9 + 0.5) / 1e9 AS psi_term
         |  FROM j CROSS JOIN tt),
         |tot AS (SELECT CAST(sum(CAST(psi_term AS DECIMAL(18,9))) AS DOUBLE)
         |               AS psi_total FROM pb)
         |SELECT pb.cluster_id, pb.ref_cnt, pb.cur_cnt, pb.psi_term,
         |  tot.psi_total, tot.psi_total > 0.2 AS is_drifted
         |FROM pb CROSS JOIN tot""".stripMargin,

    "q98_semantic_dedup" ->
      s"""WITH $kmeansOracleCtes,
         |asg AS (SELECT vec_id, cid FROM af WHERE rn = 1),
         |w AS (
         |  SELECT asg.vec_id, asg.cid, n.v,
         |         sqrt(list_dot_product(n.v, n.v)) AS nrm
         |  FROM asg JOIN n USING (vec_id)),
         |dups AS (
         |  SELECT b.vec_id, CAST(count(*) AS BIGINT) AS n_dup
         |  FROM w a JOIN w b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE a.nrm > 0 AND b.nrm > 0
         |    AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
         |  GROUP BY b.vec_id)
         |SELECT w.vec_id, w.cid AS cluster_id,
         |  coalesce(n_dup, 0) AS n_dup_neighbors,
         |  coalesce(n_dup, 0) = 0 AS keep
         |FROM w LEFT JOIN dups USING (vec_id)""".stripMargin,

    "q99_cluster_medoids" ->
      s"""WITH $kmeansOracleCtes,
         |asg AS (
         |  SELECT vec_id, cid, floor(d2 * 1e9 + 0.5) / 1e9 AS dist2
         |  FROM af WHERE rn = 1),
         |ranked AS (
         |  SELECT vec_id, cid, dist2,
         |    row_number() OVER (PARTITION BY cid
         |                       ORDER BY dist2 ASC, vec_id ASC) AS mrn,
         |    count(*) OVER (PARTITION BY cid) AS cluster_size
         |  FROM asg)
         |SELECT cid AS cluster_id, vec_id AS medoid_id,
         |  dist2 AS medoid_dist2, CAST(cluster_size AS BIGINT) AS cluster_size
         |FROM ranked WHERE mrn = 1""".stripMargin,

    "q64_ann_ivf" ->
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |seeds AS (
        |  SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
        |  FROM n ORDER BY md5('ivf|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |assign AS (
        |  SELECT n.vec_id, n.v, n.nrm, s.centroid_id,
        |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |      (CASE WHEN n.nrm > 0 AND s.cnrm > 0
        |            THEN list_dot_product(n.v, s.cv) / (n.nrm * s.cnrm) END) DESC NULLS LAST,
        |      s.centroid_id) AS rn
        |  FROM n CROSS JOIN seeds s),
        |lists AS (SELECT vec_id, v, nrm, centroid_id FROM assign WHERE rn = 1),
        |qprobe AS (
        |  SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, s.centroid_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      (CASE WHEN q.nrm > 0 AND s.cnrm > 0
        |            THEN list_dot_product(q.v, s.cv) / (q.nrm * s.cnrm) END) DESC NULLS LAST,
        |      s.centroid_id) AS prn
        |  FROM n q CROSS JOIN seeds s WHERE q.vec_id < 50),
        |cand AS (
        |  SELECT p.query_id, p.qv, p.qn, l.vec_id AS neighbor_id, l.v AS cv2, l.nrm AS cn
        |  FROM (SELECT * FROM qprobe WHERE prn <= 4) p
        |  JOIN lists l ON p.centroid_id = l.centroid_id
        |  WHERE l.vec_id != p.query_id),
        |sc AS (
        |  SELECT query_id, neighbor_id,
        |    CASE WHEN qn > 0 AND cn > 0
        |         THEN list_dot_product(qv, cv2) / (qn * cn) END AS cosine
        |  FROM cand)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rank
        |      FROM sc)
        |WHERE rank <= 3""".stripMargin,
    // q64's oracle with the cross-label candidate filter and label
    // outputs — same IVF arithmetic, k=5.
    "q138_hard_negatives" ->
      """WITH n AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         CAST(embedding AS DOUBLE[]) AS v,
        |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |seeds AS (
        |  SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
        |  FROM n ORDER BY md5('ivf|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |assign AS (
        |  SELECT n.vec_id, n.label, n.v, n.nrm, s.centroid_id,
        |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |      (CASE WHEN n.nrm > 0 AND s.cnrm > 0
        |            THEN list_dot_product(n.v, s.cv) / (n.nrm * s.cnrm) END) DESC NULLS LAST,
        |      s.centroid_id) AS rn
        |  FROM n CROSS JOIN seeds s),
        |lists AS (SELECT vec_id, label, v, nrm, centroid_id FROM assign WHERE rn = 1),
        |qprobe AS (
        |  SELECT q.vec_id AS query_id, q.label AS qlab, q.v AS qv, q.nrm AS qn, s.centroid_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      (CASE WHEN q.nrm > 0 AND s.cnrm > 0
        |            THEN list_dot_product(q.v, s.cv) / (q.nrm * s.cnrm) END) DESC NULLS LAST,
        |      s.centroid_id) AS prn
        |  FROM n q CROSS JOIN seeds s WHERE q.vec_id < 50),
        |cand AS (
        |  SELECT p.query_id, p.qlab, p.qv, p.qn,
        |         l.vec_id AS neighbor_id, l.label AS nlab, l.v AS cv2, l.nrm AS cn
        |  FROM (SELECT * FROM qprobe WHERE prn <= 4) p
        |  JOIN lists l ON p.centroid_id = l.centroid_id
        |  WHERE l.vec_id != p.query_id AND l.label != p.qlab),
        |sc AS (
        |  SELECT query_id, qlab, neighbor_id, nlab,
        |    CASE WHEN qn > 0 AND cn > 0
        |         THEN list_dot_product(qv, cv2) / (qn * cn) END AS cosine
        |  FROM cand)
        |SELECT query_id, qlab AS query_label, CAST(rank AS BIGINT) AS rank,
        |       neighbor_id, nlab AS neighbor_label, cosine
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rank
        |      FROM sc)
        |WHERE rank <= 5""".stripMargin,

    "q40_ann_lsh" ->
      s"""WITH n AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |b AS (SELECT vec_id, v, nrm, $bucketSqlExpr AS bucket FROM n),
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CASE WHEN q.nrm > 0 AND c.nrm > 0
         |         THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END AS cosine
         |  FROM b q JOIN b c ON q.bucket = c.bucket
         |  WHERE q.vec_id < 50 AND c.vec_id != q.vec_id)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rank
         |      FROM s)
         |WHERE rank <= 3""".stripMargin,

    // q40's oracle with the join widened to hamming ≤ 1 (the oracle may
    // theta-join — 500 rows; the Spark side equi-joins exploded probes).
    "q216_multiprobe_lsh" ->
      s"""WITH n AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |b AS (SELECT vec_id, v, nrm, $bucketSqlExpr AS bucket FROM n),
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CASE WHEN q.nrm > 0 AND c.nrm > 0
         |         THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END AS cosine
         |  FROM b q JOIN b c ON ($hamSqlExpr) <= 1
         |  WHERE q.vec_id < 50 AND c.vec_id != q.vec_id)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rank
         |      FROM s)
         |WHERE rank <= 3""".stripMargin,

    "q217_multiprobe_recall" ->
      s"""WITH n AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |b AS (SELECT vec_id, v, nrm, $bucketSqlExpr AS bucket FROM n),
         |gt AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        CASE WHEN q.nrm > 0 AND c.nrm > 0
         |             THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END DESC NULLS LAST,
         |        c.vec_id) AS rank
         |    FROM n q, n c WHERE q.vec_id < 50 AND c.vec_id != q.vec_id)
         |  WHERE rank <= 3),
         |ann0 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        CASE WHEN q.nrm > 0 AND c.nrm > 0
         |             THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END DESC NULLS LAST,
         |        c.vec_id) AS rank
         |    FROM b q JOIN b c ON q.bucket = c.bucket
         |    WHERE q.vec_id < 50 AND c.vec_id != q.vec_id)
         |  WHERE rank <= 3),
         |ann1 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        CASE WHEN q.nrm > 0 AND c.nrm > 0
         |             THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END DESC NULLS LAST,
         |        c.vec_id) AS rank
         |    FROM b q JOIN b c ON ($hamSqlExpr) <= 1
         |    WHERE q.vec_id < 50 AND c.vec_id != q.vec_id)
         |  WHERE rank <= 3),
         |ann2 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        CASE WHEN q.nrm > 0 AND c.nrm > 0
         |             THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END DESC NULLS LAST,
         |        c.vec_id) AS rank
         |    FROM b q JOIN b c ON ($hamSqlExpr) <= 2
         |    WHERE q.vec_id < 50 AND c.vec_id != q.vec_id)
         |  WHERE rank <= 3),
         |counts AS (
         |  SELECT 0 AS probe_bits, count(*) AS found
         |  FROM gt JOIN ann0 USING (query_id, neighbor_id)
         |  UNION ALL
         |  SELECT 1 AS probe_bits, count(*) AS found
         |  FROM gt JOIN ann1 USING (query_id, neighbor_id)
         |  UNION ALL
         |  SELECT 2 AS probe_bits, count(*) AS found
         |  FROM gt JOIN ann2 USING (query_id, neighbor_id)),
         |tot AS (SELECT count(*) AS total FROM gt)
         |SELECT CAST(probe_bits AS BIGINT) AS probe_bits,
         |       CAST(found AS BIGINT) AS found, total,
         |       CAST(found AS DOUBLE) / CAST(total AS DOUBLE) AS recall
         |FROM counts CROSS JOIN tot""".stripMargin,

    // Mirrors the Spark side exactly: BIGINT quantized vector, one
    // integer dot per plane, descale once at the end.
    "q117_random_projection" -> {
      val planes = Similarity.hyperplanes(ProjDims, Dims)
      val sums = planes
        .map(p => s"CAST(list_dot_product(qv, ${planeSql(p)}) AS BIGINT)")
        .mkString("[", ",\n    ", "]")
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |                   x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |s AS (SELECT vec_id, $sums AS sums FROM q)
         |SELECT vec_id, CAST(i AS BIGINT) AS out_dim, sums[i] AS proj_q,
         |  CAST(sums[i] AS DOUBLE) / 1000.0 AS proj
         |FROM s CROSS JOIN (SELECT unnest(range(1, ${ProjDims + 1})) AS i)""".stripMargin
    },

    "q118_knn_graph" ->
      """WITH n AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS vid, b.vec_id AS nid,
        |    floor((list_dot_product(a.v, b.v) / (a.nrm * b.nrm) + 1) * 1e9 + 0.5) AS scaled
        |  FROM n a JOIN n b ON a.label = b.label AND b.vec_id != a.vec_id
        |  WHERE a.nrm > 0 AND b.nrm > 0)
        |SELECT vec_id, CAST(rn AS BIGINT) AS rank, neighbor_id, cosine FROM (
        |  SELECT vid AS vec_id, nid AS neighbor_id, scaled / 1e9 - 1 AS cosine,
        |    row_number() OVER (PARTITION BY vid ORDER BY scaled DESC, nid ASC) AS rn
        |  FROM p)
        |WHERE rn <= 3""".stripMargin,

    // range(1, 65) mirrors q45's convention (embeddings are 64-wide by
    // generator contract; the Spark side derives width from size(v)).
    "q119_covariance" -> q119Oracle,

    // The q119 covariance feeds the same 12 power-iteration steps the
    // Spark driver runs — every matvec/norm/divide is a sequential
    // list_dot_product fold, so the chain is bit-identical.
    "q121_pca_projection" -> pcaOracle,

    // dims derive from the ACTUAL array per row (posexplode parity for any
    // length / NULL arrays), never a hardcoded width.
    "q85_embedding_quantize" ->
      s"""WITH longf AS (
         |  SELECT vec_id, CAST(i AS BIGINT) AS dim_pos,
         |         CAST(embedding[i] AS DOUBLE) AS v
         |  FROM (SELECT vec_id, embedding,
         |               unnest(generate_series(1, len(embedding))) AS i
         |        FROM embeddings)),
         |stats AS (SELECT dim_pos, min(v) AS mn, max(v) AS mx FROM longf GROUP BY 1)
         |SELECT vec_id, dim_pos,
         |  CAST(CASE WHEN mx > mn
         |            THEN floor((v - mn) / (mx - mn) * 255 + 0.5)
         |            ELSE 0.0 END AS BIGINT) AS code,
         |  mn + (CASE WHEN mx > mn
         |             THEN floor((v - mn) / (mx - mn) * 255 + 0.5)
         |             ELSE 0.0 END) / 255.0 * (mx - mn) AS dequant
         |FROM longf JOIN stats USING (dim_pos)""".stripMargin)

  private lazy val q119Oracle: String =
      """WITH n0 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |idx AS (SELECT unnest(range(1, 65)) AS x),
        |pairs AS (
        |  SELECT i.x AS i, j.x AS j,
        |    SUM(CAST(v[i.x] * v[j.x] AS DECIMAL(28,14))) AS s,
        |    COUNT(*) AS n
        |  FROM n0 CROSS JOIN idx i CROSS JOIN idx j
        |  WHERE j.x >= i.x GROUP BY 1, 2),
        |firsts AS (
        |  SELECT i.x AS i, CAST(SUM(CAST(v[i.x] AS DECIMAL(28,14))) AS DOUBLE) AS m
        |  FROM n0 CROSS JOIN idx i GROUP BY 1),
        |cv AS (
        |  SELECT p.i, p.j, p.n,
        |    (CAST(p.s AS DOUBLE) - fi.m * fj.m / CAST(p.n AS DOUBLE))
        |      / (CAST(p.n AS DOUBLE) - 1) AS cov_raw
        |  FROM pairs p JOIN firsts fi ON p.i = fi.i JOIN firsts fj ON p.j = fj.i),
        |diag AS (SELECT i, cov_raw AS var_raw FROM cv WHERE i = j)
        |SELECT CAST(c.i AS BIGINT) AS dim_i, CAST(c.j AS BIGINT) AS dim_j,
        |  CAST(c.n AS BIGINT) AS n_rows,
        |  floor(c.cov_raw * 1e9 + 0.5) / 1e9 AS cov,
        |  CASE WHEN di.var_raw > 0 AND dj.var_raw > 0
        |       THEN floor(c.cov_raw / sqrt(di.var_raw * dj.var_raw) * 1e9 + 0.5) / 1e9
        |  END AS corr
        |FROM cv c JOIN diag di ON c.i = di.i JOIN diag dj ON c.j = dj.i""".stripMargin

  /** The q121 oracle: the q119 covariance as a derived table, symmetric
    * completion, then [[PowerIters]] unrolled power-iteration steps —
    * matvec = `list_dot_product(row_i, u)` with rows assembled
    * `ORDER BY j` (the exact sequential fold the Spark driver loop
    * runs), normalization via `x / sqrt(list_dot_product(w, w))`, and
    * the Rayleigh eigenvalue `u·(C·u)` at the end. A fixed iteration
    * count needs no convergence assumption for parity: both engines
    * execute the identical IEEE op sequence.
    */
  private lazy val pcaOracle: String = {
    def iter(k: Int): String = {
      val prev = if (k == 1) "u0" else s"u${k - 1}"
      s"""w$k AS (SELECT m.i, list_dot_product(m.row, (SELECT u FROM $prev)) AS wv FROM m),
         |l$k AS (SELECT list(wv ORDER BY i) AS w FROM w$k),
         |u$k AS MATERIALIZED (SELECT list_transform(w, x -> x / sqrt(list_dot_product(w, w))) AS u FROM l$k)""".stripMargin
    }
    val un = s"u$PowerIters"
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
    // reference, and m is referenced by all 12 iterations — without it
    // the 1M-row covariance aggregate re-evaluates ~40× (measured:
    // >10 CPU-min; materialized: ~1 s)
    s"""WITH c119 AS MATERIALIZED (
       |$q119Oracle),
       |fullm AS (
       |  SELECT dim_i AS i, dim_j AS j, cov FROM c119
       |  UNION ALL
       |  SELECT dim_j AS i, dim_i AS j, cov FROM c119 WHERE dim_i != dim_j),
       |m AS MATERIALIZED (SELECT i, list(cov ORDER BY j) AS row FROM fullm GROUP BY i),
       |u0 AS MATERIALIZED (SELECT list(0.125) AS u FROM range($Dims)),
       |${(1 to PowerIters).map(iter).mkString(",\n")},
       |tv AS (SELECT m.i, list_dot_product(m.row, (SELECT u FROM $un)) AS tvv FROM m),
       |tl AS (SELECT list(tvv ORDER BY i) AS t FROM tv),
       |lam AS (SELECT list_dot_product((SELECT u FROM $un), t) AS l FROM tl)
       |SELECT e.vec_id,
       |  floor(list_dot_product(CAST(e.embedding AS DOUBLE[]), (SELECT u FROM $un)) * 1e9 + 0.5) / 1e9 AS pc1_score,
       |  floor((SELECT l FROM lam) * 1e9 + 0.5) / 1e9 AS eigenvalue
       |FROM embeddings e""".stripMargin
  }

  /** q153's per-truncation exact top-3 — the q37 oracle with vectors
    * sliced to their first `d` components (slice-then-cast ≡
    * cast-then-slice, and prefix dot products fold identically).
    */
  private def truncTopkSql(d: Int): String =
    s"""WITH n AS (
       |  SELECT vec_id, list_slice(CAST(embedding AS DOUBLE[]), 1, $d) AS v,
       |         sqrt(list_dot_product(list_slice(CAST(embedding AS DOUBLE[]), 1, $d),
       |                               list_slice(CAST(embedding AS DOUBLE[]), 1, $d))) AS nrm
       |  FROM embeddings),
       |s AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CASE WHEN q.nrm > 0 AND c.nrm > 0
       |         THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END AS cosine
       |  FROM n q, n c WHERE q.vec_id < 20 AND c.vec_id != q.vec_id)
       |SELECT query_id, neighbor_id
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rank FROM s)
       |WHERE rank <= 3""".stripMargin

  /** The q141 incremental-index CTE chain (base-only md5-ordered seeds,
    * full-corpus frozen-centroid assignment) — shared by the q141
    * serving oracle and the q197 drift monitor, so both provably read
    * the same index restatement. A def (not val): referenced from the
    * `oracles` initializer below, and object-init order must not matter.
    */
  private def ivfIncListsCtes: String =
    """n AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |seeds AS (
      |  SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
      |  FROM n WHERE vec_id % 2 = 0
      |  ORDER BY md5('ivf|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |assign AS (
      |  SELECT n.vec_id, n.v, n.nrm, s.centroid_id,
      |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |      (CASE WHEN n.nrm > 0 AND s.cnrm > 0
      |            THEN list_dot_product(n.v, s.cv) / (n.nrm * s.cnrm) END) DESC NULLS LAST,
      |      s.centroid_id) AS rn
      |  FROM n CROSS JOIN seeds s),
      |lists AS (SELECT vec_id, v, nrm, centroid_id FROM assign WHERE rn = 1)""".stripMargin

  /** The q159 kNN-classifier restatement — a def (not val: object-init
    * order) shared by the q159 gate and q267's confusion-matrix rollup,
    * so both provably read the same prediction frame.
    */
  private def knnClassifierOracleSql: String =
    s"""WITH knn AS (${baseOracles("q64_ann_ivf")}),
       |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
       |votes AS (
       |  SELECT k.query_id, l.label AS nbr_label, count(*) AS votes
       |  FROM knn k JOIN lab l ON k.neighbor_id = l.vec_id
       |  GROUP BY 1, 2),
       |pred AS (
       |  SELECT query_id,
       |    min(struct_pack(negv := -votes, label := nbr_label)).label
       |      AS predicted_label,
       |    CAST(-min(struct_pack(negv := -votes, label := nbr_label)).negv
       |         AS BIGINT) AS n_agree,
       |    CAST(sum(votes) AS BIGINT) AS n_votes
       |  FROM votes GROUP BY 1)
       |SELECT p.query_id, t.label AS true_label, p.predicted_label,
       |       p.n_agree, p.n_votes,
       |       t.label = p.predicted_label AS is_correct
       |FROM pred p JOIN lab t ON p.query_id = t.vec_id""".stripMargin

  /** The normalized-vectors CTE `vn` (NOT `n` — see the shadowing note
    * on the q268 entry).
    */
  private def nndVnCteSql: String =
    """vn AS MATERIALIZED (
      |  SELECT vec_id, label, v, nrm, qv2,
      |    sqrt(CAST(list_dot_product(qv2, qv2) AS DOUBLE)) AS qnrm
      |  FROM (
      |    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
      |      sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |           CAST(embedding AS DOUBLE[]))) AS nrm,
      |      list_transform(CAST(embedding AS DOUBLE[]),
      |        x -> CAST(greatest(-32000, least(32000, floor(x * 10000)))
      |             AS BIGINT)) AS qv2
      |    FROM embeddings) vz
      |  WHERE nrm > 0)""".stripMargin

  /** NN-descent build chain over vector CTE `$vec`: md5-random
    * constant-size block init, refinement rounds, symmetrized edges.
    * Emits CTEs blk0/blk1, ip, ns0, g0..gN, sym.
    */
  private def nndBuildCtesSql(vec: String): String =
    s"""${(0 until NndDraws).map { d =>
         s"""blk$d AS MATERIALIZED (
            |  SELECT vec_id AS id,
            |    ${graft.functions.HexKeys.value32Sql(0,
                   s"md5('nnd$d|' || CAST(vec_id AS VARCHAR))")}
            |      % nbx.nblocks AS g
            |  FROM $vec CROSS JOIN (
            |    SELECT greatest(1, CAST(ceil(count(*) / $NndBlockSize.0)
            |      AS BIGINT)) AS nblocks FROM $vec) nbx)""".stripMargin
       }.mkString(",\n")},
       |ip AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |${(0 until NndDraws).map { d =>
           s"""    SELECT a.id AS src, b.id AS dst
              |    FROM blk$d a JOIN blk$d b
              |      ON a.g = b.g AND a.id <> b.id""".stripMargin
         }.mkString("\n    UNION ALL\n")}) u0),
       |ns0 AS MATERIALIZED (
       |  SELECT c.src, c.dst,
       |    CAST(floor((CAST(list_dot_product(na.qv2, nb2.qv2) AS DOUBLE)
       |         / (na.qnrm * nb2.qnrm) + 1) * 1e9 + 0.5) AS BIGINT) AS scaled
       |  FROM ip c JOIN $vec na ON na.vec_id = c.src
       |  JOIN $vec nb2 ON nb2.vec_id = c.dst),
       |g0 AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src
       |      ORDER BY scaled DESC, dst) AS rn
       |    FROM ns0) z WHERE rn <= $NndK),
       |${(1 to NndRounds).map(r => nndRoundCtes(r, vec)).mkString(",\n")},
       |sym AS MATERIALIZED (
       |  SELECT src, dst FROM g$NndRounds
       |  UNION
       |  SELECT dst, src FROM g$NndRounds)""".stripMargin

  /** The q268/q272 shared graph-build CTE chain: normalized vectors
    * (`vn` — NOT `n`, see the shadowing note on the q268 entry),
    * md5-random constant-size block init, NN-descent rounds, the
    * symmetrized edge set, the query batch, and the per-label entry
    * beam seed `b0`.
    */
  private def nndGraphCtesSql: String =
    s"""$nndVnCteSql,
       |${nndBuildCtesSql("vn")},
       |q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, label AS qlabel, v AS qv, nrm AS qn
       |  FROM vn WHERE vec_id < 20),
       |ent AS (SELECT label, min(vec_id) AS cand_id FROM vn GROUP BY 1),
       |b0 AS (
       |  SELECT q.query_id, e.cand_id
       |  FROM q JOIN ent e ON e.label = q.qlabel)""".stripMargin

  /** One q268 beam-search round: expand the previous beam's graph
    * neighbors, keep it in the candidate set, re-score by the quantized
    * cosine, keep the top-[[BeamWidth]] (ties → lowest cand_id) — the
    * CTE twin of the Spark loop body. MATERIALIZED: each round is
    * referenced twice by the next; without the hint DuckDB inlines and
    * re-evaluates the chain exponentially.
    */
  private def beamRoundCtes(r: Int, width: Int = BeamWidth,
                            p: String = "", symN: String = "sym",
                            qN: String = "q", b0N: String = "b0"): String = {
    val prev = if (r == 1) b0N else s"b$p${r - 1}"
    s"""c$p$r AS MATERIALIZED (
       |  SELECT DISTINCT query_id, cand_id FROM (
       |    SELECT b.query_id, s.dst AS cand_id
       |    FROM $prev b JOIN $symN s ON s.src = b.cand_id
       |    UNION ALL
       |    SELECT query_id, cand_id FROM $prev) u),
       |s$p$r AS MATERIALIZED (
       |  SELECT c.query_id, c.cand_id,
       |    CAST(floor((list_dot_product($qN.qv, vn.v) / ($qN.qn * vn.nrm)
       |         + 1) * 1e9 + 0.5) AS BIGINT) AS scaled
       |  FROM c$p$r c JOIN vn ON vn.vec_id = c.cand_id
       |  JOIN $qN ON $qN.query_id = c.query_id),
       |b$p$r AS MATERIALIZED (
       |  SELECT query_id, cand_id, scaled FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY scaled DESC, cand_id) AS rn
       |    FROM s$p$r) z WHERE rn <= $width)""".stripMargin
  }

  /** One q268 NN-descent round: candidates = my neighbors' neighbors ∪
    * my current list, re-score, keep the best [[NndK]] per src — the
    * CTE twin of the Spark build loop.
    */
  private def nndRoundCtes(r: Int, vec: String = "vn"): String =
    s"""nc$r AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT a.src, b.dst
       |    FROM g${r - 1} a JOIN g${r - 1} b
       |      ON a.dst = b.src AND a.src <> b.dst
       |    UNION ALL
       |    SELECT src, dst FROM g${r - 1}) z),
       |ns$r AS MATERIALIZED (
       |  SELECT c.src, c.dst,
       |    CAST(floor((CAST(list_dot_product(na.qv2, nd2.qv2) AS DOUBLE)
       |         / (na.qnrm * nd2.qnrm) + 1) * 1e9 + 0.5) AS BIGINT) AS scaled
       |  FROM nc$r c JOIN $vec na ON na.vec_id = c.src
       |  JOIN $vec nd2 ON nd2.vec_id = c.dst),
       |g$r AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src
       |      ORDER BY scaled DESC, dst) AS rn
       |    FROM ns$r) z WHERE rn <= $NndK)""".stripMargin

  /** Shared CTE chain for the q278/q280 oracles: md5-derived \u00b11 planes
    * computed IN SQL (DuckDB md5 == Java md5 hex, so the plane matrix is
    * the [[graft.operators.Similarity.hyperplanes]] family bit-for-bit),
    * 1e3-quantized BIGINT dots (exact, fold-order-free), 12-bit band
    * signatures, and the found-pair set `fnd` re-scored with q38's own
    * cosine expression.
    */
  private def preBlockCtesSql: String = {
    val nPlanes = graft.operators.Similarity.PreBlockBands *
      graft.operators.Similarity.PreBlockPlanesPerBand
    val r = graft.operators.Similarity.PreBlockPlanesPerBand
    s"""pl AS MATERIALIZED (
       |  SELECT p, d,
       |    CASE WHEN substr(md5(CAST(p AS VARCHAR) || '_' ||
       |                     CAST(d AS VARCHAR)), 1, 1)
       |           IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1
       |    END AS w
       |  FROM range(0, $nPlanes) t1(p), range(0, 64) t2(d)),
       |pnv AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |         CAST(embedding AS DOUBLE[]))) AS nrm,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |                   x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings
       |  WHERE sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |        CAST(embedding AS DOUBLE[]))) > 0),
       |pdots AS MATERIALIZED (
       |  SELECT pnv.vec_id, pl.p, sum(pnv.q[pl.d + 1] * pl.w) AS s
       |  FROM pnv, pl GROUP BY 1, 2),
       |psigs AS MATERIALIZED (
       |  SELECT vec_id, p // $r AS band,
       |    sum(CASE WHEN s >= 0
       |        THEN CAST(1 AS BIGINT) << (p % $r)
       |        ELSE CAST(0 AS BIGINT) END) AS sig
       |  FROM pdots GROUP BY 1, 2),
       |fnd AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b,
       |    list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cosine
       |  FROM (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |        FROM psigs a JOIN psigs b
       |          ON a.band = b.band AND a.sig = b.sig
       |         AND a.vec_id < b.vec_id) c
       |  JOIN pnv x ON x.vec_id = c.id_a
       |  JOIN pnv y ON y.vec_id = c.id_b
       |  WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.4)""".stripMargin
  }

  val oracles: Map[String, String] = baseOracles +
    ("q159_knn_classifier" -> knnClassifierOracleSql) +
    ("q267_label_noise" ->
      s"""WITH p0 AS ($knnClassifierOracleSql),
         |p2 AS (SELECT *, (n_agree * 2 > n_votes) AS is_confident FROM p0),
         |cells AS (
         |  SELECT true_label, predicted_label,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN is_confident THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_confident
         |  FROM p2 GROUP BY 1, 2),
         |tot AS (
         |  SELECT true_label, CAST(count(*) AS BIGINT) AS n_label,
         |    CAST(sum(CASE WHEN is_confident AND true_label <> predicted_label
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_noise
         |  FROM p2 GROUP BY 1)
         |SELECT c.true_label, c.predicted_label, c.n, c.n_confident,
         |  c.true_label <> c.predicted_label AS is_offdiag,
         |  CAST(c.n AS DOUBLE) / CAST(t.n_label AS DOUBLE) AS frac_of_label,
         |  CAST(t.n_noise AS DOUBLE) / CAST(t.n_label AS DOUBLE)
         |    AS label_noise_rate
         |FROM cells c JOIN tot t ON c.true_label = t.true_label""".stripMargin) +
    // The q268 oracle names its vector CTE `vn` (not `n`): the embedded
    // q37 truth block carries its own nested `WITH n AS …`, and DuckDB's
    // planner trips an internal "recursive CTE scan" assertion when a
    // MATERIALIZED outer CTE is shadowed by a nested one of the same name.
    ("q268_graph_ann_beam" ->
      s"""WITH $nndGraphCtesSql,
         |${(1 to BeamRounds).map(r => beamRoundCtes(r)).mkString(",\n")},
         |fin AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY scaled DESC, cand_id) AS rn
         |    FROM b$BeamRounds WHERE cand_id <> query_id) z
         |  WHERE rn <= 3),
         |ex AS (${baseOracles("q37_cosine_topk")})
         |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(coalesce(sum(CASE WHEN f.cand_id IS NOT NULL THEN 1 END), 0)
         |       AS BIGINT) AS n_hit,
         |  CAST(coalesce(sum(CASE WHEN f.cand_id IS NOT NULL THEN 1 END), 0)
         |       AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_at_3
         |FROM ex LEFT JOIN fin f
         |  ON ex.query_id = f.query_id AND ex.neighbor_id = f.cand_id
         |GROUP BY ex.query_id""".stripMargin) +
    ("q272_beam_width_sweep" -> {
      val legCtes = BeamSweepWidths.map { w =>
        val pfx = s"w${w}_"
        (1 to BeamRounds).map(r => beamRoundCtes(r, w, pfx)).mkString(",\n") +
          s""",
             |fin_$w AS (
             |  SELECT query_id, cand_id FROM (
             |    SELECT query_id, cand_id, row_number() OVER (
             |      PARTITION BY query_id ORDER BY scaled DESC, cand_id) AS rn
             |    FROM b$pfx$BeamRounds WHERE cand_id <> query_id) z
             |  WHERE rn <= 3)""".stripMargin
      }.mkString(",\n")
      val legSelects = BeamSweepWidths.map { w =>
        s"""SELECT CAST($w AS BIGINT) AS beam_width,
           |  CAST(coalesce(sum(CASE WHEN f.cand_id IS NOT NULL THEN 1 END), 0)
           |       AS BIGINT) AS found,
           |  CAST(count(*) AS BIGINT) AS total,
           |  CAST(coalesce(sum(CASE WHEN f.cand_id IS NOT NULL THEN 1 END), 0)
           |       AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
           |FROM ex LEFT JOIN fin_$w f
           |  ON ex.query_id = f.query_id AND ex.neighbor_id = f.cand_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $nndGraphCtesSql,
         |$legCtes,
         |ex AS (${baseOracles("q37_cosine_topk")})
         |$legSelects""".stripMargin
    }) +
    ("q273_graph_ann_insert" -> {
      val insertRounds = (1 to BeamRounds)
        .map(r => beamRoundCtes(r, BeamWidth, "d_", "sym", "qd", "bd0"))
        .mkString(",\n")
      val serveRounds = (1 to BeamRounds)
        .map(r => beamRoundCtes(r, BeamWidth, "", "sym2", "q", "b0"))
        .mkString(",\n")
      s"""WITH $nndVnCteSql,
         |vb AS MATERIALIZED (SELECT * FROM vn WHERE vec_id % 5 <> 3),
         |${nndBuildCtesSql("vb")},
         |qd AS MATERIALIZED (
         |  SELECT vec_id AS query_id, label AS qlabel, v AS qv, nrm AS qn
         |  FROM vn WHERE vec_id % 5 = 3),
         |entd AS (
         |  SELECT ql.qlabel AS label,
         |    coalesce(e.cand_id, ge.g_cand) AS cand_id
         |  FROM (SELECT DISTINCT qlabel FROM qd) ql
         |  LEFT JOIN (SELECT label, min(vec_id) AS cand_id
         |             FROM vb GROUP BY 1) e ON e.label = ql.qlabel
         |  CROSS JOIN (SELECT min(vec_id) AS g_cand FROM vb) ge),
         |bd0 AS (
         |  SELECT qd.query_id, e.cand_id
         |  FROM qd JOIN entd e ON e.label = qd.qlabel),
         |$insertRounds,
         |newe AS MATERIALIZED (
         |  SELECT query_id AS src, cand_id AS dst FROM (
         |    SELECT query_id, cand_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY scaled DESC, cand_id) AS rn
         |    FROM bd_$BeamRounds WHERE cand_id <> query_id) z
         |  WHERE rn <= $NndK),
         |ginc AS MATERIALIZED (
         |  SELECT src, dst FROM g$NndRounds
         |  UNION ALL
         |  SELECT src, dst FROM newe),
         |sym2 AS MATERIALIZED (
         |  SELECT src, dst FROM ginc
         |  UNION
         |  SELECT dst, src FROM ginc),
         |q AS MATERIALIZED (
         |  SELECT vec_id AS query_id, label AS qlabel, v AS qv, nrm AS qn
         |  FROM vn WHERE vec_id < 20),
         |ent AS (SELECT label, min(vec_id) AS cand_id FROM vn GROUP BY 1),
         |b0 AS (
         |  SELECT q.query_id, e.cand_id
         |  FROM q JOIN ent e ON e.label = q.qlabel),
         |$serveRounds,
         |fin AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY scaled DESC, cand_id) AS rn
         |    FROM b$BeamRounds WHERE cand_id <> query_id) z
         |  WHERE rn <= 3),
         |ex AS (${baseOracles("q37_cosine_topk")})
         |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(coalesce(sum(CASE WHEN f.cand_id IS NOT NULL THEN 1 END), 0)
         |       AS BIGINT) AS n_hit,
         |  CAST(coalesce(sum(CASE WHEN f.cand_id IS NOT NULL THEN 1 END), 0)
         |       AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_at_3
         |FROM ex LEFT JOIN fin f
         |  ON ex.query_id = f.query_id AND ex.neighbor_id = f.cand_id
         |GROUP BY ex.query_id""".stripMargin
    }) +
    ("q271_graph_ppr" ->
      s"""WITH knn AS (${baseOracles("q118_knn_graph")}),
         |sym AS MATERIALIZED (
         |  SELECT vec_id AS src, neighbor_id AS dst FROM knn
         |  UNION
         |  SELECT neighbor_id, vec_id FROM knn),
         |dg AS MATERIALIZED (
         |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
         |m0 AS (
         |  SELECT vec_id AS seed, vec_id AS node,
         |    CAST($PprMass AS BIGINT) AS m
         |  FROM embeddings WHERE vec_id < $PprSeeds),
         |${(1 to PprRounds).map { r =>
             s"""bk$r AS MATERIALIZED (
                |  SELECT seed, node, m,
                |    CAST(floor(CAST(m * $PprAlphaPct AS DOUBLE) / CAST(100 AS DOUBLE))
                |         AS BIGINT) AS banked
                |  FROM m${r - 1}),
                |m$r AS MATERIALIZED (
                |  SELECT b.seed, s.dst AS node,
                |    CAST(sum(CAST(floor(CAST(b.m - b.banked AS DOUBLE)
                |      / CAST(d.deg AS DOUBLE)) AS BIGINT)) AS BIGINT) AS m
                |  FROM bk$r b JOIN sym s ON s.src = b.node
                |  JOIN dg d ON d.src = b.node
                |  GROUP BY 1, 2)""".stripMargin
           }.mkString(",\n")},
         |allr AS (
         |  SELECT seed, node, CAST(sum(rmass) AS BIGINT) AS rank_mass FROM (
         |${(1 to PprRounds).map(r =>
             s"    SELECT seed, node, banked AS rmass FROM bk$r").mkString(
             "\n    UNION ALL\n")}
         |    UNION ALL
         |    SELECT seed, node, m AS rmass FROM m$PprRounds) u
         |  GROUP BY 1, 2)
         |SELECT seed, CAST(rn AS BIGINT) AS rank, node, rank_mass FROM (
         |  SELECT seed, node, rank_mass, row_number() OVER (
         |    PARTITION BY seed ORDER BY rank_mass DESC, node) AS rn
         |  FROM allr WHERE node <> seed) z
         |WHERE rn <= 5""".stripMargin) +
    ("q153_truncation_recall" -> TruncDims.map { d =>
      s"""SELECT e.query_id, CAST($d AS BIGINT) AS trunc_dims,
         |  CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS recall_at_3
         |FROM (${baseOracles("q37_cosine_topk")}) e
         |LEFT JOIN (${truncTopkSql(d)}) a
         |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |GROUP BY e.query_id""".stripMargin
    }.mkString("\nUNION ALL\n")) +
    ("q180_pq_recall" ->
      s"""SELECT e.query_id, count(*) AS n_exact,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_adc,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_ivfpq,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS recall_adc,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS recall_ivfpq
         |FROM (${baseOracles("q37_cosine_topk")}) e
         |LEFT JOIN (${baseOracles("q178_pq_adc_topk")}) a
         |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |LEFT JOIN (${baseOracles("q179_ivfpq_topk")}) i
         |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         |GROUP BY e.query_id""".stripMargin) +
    ("q221_multiprobe_plan" ->
      s"""WITH r AS (${baseOracles("q217_multiprobe_recall")}),
         |sel AS (
         |  SELECT coalesce(
         |    min(CASE WHEN recall >= $MultiprobeTargetRecall THEN probe_bits END),
         |    max(probe_bits)) AS probe_bits
         |  FROM r)
         |SELECT r.probe_bits, r.found, r.total, r.recall,
         |  CAST(CASE r.probe_bits ${ProbeCounts.map { case (b, n) =>
               s"WHEN $b THEN $n" }.mkString(" ")} END AS BIGINT) AS probes_per_query,
         |  (r.recall >= $MultiprobeTargetRecall) AS met_target
         |FROM r JOIN sel ON r.probe_bits = sel.probe_bits""".stripMargin) +
    // q116's oracle wraps the q37 and q64 oracles as derived tables (both
    // are self-contained SELECTs; DuckDB allows a nested WITH inside a
    // parenthesized subquery) and compares their neighbor sets.
    ("q116_ann_recall" ->
      s"""SELECT e.query_id, count(*) AS n_exact,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS recall_at_3
         |FROM (${baseOracles("q37_cosine_topk")}) e
         |LEFT JOIN (${baseOracles("q64_ann_ivf")}) a
         |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |GROUP BY e.query_id""".stripMargin) +
    // q248: q37's exact chain and q64's IVF chain re-ranked at depth 10
    // over the same 20-query set, identical discount VALUES literals,
    // exact integer DCG sums, one guarded division per query.
    ("q248_ann_ndcg" -> {
      val vals = NdcgDiscounts.map { case (r, d) => s"($r, $d)" }.mkString(", ")
      s"""WITH n AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |sx AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CASE WHEN q.nrm > 0 AND c.nrm > 0
         |         THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END AS cosine
         |  FROM n q, n c WHERE q.vec_id < 20 AND c.vec_id != q.vec_id),
         |ex AS (
         |  SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
         |         CAST(${NdcgK + 1} - rank AS BIGINT) AS rel
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rank
         |        FROM sx)
         |  WHERE rank <= $NdcgK),
         |seeds AS (
         |  SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
         |  FROM n ORDER BY md5('ivf|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $IvfNlist),
         |assign AS (
         |  SELECT n.vec_id, n.v, n.nrm, s.centroid_id,
         |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |      (CASE WHEN n.nrm > 0 AND s.cnrm > 0
         |            THEN list_dot_product(n.v, s.cv) / (n.nrm * s.cnrm) END) DESC NULLS LAST,
         |      s.centroid_id) AS rn
         |  FROM n CROSS JOIN seeds s),
         |lists AS (SELECT vec_id, v, nrm, centroid_id FROM assign WHERE rn = 1),
         |qprobe AS (
         |  SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, s.centroid_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      (CASE WHEN q.nrm > 0 AND s.cnrm > 0
         |            THEN list_dot_product(q.v, s.cv) / (q.nrm * s.cnrm) END) DESC NULLS LAST,
         |      s.centroid_id) AS prn
         |  FROM n q CROSS JOIN seeds s WHERE q.vec_id < 20),
         |cand AS (
         |  SELECT p.query_id, p.qv, p.qn, l.vec_id AS neighbor_id, l.v AS cv2, l.nrm AS cn
         |  FROM (SELECT * FROM qprobe WHERE prn <= $IvfNprobe) p
         |  JOIN lists l ON p.centroid_id = l.centroid_id
         |  WHERE l.vec_id != p.query_id),
         |sc AS (
         |  SELECT query_id, neighbor_id,
         |    CASE WHEN qn > 0 AND cn > 0
         |         THEN list_dot_product(qv, cv2) / (qn * cn) END AS cosine
         |  FROM cand),
         |ap AS (
         |  SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rank
         |        FROM sc)
         |  WHERE rank <= $NdcgK),
         |d AS (SELECT CAST(r AS BIGINT) AS rank, CAST(de9 AS BIGINT) AS d_e9
         |      FROM (VALUES $vals) AS t(r, de9)),
         |dc AS (
         |  SELECT ap.query_id,
         |         CAST(sum(coalesce(ex.rel, 0) * d.d_e9) AS BIGINT) AS dcg_e9
         |  FROM ap JOIN d ON d.rank = ap.rank
         |  LEFT JOIN ex ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
         |  GROUP BY 1),
         |ic AS (
         |  SELECT query_id, CAST(sum(rel * d_e9) AS BIGINT) AS idcg_e9
         |  FROM ex JOIN d ON d.rank = ex.rank GROUP BY 1)
         |SELECT ic.query_id, CAST(coalesce(dc.dcg_e9, 0) AS BIGINT) AS dcg_e9,
         |  ic.idcg_e9,
         |  CAST(coalesce(dc.dcg_e9, 0) AS DOUBLE) / CAST(ic.idcg_e9 AS DOUBLE) AS ndcg
         |FROM ic LEFT JOIN dc ON dc.query_id = ic.query_id""".stripMargin
    }) +
    // Wraps the q118 oracle as the edge source (q116's derived-table
    // pattern); same symmetrize/deg-cap/quantized-term/tiebreak chain.
    ("q125_adamic_adar" ->
      s"""WITH knn AS (
         |  SELECT vec_id, neighbor_id FROM (${baseOracles("q118_knn_graph")})),
         |edges AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT vec_id AS src, neighbor_id AS dst FROM knn
         |    UNION ALL SELECT neighbor_id, vec_id FROM knn)),
         |deg AS (SELECT src AS w, CAST(count(*) AS BIGINT) AS deg
         |        FROM edges GROUP BY 1),
         |low AS (
         |  SELECT e.src AS w, e.dst,
         |    CAST(floor(1e9 / ln(CAST(d.deg AS DOUBLE)) + 0.5) AS BIGINT) AS t
         |  FROM edges e JOIN deg d ON d.w = e.src
         |  WHERE d.deg BETWEEN 2 AND 64),
         |pairs AS (
         |  SELECT a.dst AS pa, b.dst AS pb, a.t
         |  FROM low a JOIN low b ON a.w = b.w AND a.dst < b.dst),
         |sc AS (
         |  SELECT pa, pb, CAST(count(*) AS BIGINT) AS n_common,
         |    CAST(sum(t) AS BIGINT) AS aa_e9
         |  FROM pairs GROUP BY 1, 2),
         |cand AS (
         |  SELECT sc.* FROM sc
         |  LEFT JOIN edges ex ON ex.src = sc.pa AND ex.dst = sc.pb
         |  WHERE ex.src IS NULL)
         |SELECT pa AS vec_a, pb AS vec_b, n_common, aa_e9
         |FROM cand ORDER BY aa_e9 DESC, pa, pb LIMIT 50""".stripMargin) +
    // Same 3 unrolled LPA iterations; majority label with min-label ties
    // via row_number (≡ Spark's max(struct(cnt, −label)) argmax). The
    // edge CTE is MATERIALIZED — referenced once per iteration, DuckDB
    // would otherwise re-evaluate the kNN block join each time.
    ("q126_label_propagation" -> {
      def step(prev: String, i: Int) =
        s"""n$i AS (
           |  SELECT e.src, l.label, count(*) AS cnt
           |  FROM edges e JOIN $prev l ON l.node = e.dst GROUP BY 1, 2),
           |l$i AS (
           |  SELECT src AS node, label FROM (
           |    SELECT src, label,
           |      row_number() OVER (PARTITION BY src ORDER BY cnt DESC, label ASC) AS rn
           |    FROM n$i) WHERE rn = 1)""".stripMargin
      s"""WITH knn AS MATERIALIZED (
         |  SELECT vec_id, neighbor_id FROM (${baseOracles("q118_knn_graph")})),
         |edges AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT vec_id AS src, neighbor_id AS dst FROM knn
         |    UNION ALL SELECT neighbor_id, vec_id FROM knn)),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
         |${step("l0", 1)},
         |${step("l1", 2)},
         |${step("l2", 3)}
         |SELECT node AS vec_id, label AS community FROM l3""".stripMargin
    }) +
    // the indexed serving path must return EXACTLY what the in-session
    // operator returns on the same parameters — one oracle, two plans
    ("q139_ann_ivf_indexed" -> baseOracles("q64_ann_ivf")) +
    // rebuild ≡ one-shot: the re-picked centroids are the full-corpus
    // md5-ordered seeds, i.e. exactly q64's
    ("q146_ann_index_rebuild" -> baseOracles("q64_ann_ivf")) +
    // q64's arithmetic with BASE-only (even vec_id) seeds over the full
    // corpus: assignment is a pure per-row function of (vector,
    // centroids), so the incremental base+append build must equal this
    // one-shot restatement exactly
    ("q141_ann_index_append" -> q141Oracle) +
    // q262: exact top-10 chain + candidate pair sims + FIVE unrolled
    // greedy CTE steps; row_number (score DESC, doc ASC) replays the
    // max(struct(score, −doc)) argmax exactly, λ = 1−λ = 0.5 exact.
    ("q262_mmr_rerank" -> {
      def step(i: Int): String =
        s"""ms$i AS (
           |  SELECT p.query_id, p.doc, max(p.sim) AS maxsim
           |  FROM pairs p JOIN cum${i - 1} s
           |    ON s.query_id = p.query_id AND s.sel_doc0 = p.sel_doc0
           |  GROUP BY 1, 2),
           |sc$i AS (
           |  SELECT c.query_id, c.doc,
           |         0.5 * c.rel - 0.5 * coalesce(m.maxsim, 0.0) AS mmr
           |  FROM cand c LEFT JOIN ms$i m
           |    ON m.query_id = c.query_id AND m.doc = c.doc
           |  WHERE NOT EXISTS (SELECT 1 FROM cum${i - 1} s
           |                    WHERE s.query_id = c.query_id
           |                      AND s.sel_doc0 = c.doc)),
           |sel$i AS (
           |  SELECT query_id, doc, CAST($i AS BIGINT) AS step FROM (
           |    SELECT query_id, doc,
           |      row_number() OVER (PARTITION BY query_id
           |                         ORDER BY mmr DESC, doc ASC) AS rn
           |    FROM sc$i) WHERE rn = 1),
           |cum$i AS (SELECT query_id, sel_doc0, step FROM cum${i - 1}
           |          UNION ALL SELECT query_id, doc, step FROM sel$i)""".stripMargin
      s"""WITH n AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |sx AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS doc,
         |    CASE WHEN q.nrm > 0 AND c.nrm > 0
         |         THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END AS rel
         |  FROM n q, n c WHERE q.vec_id < 20 AND c.vec_id != q.vec_id),
         |cand AS (
         |  SELECT query_id, doc, rel FROM
         |    (SELECT *, row_number() OVER (PARTITION BY query_id
         |       ORDER BY rel DESC NULLS LAST, doc) AS rank FROM sx)
         |  WHERE rank <= 10 AND rel IS NOT NULL),
         |wv AS (
         |  SELECT c.query_id, c.doc, n.v, n.nrm
         |  FROM cand c JOIN n ON n.vec_id = c.doc),
         |pairs AS (
         |  SELECT a.query_id, a.doc, b.doc AS sel_doc0,
         |    CASE WHEN a.nrm > 0 AND b.nrm > 0
         |         THEN list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END AS sim
         |  FROM wv a JOIN wv b
         |    ON a.query_id = b.query_id AND a.doc <> b.doc),
         |sel1 AS (
         |  SELECT query_id, doc, CAST(1 AS BIGINT) AS step FROM (
         |    SELECT query_id, doc,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY rel DESC, doc ASC) AS rn
         |    FROM cand) WHERE rn = 1),
         |cum1 AS (SELECT query_id, doc AS sel_doc0, step FROM sel1),
         |${(2 to 5).map(step).mkString(",\n")}
         |SELECT s.query_id, s.step AS mmr_rank, s.sel_doc0 AS neighbor_id,
         |  c.rel AS relevance
         |FROM cum5 s JOIN cand c
         |  ON c.query_id = s.query_id AND c.doc = s.sel_doc0""".stripMargin
    }) +
    // q255: q37 exact / q64 fresh / q141 stale chains joined per query —
    // the recall the frozen-centroid index LOSES, the rebuild trigger's
    // quantitative read; identical guarded divisions in both engines.
    ("q255_index_staleness" ->
      s"""WITH ex AS (
         |  SELECT query_id, neighbor_id FROM (${baseOracles("q37_cosine_topk")}) e),
         |fr AS (
         |  SELECT query_id, neighbor_id FROM (${baseOracles("q64_ann_ivf")}) f),
         |stl AS (
         |  SELECT query_id, neighbor_id FROM ($q141Oracle) g),
         |h AS (
         |  SELECT ex.query_id,
         |    CAST(count(*) AS BIGINT) AS n_exact,
         |    CAST(sum(CASE WHEN fr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_hit_fresh,
         |    CAST(sum(CASE WHEN stl.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_hit_stale
         |  FROM ex
         |  LEFT JOIN fr ON fr.query_id = ex.query_id
         |              AND fr.neighbor_id = ex.neighbor_id
         |  LEFT JOIN stl ON stl.query_id = ex.query_id
         |               AND stl.neighbor_id = ex.neighbor_id
         |  GROUP BY 1)
         |SELECT query_id, n_exact, n_hit_fresh, n_hit_stale,
         |  CAST(n_hit_fresh AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_fresh,
         |  CAST(n_hit_stale AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_stale,
         |  CAST(n_hit_fresh AS DOUBLE) / CAST(n_exact AS DOUBLE)
         |    - CAST(n_hit_stale AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_delta
         |FROM h""".stripMargin) +
    // the q141 lists aggregated per centroid: sizes split base/delta,
    // skew vs uniform, 1e9-quantized mean assignment cosines, and the
    // rebuild trigger (thresholds: PERF.md)
    ("q197_ivf_list_drift" ->
      s"""WITH $ivfIncListsCtes,
        |per AS (
        |  SELECT l.centroid_id, (l.vec_id % 2 = 0) AS is_base,
        |    CAST(floor((CASE WHEN l.nrm > 0 AND s.cnrm > 0
        |                     THEN list_dot_product(l.v, s.cv) / (l.nrm * s.cnrm)
        |                END) * 1e9 + 0.5) AS BIGINT) AS q
        |  FROM lists l JOIN seeds s USING (centroid_id)),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS corpus_n FROM per),
        |agg AS (
        |  SELECT centroid_id,
        |    CAST(count(*) AS BIGINT) AS n_total,
        |    CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
        |    CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS n_delta,
        |    CAST(sum(CASE WHEN is_base THEN q END) AS BIGINT) AS bq,
        |    CAST(count(CASE WHEN is_base THEN q END) AS BIGINT) AS nbs,
        |    CAST(sum(CASE WHEN NOT is_base THEN q END) AS BIGINT) AS dq,
        |    CAST(count(CASE WHEN NOT is_base THEN q END) AS BIGINT) AS nds
        |  FROM per GROUP BY 1)
        |SELECT a.centroid_id, a.n_total, a.n_base, a.n_delta,
        |  CAST(a.n_total * 16 AS DOUBLE) / CAST(c.corpus_n AS DOUBLE) AS skew_ratio,
        |  CASE WHEN a.nbs > 0
        |       THEN CAST(a.bq AS DOUBLE) / CAST(a.nbs AS DOUBLE) / 1e9 END
        |    AS mean_cos_base,
        |  CASE WHEN a.nds > 0
        |       THEN CAST(a.dq AS DOUBLE) / CAST(a.nds AS DOUBLE) / 1e9 END
        |    AS mean_cos_delta,
        |  (CAST(a.n_total * 16 AS DOUBLE) / CAST(c.corpus_n AS DOUBLE) > 2.0
        |   OR (a.nbs > 0 AND a.nds > 0 AND
        |       CAST(a.dq AS DOUBLE) / CAST(a.nds AS DOUBLE) / 1e9 <
        |       CAST(a.bq AS DOUBLE) / CAST(a.nbs AS DOUBLE) / 1e9 - 0.05))
        |    AS needs_rebuild
        |FROM agg a CROSS JOIN c""".stripMargin) +
    ("q278_neardup_preblocked" ->
      s"""WITH $preBlockCtesSql
         |SELECT id_a, id_b, cosine FROM fnd""".stripMargin) +
    ("q279_neardup_collapsed" ->
      """WITH cbase AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cu AS (
        |  SELECT vec_id, v FROM cbase
        |  UNION ALL
        |  SELECT vec_id + 1000000, v FROM cbase WHERE vec_id < 40),
        |cdu AS (
        |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM cu
        |  WHERE sqrt(list_dot_product(v, v)) > 0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
        |FROM cdu a, cdu b
        |WHERE a.vec_id < b.vec_id
        |  AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4""".stripMargin) +
    ("q280_preblock_recall" ->
      s"""WITH $preBlockCtesSql,
         |pex AS MATERIALIZED (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
         |  FROM pnv a, pnv b
         |  WHERE a.vec_id < b.vec_id
         |    AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4),
         |pper AS MATERIALIZED (
         |  SELECT floor(e.cosine * 10) / 10 AS cosine_band,
         |    CAST(count(*) AS BIGINT) AS n_exact,
         |    CAST(sum(CASE WHEN f.id_a IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_found
         |  FROM pex e LEFT JOIN fnd f ON f.id_a = e.id_a AND f.id_b = e.id_b
         |  GROUP BY 1)
         |SELECT cosine_band, n_exact, n_found,
         |  CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
         |FROM pper
         |UNION ALL
         |SELECT -1.0, CAST(sum(n_exact) AS BIGINT),
         |  CAST(sum(n_found) AS BIGINT),
         |  CAST(sum(n_found) AS DOUBLE) / CAST(sum(n_exact) AS DOUBLE)
         |FROM pper""".stripMargin)
}
