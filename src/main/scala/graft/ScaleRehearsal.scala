package graft

import graft.Harness.{fmt, timed}
import org.apache.spark.graftbus.ServeMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The 10× SCALE REHEARSAL behind BENCH_SF1.json — the round-11 verdict's
  * ask: the 100 TB claims rest on plan shapes verified at sf0.1, so run
  * the headline operator families once at ~sf1 (10× sf0.1: ~6M lineitem,
  * ~50k documents) and surface anything a plan assertion can't — memory
  * cliffs, band skew, checkpoint storage.
  *
  * The driver's testdata stops at sf0.1 (TESTDATA.md), so the sf1 corpus
  * is SYNTHESIZED from sf0.1 as `copies` key-disjoint shards, each a
  * transformed image of the original under a transform that PRESERVES
  * intra-copy operator structure (so per-query work scales ~linearly and
  * the sf0.1→sf1 scaling factor is interpretable):
  *
  *   - documents: doc_id += i·10^7; every whitespace token gets a
  *     copy-suffix (copy 0 untouched), so shingle/chunk/token spaces are
  *     DISJOINT across copies — dup structure replicates 10×, with no
  *     cross-copy accidental near-dups;
  *   - embeddings: vec_id += i·10^7; a copy-specific SIGNED ROTATION of
  *     the components (an orthogonal map: rotate by i, then a per-(copy,
  *     position) xxhash64-derived Rademacher sign for i > 0) — intra-copy
  *     cosines are preserved EXACTLY, cross-copy vectors decorrelate.
  *     (Round 15: the original periodic sign pattern, flip when
  *     (pos+i) % 3 == 0, decorrelated fine at 10 copies but COLLIDED at
  *     30 — copies with compatible rotation/sign phases produced ~580k
  *     accidental cross-copy near-dup pairs at sf3, contaminating q38's
  *     scaling point with 9× output for 3× data; hash-keyed signs make
  *     every cross-copy inner product a random ± sum.)
  *   - lineitem: l_orderkey/l_partkey/l_suppkey += i·10^7 — the
  *     co-purchase graph becomes 10 disjoint copies, triangles ×10.
  *
  * Everything else (tiny dims, events for non-headline paths) is read
  * from sf0.1 unchanged via per-table parquet copies. This is a
  * REHEARSAL, not a correctness gate: no oracle runs here (the synthetic
  * corpus has no DuckDB twin); correctness is the 191-row sf0.01 gate.
  *
  * Usage: runMain graft.ScaleRehearsal <mode> [srcDir] ...
  *   full       every query cold + warm at 10 copies → BENCH_SF1.json
  *   exponents  the top-cost tier at 10 and 30 copies → BENCH_SF3.json
  *   lsh100x    the MinHash dedup chain at 100 copies → BENCH_LSH100X.json
  *   heavy100x  NN-descent build + covariance at 100 copies → BENCH_HEAVY100X.json
  *   clustered  ball-cover pruning by corpus geometry → BENCH_CLUSTERED.json
  */
object ScaleRehearsal {

  private val Shift = 10000000L

  private def copyTable(spark: SparkSession, src: String, out: String,
                        name: String): Unit =
    spark.read.parquet(s"$src/$name.parquet")
      .write.mode("overwrite").parquet(s"$out/$name.parquet")

  private def scaled(spark: SparkSession, src: String, name: String,
                     copies: Int)(xform: (DataFrame, Int) => DataFrame): DataFrame = {
    val base = spark.read.parquet(s"$src/$name.parquet")
    (0 until copies).map(i => xform(base, i)).reduce(_ unionByName _)
  }

  def build(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    val done = new java.io.File(s"$out/_REHEARSAL_READY")
    if (done.exists) return
    val dim = spark.read.parquet(s"$src/embeddings.parquet")
      .select(size(col("embedding"))).first().getInt(0)
    require(dim == 64, s"embedding dim changed ($dim != 64): fix the rotation")
    scaled(spark, src, "documents", copies) { (d, i) =>
      if (i == 0) d
      else d.select(
        (col("doc_id") + i * Shift).as("doc_id"),
        // suffix every token: token spaces disjoint across copies
        regexp_replace(col("text"), "(\\S+)", s"$$1c$i").as("text"),
        col("lang"), col("source"),
        length(regexp_replace(col("text"), "(\\S+)", s"$$1c$i")).as("n_chars"))
    }.write.mode("overwrite").parquet(s"$out/documents.parquet")
    scaled(spark, src, "embeddings", copies) { (e, i) =>
      if (i == 0) e
      else {
        val d = 64 // embedding dim (TESTDATA contract, asserted below)
        val rot = transform(sequence(lit(0), lit(d - 1)), p => {
          val srcPos = (p + i) % d
          element_at(col("embedding"), srcPos + 1) *
            when(pmod(xxhash64(lit(i), p), lit(2)) === 0, lit(-1.0f))
              .otherwise(lit(1.0f))
        })
        e.select((col("vec_id") + i * Shift).as("vec_id"),
                 rot.cast("array<float>").as("embedding"), col("label"))
      }
    }.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    scaled(spark, src, "lineitem", copies) { (l, i) =>
      if (i == 0) l
      else l.withColumn("l_orderkey", col("l_orderkey") + i * Shift)
        .withColumn("l_partkey", col("l_partkey") + i * Shift)
        .withColumn("l_suppkey", col("l_suppkey") + i * Shift)
    }.write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // orders: key-shifted only (i·10^7 is even, so q220's parity split is
    // preserved per copy); ck/day distributions overlay, which is the
    // right z-order stress — 10× rows per file cell, not 10× more cells
    scaled(spark, src, "orders", copies) { (o, i) =>
      if (i == 0) o
      else o.withColumn("o_orderkey", col("o_orderkey") + i * Shift)
    }.write.mode("overwrite").parquet(s"$out/orders.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "events"))
      copyTable(spark, src, out, t)
    done.createNewFile()
    ()
  }

  /** The round-14 verdict's top-cost tier: every family with a ≥6 s warm
    * sf1 point (or owning the suite's GC tail). These get the TWO-point
    * treatment (sf1 + sf3 → a measured scaling exponent per family)
    * because one superlinear surprise here dominates any 100 TB plan.
    */
  private val ExponentTier = Seq(
    "q123_triangle_count", "q215_snm_incremental", "q209_scrubbed_curation",
    "q206_winnow_overlap", "q38_embedding_neardup", "q223_calibrated_curation",
    "q247_threshold_sweep", "q144_bpe_fit_delta", "q36_minhash_lsh",
    "q161_curation_v2",
    // round-15 second wave: the next cost tier from the FULL sf1 sweep
    // (every family ≥ ~7 s warm at sf1 that the first tier missed)
    "q108_containment_pairs", "q156_gopher_repetition",
    "q196_capped_curation", "q145_lsh_index_incremental",
    "q154_incremental_components", "q205_scrub_then_dedup",
    "q224_leakage_safe_split", "q164_video_neardup",
    // round-15 third wave: the NN-descent graph-ANN family (its sf1
    // build is the one new ≥10 s warm entry) and the q75 segment dedup
    // that the regenerated full sweep surfaced in the cost tail
    "q268_graph_ann_beam", "q75_segment_dedup",
    // round-16: the q38 capped companion (its whole point is exponent
    // ≤ ~1 where q38 reads 1.88 — measure it, don't claim it) and the
    // q273 insert leg that the isolated sf1 sweep surfaced as the new
    // top-cost family (29.6 s warm at sf1)
    "q274_neardup_topk", "q273_graph_ann_insert")

  private def short(q: String): String = q.takeWhile(_ != '_')

  /** One measured point: the cold run, the min over the warm runs, the
    * output rows and, for the clustered corpora, the min shuffle rows over
    * the warm runs (the candidate-volume witness).
    */
  private final case class Pt(cold: Double, warm: Double, rows: Long, shuffleRows: Long = 0L)

  /** The wider over the narrower of two warm readings of one family,
    * with a 0.1 s noise floor; above 2 a reading is flagged unstable.
    */
  private def spread(a: Double, b: Double): Double =
    math.max(a, b) / math.max(math.min(a, b), 0.1)

  /** log₃ of the sf3/sf1 warm ratio: the measured exponent of a 3× corpus
    * step. Both points are floored at 0.2 s to keep log-noise out of
    * sub-second families; warm points, because cold includes one-time
    * index builds the serving story amortizes.
    */
  private def warmExponent(sf1: Double, sf3: Double): Double =
    math.log(math.max(sf3, 0.2) / math.max(sf1, 0.2)) / math.log(3.0)

  /** One sweep in a FRESH session (a shared session would let one scale's
    * memoized indexes serve the next): builds, or finds, the `copies`
    * corpus in `out`, then runs each query of `order` cold and then
    * `warmReps` times warm, warm = the min. A failing query is recorded
    * with its exception and the sweep goes on.
    */
  private def sweep(src: String, out: String, copies: Int, name: String, order: Seq[String],
                    warmReps: Int): (Double, Map[String, Pt], Map[String, String]) =
    Harness.session(name) { spark =>
      val (buildSec, _) = timed(build(spark, src, out, copies))
      val pts  = scala.collection.mutable.HashMap[String, Pt]()
      val errs = scala.collection.mutable.HashMap[String, String]()
      for (q <- order) try {
        def once() = timed(SparkEntry.queries(q)(spark, out).count())
        val (c, rows) = once()
        val w = Seq.fill(warmReps)(once()._1).min
        pts(q) = Pt(c, w, rows)
        System.err.println(f"[$name] $q cold=$c%.1f warm=$w%.1f rows=$rows")
      } catch { case e: Throwable =>
        errs(q) = e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200)
        System.err.println(s"[$name] $q ERR ${errs(q)}")
      }
      (buildSec, pts.toMap, errs.toMap)
    }

  /** Warm time of `q` alone in a fresh session — empty session memos, no
    * in-suite neighbours to perturb it — from a cold run and two warm
    * ones. Where it is close to a sweep's min, the sweep's spread was
    * in-suite interference (shared-memo build order, inherited GC), not
    * the family's own cost.
    */
  private def isolatedWarm(src: String, out: String, copies: Int, q: String): Double = {
    val (_, pts, errs) = sweep(src, out, copies, s"iso-x$copies-${short(q)}", Seq(q), warmReps = 2)
    pts.getOrElse(q, sys.error(s"$q failed in isolation: ${errs(q)}")).warm
  }

  /** Two-scale exponent mode: `runMain graft.ScaleRehearsal exponents
    * [srcDir]` builds the sf1 (10-copy) and sf3 (30-copy) corpora, runs
    * the [[ExponentTier]] cold+warm at each scale IN SEPARATE SESSIONS,
    * and writes BENCH_SF3.json with a per-family measured exponent
    * log(t₃/t₁)/log 3 — the missing leg of the 100 TB scale evidence
    * (round-14 verdict #1: plan shapes were verified, but 219/257
    * families had no >1× measured point and none had a >10× point).
    *
    * Per scale, TWO sessions each run a differently-seeded shuffle of the
    * tier; the artifact keeps warm = min across sessions plus the
    * per-family spread (both readings) and an `unstable_over_2x` map, so
    * it carries its own trust signal. Warm is the min of two reps: one
    * warm rep under-warms the heavy compositions (q209 at sf3: 55 → 25 →
    * 18 s across reps, JIT and memo convergence) and reads as fake
    * superlinearity. Cold comes from pass 1 only (pass 2's "cold" is JIT-
    * and page-cache-warmed). Every >2×-spread family, and q273 always,
    * also gets an [[isolatedWarm]] at both scales and an exponent from
    * those points, so no headline exponent rests on an unconfirmed noisy
    * reading.
    */
  private def exponentsMain(src: String): Unit = {
    def f(v: Double) = fmt(v, 2)
    def runScale(out: String, copies: Int, pass: Int): (Double, Map[String, Pt]) = {
      val order = new scala.util.Random(6271 * (31 * copies + pass)).shuffle(ExponentTier)
      val (buildSec, pts, errs) =
        sweep(src, out, copies, s"scale-exponents-$copies-p$pass", order, warmReps = 2)
      require(errs.isEmpty, errs.mkString("exponent tier failed: ", "; ", ""))
      (buildSec, pts)
    }
    val (b1, p1a) = runScale("/tmp/graft_sf1", 10, 1)
    val (_,  p1b) = runScale("/tmp/graft_sf1", 10, 2)
    val (b3, p3a) = runScale("/tmp/graft_sf3", 30, 1)
    val (_,  p3b) = runScale("/tmp/graft_sf3", 30, 2)
    val rows = ExponentTier.map { q =>
      val (a1, a2, b1r, b2) = (p1a(q), p1b(q), p3a(q), p3b(q))
      val w1 = math.min(a1.warm, a2.warm)
      val w3 = math.min(b1r.warm, b2.warm)
      s""""${short(q)}":{"sf1_cold":${f(a1.cold)},"sf1_warm":${f(w1)},""" +
      s""""sf1_warm_p1":${f(a1.warm)},"sf1_warm_p2":${f(a2.warm)},""" +
      s""""sf1_spread":${f(spread(a1.warm, a2.warm))},""" +
      s""""sf3_cold":${f(b1r.cold)},"sf3_warm":${f(w3)},""" +
      s""""sf3_warm_p1":${f(b1r.warm)},"sf3_warm_p2":${f(b2.warm)},""" +
      s""""sf3_spread":${f(spread(b1r.warm, b2.warm))},""" +
      s""""rows_sf1":${a1.rows},"rows_sf3":${b1r.rows},"warm_exponent":${f(warmExponent(w1, w3))}}"""
    }
    val unstable = ExponentTier
      .map(q => q -> math.max(spread(p1a(q).warm, p1b(q).warm), spread(p3a(q).warm, p3b(q).warm)))
      .filter(_._2 > 2.0)
    val isoRows = (unstable.map(_._1) :+ "q273_graph_ann_insert").distinct.map { q =>
      val i1 = isolatedWarm(src, "/tmp/graft_sf1", 10, q)
      val i3 = isolatedWarm(src, "/tmp/graft_sf3", 30, q)
      s""""${short(q)}":{"sf1":${f(i1)},"sf3":${f(i3)},"exponent":${f(warmExponent(i1, i3))}}"""
    }
    Harness.writeArtifact("BENCH_SF3.json",
      s"""{"metric":"sf3_scaling","tier_size":${ExponentTier.size},""" +
      s""""passes":2,"order":"seeded-shuffle per pass","warm":"min across sessions",""" +
      s""""build_sec_sf1":${f(b1)},"build_sec_sf3":${f(b3)},""" +
      s""""unstable_over_2x":{${unstable.map { case (q, s) => s""""${short(q)}":${f(s)}""" }.mkString(",")}},""" +
      s""""isolated":{${isoRows.mkString(",")}},""" +
      s""""families":{${rows.mkString(",")}}}""")
  }

  /** Deterministic CLUSTERED vector corpus for the q38/q274 pruning
    * measurement (round-16 verdict #2): `n` vectors in `nClusters`
    * groups — each consecutive id pair (2m, 2m+1) shares a cluster AND a
    * perturbation, differing only by a tiny delta, so the corpus carries
    * exactly n/2 injected near-duplicate pairs (cos ≈ 0.9994) while
    * same-cluster non-pairs sit at cos ≈ 0.85 with a sub-1e-7 tail above
    * the 0.95 measurement threshold (numpy-validated on 5.3M sampled
    * pairs) and cross-cluster pairs at ≈ 0. Geometry:
    * e(id) = C(g) + 0.42·U(pair) + 0.02·W(id), U/W xxhash64-uniform in
    * [−1, 1]^64 — macro chord radius ≈ 0.49 on the unit sphere, so the
    * ball-cover reach 2r + τ(0.95) ≈ 1.30 clears the exact-√2 one-hot
    * center separation with a 0.117 margin.
    */
  private def clusteredVecs(spark: SparkSession, n: Long,
                            nClusters: Long): DataFrame = {
    import org.apache.spark.sql.Column
    def unit(tag: String, key: Column, p: Column): Column =
      pmod(xxhash64(lit(tag), key, p), lit(2000001L)).cast("double") / 1e6 - 1.0
    // Macro centers (nClusters ≤ 6) are DETERMINISTIC one-hot blocks
    // (±21 ones on one of three disjoint 21-dim blocks): min inter-center
    // distance is exactly √2 on the unit sphere and |C| = √21 has zero
    // spread, so the ball-cover reach 2r + τ(0.95) ≈ 1.30 clears it with
    // a hard margin — random [−1,1]^64 centers put close pairs at ~1.22
    // and the first macro capture showed NO pruning because of it.
    // Micro centers stay hash-random (the point of that mode is a cover
    // that CANNOT resolve the clusters — geometry is irrelevant there).
    def centerComp(g: Column, p: Column): Column =
      if (nClusters <= 6) {
        val blockStart = (g % 3) * 21
        when(p >= blockStart && p < blockStart + 21,
             when(g < 3, lit(1.0)).otherwise(lit(-1.0)))
          .otherwise(lit(0.0))
      } else unit("C", g, p)
    spark.range(n).select(col("id").as("vec_id"),
        floor(col("id") / 2).cast("long").as("pair"))
      .withColumn("g", col("pair") % nClusters)
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)), p =>
          (centerComp(col("g"), p) + lit(0.42) * unit("U", col("pair"), p) +
            lit(0.02) * unit("W", col("vec_id"), p)).cast("float"))
          .as("embedding"),
        concat(lit("l"), pmod(col("g"), lit(4)).cast("string")).as("label"))
  }

  /** Exact-DUPLICATE clustered corpus (round-17 verdict #4's geometry):
    * `n` vectors in `nClusters` groups, every member of a group
    * byte-IDENTICAL (one hash-random vector per group) — the crawl-corpus
    * case where exact collapse detaches compute from output. Cluster
    * assignment id % nClusters interleaves ids across clusters.
    */
  private def dupeVecs(spark: SparkSession, n: Long,
                       nClusters: Long): DataFrame = {
    import org.apache.spark.sql.Column
    def unit(tag: String, key: Column, p: Column): Column =
      pmod(xxhash64(lit(tag), key, p), lit(2000001L)).cast("double") / 1e6 - 1.0
    spark.range(n).select(col("id").as("vec_id"),
        (col("id") % nClusters).as("g"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)),
                  p => unit("D", col("g"), p).cast("float")).as("embedding"),
        concat(lit("l"), pmod(col("g"), lit(4)).cast("string")).as("label"))
  }

  /** The q38/q274 "real corpora cluster, the ball cover prunes" claim,
    * measured instead of asserted (round-16 verdict #2). Three corpus
    * geometries at two scales (10/30 × the sf0.1 vector count), both
    * near-dup forms run at minCosine = 0.95 — the high-threshold regime
    * where the triangle-inequality reach 2r + τ (τ = √(2−2t) = 0.32) can
    * actually separate clusters:
    *
    *   - macro: 6 tight clusters (≤ k = 8 Lloyd cells) — the geometry
    *     the cover CAN exploit; expected: only near-diagonal cell pairs
    *     reachable, candidates ∝ Σ|i|², wall ≪ decorrelated.
    *   - micro: n/40 clusters (≫ k) — Lloyd cells each hold many
    *     scattered clusters, radii ≈ the sphere's typical distance, all
    *     cell pairs reachable: NO pruning, the blockwise all-pairs floor.
    *   - decorrelated: the standard rotated-copies corpus (no structure).
    *
    * At the GATED threshold 0.4 the claim is retracted by geometry, not
    * measurement: τ = √1.2 ≈ 1.10 exceeds 2−2r for any usable radius —
    * reach covers every cell pair on ANY data — and a cluster tight
    * enough to prune is a complete subgraph at t = 0.4, so the
    * qualifying-pair OUTPUT is itself quadratic in cluster size. The
    * artifact records that as `gated_threshold_note`.
    *
    * Round 18 adds the two MITIGATION measurements the round-17 verdict
    * asked for: a `low_threshold` section (micro + decorrelated at the
    * gated t = 0.4: exact vs the q278 banded-LSH pre-blocker, recall =
    * rows ratio since preblock ⊆ exact) and a `dupes` section
    * (exact-duplicate clusters: plain cover vs the q279 collapse
    * pre-pass, outputs asserted row-identical in the artifact).
    * Writes BENCH_CLUSTERED.json.
    * Usage: runMain graft.ScaleRehearsal clustered [srcDir]
    */
  private def clusteredMain(src: String): Unit = {
    import graft.operators.Similarity
    def f(v: Double) = fmt(v, 2)
    val nBase = Harness.session("clustered-probe")(_.read.parquet(s"$src/embeddings.parquet").count())
    val t    = 0.95
    val tLow = 0.4 // q38's gated threshold: the regime where the cover
                   // provably cannot prune (gated_threshold_note below)
    // one (mode, scale, op) measurement in a FRESH session: cold + two
    // warm reps (warm = min), shuffle rows captured over the warm reps
    // as the candidate-volume witness
    def measure(mode: String, copies: Int, op: String): Pt =
      Harness.session(s"clustered-$mode-$copies-$op") { spark =>
        val n = nBase * copies
        // decorrelated reuses the standard rehearsal corpora (shared with
        // the exponents mode — usually already built)
        val dirPath =
          if (mode == "decorrelated") s"/tmp/graft_sf${if (copies == 10) 1 else 3}"
          else s"/tmp/graft_clu_${mode}_$copies"
        val vecs =
          if (mode == "decorrelated") {
            build(spark, src, dirPath, copies)
            spark.read.parquet(s"$dirPath/embeddings.parquet")
          } else {
            if (!new java.io.File(s"$dirPath/embeddings.parquet/_SUCCESS").exists) {
              val gen =
                if (mode == "dupes") dupeVecs(spark, n, n / 40)
                else clusteredVecs(spark, n, if (mode == "macro") 6L else n / 40)
              gen.write.mode("overwrite").parquet(s"$dirPath/embeddings.parquet")
            }
            spark.read.parquet(s"$dirPath/embeddings.parquet")
          }
        val sm = new ServeMetrics
        spark.sparkContext.addSparkListener(sm)
        def frame(): DataFrame = op match {
          case "q38op" =>
            Similarity.exactNearDupBlocked(vecs, "vec_id", "embedding", t)
          case "topk" =>
            Similarity.nearDupTopK(vecs, "vec_id", "embedding", t, 5)
          case "q38op_lowt" =>
            Similarity.exactNearDupBlocked(vecs, "vec_id", "embedding", tLow)
          case "preblock" =>
            Similarity.nearDupPreBlockedLsh(vecs, "vec_id", "embedding", tLow)
          case "collapsed" =>
            Similarity.exactNearDupCollapsed(vecs, "vec_id", "embedding", t)
          case other => sys.error(s"unknown clustered op $other")
        }
        def once() = sm.measure(spark.sparkContext)(frame().count())
        val (c, rows, _) = once()
        val warm = Seq.fill(2)(once())
        val pt = Pt(c, warm.map(_._1).min, rows, warm.map(_._3.shuffleWriteRows).min)
        System.err.println(f"[clustered $mode x$copies $op] cold=$c%.1f " +
          f"warm=${pt.warm}%.1f rows=$rows shuffleRows=${pt.shuffleRows}")
        pt
      }
    def opJson(op: String, p1: Pt, p3: Pt): String =
      s""""$op":{"sf1_warm":${f(p1.warm)},"sf3_warm":${f(p3.warm)},""" +
      s""""sf1_cold":${f(p1.cold)},"sf3_cold":${f(p3.cold)},""" +
      s""""rows_sf1":${p1.rows},"rows_sf3":${p3.rows},""" +
      s""""shuffle_rows_sf1":${p1.shuffleRows},""" +
      s""""shuffle_rows_sf3":${p3.shuffleRows},"warm_exponent":${f(warmExponent(p1.warm, p3.warm))}}"""
    def runOps(mode: String, ops: Seq[String]): (String, Map[String, (Pt, Pt)]) = {
      val pts = ops.map { op =>
        op -> (measure(mode, 10, op), measure(mode, 30, op))
      }.toMap
      (ops.map(op => opJson(op, pts(op)._1, pts(op)._2)).mkString(","), pts)
    }
    // Section 1 — the high-threshold pruning evidence (round-16 verdict #2)
    val modesOut = Seq("macro", "micro", "decorrelated").map { m =>
      s""""$m":{${runOps(m, Seq("q38op", "topk"))._1}}"""
    }
    // Section 2 — the GATED low threshold (round-17 verdict #3): exact vs
    // banded-LSH pre-blocking on the two geometries where the cover
    // cannot prune at t = 0.4. preblock output ⊆ exact (same scoring
    // expression on mined candidates), so recall = rows ratio.
    val lowOut = Seq("micro", "decorrelated").map { m =>
      val (js, pts) = runOps(m, Seq("q38op_lowt", "preblock"))
      def recall(pick: ((Pt, Pt)) => Pt): String = {
        val ex = pick(pts("q38op_lowt")).rows
        val fd = pick(pts("preblock")).rows
        if (ex == 0) "null" else f(fd.toDouble / ex)
      }
      s""""$m":{$js,"recall_sf1":${recall(_._1)},""" +
      s""""recall_sf3":${recall(_._2)}}"""
    }
    // Section 3 — exact-duplicate clusters (round-17 verdict #4): plain
    // cover vs the collapse pre-pass; outputs must be row-identical
    // (the expansion is exact for duplicate clusters by definition).
    val (dupJs, dupPts) = runOps("dupes", Seq("q38op", "collapsed"))
    val rowsEqual =
      dupPts("q38op")._1.rows == dupPts("collapsed")._1.rows &&
      dupPts("q38op")._2.rows == dupPts("collapsed")._2.rows
    Harness.writeArtifact("BENCH_CLUSTERED.json",
      s"""{"metric":"neardup_clustered","threshold":$t,"low_threshold_t":$tLow,""" +
      s""""n_base":$nBase,"scales":[10,30],"modes":{${modesOut.mkString(",")}},""" +
      s""""low_threshold":{${lowOut.mkString(",")}},""" +
      s""""dupes":{$dupJs,"rows_equal":$rowsEqual},""" +
      s""""gated_threshold_note":"at q38's gated t=0.4, tau=sqrt(1.2)=1.10 """ +
      s"""makes every cell pair reachable for any usable radius AND a """ +
      s"""prunably-tight cluster is a complete qualifying subgraph — """ +
      s"""pruning cannot hold there on any data; the measured 100 TB paths """ +
      s"""at low thresholds are the capped q274 contract, the q278 """ +
      s"""banded-LSH pre-blocker (recall per cosine band in q280), and the """ +
      s"""q279 exact-duplicate collapse for dup-heavy corpora"}""")
  }

  /** Per-stage wall time and shuffle constants of one 100× run, read from
    * the graftbus listener.
    */
  private final class Stages(spark: SparkSession, tag: String) {
    private val sm = new ServeMetrics
    spark.sparkContext.addSparkListener(sm)
    private val entries = scala.collection.mutable.LinkedHashMap[String, String]()
    def json: String = entries.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

    /** Runs `action` as stage `name` and returns its row count. The
      * artifact field `perField` holds the stage's shuffle write bytes per
      * `per` input rows, or per output row when `per` is None: a serve
      * leg's shuffle is query-batch-sized by contract, so dividing it by
      * the corpus would give a "constant" that shrinks with corpus size.
      */
    def apply(name: String, perField: String, per: Option[Long])(action: => Long): Long = {
      val (sec, n, m) = sm.measure(spark.sparkContext)(action)
      val wb = m.shuffleWriteBytes
      entries(name) =
        s"""{"sec":${fmt(sec, 2)},"rows_out":$n,"shuffle_write_bytes":$wb,""" +
        s""""shuffle_rows":${m.shuffleWriteRows},"shuffle_read_bytes":${m.shuffleReadBytes},""" +
        s""""$perField":${fmt(wb.toDouble / math.max(per.getOrElse(n), 1L), 2)}}"""
      System.err.println(s"[$tag] $name ${entries(name)}")
      n
    }
  }

  /** The 100× modes' shared harness: 100 copies of sf0.1 (~500k
    * documents, ~200k vectors) in /tmp/graft_sf10, `spark.sql.shuffle.
    * partitions` sized as a cluster deployment would be (256), the build
    * timed. `body` runs its [[Stages]] and returns the artifact's fields
    * that go before `shuffle_partitions` and after `build_sec`.
    */
  private def at100x(src: String, metric: String, file: String)(
      body: (SparkSession, String, Stages) => (String, String)): Unit =
    Harness.session(metric) { spark =>
      spark.conf.set("spark.sql.shuffle.partitions", "256")
      val out = "/tmp/graft_sf10"
      val (buildSec, _) = timed(build(spark, src, out, copies = 100))
      val stages = new Stages(spark, metric)
      val (head, tail) = body(spark, out, stages)
      Harness.writeArtifact(file,
        s"""{"metric":"$metric","copies":100,$head,"shuffle_partitions":256,""" +
        s""""build_sec":${fmt(buildSec, 2)},$tail"stages":${stages.json}}""")
    }

  /** 100×-shape demonstration (round-14 verdict stretch): the single most
    * load-bearing operator chain — MinHash LSH end-to-end (sign → band →
    * candidate mine → exact verify → connected components) — at 100×,
    * recording per-stage wall time and SHUFFLE BYTES/ROWS so the 100 TB
    * extrapolation in PERF.md cites measured constants (shuffle bytes per
    * corpus document) instead of a shape argument. Writes
    * BENCH_LSH100X.json.
    * Usage: runMain graft.ScaleRehearsal lsh100x [srcDir]
    */
  private def lsh100xMain(src: String): Unit =
    at100x(src, "lsh_100x", "BENCH_LSH100X.json") { (spark, out, stage) =>
      import graft.operators.Dedup
      val docs = spark.read.parquet(s"$out/documents.parquet")
      val nDocs = docs.count()
      // Constructions happen INSIDE the stage blocks: the dedup operators
      // run their mining EAGERLY at DataFrame-construction time (their
      // Materialize lineage cuts), so building them outside would bill
      // every real job to no stage.
      var cand: DataFrame = null
      // Stage 1 — sign + band + bucket-join candidate mining (the q36
      // machinery at its shipped 8-hash/4-band shape, cached signatures).
      val nCand = stage("mine_candidates", "write_bytes_per_doc", Some(nDocs)) {
        cand = Dedup.minhashCandidates(docs, "doc_id", "text")
        cand.count()
      }
      // Stage 2 — exact Jaccard verification of the candidates against the
      // full shingle sets.
      var verified: DataFrame = null
      val nPairs = stage("verify_pairs", "write_bytes_per_doc", Some(nDocs)) {
        val sh = Dedup.shingled(docs, "doc_id", "text")
        verified = core.Materialize.cachedWhile(sh)(
          core.Materialize.cutLocal(Dedup.verifyPairs(cand, sh, threshold = 0.5)))
        verified.count()
      }
      // Stage 3 — connected components over the verified dup edges
      // (endpoints-only label propagation: the cluster-labeling leg).
      val nDups = stage("connected_components", "write_bytes_per_doc", Some(nDocs)) {
        val cc = Dedup.connectedComponents(
          docs.select(col("doc_id").as("id")), verified, "doc_a", "doc_b")
        cc.filter(col("id") =!= col("cluster_id")).count()
      }
      (s""""n_docs":$nDocs""",
        s""""n_candidates":$nCand,"n_verified_pairs":$nPairs,"n_dup_docs":$nDups,""")
    }

  /** 100×-shape shuffle constants for the two heaviest BUILDS beyond the
    * LSH chain (round-15 verdict #4): NN-descent graph construction
    * (q268's build leg — the most expensive index build, sf3 cold
    * 49.6 s) and the q119 covariance scan (the d²-moment aggregation
    * whose committed sf1 point was the contention casualty), with
    * bytes-per-input-row constants. Writes BENCH_HEAVY100X.json.
    * Usage: runMain graft.ScaleRehearsal heavy100x [srcDir]
    */
  private def heavy100xMain(src: String): Unit =
    at100x(src, "heavy_100x", "BENCH_HEAVY100X.json") { (spark, out, stage) =>
      val nVecs = spark.read.parquet(s"$out/embeddings.parquet").count()
      // Stage 1 — NN-descent BUILD: md5 block init (N·draws·(block−1)
      // candidate pairs), refinement rounds (edge-of-edge expansion), all
      // through the bounded TopKPairs heap. Forcing the frame runs the
      // whole build; the serve-side beam never enters.
      stage("nnd_build", "write_bytes_per_row", Some(nVecs)) {
        graft.queries.VectorQueries.nndBuildFrame(spark, out).count()
      }
      // Stage 2 — the q268 serve leg over the NOW-CACHED graph: its
      // marginal shuffle constants must be corpus-size-free (query-batch
      // sized), which is the session-artifact claim made measurable.
      stage("nnd_serve_marginal", "write_bytes_per_out_row", None) {
        SparkEntry.queries("q268_graph_ann_beam")(spark, out).count()
      }
      // Stage 3 — q119 covariance: the one-scan d²-moment partial+final
      // aggregation; shuffle volume must be the d²-cell constant ×
      // partitions, NOT proportional to the corpus.
      stage("covariance_scan", "write_bytes_per_row", Some(nVecs)) {
        SparkEntry.queries("q119_covariance")(spark, out).count()
      }
      (s""""n_vectors":$nVecs""", "")
    }

  /** FULL-SUITE sf1 rehearsal: every `SparkEntry.queries` entry cold +
    * warm at 10 copies — closing the round-14 verdict's top gap
    * ("219/257 families have no measured 10× point").
    *
    * The sweep runs TWO passes in SEPARATE sessions, each with a
    * differently-seeded deterministic SHUFFLE of the family order (so a
    * transient load spike can't sit on the same families twice), and the
    * artifact persists, per family, the MIN across passes AND the spread
    * (both warm readings + max/min ratio). A family whose two warm
    * readings disagree by more than 2× is flagged in `unstable` and gets
    * an [[isolatedWarm]] reading, committed as `isolated_warm`, so the
    * artifact carries its own trust signal.
    * Usage: runMain graft.ScaleRehearsal full [srcDir] [outDir]
    */
  private def fullMain(src: String, out: String): Unit = {
    def f(v: Double) = fmt(v, 1)
    val names = SparkEntry.queries.keys.toSeq
      .sortBy(n => (n.drop(1).takeWhile(_.isDigit).toInt, n))
    def runPass(pass: Int) = sweep(src, out, 10, s"scale-rehearsal-full-p$pass",
      new scala.util.Random(7919 * (pass + 1)).shuffle(names), warmReps = 1)
    val (b1, p1, e1) = runPass(1)
    val (_,  p2, e2) = runPass(2)
    def m(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val both = names.filter(q => p1.contains(q) && p2.contains(q))
    // cold comes from pass 1 ONLY: pass 2 runs in the same JVM after
    // pass 1 has JIT-compiled every query path and page-cached the
    // parquet, so a min across passes would publish a systematically
    // warmer-than-true "cold". warm stays min-of-2.
    val cold = both.map(q => short(q) -> f(p1(q).cold))
    val warm = both.map(q => short(q) -> f(math.min(p1(q).warm, p2(q).warm)))
    val w1   = both.map(q => short(q) -> f(p1(q).warm))
    val w2   = both.map(q => short(q) -> f(p2(q).warm))
    val rows = both.map(q => short(q) -> p1(q).rows.toString)
    def spreadOf(q: String): Double = spread(p1(q).warm, p2(q).warm)
    val unstableNames = both.filter(spreadOf(_) > 2.0)
    val unstable = unstableNames.map(q => short(q) -> f(spreadOf(q)))
    val isolated = unstableNames.map(q => short(q) -> f(isolatedWarm(src, out, 10, q)))
    val errs = (e1.keySet ++ e2.keySet).toSeq.sorted
      .map(q => short(q) -> ("\"" + (e1.get(q) orElse e2.get(q)).get + "\""))
    Harness.writeArtifact("BENCH_SF1.json",
      s"""{"metric":"sf1_rehearsal","copies":10,"families":${names.size},""" +
      s""""passes":2,"order":"seeded-shuffle per pass",""" +
      s""""build_sec":${f(b1)},""" +
      s""""cold":${m(cold)},"warm":${m(warm)},""" +
      s""""warm_pass1":${m(w1)},"warm_pass2":${m(w2)},""" +
      s""""unstable_over_2x":${m(unstable)},""" +
      s""""isolated_warm":${m(isolated)},""" +
      s""""rows":${m(rows)},"errors":${m(errs)}}""")
    if (errs.nonEmpty) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(1).getOrElse("/root/testdata/sf0.1")
    args.headOption match {
      case Some("full")      => fullMain(src, args.lift(2).getOrElse("/tmp/graft_sf1"))
      case Some("exponents") => exponentsMain(src)
      case Some("lsh100x")   => lsh100xMain(src)
      case Some("heavy100x") => heavy100xMain(src)
      case Some("clustered") => clusteredMain(src)
      case _ =>
        System.err.println(
          "usage: runMain graft.ScaleRehearsal full|exponents|lsh100x|heavy100x|clustered [srcDir] ...")
        sys.exit(2)
    }
  }
}
