package graft.queries

import graft.core.{Artifact, Tables}
import graft.functions.{Exact, Text}
import graft.operators.Drift
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Text-retrieval + frequency-sketch operators over `documents` — the
  * "index-free search" slice of the training-data pipeline: BM25 keyword
  * retrieval for a fixed query (corpus triage / boosted sampling by
  * topicality) and a count-min sketch for heavy-hitter token frequencies
  * (the streaming-friendly complement to an exact groupBy count).
  *
  * Scale discipline shared by both: per-document statistics are computed
  * scan-local (pure projections over the token array — no explode+shuffle
  * for a FIXED term set), corpus-level statistics collapse to constant-size
  * frames (a single stats row / a ≤ d·w-row sketch) that broadcast back
  * onto the scan. The corpus itself is never shuffled.
  */
object RetrievalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The fixed BM25 query terms (present in the synthetic vocabulary). */
  private val BmTerms = Seq("spark", "join", "vector")

  private val CmsDepth = 4
  private val CmsWidth = 1024

  /** q250's evaluation depth (= both legs' top-k) and persistence p. */
  private val RboK = 25

  /** q250's per-depth RBO weights W_d = (1−p)·p^(d−1)/d at p = 0.9,
    * 1e9-quantized driver-side (corpus-independent — q199's static-
    * planner discipline).
    */
  private val RboWeightsE9: Seq[Long] =
    (1 to RboK).map(d =>
      Exact.e9(0.1 * math.pow(0.9, d - 1) / d))

  /** Suffix sums S_m = Σ_{d=m..K} W_d — exact BIGINT sums of the
    * quantized weights, so a doc matched at depth m = max(rank_a,
    * rank_b) contributes its ENTIRE tail of overlap terms in one
    * integer: RBO_trunc = Σ_matched S_m (Webber et al. 2010's
    * prefix-overlap sum reassociated per matched document).
    */
  private val RboSuffixWeightsE9: Seq[(Long, Long)] =
    (1 to RboK).map(m => (m.toLong, RboWeightsE9.drop(m - 1).sum))

  /** q166 sketch width — wider than [[CmsWidth]] because inner-product
    * (join-size) estimation errors scale with ||a||₁·||b||₁/width, far
    * steeper than the point-query overcount q89 demonstrates.
    */
  private val JoinEstWidth = 8192

  /** K–M bucket row per hash row — shared derivation in
    * [[graft.functions.HexKeys.kmBuckets]] (also used by the streaming
    * sketch in `streaming.EventsStream`).
    */
  private def cmsBuckets(hex: Column): Column =
    graft.functions.HexKeys.kmBuckets(hex, CmsDepth, CmsWidth)

  private val defs1: Map[String, Q] = Map(
    // ---------------------------------------------------------------
    // q88: BM25 top-k retrieval for a fixed 3-term query. Okapi BM25
    // (k1=1.2, b=0.75) — the standard keyword-relevance score
    // (Robertson & Spärck Jones; the reference ranks indicators by
    // threshold predicates, this is the text-corpus analog used to
    // triage training data by topicality).
    //
    // 100 TB shape: because the query terms are literals, per-document
    // term frequencies are PROJECTIONS over the token array
    // (size(filter(toks, t = term)) — scan-local, no explode, no
    // shuffle; the filter HOF evaluates interpreted, so the token
    // array is aliased in its OWN projection first — multi-referenced
    // non-cheap aliases are not inlined by CollapseProject, so the
    // split runs once per row, not once per tf column). Corpus stats
    // (N, Σdl, per-term document frequencies) collapse to ONE row that
    // returns by broadcast; the only movement of document data is the
    // final TakeOrdered top-25. avgdl is Σdl/N computed from exact
    // integer sums — no merge-order float accumulation anywhere; the
    // 3-term score sums in fixed expression order and is quantized to
    // 1e-9 (same ulp discipline as q78's perplexity).
    // ---------------------------------------------------------------
    "q88_bm25_topk" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val withToks = docs.select(
        col("doc_id"), col("lang"), Text.tokens(col("text")).as("toks"))
      val tfCols = BmTerms.zipWithIndex.map { case (t, i) =>
        size(filter(col("toks"), x => x === lit(t))).cast(LongType).as(s"tf$i")
      }
      val base = withToks.select(
        col("doc_id") +: col("lang") +:
          size(col("toks")).cast(LongType).as("dl") +: tfCols: _*)
      val statCols = count(lit(1)).as("n_docs") +: sum(col("dl")).as("sum_dl") +:
        BmTerms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
      val stats = base.agg(statCols.head, statCols.tail: _*)
      val avgdl = col("sum_dl").cast(DoubleType) / col("n_docs").cast(DoubleType)
      def contrib(i: Int): Column = {
        val tf  = col(s"tf$i").cast(DoubleType)
        val dfq = col(s"df$i").cast(DoubleType)
        val idf = log(lit(1.0) +
          (col("n_docs").cast(DoubleType) - dfq + lit(0.5)) / (dfq + lit(0.5)))
        val denom = tf + lit(1.2) *
          (lit(1.0) - lit(0.75) + lit(0.75) * (col("dl").cast(DoubleType) / avgdl))
        when(col(s"tf$i") > 0, idf * (tf * lit(2.2)) / denom).otherwise(lit(0.0))
      }
      val score = BmTerms.indices.map(contrib).reduce(_ + _) // fixed order
      val nMatched = BmTerms.indices
        .map(i => when(col(s"tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _)
      base.crossJoin(broadcast(stats))
        .select(col("doc_id"), col("lang"), nMatched.as("n_terms_matched"),
                Exact.q9(score).as("bm25_score"))
        .filter(col("n_terms_matched") > 0)
        .orderBy(col("bm25_score").desc, col("doc_id").asc)
        .limit(25)
    },

    // ---------------------------------------------------------------
    // q142: hybrid retrieval with reciprocal-rank fusion — the modern
    // RAG-serving shape: a LEXICAL ranking (q88's BM25 top-25, reused
    // verbatim via this map) fused with a SEMANTIC ranking (cosine
    // against a fixed query embedding — vec_id 0, the deterministic
    // stand-in for an encoded query) by RRF:
    // score = Σ 1/(60 + rank), missing legs contribute 0.
    //
    // Shape at 100 TB: each leg ends in a TakeOrdered top-25 (no global
    // sort), the rank windows run over those 25-row frames only, and
    // the fusion is a full-outer join of two ≤25-row lists — constant
    // work after the scans. The semantic leg broadcasts the single
    // query vector onto the embedding scan (no shuffle of the corpus).
    // ---------------------------------------------------------------
    "q142_hybrid_rrf" -> { (s, dir) =>
      import graft.functions.Vectors
      // Ranking the 25-row legs: a Window.orderBy with no partition would
      // be correct (inputs are TakeOrdered top-25) but spams the one
      // WindowExec warning that must stay meaningful elsewhere. Instead
      // each leg collapses to ONE row via collect_list (bounded at 25
      // structs), sorts locally, and posexplodes — rank = position + 1,
      // same deterministic (score desc, doc_id asc) order, no window.
      // Sort key is (-score, doc_id): negation flips to ascending struct
      // order; nulls (possible only on the cosine leg) map to +MaxValue
      // so they rank last, matching desc_nulls_last.
      def rankLeg(leg: org.apache.spark.sql.DataFrame, score: Column,
                  rankName: String): org.apache.spark.sql.DataFrame =
        leg.agg(sort_array(collect_list(struct(
            coalesce(score * lit(-1.0), lit(Double.MaxValue)).as("ns"),
            col("doc_id").as("doc_id")))).as("xs"))
          .select(posexplode(col("xs")).as(Seq("pos", "x")))
          .select(col("x.doc_id").as("doc_id"),
                  (col("pos") + 1).cast(LongType).as(rankName))
      val lex = rankLeg(
        defs("q88_bm25_topk")(s, dir).select(col("doc_id"), col("bm25_score")),
        col("bm25_score"), "lex_rank")
      val e = Tables(s, dir).embeddings
      val qv = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qvec"))
        .withColumn("qn", Vectors.norm(col("qvec"))))
      val sem = rankLeg(
        e.filter(col("vec_id") =!= 0)
          .select(col("vec_id").as("doc_id"),
                  col("embedding").cast("array<double>").as("v"))
          .withColumn("nrm", Vectors.norm(col("v")))
          .crossJoin(qv)
          .select(col("doc_id"),
            when(col("nrm") > 0 && col("qn") > 0,
              Vectors.dot(col("v"), col("qvec")) / (col("nrm") * col("qn")))
              .as("cosine"))
          .orderBy(col("cosine").desc_nulls_last, col("doc_id"))
          .limit(25),
        col("cosine"), "sem_rank")
      val rrf =
        coalesce(lit(1.0) / (lit(60.0) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("sem_rank")), lit(0.0))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
                rrf.as("rrf_score"))
        .orderBy(col("rrf_score").desc, col("doc_id"))
        .limit(25)
    },

    // ---------------------------------------------------------------
    // q250: RANK-BIASED OVERLAP between q142's two retrieval legs — the
    // fusion diagnostic: RBO near 1 says lexical and semantic rankings
    // agree (fusion adds nothing, run the cheaper leg); near 0 says
    // they surface DISJOINT documents (fusion is load-bearing). RBO
    // (Webber et al. 2010) weights prefix overlaps geometrically —
    // truncated at both legs' depth K = 25 with p = 0.9 — and the sum
    // reassociates per MATCHED document: a doc at m = max(lex_rank,
    // sem_rank) appears in every prefix overlap from depth m on, so its
    // total contribution is the precomputed suffix literal S_m
    // ([[RboSuffixWeightsE9]]) and RBO_trunc = Σ_matched S_m — exact
    // BIGINT arithmetic end to end, one division at readout. Matched
    // docs are exactly q142's both-ranks-non-null rows, and ALL of them
    // survive q142's fused LIMIT 25: the minimum two-leg RRF score
    // 2/(60+25) ≈ 0.0235 exceeds the maximum single-leg score
    // 1/(60+1) ≈ 0.0164, so no matched doc can be cut. Scale shape:
    // rides q142's gated plan + a ≤K-row broadcast lookup + one 1-row
    // agg.
    // ---------------------------------------------------------------
    "q250_rank_biased_overlap" -> { (s, dir) =>
      import s.implicits._
      val sDf = broadcast(RboSuffixWeightsE9.toDF("m", "s_e9"))
      defs("q142_hybrid_rrf")(s, dir)
        .filter(col("lex_rank").isNotNull && col("sem_rank").isNotNull)
        .select(greatest(col("lex_rank"), col("sem_rank")).as("m"))
        .join(sDf, "m")
        .agg(count(lit(1)).as("n_both"),
             coalesce(sum(col("s_e9")), lit(0L)).as("rbo_e9"))
        .select(col("n_both"), col("rbo_e9"),
                (col("rbo_e9").cast(DoubleType) / 1e9).as("rbo"),
                (col("n_both").cast(DoubleType) / lit(RboK.toDouble))
                  .as("overlap_at_k"))
    },

    // ---------------------------------------------------------------
    // q89: count-min sketch heavy hitters (Cormode & Muthukrishnan).
    // The token-frequency sketch: d=4 rows × w=1024 counters, each
    // token occurrence incrementing one counter per row at a
    // K–M-derived md5 position; the estimate for a token is the MIN
    // over its d counters — an overestimate by construction, exact
    // for tokens that collide with nothing in some row.
    //
    // Like q66's KMV: the ESTIMATE itself hash-gates, because every
    // position derives from md5 — no engine-defined hash layouts.
    // 100 TB shape: the sketch is a ≤ d·w-row aggregate (partial
    // map-side combine collapses each scan task to ≤ 4096 counters
    // before the shuffle) that BROADCASTS back onto the probe side;
    // the probe set here is the vocabulary (the exact truth is also
    // computed to exhibit the overcount), in production an arbitrary
    // candidate list. The corpus is scanned, never shuffled at width.
    // ---------------------------------------------------------------
    // ---------------------------------------------------------------
    // q147: mergeable deterministic QUANTILE sketch — the missing member
    // of the sketch family (distinct: KMV/HLL q66/q124; heavy hitters:
    // CMS q89; quantiles were exact-only, q93). A KMV-style bottom-k
    // hash sample: each group keeps the k=64 rows with the smallest
    // md5("qsk|" || event_id) — a uniform, DETERMINISTIC sample whose
    // union property (bottom-k of a union = bottom-k of the merged
    // bottom-ks) makes the state mergeable, O(k) per group, map-side
    // partial — and approximate quantiles are exact interpolated
    // percentiles OF the sample. The value rides INSIDE the TopKPairs
    // string key (md5 ‖ '|' ‖ lossless DoubleSortKey hex) so no second
    // corpus scan fetches it back; hash order dominates the key order.
    // Like q66/q89: the ESTIMATE itself hash-gates (every sampled row
    // and the interpolation arithmetic are engine-reproducible).
    // 100 TB shape: ObjectHashAggregate, every task reduces to ≤ k
    // pairs per group before the shuffle; no window, no full sort.
    // ---------------------------------------------------------------
    "q147_quantile_sketch" -> { (s, dir) =>
      import org.apache.spark.sql.graftx.{SortableDouble, TopKPairs}
      val e = Tables(s, dir).events
      val k = 64
      val keyed = e.filter(col("value").isNotNull)
        .select(col("event_type"),
          concat(md5(concat(lit("qsk|"), col("event_id").cast(StringType))),
                 lit("|"), SortableDouble.sortKeyDesc(col("value"))).as("skey"),
          col("event_id"))
      val agg = keyed.groupBy(col("event_type"))
        .agg(TopKPairs.topK(col("skey"), col("event_id"), k).as("top"))
        .withColumn("vals", sort_array(transform(col("top"),
          x => SortableDouble.decodeDesc(substring(x.getField("key"), 34, 16)))))
      val n = size(col("vals"))
      def quant(p: Double): Column = {
        val h  = (n - 1).cast(DoubleType) * lit(p)
        val lo = floor(h).cast("int")
        val hi = ceil(h).cast("int")
        element_at(col("vals"), lo + 1) +
          (element_at(col("vals"), hi + 1) - element_at(col("vals"), lo + 1)) *
            (h - lo.cast(DoubleType))
      }
      agg.select(col("event_type"), n.cast(LongType).as("n_sample"),
        quant(0.25).as("p25"), quant(0.5).as("p50"),
        quant(0.75).as("p75"), quant(0.9).as("p90"))
    },

    "q89_cms_heavy_hitters" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      // CMS is LINEAR: summing each occurrence into its buckets equals
      // summing per-token counts into the same buckets. Folding through
      // the (partial-agg'd) token counts first pays ONE corpus
      // aggregation and one md5 per DISTINCT token instead of one per
      // occurrence (measured 3.3 s → sub-second at sf0.1); the exact
      // counts were needed anyway to exhibit the overcount. With an
      // unbounded vocabulary you'd fold occurrences straight into the
      // ≤ d·w-counter partial aggregate instead — same operator, the
      // map-side combine still collapses every task to ≤ 4096 rows.
      val truth = docs
        .select(explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("true_cnt"))
        .withColumn("hex", md5(concat(lit("cms|"), col("tok"))))
      val entries = truth.select(
        col("true_cnt"),
        posexplode(cmsBuckets(col("hex"))).as(Seq("r", "bucket")))
      val cms = entries.groupBy(col("r"), col("bucket"))
        .agg(sum(col("true_cnt")).as("cnt"))
      val probe = truth.select(
        col("tok"), col("true_cnt"),
        posexplode(cmsBuckets(col("hex"))).as(Seq("r", "bucket")))
      probe.join(broadcast(cms), Seq("r", "bucket"))
        .groupBy(col("tok"), col("true_cnt"))
        .agg(min(col("cnt")).as("cms_estimate"))
        .select(col("tok"), col("true_cnt"), col("cms_estimate"),
                (col("cms_estimate") - col("true_cnt")).as("overcount"))
    },

    // ---------------------------------------------------------------
    // q166: join-size estimation via CMS inner product (AMS-style) —
    // the planner primitive behind "broadcast, shuffle, or pre-filter?"
    // decisions: |A ⋈ B| on a key = Σ_k cntA(k)·cntB(k), estimated
    // WITHOUT co-shuffling the sides by taking the minimum over depth
    // rows of the inner product of each side's count-min sketch (the
    // q89 sketch; inner products of CMS rows overestimate by hash
    // collisions, never underestimate). 100 TB shape: each side
    // collapses map-side to its ≤ d·w-counter sketch independently —
    // the estimate costs two scans and a 4096-row join, vs the real
    // join's full co-shuffle; the exact value rides along (computed on
    // the key-bounded count tables, not the raw rows) as the audit
    // column, q152/q163 discipline. All-integer arithmetic hash-gates.
    // ---------------------------------------------------------------
    "q166_join_size_estimate" -> { (s, dir) =>
      val t = Tables(s, dir)
      // wider than q89's token sketch: inner-product error scales with
      // ||a||1 * ||b||1 / width, and the key domain here is dense
      val w = JoinEstWidth
      def counted(df: DataFrame, key: String) =
        df.select(col(key).cast(LongType).as("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
          .withColumn("hex", md5(concat(lit("cms|"), col("k").cast(StringType))))
      val a = counted(t.events, "user_id")
      val b = counted(t.orders, "o_custkey")
      def sketch(side: DataFrame) = side
        .select(col("cnt"), posexplode(
          graft.functions.HexKeys.kmBuckets(col("hex"), CmsDepth, w)).as(Seq("r", "bucket")))
        .groupBy(col("r"), col("bucket")).agg(sum(col("cnt")).as("c"))
      val est = sketch(a).withColumnRenamed("c", "ca")
        .join(sketch(b).withColumnRenamed("c", "cb"), Seq("r", "bucket"))
        .groupBy(col("r")).agg(sum(col("ca") * col("cb")).as("ip"))
        .agg(min(col("ip")).as("cms_estimate"))
      val exact = a.select(col("k"), col("cnt").as("ca"))
        .join(b.select(col("k"), col("cnt").as("cb")), Seq("k"))
        .agg(sum(col("ca") * col("cb")).as("exact_size"),
             count(lit(1)).as("n_shared_keys"))
      exact.crossJoin(broadcast(est))
        .select(col("exact_size"), col("n_shared_keys"), col("cms_estimate"),
                (col("cms_estimate") - col("exact_size")).as("overcount"))
    },

    // ---------------------------------------------------------------
    // q129: TRAINED quality classifier at corpus scale (the round-7
    // verdict's "model-based quality classifier inference" gap) —
    // fastText-shape: a multinomial-NB log-odds linear model fit on the
    // q61 train split with the q33 heuristic as its distillation target,
    // applied scan-locally over hashed features. The feature stream is
    // q103's hashing-trick BoW PLUS one engineered `len:<bucket>`
    // pseudo-token per doc (standard fastText practice — extra features
    // ride the same hash space): the label is length-dominated, and the
    // pseudo-token lifts holdout accuracy from majority-baseline 78% to
    // 89%. Fit = one integer aggregate → ≤64-row quantized-ln weight
    // table; apply = weights BROADCAST onto the feature stream + per-doc
    // integer dot product (order-free, hash-gates exactly). See
    // operators.Classifier for the model form and the 100 TB shape;
    // q120's confusion-matrix evaluator grades exactly this
    // (label, predicted) surface.
    // ---------------------------------------------------------------
    "q129_quality_classifier" -> { (s, dir) => classifierScores(s, dir) },

    // ---------------------------------------------------------------
    // q131: evaluation of the TRAINED q129 classifier on its holdout —
    // the q120 confusion-matrix shape applied to the model the verdict
    // asked it to grade: cells + marginals + recall/precision
    // components over the non-train slice. Scale shape: q129's output
    // collapses to ≤4 cells via one partial+final agg; the cell frame
    // is checkpointed (driver-small) and marginals join by broadcast.
    // ---------------------------------------------------------------
    // ---------------------------------------------------------------
    // q188: calibration (reliability) curve of the q129 classifier on
    // its holdout — the readout that decides whether the model's
    // quality scores can gate a corpus ("does score 0.9 actually mean
    // 90%?"): the INTEGER log-odds score (score_e9) bins into 10
    // uniform buckets over the holdout range — all-integer bin edges,
    // so no float binning can drift — and each bucket reports its
    // empirical positive rate next to the sigmoid of its mean score.
    // Integer divisions keep non-negative numerators throughout (the
    // mean is mn + avg(score − mn)) because engines disagree on
    // negative integral division (floor vs truncate).
    // ---------------------------------------------------------------
    "q188_calibration_curve" -> { (s, dir) =>
      val ho = defs("q129_quality_classifier")(s, dir)
        .filter(!col("in_train"))
        .select(col("label"), col("score_e9"))
      val mm = ho.agg(min(col("score_e9")).as("mn"), max(col("score_e9")).as("mx"))
      val g = ho.crossJoin(broadcast(mm))
        .withColumn("bin",
          least(expr("((score_e9 - mn) * 10) DIV (mx - mn + 1)"), lit(9L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
             sum(col("score_e9")).as("sum_e9"))
        .crossJoin(broadcast(mm))
        .withColumn("mean_score_e9",
          expr("mn + (sum_e9 - mn * n_docs) DIV n_docs"))
      g.select(col("bin"), col("n_docs"), col("n_pos"),
          (col("n_pos").cast(DoubleType) / col("n_docs").cast(DoubleType))
            .as("positive_rate"),
          col("mean_score_e9"),
          Exact.q9(lit(1.0) /
             (lit(1.0) + exp(-(col("mean_score_e9").cast(DoubleType) / 1e9))))
            .as("expected_rate"))
    },

    "q131_classifier_eval" -> { (s, dir) =>
      graft.operators.Classifier.confusion(
        defs("q129_quality_classifier")(s, dir).filter(!col("in_train")),
        "label", "predicted")
    },

    // ---------------------------------------------------------------
    // q103: hashing-trick featurizer (Weinberger et al.) — documents →
    // sparse 64-dim integer vectors with dim = md5 bucket and ±1 sign
    // from an independent hash slice: the vocabulary-free featurizer
    // that feeds clustering/ANN when training an embedding model is off
    // the table. All-integer output (signed counts), so it hash-gates
    // exactly. 100 TB shape: one scan-local hash projection + one
    // partial+final (doc, dim) aggregation — dims are bounded (≤64 per
    // doc), no vocabulary table, no join, nothing broadcast.
    // ---------------------------------------------------------------
    "q103_feature_hashing" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val hexed = docs
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), md5(concat(lit("fh|"), col("tok"))).as("hex"))
      val dim  = graft.functions.HexKeys.value16(col("hex"), 0) % 64
      val sgn  = (graft.functions.HexKeys.value16(col("hex"), 4) % 2) * 2 - 1
      hexed
        .select(col("doc_id"), dim.cast(LongType).as("dim"),
                sgn.cast(LongType).as("sgn"))
        .groupBy(col("doc_id"), col("dim"))
        .agg(sum(col("sgn")).as("feature"), count(lit(1)).as("n_hits"))
    },

    // ---------------------------------------------------------------
    // q92: per-document keyword extraction — top-3 tokens by tf·idf
    // (idf = ln(N/df)). The per-doc counterpart to q88's corpus-level
    // retrieval: the "what is this document about" tagging step.
    //
    // 100 TB shape: tf = ONE corpus-token aggregation (map-side partial
    // combine — tokens repeat within a doc's partition); df is
    // vocabulary-sized and broadcasts; the top-3 runs as the bounded-
    // heap TopKPairs aggregate (map-side ≤3 pairs per doc — NO
    // row_number window funnelling a doc's tokens through one task).
    // Ranking determinism: the heap key is a 19-digit zero-padded
    // inverted quantized score + '|' + token, so binary ASC order ==
    // (score DESC, token ASC) exactly — the oracle's ORDER BY.
    // ---------------------------------------------------------------
    "q92_tfidf_keywords" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val tf = docs
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      import org.apache.spark.sql.graftx.TopKPairs
      val scaled = Exact.e9(col("tf").cast(DoubleType) *
        log(col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)))
      val key = TopKPairs.descKey(scaled, col("tok"))
      tf.join(broadcast(dfreq), "tok")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), key.as("key"), col("tf"))
        .groupBy(col("doc_id"))
        .agg(TopKPairs.topK(col("key"), col("tf"), 3).as("top"))
        .select(col("doc_id"), posexplode(col("top")))
        .select(
          col("doc_id"), (col("pos") + 1).cast(LongType).as("kw_rank"),
          substring_index(col("col.key"), "|", -1).as("tok"),
          col("col.id").as("tf"),
          (TopKPairs.descScore(col("col.key")).cast(DoubleType) / 1e9).as("tfidf_score"))
    },

    // ---------------------------------------------------------------
    // q112: distribution-drift monitor (Population Stability Index)
    // between two halves of events.value — the data-quality gate a
    // continuously-refreshed training corpus needs ("did this batch's
    // feature distribution shift?"). Bins are fixed from the REFERENCE
    // side only (standard PSI practice: 10 uniform bins over its
    // min/max, current-side outliers clamped into the edge bins). Scale
    // shape: two scans collapse to one stats row + two ≤10-row count
    // frames; everything after the partial+final counts is constant-
    // size. Smoothing, terms and the exact total: Drift.psi.
    // ---------------------------------------------------------------
    // ---------------------------------------------------------------
    // q181: q112's PSI unrolled over EVENT TIME — the monitoring form a
    // continuously-ingesting pipeline actually runs: every event-time
    // week scored against week 0 (the reference), bins fixed from the
    // reference week's min/max (q112's practice), one PSI total per
    // week. Week indexing is pure integer arithmetic on epoch days
    // ((day − min_day) DIV 7 — never engine week-of-year semantics);
    // the per-bin/term/total arithmetic is q112's Drift.psi per week. Scale shape: two aggregations
    // (stats row + (week, bin) counts) and constant-size frames after.
    // ---------------------------------------------------------------
    "q181_windowed_psi" -> { (s, dir) =>
      val B = 10
      val e0 = Tables(s, dir).events.filter(col("value").isNotNull)
        .select(col("value"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      val minDay = e0.agg(min(col("day")).as("min_day"))
      val e = e0.crossJoin(broadcast(minDay))
        .select(col("value"), expr("(day - min_day) DIV 7").as("week_idx"))
      val stats = e.filter(col("week_idx") === 0)
        .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      val binned = e.crossJoin(broadcast(stats))
        .select(col("week_idx"), psiBin(col("value")).as("bin"))
      psiFromBinned(s, binned)
    })

  /** The 10-bin PSI bucket of `value` given in-scope vmin/vmax columns
    * (q112's clamped uniform binning) — shared by q181 and the
    * streaming drift leg so both pin the same arithmetic.
    */
  def psiBin(value: Column): Column = {
    val B = 10
    greatest(lit(0.0),
      when(col("vmax") > col("vmin"),
        least(floor((value - col("vmin")) /
          (col("vmax") - col("vmin")) * B), lit((B - 1).toDouble)))
      .otherwise(lit(0.0)))
    .cast(LongType)
  }

  /** The q181 drift-curve tail over a (week_idx, bin)-row frame (one row
    * per event) — the streaming leg derives the same readout from its
    * state table.
    */
  def psiFromBinned(s: SparkSession, binned: DataFrame): DataFrame = {
      val B = 10
      // eagerly cut: ≤ weeks×B rows (constant-size — Materialize routing
      // policy #3), but referenced THREE times below (reference side,
      // week grid, current side) — uncut, each reference re-expanded the
      // full corpus-scale `binned` scan (q181's committed plan: 96
      // parquet scans of events for one PSI curve)
      val counts = graft.core.Materialize.cut(
        binned.groupBy(col("week_idx"), col("bin"))
          .agg(count(lit(1)).as("cnt")), "psi_counts")
      val refCounts = counts.filter(col("week_idx") === 0)
        .select(col("bin"), col("cnt").as("ref_cnt"))
      val weeks = counts.select(col("week_idx")).filter(col("week_idx") >= 1).distinct()
      val grid = weeks.crossJoin(s.range(B).select(col("id").as("bin")))
      val joined = grid
        .join(broadcast(refCounts), Seq("bin"), "left")
        .join(counts.filter(col("week_idx") >= 1)
                .select(col("week_idx"), col("bin"), col("cnt").as("cur_cnt")),
              Seq("week_idx", "bin"), "left")
        .select(col("week_idx"), col("bin"),
                coalesce(col("ref_cnt"), lit(0L)).as("ref_cnt"),
                coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"))
      Drift.psi(joined, B, "week_idx")
  }

  // lazy: defs2 is declared below; eager init would read it as null
  lazy val defs: Map[String, Q] = defs1 ++ defs2

  private val defs2: Map[String, Q] = Map(
    "q112_drift_psi" -> { (s, dir) =>
      val B = 10
      val e = Tables(s, dir).events.filter(col("value").isNotNull)
      val ref = e.filter(col("event_id") % 2 === 0)
      val cur = e.filter(col("event_id") % 2 === 1)
      val stats = ref.agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      def counts(side: DataFrame, name: String) = side
        .crossJoin(broadcast(stats))
        .select(psiBin(col("value")).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as(name))
      val bins = s.range(B).select(col("id").as("bin"))
      val joined = bins
        .join(counts(ref, "ref_cnt"), Seq("bin"), "left")
        .join(counts(cur, "cur_cnt"), Seq("bin"), "left")
        .select(col("bin"),
                coalesce(col("ref_cnt"), lit(0L)).as("ref_cnt"),
                coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"))
      Drift.psi(joined, B)
    },

    // ---------------------------------------------------------------
    // q93: fixed-bin histogram quantile sketch over events.value — the
    // mergeable approximate-quantile op for 100 TB numeric columns
    // (the constant-size complement to q18's exact percentile_cont):
    // pass 1 collapses to ONE (min, max, count) row; pass 2 bins every
    // value into 1024 uniform buckets with a scan-local projection and
    // partial+final counts. The CDF walk and the quantile pick run
    // over ≤ 1024 rows — the only Window in the plan sees the
    // CONSTANT-size histogram, never the data. Estimates are
    // deterministic (bin assignment is pure IEEE arithmetic, identical
    // in the oracle), so the rows hash-gate.
    // ---------------------------------------------------------------
    "q93_histogram_quantiles" -> { (s, dir) =>
      val e = Tables(s, dir).events
      val stats = e.agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"),
                        count(col("value")).as("n"))
      val binned = e.select(col("value")).filter(col("value").isNotNull)
        .crossJoin(broadcast(stats))
        // vmax == vmin (degenerate corpus) would give 0/0 = NaN and least()
        // would silently park every row in bin 1023 — map it to bin 0 instead
        .select(when(col("vmax") > col("vmin"),
                  least(floor((col("value") - col("vmin")) /
                    (col("vmax") - col("vmin")) * 1024), lit(1023.0)))
                  .otherwise(lit(0.0))
                  .cast(LongType).as("bin"))
      val hist = binned.groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
      // CDF over the ≤1024 aggregated bins — see Macros.constPartition
      // for the non-foldable constant-key idiom
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.Macros.constPartition(col("bin")))
        .orderBy(col("bin"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val cdf = hist.withColumn("cum_cnt", sum(col("cnt")).over(w))
      val targets = stats.select(explode(array(Seq(50, 90, 99).map(p =>
        struct(lit(p.toLong).as("pct"),
               expr(s"(n * $p + 99) div 100").as("target_rank"))): _*)).as("t"))
        .select(col("t.pct"), col("t.target_rank"))
      targets.join(cdf, col("cum_cnt") >= col("target_rank"))
        .groupBy(col("pct"), col("target_rank"))
        .agg(min(col("bin")).as("bin_idx"))
        .crossJoin(broadcast(stats))
        .select(col("pct"), col("target_rank"), col("bin_idx"),
          (col("vmin") + col("bin_idx").cast(DoubleType) *
            (col("vmax") - col("vmin")) / 1024).as("bin_lo"),
          (col("vmin") + (col("bin_idx") + 1).cast(DoubleType) *
            (col("vmax") - col("vmin")) / 1024).as("bin_hi"))
    },

    // -----------------------------------------------------------------
    // q122: Zipf power-law fit over the token frequency distribution —
    // the corpus-health diagnostic of a dataset card (natural text has
    // slope ≈ −1 in ln(freq) vs ln(rank); synthetic/templated corpora
    // flatten it). Scale shape: the corpus explode collapses to the
    // VOCAB-bounded tf aggregate (partial+final); the rank window runs
    // only over that aggregate (q93's allowance, constPartition
    // non-foldable key); the OLS is ONE single-row aggregation over
    // ≤ 100 points. Determinism: Exact.logLogFit.
    "q122_zipf_fit" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val tf = docs.select(explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.Macros.constPartition(col("freq")))
        .orderBy(col("freq").desc, col("tok"))
      val pts = tf.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 100)
      Exact.logLogFit(pts, col("rank").cast(DoubleType), col("freq").cast(DoubleType))
        .select(col("n").as("n_points"), col("slope").as("zipf_slope"),
                col("intercept").as("zipf_intercept"), col("r_squared"))
    },

    // -----------------------------------------------------------------
    // q124: HyperLogLog distinct-count sketch (Flajolet et al. 2007;
    // p=8 → m=256 registers) over per-source document fingerprints,
    // evaluated against the exact distinct — the approximate dedup-rate
    // estimator. 100 TB shape: exact countDistinct must shuffle every
    // fingerprint once; the sketch's max-merge register aggregation
    // collapses map-side to ≤ m rows per task and the merged register
    // table is 256 rows per group, PERIOD — the same
    // constant-size-sketch argument as q89's CMS. Determinism: the
    // register derivation (2 md5 hex digits → bucket, HexKeys.leadRho
    // over the next 12 → rank) is pure integer hex arithmetic shared
    // with the oracle; max is order-invariant; the estimator is exact
    // integer math — Σ 2^(49−Mj) as a BIGINT power sum (never a float
    // 2^−M), α·m² as a scaled integer literal over a DECIMAL `div`
    // (truncating, ≡ DuckDB `//` — no round-then-floor hazard), and
    // the linear-counting branch (V>0 ∧ E ≤ 5m/2) quantizes its one
    // ln() to 1e-9 before use (the q102 idiom). The exact leg exists
    // for the error column; the sketch leg alone is the scale path.
    // -----------------------------------------------------------------
    "q124_hll_distinct" -> { (s, dir) =>
      import graft.functions.HexKeys
      val docs = Tables(s, dir).documents
      val hex = md5(col("text"))
      val regs = docs
        .select(col("source"),
          (HexKeys.digit(hex, 0) * 16 + HexKeys.digit(hex, 1)).as("bucket"),
          HexKeys.leadRho(hex, 2, 12).as("rho"))
        .groupBy(col("source"), col("bucket"))
        .agg(max(col("rho")).as("mj"))
      val est = regs.groupBy(col("source")).agg(
          sum(expr("shiftleft(CAST(1 AS BIGINT), 49 - mj)")).as("s_present"),
          count(lit(1)).cast(LongType).as("nb"))
        .select(col("source"), (lit(256L) - col("nb")).as("v"),
          (col("s_present") + (lit(256L) - col("nb")) * lit(1L << 49)).as("s_sum"))
        // α₂₅₆·m²·2⁴⁹·10⁶ = 718273·65536·2⁴⁹ (α scaled by 1e6)
        .withColumn("e_raw", expr(
          "CAST(26499596412111161535758336 AS DECIMAL(38,0)) div " +
            "(CAST(s_sum AS DECIMAL(38,0)) * 1000000)"))
      val lnq = Exact.e9(log(lit(256.0) / col("v").cast(DoubleType)))
      val fin = est.select(col("source"),
        when(col("v") > 0 && col("e_raw") <= 640,
          floor(lit(256.0) * lnq / 1e9).cast(LongType))
          .otherwise(col("e_raw")).as("n_hll"))
      val exact = docs.groupBy(col("source"))
        .agg(countDistinct(col("text")).as("n_exact"))
      exact.join(fin, Seq("source"))
        .select(col("source"), col("n_exact"), col("n_hll"),
          expr("(abs(n_hll - n_exact) * 10000) div n_exact").as("err_bp"))
    }
  )

  private def hex4Sql(from: Int, hexCol: String = "hex"): String =
    graft.functions.HexKeys.value16Sql(from, hexCol)

  /** The q129 fit+apply, scored once per (session, dir) — the jaccard05
    * memo discipline: q129 itself and q131's evaluator both consume the
    * scored frame, and the fit (featurizer scan + weight aggregate)
    * should never run twice because two queries need its output.
    * Eagerly checkpointed (same CLUSTER CAVEAT as the pair miners).
    */
  private val scoreCache = new Artifact[DataFrame]("nb_scores")
  private def classifierScores(s: SparkSession, dir: String): DataFrame =
    scoreCache.cut(s, dir) {
      val d = Tables(s, dir).documents
      val toks = Text.tokens(col("text"))
      val aug = concat(toks, array(concat(lit("len:"),
        least(floor(size(toks) / lit(10.0)).cast(LongType), lit(12L))
          .cast(StringType))))
      val hexed = d
        .select(col("doc_id"), explode(aug).as("tok"))
        .select(col("doc_id"), md5(concat(lit("fh|"), col("tok"))).as("hex"))
      val feats = hexed
        .select(col("doc_id"),
                (graft.functions.HexKeys.value16(col("hex"), 0) % 64)
                  .cast(LongType).as("dim"))
        .groupBy(col("doc_id"), col("dim"))
        .agg(count(lit(1)).as("n_hits"))
      val labels = TextQueries.defs("q33_text_quality")(s, dir)
        .select(col("doc_id"), col("is_high_quality").as("label"))
      val trainIds = TextQueries.defs("q61_train_split")(s, dir)
        .filter(col("split") === "train").select(col("doc_id"))
      graft.operators.Classifier.nbLogOddsScore(
        d.select(col("doc_id")), feats, labels, trainIds, dims = 64)
    }

  /** The q103 featurizer oracle — shared verbatim by q129's composed fit. */
  private val q103Oracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, md5('fh|' || tok) AS hex
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)),
       |e AS (
       |  SELECT doc_id,
       |         CAST(${graft.functions.HexKeys.value16Sql(0)} % 64 AS BIGINT) AS dim,
       |         CAST((${graft.functions.HexKeys.value16Sql(4)} % 2) * 2 - 1 AS BIGINT)
       |           AS sgn
       |  FROM tok)
       |SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS feature,
       |       CAST(count(*) AS BIGINT) AS n_hits
       |FROM e GROUP BY doc_id, dim""".stripMargin

  /** The composed q129 fit+apply oracle — shared by q131's evaluator. */
  private lazy val q129Oracle: String =
      s"""WITH aug AS (
         |  SELECT doc_id, tok
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)
         |  UNION ALL
         |  SELECT doc_id,
         |    'len:' || CAST(least(len(string_split(text, ' ')) // 10, 12) AS VARCHAR)
         |  FROM documents),
         |feats AS (
         |  SELECT doc_id,
         |         CAST(${graft.functions.HexKeys.value16Sql(0)} % 64 AS BIGINT) AS dim,
         |         CAST(count(*) AS BIGINT) AS n_hits
         |  FROM (SELECT doc_id, md5('fh|' || tok) AS hex FROM aug)
         |  GROUP BY 1, 2),
         |lab AS (
         |  SELECT doc_id, is_high_quality AS label
         |  FROM (${TextQueries.oracles("q33_text_quality")}) q),
         |tr AS (
         |  SELECT doc_id FROM (${TextQueries.oracles("q61_train_split")}) s
         |  WHERE split = 'train'),
         |dh AS (
         |  SELECT doc_id, CAST(SUM(n_hits) AS BIGINT) AS doc_hits
         |  FROM feats GROUP BY 1),
         |tot AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN label THEN coalesce(doc_hits, 0) ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN NOT label THEN coalesce(doc_hits, 0) ELSE 0 END) AS BIGINT) AS tn,
         |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS npos,
         |    CAST(SUM(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS nneg
         |  FROM tr JOIN lab USING (doc_id) LEFT JOIN dh USING (doc_id)),
         |dc0 AS (
         |  SELECT dim,
         |    CAST(SUM(CASE WHEN label THEN n_hits ELSE 0 END) AS BIGINT) AS cp0,
         |    CAST(SUM(CASE WHEN NOT label THEN n_hits ELSE 0 END) AS BIGINT) AS cn0
         |  FROM feats JOIN tr USING (doc_id) JOIN lab USING (doc_id) GROUP BY 1),
         |dc AS (
         |  SELECT sp.dim, coalesce(cp0, 0) AS cp, coalesce(cn0, 0) AS cn
         |  FROM (SELECT DISTINCT dim FROM feats) sp LEFT JOIN dc0 USING (dim)),
         |w AS (
         |  SELECT dim,
         |    CAST(floor(ln(CAST(cp + 1 AS DOUBLE) / CAST(tp + 64 AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
         |    - CAST(floor(ln(CAST(cn + 1 AS DOUBLE) / CAST(tn + 64 AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS wq
         |  FROM dc CROSS JOIN tot),
         |b AS (
         |  SELECT CAST(floor(ln(CAST(npos AS DOUBLE) / CAST(nneg AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS bias_q
         |  FROM tot),
         |dot AS (
         |  SELECT doc_id, CAST(SUM(n_hits * wq) AS BIGINT) AS dot_q
         |  FROM feats JOIN w USING (dim) GROUP BY 1)
         |SELECT d.doc_id, lab.label,
         |  coalesce(t.in_train, false) AS in_train,
         |  coalesce(dot.dot_q, 0) + b.bias_q AS score_e9,
         |  (coalesce(dot.dot_q, 0) + b.bias_q) > 0 AS predicted
         |FROM documents d
         |LEFT JOIN lab USING (doc_id)
         |LEFT JOIN (SELECT doc_id, true AS in_train FROM tr) t USING (doc_id)
         |LEFT JOIN dot USING (doc_id)
         |CROSS JOIN b""".stripMargin

  /** The q142 oracle body — shared verbatim by q142 and (as a derived
    * table) q250's overlap read.
    */
  private lazy val q142Oracle: String =
    s"""WITH lex AS (
       |  SELECT doc_id,
       |         CAST(row_number() OVER (ORDER BY bm25_score DESC, doc_id ASC) AS BIGINT) AS lex_rank
       |  FROM ($q88Oracle) b),
       |emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |qv AS (SELECT v AS qvec, nrm AS qn FROM emb WHERE vec_id = 0),
       |sem0 AS (
       |  SELECT e.vec_id AS doc_id,
       |    CASE WHEN e.nrm > 0 AND q.qn > 0
       |         THEN list_dot_product(e.v, q.qvec) / (e.nrm * q.qn) END AS cosine
       |  FROM emb e CROSS JOIN qv q WHERE e.vec_id != 0),
       |sem AS (
       |  SELECT doc_id, sem_rank FROM (
       |    SELECT doc_id,
       |           CAST(row_number() OVER (ORDER BY cosine DESC NULLS LAST, doc_id ASC) AS BIGINT) AS sem_rank
       |    FROM sem0)
       |  WHERE sem_rank <= 25)
       |SELECT doc_id, lex_rank, sem_rank,
       |  coalesce(1.0 / (60.0 + lex_rank), 0.0)
       |    + coalesce(1.0 / (60.0 + sem_rank), 0.0) AS rrf_score
       |FROM lex FULL JOIN sem USING (doc_id)
       |ORDER BY rrf_score DESC, doc_id ASC
       |LIMIT 25""".stripMargin

  /** The q88 BM25 oracle — a val so q142's fusion oracle composes it
    * (the q127Oracle discipline).
    */
  private lazy val q88Oracle: String = {
      val terms = BmTerms
      val tfSel = terms.zipWithIndex
        .map { case (t, i) => s"len(list_filter(toks, x -> x = '$t')) AS tf$i" }
        .mkString(", ")
      val dfSel = terms.indices
        .map(i => s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
        .mkString(", ")
      def contrib(i: Int) =
        s"""CASE WHEN tf$i > 0 THEN
           |  ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
           |           / (CAST(df$i AS DOUBLE) + 0.5))
           |  * (CAST(tf$i AS DOUBLE) * 2.2)
           |  / (CAST(tf$i AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 *
           |       (CAST(dl AS DOUBLE)
           |        / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
           |ELSE 0.0 END""".stripMargin
      val matched = terms.indices
        .map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH base AS (
         |  SELECT doc_id, lang, len(toks) AS dl, $tfSel
         |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)),
         |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl, $dfSel FROM base)
         |SELECT doc_id, lang,
         |  CAST($matched AS BIGINT) AS n_terms_matched,
         |  floor((${terms.indices.map(i => s"(${contrib(i)})").mkString(" + ")})
         |        * 1e9 + 0.5) / 1e9 AS bm25_score
         |FROM base CROSS JOIN stats
         |WHERE $matched > 0
         |ORDER BY bm25_score DESC, doc_id ASC
         |LIMIT 25""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // Replays the bottom-k md5 sample (row_number over the same hash +
    // tie-break) and the same interpolated-percentile arithmetic over
    // the value-sorted sample — every sampled double and every IEEE op
    // is identical, so the ESTIMATES hash-match.
    "q147_quantile_sketch" -> {
      def q(p: String): String =
        s"vs[CAST(floor((n - 1) * $p) AS INT) + 1] + " +
          s"(vs[CAST(ceil((n - 1) * $p) AS INT) + 1] - " +
          s"vs[CAST(floor((n - 1) * $p) AS INT) + 1]) * " +
          s"((n - 1) * $p - floor((n - 1) * $p))"
      s"""WITH s AS (
         |  SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY md5('qsk|' || CAST(event_id AS VARCHAR)), event_id) AS rn
         |  FROM events WHERE value IS NOT NULL),
         |l AS (
         |  SELECT event_type, list(value ORDER BY value) AS vs,
         |         CAST(count(*) AS DOUBLE) AS n
         |  FROM s WHERE rn <= 64 GROUP BY 1)
         |SELECT event_type, CAST(n AS BIGINT) AS n_sample,
         |  ${q("0.25")} AS p25, ${q("0.5")} AS p50,
         |  ${q("0.75")} AS p75, ${q("0.9")} AS p90
         |FROM l""".stripMargin
    },

    // Same register derivation character-for-character via the HexKeys
    // SQL twins; HUGEINT `//` ≡ Spark's DECIMAL `div` (both truncate);
    // the one ln() is 1e-9-quantized before use on both sides.
    "q124_hll_distinct" -> {
      val d0  = graft.functions.HexKeys.digitSql(0)
      val d1  = graft.functions.HexKeys.digitSql(1)
      val rho = graft.functions.HexKeys.leadRhoSql(2, 12)
      s"""WITH hx AS (SELECT source, md5(text) AS hex FROM documents),
         |regs AS (
         |  SELECT source, ($d0 * 16 + $d1) AS bucket, max($rho) AS mj
         |  FROM hx GROUP BY 1, 2),
         |agg AS (
         |  SELECT source,
         |    CAST(SUM((1::BIGINT << (49 - mj))) AS BIGINT) AS s_present,
         |    CAST(count(*) AS BIGINT) AS nb
         |  FROM regs GROUP BY 1),
         |est AS (
         |  SELECT source, 256 - nb AS v,
         |    CAST(26499596412111161535758336 //
         |      ((s_present + (256 - nb) * (1::BIGINT << 49))::HUGEINT * 1000000)
         |      AS BIGINT) AS e_raw
         |  FROM agg),
         |fin AS (
         |  SELECT source,
         |    CASE WHEN v > 0 AND e_raw <= 640
         |      THEN CAST(floor(256 * CAST(floor(ln(256.0 / v) * 1e9 + 0.5) AS BIGINT) / 1e9) AS BIGINT)
         |      ELSE e_raw END AS n_hll
         |  FROM est),
         |ex AS (SELECT source, CAST(count(DISTINCT text) AS BIGINT) AS n_exact
         |       FROM documents GROUP BY 1)
         |SELECT ex.source, n_exact, n_hll,
         |  (abs(n_hll - n_exact) * 10000) // n_exact AS err_bp
         |FROM ex JOIN fin USING (source)""".stripMargin
    },

    // Mirrors the Spark side op-for-op: quantized ln points, exact
    // DECIMAL(18,9) power sums, identical expression order in the
    // slope/intercept/r² arithmetic.
    "q122_zipf_fit" ->
      """WITH tf AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1),
        |ranked AS (
        |  SELECT freq,
        |    row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank
        |  FROM tf),
        |pts AS (
        |  SELECT floor(ln(CAST(rank AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS x,
        |         floor(ln(CAST(freq AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS y
        |  FROM ranked WHERE rank <= 100),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS DECIMAL(18,9))) AS sx,
        |    SUM(CAST(y AS DECIMAL(18,9))) AS sy,
        |    SUM(CAST(x AS DECIMAL(18,9)) * CAST(x AS DECIMAL(18,9))) AS sxx,
        |    SUM(CAST(x AS DECIMAL(18,9)) * CAST(y AS DECIMAL(18,9))) AS sxy,
        |    SUM(CAST(y AS DECIMAL(18,9)) * CAST(y AS DECIMAL(18,9))) AS syy
        |  FROM pts),
        |f AS (
        |  SELECT n,
        |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
        |  FROM a),
        |g AS (
        |  SELECT n, nd, sxd, syd, sxyd, syyd,
        |    nd * sxxd - sxd * sxd AS den,
        |    (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS slope
        |  FROM f)
        |SELECT n AS n_points,
        |  floor(slope * 1e9 + 0.5) / 1e9 AS zipf_slope,
        |  floor((syd - slope * sxd) / nd * 1e9 + 0.5) / 1e9 AS zipf_intercept,
        |  floor(((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd))
        |        / (den * (nd * syyd - syd * syd)) * 1e9 + 0.5) / 1e9 AS r_squared
        |FROM g""".stripMargin,

    "q88_bm25_topk" -> q88Oracle,

    // lexical rank over the q88 oracle's 25 rows + semantic rank against
    // the vec_id-0 query embedding, fused with 1/(60+rank) — every step
    // integer or fixed-order double arithmetic, so the fused ordering
    // hash-gates.
    "q142_hybrid_rrf" -> q142Oracle,

    // q250: q142's oracle as the fused frame, identical suffix-weight
    // VALUES literals, same exact-integer rollup and readout divisions.
    "q250_rank_biased_overlap" -> {
      val vals = RboSuffixWeightsE9.map { case (m, se9) => s"($m, $se9)" }
        .mkString(", ")
      s"""WITH f AS (
         |$q142Oracle),
         |s AS (SELECT CAST(m AS BIGINT) AS m, CAST(se9 AS BIGINT) AS s_e9
         |      FROM (VALUES $vals) AS t(m, se9)),
         |mm AS (
         |  SELECT greatest(lex_rank, sem_rank) AS m FROM f
         |  WHERE lex_rank IS NOT NULL AND sem_rank IS NOT NULL),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_both,
         |         CAST(coalesce(sum(s_e9), 0) AS BIGINT) AS rbo_e9
         |  FROM mm JOIN s USING (m))
         |SELECT n_both, rbo_e9, CAST(rbo_e9 AS DOUBLE) / 1e9 AS rbo,
         |  CAST(n_both AS DOUBLE) / ${RboK.toDouble} AS overlap_at_k
         |FROM a""".stripMargin
    },

    "q89_cms_heavy_hitters" -> {
      // DuckDB 1.0 rejects lateral unnest over column-derived arrays
      // (ADVICE r4), so the d bucket rows unpivot via UNION ALL.
      def unpivot(src: String, extra: String) = (0 until CmsDepth).map { j =>
        s"SELECT $extra CAST($j AS INTEGER) AS r, (h1 + $j * h2) % $CmsWidth AS bucket FROM $src"
      }.mkString("\n  UNION ALL ")
      s"""WITH tok AS (
         |  SELECT tok, md5('cms|' || tok) AS hex
         |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
         |hashed AS (SELECT tok, ${hex4Sql(0)} AS h1, ${hex4Sql(4)} AS h2 FROM tok),
         |e AS (
         |  ${unpivot("hashed", "")}),
         |cms AS (SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt
         |        FROM e GROUP BY r, bucket),
         |truth AS (SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt,
         |                 min(hex) AS hex
         |          FROM tok GROUP BY tok),
         |th AS (SELECT tok, true_cnt, ${hex4Sql(0)} AS h1, ${hex4Sql(4)} AS h2
         |       FROM truth),
         |probe AS (
         |  ${unpivot("th", "tok, true_cnt,")}),
         |est AS (
         |  SELECT tok, true_cnt, min(cnt) AS cms_estimate
         |  FROM probe JOIN cms USING (r, bucket) GROUP BY tok, true_cnt)
         |SELECT tok, true_cnt, cms_estimate,
         |       cms_estimate - true_cnt AS overcount
         |FROM est""".stripMargin
    },

    // Same sketch arithmetic per side (q89's UNION-ALL unpivot), inner
    // product per depth row, min across rows, exact size on the
    // key-bounded count join.
    "q166_join_size_estimate" -> {
      def unpivot(src: String) = (0 until CmsDepth).map { j =>
        s"SELECT cnt, CAST($j AS INTEGER) AS r, (h1 + $j * h2) % $JoinEstWidth AS bucket FROM $src"
      }.mkString("\n  UNION ALL ")
      s"""WITH a AS (
         |  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1),
         |b AS (
         |  SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS cnt
         |  FROM orders GROUP BY 1),
         |ah AS (SELECT cnt, ${hex4Sql(0, "hx")} AS h1, ${hex4Sql(4, "hx")} AS h2
         |       FROM (SELECT cnt, md5('cms|' || CAST(k AS VARCHAR)) AS hx FROM a)),
         |bh AS (SELECT cnt, ${hex4Sql(0, "hx")} AS h1, ${hex4Sql(4, "hx")} AS h2
         |       FROM (SELECT cnt, md5('cms|' || CAST(k AS VARCHAR)) AS hx FROM b)),
         |ae AS (${unpivot("ah")}),
         |be AS (${unpivot("bh")}),
         |acms AS (SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS ca FROM ae GROUP BY 1, 2),
         |bcms AS (SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS cb FROM be GROUP BY 1, 2),
         |ip AS (
         |  SELECT r, CAST(sum(ca * cb) AS BIGINT) AS ip
         |  FROM acms JOIN bcms USING (r, bucket) GROUP BY 1),
         |est AS (SELECT CAST(min(ip) AS BIGINT) AS cms_estimate FROM ip),
         |ex AS (
         |  SELECT CAST(sum(a.cnt * b.cnt) AS BIGINT) AS exact_size,
         |         CAST(count(*) AS BIGINT) AS n_shared_keys
         |  FROM a JOIN b USING (k))
         |SELECT ex.exact_size, ex.n_shared_keys, est.cms_estimate,
         |       est.cms_estimate - ex.exact_size AS overcount
         |FROM ex CROSS JOIN est""".stripMargin
    },

    "q103_feature_hashing" -> q103Oracle,

    // Composes the q33 / q61 oracles as derived tables (the
    // q116/q120/q121 composition pattern) over the augmented featurizer
    // (q103's hash + the len: pseudo-token), then mirrors the Spark fit:
    // corpus-wide dim spine, train-slice class counts, quantized-ln
    // log-odds weights, integer dot product + bias. ln() is evaluated
    // once per dim from exact integers on both engines, so the scores
    // hash-gate bit-exactly.
    "q129_quality_classifier" -> q129Oracle,

    "q188_calibration_curve" ->
      s"""WITH ho AS (
         |  SELECT label, score_e9 FROM ($q129Oracle) q WHERE NOT in_train),
         |mm AS (SELECT min(score_e9) AS mn, max(score_e9) AS mx FROM ho),
         |b AS (
         |  SELECT label, score_e9,
         |    least(((score_e9 - mn) * 10) // (mx - mn + 1), 9) AS bin
         |  FROM ho CROSS JOIN mm),
         |g AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |    CAST(sum(score_e9) AS BIGINT) AS sum_e9
         |  FROM b GROUP BY 1),
         |m2 AS (
         |  SELECT g.*, mm.mn + (g.sum_e9 - mm.mn * g.n_docs) // g.n_docs
         |           AS mean_score_e9
         |  FROM g CROSS JOIN mm)
         |SELECT CAST(bin AS BIGINT) AS bin, n_docs, n_pos,
         |  CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE) AS positive_rate,
         |  CAST(mean_score_e9 AS BIGINT) AS mean_score_e9,
         |  floor(1.0 / (1.0 + exp(-(CAST(mean_score_e9 AS DOUBLE) / 1e9)))
         |        * 1e9 + 0.5) / 1e9 AS expected_rate
         |FROM m2""".stripMargin,

    // The q120 evaluator shape over the q129 holdout: confusion cells +
    // marginals + recall/precision components, all from the composed
    // q129 oracle as a derived table.
    "q131_classifier_eval" ->
      s"""WITH scored AS (
         |  SELECT label, predicted FROM ($q129Oracle) q WHERE NOT in_train),
         |cells AS (
         |  SELECT label, predicted, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM scored GROUP BY 1, 2),
         |rt AS (SELECT label, CAST(SUM(n_docs) AS BIGINT) AS n_labeled
         |       FROM cells GROUP BY 1),
         |ct AS (SELECT predicted, CAST(SUM(n_docs) AS BIGINT) AS n_predicted
         |       FROM cells GROUP BY 1)
         |SELECT c.label, c.predicted, c.n_docs, rt.n_labeled, ct.n_predicted,
         |  CAST(c.n_docs AS DOUBLE) / CAST(rt.n_labeled AS DOUBLE) AS recall_component,
         |  CAST(c.n_docs AS DOUBLE) / CAST(ct.n_predicted AS DOUBLE) AS precision_component
         |FROM cells c JOIN rt USING (label) JOIN ct USING (predicted)""".stripMargin,


    "q92_tfidf_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, tok, tf,
        |    CAST(floor(CAST(tf AS DOUBLE)
        |               * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
        |               * 1e9 + 0.5) AS BIGINT) AS scaled
        |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, tok, tf, scaled,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY scaled DESC, tok ASC) AS kw_rank
        |  FROM scored)
        |SELECT doc_id, CAST(kw_rank AS BIGINT) AS kw_rank, tok, tf,
        |  CAST(scaled AS DOUBLE) / 1e9 AS tfidf_score
        |FROM ranked WHERE kw_rank <= 3""".stripMargin,

    "q181_windowed_psi" ->
      """WITH e0 AS (
        |  SELECT value, epoch_us(ts) // 86400000000 AS day
        |  FROM events WHERE value IS NOT NULL),
        |md AS (SELECT min(day) AS min_day FROM e0),
        |e AS (SELECT value, (day - min_day) // 7 AS week_idx
        |      FROM e0 CROSS JOIN md),
        |stats AS (
        |  SELECT min(value) AS vmin, max(value) AS vmax
        |  FROM e WHERE week_idx = 0),
        |binned AS (
        |  SELECT week_idx,
        |    CAST(greatest(0.0, CASE WHEN vmax > vmin
        |           THEN least(floor((value - vmin) / (vmax - vmin) * 10), 9.0)
        |           ELSE 0.0 END) AS BIGINT) AS bin
        |  FROM e CROSS JOIN stats),
        |counts AS (
        |  SELECT week_idx, bin, count(*) AS cnt FROM binned GROUP BY 1, 2),
        |rc AS (SELECT bin, cnt AS ref_cnt FROM counts WHERE week_idx = 0),
        |weeks AS (SELECT DISTINCT week_idx FROM counts WHERE week_idx >= 1),
        |grid AS (SELECT w.week_idx, CAST(b.bin AS BIGINT) AS bin
        |         FROM weeks w CROSS JOIN (SELECT unnest(range(10)) AS bin) b),
        |j AS (
        |  SELECT g.week_idx, g.bin,
        |    CAST(coalesce(rc.ref_cnt, 0) AS BIGINT) AS ref_cnt,
        |    CAST(coalesce(cc.cnt, 0) AS BIGINT) AS cur_cnt
        |  FROM grid g
        |  LEFT JOIN rc ON g.bin = rc.bin
        |  LEFT JOIN (SELECT week_idx, bin, cnt FROM counts WHERE week_idx >= 1) cc
        |    ON g.week_idx = cc.week_idx AND g.bin = cc.bin),
        |tot AS (
        |  SELECT week_idx, CAST(sum(ref_cnt) AS BIGINT) AS n_ref,
        |         CAST(sum(cur_cnt) AS BIGINT) AS n_cur
        |  FROM j GROUP BY 1),
        |terms AS (
        |  SELECT j.week_idx, j.bin, j.ref_cnt, j.cur_cnt,
        |    floor(((CAST(ref_cnt AS DOUBLE) + 0.5) / (CAST(n_ref AS DOUBLE) + 5.0)
        |          - (CAST(cur_cnt AS DOUBLE) + 0.5) / (CAST(n_cur AS DOUBLE) + 5.0))
        |        * ln(((CAST(ref_cnt AS DOUBLE) + 0.5) / (CAST(n_ref AS DOUBLE) + 5.0))
        |           / ((CAST(cur_cnt AS DOUBLE) + 0.5) / (CAST(n_cur AS DOUBLE) + 5.0)))
        |        * 1e9 + 0.5) / 1e9 AS psi_term
        |  FROM j JOIN tot USING (week_idx)),
        |wt AS (
        |  SELECT week_idx,
        |         CAST(sum(CAST(psi_term AS DECIMAL(18,9))) AS DOUBLE) AS psi_total
        |  FROM terms GROUP BY 1)
        |SELECT t.week_idx, t.bin, t.ref_cnt, t.cur_cnt, t.psi_term, wt.psi_total
        |FROM terms t JOIN wt USING (week_idx)""".stripMargin,

    "q112_drift_psi" ->
      """WITH e AS (SELECT event_id, value FROM events WHERE value IS NOT NULL),
        |stats AS (
        |  SELECT min(value) AS vmin, max(value) AS vmax
        |  FROM e WHERE event_id % 2 = 0),
        |rc AS (
        |  SELECT CAST(greatest(0.0, CASE WHEN vmax > vmin
        |           THEN least(floor((value - vmin) / (vmax - vmin) * 10), 9.0)
        |           ELSE 0.0 END) AS BIGINT) AS bin, count(*) AS cnt
        |  FROM e CROSS JOIN stats WHERE event_id % 2 = 0 GROUP BY 1),
        |cc AS (
        |  SELECT CAST(greatest(0.0, CASE WHEN vmax > vmin
        |           THEN least(floor((value - vmin) / (vmax - vmin) * 10), 9.0)
        |           ELSE 0.0 END) AS BIGINT) AS bin, count(*) AS cnt
        |  FROM e CROSS JOIN stats WHERE event_id % 2 = 1 GROUP BY 1),
        |bins AS (SELECT unnest(range(10)) AS bin),
        |j AS (
        |  SELECT bins.bin,
        |    CAST(coalesce(rc.cnt, 0) AS BIGINT) AS ref_cnt,
        |    CAST(coalesce(cc.cnt, 0) AS BIGINT) AS cur_cnt
        |  FROM bins LEFT JOIN rc ON bins.bin = rc.bin
        |            LEFT JOIN cc ON bins.bin = cc.bin),
        |tot AS (SELECT CAST(sum(ref_cnt) AS BIGINT) AS n_ref,
        |               CAST(sum(cur_cnt) AS BIGINT) AS n_cur FROM j),
        |terms AS (
        |  SELECT bin, ref_cnt, cur_cnt,
        |    floor(((CAST(ref_cnt AS DOUBLE) + 0.5) / (CAST(n_ref AS DOUBLE) + 5.0)
        |          - (CAST(cur_cnt AS DOUBLE) + 0.5) / (CAST(n_cur AS DOUBLE) + 5.0))
        |        * ln(((CAST(ref_cnt AS DOUBLE) + 0.5) / (CAST(n_ref AS DOUBLE) + 5.0))
        |           / ((CAST(cur_cnt AS DOUBLE) + 0.5) / (CAST(n_cur AS DOUBLE) + 5.0)))
        |        * 1e9 + 0.5) / 1e9 AS psi_term
        |  FROM j CROSS JOIN tot)
        |SELECT bin, ref_cnt, cur_cnt, psi_term,
        |  (SELECT CAST(sum(CAST(psi_term AS DECIMAL(18,9))) AS DOUBLE)
        |   FROM terms) AS psi_total
        |FROM terms""".stripMargin,
    "q93_histogram_quantiles" ->
      """WITH stats AS (
        |  SELECT min(value) AS vmin, max(value) AS vmax, count(value) AS n
        |  FROM events),
        |binned AS (
        |  SELECT CAST(CASE WHEN vmax > vmin
        |              THEN least(floor((value - vmin) / (vmax - vmin) * 1024),
        |                         1023.0)
        |              ELSE 0.0 END AS BIGINT) AS bin
        |  FROM events CROSS JOIN stats WHERE value IS NOT NULL),
        |hist AS (SELECT bin, count(*) AS cnt FROM binned GROUP BY bin),
        |cdf AS (
        |  SELECT bin, sum(cnt) OVER (ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt
        |  FROM hist),
        |targets AS (
        |  SELECT pct, (n * pct + 99) // 100 AS target_rank
        |  FROM (SELECT unnest([CAST(50 AS BIGINT),
        |                       CAST(90 AS BIGINT),
        |                       CAST(99 AS BIGINT)]) AS pct) CROSS JOIN stats),
        |sel AS (
        |  SELECT pct, target_rank, min(bin) AS bin_idx
        |  FROM targets JOIN cdf ON cum_cnt >= target_rank
        |  GROUP BY pct, target_rank)
        |SELECT pct, target_rank, bin_idx,
        |  vmin + CAST(bin_idx AS DOUBLE) * (vmax - vmin) / 1024 AS bin_lo,
        |  vmin + CAST(bin_idx + 1 AS DOUBLE) * (vmax - vmin) / 1024 AS bin_hi
        |FROM sel CROSS JOIN stats""".stripMargin
  )
}
