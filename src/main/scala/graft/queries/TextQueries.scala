package graft.queries

import graft.core.{Artifact, Tables}
import graft.functions.{Exact, Text}
import graft.operators.{Bpe, Classifier, Dedup}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.TopKPairs
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Text-analysis + deduplication operator inventory over `documents` —
  * the training-data-pipeline operators (token counting, fingerprinting,
  * language ID, quality scoring, exact / Jaccard / MinHash-LSH dedup,
  * JSON extraction). Every query delegates to the `graft.functions.Text` /
  * `graft.operators.Dedup` library so the oracle gate exercises the
  * library code itself.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q150 segment width: 10-token windows (the q75 segmentation unit) —
    * shared by the Spark def and the DuckDB oracle below.
    */
  private val MixSegTokens = 10

  /** q151 vocabulary checkpoints (merge counts) — 0 = whitespace base,
    * 256 = the full q144 fit. Shared by the def and the oracle.
    */
  private val BpeCoverageCheckpoints = Seq(0, 64, 128, 256)

  /** q264 bucket-count legs: B = 1 is the naive global-max-pad collator
    * baseline; 4 and 16 are the bucketed-batching candidates.
    */
  private val PadBucketLegs = Seq(1, 4, 16)

  /** q266: how many top-frequency terms get the burstiness readout. */
  private val BurstTopTerms = 30

  /** q269 Laplace-release ε legs, ×10 (0.5, 1, 2). */
  private val DpEpsX10Legs = Seq(5L, 10L, 20L)

  /** q162 growth checkpoints: B equal-width doc_id ranges — shared by the
    * Spark def and the DuckDB oracle below.
    */
  private val HeapsBuckets = 8

  /** q163 KMV sketch size (k minima kept per source) — shared by the
    * Spark def and the DuckDB oracle below.
    */
  private val KmvOverlapK = 128

  /** q169/q172 chunk width (tokens) — shared by the batch dedup, the
    * incremental index path, the streaming maintenance leg, and both
    * DuckDB oracles.
    */
  val ChunkDedupTokens = 20

  /** q213 sorted-neighborhood shape: ±`SnmWindow` sliding window over
    * `SnmRotations` hex-rotation sort orders of the distinct simhash
    * values, verified to hamming ≤ `SnmMaxHamming` — shared by the
    * Spark def and the DuckDB global-window replay below. Window and
    * rotations follow Manku et al.'s sorted-table design; the hamming
    * bar sits past q41's banding-exact range (≤ 3) on purpose: this
    * screen exists for the distances banding can't certify.
    */
  private val SnmWindow = 2

  /** q240's quadratic guard: clusters spanning more than this many
    * distinct sources never enter the pairwise matrix (fan-out per
    * cluster is bounded at CrossSourceCap², independent of |domains|).
    */
  private val CrossSourceCap = 64L

  /** q244's banding grid: every factorization (numBands, rowsPerBand) of
    * the fixed 8-hash signature budget, with the analytic 50%-capture
    * crossover s50 = (1 − 0.5^(1/b))^(1/r) precomputed driver-side (the
    * grid is corpus-independent — q199's static-planner discipline), so
    * both engines receive the identical double literal.
    */
  private val LshTuneConfigs: Seq[(Int, Int, Double)] =
    Seq(8 -> 1, 4 -> 2, 2 -> 4, 1 -> 8).map { case (b, r) =>
      (b, r, math.pow(1.0 - math.pow(0.5, 1.0 / b), 1.0 / r)) }
  private val SnmRotations = 4
  private val SnmMaxHamming = 8

  /** q164's stop-frame bar: frame hashes present in more than this many
    * videos are dropped before matching AND before the containment
    * denominators (black frames, intro cards, test patterns — the same
    * stop-key role WinnowDfCap plays for q206's fingerprints). Shared by
    * the Spark def and the DuckDB replay.
    */
  private val VideoFrameDfCap = 64L

  /** q214 audit sample: percent of DISTINCT simhash values (by md5
    * bucket of the hex value — deterministic, engine-portable) whose
    * pairwise ground truth is brute-forced. The audit's cost is
    * (rate·V)²/2 over VALUES, not documents — and round 13's fixed 20%
    * left the quadratic UNCOUPLED from V (at 100 TB, 20% of a billion
    * distinct values is a 2·10¹⁶-pair "audit"). The rate is now DERIVED
    * from V inside the plan (identically in both engines, integer-only
    * arithmetic): target ≤ [[SnmAuditBudgetPairs]] sampled truth pairs,
    * i.e. ≈ [[SnmAuditTargetVals]] sampled values, so
    * rate_pct = clamp(1, [[SnmAuditMaxPct]], 100·target DIV V) — and if
    * even the 1% floor over-runs the budget (V > 100·target) the query
    * raises rather than silently running the quadratic. TextSpec pins
    * the derivation's bounds.
    */
  private[graft] val SnmAuditBudgetPairs = 10000000L
  /** floor(sqrt(2 · SnmAuditBudgetPairs)) — the sampled-value count at
    * which C(n,2) hits the pair budget. */
  private[graft] val SnmAuditTargetVals = 4472L
  /** Cap = round 13's fixed rate, so small-V corpora (every test SF)
    * sample exactly as before and the gate hashes are unchanged. */
  private[graft] val SnmAuditMaxPct = 20L

  /** The budget-coupled audit rate over a 1-row frame holding the
    * distinct-value count as `__v` (BIGINT). Kept expression-level (not
    * a driver-side collect) so the DuckDB oracle replays the identical
    * derivation and the plan stays collection-free.
    */
  private[graft] def snmAuditRateExpr: Column = {
    val num = 100L * SnmAuditTargetVals
    // __v = 0 (empty corpus) must short-circuit BEFORE the integer
    // division: Spark's non-ANSI `num DIV 0` yields NULL (least/greatest
    // would then quietly produce the cap) while DuckDB's `// 0` raises —
    // the engines would diverge on a degenerate frame. Rate is moot with
    // zero values (no pairs exist), so both sides pin it to the cap.
    when(col("__v") === lit(0L), lit(SnmAuditMaxPct))
      .when(col("__v") > lit(num),
      raise_error(concat(
        lit("q214 audit budget exceeded: "), col("__v").cast("string"),
        lit(s" distinct simhash values exceeds ${num} — even the 1% rate floor" +
            s" implies more than $SnmAuditBudgetPairs sampled truth pairs;" +
            " lower SnmAuditBudgetPairs' consumer to a value subset or raise the budget"))).cast("long"))
      .otherwise(greatest(lit(1L), least(lit(SnmAuditMaxPct), expr(s"$num DIV __v"))))
  }

  /** q210 batched-BPE shape: `BpeBatchRounds` rounds, each merging the
    * greedy token-disjoint prefix of the top-`BpeBatchSize` pairs —
    * shared by the Spark def and the DuckDB batched replay below. The
    * contract is round-count-shaped, not merge-count-shaped (a
    * merge-count stop would truncate the final batch nondeterministically
    * against a fixed-stage replay).
    */
  private val BpeBatchRounds = 16
  private val BpeBatchSize = 16

  /** q206 stop-fingerprint bar: a winnowing fingerprint present in more
    * documents than this is excluded from overlap mining (ubiquitous
    * phrases + 16-bit pigeonhole collisions — the hot postings keys).
    * Shared by the Spark def and the DuckDB oracle.
    */
  private val WinnowDfCap = 50

  val defs: Map[String, Q] = Map(
    // ---------------------------------------------------------------
    // q264: PADDING-WASTE audit of length-bucketed batching — the
    // batching-efficiency read a training pipeline takes before choosing
    // between "one global max-length pad" and packed sequences (q140):
    // for each bucket count B ∈ PadBucketLegs, docs are split into B
    // VALUE-quantile token-length buckets (boundary_i = smallest length
    // whose cumulative doc count reaches ⌈i·n/B⌉ — ties share a bucket,
    // the scale-safe semantics: assignment is a ≤21-row broadcast
    // lookup, never a global ntile over the corpus), every doc pads to
    // its bucket's max, and the leg reports per-bucket docs / real
    // tokens / padded tokens / waste. The B=1 leg IS the naive
    // max-length collator; the waste collapse from B=1 to B=16 is the
    // case for bucketed batching, and the remaining gap to zero is what
    // q140's packing buys on top. Scale shape: the length HISTOGRAM is
    // one partial+final agg (domain-sized: distinct lengths ≪ docs);
    // the cumulative sum rides that bounded domain frame; all stats are
    // exact BIGINTs until the one final division.
    // ---------------------------------------------------------------
    "q264_padding_waste" -> { (s, dir) =>
      import s.implicits._
      val toks = Tables(s, dir).documents
        .select(col("doc_id"),
                size(Text.tokens(col("text"))).cast(LongType).as("n_tokens"))
      val hist = toks.groupBy(col("n_tokens")).agg(count(lit(1)).as("c"))
      val cum = hist.withColumn("cum",
        sum(col("c")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_tokens"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      val tot = toks.agg(count(lit(1)).as("n"))
      val idx = PadBucketLegs.flatMap(b => (1 to b).map(i => (b.toLong, i.toLong)))
        .toDF("b", "i")
      val bounds = broadcast(idx).crossJoin(broadcast(tot))
        .join(cum, cum("cum") >=
          floor((col("i") * col("n") + col("b") - 1L).cast(DoubleType) /
            col("b").cast(DoubleType)).cast(LongType))
        .groupBy(col("b"), col("i")).agg(min(col("n_tokens")).as("boundary"))
      val assign = toks
        .join(broadcast(bounds), col("n_tokens") <= col("boundary"))
        .groupBy(col("doc_id"), col("n_tokens"), col("b"))
        .agg(min(col("i")).as("bucket_idx"))
      assign.groupBy(col("b").as("n_buckets"), col("bucket_idx"))
        .agg(count(lit(1)).as("n_docs"),
             max(col("n_tokens")).as("bucket_max_tokens"),
             sum(col("n_tokens")).as("sum_tokens"))
        .withColumn("padded_tokens", col("n_docs") * col("bucket_max_tokens"))
        .withColumn("waste_tokens", col("padded_tokens") - col("sum_tokens"))
        .withColumn("waste_frac",
          col("waste_tokens").cast(DoubleType) /
            col("padded_tokens").cast(DoubleType))
    },

    // ---------------------------------------------------------------
    // q266: TERM BURSTINESS (Church & Gale) — the corpus statistic that
    // separates topical content words from function words with the SAME
    // total frequency: a bursty term concentrates its occurrences in few
    // documents (variance-to-mean ratio ≫ 1 over per-doc counts,
    // zero-inclusive), and its document frequency undershoots the
    // Poisson expectation N·(1−e^(−tf/N)). Both readouts per term for
    // the top-30 terms by total count: VMR = (N·Σc² − (Σc)²)/(N·Σc) on
    // DECIMAL(38,0) cross-products (exact at any corpus size — the q259
    // discipline; plain BIGINT squares overflow once Σc ~ 3e9), and the
    // Poisson df ratio with the e^(−tf/N) term 1e-9-quantized before
    // the division (q125's ln idiom). Scale shape: per-(doc,term) counts
    // and per-term moments are partial+final aggs; the global top-30
    // rides the bounded TopKPairs heap — never a vocabulary sort window;
    // the 1-row doc total broadcasts.
    // ---------------------------------------------------------------
    "q266_term_burstiness" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val cnt = d.select(col("doc_id"),
                         explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      // tf2 accumulates in DECIMAL(38,0) (the q259 discipline): a plain
      // BIGINT sum of c² wraps silently under extreme term skew
      // (Σc² > 2^63) where DuckDB's HUGEINT→BIGINT cast would throw.
      val st = cnt.groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("c")).as("tf"),
             sum(col("c").cast(DecimalType(38, 0)) *
                 col("c").cast(DecimalType(38, 0))).as("tf2"))
      // TopKPairs ids are BIGINT; the term rides the key's suffix
      // (19 digits + '|' + term) and is recovered by substring.
      val top = st
        .select(TopKPairs.descKey(col("tf"), col("term")).as("key"), lit(0L).as("zid"))
        .agg(TopKPairs.topK(col("key"), col("zid"), BurstTopTerms).as("top"))
        .select(explode(col("top")).as("t"))
        .select(substring(col("t.key"), 21, 1000000).as("term"))
      val tot = d.agg(count(lit(1)).as("n"))
      val dec = (c: Column) => c.cast(DecimalType(38, 0))
      top.join(st, Seq("term")).crossJoin(broadcast(tot))
        .select(col("term"), col("df"), col("tf"),
          (dec(col("n")) * dec(col("tf2")) - dec(col("tf")) * dec(col("tf")))
            .cast(DoubleType)
            ./((dec(col("n")) * dec(col("tf"))).cast(DoubleType)).as("vmr"),
          (col("df").cast(DoubleType) /
            (col("n").cast(DoubleType) *
              Exact.q9(lit(1.0) - exp(-col("tf").cast(DoubleType) /
                 col("n").cast(DoubleType)))))
            .as("poisson_burst_ratio"))
    },

    // ---------------------------------------------------------------
    // q269: DP COUNT RELEASE (Laplace mechanism) — the release step on
    // top of the privacy ladder (k-anonymity q228, l-diversity q249,
    // t-closeness q259 tell you what leaks; this is the standard fix):
    // per-source document counts released with Laplace(1/ε) noise at
    // ε ∈ {0.5, 1, 2}, plus the realized absolute noise so the utility
    // cost of each ε is READ, not assumed. Noise is deterministic in the
    // repo's md5 discipline (never rand()): u = 32 md5 bits of
    // (dp|ε|source) mapped to (0,1), inverse-CDF'd to Laplace via
    // −(1/ε)·sign(u−½)·ln(1−2|u−½|), 1e-9-quantized — same derivation,
    // literal for literal, in the oracle (ln agrees across engines well
    // inside the quantum, the q125 argument). Sensitivity is 1 (one doc
    // moves one source count). Scale shape: one partial+final count per
    // source, a 3-leg literal union — projection-only after the agg.
    // ---------------------------------------------------------------
    "q269_dp_release" -> { (s, dir) =>
      val counts = Tables(s, dir).documents
        .groupBy(col("source")).agg(count(lit(1)).as("true_n"))
      DpEpsX10Legs.map { e =>
        val invEps = 10.0 / e
        val u = graft.functions.HexKeys.value32(
          md5(concat(lit(s"dp|$e|"), col("source"))), 0)
        val c = (u.cast(DoubleType) + 0.5) / 4294967296.0 - 0.5
        val noise = Exact.q9((lit(-invEps) * signum(c)) *
          log(lit(1.0) - lit(2.0) * abs(c)))
        counts.select(lit(e).cast(LongType).as("eps_x10"), col("source"),
                      col("true_n"),
                      (col("true_n") + noise).as("released_n"),
                      abs(noise).as("abs_noise"))
      }.reduce(_ unionAll _)
    },

    // Token counting: whitespace + BPE-ish regex tokens, distinct counts,
    // mean token length.
    "q30_token_stats" -> { (s, dir) =>
      val d    = Tables(s, dir).documents
      val toks = Text.tokens(col("text"))
      val n    = size(toks).cast(LongType)
      d.select(
        col("doc_id"), col("lang"), col("n_chars"),
        n.as("n_tokens"),
        size(array_distinct(toks)).cast(LongType).as("n_distinct_tokens"),
        Text.regexTokenCount(col("text")).as("n_regex_tokens"),
        ((length(col("text")) - (n - 1)).cast(DoubleType) / n.cast(DoubleType))
          .as("mean_token_len"))
    },

    // Document fingerprinting: md5 of the sorted token multiset — catches
    // reordered duplicates; canonical id per fingerprint group, attached
    // via the hot-key-safe groupBy+join-back (Dedup.attachCanonical), not
    // a fingerprint window — a mega-duplicate group stays bounded
    // map-side by the partial agg instead of funneling one WindowExec task.
    "q31_fingerprint" -> { (s, dir) =>
      val d  = Tables(s, dir).documents
      val fp = d.select(col("doc_id"),
                        Text.sortedTokenFingerprint(col("text")).as("fingerprint"))
      graft.operators.Dedup.attachCanonical(fp, "fingerprint", "doc_id")
        .withColumn("is_reordered_dup", col("doc_id") =!= col("canonical_id"))
    },

    // Language ID: stopword-profile hit ratios + CJK char ratio, argmax
    // with deterministic profile-order tie-break.
    "q32_langid" -> { (s, dir) =>
      val d      = Tables(s, dir).documents
      val scores = Text.langScores(col("text"))
      d.select(
        Seq(col("doc_id"), col("lang").as("labeled_lang")) ++
          scores.map { case (l, c) => c.as(s"score_$l") } ++
          Seq(Text.cjkRatio(col("text")).as("cjk_ratio"),
              Text.langId(col("text")).as("predicted_lang")): _*)
    },

    // Classifier evaluation over the engine's own language-ID heuristic
    // (the q116 "measure, don't guess" pattern applied to curation
    // filters): confusion matrix of labeled × predicted language plus
    // per-cell recall/precision components — diagonal cells read as the
    // class recall/precision a pipeline tunes the heuristic against
    // before trusting it to route a 100 TB corpus. Scale shape: the scan
    // collapses to ≤ L² cells via one partial+final agg
    // ([[graft.operators.Classifier.confusion]]).
    "q120_langid_eval" -> { (s, dir) =>
      Classifier.confusion(defs("q32_langid")(s, dir), "labeled_lang", "predicted_lang")
    },

    // q150: WITHIN-document language mixing — q32 classifies whole
    // documents, but a code-switched or template-spliced doc (half
    // boilerplate English, half target language) poisons monolingual
    // training sets while still carrying a confident whole-doc label.
    // Run the q32 heuristic per 10-token SEGMENT instead, then profile
    // each doc's segment-language distribution: dominant language +
    // share, language count, and mixing entropy.
    //
    // 100 TB shape: segmentation is scan-local (sequence + slice array
    // projections — no shuffle, no per-token explode), and the two aggs
    // that follow are partial+final groupBys on doc_id whose per-doc
    // row count is bounded by ≤6 languages. Determinism: entropy terms
    // quantize to 1e-9 BIGINTs from integer count ratios (the q112
    // rule) and sum exactly; the dominant pick is min(struct(-c, lang))
    // — count desc, profile-name asc, no rand, no rank window.
    "q150_lang_mixing" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val toks = Text.tokens(col("text"))
      val nSegs = greatest(
        ceil(size(toks).cast(DoubleType) / lit(MixSegTokens.toDouble)).cast(IntegerType),
        lit(1))
      val segs = d
        .select(col("doc_id"), toks.as("toks"), nSegs.as("n_segs"))
        .select(col("doc_id"), col("toks"),
                explode(sequence(lit(0), col("n_segs") - 1)).as("seg_idx"))
        .select(col("doc_id"),
                array_join(slice(col("toks"), col("seg_idx") * MixSegTokens + 1,
                                 lit(MixSegTokens)), " ").as("seg_text"))
      val p = segs.select(col("doc_id"), Text.langId(col("seg_text")).as("seg_lang"))
      // cut once: `cnt` feeds both the per-doc totals (Σc — derived here
      // instead of a SECOND per-segment langId pass over the corpus, the
      // r19 fix: `tot` used to re-run segmentation + scoring) and the
      // entropy terms join below; the frame is ≤|langs| rows per doc
      val cnt = graft.core.Materialize.cut(
        p.groupBy(col("doc_id"), col("seg_lang")).agg(count(lit(1)).as("c")),
        "q150_seg_lang_counts")
      val tot = cnt.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
      val share = col("c").cast(DoubleType) / col("n").cast(DoubleType)
      val terms = cnt.join(tot, Seq("doc_id"))
        .select(col("doc_id"), col("seg_lang"), col("c"), col("n"),
                Exact.entropyTerm(share).as("term_q"))
      val domShare = (-col("dom.negc")).cast(DoubleType) /
        col("n_segments").cast(DoubleType)
      terms.groupBy(col("doc_id"))
        .agg(max(col("n")).as("n_segments"),
             count(lit(1)).as("n_langs"),
             min(struct((-col("c")).as("negc"), col("seg_lang").as("lang"))).as("dom"),
             sum(col("term_q")).as("mix_entropy_q"))
        .select(col("doc_id"), col("n_segments"), col("n_langs"),
                col("dom.lang").as("dominant_lang"),
                domShare.as("dominant_share"),
                col("mix_entropy_q"),
                (domShare < 0.8).as("is_mixed"))
    },

    // Quality scoring: length/diversity/stopword/punctuation components →
    // 0-100 composite + bucket (py_data_quality_scores-style ladder).
    "q33_text_quality" -> { (s, dir) =>
      val d     = Tables(s, dir).documents
      val toks  = Text.tokens(col("text"))
      val n     = size(toks).cast(DoubleType)
      val dr    = size(array_distinct(toks)).cast(DoubleType) / n
      val stopR = Text.wordListHits(toks, Text.langProfiles.head._2).cast(DoubleType) / n
      val punct = regexp_count(col("text"), lit("[^\\w\\s]")).cast(DoubleType) /
        length(col("text")).cast(DoubleType)
      val score = qualityScore
      d.select(
        col("doc_id"),
        size(toks).cast(LongType).as("n_tokens"),
        dr.as("distinct_ratio"),
        stopR.as("stopword_ratio"),
        punct.as("punct_ratio"),
        score.as("quality_score"),
        when(score >= 80, "high").when(score >= 60, "medium")
          .when(score >= 40, "low").otherwise("reject").as("quality_bucket"),
        (score >= 60).as("is_high_quality"))
    },

    // Exact dedup by content hash (hash-groupBy; one shuffle on text_hash).
    "q34_dedup_exact" -> { (s, dir) =>
      Dedup.exact(Tables(s, dir).documents, "doc_id", "text")
    },

    // Text normalization — the canonicalization pass that runs BEFORE
    // any dedup/fingerprint stage (otherwise trivially-variant bytes
    // defeat exact dedup): lowercase, strip punctuation, collapse
    // whitespace runs, trim. Byte-exact gated (md5 of the normalized
    // text + before/after token counts); a scan-local projection — no
    // shuffle at any corpus scale. Patterns are Java-regex/RE2-portable
    // (no lookarounds), the q107 discipline.
    "q115_normalize_text" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9\\s]", ""),
        "\\s+", " "))
      d.select(col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars_raw"),
        size(Text.tokens(col("text"))).cast(LongType).as("n_tokens_raw"),
        length(norm).cast(LongType).as("n_chars_norm"),
        when(norm === "", lit(0L))
          .otherwise(size(split(norm, " ")).cast(LongType)).as("n_tokens_norm"),
        md5(norm).as("norm_hash"))
    },

    // PMI collocation mining — statistical phrase detection (the
    // pointwise-mutual-information complement to q111's frequency-greedy
    // BPE): PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) over adjacent pairs,
    // min-count 5, top-20. Scale shape: two corpus aggregations (pair
    // counts via the Bpe zip_with projection, unigram counts), after
    // which everything is vocab-bounded — marginals broadcast onto the
    // pair table, single-row totals broadcast, top-k is a TakeOrdered.
    // Determinism: counts are exact integers, the PMI expression is one
    // fixed op sequence on them, quantized to 1e-9 (the q112 ln
    // discipline), ties break on (a, b).
    "q113_pmi_collocations" -> { (s, dir) =>
      val d     = Tables(s, dir).documents
      val toks  = Text.tokens(col("text"))
      val pairs = graft.operators.Bpe.pairCounts(d, toks)
      val uni   = d.select(explode(toks).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("ucnt"))
      val totals = pairs.agg(sum(col("cnt")).as("np"))
        .crossJoin(uni.agg(sum(col("ucnt")).as("n")))
      val pmi = {
        val pAb   = col("cnt").cast(DoubleType) / col("np").cast(DoubleType)
        val denom = (col("ua").cast(DoubleType) / col("n").cast(DoubleType)) *
          (col("ub").cast(DoubleType) / col("n").cast(DoubleType))
        Exact.q9(log(pAb / denom))
      }
      pairs.filter(col("cnt") >= 5)
        .join(broadcast(uni.select(col("tok").as("a"), col("ucnt").as("ua"))), Seq("a"))
        .join(broadcast(uni.select(col("tok").as("b"), col("ucnt").as("ub"))), Seq("b"))
        .crossJoin(broadcast(totals))
        .select(col("a"), col("b"), col("cnt"), pmi.as("pmi"))
        .orderBy(col("pmi").desc, col("a"), col("b"))
        .limit(20)
    },

    // BPE merge induction, counting step (Bpe.pairCounts): the top-20
    // adjacent word pairs with deterministic tie-break — the argmax the
    // fit loop consumes each round. Scan-local pair projection (zip_with
    // of shifted slices, no corpus explode beyond the token stream) +
    // one partial+final count; top-k is a TakeOrdered, not a full sort.
    // The iterative fit itself (merge-apply is imperative per-row state)
    // is spec-gated: BpeSpec pins the merge sequence and the greedy
    // non-overlap semantics against hand-computed references.
    "q111_bpe_pair_counts" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      graft.operators.Bpe.pairCounts(d, Text.tokens(col("text")))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(20)
        .withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(graft.functions.Macros.constPartition(col("cnt")))
            .orderBy(col("cnt").desc, col("a"), col("b"))).cast(LongType))
    },

    // BPE tokenize APPLY at corpus scale (the round-7 verdict's last
    // missing item: Bpe.tokenize existed only as a driver-side Seq
    // function): a ranked merge table — the q111 one-shot pair-count
    // ranking, 20 rows, driver-collected because it is bounded by
    // construction (the kmeans-centroid discipline) — is BROADCAST into
    // a scan-local typed map that greedily applies the merges in rank
    // order (Bpe.tokenize, left-to-right non-overlapping). The corpus is
    // scanned once and never shuffled — the production tokenizer-apply
    // shape. Gated END TO END: md5 of every document's full tokenized
    // sequence must match a DuckDB oracle that replays the same greedy
    // merge semantics via a recursive CTE (leftmost-occurrence rewrite,
    // provably equivalent to the single-pass fold — earlier tokens can
    // never form new pairs because merged tokens carry the '+' sep).
    "q130_bpe_tokenize" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val merges: Seq[(String, String)] =
        defs("q111_bpe_pair_counts")(s, dir)
          .orderBy(col("rank"))
          .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      bpeApplied(d, merges)
    },

    // ---------------------------------------------------------------
    // q202: tokenizer fertility / compression per LANGUAGE — the
    // mixture-design readout next to q150/q189: how many tokens the
    // q111-ranked merge table leaves per whitespace word (fertility;
    // < 1 here because this BPE merges word pairs into super-tokens),
    // how many chars ride in each emitted token (compression), and the
    // merged-token share. A shared vocabulary that under-merges a
    // language inflates its token bill — this is the per-language
    // evidence read BEFORE fixing token quotas (q157/q168). Composes
    // q130's gated tokenization; the rollup is ONE partial+final
    // per-language aggregation of exact integers, the three ratios
    // single IEEE divisions of those sums.
    // ---------------------------------------------------------------
    "q202_tokenizer_fertility" -> { (s, dir) =>
      val d = Tables(s, dir).documents
        .select(col("doc_id"), col("lang"), col("n_chars"))
      defs("q130_bpe_tokenize")(s, dir)
        .join(d, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tokens_before")).as("n_words"),
             sum(col("n_tokens_after")).as("n_bpe_tokens"),
             sum(col("n_merged_tokens")).as("n_merged_tokens"),
             sum(col("n_chars")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_words"),
                col("n_bpe_tokens"), col("n_merged_tokens"), col("n_chars"),
                (col("n_bpe_tokens").cast(DoubleType) /
                 col("n_words").cast(DoubleType)).as("fertility"),
                (col("n_chars").cast(DoubleType) /
                 col("n_bpe_tokens").cast(DoubleType)).as("chars_per_token"),
                (col("n_merged_tokens").cast(DoubleType) /
                 col("n_bpe_tokens").cast(DoubleType)).as("merged_frac"))
    },

    // The TRUE iterative BPE fit+apply, gated END TO END (q130 gates
    // apply under a GIVEN ranked table; this gates Sennrich's actual
    // loop): Bpe.fit runs 5 merge rounds — each ONE corpus scan + a
    // 1-row argmax — and the fitted merges tokenize the corpus
    // scan-locally. The oracle replays the whole fit in SQL: 5 unrolled
    // stages, each a MATERIALIZED best-pair aggregation over the
    // previous stage's tokenization plus a recursive leftmost-rewrite
    // walk applying that single merge to fixpoint (single-merge
    // fixpoint ≡ the one-pass greedy fold: a rewrite can never create a
    // match to its left, because the merged token differs from both
    // operands). Later-stage merge operands can themselves be merged
    // tokens, so the rewrite pattern regex-escapes '+'. md5 of every
    // document's tokenized sequence pins the entire merge SEQUENCE —
    // any fit divergence anywhere changes some document's hash.
    "q134_bpe_fit_apply" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      // the fitted table is a tiny driver-side Seq but costs 5 corpus
      // scans — fit once per (session, dir)
      val merges = bpeFitCache(s, dir)(Bpe.fit(d, "text", numMerges = 5))
      bpeApplied(d, merges).drop("n_tokens_before")
    },

    // The SCALABLE BPE fit, gated end to end at 256 merges — q134 gates
    // Sennrich's loop via the naive fit (5 merges, each a full corpus
    // re-tokenization; round i re-applies i merges, so the loop is
    // O(R²·corpus) and only viable at toy merge counts). This runs
    // Bpe.fitDelta: tokenized corpus + pair counts as materialized
    // state, each round updating ONLY what the merge touches (hit rows
    // and pairs adjacent to an occurrence) — constant work per round,
    // the shape that survives a 32k-vocab fit. The oracle replays all
    // 256 rounds in SQL (generated stages, q134's template); md5 of
    // every document's final tokenization pins the entire 256-merge
    // SEQUENCE — one wrong argmax anywhere flips some document's hash.
    // BpeSpec additionally property-tests fitDelta ≡ fit on random
    // corpora (the naive loop is the executable spec).
    "q144_bpe_fit_delta" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val merges = bpeDeltaFitCache(s, dir)(Bpe.fitDelta(d, "text", numMerges = 256))
      bpeApplied(d, merges).drop("n_tokens_before")
    },

    // q210: q144's fit with MULTI-MERGE ROUNDS — 16 rounds of up to 16
    // token-disjoint merges (classic batched BPE). Round 12 left the fit
    // round-LATENCY-bound: the bucketed state scales with data (sf1:
    // 1.17× for 10×) but a 32k vocab is ~32k driver-looped rounds
    // ≈ 2.4 h regardless of cluster size; batching cuts the round count
    // ~batch× (PERF.md records the measured reduction). The batched
    // sequence genuinely DIVERGES from sequential on this corpus (a
    // merge's product pair can out-count a later batch member — the
    // standard batched-BPE approximation), so the gate replays the
    // BATCHED algorithm itself in SQL: per stage, top-16 candidates
    // under the (cnt desc, a, b) order, recursive greedy token-disjoint
    // selection, one-pass apply of the whole batch — md5 of every
    // document's final tokenization pins all 16 stages' selections.
    // BpeSpec separately pins batch=1 ≡ sequential on random corpora
    // and batch>1 ≡ sequential on a disjoint-by-construction fixture.
    "q210_bpe_fit_batched" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val merges = bpeBatchedFitCache(s, dir)(
        Bpe.fitDeltaBatched(d, "text",
          numMerges = BpeBatchRounds * BpeBatchSize,
          maxBatch = BpeBatchSize, maxRounds = BpeBatchRounds))
      bpeApplied(d, merges).drop("n_tokens_before")
    },

    // q151: vocabulary coverage / compression curve — the tokenizer-
    // selection readout a pipeline computes BEFORE committing a vocab
    // size: corpus tokens-after, merged-token count, realized vocabulary
    // and compression ratio at several merge-count checkpoints of the
    // q144 fit. One corpus pass computes ALL checkpoints (fold
    // associativity: the corpus at 128 merges is the corpus at 64 with
    // merges 64..128 applied on top — the per-doc loop carries the
    // partial result forward instead of re-applying from scratch), then
    // one partial+final agg per checkpoint row. The merge table rides
    // the q144 session memo — the fit never re-runs for this readout.
    "q151_vocab_coverage" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir).documents
      val merges = bpeDeltaFitCache(s, dir)(Bpe.fitDelta(d, "text", numMerges = 256))
      val cps = BpeCoverageCheckpoints
      val pieces = Tables.spread(d.select(col("text").cast(StringType))).as[String]
        .flatMap { text =>
          val outs = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
          var cur: Seq[String] = Bpe.words(text).toSeq
          var prev = 0
          for (v <- cps) {
            cur = Bpe.tokenize(cur, merges.slice(prev, v))
            prev = v
            outs += ((v.toLong, cur))
          }
          outs.iterator.flatMap { case (v, ps) => ps.iterator.map(p => (v, p)) }
        }
        .toDF("vocab_checkpoint", "piece")
      val stats = graft.core.Materialize.cutLocal(pieces
        .groupBy(col("vocab_checkpoint"))
        .agg(count(lit(1)).as("n_tokens_after"),
             sum(when(col("piece").contains(Bpe.Sep), lit(1L))
                   .otherwise(lit(0L))).as("n_merged_tokens"),
             countDistinct(col("piece")).as("vocab_size"))) // ≤|checkpoints| rows, consumed twice below
      val base = stats.filter(col("vocab_checkpoint") === 0)
        .select(col("n_tokens_after").as("n_base_tokens"))
      stats.crossJoin(broadcast(base))
        .select(col("vocab_checkpoint"), col("n_base_tokens"),
                col("n_tokens_after"), col("n_merged_tokens"), col("vocab_size"),
                (col("n_tokens_after").cast(DoubleType) /
                  col("n_base_tokens").cast(DoubleType)).as("compression_ratio"))
    },

    // End-to-end corpus build — the composed "user story" of the
    // curation family, each stage an already-gated operator: language
    // allowlist + quality threshold (q33's score, scan-local) → exact
    // dedup keeping canonicals (q34's operator, one text-hash shuffle)
    // → token-budget shard assignment (q62's two-pass prefix sum —
    // never a global window over the corpus) → per-shard card. Proves
    // the operators COMPOSE into a pipeline whose result still
    // hash-gates end to end.
    "q110_corpus_build" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val kept = d.filter(col("lang").isin("en", "de", "fr"))
        .filter(qualityScore >= 60)
        .select(col("doc_id"), col("text"))
      // keepInput carries text through the dedup window, so canonicals
      // are filtered without joining the corpus back by id — one scan
      // eagerly cut: Sharding.byBudget consumes `ded` TWICE per call —
      // its eager `boundaries` approxQuantile scan plus the executed
      // prefix-sum plan — and uncut each pass re-ran the quality filter
      // + exact-dedup pipeline; the frame is two longs per survivor
      val ded = graft.core.Materialize.cut(
        Dedup.exact(kept, "doc_id", "text", keepInput = true)
          .filter(!col("is_duplicate"))
          .select(col("doc_id"),
                  size(Text.tokens(col("text"))).cast(LongType).as("n_tokens")),
        "q110_deduped")
      graft.operators.Sharding.byBudget(ded, "doc_id", "n_tokens", budget = 5000)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tokens")).as("shard_tokens"),
             min(col("doc_id")).as("first_doc"),
             max(col("doc_id")).as("last_doc"))
    },

    // Quality-threshold retention sweep — the calibration table behind
    // "where do we set the quality cutoff": for every 5-point score
    // bucket, the docs/tokens RETAINED if the threshold were set there
    // (cumulative from the top). One corpus aggregation to ≤21 bucket
    // rows; the cumulative window and the totals join run over that
    // constant-sized frame only (same bounded-window discipline as
    // q93's CDF — pmod partition, no log noise). Score is q33's exact
    // expression, already hash-gated bit-identical, so floor(score/5)
    // buckets agree across engines.
    "q109_quality_retention" -> { (s, dir) =>
      val d    = Tables(s, dir).documents
      val toks = Text.tokens(col("text"))
      val bucketed = d
        .select(floor(qualityScore / 5).cast(LongType).as("bucket"),
                size(toks).cast(LongType).as("n_tokens"))
        // unscoreable docs (null text → null score) are excluded from the
        // sweep on BOTH sides: a null bucket would land in its own window
        // partition (pmod(null,1) = null) and engines disagree on
        // null-ordering under DESC, so parity demands the explicit cut
        .filter(col("bucket").isNotNull)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bucket_tokens"))
      val W = org.apache.spark.sql.expressions.Window
      val part = graft.functions.Macros.constPartition(col("bucket"))
      val w = W.partitionBy(part).orderBy(col("bucket").desc)
        .rowsBetween(W.unboundedPreceding, 0)
      // totals via an UNBOUNDED frame over the same ≤21-row window
      // partition (every doc lands in exactly one bucket, so the bucket
      // sums ARE the corpus totals) — not a second corpus-scanning
      // aggregate consumer, which would re-tokenize everything
      val wAll = W.partitionBy(part)
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
      bucketed
        .withColumn("docs_kept", sum(col("n_docs")).over(w))
        .withColumn("tokens_kept", sum(col("bucket_tokens")).over(w))
        .withColumn("total_docs", sum(col("n_docs")).over(wAll))
        .withColumn("total_tokens", sum(col("bucket_tokens")).over(wAll))
        .select(col("bucket"), (col("bucket") * 5).as("threshold"),
                col("n_docs"), col("docs_kept"), col("tokens_kept"),
                (col("docs_kept").cast(DoubleType) /
                  col("total_docs").cast(DoubleType)).as("frac_docs_kept"),
                (col("tokens_kept").cast(DoubleType) /
                  col("total_tokens").cast(DoubleType)).as("frac_tokens_kept"))
    },

    // ---------------------------------------------------------------
    // q201: two-sample Kolmogorov–Smirnov drift statistic between the
    // BASE and DELTA halves' quality-score distributions (the q61 md5
    // split — the same base/delta discipline as q198) — the third drift
    // modality next to PSI (q181, binned ratio) and JSD (q187,
    // distributional): KS is the max CDF gap, the standard
    // two-sample test a curation pipeline runs before accepting a new
    // crawl into the mix. BINNED form on q109's floor(score/5) buckets
    // — the 100 TB shape: per-split bucket counts are ONE partial+final
    // aggregation; the CDF, totals, and max-gap windows run over the
    // ≤21-row bucket frame only (constPartition, the q109 idiom).
    // Exactness: the CDF gap |cum_b·n_d − cum_d·n_b| casts each operand
    // to DECIMAL(19,0); Spark promotes the products to DECIMAL(38,0),
    // where the difference of two ≤9.2·10¹⁸-factor products fits (BIGINT
    // products overflow at ~3·10⁹ docs per side, the q168 lesson).
    // ks_stat and the CDFs are single IEEE divisions of exact integers,
    // so the gate hash-matches.
    // ---------------------------------------------------------------
    "q201_ks_drift" -> { (s, dir) =>
      val d   = Tables(s, dir).documents
      val hex = md5(concat(lit("split|"), col("doc_id").cast(StringType)))
      val isBase = graft.functions.HexKeys.value16(hex, 0) % 100 < 50
      val bucketed = d
        .select(floor(qualityScore / 5).cast(LongType).as("bucket"),
                isBase.as("is_base"))
        .filter(col("bucket").isNotNull)
        .groupBy(col("bucket"))
        .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
             sum(when(!col("is_base"), 1L).otherwise(0L)).as("n_delta"))
      val W    = org.apache.spark.sql.expressions.Window
      val part = graft.functions.Macros.constPartition(col("bucket"))
      val cum = W.partitionBy(part).orderBy(col("bucket"))
        .rowsBetween(W.unboundedPreceding, 0)
      val wAll = W.partitionBy(part)
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
      val dec = DecimalType(19, 0)
      val cdf = bucketed
        .withColumn("cum_base", sum(col("n_base")).over(cum))
        .withColumn("cum_delta", sum(col("n_delta")).over(cum))
        .withColumn("tot_base", sum(col("n_base")).over(wAll))
        .withColumn("tot_delta", sum(col("n_delta")).over(wAll))
        .withColumn("gap_num",
          abs(col("cum_base").cast(dec) * col("tot_delta").cast(dec) -
              col("cum_delta").cast(dec) * col("tot_base").cast(dec)))
        .withColumn("ks_num", max(col("gap_num")).over(wAll))
      cdf.select(
        col("bucket"), (col("bucket") * 5).as("threshold"),
        col("n_base"), col("n_delta"), col("cum_base"), col("cum_delta"),
        (col("cum_base").cast(DoubleType) /
          col("tot_base").cast(DoubleType)).as("cdf_base"),
        (col("cum_delta").cast(DoubleType) /
          col("tot_delta").cast(DoubleType)).as("cdf_delta"),
        (col("ks_num").cast(DoubleType) /
          (col("tot_base").cast(DoubleType) *
           col("tot_delta").cast(DoubleType))).as("ks_stat"),
        (col("gap_num") === col("ks_num")).as("is_ks_bucket"),
        // size-aware bar: the classical α=0.05 two-sample critical value
        // c(α)·√((nₐ+n_d)/(nₐ·n_d)), c = 1.358 — a fixed threshold would
        // fire on sampling noise at small n and go blind at corpus n
        (col("ks_num").cast(DoubleType) /
          (col("tot_base").cast(DoubleType) *
           col("tot_delta").cast(DoubleType)) >
         lit(1.358) * sqrt((col("tot_base") + col("tot_delta"))
             .cast(DoubleType) /
           (col("tot_base").cast(DoubleType) *
            col("tot_delta").cast(DoubleType)))).as("is_drifted"))
    },

    // ---------------------------------------------------------------
    // q208: per-SOURCE KS outlier scan — q201's statistic swept across
    // provenance: each source's quality-score distribution against the
    // REST of the corpus, one row per source with its own size-aware
    // critical value (a 100-doc source and a 10M-doc source get
    // different bars — exactly why a fixed threshold can't run this
    // scan). The crawl-quality triage read next to q187's stylistic
    // JSD matrix: which source should a curator eyeball first.
    // Scale shape: ONE corpus aggregation to the (source, bucket)
    // lattice; the bucket-complete lattice is |sources| × ≤21 rows via
    // a broadcast cross join of two aggregate frames; every window
    // partitions BY SOURCE over ≤21 bucket rows (bounded partitions —
    // the source COUNT may be huge, partition SIZE never is); the gap
    // arithmetic is DECIMAL(19,0)-operand / DECIMAL(38,0)-product exact
    // as in q201; a source holding the WHOLE corpus (n_rest = 0, an
    // undefined statistic) is excluded on both sides.
    // ---------------------------------------------------------------
    // ---------------------------------------------------------------
    // q222: per-source QUANTILE NORMALIZATION of quality scores — the
    // cross-source calibration step real curation needs: the q33 scorer's
    // distribution shifts with language/format, so one GLOBAL threshold
    // over-prunes the sources whose scores sit low and under-prunes the
    // ones that sit high. The fair knob is each doc's WITHIN-SOURCE
    // quantile. Exact at score-bucket resolution via the q208 lattice
    // discipline: one (source, bucket) partial+final agg — the flooded
    // source is never windowed over; every window partitions by source
    // over ≤21 bucket rows (partition COUNT may be huge, partition SIZE
    // never is). Each doc maps to its bucket's lower quantile
    // cum_below / n_source and is kept at a uniform per-source rate —
    // is_kept is the INTEGER cross-product comparison (cum·5 ≥ n·4, i.e.
    // quantile ≥ 0.8), so the selection never rides a double threshold
    // edge. The doc-side attach is an equi-join against the
    // ≤ |sources|·21-row quantile table (broadcast at any scale).
    // ---------------------------------------------------------------
    "q222_source_quantile_norm" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val scored = d.select(col("doc_id"), col("source"),
                            floor(qualityScore / 5).cast(LongType).as("bucket"))
      val bucketed = scored.groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n_sb"))
      val W = org.apache.spark.sql.expressions.Window
      val below = W.partitionBy(col("source")).orderBy(col("bucket"))
        .rowsBetween(W.unboundedPreceding, -1)
      val all = W.partitionBy(col("source"))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
      val qn = bucketed
        .withColumn("cum_below", coalesce(sum(col("n_sb")).over(below), lit(0L)))
        .withColumn("n_source", sum(col("n_sb")).over(all))
        .select(col("source"), col("bucket"), col("cum_below"), col("n_source"))
      scored.join(broadcast(qn), Seq("source", "bucket"))
        .select(col("doc_id"), col("source"), col("bucket"),
                col("n_source"), col("cum_below"),
                (col("cum_below").cast(DoubleType) /
                  col("n_source").cast(DoubleType)).as("quantile"),
                (col("cum_below") * 5 >= col("n_source") * 4).as("is_kept"))
    },

    "q208_source_ks" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val bucketed = d
        .select(col("source"), floor(qualityScore / 5).cast(LongType).as("bucket"))
        .filter(col("bucket").isNotNull)
        .groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n_sb"))
      val perBucket = bucketed.groupBy(col("bucket"))
        .agg(sum(col("n_sb")).as("n_b")) // ≤21 rows
      val lattice = bucketed.select(col("source")).distinct()
        .crossJoin(broadcast(perBucket))
        .join(bucketed, Seq("source", "bucket"), "left")
        .select(col("source"), col("bucket"), col("n_b"),
                coalesce(col("n_sb"), lit(0L)).as("n_in"))
      val W = org.apache.spark.sql.expressions.Window
      val cum = W.partitionBy(col("source")).orderBy(col("bucket"))
        .rowsBetween(W.unboundedPreceding, 0)
      val all = W.partitionBy(col("source"))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
      val dec = DecimalType(19, 0)
      val g = lattice
        .withColumn("cum_in", sum(col("n_in")).over(cum))
        .withColumn("cum_all", sum(col("n_b")).over(cum))
        .withColumn("tot_in", sum(col("n_in")).over(all))
        .withColumn("tot_all", sum(col("n_b")).over(all))
        .withColumn("tot_rest", col("tot_all") - col("tot_in"))
        .withColumn("gap_num",
          abs(col("cum_in").cast(dec) * (col("tot_all") - col("tot_in")).cast(dec) -
              (col("cum_all") - col("cum_in")).cast(dec) * col("tot_in").cast(dec)))
      val ks = col("ks_num").cast(DoubleType) /
        (col("n_in").cast(DoubleType) * col("n_rest").cast(DoubleType))
      val crit = lit(1.358) * sqrt((col("n_in") + col("n_rest")).cast(DoubleType) /
        (col("n_in").cast(DoubleType) * col("n_rest").cast(DoubleType)))
      g.groupBy(col("source"))
        .agg(max(col("tot_in")).as("n_in"),
             max(col("tot_rest")).as("n_rest"),
             max(col("gap_num")).as("ks_num"))
        // a degenerate corpus where ONE source holds every doc has
        // n_rest = 0: Spark's Divide yields NULL where DuckDB's double
        // division yields inf — and there is no "rest" distribution to
        // drift FROM, so the source is excluded on both sides rather
        // than letting the engines disagree on an undefined statistic
        .filter(col("n_rest") > 0L)
        .select(col("source"), col("n_in"), col("n_rest"),
                ks.as("ks_stat"), crit.as("ks_crit"),
                (ks > crit).as("is_outlier"))
    },

    // ---------------------------------------------------------------
    // q232: FDR-corrected drift panel — Benjamini–Hochberg over q208's
    // per-source KS tests. A drift monitor that fires per-source at a
    // fixed α runs |sources| simultaneous tests every window: at 1000
    // sources and α = 0.05, ~50 false alarms per scan is the EXPECTED
    // background, and operators learn to ignore the pager — the
    // multiple-testing failure BH (1995) exists to fix, controlling the
    // false-DISCOVERY rate instead of the per-test rate. Each source's
    // asymptotic two-sample p-value p = min(1, 2·exp(−2·D²·n_eff)),
    // n_eff = n·m/(n+m), is 1e9-quantized immediately (the q113/q124
    // ln discipline applied to exp); the BH step-up comparison
    // p_(i) ≤ α·i/M runs at the SAME integer scale — p_q·20·M ≤ 10⁹·i
    // at α = 0.05 — so the accept/reject frontier is exact integer
    // arithmetic on both engines, never a double-threshold edge.
    // Scale shape: the panel is ≤|sources| rows (q208 already reduced
    // the corpus); rank/step-up ride constPartition windows over that
    // bounded frame only — the corpus is never re-touched.
    // ---------------------------------------------------------------
    "q232_drift_fdr" -> { (s, dir) =>
      val panel = defs("q208_source_ks")(s, dir)
      val nEff = (col("n_in") * col("n_rest")).cast(DoubleType) /
        (col("n_in") + col("n_rest")).cast(DoubleType)
      val pRaw = lit(2.0) * exp(lit(-2.0) * col("ks_stat") * col("ks_stat") * nEff)
      val withP = panel.withColumn("p_q",
        least(Exact.e9(pRaw), lit(1000000000L)))
      val W = org.apache.spark.sql.expressions.Window
      val cw = W.partitionBy(graft.functions.Macros.constPartition(col("p_q")))
      val ranked = withP
        .withColumn("bh_rank",
          row_number().over(cw.orderBy(col("p_q"), col("source"))).cast(LongType))
        .withColumn("m_tests", count(lit(1)).over(
          cw.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
        .withColumn("pass_rank",
          when(col("p_q") * 20L * col("m_tests") <= col("bh_rank") * 1000000000L,
               col("bh_rank")))
      ranked
        .withColumn("i_max", max(col("pass_rank")).over(
          cw.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
        .select(col("source"), col("n_in"), col("n_rest"), col("ks_stat"),
                (col("p_q").cast(DoubleType) / 1e9).as("p_value"),
                col("bh_rank"), col("m_tests"),
                (col("bh_rank").cast(DoubleType) /
                  (lit(20.0) * col("m_tests").cast(DoubleType))).as("bh_crit"),
                // same <= comparator as the BH step-up (p ≤ α, the
                // textbook convention): a p-value landing exactly on
                // 0.05 reads significant under BOTH flags, never one
                (col("p_q") * 20L <= 1000000000L).as("is_significant_raw"),
                coalesce(col("bh_rank") <= col("i_max"), lit(false))
                  .as("is_significant_fdr"))
    },

    // ---------------------------------------------------------------
    // q211: character-entropy filter — the gibberish/noise signal the
    // q33 ratio family doesn't carry (Dolma/RedPajama-class pipelines
    // run it alongside the ratios): per document, the Shannon entropy
    // of the CHARACTER unigram distribution, in nats. Base64 blobs,
    // minified JS and key-mash score HIGH (≈ ln|alphabet|, uniform over
    // a wide alphabet); "aaaa…"-style degenerate repetition scores LOW;
    // natural prose sits in a narrow band (≈ 2.5–3.5 nats with spaces)
    // — so BOTH tails are flagged, each by its own threshold.
    // Scale shape: PROJECTION-ONLY — the graftx CharHistogram expression
    // computes each document's (ch, c) array in one native pass (no
    // per-char explode: the round-12 shape amplified a 10 KB doc into
    // 10⁴ rows before the partial agg), and the per-doc entropy is a
    // functions.aggregate fold over that ≤|alphabet|-element array
    // summing 1e9-quantized BIGINT terms (q78's rule; exact integer
    // arithmetic, order-free). No Generate, no shuffle, nothing leaves
    // the scan task.
    // ---------------------------------------------------------------
    "q211_char_entropy" -> { (s, dir) =>
      val d = Tables(s, dir).documents
        .filter(col("text").isNotNull && length(col("text")) >= 1)
      val base = d.select(
        col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"),
        org.apache.spark.sql.graftx.CharHistogram.charHistogram(col("text"))
          .as("hist"))
      base.select(
          col("doc_id"), col("n_chars"),
          size(col("hist")).cast(LongType).as("n_distinct_chars"),
          aggregate(col("hist"), lit(0L), (acc, x) => acc + Exact.entropyTerm(
            x.getField("c").cast(DoubleType) / col("n_chars").cast(DoubleType))).as("h_q"))
        .select(col("doc_id"), col("n_chars"), col("n_distinct_chars"),
                (col("h_q").cast(DoubleType) / 1e9).as("entropy_nats"),
                (col("h_q") < 2000000000L).as("is_low_entropy"),
                (col("h_q") > 4500000000L).as("is_high_entropy"))
    },

    // ---------------------------------------------------------------
    // q233: character entropy RATE — the conditional entropy H(X₂|X₁)
    // = H(bigram) − H(first-char marginal), the second-order signal
    // q211's unigram entropy cannot carry: a Markov text generator (or
    // templated spam) reuses the SAME transitions over a wide alphabet,
    // so its unigram entropy looks like prose while its entropy RATE
    // collapses; conversely base64/key-mash keeps the rate near
    // ln|alphabet| because successive chars are independent. Both
    // distributions are over the n−1 bigram positions (the marginal is
    // the histogram of text[1..n−1], NOT the full unigram histogram —
    // the last character conditions nothing), so the identity is exact,
    // not an approximation. Terms are 1e9-quantized BIGINTs summed
    // exactly (q211's rule), and the difference of the two quantized
    // sums is itself exact — order-free on both engines.
    // Scale shape: PROJECTION-ONLY, the q211 discipline at k = 2 — the
    // graftx CharGramHistogram expression computes each doc's (g, c)
    // array in one native pass (never a per-bigram explode: a 10 KB doc
    // would become 10⁴ gram rows before the partial agg), and both
    // entropy folds are functions.aggregate over ≤|alphabet|²-element
    // arrays. No Generate, no shuffle, nothing leaves the scan task.
    // ---------------------------------------------------------------
    "q233_entropy_rate" -> { (s, dir) =>
      val d = Tables(s, dir).documents
        .filter(col("text").isNotNull && length(col("text")) >= 2)
      val base = d.select(
        col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"),
        org.apache.spark.sql.graftx.CharGramHistogram
          .charGramHistogram(col("text"), 2).as("h2"),
        org.apache.spark.sql.graftx.CharHistogram
          .charHistogram(col("text").substr(lit(1), length(col("text")) - 1))
          .as("h1"))
      val n2 = col("n_chars") - 1L
      def termQ(cnt: Column, tot: Column): Column =
        Exact.entropyTerm(cnt.cast(DoubleType) / tot.cast(DoubleType))
      base.select(
          col("doc_id"), col("n_chars"),
          size(col("h2")).cast(LongType).as("n_distinct_bigrams"),
          aggregate(col("h2"), lit(0L),
                    (acc, x) => acc + termQ(x.getField("c"), n2)).as("h2_q"),
          aggregate(col("h1"), lit(0L),
                    (acc, x) => acc + termQ(x.getField("c"), n2)).as("h1_q"))
        .select(col("doc_id"), col("n_chars"), col("n_distinct_bigrams"),
                ((col("h2_q") - col("h1_q")).cast(DoubleType) / 1e9)
                  .as("entropy_rate_nats"),
                (col("h2_q") - col("h1_q") < 700000000L).as("is_repetitive"),
                (col("h2_q") - col("h1_q") > 3000000000L).as("is_random"))
    },

    // n-gram Jaccard near-dup pairs via shared-shingle inverted index
    // (never all-pairs). Mined once per (session, dir) and shared with
    // the cluster-resolution query (q67) — the query-level analog of a
    // pipeline materializing its pair table once for all consumers.
    "q35_jaccard_pairs" -> { (s, dir) => jaccardQuery(s, dir) },

    // MinHash+LSH candidates (md5 min-hash, 8 hashes × 4 bands of 2),
    // annotated with true trigram Jaccard and a confirmation flag.
    "q36_minhash_lsh" -> { (s, dir) => minhashQuery(s, dir) },

    // q158: edit-distance VERIFICATION of LSH candidates — a second,
    // independent verification modality next to shingle Jaccard (q36):
    // Levenshtein distance normalized by the longer text. Jaccard is
    // blind to token ORDER within the shingle width and to character-
    // level edits inside tokens; edit distance catches both, so a
    // pipeline cross-checks borderline candidates against it before
    // deleting. Both engines implement the classic integer DP, so the
    // distance (and the all-integer near-dup test 5·d ≤ max_len, i.e.
    // normalized distance ≤ 0.2 with no float threshold) hash-gates.
    // Scale shape: the O(len²) DP runs ONLY on the banded candidate
    // pairs — orders of magnitude fewer than the corpus — after two
    // id-equi-joins to fetch the texts.
    "q158_edit_distance_dedup" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val lev = levenshtein(col("ta"), col("tb"))
      val mx  = greatest(length(col("ta")), length(col("tb")))
      Dedup.minhashCandidates(d, "doc_id", "text")
        .join(d.select(col("doc_id").as("doc_a"), col("text").as("ta")),
              Seq("doc_a"))
        .join(d.select(col("doc_id").as("doc_b"), col("text").as("tb")),
              Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
                lev.cast(LongType).as("edit_distance"),
                mx.cast(LongType).as("max_len"),
                (lit(1.0).cast(DoubleType) -
                  lev.cast(DoubleType) / mx.cast(DoubleType))
                  .as("edit_similarity"),
                (lev * 5 <= mx).as("is_near_dup_edit"))
    },

    // q152: MinHash signature ACCURACY audit — the q116 "measure, don't
    // guess" discipline applied to the dedup sketch itself: for every
    // LSH candidate pair, the signature-estimated Jaccard (fraction of
    // matching components, the unbiased MinHash estimator) against the
    // exact shingle Jaccard, with the absolute error. A pipeline reads
    // this before trusting an 8-component signature to route a 100 TB
    // dedup pass — the error column IS the empirical ±1/√k band.
    //
    // Scale shape: candidates and exact Jaccard reuse q36's mined path
    // (banded equi-join, never all-pairs); the signature frame joins the
    // pair list by doc id — two equi-joins on a candidate set that is
    // orders of magnitude smaller than the corpus.
    "q152_minhash_accuracy" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val sigs = Dedup.minhashSignatures(d, "doc_id", "text")
      val sa = sigs.select(col("doc_id").as("doc_a") +:
        (0 until 8).map(k => col(s"sig_$k").as(s"a_$k")): _*)
      val sb = sigs.select(col("doc_id").as("doc_b") +:
        (0 until 8).map(k => col(s"sig_$k").as(s"b_$k")): _*)
      val nMatch = (0 until 8)
        .map(k => when(col(s"a_$k") === col(s"b_$k"), lit(1L)).otherwise(lit(0L)))
        .reduce(_ + _)
      minhashQuery(s, dir)
        .join(sa, Seq("doc_a"))
        .join(sb, Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
                nMatch.as("n_matching"),
                (nMatch.cast(DoubleType) / lit(8.0)).as("est_jaccard"),
                col("jaccard"),
                abs(nMatch.cast(DoubleType) / lit(8.0) - col("jaccard"))
                  .as("abs_err"))
    },

    // Persisted LSH dedup index — q139/q141's build-once/serve-many
    // split applied to the single most-executed pipeline operator
    // (near-dup dedup, which q36 recomputes signatures + bands for on
    // every run). The BASE half's (band_idx, band_hash, doc_id) bands
    // materialize once per (session, dir) as a band_hash-BUCKETED
    // warehouse table; a DELTA batch then (a) self-joins its own tiny
    // band frame, and (b) probes the index with its collected band keys
    // — an IN filter on the bucket column, so the probe reads ONLY the
    // buckets holding a probed hash (SelectedBucketsCount, asserted in
    // PlanQualitySpec) and the base corpus is never rescanned or
    // reshuffled. Base×base pairs come from the index self-join, which
    // the bucketed layout runs WITHOUT an Exchange. Signatures are
    // doc-local (no corpus-dependent state, unlike q141's centroids),
    // so incremental candidates ≡ one-shot candidates exactly — gated
    // by reusing q36's full-corpus oracle verbatim.
    "q145_lsh_index_incremental" -> { (s, dir) => lshServeIncremental(s, dir) },

    // q199: the q174 banding PLANNER closing its loop — the miner runs
    // at the planner-chosen (b, r) = 16-hash 8×2 instead of q36's
    // hand-picked 8-hash 4×2 (see [[plannedLsh]]; TextSpec pins the
    // Scala replay to q174's is_best row). Candidates at the planned
    // banding, verified exactly — the operational story: plan the
    // S-curve once, mine with its output, audit with q152.
    "q199_planned_lsh_mining" -> { (s, dir) => plannedMinhashQuery(s, dir) },

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    // MOSS algorithm): positional 4-token k-gram hashes, and from every
    // window of 5 consecutive hashes select the minimum (rightmost on
    // ties, encoded as min(struct(hash, -pos))); the distinct selected
    // (pos, hash) pairs are the document's fingerprint. Guarantees any
    // shared run of ≥ w+k-1 tokens contributes a shared fingerprint,
    // with ~2/(w+1) density — the local-fingerprint complement to q31's
    // whole-document hash.
    //
    // Shape at 100 TB: everything is ARRAY-NATIVE inside one projection —
    // gram build (zip_with over slices), per-gram 16-bit md5 hash, window
    // argmin (array_min over slices: structs compare field-wise), distinct
    // — so the operator is scan-local; no shuffle, no window function, no
    // explode until the final (small) fingerprint set. The md5 runs ONCE
    // per gram (own transform pass): hex-digit extraction inside a lambda
    // re-evaluates its argument per reference, so hashing and digit
    // arithmetic stay in separate transforms.
    "q87_winnow_fingerprint" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val (k, w) = (4, 5)
      val toks = Text.tokens(col("text"))
      val m    = greatest(size(toks) - (k - 1), lit(0))
      val grams = (1 until k).foldLeft(slice(toks, lit(1), m)) { (acc, o) =>
        zip_with(acc, slice(toks, lit(1 + o), m), (a, b) => concat(a, lit(" "), b))
      }
      def hash16(hex: Column): Column = graft.functions.HexKeys.value16(hex)
      docs.select(col("doc_id"), grams.as("grams"))
        .filter(size(col("grams")) > 0)
        .select(col("doc_id"), size(col("grams")).as("ng"),
                transform(col("grams"),
                          g => md5(concat(lit("win|"), g))).as("hexes"))
        .select(col("doc_id"), col("ng"),
                zip_with(transform(col("hexes"), h => hash16(h)),
                         sequence(lit(0), col("ng") - 1),
                         (h, p) => struct(h.as("h"), (-p).as("negpos")))
                  .as("pairs"))
        .select(col("doc_id"), {
          // Sliding-window min as a zip_with fold over w SHIFTED SLICES of
          // the pair array — never `transform(windows, j => …pairs…)`:
          // CollapseProject inlines a single-use column into the lambda,
          // and a lambda's reference to an outer expression re-evaluates
          // it PER ELEMENT (the q87 draft cost 23 s at sf0.1 that way;
          // this form runs in milliseconds). Short docs (ng < w): the
          // later slices come up short, zip_with null-pads, and
          // least(a, null) = a — equivalent to one window of length ng.
          val nwin = greatest(col("ng") - (w - 1), lit(1))
          val sel = (1 until w).foldLeft(slice(col("pairs"), lit(1), nwin)) {
            (acc, o) =>
              zip_with(acc, slice(col("pairs"), lit(1 + o), nwin),
                       (a, b) => least(a, b))
          }
          explode(array_distinct(sel)).as("fp")
        })
        .select(col("doc_id"),
                (-col("fp.negpos")).cast(LongType).as("fp_pos"),
                col("fp.h").cast(LongType).as("fp_hash"))
    },

    // ---------------------------------------------------------------
    // q206: winnowing OVERLAP mining — the MOSS match step over q87's
    // local fingerprints (Schleimer et al.'s actual use: find document
    // pairs sharing selected fingerprints, the guarantee being that any
    // shared run of ≥ w+k−1 tokens shares at least one). Fingerprints
    // are 16-bit by q87's contract, so sharing is a SCREEN, not a
    // verdict (LSH's candidate role — q36/q158-style exact verification
    // downstream); pairs need ≥2 shared prints. Hot fingerprints
    // (> WinnowDfCap docs: ubiquitous phrases plus pigeonholed
    // collisions) are excluded BEFORE the postings self-join — the
    // stop-key discipline that keeps the join skew-free at corpus scale
    // (a fingerprint in n docs contributes n² candidate rows; the cap
    // bounds every posting list). All counts integer; the one ratio is
    // a single division.
    // ---------------------------------------------------------------
    "q206_winnow_overlap" -> { (s, dir) =>
      // The DF-capped postings are the MOSS fingerprint INDEX — pure
      // corpus-fitted state, memoized per (session, dir) so repeat
      // serves pay the self-join + rollup, not the corpus
      // tokenize+winnow pass. Inside the build, BOTH intermediates are
      // eagerly cut: uncut, the planner duplicates the corpus-scale q87
      // fingerprint pass per reference (`fp` feeds df + rare, `rare`
      // feeds cnt + both self-join sides). The gated q87 entry itself
      // stays uncached.
      val rare = winnowRareCache.cut(s, dir) {
        val fp = graft.core.Materialize.cut(
          defs("q87_winnow_fingerprint")(s, dir)
            .select(col("doc_id"), col("fp_hash")).distinct(), "winnow_fp")
        val df = fp.groupBy(col("fp_hash")).agg(count(lit(1)).as("df"))
        fp.join(df.filter(col("df") <= WinnowDfCap), "fp_hash")
          .select(col("fp_hash"), col("doc_id"))
      }
      val cnt = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
      val pairs = rare.select(col("fp_hash"), col("doc_id").as("doc_a"))
        .join(rare.select(col("fp_hash"), col("doc_id").as("doc_b")),
              Seq("fp_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 2L)
      pairs
        .join(cnt.select(col("doc_id").as("doc_a"), col("nfp").as("nfp_a")),
              Seq("doc_a"))
        .join(cnt.select(col("doc_id").as("doc_b"), col("nfp").as("nfp_b")),
              Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("shared"),
                col("nfp_a"), col("nfp_b"),
                (col("shared").cast(DoubleType) /
                 least(col("nfp_a"), col("nfp_b")).cast(DoubleType))
                  .as("overlap"))
    },

    // SimHash near-dup: 64-bit md5-derived simhash, 4×16-bit band
    // candidates, Hamming-verified.
    "q41_simhash" -> { (s, dir) => simhashQuery(s, dir) },

    // q213: sorted-neighborhood simhash mining (Manku et al., WWW'07 —
    // the production simhash design) — the screen for the hamming range
    // banding can't reach: q41's 4×16 banding is exact only to
    // hamming ≤ 3; this sorts the DISTINCT simhash values under 4
    // hex-rotations and pairs values within a ±2 window of each order,
    // verifying to hamming ≤ 8. Identical values collapse first
    // (partial+final agg — the flooded-key discipline), the sort is a
    // driver-quantile range bucketing + per-bucket windows (never a
    // global row_number), and boundary-crossing pairs come from the
    // ≤2W-per-bucket head/tail frame at exact global ranks. The oracle
    // replays the GLOBAL sliding window per rotation — the equivalence
    // of the bucketed two-level form to the global window IS the gate.
    "q213_snm_simhash" -> { (s, dir) =>
      graft.operators.Dedup.snmPairsFromVals(snmVals(s, dir),
        windowW = SnmWindow, rotations = SnmRotations,
        maxHamming = SnmMaxHamming)
    },

    // q215: INCREMENTAL sorted-neighborhood mining — q213 under the
    // build-once/probe-deltas discipline (see snmServeIncremental for
    // the halo/rank-gap exactness argument). The corpus pass is
    // delta-proportional; the windowing reads only the ±W halo buckets
    // of NEW values, bucket-pruned from the persisted keys table, with
    // stored full-space counts keeping ranks global. Oracle: the
    // one-shot union SNM replay restricted to pairs touching a value
    // absent from the base half (the q198/q204 one-shot-restatement
    // pattern).
    "q215_snm_incremental" -> { (s, dir) => snmServeIncremental(s, dir) },

    // q214: SNM screen RECALL audit — the q116/q152 "measure, don't
    // guess" discipline applied to q213 before trusting it to route a
    // corpus: per hamming distance 1..8, how many of the true
    // value-pairs does the ±2-window 4-rotation screen surface? Ground
    // truth is brute-forced over a deterministic md5 sample of the
    // distinct VALUES whose rate is DERIVED from V against a fixed
    // ≤1e7-sampled-pair budget (see snmAuditRateExpr — the quadratic is
    // (rate·V)²/2, value-level, never all-pairs over documents, and the
    // query raises if even the 1% floor over-runs the budget); the
    // found set is q213's full output restricted to sampled ends.
    // ≤ 8 output rows; recall is one division of exact counts.
    "q214_snm_recall" -> { (s, dir) =>
      val vals = snmVals(s, dir)
      val rate = vals.agg(count(lit(1)).as("__v"))
        .select(snmAuditRateExpr.as("__rate_pct"))
      val sampled = vals.crossJoin(broadcast(rate)).filter(
          graft.functions.HexKeys.value16(
            md5(concat(lit("snm|"), col("h")))) % 100 < col("__rate_pct"))
        .drop("__rate_pct")
      val a = sampled.select(col("h").as("sh_a"), col("simhash").as("__sa"))
      val b = sampled.select(col("h").as("sh_b"), col("simhash").as("__sb"))
      val truth = a.crossJoin(b).filter(col("sh_a") < col("sh_b"))
        .withColumn("hamming_distance",
          bit_count(col("__sa") bitwiseXOR col("__sb")).cast(LongType))
        .filter(col("hamming_distance").between(1L, SnmMaxHamming.toLong))
      val found = graft.operators.Dedup.snmPairsFromVals(vals,
          windowW = SnmWindow, rotations = SnmRotations,
          maxHamming = SnmMaxHamming)
        .select(col("sh_a"), col("sh_b"), lit(true).as("__f"))
      truth.join(found, Seq("sh_a", "sh_b"), "left")
        .groupBy(col("hamming_distance"))
        .agg(count(lit(1)).as("n_total"),
             sum(when(col("__f"), 1L).otherwise(0L)).as("n_found"))
        .select(col("hamming_distance"), col("n_total"), col("n_found"),
                (col("n_found").cast(DoubleType) /
                 col("n_total").cast(DoubleType)).as("recall"))
    },

    // Containment (asymmetric Jaccard) near-superset pairs: the
    // boilerplate/quotation detector — |A∩B|/|A| ≥ 0.8 with A the
    // smaller shingle set. Prefix-filtered probe side, full-postings
    // index side, exact verification; see Dedup.containmentPairs for
    // the recall proof and the 100 TB cost shape.
    "q108_containment_pairs" -> { (s, dir) =>
      graft.operators.Dedup.containmentPairs(
        Tables(s, dir).documents, "doc_id", "text", threshold = 0.8)
    },

    // Substring-level EXACT dedup (ExactSubstr, Lee et al. 2022 — the
    // round-7 verdict's #2 missing operator): the exact character spans
    // of each document that appear verbatim (≥25 chars) in another
    // document, via the stride-1 k-gram anchor identity — no suffix
    // array, no approximation; q87's winnowing is the sampled screen,
    // this is the removal-grade pass. See Dedup.exactSubstrCoverage for
    // the exactness argument and the 100 TB cost shape. All-integer
    // per-doc coverage stats hash-gate against an oracle that rebuilds
    // the same spans from raw substr grams.
    "q128_exact_substr" -> { (s, dir) =>
      graft.operators.Dedup.exactSubstrCoverage(
        Tables(s, dir).documents, "doc_id", "text", k = 25)
    },

    // The REMOVAL step of ExactSubstr (q128 mines the coverage stats;
    // this CUTS the spans): every ≥25-char cross-document duplicated
    // span is excised, and the residual doc survives only with ≥100
    // chars left — the actual remediation Lee et al. 2022 apply. The
    // residual TEXT itself rides in the gate, so the oracle verifies the
    // reconstruction byte-for-byte, not just counts. Plan = q128's gram
    // shuffle + per-doc bounded windows; the per-doc span fold is
    // interpreted per SPAN (≤ len/25 of them), not per char.
    "q167_substr_remediate" -> { (s, dir) =>
      graft.operators.Dedup.exactSubstrRemediate(
        Tables(s, dir).documents, "doc_id", "text", k = 25, minChars = 100)
    },

    // Chunk-level (line-level) dedup with document reconstruction — the
    // RefinedWeb/CCNet granularity between document dedup (q34) and
    // substring dedup (q128): fixed 20-token chunks, each distinct chunk
    // keeps only its FIRST corpus-wide occurrence (min (doc_id,
    // chunk_idx), packed into ONE BIGINT so both engines take the same
    // min — no struct-ordering semantics in the gate), documents
    // reassembled from their kept chunks in order (Dedup.keepFirstChunks,
    // Dedup.reassembleKept). The reconstructed text rides in the gate.
    "q169_chunk_dedup" -> { (s, dir) =>
      graft.operators.Dedup.chunkDedup(
        Tables(s, dir).documents, "doc_id", "text", ChunkDedupTokens)
    },

    // ---------------------------------------------------------------
    // q225: CONTENT-DEFINED chunk dedup — q169's operator with
    // CdcChunkArray boundaries (rolling base-31 hash of the trailing
    // 8-cp gram, divisor 64). Fixed-offset chunks (q169) are the right
    // granularity for verbatim mirrors but break on the routine web
    // case — a mirror that prepends a banner/timestamp shifts every
    // boundary and dedups NOTHING; content-defined boundaries
    // re-synchronize ~divisor chars past any edit, which is why every
    // production dedup store (LBFS/FastCDC lineage) chunks this way.
    // Scale shape identical to q169: one native pass per doc, explode
    // per CHUNK (~n/64 rows, never per char), then q169's keep flag and
    // reassembly. q226 measures the fixed-vs-CDC contrast.
    // ---------------------------------------------------------------
    "q225_cdc_chunk_dedup" -> { (s, dir) =>
      graft.operators.Dedup.cdcChunkDedup(
        Tables(s, dir).documents, "doc_id", "text")
    },

    // ---------------------------------------------------------------
    // q226: CDC realignment audit — the "measure, don't guess" gate
    // (q116/q152/q214 discipline) for WHY q225 exists. Corpus = every
    // document plus a prefix-edited copy (id + 10⁶, 'XQZV7 ' + text —
    // one inserted token / 6 inserted chars). For each method the audit
    // reports, over the COPY docs only, how much content the method
    // flags as duplicate: fixed-offset chunks shift by one token so the
    // copies dedup near-zero; CDC boundaries re-synchronize after the
    // first surviving boundary so most copy content dedups. Output is
    // one row per method (n_copy_docs, dup_units, total_units,
    // dup_frac) — the number a pipeline operator reads before choosing
    // a chunker. Unit note: fixed chunking is measured in TOKENS and
    // CDC in CHARS (each method's native unit); the comparison is
    // between the FRACTIONS. One final division per row; integer
    // numerators/denominators hash-gate exactly.
    // ---------------------------------------------------------------
    "q226_cdc_realign_audit" -> { (s, dir) =>
      val base = Tables(s, dir).documents
        .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
      val copies = base.select((col("doc_id") + 1000000L).as("doc_id"),
                               concat(lit("XQZV7 "), col("text")).as("text"))
      val corpus = base.unionByName(copies)
      val isCopy = col("doc_id") >= 1000000L
      val fixedChunks = Dedup.hashedChunks(
        Dedup.chunkFrame(corpus, "doc_id", "text", ChunkDedupTokens))
      val fixedStats = fixedChunks
        .join(Dedup.dupMinKeys(fixedChunks), Seq("chunk_hash"), "left")
        .filter(isCopy)
        .agg(countDistinct(col("doc_id")).as("n_copy_docs"),
             sum(when(col("__min_k").isNotNull && col("k") =!= col("__min_k"),
                      col("chunk_toks")).otherwise(0L)).as("dup_units"),
             sum(col("chunk_toks")).as("total_units"))
        .select(lit("fixed_token").as("method"), col("n_copy_docs"),
                col("dup_units"), col("total_units"))
      val cdcStats = {
        val ch = Dedup.hashedChunks(Dedup.cdcChunkFrame(corpus, "doc_id", "text"))
        ch.join(Dedup.dupMinKeys(ch), Seq("chunk_hash"), "left")
          .filter(isCopy)
          .agg(countDistinct(col("doc_id")).as("n_copy_docs"),
               sum(when(col("__min_k").isNotNull && col("k") =!= col("__min_k"),
                        col("chunk_chars")).otherwise(0L)).as("dup_units"),
               sum(col("chunk_chars")).as("total_units"))
          .select(lit("cdc").as("method"), col("n_copy_docs"),
                  col("dup_units"), col("total_units"))
      }
      fixedStats.unionByName(cdcStats)
        .withColumn("dup_frac",
          col("dup_units").cast(DoubleType) / col("total_units").cast(DoubleType))
    },

    // q172: q169's chunk dedup in its 100 TB-OPERATIONAL form — the
    // persisted chunk-hash index (base = even doc_ids, canonical first
    // occurrences, bucketed by chunk_hash) probed by the delta batch
    // (odd ids) with one bucket-side-shuffle-free hash join; keep
    // semantics are arrival-order first occurrence, replayed in the
    // oracle with a packed (parity, doc_id, chunk_idx) BIGINT key.
    "q172_chunk_dedup_incremental" -> { (s, dir) => chunkServeIncremental(s, dir) },

    // ---------------------------------------------------------------
    // q228: k-anonymity generalization sweep — the privacy audit next
    // to PII redaction (q107): released corpus metadata
    // (lang, source, n_chars) is a QUASI-IDENTIFIER — a combination
    // shared by < k documents re-identifies them by join with any
    // external catalog carrying the same fields. The k-anonymity fix is
    // GENERALIZATION (Sweeney 2002): coarsen n_chars to width-w buckets
    // until every occupied cell holds ≥ k docs. This sweep measures the
    // whole ladder w ∈ {1,10,100,1000} in ONE corpus pass (4× constant
    // lattice explode, the q222/q189 discipline) and picks the SMALLEST
    // width whose residual risk is zero — fallback to the coarsest when
    // none clears, the q221 planner shape — so the release pipeline
    // publishes the finest-grained metadata that is safe. Scale shape:
    // per-(w,cell) partial+final counts (hot cells bounded map-side),
    // per-w summary agg, and the chooser windows over the ≤4-row
    // summary frame only (constPartition).
    // ---------------------------------------------------------------
    "q228_k_anonymity_sweep" -> { (s, dir) =>
      val k = 5L
      val widths = Seq(1L, 10L, 100L, 1000L)
      val cells = Tables(s, dir).documents
        .select(col("lang"), col("source"), col("n_chars"),
                explode(lit(widths.toArray)).as("bucket_width"))
        .groupBy(col("bucket_width"), col("lang"), col("source"),
                 expr("n_chars div bucket_width").as("len_bucket"))
        .agg(count(lit(1)).as("cell_docs"))
      val summary = cells.groupBy(col("bucket_width"))
        .agg(count(lit(1)).as("n_cells"),
             sum(when(col("cell_docs") < k, 1L).otherwise(0L)).as("n_risky_cells"),
             sum(when(col("cell_docs") < k, col("cell_docs")).otherwise(0L))
               .as("n_risky_docs"))
        .withColumn("satisfies_k", col("n_risky_docs") === 0L)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.Macros.constPartition(col("bucket_width")))
      summary
        .withColumn("__best", min(when(col("satisfies_k"), col("bucket_width")))
          .over(w))
        .withColumn("__coarsest", max(col("bucket_width")).over(w))
        .withColumn("is_chosen",
          col("bucket_width") === coalesce(col("__best"), col("__coarsest")))
        .drop("__best", "__coarsest")
    },

    // ---------------------------------------------------------------
    // q249: l-DIVERSITY sweep — the attribute-disclosure audit k-
    // anonymity (q228) does NOT cover (Machanavajjhala et al. 2007): a
    // cell whose k ≥ 5 members all share one sensitive value still
    // leaks that value for everyone the cell re-identifies. Here the
    // quasi-identifier is (source, width-w n_chars bucket) and the
    // sensitive attribute is lang: per generalization width w ∈
    // {1,10,100,1000}, every occupied cell's DISTINCT-l, rolled up to
    // min l, cells below L = 3, and docs exposed by those cells — the
    // release review reads this NEXT TO q228's k sweep (both must
    // clear; they fail independently). Scale shape: the q228/q222/q189
    // discipline — ONE corpus pass through a constant 4× lattice
    // explode, per-(w,cell) partial+final countDistinct (bounded:
    // distinct langs per cell ≤ |langs|), per-w summary agg to 4 rows.
    // All-integer, so the sweep hash-gates.
    // ---------------------------------------------------------------
    "q249_l_diversity_sweep" -> { (s, dir) =>
      val L = 3L
      val widths = Seq(1L, 10L, 100L, 1000L)
      val cells = Tables(s, dir).documents
        .select(col("lang"), col("source"), col("n_chars"),
                explode(lit(widths.toArray)).as("bucket_width"))
        .groupBy(col("bucket_width"), col("source"),
                 expr("n_chars div bucket_width").as("len_bucket"))
        .agg(countDistinct(col("lang")).as("cell_l"),
             count(lit(1)).as("cell_docs"))
      cells.groupBy(col("bucket_width"))
        .agg(count(lit(1)).as("n_cells"),
             min(col("cell_l")).as("min_l"),
             sum(when(col("cell_l") < L, 1L).otherwise(0L))
               .as("n_low_diversity_cells"),
             sum(when(col("cell_l") < L, col("cell_docs")).otherwise(0L))
               .as("n_exposed_docs"))
        .withColumn("satisfies_l", col("n_low_diversity_cells") === 0L)
    },

    // ---------------------------------------------------------------
    // q259: t-CLOSENESS sweep — the third rung of the release-privacy
    // ladder (Li et al. 2007): k-anonymity (q228) bounds
    // re-identification, l-diversity (q249) bounds single-value
    // disclosure, but a cell can clear both while its sensitive
    // DISTRIBUTION still leaks (90/10 where the corpus is 50/50 —
    // skewness/similarity attacks). t-closeness bounds the distance
    // between each cell's lang distribution and the corpus-wide one;
    // for an unordered categorical attribute the standard instance is
    // total-variation distance TVD = ½·Σ|p_cell − p_global|. Per width
    // w: every occupied cell's TVD, the max, and cells violating
    // t = 0.4. Determinism: the violation test is the EXACT integer
    // cross-multiplication Σ|n_cl·N − N_l·n_cell|·10 > 8·N·n_cell (no
    // float threshold); TVD itself is one division per cell. Scale
    // shape: the q228/q249 lattice discipline — per-(w, cell, lang)
    // partial+final counts, the cell×lang completion via a ≤|langs|-row
    // broadcast (absent langs contribute their full global mass), per-w
    // summary to 4 rows.
    // ---------------------------------------------------------------
    "q259_t_closeness_sweep" -> { (s, dir) =>
      val widths = Seq(1L, 10L, 100L, 1000L)
      val d = Tables(s, dir).documents.select(
        col("lang"), col("source"), col("n_chars"))
      val lat = d.select(col("lang"), col("source"), col("n_chars"),
          explode(lit(widths.toArray)).as("bucket_width"))
        .withColumn("len_bucket", expr("n_chars div bucket_width"))
      val cellLang = lat.groupBy(col("bucket_width"), col("source"),
                                 col("len_bucket"), col("lang"))
        .agg(count(lit(1)).as("n_cl"))
      val cell = cellLang.groupBy(col("bucket_width"), col("source"),
                                  col("len_bucket"))
        .agg(sum(col("n_cl")).as("n_cell"))
      val globalLang = d.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      val globalTot = d.agg(count(lit(1)).as("n_tot"))
      val full = cell.crossJoin(broadcast(globalLang))
        .join(cellLang,
              Seq("bucket_width", "source", "len_bucket", "lang"), "left")
        .withColumn("n_cl", coalesce(col("n_cl"), lit(0L)))
        .crossJoin(broadcast(globalTot))
        // the cross-multiplications run on DECIMAL(38,0), not BIGINT:
        // n_cl·n_tot reaches N² (~1e19 at N≈3e9 docs, past 2⁶³), where
        // Spark (non-ANSI) would wrap silently while DuckDB raises — the
        // engines would diverge DIFFERENTLY at web scale. 38 digits keep
        // the test exact to N ≈ 1e18 docs; the final outputs (counts,
        // one IEEE division) are unchanged, so gate hashes hold.
        .withColumn("dev",
          abs(col("n_cl").cast(DecimalType(38, 0)) * col("n_tot") -
              col("n_l").cast(DecimalType(38, 0)) * col("n_cell")))
      val perCell = full.groupBy(col("bucket_width"), col("source"),
                                 col("len_bucket"), col("n_cell"),
                                 col("n_tot"))
        .agg(sum(col("dev")).as("tvd_num"))
        .withColumn("tvd",
          col("tvd_num").cast(DoubleType) /
            (lit(2.0) * col("n_tot").cast(DoubleType) *
              col("n_cell").cast(DoubleType)))
        .withColumn("violates",
          col("tvd_num") * 10L >
            lit(8L).cast(DecimalType(38, 0)) * col("n_tot") * col("n_cell"))
      perCell.groupBy(col("bucket_width"))
        .agg(count(lit(1)).as("n_cells"),
             max(col("tvd")).as("max_tvd"),
             sum(when(col("violates"), 1L).otherwise(0L))
               .as("n_violating_cells"))
        .withColumn("satisfies_t", col("n_violating_cells") === 0L)
    },

    // q227: q225's CDC dedup in its build-once/probe-deltas form — the
    // q172 discipline at content-defined granularity (see
    // cdcServeIncremental's doc for why the CDC index blocks the
    // prefix-edited-mirror case q172's fixed-token index passes through).
    "q227_cdc_incremental" -> { (s, dir) => cdcServeIncremental(s, dir) },

    // q187: pairwise Jensen–Shannon divergence between SOURCE token
    // distributions — the stylistic-distance matrix a mixture designer
    // reads next to the duplication matrix (q155): symmetric, bounded
    // [0, ln 2], zero iff identical unigram profiles. Scale shape: the
    // only corpus pass is the (source, token) count aggregate
    // (vocabulary-sized output); the pair lattice is (sources choose 2)
    // × vocabulary — bounded by VOCABULARY, not corpus. Determinism:
    // p/q derive from integer counts by one fixed op sequence, each
    // token's term is 1e-9-quantized before the per-pair DECIMAL sum
    // (order-independent — the q112 discipline), and zero-mass tokens
    // contribute exact 0 terms via CASE guards.
    "q187_source_jsd" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val tok = d.select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      val cnt = tok.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cnt"))
      val tot = cnt.groupBy(col("source")).agg(sum(col("cnt")).as("tot"))
      val vocab = cnt.select(col("tok")).distinct()
      val srcs = tot.select(col("source"))
      val pairs = srcs.select(col("source").as("source_a"))
        .crossJoin(srcs.select(col("source").as("source_b")))
        .filter(col("source_a") < col("source_b"))
      val lattice = pairs.crossJoin(vocab)
        .join(broadcast(cnt.select(col("source").as("source_a"), col("tok"),
                                   col("cnt").as("cnt_a"))),
              Seq("source_a", "tok"), "left")
        .join(broadcast(cnt.select(col("source").as("source_b"), col("tok"),
                                   col("cnt").as("cnt_b"))),
              Seq("source_b", "tok"), "left")
        .join(broadcast(tot.select(col("source").as("source_a"),
                                   col("tot").as("tot_a"))), Seq("source_a"))
        .join(broadcast(tot.select(col("source").as("source_b"),
                                   col("tot").as("tot_b"))), Seq("source_b"))
      val p = coalesce(col("cnt_a"), lit(0L)).cast(DoubleType) /
        col("tot_a").cast(DoubleType)
      val q = coalesce(col("cnt_b"), lit(0L)).cast(DoubleType) /
        col("tot_b").cast(DoubleType)
      val m = (p + q) / 2
      val term =
        when(p > 0, lit(0.5) * p * log(p / m)).otherwise(lit(0.0)) +
        when(q > 0, lit(0.5) * q * log(q / m)).otherwise(lit(0.0))
      lattice
        .select(col("source_a"), col("source_b"),
                Exact.q9(term).as("t"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(Exact.sumExact(col("t"), 9).as("jsd"))
    },

    // q174: LSH banding PLANNER — the S-curve arithmetic behind q36's
    // (bands=4, rows=2) choice, as a first-class operator: for every
    // (b, r) in the power-of-two grid, the collision probability
    // P(s) = 1 − (1 − s^r)^b integrated (midpoint rule, N=200) below the
    // 0.5 target threshold (false-positive mass) and of its complement
    // above it (false-negative mass), cost = FP + 10·FN (a missed dup is
    // worse than a wasted verification). Cross-engine exactness: powers
    // expand as explicit square-chains (s→s²→s⁴→s⁸, u→…→u¹⁶ — never
    // pow(), whose libm rounding can differ across engines) and every
    // integrand sample is 1e12-quantized to BIGINT before summing, so
    // summation order can't perturb the integral. `is_best` marks the
    // cheapest plan within the 16-hash signature budget (tie: shorter
    // signature, then more rows per band).
    "q174_lsh_parameter_plan" -> { (s, dir) =>
      val grid = for (b <- Seq(1, 2, 4, 8, 16); r <- Seq(1, 2, 4, 8)) yield (b, r)
      import s.implicits._
      val g = grid.toDF("b", "r")
      val n = 200
      val samples = s.range(n).select(col("id").cast(LongType).as("i"))
      val sCol = (col("i").cast(DoubleType) + 0.5) / n
      // The square-chains are STEPWISE PROJECTED COLUMNS, not one nested
      // expression: a single when-of-chains expression duplicates each
      // power subtree textually (Catalyst CSE can't hoist out of CASE
      // branches), and the generated project method blew Janino's 64 KB
      // limit — silent interpreted fallback. Chained selects make each
      // power one codegen local, evaluated once (CollapseProject won't
      // re-inline an alias referenced more than once by a non-cheap
      // expression, so the chain survives optimization). ToolchainSpec
      // gates this plan compiling with zero CodeGenerator errors.
      def chainOf(baseName: String, sel: Column): Column =
        when(sel === 1, col(baseName))
          .when(sel === 2, col(s"${baseName}2"))
          .when(sel === 4, col(s"${baseName}4"))
          .when(sel === 8, col(s"${baseName}8"))
          .otherwise(col(s"${baseName}16"))
      def squares(df: org.apache.spark.sql.DataFrame, baseName: String) = df
        .withColumn(s"${baseName}2", col(baseName) * col(baseName))
        .withColumn(s"${baseName}4", col(s"${baseName}2") * col(s"${baseName}2"))
        .withColumn(s"${baseName}8", col(s"${baseName}4") * col(s"${baseName}4"))
        .withColumn(s"${baseName}16", col(s"${baseName}8") * col(s"${baseName}8"))
      val withSr = squares(
          g.crossJoin(samples).select(col("b"), col("r"), col("i"), sCol.as("__s")),
          "__s")
        .withColumn("__sr", chainOf("__s", col("r")))
      val withColl = squares(withSr.withColumn("__u", lit(1.0) - col("__sr")), "__u")
        .withColumn("__coll", lit(1.0) - chainOf("__u", col("b")))
      val scored = withColl
        .select(col("b"), col("r"), col("i"),
                floor(col("__coll") * 1e12).cast(LongType).as("qp"))
        .groupBy(col("b"), col("r"))
        .agg(sum(when(col("i") < n / 2, col("qp")).otherwise(0L)).as("fp_q"),
             sum(when(col("i") >= n / 2, lit(1000000000000L) - col("qp"))
               .otherwise(0L)).as("fn_q"))
        .select(col("b").cast(LongType).as("b"), col("r").cast(LongType).as("r"),
                (col("b") * col("r")).cast(LongType).as("sig_len"),
                col("fp_q"), col("fn_q"),
                (col("fp_q") + lit(10L) * col("fn_q")).as("cost_q"))
      // argmin via a 1-row broadcast, not a no-partition window (which
      // would spam the WindowExec warning the bench log must stay free of)
      val best = scored.filter(col("sig_len") <= 16)
        .agg(min(struct(col("cost_q"), col("sig_len"), (-col("r")).as("negr")))
          .as("m"))
      scored.crossJoin(broadcast(best))
        .withColumn("is_best",
          col("sig_len") <= 16 &&
          struct(col("cost_q"), col("sig_len"), (-col("r")).as("negr")) === col("m"))
        .drop("m")
    },

    // Near-dup DECONTAMINATION: the q77/q83 exact-match decon family
    // extended to MinHash near-dups — train-split docs (q61 buckets
    // 0–94) whose trigram Jaccard vs any TEST-split doc (buckets 95–99)
    // clears 0.5, mined via the q36 band machinery restricted to
    // train × eval (never train × train: the eval band table is tiny and
    // broadcast, so the corpus side never shuffles against itself).
    // Exactly the q36 verification semantics on the surviving pairs.
    "q170_neardup_decontam" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val bucket = graft.functions.HexKeys.value16(
        md5(concat(lit("split|"), col("doc_id").cast(StringType)))) % 100
      val dd = d.withColumn("bucket", bucket)
      val train = dd.filter(col("bucket") < 95).select(col("doc_id"), col("text"))
      val ev    = dd.filter(col("bucket") >= 95).select(col("doc_id"), col("text"))
      val bt = Dedup.lshBands(Dedup.minhashSignatures(train, "doc_id", "text"))
        .select(col("doc_id").as("doc_a"), col("band_idx"), col("band_hash"))
      val be = Dedup.lshBands(Dedup.minhashSignatures(ev, "doc_id", "text"))
        .select(col("doc_id").as("doc_b"), col("band_idx"), col("band_hash"))
      val cand = bt.join(broadcast(be), Seq("band_idx", "band_hash"))
        .select(col("doc_a"), col("doc_b")).distinct()
      Dedup.verifyPairs(cand, Dedup.shingled(d, "doc_id", "text"), threshold = 0.0)
        .select(col("doc_a").as("train_doc_id"), col("doc_b").as("eval_doc_id"),
                col("shared"), col("jaccard"),
                (col("jaccard") >= 0.5).as("contaminated"))
    },

    // Deterministic train/val/test split: md5-derived bucket in [0,100) —
    // reproducible across engines/runs/partitionings (never rand(), which
    // breaks task-retry idempotence). 90/5/5.
    "q61_train_split" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      // bucket = first 4 md5 hex digits as int, mod 100 (ascii arithmetic —
      // portable, no conv() needed in the oracle)
      val hex = md5(concat(lit("split|"), col("doc_id").cast(StringType)))
      val bucket = graft.functions.HexKeys.value16(hex) % 100
      d.select(
        col("doc_id"), col("lang"),
        bucket.cast(LongType).as("split_bucket"),
        when(bucket < 90, "train").when(bucket < 95, "validation")
          .otherwise("test").as("split"))
    },

    // Token-budget sharding: documents packed into training shards of
    // ~5000 tokens by cumulative count in deterministic id order — the
    // shard-assignment step of a dataset build. Uses the two-pass parallel
    // prefix sum (Sharding.byBudget) — NOT a global unpartitioned window,
    // which would funnel every row through one task at scale.
    "q62_token_shards" -> { (s, dir) =>
      val d  = Tables(s, dir).documents
      val nt = size(Text.tokens(col("text"))).cast(LongType)
      graft.operators.Sharding.byBudget(
        d.select(col("doc_id"), nt.as("n_tokens")),
        "doc_id", "n_tokens", budget = 5000L)
    },

    // ---------------------------------------------------------------
    // q230: shard content manifest — the dataset-versioning audit over
    // q62's shard assignment: per shard, doc/token counts plus an
    // ORDER-INDEPENDENT content checksum (sum of the 32-bit md5 prefix
    // of doc_id|text-hash per member). Two independently-computed
    // builds of "the same" dataset agree shard-for-shard iff the
    // manifests match — the reproducibility check a release pipeline
    // runs before publishing, and the fast path for diffing a rebuild
    // (only shards whose checksum moved need re-upload). Sum (not xor)
    // so the DuckDB replay is plain aggregate arithmetic; each term is
    // < 2³², shard membership is bounded by the 5000-token budget, so
    // the per-shard sum peaks ≈ 2×10¹³ — 5 orders under BIGINT. Scale
    // shape: the manifest rides q62's bucketed prefix sum; the checksum
    // adds one projection + the same per-shard partial+final agg.
    // ---------------------------------------------------------------
    "q230_shard_manifest" -> { (s, dir) =>
      val sh = defs("q62_token_shards")(s, dir)
      val d = Tables(s, dir).documents
        .select(col("doc_id"), md5(col("text")).as("__th"))
      val term = graft.functions.HexKeys.value32(
        md5(concat(col("doc_id").cast(StringType), lit("|"), col("__th"))))
      sh.join(d, "doc_id")
        .withColumn("__term", term)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tokens")).as("shard_tokens"),
             sum(col("__term")).as("content_checksum"),
             min(col("doc_id")).as("first_doc_id"),
             max(col("doc_id")).as("last_doc_id"))
    },

    // ---------------------------------------------------------------
    // q239: RESHARD-CHURN audit — what an APPEND costs each sharding
    // strategy, measured with q230's manifest-diff discipline: after
    // adding the delta half (base = doc_id % 2 == 0, the house
    // convention), how many shards of the rebuilt dataset carry a
    // changed checksum and must re-upload? Cumulative token-budget
    // packing (q62's strategy — optimal for TRAINING reads) reshards
    // almost everything: any inserted doc shifts every later prefix
    // sum, so shard boundaries move wholesale — the shard-level analog
    // of q226's fixed-chunk realignment failure. Hash sharding
    // (md5(doc_id) mod 256 — stable under append by construction)
    // churns only the shards that actually RECEIVE delta docs. The two
    // reupload_frac rows are the storage-vs-training trade a dataset
    // release pipeline reads before choosing its layout (and why
    // release layouts hash-shard then pack WITHIN shards). Scale
    // shape: checksums are order-independent integer sums (q230), each
    // manifest one partial+final agg; packed manifests ride q62's
    // bucketed prefix sum; the diff joins touch only manifest-sized
    // frames (≤ shards per strategy).
    // ---------------------------------------------------------------
    "q239_reshard_churn" -> { (s, dir) =>
      val hk = graft.functions.HexKeys
      // eagerly cut: BOTH strategy manifests over BOTH halves consume
      // this frame, and each byBudget additionally boundary-scans it —
      // uncut, the tokenize+md5 projection re-ran per reference; the
      // frame is four integers per doc
      val keyed = graft.core.Materialize.cut(
        Tables(s, dir).documents.select(
          col("doc_id"),
          size(Text.tokens(col("text"))).cast(LongType).as("n_tokens"),
          hk.value32(md5(concat(col("doc_id").cast(StringType), lit("|"),
                                md5(col("text"))))).as("term"),
          (hk.value16(md5(concat(lit("shard|"), col("doc_id").cast(StringType))))
            % 256).cast(LongType).as("hash_shard")), "q239_keyed")
      def manifests(docs: DataFrame): DataFrame = {
        val packed = graft.operators.Sharding.byBudget(
            docs.select(col("doc_id"), col("n_tokens")),
            "doc_id", "n_tokens", budget = 5000L)
          .join(docs.select(col("doc_id"), col("term")), "doc_id")
          .groupBy(col("shard_id"))
          .agg(sum(col("term")).as("checksum"))
          .select(lit("packed").as("strategy"), col("shard_id"), col("checksum"))
        val hashed = docs.groupBy(col("hash_shard").as("shard_id"))
          .agg(sum(col("term")).as("checksum"))
          .select(lit("hashed").as("strategy"), col("shard_id"), col("checksum"))
        packed.unionByName(hashed)
      }
      val base = manifests(keyed.filter(col("doc_id") % 2 === 0))
        .withColumnRenamed("checksum", "base_checksum")
      manifests(keyed).join(base, Seq("strategy", "shard_id"), "left")
        .withColumn("status",
          when(col("base_checksum").isNull, "new")
            .when(col("base_checksum") === col("checksum"), "unchanged")
            .otherwise("changed"))
        .groupBy(col("strategy"))
        .agg(count(lit(1)).as("n_shards_full"),
             sum(when(col("status") === "unchanged", 1L).otherwise(0L))
               .as("n_unchanged"),
             sum(when(col("status") === "changed", 1L).otherwise(0L))
               .as("n_changed"),
             sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"))
        .select(col("strategy"), col("n_shards_full"), col("n_unchanged"),
                col("n_changed"), col("n_new"),
                ((col("n_changed") + col("n_new")).cast(DoubleType) /
                  col("n_shards_full").cast(DoubleType)).as("reupload_frac"))
    },

    // Greedy sequence packing — training-batch construction, the
    // complement of q62: documents are NEVER split (q62 cuts shard
    // boundaries by start offset mid-stream). 8 deterministic packing
    // streams (doc_id % 8 — a pure function of the id), and within each
    // stream a greedy capacity-512 fold in id order: a doc that would
    // overflow the open bin closes it; an oversized doc gets a bin of
    // its own. The per-stream sorted fold IS the production packer
    // shape — parallelism = streams, no global window, no driver state
    // (Sharding.packGreedy). The oracle replays every stream's fold as
    // a recursive CTE, so the whole greedy walk hash-gates.
    // ---------------------------------------------------------------
    // q251: PACKING-CAPACITY sweep — the context-length planner read
    // behind q140's fixed 512: for each candidate capacity c ∈
    // {256, 512, 1024, 2048}, the greedy packer's realized efficiency:
    // bins opened, capacity·bins vs actual tokens, the WASTE fraction
    // (padding a trainer would burn), and oversized docs (> c, each
    // forcing a lone bin — the truncation-policy trigger). Waste rises
    // with capacity (longer bins are harder to fill from the same doc
    // length distribution) while per-sequence fixed costs fall; the
    // sweep is the two-sided read that picks c. Scale shape: the token
    // projection is cut ONCE and shared; each leg is q140's gated
    // per-stream sorted fold (parallelism = streams, no global window);
    // per-leg stats are partial+final aggs to stream-count rows, then
    // one row per capacity.
    // ---------------------------------------------------------------
    "q251_packing_capacity_sweep" -> { (s, dir) =>
      val d  = Tables(s, dir).documents
      val toks = graft.core.Materialize.cut(
        d.select(col("doc_id"),
                 size(Text.tokens(col("text"))).cast(LongType).as("n_tokens")),
        "q251-tokens")
      val legs = Seq(256L, 512L, 1024L, 2048L).map { c =>
        val packed = graft.operators.Sharding.packGreedy(
          toks, "doc_id", "n_tokens", capacity = c, numStreams = 8)
        val bins = packed.groupBy(col("stream_id"))
          .agg(max(col("bin_seq")).as("mx"))
          .agg(sum(col("mx")).as("n_bins"))
        val tot = toks.agg(
          sum(col("n_tokens")).as("total_tokens"),
          sum(when(col("n_tokens") > c, 1L).otherwise(0L)).as("n_oversized"))
        tot.crossJoin(bins)
          .select(lit(c).as("capacity"), col("n_bins"), col("total_tokens"),
                  col("n_oversized"),
                  (lit(c) * col("n_bins")).as("capacity_tokens"),
                  (lit(1.0) - col("total_tokens").cast(DoubleType) /
                    (lit(c) * col("n_bins")).cast(DoubleType)).as("waste_frac"))
      }
      legs.reduce(_.unionAll(_))
    },

    "q140_sequence_packing" -> { (s, dir) =>
      val d  = Tables(s, dir).documents
      val nt = size(Text.tokens(col("text"))).cast(LongType)
      graft.operators.Sharding.packGreedy(
        d.select(col("doc_id"), nt.as("n_tokens")),
        "doc_id", "n_tokens", capacity = 512L, numStreams = 8)
    },

    // Deterministic stratified sampling: N docs per language stratum,
    // selected by smallest md5-derived key — reproducible across engines,
    // runs, partitionings, and task retries (the same discipline as the
    // q61 split: never rand()). Two-level top-N via the bounded-heap
    // TopKPairs aggregate: map-side partial aggregation reduces every
    // input task to ≤ 50 pairs per stratum BEFORE the shuffle, so no task
    // ever sorts a whole stratum (the round-2 single-task-per-stratum
    // window is gone — PlanQualitySpec asserts the plan shape).
    "q68_stratified_sample" -> { (s, dir) =>
      val d   = Tables(s, dir).documents
      val key = md5(concat(lit("sample|"), col("doc_id").cast(StringType)))
      d.select(col("doc_id"), col("lang"), key.as("sample_key"))
        .groupBy(col("lang"))
        .agg(org.apache.spark.sql.graftx.TopKPairs
          .topK(col("sample_key"), col("doc_id"), 50).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("col.id").as("doc_id"), col("lang"),
                col("col.key").as("sample_key"),
                (col("pos") + 1).cast(LongType).as("sample_rank"))
    },

    // Duplicate-cluster assignment: exact-dup edges + Jaccard near-dup
    // pairs → connected components (min-label propagation), every doc
    // labeled with its transitive cluster's min id. The step after pair
    // mining that an actual dedup pipeline ships: keep one doc per
    // CLUSTER, not per pair. Sizes attach via groupBy + join-back
    // (Dedup.withClusterSize) — a mega-dup cluster is a flooded key, so
    // never a window over cluster_id.
    "q67_dedup_clusters" -> { (s, dir) => q67Clusters(s, dir) },

    // ---------------------------------------------------------------
    // q263: DEDUP-METHOD AGREEMENT matrix — the method-selection read
    // the per-method gates can't give alone: for every pair of shipped
    // dedup modalities (exact star edges, Jaccard≥0.5 mined pairs,
    // MinHash-LSH confirmed pairs, SimHash hamming≤3 pairs), how many
    // doc pairs each emits, how many they SHARE, and the Jaccard
    // agreement |A∩B| / |A∪B| — near-1 off-diagonals mean one modality
    // is redundant at this corpus's dup profile, near-0 means they
    // screen DIFFERENT phenomena and both earn their cost. Each
    // method's PAIR OUTPUT is the shipped one (exact emits
    // canonical→member star edges, not the within-group closure — the
    // matrix compares what the operators actually produce). Scale
    // shape: every input frame is an already-gated (and where shipped,
    // memoized) pair set; the matrix is one self-join on the pair key
    // over pair-sized frames + a 10-row lattice completion against a
    // 4-row literal; all-integer until the one division.
    // ---------------------------------------------------------------
    "q263_method_agreement" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir).documents
      def tag(df: DataFrame, m: String) =
        df.select(col("doc_a"), col("doc_b"), lit(m).as("method"))
      val all = tag(exactDupEdges(s, dir), "exact")
        .unionAll(tag(jaccard05(s, dir).select(col("doc_a"), col("doc_b")),
                      "jaccard"))
        .unionAll(tag(minhashQuery(s, dir).filter(col("is_near_dup"))
                        .select(col("doc_a"), col("doc_b")), "minhash"))
        .unionAll(tag(simhashQuery(s, dir).select(col("doc_a"), col("doc_b")),
                      "simhash"))
      val counts = all.groupBy(col("method")).agg(count(lit(1)).as("n"))
      val overlap = all.as("a").join(all.as("b"),
          col("a.doc_a") === col("b.doc_a") &&
            col("a.doc_b") === col("b.doc_b") &&
            col("a.method") <= col("b.method"))
        .groupBy(col("a.method").as("method_a"),
                 col("b.method").as("method_b"))
        .agg(count(lit(1)).as("n_both"))
      val m = Seq("exact", "jaccard", "minhash", "simhash").toDF("method")
      val lattice = m.select(col("method").as("method_a"))
        .crossJoin(m.select(col("method").as("method_b")))
        .filter(col("method_a") <= col("method_b"))
      lattice
        .join(overlap, Seq("method_a", "method_b"), "left")
        .join(broadcast(counts.select(col("method").as("method_a"),
                                      col("n").as("n_a"))),
              Seq("method_a"), "left")
        .join(broadcast(counts.select(col("method").as("method_b"),
                                      col("n").as("n_b"))),
              Seq("method_b"), "left")
        .select(col("method_a"), col("method_b"),
                coalesce(col("n_a"), lit(0L)).as("n_a"),
                coalesce(col("n_b"), lit(0L)).as("n_b"),
                coalesce(col("n_both"), lit(0L)).as("n_both"))
        .withColumn("agreement",
          when(col("n_a") + col("n_b") - col("n_both") > 0L,
               col("n_both").cast(DoubleType) /
                 (col("n_a") + col("n_b") - col("n_both")).cast(DoubleType)))
    },

    // ---------------------------------------------------------------
    // q247: DEDUP THRESHOLD SWEEP — the planner read before fixing the
    // Jaccard cutoff: for each threshold t ∈ {0.5, 0.6, 0.7, 0.8}, the
    // transitive dup clusters that survive (mined pairs filtered to
    // jaccard ≥ t, exact-hash edges included at every t — an exact copy
    // is a dup under any cutoff), rolled up to the three numbers a
    // curation review weighs: dup clusters, removable docs (Σ size−1),
    // reclaimable bytes (Σ cluster bytes − largest member kept, q143's
    // keep-best convention). Raising t monotonically shrinks all three;
    // the knee of that curve is where the threshold belongs. Scale
    // shape: pair mining happens ONCE (the memoized q35 frame — legs
    // only filter it); exact edges are mined once behind a lineage cut;
    // per-leg CC runs over edge ENDPOINTS only (nodes not incident to
    // any surviving edge can't form a dup cluster, so the corpus never
    // enters the iteration); cluster stats are partial+final aggs —
    // never a window over the flooded cluster key — and each leg's
    // readout is one row.
    // ---------------------------------------------------------------
    "q247_threshold_sweep" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val bytes = d.select(col("doc_id"),
                           length(col("text")).cast(LongType).as("nb"))
      val exactEdges = exactDupEdges(s, dir)
      // the mined-pair memo is forced BEFORE the legs fan out so the
      // concurrent legs read it instead of racing to build it
      val jac = jaccard05(s, dir)
      // the four threshold legs are INDEPENDENT jobs whose cost is an
      // eager CC convergence loop each — overlap them from a thread pool
      // (guide §2.6) so one leg's convergence-round tail back-fills the
      // cores another leg's next round needs; results are per-leg
      // deterministic and the union keeps the threshold order
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val legs = Await.result(Future.sequence(Seq(5, 6, 7, 8).map { t =>
        Future {
          val edges = exactEdges.union(
            jac.filter(col("jaccard") >= t.toDouble / 10.0)
              .select(col("doc_a"), col("doc_b")))
          val nodes = edges.select(col("doc_a").as("id"))
            .union(edges.select(col("doc_b").as("id"))).distinct()
          val g = Dedup.connectedComponents(nodes, edges, "doc_a", "doc_b")
            .join(bytes, col("id") === col("doc_id"))
            .groupBy(col("cluster_id"))
            .agg(count(lit(1)).as("sz"), sum(col("nb")).as("sum_nb"),
                 max(col("nb")).as("max_nb"))
          g.agg(count(lit(1)).as("n_dup_clusters"),
                coalesce(sum(col("sz") - 1L), lit(0L)).as("n_dup_docs"),
                coalesce(sum(col("sum_nb") - col("max_nb")), lit(0L))
                  .as("bytes_saved"))
            .select(lit(t.toLong).as("threshold_x10"), col("n_dup_clusters"),
                    col("n_dup_docs"), col("bytes_saved"))
        }
      }), Duration.Inf)
      legs.reduce(_.unionAll(_))
    },

    // ---------------------------------------------------------------
    // q207: dedup survivor WEIGHTS — the inverse-propensity correction
    // statistics over a deduplicated corpus need: dropping near-dup
    // cluster members biases every downstream estimate toward rare
    // content, so each canonical carries weight = its cluster size and
    // weighted readouts (Σ weight·n_tokens) recover raw-corpus-scale
    // quantities from the deduped survivor set. Σ weight = n_docs by
    // construction (every doc contributes once to its canonical).
    // Composes q67's transitive clusters (memoized pair mining); the
    // weight attach is one id-equi-join — no new corpus pass.
    // ---------------------------------------------------------------
    "q207_dedup_weights" -> { (s, dir) =>
      val toks = Tables(s, dir).documents
        .select(col("doc_id"),
                size(Text.tokens(col("text"))).cast(LongType).as("n_tokens"))
      dupClusterAssignments(s, dir)
        .filter(col("is_canonical"))
        .join(toks, "doc_id")
        .select(col("doc_id"), col("cluster_id"),
                col("cluster_size").as("weight"), col("n_tokens"),
                (col("cluster_size") * col("n_tokens")).as("weighted_tokens"))
    },

    // ---------------------------------------------------------------
    // q219: dup-cluster size SPECTRUM — the Hill plot over the largest
    // cluster sizes. Duplication on web corpora is heavy-tailed (a few
    // mirrored/error pages own millions of copies); the Hill estimator
    // α̂(k) = k / Σ_{j≤k} ln(s_j / s_{k+1}) over the top-k order
    // statistics is the standard tail-index read: a stable α̂ region ⇒
    // power-law tail with that exponent, and α̂ ≤ 1 warns that dedup
    // savings are dominated by a handful of clusters (fix those first).
    // Scale shape: sizes are a partial+final count per cluster; the top
    // 21 order statistics ride the bounded TopKPairs heap (map-side ≤21
    // per task — never a global sort), the exact size through
    // SortableDouble's lossless key; each ln(s) is 1e9-quantized to
    // BIGINT immediately (the q125 discipline) so prefix sums are exact
    // integers and the oracle replays them bit-for-bit; the k-sweep is a
    // window over the ≤21-row frame only (constPartition, the q109
    // idiom). All-equal tails (gap 0) yield an explicit NULL, not an
    // engine-dependent inf.
    // ---------------------------------------------------------------
    "q219_dup_cluster_spectrum" -> { (s, dir) =>
      import org.apache.spark.sql.graftx.{SortableDouble, TopKPairs}
      val m = 20
      val sizes = dupClusterAssignments(s, dir)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      val top = sizes
        .select(SortableDouble.sortKeyDesc(col("sz").cast("double")).as("skey"),
                col("cluster_id"))
        .agg(TopKPairs.topK(col("skey"), col("cluster_id"), m + 1).as("top"))
        .select(posexplode(col("top")))
        .select((col("pos") + 1).cast(LongType).as("tail_rank"),
                SortableDouble.decodeDesc(col("col.key")).cast(LongType).as("cluster_size"))
        .withColumn("tq", Exact.e9(log(col("cluster_size").cast("double"))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.Macros.constPartition(col("tq")))
        .orderBy(col("tail_rank"))
      top
        .withColumn("s", sum(col("tq")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                        org.apache.spark.sql.expressions.Window.currentRow)))
        .withColumn("tnext", lead(col("tq"), 1).over(w))
        .filter(col("tail_rank") <= m && col("tnext").isNotNull)
        .withColumn("gap", col("s") - col("tail_rank") * col("tnext"))
        .select(col("tail_rank"), col("cluster_size"),
                when(col("gap") === 0, lit(null).cast("double"))
                  .otherwise(col("tail_rank").cast("double") * lit(1e9) /
                             col("gap").cast("double")).as("hill_alpha"))
    },

    // ---------------------------------------------------------------
    // q231: UNSEEN-DUPLICATION estimate — species-richness statistics
    // over the dup-cluster size histogram, the question q219's tail
    // plot doesn't answer: "we deduped a sample; how much duplication
    // is still UNDISCOVERED in the data we haven't crawled/processed?"
    // Good–Turing coverage (Good 1953): the probability the NEXT
    // document belongs to an already-seen cluster is ≈ 1 − f₁/n (f₁ =
    // singleton clusters, n = docs) — so f₁/n is the marginal NOVELTY
    // rate of continued ingestion, the number a crawl planner reads
    // before paying for the next 10 TB. Bias-corrected Chao1 (Chao
    // 1984): Ŝ = S_obs + f₁(f₁−1)/(2(f₂+1)) lower-bounds the total
    // distinct-document count in the population — defined even when
    // f₂ = 0, so no division-by-zero branch for either engine.
    // Scale shape: cluster sizes are a partial+final count per cluster
    // (hot mega-cluster bounded map-side — never a window over the
    // flooded cluster key); the richness statistics are ONE global agg
    // over the |clusters|-row size frame with all-conditional-integer
    // inputs; doubles appear only in the final single-row projection.
    // ---------------------------------------------------------------
    "q231_chao1_unseen" -> { (s, dir) =>
      val sizes = dupClusterAssignments(s, dir)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      val agg = sizes.agg(
        count(lit(1)).as("s_obs"),
        sum(col("sz")).as("n_docs"),
        sum(when(col("sz") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("sz") === 2L, 1L).otherwise(0L)).as("f2"))
      val extra = (col("f1") * (col("f1") - 1L)).cast(DoubleType) /
        (lit(2L) * (col("f2") + 1L)).cast(DoubleType)
      val unseen = col("f1").cast(DoubleType) / col("n_docs").cast(DoubleType)
      agg.select(col("s_obs"), col("n_docs"), col("f1"), col("f2"),
                 extra.as("chao1_extra"),
                 (col("s_obs").cast(DoubleType) + extra).as("chao1_est"),
                 unseen.as("unseen_mass"),
                 (lit(1.0) - unseen).as("coverage_gt"))
    },

    // ---------------------------------------------------------------
    // q236: per-source NOVELTY rate — q231's Good–Turing read broken
    // out BY SOURCE, the crawl-budget allocator's question: which
    // source is exhausted (every new doc duplicates something) and
    // which still yields novel content. A doc is "novel" iff its GLOBAL
    // dup cluster is a singleton — membership in a multi-doc cluster
    // means the content exists elsewhere in the corpus, whichever
    // source owns the copy — so per source the novelty rate is the
    // fraction of its docs in singleton clusters, and the exhausted
    // flag is the exact integer comparison n_novel·10 < n_docs (< 10%
    // marginal novelty: stop paying for this crawl). Scale shape: the
    // cluster sizes ride q67's partial+final count (memoized, shared
    // with q219/q231); the source attach is a doc_id equi-join; the
    // rollup is one partial+final agg keyed by source with
    // conditional-integer inputs.
    // ---------------------------------------------------------------
    "q236_source_novelty" -> { (s, dir) =>
      val cl = dupClusterAssignments(s, dir)
      val src = Tables(s, dir).documents.select(col("doc_id"), col("source"))
      cl.join(src, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("cluster_size") === 1L, 1L).otherwise(0L))
               .as("n_novel"))
        .select(col("source"), col("n_docs"), col("n_novel"),
                (col("n_novel").cast(DoubleType) /
                  col("n_docs").cast(DoubleType)).as("novelty_rate"),
                (col("n_novel") * 10L < col("n_docs")).as("is_exhausted"))
    },

    // ---------------------------------------------------------------
    // q240: CROSS-SOURCE duplication matrix — which sources mirror each
    // other: for every unordered source pair, the number of q67 dup
    // clusters containing documents from BOTH, and how many docs each
    // side contributes to those shared clusters. This is the crawl-
    // planning complement of q236's per-source novelty: novelty says a
    // source is exhausted; this says WHERE its content already lives
    // (drop the smaller mirror wholesale instead of paying per-doc
    // dedup). Scale shape: per-(cluster, source) doc counts are ONE
    // partial+final agg over the memoized q67 assignment ⋈ source
    // equi-join; the pair fan-out is a self-join ON cluster_id bounded
    // per cluster by (distinct sources in it)² — and clusters spanning
    // more than [[CrossSourceCap]] sources are EXCLUDED before pairing
    // (a boilerplate mega-cluster present in every domain would emit
    // |domains|² rows and attributes nothing pairwise; at web scale
    // |domains| is millions, so the cap is the operator's quadratic
    // guard, same role as q214's budget). Exact integer counts
    // hash-gate; pair order is canonical (source_a < source_b).
    // ---------------------------------------------------------------
    "q240_cross_source_dup" -> { (s, dir) =>
      // eagerly cut: referenced THREE times below (the eligibility agg
      // and both self-join sides) — uncut, each reference re-expanded
      // the cluster-assignment ⋈ documents ⋈ groupBy upstream (the
      // committed plan re-scanned documents 24×); the frame is
      // per-(cluster, source) counts, far smaller than the corpus
      val cs = graft.core.Materialize.cut(
        dupClusterAssignments(s, dir)
          .join(Tables(s, dir).documents.select(col("doc_id"), col("source")),
                "doc_id")
          .groupBy(col("cluster_id"), col("source"))
          .agg(count(lit(1)).as("n_docs")), "xsrc_cs")
      val eligible = cs
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_sources"))
        .filter(col("n_sources").between(2L, CrossSourceCap))
        .select(col("cluster_id"))
      val e = cs.join(eligible, "cluster_id")
      e.as("a").join(e.as("b"),
          col("a.cluster_id") === col("b.cluster_id") &&
            col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared_clusters"),
             sum(col("a.n_docs")).as("n_docs_a"),
             sum(col("b.n_docs")).as("n_docs_b"))
    },

    // ---------------------------------------------------------------
    // q244: LSH BANDING TUNER — the measured operating curve behind
    // q36's fixed 4×2 choice: for every factorization (b bands × r
    // rows) of the SAME 8-hash signature budget, the analytic 50%-
    // capture crossover s50 = (1 − 0.5^(1/b))^(1/r) next to the
    // MEASURED candidate volume, precision, and recall against the
    // exact Jaccard≥0.5 truth (q35's mined pairs, memoized). This is
    // the deploy-time read: more rows/band pushes the S-curve right
    // (fewer, cleaner candidates — recall risk), more bands pull it
    // left (recall safe — verification cost). s50 literals are
    // precomputed driver-side (the grid is corpus-independent — q199's
    // static-planner discipline) so both engines receive the identical
    // double. Scale shape: ONE signature pass (the 8 sigs are shared by
    // every config), per config a banded groupBy self-join whose
    // candidate count is ∝ bucket collisions (never all-pairs), truth
    // attach by pair equi-join, then a 1-row agg per config unioned
    // into a 4-row readout with a 1-row broadcast truth total.
    // ---------------------------------------------------------------
    "q244_lsh_band_tuning" -> { (s, dir) =>
      import graft.operators.Dedup
      val sigs = graft.core.Materialize.cut(
        Dedup.minhashSignatures(Tables(s, dir).documents, "doc_id", "text"),
        "q244-sigs")
      val truthPairs = jaccardQuery(s, dir)
        .select(col("doc_a"), col("doc_b"), lit(true).as("__t"))
      val nTruth = jaccardQuery(s, dir)
        .agg(count(lit(1)).as("n_truth_total"))
      val legs = LshTuneConfigs.map { case (b, r, s50) =>
        val bands = Dedup.lshBands(sigs, numHashes = 8, rowsPerBand = r)
        val cand = bands.as("a").join(bands.as("b"),
            col("a.band_idx") === col("b.band_idx") &&
              col("a.band_hash") === col("b.band_hash") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        cand.join(truthPairs, Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("n_candidates"),
               coalesce(sum(when(col("__t"), 1L).otherwise(0L)), lit(0L))
                 .as("n_true_pairs"))
          .select(lit(b.toLong).as("num_bands"),
                  lit(r.toLong).as("rows_per_band"),
                  lit(s50).as("s50_crossover"),
                  col("n_candidates"), col("n_true_pairs"))
      }
      legs.reduce(_.unionAll(_)).crossJoin(broadcast(nTruth))
        .select(col("num_bands"), col("rows_per_band"), col("s50_crossover"),
                col("n_candidates"), col("n_true_pairs"), col("n_truth_total"),
                when(col("n_candidates") > 0L,
                     col("n_true_pairs").cast(DoubleType) /
                       col("n_candidates").cast(DoubleType)).as("precision_05"),
                when(col("n_truth_total") > 0L,
                     col("n_true_pairs").cast(DoubleType) /
                       col("n_truth_total").cast(DoubleType)).as("recall_05"))
    },

    // ---------------------------------------------------------------
    // q237: dedup ROI curve — WHERE the dedup savings live, ranked: for
    // each of the top-20 dup clusters by reclaimable bytes (savings =
    // member bytes − the largest member kept, the keep-best-copy
    // convention of q143), the cumulative fraction of the corpus-wide
    // savings. Duplication is heavy-tailed (q219's Hill read), so the
    // actionable question is "how many clusters must remediation touch
    // for 80% of the win" — if the top 5 own most of it, hand-curate
    // those; if the curve is flat, only wholesale dedup pays. Scale
    // shape: per-cluster bytes are ONE partial+final agg over the
    // memoized q67 assignment ⋈ doc bytes (hot mega-cluster bounded
    // map-side — never a window over cluster_id); the top-20 order
    // statistics ride the bounded TopKPairs heap (≤21 per task
    // map-side, exact savings through SortableDouble's lossless key —
    // the q219 discipline); the prefix sum windows over the ≤20-row
    // frame only; the corpus-wide total is a 1-row broadcast. Ties at
    // the heap boundary are value-identical rows, so the curve is
    // deterministic without a cluster-id column. A dup-free corpus
    // yields an EMPTY result (the curve ranks positive-savings clusters
    // only — with none, there is no curve and no 0/0 to dodge), so
    // whenever a row exists total_savings > 0 and cum_frac is a plain
    // well-defined division.
    // ---------------------------------------------------------------
    "q237_dedup_roi" -> { (s, dir) =>
      import org.apache.spark.sql.graftx.{SortableDouble, TopKPairs}
      val bytes = Tables(s, dir).documents
        .select(col("doc_id"), length(col("text")).cast(LongType).as("nb"))
      val perCluster = dupClusterAssignments(s, dir)
        .join(bytes, "doc_id")
        .groupBy(col("cluster_id"))
        .agg((sum(col("nb")) - max(col("nb"))).as("savings"))
      val tot = perCluster.agg(sum(col("savings")).as("total_savings"))
      val top = perCluster.filter(col("savings") > 0L)
        .select(SortableDouble.sortKeyDesc(col("savings").cast("double")).as("skey"),
                col("cluster_id"))
        .agg(TopKPairs.topK(col("skey"), col("cluster_id"), 20).as("top"))
        .select(posexplode(col("top")))
        .select((col("pos") + 1).cast(LongType).as("roi_rank"),
                SortableDouble.decodeDesc(col("col.key")).cast(LongType)
                  .as("savings_bytes"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.Macros.constPartition(col("savings_bytes")))
        .orderBy(col("roi_rank"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                     org.apache.spark.sql.expressions.Window.currentRow)
      top.withColumn("cum_savings_bytes", sum(col("savings_bytes")).over(w))
        .crossJoin(broadcast(tot))
        .select(col("roi_rank"), col("savings_bytes"), col("cum_savings_bytes"),
                col("total_savings").as("total_savings_bytes"),
                (col("cum_savings_bytes").cast(DoubleType) /
                  col("total_savings").cast(DoubleType)).as("cum_frac"))
    },

    // ---------------------------------------------------------------
    // q235: SHUFFLE-SKEW plan audit — measure the partition-key
    // histogram BEFORE paying for the 100 TB shuffle, for the key this
    // engine shuffles most: the content hash. For each candidate
    // partition count P ∈ {32, 256, 1024}, every row's bucket is a pure
    // function of its md5 (16-bit slice mod P — the engine-portable
    // proxy for a hash partitioner; the md5-key discipline of
    // q61/q68), and the audit reads max-bucket/mean-bucket in ROWS and
    // BYTES — bytes, because a straggler is sized by payload, not row
    // count. A mega-duplicate group (the routine web case) shares ONE
    // content hash, so it lands in one bucket at EVERY P: skew_ratio
    // that stays flat as P grows is the signature of a flooded key
    // (salt it or pre-aggregate), while skew that decays with P is just
    // granularity (raise the partition count). The q174/q221 planner
    // discipline: measure on a sample, then configure the real shuffle.
    // Scale shape: one corpus scan, a constant 3× lattice explode
    // (q228's bound), partial+final (P, bucket) aggs — the audit frame
    // is ≤ Σ P rows; the final per-P rollup is trivial. The skewed-key
    // verdict is an exact integer cross-product comparison.
    // ---------------------------------------------------------------
    "q235_shuffle_skew_plan" -> { (s, dir) =>
      val hk = graft.functions.HexKeys
      val d = Tables(s, dir).documents
        .select(md5(col("text")).as("hex"),
                length(col("text")).cast(LongType).as("nb"))
      val bucketed = d
        .select(col("hex"), col("nb"),
                explode(array(lit(32), lit(256), lit(1024))).as("p"))
        .select(col("p").cast(LongType).as("n_partitions"),
                (hk.value16(col("hex")) % col("p")).cast(LongType).as("bucket"),
                col("nb"))
        .groupBy(col("n_partitions"), col("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum(col("nb")).as("n_bytes"))
      bucketed.groupBy(col("n_partitions"))
        .agg(sum(col("n_rows")).as("total_rows"),
             sum(col("n_bytes")).as("total_bytes"),
             count(lit(1)).as("n_buckets_used"),
             max(col("n_rows")).as("max_bucket_rows"),
             max(col("n_bytes")).as("max_bucket_bytes"))
        .select(col("n_partitions"), col("total_rows"), col("total_bytes"),
                col("n_buckets_used"), col("max_bucket_rows"),
                col("max_bucket_bytes"),
                (col("max_bucket_rows").cast(DoubleType) *
                  col("n_partitions").cast(DoubleType) /
                  col("total_rows").cast(DoubleType)).as("row_skew_ratio"),
                (col("max_bucket_bytes").cast(DoubleType) *
                  col("n_partitions").cast(DoubleType) /
                  col("total_bytes").cast(DoubleType)).as("byte_skew_ratio"),
                (col("max_bucket_bytes") * col("n_partitions") >
                  col("total_bytes") * 2L).as("is_skewed"))
    },

    // ---------------------------------------------------------------
    // q224: leakage-safe train/eval split — the q61 split keyed by the
    // dup CLUSTER instead of the document. Hashing doc_id (q61) puts two
    // near-identical documents on opposite sides of the train/eval wall
    // with probability 2·p·(1−p) per pair — the eval set then scores
    // memorization, not generalization (the train/test-leakage failure
    // dedup-aware splits exist to kill; cf. the decontamination family
    // q77/q170, which patches leakage against EXTERNAL benchmarks — this
    // operator prevents the INTERNAL kind at split time). Keying the
    // md5 bucket by q67's cluster_id moves whole near-dup clusters as
    // units, so cluster_aware_splits is identically 1 — the gate hash
    // PROVES it rather than asserting it — while cluster_naive_splits>1
    // rows quantify exactly the leakage the naive split would have
    // shipped. Scale shape: the split is a pure projection over the
    // cluster assignment (no new shuffle beyond q67's own CC); the
    // per-cluster audit is a two-distinct-count agg (expand +
    // partial/final pairs, hot cluster bounded map-side) joined back on
    // cluster_id — never a window over the flooded cluster key.
    // ---------------------------------------------------------------
    "q224_leakage_safe_split" -> { (s, dir) =>
      val hk = graft.functions.HexKeys
      val aware = dupClusterAssignments(s, dir)
        .withColumn("__hex",
          md5(concat(lit("csplit|"), col("cluster_id").cast(StringType))))
        .withColumn("split_bucket", (hk.value16(col("__hex")) % 100).cast(LongType))
        .withColumn("split",
          when(col("split_bucket") < 90, "train")
            .when(col("split_bucket") < 95, "validation")
            .otherwise("test"))
        .drop("__hex", "is_canonical")
      val naive = Tables(s, dir).documents
        .withColumn("__hex",
          md5(concat(lit("split|"), col("doc_id").cast(StringType))))
        .withColumn("__b", hk.value16(col("__hex")) % 100)
        .select(col("doc_id"),
          when(col("__b") < 90, "train").when(col("__b") < 95, "validation")
            .otherwise("test").as("naive_split"))
      val joined = aware.join(naive, "doc_id")
      val audit = joined.groupBy(col("cluster_id"))
        .agg(countDistinct(col("naive_split")).as("cluster_naive_splits"),
             countDistinct(col("split")).as("cluster_aware_splits"))
      joined.join(audit, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
                col("split_bucket"), col("split"), col("naive_split"),
                col("cluster_naive_splits"), col("cluster_aware_splits"),
                (col("cluster_naive_splits") > 1L && col("cluster_size") > 1L)
                  .as("leak_risk_naive"))
    },

    // q149: the SAME cluster assignment computed by large-star/small-star
    // contraction (Kiveris et al.) instead of q67's min-label propagation
    // — the O(log²)-round form that survives DEEP components (chain-
    // shaped near-dup drift makes min-label's O(diameter) loop unbounded
    // at corpus scale). Same edge set, same output contract, same DuckDB
    // reachability oracle as q67 — so the gate proves the two CC
    // algorithms are interchangeable on real mined pairs, not just on
    // the DedupSpec toy graphs.
    "q149_cc_star_contraction" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val comp = Dedup.connectedComponentsStars(
        d.select(col("doc_id").as("id")),
        dupEdges05(s, dir),
        "doc_a", "doc_b")
      Dedup.withClusterSize(
        comp.select(col("id").as("doc_id"), col("cluster_id")), "doc_id")
    },

    // q154: INCREMENTAL component maintenance — the q141/q145
    // build-once/serve-many split applied to cluster resolution. The
    // BASE half (even doc_ids) has its components computed once; when
    // the delta (odd ids) arrives, only the delta-touching edges run CC
    // — over the QUOTIENT graph (base components collapsed to their
    // min-id representative, the q132 discipline), so incremental work
    // is ∝ delta edges + affected components, never the full corpus.
    // Provably ≡ one-shot: star labels are component minima, so
    // min-over-reps = min-over-ids, and the gate is the SAME DuckDB
    // reachability oracle as q67/q149 — incremental must reproduce the
    // full-corpus clusters bit for bit.
    "q154_incremental_components" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      // consumed by both parity filters below
      val edges = graft.core.Materialize.cutLocal(dupEdges05(s, dir))
      val baseEdges = edges
        .filter(col("doc_a") % 2 === 0 && col("doc_b") % 2 === 0)
      val deltaEdges = edges
        .filter(col("doc_a") % 2 =!= 0 || col("doc_b") % 2 =!= 0)
      val baseComp = Dedup.connectedComponentsStars(
        d.filter(col("doc_id") % 2 === 0).select(col("doc_id").as("id")),
        baseEdges, "doc_a", "doc_b")
      // id → representative: base members carry their base label, delta
      // docs represent themselves
      val rep = graft.core.Materialize.cut(baseComp.unionByName(
        d.filter(col("doc_id") % 2 =!= 0)
          .select(col("doc_id").as("id"))
          .withColumn("cluster_id", col("id"))),
        "incremental_cc_rep")
      val mapped = deltaEdges
        .join(rep.select(col("id").as("doc_a"), col("cluster_id").as("rep_a")),
              Seq("doc_a"))
        .join(rep.select(col("id").as("doc_b"), col("cluster_id").as("rep_b")),
              Seq("doc_b"))
        .filter(col("rep_a") =!= col("rep_b"))
        .select(col("rep_a"), col("rep_b")).distinct()
      val qcc = Dedup.connectedComponentsStars(
        rep.select(col("cluster_id").as("id")).distinct(), mapped,
        "rep_a", "rep_b")
      val fin = rep.select(col("id").as("doc_id"), col("cluster_id").as("rep"))
        .join(qcc.select(col("id").as("rep"), col("cluster_id")), Seq("rep"))
      Dedup.withClusterSize(
        fin.select(col("doc_id"), col("cluster_id")), "doc_id")
    },

    // q155: cross-source duplication matrix — the dataset-card question
    // "which sources copy from each other" answered from the already-
    // mined duplicate edge set: every (exact ∪ Jaccard≥0.5) pair labeled
    // with its endpoints' sources and rolled up to an ordered source-
    // pair count. The overlap diagnostic read before choosing mixture
    // weights (double-counted content inflates a source's effective
    // weight). Scale: two broadcast-able id→source joins on a pair set
    // orders of magnitude smaller than the corpus, then one partial+
    // final agg to ≤|sources|² rows.
    "q155_source_dup_matrix" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val src = d.select(col("doc_id"), col("source"))
      dupEdges05(s, dir)
        .select(col("doc_a"), col("doc_b")).distinct()
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
              Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
              Seq("doc_b"))
        .select(least(col("sa"), col("sb")).as("source_a"),
                greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_dup_pairs"))
    },

    // Heaps'-law vocabulary-growth curve — the dataset-card companion to
    // q122's Zipf fit: how fast does DISTINCT vocab V grow with corpus
    // size N (V ≈ K·N^β, natural text β ≈ 0.4–0.6; a flattening curve
    // says "more data stops adding words" — templated/duplicated
    // corpora saturate early). Naive cumulative-distinct needs one
    // distinct aggregation PER checkpoint (8 corpus scans); the
    // first-occurrence trick needs ONE: bucket each doc into B=8
    // equal-width id ranges, aggregate (token, bucket) counts — a
    // single corpus explode collapsing to a vocab-bounded frame whose
    // shuffle both readouts REUSE (ReusedExchange, asserted in
    // PlanQualitySpec) — then V_k = Σ_{b≤k} |{tok : min-bucket = b}|
    // and N_k = Σ_{b≤k} tokens_b, cumulated by an 8-row window. The
    // Heaps fit is q122's Exact.logLogFit over the 8 (N_k, V_k) points. Bucketing is pure BIGINT math (doc_id·B div (max+1)) so
    // truncation == floor in both engines.
    "q162_heaps_law" -> { (s, dir) =>
      val d  = Tables(s, dir).documents
      val mx = d.agg(max(col("doc_id")).as("mx"))
      val tokB = d.crossJoin(broadcast(mx))
        .select(expr(s"CAST((doc_id * $HeapsBuckets) DIV (mx + 1) AS BIGINT) + 1").as("b"),
                explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("tok"), col("b")).agg(count(lit(1)).as("c"))
      // min(when(c >= 1, b)) — not plain min(b) — keeps the first-occurrence
      // readout anchored to the aggregated count column: with min(b) alone
      // Catalyst eliminates the (tok, b) aggregate from that branch and
      // re-explodes the corpus a second time; referencing c makes both
      // readouts consume the SAME (tok, b) exchange (ReusedExchange,
      // asserted in PlanQualitySpec).
      val perB = tokB.groupBy(col("b")).agg(sum(col("c")).as("nt"))
        .join(
          tokB.groupBy(col("tok"))
            .agg(min(when(col("c") >= 1, col("b"))).as("fb"))
            .groupBy(col("fb")).agg(count(lit(1)).as("nv"))
            .withColumnRenamed("fb", "b"),
          Seq("b"), "left")
        .select(col("b"), col("nt"), coalesce(col("nv"), lit(0L)).as("nv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.Macros.constPartition(col("b")))
        .orderBy(col("b"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val curve = perB
        .withColumn("cum_tokens", sum(col("nt")).over(w).cast(LongType))
        .withColumn("cum_vocab", sum(col("nv")).over(w).cast(LongType))
        .select(col("b").as("checkpoint"), col("cum_tokens"), col("cum_vocab"))
      val fit = Exact.logLogFit(curve, col("cum_tokens").cast(DoubleType),
                                col("cum_vocab").cast(DoubleType))
        .select(col("slope").as("heaps_beta"), col("intercept").as("heaps_log_k"))
      curve.crossJoin(broadcast(fit))
    },

    // KMV set-overlap estimation — the sketch answer to "how much
    // vocabulary do two sources share?" without ever joining their full
    // token sets: each source keeps only its k smallest distinct 32-bit
    // md5 prefixes (k-minimum-values, the q66 sketch), pairwise union
    // sketches come from merging two ≤k-element arrays (any hash in the
    // union's k minima is among some source's k minima, so the merge is
    // EXACT), and |A∩B| falls out of inclusion–exclusion
    // est(A) + est(B) − est(A∪B). The exact distinct-token overlap rides
    // along so the estimate is audited in the same result (q152's
    // "measure, don't guess" discipline). 100 TB shape: the corpus
    // explode collapses to a distinct (source, token) aggregate; the
    // k-min pick is the bounded TopKPairs heap (map-side ≤ k survivors
    // per source, never a per-source sort); pair arithmetic runs on
    // |sources|² rows of ≤ k-element arrays. Determinism: minima ride as
    // 8-hex-char strings (ASCII order == numeric order), the estimator
    // ((k−1)·2^32 / h_k) is one fixed-order double division from a
    // BIGINT decode both engines share.
    "q163_kmv_overlap" -> { (s, dir) =>
      import graft.functions.HexKeys
      val K  = KmvOverlapK
      val d  = Tables(s, dir).documents
      val st = d.select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      // distinct 32-bit prefixes per source (token-collision dedup BEFORE
      // the heap — KmvDistinct's TreeSet holds distinct hashes, not
      // distinct inputs), then the bounded k-min heap
      val kept = st.select(col("source"), substring(md5(col("tok")), 1, 8).as("h8"))
        .groupBy(col("source"), col("h8")).agg(count(lit(1)).as("ch"))
        .groupBy(col("source"))
        .agg(org.apache.spark.sql.graftx.TopKPairs.topK(col("h8"), col("ch"), K)
               .as("mins"))
        .select(col("source"),
                transform(col("mins"), m => m.getField("key")).as("keys"))
      val est128 = lit((K - 1).toDouble) * lit(4294967296.0)
      val per = kept
        .withColumn("cnt", size(col("keys")).cast(LongType))
        .withColumn("est",
          when(col("cnt") < K, col("cnt").cast(DoubleType))
            .otherwise(est128 /
              HexKeys.value32(element_at(col("keys"), K)).cast(DoubleType)))
      val u = per.select(col("source").as("source_a"), col("keys").as("ka"),
                         col("cnt").as("ca"), col("est").as("est_a"))
        .crossJoin(per.select(col("source").as("source_b"), col("keys").as("kb"),
                              col("cnt").as("cb"), col("est").as("est_b")))
        .filter(col("source_a") < col("source_b"))
        .withColumn("uall", array_distinct(concat(col("ka"), col("kb"))))
        .withColumn("est_union",
          when(col("ca") < K && col("cb") < K,
               size(col("uall")).cast(DoubleType))
            .otherwise(est128 /
              HexKeys.value32(element_at(array_sort(col("uall")), K))
                .cast(DoubleType)))
        .withColumn("est_intersect",
          greatest(col("est_a") + col("est_b") - col("est_union"), lit(0.0)))
      val exact = st.select(col("source").as("source_a"), col("tok"))
        .join(st.select(col("source").as("source_b"), col("tok")), Seq("tok"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("exact_overlap"))
      import Exact.q9
      u.join(exact, Seq("source_a", "source_b"))
        .select(col("source_a"), col("source_b"), col("exact_overlap"),
          q9(col("est_a")).as("est_a"), q9(col("est_b")).as("est_b"),
          q9(col("est_union")).as("est_union"),
          q9(col("est_intersect")).as("est_intersect"),
          q9((col("est_intersect") - col("exact_overlap").cast(DoubleType)) /
             col("exact_overlap").cast(DoubleType)).as("rel_err"))
    },

    // Quality-aware cluster resolution — keep the BEST copy, not the
    // first: near-dup clusters carry genuinely different texts (unlike
    // exact-dup groups, where every member scores identically and
    // min-id IS argmax), so the keeper should be each cluster's
    // highest-q33-quality member, not its smallest id. A
    // groupBy(cluster).agg(max(struct(score, −id))) resolves
    // argmax-with-tiebreak with map-side partials (the hot mega-cluster
    // collapses to one row per task BEFORE the exchange) and joins the
    // one-row-per-cluster winner back — never a window over the cluster
    // key, which would buffer the whole flooded cluster in ONE task.
    "q143_best_copy_dedup" -> { (s, dir) =>
      val clusters = dupClusterAssignments(s, dir)
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      val scored = Tables(s, dir).documents
        .select(col("doc_id"), qualityScore.as("quality_score"))
      // eagerly cut: `joined` feeds BOTH the per-cluster argmax and the
      // readout join below — uncut, each reference re-ran the corpus
      // qualityScore pass (tokenize + distinct + regexp per doc); the
      // frame is four narrow columns per doc
      val joined = graft.core.Materialize.cut(
        clusters.join(scored, Seq("doc_id")), "q143_scored_clusters")
      val best = joined.groupBy(col("cluster_id"))
        .agg(max(struct(col("quality_score"), (-col("doc_id")).as("negid"))).as("__best"))
      joined.join(best, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
                col("quality_score"),
                (-col("__best.negid")).as("best_id"),
                (col("doc_id") === -col("__best.negid")).as("is_kept"))
    },

    // Perceptual duplicate CLUSTERS: q127's banded dHash pairs closed
    // into transitive components (the q67 step applied to the image
    // modality — a re-encoded copy of a re-encoded copy still collapses
    // to one canonical), every media id labeled with its cluster's min
    // id, cluster size, and canonical flag.
    //
    // Byte-identical re-encodes (Hamming 0) dominate real image corpora,
    // so the components run on the exact-dHash quotient graph
    // ([[graft.operators.Dedup.hashQuotientClusters]]; sf0.1: 1.57M id
    // edges → ~2k rep edges).
    "q132_image_dup_clusters" -> { (s, dir) =>
      Dedup.hashQuotientClusters(dhashes(s, dir), "dhash", defs("q127_image_neardup")(s, dir))
    },

    // KMV distinct-count sketch: per-language distinct-token cardinality
    // estimated with the k-minimum-values sketch (graftx.KmvDistinct,
    // k=64) next to the exact count — mergeable O(k) state per group, and
    // (unlike HLL) deterministic enough that the ESTIMATE itself
    // hash-gates against the DuckDB oracle.
    "q66_kmv_distinct" -> { (s, dir) =>
      val d   = Tables(s, dir).documents
      val tok = d.select(col("lang"), explode(Text.tokens(col("text"))).as("token"))
      tok.groupBy(col("lang"))
        .agg(
          org.apache.spark.sql.graftx.KmvDistinct.kmvDistinct(col("token"), 64)
            .as("est_distinct_tokens"),
          countDistinct(col("token")).as("exact_distinct_tokens"))
    },

    // Multimodal plumbing, oracle-gated end to end: documents.text rides
    // as an opaque binary payload through the MediaRecord schema and the
    // batched per-partition extractor (Multimodal.extractFeatures); the
    // gate checks the bytes survived transport bit-exactly (content_hash
    // = md5 of utf8 payload), byte length, per-row modality routing, the
    // NEGATIVE decode path (text payloads decode in no modality: empty
    // feature, -1 dims), and content-hash dedup. q71/q101/q73/q104 gate
    // the positive decode paths.
    "q63_multimodal" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val media = graft.operators.Multimodal.asMediaTable(
        d, "doc_id", "text",
        element_at(array(lit("image"), lit("audio"), lit("video")),
                   (col("doc_id") % 3).cast("int") + 1))
      val feats = graft.operators.Multimodal.extractFeatures(media).toDF()
      val sel = feats.select(
          col("media_id"), col("modality"), col("n_bytes"), col("content_hash"),
          // text payloads are not decodable images: the decode columns
          // gate the NEGATIVE path here (-1 sentinels keep dtypes stable);
          // q71 gates the positive path on real PNGs
          col("is_decoded"),
          coalesce(col("image_width"), lit(-1L)).as("image_width"),
          coalesce(col("image_height"), lit(-1L)).as("image_height"),
          size(col("feature")).cast(LongType).as("feature_dims"))
      // content-hash dedup via the hot-key-safe groupBy+join-back — a
      // mirrored asset duplicated millions of times stays bounded
      // map-side instead of funneling one content_hash WindowExec task
      graft.operators.Dedup.attachCanonical(sel, "content_hash", "media_id")
        .withColumn("is_duplicate", col("media_id") =!= col("canonical_id"))
    },

    // REAL image decode, oracle-gated end to end: deterministic PNG
    // payloads generated from doc_id (Multimodal.syntheticPng) decode via
    // javax.imageio inside the batched extractor; PNG is lossless, so
    // width/height/channel means equal the id-derived constants the
    // oracle recomputes arithmetically.
    "q71_image_decode" -> { (s, dir) =>
      import s.implicits._
      val ids = Tables(s, dir).documents.select(col("doc_id")).as[Long]
      val media = ids.map(id => graft.operators.Multimodal.syntheticRecord(id, "image"))
      graft.operators.Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("is_decoded"),
                col("image_width"), col("image_height"),
                col("mean_r"), col("mean_g"), col("mean_b"))
    },

    // REAL audio decode, oracle-gated end to end: deterministic 16-bit
    // PCM WAVs (Multimodal.syntheticWav) parsed by the manual RIFF
    // decoder inside the batched extractor; PCM is lossless integer
    // storage, so rate/sample-count/mean-|amplitude| equal the
    // id-derived arithmetic the oracle recomputes. Closes the last
    // stubbed-codec modality (image q71, video frames q73, audio here).
    "q101_audio_decode" -> { (s, dir) =>
      import s.implicits._
      val ids = Tables(s, dir).documents.select(col("doc_id")).as[Long]
      val media = ids.map(id => graft.operators.Multimodal.syntheticRecord(id, "audio"))
      graft.operators.Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("is_decoded"),
                col("audio_sample_rate"), col("audio_n_samples"),
                col("audio_mean_amp"))
    },

    // REAL image resize, oracle-gated: synthetic PNGs rewritten to 4×3
    // via Graphics2D in the batched resizeAll op, then decoded back —
    // dims become the resize target and the constant color survives any
    // interpolation, so the means still equal the id-derived constants.
    "q72_image_resize" -> { (s, dir) =>
      import s.implicits._
      val ids = Tables(s, dir).documents.select(col("doc_id")).as[Long]
      val media = ids.map(id => graft.operators.Multimodal.syntheticRecord(id, "image"))
      val resized = graft.operators.Multimodal.resizeAll(media, 4, 3)
      graft.operators.Multimodal.extractFeatures(resized).toDF()
        .select(col("media_id"), col("is_decoded"),
                col("image_width"), col("image_height"),
                col("mean_r"), col("mean_g"), col("mean_b"))
    },

    // Frame sampling, oracle-gated: GVID containers of (doc_id%4)+2 PNG
    // frames; every 2nd frame decodes (real imageio) into its own row —
    // frame f of video id is syntheticPng(id·31+f), so the oracle
    // regenerates every sampled frame's dims/means arithmetically.
    "q73_frame_sample" -> { (s, dir) =>
      import s.implicits._
      val ids = Tables(s, dir).documents.select(col("doc_id")).as[Long]
      val media = ids.map(id => graft.operators.Multimodal.syntheticRecord(id, "video"))
      graft.operators.Multimodal.sampleFrames(media, every = 2).toDF()
    },

    // REAL media features, oracle-gated across all three modalities: the
    // q104 corpus routes each doc_id to a synthetic image / WAV / GVID
    // payload; the feature vector is computed from the DECODED content
    // (RGB histogram counts for image and per-frame-summed video, fixed
    // time-band |amplitude| sums for audio — all exact integers), then
    // exploded to (media_id, modality, dim, val) rows the oracle
    // recomputes arithmetically from the id. Closes the round-6 verdict's
    // last stub: feature is no longer derived from raw payload bytes.
    "q104_media_features" -> { (s, dir) =>
      import s.implicits._
      val ids = Tables(s, dir).documents.select(col("doc_id")).as[Long]
      // fully-qualified references only: an object-val alias would drag
      // the (non-serializable) module instance into the map closure
      val media = ids.map { id =>
        graft.operators.Multimodal.syntheticRecord(id, (id % 3) match {
          case 0 => "image"
          case 1 => "audio"
          case _ => "video"
        })
      }
      graft.operators.Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("modality"), posexplode(col("feature")))
        .select(col("media_id"), col("modality"),
                col("pos").cast(LongType).as("dim"),
                col("col").cast(LongType).as("val"))
    },

    // Perceptual image near-dup (the round-7 verdict's top missing
    // operator): multimodal dedup on dHash of DECODED pixels — q63's
    // content_hash only catches byte-identical payloads; re-encoded or
    // slightly-retouched images need a perceptual hash. Patterned PNG
    // fixtures (16 near-dup families, see Multimodal.syntheticPatternPng)
    // decode via real imageio; Multimodal.dHash64 block-reduces to a 9×8
    // luminance grid and hashes the horizontal gradients; candidate
    // generation is the q41 SimHash discipline — 8 bands × 8 bits, a pair
    // must agree on ≥1 full band, which by pigeonhole is EXACT recall for
    // Hamming ≤ 7 — so the plan is banded equi-join + distinct, never
    // all-pairs, and the corpus is scanned once (the 100 TB shape).
    // Output all-integer → hash-gates; the oracle recomputes every dHash
    // arithmetically from the id (PNG is lossless) and does the naive
    // quadratic join, so banding recall itself is what's being gated.
    "q127_image_neardup" -> { (s, dir) => dhashPairs(s, dir) },

    // Perceptual AUDIO near-dup (round-7 advice #8, the last modality
    // without a perceptual hash): family WAV fixtures (16 near-dup
    // families, see Multimodal.syntheticToneWav) decode through the real
    // RIFF/PCM parser; Multimodal.audioFingerprint64 reduces each clip to
    // 65 band-energy sums and hashes the envelope's up/down sequence;
    // candidate generation is q127's banded equi-join (8 bands × 8 bits —
    // pigeonhole-exact recall for Hamming ≤ 7). Output all-integer →
    // hash-gates; the oracle recomputes every fingerprint arithmetically
    // from the id (PCM is lossless integer storage) and does the naive
    // quadratic join, so banding recall itself is what's being gated.
    "q135_audio_neardup" -> { (s, dir) => audioPairs(s, dir) },

    // Perceptual AUDIO duplicate clusters — q132's quotient-graph
    // closure for the audio modality: q135's banded pairs close into
    // transitive components via min-label propagation over one
    // REPRESENTATIVE per exact fingerprint (500 ids → 177 distinct afps
    // at fixture density, so CC iterates over the quotient graph, not
    // the id graph — provably the same clusters).
    "q137_audio_dup_clusters" -> { (s, dir) =>
      Dedup.hashQuotientClusters(audioFps(s, dir), "afp", audioPairs(s, dir))
    },

    // Perceptual VIDEO near-dup — the sequence modality q127 (stills)
    // and q135 (audio) don't cover: two videos are near-dups when most
    // of their FRAMES match perceptually, robust to re-encoding and to
    // trims (a strict subsequence still matches). Frames decode for
    // real (GVID parse + imageio, the q73 path) to per-frame dHashes;
    // matching is an EXACT equi-join on the 64-bit frame hash — never
    // all-pairs, never Hamming-on-pairs: candidate pairs only exist
    // where two videos share a frame hash, and the pair readout is a
    // count aggregate over those matches. Containment =
    // |shared hashes| / min(|A|, |B|) ≥ 0.8, thresholded in INTEGER
    // arithmetic (n·10 ≥ 8·min). 100 TB shape: frame explode is
    // scan-local; the join key is a 64-bit hash (near-unique unless
    // content repeats — a black-frame-style hot key is the one skew
    // risk, handled the usual way: AQE skew split, or pre-drop
    // ubiquitous hashes the way stopwords are dropped). The synthetic
    // corpus (every 4th doc; patternFrameKey families) keeps families
    // ≤ 8 members so result size stays linear in the corpus.
    "q164_video_neardup" -> { (s, dir) =>
      import s.implicits._
      val idsDf = Tables(s, dir).documents
        .filter(col("doc_id") % 4 === 0)
        .select(expr("doc_id DIV 4").as("seq"))
      val base = Tables.spread(idsDf).as[Long]
      val fr0 = base.flatMap { seq =>
        graft.operators.Multimodal.videoFrames(
          graft.operators.Multimodal.syntheticPatternVideo(seq)).map { png =>
          (seq, graft.operators.Multimodal.dHash64(png)
            .getOrElse(sys.error(s"undecodable frame in video $seq")))
        }
      }.toDF("vid", "fh").distinct()
      // STOP-FRAME cap (round 15): a frame hash present in more than
      // [[VideoFrameDfCap]] videos is dropped BEFORE the match join and
      // the denominators — the black-frame/intro-card discipline this
      // query's scale note always documented, now enforced in-plan. The
      // full sf1 rehearsal surfaced why: the synthetic pattern generator's
      // dHash space saturates at ~12.5k videos, and without the cap the
      // equi-join degenerated toward all-pairs (15.85 M output rows,
      // 252 s — 20% of every possible pair "matched" through collided
      // hashes). At oracle density no hash approaches the cap, so the
      // sf0.01 gate hash is unchanged (re-verified).
      val dfh = fr0.groupBy(col("fh")).agg(count(lit(1)).as("__dfh"))
      val fr = fr0.join(dfh.filter(col("__dfh") <= VideoFrameDfCap), Seq("fh"))
        .select(col("vid"), col("fh"))
      val nd = fr.groupBy(col("vid")).agg(count(lit(1)).as("ndh"))
      val m = fr.select(col("vid").as("vid_a"), col("fh"))
        .join(fr.select(col("vid").as("vid_b"), col("fh")), Seq("fh"))
        .filter(col("vid_a") < col("vid_b"))
        .groupBy(col("vid_a"), col("vid_b")).agg(count(lit(1)).as("n_match"))
      m.join(nd.select(col("vid").as("vid_a"), col("ndh").as("nd_a")), Seq("vid_a"))
        .join(nd.select(col("vid").as("vid_b"), col("ndh").as("nd_b")), Seq("vid_b"))
        .filter(col("n_match") * 10 >= least(col("nd_a"), col("nd_b")) * 8)
        .select(col("vid_a"), col("vid_b"), col("n_match"),
          col("nd_a"), col("nd_b"),
          (col("n_match").cast(DoubleType) /
           least(col("nd_a"), col("nd_b")).cast(DoubleType)).as("containment"))
    },

    // Semi-structured extraction: JSON props → typed column, aggregated.
    "q39_json_extract" -> { (s, dir) =>
      val e = Tables(s, dir).events
      e.select(col("event_type"),
               get_json_object(col("props"), "$.k").cast(LongType).as("k_value"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("k_value")).as("k_sum"),
             (sum(col("k_value")).cast(DoubleType) / count(col("k_value")).cast(DoubleType))
               .as("k_avg"))
    })

  /** The q35 oracle body — exact trigram-Jaccard pairs at threshold 0.5,
    * shared verbatim by q35 and (as the truth derived table) q244.
    */
  private val jaccard05OracleSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)),
      |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS tg
      |  FROM documents),
      |ex AS (SELECT doc_id, CAST(len(tg) AS BIGINT) AS n_shingles, unnest(tg) AS shingle FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         a.n_shingles AS size_a, b.n_shingles AS size_b, COUNT(*) AS shared
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4)
      |SELECT doc_a, doc_b, shared,
      |  CAST(shared AS DOUBLE) / CAST(size_a + size_b - shared AS DOUBLE) AS jaccard
      |FROM pairs
      |WHERE CAST(shared AS DOUBLE) / CAST(size_a + size_b - shared AS DOUBLE) >= 0.5""".stripMargin

  /** The shared q36/q145/q152 CTE chain: shingles → md5 word pair →
    * K–M signatures → bands → candidate pairs. Parameterized by
    * (numHashes, rowsPerBand) so q199 can replay the chain at the
    * PLANNER-chosen banding; q36/q145/q152 keep the 8/2 default.
    */
  private def minhashCtesSql: String = minhashCtesSql(8, 2)
  private def minhashCtesSql(numHashes: Int, rowsPerBand: Int): String = {
      require(numHashes % rowsPerBand == 0, "bands must tile the signature")
      // h1/h2 = first/second 8 hex digits of md5(shingle) as integers —
      // the oracle restatement of MinHashSigs' big-endian digest words.
      def hexVal(start: Int): String = (0 until 8).map { j =>
        val ch = s"substring(hex, ${start + j}, 1)"
        val v  = s"(CASE WHEN ascii($ch) <= 57 THEN ascii($ch) - 48 ELSE ascii($ch) - 87 END)"
        s"CAST($v AS BIGINT) * ${1L << (4 * (7 - j))}"
      }.mkString(" + ")
      val sigCols = (0 until numHashes)
        .map(k => s"min((h1 + $k * h2) % 4294967296) AS sig_$k").mkString(",\n        |    ")
      // engine band hash: md5(concat_ws("|", sig casts)) — one UNION leg
      // per band, r signature components each
      val bandLegs = (0 until numHashes / rowsPerBand).map { b =>
        val concat = (b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(k => s"CAST(sig_$k AS VARCHAR)").mkString(" || '|' || ")
        if (b == 0) s"SELECT doc_id, 0 AS band_idx, md5($concat) AS band_hash FROM sigs"
        else s"UNION ALL SELECT doc_id, $b, md5($concat) FROM sigs"
      }.mkString("\n        |  ")
      s"""WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)),
        |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS tg
        |  FROM documents),
        |ex AS (SELECT doc_id, CAST(len(tg) AS BIGINT) AS n_shingles, unnest(tg) AS shingle FROM sh),
        |hx AS (SELECT doc_id, md5(shingle) AS hex FROM ex),
        |hv AS (SELECT doc_id, ${hexVal(1)} AS h1, ${hexVal(9)} AS h2 FROM hx),
        |sigs AS (
        |  SELECT doc_id,
        |    $sigCols
        |  FROM hv GROUP BY doc_id),
        |bands AS (
        |  $bandLegs),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)""".stripMargin
    }

  /** The q36/q145 oracle: full-corpus MinHash+LSH candidates with true
    * trigram Jaccard.
    */
  private def minhashLshOracleSql: String =
    s"""${minhashCtesSql}
      |SELECT c.doc_a, c.doc_b,
      |  CAST(len(list_intersect(sa.tg, sb.tg)) AS DOUBLE)
      |    / CAST(len(sa.tg) + len(sb.tg) - len(list_intersect(sa.tg, sb.tg)) AS DOUBLE) AS jaccard,
      |  CAST(len(list_intersect(sa.tg, sb.tg)) AS DOUBLE)
      |    / CAST(len(sa.tg) + len(sb.tg) - len(list_intersect(sa.tg, sb.tg)) AS DOUBLE) >= 0.5 AS is_near_dup
      |FROM cand c JOIN sh sa ON c.doc_a = sa.doc_id JOIN sh sb ON c.doc_b = sb.doc_id""".stripMargin

  /** q170's oracle: the q36 band chain with candidates restricted to
    * train × test per the q61 md5 split buckets, verified with exact
    * trigram Jaccard.
    */
  private def neardupDecontamOracleSql: String = {
    val bucket = s"(${graft.functions.HexKeys.value16Sql()} % 100)"
    val jac = "CAST(len(list_intersect(sa.tg, sb.tg)) AS DOUBLE) / " +
      "CAST(len(sa.tg) + len(sb.tg) - len(list_intersect(sa.tg, sb.tg)) AS DOUBLE)"
    s"""${minhashCtesSql},
      |spl AS (
      |  SELECT doc_id, $bucket AS bucket
      |  FROM (SELECT doc_id, md5('split|' || CAST(doc_id AS VARCHAR)) AS hex
      |        FROM documents)),
      |cd AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a
      |  JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
      |  JOIN spl pa ON pa.doc_id = a.doc_id
      |  JOIN spl pb ON pb.doc_id = b.doc_id
      |  WHERE pa.bucket < 95 AND pb.bucket >= 95)
      |SELECT cd.doc_a AS train_doc_id, cd.doc_b AS eval_doc_id,
      |  CAST(len(list_intersect(sa.tg, sb.tg)) AS BIGINT) AS shared,
      |  $jac AS jaccard,
      |  $jac >= 0.5 AS contaminated
      |FROM cd JOIN sh sa ON cd.doc_a = sa.doc_id
      |        JOIN sh sb ON cd.doc_b = sb.doc_id""".stripMargin
  }

  /** q152's oracle: the same candidate set, read out as signature-ESTIMATED
    * Jaccard (matching-component fraction) against the exact value.
    */
  private def minhashAccuracyOracleSql: String = {
    val nMatch = (0 until 8)
      .map(k => s"(CASE WHEN a.sig_$k = b.sig_$k THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""${minhashCtesSql}
      |SELECT c.doc_a, c.doc_b,
      |  CAST($nMatch AS BIGINT) AS n_matching,
      |  CAST($nMatch AS DOUBLE) / 8.0 AS est_jaccard,
      |  CAST(len(list_intersect(sa.tg, sb.tg)) AS DOUBLE)
      |    / CAST(len(sa.tg) + len(sb.tg) - len(list_intersect(sa.tg, sb.tg)) AS DOUBLE) AS jaccard,
      |  abs(CAST($nMatch AS DOUBLE) / 8.0 -
      |      CAST(len(list_intersect(sa.tg, sb.tg)) AS DOUBLE)
      |        / CAST(len(sa.tg) + len(sb.tg) - len(list_intersect(sa.tg, sb.tg)) AS DOUBLE))
      |    AS abs_err
      |FROM cand c
      |JOIN sigs a ON c.doc_a = a.doc_id
      |JOIN sigs b ON c.doc_b = b.doc_id
      |JOIN sh sa ON c.doc_a = sa.doc_id
      |JOIN sh sb ON c.doc_b = sb.doc_id""".stripMargin
  }

  /** The SQL replay of Sennrich's fit at `n` unrolled stages (q134 at 5,
    * q144 at 256): each stage a MATERIALIZED 1-row best-pair aggregation
    * over the previous tokenization (count DESC, pair ASC — the fit's
    * tie-break) plus a recursive leftmost-rewrite walk applying that
    * merge to fixpoint (docs exit the walk when the pattern no longer
    * occurs; single-merge fixpoint ≡ the one-pass greedy fold, because a
    * rewrite can never create a match to its left). Merge operands can
    * be merged tokens from earlier stages, so the rewrite pattern
    * regex-escapes '+'; MATERIALIZED stops DuckDB re-inlining each stage
    * per reference (the q121 lesson).
    */
  private def bpeFitReplaySql(n: Int): String = {
    val stages = (1 to n).map { k =>
      val prev = s"t${k - 1}"
      s"""m$k AS MATERIALIZED (
         |  SELECT a, b FROM (
         |    SELECT toks[i] AS a, toks[i + 1] AS b, count(*) AS cnt
         |    FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
         |          FROM (SELECT string_split(trim(s), ' ') AS toks FROM $prev)
         |          WHERE len(toks) >= 2)
         |    GROUP BY 1, 2)
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |walk$k AS (
         |  SELECT doc_id, s FROM $prev
         |  UNION ALL
         |  SELECT doc_id,
         |    regexp_replace(s,
         |      ' ' || replace((SELECT a FROM m$k), '+', '\\+') || ' ' ||
         |             replace((SELECT b FROM m$k), '+', '\\+') || ' ',
         |      ' ' || (SELECT a FROM m$k) || '+' || (SELECT b FROM m$k) || ' ')
         |  FROM walk$k
         |  WHERE contains(s, ' ' || (SELECT a FROM m$k) || ' ' || (SELECT b FROM m$k) || ' ')),
         |t$k AS MATERIALIZED (
         |  SELECT doc_id, s FROM walk$k
         |  WHERE NOT contains(s, ' ' || (SELECT a FROM m$k) || ' ' || (SELECT b FROM m$k) || ' '))""".stripMargin
    }
    s"""WITH RECURSIVE t0 AS MATERIALIZED (
       |  SELECT doc_id,
       |    ' ' || trim(regexp_replace(text, ' +', ' ', 'g')) || ' ' AS s
       |  FROM documents),
       |${stages.mkString(",\n")}
       |SELECT doc_id,
       |  CAST(CASE WHEN trim(s) = '' THEN 0
       |            ELSE len(string_split(trim(s), ' ')) END AS BIGINT) AS n_tokens_after,
       |  CAST(len(list_filter(string_split(trim(s), ' '), x -> contains(x, '+'))) AS BIGINT)
       |    AS n_merged_tokens,
       |  md5(trim(s)) AS tokens_hash
       |FROM t$n""".stripMargin
  }

  /** The SQL replay of the BATCHED fit at `rounds` stages of up to
    * `batch` merges each (q210): per stage, (1) the top-`batch` pair
    * candidates under the fit's exact (cnt DESC, a, b) order with dense
    * candidate ranks; (2) a recursive greedy token-disjoint selection
    * walk over the rank order — a candidate is picked iff neither token
    * appears in the accumulated used-token list, precisely
    * [[graft.operators.Bpe.disjointBatch]]; (3) ONE apply walk per doc
    * that iterates the picked merges in selection order, rewriting each
    * to leftmost-fixpoint before advancing (single-merge fixpoint ≡ the
    * greedy one-pass fold, q144's argument; batch members are
    * token-disjoint so the apply order cannot matter). The walk state is
    * (doc_id, s, merge_index); a doc exits when its index passes the
    * picked count. MATERIALIZED stops DuckDB re-inlining stages (the
    * q121 lesson).
    */
  private def bpeBatchedReplaySql(rounds: Int, batch: Int): String = {
    val stages = (1 to rounds).map { k =>
      val prev = s"t${k - 1}"
      s"""p$k AS MATERIALIZED (
         |  SELECT a, b, row_number() OVER (ORDER BY cnt DESC, a, b) AS rn
         |  FROM (
         |    SELECT toks[i] AS a, toks[i + 1] AS b, count(*) AS cnt
         |    FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
         |          FROM (SELECT string_split(trim(s), ' ') AS toks FROM $prev)
         |          WHERE len(toks) >= 2)
         |    GROUP BY 1, 2)
         |  ORDER BY cnt DESC, a, b LIMIT $batch),
         |sel$k AS (
         |  SELECT rn, a, b, [a, b] AS used, true AS picked
         |  FROM p$k WHERE rn = 1
         |  UNION ALL
         |  SELECT c.rn, c.a, c.b,
         |    CASE WHEN list_contains(s.used, c.a) OR list_contains(s.used, c.b)
         |         THEN s.used ELSE list_concat(s.used, [c.a, c.b]) END,
         |    NOT (list_contains(s.used, c.a) OR list_contains(s.used, c.b))
         |  FROM sel$k s JOIN p$k c ON c.rn = s.rn + 1),
         |pk$k AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY rn) AS mi, a, b
         |  FROM sel$k WHERE picked),
         |walk$k AS (
         |  SELECT doc_id, s, CAST(1 AS BIGINT) AS mi FROM $prev
         |  UNION ALL
         |  SELECT w.doc_id,
         |    CASE WHEN contains(w.s, ' ' || p.a || ' ' || p.b || ' ')
         |         THEN regexp_replace(w.s,
         |                ' ' || replace(p.a, '+', '\\+') || ' ' ||
         |                       replace(p.b, '+', '\\+') || ' ',
         |                ' ' || p.a || '+' || p.b || ' ')
         |         ELSE w.s END,
         |    CASE WHEN contains(w.s, ' ' || p.a || ' ' || p.b || ' ')
         |         THEN w.mi ELSE w.mi + 1 END
         |  FROM walk$k w JOIN pk$k p ON p.mi = w.mi),
         |t$k AS MATERIALIZED (
         |  SELECT doc_id, s FROM walk$k
         |  WHERE mi = (SELECT coalesce(max(mi), 0) FROM pk$k) + 1)""".stripMargin
    }
    s"""WITH RECURSIVE t0 AS MATERIALIZED (
       |  SELECT doc_id,
       |    ' ' || trim(regexp_replace(text, ' +', ' ', 'g')) || ' ' AS s
       |  FROM documents),
       |${stages.mkString(",\n")}
       |SELECT doc_id,
       |  CAST(CASE WHEN trim(s) = '' THEN 0
       |            ELSE len(string_split(trim(s), ' ')) END AS BIGINT) AS n_tokens_after,
       |  CAST(len(list_filter(string_split(trim(s), ' '), x -> contains(x, '+'))) AS BIGINT)
       |    AS n_merged_tokens,
       |  md5(trim(s)) AS tokens_hash
       |FROM t$rounds""".stripMargin
  }

  /** The `ex/hx/sums/sh` CTE chain computing the 64-bit packed simhash
    * per document — `Dedup.simhash`'s exact SQL twin (trigram shingles,
    * md5 bit features, sign-of-sum packing; bit 0 is the sign bit, so
    * its literal is the min-long expression — DuckDB rejects 1 << 63 as
    * overflow). Shared by the q41 banding oracle and the q213
    * sorted-neighborhood oracle so the two screens are pinned to ONE
    * fingerprint definition.
    */
  private def simhash64CtesSql: String = {
    val bitSums = (0 until 64).map { b =>
      val ch = s"substring(hex, ${b / 4 + 1}, 1)"
      val v  = s"(CASE WHEN ascii($ch) <= 57 THEN ascii($ch) - 48 ELSE ascii($ch) - 87 END)"
      s"SUM((($v >> ${3 - b % 4}) % 2) * 2 - 1) AS s_$b"
    }.mkString(",\n        ")
    val packed = (0 until 64).map { b =>
      val bitLit = if (b == 0) "(-9223372036854775807 - 1)" else s"${1L << (63 - b)}"
      s"(CASE WHEN s_$b >= 0 THEN $bitLit ELSE 0 END)"
    }.mkString(" | ")
    s"""ex AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)),
       |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))) AS token
       |  FROM documents),
       |hx AS (SELECT doc_id, md5(token) AS hex FROM ex),
       |sums AS (
       |  SELECT doc_id,
       |        $bitSums
       |  FROM hx GROUP BY doc_id),
       |sh AS (SELECT doc_id, $packed AS simhash FROM sums)""".stripMargin
  }

  /** q151's oracle: the SAME staged fit replay, read out as corpus-level
    * stats at several vocabulary checkpoints (t0 / t64 / ... are the
    * corpus after that many merges — exactly `Bpe.tokenize(_, merges
    * .take(V))` by fold associativity).
    */
  private def bpeCoverageSql(n: Int, checkpoints: Seq[Int]): String = {
    require(checkpoints.forall(v => v >= 0 && v <= n))
    def sel(v: Int): String =
      s"""SELECT CAST($v AS BIGINT) AS vocab_checkpoint,
         |  base.n_base_tokens, st.n_tokens_after, st.n_merged_tokens, vs.vocab_size,
         |  CAST(st.n_tokens_after AS DOUBLE) / CAST(base.n_base_tokens AS DOUBLE)
         |    AS compression_ratio
         |FROM
         |  (SELECT
         |     CAST(sum(CASE WHEN trim(s) = '' THEN 0
         |              ELSE len(string_split(trim(s), ' ')) END) AS BIGINT)
         |       AS n_tokens_after,
         |     CAST(sum(len(list_filter(string_split(trim(s), ' '),
         |                              x -> contains(x, '+')))) AS BIGINT)
         |       AS n_merged_tokens
         |   FROM t$v) st,
         |  (SELECT CAST(count(DISTINCT x) AS BIGINT) AS vocab_size
         |   FROM (SELECT unnest(string_split(trim(s), ' ')) AS x
         |         FROM t$v WHERE trim(s) <> '')) vs,
         |  (SELECT CAST(sum(CASE WHEN trim(s) = '' THEN 0
         |                   ELSE len(string_split(trim(s), ' ')) END) AS BIGINT)
         |       AS n_base_tokens
         |   FROM t0) base""".stripMargin
    // Reuse bpeFitReplaySql's CTE chain by splitting off its final SELECT
    // (the only UNINDENTED "SELECT doc_id," — every CTE-internal select is
    // indented by the template).
    val full = bpeFitReplaySql(n)
    val cut = full.lastIndexOf("\nSELECT doc_id,")
    require(cut > 0, "bpeFitReplaySql shape changed; update bpeCoverageSql")
    s"""${full.substring(0, cut)}
       |${checkpoints.map(sel).mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** q134's fitted merge table, fitted once per (session, dir). */
  private val bpeFitCache = new Artifact[Seq[(String, String)]]("bpe_fit")

  /** q144's 256-merge delta-fit table, fitted once per (session, dir). */
  private val bpeDeltaFitCache = new Artifact[Seq[(String, String)]]("bpe_fit_delta")

  /** q210's batched (batch=16) 256-merge fit, fitted once per
    * (session, dir) — memoized separately from q144's sequential fit so
    * the two algorithm paths are independently exercised and timed.
    */
  private val bpeBatchedFitCache = new Artifact[Seq[(String, String)]]("bpe_fit_batched")

  /** The documents under `merges` through the one corpus apply
    * ([[Bpe.applyCorpus]]), spread first: the per-row work is multiplied
    * by the merge count.
    */
  private def bpeApplied(d: DataFrame, merges: Seq[(String, String)]): DataFrame =
    Bpe.applyCorpus(Tables.spread(d.select(col("doc_id"), col("text").cast(StringType))), merges)

  /** The decoded (media_id, dhash) frame, hashed once per (session, dir)
    * — consumed by the q127 pair miner AND q132's quotient-graph cluster
    * resolution; the per-row PNG decode should never run twice.
    */
  private val dhashCache = new Artifact[DataFrame]("dhash_frame")
  private def dhashes(s: SparkSession, dir: String): DataFrame =
    dhashCache.cut(s, dir)(mediaHashes(s, dir, "dhash", "PNG") { id =>
      graft.operators.Multimodal.dHash64(graft.operators.Multimodal.syntheticPatternPng(id))
    })

  /** (media_id, `hashCol`): every document id's synthetic media item
    * decoded and hashed to 64 bits by `hash`, failing loudly on an item
    * that does not decode (`kind` names it). The map multiplies work per
    * row (encode + decode, ~ms/row), so the id rows are spread first.
    */
  private def mediaHashes(s: SparkSession, dir: String, hashCol: String, kind: String)(
      hash: Long => Option[Long]): DataFrame = {
    import s.implicits._
    val ids = Tables.spread(Tables(s, dir).documents.select(col("doc_id"))).as[Long]
    ids.map { id =>
      (id, hash(id).getOrElse(sys.error(s"undecodable synthetic $kind for id $id")))
    }.toDF("media_id", hashCol)
  }

  /** The q127 dHash pair miner, mined once per (session, dir) — the
    * jaccard05 memo discipline: q127 itself and q132's cluster
    * resolution both consume the pairs, and the banded join should never
    * run twice because two queries need its output. Eagerly
    * checkpointed (same CLUSTER CAVEAT as [[jaccard05]]).
    */
  private val dhashPairCache = new Artifact[DataFrame]("dhash_pairs")
  private def dhashPairs(s: SparkSession, dir: String): DataFrame =
    dhashPairCache.cut(s, dir)(dhashPairsPlan(s, dir))

  /** The LAZY banded-join mining plan (no memo, no checkpoint) — exposed
    * so PlanQualitySpec can assert the banded equi-join shape that the
    * shipped memoized form hides behind its checkpoint scan (the
    * jaccardQuery materialize=false discipline).
    */
  def dhashPairsPlan(s: SparkSession, dir: String): DataFrame =
    banded64Pairs(dhashes(s, dir), "dhash")

  /** Banded-Hamming pair miner over any 64-bit perceptual hash frame
    * (media_id, `hashCol`): 8 bands × 8 bits — a pair within Hamming ≤ 7
    * must agree on ≥1 full band (pigeonhole: EXACT recall at the
    * threshold), so candidates come from a banded equi-join + distinct,
    * never all-pairs, and the corpus is scanned once (the 100 TB shape
    * shared by q127 image dHash and q135 audio fingerprints).
    */
  private def banded64Pairs(hashes: DataFrame, hashCol: String): DataFrame = {
      val bandStructs = (0 until 8).map { b =>
        struct(lit(b).as("band"),
               shiftrightunsigned(col(hashCol), b * 8).bitwiseAND(lit(255L)).as("bval"))
      }
      val bands = hashes
        .select(col("media_id"), col(hashCol), explode(array(bandStructs: _*)).as("bd"))
        .select(col("media_id"), col(hashCol),
                col("bd.band").as("band"), col("bd.bval").as("bval"))
      val lhs = bands.select(col("media_id").as("id_a"), col(hashCol).as("ha"),
                             col("band"), col("bval"))
      val rhs = bands.select(col("media_id").as("id_b"), col(hashCol).as("hb"),
                             col("band"), col("bval"))
      lhs.join(rhs, Seq("band", "bval"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("ha"), col("hb"))
        .distinct()
        .select(col("id_a"), col("id_b"),
                expr("bit_count(ha ^ hb)").cast(LongType).as("hamming"))
        .filter(col("hamming") <= 7)
  }

  /** The decoded (media_id, afp) audio-fingerprint frame, hashed once per
    * (session, dir) — the audio twin of [[dhashes]] (same spread guard,
    * same memo discipline).
    */
  private val afpCache = new Artifact[DataFrame]("afp_frame")
  private def audioFps(s: SparkSession, dir: String): DataFrame =
    afpCache.cut(s, dir)(mediaHashes(s, dir, "afp", "WAV") { id =>
      graft.operators.Multimodal.audioFingerprint64(graft.operators.Multimodal.syntheticToneWav(id))
    })

  /** The q135 audio-fingerprint pair miner, mined once per (session, dir)
    * — the [[dhashPairs]] memo discipline (same CLUSTER CAVEAT as
    * [[jaccard05]]).
    */
  private val afpPairCache = new Artifact[DataFrame]("afp_pairs")
  private def audioPairs(s: SparkSession, dir: String): DataFrame =
    afpPairCache.cut(s, dir)(audioPairsPlan(s, dir))

  /** The LAZY q135 mining plan — exposed for PlanQualitySpec, like
    * [[dhashPairsPlan]].
    */
  def audioPairsPlan(s: SparkSession, dir: String): DataFrame =
    banded64Pairs(audioFps(s, dir), "afp")

  /** q206's DF-capped winnow-fingerprint postings (the MOSS match index)
    * — corpus-fitted, memoized per (session, dir); see the q206 def.
    */
  private val winnowRareCache = new Artifact[DataFrame]("winnow_rare")

  /** Memoized exact-dup STAR edges (canonical → member, the
    * `Dedup.exact(...).filter(is_duplicate)` pair set) — corpus-fitted,
    * shared by seven sites (q149 q154 q155 q247 q263 + the q67-cluster
    * and canonical-set builds), so the md5 + groupBy + join-back corpus
    * pass runs once per session. The q34 gated entry (which reports ALL
    * rows, not just edges) stays uncached.
    */
  private val exactEdgeCache = new Artifact[DataFrame]("exact_dup_edges")
  private[graft] def exactDupEdges(s: SparkSession, dir: String): DataFrame =
    exactEdgeCache.cut(s, dir)(
      Dedup.exact(Tables(s, dir).documents, "doc_id", "text")
        .filter(col("is_duplicate"))
        .select(col("canonical_id").as("doc_a"), col("doc_id").as("doc_b")))

  /** The standard q67 dup-edge set (exact stars ∪ Jaccard≥0.5 pairs)
    * assembled from the two memoized pair tables — what
    * `Dedup.dupEdges` mines, without re-mining either side.
    */
  private[graft] def dupEdges05(s: SparkSession, dir: String): DataFrame =
    exactDupEdges(s, dir).union(
      jaccard05(s, dir).select(col("doc_a"), col("doc_b")))

  /** Verified Jaccard pairs at threshold 0.5, mined once per
    * (session, dir) — Dedup.jaccardPairs returns a shared-state
    * [[graft.core.Materialize.cut]], so the artifact holds materialized
    * pairs, not a live cache, and follows the durability conf.
    */
  private val jacCache = new Artifact[DataFrame]("jaccard05_pairs")
  private def jaccard05(s: SparkSession, dir: String): DataFrame =
    jacCache(s, dir)(
      Dedup.jaccardPairs(Tables(s, dir).documents, "doc_id", "text", threshold = 0.5))

  /** The q67 transitive dup-cluster ASSIGNMENT (doc_id, cluster_id,
    * cluster_size, is_canonical): exact-dup star edges + memoized
    * Jaccard≥0.5 pairs closed by min-label connected components.
    * One definition for the gated entry and the memo below.
    */
  private def q67Clusters(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    val comp = Dedup.connectedComponents(
      d.select(col("doc_id").as("id")),
      dupEdges05(s, dir),
      "doc_a", "doc_b")
    Dedup.withClusterSize(
      comp.select(col("id").as("doc_id"), col("cluster_id")), "doc_id")
  }

  /** Memoized q67 cluster-assignment frame — corpus-FITTED state: nine
    * gated consumers (q143 q207 q219 q224 q231 q236 q237 q240 q241)
    * compose the q67 clusters, so the exact-dup mining pass and the
    * eager min-label CC loop run once per session. A dedup pipeline
    * materializes its cluster table once per corpus; consumers read it.
    * The gated q67 entry itself stays UNCACHED (it is the query under
    * test). Eagerly cut: four narrow columns per doc, so consumers'
    * plans read a checkpointed frame instead of re-expanding the mining
    * subtree.
    */
  private val clusterCache = new Artifact[DataFrame]("q67_clusters")
  private[graft] def dupClusterAssignments(s: SparkSession, dir: String): DataFrame =
    clusterCache.cut(s, dir)(q67Clusters(s, dir))

  /** Shipped q35/q36/q41, parameterized on `materialize` so plan-inspection
    * callers (PlanDump) dump the LAZY form of the exact shipped query
    * instead of hand-mirroring it (which silently drifts when the shipped
    * projection changes). materialize=true is the shipped/memoized path;
    * materialize=false builds the same plan without running the eager
    * mining job.
    */
  def jaccardQuery(s: SparkSession, dir: String, materialize: Boolean = true): DataFrame =
    if (materialize) jaccard05(s, dir)
    else Dedup.jaccardPairs(Tables(s, dir).documents, "doc_id", "text",
                            threshold = 0.5, materialize = false)

  /** The q174 planner's argmin replayed in plain Scala doubles — the
    * same IEEE square-chains and 1e12 quantization the codegen'd plan
    * runs, so the result provably matches q174's `is_best` row (TextSpec
    * pins it). Needed because q199's oracle SQL is a static string: the
    * planner is a pure function of its constant grid (corpus-independent
    * by design — it models collision probability, not data), so the
    * chosen (bands, rowsPerBand) can be computed at class init and
    * embedded in BOTH the Spark plan and the DuckDB restatement.
    */
  private[graft] lazy val plannedLsh: (Int, Int) = {
    val n = 200
    def chain(x: Double, k: Int): Double = {
      var v = x; var p = 1
      while (p < k) { v = v * v; p *= 2 }
      v
    }
    val scored = for (b <- Seq(1, 2, 4, 8, 16); r <- Seq(1, 2, 4, 8)) yield {
      var fp = 0L; var fn = 0L
      var i = 0
      while (i < n) {
        val s    = (i + 0.5) / n
        val coll = 1.0 - chain(1.0 - chain(s, r), b)
        val qp   = math.floor(coll * 1e12).toLong
        if (i < n / 2) fp += qp else fn += 1000000000000L - qp
        i += 1
      }
      (b, r, b * r, fp + 10L * fn)
    }
    val best = scored.filter(_._3 <= 16)
      .minBy { case (_, r, sig, cost) => (cost, sig, -r) }
    (best._1, best._2)
  }

  /** q199: the q174 planner DRIVING the miner — mining at the planned
    * (bands, rowsPerBand) instead of q36's hand-picked 8/2. Same verify
    * semantics as q36 on the resulting candidates; the planned banding
    * rides along so the output is self-describing.
    */
  def plannedMinhashQuery(s: SparkSession, dir: String): DataFrame = {
    val (bands, r) = plannedLsh
    val k = bands * r
    val d = Tables(s, dir).documents
    val bandsDf = Dedup.lshBands(
      Dedup.minhashSignatures(d, "doc_id", "text", numHashes = k),
      numHashes = k, rowsPerBand = r)
    val a = bandsDf.select(col("doc_id").as("doc_a"), col("band_idx"), col("band_hash"))
    val b = bandsDf.select(col("doc_id").as("doc_b"), col("band_idx"), col("band_hash"))
    val cand = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    Dedup.verifyPairs(cand, Dedup.shingled(d, "doc_id", "text"), threshold = 0.0)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
              (col("jaccard") >= 0.5).as("is_near_dup"),
              lit(bands.toLong).as("n_bands"),
              lit(r.toLong).as("rows_per_band"))
  }

  def minhashQuery(s: SparkSession, dir: String, materialize: Boolean = true): DataFrame = {
    val d    = Tables(s, dir).documents
    val cand = Dedup.minhashCandidates(d, "doc_id", "text",
      numHashes = 8, rowsPerBand = 2, materialize = materialize)
    Dedup.verifyPairs(cand, Dedup.shingled(d, "doc_id", "text"), threshold = 0.0)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
              (col("jaccard") >= 0.5).as("is_near_dup"))
  }

  /** The persisted-LSH-index mart contract (q139's discipline applied to
    * q145): band frame schema exactly, all columns non-null, and one row
    * per (doc_id, band_idx) — a duplicated band row would double-emit
    * candidate pairs on every probe.
    */
  val LshIndexContract: graft.model.Contract = graft.model.Contract(
    schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("band_idx",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("band_hash",
        org.apache.spark.sql.types.StringType))),
    notNull = Seq("doc_id", "band_idx", "band_hash"),
    uniqueKeys = Seq(Seq("doc_id", "band_idx")))

  /** The q145 persisted band index: bands of the BASE half (even
    * doc_ids), materialized once per (session, dir) as a
    * band_hash-bucketed warehouse table (q139's memo discipline).
    */
  private val lshIdxCache = new Artifact[DataFrame]("q145_lsh_index")
  private def lshIndex(s: SparkSession, dir: String): DataFrame =
    lshIdxCache.table(s, dir, Some(LshIndexContract))(
        graft.sources.Warehouse.writeBucketed(_, _, "band_hash", numBuckets = 16)) {
      val base = Tables(s, dir).documents.filter(col("doc_id") % 2 === 0)
      Dedup.lshBands(Dedup.minhashSignatures(base, "doc_id", "text"))
    }

  /** The delta batch's band frame, collected ONCE to the driver
    * (4 bands/doc — delta-batch-bounded, the q139 probe discipline) and
    * re-localized, so the SAME collect feeds both the bucket-pruning IN
    * filter and the probe join's broadcast side.
    */
  private def lshDeltaLocal(s: SparkSession, dir: String,
                            deltaPred: Column): DataFrame = {
    val delta = Tables(s, dir).documents.filter(deltaPred)
    val bands = Dedup.lshBands(Dedup.minhashSignatures(delta, "doc_id", "text"))
    import scala.jdk.CollectionConverters._
    s.createDataFrame(bands.collect().toList.asJava, bands.schema)
  }

  /** Delta×base candidates: probe the persisted index with the delta's
    * band keys. The IN filter on the bucket column prunes the scan to
    * only the buckets holding a probed hash; the delta side broadcasts.
    * Exposed for PlanQualitySpec (single-doc probe → ≤ 4 of 16 buckets).
    */
  def lshProbe(s: SparkSession, dir: String, deltaPred: Column): DataFrame =
    lshProbeWith(s, dir, lshDeltaLocal(s, dir, deltaPred))

  private def lshProbeWith(s: SparkSession, dir: String,
                           local: DataFrame): DataFrame = {
    val hashes = local.select(col("band_hash")).collect().map(_.getString(0)).distinct.toSeq
    if (hashes.isEmpty)
      return local.select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b")).limit(0)
    // Literal bucket pruning pays only for SMALL probe batches (the
    // operational serving case — a delta micro-batch): a 10k-literal IN
    // list costs seconds of per-query planning for a filter the hash
    // join applies anyway. Above the threshold the probe rides the
    // plain bucketed equi-join (same rows, no literal blowup).
    val probed =
      if (hashes.size <= 1024)
        lshIndex(s, dir).filter(col("band_hash").isin(hashes: _*))
      else lshIndex(s, dir)
    probed
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b"))
      .join(broadcast(local.select(col("band_idx"), col("band_hash"),
                                   col("doc_id").as("doc_a"))),
            Seq("band_idx", "band_hash"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
              greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct()
  }

  /** q145 end to end: base×base from the index self-join (bucketed on
    * band_hash — HashPartitioning(band_hash) satisfies the
    * (band_idx, band_hash) clustering, so neither side shuffles),
    * delta×base from the bucket-pruned probe, delta×delta from the
    * localized band frame, unioned and verified exactly like q36.
    */
  def lshServeIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    val idx = lshIndex(s, dir)
    val baseBase = idx
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
      .join(idx.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b")),
            Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val local = lshDeltaLocal(s, dir, col("doc_id") % 2 === 1)
    val deltaBase = lshProbeWith(s, dir, local)
    val deltaDelta = local
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
      .join(local.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b")),
            Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val cand = baseBase.unionByName(deltaBase).unionByName(deltaDelta).distinct()
    Dedup.verifyPairs(cand, Dedup.shingled(d, "doc_id", "text"), threshold = 0.0)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
              (col("jaccard") >= 0.5).as("is_near_dup"))
  }

  def simhashQuery(s: SparkSession, dir: String, materialize: Boolean = true): DataFrame =
    Dedup.simhashPairs(Tables(s, dir).documents, "doc_id", "text",
                       maxHamming = 3, materialize = materialize)

  /** q213/q214's distinct simhash VALUE frame, fingerprinted once per
    * (session, dir) and eagerly cut — the corpus shingle+md5 pass
    * behind the SNM screen must not re-run for the screen, its quantile
    * boundary scan, and the recall audit separately.
    */
  private val snmValsCache = new Artifact[DataFrame]("snm_vals")
  private def snmVals(s: SparkSession, dir: String): DataFrame =
    snmValsCache.cut(s, dir)(
      graft.operators.Dedup.simhashVals(Tables(s, dir).documents, "doc_id", "text"))

  /** A duplicated (rot, k) row would double-count ranks and shift every
    * window downstream of it — enforced before the write.
    */
  private val SnmKeysContract: graft.model.Contract = graft.model.Contract(
    schema = StructType(Seq(
      StructField("rot", IntegerType, nullable = false),
      StructField("k", StringType),
      StructField("h", StringType),
      StructField("__b", LongType))),
    notNull = Seq("rot", "k", "h", "__b"),
    uniqueKeys = Seq(Seq("rot", "k")))

  /** The q215 persisted SNM index: the BASE half's (q61 md5 bucket < 50)
    * distinct simhash values with their per-rotation sorted keys, range
    * bucket ids, per-bucket counts, and the quantile bounds themselves —
    * built once per (session, dir), keys bucketed by `__b` so a delta
    * probe reads ONLY the halo buckets it touches (the q145 IN-filter
    * discipline). The bounds ride in a 1-row table: the probe must
    * assign delta keys with the EXACT build-time bucketing, and
    * re-deriving quantiles at probe time would silently shift buckets.
    */
  private val snmIdxCache = new Artifact[DataFrame]("q215_snm_index")
  private[graft] def snmIndex(s: SparkSession, dir: String): DataFrame = {
    // lazy: a memo hit builds none of them
    lazy val baseVals = graft.core.Materialize.cut(
      graft.operators.Dedup.simhashVals(Tables(s, dir).documents.filter(
        graft.functions.HexKeys.value16(
          md5(concat(lit("split|"), col("doc_id").cast(StringType)))) % 100 < 50),
        "doc_id", "text"),
      "snm_idx_vals")
    lazy val keys = graft.operators.Dedup.snmKeys(baseVals, SnmRotations)
      .withColumn("__proxy", graft.operators.Dedup.snmProxy(col("k")))
    lazy val bounds = graft.operators.Sharding.boundaries(keys, "__proxy", 32)
    def side(part: String) = snmIdxCache.tableName(s, dir, part)
    snmIdxCache.table(s, dir, Some(SnmKeysContract)) { (keyed, keysT) =>
      graft.sources.Warehouse.writeTable(baseVals, side("vals"))
      // PARTITIONED (not bucketed) by __b: the probe is a scan-only
      // consumer (filter → union → window), for which the planner
      // disables bucketed reading entirely ("Bucketed: false") and
      // bucket pruning with it — directory pruning via PartitionFilters
      // is planner-independent, and __b has ≤ 33 values
      graft.sources.Warehouse.writePartitionedTable(keyed, keysT, "__b")
      graft.sources.Warehouse.writeTable(
        keyed.groupBy(col("rot"), col("__b")).agg(count(lit(1)).as("__n")), side("counts"))
      graft.sources.Warehouse.writeTable(
        s.range(1).select(typedLit(bounds.toSeq).as("bounds")), side("bounds"))
    } {
      keys
        .withColumn("__b", graft.operators.Dedup
          .snmBucketOf(bounds, col("__proxy")).cast(LongType))
        .select(col("rot"), col("k"), col("h"), col("__b"))
    }
  }

  /** q215: the INCREMENTAL sorted-neighborhood probe — q213 under the
    * q141/q145/q172/q198/q204 build-once/probe-deltas discipline. The
    * expensive half (the corpus shingle+md5 pass) runs on the DELTA
    * only; the value-level windowing re-runs on exactly the halo:
    * buckets within ±W of a NEW value's bucket, read bucket-pruned from
    * the persisted keys table. Exactness of the pruning: every quantile
    * bound is an observed base key, so every bucket holds ≥ 1 base row,
    * and the j-th bucket away contributes ≥ 1 value strictly closer
    * than anything j+1 away — a ±W window can therefore never reach
    * past ±W buckets. Global ranks stay global because the probe feeds
    * the FULL per-bucket counts (stored base counts + delta counts)
    * into the boundary machinery — pruned-away buckets contribute rank
    * GAPS, so two values separated by untouched buckets can never read
    * as adjacent. Output: q213's readout restricted to pairs touching a
    * NEW value (one absent from the base index), with per-side
    * is_new flags and UNION doc counts/canonicals.
    */
  private def snmServeIncremental(s: SparkSession, dir: String): DataFrame = {
    val idxKeys = snmIndex(s, dir)
    def side(part: String) = s.table(snmIdxCache.tableName(s, dir, part))
    val idxVals = side("vals")
    val bounds = side("bounds").first().getSeq[Double](0).toArray
    val delta = Tables(s, dir).documents.filter(
      graft.functions.HexKeys.value16(
        md5(concat(lit("split|"), col("doc_id").cast(StringType)))) % 100 >= 50)
    val deltaVals = graft.core.Materialize.cut(
      graft.operators.Dedup.simhashVals(delta, "doc_id", "text"),
      "snm_delta_vals")
    // both cut (the q243 within-call rule): uncut, `newVals` re-ran the
    // anti-join for the keys build AND the __new marks, and `newKeys`
    // re-expanded per reference (the driver halo collect, the probe
    // frame union, and the counts union — 3× the rotations explode in
    // one execution); both frames are V-bounded, never corpus-sized
    val newVals = graft.core.Materialize.cut(
      deltaVals.join(idxVals.select(col("simhash")),
        Seq("simhash"), "left_anti"), "snm_new_vals")
    val newKeys = graft.core.Materialize.cut(
      graft.operators.Dedup.snmKeys(newVals, SnmRotations)
        .withColumn("__b", graft.operators.Dedup
          .snmBucketOf(bounds, graft.operators.Dedup.snmProxy(col("k")))
          .cast(LongType)), "snm_new_keys")
    // halo bucket ids on the driver: ≤ (bounds+1) longs — bounded by
    // the bucket count, never the data
    val deltaBs = newKeys.select(col("__b")).distinct()
      .collect().map(_.getLong(0))
    val halo = deltaBs
      .flatMap(b => (b - SnmWindow) to (b + SnmWindow))
      .filter(b => b >= 0 && b <= bounds.length).distinct.sorted
    val frame = idxKeys.filter(col("__b").isin(halo.map(Long.box): _*))
      .select(col("rot"), col("k"), col("h"), col("__b"))
      .unionByName(newKeys.select(col("rot"), col("k"), col("h"), col("__b")))
    val allCounts = side("counts")
      .unionByName(newKeys.groupBy(col("rot"), col("__b"))
        .agg(count(lit(1)).as("__n")))
      .groupBy(col("rot"), col("__b")).agg(sum(col("__n")).as("__n"))
    val cand = graft.operators.Dedup.snmCandidatesBucketed(
      frame, SnmWindow, Some(allCounts), materialize = true)
    // union-side value attributes: a value seen in both halves sums its
    // doc counts and keeps the global min canonical
    val unionVals = idxVals.unionByName(deltaVals)
      .groupBy(col("simhash"))
      .agg(sum(col("n_docs")).as("n_docs"),
           min(col("canonical")).as("canonical"),
           min(col("h")).as("h"))
    val marks = newVals.select(col("h"), lit(true).as("__new"))
    graft.operators.Dedup.snmVerify(cand, unionVals, SnmMaxHamming)
      .join(marks.select(col("h").as("sh_a"), col("__new").as("__na")),
            Seq("sh_a"), "left")
      .join(marks.select(col("h").as("sh_b"), col("__new").as("__nb")),
            Seq("sh_b"), "left")
      .withColumn("is_new_a", coalesce(col("__na"), lit(false)))
      .withColumn("is_new_b", coalesce(col("__nb"), lit(false)))
      .filter(col("is_new_a") || col("is_new_b"))
      .select(col("sh_a"), col("sh_b"), col("hamming_distance"),
              col("n_docs_a"), col("canonical_a"), col("is_new_a"),
              col("n_docs_b"), col("canonical_b"), col("is_new_b"))
  }

  /** The persisted chunk-index mart contract: one row per DISTINCT chunk
    * hash (the canonical first occurrence with its provenance) — a
    * duplicated hash row would survive probes it should block.
    */
  val ChunkIndexContract: graft.model.Contract = graft.model.Contract(
    schema = StructType(Seq(
      StructField("chunk_hash", StringType),
      StructField("doc_id", LongType),
      StructField("chunk_idx", LongType))),
    notNull = Seq("chunk_hash", "doc_id", "chunk_idx"),
    uniqueKeys = Seq(Seq("chunk_hash")))

  /** The q172 persisted chunk-hash index: canonical (first-occurrence)
    * chunks of the BASE half (even doc_ids), memoized per (session, dir)
    * as a chunk_hash-bucketed warehouse table (q145's discipline at chunk
    * granularity). Every base chunk TEXT has a canonical row, so hash
    * membership in the index ≡ membership in the full base chunk set.
    */
  private val chunkIdxCache = new Artifact[DataFrame]("q172_chunk_index")
  private def chunkIndex(s: SparkSession, dir: String): DataFrame =
    chunkIdxCache.table(s, dir, Some(ChunkIndexContract))(chunkHashBucketed) {
      val base = Tables(s, dir).documents.filter(col("doc_id") % 2 === 0)
      Dedup.canonicalChunks(Dedup.chunkFrame(base, "doc_id", "text", ChunkDedupTokens))
    }

  /** The chunk_hash-bucketed layout of the q172 and q227 chunk indexes. */
  private def chunkHashBucketed(df: DataFrame, table: String): Unit =
    graft.sources.Warehouse.writeBucketed(df, table, "chunk_hash", numBuckets = 16)

  /** q172: INCREMENTAL chunk-level dedup against the persisted index —
    * the q141/q145 build-once/probe-deltas discipline applied to q169's
    * granularity. Delta docs (odd ids) are chunked scan-locally; a chunk
    * survives iff its hash misses the bucketed base index (one
    * hash-equi anti-join — the index side is pre-bucketed on the join
    * key, so it joins without an Exchange) AND it is the first occurrence
    * within the delta batch. Keep semantics are ARRIVAL-ORDER first
    * occurrence (base before delta, then (doc_id, chunk_idx)) — exactly
    * what the oracle replays with a packed (parity, doc_id, chunk_idx)
    * BIGINT key over the one-shot chunk table.
    */
  def chunkServeIncremental(s: SparkSession, dir: String): DataFrame =
    serveAgainstIndex(s, dir, chunkIndex(s, dir),
      Dedup.chunkFrame(_, "doc_id", "text", ChunkDedupTokens), "chunk_toks", "kept_tokens", " ")

  /** The q172/q227 serve: the delta half (odd doc_ids) chunked by
    * `chunker`, kept where a chunk misses `index` and is the within-delta
    * first occurrence ([[Dedup.keepFirstChunks]]), and reassembled per
    * document ([[Dedup.reassembleKept]] over `sizeCol`/`keptCol`/
    * `separator`).
    */
  private def serveAgainstIndex(s: SparkSession, dir: String, index: DataFrame,
                                chunker: DataFrame => DataFrame, sizeCol: String,
                                keptCol: String, separator: String): DataFrame = {
    val delta = Tables(s, dir).documents.filter(col("doc_id") % 2 === 1)
    Dedup.reassembleKept(Dedup.keepFirstChunks(Dedup.hashedChunks(chunker(delta)), Some(index)),
                         sizeCol, keptCol, separator)
  }

  /** The q227 persisted CDC chunk-hash index — [[chunkIndex]]'s
    * build-once discipline at CONTENT-DEFINED granularity: canonical
    * (first-occurrence) CDC chunks of the BASE half (even doc_ids),
    * chunk_hash-bucketed. The operational win over q172's fixed-token
    * index: a delta document that is a prefix-edited mirror of a base
    * document still probes HIT on every realigned chunk (q226's
    * measured 3.9% → 84% contrast), so the index actually blocks the
    * routine mirror-with-banner case instead of passing it through.
    */
  private val cdcIdxCache = new Artifact[DataFrame]("q227_cdc_index")
  private def cdcChunkIndex(s: SparkSession, dir: String): DataFrame =
    cdcIdxCache.table(s, dir, Some(ChunkIndexContract))(chunkHashBucketed) {
      val base = Tables(s, dir).documents.filter(col("doc_id") % 2 === 0)
      Dedup.canonicalChunks(Dedup.cdcChunkFrame(base, "doc_id", "text"))
    }

  /** q227: incremental CDC chunk dedup against the persisted index —
    * [[chunkServeIncremental]] at CDC granularity ([[serveAgainstIndex]]):
    * delta docs chunk scan-locally via the native rolling-hash pass. Keep
    * semantics are arrival-order (base before delta), replayed in the
    * oracle with the parity-leading packed key.
    */
  def cdcServeIncremental(s: SparkSession, dir: String): DataFrame =
    serveAgainstIndex(s, dir, cdcChunkIndex(s, dir),
      Dedup.cdcChunkFrame(_, "doc_id", "text"), "chunk_chars", "kept_chars", "")

  private val enList = Text.langProfiles.toMap.apply("en").map(w => s"'$w'").mkString(", ")

  /** q33's composite quality score over `text` — shared by q33 (per-doc
    * report), q109 (threshold retention sweep), and q110 (corpus build
    * filter) so all three gates pin the SAME bit-identical expression.
    */
  private def qualityScore: Column = {
    val toks  = Text.tokens(col("text"))
    val n     = size(toks).cast(DoubleType)
    val dr    = size(array_distinct(toks)).cast(DoubleType) / n
    val stopR = Text.wordListHits(toks, Text.langProfiles.head._2).cast(DoubleType) / n
    val punct = regexp_count(col("text"), lit("[^\\w\\s]")).cast(DoubleType) /
      length(col("text")).cast(DoubleType)
    least(n / 50, lit(1.0)) * 25 + dr * 25 +
      least(stopR * 5, lit(1.0)) * 25 + (lit(1.0) - least(punct * 10, lit(1.0))) * 25
  }

  private def langListSql(lang: String): String =
    Text.langProfiles.toMap.apply(lang).map(w => s"'$w'").mkString(", ")

  /** Shared by the q32 gate and q120's composed evaluation oracle. */
  private lazy val q32Oracle: String = {
    val scoreExprs = Text.langProfiles.map { case (l, _) =>
      s"CAST(len(list_filter(toks, x -> list_contains([${langListSql(l)}], x))) AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE) AS score_$l"
    }.mkString(",\n        |    ")
    s"""WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
       |s AS (
       |  SELECT doc_id, lang AS labeled_lang,
       |    $scoreExprs,
       |    CASE WHEN length(text) > 0
       |         THEN CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
       |         ELSE 0.0 END AS cjk_ratio
       |  FROM t)
       |SELECT doc_id, labeled_lang, score_en, score_de, score_es, score_fr, cjk_ratio,
       |  CASE WHEN cjk_ratio > 0.05 THEN 'zh'
       |       WHEN score_en <= 0.0 AND score_de <= 0.0 AND score_es <= 0.0 AND score_fr <= 0.0 THEN 'und'
       |       WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
       |       WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
       |       WHEN score_es >= score_fr THEN 'es'
       |       ELSE 'fr' END AS predicted_lang
       |FROM s""".stripMargin
  }

  /** q150's oracle: the q32 heuristic applied per 10-token segment, then
    * the per-doc distribution profile. Segmentation via 1-based inclusive
    * list slices — identical windows to Spark's `slice(toks, i·10+1, 10)`.
    */
  private lazy val q150Oracle: String = {
    val scoreExprs = Text.langProfiles.map { case (l, _) =>
      s"CAST(len(list_filter(toks, x -> list_contains([${langListSql(l)}], x))) AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE) AS score_$l"
    }.mkString(",\n        |    ")
    val W = MixSegTokens
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |seg AS (
       |  SELECT doc_id,
       |         array_to_string(toks[(i*$W+1):(i*$W+$W)], ' ') AS seg_text
       |  FROM (SELECT doc_id, toks,
       |               unnest(range(CAST(greatest(ceil(len(toks) / $W.0), 1) AS INT)))
       |                 AS i
       |        FROM t)),
       |sc AS (
       |  SELECT doc_id,
       |    $scoreExprs,
       |    CASE WHEN length(seg_text) > 0
       |         THEN CAST(len(regexp_extract_all(seg_text, '[\\x{4e00}-\\x{9fff}]')) AS DOUBLE) / CAST(length(seg_text) AS DOUBLE)
       |         ELSE 0.0 END AS cjk_ratio
       |  FROM (SELECT doc_id, seg_text, string_split(seg_text, ' ') AS toks FROM seg)),
       |p AS (
       |  SELECT doc_id,
       |    CASE WHEN cjk_ratio > 0.05 THEN 'zh'
       |         WHEN score_en <= 0.0 AND score_de <= 0.0 AND score_es <= 0.0 AND score_fr <= 0.0 THEN 'und'
       |         WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
       |         WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
       |         WHEN score_es >= score_fr THEN 'es'
       |         ELSE 'fr' END AS seg_lang
       |  FROM sc),
       |cnt AS (SELECT doc_id, seg_lang, count(*) AS c FROM p GROUP BY 1, 2),
       |tot AS (SELECT doc_id, count(*) AS n FROM p GROUP BY 1),
       |terms AS (
       |  SELECT doc_id, seg_lang, c, n,
       |    CAST(floor(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
       |               ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9 + 0.5)
       |         AS BIGINT) AS term_q
       |  FROM cnt JOIN tot USING (doc_id))
       |SELECT doc_id,
       |  CAST(max(n) AS BIGINT) AS n_segments,
       |  CAST(count(*) AS BIGINT) AS n_langs,
       |  min(struct_pack(negc := -c, lang := seg_lang)).lang AS dominant_lang,
       |  CAST(-min(struct_pack(negc := -c, lang := seg_lang)).negc AS DOUBLE)
       |    / CAST(max(n) AS DOUBLE) AS dominant_share,
       |  CAST(sum(term_q) AS BIGINT) AS mix_entropy_q,
       |  CAST(-min(struct_pack(negc := -c, lang := seg_lang)).negc AS DOUBLE)
       |    / CAST(max(n) AS DOUBLE) < 0.8 AS is_mixed
       |FROM terms GROUP BY doc_id""".stripMargin
  }

  /** CDC chunk CTEs over `src` (doc_id, text): boundary positions from
    * [[org.apache.spark.sql.graftx.CdcChunkArray.boundaryHashSql]]'s
    * k-term polynomial (ONE builder for both engines — the ZOrder
    * discipline), chunks from boundary lags + the per-doc tail, keep
    * flags from the packed first-occurrence key (q169's arithmetic).
    * Ends with CTE `${pfx}k`: (doc_id, chunk_idx, chunk_chars,
    * chunk_text, n_chunks, keep_chunk). Oracle-side windows are fine —
    * it is the SPARK plan that must never window over content keys.
    * `keySql` is the first-occurrence ordering key (q227 prepends the
    * base/delta parity bit, q172's arrival-order discipline).
    */
  private[queries] def cdcChunkCtesSql(src: String, pfx: String,
      keySql: String = "doc_id * 1048576 + chunk_idx"): String = {
    import graft.operators.Dedup.{CdcDivisor, CdcK}
    val h = org.apache.spark.sql.graftx.CdcChunkArray.boundaryHashSql(CdcK)
    s"""${pfx}d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
       |  FROM $src WHERE text IS NOT NULL AND length(text) >= 1),
       |${pfx}bnd AS (
       |  SELECT doc_id, p
       |  FROM (SELECT doc_id, text, n,
       |               unnest(generate_series($CdcK, n)) AS p FROM ${pfx}d)
       |  WHERE $h % $CdcDivisor = 0),
       |${pfx}cb AS (
       |  SELECT doc_id,
       |    coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY p), 0) + 1 AS s,
       |    p AS e
       |  FROM ${pfx}bnd),
       |${pfx}tl AS (
       |  SELECT d.doc_id, coalesce(b.mx, 0) + 1 AS s, d.n AS e
       |  FROM ${pfx}d d
       |  LEFT JOIN (SELECT doc_id, max(p) AS mx FROM ${pfx}bnd GROUP BY 1) b
       |    USING (doc_id)
       |  WHERE coalesce(b.mx, 0) < d.n),
       |${pfx}ch AS (
       |  SELECT c.doc_id,
       |    CAST(row_number() OVER (PARTITION BY c.doc_id ORDER BY c.s) - 1 AS BIGINT) AS chunk_idx,
       |    CAST(c.e - c.s + 1 AS BIGINT) AS chunk_chars,
       |    substr(d.text, CAST(c.s AS INTEGER), CAST(c.e - c.s + 1 AS INTEGER)) AS chunk_text,
       |    CAST(count(*) OVER (PARTITION BY c.doc_id) AS BIGINT) AS n_chunks
       |  FROM (SELECT * FROM ${pfx}cb UNION ALL SELECT * FROM ${pfx}tl) c
       |  JOIN ${pfx}d d USING (doc_id)),
       |${pfx}k AS (
       |  SELECT *, ($keySql) =
       |            MIN($keySql) OVER (PARTITION BY chunk_text)
       |              AS keep_chunk
       |  FROM ${pfx}ch)""".stripMargin
  }

  /** The duplicate-edge CTE chain (trigram Jaccard ≥ 0.5 pairs + exact
    * md5 pairs, both a&lt;b-oriented) shared by the q67/q149/q154 cluster
    * oracle and q155's cross-source matrix.
    */
  private[queries] lazy val dupEdgeCtesSql: String =
    """sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)),
      |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS tg
      |  FROM documents),
      |ex AS (SELECT doc_id, CAST(len(tg) AS BIGINT) AS n_shingles, unnest(tg) AS shingle FROM sh),
      |jpairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         a.n_shingles AS sa, b.n_shingles AS sb, COUNT(*) AS shared
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4),
      |jed AS (SELECT doc_a, doc_b FROM jpairs
      |        WHERE CAST(shared AS DOUBLE) / CAST(sa + sb - shared AS DOUBLE) >= 0.5),
      |eed AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |        FROM documents a JOIN documents b
      |        ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id)""".stripMargin

  /** q62's oracle — a val so q230's manifest can compose it the way
    * q207/q219 compose [[q67Oracle]].
    */
  private lazy val q62Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents)
      |SELECT doc_id, n_tokens,
      |  CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
      |  CAST(floor((SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 5000.0) AS BIGINT) AS shard_id
      |FROM t""".stripMargin

  /** The q208 per-source KS panel oracle — a val so q232's BH-FDR
    * correction can use it as a derived table (the q168OracleSql
    * discipline: one definition of the panel for both gates).
    */
  private lazy val q208Oracle: String =
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio,
       |    CAST(len(list_filter(toks, x -> list_contains([$enList], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
       |    CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio
       |  FROM t),
       |s AS (
       |  SELECT doc_id,
       |    least(CAST(n_tokens AS DOUBLE) / 50, 1.0) * 25 + distinct_ratio * 25 +
       |    least(stopword_ratio * 5, 1.0) * 25 + (1.0 - least(punct_ratio * 10, 1.0)) * 25 AS q
       |  FROM m),
       |b0 AS (
       |  SELECT d.source, CAST(floor(s.q / 5) AS BIGINT) AS bucket,
       |         CAST(count(*) AS BIGINT) AS n_sb
       |  FROM s JOIN documents d USING (doc_id)
       |  WHERE s.q IS NOT NULL GROUP BY 1, 2),
       |pb AS (SELECT bucket, CAST(sum(n_sb) AS BIGINT) AS n_b
       |       FROM b0 GROUP BY 1),
       |src AS (SELECT DISTINCT source FROM b0),
       |lat AS (
       |  SELECT src.source, pb.bucket, pb.n_b,
       |         CAST(coalesce(b0.n_sb, 0) AS BIGINT) AS n_in
       |  FROM src CROSS JOIN pb
       |  LEFT JOIN b0 ON b0.source = src.source AND b0.bucket = pb.bucket),
       |c AS (
       |  SELECT source, bucket, n_in, n_b,
       |    CAST(sum(n_in) OVER wc AS BIGINT) AS cum_in,
       |    CAST(sum(n_b) OVER wc AS BIGINT) AS cum_all,
       |    CAST(sum(n_in) OVER wa AS BIGINT) AS tot_in,
       |    CAST(sum(n_b) OVER wa AS BIGINT) AS tot_all
       |  FROM lat WINDOW
       |    wc AS (PARTITION BY source ORDER BY bucket
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    wa AS (PARTITION BY source
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
       |g AS (
       |  SELECT source, tot_in, tot_all - tot_in AS tot_rest,
       |    abs(CAST(cum_in AS HUGEINT) * (tot_all - tot_in)
       |        - CAST(cum_all - cum_in AS HUGEINT) * tot_in) AS gap
       |  FROM c),
       |k AS (
       |  SELECT source, CAST(max(tot_in) AS BIGINT) AS n_in,
       |         CAST(max(tot_rest) AS BIGINT) AS n_rest,
       |         max(gap) AS ks_num
       |  FROM g GROUP BY 1)
       |SELECT source, n_in, n_rest,
       |  CAST(ks_num AS DOUBLE) / (CAST(n_in AS DOUBLE) * CAST(n_rest AS DOUBLE)) AS ks_stat,
       |  1.358 * sqrt(CAST(n_in + n_rest AS DOUBLE)
       |               / (CAST(n_in AS DOUBLE) * CAST(n_rest AS DOUBLE))) AS ks_crit,
       |  CAST(ks_num AS DOUBLE) / (CAST(n_in AS DOUBLE) * CAST(n_rest AS DOUBLE))
       |    > 1.358 * sqrt(CAST(n_in + n_rest AS DOUBLE)
       |                   / (CAST(n_in AS DOUBLE) * CAST(n_rest AS DOUBLE)))
       |    AS is_outlier
       |FROM k
       |WHERE n_rest > 0""".stripMargin

  /** The q67 cluster oracle — a val so q143's best-copy resolution can
    * compose it (the q127Oracle discipline).
    */
  private lazy val q67Oracle: String =
    s"""WITH RECURSIVE
      |$dupEdgeCtesSql,
      |edges AS (
      |  SELECT doc_a AS s, doc_b AS d FROM jed UNION SELECT doc_b, doc_a FROM jed
      |  UNION SELECT doc_a, doc_b FROM eed UNION SELECT doc_b, doc_a FROM eed),
      |reach AS (
      |  SELECT doc_id AS id, doc_id AS r FROM documents
      |  UNION
      |  SELECT rc.id, e.d FROM reach rc JOIN edges e ON rc.r = e.s),
      |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
      |SELECT id AS doc_id, cluster_id,
      |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
      |  id = cluster_id AS is_canonical
      |FROM comp""".stripMargin

  /** q155's oracle: the same deduped edge set, labeled with each
    * endpoint's source and rolled up to an (ordered) source-pair matrix.
    */
  private lazy val q155Oracle: String =
    s"""WITH $dupEdgeCtesSql,
      |pairs AS (SELECT doc_a, doc_b FROM jed UNION SELECT doc_a, doc_b FROM eed),
      |lab AS (
      |  SELECT p.doc_a, p.doc_b, da.source AS sa, db.source AS sb
      |  FROM pairs p
      |  JOIN documents da ON p.doc_a = da.doc_id
      |  JOIN documents db ON p.doc_b = db.doc_id)
      |SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
      |  CAST(count(*) AS BIGINT) AS n_dup_pairs
      |FROM lab GROUP BY 1, 2""".stripMargin

  /** The q135 fingerprint+pair oracle (see the oracles-map comment for
    * the arithmetic) — a val so q137's cluster oracle can compose it the
    * way q132 composes [[q127Oracle]].
    */
  private lazy val q135Oracle: String =
    """WITH ids AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS BIGINT) AS f, doc_id // 16 AS v
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, f, v, unnest(range(260)) AS i FROM ids),
      |amp AS (
      |  SELECT doc_id, i // 4 AS band,
      |    abs(((i * (17 + 26 * f) + 97 * f) % 2001) - 1000
      |        + CASE WHEN (i * 7 + v * 53) % 131 = v % 131 THEN 500 ELSE 0 END) AS a
      |  FROM s),
      |bands AS (
      |  SELECT doc_id, band, CAST(SUM(a) AS BIGINT) AS e FROM amp GROUP BY 1, 2),
      |bits AS (
      |  SELECT a.doc_id, a.band AS k,
      |         CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
      |  FROM bands a JOIN bands b
      |    ON a.doc_id = b.doc_id AND b.band = a.band + 1
      |  WHERE a.band < 64),
      |h AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS h1,
      |    CAST(SUM(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT) AS h2
      |  FROM bits GROUP BY 1)
      |SELECT id_a, id_b, hamming FROM (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) AS BIGINT) AS hamming
      |  FROM h a JOIN h b ON a.doc_id < b.doc_id)
      |WHERE hamming <= 7""".stripMargin

  /** The q127 dHash pair oracle — shared by q132's cluster oracle. */
  private lazy val q127Oracle: String =
      """WITH ids AS (
        |  SELECT doc_id, CAST(doc_id % 16 AS BIGINT) AS f, doc_id // 16 AS v
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, f, v, unnest(generate_series(0, 1151)) AS p FROM ids),
        |xy AS (SELECT doc_id, f, v, p % 36 AS x, p // 36 AS y FROM px),
        |g AS (
        |  SELECT doc_id, y // 4 AS r, x // 4 AS c,
        |    (x*(3 + f%5) + y*(5 + f%7) + f*37) % 180 + 10
        |      + CASE WHEN (x*7 + y*11 + v*53) % 23 = v % 23 THEN 60 ELSE 0 END AS gv
        |  FROM xy),
        |cells AS (
        |  SELECT doc_id, r, c, CAST(SUM(gv) AS BIGINT) AS s FROM g GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT a.doc_id, a.r * 8 + a.c AS k,
        |         CASE WHEN a.s < b.s THEN 1 ELSE 0 END AS bit
        |  FROM cells a JOIN cells b
        |    ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
        |  WHERE a.c < 8),
        |h AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS h1,
        |    CAST(SUM(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT) AS h2
        |  FROM bits GROUP BY 1)
        |SELECT id_a, id_b, hamming FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) AS BIGINT) AS hamming
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id)
        |WHERE hamming <= 7""".stripMargin

  /** The q87 winnowing oracle — a val so q206's overlap miner can
    * compose it as a derived table (the q67Oracle discipline).
    */
  private lazy val q87OracleSql: String = {
    val h16 = graft.functions.HexKeys.value16Sql()
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |grams AS (
       |  SELECT doc_id, i - 1 AS pos,
       |         md5('win|' || array_to_string(toks[i:i+3], ' ')) AS hex
       |  FROM (SELECT doc_id, toks,
       |               unnest(generate_series(1, len(toks) - 3)) AS i FROM t)),
       |hashed AS (SELECT doc_id, pos, $h16 AS h FROM grams),
       |counts AS (SELECT doc_id, count(*) AS ng FROM hashed GROUP BY doc_id),
       |wins AS (
       |  SELECT doc_id, ng, unnest(generate_series(0, greatest(ng - 5, 0))) AS j
       |  FROM counts),
       |sel AS (
       |  SELECT g.doc_id, w.j,
       |         min(struct_pack(h := g.h, negpos := -g.pos)) AS top
       |  FROM hashed g JOIN wins w
       |    ON g.doc_id = w.doc_id
       |   AND g.pos >= w.j AND g.pos < w.j + least(5, w.ng)
       |  GROUP BY g.doc_id, w.j)
       |SELECT DISTINCT doc_id,
       |  CAST(-top['negpos'] AS BIGINT) AS fp_pos,
       |  CAST(top['h'] AS BIGINT) AS fp_hash
       |FROM sel""".stripMargin
  }

  /** The q130 BPE-apply oracle (ranked merges from q111's pair counts,
    * recursive leftmost-rewrite walk) — a val so q202's fertility rollup
    * can compose it as a derived table (the q67Oracle discipline).
    */
  private lazy val q130OracleSql: String =
      """WITH RECURSIVE m AS (
        |  SELECT a, b, rank FROM (
        |    WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |    p AS (
        |      SELECT toks[i] AS a, toks[i + 1] AS b
        |      FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |            FROM t WHERE len(toks) >= 2)),
        |    c AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY 1, 2),
        |    top AS (SELECT * FROM c ORDER BY cnt DESC, a, b LIMIT 20)
        |    SELECT a, b, CAST(row_number() OVER (ORDER BY cnt DESC, a, b) AS BIGINT) AS rank
        |    FROM top)),
        |mx AS (SELECT max(rank) AS mr FROM m),
        |norm AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |walk AS (
        |  SELECT doc_id, ' ' || array_to_string(toks, ' ') || ' ' AS s,
        |         CAST(1 AS BIGINT) AS mi
        |  FROM norm
        |  UNION ALL
        |  SELECT w.doc_id,
        |    CASE WHEN contains(w.s, ' ' || m.a || ' ' || m.b || ' ')
        |         THEN regexp_replace(w.s, ' ' || m.a || ' ' || m.b || ' ',
        |                             ' ' || m.a || '+' || m.b || ' ')
        |         ELSE w.s END,
        |    CASE WHEN contains(w.s, ' ' || m.a || ' ' || m.b || ' ')
        |         THEN w.mi ELSE w.mi + 1 END
        |  FROM walk w JOIN m ON m.rank = w.mi),
        |fin AS (
        |  SELECT w.doc_id, trim(w.s) AS joined
        |  FROM walk w CROSS JOIN mx
        |  WHERE w.mi = coalesce(mx.mr, 0) + 1)
        |SELECT n.doc_id,
        |  CAST(len(n.toks) AS BIGINT) AS n_tokens_before,
        |  CAST(len(list_filter(string_split(f.joined, ' '), x -> x <> ''))
        |    AS BIGINT) AS n_tokens_after,
        |  CAST(len(list_filter(string_split(f.joined, ' '), x -> contains(x, '+'))) AS BIGINT)
        |    AS n_merged_tokens,
        |  md5(f.joined) AS tokens_hash
        |FROM norm n JOIN fin f USING (doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    // q264: same histogram → cumulative → ⌈i·n/B⌉ boundary → ≤-join
    // assignment; integer division replayed as floor(double) (operands
    // stay < 2^53, so the double quotient is the exact rational).
    "q264_padding_waste" ->
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
         |    AS n_tokens FROM documents),
         |hist AS (
         |  SELECT n_tokens, CAST(count(*) AS BIGINT) AS c
         |  FROM toks GROUP BY 1),
         |cm AS (
         |  SELECT n_tokens, CAST(sum(c) OVER (ORDER BY n_tokens) AS BIGINT)
         |    AS cum FROM hist),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
         |idx AS (
         |  SELECT CAST(v.b AS BIGINT) AS b, CAST(ii.i AS BIGINT) AS i
         |  FROM (VALUES ${PadBucketLegs.map(b => s"($b)").mkString(",")}) v(b),
         |       (SELECT unnest(range(1, ${PadBucketLegs.max + 1})) AS i) ii
         |  WHERE ii.i <= v.b),
         |bounds AS (
         |  SELECT x.b, x.i, min(cm.n_tokens) AS boundary
         |  FROM idx x CROSS JOIN tot t
         |  JOIN cm ON cm.cum >= CAST(floor(
         |    CAST(x.i * t.n + x.b - 1 AS DOUBLE) / CAST(x.b AS DOUBLE))
         |    AS BIGINT)
         |  GROUP BY 1, 2),
         |assign AS (
         |  SELECT tk.doc_id, tk.n_tokens, bo.b, min(bo.i) AS bucket_idx
         |  FROM toks tk JOIN bounds bo ON tk.n_tokens <= bo.boundary
         |  GROUP BY 1, 2, 3)
         |SELECT b AS n_buckets, bucket_idx,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(max(n_tokens) AS BIGINT) AS bucket_max_tokens,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(count(*) * max(n_tokens) AS BIGINT) AS padded_tokens,
         |  CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
         |    AS waste_tokens,
         |  CAST(count(*) * max(n_tokens) - sum(n_tokens) AS DOUBLE)
         |    / CAST(count(*) * max(n_tokens) AS DOUBLE) AS waste_frac
         |FROM assign GROUP BY 1, 2""".stripMargin,

    // q266: same per-(doc,term) counts, per-term moments, top-30 by
    // (tf DESC, term) replaying the heap order, DECIMAL(38,0)
    // cross-products, 1e-9-quantized Poisson term.
    "q266_term_burstiness" ->
      s"""WITH cnt AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |    FROM documents) t
         |  GROUP BY 1, 2),
         |st AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df,
         |    CAST(sum(c) AS BIGINT) AS tf,
         |    CAST(sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
         |         AS DECIMAL(38,0)) AS tf2
         |  FROM cnt GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |top AS (SELECT term FROM (
         |  SELECT term, row_number() OVER (ORDER BY tf DESC, term) AS rn
         |  FROM st) z WHERE rn <= $BurstTopTerms)
         |SELECT s.term, s.df, s.tf,
         |  CAST(CAST(t.n AS DECIMAL(38,0)) * CAST(s.tf2 AS DECIMAL(38,0))
         |       - CAST(s.tf AS DECIMAL(38,0)) * CAST(s.tf AS DECIMAL(38,0))
         |       AS DOUBLE)
         |    / CAST(CAST(t.n AS DECIMAL(38,0)) * CAST(s.tf AS DECIMAL(38,0))
         |           AS DOUBLE) AS vmr,
         |  CAST(s.df AS DOUBLE) / (CAST(t.n AS DOUBLE) *
         |    (floor((1.0 - exp((-CAST(s.tf AS DOUBLE))
         |                      / CAST(t.n AS DOUBLE))) * 1e9 + 0.5) / 1e9))
         |    AS poisson_burst_ratio
         |FROM top JOIN st s USING (term) CROSS JOIN tot t""".stripMargin,

    // q269: identical md5-slice → (0,1) → inverse-CDF Laplace noise,
    // literal for literal, per ε leg.
    "q269_dp_release" -> DpEpsX10Legs.map { e =>
      val u = graft.functions.HexKeys.value32Sql(
        0, s"md5('dp|$e|' || source)")
      val c = s"((CAST(u AS DOUBLE) + 0.5) / 4294967296.0 - 0.5)"
      s"""SELECT CAST($e AS BIGINT) AS eps_x10, source, true_n,
         |  true_n + noise AS released_n, abs(noise) AS abs_noise
         |FROM (
         |  SELECT source, true_n,
         |    floor(((${-(10.0 / e)}) * sign($c)) * ln(1.0 - 2.0 * abs($c))
         |          * 1e9 + 0.5) / 1e9 AS noise
         |  FROM (
         |    SELECT source, CAST(count(*) AS BIGINT) AS true_n, $u AS u
         |    FROM documents GROUP BY source) b) cq""".stripMargin
    }.mkString("\nUNION ALL\n"),

    // Relational winnowing: the same min(struct(hash, -pos)) per sliding
    // window, built from an explicit window-start × gram range join (the
    // array-native Spark form and this row form select identical
    // fingerprints; DISTINCT collapses windows that picked the same gram).
    "q87_winnow_fingerprint" -> q87OracleSql,

    // q206: q87's fingerprints as a derived table, DF-capped postings
    // self-join, shared-count rollup + per-doc totals.
    "q206_winnow_overlap" ->
      s"""WITH q87 AS (SELECT doc_id, fp_hash FROM ($q87OracleSql) z),
         |fp AS (SELECT DISTINCT doc_id, fp_hash FROM q87),
         |df AS (SELECT fp_hash, CAST(count(*) AS BIGINT) AS df
         |       FROM fp GROUP BY 1),
         |rare AS (SELECT fp.doc_id, fp.fp_hash
         |         FROM fp JOIN df USING (fp_hash) WHERE df <= $WinnowDfCap),
         |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp
         |        FROM rare GROUP BY 1),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(count(*) AS BIGINT) AS shared
         |  FROM rare a JOIN rare b
         |    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT doc_a, doc_b, shared, ca.nfp AS nfp_a, cb.nfp AS nfp_b,
         |  CAST(shared AS DOUBLE) / CAST(least(ca.nfp, cb.nfp) AS DOUBLE)
         |    AS overlap
         |FROM p
         |JOIN cnt ca ON p.doc_a = ca.doc_id
         |JOIN cnt cb ON p.doc_b = cb.doc_id""".stripMargin,
    "q30_token_stats" ->
      """WITH t AS (SELECT doc_id, lang, n_chars, text, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id, lang, n_chars,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
        |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_regex_tokens,
        |  CAST(length(text) - (len(toks) - 1) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS mean_token_len
        |FROM t""".stripMargin,
    "q31_fingerprint" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |         md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fingerprint
        |  FROM documents)
        |SELECT doc_id, fingerprint,
        |  min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
        |  count(*) OVER (PARTITION BY fingerprint) AS group_size,
        |  doc_id != min(doc_id) OVER (PARTITION BY fingerprint) AS is_reordered_dup
        |FROM fp""".stripMargin,
    "q32_langid" -> q32Oracle,
    "q150_lang_mixing" -> q150Oracle,

    // Classifier evaluation over the q32 heuristic: confusion matrix +
    // per-cell recall/precision components against the labeled lang.
    "q120_langid_eval" ->
      s"""WITH base AS (
         |$q32Oracle),
         |cells AS (
         |  SELECT labeled_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM base GROUP BY 1, 2),
         |rt AS (SELECT labeled_lang, CAST(sum(n_docs) AS BIGINT) AS n_labeled
         |       FROM cells GROUP BY 1),
         |ct AS (SELECT predicted_lang, CAST(sum(n_docs) AS BIGINT) AS n_predicted
         |       FROM cells GROUP BY 1)
         |SELECT c.labeled_lang, c.predicted_lang, c.n_docs,
         |  rt.n_labeled, ct.n_predicted,
         |  CAST(c.n_docs AS DOUBLE) / CAST(rt.n_labeled AS DOUBLE) AS recall_component,
         |  CAST(c.n_docs AS DOUBLE) / CAST(ct.n_predicted AS DOUBLE) AS precision_component
         |FROM cells c JOIN rt USING (labeled_lang) JOIN ct USING (predicted_lang)""".stripMargin,
    "q33_text_quality" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio,
         |    CAST(len(list_filter(toks, x -> list_contains([$enList], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
         |    CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio
         |  FROM t)
         |SELECT doc_id, n_tokens, distinct_ratio, stopword_ratio, punct_ratio,
         |  quality_score,
         |  CASE WHEN quality_score >= 80 THEN 'high' WHEN quality_score >= 60 THEN 'medium'
         |       WHEN quality_score >= 40 THEN 'low' ELSE 'reject' END AS quality_bucket,
         |  quality_score >= 60 AS is_high_quality
         |FROM (SELECT *,
         |        least(CAST(n_tokens AS DOUBLE) / 50, 1.0) * 25 + distinct_ratio * 25 +
         |        least(stopword_ratio * 5, 1.0) * 25 + (1.0 - least(punct_ratio * 10, 1.0)) * 25 AS quality_score
         |      FROM m)""".stripMargin,
    "q109_quality_retention" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio,
         |    CAST(len(list_filter(toks, x -> list_contains([$enList], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
         |    CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio
         |  FROM t),
         |s AS (
         |  SELECT n_tokens,
         |    least(CAST(n_tokens AS DOUBLE) / 50, 1.0) * 25 + distinct_ratio * 25 +
         |    least(stopword_ratio * 5, 1.0) * 25 + (1.0 - least(punct_ratio * 10, 1.0)) * 25 AS q
         |  FROM m),
         |b AS (
         |  SELECT CAST(floor(q / 5) AS BIGINT) AS bucket, count(*) AS n_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS bucket_tokens
         |  FROM s WHERE q IS NOT NULL GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
         |         CAST(sum(bucket_tokens) AS BIGINT) AS total_tokens
         |  FROM b),
         |c AS (
         |  SELECT bucket, n_docs, bucket_tokens,
         |    CAST(sum(n_docs) OVER w AS BIGINT) AS docs_kept,
         |    CAST(sum(bucket_tokens) OVER w AS BIGINT) AS tokens_kept
         |  FROM b WINDOW w AS (ORDER BY bucket DESC
         |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT bucket, bucket * 5 AS threshold, n_docs, docs_kept, tokens_kept,
         |  CAST(docs_kept AS DOUBLE) / CAST(total_docs AS DOUBLE) AS frac_docs_kept,
         |  CAST(tokens_kept AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS frac_tokens_kept
         |FROM c CROSS JOIN tot""".stripMargin,

    // q201: q33's exact score expression + the q61 md5 split, binned
    // CDFs and the HUGEINT max-gap over the ≤21-row bucket frame.
    "q201_ks_drift" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio,
         |    CAST(len(list_filter(toks, x -> list_contains([$enList], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
         |    CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio
         |  FROM t),
         |s AS (
         |  SELECT doc_id,
         |    least(CAST(n_tokens AS DOUBLE) / 50, 1.0) * 25 + distinct_ratio * 25 +
         |    least(stopword_ratio * 5, 1.0) * 25 + (1.0 - least(punct_ratio * 10, 1.0)) * 25 AS q
         |  FROM m),
         |h AS (SELECT doc_id, md5('split|' || CAST(doc_id AS VARCHAR)) AS hex
         |      FROM documents),
         |b AS (
         |  SELECT CAST(floor(q / 5) AS BIGINT) AS bucket,
         |    CAST(sum(CASE WHEN (${graft.functions.HexKeys.value16Sql()} % 100) < 50
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         |    CAST(sum(CASE WHEN (${graft.functions.HexKeys.value16Sql()} % 100) < 50
         |             THEN 0 ELSE 1 END) AS BIGINT) AS n_delta
         |  FROM s JOIN h USING (doc_id) WHERE q IS NOT NULL GROUP BY 1),
         |c AS (
         |  SELECT bucket, n_base, n_delta,
         |    CAST(sum(n_base) OVER wc AS BIGINT) AS cum_base,
         |    CAST(sum(n_delta) OVER wc AS BIGINT) AS cum_delta,
         |    CAST(sum(n_base) OVER wa AS BIGINT) AS tot_base,
         |    CAST(sum(n_delta) OVER wa AS BIGINT) AS tot_delta
         |  FROM b WINDOW
         |    wc AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    wa AS (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
         |g AS (
         |  SELECT *,
         |    abs(CAST(cum_base AS HUGEINT) * tot_delta
         |        - CAST(cum_delta AS HUGEINT) * tot_base) AS gap_num,
         |    max(abs(CAST(cum_base AS HUGEINT) * tot_delta
         |            - CAST(cum_delta AS HUGEINT) * tot_base))
         |      OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |      AS ks_num
         |  FROM c)
         |SELECT bucket, bucket * 5 AS threshold, n_base, n_delta,
         |  cum_base, cum_delta,
         |  CAST(cum_base AS DOUBLE) / CAST(tot_base AS DOUBLE) AS cdf_base,
         |  CAST(cum_delta AS DOUBLE) / CAST(tot_delta AS DOUBLE) AS cdf_delta,
         |  CAST(ks_num AS DOUBLE) / (CAST(tot_base AS DOUBLE) * CAST(tot_delta AS DOUBLE)) AS ks_stat,
         |  gap_num = ks_num AS is_ks_bucket,
         |  CAST(ks_num AS DOUBLE) / (CAST(tot_base AS DOUBLE) * CAST(tot_delta AS DOUBLE))
         |    > 1.358 * sqrt(CAST(tot_base + tot_delta AS DOUBLE)
         |                   / (CAST(tot_base AS DOUBLE) * CAST(tot_delta AS DOUBLE)))
         |    AS is_drifted
         |FROM g""".stripMargin,

    // q208: q33's score, (source, bucket) lattice completed by a cross
    // join, per-source bounded windows, HUGEINT gaps, per-source bar.
    // same t/m/s score prelude as q33/q208; quantiles replayed with the
    // identical lattice windows, is_kept as the same integer comparison
    "q222_source_quantile_norm" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio,
         |    CAST(len(list_filter(toks, x -> list_contains([$enList], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
         |    CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio
         |  FROM t),
         |s AS (
         |  SELECT doc_id,
         |    least(CAST(n_tokens AS DOUBLE) / 50, 1.0) * 25 + distinct_ratio * 25 +
         |    least(stopword_ratio * 5, 1.0) * 25 + (1.0 - least(punct_ratio * 10, 1.0)) * 25 AS q
         |  FROM m),
         |sc AS (
         |  SELECT d.doc_id, d.source, CAST(floor(s.q / 5) AS BIGINT) AS bucket
         |  FROM documents d JOIN s ON d.doc_id = s.doc_id),
         |b AS (SELECT source, bucket, count(*) AS n_sb FROM sc GROUP BY 1, 2),
         |qn AS (
         |  SELECT source, bucket,
         |    coalesce(sum(n_sb) OVER (PARTITION BY source ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_below,
         |    sum(n_sb) OVER (PARTITION BY source) AS n_source
         |  FROM b)
         |SELECT sc.doc_id, sc.source, sc.bucket,
         |  CAST(qn.n_source AS BIGINT) AS n_source,
         |  CAST(qn.cum_below AS BIGINT) AS cum_below,
         |  CAST(qn.cum_below AS DOUBLE) / CAST(qn.n_source AS DOUBLE) AS quantile,
         |  (qn.cum_below * 5 >= qn.n_source * 4) AS is_kept
         |FROM sc JOIN qn ON sc.source = qn.source AND sc.bucket = qn.bucket""".stripMargin,

    "q208_source_ks" -> q208Oracle,

    // q232: the q208 panel as a derived table; p-values quantized to 1e9
    // BIGINTs immediately after exp, BH step-up as the exact integer
    // comparison p_q·20·M ≤ 10⁹·i, i_max via a scalar max over the panel.
    "q232_drift_fdr" ->
      s"""WITH ks AS ($q208Oracle),
         |p AS (
         |  SELECT source, n_in, n_rest, ks_stat,
         |    least(CAST(floor(2 * exp(-2 * ks_stat * ks_stat
         |            * (CAST(n_in * n_rest AS DOUBLE)
         |               / CAST(n_in + n_rest AS DOUBLE))) * 1e9 + 0.5) AS BIGINT),
         |          1000000000) AS p_q
         |  FROM ks),
         |r AS (
         |  SELECT *,
         |    CAST(row_number() OVER (ORDER BY p_q, source) AS BIGINT) AS bh_rank,
         |    CAST(count(*) OVER () AS BIGINT) AS m_tests
         |  FROM p),
         |f AS (
         |  SELECT *, CASE WHEN p_q * 20 * m_tests <= bh_rank * 1000000000
         |                 THEN bh_rank END AS pass_rank
         |  FROM r),
         |mx AS (SELECT max(pass_rank) AS i_max FROM f)
         |SELECT source, n_in, n_rest, ks_stat,
         |  CAST(p_q AS DOUBLE) / 1e9 AS p_value,
         |  bh_rank, m_tests,
         |  CAST(bh_rank AS DOUBLE) / (20.0 * CAST(m_tests AS DOUBLE)) AS bh_crit,
         |  p_q * 20 <= 1000000000 AS is_significant_raw,
         |  coalesce(bh_rank <= i_max, false) AS is_significant_fdr
         |FROM f CROSS JOIN mx""".stripMargin,
    // q211: per-position substr explode, (doc, char) counts, 1e9-quantized
    // BIGINT entropy terms summed exactly, both tails flagged.
    "q211_char_entropy" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 1),
        |ch AS (
        |  SELECT doc_id, n_chars, substr(text, CAST(i AS INTEGER), 1) AS ch
        |  FROM (SELECT doc_id, text, n_chars,
        |               unnest(generate_series(1, n_chars)) AS i FROM d)),
        |c AS (
        |  SELECT doc_id, n_chars, ch, CAST(count(*) AS BIGINT) AS c
        |  FROM ch GROUP BY 1, 2, 3),
        |t AS (
        |  SELECT doc_id, n_chars,
        |    CAST(floor(-(CAST(c AS DOUBLE) / CAST(n_chars AS DOUBLE))
        |               * ln(CAST(c AS DOUBLE) / CAST(n_chars AS DOUBLE))
        |               * 1e9 + 0.5) AS BIGINT) AS term_q
        |  FROM c),
        |h AS (
        |  SELECT doc_id, n_chars,
        |         CAST(count(*) AS BIGINT) AS n_distinct_chars,
        |         CAST(sum(term_q) AS BIGINT) AS h_q
        |  FROM t GROUP BY 1, 2)
        |SELECT doc_id, n_chars, n_distinct_chars,
        |  CAST(h_q AS DOUBLE) / 1e9 AS entropy_nats,
        |  h_q < 2000000000 AS is_low_entropy,
        |  h_q > 4500000000 AS is_high_entropy
        |FROM h""".stripMargin,

    // q233: per-position substr explodes for the bigram counts AND the
    // first-char marginal (both over the n−1 bigram positions), the same
    // 1e9-quantized BIGINT entropy terms as q211, difference of exact
    // integer sums.
    "q233_entropy_rate" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 2),
        |g2 AS (
        |  SELECT doc_id, n_chars, substr(text, CAST(i AS INTEGER), 2) AS g
        |  FROM (SELECT doc_id, text, n_chars,
        |               unnest(generate_series(1, n_chars - 1)) AS i FROM d)),
        |c2 AS (
        |  SELECT doc_id, n_chars, g, CAST(count(*) AS BIGINT) AS c
        |  FROM g2 GROUP BY 1, 2, 3),
        |t2 AS (
        |  SELECT doc_id, n_chars,
        |    CAST(floor(-(CAST(c AS DOUBLE) / CAST(n_chars - 1 AS DOUBLE))
        |               * ln(CAST(c AS DOUBLE) / CAST(n_chars - 1 AS DOUBLE))
        |               * 1e9 + 0.5) AS BIGINT) AS tq
        |  FROM c2),
        |h2 AS (
        |  SELECT doc_id, n_chars,
        |         CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
        |         CAST(sum(tq) AS BIGINT) AS h2_q
        |  FROM t2 GROUP BY 1, 2),
        |g1 AS (
        |  SELECT doc_id, n_chars, substr(text, CAST(i AS INTEGER), 1) AS ch
        |  FROM (SELECT doc_id, text, n_chars,
        |               unnest(generate_series(1, n_chars - 1)) AS i FROM d)),
        |c1 AS (
        |  SELECT doc_id, n_chars, ch, CAST(count(*) AS BIGINT) AS c
        |  FROM g1 GROUP BY 1, 2, 3),
        |t1 AS (
        |  SELECT doc_id,
        |    CAST(floor(-(CAST(c AS DOUBLE) / CAST(n_chars - 1 AS DOUBLE))
        |               * ln(CAST(c AS DOUBLE) / CAST(n_chars - 1 AS DOUBLE))
        |               * 1e9 + 0.5) AS BIGINT) AS tq
        |  FROM c1),
        |h1 AS (SELECT doc_id, CAST(sum(tq) AS BIGINT) AS h1_q FROM t1 GROUP BY 1)
        |SELECT h2.doc_id, h2.n_chars, h2.n_distinct_bigrams,
        |  CAST(h2_q - h1_q AS DOUBLE) / 1e9 AS entropy_rate_nats,
        |  h2_q - h1_q < 700000000 AS is_repetitive,
        |  h2_q - h1_q > 3000000000 AS is_random
        |FROM h2 JOIN h1 USING (doc_id)""".stripMargin,
    "q115_normalize_text" ->
      """WITH n AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(
        |      regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
        |      '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_raw,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_raw,
        |  CAST(length(norm) AS BIGINT) AS n_chars_norm,
        |  CAST(CASE WHEN norm = '' THEN 0
        |       ELSE len(string_split(norm, ' ')) END AS BIGINT) AS n_tokens_norm,
        |  md5(norm) AS norm_hash
        |FROM n""".stripMargin,
    "q113_pmi_collocations" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |pc AS (
        |  SELECT toks[i] AS a, toks[i + 1] AS b, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |        FROM t WHERE len(toks) >= 2)
        |  GROUP BY 1, 2),
        |uc AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS ucnt
        |  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
        |tot AS (
        |  SELECT (SELECT CAST(sum(cnt) AS BIGINT) FROM pc) AS np,
        |         (SELECT CAST(sum(ucnt) AS BIGINT) FROM uc) AS n),
        |scored AS (
        |  SELECT pc.a, pc.b, pc.cnt,
        |    floor(ln((CAST(cnt AS DOUBLE) / CAST(np AS DOUBLE))
        |            / ((CAST(ua.ucnt AS DOUBLE) / CAST(n AS DOUBLE))
        |             * (CAST(ub.ucnt AS DOUBLE) / CAST(n AS DOUBLE))))
        |        * 1e9 + 0.5) / 1e9 AS pmi
        |  FROM pc
        |  JOIN uc ua ON pc.a = ua.tok
        |  JOIN uc ub ON pc.b = ub.tok
        |  CROSS JOIN tot
        |  WHERE cnt >= 5)
        |SELECT a, b, cnt, pmi FROM scored
        |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin,
    "q111_bpe_pair_counts" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |p AS (
        |  SELECT toks[i] AS a, toks[i + 1] AS b
        |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |        FROM t WHERE len(toks) >= 2)),
        |c AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY 1, 2),
        |top AS (SELECT * FROM c ORDER BY cnt DESC, a, b LIMIT 20)
        |SELECT a, b, cnt,
        |  CAST(row_number() OVER (ORDER BY cnt DESC, a, b) AS BIGINT) AS rank
        |FROM top""".stripMargin,
    // Replays the Spark side's greedy rank-order merge application with
    // a recursive CTE: state = (doc, sentinel-spaced token string, merge
    // index); each step rewrites the LEFTMOST occurrence of the current
    // merge's ' a b ' window (regexp_replace, first occurrence — tokens
    // are alphanumeric, no metachars) or advances to the next merge.
    // Leftmost-rewrite-until-fixpoint ≡ the single-pass left-to-right
    // fold: a rewrite can never create a matchable pair to its left,
    // because merged tokens contain '+' and merge operands never do.
    // Docs exit the walk at mi = max(rank)+1 with their final string.
    "q130_bpe_tokenize" -> q130OracleSql,

    // q202: q130's gated tokenization as a derived table + a per-language
    // integer rollup; the three ratios are single divisions of the sums.
    "q202_tokenizer_fertility" ->
      s"""SELECT d.lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(z.n_tokens_before) AS BIGINT) AS n_words,
         |  CAST(sum(z.n_tokens_after) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(z.n_merged_tokens) AS BIGINT) AS n_merged_tokens,
         |  CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
         |  CAST(sum(z.n_tokens_after) AS DOUBLE)
         |    / CAST(sum(z.n_tokens_before) AS DOUBLE) AS fertility,
         |  CAST(sum(d.n_chars) AS DOUBLE)
         |    / CAST(sum(z.n_tokens_after) AS DOUBLE) AS chars_per_token,
         |  CAST(sum(z.n_merged_tokens) AS DOUBLE)
         |    / CAST(sum(z.n_tokens_after) AS DOUBLE) AS merged_frac
         |FROM ($q130OracleSql) z JOIN documents d USING (doc_id)
         |GROUP BY d.lang""".stripMargin,
    // Replays Sennrich's iterative fit itself — see bpeFitReplaySql.
    "q134_bpe_fit_apply" -> bpeFitReplaySql(5),

    // q144: the SAME replay generated at 256 stages (the fit SEQUENCE is
    // what's gated; the Spark side is the delta-maintained fit, which
    // must land on the identical merge list to hash-match). DuckDB runs
    // the ~220 KB statement in ~25 s at sf0.01 — measured before gating.
    "q144_bpe_fit_delta" -> bpeFitReplaySql(256),
    // q210: the batched algorithm replayed stage by stage — candidate
    // ranking, greedy disjoint selection, and batch apply all pinned
    // (see the def comment; sequential-equivalence is BpeSpec's claim,
    // scoped to non-interacting fixtures).
    "q210_bpe_fit_batched" -> bpeBatchedReplaySql(BpeBatchRounds, BpeBatchSize),
    "q151_vocab_coverage" -> bpeCoverageSql(256, BpeCoverageCheckpoints),

    "q110_corpus_build" ->
      s"""WITH t AS (SELECT doc_id, text, lang, string_split(text, ' ') AS toks FROM documents),
         |m AS (
         |  SELECT doc_id, text, lang,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio,
         |    CAST(len(list_filter(toks, x -> list_contains([$enList], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
         |    CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio
         |  FROM t),
         |kept AS (
         |  SELECT doc_id, text, n_tokens FROM (
         |    SELECT *,
         |      least(CAST(n_tokens AS DOUBLE) / 50, 1.0) * 25 + distinct_ratio * 25 +
         |      least(stopword_ratio * 5, 1.0) * 25 + (1.0 - least(punct_ratio * 10, 1.0)) * 25 AS q
         |    FROM m WHERE lang IN ('en', 'de', 'fr'))
         |  WHERE q >= 60),
         |ded AS (
         |  SELECT doc_id, n_tokens FROM (
         |    SELECT doc_id, n_tokens,
         |           min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
         |    FROM kept)
         |  WHERE doc_id = canonical_id),
         |cum AS (
         |  SELECT doc_id, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |  FROM ded)
         |SELECT CAST(floor((cum_tokens - n_tokens) / 5000.0) AS BIGINT) AS shard_id,
         |  count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM cum GROUP BY 1""".stripMargin,
    "q34_dedup_exact" ->
      """SELECT doc_id, md5(text) AS text_hash,
        |  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
        |  count(*) OVER (PARTITION BY md5(text)) AS group_size,
        |  doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
        |FROM documents""".stripMargin,
    "q35_jaccard_pairs" -> jaccard05OracleSql,
    "q108_containment_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)),
        |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS tg
        |  FROM documents),
        |ex AS (SELECT doc_id, CAST(len(tg) AS BIGINT) AS n_shingles, unnest(tg) AS shingle FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.n_shingles AS size_a, b.n_shingles AS size_b, COUNT(*) AS shared
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle
        |  WHERE a.n_shingles < b.n_shingles
        |     OR (a.n_shingles = b.n_shingles AND a.doc_id < b.doc_id)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_a, doc_b, size_a, size_b, shared,
        |  CAST(shared AS DOUBLE) / CAST(size_a AS DOUBLE) AS containment
        |FROM pairs
        |WHERE CAST(shared AS DOUBLE) / CAST(size_a AS DOUBLE) >= 0.8""".stripMargin,
    // Mirrors the Spark side: every stride-1 25-char gram with its
    // position, grams present in ≥2 documents mark their [pos, pos+25)
    // extents, a per-doc gaps-and-islands pass merges extents into
    // maximal spans. Zero-filled per input doc.
    "q128_exact_substr" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(generate_series(1, len - 24)) AS pos
        |  FROM d WHERE len >= 25),
        |g AS (
        |  SELECT p.doc_id, p.pos, substr(d.text, CAST(p.pos AS INTEGER), 25) AS gram
        |  FROM pos p JOIN d USING (doc_id)),
        |shared AS (
        |  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
        |cov AS (SELECT g.doc_id, g.pos FROM g JOIN shared USING (gram)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(MAX(pos + 25) OVER (
        |           PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |         THEN 1 ELSE 0 END AS new_span
        |  FROM cov),
        |isl2 AS (
        |  SELECT doc_id, pos,
        |    SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + 25 AS e
        |  FROM isl2 GROUP BY 1, 2),
        |per_doc AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |         CAST(SUM(e - s) AS BIGINT) AS dup_chars,
        |         CAST(MAX(e - s) AS BIGINT) AS longest_span
        |  FROM spans GROUP BY 1),
        |np AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_positions
        |       FROM cov GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(np.n_dup_positions, 0) AS n_dup_positions,
        |  coalesce(per_doc.n_spans, 0) AS n_spans,
        |  coalesce(per_doc.dup_chars, 0) AS dup_chars,
        |  coalesce(per_doc.longest_span, 0) AS longest_span
        |FROM d LEFT JOIN np USING (doc_id) LEFT JOIN per_doc USING (doc_id)""".stripMargin,
    // q128's span chain extended with the gap/reassembly readout: gaps =
    // LAG-derived segments between consecutive spans plus the tail, the
    // residual = ordered string_agg of the gap substrings.
    "q167_substr_remediate" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(generate_series(1, len - 24)) AS pos
        |  FROM d WHERE len >= 25),
        |g AS (
        |  SELECT p.doc_id, p.pos, substr(d.text, CAST(p.pos AS INTEGER), 25) AS gram
        |  FROM pos p JOIN d USING (doc_id)),
        |shared AS (
        |  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
        |cov AS (SELECT g.doc_id, g.pos FROM g JOIN shared USING (gram)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(MAX(pos + 25) OVER (
        |           PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |         THEN 1 ELSE 0 END AS new_span
        |  FROM cov),
        |isl2 AS (
        |  SELECT doc_id, pos,
        |    SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + 25 AS e
        |  FROM isl2 GROUP BY 1, 2),
        |gaps AS (
        |  SELECT doc_id,
        |         coalesce(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS gs,
        |         s AS ge
        |  FROM spans
        |  UNION ALL
        |  SELECT sp.doc_id, MAX(sp.e) AS gs, CAST(d.len + 1 AS BIGINT) AS ge
        |  FROM spans sp JOIN d USING (doc_id) GROUP BY sp.doc_id, d.len),
        |resid AS (
        |  SELECT gp.doc_id,
        |         string_agg(substr(d.text, CAST(gp.gs AS INTEGER),
        |                           CAST(gp.ge - gp.gs AS INTEGER)),
        |                    '' ORDER BY gp.gs) AS r
        |  FROM gaps gp JOIN d USING (doc_id)
        |  GROUP BY gp.doc_id)
        |SELECT d.doc_id,
        |  CAST(length(coalesce(r.r, d.text)) AS BIGINT) AS clean_chars,
        |  CAST(d.len - length(coalesce(r.r, d.text)) AS BIGINT) AS dup_chars,
        |  CASE WHEN d.len = 0 THEN CAST(1.0 AS DOUBLE)
        |       ELSE CAST(length(coalesce(r.r, d.text)) AS DOUBLE)
        |              / CAST(d.len AS DOUBLE) END AS kept_frac,
        |  length(coalesce(r.r, d.text)) >= 100 AS keep,
        |  coalesce(r.r, d.text) AS residual_text
        |FROM d LEFT JOIN resid r USING (doc_id)""".stripMargin,
    "q169_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks,
        |             CAST(ceil(len(toks) / 20.0) AS BIGINT) AS n_chunks FROM t),
        |ch AS (
        |  SELECT doc_id, n_chunks, i AS chunk_idx,
        |         array_to_string(list_slice(toks, CAST(i * 20 + 1 AS INTEGER),
        |                                    CAST(i * 20 + 20 AS INTEGER)), ' ') AS chunk_text,
        |         least(n_toks - i * 20, 20) AS chunk_toks
        |  FROM (SELECT doc_id, toks, n_toks, n_chunks,
        |               unnest(generate_series(0, n_chunks - 1)) AS i FROM n)),
        |k AS (
        |  SELECT *, (doc_id * 1048576 + chunk_idx) =
        |            MIN(doc_id * 1048576 + chunk_idx) OVER (PARTITION BY chunk_text)
        |              AS keep_chunk
        |  FROM ch)
        |SELECT doc_id,
        |  CAST(MAX(n_chunks) AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN keep_chunk THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
        |  CAST(SUM(CASE WHEN keep_chunk THEN chunk_toks ELSE 0 END) AS BIGINT) AS kept_tokens,
        |  coalesce(string_agg(CASE WHEN keep_chunk THEN chunk_text END,
        |                      ' ' ORDER BY chunk_idx), '') AS residual_text
        |FROM k GROUP BY doc_id""".stripMargin,

    // q225: the CDC chunk CTE chain (shared builder — the boundary
    // polynomial is generated from CdcChunkArray.boundaryHashSql for
    // both engines) + q169's first-occurrence/reassembly tail with ''
    // as the joiner (CDC chunks partition the exact char stream).
    "q225_cdc_chunk_dedup" ->
      s"""WITH ${cdcChunkCtesSql("documents", "c")}
         |SELECT doc_id,
         |  CAST(MAX(n_chunks) AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN keep_chunk THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
         |  CAST(SUM(CASE WHEN keep_chunk THEN chunk_chars ELSE 0 END) AS BIGINT) AS kept_chars,
         |  coalesce(string_agg(CASE WHEN keep_chunk THEN chunk_text END,
         |                      '' ORDER BY chunk_idx), '') AS residual_text
         |FROM ck GROUP BY doc_id""".stripMargin,

    // q228: the same lattice via unnest; DIV spelled // (q218's rule).
    "q228_k_anonymity_sweep" ->
      """WITH lat AS (
        |  SELECT w AS bucket_width, lang, source, n_chars // w AS len_bucket,
        |         CAST(count(*) AS BIGINT) AS cell_docs
        |  FROM documents, (SELECT unnest([1, 10, 100, 1000]) AS w)
        |  GROUP BY 1, 2, 3, 4),
        |summ AS (
        |  SELECT bucket_width,
        |    CAST(count(*) AS BIGINT) AS n_cells,
        |    CAST(SUM(CASE WHEN cell_docs < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_cells,
        |    CAST(SUM(CASE WHEN cell_docs < 5 THEN cell_docs ELSE 0 END) AS BIGINT) AS n_risky_docs
        |  FROM lat GROUP BY 1),
        |s2 AS (
        |  SELECT *, n_risky_docs = 0 AS satisfies_k,
        |    MIN(CASE WHEN n_risky_docs = 0 THEN bucket_width END) OVER () AS best,
        |    MAX(bucket_width) OVER () AS coarsest
        |  FROM summ)
        |SELECT CAST(bucket_width AS BIGINT) AS bucket_width, n_cells,
        |  n_risky_cells, n_risky_docs, satisfies_k,
        |  bucket_width = coalesce(best, coarsest) AS is_chosen
        |FROM s2""".stripMargin,

    // q259: same lattice + cell×lang completion via the global lang
    // frame, identical integer cross-multiplication and guarded
    // division.
    "q259_t_closeness_sweep" ->
      """WITH lat AS (
        |  SELECT w.bucket_width, d.source,
        |         d.n_chars // w.bucket_width AS len_bucket, d.lang
        |  FROM documents d CROSS JOIN
        |    (SELECT CAST(unnest([1, 10, 100, 1000]) AS BIGINT) AS bucket_width) w),
        |cl AS (
        |  SELECT bucket_width, source, len_bucket, lang,
        |         CAST(count(*) AS BIGINT) AS n_cl
        |  FROM lat GROUP BY 1, 2, 3, 4),
        |cell AS (
        |  SELECT bucket_width, source, len_bucket,
        |         CAST(sum(n_cl) AS BIGINT) AS n_cell
        |  FROM cl GROUP BY 1, 2, 3),
        |gl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l
        |       FROM documents GROUP BY 1),
        |gt AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM documents),
        |full0 AS (
        |  SELECT c.bucket_width, c.source, c.len_bucket, c.n_cell,
        |         gl.lang, gl.n_l,
        |         CAST(coalesce(x.n_cl, 0) AS BIGINT) AS n_cl
        |  FROM cell c CROSS JOIN gl
        |  LEFT JOIN cl x ON x.bucket_width = c.bucket_width
        |                AND x.source = c.source
        |                AND x.len_bucket = c.len_bucket
        |                AND x.lang = gl.lang),
        |pc AS (
        |  -- HUGEINT mirrors the Spark side's DECIMAL(38,0): BIGINT would
        |  -- overflow (raise) at n_cl*n_tot ~ N^2 for web-scale N
        |  SELECT f.bucket_width, f.source, f.len_bucket, f.n_cell, gt.n_tot,
        |         sum(abs(CAST(f.n_cl AS HUGEINT) * gt.n_tot
        |                 - CAST(f.n_l AS HUGEINT) * f.n_cell)) AS tvd_num
        |  FROM full0 f CROSS JOIN gt
        |  GROUP BY 1, 2, 3, 4, 5),
        |px AS (
        |  SELECT bucket_width,
        |    CAST(tvd_num AS DOUBLE)
        |      / (2.0 * CAST(n_tot AS DOUBLE) * CAST(n_cell AS DOUBLE)) AS tvd,
        |    (tvd_num * 10 > CAST(8 AS HUGEINT) * n_tot * n_cell) AS violates
        |  FROM pc)
        |SELECT bucket_width, CAST(count(*) AS BIGINT) AS n_cells,
        |  max(tvd) AS max_tvd,
        |  CAST(sum(CASE WHEN violates THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating_cells,
        |  sum(CASE WHEN violates THEN 1 ELSE 0 END) = 0 AS satisfies_t
        |FROM px GROUP BY 1""".stripMargin,

    // q249: same 4-width lattice as q228, per-cell DISTINCT lang count,
    // identical all-integer rollup.
    "q249_l_diversity_sweep" ->
      """WITH lat AS (
        |  SELECT w.bucket_width, d.source,
        |         d.n_chars // w.bucket_width AS len_bucket, d.lang
        |  FROM documents d CROSS JOIN
        |    (SELECT CAST(unnest([1, 10, 100, 1000]) AS BIGINT) AS bucket_width) w),
        |cells AS (
        |  SELECT bucket_width, source, len_bucket,
        |         CAST(count(DISTINCT lang) AS BIGINT) AS cell_l,
        |         CAST(count(*) AS BIGINT) AS cell_docs
        |  FROM lat GROUP BY 1, 2, 3)
        |SELECT bucket_width, CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(min(cell_l) AS BIGINT) AS min_l,
        |  CAST(sum(CASE WHEN cell_l < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_low_diversity_cells,
        |  CAST(sum(CASE WHEN cell_l < 3 THEN cell_docs ELSE 0 END) AS BIGINT)
        |    AS n_exposed_docs,
        |  sum(CASE WHEN cell_l < 3 THEN 1 ELSE 0 END) = 0 AS satisfies_l
        |FROM cells GROUP BY 1""".stripMargin,

    // q227: the one-shot CDC restatement of the incremental serve —
    // arrival-order keep via the parity-leading packed key (q172's
    // oracle discipline), filtered to the delta half.
    "q227_cdc_incremental" ->
      s"""WITH ${cdcChunkCtesSql("documents", "c",
             "(doc_id % 2) * 17592186044416 + doc_id * 1048576 + chunk_idx")}
         |SELECT doc_id,
         |  CAST(MAX(n_chunks) AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN keep_chunk THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
         |  CAST(SUM(CASE WHEN keep_chunk THEN chunk_chars ELSE 0 END) AS BIGINT) AS kept_chars,
         |  coalesce(string_agg(CASE WHEN keep_chunk THEN chunk_text END,
         |                      '' ORDER BY chunk_idx), '') AS residual_text
         |FROM ck WHERE doc_id % 2 = 1 GROUP BY doc_id""".stripMargin,

    // q226: both chunkers replayed over the SAME prefix-edited union
    // corpus — fixed-token chunks via q169's CTE arithmetic, CDC via
    // the shared builder — measured on the copies only.
    "q226_cdc_realign_audit" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
         |  UNION ALL
         |  SELECT doc_id + 1000000, 'XQZV7 ' || text FROM documents
         |  WHERE text IS NOT NULL),
         |ft AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
         |fn AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks,
         |              CAST(ceil(len(toks) / 20.0) AS BIGINT) AS n_chunks FROM ft),
         |fch AS (
         |  SELECT doc_id, i AS chunk_idx,
         |         array_to_string(list_slice(toks, CAST(i * 20 + 1 AS INTEGER),
         |                                    CAST(i * 20 + 20 AS INTEGER)), ' ') AS chunk_text,
         |         least(n_toks - i * 20, 20) AS chunk_toks
         |  FROM (SELECT doc_id, toks, n_toks, n_chunks,
         |               unnest(generate_series(0, n_chunks - 1)) AS i FROM fn)),
         |fk AS (
         |  SELECT *, (doc_id * 1048576 + chunk_idx) =
         |            MIN(doc_id * 1048576 + chunk_idx) OVER (PARTITION BY chunk_text)
         |              AS keep_chunk
         |  FROM fch),
         |fstat AS (
         |  SELECT 'fixed_token' AS method,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_copy_docs,
         |    CAST(SUM(CASE WHEN NOT keep_chunk THEN chunk_toks ELSE 0 END) AS BIGINT) AS dup_units,
         |    CAST(SUM(chunk_toks) AS BIGINT) AS total_units
         |  FROM fk WHERE doc_id >= 1000000),
         |${cdcChunkCtesSql("corpus", "c")},
         |cstat AS (
         |  SELECT 'cdc' AS method,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_copy_docs,
         |    CAST(SUM(CASE WHEN NOT keep_chunk THEN chunk_chars ELSE 0 END) AS BIGINT) AS dup_units,
         |    CAST(SUM(chunk_chars) AS BIGINT) AS total_units
         |  FROM ck WHERE doc_id >= 1000000)
         |SELECT method, n_copy_docs, dup_units, total_units,
         |  CAST(dup_units AS DOUBLE) / CAST(total_units AS DOUBLE) AS dup_frac
         |FROM (SELECT * FROM fstat UNION ALL SELECT * FROM cstat)""".stripMargin,

    "q170_neardup_decontam" -> neardupDecontamOracleSql,
    "q187_source_jsd" -> {
      def frac(c: String, t: String) = s"CAST($c AS DOUBLE) / CAST($t AS DOUBLE)"
      val p = frac("cnt_a", "tot_a")
      val q = frac("cnt_b", "tot_b")
      val m = s"(($p + $q) / 2)"
      s"""WITH tok AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
         |cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
         |        FROM tok GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS tot
         |        FROM cnt GROUP BY 1),
         |vocab AS (SELECT DISTINCT tok FROM cnt),
         |pairs AS (SELECT a.source AS source_a, b.source AS source_b
         |          FROM tot a CROSS JOIN tot b WHERE a.source < b.source),
         |lat AS (
         |  SELECT p.source_a, p.source_b, v.tok,
         |    coalesce(ca.cnt, 0) AS cnt_a, coalesce(cb.cnt, 0) AS cnt_b,
         |    ta.tot AS tot_a, tb.tot AS tot_b
         |  FROM pairs p CROSS JOIN vocab v
         |  LEFT JOIN cnt ca ON ca.source = p.source_a AND ca.tok = v.tok
         |  LEFT JOIN cnt cb ON cb.source = p.source_b AND cb.tok = v.tok
         |  JOIN tot ta ON ta.source = p.source_a
         |  JOIN tot tb ON tb.source = p.source_b),
         |terms AS (
         |  SELECT source_a, source_b,
         |    floor((CASE WHEN $p > 0 THEN 0.5 * $p * ln($p / $m) ELSE 0.0 END
         |         + CASE WHEN $q > 0 THEN 0.5 * $q * ln($q / $m) ELSE 0.0 END)
         |        * 1e9 + 0.5) / 1e9 AS t
         |  FROM lat)
         |SELECT source_a, source_b,
         |  CAST(sum(CAST(t AS DECIMAL(18,9))) AS DOUBLE) AS jsd
         |FROM terms GROUP BY 1, 2""".stripMargin
    },
    // Square-chain associations mirror the Spark column construction
    // EXACTLY ((s·s)·(s·s), never pow()) so every double is bit-identical.
    "q174_lsh_parameter_plan" ->
      """WITH grid AS (
        |  SELECT b, r
        |  FROM (SELECT unnest([1, 2, 4, 8, 16]) AS b),
        |       (SELECT unnest([1, 2, 4, 8]) AS r)),
        |samp AS (SELECT unnest(generate_series(0, 199)) AS i),
        |e AS (
        |  SELECT b, r, i, (CAST(i AS DOUBLE) + 0.5) / 200 AS s
        |  FROM grid, samp),
        |p AS (
        |  SELECT b, r, i,
        |    CASE r WHEN 1 THEN s WHEN 2 THEN s*s WHEN 4 THEN (s*s)*(s*s)
        |           ELSE ((s*s)*(s*s))*((s*s)*(s*s)) END AS sr
        |  FROM e),
        |u AS (SELECT b, r, i, 1.0 - sr AS u FROM p),
        |c AS (
        |  SELECT b, r, i,
        |    1.0 - CASE b WHEN 1 THEN u WHEN 2 THEN u*u
        |                 WHEN 4 THEN (u*u)*(u*u)
        |                 WHEN 8 THEN ((u*u)*(u*u))*((u*u)*(u*u))
        |                 ELSE (((u*u)*(u*u))*((u*u)*(u*u)))*(((u*u)*(u*u))*((u*u)*(u*u)))
        |            END AS coll
        |  FROM u),
        |q AS (SELECT b, r, i, CAST(floor(coll * 1e12) AS BIGINT) AS qp FROM c),
        |sc0 AS (
        |  SELECT b, r,
        |    SUM(CASE WHEN i < 100 THEN qp ELSE 0 END) AS fp_q0,
        |    SUM(CASE WHEN i >= 100 THEN 1000000000000 - qp ELSE 0 END) AS fn_q0
        |  FROM q GROUP BY b, r),
        |sc AS (
        |  SELECT CAST(b AS BIGINT) AS b, CAST(r AS BIGINT) AS r,
        |    CAST(b * r AS BIGINT) AS sig_len,
        |    CAST(fp_q0 AS BIGINT) AS fp_q, CAST(fn_q0 AS BIGINT) AS fn_q
        |  FROM sc0),
        |sc2 AS (SELECT *, fp_q + 10 * fn_q AS cost_q FROM sc),
        |bb AS (
        |  SELECT cost_q AS c, sig_len AS s, r AS r2 FROM sc2
        |  WHERE sig_len <= 16 ORDER BY cost_q, sig_len, r DESC LIMIT 1)
        |SELECT sc2.b, sc2.r, sc2.sig_len, sc2.fp_q, sc2.fn_q, sc2.cost_q,
        |  (sc2.sig_len <= 16 AND sc2.cost_q = bb.c AND sc2.sig_len = bb.s
        |   AND sc2.r = bb.r2) AS is_best
        |FROM sc2 CROSS JOIN bb""".stripMargin,
    // Arrival-order one-shot replay: the packed key puts every EVEN
    // (base) occurrence before any ODD (delta) one, then (doc_id,
    // chunk_idx) — a delta chunk survives iff the partition min is its
    // own key. Valid while doc_id < 2^24 (the 2^44 parity bit clears the
    // 2^20-shifted doc range) — beyond it the doc_id bits bleed into the
    // parity bit SILENTLY, not as an overflow. Oracle-only arithmetic on
    // testdata ids (< 2^16 at every SF); the engine-side packing routes
    // through Dedup.packedChunkKey, which raises loudly on bound breaks.
    "q172_chunk_dedup_incremental" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks,
        |             CAST(ceil(len(toks) / 20.0) AS BIGINT) AS n_chunks FROM t),
        |ch AS (
        |  SELECT doc_id, n_chunks, i AS chunk_idx,
        |         array_to_string(list_slice(toks, CAST(i * 20 + 1 AS INTEGER),
        |                                    CAST(i * 20 + 20 AS INTEGER)), ' ') AS chunk_text,
        |         least(n_toks - i * 20, 20) AS chunk_toks
        |  FROM (SELECT doc_id, toks, n_toks, n_chunks,
        |               unnest(generate_series(0, n_chunks - 1)) AS i FROM n)),
        |k AS (
        |  SELECT *,
        |    ((doc_id % 2) * 17592186044416 + doc_id * 1048576 + chunk_idx) =
        |    MIN((doc_id % 2) * 17592186044416 + doc_id * 1048576 + chunk_idx)
        |      OVER (PARTITION BY chunk_text) AS keep_chunk
        |  FROM ch)
        |SELECT doc_id,
        |  CAST(MAX(n_chunks) AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN keep_chunk THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
        |  CAST(SUM(CASE WHEN keep_chunk THEN chunk_toks ELSE 0 END) AS BIGINT) AS kept_tokens,
        |  coalesce(string_agg(CASE WHEN keep_chunk THEN chunk_text END,
        |                      ' ' ORDER BY chunk_idx), '') AS residual_text
        |FROM k WHERE doc_id % 2 = 1 GROUP BY doc_id""".stripMargin,
    "q36_minhash_lsh" -> minhashLshOracleSql,
    "q152_minhash_accuracy" -> minhashAccuracyOracleSql,
    "q158_edit_distance_dedup" ->
      s"""${minhashCtesSql}
        |SELECT c.doc_a, c.doc_b,
        |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance,
        |  CAST(greatest(length(da.text), length(db.text)) AS BIGINT) AS max_len,
        |  CAST(1.0 AS DOUBLE) - CAST(levenshtein(da.text, db.text) AS DOUBLE)
        |    / CAST(greatest(length(da.text), length(db.text)) AS DOUBLE)
        |    AS edit_similarity,
        |  levenshtein(da.text, db.text) * 5 <= greatest(length(da.text), length(db.text))
        |    AS is_near_dup_edit
        |FROM cand c
        |JOIN documents da ON c.doc_a = da.doc_id
        |JOIN documents db ON c.doc_b = db.doc_id""".stripMargin,

    // q145 reuses q36's FULL-CORPUS oracle verbatim: signatures are
    // doc-local, so the persisted-index incremental candidate set must
    // equal the one-shot set exactly (q139/q141's gate pattern).
    "q145_lsh_index_incremental" -> minhashLshOracleSql,
    // q36's verify chain replayed at the Scala-planned banding (the
    // planner is corpus-independent, so embedding its output as
    // constants is sound; TextSpec gates the replay against q174)
    "q199_planned_lsh_mining" -> {
      val (bands, r) = plannedLsh
      s"""${minhashCtesSql(bands * r, r)}
      |SELECT c.doc_a, c.doc_b,
      |  CAST(len(list_intersect(sa.tg, sb.tg)) AS DOUBLE)
      |    / CAST(len(sa.tg) + len(sb.tg) - len(list_intersect(sa.tg, sb.tg)) AS DOUBLE) AS jaccard,
      |  CAST(len(list_intersect(sa.tg, sb.tg)) AS DOUBLE)
      |    / CAST(len(sa.tg) + len(sb.tg) - len(list_intersect(sa.tg, sb.tg)) AS DOUBLE) >= 0.5 AS is_near_dup,
      |  CAST($bands AS BIGINT) AS n_bands, CAST($r AS BIGINT) AS rows_per_band
      |FROM cand c JOIN sh sa ON c.doc_a = sa.doc_id JOIN sh sb ON c.doc_b = sb.doc_id""".stripMargin
    },
    // q213: the GLOBAL sliding window per rotation — DuckDB affords the
    // single-node row_number; the Spark side's bucketed two-level
    // equivalent must reproduce it exactly (that equivalence IS the
    // gate). Same simhash CTEs as q41: one fingerprint definition.
    "q213_snm_simhash" -> {
      s"""WITH $simhash64CtesSql,
         |vals AS (
         |  SELECT simhash, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(min(doc_id) AS BIGINT) AS canonical,
         |         lpad(to_hex(simhash), 16, '0') AS h
         |  FROM sh GROUP BY 1),
         |keys AS (
         |  SELECT r, h,
         |    CASE WHEN r = 0 THEN h
         |         ELSE substr(h, 4*r + 1) || substr(h, 1, 4*r) END AS k
         |  FROM vals CROSS JOIN (SELECT unnest([${(0 until SnmRotations).mkString(", ")}]) AS r)),
         |rk AS (
         |  SELECT r, h, row_number() OVER (PARTITION BY r ORDER BY k) AS rn
         |  FROM keys),
         |cand AS (
         |  SELECT DISTINCT least(a.h, b.h) AS sh_a, greatest(a.h, b.h) AS sh_b
         |  FROM rk a JOIN rk b
         |    ON a.r = b.r AND b.rn - a.rn BETWEEN 1 AND $SnmWindow)
         |SELECT c.sh_a, c.sh_b,
         |  CAST(bit_count(xor(va.simhash, vb.simhash)) AS BIGINT) AS hamming_distance,
         |  va.n_docs AS n_docs_a, va.canonical AS canonical_a,
         |  vb.n_docs AS n_docs_b, vb.canonical AS canonical_b
         |FROM cand c
         |JOIN vals va ON c.sh_a = va.h
         |JOIN vals vb ON c.sh_b = vb.h
         |WHERE bit_count(xor(va.simhash, vb.simhash)) <= $SnmMaxHamming""".stripMargin
    },
    // q215: the one-shot UNION SNM replay (global window per rotation
    // over ALL values, q213's machinery) restricted to pairs touching a
    // value with ZERO base-half docs — exactly the new-value set the
    // incremental probe mines. Union doc counts/canonicals ride along.
    "q215_snm_incremental" -> {
      s"""WITH $simhash64CtesSql,
         |sv AS (
         |  SELECT doc_id, simhash,
         |         md5('split|' || CAST(doc_id AS VARCHAR)) AS hex
         |  FROM sh),
         |valsU AS (
         |  SELECT simhash, lpad(to_hex(simhash), 16, '0') AS h,
         |         CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(min(doc_id) AS BIGINT) AS canonical,
         |         CAST(sum(CASE WHEN ${graft.functions.HexKeys.value16Sql()} % 100 < 50
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_base
         |  FROM sv GROUP BY 1, 2),
         |keys AS (
         |  SELECT r, h,
         |    CASE WHEN r = 0 THEN h
         |         ELSE substr(h, 4*r + 1) || substr(h, 1, 4*r) END AS k
         |  FROM valsU CROSS JOIN (SELECT unnest([${(0 until SnmRotations).mkString(", ")}]) AS r)),
         |rk AS (
         |  SELECT r, h, row_number() OVER (PARTITION BY r ORDER BY k) AS rn
         |  FROM keys),
         |cand AS (
         |  SELECT DISTINCT least(a.h, b.h) AS sh_a, greatest(a.h, b.h) AS sh_b
         |  FROM rk a JOIN rk b
         |    ON a.r = b.r AND b.rn - a.rn BETWEEN 1 AND $SnmWindow)
         |SELECT c.sh_a, c.sh_b,
         |  CAST(bit_count(xor(va.simhash, vb.simhash)) AS BIGINT) AS hamming_distance,
         |  va.n_docs AS n_docs_a, va.canonical AS canonical_a,
         |  (va.n_base = 0) AS is_new_a,
         |  vb.n_docs AS n_docs_b, vb.canonical AS canonical_b,
         |  (vb.n_base = 0) AS is_new_b
         |FROM cand c
         |JOIN valsU va ON c.sh_a = va.h
         |JOIN valsU vb ON c.sh_b = vb.h
         |WHERE bit_count(xor(va.simhash, vb.simhash)) <= $SnmMaxHamming
         |  AND (va.n_base = 0 OR vb.n_base = 0)""".stripMargin
    },

    // q214: sampled brute-force truth vs the q213 window replay, per
    // hamming distance — counts exact, recall one IEEE division.
    "q214_snm_recall" -> {
      s"""WITH $simhash64CtesSql,
         |vals AS (
         |  SELECT simhash, lpad(to_hex(simhash), 16, '0') AS h
         |  FROM sh GROUP BY 1, 2),
         |rate AS (
         |  SELECT CASE WHEN v = 0 THEN $SnmAuditMaxPct
         |              WHEN v > ${100L * SnmAuditTargetVals}
         |              THEN CAST(error('q214 audit budget exceeded') AS BIGINT)
         |              ELSE greatest(1, least($SnmAuditMaxPct,
         |                                     ${100L * SnmAuditTargetVals} // v)) END AS rate_pct
         |  FROM (SELECT count(*) AS v FROM vals)),
         |samp AS (
         |  SELECT simhash, h, md5('snm|' || h) AS hex FROM vals),
         |sv AS (
         |  SELECT simhash, h FROM samp, rate
         |  WHERE ${graft.functions.HexKeys.value16Sql()} % 100 < rate_pct),
         |truth AS (
         |  SELECT a.h AS sh_a, b.h AS sh_b,
         |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS d
         |  FROM sv a JOIN sv b ON a.h < b.h
         |  WHERE bit_count(xor(a.simhash, b.simhash)) BETWEEN 1 AND $SnmMaxHamming),
         |keys AS (
         |  SELECT r, h,
         |    CASE WHEN r = 0 THEN h
         |         ELSE substr(h, 4*r + 1) || substr(h, 1, 4*r) END AS k
         |  FROM vals CROSS JOIN (SELECT unnest([${(0 until SnmRotations).mkString(", ")}]) AS r)),
         |rk AS (
         |  SELECT r, h, row_number() OVER (PARTITION BY r ORDER BY k) AS rn
         |  FROM keys),
         |cand AS (
         |  SELECT DISTINCT least(a.h, b.h) AS sh_a, greatest(a.h, b.h) AS sh_b
         |  FROM rk a JOIN rk b
         |    ON a.r = b.r AND b.rn - a.rn BETWEEN 1 AND $SnmWindow)
         |SELECT t.d AS hamming_distance,
         |  CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(sum(CASE WHEN c.sh_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
         |  CAST(sum(CASE WHEN c.sh_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS recall
         |FROM truth t
         |LEFT JOIN cand c ON t.sh_a = c.sh_a AND t.sh_b = c.sh_b
         |GROUP BY 1""".stripMargin
    },
    "q41_simhash" -> {
      s"""WITH $simhash64CtesSql,
         |bands AS (
         |  SELECT doc_id, simhash, k AS band_idx, (simhash >> (48 - k * 16)) & 65535 AS band_val
         |  FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.simhash AS sh_a, b.simhash AS sh_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming_distance
         |FROM cand
         |WHERE bit_count(xor(sh_a, sh_b)) <= 3""".stripMargin
    },
    "q61_train_split" -> {
      val bucket = s"(${graft.functions.HexKeys.value16Sql()} % 100)"
      s"""WITH h AS (
         |  SELECT doc_id, lang, md5('split|' || CAST(doc_id AS VARCHAR)) AS hex FROM documents)
         |SELECT doc_id, lang,
         |  CAST($bucket AS BIGINT) AS split_bucket,
         |  CASE WHEN $bucket < 90 THEN 'train'
         |       WHEN $bucket < 95 THEN 'validation'
         |       ELSE 'test' END AS split
         |FROM h""".stripMargin
    },
    "q62_token_shards" -> q62Oracle,

    // q230: q62's oracle as a derived table + the shared HexKeys 32-bit
    // md5-prefix arithmetic per member, summed per shard.
    "q230_shard_manifest" -> {
      val term = graft.functions.HexKeys.value32Sql(0, "hex")
      s"""WITH sh AS (SELECT doc_id, n_tokens, shard_id FROM ($q62Oracle) s),
         |d AS (
         |  SELECT doc_id,
         |    md5(CAST(doc_id AS VARCHAR) || '|' || md5(text)) AS hex
         |  FROM documents),
         |j AS (
         |  SELECT sh.shard_id, sh.doc_id, sh.n_tokens, $term AS term
         |  FROM sh JOIN d USING (doc_id))
         |SELECT shard_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
         |  CAST(SUM(term) AS BIGINT) AS content_checksum,
         |  CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
         |  CAST(MAX(doc_id) AS BIGINT) AS last_doc_id
         |FROM j GROUP BY 1""".stripMargin
    },

    // q239: same term/bucket arithmetic, cumulative shard ids replayed
    // per subset (the q62 window), manifests diffed by checksum, one
    // conditional rollup per strategy.
    "q239_reshard_churn" -> {
      val term = graft.functions.HexKeys.value32Sql(0, "hex1")
      val hs   = graft.functions.HexKeys.value16Sql(0, "hex2")
      def packed(pred: String, name: String) =
        s"""$name AS (
           |  SELECT shard_id, CAST(sum(term) AS BIGINT) AS checksum FROM (
           |    SELECT term,
           |      CAST(floor((SUM(n_tokens) OVER (ORDER BY doc_id
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
           |        / 5000.0) AS BIGINT) AS shard_id
           |    FROM k WHERE $pred) z
           |  GROUP BY 1)""".stripMargin
      def hashed(pred: String, name: String) =
        s"""$name AS (
           |  SELECT hash_shard AS shard_id, CAST(sum(term) AS BIGINT) AS checksum
           |  FROM k WHERE $pred GROUP BY 1)""".stripMargin
      s"""WITH k AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    $term AS term,
         |    CAST($hs % 256 AS BIGINT) AS hash_shard
         |  FROM (SELECT doc_id, text,
         |          md5(CAST(doc_id AS VARCHAR) || '|' || md5(text)) AS hex1,
         |          md5('shard|' || CAST(doc_id AS VARCHAR)) AS hex2
         |        FROM documents)),
         |${packed("TRUE", "pfull")},
         |${packed("doc_id % 2 = 0", "pbase")},
         |${hashed("TRUE", "hfull")},
         |${hashed("doc_id % 2 = 0", "hbase")},
         |m AS (
         |  SELECT 'packed' AS strategy, f.shard_id, f.checksum,
         |         b.checksum AS base_checksum
         |  FROM pfull f LEFT JOIN pbase b USING (shard_id)
         |  UNION ALL
         |  SELECT 'hashed', f.shard_id, f.checksum, b.checksum
         |  FROM hfull f LEFT JOIN hbase b USING (shard_id)),
         |st AS (
         |  SELECT strategy,
         |    CASE WHEN base_checksum IS NULL THEN 'new'
         |         WHEN base_checksum = checksum THEN 'unchanged'
         |         ELSE 'changed' END AS status
         |  FROM m)
         |SELECT strategy,
         |  CAST(count(*) AS BIGINT) AS n_shards_full,
         |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unchanged,
         |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_changed,
         |  CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_new,
         |  CAST(sum(CASE WHEN status <> 'unchanged' THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS reupload_frac
         |FROM st GROUP BY strategy""".stripMargin
    },
    // Replays each packing stream's greedy fold as a recursive CTE (the
    // q67 recursion discipline): rn-ordered walk carrying (bin_seq,
    // fill), new bin exactly when the open bin would overflow.
    "q140_sequence_packing" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS stream_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM documents),
        |walk AS (
        |  SELECT stream_id, rn, doc_id, n, CAST(1 AS BIGINT) AS bin_seq, n AS fill
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.stream_id, t.rn, t.doc_id, t.n,
        |    CASE WHEN w.fill + t.n <= 512 THEN w.bin_seq ELSE w.bin_seq + 1 END,
        |    CASE WHEN w.fill + t.n <= 512 THEN w.fill + t.n ELSE t.n END
        |  FROM walk w JOIN t ON t.stream_id = w.stream_id AND t.rn = w.rn + 1)
        |SELECT doc_id, stream_id, bin_seq, n AS n_tokens, fill AS bin_fill_after
        |FROM walk""".stripMargin,

    // q251: q140's recursive greedy walk replayed once per capacity leg
    // (shared doc/stream CTE), identical stats rollups and waste
    // division order.
    "q251_packing_capacity_sweep" -> {
      def leg(c: Long) =
        s"""walk$c AS (
           |  SELECT stream_id, rn, doc_id, n, CAST(1 AS BIGINT) AS bin_seq, n AS fill
           |  FROM t WHERE rn = 1
           |  UNION ALL
           |  SELECT t.stream_id, t.rn, t.doc_id, t.n,
           |    CASE WHEN w.fill + t.n <= $c THEN w.bin_seq ELSE w.bin_seq + 1 END,
           |    CASE WHEN w.fill + t.n <= $c THEN w.fill + t.n ELSE t.n END
           |  FROM walk$c w JOIN t ON t.stream_id = w.stream_id AND t.rn = w.rn + 1),
           |a$c AS (
           |  SELECT CAST($c AS BIGINT) AS capacity,
           |    CAST(nb.n_bins AS BIGINT) AS n_bins,
           |    CAST(tt.total_tokens AS BIGINT) AS total_tokens,
           |    CAST(tt.n_oversized AS BIGINT) AS n_oversized,
           |    CAST($c * nb.n_bins AS BIGINT) AS capacity_tokens,
           |    1.0 - CAST(tt.total_tokens AS DOUBLE)
           |          / CAST($c * nb.n_bins AS DOUBLE) AS waste_frac
           |  FROM (SELECT sum(mx) AS n_bins FROM
           |          (SELECT stream_id, max(bin_seq) AS mx
           |           FROM walk$c GROUP BY 1)) nb
           |  CROSS JOIN (SELECT sum(n) AS total_tokens,
           |                sum(CASE WHEN n > $c THEN 1 ELSE 0 END) AS n_oversized
           |              FROM t) tt)""".stripMargin
      val caps = Seq(256L, 512L, 1024L, 2048L)
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS stream_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         |         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
         |  FROM documents),
         |${caps.map(leg).mkString(",\n")}
         |${caps.map(c => s"SELECT * FROM a$c").mkString("\nUNION ALL ")}""".stripMargin
    },

    "q68_stratified_sample" ->
      """WITH keyed AS (
        |  SELECT doc_id, lang, md5('sample|' || CAST(doc_id AS VARCHAR)) AS sample_key
        |  FROM documents)
        |SELECT doc_id, lang, sample_key, sample_rank
        |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY sample_key, doc_id) AS BIGINT) AS sample_rank
        |      FROM keyed)
        |WHERE sample_rank <= 50""".stripMargin,
    "q67_dedup_clusters" -> q67Oracle,

    // q207: q67's clusters as a derived table — canonicals joined to
    // token counts, weight = cluster size.
    "q207_dedup_weights" ->
      s"""SELECT c.doc_id, c.cluster_id,
         |  CAST(c.cluster_size AS BIGINT) AS weight, t.n_tokens,
         |  CAST(c.cluster_size * t.n_tokens AS BIGINT) AS weighted_tokens
         |FROM ($q67Oracle) c
         |JOIN (SELECT doc_id,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |      FROM documents) t USING (doc_id)
         |WHERE c.is_canonical""".stripMargin,
    // q149 must reproduce q67's components EXACTLY — the oracle is shared
    // on purpose: one reachability ground truth, two CC algorithms.
    // q67's clusters → size order statistics → 1e9-quantized ln gaps →
    // one final division per k (NULL on an all-equal tail, matching the
    // Spark guard).
    "q219_dup_cluster_spectrum" ->
      s"""WITH cl AS (SELECT doc_id, cluster_id FROM ($q67Oracle) c),
         |sizes AS (SELECT cluster_id, count(*) AS sz FROM cl GROUP BY 1),
         |top AS (
         |  SELECT sz, rk FROM (
         |    SELECT sz, row_number() OVER (ORDER BY sz DESC, cluster_id) AS rk
         |    FROM sizes)
         |  WHERE rk <= 21),
         |t AS (SELECT rk, sz,
         |        CAST(floor(1e9 * ln(CAST(sz AS DOUBLE)) + 0.5) AS BIGINT) AS tq
         |      FROM top),
         |p AS (SELECT rk, sz, tq,
         |        sum(tq) OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING) AS s,
         |        lead(tq) OVER (ORDER BY rk) AS tnext
         |      FROM t)
         |SELECT rk AS tail_rank, sz AS cluster_size,
         |  CASE WHEN s - rk * tnext = 0 THEN NULL
         |       ELSE CAST(rk AS DOUBLE) * 1e9 / CAST(s - rk * tnext AS DOUBLE) END AS hill_alpha
         |FROM p WHERE rk <= 20 AND tnext IS NOT NULL""".stripMargin,

    // q224: q67's clusters as a derived table; both buckets restate the
    // shared HexKeys hex-digit arithmetic; the per-cluster audit is the
    // same two COUNT(DISTINCT ...) the Spark agg computes.
    "q224_leakage_safe_split" -> {
      val hk = graft.functions.HexKeys
      val cb = s"(${hk.value16Sql(0, "chex")} % 100)"
      val nb = s"(${hk.value16Sql(0, "nhex")} % 100)"
      s"""WITH cl AS (
         |  SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
         |         md5('csplit|' || CAST(cluster_id AS VARCHAR)) AS chex
         |  FROM ($q67Oracle) c),
         |aware AS (
         |  SELECT doc_id, cluster_id, cluster_size,
         |    CAST($cb AS BIGINT) AS split_bucket,
         |    CASE WHEN $cb < 90 THEN 'train'
         |         WHEN $cb < 95 THEN 'validation' ELSE 'test' END AS split
         |  FROM cl),
         |nv AS (
         |  SELECT doc_id,
         |    CASE WHEN $nb < 90 THEN 'train'
         |         WHEN $nb < 95 THEN 'validation' ELSE 'test' END AS naive_split
         |  FROM (SELECT doc_id,
         |          md5('split|' || CAST(doc_id AS VARCHAR)) AS nhex
         |        FROM documents)),
         |j AS (SELECT a.*, nv.naive_split FROM aware a JOIN nv USING (doc_id)),
         |aud AS (
         |  SELECT cluster_id,
         |    CAST(count(DISTINCT naive_split) AS BIGINT) AS cluster_naive_splits,
         |    CAST(count(DISTINCT split) AS BIGINT) AS cluster_aware_splits
         |  FROM j GROUP BY 1)
         |SELECT j.doc_id, j.cluster_id, j.cluster_size, j.split_bucket,
         |  j.split, j.naive_split, a.cluster_naive_splits, a.cluster_aware_splits,
         |  (a.cluster_naive_splits > 1 AND j.cluster_size > 1) AS leak_risk_naive
         |FROM j JOIN aud a USING (cluster_id)""".stripMargin
    },

    // q231: cluster sizes from the q67 per-doc assignment, richness
    // statistics as one conditional-integer agg, doubles only in the
    // final single-row projection (bias-corrected Chao1 — no f2=0 branch).
    "q231_chao1_unseen" ->
      s"""WITH cl AS (SELECT doc_id, cluster_id FROM ($q67Oracle) c),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
         |       FROM cl GROUP BY 1),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS s_obs,
         |         CAST(sum(sz) AS BIGINT) AS n_docs,
         |         CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         |         CAST(sum(CASE WHEN sz = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
         |  FROM sz)
         |SELECT s_obs, n_docs, f1, f2,
         |  CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE) AS chao1_extra,
         |  CAST(s_obs AS DOUBLE)
         |    + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE) AS chao1_est,
         |  CAST(f1 AS DOUBLE) / CAST(n_docs AS DOUBLE) AS unseen_mass,
         |  1.0 - CAST(f1 AS DOUBLE) / CAST(n_docs AS DOUBLE) AS coverage_gt
         |FROM a""".stripMargin,

    // q236: global cluster sizes from the q67 assignment, source attach
    // by doc_id, one conditional-integer rollup per source, the
    // exhausted flag as the same integer cross-product comparison.
    "q236_source_novelty" ->
      s"""WITH cl AS (SELECT doc_id, cluster_size FROM ($q67Oracle) c),
         |j AS (SELECT d.source, cl.cluster_size
         |      FROM cl JOIN documents d USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN cluster_size = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  CAST(sum(CASE WHEN cluster_size = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS novelty_rate,
         |  sum(CASE WHEN cluster_size = 1 THEN 1 ELSE 0 END) * 10 < count(*)
         |    AS is_exhausted
         |FROM j GROUP BY source""".stripMargin,

    // q237: per-cluster savings (sum − max bytes), row_number DESC top-20
    // replaying the bounded heap (ties value-identical), prefix sum over
    // the 20-row frame, 1-row total cross-joined, NULL (not 0/0) on a
    // dup-free corpus.
    // q240: same (cluster, source) rollup, same ≤CrossSourceCap
    // eligibility, same canonical a<b self-join.
    "q240_cross_source_dup" ->
      s"""WITH cl AS (SELECT doc_id, cluster_id FROM ($q67Oracle) c),
         |cs AS (
         |  SELECT cluster_id, source, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM cl JOIN documents USING (doc_id) GROUP BY 1, 2),
         |el AS (
         |  SELECT cluster_id FROM cs GROUP BY 1
         |  HAVING count(*) BETWEEN 2 AND $CrossSourceCap),
         |e AS (SELECT cs.* FROM cs JOIN el USING (cluster_id))
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_shared_clusters,
         |  CAST(sum(a.n_docs) AS BIGINT) AS n_docs_a,
         |  CAST(sum(b.n_docs) AS BIGINT) AS n_docs_b
         |FROM e a JOIN e b
         |  ON a.cluster_id = b.cluster_id AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,

    // q263: the four shipped pair-set restatements (exact star edges,
    // q35 Jaccard, q36 confirmed, q41 simhash) unioned with tags, the
    // same pair-key self-join + lattice completion, guarded division.
    "q263_method_agreement" ->
      s"""WITH ex0 AS (
         |  SELECT md5(text) AS h, min(doc_id) AS mn, count(*) AS c
         |  FROM documents GROUP BY 1),
         |exedges AS (
         |  SELECT e.mn AS doc_a, d.doc_id AS doc_b
         |  FROM documents d JOIN ex0 e ON md5(d.text) = e.h
         |  WHERE e.c > 1 AND d.doc_id <> e.mn),
         |allp AS (
         |  SELECT doc_a, doc_b, 'exact' AS method FROM exedges
         |  UNION ALL
         |  SELECT doc_a, doc_b, 'jaccard' FROM ($jaccard05OracleSql) j
         |  UNION ALL
         |  SELECT doc_a, doc_b, 'minhash' FROM ($minhashLshOracleSql) m
         |  WHERE is_near_dup
         |  UNION ALL
         |  SELECT doc_a, doc_b, 'simhash' FROM (
         |    WITH $simhash64CtesSql,
         |    bands AS (
         |      SELECT doc_id, simhash, k AS band_idx,
         |             (simhash >> (48 - k * 16)) & 65535 AS band_val
         |      FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)),
         |    cand AS (
         |      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             a.simhash AS sh_a, b.simhash AS sh_b
         |      FROM bands a JOIN bands b
         |        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |       AND a.doc_id < b.doc_id)
         |    SELECT doc_a, doc_b FROM cand
         |    WHERE bit_count(xor(sh_a, sh_b)) <= 3) sh2),
         |cnt AS (SELECT method, CAST(count(*) AS BIGINT) AS n
         |        FROM allp GROUP BY 1),
         |ov AS (
         |  SELECT a.method AS method_a, b.method AS method_b,
         |         CAST(count(*) AS BIGINT) AS n_both
         |  FROM allp a JOIN allp b
         |    ON a.doc_a = b.doc_a AND a.doc_b = b.doc_b
         |   AND a.method <= b.method
         |  GROUP BY 1, 2),
         |ms AS (SELECT unnest(['exact', 'jaccard', 'minhash', 'simhash']) AS method),
         |lat AS (
         |  SELECT a.method AS method_a, b.method AS method_b
         |  FROM ms a CROSS JOIN ms b WHERE a.method <= b.method),
         |j AS (
         |  SELECT l.method_a, l.method_b,
         |    CAST(coalesce(ca.n, 0) AS BIGINT) AS n_a,
         |    CAST(coalesce(cb.n, 0) AS BIGINT) AS n_b,
         |    CAST(coalesce(ov.n_both, 0) AS BIGINT) AS n_both
         |  FROM lat l
         |  LEFT JOIN ov ON ov.method_a = l.method_a AND ov.method_b = l.method_b
         |  LEFT JOIN cnt ca ON ca.method = l.method_a
         |  LEFT JOIN cnt cb ON cb.method = l.method_b)
         |SELECT method_a, method_b, n_a, n_b, n_both,
         |  CASE WHEN n_a + n_b - n_both > 0
         |       THEN CAST(n_both AS DOUBLE) / CAST(n_a + n_b - n_both AS DOUBLE)
         |  END AS agreement
         |FROM j""".stripMargin,

    // q247: shared pair CTEs + one recursive min-label closure per
    // threshold leg seeded from edge ENDPOINTS only (matching the Spark
    // side's incident-nodes CC), identical integer rollups.
    "q247_threshold_sweep" -> {
      val legs = Seq(5, 6, 7, 8).map { t =>
        s"""e$t AS (
           |  SELECT doc_a AS s, doc_b AS d FROM jp WHERE jac >= 0.$t
           |  UNION SELECT doc_b, doc_a FROM jp WHERE jac >= 0.$t
           |  UNION SELECT doc_a, doc_b FROM eed
           |  UNION SELECT doc_b, doc_a FROM eed),
           |n$t AS (SELECT DISTINCT s AS id FROM e$t),
           |r$t AS (
           |  SELECT id, id AS r FROM n$t
           |  UNION
           |  SELECT rc.id, e.d FROM r$t rc JOIN e$t e ON rc.r = e.s),
           |c$t AS (SELECT id, min(r) AS cluster_id FROM r$t GROUP BY id),
           |g$t AS (
           |  SELECT c$t.cluster_id, CAST(count(*) AS BIGINT) AS sz,
           |         CAST(sum(b.nb) AS BIGINT) AS sum_nb,
           |         CAST(max(b.nb) AS BIGINT) AS max_nb
           |  FROM c$t JOIN byt b ON b.doc_id = c$t.id GROUP BY 1),
           |a$t AS (
           |  SELECT CAST($t AS BIGINT) AS threshold_x10,
           |         CAST(count(*) AS BIGINT) AS n_dup_clusters,
           |         CAST(coalesce(sum(sz - 1), 0) AS BIGINT) AS n_dup_docs,
           |         CAST(coalesce(sum(sum_nb - max_nb), 0) AS BIGINT) AS bytes_saved
           |  FROM g$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH RECURSIVE
         |$dupEdgeCtesSql,
         |jp AS (
         |  SELECT doc_a, doc_b,
         |         CAST(shared AS DOUBLE) / CAST(sa + sb - shared AS DOUBLE) AS jac
         |  FROM jpairs),
         |byt AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS nb FROM documents),
         |$legs
         |SELECT * FROM a5 UNION ALL SELECT * FROM a6
         |UNION ALL SELECT * FROM a7 UNION ALL SELECT * FROM a8""".stripMargin
    },

    // q244: q35's oracle as the truth derived table, one minhash
    // sig+band+cand chain per banding config (the q36 CTE builder
    // parameterized on rowsPerBand), identical s50 double literals and
    // guarded divisions.
    "q244_lsh_band_tuning" -> {
      val legs = LshTuneConfigs.map { case (b, r, s50) =>
        s"""SELECT CAST($b AS BIGINT) AS num_bands,
           |  CAST($r AS BIGINT) AS rows_per_band,
           |  CAST('$s50' AS DOUBLE) AS s50_crossover,
           |  CAST(count(*) AS BIGINT) AS n_candidates,
           |  CAST(coalesce(sum(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END), 0)
           |       AS BIGINT) AS n_true_pairs
           |FROM (${minhashCtesSql(8, r)}
           |      SELECT doc_a, doc_b FROM cand) c
           |LEFT JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH truth AS (
         |$jaccard05OracleSql),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth_total FROM truth),
         |legs AS (
         |$legs)
         |SELECT num_bands, rows_per_band, s50_crossover, n_candidates,
         |  n_true_pairs, n_truth_total,
         |  CASE WHEN n_candidates > 0
         |       THEN CAST(n_true_pairs AS DOUBLE) / CAST(n_candidates AS DOUBLE)
         |  END AS precision_05,
         |  CASE WHEN n_truth_total > 0
         |       THEN CAST(n_true_pairs AS DOUBLE) / CAST(n_truth_total AS DOUBLE)
         |  END AS recall_05
         |FROM legs CROSS JOIN nt""".stripMargin
    },

    "q237_dedup_roi" ->
      s"""WITH cl AS (SELECT doc_id, cluster_id FROM ($q67Oracle) c),
         |b AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS nb FROM documents),
         |pc AS (
         |  SELECT cluster_id, CAST(sum(nb) - max(nb) AS BIGINT) AS savings
         |  FROM cl JOIN b USING (doc_id) GROUP BY 1),
         |tot AS (SELECT CAST(sum(savings) AS BIGINT) AS total_savings FROM pc),
         |top AS (
         |  SELECT savings, rk FROM (
         |    SELECT savings,
         |           row_number() OVER (ORDER BY savings DESC, cluster_id) AS rk
         |    FROM pc WHERE savings > 0)
         |  WHERE rk <= 20),
         |p AS (
         |  SELECT rk, savings,
         |    CAST(sum(savings) OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING)
         |         AS BIGINT) AS cum
         |  FROM top)
         |SELECT CAST(rk AS BIGINT) AS roi_rank,
         |  savings AS savings_bytes, cum AS cum_savings_bytes,
         |  total_savings AS total_savings_bytes,
         |  CAST(cum AS DOUBLE) / CAST(total_savings AS DOUBLE) AS cum_frac
         |FROM p CROSS JOIN tot""".stripMargin,

    // q235: same md5 16-bit slice mod P on both engines, constant 3-way
    // lattice unnest, integer aggs with doubles only in the final ratios.
    "q235_shuffle_skew_plan" ->
      s"""WITH h AS (
         |  SELECT md5(text) AS hex, CAST(length(text) AS BIGINT) AS nb
         |  FROM documents),
         |l AS (SELECT hex, nb, unnest([32, 256, 1024]) AS p FROM h),
         |b AS (
         |  SELECT CAST(p AS BIGINT) AS n_partitions,
         |    CAST(${graft.functions.HexKeys.value16Sql(0)} % p AS BIGINT) AS bucket,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(sum(nb) AS BIGINT) AS n_bytes
         |  FROM l GROUP BY 1, 2),
         |r AS (
         |  SELECT n_partitions,
         |    CAST(sum(n_rows) AS BIGINT) AS total_rows,
         |    CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         |    CAST(count(*) AS BIGINT) AS n_buckets_used,
         |    CAST(max(n_rows) AS BIGINT) AS max_bucket_rows,
         |    CAST(max(n_bytes) AS BIGINT) AS max_bucket_bytes
         |  FROM b GROUP BY 1)
         |SELECT n_partitions, total_rows, total_bytes, n_buckets_used,
         |  max_bucket_rows, max_bucket_bytes,
         |  CAST(max_bucket_rows AS DOUBLE) * CAST(n_partitions AS DOUBLE)
         |    / CAST(total_rows AS DOUBLE) AS row_skew_ratio,
         |  CAST(max_bucket_bytes AS DOUBLE) * CAST(n_partitions AS DOUBLE)
         |    / CAST(total_bytes AS DOUBLE) AS byte_skew_ratio,
         |  max_bucket_bytes * n_partitions > total_bytes * 2 AS is_skewed
         |FROM r""".stripMargin,

    "q149_cc_star_contraction" -> q67Oracle,
    // q154's incremental maintenance must ALSO reproduce the one-shot
    // clusters exactly (the q141/q145 incremental-≡-one-shot gate).
    "q154_incremental_components" -> q67Oracle,
    "q155_source_dup_matrix" -> q155Oracle,

    // Heaps'-law curve + fit: the same first-occurrence cumulative
    // distinct (bucket = doc_id·B floor-div (max+1), pure BIGINT so
    // floor == truncation in both engines), the same quantized-ln /
    // decimal-sum / fixed-order OLS as q122.
    "q162_heaps_law" ->
      s"""WITH m AS (SELECT max(doc_id) + 1 AS md FROM documents),
         |tok AS (
         |  SELECT CAST((d.doc_id * $HeapsBuckets) // m.md AS BIGINT) + 1 AS b,
         |         unnest(string_split(d.text, ' ')) AS tok
         |  FROM documents d CROSS JOIN m),
         |tb AS (SELECT tok, b, count(*) AS c FROM tok GROUP BY 1, 2),
         |nt AS (SELECT b, CAST(sum(c) AS BIGINT) AS nt FROM tb GROUP BY 1),
         |nv AS (SELECT fb AS b, CAST(count(*) AS BIGINT) AS nv
         |       FROM (SELECT tok, min(b) AS fb FROM tb GROUP BY 1) GROUP BY 1),
         |curve AS (
         |  SELECT nt.b AS checkpoint,
         |    CAST(sum(nt.nt) OVER (ORDER BY nt.b) AS BIGINT) AS cum_tokens,
         |    CAST(sum(COALESCE(nv.nv, 0)) OVER (ORDER BY nt.b) AS BIGINT) AS cum_vocab
         |  FROM nt LEFT JOIN nv ON nt.b = nv.b),
         |pts AS (
         |  SELECT floor(ln(CAST(cum_tokens AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS x,
         |         floor(ln(CAST(cum_vocab AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS y
         |  FROM curve),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    SUM(CAST(x AS DECIMAL(18,9))) AS sx,
         |    SUM(CAST(y AS DECIMAL(18,9))) AS sy,
         |    SUM(CAST(x AS DECIMAL(18,9)) * CAST(x AS DECIMAL(18,9))) AS sxx,
         |    SUM(CAST(x AS DECIMAL(18,9)) * CAST(y AS DECIMAL(18,9))) AS sxy
         |  FROM pts),
         |f AS (
         |  SELECT CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         |    CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
         |    CAST(sxy AS DOUBLE) AS sxyd
         |  FROM a),
         |g AS (
         |  SELECT (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS beta,
         |         nd, sxd, syd
         |  FROM f)
         |SELECT curve.checkpoint, curve.cum_tokens, curve.cum_vocab,
         |  floor(g.beta * 1e9 + 0.5) / 1e9 AS heaps_beta,
         |  floor(((g.syd - g.beta * g.sxd) / g.nd) * 1e9 + 0.5) / 1e9 AS heaps_log_k
         |FROM curve CROSS JOIN g""".stripMargin,

    // Video near-dup: frame keys replayed arithmetically (seq = doc_id/4,
    // family block seq//8, parity offset), each distinct key's dHash
    // rebuilt with the q127 pixel arithmetic (f = key%16, v = key//16 —
    // syntheticPatternPng's two parameters), then the same exact
    // hash-join + integer containment threshold.
    "q164_video_neardup" ->
      """WITH vids AS (
        |  SELECT doc_id // 4 AS vid, (doc_id // 4) % 3 + 3 AS nf
        |  FROM documents WHERE doc_id % 4 = 0),
        |fx AS (SELECT vid, unnest(range(nf)) AS fidx FROM vids),
        |keys AS (SELECT vid, (vid // 8) * 16 + fidx + (vid % 2) AS k0 FROM fx),
        |ids AS (
        |  SELECT k0, CAST(k0 % 16 AS BIGINT) AS f, k0 // 16 AS v
        |  FROM (SELECT DISTINCT k0 FROM keys)),
        |px AS (SELECT k0, f, v, unnest(generate_series(0, 1151)) AS p FROM ids),
        |xy AS (SELECT k0, f, v, p % 36 AS x, p // 36 AS y FROM px),
        |g AS (
        |  SELECT k0, y // 4 AS r, x // 4 AS c,
        |    (x*(3 + f%5) + y*(5 + f%7) + f*37) % 180 + 10
        |      + CASE WHEN (x*7 + y*11 + v*53) % 23 = v % 23 THEN 60 ELSE 0 END AS gv
        |  FROM xy),
        |cells AS (
        |  SELECT k0, r, c, CAST(SUM(gv) AS BIGINT) AS s FROM g GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT a.k0, a.r * 8 + a.c AS kb,
        |         CASE WHEN a.s < b.s THEN 1 ELSE 0 END AS bit
        |  FROM cells a JOIN cells b
        |    ON a.k0 = b.k0 AND a.r = b.r AND b.c = a.c + 1
        |  WHERE a.c < 8),
        |h AS (
        |  SELECT k0,
        |    CAST(SUM(CASE WHEN kb < 32 THEN bit * (CAST(1 AS BIGINT) << kb) ELSE 0 END) AS BIGINT) AS h1,
        |    CAST(SUM(CASE WHEN kb >= 32 THEN bit * (CAST(1 AS BIGINT) << (kb - 32)) ELSE 0 END) AS BIGINT) AS h2
        |  FROM bits GROUP BY 1),
        |vh0 AS (SELECT DISTINCT vid, h1, h2 FROM keys JOIN h USING (k0)),
        |-- stop-frame cap mirrors the Spark side: hashes in > cap videos
        |-- are boilerplate frames, dropped before match AND denominators
        |hot AS (SELECT h1, h2, count(*) AS dfh FROM vh0 GROUP BY 1, 2),
        |vh AS (SELECT vh0.vid, vh0.h1, vh0.h2
        |       FROM vh0 JOIN hot USING (h1, h2) WHERE hot.dfh <= 64),
        |nd AS (SELECT vid, CAST(count(*) AS BIGINT) AS ndh FROM vh GROUP BY 1),
        |m AS (
        |  SELECT a.vid AS vid_a, b.vid AS vid_b, CAST(count(*) AS BIGINT) AS n_match
        |  FROM vh a JOIN vh b
        |    ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.vid < b.vid
        |  GROUP BY 1, 2)
        |SELECT m.vid_a, m.vid_b, m.n_match, na.ndh AS nd_a, nb.ndh AS nd_b,
        |  CAST(m.n_match AS DOUBLE) / CAST(least(na.ndh, nb.ndh) AS DOUBLE) AS containment
        |FROM m JOIN nd na ON na.vid = m.vid_a JOIN nd nb ON nb.vid = m.vid_b
        |WHERE m.n_match * 10 >= least(na.ndh, nb.ndh) * 8""".stripMargin,

    // KMV overlap: same distinct (source, token) base, k smallest
    // distinct md5 prefixes via a rank window (the heap's order-
    // insensitive restatement), union minima from merged kept lists,
    // identical estimator arithmetic and quantization.
    "q163_kmv_overlap" -> {
      val K   = KmvOverlapK
      val h32 = graft.functions.HexKeys.value32Sql(0, "hk")
      val h32u = graft.functions.HexKeys.value32Sql(0, "hku")
      s"""WITH st AS (
         |  SELECT DISTINCT source, tok FROM
         |    (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)),
         |hh AS (SELECT DISTINCT source, substring(md5(tok), 1, 8) AS h8 FROM st),
         |rk AS (
         |  SELECT source, h8,
         |         row_number() OVER (PARTITION BY source ORDER BY h8) AS rn
         |  FROM hh),
         |kept AS (SELECT source, h8, rn FROM rk WHERE rn <= $K),
         |per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS cnt,
         |         max(CASE WHEN rn = $K THEN h8 END) AS hk
         |  FROM kept GROUP BY 1),
         |perd AS (
         |  SELECT source, cnt,
         |    CASE WHEN cnt < $K THEN CAST(cnt AS DOUBLE)
         |         ELSE (CAST(${K - 1} AS DOUBLE) * 4294967296.0) / CAST($h32 AS DOUBLE)
         |    END AS est
         |  FROM per),
         |pairs AS (
         |  SELECT a.source AS source_a, b.source AS source_b
         |  FROM (SELECT DISTINCT source FROM documents) a
         |  JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source),
         |uni AS (
         |  SELECT p.source_a, p.source_b, k.h8
         |  FROM pairs p JOIN kept k ON k.source = p.source_a
         |  UNION
         |  SELECT p.source_a, p.source_b, k.h8
         |  FROM pairs p JOIN kept k ON k.source = p.source_b),
         |urk AS (
         |  SELECT source_a, source_b, h8,
         |         row_number() OVER (PARTITION BY source_a, source_b ORDER BY h8) AS rn
         |  FROM uni),
         |uagg AS (
         |  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS ucnt,
         |         max(CASE WHEN rn = $K THEN h8 END) AS hku
         |  FROM urk GROUP BY 1, 2),
         |ue AS (
         |  SELECT u.source_a, u.source_b,
         |    pa.est AS est_a, pb.est AS est_b,
         |    CASE WHEN pa.cnt < $K AND pb.cnt < $K THEN CAST(u.ucnt AS DOUBLE)
         |         ELSE (CAST(${K - 1} AS DOUBLE) * 4294967296.0) / CAST($h32u AS DOUBLE)
         |    END AS est_union
         |  FROM uagg u
         |  JOIN perd pa ON pa.source = u.source_a
         |  JOIN perd pb ON pb.source = u.source_b),
         |ui AS (
         |  SELECT source_a, source_b, est_a, est_b, est_union,
         |         greatest(est_a + est_b - est_union, 0.0) AS est_intersect
         |  FROM ue),
         |ex AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |         CAST(count(*) AS BIGINT) AS exact_overlap
         |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT ui.source_a, ui.source_b, ex.exact_overlap,
         |  floor(est_a * 1e9 + 0.5) / 1e9 AS est_a,
         |  floor(est_b * 1e9 + 0.5) / 1e9 AS est_b,
         |  floor(est_union * 1e9 + 0.5) / 1e9 AS est_union,
         |  floor(est_intersect * 1e9 + 0.5) / 1e9 AS est_intersect,
         |  floor((est_intersect - CAST(ex.exact_overlap AS DOUBLE))
         |        / CAST(ex.exact_overlap AS DOUBLE) * 1e9 + 0.5) / 1e9 AS rel_err
         |FROM ui JOIN ex USING (source_a, source_b)""".stripMargin
    },

    // q67's clusters re-resolved by QUALITY: the q33 score formula joins
    // on, and each cluster's keeper is its argmax-score member (ties →
    // min doc_id) — the row_number restatement of the Spark side's
    // max(struct(score, −id)) pick.
    "q143_best_copy_dedup" ->
      s"""WITH cl AS (SELECT doc_id, cluster_id, cluster_size FROM ($q67Oracle) c),
         |t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    least(CAST(len(toks) AS DOUBLE) / 50, 1.0) * 25
         |    + (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 25
         |    + least((CAST(len(list_filter(toks, x -> list_contains([$enList], x))) AS DOUBLE)
         |             / CAST(len(toks) AS DOUBLE)) * 5, 1.0) * 25
         |    + (1.0 - least((CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
         |                    / CAST(length(text) AS DOUBLE)) * 10, 1.0)) * 25 AS quality_score
         |  FROM t),
         |j AS (
         |  SELECT cl.doc_id, cl.cluster_id, cl.cluster_size, m.quality_score
         |  FROM cl JOIN m USING (doc_id)),
         |best AS (
         |  SELECT cluster_id, doc_id AS best_id FROM (
         |    SELECT cluster_id, doc_id,
         |           row_number() OVER (PARTITION BY cluster_id
         |                              ORDER BY quality_score DESC, doc_id ASC) AS rn
         |    FROM j)
         |  WHERE rn = 1)
         |SELECT j.doc_id, j.cluster_id, j.cluster_size, j.quality_score,
         |       best.best_id, j.doc_id = best.best_id AS is_kept
         |FROM j JOIN best USING (cluster_id)""".stripMargin,
    "q66_kmv_distinct" -> {
      def hv = (0 until 8).map { j =>
        val ch = s"substring(hex, ${j + 1}, 1)"
        val v  = s"(CASE WHEN ascii($ch) <= 57 THEN ascii($ch) - 48 ELSE ascii($ch) - 87 END)"
        s"CAST($v AS BIGINT) * ${1L << (4 * (7 - j))}"
      }.mkString(" + ")
      s"""WITH tok AS (
         |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
         |h AS (SELECT DISTINCT lang, hv FROM
         |        (SELECT lang, $hv AS hv FROM (SELECT lang, md5(token) AS hex FROM tok))),
         |ranked AS (
         |  SELECT lang, hv,
         |    row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS nh
         |  FROM h),
         |kth AS (
         |  SELECT lang, max(CASE WHEN rn = 64 THEN hv END) AS h_k, max(nh) AS nh
         |  FROM ranked GROUP BY lang),
         |ex AS (SELECT lang, COUNT(DISTINCT token) AS exact_distinct_tokens FROM tok GROUP BY lang)
         |SELECT k.lang,
         |  CASE WHEN k.nh < 64 THEN CAST(k.nh AS DOUBLE)
         |       ELSE (64 - 1) * 4294967296.0 / CAST(k.h_k AS DOUBLE) END AS est_distinct_tokens,
         |  ex.exact_distinct_tokens
         |FROM kth k JOIN ex USING (lang)""".stripMargin
    },
    "q63_multimodal" ->
      """SELECT doc_id AS media_id,
        |  ['image', 'audio', 'video'][CAST(doc_id % 3 AS INTEGER) + 1] AS modality,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_hash,
        |  false AS is_decoded,
        |  CAST(-1 AS BIGINT) AS image_width,
        |  CAST(-1 AS BIGINT) AS image_height,
        |  CAST(0 AS BIGINT) AS feature_dims,
        |  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
        |  count(*) OVER (PARTITION BY md5(text)) AS group_size,
        |  doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
        |FROM documents""".stripMargin,
    "q73_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, unnest(range(CAST(doc_id % 4 + 2 AS INTEGER))) AS frame_idx
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST((doc_id * 31 + frame_idx) % 7 + 1 AS BIGINT) AS frame_width,
        |  CAST((doc_id * 31 + frame_idx) % 5 + 1 AS BIGINT) AS frame_height,
        |  CAST(((doc_id * 31 + frame_idx) * 3) % 256 AS DOUBLE) AS mean_r,
        |  CAST(((doc_id * 31 + frame_idx) * 5) % 256 AS DOUBLE) AS mean_g,
        |  CAST(((doc_id * 31 + frame_idx) * 7) % 256 AS DOUBLE) AS mean_b
        |FROM f WHERE frame_idx % 2 = 0""".stripMargin,
    "q72_image_resize" ->
      """SELECT doc_id AS media_id, true AS is_decoded,
        |  CAST(4 AS BIGINT) AS image_width,
        |  CAST(3 AS BIGINT) AS image_height,
        |  CAST((doc_id * 3) % 256 AS DOUBLE) AS mean_r,
        |  CAST((doc_id * 5) % 256 AS DOUBLE) AS mean_g,
        |  CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_b
        |FROM documents""".stripMargin,
    "q71_image_decode" ->
      """SELECT doc_id AS media_id, true AS is_decoded,
        |  CAST(doc_id % 7 + 1 AS BIGINT) AS image_width,
        |  CAST(doc_id % 5 + 1 AS BIGINT) AS image_height,
        |  CAST((doc_id * 3) % 256 AS DOUBLE) AS mean_r,
        |  CAST((doc_id * 5) % 256 AS DOUBLE) AS mean_g,
        |  CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_b
        |FROM documents""".stripMargin,
    "q101_audio_decode" ->
      """WITH s AS (
        |  SELECT doc_id, unnest(generate_series(0, (doc_id % 50) + 9)) AS i
        |  FROM documents),
        |amp AS (
        |  SELECT doc_id,
        |         CAST(sum(abs((doc_id * 31 + i * 17) % 2001 - 1000)) AS BIGINT)
        |           AS amp_sum,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM s GROUP BY doc_id)
        |SELECT doc_id AS media_id, true AS is_decoded,
        |  CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS audio_sample_rate,
        |  n AS audio_n_samples,
        |  CAST(amp_sum AS DOUBLE) / CAST(n AS DOUBLE) AS audio_mean_amp
        |FROM amp""".stripMargin,
    // image: all pixels share one color → each channel's whole pixel count
    // lands in bin color div 64; video: same per frame (frame f of video
    // id is syntheticPng(id·31+f)), summed over frames; audio: sample i of
    // n is ((id·31+i·17) mod 2001)−1000, band = i·8 div n. Pure integer
    // arithmetic on both engines.
    "q104_media_features" ->
      """WITH imgs AS (
        |  SELECT doc_id AS media_id,
        |    CAST((doc_id % 7 + 1) * (doc_id % 5 + 1) AS BIGINT) AS npix,
        |    ((doc_id * 3) % 256) // 64 AS rb,
        |    ((doc_id * 5) % 256) // 64 AS gb,
        |    ((doc_id * 7) % 256) // 64 AS bb
        |  FROM documents WHERE doc_id % 3 = 0),
        |img_feat AS (
        |  SELECT media_id, 'image' AS modality, CAST(d AS BIGINT) AS dim,
        |    CAST(npix * ((CASE WHEN d = rb THEN 1 ELSE 0 END) +
        |                 (CASE WHEN d = 4 + gb THEN 1 ELSE 0 END) +
        |                 (CASE WHEN d = 8 + bb THEN 1 ELSE 0 END)) AS BIGINT) AS val
        |  FROM (SELECT *, unnest(range(12)) AS d FROM imgs)),
        |aud_s AS (
        |  SELECT doc_id AS media_id, (doc_id % 50) + 10 AS n,
        |         unnest(generate_series(0, (doc_id % 50) + 9)) AS i
        |  FROM documents WHERE doc_id % 3 = 1),
        |aud_feat AS (
        |  SELECT media_id, 'audio' AS modality, CAST((i * 8) // n AS BIGINT) AS dim,
        |    CAST(sum(abs((media_id * 31 + i * 17) % 2001 - 1000)) AS BIGINT) AS val
        |  FROM aud_s GROUP BY 1, 2, 3),
        |vid_px AS (
        |  SELECT media_id,
        |    CAST((fid % 7 + 1) * (fid % 5 + 1) AS BIGINT) AS npix,
        |    ((fid * 3) % 256) // 64 AS rb,
        |    ((fid * 5) % 256) // 64 AS gb,
        |    ((fid * 7) % 256) // 64 AS bb
        |  FROM (SELECT doc_id AS media_id,
        |               doc_id * 31 + unnest(range(CAST(doc_id % 4 + 2 AS INTEGER))) AS fid
        |        FROM documents WHERE doc_id % 3 = 2)),
        |vid_feat AS (
        |  SELECT media_id, 'video' AS modality, CAST(d AS BIGINT) AS dim,
        |    CAST(sum(npix * ((CASE WHEN d = rb THEN 1 ELSE 0 END) +
        |                     (CASE WHEN d = 4 + gb THEN 1 ELSE 0 END) +
        |                     (CASE WHEN d = 8 + bb THEN 1 ELSE 0 END))) AS BIGINT) AS val
        |  FROM (SELECT *, unnest(range(12)) AS d FROM vid_px) GROUP BY 1, 2, 3)
        |SELECT * FROM img_feat
        |UNION ALL SELECT * FROM aud_feat
        |UNION ALL SELECT * FROM vid_feat""".stripMargin,
    // Mirrors the Spark side arithmetically: the 36×32 pattern image of
    // each id (family/variant formula identical to syntheticPatternPng),
    // 4×4 block sums, dHash bits from horizontal cell gradients. The
    // hash is held as two 32-bit halves (bit 63 would overflow a BIGINT
    // power), Hamming = bit_count(xor) summed over halves; the pair join
    // here is the naive quadratic one, so the Spark side's banded-join
    // recall is exactly what the hash gate checks. Luminance differs by
    // the constant ×3 (r+g+b of a gray pixel) — comparisons, and
    // therefore bits, are identical.
    "q127_image_neardup" -> q127Oracle,

    // Mirrors the Spark side arithmetically: 260 samples per id from the
    // family/variant formula (identical to syntheticToneWav), 65 bands of
    // 4 samples (i // 4), fingerprint bits from adjacent band-energy
    // comparisons (equal band counts → the operator's mean
    // cross-multiplication reduces to this sum comparison bit-for-bit).
    // Two 32-bit halves + naive quadratic join, as in q127's oracle — the
    // Spark side's banded-join recall is exactly what the gate checks.
    "q135_audio_neardup" -> q135Oracle,

    // q132's recursive-reach pattern over the q135 pair oracle.
    "q137_audio_dup_clusters" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT id_a, id_b FROM ($q135Oracle) p),
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT rc.id, e.d FROM reach rc JOIN edges e ON rc.r = e.s),
         |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT id AS media_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  id = cluster_id AS is_canonical
         |FROM comp""".stripMargin,

    // q67's reachability pattern over the q127 pair oracle: symmetrized
    // edges, recursive min-label reach, per-cluster window stats.
    "q132_image_dup_clusters" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT id_a, id_b FROM ($q127Oracle) p),
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT rc.id, e.d FROM reach rc JOIN edges e ON rc.r = e.s),
         |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT id AS media_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  id = cluster_id AS is_canonical
         |FROM comp""".stripMargin,

    "q39_json_extract" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
        |    / CAST(COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) AS k_avg
        |FROM events GROUP BY event_type""".stripMargin)
}
