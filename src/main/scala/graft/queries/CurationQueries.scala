package graft.queries

import graft.core.{Artifact, Tables}
import graft.functions.{Exact, Text}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between dedup and shard-packing: segment-level (C4-style "line") dedup,
  * repetition-based quality filtering (the Gopher rules' shape),
  * benchmark decontamination by n-gram overlap, and deterministic
  * weighted sampling.
  *
  * Scale discipline shared by all four:
  *  - the per-document tokenization work stays inside projections
  *    (codegen'd column functions, no UDFs);
  *  - cross-document state is always a partial-aggregated `groupBy`
  *    (map-side combine) followed by an equi-join — never a window over a
  *    content-keyed partition, which a boilerplate segment repeated across
  *    billions of documents would turn into one giant task;
  *  - every sampling/keep decision derives from md5 of the row key, so
  *    results are reproducible across engines, runs, partitionings, and
  *    task retries (never `rand()`).
  */
object CurationQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The q168 α=0.5 temperature repeat allocation over an arbitrary
    * (doc_id, lang, n_tokens) frame — shared by q168 (raw corpus) and
    * q173 (the post-dedup residual corpus) so both gates pin the same
    * arithmetic: language targets ∝ sqrt(T_l) under a B = total DIV 2
    * budget (sqrt is the only float step, the normalizer sums
    * 1e6-quantized BIGINTs), per-doc epochs floor(target/T_l) plus an
    * md5-thresholded extra.
    *
    * The two corpus-scale products — qs·(all_tokens DIV 2) (~sqrt(T)·1e6
    * · T/2, past BIGINT at T ≈ 10^10 total tokens) and the extra-epoch
    * threshold h·lang_tokens (past BIGINT at T_l ≈ 1.4·10^14) — run in
    * DECIMAL(38,0): exact 128-bit integer arithmetic in BOTH engines
    * (DuckDB mirrors with HUGEINT), so the operator holds to ~10^33
    * tokens instead of silently capping at 10^10. Division collapses
    * back to BIGINT.
    */
  private[graft] def temperatureRepeats(t: DataFrame): DataFrame = {
    val perLang = t.groupBy(col("lang")).agg(sum(col("n_tokens")).as("lang_tokens"))
      .withColumn("qs",
        floor(sqrt(col("lang_tokens").cast(DoubleType)) * 1e6).cast(LongType))
    val tot = perLang.agg(sum(col("qs")).as("qs_tot"),
                          sum(col("lang_tokens")).as("all_tokens"))
    val targets = perLang.crossJoin(broadcast(tot))
      .withColumn("target_tokens",
        expr("CAST(CAST(qs AS DECIMAL(38,0)) * (all_tokens DIV 2) DIV qs_tot AS BIGINT)"))
      .select(col("lang"), col("lang_tokens"), col("target_tokens"))
    val h = graft.functions.HexKeys.value16(
      md5(concat(lit("mix|"), col("doc_id").cast(StringType)))).cast(LongType)
    t.join(broadcast(targets), Seq("lang"))
      .withColumn("h", h)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
              col("lang_tokens"), col("target_tokens"),
              (expr("target_tokens DIV lang_tokens") +
               when(expr("CAST(h AS DECIMAL(38,0)) * lang_tokens") <
                    expr("CAST(target_tokens % lang_tokens AS DECIMAL(38,0)) * 65536"),
                    1L)
                 .otherwise(0L)).as("n_repeats"))
  }

  /** The q175 Kneser–Ney per-doc scoring frame — shared by q175 (the
    * report) and q176 (the CCNet bucketing built on it). See the q175
    * def comment for the model and determinism notes.
    */
  private def knScores(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val pairs = bigrams(docs)
    val c2  = pairs.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))
    val ch  = pairs.groupBy(col("prev")).agg(count(lit(1)).as("ch"))
    val n1f = c2.groupBy(col("prev")).agg(count(lit(1)).as("n1f"))
    val n1p = c2.groupBy(col("cur")).agg(count(lit(1)).as("n1p"))
    val bt  = c2.agg(count(lit(1)).as("bt"))
    val term1 = greatest(col("c2").cast(DoubleType) - 0.75, lit(0.0)) /
      col("ch").cast(DoubleType)
    val term2 = (lit(0.75) * col("n1f").cast(DoubleType) /
        col("ch").cast(DoubleType)) *
      (col("n1p").cast(DoubleType) / col("bt").cast(DoubleType))
    val scored = pairs
      .join(broadcast(c2), Seq("prev", "cur"))
      .join(broadcast(ch), "prev")
      .join(broadcast(n1f), "prev")
      .join(broadcast(n1p), "cur")
      .crossJoin(broadcast(bt))
      .select(col("doc_id"), col("pos"), termLogp(term1 + term2))
    perplexityReport(docs, scored)
  }

  /** (doc_id, pos, prev, cur): each document's adjacent token pairs in
    * order, extracted scan-locally (a zip of two shifted slices of the
    * token array, no self-join on position).
    */
  private def bigrams(docs: DataFrame): DataFrame = {
    val toks = Text.tokens(col("text"))
    val m    = greatest(size(toks) - 1, lit(0))
    docs.select(
      col("doc_id"),
      posexplode(zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m),
        (a, b) => struct(a.as("prev"), b.as("cur")))).as(Seq("pos", "bg")))
      .select(col("doc_id"), col("pos"),
              col("bg.prev").as("prev"), col("bg.cur").as("cur"))
  }

  /** One LM term, `logp` = ln(`p`) quantized BEFORE the fold (the
    * [[graft.functions.Exact]] rule), so both engines fold identical doubles.
    */
  private def termLogp(p: Column): Column = Exact.q9(log(p)).as("logp")

  /** The per-doc LM fold of (pos, logp) rows: a sequential left-to-right
    * sum over the pos-sorted log-probs. collect_list order depends on the
    * partitioning and array_sort fixes it; DuckDB mirrors the fold with
    * list_reduce over list(logp ORDER BY pos). Both engines run the same
    * IEEE additions in the same order, never a merge-order float sum.
    */
  private def sumLogp: Column = aggregate(
    transform(array_sort(collect_list(struct(col("pos"), col("logp")))),
              x => x.getField("logp")),
    lit(0.0), (acc, x) => acc + x)

  /** The bigram-LM report: every document of `docs` with its bigram
    * count, [[sumLogp]] over its `scored` (doc_id, pos, logp) rows, the
    * mean and the 1e-9-quantized perplexity exp(−mean). A document under
    * two tokens keeps a row with n_bigrams = 0 and identity scores.
    */
  private def perplexityReport(docs: DataFrame, scored: DataFrame): DataFrame = {
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sumLogp.as("sum_logprob"))
    docs.select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
              coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
              coalesce(col("sum_logprob"), lit(0.0)).as("sum_logprob"),
              coalesce(col("sum_logprob") / col("n_bigrams").cast(DoubleType),
                       lit(0.0)).as("avg_logprob"),
              coalesce(
                Exact.q9(exp(-(col("sum_logprob") / col("n_bigrams").cast(DoubleType)))),
                lit(1.0)).as("perplexity"))
  }

  /** The q190/q191 scattered-copy frame: q168's repeats exploded into
    * per-copy rows, each keyed by its own md5 permutation packed with
    * (doc_id, copy) into ONE BIGINT (bounds fail loudly — a violation
    * would silently collide key spaces). `carry` columns ride along.
    */
  private def orderKeyedCopies(s: SparkSession, dir: String,
                               carry: Seq[String],
                               epochs: Int = 1): DataFrame = {
    import graft.functions.HexKeys
    // epoch_copy = n_repeats · epochs packs into the ord_key's 5 low
    // bits, so the EFFECTIVE per-epoch bound is n_repeats ≤ 31/epochs
    // (31 at q190's epochs=1, 10 at q203's epochs=3) — checked BEFORE
    // the explode with the epochs-aware limit in the message; the
    // epoch_copy ≤ 31 check below stays as the packing-site defense.
    val maxRepeats = 31L / epochs
    val rep = defs("q168_temperature_mixture")(s, dir)
      .select((col("doc_id") +: col("n_repeats") +: carry.map(col)): _*)
      .filter(col("n_repeats") >= 1L)
      .withColumn("n_repeats",
        when(col("n_repeats") <= maxRepeats, col("n_repeats"))
          .otherwise(raise_error(concat(
            lit(s"training order packs epoch_copy = n_repeats x epochs " +
                s"into 5 bits: with epochs=$epochs the effective limit is " +
                s"n_repeats <= $maxRepeats, got "),
            col("n_repeats").cast(StringType)))
            .cast(LongType)))
    val copies = rep.select((col("doc_id") +:
      explode(sequence(lit(1L), col("n_repeats") * epochs)).as("epoch_copy") +:
      carry.map(col)): _*)
    val hex = md5(concat(lit("ord|"), col("doc_id").cast(StringType),
                         lit("|"), col("epoch_copy").cast(StringType)))
    val h24 = HexKeys.value16(hex, 0).cast(LongType) * 256L +
      HexKeys.digit(hex, 4).cast(LongType) * 16L +
      HexKeys.digit(hex, 5).cast(LongType)
    copies.select(
      when(col("doc_id").between(0L, 2147483647L) && col("epoch_copy") <= 31L,
           h24 * 68719476736L + col("doc_id") * 32L + col("epoch_copy"))
        .otherwise(raise_error(concat(
          lit("training order requires 0 <= doc_id < 2^31 and epoch_copy <= 31, got doc_id="),
          col("doc_id").cast(StringType)))
          .cast(LongType))
        .as("ord_key") +: carry.map(col): _*)
  }

  /** The q191 token-budget manifest plan (raw, uncut — q191's gate and
    * oracle surface; q234 cuts a memoized copy for its two consumers).
    */
  private def tokenBudgetManifest(s: SparkSession, dir: String): DataFrame = {
    val keyed = orderKeyedCopies(s, dir, Seq("n_tokens"))
    graft.operators.Sharding
      .runningTotal(keyed, "ord_key", "n_tokens", "cum_tokens")
      .select(expr("(ord_key DIV 32) % 2147483648").as("doc_id"),
              (col("ord_key") % 32L).as("epoch_copy"),
              col("n_tokens"), col("cum_tokens"),
              expr("(cum_tokens - n_tokens) DIV 4096").as("shard_id"))
  }

  private val manifestCache = new Artifact[DataFrame]("q234_manifest")

  /** Memoized scattered-copy frame per (session, dir, epochs) — the
    * q168-chain stage every manifest consumer shares: the q168
    * allocation, the per-copy explode and the md5 permutation keys are a
    * pure corpus-fitted artifact (deterministic md5, no query-side
    * delta), which q190/q203 would otherwise re-run TWICE per call — once
    * inside Sharding.runningTotal's eager `boundaries` approxQuantile
    * scan and once in the executed plan. Carries n_tokens
    * unconditionally so one memo serves both the position-sharded
    * (q190 — ignores it) and token-budget consumers.
    * q191 deliberately stays on the RAW plan (its def is the plan-gate
    * and oracle surface for the bucketed prefix sum), as does q234's
    * manifest-level memo.
    */
  private val keyedCopiesCache = new Artifact[DataFrame]("ord_keyed_copies")
  private def orderKeyedCopiesShared(s: SparkSession, dir: String,
                                     epochs: Int): DataFrame =
    keyedCopiesCache.cut(s, s"$dir|epochs=$epochs")(
      orderKeyedCopies(s, dir, Seq("n_tokens"), epochs))

  /** The q182/q186 stage-flag frame: one row per document with the
    * cumulative survival booleans s1..s5 (see the q182 def comment for
    * the stage semantics and the survivor-scoped dedup canonical).
    */
  private def waterfallFlags(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    val q33 = TextQueries.defs("q33_text_quality")(s, dir)
      .select(col("doc_id"), col("quality_score"))
    val q77 = defs("q77_decontaminate")(s, dir)
      .select(col("doc_id"), col("is_contaminated"))
    val base = d.select(col("doc_id"), col("source"), col("text"),
        size(Text.tokens(col("text"))).cast(LongType).as("n_toks"))
      .join(q33, Seq("doc_id"))
      .join(q77, Seq("doc_id"), "left")
      .withColumn("s1", col("doc_id") % 10 =!= 0)
      .withColumn("s2", col("s1") && col("n_toks") >= 20L)
      .withColumn("s3", col("s2") && col("quality_score") >= 40.0)
    // Survivor-scoped canonical via groupBy + dup-only join-back (the
    // Dedup.attachCanonical discipline): min s3-survivor id per text
    // hash comes from a partial+final agg, and only hashes with ≥ 2 rows
    // join back — a mega-duplicate group stays bounded map-side instead
    // of funneling one text_hash WindowExec task. Singleton rows derive
    // min_id_s3 locally (own id when s3, else null — the window's value).
    val hashed = base.withColumn("text_hash", md5(col("text")))
    val dupMin = hashed.groupBy(col("text_hash"))
      .agg(min(when(col("s3"), col("doc_id"))).as("__min_s3"),
           count(lit(1)).as("__n"))
      .filter(col("__n") > 1L)
    hashed.join(dupMin, Seq("text_hash"), "left")
      .withColumn("min_id_s3",
        when(col("__n").isNotNull, col("__min_s3"))
          .otherwise(when(col("s3"), col("doc_id"))))
      .drop("__min_s3", "__n")
      .withColumn("s4", col("s3") && col("doc_id") === col("min_id_s3"))
      .withColumn("s5",
        col("s4") && !coalesce(col("is_contaminated"), lit(false)))
  }

  /** Tokens-per-segment for the C4-style segment dedup. Documents here are
    * single-space token streams with no newline structure (TESTDATA.md), so
    * fixed 10-token windows stand in for the reference corpus's lines.
    */
  private val SegTokens = 10

  /** q200's boilerplate bar: a segment present in ≥ this many DISTINCT
    * documents is scrubbed from every one of them. Shared by the Spark
    * def and the DuckDB oracle.
    */
  private val BoilerplateDf = 3

  /** The (doc_id, seg_idx, seg) frame behind q75/q200/q204 and the
    * streaming index leg: documents split into [[SegTokens]]-token
    * segments, reassembled in token order — one explode + one
    * (doc_id, seg_idx)-keyed bounded aggregation.
    */
  private[graft] def docSegments(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        posexplode(Text.tokens(col("text"))).as(Seq("pos", "tok")))
      .groupBy(col("doc_id"),
               floor(col("pos") / SegTokens).cast(IntegerType).as("seg_idx"))
      .agg(array_join(
             transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
                       x => x.getField("tok")),
             " ").as("seg"))

  /** The DF readout tail shared by q200's batch scrub and the streaming
    * index leg's drained-state assertion: distinct-doc counts per segment
    * over an INCIDENCE frame (seg, doc_id), thresholded at
    * [[BoilerplateDf]] — document frequency is counting state, so the
    * streaming state keeps idempotent incidence rows and this tail
    * derives the counts (a running count would double on redelivery).
    * q204's incremental path is the one consumer that CANNOT route
    * through it (its counts are a base-table + delta-agg MERGE, not one
    * aggregation over full incidences); it shares the [[BoilerplateDf]]
    * threshold constant, and the q204-vs-q200 oracle equality is what
    * pins the merge to this aggregation.
    */
  private[graft] def boilerplateFromIncidences(inc: DataFrame): DataFrame =
    inc.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= BoilerplateDf)

  /** An index whose per-segment base counts are wrong silently corrupts
    * every later delta merge — enforced before the write (q198's rule).
    */
  private val BoilerplateIdxContract: graft.model.Contract = graft.model.Contract(
    schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("seg_hash",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("seg",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("base_df",
        org.apache.spark.sql.types.LongType))),
    notNull = Seq("seg_hash", "seg", "base_df"),
    uniqueKeys = Seq(Seq("seg_hash")))

  private val bpIdxCache = new Artifact[DataFrame]("q204_boilerplate_index")

  /** The q204 persisted boilerplate-DF index: per-segment distinct-doc
    * counts over the BASE half (q61 md5 bucket < 50), built once per
    * (session, dir) and bucketed by `seg_hash` so delta merges join the
    * index side without an exchange — the q141/q145/q172
    * build-once/probe-deltas discipline applied to segment document
    * frequency.
    */
  private def boilerplateIndex(s: SparkSession, dir: String): DataFrame =
    bpIdxCache.table(s, dir, Some(BoilerplateIdxContract))(
        graft.sources.Warehouse.writeBucketed(_, _, "seg_hash", 16)) {
      docSegments(Tables(s, dir).documents.filter(capSplitBucket < 50))
        .groupBy(col("seg"))
        .agg(countDistinct(col("doc_id")).as("base_df"))
        .select(md5(col("seg")).as("seg_hash"), col("seg"), col("base_df"))
    }

  private def md5Bucket16(prefix: String, key: Column): Column = {
    // First 4 md5 hex digits as an integer in [0, 65536) — ascii
    // arithmetic, portable to the DuckDB oracle without conv().
    val hex = md5(concat(lit(prefix), key.cast(StringType)))
    hexValue16(hex, 0)
  }

  /** md5 hex digits [from, from+4) as an integer in [0, 65536) — the
    * building block for the bloom filter's Kirsch–Mitzenmacher hash pair.
    */
  private def hexValue16(hex: Column, from: Int): Column =
    graft.functions.HexKeys.value16(hex, from)

  /** Chunking geometry for q84: 50-token windows advancing by 40 (10-token
    * overlap) — the context-window packing shape of a training/RAG corpus.
    */
  private val ChunkW = 50
  private val ChunkS = 40

  /** q148 geometry: 64 hashed-feature buckets (q103's featurizer) and a
    * top-100 selection — bucket count bounds the broadcast model, K bounds
    * the TakeOrdered heap.
    */
  val DsirB = 64
  private val DsirK = 100

  /** q156's n-gram widths (the Gopher top-/dup-fraction set). */
  private val GopherNs = Seq(2, 3, 4, 5)

  /** q157's total sample budget (Hamilton-apportioned across languages). */
  private val QuotaB = 200

  /** Per-doc excess loss — memoized per (session, dir) and cut: both
    * LMs are corpus-FITTED scorers and the quantized excess is a pure
    * function of the corpus, consumed by two gated queries (q243's
    * domain rollup, q245's stratified filter). Uncut, each consumer's
    * plan would duplicate the two LM scoring passes per reference
    * (`dom` feeds the normalizer and the readout).
    */
  private val excessCache = new Artifact[DataFrame]("excess_per_doc")
  /** The q243/q245 per-doc EXCESS-LOSS frame: (doc_id, source,
    * excess_e9) where excess = max(0, ℓ_uni − ℓ_kn) = max(0, lp_kn −
    * lp_uni) on the two gated LM scorers' per-doc avg log-probs,
    * quantized to a 1e9 BIGINT immediately so every downstream rollup
    * is an exact integer sum. Docs too short to score under both models
    * (no tokens or no bigrams) are excluded — a loss is only comparable
    * where both models emit one.
    */
  private def excessPerDoc(s: SparkSession, dir: String): DataFrame =
    excessCache.cut(s, dir) {
      val uni = defs("q78_unigram_lm")(s, dir)
        .select(col("doc_id"), col("avg_logprob").as("lp_uni"), col("n_tokens"))
      val kn = knScores(s, dir)
        .select(col("doc_id"), col("avg_logprob").as("lp_kn"), col("n_bigrams"))
      Tables(s, dir).documents.select(col("doc_id"), col("source"))
        .join(uni, "doc_id").join(kn, "doc_id")
        .filter(col("n_tokens") > 0L && col("n_bigrams") > 0L)
        .select(col("doc_id"), col("source"),
          Exact.e9(greatest(lit(0.0), col("lp_kn") - col("lp_uni"))).as("excess_e9"))
    }

  /** The q243/q245 oracle CTE chain replaying [[excessPerDoc]]: q78 +
    * q175 oracles as derived tables, identical quantized excess
    * arithmetic.
    */
  private def excessOracleCtes: String =
    s"""uni AS (
       |  SELECT doc_id, avg_logprob AS lp_uni, n_tokens
       |  FROM ($unigramOracleSql) u),
       |kn AS (
       |  SELECT doc_id, avg_logprob AS lp_kn, n_bigrams
       |  FROM ($knOracleSql) k),
       |pd AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(floor(greatest(0.0, kn.lp_kn - uni.lp_uni) * 1e9 + 0.5)
       |         AS BIGINT) AS excess_e9
       |  FROM documents d
       |  JOIN uni ON uni.doc_id = d.doc_id
       |  JOIN kn ON kn.doc_id = d.doc_id
       |  WHERE uni.n_tokens > 0 AND kn.n_bigrams > 0)""".stripMargin

  /** q241's repeat constant R in D'(E) = U·(1 + R·(1 − e^{−(E−1)/R})) —
    * Muennighoff et al. 2023's fitted R* ≈ 15 (kept integral so the
    * factor arithmetic stays BIGINT-exact around the quantized exp).
    */
  private val EpochRepeatConst = 15L

  /** Per-(session, dir) memos for the two corpus-FITTED curation
    * artifacts: the DSIR doc×dim feature frame and the canonical dup-cluster representative set.
    * Both are pure functions of the corpus shared verbatim by every
    * curationV2 consumer — a deployment materializes them once per
    * corpus the way it materializes a mined-pair table.
    */
  private val dsirDocDimCache = new Artifact[DataFrame]("dsir_doc_dim")
  private val canonCache = new Artifact[DataFrame]("dup_canonical_ids")

  /** q148's building blocks: (docDim, tot, model).
    *
    * ONE tokenize+md5 pass over the corpus: the per-(doc, dim) feature agg
    * keeps `lang` in its key (functionally dependent on doc_id — zero
    * extra rows), so BOTH the bucket model and the scoring join derive
    * from this ndocs×≤64 `docDim` frame. Checkpointed because it is
    * consumed twice and is corpus-INDEPENDENT in width — without the cut,
    * each consumer would re-run the full token scan (the first bench
    * showed exactly that: 2× the cost of q103's single pass).
    *
    * Laplace(0.5) smoothing with denominator tot + 0.5·B keeps unseen
    * buckets finite on both sides; the log-ratio quantizes to a 1e-9
    * BIGINT ONCE (the q112 rule), so every downstream weight is exact
    * integer arithmetic.
    */
  private def dsirParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables(s, dir).documents
    // memoized per (session, dir): the DSIR feature frame is a
    // corpus-FITTED model artifact consumed by five gated queries
    // (q148/q161/q196/q209/q223), so the tokenize+md5 pass runs once
    val docDim = dsirDocDimCache.cut(s, dir)(docs
      .select(col("doc_id"), col("lang"),
              explode(Text.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("lang"),
              (hexValue16(md5(concat(lit("fh|"), col("tok"))), 0) % DsirB)
                .cast(LongType).as("dim"))
      .groupBy(col("doc_id"), col("lang"), col("dim"))
      .agg(count(lit(1)).as("c")))
    val byDim = docDim.groupBy(col("dim")).agg(
      sum(col("c")).as("r_cnt"),
      sum(when(col("lang") === "en", col("c")).otherwise(lit(0L))).as("t_cnt"))
    val tot = byDim.agg(sum(col("r_cnt")).as("tr"), sum(col("t_cnt")).as("tt"))
    val model = byDim.crossJoin(broadcast(tot))
      .select(col("dim"),
        Exact.e9(log((col("t_cnt") + lit(0.5)) / (col("tt") + lit(DsirB / 2.0))) -
                 log((col("r_cnt") + lit(0.5)) / (col("tr") + lit(DsirB / 2.0))))
          .as("qratio"))
    (docDim, tot, model)
  }

  /** q195/q196's per-source document cap (absolute, not proportional —
    * the anti-flooding semantics: no source contributes more than this
    * many documents regardless of its share).
    */
  private[graft] val SourceCapC = 10

  /** Deterministic per-source CAP-AND-SELECT — the anti-flooding lever a
    * web corpus applies before any mixture math: keep at most `cap`
    * documents per `source`, chosen by md5 rank (never rand() — the
    * selection is a pure function of doc_id, so task retries and
    * re-runs pick identical survivors). Scale shape: the q157/q68
    * bounded-heap discipline — [[org.apache.spark.sql.graftx.TopKPairs]]
    * reduces every task's slice to ≤ cap pairs per source map-side, the
    * shuffle carries ≤ cap·P survivors, and no per-source window ever
    * funnels a hot host's documents through one task (the exact failure
    * a cap exists to defend against: the flooded source IS the skewed
    * key). md5-hex UTF8 binary order ≡ DuckDB VARCHAR order (ASCII), so
    * the oracle's row_number() ranking matches bit for bit.
    */
  private[graft] def sourceCapped(d: DataFrame, prefix: String = "cap|",
      cap: Int = SourceCapC): DataFrame = {
    val key = md5(concat(lit(prefix), col("doc_id").cast(StringType)))
    d.select(col("source"), col("doc_id"), key.as("cap_key"))
      .groupBy(col("source"))
      .agg(org.apache.spark.sql.graftx.TopKPairs
        .topK(col("cap_key"), col("doc_id"), cap).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), col("col.id").as("doc_id"),
              (col("pos") + 1).cast(LongType).as("src_rank"))
  }

  /** The q198 persisted cap-index contract: the kept set is the whole
    * state (≤ cap·|sources| rows), so a null or duplicated row silently
    * corrupts every later delta merge — enforced before the write.
    */
  private val SourceCapContract: graft.model.Contract = graft.model.Contract(
    schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("src_rank",
        org.apache.spark.sql.types.LongType))),
    notNull = Seq("source", "doc_id", "src_rank"),
    uniqueKeys = Seq(Seq("doc_id")))

  /** q198's base/delta split: the q61 md5 bucket (a pure function of
    * doc_id, INDEPENDENT of `source` — the testdata assigns source by
    * doc_id % 20, so a parity split would never put two halves of one
    * source on opposite sides and the eviction path would go untested).
    */
  private def capSplitBucket: Column =
    graft.functions.HexKeys.value16(
      md5(concat(lit("split|"), col("doc_id").cast(StringType)))) % 100

  /** Per document of the (doc_id, seg_idx, seg, kept) segment rows: its
    * segment count, kept-segment count and `clean_text`, the kept
    * segments joined by spaces in seg_idx order.
    */
  private def reassembled(flagged: DataFrame): DataFrame =
    flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
           sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept_segments"),
           array_join(
             transform(
               array_sort(collect_list(
                 when(col("kept"), struct(col("seg_idx"), col("seg"))))),
               x => x.getField("seg")),
             " ").as("clean_text"))

  /** The five-stage waterfall of a (s1..s5) flag frame per `by` group
    * (one group when `by` is empty): one row per stage with its stage_idx,
    * name, n_in, n_dropped and n_out, from one aggregation of the
    * survivor counts c0..c5.
    */
  private def stageWaterfall(flags: DataFrame, by: String*): DataFrame = {
    val c = flags.groupBy(by.map(col): _*).agg(
      count(lit(1)).as("c0"),
      sum(when(col("s1"), 1L).otherwise(0L)).as("c1"),
      sum(when(col("s2"), 1L).otherwise(0L)).as("c2"),
      sum(when(col("s3"), 1L).otherwise(0L)).as("c3"),
      sum(when(col("s4"), 1L).otherwise(0L)).as("c4"),
      sum(when(col("s5"), 1L).otherwise(0L)).as("c5"))
    val stages = Seq((1L, "eval_holdout", "c0", "c1"),
                     (2L, "min_length", "c1", "c2"),
                     (3L, "quality", "c2", "c3"),
                     (4L, "exact_dedup", "c3", "c4"),
                     (5L, "decontamination", "c4", "c5"))
    c.select(by.map(col) :+ explode(array(stages.map { case (i, name, in, out) =>
        struct(lit(i).as("stage_idx"), lit(name).as("stage"),
               col(in).as("n_in"), (col(in) - col(out)).as("n_dropped"),
               col(out).as("n_out"))
      }: _*)).as("x"): _*)
      .select(by.map(col) ++ Seq(col("x.stage_idx"), col("x.stage"), col("x.n_in"),
              col("x.n_dropped"), col("x.n_out")): _*)
  }

  /** The q198 persisted cap index: the BASE half's (`capSplitBucket < 50`)
    * kept set, built once per (session, dir) — q141/q145/q172's
    * build-once/probe-deltas discipline applied to the cap. The state IS
    * the selection (≤ cap·|sources| rows), so later merges never re-read
    * the base corpus.
    */
  private val capIdxCache = new Artifact[DataFrame]("q198_cap_index")
  private def sourceCapIndex(s: SparkSession, dir: String): DataFrame =
    capIdxCache.table(s, dir, Some(SourceCapContract))(graft.sources.Warehouse.writeTable)(
      sourceCapped(Tables(s, dir).documents.filter(capSplitBucket < 50)))

  /** q161/q196's shared curation pass: DSIR-score every document
    * (q148's model), drop non-canonical duplicates (q67/q149's
    * transitive clusters — keep each cluster's min id), take the
    * top-100 selection by importance weight, then apportion a 50-doc
    * training sample across languages by exact largest-remainder quotas
    * (q157) picked by md5 rank. `restrict` (q196) limits which docs are
    * ELIGIBLE for selection — the per-source cap — while the DSIR model
    * and dup clusters stay corpus-fitted (a cap governs what may be
    * picked, not what the models see).
    */
  private def curationV2(s: SparkSession, dir: String,
      restrict: Option[DataFrame]): DataFrame = {
    val d = Tables(s, dir).documents
    val (docDim, _, model) = dsirParts(s, dir)
    val w0 = docDim.join(broadcast(model), "dim")
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("qratio")).as("logw_q"))
    val w = restrict.fold(w0)(r => w0.join(r.select(col("doc_id")), Seq("doc_id")))
    // memoized per (session, dir) — corpus-fitted like the DSIR features:
    // all four curationV2 consumers share the SAME canonical cluster set
    // (the restrict hook governs what may be picked, not what the models
    // see), and the CC star loop is eager per invocation otherwise
    val canon = canonCache(s, dir) {
      graft.operators.Dedup.connectedComponentsStars(
          d.select(col("doc_id").as("id")),
          TextQueries.dupEdges05(s, dir),
          "doc_a", "doc_b")
        .filter(col("id") === col("cluster_id"))
        .select(col("id").as("doc_id"))
    }
    val selected = graft.core.Materialize.cutLocal(w.join(canon, Seq("doc_id"))
      .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .orderBy(col("logw_q").desc, col("doc_id")).limit(100)) // 100 rows, consumed by counts + pick below
    graft.operators.Sampling.quotaSample(selected, "lang", "doc_id", 50, "quota|")
      .join(selected.select(col("doc_id"), col("logw_q")), Seq("doc_id"))
      .select(col("lang"), col("doc_id"), col("logw_q"), col("strat_rank"),
              col("target_n"))
  }

  /** The q148 model in driver form for the STREAMING scoring leg
    * ([[graft.streaming.EventsStream.dsirScoreStream]]): (dim → qratio,
    * default-for-unseen-bucket). The default is the model formula at
    * count 0 — `Math.log` IS Spark's `log`, so a bucket the batch corpus
    * never hit scores identically to what the batch model would have
    * assigned it. Both maps are ≤ [[DsirB]] entries — closure-constant
    * sized.
    */
  def dsirModel(s: SparkSession, dir: String): (Map[Long, Long], Long) = {
    val (_, tot, model) = dsirParts(s, dir)
    val m = model.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val t = tot.collect()(0)
    val (tr, tt) = (t.getLong(0), t.getLong(1))
    val default = Exact.e9(
      math.log(0.5 / (tt + DsirB / 2.0)) - math.log(0.5 / (tr + DsirB / 2.0)))
    (m, default)
  }

  /** q82's corpus 8-gram stream per dir: (doc_id, ngram). */
  private val ngramStream = new Artifact[DataFrame]("q82_ngram_stream")

  val defs: Map[String, Q] = Map(

    // ---------------------------------------------------------------
    // q265: SOURCE-CONCENTRATION audit — the "is this corpus secretly
    // one crawl" read next to the drift monitors (q187 JSD compares
    // distributions pairwise; this scores ONE distribution's shape):
    // per language and corpus-wide ('__all' leg), token-share
    // concentration over sources as HHI (Σ share², the antitrust
    // statistic), Shannon entropy → effective source count (exp H — the
    // number of EQUAL sources this mixture behaves like), and the Gini
    // coefficient. A mixture audit (q192) checks achieved-vs-target;
    // this flags the target itself when 20 nominal sources behave like
    // 3. Determinism: Σ tok² on DECIMAL(38,0) (q259 discipline — BIGINT
    // squares overflow at ~3e9 tokens/source), entropy terms
    // 1e-9-quantized before the BIGINT sum (q125's ln idiom), Gini from
    // exact integer rank·mass sums, each readout ONE double division.
    // Scale shape: one partial+final agg to the (lang × source) panel
    // (bounded: sources are a catalog, not a corpus); the rank window
    // rides that panel only; corpus is scanned once, never shuffled
    // beyond the panel agg.
    // ---------------------------------------------------------------
    "q265_source_concentration" -> { (s, dir) =>
      val toks = Tables(s, dir).documents
        .select(col("lang"), col("source"),
                size(Text.tokens(col("text"))).cast(LongType).as("nt"))
      val base = toks.union(
        toks.select(lit("__all").as("lang"), col("source"), col("nt")))
      val bySrc = base.groupBy(col("lang"), col("source"))
        .agg(sum(col("nt")).as("tok"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("tok"), col("source"))
      val ranked = bySrc.withColumn("rk", row_number().over(w).cast(LongType))
      val tot = bySrc.groupBy(col("lang"))
        .agg(sum(col("tok")).as("tot"), count(lit(1)).as("n_sources"),
             sum(col("tok").cast(DecimalType(38, 0)) *
                 col("tok").cast(DecimalType(38, 0))).as("sumsq"))
      val share = col("tok").cast(DoubleType) / col("tot").cast(DoubleType)
      val terms = ranked.join(broadcast(tot), Seq("lang"))
        .select(col("lang"), col("rk"), col("tok"), col("tot"),
                col("n_sources"), col("sumsq"),
                Exact.entropyTerm(share).as("hterm"))
      terms.groupBy(col("lang"))
        .agg(max(col("n_sources")).as("n_sources"),
             max(col("tot")).as("total_tokens"),
             max(col("sumsq")).as("sumsq"),
             sum(col("hterm")).as("hsum"),
             sum(col("rk") * col("tok")).as("srt"))
        .select(col("lang"), col("n_sources"), col("total_tokens"),
          (col("sumsq").cast(DoubleType) /
            (col("total_tokens").cast(DoubleType) *
              col("total_tokens").cast(DoubleType))).as("hhi"),
          (col("hsum").cast(DoubleType) / 1e9).as("entropy"),
          Exact.q9(exp(col("hsum").cast(DoubleType) / 1e9)).as("effective_sources"),
          ((lit(2L) * col("srt") -
              (col("n_sources") + 1L) * col("total_tokens"))
             .cast(DoubleType) /
            (col("n_sources") * col("total_tokens")).cast(DoubleType))
            .as("gini"))
    },

    // ---------------------------------------------------------------
    // q270: SOURCE-ABLATION readout (leave-one-source-out) — the cheap
    // end of the data-attribution ladder: for every source, what the
    // corpus looks like WITHOUT it, from one corpus pass. Additive
    // metrics (docs, tokens, mean tokens/doc) ablate by subtraction of
    // the per-source partials from the grand totals; the non-additive
    // exact-dup metric (removable docs = Σ_h max(c_h − 1, 0)) ablates
    // via per-(hash, source) counts joined back to per-hash totals —
    // only hashes the source TOUCHES contribute a correction, so the
    // work is one (hash × source) agg + one hash-key equi-join, never a
    // per-source corpus rescan (20 sources ≠ 20 passes). A negative
    // d_removable_dups says the source is mostly duplicate mass — the
    // first candidate to drop; d_mean_tokens shows the length-mix shift
    // its removal would cause. All counts exact BIGINTs; the two means
    // are single double divisions.
    // ---------------------------------------------------------------
    "q270_source_ablation" -> { (s, dir) =>
      val d = Tables(s, dir).documents
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"),
                size(Text.tokens(col("text"))).cast(LongType).as("nt"))
      val bySrc = d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_s"), sum(col("nt")).as("t_s"))
      val tot = d.agg(count(lit(1)).as("n_all"), sum(col("nt")).as("t_all"))
      val hs = d.groupBy(col("h"), col("source")).agg(count(lit(1)).as("c_s"))
      val ht = d.groupBy(col("h")).agg(count(lit(1)).as("c_tot"))
      val dupAll = ht.agg(coalesce(sum(
        greatest(col("c_tot") - 1L, lit(0L))), lit(0L)).as("dup_all"))
      // per-source correction: Σ over touched hashes of
      //   max(c_tot − c_s − 1, 0) − max(c_tot − 1, 0)
      val corr = hs.join(ht, Seq("h"))
        .groupBy(col("source"))
        .agg(sum(greatest(col("c_tot") - col("c_s") - 1L, lit(0L)) -
                 greatest(col("c_tot") - 1L, lit(0L))).as("dup_corr"))
      bySrc.join(corr, Seq("source"))
        .crossJoin(broadcast(tot)).crossJoin(broadcast(dupAll))
        .select(col("source"), col("n_s").as("n_docs"),
          (col("t_all").cast(DoubleType) / col("n_all").cast(DoubleType))
            .as("mean_tokens_all"),
          // A source holding the whole corpus leaves zero docs "without"
          // it — emit NULL (both engines) instead of NaN/div-by-zero.
          when(col("n_all") === col("n_s"), lit(null).cast(DoubleType))
            .otherwise((col("t_all") - col("t_s")).cast(DoubleType) /
              (col("n_all") - col("n_s")).cast(DoubleType))
            .as("mean_tokens_without"),
          col("dup_all").as("removable_dups_all"),
          (col("dup_all") + col("dup_corr")).as("removable_dups_without"),
          col("dup_corr").as("d_removable_dups"))
    },

    // ---------------------------------------------------------------
    // q75: segment-level exact dedup (the "line dedup" step of C4/
    // RefinedWeb-style curation): split every document into 10-token
    // segments, keep only the globally FIRST occurrence of each distinct
    // segment (first = smallest (doc_id, seg_idx)), and rebuild each
    // document from its surviving segments.
    //
    // Shape at 100 TB: segment reassembly is one shuffle on
    // (doc_id, seg_idx); first-occurrence is groupBy(seg) + min(struct) —
    // partial aggregation collapses a segment repeated in billions of
    // docs to one row per map task BEFORE the shuffle (a window
    // partitioned by segment would put that hot segment through one
    // task); the verdict comes back via an equi-join on the segment.
    // ---------------------------------------------------------------
    "q75_segment_dedup" -> { (s, dir) =>
      // segmentation is docSegments — the single source the q200/q204
      // family and the streaming index leg share (an inlined copy here
      // could silently drift if SegTokens handling or token ordering
      // changed in one place)
      val segs = docSegments(Tables(s, dir).documents)
      val firsts = segs.groupBy(col("seg"))
        .agg(min(struct(col("doc_id"), col("seg_idx"))).as("first_occ"))
      val flagged = segs.join(firsts, "seg")
        .select(col("doc_id"), col("seg_idx"), col("seg"),
                (col("doc_id") === col("first_occ.doc_id") &&
                 col("seg_idx") === col("first_occ.seg_idx")).as("kept"))
      reassembled(flagged)
    },

    // ---------------------------------------------------------------
    // q200: document-frequency boilerplate SCRUB — the CCNet/RefinedWeb
    // lever q75 is not. q75 keeps a duplicated segment's globally FIRST
    // occurrence; boilerplate (nav chrome, license headers, cookie
    // banners) must be removed from EVERY document once it appears in
    // ≥ BoilerplateDf distinct docs — including the first. Segments are
    // q75's 10-token windows; DF = distinct docs per segment; docs are
    // rebuilt from surviving segments in order, and a doc losing more
    // than half its segments is dropped outright (a mostly-boilerplate
    // doc isn't worth keeping).
    //
    // Shape at 100 TB: DF is groupBy(seg) + countDistinct (two-level
    // partial agg — a segment repeated in billions of docs collapses
    // map-side; a window partitioned by segment would funnel that hot
    // segment through ONE task); the verdict returns via an equi-join
    // on the segment; reassembly is the same (doc_id)-keyed bounded
    // array agg as q75. The clean text is gated by md5, so removal is
    // byte-exact.
    // ---------------------------------------------------------------
    "q200_boilerplate_scrub" -> { (s, dir) =>
      val segs = docSegments(Tables(s, dir).documents)
      // The boilerplate list comes from boilerplateFromIncidences — the
      // SAME aggregation+threshold the streaming index readout uses, so
      // the two cannot drift. Scale bonus over joining the full DF
      // table back: the right side carries ONLY boilerplate segments
      // (df ≥ threshold — typically a tiny fraction), so the verdict
      // join's build side is small enough for AQE to broadcast.
      val bp = boilerplateFromIncidences(
          segs.select(col("seg"), col("doc_id")))
        .select(col("seg"), lit(true).as("__bp"))
      val flagged = segs.join(bp, Seq("seg"), "left")
        .select(col("doc_id"), col("seg_idx"), col("seg"),
                col("__bp").isNull.as("kept"))
      reassembled(flagged)
        .select(col("doc_id"), col("n_segments"), col("n_kept_segments"),
                (col("n_segments") - col("n_kept_segments")).as("n_removed"),
                md5(col("clean_text")).as("clean_hash"),
                ((col("n_segments") - col("n_kept_segments")).cast(DoubleType) /
                 col("n_segments").cast(DoubleType)).as("frac_removed"),
                (lit(2L) * col("n_kept_segments") < col("n_segments"))
                  .as("is_dropped"))
    },

    // ---------------------------------------------------------------
    // q205: scrub THEN dedup — the ORDERING every real pipeline must
    // get right. Two crawls of one page differ only in nav chrome /
    // cookie banners: raw exact dedup sees two distinct hashes and
    // keeps both; after q200's scrub their bytes coincide and the
    // duplicate surfaces. So exact dedup must run on the SCRUBBED
    // text — this composition does, with q75's groupBy-min canonical
    // over the clean hash among surviving (non-dropped) docs, and
    // `scrub_revealed` marking groups whose raw bytes differed: the
    // duplicates only this ordering can catch (CurationSpec proves one
    // on a crafted pair; raw dedup provably misses it).
    // Shape: q200's aggregates + one clean_hash groupBy (partial agg —
    // a viral post duplicated across billions of pages collapses
    // map-side) + the verdict equi-join. No window, no new corpus scan.
    // ---------------------------------------------------------------
    "q205_scrub_then_dedup" -> { (s, dir) =>
      val scrub = defs("q200_boilerplate_scrub")(s, dir)
        .filter(!col("is_dropped"))
        .select(col("doc_id"), col("clean_hash"), col("n_removed"))
      val raw = Tables(s, dir).documents
        .select(col("doc_id"), md5(col("text")).as("raw_hash"))
      // eagerly cut: `j` feeds the first-occurrence agg AND the readout
      // join-back — uncut, each reference re-ran the whole q200 scrub
      // pipeline + the raw md5 scan; the frame is four narrow columns
      val j = graft.core.Materialize.cut(
        scrub.join(raw, "doc_id"), "q205_scrubbed")
      val firsts = j.groupBy(col("clean_hash"))
        .agg(min(col("doc_id")).as("canonical_id"),
             count(lit(1)).as("n_copies"),
             countDistinct(col("raw_hash")).as("n_raw_variants"))
      j.join(firsts, "clean_hash")
        .select(col("doc_id"), col("clean_hash"), col("n_removed"),
                col("canonical_id"), col("n_copies"),
                (col("doc_id") === col("canonical_id")).as("is_canonical"),
                (col("n_copies") > 1L && col("n_raw_variants") > 1L)
                  .as("scrub_revealed"))
    },

    // ---------------------------------------------------------------
    // q204: INCREMENTAL boilerplate detection — q200's DF table under
    // the q141/q145/q172/q198 build-once/probe-deltas discipline. The
    // base half's per-segment distinct-doc counts persist as a
    // contract-enforced table bucketed by seg_hash; a delta batch
    // aggregates ITS segment counts (∝ delta, never re-reading the base
    // corpus) and merges with one seg_hash join whose index side needs
    // no exchange. Because the split halves are doc-disjoint,
    // total = base + delta exactly. The operational readout is the
    // boilerplate LIST the scrub consumes — and `newly_boilerplate`
    // marks segments the delta pushed over the bar, which is exactly
    // the remediation set: base docs containing those segments were
    // scrubbed against stale DF and need re-scrubbing. Gated ≡ the
    // one-shot DF restatement over the full corpus.
    // ---------------------------------------------------------------
    "q204_boilerplate_incremental" -> { (s, dir) =>
      val idx = boilerplateIndex(s, dir)
      val deltaDf = docSegments(
          Tables(s, dir).documents.filter(capSplitBucket >= 50))
        .groupBy(col("seg"))
        .agg(countDistinct(col("doc_id")).as("delta_df"))
        .select(md5(col("seg")).as("seg_hash"), col("seg").as("dseg"),
                col("delta_df"))
      idx.join(deltaDf, Seq("seg_hash"), "full_outer")
        .select(col("seg_hash"),
                coalesce(col("seg"), col("dseg")).as("seg"),
                coalesce(col("base_df"), lit(0L)).as("base_df"),
                coalesce(col("delta_df"), lit(0L)).as("delta_df"))
        .withColumn("total_df", col("base_df") + col("delta_df"))
        .filter(col("total_df") >= BoilerplateDf)
        .select(col("seg_hash"), col("seg"), col("base_df"),
                col("delta_df"), col("total_df"),
                (col("base_df") < BoilerplateDf).as("newly_boilerplate"))
    },

    // ---------------------------------------------------------------
    // q76: repetition-based quality metrics (the shape of the Gopher
    // rules): duplicate-word fraction, most-frequent-token share, and
    // duplicate-bigram fraction, plus a pass/fail filter flag.
    //
    // Every statistic is a function of ONE document, so the word
    // frequencies are computed scan-locally by the WordGramStats(n=1)
    // expression (the q211 row-amplification lesson — the retired
    // explode → groupBy(doc, tok) shape shuffled the whole tokenized
    // corpus to fold it straight back to one row per doc); bigram stats
    // never leave the projection — total bigrams is size(tokens)-1 and
    // distinct bigrams is the native single-pass ShingleArray(n=2). All
    // fractions are single IEEE divisions of exact integers —
    // deterministic under any partitioning, which is what lets them
    // hash-gate. ZERO exchanges; CurationSpec pins equality against the
    // retired composed tree.
    // ---------------------------------------------------------------
    "q76_repetition_quality" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val dupWordFrac = (col("n_tokens") - col("n_distinct_tokens")) /
        col("n_tokens").cast(DoubleType)
      val topFrac = col("top_token_count") / col("n_tokens").cast(DoubleType)
      val dupBigramFrac = when(col("n_bigrams") > 0,
        (col("n_bigrams") - col("n_distinct_bigrams")) /
          col("n_bigrams").cast(DoubleType)).otherwise(0.0)
      // inline(): a generator evaluates the stats struct ONCE per row
      // (four getField projections of the same expression would lean on
      // codegen subexpression elimination instead)
      docs.select(col("doc_id"),
                  greatest(size(Text.tokens(col("text"))) - 1, lit(0))
                    .cast(LongType).as("n_bigrams"),
                  size(Text.shingles(col("text"), 2)).cast(LongType)
                    .as("n_distinct_bigrams"),
                  inline(org.apache.spark.sql.graftx.WordGramStats
                    .wordGramStats(col("text"), Seq(1))))
        .select(col("doc_id"),
                col("n_grams").as("n_tokens"),
                col("n_distinct").as("n_distinct_tokens"),
                col("top_gram").as("top_token"),
                col("top_count").as("top_token_count"),
                col("n_bigrams"), col("n_distinct_bigrams"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
                dupWordFrac.as("dup_word_frac"),
                col("top_token"), col("top_token_count"),
                topFrac.as("top_token_frac"),
                col("n_bigrams"), col("n_distinct_bigrams"),
                dupBigramFrac.as("dup_bigram_frac"),
                (dupWordFrac <= 0.6 && topFrac <= 0.2 && dupBigramFrac <= 0.4)
                  .as("passes_repetition_filter"))
    },

    // ---------------------------------------------------------------
    // q156: the Gopher repetition-metric suite (Rae et al. 2021) — the
    // published filter set q76 approximates, computed exactly: for each
    // n-gram width n ∈ {2,3,4,5}, the fraction of the document's
    // CHARACTERS covered by (a) the single most frequent n-gram and
    // (b) all duplicated n-grams (count ≥ 2), occurrences counted with
    // multiplicity. Long format (one row per doc × n) so a filter reads
    // its thresholds straight off the columns.
    //
    // Scale shape: every statistic is a function of ONE document, so
    // the whole per-(doc, n) aggregation is computed scan-locally by
    // the WordGramStats expression — one tokenize per row, all four
    // widths in one pass, ZERO exchanges (the q211 row-amplification
    // lesson: the retired explode shape pushed ≈4× the tokenized corpus
    // — each row a reconstructed gram string — through a corpus-wide
    // groupBy(doc, n, gram) exchange, just to fold it straight back to
    // one row per (doc, n)). Short docs (fewer than n tokens) keep
    // their zero row per width straight from the expression.
    // Deterministic top pick unchanged: count desc, gram asc in UTF-8
    // byte order. CurationSpec pins equality against the retired
    // composed tree; the DuckDB oracle replays the exploded SQL.
    // ---------------------------------------------------------------
    "q156_gopher_repetition" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val stats = docs.select(
        col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars_doc"),
        explode(org.apache.spark.sql.graftx.WordGramStats
          .wordGramStats(col("text"), GopherNs)).as("st"))
      val hasGrams = col("st.n_grams") > 0L
      stats.select(col("doc_id"), col("st.n").as("n"),
                   col("st.n_grams").as("n_grams"),
                   col("st.top_gram").as("top_gram"),
                   col("st.top_count").as("top_gram_count"),
                   when(hasGrams,
                        (col("st.top_count") *
                          length(col("st.top_gram")).cast(LongType))
                          .cast(DoubleType) /
                          col("n_chars_doc").cast(DoubleType))
                     .otherwise(lit(0.0)).as("top_gram_char_frac"),
                   when(hasGrams,
                        col("st.dup_chars").cast(DoubleType) /
                          col("n_chars_doc").cast(DoubleType))
                     .otherwise(lit(0.0)).as("dup_gram_char_frac"))
    },

    // ---------------------------------------------------------------
    // q77: benchmark decontamination — flag corpus documents sharing any
    // 8-token n-gram with a held-out benchmark set (docs with
    // doc_id % 10 == 0 stand in for the benchmark). An 8-gram in common
    // is effectively a copied span, the standard contamination signal.
    //
    // Shape at 100 TB: the benchmark side is DISTINCT n-grams of the
    // benchmark corpus — in production benchmarks are tiny relative to
    // the corpus, so this side broadcasts; here it is a regular
    // partial-agg'd distinct + shuffle equi-join (the general shape that
    // needs no size assumption). Corpus n-grams are per-doc DISTINCT
    // (native single-pass ShingleArray), so the join multiplicity is at
    // most one row per (doc, shared n-gram) and the groupBy count is the
    // number of distinct overlapping n-grams.
    // ---------------------------------------------------------------
    "q77_decontaminate" -> { (s, dir) =>
      val docs  = Tables(s, dir).documents
      val bench = docs.filter(col("doc_id") % 10 === 0)
        .select(explode(Text.shingles(col("text"), 8)).as("ngram"))
        .distinct()
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val hits = corpus
        .select(col("doc_id"), explode(Text.shingles(col("text"), 8)).as("ngram"))
        .join(bench, "ngram")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_overlap"))
      corpus.select(col("doc_id"), col("lang"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
                coalesce(col("n_overlap"), lit(0L)).as("n_overlap_ngrams"),
                (coalesce(col("n_overlap"), lit(0L)) > 0).as("is_contaminated"))
    },

    // ---------------------------------------------------------------
    // q102: bigram LM scoring with add-one smoothing — the conditional
    // upgrade of q78's unigram filter (the CCNet-style "does this text
    // read like language" score): p(wᵢ|wᵢ₋₁) = (c₂(wᵢ₋₁wᵢ)+1) /
    // (c₁(wᵢ₋₁)+V). Bigrams are extracted scan-locally ([[bigrams]]);
    // the bigram/unigram count tables are vocab-bounded (broadcast here;
    // corpus-scale vocabularies make them plain equi-join tables) and
    // the report is [[perplexityReport]]'s pos-ordered fold.
    // ---------------------------------------------------------------
    "q102_bigram_lm" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val pairs = bigrams(docs)
      val tok = docs.select(explode(Text.tokens(col("text"))).as("tok"))
      val c1  = tok.groupBy(col("tok")).agg(count(lit(1)).as("c1"))
      val v   = c1.agg(count(lit(1)).as("vocab"))
      val c2  = pairs.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))
      val scored = pairs
        .join(broadcast(c2), Seq("prev", "cur"))
        .join(broadcast(c1.withColumnRenamed("tok", "prev")), "prev")
        .crossJoin(broadcast(v))
        .select(col("doc_id"), col("pos"),
                termLogp((col("c2").cast(DoubleType) + lit(1.0)) /
                  (col("c1").cast(DoubleType) + col("vocab").cast(DoubleType))))
      perplexityReport(docs, scored)
    },

    // ---------------------------------------------------------------
    // q175: Kneser–Ney smoothed bigram LM — the modeling upgrade over
    // q102's add-one smoothing (the smoothing every real n-gram
    // perplexity filter ships): absolute discount d = 0.75 off every
    // seen bigram, mass redistributed through the CONTINUATION
    // probability (how many distinct histories precede a word — "Francisco"
    // is frequent but only ever follows "San", so its continuation mass
    // is tiny). p(w|v) = max(c(vw)−d, 0)/c(v·) + d·N1+(v·)/c(v·) ·
    // N1+(·w)/|bigram types|. All model statistics are integer counts
    // (vocabulary-sized partial aggregates, broadcast back — the corpus
    // is never shuffled to score); the per-term double expression is a
    // fixed operation tree both engines evaluate identically, and the
    // terms are quantized and folded as q102's ([[termLogp]],
    // [[perplexityReport]]).
    // ---------------------------------------------------------------
    "q175_kneser_ney_lm" -> { (s, dir) => knScores(s, dir) },

    // ---------------------------------------------------------------
    // q176: CCNet-style perplexity bucketing — the step CCNet runs right
    // after LM scoring: per LANGUAGE, split the corpus into head /
    // middle / tail terciles by perplexity (head = most fluent third,
    // the slice usually kept; tail = candidates for dropping). At scale
    // the split must NOT be a per-lang rank window (a language is a
    // giant skewed partition): compute the two tercile THRESHOLDS per
    // lang with the exact-interpolation percentile aggregate (q18's
    // discipline — ≤|langs| rows out), broadcast them back, and label
    // scan-locally. Fractions are the shortest-round-trip doubles of
    // 1/3 and 2/3 so both engines interpolate identical positions.
    // ---------------------------------------------------------------
    "q176_perplexity_buckets" -> { (s, dir) =>
      val scores = knScores(s, dir)
        .select(col("doc_id"), col("lang"), col("perplexity"))
      val thr = scores.groupBy(col("lang"))
        .agg(expr("percentile(perplexity, 0.3333333333333333)").as("t1"),
             expr("percentile(perplexity, 0.6666666666666666)").as("t2"))
      scores.join(broadcast(thr), "lang")
        .select(col("doc_id"), col("lang"), col("perplexity"),
                col("t1"), col("t2"),
                when(col("perplexity") <= col("t1"), "head")
                  .when(col("perplexity") <= col("t2"), "middle")
                  .otherwise("tail").as("bucket"))
    },

    // ---------------------------------------------------------------
    // q78: corpus unigram-LM scoring — the "perplexity filter" of a
    // training-data pipeline, with the corpus itself as the LM: global
    // token frequencies, p(tok) = cnt/total, and each document scored by
    // its mean log-probability (low = rare-token-heavy / atypical docs).
    //
    // Shape at 100 TB: the LM is one partial-aggregated groupBy(tok) —
    // vocabulary-sized output, broadcast back onto the token stream, so
    // the corpus is never shuffled to score it. Determinism: cnt/total is
    // one integer→double division, each term is quantized by [[termLogp]]
    // and the per-doc reduction is the [[sumLogp]] fold.
    // ---------------------------------------------------------------
    "q78_unigram_lm" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val tok = docs.select(
        col("doc_id"),
        posexplode(Text.tokens(col("text"))).as(Seq("pos", "tok")))
      val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum(col("cnt")).as("total"))
      val scored = tok
        .join(broadcast(vocab), "tok")
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("pos"),
                termLogp(col("cnt").cast(DoubleType) / col("total").cast(DoubleType)))
      scored.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sumLogp.as("sum_logprob"))
        .select(col("doc_id"), col("n_tokens"), col("sum_logprob"),
                (col("sum_logprob") / col("n_tokens").cast(DoubleType))
                  .as("avg_logprob"),
                // exp() is not correctly rounded: quantized (the Exact rule)
                Exact.q9(exp(-(col("sum_logprob") / col("n_tokens").cast(DoubleType))))
                  .as("perplexity"))
    },

    // ---------------------------------------------------------------
    // q82: n-gram novelty — per document, the fraction of its distinct
    // 8-grams whose globally FIRST occurrence (min doc_id) is this
    // document. The inverse of contamination: a measure of how much new
    // text each document contributes to the corpus (RefinedWeb-style
    // "what does another crawl snapshot add" accounting).
    //
    // Same scale discipline as q75: first-occurrence is
    // groupBy(ngram).min(doc_id) — partial aggregation collapses an
    // n-gram repeated across billions of docs BEFORE its shuffle — and
    // the verdict returns via an equi-join on the n-gram. The exploded
    // n-gram stream is cut only because it feeds both the aggregate and
    // the join probe at bench scale; at 100 TB you would recompute the
    // (cheap, scan-local) explode instead of materializing it.
    // ---------------------------------------------------------------
    "q82_ngram_novelty" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val ng = ngramStream.cut(s, dir)(docs
        .select(col("doc_id"), explode(Text.shingles(col("text"), 8)).as("ngram")))
      val firsts = ng.groupBy(col("ngram")).agg(min(col("doc_id")).as("first_doc"))
      val perDoc = ng.join(firsts, "ngram")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_ngrams"),
             sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
               .as("n_novel"))
      docs.select(col("doc_id"), col("lang"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
                coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
                coalesce(col("n_novel"), lit(0L)).as("n_novel"),
                when(col("n_ngrams").isNotNull,
                     col("n_novel") / col("n_ngrams").cast(DoubleType))
                  .otherwise(0.0).as("novelty_frac"))
    },

    // ---------------------------------------------------------------
    // q79: deterministic weighted sampling — keep each document with
    // probability proportional to its length (capped at 400 chars), the
    // "sample long documents preferentially" step of a data mix. The
    // keep decision compares an md5-derived bucket against the weight in
    // ALL-INTEGER arithmetic (bucket·400 < cap·65536), so no float
    // rounding can differ between engines; a pure projection + filter,
    // no shuffle at all.
    // ---------------------------------------------------------------
    "q79_weighted_sample" -> { (s, dir) =>
      val docs   = Tables(s, dir).documents
      val bucket = md5Bucket16("wsample|", col("doc_id")).cast(LongType)
      val cap    = least(col("n_chars"), lit(400L))
      docs.select(col("doc_id"), col("lang"), col("n_chars"),
                  bucket.as("keep_bucket"),
                  (cap.cast(DoubleType) / 400.0).as("sample_weight"))
        .filter(col("keep_bucket") * 400L < cap * 65536L)
    },

    // ---------------------------------------------------------------
    // q83: Bloom-filter decontamination — the SCALE path for q77. q77
    // joins the corpus n-gram stream against the benchmark's distinct
    // n-grams, which at 100 TB means shuffling (or broadcasting) a set
    // that grows with the benchmark. Here the benchmark side is folded
    // into a 2^16-bit Bloom filter — 2048 constant-size rows (32 bits
    // per BIGINT word; bit 63 is unrepresentable as a DuckDB literal
    // shift) that BROADCAST no matter how big the benchmark gets — and
    // each corpus n-gram probes k=4 bit positions. Hits are a superset
    // of q77's exact overlaps (false positives only, never false
    // negatives — q83b in CurationSpec asserts the containment).
    //
    // Determinism (what lets a Bloom ESTIMATE hash-gate): positions are
    // md5-seeded Kirsch–Mitzenmacher, pos_j = (h1 + j·h2) mod 2^16 with
    // h1/h2 = hex digits [0,4)/[4,8) of md5('bloom|'||ngram) — integer
    // arithmetic any engine reproduces bit-for-bit, unlike library
    // bloom layouts (Spark's BloomFilterAggregate is
    // implementation-defined).
    // ---------------------------------------------------------------
    "q83_bloom_decontaminate" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      def hashed(ng: DataFrame): DataFrame = {
        val hex = md5(concat(lit("bloom|"), col("ngram")))
        ng.select(ng.columns.map(col) :+ hexValue16(hex, 0).as("h1") :+
                    hexValue16(hex, 4).as("h2"): _*)
      }
      def pos(j: Int): Column = (col("h1") + col("h2") * j) % 65536
      val bench = docs.filter(col("doc_id") % 10 === 0)
        .select(explode(Text.shingles(col("text"), 8)).as("ngram"))
        .distinct()
      val bloom = hashed(bench)
        .select(explode(array((0 until 4).map(pos): _*)).as("p"))
        .select(floor(col("p") / 32).cast(LongType).as("word_idx"),
                expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").as("mask"))
        .groupBy(col("word_idx"))
        .agg(expr("bit_or(mask)").as("words"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      // The probe NEVER shuffles the n-gram stream (shingles are per-doc
      // distinct, so there is nothing to pre-aggregate and a
      // (doc_id, ngram)-keyed exchange would carry every corpus n-gram
      // string — the exact cost the bloom exists to avoid): the k=4
      // probed positions stay as plain columns, each resolved against the
      // 2048-row bloom by its own broadcast join, AND-folded per row.
      // The only corpus exchange left is the doc_id-keyed hit count.
      val probed = (0 until 4).foldLeft(
        hashed(corpus.select(col("doc_id"),
                             explode(Text.shingles(col("text"), 8)).as("ngram")))
          .select(col("doc_id") +: (0 until 4).map(j =>
            pos(j).as(s"p_$j")): _*)) { (df, j) =>
        df.withColumn(s"wi_$j", floor(col(s"p_$j") / 32).cast(LongType))
          .join(broadcast(bloom.select(col("word_idx").as(s"wi_$j"),
                                       col("words").as(s"w_$j"))),
                Seq(s"wi_$j"), "left")
      }
      val hitAll = (0 until 4).map { j =>
        coalesce(col(s"w_$j"), lit(0L))
          .bitwiseAND(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(p_$j % 32 AS INT))")) =!= 0L
      }.reduce(_ && _)
      val hits = probed
        .groupBy(col("doc_id"))
        .agg(sum(when(hitAll, 1L).otherwise(0L)).as("n_bloom_hits"))
      corpus.select(col("doc_id"), col("lang"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
                coalesce(col("n_bloom_hits"), lit(0L)).as("n_bloom_hits"),
                (coalesce(col("n_bloom_hits"), lit(0L)) > 0).as("is_flagged_bloom"))
    },

    // ---------------------------------------------------------------
    // q238: decontamination REPORT — the cross-modality dashboard a
    // release review actually reads, unioning three detectors that
    // share the q77/q83 benchmark convention (doc_id % 10 == 0):
    // the Bloom SCREEN (q83 — constant-size broadcast, false positives
    // only), the exact 8-gram TRUTH (q77), and a NEW chunk-SPAN
    // modality: corpus docs sharing a ≥16-char CDC chunk with any
    // benchmark doc — verbatim spans detected at chunk granularity,
    // robust to tokenization and servable from a persisted chunk index
    // (q227's state); ≥16 chars drops the short re-sync tails that
    // match by coincidence. The report classifies every corpus doc
    // (exact+span / exact / span / screen_only / clean) — screen_only
    // IS the measured Bloom false-positive set, since q83's hits are a
    // superset of q77's by construction (CurationSpec's containment) —
    // so the dashboard doubles as the screen's empirical FP-rate read.
    // Scale shape: each modality keeps its own gated shape (memoized
    // composition adds two doc_id equi-joins + one chunk-hash
    // equi-join against the benchmark-sized chunk set; per-doc DISTINCT
    // chunk hashes bound the join multiplicity at 1 per (doc, hash)).
    // ---------------------------------------------------------------
    "q238_decontam_report" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val exact = defs("q77_decontaminate")(s, dir)
        .select(col("doc_id"), col("n_overlap_ngrams"),
                col("is_contaminated").as("is_exact_hit"))
      val bloom = defs("q83_bloom_decontaminate")(s, dir)
        .select(col("doc_id"), col("is_flagged_bloom"))
      val benchChunks = graft.operators.Dedup
        .cdcChunkFrame(d.filter(col("doc_id") % 10 === 0), "doc_id", "text")
        .filter(col("chunk_chars") >= 16L)
        .select(md5(col("chunk_text")).as("chunk_hash")).distinct()
      val corpusDocs = d.filter(col("doc_id") % 10 =!= 0)
      val chunkHits = graft.operators.Dedup.cdcChunkFrame(corpusDocs, "doc_id", "text")
        .filter(col("chunk_chars") >= 16L)
        .select(col("doc_id"), md5(col("chunk_text")).as("chunk_hash"))
        .distinct()
        .join(benchChunks, "chunk_hash")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_chunks"))
      val spanHit = col("n_shared_chunks") > 0L
      corpusDocs.select(col("doc_id"), col("lang"))
        .join(exact, Seq("doc_id"))
        .join(bloom, Seq("doc_id"))
        .join(chunkHits, Seq("doc_id"), "left")
        .withColumn("n_shared_chunks", coalesce(col("n_shared_chunks"), lit(0L)))
        .select(col("doc_id"), col("lang"), col("is_flagged_bloom"),
                col("n_overlap_ngrams"), col("is_exact_hit"),
                col("n_shared_chunks"), spanHit.as("is_span_hit"),
                (col("is_exact_hit") || spanHit).as("is_contaminated"),
                (col("is_flagged_bloom") && !col("is_exact_hit"))
                  .as("bloom_false_positive"),
                when(col("is_exact_hit") && spanHit, "exact+span")
                  .when(col("is_exact_hit"), "exact")
                  .when(spanHit, "span")
                  .when(col("is_flagged_bloom"), "screen_only")
                  .otherwise("clean").as("verdict"))
    },


    // ---------------------------------------------------------------
    // q86: source-mixture rebalancing — downsample every source to the
    // SMALLEST source's size (uniform target mixture), the domain-mixing
    // step of a training-data build. Per-source counts are one partial-
    // agg'd groupBy whose output is source-cardinality-sized (broadcasts
    // at any corpus scale); the keep decision is then a scan-local
    // all-integer comparison (bucket·n_source < 2^16·target_n) on an
    // md5-derived bucket — reproducible across engines, runs,
    // partitionings, and task retries, and the kept count concentrates
    // on target_n per source without any per-source sort or shuffle of
    // the corpus itself.
    // ---------------------------------------------------------------
    "q86_mixture_rebalance" -> { (s, dir) =>
      val docs   = Tables(s, dir).documents
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_source"))
      val target = counts.agg(min(col("n_source")).as("target_n"))
      val bucket = md5Bucket16("mix|", col("doc_id")).cast(LongType)
      docs.select(col("doc_id"), col("lang"), col("source"),
                  bucket.as("keep_bucket"))
        .join(broadcast(counts), "source")
        .crossJoin(broadcast(target))
        .filter(col("keep_bucket") * col("n_source") <
                  lit(65536L) * col("target_n"))
        .select(col("doc_id"), col("lang"), col("source"),
                col("n_source"), col("target_n"),
                (col("target_n").cast(DoubleType) /
                  col("n_source").cast(DoubleType)).as("sample_rate"))
    },

    // ---------------------------------------------------------------
    // q157: EXACT quota sampling — q86/q96 keep each doc independently
    // (expected counts only); when a mixture spec demands exact counts
    // ("exactly 200 docs, proportional to corpus shares"), the per-
    // language quotas are largest-remainder apportioned and picked by
    // md5 rank: [[graft.operators.Sampling.quotaSample]] owns the
    // apportionment, its tie order and the pick.
    // ---------------------------------------------------------------
    "q157_quota_sample" -> { (s, dir) =>
      graft.operators.Sampling.quotaSample(
        Tables(s, dir).documents, "lang", "doc_id", QuotaB, "quota|")
    },

    // ---------------------------------------------------------------
    // q161: the round's new operators COMPOSED into one curation pass
    // (the q110 "user story" discipline): DSIR-score every document
    // (q148's model), drop non-canonical duplicates (q67/q149's
    // transitive clusters — keep each cluster's min id), take the
    // top-100 selection by importance weight, then apportion a 50-doc
    // training sample across languages by exact largest-remainder
    // quotas (q157) picked by md5 rank. Every stage is an
    // already-gated operator; the gate proves the COMPOSITION still
    // hash-matches end to end.
    // ---------------------------------------------------------------
    "q161_curation_v2" -> { (s, dir) => curationV2(s, dir, restrict = None) },

    // ---------------------------------------------------------------
    // q195: per-source CAP-AND-SELECT — the standard anti-flooding
    // lever against one host dominating a web corpus: at most
    // SourceCapC documents survive per `source`, selected
    // deterministically by md5 rank (see [[sourceCapped]] for the
    // bounded-heap scale shape — the flooded source IS the skewed key,
    // so no per-source window sort is ever planned). The readout
    // carries the pre-cap size and a `capped` flag per source so the
    // composition reports (q182/q186) can attribute mass removed by
    // the cap.
    // ---------------------------------------------------------------
    "q195_source_cap" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_source"))
      sourceCapped(d)
        .join(broadcast(counts), Seq("source"))
        .select(col("source"), col("doc_id"), col("src_rank"),
                col("n_source").cast(LongType).as("n_source"),
                lit(SourceCapC.toLong).as("cap"),
                (col("n_source") > SourceCapC).as("capped"))
    },

    // ---------------------------------------------------------------
    // q196: the cap COMPOSED with q161's full curation pass — cap
    // eligibility per source first (anti-flooding), then DSIR-select,
    // canonical-dedup, and quota-apportion exactly as q161. The gate
    // proves the composition still hash-matches end to end with the
    // cap in the loop (the q161 discipline); the DSIR model and dup
    // clusters stay corpus-fitted — the cap governs what may be
    // picked, not what the models see.
    // ---------------------------------------------------------------
    "q196_capped_curation" -> { (s, dir) =>
      curationV2(s, dir,
        restrict = Some(sourceCapped(Tables(s, dir).documents)))
    },

    // ---------------------------------------------------------------
    // q209: SCRUB-GATED curation — the boilerplate family plugged into
    // the flagship composition through the same eligibility hook as
    // q196's cap: only q200's scrub survivors (docs that kept ≥ half
    // their segments) may be SELECTED, while the DSIR model and dup
    // clusters stay corpus-fitted. The real-pipeline reading: a
    // mostly-boilerplate doc must not spend selection budget, but
    // hiding it from model fitting would silently shift every
    // importance weight — eligibility and fitting are different scopes,
    // and this hook keeps them separate.
    // ---------------------------------------------------------------
    "q209_scrubbed_curation" -> { (s, dir) =>
      curationV2(s, dir,
        restrict = Some(defs("q200_boilerplate_scrub")(s, dir)
          .filter(!col("is_dropped"))
          .select(col("doc_id"))))
    },

    // ---------------------------------------------------------------
    // q223: CALIBRATED curation — q222's per-source quantile keep set as
    // the eligibility restrict (the q196/q209 hook): only docs in their
    // source's top quintile may be SELECTED, while the DSIR model and
    // dup clusters stay corpus-fitted. This is the composition the
    // calibration exists FOR: a global quality bar inside the selection
    // would re-introduce exactly the per-source bias q222 removes, so
    // the bar is applied in quantile space per source, and the selection
    // then ranks the calibrated survivors by importance as usual.
    // ---------------------------------------------------------------
    "q223_calibrated_curation" -> { (s, dir) =>
      curationV2(s, dir,
        restrict = Some(TextQueries.defs("q222_source_quantile_norm")(s, dir)
          .filter(col("is_kept"))
          .select(col("doc_id"))))
    },

    // ---------------------------------------------------------------
    // q198: INCREMENTAL cap maintenance — the q141/q145/q172
    // build-once/probe-deltas discipline on q195: the base half's kept
    // set persists as a contract-enforced warehouse table (the state IS
    // the selection, ≤ cap·|sources| rows), and a delta batch merges
    // against THAT — never the base corpus — with a fresh bounded-heap
    // top-C per source. Exact by the top-k union identity:
    // topC(base ∪ delta) = topC(topC(base) ∪ delta), and survivor ranks
    // equal full-corpus ranks (every doc ranked above a survivor is
    // itself kept on its side). Gated against the one-shot q195
    // restatement; a displaced base doc simply drops out of the top-C —
    // the eviction case a naive append-only index gets wrong.
    // ---------------------------------------------------------------
    "q198_source_cap_incremental" -> { (s, dir) =>
      val idx = sourceCapIndex(s, dir)
      val delta = Tables(s, dir).documents.filter(capSplitBucket >= 50)
      sourceCapped(idx.select(col("source"), col("doc_id"))
          .unionByName(delta.select(col("source"), col("doc_id")))
          .distinct()) // the heap is a multiset — overlap must not double-occupy slots
        .select(col("source"), col("doc_id"), col("src_rank"),
                (capSplitBucket >= 50).as("is_delta"))
    },

    // ---------------------------------------------------------------
    // q96: temperature-based mixture sampling (α = 0.5) — the softer
    // sibling of q86's uniform rebalance: each source keeps with
    // probability (n_min/n_source)^α, the multilingual-sampling
    // temperature that upweights small sources WITHOUT flattening the
    // mixture entirely (expected kept ≈ √(n_min·n_source), between
    // n_min and n_source). Same scale discipline as q86: counts
    // broadcast, keep decision scan-local and retry-idempotent. The
    // threshold √(n_min·n_source) is the ONLY non-integer step — IEEE
    // sqrt is correctly rounded, so floor(sqrt(CAST(n_min·n_source)))
    // is bit-identical across engines; the keep comparison itself
    // stays all-integer (bucket·n_source < 2¹⁶·thr). The n_min·n_source
    // product rides DECIMAL(38,0)/HUGEINT (temperatureRepeats' rule —
    // two corpus-scale doc counts pass BIGINT at ~3·10⁹ docs each);
    // the DOUBLE cast after it is the same IEEE value in both engines.
    // ---------------------------------------------------------------
    "q96_temperature_mix" -> { (s, dir) =>
      val docs   = Tables(s, dir).documents
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_source"))
      val target = counts.agg(min(col("n_source")).as("n_min"))
      val thr = floor(sqrt(
        expr("CAST(CAST(n_min AS DECIMAL(38,0)) * n_source AS DOUBLE)")))
        .cast(LongType)
      val bucket = md5Bucket16("temp|", col("doc_id")).cast(LongType)
      docs.select(col("doc_id"), col("lang"), col("source"),
                  bucket.as("keep_bucket"))
        .join(broadcast(counts), "source")
        .crossJoin(broadcast(target))
        .withColumn("thr", thr)
        .filter(col("keep_bucket") * col("n_source") < lit(65536L) * col("thr"))
        .select(col("doc_id"), col("lang"), col("source"),
                col("n_source"), col("n_min"), col("thr"),
                (col("thr").cast(DoubleType) / col("n_source").cast(DoubleType))
                  .as("sample_rate"))
    },

    // ---------------------------------------------------------------
    // q168: temperature-weighted token-budget REPEAT allocation — the
    // upsampling dual of q96's keep/drop thinning: given a training
    // budget of B = total_tokens DIV 2 tokens, languages get token
    // targets ∝ T_l^α (α = 0.5, the mT5 temperature), and each document
    // inherits its language's epoch count — floor(target/T_l) full
    // epochs plus one extra with probability rem/T_l decided by the doc's
    // md5 bucket (deterministic, retry-idempotent, never rand()). This is
    // the operator that emits "repeat this doc N times" for the shard
    // writer, where q96 only decides membership.
    //
    // Cross-engine arithmetic: sqrt is the ONLY float step (IEEE
    // correctly-rounded in both engines); the normalizing sum runs over
    // 1e6-quantized BIGINTs so double summation ORDER can never perturb
    // a weight, and targets/epochs/extra-epoch thresholds are all-integer
    // (h·T_l < rem·2¹⁶).
    // ---------------------------------------------------------------
    "q168_temperature_mixture" -> { (s, dir) =>
      temperatureRepeats(Tables(s, dir).documents.select(
        col("doc_id"), col("lang"),
        size(Text.tokens(col("text"))).cast(LongType).as("n_tokens")))
    },

    // ---------------------------------------------------------------
    // q173: dedup THEN upsample — the composition every real pipeline
    // runs in exactly this order (upsampling before dedup would clone
    // the duplicates it is about to remove): q169's chunk-level dedup
    // yields each document's residual token count, empty husks drop,
    // and q168's α=0.5 temperature allocation re-derives language
    // targets from the RESIDUAL token mass. Every stage is an
    // already-gated operator; the gate proves the composition still
    // hash-matches end to end (the q161 discipline).
    // ---------------------------------------------------------------
    "q173_dedup_then_mix" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val resid = graft.operators.Dedup.chunkDedup(
          d, "doc_id", "text", TextQueries.ChunkDedupTokens)
        .select(col("doc_id"), col("kept_tokens"))
      temperatureRepeats(
        d.select(col("doc_id"), col("lang"))
          .join(resid, Seq("doc_id"))
          .filter(col("kept_tokens") >= 1)
          .select(col("doc_id"), col("lang"),
                  col("kept_tokens").as("n_tokens")))
    },

    // ---------------------------------------------------------------
    // q171: UniMax budget allocation (Chung et al. 2023) — the
    // epoch-CAPPED alternative to q168's temperature weights: given a
    // budget B = 3·total_tokens and a hard cap of 4 epochs per language,
    // walk languages ASCENDING by capacity C_l = 4·T_l, giving each an
    // equal share of the remaining budget clamped to its capacity —
    // small languages saturate their cap, large ones split what's left
    // uniformly (maximal fairness under the repetition cap).
    //
    // The walk is inherently sequential but runs over ≤|langs| rows, so
    // it rides the q157 discipline: collapse the per-lang table to ONE
    // sorted array (sort_array ∘ collect_list — deterministic), fold it
    // with `aggregate` (interpreted per LANGUAGE, not per row), and
    // posexplode the allocation back out; the corpus-side work stays a
    // single groupBy + broadcast join. Integer shares use
    // (r − r mod k)/k — exact while shares < 2⁵³ (≈9 petatokens), far
    // past any budget this operator would see — and the oracle replays
    // the identical walk as a recursive CTE with BIGINT `//`.
    // ---------------------------------------------------------------
    // ---------------------------------------------------------------
    // q229: repetition-aware epoch-budget allocator — the data-
    // constrained planning step next to q168 (temperature repeats) and
    // q171 (UniMax caps): given a training token budget B and per-source
    // fresh-token counts, how many EPOCHS of each source is the budget
    // worth? Repeated data decays in value (Muennighoff et al. 2023,
    // "Scaling Data-Constrained Language Models": up to ~4 epochs repeat
    // value falls off roughly geometrically, beyond that ~zero); this
    // planner models epoch k of any source at per-token value 2^(4−k)/8
    // (exact-integer ×8 fixed point, δ = ½ per epoch, 4 epochs max) and
    // fills greedily by marginal value — optimal here for the fractional-
    // knapsack reason: slice values are per-token, source-independent,
    // and strictly decreasing in k, so no exchange argument can beat
    // value order. Budget B = 1.5× total fresh tokens (the classic
    // "budget exceeds unique data" regime the paper addresses — every
    // epoch-1 slice funds, then value-2 slices fund in deterministic
    // source order until the boundary slice goes partial). Scale shape:
    // ONE corpus pass (per-source partial+final token counts); the
    // slice lattice is |sources|·4 rows, the prefix window runs over
    // that bounded frame only (constPartition), and all arithmetic is
    // BIGINT — greatest/least clamping, never a double threshold.
    // ---------------------------------------------------------------
    "q229_epoch_budget_alloc" -> { (s, dir) =>
      val t = Tables(s, dir).documents.select(
        col("source"), size(Text.tokens(col("text"))).cast(LongType).as("n_tokens"))
      val src = t.groupBy(col("source")).agg(sum(col("n_tokens")).as("src_tokens"))
      val tot = src.agg(sum(col("src_tokens")).as("tt"))
      val slices = src
        .select(col("source"), col("src_tokens"),
                explode(lit((1L to 4L).toArray)).as("epoch"))
        .withColumn("value_x8",
          when(col("epoch") === 1L, 8L).when(col("epoch") === 2L, 4L)
            .when(col("epoch") === 3L, 2L).otherwise(1L))
        .crossJoin(broadcast(tot))
        .withColumn("budget", expr("(tt * 3) DIV 2"))
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.Macros.constPartition(col("epoch")))
        .orderBy(col("epoch"), col("source"))
      slices
        .withColumn("cum_before",
          coalesce(sum(col("src_tokens")).over(wOrd.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
            lit(0L)))
        .withColumn("taken_tokens",
          greatest(lit(0L), least(col("src_tokens"),
                                  col("budget") - col("cum_before"))))
        .select(col("source"), col("epoch"),
                col("src_tokens").as("slice_tokens"), col("value_x8"),
                col("budget"), col("taken_tokens"),
                (col("taken_tokens") > 0L &&
                 col("taken_tokens") < col("src_tokens")).as("is_partial"),
                (col("taken_tokens") * col("value_x8")).as("weighted_value_x8"))
    },

    // ---------------------------------------------------------------
    // q241: DATA-CONSTRAINED SCALING planner — "is another epoch worth
    // it": Muennighoff et al. 2023 (Scaling Data-Constrained LMs) fit
    // repeated data's diminishing value as effective tokens
    // D'(E) = U·(1 + R·(1 − e^{−(E−1)/R})) with repeat constant R ≈ 15
    // — epoch 1 is full value, epoch E's marginal value decays
    // geometrically, the asymptote is U·(1+R). The planner sweeps
    // E = 1..8 over THIS corpus's unique-token mass U (Σ tokens of q67
    // canonicals — the deduped set is what repeats) and reports budget,
    // effective tokens, and efficiency, the readout that decides
    // between another epoch and more crawling (q236's novelty read is
    // the supply side; this is the demand side). Determinism: the decay
    // e^{−(E−1)/15} is 1e9-quantized immediately (the q232 exp
    // discipline) so eff_factor_e9 is an exact BIGINT; the two DOUBLE
    // readouts are each ONE multiply/divide chain replayed in the same
    // order in the oracle. Scale shape: U is one partial+final agg over
    // the memoized q67 assignment ⋈ token counts; the sweep is an
    // 8-literal-row spine cross-joined against the 1-row broadcast —
    // the corpus is touched once.
    // ---------------------------------------------------------------
    "q241_epoch_yield" -> { (s, dir) =>
      val toks = Tables(s, dir).documents.select(
        col("doc_id"), size(Text.tokens(col("text"))).cast(LongType).as("n_tokens"))
      val u = TextQueries.dupClusterAssignments(s, dir)
        .filter(col("is_canonical"))
        .join(toks, "doc_id")
        .agg(sum(col("n_tokens")).as("unique_tokens"))
      u.crossJoin(
          org.apache.spark.sql.functions.broadcast(
            s.range(1, 9).select(col("id").as("epochs"))))
        .withColumn("decay_e9",
          Exact.e9(exp((lit(1L) - col("epochs")).cast(DoubleType) / 15.0)))
        .withColumn("eff_factor_e9",
          lit(1000000000L) + lit(EpochRepeatConst) * (lit(1000000000L) - col("decay_e9")))
        .select(col("epochs"), col("unique_tokens"),
                (col("epochs") * col("unique_tokens")).as("budget_tokens"),
                col("eff_factor_e9"),
                (col("unique_tokens").cast(DoubleType) *
                  col("eff_factor_e9").cast(DoubleType) / 1e9)
                  .as("effective_tokens"),
                (col("eff_factor_e9").cast(DoubleType) /
                  (col("epochs").cast(DoubleType) * 1e9)).as("efficiency"))
    },

    // ---------------------------------------------------------------
    // q243: DoReMi-style domain reweighting (Xie et al. 2023, Domain
    // Reweighting with Minimax Optimization) — the mixture-weight
    // readout DoReMi derives from EXCESS LOSS: domains where a weak
    // proxy model underperforms a stronger reference have the most
    // learnable headroom and get upweighted. The deterministic analog
    // here: proxy = q78's unigram LM, reference = q175's Kneser–Ney
    // bigram LM (both already gated), per-doc excess loss
    // max(0, ℓ_uni − ℓ_kn) = max(0, lp_kn − lp_uni) on avg log-probs,
    // domain = source. One exponentiated-gradient step from uniform:
    // w_d ∝ exp(η·E_d) with η = 1, then DoReMi's uniform smoothing
    // w = 0.8·softmax + 0.2/K. Determinism: per-doc excess quantizes to
    // a 1e9 BIGINT immediately (exact integer domain sums, partition-
    // order-free), the mean is ONE double division, exp re-quantizes to
    // BIGINT (the q241 discipline), the normalizer Z is an exact BIGINT
    // sum, and each weight is a single replayed-order expression chain.
    // Scale shape: both LM frames are the gated vocab-broadcast scan-
    // local scorers; the domain rollup is a partial+final agg to
    // ≤|sources| rows; the softmax/smoothing runs on that tiny frame
    // against a 1-row broadcast Z. Docs too short to score under both
    // models (no tokens or no bigrams) are excluded — a loss is only
    // comparable where both models emit one.
    // ---------------------------------------------------------------
    "q243_doremi_weights" -> { (s, dir) =>
      val dom = excessPerDoc(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("excess_e9")).as("sum_excess_e9"))
        .withColumn("mean_excess",
          col("sum_excess_e9").cast(DoubleType) /
            (col("n_docs").cast(DoubleType) * 1e9))
        .withColumn("exp_e9",
          Exact.e9(exp(col("mean_excess"))))
      val z = dom.agg(sum(col("exp_e9")).as("z"), count(lit(1)).as("k"))
      dom.crossJoin(broadcast(z))
        .select(col("source"), col("n_docs"), col("mean_excess"),
                (col("exp_e9").cast(DoubleType) / col("z").cast(DoubleType))
                  .as("weight_eg"),
                ((lit(0.8) * col("exp_e9").cast(DoubleType)) /
                   col("z").cast(DoubleType) +
                 lit(0.2) / col("k").cast(DoubleType)).as("weight"))
    },

    // ---------------------------------------------------------------
    // q258: WEIGHTED reservoir sample (Efraimidis–Spirakis A-ES) — the
    // sampling family's missing member: q68 samples docs uniformly and
    // q96 softens source shares, but token-budget curation wants
    // documents drawn ∝ their token mass in ONE pass with a FIXED-SIZE
    // result. A-ES: each doc draws u ∈ (0,1) and ranks by u^(1/w) —
    // equivalently ln(u)/w descending — and the global top-k IS a
    // weighted-without-replacement sample. Determinism: u derives from
    // a 16-bit md5 slice as (v+1)/65537 (an exact small-rational
    // double, identical both engines), ln quantizes to 1e-9 (the
    // established transcendental discipline), the division by w is ONE
    // double op, and the top-k rides the bounded TopKPairs heap with
    // SortableDouble's lossless key — map-side ≤k+1 per task, never a
    // global sort/window (the q219 discipline; the oracle's row_number
    // replays the same (key DESC, doc_id ASC) order). Scale shape: one
    // scan-local projection + the heap agg + a k-row join-back for the
    // carried columns.
    // ---------------------------------------------------------------
    "q258_weighted_sample" -> { (s, dir) =>
      import org.apache.spark.sql.graftx.{SortableDouble, TopKPairs}
      val k = 50
      val d = Tables(s, dir).documents.select(
          col("doc_id"),
          size(Text.tokens(col("text"))).cast(LongType).as("n_tokens"))
        .filter(col("n_tokens") > 0L)
      val u = (graft.functions.HexKeys.value16(
          md5(concat(lit("wrs|"), col("doc_id").cast(StringType))))
          .cast(DoubleType) + 1.0) / 65537.0
      val keyed = d.select(col("doc_id"), col("n_tokens"),
        (Exact.q9(log(u)) /
          col("n_tokens").cast(DoubleType)).as("sample_key"))
      val top = keyed
        .agg(TopKPairs.topK(SortableDouble.sortKeyDesc(col("sample_key")),
                            col("doc_id"), k).as("top"))
        .select(posexplode(col("top")))
        .select((col("pos") + 1).cast(LongType).as("sample_rank"),
                col("col.id").as("doc_id"),
                SortableDouble.decodeDesc(col("col.key")).as("sample_key"))
      broadcast(top).join(d, "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("sample_key"),
                col("sample_rank"))
    },

    // ---------------------------------------------------------------
    // q245: LEARNABILITY filter — q243's excess-loss signal applied at
    // DOC granularity (the RHO-loss / data-selection read: a document a
    // weak model finds much harder than a strong model is the most
    // learnable training material; one both models agree on is either
    // trivial or noise). Selection is STRATIFIED per source — keep each
    // source's top quartile by excess — so one verbose domain can't
    // monopolize the kept set (the q176 / CCNet-tercile discipline:
    // per-source thresholds via the exact-interpolation percentile
    // aggregate, ≤|sources| rows broadcast back, label scan-local —
    // NEVER a per-source rank window over a skewed giant partition).
    // Determinism: excess_e9 is the shared quantized BIGINT; the
    // percentile is the established exact-interpolation aggregate; the
    // keep test compares in double against the interpolated threshold
    // identically in both engines.
    // ---------------------------------------------------------------
    "q245_learnability_filter" -> { (s, dir) =>
      val pd = excessPerDoc(s, dir)
      val thr = pd.groupBy(col("source"))
        .agg(expr("percentile(excess_e9, 0.75)").as("thr_e9"))
      pd.join(broadcast(thr), "source")
        .select(col("doc_id"), col("source"), col("excess_e9"), col("thr_e9"),
                (col("excess_e9").cast(DoubleType) >= col("thr_e9"))
                  .as("is_selected"))
    },

    "q171_unimax_alloc" -> { (s, dir) =>
      val t = Tables(s, dir).documents.select(
        col("doc_id"), col("lang"),
        size(Text.tokens(col("text"))).cast(LongType).as("n_tokens"))
      val pl = t.groupBy(col("lang")).agg(sum(col("n_tokens")).as("lt"))
      val caps = pl.select(col("lang"), col("lt"), (col("lt") * 4L).as("cap"))
      val tot = caps.agg(sum(col("lt")).as("tt"),
                         count(lit(1)).cast(LongType).as("l"))
      val stT = "struct<remaining:bigint,k:bigint," +
        "out:array<struct<lang:string,lt:bigint,cap:bigint,alloc:bigint>>>"
      val allocs = caps
        .agg(sort_array(collect_list(
          struct(col("cap"), col("lang"), col("lt")))).as("xs"))
        .crossJoin(broadcast(tot))
        .select(posexplode(aggregate(col("xs"),
          struct((col("tt") * 3L).as("remaining"), col("l").as("k"),
            array().cast("array<struct<lang:string,lt:bigint,cap:bigint,alloc:bigint>>")
              .as("out")).cast(stT),
          (st, x) => {
            val r = st.getField("remaining")
            val k = st.getField("k")
            val share = floor((r - pmod(r, k)) / k).cast(LongType)
            val alloc = least(x.getField("cap"), share)
            struct((r - alloc).as("remaining"), (k - 1L).as("k"),
              concat(st.getField("out"), array(struct(
                x.getField("lang").as("lang"), x.getField("lt").as("lt"),
                x.getField("cap").as("cap"), alloc.as("alloc")))).as("out"))
              .cast(stT)
          },
          st => st.getField("out"))))
        .select(col("col.lang").as("lang"), col("col.lt").as("lang_tokens"),
                col("col.cap").as("capacity"), col("col.alloc").as("alloc_tokens"))
      val h = graft.functions.HexKeys.value16(
        md5(concat(lit("unimax|"), col("doc_id").cast(StringType)))).cast(LongType)
      t.join(broadcast(allocs), Seq("lang"))
        .withColumn("h", h)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
                col("lang_tokens"), col("capacity"), col("alloc_tokens"),
                (col("alloc_tokens") === col("capacity")).as("capped"),
                // extra-epoch threshold in DECIMAL(38,0) — h·lang_tokens
                // passes BIGINT at T_l ≈ 1.4e14 (temperatureRepeats' rule)
                (expr("alloc_tokens DIV lang_tokens") +
                 when(expr("CAST(h AS DECIMAL(38,0)) * lang_tokens") <
                      expr("CAST(alloc_tokens % lang_tokens AS DECIMAL(38,0)) * 65536"),
                      1L)
                   .otherwise(0L)).as("n_repeats"))
    },

    // ---------------------------------------------------------------
    // q182: the curation WATERFALL — the attrition report every dataset
    // card ships: documents flow through the pipeline's filters in
    // order (eval-holdout exclusion → min length → q33 quality ≥ 40 →
    // exact dedup among survivors → q77 decontamination), and each
    // stage reports (n_in, n_dropped, n_out). Stage predicates are the
    // already-gated operators' own arithmetic (q33's score, q77's
    // flag); the dedup canonical is chosen AMONG STAGE-3 SURVIVORS
    // (real pipelines dedup the filtered corpus, and the choice of set
    // changes the answer — pinned here, replayed identically in SQL).
    // One corpus pass + two broadcast-sized operator joins; the dedup
    // canonical uses the groupBy(hash)+join-back discipline (NEVER a
    // content-hash window — a mega-dup group would funnel one task);
    // the readout is 5 rows.
    // ---------------------------------------------------------------
    // ---------------------------------------------------------------
    // q256: the q182 waterfall ATTRIBUTED BY SOURCE — the curation
    // review's "who loses what where": per source, how many docs each
    // stage kills (holdout, min-length, quality, survivor-scoped exact
    // dedup, decontamination) and the end-to-end survival rate. q182
    // answers "is the pipeline healthy overall"; this catches the
    // failure q182 averages away — one source losing 80% to the quality
    // gate while the corpus-wide rate looks fine (the mixture the
    // trainer actually sees is the POST-waterfall one, so a skewed kill
    // pattern silently rewrites q86/q96's carefully chosen weights).
    // Rides the SAME memoized waterfallFlags frame (stage predicates
    // are the gated operators' own arithmetic, dedup canonical via the
    // groupBy+join-back discipline); the rollup is one partial+final
    // agg to ≤|sources| rows, all-integer until the one final division.
    // ---------------------------------------------------------------
    "q256_waterfall_by_source" -> { (s, dir) =>
      waterfallFlags(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_in"),
             sum(when(!col("s1"), 1L).otherwise(0L)).as("drop_holdout"),
             sum(when(col("s1") && !col("s2"), 1L).otherwise(0L))
               .as("drop_length"),
             sum(when(col("s2") && !col("s3"), 1L).otherwise(0L))
               .as("drop_quality"),
             sum(when(col("s3") && !col("s4"), 1L).otherwise(0L))
               .as("drop_dedup"),
             sum(when(col("s4") && !col("s5"), 1L).otherwise(0L))
               .as("drop_decontam"),
             sum(when(col("s5"), 1L).otherwise(0L)).as("n_out"))
        .withColumn("survival_rate",
          col("n_out").cast(DoubleType) / col("n_in").cast(DoubleType))
    },

    "q182_curation_waterfall" -> { (s, dir) => stageWaterfall(waterfallFlags(s, dir)) },

    // ---------------------------------------------------------------
    // q186: q182's waterfall GROUPED BY SOURCE — the per-provenance
    // attrition view ("which crawl loses most to dedup?") a dataset
    // card breaks out next to the corpus-level totals. Same flag frame,
    // one grouped aggregation, stages unpivoted per source.
    // ---------------------------------------------------------------
    "q186_waterfall_by_source" -> { (s, dir) =>
      stageWaterfall(waterfallFlags(s, dir), "source")
    },

    // ---------------------------------------------------------------
    // q189: temperature SWEEP — the curve a mixture designer reads
    // before fixing q168's α: language weights w ∝ T^α for
    // α ∈ {1, ½, ¼, ⅛}, each with its inverse-Simpson effective
    // language count (1/Σw² — the flatness readout; → |langs| as the
    // mixture flattens). α restricted to 1/2^k ON PURPOSE: T^(1/2^k)
    // is a chain of IEEE-correctly-rounded sqrts, the only power family
    // both engines evaluate bit-identically (pow()'s libm rounding is
    // not portable — the q174 lesson). Weights quantize through the
    // q168 1e6-BIGINT normalizer; Σw² quantizes per-term to 1e12 before
    // the exact integer sum, so summation order can't move the curve.
    // ---------------------------------------------------------------
    "q189_temperature_sweep" -> { (s, dir) =>
      val pl = graft.core.Materialize.cutLocal(Tables(s, dir).documents.select(
          col("lang"), size(Text.tokens(col("text"))).cast(LongType).as("n_tokens"))
        .groupBy(col("lang")).agg(sum(col("n_tokens")).as("lang_tokens"))) // ≤|langs| rows, consumed by 4 sweep legs
      val legs = Seq(0, 1, 2, 3).map { n =>
        val root = (1 to n).foldLeft(col("lang_tokens").cast(DoubleType))(
          (c, _) => sqrt(c))
        pl.select(lit(1L << n).as("alpha_den"), col("lang"), col("lang_tokens"),
                  floor(root * 1e6).cast(LongType).as("qs"))
      }
      val swept = legs.reduce(_ unionByName _)
      val tots = swept.groupBy(col("alpha_den")).agg(sum(col("qs")).as("qs_tot"))
      val w = swept.join(broadcast(tots), Seq("alpha_den"))
        .withColumn("weight",
          col("qs").cast(DoubleType) / col("qs_tot").cast(DoubleType))
        .withColumn("wq2", floor(col("weight") * col("weight") * 1e12).cast(LongType))
      val eff = w.groupBy(col("alpha_den"))
        .agg(sum(col("wq2")).as("ssum"))
        .select(col("alpha_den"),
                (lit(1e12) / col("ssum").cast(DoubleType)).as("eff_langs"))
      w.join(broadcast(eff), Seq("alpha_den"))
        .select(col("alpha_den"), col("lang"), col("lang_tokens"),
                col("weight"), col("eff_langs"))
    },

    // ---------------------------------------------------------------
    // q190: the TRAINING-ORDER MANIFEST — the artifact the shard writer
    // actually consumes, closing the mixture loop: every document
    // appears n_repeats times (q168's allocation), each copy lands at
    // an i.i.d. position via its own md5 permutation key (copies of one
    // doc scatter — repeats must not cluster), and the GLOBAL rank
    // comes from the q95/q165 packed-BIGINT + two-pass-prefix-sum
    // discipline — no Window.orderBy over the corpus, ever. Ranks fold
    // into 64-position shards like q165. Packing bounds fail loudly
    // (doc_id < 2^31, n_repeats ≤ 31 — a violation would silently
    // collide key spaces).
    // ---------------------------------------------------------------
    "q190_training_order" -> { (s, dir) =>
      // reads the memoized scattered-copy frame (carries n_tokens,
      // unused here) — see orderKeyedCopiesShared
      val keyed = orderKeyedCopiesShared(s, dir, 1).withColumn("one", lit(1L))
      graft.operators.Sharding
        .runningTotal(keyed, "ord_key", "one", "train_rank")
        .select(col("train_rank"),
                expr("(ord_key DIV 32) % 2147483648").as("doc_id"),
                (col("ord_key") % 32L).as("epoch_copy"),
                expr("(train_rank - 1) DIV 64").as("shard_id"),
                ((col("train_rank") - 1L) % 64L).as("shard_offset"))
    },

    // ---------------------------------------------------------------
    // q191: q190's manifest sharded by TOKEN budget — the real shard
    // writer splits on tokens, not positions: the same scattered order
    // carries each copy's token count through the two-pass prefix sum,
    // and a copy's shard is (cum − own) DIV 4096 (q62's convention:
    // a shard owns the copies whose budget STARTS inside it).
    // ---------------------------------------------------------------
    "q191_token_budget_shards" -> { (s, dir) =>
      // stays the RAW plan (no memo/cut): this def is the plan-gate and
      // oracle surface for the bucketed prefix sum — q234 is the
      // multi-consumer and cuts its own copy
      tokenBudgetManifest(s, dir)
    },

    // ---------------------------------------------------------------
    // q234: RESUME-POSITION manifest — the artifact a training run
    // killed mid-epoch actually needs: given q191's token-budget order
    // and the interrupt point (deterministically T = total DIV 2 here —
    // the operator's knob in production), every shard's exact restart
    // state. Per copy the cut is pure integer interval arithmetic on
    // the prefix sums q191 already carries (consumed: cum ≤ T; partial:
    // a copy whose [cum−n, cum) interval STRICTLY straddles T, with its
    // intra-document token offset; pending: starts at or after T).
    // Boundary contract: when T lands exactly on a copy boundary
    // (some cum_tokens == T) there is NO partial copy — the interrupt
    // fell between copies — and resume_doc_id / resume_epoch_copy /
    // resume_token_offset are NULL in EVERY shard. Consumers must read
    // all-NULL resume_* as "clean cut: start at the first pending copy,
    // offset 0", not as a malformed manifest. Otherwise a resumed
    // loader skips consumed copies wholesale, seeks
    // resume_token_offset into the partial one, and replays NOTHING
    // (the data-side complement of the streaming legs' restart-from-
    // checkpoint discipline: recovery must be computed, not re-read).
    // Scale shape: the cut point is a 1-row broadcast (max over the
    // manifest — partial+final); statuses are a projection; the shard
    // rollup is one partial+final agg keyed by shard_id with
    // conditional-integer columns. No windows beyond q191's own
    // bucketed prefix sum; the corpus is never re-scanned.
    // ---------------------------------------------------------------
    "q234_resume_manifest" -> { (s, dir) =>
      // the q191 frame is consumed TWICE here (cut-point agg + status
      // rollup), so this query cuts a memoized copy — Materialize
      // class-1 routing (corpus-derived state, multiple consumers); the
      // q191 def itself stays the raw gated plan
      val m = manifestCache.cut(s, dir)(tokenBudgetManifest(s, dir))
      val cut = m.agg(expr("max(cum_tokens) DIV 2").as("t_cut"))
      val st = m.crossJoin(broadcast(cut))
        .withColumn("status",
          when(col("cum_tokens") <= col("t_cut"), "consumed")
            .when(col("cum_tokens") - col("n_tokens") < col("t_cut"), "partial")
            .otherwise("pending"))
      st.groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_copies"),
             sum(when(col("status") === "consumed", 1L).otherwise(0L))
               .as("n_consumed"),
             sum(when(col("status") === "partial", 1L).otherwise(0L))
               .as("n_partial"),
             sum(when(col("status") === "pending", 1L).otherwise(0L))
               .as("n_pending"),
             max(when(col("status") === "partial", col("doc_id")))
               .as("resume_doc_id"),
             max(when(col("status") === "partial", col("epoch_copy")))
               .as("resume_epoch_copy"),
             max(when(col("status") === "partial",
                      col("t_cut") - (col("cum_tokens") - col("n_tokens"))))
               .as("resume_token_offset"),
             sum(when(col("status") === "consumed", col("n_tokens"))
                   .when(col("status") === "partial",
                         col("t_cut") - (col("cum_tokens") - col("n_tokens")))
                   .otherwise(0L)).as("consumed_tokens"))
    },

    // ---------------------------------------------------------------
    // q192: the mixture CLOSURE AUDIT — per language, the tokens the
    // manifest actually emits (Σ n_repeats·n_tokens) against q168's
    // target, with the signed deviation. The md5-thresholded extra
    // epochs make achieved ≈ target in expectation; this readout is how
    // an operator confirms the realized mixture before training starts.
    // All-integer arithmetic.
    // ---------------------------------------------------------------
    "q192_mixture_audit" -> { (s, dir) =>
      defs("q168_temperature_mixture")(s, dir)
        .groupBy(col("lang"))
        .agg(max(col("lang_tokens")).as("lang_tokens"),
             max(col("target_tokens")).as("target_tokens"),
             sum(col("n_repeats") * col("n_tokens")).as("achieved_tokens"))
        .select(col("lang"), col("lang_tokens"), col("target_tokens"),
                col("achieved_tokens"),
                (col("achieved_tokens") - col("target_tokens")).as("deviation"))
    },

    // ---------------------------------------------------------------
    // q203: repeat-SPACING audit of the MULTI-EPOCH training order —
    // the scatter-quality check on the q190 manifest machinery in the
    // configuration where spacing actually matters: 3 epochs of q168's
    // allocation (per-doc copies = 3·n_repeats, same packed permutation
    // keys — single-epoch repeats are ∈ {0,1} on this corpus, so the
    // single-epoch audit would be vacuous). A doc appearing n times
    // should land roughly uniformly (expected gap ≈ N/n); a broken
    // permutation key (copies clustering because they share key bits)
    // surfaces here as min_gap ≪ expected long before a training run
    // does. Scale shape: consecutive-copy gaps ride a PER-DOC window
    // whose partitions hold ≤ 31 rows by the packing contract (never
    // corpus-sized); extrema/sums are all-BIGINT (min_gap·n_copies·4
    // ≤ 124·N — no corpus-scale product); the 1-row manifest total
    // arrives via a broadcast scalar cross join; the two means are
    // single IEEE divisions of exact integers.
    // ---------------------------------------------------------------
    "q203_repeat_spacing" -> { (s, dir) =>
      // reads the memoized scattered-copy frame (carries n_tokens,
      // unused here) — see orderKeyedCopiesShared
      val keyed = orderKeyedCopiesShared(s, dir, 3)
        .withColumn("one", lit(1L))
      val ord = graft.operators.Sharding
        .runningTotal(keyed, "ord_key", "one", "train_rank")
        .select(expr("(ord_key DIV 32) % 2147483648").as("doc_id"),
                col("train_rank"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("train_rank"))
      val perDoc = ord
        .withColumn("gap", col("train_rank") - lag(col("train_rank"), 1).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_copies"),
             min(col("gap")).as("min_gap"),
             max(col("gap")).as("max_gap"),
             sum(col("gap")).as("span"))
        .filter(col("n_copies") >= 2L)
      val total = broadcast(ord.agg(count(lit(1)).as("manifest_rows")))
      perDoc.crossJoin(total)
        .select(col("doc_id"), col("n_copies"), col("min_gap"),
                col("max_gap"), col("span"),
                (col("span").cast(DoubleType) /
                 (col("n_copies") - 1L).cast(DoubleType)).as("mean_gap"),
                col("manifest_rows"),
                (col("manifest_rows").cast(DoubleType) /
                 col("n_copies").cast(DoubleType)).as("expected_gap"),
                // random scatter of n copies has expected MINIMUM spacing
                // ≈ N/n² (min of n−1 iid gaps), so the flag fires below a
                // quarter of that — not below N/(4n), which half the docs
                // would trip by chance. All-BIGINT: n ≤ 31 by the packing
                // contract, so min_gap·n²·4 ≤ 3844·N never overflows.
                (col("min_gap") * col("n_copies") * col("n_copies") *
                 lit(4L) < col("manifest_rows")).as("is_clumped"))
    },

    // ---------------------------------------------------------------
    // q100: dataset-card rollup — the per-source/per-language corpus
    // profile a training-data release ships (docs, tokens, chars, exact
    // dedup rate from the q31 fingerprint) over GROUPING SETS
    // ((source), (source, lang), ()) so one aggregation yields the
    // whole card lattice. All metrics are integer counts (countDistinct
    // included — exact, merge-order free), so the card hash-gates.
    // ---------------------------------------------------------------
    "q100_dataset_card" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val base = docs.select(
        col("source"), col("lang"), col("n_chars"),
        size(Text.tokens(col("text"))).cast(LongType).as("n_tokens"),
        Text.sortedTokenFingerprint(col("text")).as("fp"))
      base.groupingSets(
          Seq(Seq(col("source")), Seq(col("source"), col("lang")), Seq()),
          col("source"), col("lang"))
        .agg(grouping(col("source")).cast(LongType).as("grp_source"),
             grouping(col("lang")).cast(LongType).as("grp_lang"),
             count(lit(1)).as("n_docs"),
             sum(col("n_tokens")).as("n_tokens"),
             sum(col("n_chars")).as("n_chars"),
             countDistinct(col("fp")).as("n_unique_docs"))
        .select(
          coalesce(col("source"), lit("ALL")).as("source"),
          coalesce(col("lang"), lit("ALL")).as("lang"),
          col("grp_source"), col("grp_lang"),
          col("n_docs"), col("n_tokens"), col("n_chars"), col("n_unique_docs"),
          (col("n_docs") - col("n_unique_docs")).as("n_exact_dups"))
    },

    // ---------------------------------------------------------------
    // q84: context-window chunking — split every document into W=50-token
    // chunks advancing by S=40 (10-token overlap), the chunking step of
    // a RAG / long-context training corpus. Pure projection + explode
    // (one generated row per chunk, no shuffle, no window): chunk count
    // and boundaries are closed-form integer arithmetic, so the operator
    // is a scan-local flatMap at any scale.
    // ---------------------------------------------------------------
    // ---------------------------------------------------------------
    // q107: PII redaction — the structured-PII scrub every public-corpus
    // curation pipeline runs before training. Synthetic-but-exact PII
    // (an email / a NANP-style phone number) is injected
    // deterministically from doc_id — both engines build the IDENTICAL
    // string — then redacted with tags and counted. One scan-local
    // projection (regexp_count + chained regexp_replace): no shuffle,
    // no explode, at any corpus scale. The gate pins the counts AND the
    // md5 of the redacted text, so the replacement is byte-exact; the
    // patterns avoid lookarounds so Java regex and DuckDB RE2 agree.
    // ---------------------------------------------------------------
    "q107_pii_redaction" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val injected =
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact user"),
                 col("doc_id").cast(StringType), lit("@example.com now")))
        .when(col("doc_id") % 3 === 1,
          concat(col("text"), lit(" call +1-555-"),
                 (lit(1000) + col("doc_id") % 9000).cast(StringType),
                 lit(" today")))
        .otherwise(col("text"))
      d.select(col("doc_id"), injected.as("t"))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(PiiEmail)).cast(LongType).as("n_emails"),
          regexp_count(col("t"), lit(PiiPhone)).cast(LongType).as("n_phones"),
          md5(regexp_replace(regexp_replace(col("t"), PiiEmail, "<EMAIL>"),
                             PiiPhone, "<PHONE>")).as("redacted_hash"))
    },

    "q84_chunk_windows" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val n = size(Text.tokens(col("text")))
      // chunks = 1 + max(0, ceil((n-W)/S)) — integer form, shared with the
      // oracle (greatest against 0 first: (n-W+S-1) goes negative for
      // short docs and floor-division must not produce -1 chunks).
      val nChunks = lit(1) +
        greatest(lit(0), floor((n - ChunkW + ChunkS - 1) / lit(ChunkS.toDouble)))
          .cast(IntegerType)
      docs
        .select(col("doc_id"), col("lang"), Text.tokens(col("text")).as("toks"),
                n.as("n_tokens"), nChunks.as("n_chunks"))
        .select(col("doc_id"), col("lang"), col("toks"), col("n_tokens"),
                explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
        .select(col("doc_id"), col("lang"),
                col("chunk_idx").cast(LongType).as("chunk_idx"),
                (col("chunk_idx") * ChunkS).cast(LongType).as("chunk_start"),
                least(lit(ChunkW), col("n_tokens") - col("chunk_idx") * ChunkS)
                  .cast(LongType).as("n_chunk_tokens"),
                array_join(
                  slice(col("toks"), col("chunk_idx") * ChunkS + 1, lit(ChunkW)),
                  " ").as("chunk_text"))
    },

    // ---------------------------------------------------------------
    // q148: data selection by importance resampling (the DSIR recipe,
    // Xie et al. 2023): score every raw document by how much more
    // likely its hashed bag-of-features is under a TARGET distribution
    // (here: the lang='en' slice, standing in for "looks like the
    // high-quality domain") than under the RAW corpus distribution,
    // then keep the top-K by that log-likelihood ratio. Features are
    // q103's vocabulary-free hashing trick (md5 bucket % 64), so the
    // two "language models" are just two 64-long count vectors.
    //
    // 100 TB shape: ONE corpus scan builds both bucket-count vectors
    // (partial+final agg to 64 rows); the 64-row smoothed log-ratio
    // model BROADCASTS onto the per-doc feature agg (map-side combine,
    // ≤64 rows per doc); selection is orderBy+limit = TakeOrdered (a
    // per-partition top-K + driver merge — never a global sort). No
    // join shuffles anything corpus-sized, and the scoring pass is
    // restartable because every weight derives from md5, not rand().
    //
    // Determinism discipline (the q112 rule): the per-bucket log-ratio
    // quantizes to 1e-9 as a BIGINT once, and every per-doc weight is
    // an exact integer dot product Σ c_b·qratio_b — order-independent,
    // engine-portable, so the rows hash-gate exactly.
    // ---------------------------------------------------------------
    "q148_importance_resample" -> { (s, dir) =>
      val (docDim, _, model) = dsirParts(s, dir)
      val w = docDim.join(broadcast(model), "dim")
        .groupBy(col("doc_id"))
        .agg(sum(col("c") * col("qratio")).as("logw_q"))
        .orderBy(col("logw_q").desc, col("doc_id")).limit(DsirK)
      // Rank the K selected rows without an unpartitioned window (the
      // q142 rule): collapse to one bounded collect_list, sort locally,
      // posexplode — rank = position + 1, key (-logw_q, doc_id) exact
      // in integers.
      w.agg(sort_array(collect_list(struct(
          (col("logw_q") * lit(-1L)).as("ns"), col("doc_id").as("doc_id"),
          col("logw_q").as("logw_q")))).as("xs"))
        .select(posexplode(col("xs")).as(Seq("pos", "x")))
        .select(col("x.doc_id").as("doc_id"), col("x.logw_q").as("logw_q"),
                (col("pos") + 1).cast(LongType).as("sel_rank"))
    })

  private def digitSql(i: Int): String = graft.functions.HexKeys.digitSql(i)

  /** q107's PII patterns — no lookarounds/backrefs, so Java regex (Spark)
    * and RE2 (DuckDB) match identically.
    */
  private val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiPhone = "\\+1-555-[0-9]{4}"

  /** q156's oracle: per-width n-gram extraction (generate_series over
    * positions — only docs with ≥ n tokens emit), the same two-level
    * aggregation, zero rows restored via the doc×width spine.
    */
  private lazy val q156Oracle: String = {
    val gramCtes = GopherNs.map { n =>
      s"""g$n AS (
         |  SELECT doc_id, n_chars_doc, CAST($n AS BIGINT) AS n,
         |         array_to_string(toks[i:i+${n - 1}], ' ') AS gram
         |  FROM (SELECT doc_id, n_chars_doc, toks,
         |               unnest(generate_series(1, len(toks) - ${n - 1})) AS i
         |        FROM t WHERE len(toks) >= $n))""".stripMargin
    }.mkString(",\n")
    val unioned = GopherNs.map(n => s"SELECT * FROM g$n").mkString("\n  UNION ALL ")
    val widths = GopherNs.map(n => s"CAST($n AS BIGINT)").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_doc,
       |         string_split(text, ' ') AS toks
       |  FROM documents),
       |$gramCtes,
       |tagged AS (
       |  $unioned),
       |gc AS (
       |  SELECT doc_id, n_chars_doc, n, gram, count(*) AS cnt
       |  FROM tagged GROUP BY 1, 2, 3, 4),
       |agg AS (
       |  SELECT doc_id, n_chars_doc, n,
       |    CAST(sum(cnt) AS BIGINT) AS n_grams,
       |    min(struct_pack(negcnt := -cnt, gram := gram)) AS top,
       |    CAST(sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END)
       |         AS BIGINT) AS dup_chars
       |  FROM gc GROUP BY 1, 2, 3),
       |spine AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_doc,
       |         unnest([$widths]) AS n
       |  FROM documents)
       |SELECT b.doc_id, b.n,
       |  coalesce(a.n_grams, 0) AS n_grams,
       |  coalesce(a.top.gram, '') AS top_gram,
       |  CAST(coalesce(-a.top.negcnt, 0) AS BIGINT) AS top_gram_count,
       |  coalesce(CAST(-a.top.negcnt * length(a.top.gram) AS DOUBLE)
       |             / CAST(b.n_chars_doc AS DOUBLE), 0.0) AS top_gram_char_frac,
       |  coalesce(CAST(a.dup_chars AS DOUBLE) / CAST(b.n_chars_doc AS DOUBLE), 0.0)
       |    AS dup_gram_char_frac
       |FROM spine b LEFT JOIN agg a ON b.doc_id = a.doc_id AND b.n = a.n""".stripMargin
  }

  /** q148's oracle CTE chain (hashed features → bucket model → per-doc
    * integer weights) — shared with the q161 composition oracle.
    */
  private lazy val dsirCtesSql: String =
    s"""tok AS (
       |  SELECT doc_id, lang, md5('fh|' || tok) AS hex
       |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)),
       |f AS (
       |  SELECT doc_id, lang,
       |         CAST(${graft.functions.HexKeys.value16Sql(0)} % $DsirB AS BIGINT)
       |           AS dim
       |  FROM tok),
       |byd AS (
       |  SELECT dim, count(*) AS r_cnt,
       |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_cnt
       |  FROM f GROUP BY 1),
       |tot AS (SELECT sum(r_cnt) AS tr, sum(t_cnt) AS tt FROM byd),
       |model AS (
       |  SELECT dim,
       |         CAST(floor((ln((t_cnt + 0.5) / (tt + ${DsirB / 2.0})) -
       |                     ln((r_cnt + 0.5) / (tr + ${DsirB / 2.0}))) * 1e9 + 0.5)
       |              AS BIGINT) AS qratio
       |  FROM byd CROSS JOIN tot),
       |docdim AS (SELECT doc_id, dim, count(*) AS c FROM f GROUP BY 1, 2),
       |w AS (
       |  SELECT doc_id, CAST(sum(c * qratio) AS BIGINT) AS logw_q
       |  FROM docdim JOIN model USING (dim) GROUP BY 1)""".stripMargin

  /** The q182/q186 stage-flag CTE chain (through f5), shared by both
    * waterfall oracles.
    */
  private def waterfallCtesSql: String =
    s"""d AS (SELECT doc_id, source, text,
       |            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |     FROM documents),
       |q33 AS (SELECT doc_id, quality_score
       |        FROM (${graft.queries.TextQueries.oracles("q33_text_quality")}) z),
       |q77 AS (SELECT doc_id, is_contaminated FROM ($deconOracleSql) z2),
       |f0 AS (
       |  SELECT d.doc_id, d.source, d.text, d.n_toks, q33.quality_score,
       |    coalesce(q77.is_contaminated, false) AS contam,
       |    (d.doc_id % 10 <> 0) AS s1
       |  FROM d JOIN q33 USING (doc_id) LEFT JOIN q77 USING (doc_id)),
       |f1 AS (SELECT *, s1 AND n_toks >= 20 AS s2 FROM f0),
       |f2 AS (SELECT *, s2 AND quality_score >= 40.0 AS s3 FROM f1),
       |f3 AS (SELECT *, min(CASE WHEN s3 THEN doc_id END)
       |                   OVER (PARTITION BY md5(text)) AS min_id FROM f2),
       |f4 AS (SELECT *, s3 AND doc_id = min_id AS s4 FROM f3),
       |f5 AS (SELECT *, s4 AND NOT contam AS s5 FROM f4)""".stripMargin

  /** The q190 manifest oracle, parameterized by epoch count — shared by
    * q190 (1 epoch) and q203's spacing audit (3 epochs) so both gates
    * pin the same key derivation (the q168OracleSql discipline).
    */
  private def manifestOracleSql(epochs: Int): String = {
    val h24 = s"(CAST(${graft.functions.HexKeys.value16Sql(0)} AS BIGINT) * 256" +
      s" + CAST(${graft.functions.HexKeys.digitSql(4)} AS BIGINT) * 16" +
      s" + CAST(${graft.functions.HexKeys.digitSql(5)} AS BIGINT))"
    s"""WITH rep AS (
       |  SELECT doc_id, n_repeats FROM ($q168OracleSql) z WHERE n_repeats >= 1),
       |cp AS (
       |  SELECT doc_id,
       |    unnest(generate_series(1, n_repeats * $epochs)) AS epoch_copy
       |  FROM rep),
       |k AS (
       |  SELECT doc_id, epoch_copy,
       |    md5('ord|' || CAST(doc_id AS VARCHAR) || '|' ||
       |        CAST(epoch_copy AS VARCHAR)) AS hex
       |  FROM cp),
       |keyed AS (
       |  SELECT doc_id, epoch_copy,
       |    $h24 * 68719476736 + doc_id * 32 + epoch_copy AS ord_key
       |  FROM k),
       |r AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY ord_key) AS BIGINT)
       |         AS train_rank
       |  FROM keyed)
       |SELECT train_rank, CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(epoch_copy AS BIGINT) AS epoch_copy,
       |  CAST((train_rank - 1) // 64 AS BIGINT) AS shard_id,
       |  CAST((train_rank - 1) % 64 AS BIGINT) AS shard_offset
       |FROM r""".stripMargin
  }

  private lazy val q190OracleSql: String = manifestOracleSql(1)

  /** The q191 token-budget manifest oracle — a val so q234's resume
    * computation can use it as a derived table (the q168OracleSql
    * discipline).
    */
  private lazy val q191OracleSql: String = {
    val h24 = s"(CAST(${graft.functions.HexKeys.value16Sql(0)} AS BIGINT) * 256" +
      s" + CAST(${graft.functions.HexKeys.digitSql(4)} AS BIGINT) * 16" +
      s" + CAST(${graft.functions.HexKeys.digitSql(5)} AS BIGINT))"
    s"""WITH rep AS (
       |  SELECT doc_id, n_tokens, n_repeats FROM ($q168OracleSql) z
       |  WHERE n_repeats >= 1),
       |cp AS (
       |  SELECT doc_id, n_tokens,
       |         unnest(generate_series(1, n_repeats)) AS epoch_copy
       |  FROM rep),
       |k AS (
       |  SELECT doc_id, n_tokens, epoch_copy,
       |    md5('ord|' || CAST(doc_id AS VARCHAR) || '|' ||
       |        CAST(epoch_copy AS VARCHAR)) AS hex
       |  FROM cp),
       |keyed AS (
       |  SELECT doc_id, n_tokens, epoch_copy,
       |    $h24 * 68719476736 + doc_id * 32 + epoch_copy AS ord_key
       |  FROM k),
       |r AS (
       |  SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY ord_key
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS BIGINT) AS cum_tokens
       |  FROM keyed)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(epoch_copy AS BIGINT) AS epoch_copy,
       |  CAST(n_tokens AS BIGINT) AS n_tokens, cum_tokens,
       |  CAST((cum_tokens - n_tokens) // 4096 AS BIGINT) AS shard_id
       |FROM r""".stripMargin
  }

  /** The q200 scrub oracle — a val so q205's dedup composition can use
    * it as a derived table (the q168OracleSql discipline).
    */
  private lazy val q200OracleSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tok AS (
       |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
       |  FROM (SELECT doc_id, toks,
       |               unnest(generate_series(1, len(toks))) AS i FROM t)),
       |seg AS (
       |  SELECT doc_id, CAST(floor(pos / $SegTokens) AS INT) AS seg_idx,
       |         string_agg(tok, ' ' ORDER BY pos) AS seg
       |  FROM tok GROUP BY doc_id, seg_idx),
       |df AS (
       |  SELECT seg, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM seg GROUP BY seg),
       |flagged AS (
       |  SELECT s.doc_id, s.seg_idx, s.seg, d.df < $BoilerplateDf AS kept
       |  FROM seg s JOIN df d USING (seg))
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_segments,
       |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_segments,
       |  CAST(count(*) - sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  md5(coalesce(string_agg(CASE WHEN kept THEN seg END, ' ' ORDER BY seg_idx), ''))
       |    AS clean_hash,
       |  CAST(count(*) - sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS frac_removed,
       |  2 * sum(CASE WHEN kept THEN 1 ELSE 0 END) < count(*) AS is_dropped
       |FROM flagged GROUP BY doc_id""".stripMargin

  /** The q168 oracle body — shared by q168 and (as a derived table)
    * the q190 training-order manifest.
    */
  private lazy val q168OracleSql: String = {
      val bucket = s"(${graft.functions.HexKeys.value16Sql()})"
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |pl AS (
         |  SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens,
         |         CAST(floor(sqrt(CAST(SUM(n_tokens) AS DOUBLE)) * 1000000)
         |              AS BIGINT) AS qs
         |  FROM t GROUP BY lang),
         |tot AS (
         |  SELECT CAST(SUM(qs) AS BIGINT) AS qs_tot,
         |         CAST(SUM(lang_tokens) AS BIGINT) AS all_tokens
         |  FROM pl),
         |tgt AS (
         |  SELECT pl.lang, pl.lang_tokens,
         |         CAST((CAST(pl.qs AS HUGEINT) * (tot.all_tokens // 2))
         |              // tot.qs_tot AS BIGINT) AS target_tokens
         |  FROM pl CROSS JOIN tot),
         |h AS (
         |  SELECT doc_id, md5('mix|' || CAST(doc_id AS VARCHAR)) AS hex
         |  FROM documents)
         |SELECT t.doc_id, t.lang, t.n_tokens, tgt.lang_tokens, tgt.target_tokens,
         |  CAST(tgt.target_tokens // tgt.lang_tokens +
         |       CASE WHEN CAST($bucket AS HUGEINT) * tgt.lang_tokens <
         |                 CAST(tgt.target_tokens % tgt.lang_tokens AS HUGEINT) * 65536
         |            THEN 1 ELSE 0 END AS BIGINT) AS n_repeats
         |FROM t JOIN tgt USING (lang) JOIN h USING (doc_id)""".stripMargin
    }

  /** The q83 bloom-screen oracle — a val so q238's report can use
    * it as a derived table (the q168OracleSql discipline).
    */
  private lazy val q83OracleSql: String = {
      val h1 =
        s"(${digitSql(0)} * 4096 + ${digitSql(1)} * 256 + ${digitSql(2)} * 16 + ${digitSql(3)})"
      val h2 =
        s"(${digitSql(4)} * 4096 + ${digitSql(5)} * 256 + ${digitSql(6)} * 16 + ${digitSql(7)})"
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
         |bng AS (
         |  SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS ngram
         |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 7)) AS i
         |        FROM t WHERE doc_id % 10 = 0)),
         |bh AS (SELECT ngram, md5('bloom' || '|' || ngram) AS hex FROM bng),
         |bpos AS (
         |  SELECT ($h1 + j * $h2) % 65536 AS pos
         |  FROM (SELECT hex, unnest([0, 1, 2, 3]) AS j FROM bh)),
         |bloom AS (
         |  SELECT pos // 32 AS word_idx,
         |         bit_or(CAST(1 AS BIGINT) << (pos % 32)) AS words
         |  FROM bpos GROUP BY 1),
         |cng AS (
         |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS ngram
         |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
         |        FROM t WHERE doc_id % 10 <> 0)),
         |cpos AS (
         |  SELECT doc_id, ngram, ($h1 + j * $h2) % 65536 AS pos
         |  FROM (SELECT doc_id, ngram, md5('bloom' || '|' || ngram) AS hex,
         |               unnest([0, 1, 2, 3]) AS j FROM cng)),
         |perngram AS (
         |  SELECT doc_id, ngram,
         |         bool_and(coalesce(words & (CAST(1 AS BIGINT) << (pos % 32)), 0) <> 0)
         |           AS inbloom
         |  FROM cpos LEFT JOIN bloom ON cpos.pos // 32 = bloom.word_idx
         |  GROUP BY doc_id, ngram),
         |hits AS (
         |  SELECT doc_id,
         |         CAST(sum(CASE WHEN inbloom THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_bloom_hits
         |  FROM perngram GROUP BY doc_id)
         |SELECT t.doc_id, t.lang,
         |  coalesce(n_bloom_hits, 0) AS n_bloom_hits,
         |  coalesce(n_bloom_hits, 0) > 0 AS is_flagged_bloom
         |FROM t LEFT JOIN hits USING (doc_id)
         |WHERE t.doc_id % 10 <> 0""".stripMargin
  }

  /** The q77 oracle body — shared verbatim by q77 and (as a derived
    * table) the q182 waterfall.
    */
  private val deconOracleSql: String =
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      |bench AS (
      |  SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS ngram
      |  FROM (SELECT doc_id, toks,
      |               unnest(generate_series(1, len(toks) - 7)) AS i
      |        FROM t WHERE doc_id % 10 = 0)),
      |corpusng AS (
      |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS ngram
      |  FROM (SELECT doc_id, toks,
      |               unnest(generate_series(1, len(toks) - 7)) AS i
      |        FROM t WHERE doc_id % 10 <> 0)),
      |hits AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
      |  FROM corpusng JOIN bench USING (ngram) GROUP BY doc_id)
      |SELECT t.doc_id, t.lang,
      |  coalesce(n_overlap, 0) AS n_overlap_ngrams,
      |  coalesce(n_overlap, 0) > 0 AS is_contaminated
      |FROM t LEFT JOIN hits ON t.doc_id = hits.doc_id
      |WHERE t.doc_id % 10 <> 0""".stripMargin

  /** The q78 oracle body — shared verbatim by q78 and (as a derived
    * table) q243's unigram-proxy side.
    */
  private val unigramOracleSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tok AS (
      |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
      |  FROM (SELECT doc_id, toks,
      |               unnest(generate_series(1, len(toks))) AS i FROM t)),
      |vocab AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
      |tot AS (SELECT sum(cnt) AS total FROM vocab),
      |scored AS (
      |  SELECT doc_id, pos,
      |         floor(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
      |               * 1e9 + 0.5) / 1e9 AS logp
      |  FROM tok JOIN vocab USING (tok) CROSS JOIN tot),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |         list_reduce(list(logp ORDER BY pos), (a, b) -> a + b) AS s
      |  FROM scored GROUP BY doc_id)
      |SELECT doc_id, n_tokens, s AS sum_logprob,
      |  s / CAST(n_tokens AS DOUBLE) AS avg_logprob,
      |  floor(exp(-(s / CAST(n_tokens AS DOUBLE))) * 1e9 + 0.5) / 1e9 AS perplexity
      |FROM agg""".stripMargin

  /** The q175 oracle body — shared verbatim by q175 and (as a derived
    * table) q176.
    */
  private val knOracleSql: String =
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |pairs AS (
        |  SELECT doc_id, i - 1 AS pos, toks[i] AS prev, toks[i + 1] AS cur
        |  FROM (SELECT doc_id, toks,
        |               unnest(generate_series(1, len(toks) - 1)) AS i FROM t)),
        |c2 AS (SELECT prev, cur, count(*) AS c2 FROM pairs GROUP BY 1, 2),
        |ch AS (SELECT prev, count(*) AS ch FROM pairs GROUP BY 1),
        |n1f AS (SELECT prev, count(*) AS n1f FROM c2 GROUP BY 1),
        |n1p AS (SELECT cur, count(*) AS n1p FROM c2 GROUP BY 1),
        |bt AS (SELECT count(*) AS bt FROM c2),
        |scored AS (
        |  SELECT doc_id, pos,
        |    floor(ln(
        |      greatest(CAST(c2 AS DOUBLE) - 0.75, 0.0) / CAST(ch AS DOUBLE)
        |      + (0.75 * CAST(n1f AS DOUBLE) / CAST(ch AS DOUBLE))
        |        * (CAST(n1p AS DOUBLE) / CAST(bt AS DOUBLE)))
        |      * 1e9 + 0.5) / 1e9 AS logp
        |  FROM pairs JOIN c2 USING (prev, cur) JOIN ch USING (prev)
        |       JOIN n1f USING (prev) JOIN n1p USING (cur) CROSS JOIN bt),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |         list_reduce(list(logp ORDER BY pos), (a, b) -> a + b) AS s
        |  FROM scored GROUP BY doc_id)
        |SELECT t.doc_id, t.lang,
        |  coalesce(n_bigrams, 0) AS n_bigrams,
        |  coalesce(s, 0.0) AS sum_logprob,
        |  coalesce(s / CAST(n_bigrams AS DOUBLE), 0.0) AS avg_logprob,
        |  coalesce(floor(exp(-(s / CAST(n_bigrams AS DOUBLE))) * 1e9 + 0.5) / 1e9,
        |           1.0) AS perplexity
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin

  /** The q161/q196/q209 oracle chain ([[curationV2]] mirrored in SQL),
    * parameterized by an ELIGIBILITY restriction: `restrictCte`
    * contributes a `doc_id`-valued CTE (with trailing ",\n"),
    * `restrictJoin` the matching join line, restricting which docs are
    * eligible for the top-100 selection exactly where the Spark def
    * applies `restrict`; "" / "" is the unrestricted q161.
    */
  private def curationV2OracleSql(restrictCte: String,
                                  restrictJoin: String): String = {
    val capCte  = restrictCte
    val capJoin = restrictJoin
    s"""WITH RECURSIVE
       |${TextQueries.dupEdgeCtesSql},
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM jed UNION SELECT doc_b, doc_a FROM jed
       |  UNION SELECT doc_a, doc_b FROM eed UNION SELECT doc_b, doc_a FROM eed),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM documents
       |  UNION
       |  SELECT rc.id, e.d FROM reach rc JOIN edges e ON rc.r = e.s),
       |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |$dsirCtesSql,
       |${capCte}sel AS (
       |  SELECT w.doc_id, w.logw_q, dd.lang
       |  FROM w
       |${capJoin}  JOIN comp c ON w.doc_id = c.id AND c.id = c.cluster_id
       |  JOIN documents dd ON w.doc_id = dd.doc_id
       |  ORDER BY w.logw_q DESC, w.doc_id LIMIT 100),
       |counts2 AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l FROM sel GROUP BY 1),
       |tot2 AS (SELECT CAST(sum(n_l) AS BIGINT) AS nn FROM counts2),
       |q2 AS (
       |  SELECT lang, n_l, (50 * n_l) // nn AS base_l,
       |         50 * n_l - ((50 * n_l) // nn) * nn AS rem
       |  FROM counts2 CROSS JOIN tot2),
       |sb2 AS (SELECT sum(base_l) AS sum_base FROM q2),
       |rk2 AS (SELECT lang, base_l,
       |               row_number() OVER (ORDER BY rem DESC, lang) AS seat_rank
       |        FROM q2),
       |tgt2 AS (
       |  SELECT lang,
       |    base_l + CASE WHEN seat_rank <= 50 - (SELECT sum_base FROM sb2)
       |                  THEN 1 ELSE 0 END AS target_n
       |  FROM rk2),
       |keyed2 AS (
       |  SELECT doc_id, lang, logw_q,
       |         md5('quota|' || CAST(doc_id AS VARCHAR)) AS k
       |  FROM sel),
       |ranked2 AS (
       |  SELECT doc_id, lang, logw_q,
       |         row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS sr
       |  FROM keyed2)
       |SELECT r.lang, r.doc_id, r.logw_q, CAST(r.sr AS BIGINT) AS strat_rank,
       |       CAST(t.target_n AS BIGINT) AS target_n
       |FROM ranked2 r JOIN tgt2 t USING (lang)
       |WHERE r.sr <= t.target_n""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // q270: same additive subtractions + hash-touch correction join.
    "q270_source_ablation" ->
      """WITH d AS (
        |  SELECT doc_id, source, md5(text) AS h,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |bysrc AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_s,
        |    CAST(sum(nt) AS BIGINT) AS t_s
        |  FROM d GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_all,
        |    CAST(sum(nt) AS BIGINT) AS t_all FROM d),
        |hs AS (
        |  SELECT h, source, CAST(count(*) AS BIGINT) AS c_s
        |  FROM d GROUP BY 1, 2),
        |ht AS (SELECT h, CAST(count(*) AS BIGINT) AS c_tot FROM d GROUP BY 1),
        |dupall AS (
        |  SELECT CAST(coalesce(sum(greatest(c_tot - 1, 0)), 0) AS BIGINT)
        |    AS dup_all FROM ht),
        |corr AS (
        |  SELECT hs.source,
        |    CAST(sum(greatest(ht.c_tot - hs.c_s - 1, 0)
        |             - greatest(ht.c_tot - 1, 0)) AS BIGINT) AS dup_corr
        |  FROM hs JOIN ht USING (h) GROUP BY 1)
        |SELECT b.source, b.n_s AS n_docs,
        |  CAST(t.t_all AS DOUBLE) / CAST(t.n_all AS DOUBLE)
        |    AS mean_tokens_all,
        |  CAST(t.t_all - b.t_s AS DOUBLE)
        |    / CAST(nullif(t.n_all - b.n_s, 0) AS DOUBLE)
        |    AS mean_tokens_without,
        |  da.dup_all AS removable_dups_all,
        |  da.dup_all + c.dup_corr AS removable_dups_without,
        |  c.dup_corr AS d_removable_dups
        |FROM bysrc b JOIN corr c USING (source)
        |CROSS JOIN tot t CROSS JOIN dupall da""".stripMargin,

    // q265: same panel aggs, rank window over the bounded panel,
    // quantized entropy terms, exact-integer Gini.
    "q265_source_concentration" ->
      """WITH toks AS (
        |  SELECT lang, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |base AS (
        |  SELECT lang, source, nt FROM toks
        |  UNION ALL
        |  SELECT '__all', source, nt FROM toks),
        |bysrc AS (
        |  SELECT lang, source, CAST(sum(nt) AS BIGINT) AS tok
        |  FROM base GROUP BY 1, 2),
        |rk AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY lang ORDER BY tok, source) AS BIGINT) AS rk
        |  FROM bysrc),
        |tot AS (
        |  SELECT lang, CAST(sum(tok) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS n_sources,
        |    sum(CAST(tok AS DECIMAL(38,0)) * CAST(tok AS DECIMAL(38,0)))
        |      AS sumsq
        |  FROM bysrc GROUP BY 1),
        |terms AS (
        |  SELECT r.lang, r.rk, r.tok, t.tot, t.n_sources, t.sumsq,
        |    CAST(floor(((-(CAST(r.tok AS DOUBLE) / CAST(t.tot AS DOUBLE)))
        |      * ln(CAST(r.tok AS DOUBLE) / CAST(t.tot AS DOUBLE)))
        |      * 1e9 + 0.5) AS BIGINT) AS hterm
        |  FROM rk r JOIN tot t USING (lang)),
        |agg AS (
        |  SELECT lang, max(n_sources) AS n_sources,
        |    max(tot) AS total_tokens, max(sumsq) AS sumsq,
        |    CAST(sum(hterm) AS BIGINT) AS hsum,
        |    CAST(sum(rk * tok) AS BIGINT) AS srt
        |  FROM terms GROUP BY 1)
        |SELECT lang, n_sources, total_tokens,
        |  CAST(sumsq AS DOUBLE) / (CAST(total_tokens AS DOUBLE)
        |    * CAST(total_tokens AS DOUBLE)) AS hhi,
        |  CAST(hsum AS DOUBLE) / 1e9 AS entropy,
        |  floor(exp(CAST(hsum AS DOUBLE) / 1e9) * 1e9 + 0.5) / 1e9
        |    AS effective_sources,
        |  CAST(2 * srt - (n_sources + 1) * total_tokens AS DOUBLE)
        |    / CAST(n_sources * total_tokens AS DOUBLE) AS gini
        |FROM agg""".stripMargin,
    "q156_gopher_repetition" -> q156Oracle,
    "q157_quota_sample" ->
      s"""WITH counts AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_l FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_l) AS BIGINT) AS nn FROM counts),
         |q AS (
         |  SELECT lang, n_l, ($QuotaB * n_l) // nn AS base_l,
         |         $QuotaB * n_l - (($QuotaB * n_l) // nn) * nn AS rem
         |  FROM counts CROSS JOIN tot),
         |sb AS (SELECT sum(base_l) AS sum_base FROM q),
         |rk AS (SELECT lang, base_l,
         |              row_number() OVER (ORDER BY rem DESC, lang) AS seat_rank
         |       FROM q),
         |tgt AS (
         |  SELECT lang,
         |    base_l + CASE WHEN seat_rank <= $QuotaB - (SELECT sum_base FROM sb)
         |                  THEN 1 ELSE 0 END AS target_n
         |  FROM rk),
         |keyed AS (
         |  SELECT doc_id, lang, md5('quota|' || CAST(doc_id AS VARCHAR)) AS k
         |  FROM documents),
         |ranked AS (
         |  SELECT doc_id, lang,
         |         row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS sr
         |  FROM keyed)
         |SELECT r.lang, r.doc_id, CAST(r.sr AS BIGINT) AS strat_rank,
         |       CAST(t.target_n AS BIGINT) AS target_n
         |FROM ranked r JOIN tgt t USING (lang)
         |WHERE r.sr <= t.target_n""".stripMargin,
    "q148_importance_resample" ->
      s"""WITH $dsirCtesSql
         |SELECT doc_id, logw_q, sel_rank FROM (
         |  SELECT doc_id, logw_q,
         |         CAST(row_number() OVER (ORDER BY logw_q DESC, doc_id) AS BIGINT)
         |           AS sel_rank
         |  FROM w)
         |WHERE sel_rank <= $DsirK""".stripMargin,

    // The composition gate: q67's reachability CTEs + q148's DSIR CTEs
    // + q157's apportionment, chained exactly as the Spark def chains
    // the operators. q196 is the same chain with the q195 cap CTE
    // restricting eligibility.
    "q161_curation_v2" -> curationV2OracleSql("", ""),
    "q196_capped_curation" -> curationV2OracleSql(
      s"""capq AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (
         |      PARTITION BY source
         |      ORDER BY md5('cap|' || CAST(doc_id AS VARCHAR)), doc_id) AS sr
         |    FROM documents) WHERE sr <= $SourceCapC),
         |""".stripMargin,
      "  JOIN capq cp ON w.doc_id = cp.doc_id\n"),
    // q209: eligibility = q200's scrub survivors (NOT is_dropped).
    "q209_scrubbed_curation" -> curationV2OracleSql(
      s"""scrubq AS (
         |  SELECT doc_id FROM ($q200OracleSql) sc WHERE NOT is_dropped),
         |""".stripMargin,
      "  JOIN scrubq sq ON w.doc_id = sq.doc_id\n"),
    // q223: eligibility = q222's per-source top-quintile keep set.
    "q223_calibrated_curation" -> curationV2OracleSql(
      s"""calq AS (
         |  SELECT doc_id FROM (${TextQueries.oracles("q222_source_quantile_norm")}) qq
         |  WHERE is_kept),
         |""".stripMargin,
      "  JOIN calq cq ON w.doc_id = cq.doc_id\n"),

    // incremental ≡ one-shot (top-k union identity): the oracle is the
    // q195 restatement over the FULL corpus, plus the delta flag
    "q198_source_cap_incremental" ->
      s"""WITH hh AS (
         |  SELECT source, doc_id,
         |         md5('split|' || CAST(doc_id AS VARCHAR)) AS hex
         |  FROM documents),
         |ranked AS (
         |  SELECT source, doc_id,
         |         (${graft.functions.HexKeys.value16Sql()} % 100) AS b,
         |         row_number() OVER (
         |           PARTITION BY source
         |           ORDER BY md5('cap|' || CAST(doc_id AS VARCHAR)), doc_id) AS sr
         |  FROM hh)
         |SELECT source, doc_id, CAST(sr AS BIGINT) AS src_rank,
         |       (b >= 50) AS is_delta
         |FROM ranked WHERE sr <= $SourceCapC""".stripMargin,

    "q195_source_cap" ->
      s"""WITH counts AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_source
         |  FROM documents GROUP BY 1),
         |ranked AS (
         |  SELECT source, doc_id,
         |         row_number() OVER (
         |           PARTITION BY source
         |           ORDER BY md5('cap|' || CAST(doc_id AS VARCHAR)), doc_id) AS sr
         |  FROM documents)
         |SELECT r.source, r.doc_id, CAST(r.sr AS BIGINT) AS src_rank,
         |       c.n_source, CAST($SourceCapC AS BIGINT) AS cap,
         |       c.n_source > $SourceCapC AS capped
         |FROM ranked r JOIN counts c USING (source)
         |WHERE r.sr <= $SourceCapC""".stripMargin,

    "q107_pii_redaction" ->
      s"""WITH inj AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0
         |         THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
         |              || '@example.com now'
         |         WHEN doc_id % 3 = 1
         |         THEN text || ' call +1-555-'
         |              || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' today'
         |         ELSE text END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$PiiEmail')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$PiiPhone')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(t, '$PiiEmail', '<EMAIL>', 'g'),
         |                     '$PiiPhone', '<PHONE>', 'g')) AS redacted_hash
         |FROM inj""".stripMargin,
    // DuckDB 1.0.0 rejects lateral generate_series(column) — index via
    // unnest(generate_series(...)) in a subquery instead (verified form).
    "q75_segment_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |tok AS (
         |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
         |  FROM (SELECT doc_id, toks,
         |               unnest(generate_series(1, len(toks))) AS i FROM t)),
         |seg AS (
         |  SELECT doc_id, CAST(floor(pos / $SegTokens) AS INT) AS seg_idx,
         |         string_agg(tok, ' ' ORDER BY pos) AS seg
         |  FROM tok GROUP BY doc_id, seg_idx),
         |flagged AS (
         |  SELECT doc_id, seg_idx, seg,
         |         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1 AS kept
         |  FROM seg)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_segments,
         |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_segments,
         |  coalesce(string_agg(CASE WHEN kept THEN seg END, ' ' ORDER BY seg_idx), '')
         |    AS clean_text
         |FROM flagged GROUP BY doc_id""".stripMargin,

    // q200: the q75 segment CTEs + distinct-doc DF, kept = df < bar,
    // md5-gated reassembly.
    "q200_boilerplate_scrub" -> q200OracleSql,

    // q205: q200's scrub as a derived table + exact dedup on the CLEAN
    // hash among surviving docs (groupBy-min canonical, q75's rule);
    // scrub_revealed = the group's raw bytes differed.
    "q205_scrub_then_dedup" ->
      s"""WITH scrub AS (SELECT * FROM ($q200OracleSql) z WHERE NOT is_dropped),
         |j AS (
         |  SELECT s.doc_id, s.clean_hash, s.n_removed, md5(d.text) AS raw_hash
         |  FROM scrub s JOIN documents d USING (doc_id)),
         |firsts AS (
         |  SELECT clean_hash, CAST(min(doc_id) AS BIGINT) AS canonical_id,
         |         CAST(count(*) AS BIGINT) AS n_copies,
         |         CAST(count(DISTINCT raw_hash) AS BIGINT) AS n_raw_variants
         |  FROM j GROUP BY clean_hash)
         |SELECT j.doc_id, j.clean_hash, j.n_removed, f.canonical_id,
         |  f.n_copies, j.doc_id = f.canonical_id AS is_canonical,
         |  f.n_copies > 1 AND f.n_raw_variants > 1 AS scrub_revealed
         |FROM j JOIN firsts f USING (clean_hash)""".stripMargin,

    // q204: the one-shot restatement — full-corpus per-segment DF split
    // by the q61 md5 bucket; incremental must reproduce it bit for bit.
    "q204_boilerplate_incremental" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |tok AS (
         |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
         |  FROM (SELECT doc_id, toks,
         |               unnest(generate_series(1, len(toks))) AS i FROM t)),
         |seg AS (
         |  SELECT doc_id, CAST(floor(pos / $SegTokens) AS INT) AS seg_idx,
         |         string_agg(tok, ' ' ORDER BY pos) AS seg
         |  FROM tok GROUP BY doc_id, seg_idx),
         |h AS (SELECT doc_id, md5('split|' || CAST(doc_id AS VARCHAR)) AS hex
         |      FROM documents),
         |sp AS (SELECT doc_id,
         |              (${graft.functions.HexKeys.value16Sql()} % 100) < 50
         |                AS is_base
         |       FROM h),
         |per AS (
         |  SELECT seg,
         |    CAST(count(DISTINCT CASE WHEN is_base THEN s.doc_id END)
         |      AS BIGINT) AS base_df,
         |    CAST(count(DISTINCT CASE WHEN NOT is_base THEN s.doc_id END)
         |      AS BIGINT) AS delta_df
         |  FROM seg s JOIN sp USING (doc_id) GROUP BY seg)
         |SELECT md5(seg) AS seg_hash, seg, base_df, delta_df,
         |  base_df + delta_df AS total_df,
         |  base_df < $BoilerplateDf AS newly_boilerplate
         |FROM per WHERE base_df + delta_df >= $BoilerplateDf""".stripMargin,

    "q76_repetition_quality" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |wc AS (
        |  SELECT doc_id, tok, count(*) AS cnt
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok),
        |words AS (
        |  SELECT doc_id,
        |    CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_distinct_tokens,
        |    min(struct_pack(negcnt := -cnt, tok := tok)) AS top
        |  FROM wc GROUP BY doc_id),
        |grams0 AS (
        |  SELECT doc_id,
        |    CAST(count(DISTINCT toks[i] || ' ' || toks[i + 1]) AS BIGINT)
        |      AS n_distinct_bigrams
        |  FROM (SELECT doc_id, toks,
        |               unnest(generate_series(1, len(toks) - 1)) AS i FROM t)
        |  GROUP BY doc_id),
        |grams AS (
        |  -- LEFT JOIN from t: docs with <2 tokens produce no bigram rows in
        |  -- grams0 but must still appear with 0/0 (Spark keeps every doc).
        |  SELECT t.doc_id,
        |    CAST(greatest(len(t.toks) - 1, 0) AS BIGINT) AS n_bigrams,
        |    coalesce(g.n_distinct_bigrams, 0) AS n_distinct_bigrams
        |  FROM t LEFT JOIN grams0 g USING (doc_id))
        |SELECT w.doc_id, n_tokens, n_distinct_tokens,
        |  (n_tokens - n_distinct_tokens) / CAST(n_tokens AS DOUBLE) AS dup_word_frac,
        |  w.top['tok'] AS top_token,
        |  CAST(-w.top['negcnt'] AS BIGINT) AS top_token_count,
        |  (-w.top['negcnt']) / CAST(n_tokens AS DOUBLE) AS top_token_frac,
        |  n_bigrams, n_distinct_bigrams,
        |  CASE WHEN n_bigrams > 0
        |       THEN (n_bigrams - n_distinct_bigrams) / CAST(n_bigrams AS DOUBLE)
        |       ELSE 0.0 END AS dup_bigram_frac,
        |  ((n_tokens - n_distinct_tokens) / CAST(n_tokens AS DOUBLE) <= 0.6
        |   AND (-w.top['negcnt']) / CAST(n_tokens AS DOUBLE) <= 0.2
        |   AND (CASE WHEN n_bigrams > 0
        |             THEN (n_bigrams - n_distinct_bigrams) / CAST(n_bigrams AS DOUBLE)
        |             ELSE 0.0 END) <= 0.4) AS passes_repetition_filter
        |FROM words w JOIN grams USING (doc_id)""".stripMargin,

    "q77_decontaminate" -> deconOracleSql,

    // Stage predicates replay the gated operators' own SQL (q33, q77 as
    // derived tables); the dedup canonical is the min doc_id among
    // STAGE-3 SURVIVORS of each content-hash group, exactly as the def
    // pins it.
    "q182_curation_waterfall" ->
      s"""WITH $waterfallCtesSql,
         |c AS (
         |  SELECT CAST(count(*) AS BIGINT) AS c0,
         |    CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         |    CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         |    CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         |    CAST(sum(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS c5
         |  FROM f5)
         |SELECT CAST(1 AS BIGINT) AS stage_idx, 'eval_holdout' AS stage,
         |       c0 AS n_in, c0 - c1 AS n_dropped, c1 AS n_out FROM c
         |UNION ALL SELECT 2, 'min_length', c1, c1 - c2, c2 FROM c
         |UNION ALL SELECT 3, 'quality', c2, c2 - c3, c3 FROM c
         |UNION ALL SELECT 4, 'exact_dedup', c3, c3 - c4, c4 FROM c
         |UNION ALL SELECT 5, 'decontamination', c4, c4 - c5, c5 FROM c""".stripMargin,

    // q256: the same flag CTEs grouped by source, identical all-integer
    // stage-drop arithmetic and one final division.
    "q256_waterfall_by_source" ->
      s"""WITH $waterfallCtesSql
         |SELECT source, CAST(count(*) AS BIGINT) AS n_in,
         |  CAST(sum(CASE WHEN NOT s1 THEN 1 ELSE 0 END) AS BIGINT) AS drop_holdout,
         |  CAST(sum(CASE WHEN s1 AND NOT s2 THEN 1 ELSE 0 END) AS BIGINT) AS drop_length,
         |  CAST(sum(CASE WHEN s2 AND NOT s3 THEN 1 ELSE 0 END) AS BIGINT) AS drop_quality,
         |  CAST(sum(CASE WHEN s3 AND NOT s4 THEN 1 ELSE 0 END) AS BIGINT) AS drop_dedup,
         |  CAST(sum(CASE WHEN s4 AND NOT s5 THEN 1 ELSE 0 END) AS BIGINT) AS drop_decontam,
         |  CAST(sum(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
         |  CAST(sum(CASE WHEN s5 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS survival_rate
         |FROM f5 GROUP BY 1""".stripMargin,

    // list_reduce folds left-to-right starting from the first element;
    // Spark's aggregate starts from 0.0 — identical in IEEE because
    // 0.0 + x == x for every finite x (log-probs are never -0.0).
    "q102_bigram_lm" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |pairs AS (
        |  SELECT doc_id, i - 1 AS pos, toks[i] AS prev, toks[i + 1] AS cur
        |  FROM (SELECT doc_id, toks,
        |               unnest(generate_series(1, len(toks) - 1)) AS i FROM t)),
        |tok AS (SELECT unnest(toks) AS tok FROM t),
        |c1 AS (SELECT tok AS prev, count(*) AS c1 FROM tok GROUP BY 1),
        |v AS (SELECT count(*) AS vocab FROM c1),
        |c2 AS (SELECT prev, cur, count(*) AS c2 FROM pairs GROUP BY 1, 2),
        |scored AS (
        |  SELECT doc_id, pos,
        |    floor(ln((CAST(c2 AS DOUBLE) + 1.0)
        |              / (CAST(c1 AS DOUBLE) + CAST(vocab AS DOUBLE)))
        |          * 1e9 + 0.5) / 1e9 AS logp
        |  FROM pairs JOIN c2 USING (prev, cur) JOIN c1 USING (prev) CROSS JOIN v),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |         list_reduce(list(logp ORDER BY pos), (a, b) -> a + b) AS s
        |  FROM scored GROUP BY doc_id)
        |SELECT t.doc_id, t.lang,
        |  coalesce(n_bigrams, 0) AS n_bigrams,
        |  coalesce(s, 0.0) AS sum_logprob,
        |  coalesce(s / CAST(n_bigrams AS DOUBLE), 0.0) AS avg_logprob,
        |  coalesce(floor(exp(-(s / CAST(n_bigrams AS DOUBLE))) * 1e9 + 0.5) / 1e9,
        |           1.0) AS perplexity
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin,

    // The per-term double expression mirrors the Spark operation tree
    // EXACTLY (left-associated products, same cast points) so every
    // probability is bit-identical before its quantized ln.
    "q175_kneser_ney_lm" -> knOracleSql,
    // q175's oracle rides as a derived table; tercile fractions are the
    // shortest-round-trip doubles of 1/3 and 2/3, so quantile_cont
    // interpolates the same positions Spark's exact percentile does.
    "q176_perplexity_buckets" ->
      s"""WITH sc AS (
         |  SELECT doc_id, lang, perplexity FROM (${knOracleSql}) zz),
         |thr AS (
         |  SELECT lang,
         |    quantile_cont(perplexity, CAST(0.3333333333333333 AS DOUBLE)) AS t1,
         |    quantile_cont(perplexity, CAST(0.6666666666666666 AS DOUBLE)) AS t2
         |  FROM sc GROUP BY lang)
         |SELECT sc.doc_id, sc.lang, sc.perplexity, thr.t1, thr.t2,
         |  CASE WHEN sc.perplexity <= thr.t1 THEN 'head'
         |       WHEN sc.perplexity <= thr.t2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM sc JOIN thr USING (lang)""".stripMargin,


    "q78_unigram_lm" -> unigramOracleSql,

    "q82_ngram_novelty" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |ng AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS ngram
        |  FROM (SELECT doc_id, toks,
        |               unnest(generate_series(1, len(toks) - 7)) AS i FROM t)),
        |firsts AS (SELECT ngram, min(doc_id) AS first_doc FROM ng GROUP BY ngram),
        |perdoc AS (
        |  SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_ngrams,
        |    CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_novel
        |  FROM ng JOIN firsts USING (ngram) GROUP BY doc_id)
        |SELECT t.doc_id, t.lang,
        |  coalesce(n_ngrams, 0) AS n_ngrams,
        |  coalesce(n_novel, 0) AS n_novel,
        |  CASE WHEN n_ngrams IS NOT NULL
        |       THEN n_novel / CAST(n_ngrams AS DOUBLE) ELSE 0.0 END AS novelty_frac
        |FROM t LEFT JOIN perdoc USING (doc_id)""".stripMargin,

    "q79_weighted_sample" -> {
      val bucket =
        s"(${digitSql(0)} * 4096 + ${digitSql(1)} * 256 + ${digitSql(2)} * 16 + ${digitSql(3)})"
      s"""WITH h AS (
         |  SELECT doc_id, lang, n_chars,
         |         md5('wsample|' || CAST(doc_id AS VARCHAR)) AS hex
         |  FROM documents)
         |SELECT doc_id, lang, n_chars,
         |  CAST($bucket AS BIGINT) AS keep_bucket,
         |  CAST(least(n_chars, 400) AS DOUBLE) / 400.0 AS sample_weight
         |FROM h
         |WHERE CAST($bucket AS BIGINT) * 400 < least(n_chars, 400) * 65536""".stripMargin
    },

    "q83_bloom_decontaminate" -> q83OracleSql,

    // q238: the q77/q83 oracles as derived tables, chunk-span hits from
    // the shared CDC CTE builder (TextQueries) over the benchmark/corpus
    // halves, same ≥16-char floor, same verdict ladder.
    "q238_decontam_report" ->
      s"""WITH ex AS (
         |  SELECT doc_id, n_overlap_ngrams, is_contaminated AS is_exact_hit
         |  FROM ($deconOracleSql) z1),
         |bl AS (SELECT doc_id, is_flagged_bloom FROM ($q83OracleSql) z2),
         |bdoc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |cdoc AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 10 <> 0),
         |${graft.queries.TextQueries.cdcChunkCtesSql("bdoc", "bb")},
         |${graft.queries.TextQueries.cdcChunkCtesSql("cdoc", "cc")},
         |bh AS (SELECT DISTINCT md5(chunk_text) AS chunk_hash
         |       FROM bbk WHERE chunk_chars >= 16),
         |ch AS (SELECT DISTINCT doc_id, md5(chunk_text) AS chunk_hash
         |       FROM cck WHERE chunk_chars >= 16),
         |hits AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_chunks
         |  FROM ch JOIN bh USING (chunk_hash) GROUP BY 1),
         |j AS (
         |  SELECT c.doc_id, c.lang, bl.is_flagged_bloom,
         |    ex.n_overlap_ngrams, ex.is_exact_hit,
         |    coalesce(h.n_shared_chunks, 0) AS n_shared_chunks
         |  FROM cdoc c
         |  JOIN ex USING (doc_id) JOIN bl USING (doc_id)
         |  LEFT JOIN hits h USING (doc_id))
         |SELECT doc_id, lang, is_flagged_bloom, n_overlap_ngrams, is_exact_hit,
         |  CAST(n_shared_chunks AS BIGINT) AS n_shared_chunks,
         |  n_shared_chunks > 0 AS is_span_hit,
         |  is_exact_hit OR n_shared_chunks > 0 AS is_contaminated,
         |  is_flagged_bloom AND NOT is_exact_hit AS bloom_false_positive,
         |  CASE WHEN is_exact_hit AND n_shared_chunks > 0 THEN 'exact+span'
         |       WHEN is_exact_hit THEN 'exact'
         |       WHEN n_shared_chunks > 0 THEN 'span'
         |       WHEN is_flagged_bloom THEN 'screen_only'
         |       ELSE 'clean' END AS verdict
         |FROM j""".stripMargin,

    "q86_mixture_rebalance" -> {
      val bucket =
        s"(${digitSql(0)} * 4096 + ${digitSql(1)} * 256 + ${digitSql(2)} * 16 + ${digitSql(3)})"
      s"""WITH h AS (
         |  SELECT doc_id, lang, source,
         |         md5('mix|' || CAST(doc_id AS VARCHAR)) AS hex
         |  FROM documents),
         |counts AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_source
         |  FROM documents GROUP BY source),
         |tgt AS (SELECT min(n_source) AS target_n FROM counts)
         |SELECT doc_id, lang, h.source, n_source, target_n,
         |  CAST(target_n AS DOUBLE) / CAST(n_source AS DOUBLE) AS sample_rate
         |FROM h JOIN counts USING (source) CROSS JOIN tgt
         |WHERE CAST($bucket AS BIGINT) * n_source < 65536 * target_n""".stripMargin
    },

    "q96_temperature_mix" -> {
      val bucket =
        s"(${digitSql(0)} * 4096 + ${digitSql(1)} * 256 + ${digitSql(2)} * 16 + ${digitSql(3)})"
      s"""WITH h AS (
         |  SELECT doc_id, lang, source,
         |         md5('temp|' || CAST(doc_id AS VARCHAR)) AS hex
         |  FROM documents),
         |counts AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_source
         |  FROM documents GROUP BY source),
         |tgt AS (SELECT min(n_source) AS n_min FROM counts),
         |t AS (
         |  SELECT doc_id, lang, h.source, n_source, n_min,
         |         CAST(floor(sqrt(CAST(CAST(n_min AS HUGEINT) * n_source AS DOUBLE))) AS BIGINT)
         |           AS thr,
         |         CAST($bucket AS BIGINT) AS keep_bucket
         |  FROM h JOIN counts USING (source) CROSS JOIN tgt)
         |SELECT doc_id, lang, source, n_source, n_min, thr,
         |  CAST(thr AS DOUBLE) / CAST(n_source AS DOUBLE) AS sample_rate
         |FROM t
         |WHERE keep_bucket * n_source < 65536 * thr""".stripMargin
    },

    "q168_temperature_mixture" -> q168OracleSql,

    // q229: the same lattice + prefix-window fill; DIV spelled //.
    "q229_epoch_budget_alloc" ->
      """WITH t AS (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |src AS (SELECT source, CAST(SUM(n) AS BIGINT) AS src_tokens
        |        FROM t GROUP BY 1),
        |tot AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS tt FROM src),
        |sl AS (
        |  SELECT source, src_tokens, CAST(e AS BIGINT) AS epoch,
        |    CAST(CASE e WHEN 1 THEN 8 WHEN 2 THEN 4 WHEN 3 THEN 2 ELSE 1 END AS BIGINT) AS value_x8,
        |    (SELECT (tt * 3) // 2 FROM tot) AS budget
        |  FROM src, (SELECT unnest([1, 2, 3, 4]) AS e)),
        |c AS (
        |  SELECT *,
        |    coalesce(CAST(SUM(src_tokens) OVER (ORDER BY epoch, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
        |  FROM sl)
        |SELECT source, epoch, src_tokens AS slice_tokens, value_x8, budget,
        |  greatest(0, least(src_tokens, budget - cum_before)) AS taken_tokens,
        |  greatest(0, least(src_tokens, budget - cum_before)) > 0 AND
        |  greatest(0, least(src_tokens, budget - cum_before)) < src_tokens AS is_partial,
        |  greatest(0, least(src_tokens, budget - cum_before)) * value_x8 AS weighted_value_x8
        |FROM c""".stripMargin,

    // q241: unique-token mass from the q67 canonical set, 1e9-quantized
    // exp decay, same multiply/divide order in the DOUBLE readouts.
    "q241_epoch_yield" ->
      s"""WITH cl AS (
         |  SELECT doc_id FROM (${TextQueries.oracles("q67_dedup_clusters")}) c
         |  WHERE is_canonical),
         |tk AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |u AS (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS unique_tokens
         |  FROM cl JOIN tk USING (doc_id)),
         |sw AS (
         |  SELECT CAST(e AS BIGINT) AS epochs,
         |    CAST(floor(exp(CAST(1 - e AS DOUBLE) / 15.0) * 1e9 + 0.5)
         |         AS BIGINT) AS decay_e9
         |  FROM (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8]) AS e))
         |SELECT epochs, unique_tokens,
         |  epochs * unique_tokens AS budget_tokens,
         |  1000000000 + $EpochRepeatConst * (1000000000 - decay_e9) AS eff_factor_e9,
         |  CAST(unique_tokens AS DOUBLE)
         |    * CAST(1000000000 + $EpochRepeatConst * (1000000000 - decay_e9) AS DOUBLE)
         |    / 1e9 AS effective_tokens,
         |  CAST(1000000000 + $EpochRepeatConst * (1000000000 - decay_e9) AS DOUBLE)
         |    / (CAST(epochs AS DOUBLE) * 1e9) AS efficiency
         |FROM u CROSS JOIN sw""".stripMargin,

    // q243: q78 + q175 oracles as derived tables, identical 1e9-quantized
    // excess/exp arithmetic, exact BIGINT domain sums and normalizer,
    // same expression order in the weight chains.
    "q243_doremi_weights" ->
      s"""WITH $excessOracleCtes,
         |dom AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(excess_e9) AS BIGINT) AS sum_excess_e9
         |  FROM pd GROUP BY 1),
         |dx AS (
         |  SELECT source, n_docs,
         |    CAST(sum_excess_e9 AS DOUBLE)
         |      / (CAST(n_docs AS DOUBLE) * 1e9) AS mean_excess
         |  FROM dom),
         |de AS (
         |  SELECT source, n_docs, mean_excess,
         |    CAST(floor(exp(mean_excess) * 1e9 + 0.5) AS BIGINT) AS exp_e9
         |  FROM dx),
         |z AS (SELECT CAST(sum(exp_e9) AS BIGINT) AS z,
         |             CAST(count(*) AS BIGINT) AS k FROM de)
         |SELECT source, n_docs, mean_excess,
         |  CAST(exp_e9 AS DOUBLE) / CAST(z AS DOUBLE) AS weight_eg,
         |  (0.8 * CAST(exp_e9 AS DOUBLE)) / CAST(z AS DOUBLE)
         |    + 0.2 / CAST(k AS DOUBLE) AS weight
         |FROM de CROSS JOIN z""".stripMargin,

    // q258: same slice/rational-u/quantized-ln/key arithmetic, global
    // row_number over (key DESC, doc_id ASC) replaying the heap's
    // (string-asc, id-asc) order.
    "q258_weighted_sample" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |f AS (SELECT * FROM d WHERE n_tokens > 0),
         |h AS (SELECT doc_id, n_tokens,
         |             md5('wrs|' || CAST(doc_id AS VARCHAR)) AS hex FROM f),
         |kx AS (
         |  SELECT doc_id, n_tokens,
         |    (floor(ln((CAST(${graft.functions.HexKeys.value16Sql()} AS DOUBLE) + 1.0)
         |              / 65537.0) * 1e9 + 0.5) / 1e9)
         |      / CAST(n_tokens AS DOUBLE) AS sample_key
         |  FROM h)
         |SELECT doc_id, n_tokens, sample_key, CAST(rk AS BIGINT) AS sample_rank
         |FROM (SELECT *, row_number() OVER
         |        (ORDER BY sample_key DESC, doc_id ASC) AS rk
         |      FROM kx)
         |WHERE rk <= 50""".stripMargin,

    // q245: shared excess CTEs + quantile_cont per-source thresholds
    // (Spark's percentile and DuckDB's quantile_cont interpolate the
    // same positions — the q176 pairing), same double comparison.
    "q245_learnability_filter" ->
      s"""WITH $excessOracleCtes,
         |thr AS (
         |  SELECT source, quantile_cont(excess_e9, 0.75) AS thr_e9
         |  FROM pd GROUP BY 1)
         |SELECT pd.doc_id, pd.source, pd.excess_e9, thr.thr_e9,
         |  CAST(pd.excess_e9 AS DOUBLE) >= thr.thr_e9 AS is_selected
         |FROM pd JOIN thr USING (source)""".stripMargin,

    "q171_unimax_alloc" -> {
      val bucket = s"(${graft.functions.HexKeys.value16Sql()})"
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, lang,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |pl AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS lt
         |       FROM t GROUP BY lang),
         |caps AS (
         |  SELECT lang, lt, lt * 4 AS cap,
         |         CAST(ROW_NUMBER() OVER (ORDER BY lt * 4, lang) AS BIGINT) AS rn
         |  FROM pl),
         |tot AS (SELECT CAST(SUM(lt) AS BIGINT) * 3 AS b,
         |               CAST(COUNT(*) AS BIGINT) AS l FROM pl),
         |walk AS (
         |  SELECT CAST(0 AS BIGINT) AS rn, b AS remaining, l AS k,
         |         CAST(NULL AS VARCHAR) AS lang, CAST(0 AS BIGINT) AS lt,
         |         CAST(0 AS BIGINT) AS cap, CAST(0 AS BIGINT) AS alloc
         |  FROM tot
         |  UNION ALL
         |  SELECT c.rn, w.remaining - least(c.cap, w.remaining // w.k),
         |         w.k - 1, c.lang, c.lt, c.cap,
         |         least(c.cap, w.remaining // w.k)
         |  FROM walk w JOIN caps c ON c.rn = w.rn + 1),
         |alloc AS (SELECT lang, lt, cap, alloc FROM walk WHERE rn >= 1),
         |h AS (SELECT doc_id, md5('unimax|' || CAST(doc_id AS VARCHAR)) AS hex
         |      FROM documents)
         |SELECT t.doc_id, t.lang, t.n_tokens, a.lt AS lang_tokens,
         |  a.cap AS capacity, a.alloc AS alloc_tokens,
         |  (a.alloc = a.cap) AS capped,
         |  CAST(a.alloc // a.lt +
         |       CASE WHEN CAST($bucket AS HUGEINT) * a.lt <
         |                 CAST(a.alloc % a.lt AS HUGEINT) * 65536
         |            THEN 1 ELSE 0 END AS BIGINT) AS n_repeats
         |FROM t JOIN alloc a USING (lang) JOIN h USING (doc_id)""".stripMargin
    },

    // q169's oracle rides as a derived table (the q116 discipline), so
    // the residual token counts feeding the allocation are the SAME SQL
    // the q169 gate already proves.
    "q173_dedup_then_mix" -> {
      val bucket = s"(${graft.functions.HexKeys.value16Sql()})"
      s"""WITH t2 AS (
         |  SELECT d.doc_id, d.lang, r.kept_tokens AS n_tokens
         |  FROM documents d
         |  JOIN (${graft.queries.TextQueries.oracles("q169_chunk_dedup")}) r
         |    ON d.doc_id = r.doc_id
         |  WHERE r.kept_tokens >= 1),
         |pl AS (
         |  SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens,
         |         CAST(floor(sqrt(CAST(SUM(n_tokens) AS DOUBLE)) * 1000000)
         |              AS BIGINT) AS qs
         |  FROM t2 GROUP BY lang),
         |tot AS (
         |  SELECT CAST(SUM(qs) AS BIGINT) AS qs_tot,
         |         CAST(SUM(lang_tokens) AS BIGINT) AS all_tokens
         |  FROM pl),
         |tgt AS (
         |  SELECT pl.lang, pl.lang_tokens,
         |         CAST((CAST(pl.qs AS HUGEINT) * (tot.all_tokens // 2))
         |              // tot.qs_tot AS BIGINT) AS target_tokens
         |  FROM pl CROSS JOIN tot),
         |h AS (
         |  SELECT doc_id, md5('mix|' || CAST(doc_id AS VARCHAR)) AS hex
         |  FROM documents)
         |SELECT t2.doc_id, t2.lang, t2.n_tokens, tgt.lang_tokens, tgt.target_tokens,
         |  CAST(tgt.target_tokens // tgt.lang_tokens +
         |       CASE WHEN CAST($bucket AS HUGEINT) * tgt.lang_tokens <
         |                 CAST(tgt.target_tokens % tgt.lang_tokens AS HUGEINT) * 65536
         |            THEN 1 ELSE 0 END AS BIGINT) AS n_repeats
         |FROM t2 JOIN tgt USING (lang) JOIN h USING (doc_id)""".stripMargin
    },

    "q186_waterfall_by_source" ->
      s"""WITH $waterfallCtesSql,
         |c AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS c0,
         |    CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         |    CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         |    CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         |    CAST(sum(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS c5
         |  FROM f5 GROUP BY source)
         |SELECT source, CAST(1 AS BIGINT) AS stage_idx, 'eval_holdout' AS stage,
         |       c0 AS n_in, c0 - c1 AS n_dropped, c1 AS n_out FROM c
         |UNION ALL SELECT source, 2, 'min_length', c1, c1 - c2, c2 FROM c
         |UNION ALL SELECT source, 3, 'quality', c2, c2 - c3, c3 FROM c
         |UNION ALL SELECT source, 4, 'exact_dedup', c3, c3 - c4, c4 FROM c
         |UNION ALL SELECT source, 5, 'decontamination', c4, c4 - c5, c5 FROM c""".stripMargin,

    "q189_temperature_sweep" -> {
      def leg(n: Int): String = {
        val root = (1 to n).foldLeft("CAST(lang_tokens AS DOUBLE)")(
          (e, _) => s"sqrt($e)")
        s"""SELECT CAST(${1L << n} AS BIGINT) AS alpha_den, lang, lang_tokens,
           |       CAST(floor($root * 1e6) AS BIGINT) AS qs FROM pl""".stripMargin
      }
      s"""WITH pl AS (
         |  SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
         |           AS lang_tokens
         |  FROM documents GROUP BY lang),
         |swept AS (
         |${(0 to 3).map(leg).mkString("\nUNION ALL\n")}),
         |tots AS (SELECT alpha_den, CAST(SUM(qs) AS BIGINT) AS qs_tot
         |         FROM swept GROUP BY 1),
         |w AS (
         |  SELECT s.alpha_den, s.lang, s.lang_tokens,
         |    CAST(s.qs AS DOUBLE) / CAST(t.qs_tot AS DOUBLE) AS weight,
         |    CAST(floor((CAST(s.qs AS DOUBLE) / CAST(t.qs_tot AS DOUBLE))
         |               * (CAST(s.qs AS DOUBLE) / CAST(t.qs_tot AS DOUBLE))
         |               * 1e12) AS BIGINT) AS wq2
         |  FROM swept s JOIN tots t USING (alpha_den)),
         |eff AS (
         |  SELECT alpha_den, 1e12 / CAST(CAST(SUM(wq2) AS BIGINT) AS DOUBLE)
         |           AS eff_langs
         |  FROM w GROUP BY 1)
         |SELECT w.alpha_den, w.lang, w.lang_tokens, w.weight, eff.eff_langs
         |FROM w JOIN eff USING (alpha_den)""".stripMargin
    },

    "q190_training_order" -> q190OracleSql,

    // q203: consecutive-copy gaps of the 3-EPOCH manifest via a PER-DOC
    // window (≤31 rows by the packing contract), integer extrema/sums,
    // the 1-row manifest total cross-joined on.
    "q203_repeat_spacing" ->
      s"""WITH ord AS (SELECT doc_id, train_rank
         |            FROM (${manifestOracleSql(3)}) z),
         |g AS (
         |  SELECT doc_id,
         |    train_rank - lag(train_rank) OVER (PARTITION BY doc_id
         |                                       ORDER BY train_rank) AS gap
         |  FROM ord),
         |p AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_copies,
         |    CAST(min(gap) AS BIGINT) AS min_gap,
         |    CAST(max(gap) AS BIGINT) AS max_gap,
         |    CAST(sum(gap) AS BIGINT) AS span
         |  FROM g GROUP BY doc_id HAVING count(*) >= 2),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS manifest_rows FROM ord)
         |SELECT doc_id, n_copies, min_gap, max_gap, span,
         |  CAST(span AS DOUBLE) / CAST(n_copies - 1 AS DOUBLE) AS mean_gap,
         |  manifest_rows,
         |  CAST(manifest_rows AS DOUBLE) / CAST(n_copies AS DOUBLE)
         |    AS expected_gap,
         |  min_gap * n_copies * n_copies * 4 < manifest_rows AS is_clumped
         |FROM p CROSS JOIN t""".stripMargin,

    "q191_token_budget_shards" -> q191OracleSql,

    // q234: q191's manifest as a derived table; the cut point is a 1-row
    // scalar cross join, statuses/offsets pure integer interval
    // arithmetic, nullable resume_* via conditional max.
    "q234_resume_manifest" ->
      s"""WITH m AS (SELECT * FROM ($q191OracleSql) z),
         |t AS (SELECT CAST(max(cum_tokens) // 2 AS BIGINT) AS t_cut FROM m),
         |st AS (
         |  SELECT m.*, t.t_cut,
         |    CASE WHEN cum_tokens <= t_cut THEN 'consumed'
         |         WHEN cum_tokens - n_tokens < t_cut THEN 'partial'
         |         ELSE 'pending' END AS status
         |  FROM m CROSS JOIN t)
         |SELECT shard_id,
         |  CAST(count(*) AS BIGINT) AS n_copies,
         |  CAST(sum(CASE WHEN status = 'consumed' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_consumed,
         |  CAST(sum(CASE WHEN status = 'partial' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_partial,
         |  CAST(sum(CASE WHEN status = 'pending' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pending,
         |  CAST(max(CASE WHEN status = 'partial' THEN doc_id END) AS BIGINT)
         |    AS resume_doc_id,
         |  CAST(max(CASE WHEN status = 'partial' THEN epoch_copy END) AS BIGINT)
         |    AS resume_epoch_copy,
         |  CAST(max(CASE WHEN status = 'partial'
         |                THEN t_cut - (cum_tokens - n_tokens) END) AS BIGINT)
         |    AS resume_token_offset,
         |  CAST(sum(CASE WHEN status = 'consumed' THEN n_tokens
         |                WHEN status = 'partial'
         |                THEN t_cut - (cum_tokens - n_tokens)
         |                ELSE 0 END) AS BIGINT) AS consumed_tokens
         |FROM st GROUP BY shard_id""".stripMargin,

    "q192_mixture_audit" ->
      s"""WITH z AS (SELECT * FROM ($q168OracleSql) zz)
         |SELECT lang, CAST(MAX(lang_tokens) AS BIGINT) AS lang_tokens,
         |  CAST(MAX(target_tokens) AS BIGINT) AS target_tokens,
         |  CAST(SUM(n_repeats * n_tokens) AS BIGINT) AS achieved_tokens,
         |  CAST(SUM(n_repeats * n_tokens) - MAX(target_tokens) AS BIGINT)
         |    AS deviation
         |FROM z GROUP BY lang""".stripMargin,

    "q100_dataset_card" ->
      """WITH base AS (
        |  SELECT source, lang, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fp
        |  FROM documents)
        |SELECT coalesce(source, 'ALL') AS source,
        |  coalesce(lang, 'ALL') AS lang,
        |  CAST(GROUPING(source) AS BIGINT) AS grp_source,
        |  CAST(GROUPING(lang) AS BIGINT) AS grp_lang,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_docs,
        |  COUNT(*) - CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_exact_dups
        |FROM base
        |GROUP BY GROUPING SETS ((source), (source, lang), ())""".stripMargin,

    "q84_chunk_windows" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS toks,
         |         len(string_split(text, ' ')) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang, toks, n_tokens,
         |         1 + greatest(0, (n_tokens - $ChunkW + $ChunkS - 1) // $ChunkS)
         |           AS n_chunks
         |  FROM t)
         |SELECT doc_id, lang,
         |  CAST(k AS BIGINT) AS chunk_idx,
         |  CAST(k * $ChunkS AS BIGINT) AS chunk_start,
         |  CAST(least($ChunkW, n_tokens - k * $ChunkS) AS BIGINT) AS n_chunk_tokens,
         |  array_to_string(toks[k * $ChunkS + 1 : k * $ChunkS + $ChunkW], ' ')
         |    AS chunk_text
         |FROM (SELECT doc_id, lang, toks, n_tokens,
         |             unnest(generate_series(0, n_chunks - 1)) AS k FROM c)""".stripMargin)
}
