package graft.operators

import graft.core.Materialize
import graft.functions.Text
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftx.CharGramArray
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.apache.spark.sql.{Column, DataFrame, Encoders}

/** Document deduplication operators for training-data pipelines: exact,
  * n-gram Jaccard, and MinHash+LSH. All are shuffle-bounded joins/aggs on
  * derived keys — the scale path at 100 TB is: hash-partition by the
  * derived key (text hash / shingle / band bucket), never all-pairs.
  *
  * MinHash here is md5-seeded Kirsch–Mitzenmacher: each shingle is
  * md5-hashed once, permutation k's value is `(h1 + k·h2) mod 2^32` over
  * the digest's first two 32-bit words, and the signature component is
  * the numeric MIN per document ([[org.apache.spark.sql.graftx.MinHashSigs]]).
  * Exactly reproducible in any engine with md5 + int64 arithmetic — which
  * makes the whole LSH pipeline oracle-checkable.
  */
object Dedup {

  /** Cache `tmp` frames for the duration of `build`, FORCE the result
    * (eager cut — pair/edge outputs are tiny next to the corpus), then
    * free the caches, so nothing outlives the call. The trade: the
    * returned frame is materialized at call time rather than first
    * action. The cut is shared state and honors
    * [[graft.core.Materialize]]'s durability conf.
    *
    * `materialize = false` skips the cache/cut machinery and returns the
    * RAW composed plan — for plan inspection (PlanDump): an eager cut
    * collapses the plan to an ExistingRDD scan, which documents nothing
    * and runs the mining job just to print it. Executing the lazy form
    * recomputes shared stages; use the default for real runs.
    */
  private def withCachesIf(materialize: Boolean, tmp: DataFrame*)(build: => DataFrame): DataFrame =
    if (materialize) Materialize.cachedWhile(tmp: _*)(Materialize.cut(build, "dedup_pairs"))
    else build

  /** Attach `canonical_id` (= min id in the hash group) and `group_size`
    * to every row via groupBy + join-back — NEVER a window over the
    * content hash. A `Window.partitionBy(content_hash)` funnels each
    * duplicate group through ONE WindowExec task with no map-side
    * combine; at web scale the hot group (empty docs, error boilerplate,
    * mirrored spam) is 10⁶–10⁸ rows, the exact flooded-key shape the cap
    * operator refuses to window over. Here the hot key is bounded
    * map-side: the partial HashAggregate collapses each task's rows to
    * one (hash, min, count) triple BEFORE the exchange, and the
    * join-back's right side carries only groups with ≥ 2 members (one
    * row per duplicated hash — typically small enough for AQE to flip
    * the join to broadcast, in which case the corpus side never
    * re-shuffles at all). Singleton rows are their own canonical via
    * coalesce.
    */
  private[graft] def attachCanonical(df: DataFrame, hashCol: String,
                                     idCol: String): DataFrame = {
    val dupGroups = df.groupBy(col(hashCol))
      .agg(min(col(idCol)).as("__canon"), count(lit(1)).as("__gsize"))
      .filter(col("__gsize") > 1L)
    df.join(dupGroups, Seq(hashCol), "left")
      .withColumn("canonical_id", coalesce(col("__canon"), col(idCol)))
      .withColumn("group_size", coalesce(col("__gsize"), lit(1L)))
      .drop("__canon", "__gsize")
  }

  /** Attach `cluster_size` (+ `is_canonical` = id == cluster_id) to a
    * component assignment — (idCol, cluster_id) — via groupBy + join-back,
    * NEVER a window over `cluster_id`: a mega-duplicate CLUSTER (the very
    * thing dedup exists to find — 10⁶–10⁸ copies of an error page at web
    * scale) is exactly as flooded a key as the content hash
    * [[attachCanonical]] refuses to window over. The partial HashAggregate
    * bounds the hot cluster map-side to one (cluster, count) row per task;
    * the join-back's right side is one row per cluster (AQE flips it to
    * broadcast when small, and splits the probe side on skew — a
    * WindowExec can do neither).
    */
  private[graft] def withClusterSize(assign: DataFrame, idCol: String): DataFrame = {
    val sizes = assign.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    assign.join(sizes, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("cluster_size"),
              (col(idCol) === col("cluster_id")).as("is_canonical"))
  }

  /** Exact dedup by content hash: every row keeps its hash, the canonical
    * (minimum) id in its duplicate group, and a duplicate flag. Hot-key
    * safe: partial+final agg plus a dup-groups-only join-back (see
    * [[attachCanonical]]) — no per-group window, no one-task funnel on a
    * mega-duplicate group.
    */
  def exact(df: DataFrame, idCol: String, textCol: String,
            keepInput: Boolean = false): DataFrame = {
    // keepInput: retain the input columns so a composing pipeline (q110)
    // filters duplicates WITHOUT joining the corpus back by id — one
    // corpus scan instead of two
    val base =
      if (keepInput) df.withColumn("text_hash", md5(col(textCol)))
      else df.select(col(idCol), md5(col(textCol)).as("text_hash"))
    attachCanonical(base, "text_hash", idCol)
      .withColumn("is_duplicate", col(idCol) =!= col("canonical_id"))
  }

  /** Per-document distinct shingle sets with sizes, the input to Jaccard
    * and MinHash.
    */
  def shingled(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol).as("doc_id"), Text.shingles(col(textCol), n).as("shingles"))
      .withColumn("n_shingles", size(col("shingles")).cast(LongType))

  /** n-gram Jaccard near-dup pairs, exact, via AllPairs-style prefix
    * filtering (Bayardo et al., WWW'07 — public algorithm):
    *
    *  1. global shingle order = (document frequency asc, shingle asc) —
    *     rare shingles first;
    *  2. each document indexes only its prefix of length
    *     |S| − ⌈t·|S|⌉ + 1 under that order; any pair with J ≥ t is
    *     guaranteed to collide on an indexed prefix shingle;
    *  3. candidates (tiny vs. the naive inverted-index join, which
    *     explodes on frequent shingles) are verified exactly with
    *     `array_intersect` on the full shingle sets.
    *
    * Same result set as the naive join, but the shuffle carries prefixes
    * instead of full postings — this is the difference between a bounded
    * join and a quadratic blowup on skewed shingle frequencies at 100 TB.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, n: Int = 3,
                   materialize: Boolean = true): DataFrame = {
    val sh = shingled(df, idCol, textCol, n)
    withCachesIf(materialize, sh) {
      verifyPairs(jaccardCandidates(sh, threshold, materialize), sh, threshold)
    }
  }

  /** The AllPairs/PPJoin candidate set for [[jaccardPairs]], exposed so
    * callers (and probes) can measure the filter's selectivity.
    */
  def jaccardCandidates(sh: DataFrame, threshold: Double,
                        materialize: Boolean = true): DataFrame = {
    // AllPairs asymmetric prefixes (Bayardo et al.): the larger document
    // PROBES with prefix |S|−⌈t·|S|⌉+1; the smaller document is INDEXED
    // with the shorter prefix |S|+1−⌈(2t/(1+t))·|S|⌉. The 1e-9 slack on
    // the ceil argument errs toward LONGER prefixes (never loses pairs to
    // float rounding).
    val nS = col("n_shingles")
    val (probeLen, indexLen) =
      if (threshold > 0) (
        (nS - ceil(lit(threshold) * nS - 1e-9) + 1).cast(LongType),
        (nS + 1 - ceil(lit(2 * threshold / (1 + threshold)) * nS - 1e-9)).cast(LongType))
      else (nS, nS)
    // Cache: the candidate self-join consumes the ranked prefix twice;
    // without a cut the dfreq-join + window re-run per side. Freed before
    // return (candidates are a tiny pair set).
    val ranked = rankedShingles(sh, probeLen.as("probe_len"), indexLen.as("index_len"))
    val probe = ranked.filter(col("rn") <= col("probe_len"))
      .select(col("doc_id").as("doc_b"), col("n_shingles").as("size_b"),
              col("rn").as("rn_b"), col("shingle_h"))
    val index = ranked.filter(col("rn") <= col("index_len"))
      .select(col("doc_id").as("doc_a"), col("n_shingles").as("size_a"),
              col("rn").as("rn_a"), col("shingle_h"))
    // PPJoin positional filter: for the first common element of a true
    // pair, overlap ≤ 1 + min(remaining suffix lengths); requiring that
    // bound ≥ α = ⌈t/(1+t)·(|A|+|B|)⌉ can only drop collisions whose pair
    // cannot reach the threshold (the smallest common element of any
    // qualifying pair always passes).
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("size_a") + col("size_b")) - 1e-9)
    withCachesIf(materialize, ranked) {
      probe.join(index, Seq("shingle_h"))
        // index side holds the smaller set (ties broken by id) + length
        // filter: J ≥ t ⇒ min ≥ t·max
        .filter((col("size_a") < col("size_b")) ||
                (col("size_a") === col("size_b") && col("doc_a") < col("doc_b")))
        .filter(col("size_a").cast(DoubleType) >= lit(threshold) * col("size_b").cast(DoubleType) - 1e-9)
        .filter(lit(1) + least(col("size_a") - col("rn_a"), col("size_b") - col("rn_b")) >= alpha)
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
                greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        .distinct()
    }
  }

  /** The AllPairs global order of [[jaccardCandidates]] and
    * [[containmentPairs]]: one row per (document, distinct shingle) with
    * the shingle's rank `rn` in its document under (document frequency
    * asc, shingle asc) — rare shingles first — the document size
    * `n_shingles`, the caller's `prefixLens` over `n_shingles`, and the
    * join key `shingle_h`: an 8-byte xxhash64 of the shingle, not the
    * string, for less shuffle volume. `n_shingles` rides the SAME doc_id
    * window as the rank (count over the unordered-frame spec shares the
    * rank window's exchange + sort), so no doc-length join back to `sh`
    * (a whole extra shuffle of the exploded postings) is needed.
    */
  private def rankedShingles(sh: DataFrame, prefixLens: Column*): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val dfreq = ex.groupBy(col("shingle")).agg(count(lit(1)).as("df_count"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df_count"), col("shingle"))
    val wDocAll = Window.partitionBy(col("doc_id"))
    ex.join(dfreq, Seq("shingle"))
      .withColumn("rn", row_number().over(wDoc))
      .withColumn("n_shingles", count(lit(1)).over(wDocAll))
      .select((Seq(col("doc_id"), col("n_shingles"), col("rn")) ++ prefixLens :+
               xxhash64(col("shingle")).as("shingle_h")): _*)
  }

  /** Candidate (doc_a, doc_b) pairs joined to both documents' full
    * shingle sets (sh_a, size_a, sh_b, size_b) with `shared` = |A ∩ B|
    * ([[org.apache.spark.sql.graftx.IntersectSize]]): the exact
    * verification input of [[verifyPairs]] and [[containmentPairs]].
    */
  private def sharedShingles(cand: DataFrame, sh: DataFrame): DataFrame = {
    val a = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"),
                      col("n_shingles").as("size_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"),
                      col("n_shingles").as("size_b"))
    cand.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .withColumn("shared",
        org.apache.spark.sql.graftx.IntersectSize
          .intersectSize(col("sh_a"), col("sh_b")).cast(LongType))
  }

  /** Exact containment (asymmetric Jaccard) near-superset pairs:
    * |A ∩ B| / |A| ≥ t with A the SMALLER set (ties to the lower id) —
    * the inclusion detector symmetric Jaccard structurally misses: a
    * document quoted verbatim inside one 10× larger has J ≈ |A|/|B|
    * (far below any threshold) but containment ≈ 1. This is the
    * boilerplate/quotation leg of the dedup family.
    *
    * Candidates: the contained side probes with its AllPairs prefix
    * |A| − ⌈t·|A|⌉ + 1 under the global (df asc, shingle asc) order —
    * if no prefix shingle hits B, the overlap is confined to the last
    * ⌈t·|A|⌉ − 1 elements and can't reach t·|A|, so recall is exact.
    * No symmetric pruning exists (the overlap bound constrains only A),
    * so the container side indexes its FULL shingle set: the index is
    * corpus-linear — one exploded-postings shuffle, same volume as the
    * dfreq aggregation every variant already pays — and collision count
    * is bounded by the document frequency of PREFIX (rare) shingles.
    * Verification is exact (`IntersectSize` on full sets).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, n: Int = 3,
                       materialize: Boolean = true): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold out of (0,1]: $threshold")
    val sh = shingled(df, idCol, textCol, n)
    withCachesIf(materialize, sh) {
      val ranked = rankedShingles(sh)
      val probeLen = (col("n_shingles") -
        ceil(lit(threshold) * col("n_shingles") - 1e-9) + 1).cast(LongType)
      val probe = ranked.filter(col("rn") <= probeLen)
        .select(col("doc_id").as("doc_a"), col("n_shingles").as("size_a"),
                col("shingle_h"))
      val index = ranked
        .select(col("doc_id").as("doc_b"), col("n_shingles").as("size_b"),
                col("shingle_h"))
      val cand = withCachesIf(materialize, ranked) {
        probe.join(index, Seq("shingle_h"))
          .filter(col("size_a") < col("size_b") ||
                  (col("size_a") === col("size_b") && col("doc_a") < col("doc_b")))
          .select(col("doc_a"), col("doc_b"))
          .distinct()
      }
      sharedShingles(cand, sh)
        .withColumn("containment",
          col("shared").cast(DoubleType) / col("size_a").cast(DoubleType))
        .filter(col("containment") >= threshold)
        .select(col("doc_a"), col("doc_b"), col("size_a"), col("size_b"),
                col("shared"), col("containment"))
    }
  }

  /** Substring-level EXACT dedup (the ExactSubstr pass of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"): for
    * every document, the exact character spans that occur VERBATIM in at
    * least one other document as a substring of length ≥ k — the
    * text-removal granularity real pipelines run between document-level
    * dedup (q34–q36) and n-gram novelty (q82).
    *
    * The k-gram anchor identity makes this exact without suffix arrays:
    * a cross-doc shared substring of length ≥ k exists at position p IFF
    * the stride-1 k-gram at p occurs in another document — every shared
    * run of length M ≥ k is witnessed by all M−k+1 of its k-grams, so the
    * union of matched-gram extents [p, p+k) is EXACTLY the duplicated
    * character set. Plan shape:
    *
    *  1. one corpus scan → stride-1 k-grams with positions
    *     ([[org.apache.spark.sql.graftx.CharGramArray]], native);
    *  2. gram-key partial+final `countDistinct(doc)` — boilerplate grams
    *     collapse map-side, no per-gram postings list is ever held;
    *  3. equi-join grams ⋈ (grams with ndocs ≥ 2) on the gram key — the
    *     match stream, hash-partitioned by gram, never all-pairs;
    *  4. per-DOC window merges matched extents into maximal spans —
    *     bounded by one document's length, the same bound as any
    *     per-document aggregate, never corpus-wide.
    *
    * The gram shuffle is ~k× corpus characters — the honest price of
    * substring-exactness (suffix-array builds pay the same order); the
    * sampled/winnowed variant (q87) is the cheaper screen when spans
    * aren't needed. Returns one row per input document (zero-filled):
    * (doc_id, n_dup_positions, n_spans, dup_chars, longest_span).
    */
  def exactSubstrCoverage(df: DataFrame, idCol: String, textCol: String,
                          k: Int): DataFrame =
    substrSpanStats(df.select(col(idCol).as("doc_id")),
                    substrCov(df, idCol, textCol, k), k)

  /** Shared head of the ExactSubstr family: the (doc_id, pos) set of
    * 1-based gram positions whose stride-1 k-gram occurs in ≥ 2 distinct
    * documents — the exact duplicated-character witness set (see
    * [[exactSubstrCoverage]] for the identity argument).
    */
  private def substrCov(df: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    val g = substrGrams(df, idCol, textCol, k)
    val shared = g.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("gram"))
    g.join(shared, Seq("gram")).select(col("doc_id"), col("pos"))
  }

  /** The ExactSubstr family's one gram scan: stride-1 k-grams
    * ([[org.apache.spark.sql.graftx.CharGramArray]], native) as
    * (doc_id, pos, gram) rows with a 1-based `pos`.
    */
  private def substrGrams(df: DataFrame, idCol: String, textCol: String,
                          k: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
              posexplode(CharGramArray.charGrams(col(textCol), k)))
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("pos"),
              col("col").as("gram"))

  /** The delta-ingest head of the ExactSubstr family: the (doc_id, pos)
    * set of 1-based delta gram positions whose k-gram occurs anywhere in
    * `base`. The base collapses to its DISTINCT gram set and each delta
    * gram probes it with one equi-join, so cost is ∝ delta size plus the
    * one-off base gram build.
    */
  private def substrCovAgainst(delta: DataFrame, base: DataFrame, idCol: String,
                               textCol: String, k: Int): DataFrame = {
    val g = substrGrams(delta, idCol, textCol, k)
    val baseGrams = base
      .select(explode(CharGramArray.charGrams(col(textCol), k)).as("gram"))
      .distinct()
    g.join(baseGrams, Seq("gram")).select(col("doc_id"), col("pos"))
  }

  /** Incremental ExactSubstr — the delta-ingest form of
    * [[exactSubstrCoverage]] (the q91 snapshot-dedup discipline): for
    * each NEW document, the exact character spans occurring verbatim
    * (length ≥ k) anywhere in the EXISTING corpus. At 100 TB you do not
    * re-run corpus×corpus dedup per crawl increment: [[substrCovAgainst]]
    * probes the base's distinct gram set (in production: a maintained
    * gram index, bucketable by gram key).
    */
  def exactSubstrAgainst(delta: DataFrame, base: DataFrame, idCol: String,
                         textCol: String, k: Int): DataFrame =
    substrSpanStats(delta.select(col(idCol).as("doc_id")),
                    substrCovAgainst(delta, base, idCol, textCol, k), k)

  /** Covered gram extents [pos, pos+k) → maximal merged spans
    * (doc_id, s, e), 1-based character extents [s, e), disjoint per doc.
    * The gaps-and-islands window is bounded by one document's length.
    */
  private def mergedSpans(cov: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val isl = cov
      .withColumn("prev_end",
        max(col("pos") + k).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L).otherwise(0L))
      .withColumn("span_id", sum(col("new_span")).over(w))
    isl.groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + k).as("e"))
  }

  /** Shared span-merge tail of the ExactSubstr family: covered gram
    * extents [pos, pos+k) → maximal spans (per-DOC gaps-and-islands — a
    * new span starts where pos clears every previous extent's end; the
    * window is bounded by one document's length) → zero-filled per-doc
    * stats.
    */
  private def substrSpanStats(docIds: DataFrame, cov: DataFrame, k: Int): DataFrame = {
    val spans = mergedSpans(cov, k)
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
           sum(col("e") - col("s")).as("dup_chars"),
           max(col("e") - col("s")).as("longest_span"))
    val nPos = cov.groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_positions"))
    docIds
      .join(nPos, Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("n_dup_positions"), lit(0L)).as("n_dup_positions"),
              coalesce(col("n_spans"), lit(0L)).as("n_spans"),
              coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
              coalesce(col("longest_span"), lit(0L)).as("longest_span"))
  }

  /** The REMOVAL step of the ExactSubstr family — the remediation Lee et
    * al. 2022 run after mining spans ([[exactSubstrCoverage]] / q128
    * reports the coverage stats; this produces the CLEANED corpus): every
    * character position covered by a cross-document duplicated span of
    * length ≥ k is cut from the text, and the residual document survives
    * only if ≥ `minChars` characters remain (the post-removal min-length
    * filter real pipelines apply, since heavily-deduplicated husks are
    * noise).
    *
    * Residual construction folds each document's ≤ len/k disjoint merged
    * spans with `aggregate` — interpreted per SPAN, not per character, so
    * the lambda cost is a rounding error next to the gram shuffle that
    * mined the spans. Everything else is the q128 plan: one gram shuffle,
    * per-doc bounded windows, one corpus-keyed left join; no new scale
    * hazard.
    *
    * Returns one row per input document:
    * (doc_id, clean_chars, dup_chars, kept_frac, keep, residual_text).
    */
  def exactSubstrRemediate(df: DataFrame, idCol: String, textCol: String,
                           k: Int, minChars: Int): DataFrame =
    remediateTail(df, idCol, textCol,
      mergedSpans(substrCov(df, idCol, textCol, k), k), minChars)

  /** Incremental REMOVAL — [[exactSubstrRemediate]]'s delta-ingest form
    * (the q133 discipline): each NEW document is cleaned of every span
    * occurring verbatim in the EXISTING corpus ([[substrCovAgainst]]).
    * The base itself is untouched (it was remediated when IT was the
    * delta).
    */
  def exactSubstrRemediateAgainst(delta: DataFrame, base: DataFrame,
                                  idCol: String, textCol: String,
                                  k: Int, minChars: Int): DataFrame =
    remediateTail(delta, idCol, textCol,
      mergedSpans(substrCovAgainst(delta, base, idCol, textCol, k), k), minChars)

  /** Shared removal tail: fold a document's merged spans into the
    * residual text (see [[exactSubstrRemediate]] for the cost argument).
    */
  private def remediateTail(df: DataFrame, idCol: String, textCol: String,
                            spans: DataFrame, minChars: Int): DataFrame = {
    // collect_list order is partition-dependent; array_sort restores the
    // canonical span order (spans are disjoint, so sorting the (s, e)
    // structs sorts by s).
    val spanArr = spans.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("sp"))
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("text"),
                         length(col(textCol)).cast(LongType).as("len"))
    val resid = base.join(spanArr, Seq("doc_id"), "left")
      .withColumn("sp",
        coalesce(col("sp"), array().cast("array<struct<s:bigint,e:bigint>>")))
      .withColumn("residual_text",
        aggregate(col("sp"),
          struct(lit("").as("acc"), lit(1L).as("prev")),
          (st, span) => struct(
            concat(st.getField("acc"),
              col("text").substr(st.getField("prev").cast("int"),
                (span.getField("s") - st.getField("prev")).cast("int"))).as("acc"),
            span.getField("e").as("prev")),
          st => concat(st.getField("acc"),
            col("text").substr(st.getField("prev").cast("int"),
              (col("len") - st.getField("prev") + 1L).cast("int")))))
    resid.select(col("doc_id"),
      length(col("residual_text")).cast(LongType).as("clean_chars"),
      (col("len") - length(col("residual_text"))).cast(LongType).as("dup_chars"),
      when(col("len") === 0L, lit(1.0))
        .otherwise(length(col("residual_text")).cast(DoubleType) /
                   col("len").cast(DoubleType))
        .as("kept_frac"),
      (length(col("residual_text")) >= minChars).as("keep"),
      col("residual_text"))
  }

  /** Scan-local chunking shared by [[chunkDedup]], the incremental
    * chunk-index path (q172), and the streaming maintenance leg: fixed
    * `chunkTokens`-token chunks with per-doc positions. One `transform`
    * over the token array — per CHUNK, not per token — then one explode;
    * no shuffle. Returns
    * (doc_id, n_chunks, chunk_idx, chunk_text, chunk_toks).
    */
  def chunkFrame(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int): DataFrame = {
    val c = chunkTokens.toLong
    df.select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("toks"))
      .withColumn("n_toks", size(col("toks")).cast(LongType))
      .withColumn("n_chunks",
        ceil(col("n_toks").cast(DoubleType) / chunkTokens).cast(LongType))
      .filter(col("n_chunks") >= 1)
      .select(col("doc_id"), col("n_chunks"),
        posexplode(transform(sequence(lit(0L), col("n_chunks") - 1L), i =>
          struct(
            array_join(slice(col("toks"), (i * c + 1L).cast("int"), lit(chunkTokens)), " ")
              .as("chunk_text"),
            least(col("n_toks") - i * c, lit(c)).as("chunk_toks")))))
      .select(col("doc_id"), col("n_chunks"),
              col("pos").cast(LongType).as("chunk_idx"),
              col("col.chunk_text").as("chunk_text"),
              col("col.chunk_toks").as("chunk_toks"))
  }

  /** The `doc_id · 2^20 + chunk_idx` packed first-occurrence key with
    * LOUD bounds: chunk_idx ≥ 2^20 would bleed into the doc_id bits and
    * doc_id ∉ [0, 2^43) would wrap — both SILENT tie-break corruptions,
    * not ANSI overflows — so out-of-range inputs raise instead of
    * reordering. Scalar, codegen'd; the oracles need no guard (DuckDB
    * replays the same arithmetic on data already inside the bounds).
    */
  private[graft] def packedChunkKey(docId: Column, chunkIdx: Column): Column =
    when(docId.between(0L, (1L << 43) - 1) && chunkIdx.between(0L, 1048575L),
         docId * 1048576L + chunkIdx)
      .otherwise(raise_error(concat(
        lit("chunk key packing requires 0 <= doc_id < 2^43 and 0 <= chunk_idx < 2^20, got doc_id="),
        docId.cast("string"), lit(" chunk_idx="), chunkIdx.cast("string")))
        .cast(LongType))

  /** A chunk frame keyed for first-occurrence picks: adds `chunk_hash`
    * (md5 of `chunk_text`) and the packed first-occurrence key `k`
    * ([[packedChunkKey]]).
    */
  def hashedChunks(chunks: DataFrame): DataFrame =
    chunks
      .withColumn("chunk_hash", md5(col("chunk_text")))
      .withColumn("k", packedChunkKey(col("doc_id"), col("chunk_idx")))

  /** The canonical (first-occurrence) row per chunk hash of a chunk
    * frame: (chunk_hash, doc_id, chunk_idx) at the minimum packed key.
    * Only the canonical row survives, so this is a pure partial+final
    * agg — min of the (k, doc_id, chunk_idx) struct, lexicographic with
    * the unique packed key leading — never a chunk_hash window or a
    * join-back: a boilerplate chunk flooding the input stays bounded
    * map-side instead of funneling one WindowExec task. Shared by the
    * persisted q172/q227 indexes and their streaming maintenance legs.
    */
  def canonicalChunks(chunks: DataFrame): DataFrame =
    hashedChunks(chunks)
      .groupBy(col("chunk_hash"))
      .agg(min(struct(col("k"), col("doc_id"), col("chunk_idx"))).as("__c"))
      .select(col("chunk_hash"),
              col("__c.doc_id").as("doc_id"),
              col("__c.chunk_idx").as("chunk_idx"))

  /** The minimum packed key of every chunk hash that occurs more than
    * once in a [[hashedChunks]] frame: (chunk_hash, __min_k). Joined back
    * left, a row is its hash's first occurrence iff `__min_k` is null or
    * equals its `k`; only duplicated hashes join back.
    */
  def dupMinKeys(hashed: DataFrame): DataFrame =
    hashed.groupBy(col("chunk_hash"))
      .agg(min(col("k")).as("__min_k"), count(lit(1)).as("__n"))
      .filter(col("__n") > 1L)
      .drop("__n")

  /** Adds `keep_chunk` to a [[hashedChunks]] frame: true on each chunk
    * hash's first occurrence (minimum packed key `k`) within the frame.
    * The flag comes from a groupBy + join-back on the chunk HASH
    * ([[dupMinKeys]]; md5, so the exchange carries 32-hex keys, not chunk
    * text), never a window over the chunk: a boilerplate chunk
    * duplicated 10⁶–10⁸× would funnel through one WindowExec task, while
    * the partial agg bounds it map-side and the dup-only right side
    * joins back small (see [[attachCanonical]]'s rationale). Singletons
    * keep via the null `__min_k`.
    *
    * `base` is a persisted (chunk_hash) index of chunks kept earlier:
    * with it a chunk must also miss the index (one hash-equi left probe,
    * `in_base` null), and the within-frame flag is `first_in_delta`.
    */
  private[graft] def keepFirstChunks(hashed: DataFrame, base: Option[DataFrame]): DataFrame = {
    val first = col("__min_k").isNull || col("k") === col("__min_k")
    val keyed = hashed.join(dupMinKeys(hashed), Seq("chunk_hash"), "left")
    base match {
      case None => keyed.withColumn("keep_chunk", first)
      case Some(idx) =>
        keyed.withColumn("first_in_delta", first)
          .drop("__min_k")
          .join(idx.select(col("chunk_hash"), lit(true).as("in_base")),
                Seq("chunk_hash"), "left")
          .withColumn("keep_chunk", col("first_in_delta") && col("in_base").isNull)
    }
  }

  /** Per-document readout of a [[keepFirstChunks]] frame: (doc_id,
    * n_chunks, kept_chunks, `keptCol` = the kept chunks' `sizeCol` sum,
    * residual_text = the kept chunk texts in chunk order, joined by
    * `separator`). collect_list order is partition-dependent, so sorting
    * the (chunk_idx, chunk_text) structs restores document order; when()
    * without otherwise yields NULL for cut chunks, which collect_list
    * drops.
    */
  private[graft] def reassembleKept(keyed: DataFrame, sizeCol: String, keptCol: String,
                     separator: String): DataFrame =
    keyed.groupBy(col("doc_id"))
      .agg(max(col("n_chunks")).as("n_chunks"),
           sum(when(col("keep_chunk"), 1L).otherwise(0L)).as("kept_chunks"),
           sum(when(col("keep_chunk"), col(sizeCol)).otherwise(0L)).as(keptCol),
           concat_ws(separator, transform(
             array_sort(collect_list(
               when(col("keep_chunk"),
                    struct(col("chunk_idx"), col("chunk_text"))))),
             x => x.getField("chunk_text"))).as("residual_text"))

  /** Chunk-level (line-level) dedup with document reconstruction — the
    * RefinedWeb/CCNet-style granularity between document-level dedup
    * ([[exact]]) and substring-level dedup ([[exactSubstrCoverage]]):
    * documents are cut into fixed `chunkTokens`-token chunks, each
    * DISTINCT chunk text keeps only its first corpus-wide occurrence
    * (minimum (doc_id, chunk_idx)), and every document is reassembled
    * from its kept chunks in order.
    *
    * First-occurrence choice is taken over the single BIGINT
    * `doc_id · 2^20 + chunk_idx` rather than a struct min, so the exact
    * tie-break arithmetic is engine-portable (valid while chunk_idx <
    * 2^20 — i.e. docs under ~20M tokens at the default chunk size — and
    * doc_id < 2^43). A violation would NOT overflow loudly: chunk_idx
    * ≥ 2^20 bleeds into the doc_id bits and silently changes
    * first-occurrence tie-breaks (only doc_id ≥ 2^43 trips ANSI
    * overflow) — so [[packedChunkKey]] guards both bounds with
    * raise_error, the orderKeyedCopies discipline.
    *
    * Scale shape: chunking is scan-local (one `transform` over the token
    * array — per CHUNK, not per token); the shuffles are the chunk-hash
    * [[dupMinKeys]] agg and its join-back (md5-uniform unless content
    * repeats — exactly the duplication being removed) plus the per-doc
    * reassembly aggregate. No all-pairs joins, no driver state.
    *
    * Returns one row per input document:
    * (doc_id, n_chunks, kept_chunks, kept_tokens, residual_text).
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int): DataFrame =
    reassembleKept(
      keepFirstChunks(hashedChunks(chunkFrame(df, idCol, textCol, chunkTokens)), None),
      "chunk_toks", "kept_tokens", " ")

  /** CDC parameters shared by the q225/q226 defs, their oracles, and the
    * specs: 8-cp grams, divisor 64 → expected chunk ≈ 64 chars. One
    * definition so the engines cannot drift.
    */
  val CdcK: Int       = 8
  val CdcDivisor: Int = 64

  /** Content-defined chunking over a corpus: one row per chunk —
    * (doc_id, n_chunks, chunk_idx, chunk_pos, chunk_chars, chunk_text) —
    * boundaries from [[org.apache.spark.sql.graftx.CdcChunkArray]]'s
    * rolling hash, so they are a function of LOCAL content and
    * re-synchronize after edits (the property [[chunkFrame]]'s
    * offset-based cuts lack; q226 measures the difference). Scan-local:
    * one native pass per document, one explode per CHUNK (~n/divisor
    * rows, the q169 granularity — never per character); no shuffle.
    */
  def cdcChunkFrame(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(length(col(textCol)) >= 1)
      .select(col(idCol).as("doc_id"),
        org.apache.spark.sql.graftx.CdcChunkArray
          .cdcChunks(col(textCol), CdcK, CdcDivisor).as("ch"))
      .withColumn("n_chunks", size(col("ch")).cast(LongType))
      .select(col("doc_id"), col("n_chunks"), posexplode(col("ch")))
      .select(col("doc_id"), col("n_chunks"),
              col("pos").cast(LongType).as("chunk_idx"),
              col("col.chunk_pos").as("chunk_pos"),
              col("col.chunk_chars").as("chunk_chars"),
              col("col.chunk_text").as("chunk_text"))

  /** CDC chunk-level dedup with document reconstruction — [[chunkDedup]]
    * with content-defined boundaries: each distinct chunk text keeps
    * only its first corpus-wide occurrence (min packed
    * `doc_id·2^20 + chunk_idx` key — [[packedChunkKey]]'s loud bounds),
    * and every document reassembles from its kept chunks in order
    * (empty-string separator: CDC chunks partition the exact character
    * stream, unlike token chunks which re-join on spaces). Keep flag and
    * reassembly are [[chunkDedup]]'s ([[keepFirstChunks]],
    * [[reassembleKept]]).
    *
    * Returns one row per input document:
    * (doc_id, n_chunks, kept_chunks, kept_chars, residual_text).
    */
  def cdcChunkDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    reassembleKept(keepFirstChunks(hashedChunks(cdcChunkFrame(df, idCol, textCol)), None),
                   "chunk_chars", "kept_chars", "")

  /** Exact Jaccard verification of candidate (doc_a, doc_b) pairs against
    * the full shingle sets: shared = |A ∩ B| via `array_intersect`.
    */
  def verifyPairs(cand: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    sharedShingles(cand, sh)
      .withColumn("jaccard",
        col("shared").cast(DoubleType) /
          (col("size_a") + col("size_b") - col("shared")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("jaccard"))

  /** 64-bit SimHash per document over distinct trigram-shingle features,
    * packed into a single signed LongType (bit 0 = MSB = the sign bit).
    * Shingle features (not unigrams): with a small vocabulary most
    * documents contain most words, so unigram simhashes collapse;
    * trigrams keep the fingerprint discriminative.
    *
    * Bit b of a feature = bit (3 − b%4) of hex digit b/4 of md5(token);
    * the document bit is the sign of Σ(±1) over its features (ties → 1).
    * Hex-digit values come from `ascii()` arithmetic and the packing is
    * plain integer OR of compile-time bit literals, so the whole
    * construction is reproducible in any engine with md5 + int64 — the
    * DuckDB oracle replicates it exactly (min-long spelled as
    * `-9223372036854775807 - 1`; DuckDB rejects `1 << 63`).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = df.select(col(idCol).as("doc_id"),
      explode(graft.functions.Text.shingles(col(textCol), 3)).as("token"))
    // One-pass TypedImperativeAggregate (graftx.SimhashAgg): md5 + bit
    // counting in plain JVM code with a 65-int buffer and vector-add
    // merges. The expression form (16 hex-digit extractions × feature row
    // + a 64-term assembly) was the round-1 q41 hot spot — its generated
    // code was big enough that codegen/JIT constants dominated.
    ex.groupBy(col("doc_id"))
      .agg(org.apache.spark.sql.graftx.SimhashAgg.simhash64(col("token")).as("simhash"))
  }

  /** SimHash near-dup pairs: candidates share one of four 16-bit bands
    * (arithmetic shift + mask off the packed long), verified by Hamming
    * distance = `bit_count(xor)` — two codegen'd integer ops per pair
    * instead of 64 substring compares. Banding is exact for distance ≤ 3
    * (pigeonhole: ≤3 differing bits leave ≥1 of 4 bands untouched); for
    * larger thresholds it is the standard recall approximation.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, materialize: Boolean = true): DataFrame = {
    val sh = simhash(df, idCol, textCol)
    val bands = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(k =>
        struct(lit(k).as("band_idx"),
               (shiftright(col("simhash"), 48 - k * 16) bitwiseAND lit(65535L))
                 .as("band_val"))): _*)).as("b"))
      .select(col("doc_id"), col("simhash"),
              col("b.band_idx").as("band_idx"), col("b.band_val").as("band_val"))
    val a = bands.select(col("band_idx"), col("band_val"),
                         col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = bands.select(col("band_idx"), col("band_val"),
                         col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    withCachesIf(materialize, sh) {
      a.join(b, Seq("band_idx", "band_val"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("sh_a"), col("sh_b"))
        .distinct()
        .withColumn("hamming_distance",
          bit_count(col("sh_a") bitwiseXOR col("sh_b")).cast(LongType))
        .filter(col("hamming_distance") <= maxHamming)
        .select(col("doc_a"), col("doc_b"), col("hamming_distance"))
    }
  }

  /** The distinct simhash VALUE frame behind the SNM screen:
    * (simhash, n_docs, canonical = min doc id, h = 16-hex padded) — ONE
    * corpus shingle+md5 pass collapsing identical values map-side.
    * Surfaced separately so callers (q213, its quantile boundary scan,
    * q214's recall audit) can memoize it instead of re-running the
    * corpus pass per consumer.
    */
  def simhashVals(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhash(df, idCol, textCol)
      .groupBy(col("simhash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical"))
      .withColumn("h", lpad(hex(col("simhash")), 16, "0"))

  /** Sorted-neighborhood simhash candidate mining (Manku, Jain & Das
    * Sarma, WWW'07 — the production simhash dedup design; public
    * algorithm): the OTHER standard simhash screen next to banding
    * ([[simhashPairs]]). Banding is exact only to hamming ≤ bands−1
    * (pigeonhole); past that its recall decays sharply. The sorted
    * screen instead sorts the distinct simhash VALUES under R
    * bit-rotations of their hex form and pairs values within a ±W
    * sliding window of each sorted order — values differing only in
    * low-order bits of SOME rotation sort adjacent, so the screen
    * reaches hamming distances banding cannot, at cost R sorts of the
    * DISTINCT-value table (≪ corpus).
    *
    * Scale shape, piece by piece:
    *  - identical simhashes collapse FIRST via a partial+final value
    *    agg (count + min doc id) — the flooded-key discipline: a
    *    mega-duplicate group contributes ONE sorted row, its membership
    *    handled by the q34 family, never by this screen;
    *  - rotation by 4r hex digits is a bijection on the 16-hex key, so
    *    ORDER BY key alone is total over distinct values and the
    *    uppercase-hex string order IS unsigned numeric order (both
    *    engines agree);
    *  - the global sort is a driver-literal RANGE bucketing on a 48-bit
    *    numeric proxy (quantile-balanced even when values cluster — and
    *    they do: clustering is the point) + per-bucket windows, never a
    *    global row_number: the in-bucket ±W pairs come from one lead()
    *    pass, and boundary-crossing pairs from the ≤2W-per-bucket
    *    head/tail frame self-joined on exact global rank (bucket-count
    *    prefix offsets, constant-sized). Exact for ANY bucket sizes: a
    *    pair within window W that crosses a bucket boundary has < W
    *    same-bucket rows after its left end and < W before its right
    *    end, so both ends are in the head/tail frame.
    *  - candidates verify by `bit_count(xor)` on the original packed
    *    longs — two codegen'd integer ops.
    *
    * Output is VALUE-level: one row per candidate simhash pair with
    * hamming ≤ maxHamming, each side carrying its doc count and
    * canonical (min) doc id for remediation.
    */
  def snmPairs(df: DataFrame, idCol: String, textCol: String,
               windowW: Int = 2, rotations: Int = 4,
               maxHamming: Int = 8, buckets: Int = 32): DataFrame =
    snmPairsFromVals(simhashVals(df, idCol, textCol),
                     windowW, rotations, maxHamming, buckets)

  /** The per-rotation key frame of a [[simhashVals]] frame: one
    * (rot, k, h) row per (rotation, value); rotation by 4r hex digits
    * is a bijection on the 16-hex key, so ORDER BY k alone is total
    * over distinct values within a rotation.
    */
  private[graft] def snmKeys(vals: DataFrame, rotations: Int): DataFrame =
    (0 until rotations).map { r =>
      val d = 4 * r
      vals.select(lit(r).as("rot"),
        (if (d == 0) col("h")
         else concat(substring(col("h"), d + 1, 16 - d),
                     substring(col("h"), 1, d))).as("k"),
        col("h"))
    }.reduce(_ unionByName _)

  /** 48-bit numeric proxy of a rotated key: first 12 hex digits as a
    * number — order-consistent with the full key's string order, exact
    * in a double. Internal only (range bucketing); results are
    * bucketing-independent.
    */
  private[graft] def snmProxy(k: Column): Column =
    conv(substring(k, 1, 12), 16, 10).cast(DoubleType)

  /** Range-bucket index for literal quantile `bounds` (the
    * Sharding.runningTotal fold). Every boundary is an OBSERVED proxy
    * value, so each bucket holds ≥ 1 row of the frame the bounds were
    * computed on — the non-emptiness the W-bucket neighbor reach
    * argument in [[snmCandidatesBucketed]] rests on.
    */
  private[graft] def snmBucketOf(bounds: Array[Double], proxy: Column): Column =
    bounds.zipWithIndex
      .foldRight(lit(bounds.length): Column) { case ((b, i), rest) =>
        when(proxy <= b, i).otherwise(rest)
      }

  /** [[snmPairs]] over an ALREADY-BUILT (ideally memoized) value frame
    * from [[simhashVals]]. `materialize = false` skips the mid-plan
    * rank-frame cut and returns the RAW composed plan — for plan
    * inspection only (withCachesIf's rationale: an eager checkpoint
    * collapses the plan to an ExistingRDD scan, which documents
    * nothing); executing the lazy form replays the rank sort once per
    * consumer.
    */
  def snmPairsFromVals(vals: DataFrame,
                       windowW: Int, rotations: Int,
                       maxHamming: Int, buckets: Int = 32,
                       materialize: Boolean = true): DataFrame = {
    require(windowW >= 1 && rotations >= 1 && rotations <= 16)
    val keys = snmKeys(vals, rotations)
    val withProxy = keys.withColumn("__proxy", snmProxy(col("k")))
    val bounds = Sharding.boundaries(withProxy, "__proxy", buckets)
    val ranked = withProxy
      .withColumn("__b", snmBucketOf(bounds, col("__proxy")).cast(LongType))
    val cand = snmCandidatesBucketed(ranked, windowW, None, materialize)
    snmVerify(cand, vals, maxHamming)
  }

  /** Candidate (sh_a, sh_b) value pairs within ±`windowW` of each
    * rotation's sorted order, from a (rot, k, h, __b)-bucketed key
    * frame. `allCounts`: per-(rot, __b) key counts of the FULL key
    * space, required when `frame` is a PRUNED subset (the incremental
    * probe) — missing buckets then contribute rank-offset gaps, so the
    * computed granks are true global positions and a pair separated by
    * pruned-away values can never read as adjacent. With `None`, counts
    * derive from the frame itself (the full-corpus path).
    */
  private[graft] def snmCandidatesBucketed(
      frame: DataFrame, windowW: Int,
      allCounts: Option[DataFrame],
      materialize: Boolean): DataFrame = {
    val wOrd = Window.partitionBy(col("rot"), col("__b")).orderBy(col("k"))
    // ONE WindowExec computes the rank and all W leads (same window
    // spec), and the result is eagerly cut: four consumers below
    // (in-bucket pairs, bucket counts, and both sides of the boundary
    // self-join) would otherwise each replay the sort — on a
    // distinct-VALUE frame the data is small and the replayed stages,
    // not the rows, are the serving cost (measured: ~5 s/run before,
    // dominated by stage scheduling).
    val rnRaw = frame.select(
      (Seq(col("rot"), col("__b"), col("h"),
           row_number().over(wOrd).as("rn")) ++
       (1 to windowW).map(d => lead(col("h"), d).over(wOrd).as(s"__l$d"))): _*)
    val rn = if (materialize) Materialize.cut(rnRaw, "snm_rank")
             else rnRaw
    val inBucket = rn
      .select(col("h").as("h_a"),
              explode(array((1 to windowW).map(d => col(s"__l$d")): _*)).as("h_b"))
      .filter(col("h_b").isNotNull)
    // per-bucket FRAME counts gate the tail filter (the frame holds its
    // buckets in full, so these equal the true bucket sizes); OFFSETS
    // come from the full key space so granks are global positions.
    val counts = rn.groupBy(col("rot"), col("__b"))
      .agg(count(lit(1)).as("__n"))
    val offsets = allCounts.getOrElse(counts).withColumn("__off",
      coalesce(
        sum(col("__n")).over(Window.partitionBy(col("rot")).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val edgeRows = rn
      .join(broadcast(counts), Seq("rot", "__b"))
      .filter(col("rn") <= windowW || col("rn") > col("__n") - windowW)
      .join(broadcast(offsets.select(col("rot"), col("__b"), col("__off"))),
            Seq("rot", "__b"))
      .select(col("rot"), col("__b"), col("h"),
              (col("__off") + col("rn")).as("grank"))
    val boundary = edgeRows.as("a").join(edgeRows.as("b"),
        col("a.rot") === col("b.rot") &&
        col("b.grank") - col("a.grank") >= 1 &&
        col("b.grank") - col("a.grank") <= windowW &&
        col("a.__b") =!= col("b.__b"))
      .select(col("a.h").as("h_a"), col("b.h").as("h_b"))
    inBucket.unionByName(boundary)
      .select(least(col("h_a"), col("h_b")).as("sh_a"),
              greatest(col("h_a"), col("h_b")).as("sh_b"))
      .distinct()
  }

  /** The shared verify/readout tail: attach each side's value
    * attributes and keep pairs at hamming ≤ `maxHamming` —
    * `bit_count(xor)`, two codegen'd integer ops per pair.
    */
  private[graft] def snmVerify(cand: DataFrame, vals: DataFrame,
                               maxHamming: Int): DataFrame = {
    val va = vals.select(col("h").as("sh_a"), col("simhash").as("__sa"),
      col("n_docs").as("n_docs_a"), col("canonical").as("canonical_a"))
    val vb = vals.select(col("h").as("sh_b"), col("simhash").as("__sb"),
      col("n_docs").as("n_docs_b"), col("canonical").as("canonical_b"))
    cand.join(va, "sh_a").join(vb, "sh_b")
      .withColumn("hamming_distance",
        bit_count(col("__sa") bitwiseXOR col("__sb")).cast(LongType))
      .filter(col("hamming_distance") <= maxHamming)
      .select(col("sh_a"), col("sh_b"), col("hamming_distance"),
              col("n_docs_a"), col("canonical_a"),
              col("n_docs_b"), col("canonical_b"))
  }

  /** The standard duplicate edge set for cluster resolution: exact-dup
    * star edges (canonical → dup) plus verified Jaccard near-dup pairs at
    * `threshold`. One definition shared by the oracle-gated query (q67)
    * and the perf probes so measurements describe the shipped pipeline.
    */
  def dupEdges(df: DataFrame, idCol: String, textCol: String,
               threshold: Double = 0.5): DataFrame =
    dupEdgesFromPairs(df, idCol, textCol,
      jaccardPairs(df, idCol, textCol, threshold))

  /** [[dupEdges]] given ALREADY-MINED near-dup pairs: a real pipeline
    * mines pairs once and feeds every downstream consumer (pair report,
    * cluster resolution), so the expensive AllPairs+verify pass should
    * never run twice just because two queries need its output.
    */
  def dupEdgesFromPairs(df: DataFrame, idCol: String, textCol: String,
                        pairs: DataFrame): DataFrame = {
    val exactEdges = exact(df, idCol, textCol)
      .filter(col("is_duplicate"))
      .select(col("canonical_id").as("doc_a"), col(idCol).as("doc_b"))
    exactEdges.union(pairs.select(col("doc_a"), col("doc_b")))
  }

  /** Duplicate-CLUSTER resolution: near-dup pairs only relate documents
    * pairwise; choosing one canonical per transitive group needs connected
    * components. Iterative min-label propagation: every node starts
    * labeled with itself; each round takes the min label over itself and
    * its neighbors; fixpoint when no label changes. Converges in
    * O(component diameter) rounds — dup clusters are shallow (stars /
    * short chains), so this is 2-4 joins in practice, each a plain
    * shuffle-bounded equi-join (the standard label-propagation scheme,
    * e.g. Kiveris et al. "Connected Components in MapReduce", SOCC'14).
    *
    * `nodes`: one column `id` (all ids, so singletons keep themselves);
    * `pairs`: undirected edges (aCol, bCol). Returns (id, cluster_id)
    * with cluster_id = min id in the component.
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          aCol: String, bCol: String, maxIters: Int = 20): DataFrame = {
    val spark = nodes.sparkSession
    val edges = pairs.select(col(aCol).cast(LongType).as("src"), col(bCol).cast(LongType).as("dst"))
      .union(pairs.select(col(bCol).cast(LongType).as("src"), col(aCol).cast(LongType).as("dst")))
      .distinct()
    Materialize.cachedWhile(edges) {
      // Only EDGE ENDPOINTS need iteration — in a dedup corpus the vast
      // majority of docs are singletons and can skip the loop entirely
      // (label = self). The iterated set is |dup docs|, not |corpus|.
      // Checkpointed (not cached): the singleton anti-join below may be
      // consumed long after this call returns, and checkpoint blocks are
      // reclaimed by the ContextCleaner once unreferenced — a cache here
      // would leak executor storage across invocations.
      val edgeNodes = Materialize.cut(
        edges.select(col("src").as("id")).distinct(), "cc_edge_nodes")
      // Per-round lineage is truncated by an eager local cut, and the
      // convergence count rides a LongAccumulator on the checkpoint
      // materialization itself — ONE action per round, not a checkpoint
      // plus a separate count job. (Task retries can only over-count: a
      // zero-change round counts 0 on every attempt, so the fixpoint test
      // is exact; an inflated nonzero just buys one extra no-op round.)
      var labels  = edgeNodes.withColumn("cluster_id", col("id"))
      var changed = 1L
      var i = 0
      while (changed > 0 && i < maxIters) {
        // One round = TWO shuffles: (1) messages = each node's label sent
        // to its neighbors (equi-join on dst), (2) min over {own label} ∪
        // {received labels} per node. The own label rides the union with
        // a flag so the same aggregate yields old (min over own = the
        // label itself) and new (min over all) — no third join to carry
        // the previous label.
        val messages = edges
          .join(labels.select(col("id").as("dst"), col("cluster_id").as("dc")), Seq("dst"))
          .select(col("src").as("id"), col("dc").as("cid"), lit(false).as("own"))
        val folded = labels
          .select(col("id"), col("cluster_id").as("cid"), lit(true).as("own"))
          .unionByName(messages)
          .groupBy(col("id"))
          .agg(min(col("cid")).as("new_cid"),
               min(when(col("own"), col("cid"))).as("old_cid"))
        val acc = spark.sparkContext.longAccumulator(s"cc_changes_$i")
        val next = Materialize.cutLocal(folded.mapPartitions { it =>
          it.map { r => if (r.getLong(1) != r.getLong(2)) acc.add(1L); r }
        }(Encoders.row(folded.schema)))
        changed = acc.value
        // dropping the previous `labels` reference frees its checkpoint
        // blocks (ContextCleaner reclaims unreferenced RDDs)
        labels = next.select(col("id"), col("new_cid").as("cluster_id"))
        i += 1
      }
      require(changed == 0, s"connectedComponents did not converge in $maxIters rounds")
      val singletons = nodes.select(col("id").cast(LongType).as("id")).distinct()
        .join(edgeNodes, Seq("id"), "left_anti")
        .withColumn("cluster_id", col("id"))
      // the result references only cuts (labels, edgeNodes), so the edge
      // cache can go when this block exits, on the throw path too
      labels.unionByName(singletons)
    }
  }

  /** Duplicate clusters of media ids through the QUOTIENT GRAPH of an
    * exact hash: `hashes` is (media_id, `hashCol`), `pairs` the near-dup
    * (id_a, id_b) pairs. Each id maps to the REPRESENTATIVE of its exact
    * hash (rep = min id of the hash group, one aggregate), the pairs map
    * through id → rep (two equi-joins) and dedupe, and
    * [[connectedComponents]] runs on the rep graph, whose edges are
    * distinct-hash pairs, not id pairs. The clusters are the same as on
    * the id graph: a rep is ≤ every id it covers and the hash determines
    * the distance, so the min rep of a component is its min id. Returns
    * [[withClusterSize]] over (media_id, cluster_id).
    */
  private[graft] def hashQuotientClusters(hashes: DataFrame, hashCol: String, pairs: DataFrame): DataFrame = {
    val reps = hashes.groupBy(col(hashCol)).agg(min(col("media_id")).as("rep"))
    val idRep = hashes.join(reps, Seq(hashCol)).select(col("media_id"), col("rep"))
    val repEdges = pairs
      .join(idRep.select(col("media_id").as("id_a"), col("rep").as("rep_a")), Seq("id_a"))
      .join(idRep.select(col("media_id").as("id_b"), col("rep").as("rep_b")), Seq("id_b"))
      .filter(col("rep_a") =!= col("rep_b"))
      .select(col("rep_a"), col("rep_b")).distinct()
    val comp = connectedComponents(
      idRep.select(col("rep").as("id")).distinct(), repEdges, "rep_a", "rep_b")
    withClusterSize(
      idRep.join(comp.select(col("id").as("rep"), col("cluster_id")), Seq("rep"))
        .select(col("media_id"), col("cluster_id")), "media_id")
  }

  /** Alternating LARGE-STAR / SMALL-STAR contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * O(log²)-round connected components for graphs whose components may
    * be DEEP. [[connectedComponents]]'s min-label propagation costs
    * O(diameter) rounds — the right trade for shallow dup clusters, a
    * scale-killer for chain-shaped near-dup drift (each revision similar
    * only to its neighbors), where diameter grows with the corpus. Star
    * contraction instead roughly halves component height per alternation:
    *
    *   large-star(u): every neighbor v > u re-wires to min(Γ(u) ∪ {u})
    *   small-star(u): every neighbor v ≤ u (and u itself) re-wires to it
    *
    * Each step is ONE groupBy-min plus one equi-join over the current
    * edge set — edges only ever map to (endpoint, current-min) pairs, so
    * there is no quadratic neighborhood blowup — and the edge set
    * monotonically contracts toward stars rooted at each component's
    * minimum id. Fixpoint detection is EXACT: same cardinality (both
    * sides distinct) plus one-direction `except` emptiness — never a
    * signature compare that could terminate early on a collision.
    *
    * Same contract as [[connectedComponents]]: `nodes` (one col `id`)
    * keeps singletons; returns (id, cluster_id = component min id). The
    * two implementations are interchangeable — DedupSpec pins equality
    * on chain / star / random graphs, and q149 gates this one against
    * the same DuckDB reachability oracle that gates q67.
    */
  def connectedComponentsStars(nodes: DataFrame, pairs: DataFrame,
                               aCol: String, bCol: String,
                               maxIters: Int = 50): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mm = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.join(mm, Seq("u")).filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val ori = e.select(greatest(col("u"), col("v")).as("u"),
                         least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      // neighbors of u here are all < u, so min(Γ⁻(u) ∪ {u}) = min(v)
      val mm = ori.groupBy(col("u")).agg(min(col("v")).as("m"))
      ori.join(mm, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mm.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    val initial = Materialize.cut(pairs
      .select(col(aCol).cast(LongType).as("u"), col(bCol).cast(LongType).as("v"))
      .filter(col("u") =!= col("v")).distinct(), "cc_star_edges")
    // endpoint set from the ORIGINAL edges — the contracted set only
    // retains (child, root) pairs, but every original endpoint needs a label
    val endpoints = Materialize.cut(
      initial.select(col("u").as("id"))
        .union(initial.select(col("v").as("id"))).distinct(), "cc_endpoints")
    var edges = initial
    var converged = initial.isEmpty
    var i = 0
    while (!converged && i < maxIters) {
      val next = Materialize.cutLocal(smallStar(largeStar(edges)))
      converged = next.count() == edges.count() && next.except(edges).isEmpty
      edges = next
      i += 1
    }
    require(converged, s"star contraction did not converge in $maxIters rounds")
    // At fixpoint edges are (child, root) with root < child and one row
    // per child; the groupBy-min is a no-op there and a hard guard if the
    // invariant were ever violated (a dup child would silently mislabel).
    val roots = edges.groupBy(col("u").as("id")).agg(min(col("v")).as("root"))
    val lab = endpoints.join(roots, Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("cluster_id"))
    val singletons = nodes.select(col("id").cast(LongType).as("id")).distinct()
      .join(endpoints, Seq("id"), "left_anti")
      .withColumn("cluster_id", col("id"))
    lab.unionByName(singletons)
  }

  /** MinHash signature columns sig_0..sig_{k-1} per document — one-pass
    * [[org.apache.spark.sql.graftx.MinHashSigs]] TypedImperativeAggregate
    * (one md5 per shingle, K–M-derived permutations), bit-identical to the
    * hex-digit arithmetic the DuckDB oracle runs.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 8, n: Int = 3): DataFrame = {
    val ex = shingled(df, idCol, textCol, n)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
    ex.groupBy(col("doc_id"))
      .agg(org.apache.spark.sql.graftx.MinHashSigs
        .minhashSigs(col("shingle"), numHashes).as("sigs"))
      .select(col("doc_id") +:
        (0 until numHashes).map(k => col("sigs")(k).as(s"sig_$k")): _*)
  }

  /** LSH banding over the signatures: band b hashes rows
    * [b·rowsPerBand, …) of the signature; documents sharing any band
    * bucket are candidate pairs. Returns (band_idx, band_hash, doc_id) —
    * group/join on (band_idx, band_hash) for candidates. At scale the
    * band hash is the shuffle key; bucket skew is bounded because md5
    * is uniform.
    */
  def lshBands(signatures: DataFrame, numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      // '|' separator: numeric sigs are variable-width, unlike the old
      // fixed 32-char hex minima
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(k => col(s"sig_$k").cast(StringType))
      struct(lit(b).as("band_idx"), md5(concat_ws("|", cols: _*)).as("band_hash"))
    }
    signatures
      .select(col("doc_id"), explode(array(bands: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx").as("band_idx"),
              col("band.band_hash").as("band_hash"))
  }

  /** Scan-local (per-ROW) LSH bands of a text column: the stateless form
    * of [[minhashSignatures]]+[[lshBands]] for streaming legs, where the
    * aggregate path's explode→groupBy would be a stateful shuffle per
    * micro-batch. Same arithmetic as
    * [[org.apache.spark.sql.graftx.MinHashSigs]] restated over the
    * shingle ARRAY with built-ins: h1/h2 are the md5 digest's first and
    * second 4 bytes big-endian (= first/second 8 hex digits via `conv`),
    * permutation k is (h1 + k·h2) mod 2^32 (k ≤ 7 and h < 2^32, so the
    * Long arithmetic can't overflow), signature = array_min. Returns an
    * ARRAY of (band_idx, band_hash) structs — empty for docs with no
    * shingles, which the aggregate path likewise drops (no exploded
    * rows). DedupSpec asserts bit-parity with the aggregate path.
    */
  def rowBands(text: Column, numHashes: Int = 8, rowsPerBand: Int = 2,
               n: Int = 3): Column = {
    val sh = graft.functions.Text.shingles(text, n)
    val hs = transform(sh, s => {
      val hex = md5(s)
      struct(
        conv(substring(hex, 1, 8), 16, 10).cast(LongType).as("h1"),
        conv(substring(hex, 9, 8), 16, 10).cast(LongType).as("h2"))
    })
    val sigs = (0 until numHashes).map { k =>
      array_min(transform(hs, h =>
        pmod(h.getField("h1") + lit(k.toLong) * h.getField("h2"),
             lit(4294967296L))))
    }
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(k => sigs(k).cast(StringType))
      struct(lit(b).as("band_idx"), md5(concat_ws("|", cols: _*)).as("band_hash"))
    }
    when(size(sh) >= 1, array(bands: _*))
      .otherwise(array().cast("array<struct<band_idx:int,band_hash:string>>"))
  }

  /** Candidate near-dup pairs from MinHash+LSH, deduplicated across bands. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 8, rowsPerBand: Int = 2, n: Int = 3,
                        materialize: Boolean = true): DataFrame = {
    // Cached: both sides of the candidate self-join consume the bands.
    val bands = lshBands(minhashSignatures(df, idCol, textCol, numHashes, n), numHashes, rowsPerBand)
    val a = bands.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
    val b = bands.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b"))
    withCachesIf(materialize, bands) {
      a.join(b, Seq("band_idx", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
    }
  }
}
