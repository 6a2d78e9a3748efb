package graft.queries

import graft.core.Tables
import graft.functions.Text
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental-ingestion operators — the "snapshot delta" slice of a crawl
  * pipeline: new documents are admitted against the EXISTING corpus
  * without reprocessing it (the batch analog of the streaming dedup in
  * `streaming.EventsStream`; the corpus-wide batch dedup family is
  * q34–q36/q67).
  */
object IncrementalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** doc_id < Split = the already-ingested corpus; >= Split = the new
    * crawl snapshot being admitted.
    */
  private val Split = 400L

  val defs: Map[String, Q] = Map(
    // ---------------------------------------------------------------
    // q91: snapshot-delta dedup. Each NEW document is checked against
    // the base corpus on two ladders: (1) exact/reorder duplication —
    // its sorted-token fingerprint (q31's) exists in the base; (2)
    // near-duplication — ≥ half of its distinct 8-grams already occur
    // in the base (containment, the asymmetric Jaccard a crawl
    // pipeline actually wants: "is this new page mostly old text?").
    // Verdicts are all-integer (2·overlap vs n_ngrams — no float
    // thresholds), so the row hash-gates exactly.
    //
    // 100 TB shape: base fingerprints and base n-grams are corpus-scale
    // TABLES, not broadcasts — both checks are equi-joins (bucket both
    // sides by the join key in a real deployment and the delta admits
    // with zero wide shuffles of the base). The base side is
    // groupBy-distinct, so partial aggregation collapses repeated
    // n-grams map-side; the delta side's n-grams are per-doc distinct
    // by construction (Text.shingles). The q83 bloom is the
    // constant-memory fast-path refinement when a ~0.1% false-drop
    // rate is acceptable; this is the exact path.
    // ---------------------------------------------------------------
    "q91_snapshot_dedup" -> { (s, dir) =>
      val docs  = Tables(s, dir).documents
      val base  = docs.filter(col("doc_id") < Split)
      val delta = docs.filter(col("doc_id") >= Split)
      val baseFp = base
        .select(Text.sortedTokenFingerprint(col("text")).as("fp"))
        .distinct()
        .withColumn("fp_hit", lit(true))
      val exact = delta
        .select(col("doc_id"), col("lang"),
                Text.sortedTokenFingerprint(col("text")).as("fp"))
        .join(baseFp, Seq("fp"), "left")
      val baseNg = base
        .select(explode(Text.shingles(col("text"), 8)).as("ngram"))
        .distinct()
        .withColumn("ng_hit", lit(1L))
      val overlap = delta
        .select(col("doc_id"), explode(Text.shingles(col("text"), 8)).as("ngram"))
        .join(baseNg, Seq("ngram"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_ngrams"),
             sum(coalesce(col("ng_hit"), lit(0L))).as("n_overlap"))
      exact.join(overlap, Seq("doc_id"), "left")
        .select(
          col("doc_id"), col("lang"),
          coalesce(col("fp_hit"), lit(false)).as("is_exact_dup"),
          coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
        .withColumn("containment_permille",
          when(col("n_ngrams") > 0,
               expr("(n_overlap * 1000) div n_ngrams")).otherwise(lit(0L)))
        .withColumn("keep",
          !col("is_exact_dup") &&
            (col("n_ngrams") === 0 || col("n_overlap") * 2 < col("n_ngrams")))
    },

    // ---------------------------------------------------------------
    // q133: incremental ExactSubstr — q128's substring-level exact
    // dedup in the delta-ingest shape (q91's discipline): each NEW
    // document's verbatim ≥25-char spans against the EXISTING corpus
    // only; cost ∝ delta, not corpus² (Dedup.substrCovAgainst).
    // ---------------------------------------------------------------
    "q133_incremental_substr" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      graft.operators.Dedup.exactSubstrAgainst(
        docs.filter(col("doc_id") >= Split),
        docs.filter(col("doc_id") < Split),
        "doc_id", "text", k = 25)
    },

    // q183: the incremental REMOVAL — q167's remediation in its
    // delta-ingest form (q133 reports the incremental coverage stats;
    // this CUTS the spans): every new document is cleaned of the spans
    // it shares with the existing corpus (Dedup.substrCovAgainst). The
    // residual text rides in the gate byte-for-byte.
    "q183_incremental_remediate" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      graft.operators.Dedup.exactSubstrRemediateAgainst(
        docs.filter(col("doc_id") >= Split),
        docs.filter(col("doc_id") < Split),
        "doc_id", "text", k = 25, minChars = 100)
    },

    // ---------------------------------------------------------------
    // q95: deterministic epoch shuffle — the global permutation +
    // shard/offset assignment of a training-data build ("shuffle the
    // corpus each epoch, then serve it in fixed-size shards"). The
    // permutation key is md5-derived (never rand() — retry-idempotent,
    // engine-reproducible) and made UNIQUE by packing doc_id into the
    // low 31 bits under a 32-bit hash: key = h32·2³¹ + doc_id, which
    // stays under Long.MaxValue (2³²−1)·2³¹ + doc_id < 2⁶³.
    //
    // 100 TB shape: the global rank comes from Sharding.runningTotal's
    // two-pass parallel prefix sum over the permutation key — the SAME
    // machinery as q62, so no Window.orderBy(key) funnelling the corpus
    // through one task. Weight 1 per row makes the running total the
    // 1-based permutation rank; shard/offset are then scan-local
    // integer arithmetic.
    // ---------------------------------------------------------------
    // ---------------------------------------------------------------
    // q165: curriculum schedule — the ordered-training-data variant of
    // q95's epoch shuffle: short documents first (the classic
    // length-based curriculum), random WITHIN each difficulty stage so
    // batches stay i.i.d. inside a stage. One packed BIGINT key carries
    // the whole ordering — stage (2 bits) ≫ md5 permutation (24 bits)
    // ≫ doc_id tiebreak (31 bits), total < 2^59 — so the global rank is
    // q95's two-pass prefix sum over ONE key: no per-stage windows, no
    // Window.orderBy, stage boundaries land for free. Deterministic by
    // construction (md5, never rand()); the oracle replays the same key
    // arithmetic with a row_number.
    // ---------------------------------------------------------------
    "q165_curriculum_schedule" -> { (s, dir) =>
      import graft.functions.HexKeys
      val d   = Tables(s, dir).documents
      val hex = md5(concat(lit("curr0|"), col("doc_id").cast(StringType)))
      val h24 = HexKeys.value16(hex, 0).cast(LongType) * 256L +
        HexKeys.digit(hex, 4).cast(LongType) * 16L +
        HexKeys.digit(hex, 5).cast(LongType)
      // eagerly cut: runningTotal consumes `keyed` twice per call (the
      // eager boundaries scan + the executed plan), and uncut each pass
      // re-ran the corpus tokenize; the frame is two longs per doc
      val keyed = graft.core.Materialize.cut(d
        .withColumn("n_tok", size(Text.tokens(col("text"))).cast(LongType))
        .withColumn("stage", least(lit(3L), expr("n_tok DIV 64")))
        .select(
          when(col("doc_id").between(0L, 2147483647L),
               col("stage") * 72057594037927936L + // 2^56
                 h24 * 2147483648L + col("doc_id"))
            .otherwise(raise_error(concat(
              lit("q165 curriculum requires 0 <= doc_id < 2^31, got "),
              col("doc_id").cast(StringType)))
              .cast(LongType))
            .as("curr_key"),
          lit(1L).as("one")), "q165_keyed")
      graft.operators.Sharding
        .runningTotal(keyed, "curr_key", "one", "curriculum_rank")
        .select(
          (col("curr_key") % 2147483648L).as("doc_id"),
          expr("curr_key DIV 72057594037927936").as("stage"),
          col("curriculum_rank"),
          expr("(curriculum_rank - 1) div 64").as("shard_id"),
          ((col("curriculum_rank") - 1) % 64).as("shard_offset"))
    },

    "q95_epoch_shuffle" -> { (s, dir) =>
      val d   = Tables(s, dir).documents
      val hex = md5(concat(lit("epoch0|"), col("doc_id").cast(StringType)))
      val h32 = graft.functions.HexKeys.value16(hex, 0).cast(LongType) * 65536L +
        graft.functions.HexKeys.value16(hex, 4).cast(LongType)
      // the 31-bit packing is a PRECONDITION, not an assumption: an out-of-
      // range doc_id would silently collide key spaces and mis-recover on
      // the modulo, so fail loudly instead (raise_error evaluates only on
      // violating rows; the happy path stays codegen'd)
      val keyed = d.select(
        when(col("doc_id").between(0L, 2147483647L),
             h32 * 2147483648L + col("doc_id"))
          .otherwise(raise_error(concat(
            lit("q95 epoch shuffle requires 0 <= doc_id < 2^31, got "),
            col("doc_id").cast(StringType)))
            .cast(LongType))
          .as("perm_key"),
        lit(1L).as("one"))
      graft.operators.Sharding
        .runningTotal(keyed, "perm_key", "one", "epoch_rank")
        .select(
          (col("perm_key") % 2147483648L).as("doc_id"),
          col("perm_key"), col("epoch_rank"),
          expr("(epoch_rank - 1) div 64").as("shard_id"),
          ((col("epoch_rank") - 1) % 64).as("shard_offset"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q91_snapshot_dedup" ->
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
         |basefp AS (
         |  SELECT DISTINCT md5(array_to_string(list_sort(toks), ' ')) AS fp
         |  FROM t WHERE doc_id < $Split),
         |deltafp AS (
         |  SELECT doc_id, lang,
         |         md5(array_to_string(list_sort(toks), ' ')) AS fp
         |  FROM t WHERE doc_id >= $Split),
         |baseng AS (
         |  SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS ngram
         |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 7)) AS i
         |        FROM t WHERE doc_id < $Split)),
         |deltang AS (
         |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS ngram
         |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
         |        FROM t WHERE doc_id >= $Split)),
         |ov AS (
         |  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
         |         CAST(sum(CASE WHEN b.ngram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_overlap
         |  FROM deltang d LEFT JOIN baseng b ON d.ngram = b.ngram
         |  GROUP BY d.doc_id),
         |j AS (
         |  SELECT f.doc_id, f.lang,
         |         coalesce(f.fp IN (SELECT fp FROM basefp), FALSE) AS is_exact_dup,
         |         coalesce(n_ngrams, 0) AS n_ngrams,
         |         coalesce(n_overlap, 0) AS n_overlap
         |  FROM deltafp f LEFT JOIN ov ON ov.doc_id = f.doc_id)
         |SELECT doc_id, lang, is_exact_dup, n_ngrams, n_overlap,
         |  CASE WHEN n_ngrams > 0 THEN (n_overlap * 1000) // n_ngrams
         |       ELSE 0 END AS containment_permille,
         |  (NOT is_exact_dup) AND (n_ngrams = 0 OR n_overlap * 2 < n_ngrams)
         |    AS keep
         |FROM j""".stripMargin,

    // q128's oracle shape with the gram join restricted to delta-probes-
    // base: delta grams with positions, base DISTINCT grams, islands
    // over the matched extents.
    "q133_incremental_substr" ->
      s"""WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
         |dpos AS (
         |  SELECT doc_id, unnest(generate_series(1, len - 24)) AS pos
         |  FROM d WHERE len >= 25 AND doc_id >= $Split),
         |dg AS (
         |  SELECT p.doc_id, p.pos, substr(d.text, CAST(p.pos AS INTEGER), 25) AS gram
         |  FROM dpos p JOIN d USING (doc_id)),
         |bg AS (
         |  SELECT DISTINCT substr(d.text, CAST(p.pos AS INTEGER), 25) AS gram
         |  FROM (SELECT doc_id, unnest(generate_series(1, len - 24)) AS pos
         |        FROM d WHERE len >= 25 AND doc_id < $Split) p
         |  JOIN d USING (doc_id)),
         |cov AS (SELECT dg.doc_id, dg.pos FROM dg JOIN bg USING (gram)),
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
         |FROM d LEFT JOIN np USING (doc_id) LEFT JOIN per_doc USING (doc_id)
         |WHERE d.doc_id >= $Split""".stripMargin,

    // q133's restricted-gram CTEs + q167's gap/reassembly tail.
    "q183_incremental_remediate" ->
      s"""WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
         |dd AS (SELECT * FROM d WHERE doc_id >= $Split),
         |dpos AS (
         |  SELECT doc_id, unnest(generate_series(1, len - 24)) AS pos
         |  FROM dd WHERE len >= 25),
         |dg AS (
         |  SELECT p.doc_id, p.pos, substr(d.text, CAST(p.pos AS INTEGER), 25) AS gram
         |  FROM dpos p JOIN d USING (doc_id)),
         |bg AS (
         |  SELECT DISTINCT substr(d.text, CAST(p.pos AS INTEGER), 25) AS gram
         |  FROM (SELECT doc_id, unnest(generate_series(1, len - 24)) AS pos
         |        FROM d WHERE len >= 25 AND doc_id < $Split) p
         |  JOIN d USING (doc_id)),
         |cov AS (SELECT dg.doc_id, dg.pos FROM dg JOIN bg USING (gram)),
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
         |SELECT dd.doc_id,
         |  CAST(length(coalesce(r.r, dd.text)) AS BIGINT) AS clean_chars,
         |  CAST(dd.len - length(coalesce(r.r, dd.text)) AS BIGINT) AS dup_chars,
         |  CASE WHEN dd.len = 0 THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(length(coalesce(r.r, dd.text)) AS DOUBLE)
         |              / CAST(dd.len AS DOUBLE) END AS kept_frac,
         |  length(coalesce(r.r, dd.text)) >= 100 AS keep,
         |  coalesce(r.r, dd.text) AS residual_text
         |FROM dd LEFT JOIN resid r USING (doc_id)""".stripMargin,

    // Same packed-key arithmetic, rank via row_number.
    "q165_curriculum_schedule" -> {
      val h24 = s"(CAST(${graft.functions.HexKeys.value16Sql(0)} AS BIGINT) * 256 + " +
        s"CAST(${graft.functions.HexKeys.digitSql(4)} AS BIGINT) * 16 + " +
        s"CAST(${graft.functions.HexKeys.digitSql(5)} AS BIGINT))"
      s"""WITH t AS (
         |  SELECT doc_id,
         |         least(3, len(string_split(text, ' ')) // 64) AS stage,
         |         md5('curr0|' || CAST(doc_id AS VARCHAR)) AS hex
         |  FROM documents),
         |keyed AS (
         |  SELECT doc_id, stage,
         |         stage * 72057594037927936 + $h24 * 2147483648 + doc_id AS ck
         |  FROM t),
         |ranked AS (
         |  SELECT doc_id, stage,
         |         row_number() OVER (ORDER BY ck) AS curriculum_rank
         |  FROM keyed)
         |SELECT doc_id, CAST(stage AS BIGINT) AS stage,
         |  CAST(curriculum_rank AS BIGINT) AS curriculum_rank,
         |  (curriculum_rank - 1) // 64 AS shard_id,
         |  (curriculum_rank - 1) % 64 AS shard_offset
         |FROM ranked""".stripMargin
    },

    "q95_epoch_shuffle" -> {
      val h32 = s"(CAST(${graft.functions.HexKeys.value16Sql(0)} AS BIGINT) * 65536 + " +
        s"CAST(${graft.functions.HexKeys.value16Sql(4)} AS BIGINT))"
      s"""WITH h AS (
         |  SELECT doc_id, md5('epoch0|' || CAST(doc_id AS VARCHAR)) AS hex
         |  FROM documents),
         |keyed AS (
         |  SELECT doc_id, $h32 * 2147483648 + doc_id AS perm_key FROM h),
         |ranked AS (
         |  SELECT doc_id, perm_key,
         |         row_number() OVER (ORDER BY perm_key) AS epoch_rank
         |  FROM keyed)
         |SELECT doc_id, perm_key, CAST(epoch_rank AS BIGINT) AS epoch_rank,
         |  (epoch_rank - 1) // 64 AS shard_id,
         |  (epoch_rank - 1) % 64 AS shard_offset
         |FROM ranked""".stripMargin
    }
  )
}
