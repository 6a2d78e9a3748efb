package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame}

/** Byte-pair-style merge induction over token sequences — the
  * tokenizer-FITTING step of a training-data pipeline (the engine already
  * ships tokenizer APPLICATION: regex token counts, q30). Word-level
  * variant of the BPE loop (Sennrich et al., ACL'16 — public algorithm):
  * repeatedly count adjacent pairs and merge the most frequent one,
  * greedily left-to-right non-overlapping.
  *
  * 100 TB shape (the kmeans discipline): each round is ONE corpus scan —
  * a scan-local pair projection (`zip_with` over shifted slices, no
  * explode of anything wider than the token stream) into a partial+final
  * count aggregation, from which the driver takes ONE row (the argmax
  * pair — constant driver state, like kmeans' k·dims centroids). Merge
  * application is a scan-local typed map; the corpus is never shuffled.
  * Determinism: ties break on (count desc, a asc, b asc), so the merge
  * sequence is a pure function of the corpus.
  */
object Bpe {

  /** Documented driver-state cap (see [[graft.core.Guard]]): the per-round
    * argmax batch collected to the driver in [[fitDeltaBatched]].
    */
  val MaxArgmaxBatch: Int = 4096

  /** Merged tokens join with '+', keeping the merge structure visible in
    * the vocab. NOTE: an input token that already contains '+' could
    * collide with a merged form; callers fitting over such corpora
    * should pre-escape (the whitespace word-salad fixtures can't).
    */
  val Sep = "+"

  /** The adjacent-pair array of a token array: zip of shifted slices —
    * scan-local, nothing wider than the token stream.
    */
  def adjacentPairs(toks: Column): Column = {
    val n = size(toks)
    zip_with(
      slice(toks, lit(1), greatest(n - 1, lit(0))),
      slice(toks, lit(2), greatest(n - 1, lit(0))),
      (x, y) => struct(x.as("a"), y.as("b")))
  }

  /** Adjacent-pair frequencies of a token-array column: one scan-local
    * projection + one partial+final aggregation. The pair table is
    * vocab²-bounded, never corpus-sized.
    */
  def pairCounts(df: DataFrame, toks: Column): DataFrame =
    df.select(explode(adjacentPairs(toks)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).cast(LongType).as("cnt"))

  /** Greedy left-to-right non-overlapping application of one merge:
    * `a a a` under merge (a,a) becomes `[a+a, a]`, never `[a+a, a+a]`.
    */
  def applyMerge(toks: Seq[String], a: String, b: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val t = toks.toIndexedSeq
    var i = 0
    while (i < t.length) {
      if (i + 1 < t.length && t(i) == a && t(i + 1) == b) {
        out += s"$a$Sep$b"; i += 2
      } else { out += t(i); i += 1 }
    }
    out.result()
  }

  /** All `merges` in order (the BPE apply path for new text). */
  def tokenize(toks: Seq[String], merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(toks) { case (cur, (a, b)) => applyMerge(cur, a, b) }

  /** One round of pair-count state maintenance: fold a ±1-weighted delta
    * into the counts table and drop exhausted pairs. Both sides hash on
    * (a, b), so under a B-partition shuffle the merged state lands
    * hash-BUCKETED by pair across B partitions — each bucket merges its
    * own deltas, no bucket ever sees another's keys, and no stage plans a
    * single-partition exchange (PlanQualitySpec gates this). The argmax
    * over the result is a per-bucket top-1 + a B-row driver reduce
    * (TakeOrdered), so driver state stays constant-sized.
    */
  private[graft] def mergedCounts(counts: DataFrame, delta: DataFrame): DataFrame =
    counts.unionByName(delta)
      .groupBy(col("a"), col("b"))
      .agg(sum(col("cnt")).cast(LongType).as("cnt"))
      .where(col("cnt") > 0)

  /** Fit `numMerges` merges over whitespace-split `textCol`. Per round:
    * one corpus aggregation (collapsed to the argmax pair via a 1-row
    * TakeOrdered — count desc, pair asc) and nothing else driver-sized.
    * Rounds re-tokenize from scratch with the merges so far (a
    * scan-local map, the kmeans-style literal re-projection) — no state
    * carried between rounds except the merge list itself.
    */
  def fit(df: DataFrame, textCol: String, numMerges: Int): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = df.sparkSession
    import spark.implicits._
    // NULL text rows contribute no pairs in pairCounts (split(null) → no
    // row); the typed map must skip them too, not NPE on t.split
    val base = df.select(col(textCol).cast("string")).as[String]
      .filter((t: String) => t != null)
    var merges = Vector.empty[(String, String)]
    var round = 0
    while (round < numMerges) {
      val m = merges // stable local for the closure (no var capture)
      val toksDs = base
        .map(t => tokenize(t.split(' ').toSeq.filter(_.nonEmpty), m))
        .toDF("toks")
      val top = pairCounts(toksDs, col("toks"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (top.isEmpty) return merges // no adjacent pairs left anywhere
      merges :+= ((top(0).getString(0), top(0).getString(1)))
      round += 1
    }
    merges
  }

  /** [[fit]] with PAIR-COUNT DELTA MAINTENANCE — the scale path for real
    * vocab sizes. [[fit]] re-tokenizes the whole corpus from scratch each
    * round (round i re-applies all i merges: O(R²·corpus) total CPU and R
    * full-corpus pair aggregations — fine at the 5–20 merges it is gated
    * at, unusable at a 32k-vocab fit). Here the tokenized corpus and the
    * pair-count table are MATERIALIZED STATE, and a merge (a,b) updates
    * only what it can touch:
    *
    *   - corpus rows NOT containing adjacent (a,b) are untouched (the
    *     rewrite maps only hit rows through [[applyMerge]] — a narrow
    *     cached-scan projection, no shuffle);
    *   - pair counts change ONLY for pairs adjacent to an (a,b)
    *     occurrence, so the delta aggregation shuffles hit-row pairs
    *     only: `counts += pairs(rewritten hits) − pairs(hits)` — exact by
    *     construction, no overlap/boundary case analysis needed.
    *
    * Per round the corpus pays two cached scans (delta flatMap + rewrite)
    * and ZERO full-corpus pair shuffles; total = O(R·corpus_scan +
    * Σ hit sizes) vs the naive O(R²·corpus + R·full shuffles). Rows that
    * shrink below 2 tokens are dropped — token counts only decrease, so
    * they can never contribute a pair again.
    *
    * The per-round corpus work is TYPED Dataset closures over the exact
    * [[applyMerge]]/[[tokenize]] kernels, not per-round Column literals:
    * a literal merge pair changes the generated whole-stage source every
    * round (fresh Janino compile, ~150 ms × R), while a closure rides the
    * codegen reference array and the compiled stage is cache-hit across
    * all rounds. AQE is likewise scoped OFF for the fit’s fixed tiny-shape
    * jobs — adaptive re-planning is pure per-round latency here.
    *
    * The counts state is hash-BUCKETED by (a, b) across `stateBuckets`
    * partitions ([[mergedCounts]]): each round's delta merges per-bucket
    * and the argmax is a per-bucket top-1 + driver reduce over
    * `stateBuckets` rows — no stage of the fit ever plans a
    * single-partition exchange, so the state scales horizontally when the
    * pair table outgrows one machine. `stateBuckets` defaults low (8)
    * because at local[n] the per-round cost is task scheduling, not data;
    * a 100 TB fit raises it to match the cluster.
    *
    * State is cut each round with [[graft.core.Materialize.cutLocal]]
    * (lineage/plan depth would otherwise grow linearly in R and blow
    * analysis + codegen); the superseded round’s blocks are released
    * immediately, so peak storage is two corpus snapshots. Round state
    * stays local in either durability mode (see [[graft.core.Materialize]]).
    *
    * Identical output to [[fit]] by the argmax-sequence argument: both
    * maintain exactly the corpus pair-count multiset between rounds and
    * take the same (cnt desc, a asc, b asc) argmax. Property-tested
    * (BpeSpec) and oracle-gated at 256 merges (q144).
    */
  /** Greedy token-disjoint batch selection from a count-ordered candidate
    * list: a candidate joins the batch iff neither of its tokens appears
    * in any already-selected pair. Token-disjoint merges commute — each
    * rewrites occurrences the others cannot touch — so applying the whole
    * batch in one pass is order-independent and the batch delta algebra
    * stays exact. Driver cost O(k²) over ≤ k candidate rows.
    */
  private[graft] def disjointBatch(
      cands: Seq[(String, String)], maxBatch: Int): Seq[(String, String)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val out = Seq.newBuilder[(String, String)]
    var n = 0
    cands.foreach { case (a, b) =>
      if (n < maxBatch && !used(a) && !used(b)) {
        used += a; used += b; out += ((a, b)); n += 1
      }
    }
    out.result()
  }

  def fitDelta(df: DataFrame, textCol: String, numMerges: Int,
               stateBuckets: Int = 8): Seq[(String, String)] =
    fitDeltaBatched(df, textCol, numMerges, maxBatch = 1,
                    stateBuckets = stateBuckets)

  /** [[fitDelta]] with MULTI-MERGE ROUNDS — the fix for the fit's last
    * scale wall. With one merge per round, a 32k-vocab fit is
    * round-LATENCY-bound: at the measured ~0.27 s/round the data no
    * longer matters (the bucketed state scales, sf1 measured 1.17× for
    * 10× data) and 32k driver-looped rounds ≈ 2.4 h regardless of
    * cluster size. Classic batched BPE (the SentencePiece speedup):
    * per round take the top `maxBatch` pairs by count and keep the
    * greedy TOKEN-DISJOINT prefix ([[disjointBatch]]). Disjoint merges
    * commute — none can create, destroy, or overlap an occurrence of
    * another — so the round's rewrite applies them all in ONE corpus
    * pass and the ±1 delta fold stays exact per merge. Round count drops
    * ~`maxBatch`× (PERF.md records the measured reduction).
    *
    * Equivalence contract: `maxBatch = 1` IS the sequential fit (same
    * argmax, same tie-break — fitDelta delegates here). For larger
    * batches the merge SEQUENCE can differ from sequential exactly when
    * a batched merge's product pair (x, a+b) would have out-counted a
    * later batch member — the standard batched-BPE approximation
    * (measured real on the documents corpus: a 16-batch fit diverges
    * from sequential within the first round, so the approximation is a
    * DOCUMENTED semantic, not a hoped-away corner). The gates pin both
    * halves separately: BpeSpec pins batch=1 ≡ sequential on random
    * corpora and batch>1 ≡ sequential on a token-disjoint-by-
    * construction fixture (equivalence exactly where merges don't
    * interact); q210 gates the batched algorithm ITSELF — top-k
    * candidates, count-ordered tie-break, greedy disjoint selection,
    * one-pass batch apply — against a DuckDB replay of the SAME
    * algorithm, so one wrong selection anywhere flips some document's
    * tokenization hash.
    *
    * `maxRounds` bounds the ROUND count rather than the merge count
    * (q210's replayable contract: a fixed number of stages, each taking
    * whatever the greedy disjoint prefix yields — a merge-count stop
    * would truncate the final batch nondeterministically vs the replay).
    */
  def fitDeltaBatched(df: DataFrame, textCol: String, numMerges: Int,
                      maxBatch: Int, stateBuckets: Int = 8,
                      maxRounds: Int = Int.MaxValue): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(maxBatch >= 1, s"maxBatch must be >= 1, got $maxBatch")
    graft.core.Guard.boundedArg(maxBatch, MaxArgmaxBatch, "BPE maxBatch",
      "each round collects the top maxBatch pair candidates to the " +
        "driver for the greedy disjoint prefix — a larger batch buys " +
        "nothing past the merge budget and risks driver memory")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    require(stateBuckets >= 2,
      s"stateBuckets must be >= 2 (a 1-bucket state is the single-task " +
        s"anti-pattern this operator exists to avoid), got $stateBuckets")
    val spark = df.sparkSession
    import spark.implicits._
    // AQE is pure latency here: every round runs the same three fixed
    // tiny-shape jobs, and adaptive re-planning adds a per-stage barrier
    // cost that dominates at hundreds of rounds. Scoped off, restored
    // after (the session belongs to the caller). shuffle.partitions is
    // scoped to `stateBuckets` for the same reason: the only shuffles in
    // the fit are the (a,b)-hashed state merges, and B buckets at R
    // rounds means B·R tasks — the bucket count IS the partition count.
    val conf = spark.conf
    val aqeBefore = conf.get("spark.sql.adaptive.enabled", "true")
    val shufBefore = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", stateBuckets.toString)
    def hasAdjacent(t: Seq[String], a: String, b: String): Boolean = {
      val it = t.iterator.zip(t.iterator.drop(1))
      it.exists { case (x, y) => x == a && y == b }
    }
    def localPairs(t: Seq[String]): Iterator[(String, String)] =
      t.iterator.zip(t.iterator.drop(1))
    var cur: org.apache.spark.sql.Dataset[Seq[String]] = null
    var curCkpt: org.apache.spark.sql.Dataset[Seq[String]] = null
    var counts: DataFrame = null
    var merges = Vector.empty[(String, String)]
    try {
      // Same tokenization as fit: split on single spaces, drop empties
      // (whitespace-insensitive), skip null text. Rows with < 2 tokens
      // are inert for pair counting forever — dropped at entry and per
      // round.
      cur = Materialize.cutLocal(df.select(col(textCol).cast("string")).as[String]
        .filter((t: String) => t != null)
        .map(t => t.split(' ').toSeq.filter(_.nonEmpty))
        .filter((t: Seq[String]) => t.length >= 2))
      // The counts state lands hash-bucketed by (a,b) across
      // `stateBuckets` partitions (the scoped shuffle.partitions above):
      // every per-round merge and argmax parallelizes across buckets, and
      // no corpus-scale structure ever funnels through one task.
      counts = Materialize.cutLocal(cur.flatMap(localPairs).toDF("a", "b")
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).cast(LongType).as("cnt")))
      // The corpus is re-materialized only every CkptEvery rounds; in
      // between it rides as a lazy chain of ≤CkptEvery typed maps over
      // the last checkpoint (maps fuse — objects flow through without
      // intermediate ser/deser), saving one full materialization job per
      // round. `cur` tracks the chain head; `curCkpt` the owned blocks.
      val CkptEvery = 16
      curCkpt = cur
      var sinceCkpt = 0
      var round = 0
      var roundsDone = 0
      while (round < numMerges && roundsDone < maxRounds) {
        // top maxBatch candidates, count-ordered with the sequential
        // tie-break; the greedy token-disjoint prefix becomes this
        // round's batch (≤ remaining merges). maxBatch=1 degenerates to
        // the exact sequential argmax.
        val want = math.min(maxBatch, numMerges - round)
        val top = counts.orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(maxBatch).collect()
        if (top.isEmpty) return merges // no adjacent pairs left anywhere
        val batch = disjointBatch(
          top.toSeq.map(r => (r.getString(0), r.getString(1))), want)
        merges ++= batch
        round += batch.length
        roundsDone += 1
        if (round < numMerges && roundsDone < maxRounds) { // last round needs no state update
          val bt = batch // stable local for the closures
          // Disjoint merges commute: fold-apply is order-independent and
          // each merge's occurrences are untouchable by the others.
          def applyBatch(t: Seq[String]): Seq[String] =
            bt.foldLeft(t) { case (c, (a, b)) =>
              if (hasAdjacent(c, a, b)) applyMerge(c, a, b) else c
            }
          def hitsAny(t: Seq[String]): Boolean =
            bt.exists { case (a, b) => hasAdjacent(t, a, b) }
          // ONE weighted delta leg: hit rows emit their post-batch pairs
          // at +1 and pre-batch pairs at −1; non-hit rows emit nothing.
          // Folded with the old counts in a single shuffle per round.
          val delta = cur.flatMap { toks =>
            if (!hitsAny(toks)) Iterator.empty
            else {
              val out = applyBatch(toks)
              localPairs(out).map { case (x, y) => (x, y, 1L) } ++
                localPairs(toks).map { case (x, y) => (x, y, -1L) }
            }
          }.toDF("a", "b", "cnt")
          val newCounts = Materialize.cutLocal(mergedCounts(counts, delta))
          Materialize.release(counts)
          counts = newCounts
          cur = cur
            .map(t => if (hitsAny(t)) applyBatch(t) else t)
            .filter((t: Seq[String]) => t.length >= 2)
          sinceCkpt += 1
          if (sinceCkpt >= CkptEvery) {
            val nc = Materialize.cutLocal(cur)
            Materialize.release(curCkpt)
            curCkpt = nc; cur = nc; sinceCkpt = 0
          }
        }
      }
      merges
    } finally {
      if (counts != null) Materialize.release(counts)
      if (curCkpt != null) Materialize.release(curCkpt)
      conf.set("spark.sql.adaptive.enabled", aqeBefore)
      conf.set("spark.sql.shuffle.partitions", shufBefore)
    }
  }
}
