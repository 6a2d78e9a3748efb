package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.CollectionAccumulator

import scala.jdk.CollectionConverters._

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
  * application is a scan-local typed map; no round shuffles the corpus.
  * Determinism: ties break on (count desc, a asc, b asc), so the merge
  * sequence is a pure function of the corpus.
  */
object Bpe {

  /** Documented driver-state cap (see [[graft.core.Guard]]): the per-round
    * argmax batch gathered to the driver in [[fitDeltaBatched]].
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
  def applyMerge(toks: Seq[String], a: String, b: String): Seq[String] =
    mergePair(toks.toArray, a, b).toSeq

  /** [[applyMerge]] over an array: an index loop, no per-token boxing. */
  private def mergePair(t: Array[String], a: String, b: String): Array[String] = {
    val out = new Array[String](t.length)
    var n = 0
    var i = 0
    while (i < t.length) {
      if (i + 1 < t.length && t(i) == a && t(i + 1) == b) {
        out(n) = a + Sep + b; i += 2
      } else { out(n) = t(i); i += 1 }
      n += 1
    }
    if (n == t.length) out else java.util.Arrays.copyOf(out, n)
  }

  private def hasAdjacent(t: Array[String], a: String, b: String): Boolean = {
    var i = 0
    while (i + 1 < t.length) {
      if (t(i) == a && t(i + 1) == b) return true
      i += 1
    }
    false
  }

  /** A token-disjoint batch applied in one pass: the input array itself
    * when no merge of the batch occurs in it.
    */
  private def applyBatch(t: Array[String], batch: Array[(String, String)]): Array[String] = {
    var cur = t
    var i = 0
    while (i < batch.length) {
      val (a, b) = batch(i)
      if (hasAdjacent(cur, a, b)) cur = mergePair(cur, a, b)
      i += 1
    }
    cur
  }

  /** The adjacent pairs of `t`, each weighted `w`. */
  private def weightedPairs(t: Array[String], w: Long): Iterator[(String, String, Long)] =
    Iterator.range(0, t.length - 1).map(i => (t(i), t(i + 1), w))

  /** Pair-count state order: count desc, then a and b ascending in UTF-8
    * byte order, the order `orderBy(col("cnt").desc, col("a"), col("b"))`
    * gives string columns.
    */
  private val CountOrder: Ordering[(String, String, Long)] =
    new Ordering[(String, String, Long)] {
      private def utf8(x: String) = UTF8String.fromString(x)
      def compare(x: (String, String, Long), y: (String, String, Long)): Int = {
        val c = java.lang.Long.compare(y._3, x._3)
        if (c != 0) c
        else {
          val ca = utf8(x._1).compareTo(utf8(y._1))
          if (ca != 0) ca else utf8(x._2).compareTo(utf8(y._2))
        }
      }
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
    * over the result is a per-bucket top-k + a driver merge of at most
    * B·k rows ([[gatherTop]]), so driver state stays constant-sized.
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

  /** [[fit]] with PAIR-COUNT DELTA MAINTENANCE — the scale path for real
    * vocab sizes. [[fit]] re-tokenizes the whole corpus from scratch each
    * round (round i re-applies all i merges: O(R²·corpus) total CPU and R
    * full-corpus pair aggregations — fine at the 5–20 merges it is gated
    * at, unusable at a 32k-vocab fit). Here the tokenized corpus and the
    * pair-count table are MATERIALIZED STATE, and a merge (a,b) updates
    * only what it can touch:
    *
    *   - corpus rows NOT containing adjacent (a,b) are copied unchanged
    *     (the rewrite is a narrow typed map over the cut corpus, split
    *     over `defaultParallelism` partitions, no shuffle);
    *   - pair counts change ONLY for pairs adjacent to an (a,b)
    *     occurrence, so the delta aggregation shuffles hit-row pairs
    *     only: `counts += pairs(rewritten hits) − pairs(hits)` — exact by
    *     construction, no overlap/boundary case analysis needed.
    *
    * One round is ONE job, whose plan is the same every round
    * ([[graft.core.Materialize.cutLocalWith]] cuts both frames):
    *
    *   - the rewritten corpus is cut where the delta first reads it. Each
    *     row keeps its pre-round tokens only if the batch rewrote it, so
    *     the delta reads the hit rows straight off the cut;
    *   - the counts cut folds the ±1 delta into the old counts and hands
    *     each state bucket's top candidates to the driver through an
    *     accumulator ([[gatherTop]]). The next round's argmax needs no
    *     job of its own.
    *
    * The per-round corpus work is TYPED Dataset closures over array
    * kernels, not per-round Column literals: a literal merge pair changes
    * the generated whole-stage source every round (a fresh Janino
    * compile per round), while a closure rides the codegen reference
    * array. With the plan fixed, no round after the second compiles a
    * class. AQE is scoped OFF for the fit: its fixed tiny-shape jobs gain
    * nothing from re-planning, and the one-job cut needs plans whose
    * shuffles do not run while they are planned.
    *
    * The counts state is hash-BUCKETED by (a, b) across `stateBuckets`
    * partitions ([[mergedCounts]]): each round's delta merges per-bucket
    * and the argmax is a per-bucket top-k + driver merge over at most
    * `stateBuckets`·k rows — no stage of the fit ever plans a
    * single-partition exchange, so the state scales horizontally when the
    * pair table outgrows one machine. `stateBuckets` defaults low (8)
    * because at local[n] the per-round cost is task scheduling, not data;
    * a 100 TB fit raises it to match the cluster.
    *
    * Both cuts are local cuts owned by [[graft.core.Materialize]], and the
    * superseded round's blocks are released as soon as the new ones
    * exist, so peak storage is two corpus snapshots. Round state stays
    * local in either durability mode (see [[graft.core.Materialize]]).
    *
    * Identical output to [[fit]] by the argmax-sequence argument: both
    * maintain exactly the corpus pair-count multiset between rounds and
    * take the same (cnt desc, a asc, b asc) argmax. Property-tested
    * (BpeSpec) and oracle-gated at 256 merges (q144).
    */
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
      "each round gathers the top maxBatch pair candidates of every state " +
        "bucket to the driver for the greedy disjoint prefix — a larger " +
        "batch buys nothing past the merge budget and risks driver memory")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    require(stateBuckets >= 2,
      s"stateBuckets must be >= 2 (a 1-bucket state is the single-task " +
        s"anti-pattern this operator exists to avoid), got $stateBuckets")
    val spark = df.sparkSession
    import spark.implicits._
    // AQE is pure latency here: every round runs the same fixed
    // tiny-shape job, and adaptive re-planning adds a per-stage barrier
    // cost that dominates at hundreds of rounds; Materialize.cutLocalWith
    // also needs it off. Scoped off, restored after (the session belongs
    // to the caller). shuffle.partitions is scoped to `stateBuckets` for
    // the same reason: the (a,b)-hashed state merges are the fit's only
    // per-round shuffles, and B buckets at R rounds means B·R tasks — the
    // bucket count IS the partition count.
    val conf = spark.conf
    val aqeBefore = conf.get("spark.sql.adaptive.enabled", "true")
    val shufBefore = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", stateBuckets.toString)
    // Corpus rows are (tokens, tokens before this round's batch); the
    // second field is null unless the batch rewrote the row.
    var corpus: Dataset[(Array[String], Array[String])] = null
    var counts: DataFrame = null
    var merges = Vector.empty[(String, String)]
    try {
      // Same tokenization as fit: split on single spaces, drop empties
      // (whitespace-insensitive), skip null text. Rows with < 2 tokens
      // are inert for pair counting forever — dropped at entry and per
      // round. The corpus is split over defaultParallelism partitions so
      // the per-round rewrite runs on every core.
      val text = df.select(col(textCol).cast("string")).as[String]
      val para = spark.sparkContext.defaultParallelism
      val tokenized = (if (text.rdd.getNumPartitions < para) text.repartition(para) else text)
        .filter((t: String) => t != null)
        .map(t => t.split(' ').filter(_.nonEmpty))
        .filter((t: Array[String]) => t.length >= 2)
        .map(t => (t, null: Array[String]))
      def newAcc() = spark.sparkContext.collectionAccumulator[(String, String, Long)]
      var acc = newAcc()
      val (initialCorpus, initialCounts) = Materialize.cutLocalWith(tokenized) { c =>
        gatherTop(c.flatMap { case (t, _) => weightedPairs(t, 1L) }.toDF("a", "b", "cnt")
          .groupBy(col("a"), col("b"))
          .agg(sum(col("cnt")).cast(LongType).as("cnt")), maxBatch, acc)
      }
      corpus = initialCorpus
      counts = initialCounts
      var round = 0
      var roundsDone = 0
      while (round < numMerges && roundsDone < maxRounds) {
        // top maxBatch candidates, count-ordered with the sequential
        // tie-break; the greedy token-disjoint prefix becomes this
        // round's batch (≤ remaining merges). maxBatch=1 degenerates to
        // the exact sequential argmax.
        val top = topOf(acc, maxBatch)
        if (top.isEmpty) return merges // no adjacent pairs left anywhere
        val batch = disjointBatch(top, math.min(maxBatch, numMerges - round))
        merges ++= batch
        round += batch.length
        roundsDone += 1
        if (round < numMerges && roundsDone < maxRounds) { // last round needs no state update
          // Disjoint merges commute: the batch applies in one pass, and
          // each merge's occurrences are untouchable by the others.
          val bt = batch.toArray // stable local for the closures
          val rewritten = corpus.select(col("_1")).as[Array[String]]
            .filter((t: Array[String]) => t.length >= 2)
            .map { t =>
              val out = applyBatch(t, bt)
              (out, if (out eq t) null else t)
            }
          acc = newAcc()
          // ONE weighted delta leg: hit rows emit their post-batch pairs
          // at +1 and pre-batch pairs at −1; non-hit rows emit nothing.
          // Folded with the old counts in a single shuffle per round.
          val (nextCorpus, nextCounts) = Materialize.cutLocalWith(rewritten) { c =>
            val delta = c.where(col("_2").isNotNull)
              .flatMap { case (out, before) => weightedPairs(out, 1L) ++ weightedPairs(before, -1L) }
              .toDF("a", "b", "cnt")
            gatherTop(mergedCounts(counts, delta), maxBatch, acc)
          }
          Materialize.release(counts)
          Materialize.release(corpus)
          counts = nextCounts
          corpus = nextCorpus
        }
      }
      merges
    } finally {
      if (counts != null) Materialize.release(counts)
      if (corpus != null) Materialize.release(corpus)
      conf.set("spark.sql.adaptive.enabled", aqeBefore)
      conf.set("spark.sql.shuffle.partitions", shufBefore)
    }
  }

  /** `counts` passed through unchanged while each partition keeps a
    * bounded heap of its top `k` rows under [[CountOrder]] and adds them
    * to `acc` once its rows are exhausted. The job that computes the frame
    * hands the driver at most (partitions · k) candidate rows.
    */
  private def gatherTop(counts: DataFrame, k: Int,
      acc: CollectionAccumulator[(String, String, Long)]): DataFrame = {
    import counts.sparkSession.implicits._
    counts.as[(String, String, Long)].mapPartitions { rows =>
      val heap = new java.util.PriorityQueue[(String, String, Long)](CountOrder.reverse)
      // `++` evaluates its argument only after `rows` is exhausted
      rows.map { r => heap.add(r); if (heap.size > k) heap.poll(); r } ++ {
        heap.forEach(r => acc.add(r))
        Iterator.empty
      }
    }.toDF("a", "b", "cnt")
  }

  /** The top `k` pairs among the candidates [[gatherTop]] gathered. A
    * pair's count is unique within one state, so keeping one row per
    * pair also drops the rows of a re-run task.
    */
  private def topOf(acc: CollectionAccumulator[(String, String, Long)], k: Int): Seq[(String, String)] =
    acc.value.asScala.toSeq.distinct.sorted(CountOrder).take(k).map { case (a, b, _) => (a, b) }
}
