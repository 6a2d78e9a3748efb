package graft.streaming

import graft.sources.Warehouse
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}

/** Structured Streaming over the `events` table — the stretch goal from
  * SURVEY §2.10: nothing in the reference streams, but its incremental
  * high-watermark append is exactly a batch rendering of this pipeline,
  * so the engine ships the streaming form too:
  * `readStream → withWatermark → window agg → sink`, plus a
  * `mapGroupsWithState` running per-user aggregate for custom state.
  *
  * The parquet ts column is TIMESTAMP(NANOS), which this toolchain
  * (Spark 4.1) reads as TIMESTAMP_NTZ truncated to micros; the stream
  * declares that reading and canonicalizes through the SAME helper as the
  * batch reader ([[graft.core.Tables.canonicalEventsTs]]), so stream ≡
  * batch on timestamps by construction.
  */
object EventsStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType), // Spark ≥4.1 reading of TIMESTAMP(NANOS)
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream of events from a directory of parquet files, with
    * `ts` canonicalized to session-zoned TIMESTAMP exactly as the batch
    * reader does (shared contract: [[graft.core.Tables.canonicalEventsTs]]).
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    graft.core.Tables.canonicalEventsTs(
      spark.readStream.schema(eventSchema).parquet(dir))

  /** Tumbling-window rates per event type with a late-data watermark —
    * the canonical streaming aggregation (guide §Structured Streaming).
    */
  def windowedRates(events: DataFrame,
                    watermark: String = "1 hour",
                    window_ : String = "6 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"),
              col("event_type"), col("n_events"), col("total_value"))

  /** Streaming count-min sketch over a key column — approximate
    * frequencies with CONSTANT state: the aggregation keys are the
    * (row, bucket) counter coordinates, so streaming state is ≤ d·w rows
    * no matter how many distinct keys the stream carries (an exact
    * per-key streaming count's state grows with the key cardinality —
    * the precise failure mode sketches exist to avoid). Same md5/K–M
    * derivation as the batch CMS (q89, [[graft.functions.HexKeys
    * .kmBuckets]]), so a drained stream's sketch is BIT-IDENTICAL to the
    * batch-built one (StreamingSpec asserts it) and estimates from it
    * are the deterministic min-over-counters.
    */
  def cmsSketchStream(
      events: DataFrame,
      keyCol: String,
      depth: Int = 4,
      width: Int = 1024,
      prefix: String = "cms|"): DataFrame = {
    val hex = md5(concat(lit(prefix), col(keyCol).cast("string")))
    events
      .select(posexplode(graft.functions.HexKeys.kmBuckets(hex, depth, width))
        .as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Streaming histogram bin counts over `value` against FIXED reference
    * bins — the streaming leg of the drift monitor (q112). PSI practice
    * makes the reference side static (bins fitted offline from the
    * reference corpus), so vmin/vmax arrive as literals and streaming
    * state is ≤ `bins` counter rows regardless of stream volume — the
    * same constant-state argument as [[cmsSketchStream]]. The bin
    * arithmetic is q112's exactly (edge clamping, degenerate range →
    * bin 0), so a drained stream's counts are bit-identical to batch
    * binning (StreamingSpec asserts it) and a PSI computed from them
    * matches the batch monitor.
    */
  def binCountsStream(events: DataFrame, vmin: Double, vmax: Double,
                      bins: Int = 10): DataFrame = {
    val bin =
      if (vmax > vmin)
        greatest(lit(0.0),
          least(floor((col("value") - vmin) / (vmax - vmin) * bins),
                lit((bins - 1).toDouble)))
      else lit(0.0)
    events.filter(col("value").isNotNull)
      .select(bin.cast(LongType).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Streaming covariance moment sums — the q119 moment aggregate as a
    * stream. DECIMAL sums and counts are associative and commutative, so
    * the streaming state IS the moment table: ≤ d(d+1)/2 + d rows no
    * matter how many vectors the stream carries, and the drained result
    * is bit-identical to the batch aggregate (StreamingSpec asserts it
    * against the independently-written batch form). This is how the PCA
    * front half (q121) runs on a continuously-arriving corpus: the
    * moment table updates incrementally; the d×d eigenproblem re-runs
    * driver-side per trigger.
    */
  def momentSumsStream(vectors: DataFrame): DataFrame =
    vectors
      .select(explode(
        org.apache.spark.sql.graftx.MomentTerms.momentTerms(col("v"))).as("e"))
      .groupBy(col("e.i").as("i"), col("e.j").as("j"))
      .agg(sum(col("e.t").cast("decimal(28,14)")).as("s"),
           count(lit(1)).as("n"))

  /** Streaming KMV distinct-count — q66's sketch as a stream: the
    * TypedImperativeAggregate's O(k) buffer IS the streaming state (≤ k
    * hashes per group, merge = union-keep-k-smallest), so per-group
    * state is constant no matter how many distinct values arrive, and a
    * drained stream's estimate is BIT-IDENTICAL to the batch sketch
    * (md5-deterministic — StreamingSpec asserts it against q66's batch
    * form). The streaming analog of exact `countDistinct`'s unbounded
    * per-group state — the precise failure mode the sketch avoids.
    */
  def kmvDistinctStream(docs: DataFrame, k: Int = 64): DataFrame =
    docs
      .select(col("lang"), explode(graft.functions.Text.tokens(col("text"))).as("token"))
      .groupBy(col("lang"))
      .agg(org.apache.spark.sql.graftx.KmvDistinct.kmvDistinct(col("token"), k)
        .as("est_distinct_tokens"))

  /** Streaming exact deduplication on a key, with the watermark bounding
    * how long per-key state is retained — the streaming analog of the
    * batch exact-dedup operator (a re-delivered event inside the
    * watermark horizon is dropped; state for keys older than the horizon
    * is evicted, so state size tracks the horizon, not the stream).
    */
  def dedupStream(events: DataFrame,
                  keys: Seq[String] = Seq("event_id"),
                  watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicates(keys :+ "ts")

  /** Stream–static enrichment: the streaming fact joined to a static
    * (batch) dimension — the streaming analog of the fct ⟕ dim broadcast
    * join. The dim is re-read per micro-batch by Spark; broadcasting it
    * keeps each micro-batch shuffle-free.
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  final case class UserEvent(user_id: Long, value: Double)
  final case class UserRunning(user_id: Long, n: Long, total: Double, mean: Double)

  /** Custom state: running per-user count/sum/mean via mapGroupsWithState —
    * the streaming analog of the incremental materializer's "only fold in
    * what's new" semantics.
    */
  def runningUserStats(events: DataFrame): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (uid, batch, state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0, 0.0))
          val (n, total) = batch.foldLeft((prev.n, prev.total)) {
            case ((cn, ct), e) => (cn + 1, ct + e.value)
          }
          val next = UserRunning(uid, n, total, if (n > 0) total / n else 0.0)
          state.update(next)
          next
      }
  }

  final case class EwmaEvent(user_id: Long, ts: java.sql.Timestamp,
                             event_id: Long, value: Double)
  final case class UserEwma(user_id: Long, n_events: Long, last_value: Double,
                            ewma: Double, max_abs_dev: Double,
                            is_volatile: Boolean)

  /** Streaming per-user EWMA — q160's recurrence carried in `GroupState`:
    * O(1) state per user (mean, max deviation, count, last value), each
    * micro-batch's events folded in (ts, event_id) order FROM the saved
    * state with the identical IEEE op order (0.25·x + 0.75·m), so after
    * draining an in-order stream the emitted rows are bit-identical to
    * the batch operator (StreamingSpec asserts it). Ordering policy:
    * within a batch events sort by event time; ACROSS batches the fold
    * consumes arrival order — a production deployment bounds disorder
    * with a source watermark (the sessionizeStream late-data rule).
    */
  def ewmaStream(events: DataFrame, alpha: Double = 0.25): Dataset[UserEwma] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[EwmaEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserEwma, UserEwma](GroupStateTimeout.NoTimeout) {
        (uid, batch, state: GroupState[UserEwma]) =>
          val sorted = batch.toSeq.sortBy(e => (epochUs(e.ts), e.event_id))
          val prev = state.getOption
          val init = prev.getOrElse {
            val h = sorted.head
            UserEwma(uid, 1L, h.value, h.value, 0.0, is_volatile = false)
          }
          val rest = if (prev.isDefined) sorted else sorted.tail
          val folded = rest.foldLeft(init) { (acc, e) =>
            val d = math.max(acc.max_abs_dev, math.abs(e.value - acc.ewma))
            acc.copy(n_events = acc.n_events + 1, last_value = e.value,
                     ewma = alpha * e.value + (1 - alpha) * acc.ewma,
                     max_abs_dev = d)
          }
          val next = folded.copy(
            is_volatile = folded.max_abs_dev > math.abs(folded.ewma))
          state.update(next)
          next
      }
  }

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class OpenSession(start_us: Long, last_us: Long, n: Long, total_cents: Long)
  final case class ClosedSession(
      user_id: Long,
      session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp,
      n_events: Long,
      total_value: Double,
      duration_seconds: Long)

  private def epochUs(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Gap-based session windows per user as a STREAM — the
    * `flatMapGroupsWithState` rendering of [[graft.operators.TemporalJoins]]
    * `.sessionize`: events ≤ `gapMinutes` apart extend the open session,
    * a larger gap closes it and emits the finished row. The open session
    * rides in `GroupState` across micro-batches, so arbitrarily long
    * sessions cost O(1) state per user. Totals accumulate in integer
    * cents (values carry ≤2 decimals — TESTDATA probe), so the emitted
    * double equals the batch operator's exact-decimal sum bitwise.
    */
  def sessionizeStream(events: DataFrame, gapMinutes: Int = 30): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.select(col("user_id"), col("ts"), col("value")).as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, batch, state: GroupState[OpenSession]) =>
          def cents(v: Double): Long =
            BigDecimal(v).setScale(2, scala.math.BigDecimal.RoundingMode.HALF_UP)
              .underlying.unscaledValue.longValueExact
          def close(s: OpenSession): ClosedSession = ClosedSession(
            uid,
            java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(s.start_us * 1000)),
            java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(s.last_us * 1000)),
            s.n, s.total_cents / 100.0, (s.last_us - s.start_us) / 1000000L)
          val sorted = batch.toArray.sortBy(e => epochUs(e.ts))
          val closed = scala.collection.mutable.ArrayBuffer[ClosedSession]()
          var open   = state.getOption
          sorted.foreach { e =>
            val us = epochUs(e.ts)
            open match {
              // in-gap of the open session's WINDOW [start − gap, last + gap]:
              // min/max clamp so a late in-gap event from a later micro-batch
              // widens the boundaries but never drags them backwards
              case Some(s) if us - s.last_us <= gapUs && us >= s.start_us - gapUs =>
                open = Some(OpenSession(math.min(s.start_us, us), math.max(s.last_us, us),
                  s.n + 1, s.total_cents + cents(e.value)))
              // older than gap BEFORE the open session: beyond this
              // operator's O(1) state horizon — dropped, the explicit
              // late-data POLICY (the naive `us - last <= gap` test is
              // trivially true for any old event and would double-count
              // it into the open session). Exact batch parity for
              // arbitrary lateness needs unbounded state; a real
              // deployment bounds lateness with a source watermark so
              // such events are filtered upstream.
              case Some(s) if us < s.start_us - gapUs => ()
              case Some(s) =>
                closed += close(s)
                open = Some(OpenSession(us, us, 1L, cents(e.value)))
              case None =>
                open = Some(OpenSession(us, us, 1L, cents(e.value)))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
  }

  /** Streaming incremental sink: the `writeStream.foreachBatch` form of
    * `Materialization.Incremental` — each micro-batch anti-joins the
    * parquet target on `uniqueKey` and appends only unseen keys, so the
    * sink is idempotent under replays, and dedupes each batch on the key
    * first. In-batch pick: with `orderCol` set, LATEST `orderCol` wins
    * (the batch Runner's latest-watermark rule); without it, the smallest
    * orderable-column tuple wins — deterministic under any partitioning,
    * but NOT time-aware. `checkpointDir` carries source offsets across
    * restarts.
    */
  def incrementalSink(
      df: DataFrame,
      targetDir: String,
      uniqueKey: String,
      checkpointDir: String,
      queryName: String,
      orderCol: Option[String] = None): StreamingQuery =
    eachBatch(df, checkpointDir, queryName) { batch0 =>
      // In-batch dedupe on uniqueKey (the anti-join below only guards
      // against keys ALREADY in the target — a batch carrying duplicate
      // keys would otherwise write every copy, including on the first
      // overwrite batch). Same rule as the batch Runner: Upserts.
      val batch = graft.functions.Upserts.latestPerKey(batch0, uniqueKey, orderCol)
      val target = new java.io.File(targetDir)
      // ANY existing DATA content counts (partitioned layouts nest their
      // parquet files) — but ignore metadata/temp entries (_temporary
      // from a crashed write, _SUCCESS, .crc) so replay after a failed
      // first batch recovers by overwriting rather than failing the
      // read forever. A non-parquet obstruction still fails loudly.
      val exists = target.exists &&
        Option(target.list()).exists(_.exists(n => !n.startsWith("_") && !n.startsWith(".")))
      if (!exists) batch.write.mode("overwrite").parquet(targetDir)
      else batch
        .join(batch.sparkSession.read.parquet(targetDir).select(col(uniqueKey)),
              Seq(uniqueKey), "left_anti")
        .write.mode("append").parquet(targetDir)
    }

  /** The one micro-batch sink every foreachBatch leg runs through: an
    * append-mode query named `queryName`, its source offsets in
    * `checkpointDir`, calling `body` on each micro-batch.
    */
  private def eachBatch(df: DataFrame, checkpointDir: String, queryName: String)(
      body: DataFrame => Unit): StreamingQuery =
    df.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[Row], _: Long) => body(batch.toDF()); () }
      .start()

  /** Streaming maintenance of the PERSISTED LSH dedup index (q145): each
    * micro-batch's scan-local bands ([[graft.operators.Dedup.rowBands]])
    * are appended to the band_hash-bucketed warehouse table —
    * `Warehouse.appendBucketed`, q141's incremental discipline, so the
    * bucket layout (pruned probes, shuffle-free self-joins) survives
    * every append and per-batch cost ∝ batch size. Replay-idempotent
    * like [[incrementalSink]]: a batch's doc_ids anti-join the existing
    * index before appending, so micro-batch redelivery can't double a
    * document's bands (the contract's (doc_id, band_idx) uniqueness).
    */
  def lshIndexMaintainStream(
      docs: DataFrame,
      table: String,
      checkpointDir: String,
      queryName: String): StreamingQuery =
    eachBatch(docs, checkpointDir, queryName) { batch =>
      val bands = batch
        .select(col("doc_id"),
                explode(graft.operators.Dedup.rowBands(col("text"))).as("band"))
        .select(col("doc_id"), col("band.band_idx").as("band_idx"),
                col("band.band_hash").as("band_hash"))
        .dropDuplicates("doc_id", "band_idx") // in-batch redelivery guard
      idempotentAppend(bands, table, "doc_id", Some("band_hash"))
    }

  /** The shared idempotent state-table write: create `table` from the
    * first batch, then append only rows whose `guardKey` is not already
    * present — one anti-join doubling as the redelivery guard for every
    * foreachBatch state-table leg. With `bucketCol` set the table is
    * bucketed on it (16 buckets) and every append keeps that layout, so
    * the probes that depend on it stay shuffle-free.
    */
  private def idempotentAppend(rows: DataFrame, table: String, guardKey: String,
                               bucketCol: Option[String] = None): Unit = {
    val spark = rows.sparkSession
    val exists = spark.catalog.tableExists(table)
    val fresh =
      if (!exists) rows
      else rows.join(spark.table(table).select(col(guardKey)).distinct(),
                     Seq(guardKey), "left_anti")
    (bucketCol, exists) match {
      case (Some(b), false) => Warehouse.writeBucketed(fresh, table, b, numBuckets = 16)
      case (Some(b), true)  => Warehouse.appendBucketed(fresh, table, b, numBuckets = 16)
      case (None, false)    => Warehouse.writeTable(fresh, table)
      case (None, true)     => Warehouse.appendTable(fresh, table)
    }
  }

  /** Streaming maintenance of the PERSISTED chunk-hash dedup index
    * (q172): each micro-batch is chunked scan-locally
    * ([[graft.operators.Dedup.chunkFrame]] — the same arithmetic as the
    * batch operator), collapsed to its within-batch canonical
    * occurrences (min (doc_id, chunk_idx) per hash), anti-joined against
    * the existing index, and appended chunk_hash-bucketed — so the
    * bucket layout (shuffle-free probes) survives every append and
    * per-batch cost ∝ batch size. The anti-join doubles as the
    * redelivery guard: a re-delivered batch's hashes are already
    * indexed, so the append is a no-op (the contract's chunk_hash
    * uniqueness). Index contents after draining batches in arrival
    * order ≡ the batch-side base+delta build (StreamingSpec asserts).
    */
  def chunkIndexMaintainStream(
      docs: DataFrame,
      table: String,
      checkpointDir: String,
      queryName: String): StreamingQuery =
    eachBatch(docs, checkpointDir, queryName) { batch =>
      val canon = graft.operators.Dedup.canonicalChunks(graft.operators.Dedup
        .chunkFrame(batch, "doc_id", "text", graft.queries.TextQueries.ChunkDedupTokens))
      idempotentAppend(canon, table, "chunk_hash", Some("chunk_hash"))
    }

  /** Streaming maintenance of the PERSISTED CDC chunk-hash index
    * (q227's state) — [[chunkIndexMaintainStream]] at content-defined
    * granularity: each micro-batch is chunked by the native rolling-hash
    * pass ([[graft.operators.Dedup.cdcChunkFrame]], the same boundary
    * arithmetic as the batch operator), collapsed to within-batch
    * canonical occurrences (pure partial+final struct-min agg, never a
    * chunk_hash window), anti-joined against the existing index, and
    * appended chunk_hash-bucketed. Same redelivery guard: re-delivered
    * hashes are already indexed, so the append is a no-op.
    */
  def cdcIndexMaintainStream(
      docs: DataFrame,
      table: String,
      checkpointDir: String,
      queryName: String): StreamingQuery =
    eachBatch(docs, checkpointDir, queryName) { batch =>
      val canon = graft.operators.Dedup.canonicalChunks(
        graft.operators.Dedup.cdcChunkFrame(batch, "doc_id", "text"))
      idempotentAppend(canon, table, "chunk_hash", Some("chunk_hash"))
    }

  /** Streaming maintenance of the q242 bloom WORD TABLE — the runtime-
    * filter build side kept warm against a key stream (new urgent
    * orders arrive; the semi-join filter must reflect them before the
    * next fact scan): each micro-batch folds its distinct keys into
    * per-batch (word_idx, words) rows ([[graft.operators.Bloom.words]],
    * the exact batch arithmetic) and appends them word_idx-bucketed
    * under an exact-row guard. Bloom words are an OR-SEMILATTICE —
    * bit_or is idempotent, commutative, and monotone — so batch-
    * granular rows are the correct state type: the serving read
    * collapses them with ONE bit_or per word
    * ([[bloomWordsFromState]]), a redelivered batch's rows change
    * nothing in that read, and the guard dropping an exact-duplicate
    * row can never lose a bit. (Contrast the count-typed state the
    * boilerplate leg avoids for the same redelivery reason — here the
    * ALGEBRA does the dedup, so no anti-join against content is needed
    * at all; the guard only bounds storage.) The filter NEVER loses a
    * key by construction, so a serving semi-join stays false-negative-
    * free across restarts.
    */
  def bloomIndexMaintainStream(
      keys: DataFrame,
      table: String,
      checkpointDir: String,
      queryName: String): StreamingQuery =
    eachBatch(keys, checkpointDir, queryName) { batch =>
      val w = graft.operators.Bloom
        .words(batch.select(col("k")).distinct(), "k")
        .withColumn("state_key",
          concat_ws("|", col("word_idx"), col("words")))
      idempotentAppend(w, table, "state_key", Some("word_idx"))
    }

  /** The serving read of [[bloomIndexMaintainStream]]'s state: one
    * bit_or per word collapses any row multiplicity into the exact
    * filter the batch-side build would produce.
    */
  def bloomWordsFromState(spark: SparkSession, table: String): DataFrame =
    spark.table(table).groupBy(col("word_idx"))
      .agg(expr("bit_or(words)").as("words"))

  /** Streaming maintenance of the boilerplate-DF index (q204's state):
    * each micro-batch is segmented scan-locally (the q75/q200
    * arithmetic), collapsed to its within-batch distinct
    * (segment, doc) INCIDENCES, and appended seg_hash-bucketed with an
    * incidence-key anti-join as the redelivery guard. Document frequency
    * is COUNTING state, so the state granularity must be the incidence
    * row, not a running count — a re-delivered batch would
    * double-increment any count-typed state, while incidence rows are
    * naturally idempotent under the same anti-join every other index leg
    * uses. The DF counts (and the boilerplate list q200's scrub
    * consumes) derive from the state table through the SAME
    * `boilerplateFromIncidences` tail the batch side uses.
    */
  def boilerplateIndexMaintainStream(
      docs: DataFrame,
      table: String,
      checkpointDir: String,
      queryName: String): StreamingQuery =
    eachBatch(docs, checkpointDir, queryName) { batch =>
      val inc = graft.queries.CurationQueries.docSegments(batch)
        .select(md5(col("seg")).as("seg_hash"), col("seg"), col("doc_id"))
        .dropDuplicates("seg_hash", "doc_id") // in-batch redelivery guard
        .withColumn("inc_key",
          md5(concat(col("seg_hash"), lit("|"),
                     col("doc_id").cast("string"))))
        .select(col("inc_key"), col("seg_hash"), col("seg"), col("doc_id"))
      idempotentAppend(inc, table, "inc_key", Some("seg_hash"))
    }

  /** Streaming maintenance of the q215 SNM keys index: each micro-batch
    * computes its DISTINCT simhash values scan-locally, derives the
    * per-rotation sorted keys under the index's FIXED quantile `bounds`
    * (bounds are chosen at index creation and stay stable — re-deriving
    * them from stream data would silently shift every bucket and with it
    * every window), and appends only keys not already present. The
    * (rot, k) anti-join is the redelivery guard: sorted-screen state is
    * SET-typed (a value's key either is in the order or is not), so
    * idempotent key rows are the correct state granularity and a
    * re-delivered batch is a no-op by construction. Drained state ≡ the
    * batch-built key frame over everything delivered (StreamingSpec
    * asserts — arrival-order free, because the key set is).
    */
  def snmIndexMaintainStream(
      docs: DataFrame,
      table: String,
      bounds: Array[Double],
      checkpointDir: String,
      queryName: String,
      rotations: Int = 4): StreamingQuery =
    eachBatch(docs, checkpointDir, queryName) { batch =>
      val vals = graft.operators.Dedup.simhashVals(batch, "doc_id", "text")
      val keyed = graft.operators.Dedup.snmKeys(vals, rotations)
        .withColumn("__b", graft.operators.Dedup
          .snmBucketOf(bounds, graft.operators.Dedup.snmProxy(col("k")))
          .cast(LongType))
        .withColumn("idx_key",
          md5(concat(col("rot").cast("string"), lit("|"), col("k"))))
        .select(col("idx_key"), col("rot"), col("k"), col("h"), col("__b"))
      idempotentAppend(keyed, table, "idx_key", Some("__b"))
    }

  /** Streaming maintenance of the PERSISTED source-cap index (q198's
    * state): each micro-batch merges its documents with the current kept
    * set and re-takes the per-source md5-rank top-C, REWRITING the state
    * table. The state IS the selection — ≤ cap·|sources| rows — so a
    * rewrite per batch costs less than any delta bookkeeping, and
    * EVICTION (a better-ranked arrival displacing a kept doc) is handled
    * by construction, where the append-only helpers above would retain
    * displaced docs forever. Replay-idempotent by the top-k union
    * identity: topC(S ∪ A ∪ A) = topC(S ∪ A), so re-delivered batches are
    * no-ops. Drained state ≡ the one-shot batch cap over everything
    * delivered (StreamingSpec asserts, arrival-order independent — the
    * md5 rank is a pure function of doc_id).
    */
  def capIndexMaintainStream(
      docs: DataFrame,
      table: String,
      checkpointDir: String,
      queryName: String): StreamingQuery =
    eachBatch(docs, checkpointDir, queryName) { batch =>
      val spark = batch.sparkSession
      val cur =
        if (spark.catalog.tableExists(table))
          spark.table(table).select(col("source"), col("doc_id"))
        else batch.select(col("source"), col("doc_id")).limit(0)
      // DISTINCT before re-ranking: a re-delivered doc sits in both the
      // state and the batch, and the bounded heap has multiset
      // semantics — without the dedup a replayed doc would occupy two
      // of its source's cap slots (caught by the replay gate)
      val merged = batch.select(col("source"), col("doc_id"))
        .unionByName(cur).distinct()
      // materialize BEFORE the overwrite — the plan reads the table it
      // is about to replace (tiny: ≤ cap·|sources| + batch rows)
      val kept = graft.core.Materialize.cutLocal(
        graft.queries.CurationQueries.sourceCapped(merged))
      Warehouse.writeTable(kept, table)
      // the overwrite replaced the table's files in place — drop the
      // cached file listing or the next batch reads deleted parts.
      // NOTE this refresh covers the STREAM's (cloned) session only:
      // foreachBatch runs on a micro-batch session clone with its own
      // relation cache, so OTHER sessions reading the index between
      // maintenance batches must refreshTable themselves (the standard
      // contract for any overwrite-in-place table; the append-only
      // index legs above don't need it because appends only add files)
      spark.catalog.refreshTable(table)
    }

  /** Orders-shaped file-source stream (the z-order leg's entry point). */
  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType),
    StructField("o_orderpriority", StringType)))

  def readOrders(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(ordersSchema).parquet(dir)

  /** Streaming maintenance of the z-order file-stats state (q220 from a
    * stream): each micro-batch of orders is grid-assigned under the
    * index's FROZEN build bounds (the q215 stored-bounds contract — a
    * delta must bucket on the build-time grid, never refit it) and
    * collapsed to per-file stats rows appended at
    * (file_id, batch-min-order-key) granularity. min/max/count are
    * ASSOCIATIVE, so the serving readout is a re-aggregation over
    * ≤ files·batches tiny rows and the base fact table is never
    * rescanned; the guard key makes redelivery a no-op (an order key is
    * delivered once, so a re-delivered batch reproduces the same
    * per-file min key). Drained state re-aggregates to the batch delta
    * stats (StreamingSpec asserts).
    */
  def zorderStatsMaintainStream(
      orders: DataFrame,
      table: String,
      bounds: (Long, Long, Long, Long),
      checkpointDir: String,
      queryName: String): StreamingQuery =
    eachBatch(orders, checkpointDir, queryName) { batch =>
      val (ckMin, ckMax, dayMin, dayMax) = bounds
      val b = batch.sparkSession.range(1).select(
        lit(ckMin).as("ck_min"), lit(ckMax).as("ck_max"),
        lit(dayMin).as("day_min"), lit(dayMax).as("day_max"))
      val assigned = graft.queries.OlapQueries.ZOrder.assign(
        graft.queries.OlapQueries.ZOrder.prepKeyed(batch), b)
      val stats = assigned.groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_rows"),
             min(col("ck")).as("min_ck"), max(col("ck")).as("max_ck"),
             min(col("day")).as("min_day"), max(col("day")).as("max_day"),
             min(col("o_orderkey")).as("batch_min_key"))
        .withColumn("guard_key",
          md5(concat(col("file_id").cast("string"), lit("|"),
                     col("batch_min_key").cast("string"))))
      idempotentAppend(stats, table, "guard_key")
    }

  /** Streaming maintenance of the q252 OCCUPANCY state — the embedding-
    * drift monitor fed by a vector stream: each micro-batch is assigned
    * to FROZEN reference centroids (a literal codegen expression — the
    * corpus never shuffles for clustering, the q97 discipline),
    * collapsed to per-cluster counts, and appended under a
    * (cluster_id, batch-min-vec_id) guard. Occupancy is COUNTING state,
    * so the state granularity must be the per-batch count ROW (the
    * z-order-stats discipline): a redelivered batch re-derives the same
    * batch-min key and the anti-join drops it, where a running count
    * would double-increment. Assumes an append-only id stream (distinct
    * vec_ids across batches — the same contract the z-order leg
    * carries). The serving read ([[occupancyFromState]]) sums per
    * cluster; PSI against a frozen reference occupancy is q252's
    * arithmetic over that ≤k-row frame.
    */
  def occupancyDriftStream(
      vectors: DataFrame,
      centroids: Array[Seq[Double]],
      table: String,
      checkpointDir: String,
      queryName: String): StreamingQuery =
    eachBatch(vectors, checkpointDir, queryName) { batch =>
      val v = batch.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val counts = v.select(col("vec_id"),
          graft.operators.Clustering.nearestCentroid(centroids, col("v"))
            .getField("cid").as("cluster_id"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n"), min(col("vec_id")).as("batch_min_key"))
        .withColumn("guard_key",
          md5(concat(col("cluster_id").cast("string"), lit("|"),
                     col("batch_min_key").cast("string"))))
      idempotentAppend(counts, table, "guard_key")
    }

  /** The serving read of [[occupancyDriftStream]]'s state: per-cluster
    * totals from the batch-granular count rows.
    */
  def occupancyFromState(spark: SparkSession, table: String): DataFrame =
    spark.table(table).groupBy(col("cluster_id"))
      .agg(sum(col("n")).as("n_vecs"))

  /** Streaming benchmark DECONTAMINATION — q77's exact 8-gram overlap
    * check on a continuously-arriving corpus: the benchmark n-gram set is
    * STATIC (fixed eval suites), so each micro-batch runs the identical
    * batch pipeline against it — explode, stream-static equi-join
    * (benchmark side broadcast at real scale, or the q83 bloom when even
    * its distinct n-grams are too big), per-doc hit count — and appends
    * per-doc verdicts. Documents are batch-local, so no streaming
    * aggregation state exists at all; the doc_id anti-join makes
    * redelivery idempotent. Drained output ≡ batch q77 on the same
    * corpus (StreamingSpec asserts).
    */
  def decontaminateStream(
      docs: DataFrame,
      bench: DataFrame,
      outTable: String,
      checkpointDir: String,
      queryName: String): StreamingQuery =
    eachBatch(docs, checkpointDir, queryName) { corpus =>
      val hits = corpus
        .select(col("doc_id"),
                explode(graft.functions.Text.shingles(col("text"), 8)).as("ngram"))
        .join(bench, "ngram")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_overlap"))
      val res = corpus.select(col("doc_id"), col("lang"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
                coalesce(col("n_overlap"), lit(0L)).as("n_overlap_ngrams"),
                (coalesce(col("n_overlap"), lit(0L)) > 0).as("is_contaminated"))
      idempotentAppend(res, outTable, "doc_id")
    }

  /** Streaming drift monitor — q181 maintained incrementally: the
    * binning parameters are FROZEN from the reference window (min epoch
    * day + the reference week's value range — exactly how production
    * drift monitors pin their baseline), and each micro-batch appends
    * its events' (event_id, week_idx, bin) rows to the state table,
    * with the event_id anti-join doubling as the redelivery guard. The
    * drift curve then DERIVES from the table through the same
    * [[graft.queries.RetrievalQueries.psiFromBinned]] tail the batch
    * operator uses, so drained-stream readout ≡ batch q181
    * (StreamingSpec asserts).
    */
  def psiDriftStream(
      events: DataFrame,
      minDay: Long, vmin: Double, vmax: Double,
      table: String,
      checkpointDir: String,
      queryName: String): StreamingQuery =
    eachBatch(events, checkpointDir, queryName) { batch =>
      val rows = batch.filter(col("value").isNotNull)
        .withColumn("vmin", lit(vmin)).withColumn("vmax", lit(vmax))
        .select(col("event_id"),
          expr(s"(unix_micros(ts) DIV 86400000000 - ${minDay}L) DIV 7")
            .as("week_idx"),
          graft.queries.RetrievalQueries.psiBin(col("value")).as("bin"))
      idempotentAppend(rows, table, "event_id")
    }

  /** Streaming mixture audit — q192 maintained incrementally: language
    * targets are FROZEN from the planning run (exactly how a shard
    * writer consumes them), each micro-batch appends its documents'
    * (doc_id, lang, emitted_tokens = n_repeats·n_tokens) rows
    * idempotently (doc_id anti-join), and the running
    * achieved-vs-target readout derives from the state table — the
    * live "is the realized mixture on track" dashboard. Per-doc repeat
    * arithmetic is EXACTLY q168's (md5-thresholded extra epoch), so
    * after draining the same corpus the audit ≡ batch q192
    * (StreamingSpec asserts).
    */
  def mixtureAuditStream(
      docs: DataFrame,
      targets: Seq[(String, Long, Long)], // (lang, lang_tokens, target_tokens)
      table: String,
      checkpointDir: String,
      queryName: String): StreamingQuery =
    eachBatch(docs, checkpointDir, queryName) { batch =>
      val spark = batch.sparkSession
      import spark.implicits._
      val tgt = broadcast(targets.toDF("lang", "lang_tokens", "target_tokens"))
      val h = graft.functions.HexKeys.value16(
        md5(concat(lit("mix|"), col("doc_id").cast("string")))).cast("long")
      val rows = batch
        .select(col("doc_id"), col("lang"),
          size(graft.functions.Text.tokens(col("text"))).cast("long").as("n_tokens"))
        .join(tgt, Seq("lang"))
        .withColumn("h", h)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          ((expr("target_tokens DIV lang_tokens") +
            when(col("h") * col("lang_tokens") <
                 (col("target_tokens") % col("lang_tokens")) * 65536L, 1L)
              .otherwise(0L)) * col("n_tokens")).as("emitted_tokens"))
      idempotentAppend(rows, table, "doc_id")
    }

  /** Schema of the `embeddings` parquet (query-side streaming ANN legs). */
  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-source stream of query vectors. */
  def readEmbeddings(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(embeddingSchema).parquet(dir)

  /** Streaming ANN serving — the SERVE-FOREVER half of q139's
    * build-once/serve-many split: each micro-batch of query vectors
    * probes the FROZEN centroids (a broadcast-sized closure constant)
    * and the persisted centroid_id-bucketed index via
    * [[graft.operators.Similarity.annTopKIvfServe]], so every batch
    * keeps the bucket-pruned scan (`SelectedBucketsCount`) and the
    * scoring semantics of the batch operator — per-query results are
    * independent, so drained-stream output ≡ one batch serve over the
    * same query set (StreamingSpec asserts). Results append to
    * `outTable`; re-delivered query ids anti-join out, so micro-batch
    * redelivery can't duplicate a query's top-k.
    */
  def annServeStream(
      queries: DataFrame,
      index: DataFrame,
      cents: Seq[(Long, Array[Double], Double)],
      k: Int, nprobe: Int,
      outTable: String,
      checkpointDir: String,
      queryName: String): StreamingQuery =
    eachBatch(queries, checkpointDir, queryName) { batch =>
      val res = graft.operators.Similarity.annTopKIvfServe(
        batch, index, cents, "vec_id", "embedding", k, nprobe)
      idempotentAppend(res, outTable, "query_id")
    }

  /** Streaming graph-ANN index maintenance — q273's insert beam on a
    * continuously-arriving vector stream (the index-lifecycle leg the
    * NN-descent family was missing, mirroring what
    * [[lshIndexMaintainStream]] does for the LSH band index): the base
    * NN-descent graph, base corpus, per-label entry points, and global
    * fallback entry are built ONCE at stream-construction time
    * ([[graft.queries.VectorQueries.insertContext]] — session-cached,
    * lineage-cut frames CAPTURED by the foreachBatch closure, because
    * micro-batch session clones would miss the per-session cache and
    * rebuild the graph every batch). Each micro-batch beam-searches the
    * BASE graph for its vectors' nearest base nodes and appends the
    * (src, dst) adoption edges. Inserts depend only on the base graph
    * (arriving vectors never see each other — the q273 contract), so the
    * drained edge table is identical under ANY micro-batch partitioning
    * and ≡ the one-shot batch insert (StreamingSpec asserts); the src
    * anti-join doubles as the redelivery guard (a vector's NndK edges
    * land atomically in its batch's append).
    */
  def annGraphMaintainStream(
      vectors: DataFrame,
      baseDir: String,
      table: String,
      checkpointDir: String,
      queryName: String): StreamingQuery = {
    val ctx = graft.queries.VectorQueries.insertContext(
      vectors.sparkSession, baseDir)
    eachBatch(vectors, checkpointDir, queryName) { batch =>
      idempotentAppend(graft.queries.VectorQueries.insertEdgesOver(ctx, batch), table, "src")
    }
  }

  /** Schema of the `documents` parquet (the corpus-side streaming legs). */
  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream of documents — the continuously-arriving-corpus
    * entry point for the curation legs below.
    */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(documentSchema).parquet(dir)

  /** Streaming BPE tokenize apply — q130 on a continuously-arriving
    * corpus: the fitted merge table is a broadcast-sized closure constant
    * and the greedy fold is STATELESS per document, so the leg is a pure
    * streaming map (append mode, no state store at all) whose output is
    * bit-identical to the batch operator on the same files. This is the
    * production shape: fit once (batch, q111), tokenize forever
    * (stream).
    */
  def tokenizeStream(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("string")).as[(Long, String)]
      .map { case (id, text) =>
        val toks = if (text == null) Seq.empty[String] else text.split(' ').toSeq
        val out  = graft.operators.Bpe.tokenize(toks, merges)
        (id, toks.length.toLong, out.length.toLong,
         out.count(_.contains(graft.operators.Bpe.Sep)).toLong)
      }
      .toDF("doc_id", "n_tokens_before", "n_tokens_after", "n_merged_tokens")
  }

  /** Streaming DSIR scoring — q148's importance model applied to a
    * document stream. The production split mirrors tokenizeStream's:
    * fit the ≤64-entry bucket model OFFLINE (batch,
    * [[graft.queries.CurationQueries.dsirModel]]), then score forever as
    * a STATELESS scan-local projection (append mode, no state store):
    * per token, one md5 → bucket → map lookup; per doc, an integer fold.
    * Σ qratio over token occurrences ≡ the batch Σ c·qratio — exact
    * integer arithmetic, so drained stream scores are bit-identical to
    * the batch weights (StreamingSpec joins them against q148's output).
    * `defaultQ` covers buckets the fit corpus never hit (the model
    * formula at count 0), so novel stream content scores exactly as the
    * batch model would score it.
    */
  def dsirScoreStream(docs: DataFrame, model: Map[Long, Long],
                      defaultQ: Long, buckets: Int): DataFrame = {
    val m = map(model.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val dimOf = (t: Column) =>
      (graft.functions.HexKeys.value16(md5(concat(lit("fh|"), t)), 0) % buckets)
        .cast(LongType)
    docs.select(col("doc_id"),
      aggregate(
        transform(split(col("text"), " "),
                  t => coalesce(element_at(m, dimOf(t)), lit(defaultQ))),
        lit(0L), (acc, x) => acc + x).as("logw_q"))
  }

  /** Streaming language-mixing profile — q150 as a STATELESS scan-local
    * projection (append mode, no state store): a document's segments all
    * live inside its own row, so the whole distribution profile
    * (dominant language, share, language count, quantized mixing
    * entropy) computes with higher-order array functions per row — a
    * SECOND implementation of the q150 semantics (the batch path is
    * explode + two doc-key aggs), which StreamingSpec pins set-equal.
    * Tie-break parity: the fold iterates languages in lexicographic
    * order with strictly-greater wins — exactly min(struct(-c, lang)).
    */
  def langMixStream(docs: DataFrame): DataFrame = {
    import graft.functions.Text
    val W = 10
    val toks = split(col("text"), " ")
    val nSegs = greatest(
      ceil(size(toks).cast("double") / lit(W.toDouble)).cast("int"), lit(1))
    val segTexts = transform(sequence(lit(0), nSegs - 1),
      i => array_join(slice(toks, i * W + 1, lit(W)), " "))
    val langs = transform(segTexts, t => Text.langId(t))
    val langNames = Seq("de", "en", "es", "fr", "und", "zh") // lex order
    val cnts = langNames.map(l =>
      size(filter(langs, x => x === lit(l))).cast("long"))
    val (domLang, domCnt) = langNames.zip(cnts)
      .foldLeft((lit("").cast("string"), lit(-1L))) {
        case ((bl, bc), (l, c)) =>
          (when(c > bc, lit(l)).otherwise(bl), when(c > bc, c).otherwise(bc))
      }
    val n = size(langs).cast("double")
    def term(c: Column): Column = {
      val p = c.cast("double") / n
      when(c > 0, floor(-p * log(p) * 1e9 + lit(0.5)).cast("long"))
        .otherwise(lit(0L))
    }
    val nLangs = cnts.map(c => when(c > 0, lit(1L)).otherwise(lit(0L))).reduce(_ + _)
    val domShare = domCnt.cast("double") / n
    docs.select(col("doc_id"),
      size(langs).cast("long").as("n_segments"),
      nLangs.as("n_langs"),
      domLang.as("dominant_lang"),
      domShare.as("dominant_share"),
      cnts.map(term).reduce(_ + _).as("mix_entropy_q"),
      (domShare < 0.8).as("is_mixed"))
  }

  /** Streaming perceptual dedup at the exact-dHash granularity: each
    * document's pattern image decodes and hashes scan-locally (stateless
    * map — q127's dHash64), then a streaming aggregate keeps ONE row per
    * distinct hash (first-seen canonical = min id, group size). State is
    * bounded by the number of DISTINCT perceptual hashes, not the
    * stream length — re-encoded copies (Hamming 0) collapse as they
    * arrive. Near-dup banding (Hamming ≤ 7) stays the batch path
    * (q127/q132): band state would need per-band postings, which is the
    * batch index this engine maintains in the warehouse.
    */
  def perceptualDedupStream(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val h = graft.operators.Multimodal.dHash64(
          graft.operators.Multimodal.syntheticPatternPng(id))
          .getOrElse(sys.error(s"undecodable synthetic PNG for id $id"))
        (id, h)
      }
      .toDF("media_id", "dhash")
      .groupBy(col("dhash"))
      .agg(min(col("media_id")).as("canonical_id"),
           count(lit(1)).as("group_size"))
  }

  /** Stream–stream bounded range join — the streaming leg of
    * [[graft.operators.TemporalJoins.boundedRangeJoin]] (q43's batch
    * semantics: right rows with `r.ts ∈ (l.ts, l.ts + window]` on the
    * same user), rendered with Spark's NATIVE stream-stream inner join:
    * watermarks on BOTH sides plus an event-time interval condition,
    * which is exactly what lets the state store evict — each side
    * buffers only rows inside the watermark + window horizon, so state
    * is bounded by stream RATE, not stream length. `left`/`right` are
    * event frames with canonical `ts` ([[read]]).
    */
  def rangeJoinStream(left: DataFrame, right: DataFrame,
                      windowSeconds: Long,
                      watermark: String = "1 hour"): DataFrame = {
    val l = left.select(col("event_id").as("view_event_id"), col("user_id"),
                        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val r = right.select(col("user_id").as("r_user_id"),
                         col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", watermark)
    l.join(r,
        col("user_id") === col("r_user_id") &&
          col("purchase_ts") > col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(col("view_event_id"), col("user_id"), col("view_ts"),
              col("purchase_ts"), col("value"))
  }

  /** Streaming perceptual AUDIO dedup — the audio twin of
    * [[perceptualDedupStream]]: each document's tone clip decodes and
    * fingerprints scan-locally (stateless map — q135's
    * `audioFingerprint64`), then a streaming aggregate keeps ONE row per
    * distinct fingerprint (first-seen canonical = min id, group size).
    * State is bounded by the number of DISTINCT fingerprints (177 per
    * 500 fixture ids), not the stream length; near-dup banding stays the
    * batch path (q135/q137) for the same reason as the image leg.
    */
  def audioDedupStream(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val h = graft.operators.Multimodal.audioFingerprint64(
          graft.operators.Multimodal.syntheticToneWav(id))
          .getOrElse(sys.error(s"undecodable synthetic WAV for id $id"))
        (id, h)
      }
      .toDF("media_id", "afp")
      .groupBy(col("afp"))
      .agg(min(col("media_id")).as("canonical_id"),
           count(lit(1)).as("group_size"))
  }

  /** Streaming quantile sketch — q147's bottom-k md5 sample as a stream:
    * the TopKPairs TypedImperativeAggregate's O(k) buffer IS the
    * streaming state (≤ k (hash, id) pairs per group regardless of
    * stream length), and the drained sample — hence every interpolated
    * quantile read from it — is bit-identical to the batch sketch
    * (bottom-k is order-insensitive). Emits the sampled VALUES so the
    * spec can compare sample-for-sample.
    */
  def quantileSketchStream(events: DataFrame, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.graftx.{SortableDouble, TopKPairs}
    events.filter(col("value").isNotNull)
      .select(col("event_type"),
        concat(md5(concat(lit("qsk|"), col("event_id").cast("string"))),
               lit("|"), SortableDouble.sortKeyDesc(col("value"))).as("skey"),
        col("event_id"))
      .groupBy(col("event_type"))
      .agg(TopKPairs.topK(col("skey"), col("event_id"), k).as("top"))
      .select(col("event_type"),
        sort_array(transform(col("top"),
          x => SortableDouble.decodeDesc(substring(x.getField("key"), 34, 16))))
          .as("sampled_values"))
  }

  /** Streaming MinHash-LSH near-dup CANDIDATES — the banded variant of
    * [[dedupStream]] (exact keys) and the streaming twin of the batch
    * `Dedup.minhashCandidates`: each arriving document computes its LSH
    * bands SCAN-LOCALLY (`Dedup.rowBands` — stateless, no per-batch
    * shuffle), and candidate pairs are a STREAM-STREAM SELF-JOIN on
    * (band_idx, band_hash) with watermarks on both sides plus an
    * event-time bound, so the state store buffers only band postings
    * inside the watermark+horizon window — state ∝ rate × horizon, never
    * stream length. Matches the batch operator exactly for pairs within
    * the horizon (StreamingSpec asserts both the parity and the horizon
    * cutoff). Documents carry no timestamp, so event time derives
    * deterministically from doc_id (epoch 2024-01-01 + doc_id seconds) —
    * identical on the batch side, where withWatermark is a no-op.
    */
  def minhashCandidateStream(docs: DataFrame, horizonSeconds: Long,
                             watermark: String = "1 hour"): DataFrame = {
    val bands = docs
      .select(col("doc_id"),
              (lit(1704067200L) + col("doc_id")).cast("timestamp").as("ts"),
              explode(graft.operators.Dedup.rowBands(col("text"))).as("band"))
      .select(col("doc_id"), col("ts"),
              col("band.band_idx").as("band_idx"),
              col("band.band_hash").as("band_hash"))
    val a = bands.select(col("band_idx"), col("band_hash"),
                         col("doc_id").as("doc_a"), col("ts").as("ts_a"))
      .withWatermark("ts_a", watermark)
    val b = bands.select(col("band_idx").as("bi_b"), col("band_hash").as("bh_b"),
                         col("doc_id").as("doc_b"), col("ts").as("ts_b"))
      .withWatermark("ts_b", watermark)
    a.join(b,
        col("band_idx") === col("bi_b") && col("band_hash") === col("bh_b") &&
          col("doc_a") < col("doc_b") &&
          col("ts_b") >= col("ts_a") - expr(s"INTERVAL $horizonSeconds SECONDS") &&
          col("ts_b") <= col("ts_a") + expr(s"INTERVAL $horizonSeconds SECONDS"))
      .select(col("doc_a"), col("doc_b"), col("ts_a"))
      .dropDuplicates("doc_a", "doc_b", "ts_a")
  }

  final case class PackDoc(doc_id: Long, n: Long, stream_id: Long)
  final case class PackState(bin: Long, fill: Long)
  final case class PackAssign(doc_id: Long, stream_id: Long, bin_seq: Long,
                              n_tokens: Long, bin_fill_after: Long)

  /** Streaming greedy sequence packing — q140's per-stream first-fit fold
    * with CARRY-OVER state: the open bin (id + fill) survives micro-batch
    * boundaries, so a doc arriving in batch 7 packs into the bin batch 6
    * left open — the shape a continuously-fed training-batch builder
    * needs (close a bin only when the next doc overflows it, never at an
    * arbitrary trigger boundary). State per stream key is TWO longs,
    * bounded forever. Parity contract (asserted in StreamingSpec, both
    * single-batch and a two-batch MemoryStream split): drained
    * assignments are bit-identical to `Sharding.packGreedy` whenever
    * docs arrive in doc_id order per stream — the same in-order
    * precondition the batch fold gets from flatMapSortedGroups; within a
    * micro-batch arrival order is free (we sort the group's slice).
    */
  def packStream(docs: DataFrame, capacity: Long,
                 numStreams: Int = 32): Dataset[PackAssign] = {
    require(capacity >= 1, "packStream needs capacity >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"),
                size(split(col("text"), " ")).cast("long").as("n"),
                pmod(col("doc_id").cast("long"), lit(numStreams.toLong)).as("stream_id"))
      .as[PackDoc]
      .groupByKey(_.stream_id)
      .flatMapGroupsWithState[PackState, PackAssign](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (stream, batch, state: GroupState[PackState]) =>
          val sorted = batch.toSeq.sortBy(_.doc_id)
          var (bin, fill) = state.getOption
            .map(s => (s.bin, s.fill)).getOrElse((0L, -1L))
          val out = sorted.map { d =>
            if (fill < 0 || fill + d.n > capacity) { bin += 1; fill = d.n }
            else fill += d.n
            PackAssign(d.doc_id, stream, bin, d.n, fill)
          }
          state.update(PackState(bin, fill))
          out.iterator
      }
  }

  /** Drive a streaming DataFrame to completion against currently-available
    * files (Trigger.AvailableNow-style smoke path for local verification)
    * into the memory table `queryName`. Each `step` (e.g. a MemoryStream
    * addData) runs after the previous drain and is drained in turn — the
    * explicit micro-batch boundaries carry-over-state parity tests need.
    */
  def runToMemorySink(df: DataFrame, queryName: String,
                      outputMode: OutputMode = OutputMode.Complete(),
                      steps: Seq[() => Unit] = Nil): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    steps.foreach { s => s(); q.processAllAvailable() }
    q.stop()
    df.sparkSession.table(queryName)
  }
}
