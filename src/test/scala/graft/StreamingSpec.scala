package graft

import graft.streaming.EventsStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming smoke over the real events parquet: windowed agg
  * with watermark matches the equivalent batch query; stateful running
  * per-user stats accumulate.
  */
class StreamingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** File-source streams need a directory; stage the single events file
    * into one.
    */
  private lazy val eventsDir: String = {
    val d = fixtureDir("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  /** Staged documents dir for the corpus-side streaming legs. */
  private lazy val docsDir: String = {
    val d = fixtureDir("graft-stream-docs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d.resolve("documents.parquet"))
    d.toString
  }

  test("streaming BPE tokenize ≡ batch apply; stateless (append mode)") {
    val docs  = graft.core.Tables(spark, dir).documents
    val merges = graft.operators.Bpe.fit(docs, "text", numMerges = 5)
    val streamed = EventsStream.runToMemorySink(
      EventsStream.tokenizeStream(
        EventsStream.readDocuments(spark, docsDir), merges),
      "stream_tok", OutputMode.Append())
    val batch = EventsStream.tokenizeStream(docs, merges)
    assert(streamed.collect().toSet === batch.collect().toSet)
    assert(streamed.count() === docs.count())
  }

  test("tokenizeStream drops empty words and returns the shared corpus apply's rows") {
    import spark.implicits._
    // leading, trailing and doubled spaces, a blank text and a null text
    val texts = Seq(" a b", "a  b c ", null, "  ", "a b a b", "b  a b a ")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Seq(("a", "b"))
    val streamed = EventsStream.tokenizeStream(docs, merges)
    val before = streamed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before === texts.zipWithIndex.map { case (t, i) =>
      i.toLong -> Option(t).fold(0L)(_.split(" ").count(_.nonEmpty).toLong)
    }.toMap)
    val applied = graft.operators.Bpe.applyCorpus(docs, merges)
      .select("doc_id", "n_tokens_before", "n_tokens_after", "n_merged_tokens")
    assert(streamed.collect().toSet === applied.collect().toSet)
  }

  test("streaming language-mixing profile ≡ batch q150 (stateless append)") {
    val streamed = EventsStream.runToMemorySink(
      EventsStream.langMixStream(EventsStream.readDocuments(spark, docsDir)),
      "stream_langmix", OutputMode.Append())
    val batch = SparkEntry.queries("q150_lang_mixing")(spark, dir)
    // two independent implementations (in-row higher-order fold vs
    // explode + two aggs) must agree row-for-row
    assert(streamed.collect().toSet === batch.collect().toSet)
    assert(streamed.count() === graft.core.Tables(spark, dir).documents.count())
  }

  test("streaming DSIR scoring ≡ batch importance weights (stateless append)") {
    val (model, defaultQ) = graft.queries.CurationQueries.dsirModel(spark, dir)
    val streamed = EventsStream.runToMemorySink(
      EventsStream.dsirScoreStream(
        EventsStream.readDocuments(spark, docsDir), model, defaultQ,
        graft.queries.CurationQueries.DsirB),
      "stream_dsir", OutputMode.Append())
    // every doc scores exactly once, statelessly
    assert(streamed.count() === graft.core.Tables(spark, dir).documents.count())
    // cross-implementation check against the oracle-gated batch output:
    // the batch path is explode → (doc,dim) agg → broadcast-model join →
    // Σ c·qratio; the stream path is a per-row integer fold. Same doc ⇒
    // bit-identical weight (integer arithmetic on both sides).
    val batchTop = SparkEntry.queries("q148_importance_resample")(spark, dir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("logw_q"))
    val joined = batchTop.join(
      streamed.withColumnRenamed("logw_q", "stream_logw"), "doc_id")
    assert(joined.count() === batchTop.count())
    assert(joined.filter(
      org.apache.spark.sql.functions.col("logw_q") =!=
        org.apache.spark.sql.functions.col("stream_logw")).count() === 0)
  }

  test("streaming perceptual dedup collapses re-encoded copies; state ∝ distinct hashes") {
    val docs = graft.core.Tables(spark, dir).documents
    val streamed = EventsStream.runToMemorySink(
      EventsStream.perceptualDedupStream(
        EventsStream.readDocuments(spark, docsDir)),
      "stream_phash")
    val batch = EventsStream.perceptualDedupStream(docs)
    assert(streamed.collect().toSet === batch.collect().toSet)
    // state bound: one row per distinct hash, and dups DID collapse
    assert(streamed.count() < docs.count())
    assert(streamed.agg(sum("group_size")).head.getLong(0) === docs.count())
  }

  test("streaming audio dedup collapses identical fingerprints; state ∝ distinct fingerprints") {
    val docs = graft.core.Tables(spark, dir).documents
    val streamed = EventsStream.runToMemorySink(
      EventsStream.audioDedupStream(
        EventsStream.readDocuments(spark, docsDir)),
      "stream_afp")
    val batch = EventsStream.audioDedupStream(docs)
    assert(streamed.collect().toSet === batch.collect().toSet)
    // state bound: one row per distinct fingerprint, and dups DID collapse
    assert(streamed.count() < docs.count())
    assert(streamed.agg(sum("group_size")).head.getLong(0) === docs.count())
  }

  test("streaming KMV distinct is bit-identical to the batch sketch; state ≤ k per group") {
    val docs = graft.core.Tables(spark, dir).documents
    val streamed = EventsStream.runToMemorySink(
      EventsStream.kmvDistinctStream(
        EventsStream.readDocuments(spark, docsDir)),
      "stream_kmv")
    val batch = EventsStream.kmvDistinctStream(docs)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "drained stream KMV estimates differ from the batch sketch")
    // and against q66's gated batch query (same k, same hash derivation)
    val q66 = SparkEntry.queries("q66_kmv_distinct")(spark, dir)
      .select(col("lang"), col("est_distinct_tokens"))
    assert(streamed.exceptAll(q66).isEmpty && q66.exceptAll(streamed).isEmpty,
      "stream sketch diverged from q66's estimates")
  }

  test("windowed streaming aggregation matches the batch equivalent") {
    val streamed = EventsStream.runToMemorySink(
      EventsStream.windowedRates(EventsStream.read(spark, eventsDir)),
      "stream_rates")
    val batch = EventsStream.windowedRates(
      graft.core.Tables(spark, dir).events
        .select("event_id", "ts", "user_id", "event_type", "value", "props"))
    // batch "streaming" DF: same expression tree works on a static frame
    val batchRows = batch.count()
    assert(streamed.count() == batchRows && batchRows > 0)
    val s = streamed.agg(sum("n_events")).head.getLong(0)
    assert(s == 1000) // every event lands in exactly one tumbling window
  }

  test("streaming CMS sketch is bit-identical to the batch sketch; state is constant-size") {
    val streamed = EventsStream.runToMemorySink(
      EventsStream.cmsSketchStream(EventsStream.read(spark, eventsDir), "user_id"),
      "stream_cms")
    val batch = EventsStream.cmsSketchStream(
      graft.core.Tables(spark, dir).events
        .select("event_id", "ts", "user_id", "event_type", "value", "props"),
      "user_id")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "drained stream sketch differs from the batch sketch")
    // the whole point: state rows are bounded by d·w, not by key cardinality
    assert(streamed.count() <= 4 * 1024)
    // and estimates from the sketch never undercount the exact frequency
    val sketch = streamed.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val exact = graft.core.Tables(spark, dir).events
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    exact.foreach { case (uid, n) =>
      val hex = md5hex(s"cms|$uid")
      val h1  = Integer.parseInt(hex.substring(0, 4), 16)
      val h2  = Integer.parseInt(hex.substring(4, 8), 16)
      val est = (0 until 4).map(j => sketch((j, (h1 + j * h2) % 1024))).min
      assert(est >= n, s"sketch undercounts user $uid: $est < $n")
    }
  }

  test("streaming drift bins ≡ batch binning; state bounded by bin count") {
    // reference stats fitted "offline" (batch, even event_ids — q112's
    // reference side), then the CURRENT side streams against the fixed
    // bins with ≤10 rows of state
    val ref = graft.core.Tables(spark, dir).events
      .filter(col("event_id") % 2 === 0)
      .agg(min("value"), max("value")).head
    val (vmin, vmax) = (ref.getDouble(0), ref.getDouble(1))
    val streamed = EventsStream.runToMemorySink(
      EventsStream.binCountsStream(
        EventsStream.read(spark, eventsDir), vmin, vmax),
      "stream_drift")
    // the batch side is an INDEPENDENT restatement of q112's bin formula
    // (not binCountsStream again — a self-comparison would pass even if
    // the shared function drifted from the batch monitor's arithmetic)
    val batch = graft.core.Tables(spark, dir).events
      .filter(col("value").isNotNull)
      .select(greatest(lit(0.0),
          when(lit(vmax) > lit(vmin),
            least(floor((col("value") - vmin) / (vmax - vmin) * 10), lit(9.0)))
          .otherwise(lit(0.0)))
        .cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    assert(streamed.count() > 0 && streamed.count() <= 10)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "drained stream bin counts differ from the q112-style batch binning")
  }

  test("streaming moment sums ≡ batch covariance moments, bit-identical; state ≤ d(d+1)/2 + d") {
    import org.apache.spark.sql.types._
    val embDir = {
      val d = fixtureDir("graft-stream-emb")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/embeddings.parquet"),
        d.resolve("embeddings.parquet"))
      d.toString
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val streamed = EventsStream.runToMemorySink(
      EventsStream.momentSumsStream(
        spark.readStream.schema(schema).parquet(embDir)
          .select(col("embedding").cast("array<double>").as("v"))),
      "stream_moments")
    // batch side restated independently (composable HOF term build, not
    // MomentTerms — a shared-function drift would not self-confirm)
    val pairTerms = flatten(transform(sequence(lit(1), size(col("v"))), i =>
      transform(sequence(i, size(col("v"))), j =>
        struct(i.cast("int").as("i"), j.cast("int").as("j"),
               (element_at(col("v"), i) * element_at(col("v"), j)).as("t")))))
    val rawTerms = transform(sequence(lit(1), size(col("v"))), i =>
      struct(i.cast("int").as("i"), lit(0).as("j"), element_at(col("v"), i).as("t")))
    val batch = graft.core.Tables(spark, dir).embeddings
      .select(col("embedding").cast("array<double>").as("v"))
      .select(explode(concat(pairTerms, rawTerms)).as("e"))
      .groupBy(col("e.i").as("i"), col("e.j").as("j"))
      .agg(sum(col("e.t").cast("decimal(28,14)")).as("s"), count(lit(1)).as("n"))
    assert(streamed.count() == 64L * 65 / 2 + 64)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "drained streaming moment table differs from the batch aggregate")
  }

  test("stream-stream bounded range join ≡ the batch range join (q43 semantics)") {
    val views = EventsStream.read(spark, eventsDir).filter(col("event_type") === "view")
    val purchases = EventsStream.read(spark, eventsDir).filter(col("event_type") === "purchase")
    val streamed = EventsStream.runToMemorySink(
      EventsStream.rangeJoinStream(views, purchases, windowSeconds = 3600L),
      "stream_range", OutputMode.Append())
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3),
                 r.getDouble(4))).toSet
    val e = graft.core.Tables(spark, dir).events
    val batch = graft.operators.TemporalJoins.boundedRangeJoin(
        e.filter(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), col("ts")),
        e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value")),
        Seq("user_id"), "ts", "ts", 3600L * 1000000L)
      .select(col("event_id"), col("user_id"), col("ts"), col("r_ts"), col("r_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3),
                 r.getDouble(4))).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch, "stream-stream interval join diverged from the batch range join")
  }

  test("streaming EWMA state ≡ batch q160 after drain") {
    val streamed = EventsStream.runToMemorySink(
      EventsStream.ewmaStream(EventsStream.read(spark, eventsDir)).toDF(),
      "stream_ewma", OutputMode.Update())
    val batch = SparkEntry.queries("q160_ewma_deviation")(spark, dir)
    // identical IEEE fold order ⇒ bit-identical doubles, so plain set
    // equality (no tolerance) is the assertion
    assert(streamed.collect().toSet === batch.collect().toSet)
    assert(streamed.count() === batch.count())
  }

  test("flatMapGroupsWithState sessionization matches batch sessions (closed ones)") {
    import org.apache.spark.sql.expressions.Window
    val streamed = EventsStream.runToMemorySink(
      EventsStream.sessionizeStream(EventsStream.read(spark, eventsDir)).toDF(),
      "stream_sessions", OutputMode.Append())
      .select("user_id", "session_start", "session_end",
              "n_events", "total_value", "duration_seconds")
    val ev = graft.core.Tables(spark, dir).events
    val sess = graft.operators.TemporalJoins
      .sessionize(ev, Seq("user_id"), "ts", 30L * 60 * 1000000)
    val batch = sess.groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
           count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
           ((unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))) / lit(1000000L))
             .cast("long").as("duration_seconds"))
    // each user's LAST session is still open in stream state → closed only
    val closedBatch = batch
      .withColumn("max_seq", max(col("session_seq")).over(Window.partitionBy(col("user_id"))))
      .filter(col("session_seq") < col("max_seq"))
      .select("user_id", "session_start", "session_end",
              "n_events", "total_value", "duration_seconds")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(closedBatch).isEmpty, "stream rows missing from batch")
    assert(closedBatch.exceptAll(streamed).isEmpty, "batch rows missing from stream")
  }

  test("sessionization carries state across micro-batches; late events clamp or drop") {
    import spark.implicits._
    val streamDir = fixtureDir("graft-stream-mb").toString
    // minutes → TIMESTAMP_NTZ at that instant (UTC wall clock) — the same
    // physical reading the real events parquet produces on this toolchain
    def minNtz(m: Long): java.time.LocalDateTime =
      java.time.LocalDateTime.ofEpochSecond(m * 60L, 0, java.time.ZoneOffset.UTC)
    def writeBatch(rows: Seq[(Long, Long, Long)], file: String): Unit = {
      // the file source doesn't recurse: stage the part file at the root
      val scratch = fixtureDir("graft-mb-scratch")
      rows.map { case (id, tsMin, uid) => (id, minNtz(tsMin), uid, "view", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = new java.io.File(scratch.toString).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(streamDir, s"$file.parquet"))
    }
    // batch 1: user 1 at 10:00 and 10:20 (open session), user 2 at 11:00
    writeBatch(Seq((1L, 600L, 1L), (2L, 620L, 1L), (3L, 660L, 2L)), "b1")
    val q = EventsStream.sessionizeStream(EventsStream.read(spark, streamDir)).toDF()
      .writeStream.format("memory").queryName("mb_sessions")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    assert(spark.table("mb_sessions").count() == 0) // nothing closed yet
    // batch 2 (sorted in-batch: 08:00, 10:05, 12:00, 13:00 for user 1):
    //  08:00 → more than a gap BEFORE the open session's start → dropped
    //  10:05 → inside the open session's window → merged (n grows, bounds keep)
    //  12:00 → closes [10:00,10:20] (now 3 events), opens [12:00]
    //  13:00 → closes [12:00,12:00], opens [13:00]
    writeBatch(Seq((4L, 480L, 1L), (5L, 605L, 1L), (6L, 720L, 1L), (7L, 780L, 1L)), "b2")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("mb_sessions")
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000, r.getTimestamp(2).getTime / 60000,
                 r.getLong(3), r.getDouble(4))).toSet
    assert(got == Set(
      (1L, 600L, 620L, 3L, 3.0),   // late 10:05 merged; 08:00 dropped
      (1L, 720L, 720L, 1L, 1.0)))  // the 12:00 singleton; 13:00 + user 2 still open
  }

  test("foreachBatch incremental sink upserts by key and replays idempotently") {
    val target = fixtureDir("graft-inc-target").toString
    def runOnce(checkpoint: String): Unit = {
      val q = EventsStream.incrementalSink(
        EventsStream.read(spark, eventsDir).select("event_id", "ts", "value"),
        target, "event_id", checkpoint, s"inc_sink_${checkpoint.hashCode}")
      q.processAllAvailable(); q.stop()
    }
    runOnce(fixtureDir("graft-inc-cp1").toString)
    val after1 = spark.read.parquet(target).count()
    assert(after1 == 1000) // every distinct event_id landed once
    // fresh checkpoint → the source REPLAYS everything; the key anti-join
    // must keep the target unchanged
    runOnce(fixtureDir("graft-inc-cp2").toString)
    val after2 = spark.read.parquet(target)
    assert(after2.count() == 1000)
    assert(after2.select("event_id").distinct().count() == 1000)
  }

  test("incremental sink appends each micro-batch to a file: URI target") {
    import spark.implicits._
    val src    = fixtureDir("graft-uri-src").toString
    val target = fixtureDir("graft-uri-tgt").toUri.toString
    val cp     = fixtureDir("graft-uri-cp").toString
    def arrive(ids: Long*): Unit = ids.map(id => (id, id.toDouble)).toDF("event_id", "value")
      .coalesce(1).write.mode("append").parquet(src)
    arrive(1L, 2L)
    val q = EventsStream.incrementalSink(
      spark.readStream.schema("event_id BIGINT, value DOUBLE").parquet(src),
      target, "event_id", cp, "uri_sink")
    try {
      q.processAllAvailable()
      arrive(3L, 4L)
      q.processAllAvailable()
    } finally q.stop()
    val keys = spark.read.parquet(target).select("event_id").as[Long].collect().sorted.toSeq
    assert(keys == Seq(1L, 2L, 3L, 4L), s"a later micro-batch replaced earlier ones: $keys")
  }

  test("incremental sink dedupes duplicate keys within a batch; orderCol picks latest") {
    import spark.implicits._
    val srcDir = fixtureDir("graft-dup-src").toString
    // one batch carrying THREE versions of key 1 (different ts) + key 2
    Seq((1L, 100L, 10.0), (1L, 300L, 30.0), (1L, 200L, 20.0), (2L, 50L, 5.0))
      .toDF("event_id", "ts", "value")
      .repartition(3) // dupes spread across partitions — the pick must not depend on layout
      .write.mode("overwrite").parquet(srcDir)
    val target = fixtureDir("graft-dup-target").toString
    val cp     = fixtureDir("graft-dup-cp").toString
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))))
      .parquet(srcDir)
    val q = EventsStream.incrementalSink(stream, target, "event_id", cp, "dup_sink",
      orderCol = Some("ts"))
    q.processAllAvailable(); q.stop()
    val rows = spark.read.parquet(target).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.size == 2)
    assert(rows(1L) == ((300L, 30.0)), "latest ts must win within the batch")
    assert(rows(2L) == ((50L, 5.0)))
  }

  test("incremental sink RESTARTS from checkpointLocation: committed batches are not re-read") {
    // The cluster failure mode the checkpoint exists for: the query dies
    // mid-stream (here: stopped after batch 0, with more data arriving
    // while it is down), and a NEW StreamingQuery instance on the SAME
    // checkpointLocation must resume from the recorded offsets — reading
    // ONLY the unseen files, never re-reading committed batches — while
    // the target stays exactly-once. Replay idempotence (fresh checkpoint
    // re-reads everything, anti-join absorbs it) is covered above; this
    // asserts the recovery path itself via the restarted run's
    // numInputRows and the checkpoint's advancing batch ids.
    import spark.implicits._
    val src    = fixtureDir("graft-rst-src").toString
    val target = fixtureDir("graft-rst-tgt").toString
    val cp     = fixtureDir("graft-rst-cp").toString
    def minNtz(m: Long): java.time.LocalDateTime =
      java.time.LocalDateTime.ofEpochSecond(m * 60L, 0, java.time.ZoneOffset.UTC)
    def writeEvents(rows: Seq[Long], file: String): Unit = {
      val scratch = fixtureDir("graft-rst-scratch")
      rows.map(id => (id, minNtz(600L + id), id, "view", id.toDouble, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = new java.io.File(scratch.toString).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(src, s"$file.parquet"))
    }
    def runOnce(name: String): Long = {
      val q = EventsStream.incrementalSink(
        EventsStream.read(spark, src).select("event_id", "ts", "value"),
        target, "event_id", cp, name)
      q.processAllAvailable()
      val inputRows = q.recentProgress.map(_.numInputRows).sum
      q.stop()
      inputRows
    }
    writeEvents(Seq(1L, 2L, 3L), "b1")
    assert(runOnce("restart_inc_1") == 3L)
    assert(spark.read.parquet(target).count() == 3L)
    // the query is DOWN; the world keeps producing
    writeEvents(Seq(4L, 5L), "b2")
    // restart on the same checkpoint: only the 2 unseen rows may be read
    val run2 = runOnce("restart_inc_2")
    assert(run2 == 2L,
      s"restart re-read committed data: $run2 input rows (want 2)")
    val keys = spark.read.parquet(target).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keys == Seq(1L, 2L, 3L, 4L, 5L), s"exactly-once violated: $keys")
    // the restarted run continued the batch sequence (0 then 1) rather
    // than starting a new one — the offsets genuinely came from cp
    val commits = new java.io.File(cp, "commits").list().toSeq
      .filter(_.forall(_.isDigit)).map(_.toInt).sorted
    assert(commits == Seq(0, 1), s"commit log did not advance across restart: $commits")
  }

  test("LSH index maintenance RESTARTS from checkpointLocation; index ≡ batch build") {
    import spark.implicits._
    val src   = fixtureDir("graft-rstl-src").toString
    val cp    = fixtureDir("graft-rstl-cp").toString
    val table = graft.sources.Warehouse.sessionScopedName(spark, "graft_lsh_restart_idx")
    def writeDocs(rows: Seq[(Long, String)], file: String): Unit = {
      val scratch = fixtureDir("graft-rstl-scratch")
      rows.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = new java.io.File(scratch.toString).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(src, s"$file.parquet"))
    }
    def runOnce(name: String): Long = {
      val q = EventsStream.lshIndexMaintainStream(
        EventsStream.readDocuments(spark, src), table, cp, name)
      q.processAllAvailable()
      val inputRows = q.recentProgress.map(_.numInputRows).sum
      q.stop()
      inputRows
    }
    val batch1 = Seq(1L -> "the quick brown fox jumps over the lazy dog today",
                     2L -> "pack my box with five dozen liquor jugs right now")
    val batch2 = Seq(3L -> "sphinx of black quartz judge my vow before sunset")
    writeDocs(batch1, "b1")
    assert(runOnce("lsh_restart_1") == 2L)
    writeDocs(batch2, "b2")
    assert(runOnce("lsh_restart_2") == 1L,
      "restarted maintenance re-read committed documents")
    // state table ≡ the one-shot batch band build over ALL docs
    val all = (batch1 ++ batch2).toDF("doc_id", "text")
    val want = graft.operators.Dedup
      .lshBands(graft.operators.Dedup.minhashSignatures(all, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val got = spark.table(table)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got === want, "restarted index diverged from the one-shot build")
  }

  test("streaming graph-ANN insert ≡ one-shot batch insert; redelivery is a no-op") {
    // q273's insert beam as index maintenance on an arriving vector
    // stream: two micro-batches (maxFilesPerTrigger=1) must drain to the
    // SAME edge table as one batch insert over the union — inserts
    // depend only on the base graph, never on each other — and a full
    // re-read (fresh checkpoint = total redelivery) must not duplicate
    val src   = fixtureDir("graft-anng-src").toString
    val table = graft.sources.Warehouse.sessionScopedName(spark, "graft_ann_graph_idx")
    val delta = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 5 === 3)
    // two key-disjoint halves of the delta split → two files
    delta.filter(col("vec_id") % 10 === 3).coalesce(1)
      .write.parquet(s"$src/half1")
    delta.filter(col("vec_id") % 10 === 8).coalesce(1)
      .write.parquet(s"$src/half2")
    def halves(d: String) = new java.io.File(s"$src/$d").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(halves("half1").toPath,
      java.nio.file.Paths.get(src, "b1.parquet"))
    java.nio.file.Files.copy(halves("half2").toPath,
      java.nio.file.Paths.get(src, "b2.parquet"))
    def runOnce(name: String): Unit = {
      val cp = fixtureDir("graft-anng-cp").toString
      val vecs = spark.readStream.schema(EventsStream.embeddingSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*.parquet")
      val q = EventsStream.annGraphMaintainStream(vecs, dir, table, cp, name)
      q.processAllAvailable()
      assert(q.recentProgress.length >= 2,
        "maxFilesPerTrigger=1 should yield at least two micro-batches")
      q.stop()
    }
    runOnce("ann_graph_maintain_1")
    val want = graft.queries.VectorQueries.insertEdgesOver(
        graft.queries.VectorQueries.insertContext(spark, dir), delta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = spark.table(table)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want, "drained edge table diverged from the one-shot insert")
    // total redelivery (fresh checkpoint re-reads every file): no-op
    runOnce("ann_graph_maintain_2")
    val replay = spark.table(table)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(replay === want, "redelivered batches duplicated insert edges")
  }

  test("streaming cap-index maintenance ≡ one-shot cap; evictions happen; replay is a no-op") {
    import spark.implicits._
    val src   = fixtureDir("graft-cap-src").toString
    val table = graft.sources.Warehouse.sessionScopedName(spark, "graft_cap_stream_idx")
    val all = graft.core.Tables(spark, dir).documents
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    def stage(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val scratch = fixtureDir("graft-cap-scratch")
      all.filter(pred).coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = new java.io.File(scratch.toString).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(src, s"$name.parquet"))
    }
    def drain(cp: String, name: String): Long = {
      val q = EventsStream.capIndexMaintainStream(
        EventsStream.readDocuments(spark, src), table, cp, name)
      q.processAllAvailable()
      val inputRows = q.recentProgress.map(_.numInputRows).sum
      q.stop()
      inputRows
    }
    val cp1 = fixtureDir("graft-cap-cp1").toString
    def snapshot(): Set[(String, Long, Long)] = {
      // the maintenance leg overwrites the table in place; its refresh
      // covers the stream's cloned session, so this reader refreshes too
      // (the leg's documented contract)
      spark.catalog.refreshTable(table)
      spark.table(table)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    }
    // the split must be INDEPENDENT of `source` (testdata assigns
    // source by doc_id % 20 — a parity split would never cross a
    // source, and eviction would go unexercised): the q61 md5 bucket
    val bucket = graft.functions.HexKeys.value16(
      md5(concat(lit("split|"), col("doc_id").cast("string")))) % 100
    stage(bucket < 50, "b1")
    drain(cp1, "cap_maint_1")
    val afterB1 = snapshot()
    // batch 2 arrives WHILE THE QUERY IS DOWN: the new query instance on
    // the same checkpoint must resume from recorded offsets — reading
    // ONLY b2's rows (restart-recovery, not just replay idempotence) —
    // and better-ranked late docs must EVICT kept ones
    stage(bucket >= 50, "b2")
    val b2Rows = all.filter(bucket >= 50).count()
    val run2Input = drain(cp1, "cap_maint_2")
    assert(run2Input == b2Rows,
      s"restarted cap maintenance re-read committed docs: $run2Input input rows (want $b2Rows)")
    val fin = snapshot()
    val want = graft.queries.CurationQueries.sourceCapped(all)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(fin === want, "drained cap state diverged from the one-shot cap")
    assert((afterB1 -- fin).nonEmpty,
      "no eviction exercised — the fixture no longer covers displacement")
    // replay with a fresh checkpoint re-reads both files: the top-k union
    // identity must keep the state unchanged
    val cp2 = fixtureDir("graft-cap-cp2").toString
    drain(cp2, "cap_maint_replay")
    assert(snapshot() === want, "replay perturbed the cap state")
    // and the two cp1 drains genuinely RESTARTED from the checkpoint:
    // drain 2's batch id continued the sequence (the recovery contract
    // the incremental-sink/LSH restart tests pin in full)
    val commits = new java.io.File(cp1, "commits").list().toSeq
      .filter(_.forall(_.isDigit)).map(_.toInt).sorted
    assert(commits == Seq(0, 1), s"cap maintenance did not resume offsets: $commits")
  }

  test("streaming dedup drops re-delivered events across micro-batches; state is watermark-bounded") {
    import spark.implicits._
    val streamDir = fixtureDir("graft-dedup-stream").toString
    def minNtz(m: Long): java.time.LocalDateTime =
      java.time.LocalDateTime.ofEpochSecond(m * 60L, 0, java.time.ZoneOffset.UTC)
    def writeBatch(rows: Seq[(Long, Long)], file: String): Unit = {
      val scratch = fixtureDir("graft-dedup-scratch")
      rows.map { case (id, tsMin) => (id, minNtz(tsMin), id, "view", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = new java.io.File(scratch.toString).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(streamDir, s"$file.parquet"))
    }
    writeBatch(Seq((1L, 600L), (2L, 620L)), "b1")
    val q = EventsStream.dedupStream(EventsStream.read(spark, streamDir))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    // batch 2 re-delivers event 2 (same id, same ts) and adds event 3 —
    // the duplicate must be dropped even though it arrives in a later
    // micro-batch (per-key state persisted, bounded by the watermark)
    writeBatch(Seq((2L, 620L), (3L, 640L)), "b2")
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream").select("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.sorted == Seq(1L, 2L, 3L), s"got $ids")
  }

  test("stream-static enrichment joins each micro-batch to the dim without shuffling it") {
    import spark.implicits._
    val dim = Seq((1L, "alpha"), (2L, "beta")).toDF("user_id", "user_name")
    val out = EventsStream.runToMemorySink(
      EventsStream.enrich(
        EventsStream.read(spark, eventsDir).select("event_id", "user_id", "value"),
        dim, "user_id"),
      "enrich_stream", OutputMode.Append())
    assert(out.count() == 1000) // left join keeps every streamed event
    // every event whose user_id has a dim row is enriched; others null
    val named = out.filter(col("user_name").isNotNull)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(named.subsetOf(Set(1L, 2L)) && named.nonEmpty)
    val batchExpected = graft.core.Tables(spark, dir).events
      .filter(col("user_id").isin(1L, 2L)).count()
    assert(out.filter(col("user_name").isNotNull).count() == batchExpected)
  }

  test("mapGroupsWithState accumulates running per-user stats") {
    val out = EventsStream.runToMemorySink(
      EventsStream.runningUserStats(
        EventsStream.read(spark, eventsDir)).toDF(),
      "stream_user_stats", OutputMode.Update())
    val total = out.agg(sum("n")).head.getLong(0)
    assert(total == 1000)
    assert(out.filter(col("mean") < 0).count() == 0)
  }

  test("streaming quantile sketch sample is bit-identical to the batch sketch") {
    val events = graft.core.Tables(spark, dir).events
    val streamed = EventsStream.runToMemorySink(
      EventsStream.quantileSketchStream(
        EventsStream.read(spark, eventsDir)),
      "stream_qsketch")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val batch = EventsStream.quantileSketchStream(events)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(streamed === batch, "stream sample diverged from batch")
    // state bound: every group's sample is ≤ k values
    assert(streamed.values.forall(_.size <= 64))
    assert(streamed.nonEmpty)
  }

  test("streaming LSH index maintenance: bands land bucketed, contract holds, replay is a no-op") {
    val docs = graft.core.Tables(spark, dir).documents
    val table = graft.sources.Warehouse.sessionScopedName(spark, "graft_lsh_stream_idx")
    val ck1 = fixtureDir("graft-lsh-ck1").toString
    val q1 = EventsStream.lshIndexMaintainStream(
      EventsStream.readDocuments(spark, docsDir), table, ck1, "lsh_maint_1")
    q1.processAllAvailable(); q1.stop()
    val got = spark.table(table)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val want = graft.operators.Dedup
      .lshBands(graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got === want, "streamed index diverged from the one-shot band build")
    // the index mart keeps its contract under streaming maintenance
    graft.model.Contract.enforce("lsh_stream_idx", spark.table(table),
      graft.queries.TextQueries.LshIndexContract)
    // redelivery: a FRESH checkpoint re-reads the same files; the
    // anti-join guard must keep the append a no-op
    val ck2 = fixtureDir("graft-lsh-ck2").toString
    val q2 = EventsStream.lshIndexMaintainStream(
      EventsStream.readDocuments(spark, docsDir), table, ck2, "lsh_maint_2")
    q2.processAllAvailable(); q2.stop()
    assert(spark.table(table).count() === want.size.toLong, "replay duplicated bands")
  }

  test("streaming minhash near-dup ≡ batch LSH candidates; horizon bounds the pairs") {
    val docs = graft.core.Tables(spark, dir).documents
    val batchPairs = graft.operators.Dedup
      .minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // wide horizon: every candidate pair is inside the event-time bound,
    // so the stream must reproduce the batch operator's pair set exactly
    val wide = EventsStream.runToMemorySink(
      EventsStream.minhashCandidateStream(
        EventsStream.readDocuments(spark, docsDir), horizonSeconds = 1000000L),
      "stream_lsh_wide", OutputMode.Append())
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide === batchPairs, "stream diverged from batch LSH candidates")
    assert(batchPairs.nonEmpty, "fixture produced no candidates — vacuous parity")
    // tight horizon: event time is doc_id seconds, so only pairs with
    // |doc_a − doc_b| ≤ 50 survive — the watermark/event-time bound IS
    // the state bound, and it visibly cuts the output
    val tight = EventsStream.runToMemorySink(
      EventsStream.minhashCandidateStream(
        EventsStream.readDocuments(spark, docsDir), horizonSeconds = 50L),
      "stream_lsh_tight", OutputMode.Append())
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectedTight = batchPairs.filter { case (x, y) => math.abs(x - y) <= 50 }
    assert(tight === expectedTight, "horizon cutoff diverged")
    assert(tight.size < batchPairs.size, "fixture has no cross-horizon pair — vacuous cutoff")
  }

  test("streaming greedy packing ≡ batch q140; open bins carry across micro-batches") {
    // single-batch drain over the staged corpus ≡ the batch fold
    val streamed = EventsStream.runToMemorySink(
      EventsStream.packStream(
        EventsStream.readDocuments(spark, docsDir), capacity = 512L,
        numStreams = 8).toDF(),
      "stream_pack", OutputMode.Append())
    val batch = SparkEntry.queries("q140_sequence_packing")(spark, dir)
    assert(streamed.collect().toSet === batch.collect().toSet)

    // two-batch split: every doc_id < 250 arrives first, the rest later —
    // bins left open by batch 1 must keep filling in batch 2, so the
    // drained result STILL equals the one-shot fold (this is the case a
    // trigger-boundary bin close would break)
    // Spark 4.1 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val rows = graft.core.Tables(spark, dir).documents
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().sortBy(_._1)
    val ms = MemoryStream[(Long, String)]
    ms.addData(rows.filter(_._1 < 250).toSeq)
    val split = EventsStream.runToMemorySink(
      EventsStream.packStream(
        ms.toDF().toDF("doc_id", "text"), capacity = 512L, numStreams = 8).toDF(),
      "stream_pack_split",
      OutputMode.Append(),
      Seq(() => ms.addData(rows.filter(_._1 >= 250).toSeq)))
    assert(split.collect().toSet === batch.collect().toSet,
      "carry-over state diverged from the one-shot fold")
  }

  test("streaming chunk-index maintenance ≡ arrival-order batch build; replay is a no-op") {
    val docs  = graft.core.Tables(spark, dir).documents
    val watch = fixtureDir("graft-chunk-watch")
    def stageHalf(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = fixtureDir("graft-chunk-half")
      docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst.get
      java.nio.file.Files.copy(part, watch.resolve(name))
    }
    // base (even ids) arrives as micro-batch 1, delta (odd) as batch 2 —
    // the arrival order whose first-occurrence semantics q172 gates
    stageHalf(col("doc_id") % 2 === 0, "b0.parquet")
    val table = graft.sources.Warehouse.sessionScopedName(spark, "graft_chunk_stream_idx")
    val ck1 = fixtureDir("graft-chunk-ck1").toString
    val q1 = EventsStream.chunkIndexMaintainStream(
      EventsStream.readDocuments(spark, watch.toString), table, ck1, "chunk_maint_1")
    q1.processAllAvailable()
    stageHalf(col("doc_id") % 2 === 1, "b1.parquet")
    q1.processAllAvailable(); q1.stop()
    // expected: arrival-order canonical chunk set over the full corpus
    // (the q172 oracle's packed-key rule)
    val ch = graft.operators.Dedup.chunkFrame(
        docs, "doc_id", "text", graft.queries.TextQueries.ChunkDedupTokens)
      .withColumn("chunk_hash", md5(col("chunk_text")))
      .withColumn("k", (col("doc_id") % 2) * 17592186044416L +
                       col("doc_id") * 1048576L + col("chunk_idx"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("chunk_hash"))
    val want = ch.withColumn("is_canon", col("k") === min(col("k")).over(w))
      .filter(col("is_canon"))
      .select(col("chunk_hash"), col("doc_id"), col("chunk_idx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = spark.table(table)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want, "streamed chunk index diverged from the arrival-order build")
    graft.model.Contract.enforce("chunk_stream_idx", spark.table(table),
      graft.queries.TextQueries.ChunkIndexContract)
    // redelivery with a fresh checkpoint: the hash anti-join guard must
    // keep the append a no-op
    val ck2 = fixtureDir("graft-chunk-ck2").toString
    val q2 = EventsStream.chunkIndexMaintainStream(
      EventsStream.readDocuments(spark, watch.toString), table, ck2, "chunk_maint_2")
    q2.processAllAvailable(); q2.stop()
    assert(spark.table(table).count() === want.size.toLong, "replay duplicated chunks")
  }

  test("streaming bloom word table: OR-read ≡ batch build; redelivery changes nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val buildKeys = graft.core.Tables(spark, dir).orders
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey")).distinct().as[Long].collect().sorted
    assert(buildKeys.length > 8, "fixture too small to split")
    val (h1, h2) = buildKeys.splitAt(buildKeys.length / 2)
    val table = graft.sources.Warehouse.sessionScopedName(spark, "graft_bloom_stream_idx")
    val ck1 = fixtureDir("graft-bloom-ck1").toString
    val ms = MemoryStream[Long]
    ms.addData(h1.toSeq)
    val q1 = EventsStream.bloomIndexMaintainStream(
      ms.toDF().toDF("k"), table, ck1, "bloom_maint_1")
    q1.processAllAvailable()
    ms.addData(h2.toSeq)
    q1.processAllAvailable(); q1.stop()
    // the OR-collapsed state must equal the one-shot batch fold over the
    // union — the exact words q242's audit would build
    val want = graft.operators.Bloom.words(
        graft.core.Tables(spark, dir).orders
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("k")).distinct(), "k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = EventsStream.bloomWordsFromState(spark, table)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want, "streamed bloom words diverged from the batch fold")
    // fresh-checkpoint redelivery of the FULL key set in one batch: the
    // OR-semilattice makes the read invariant, and the exact-row guard
    // keeps byte-identical rows from re-appending
    val nRows = spark.table(table).count()
    val ck2 = fixtureDir("graft-bloom-ck2").toString
    val ms2 = MemoryStream[Long]
    ms2.addData(buildKeys.toSeq)
    val q2 = EventsStream.bloomIndexMaintainStream(
      ms2.toDF().toDF("k"), table, ck2, "bloom_maint_2")
    q2.processAllAvailable(); q2.stop()
    val got2 = EventsStream.bloomWordsFromState(spark, table)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 === want, "redelivery changed the OR-read")
    // the full-set batch emits the union words — some rows genuinely new
    // (OR of both halves), so the table may grow, but never beyond one
    // extra row per word
    assert(spark.table(table).count() <= nRows + want.size,
      "replay appended more than one batch-granular row per word")
  }

  test("streaming occupancy drift: summed state ≡ batch assignment; redelivery changes nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val e = graft.core.Tables(spark, dir).embeddings
    val rows = e.select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    // frozen reference: centroids fit on the even half only
    val cents = graft.operators.Clustering.fitCentroids(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      k = 8, iters = 2)
    val table = graft.sources.Warehouse.sessionScopedName(spark, "graft_occ_stream")
    val ck1 = fixtureDir("graft-occ-ck1").toString
    val mid = rows(rows.length / 2)._1
    val ms = MemoryStream[(Long, Array[Float])]
    ms.addData(rows.filter(_._1 < mid).toSeq)
    val q1 = EventsStream.occupancyDriftStream(
      ms.toDF().toDF("vec_id", "embedding"), cents, table, ck1, "occ_maint_1")
    q1.processAllAvailable()
    ms.addData(rows.filter(_._1 >= mid).toSeq)
    q1.processAllAvailable(); q1.stop()
    // summed state must equal the one-shot assignment's occupancy over
    // the full corpus under the SAME frozen centroids
    val want = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .select(graft.operators.Clustering.nearestCentroid(cents, col("v"))
        .getField("cid").as("cluster_id"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_vecs"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = EventsStream.occupancyFromState(spark, table)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want, "streamed occupancy diverged from the batch assignment")
    // fresh-checkpoint redelivery of the full id set: every replayed
    // per-cluster row re-derives an existing (cluster, batch-min) guard
    // key, so the append is a no-op and the read is unchanged
    val nRows = spark.table(table).count()
    val ck2 = fixtureDir("graft-occ-ck2").toString
    val ms2 = MemoryStream[(Long, Array[Float])]
    ms2.addData(rows.toSeq)
    val q2 = EventsStream.occupancyDriftStream(
      ms2.toDF().toDF("vec_id", "embedding"), cents, table, ck2, "occ_maint_2")
    q2.processAllAvailable(); q2.stop()
    assert(spark.table(table).count() === nRows, "replay appended rows")
    val got2 = EventsStream.occupancyFromState(spark, table)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 === want, "redelivery changed the occupancy read")
  }

  test("streaming CDC chunk index: drained state ≡ arrival-order build; replay is a no-op") {
    val docs  = graft.core.Tables(spark, dir).documents
    val watch = fixtureDir("graft-cdc-watch")
    def stageHalf(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = fixtureDir("graft-cdc-half")
      docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst.get
      java.nio.file.Files.copy(part, watch.resolve(name))
    }
    stageHalf(col("doc_id") % 2 === 0, "b0.parquet")
    val table = graft.sources.Warehouse.sessionScopedName(spark, "graft_cdc_stream_idx")
    val ck1 = fixtureDir("graft-cdc-ck1").toString
    val q1 = EventsStream.cdcIndexMaintainStream(
      EventsStream.readDocuments(spark, watch.toString), table, ck1, "cdc_maint_1")
    q1.processAllAvailable()
    stageHalf(col("doc_id") % 2 === 1, "b1.parquet")
    q1.processAllAvailable(); q1.stop()
    // expected: arrival-order canonical CDC chunk set (q227's packed-key
    // rule) — the window here is the TEST fixture's ground truth, the
    // production path never windows over the hash
    val ch = graft.operators.Dedup.cdcChunkFrame(docs, "doc_id", "text")
      .withColumn("chunk_hash", md5(col("chunk_text")))
      .withColumn("k", (col("doc_id") % 2) * 17592186044416L +
                       col("doc_id") * 1048576L + col("chunk_idx"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("chunk_hash"))
    val want = ch.withColumn("is_canon", col("k") === min(col("k")).over(w))
      .filter(col("is_canon"))
      .select(col("chunk_hash"), col("doc_id"), col("chunk_idx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = spark.table(table)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want, "streamed CDC index diverged from the arrival-order build")
    graft.model.Contract.enforce("cdc_stream_idx", spark.table(table),
      graft.queries.TextQueries.ChunkIndexContract)
    val ck2 = fixtureDir("graft-cdc-ck2").toString
    val q2 = EventsStream.cdcIndexMaintainStream(
      EventsStream.readDocuments(spark, watch.toString), table, ck2, "cdc_maint_2")
    q2.processAllAvailable(); q2.stop()
    assert(spark.table(table).count() === want.size.toLong, "replay duplicated CDC chunks")
  }

  test("streaming boilerplate-DF index: drained readout ≡ batch DF; replay is a no-op") {
    val docs  = graft.core.Tables(spark, dir).documents
    val watch = fixtureDir("graft-bp-watch")
    def stageHalf(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = fixtureDir("graft-bp-half")
      docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst.get
      java.nio.file.Files.copy(part, watch.resolve(name))
    }
    stageHalf(col("doc_id") % 2 === 0, "b0.parquet")
    val table = graft.sources.Warehouse.sessionScopedName(spark, "graft_bp_stream_idx")
    val ck1 = fixtureDir("graft-bp-ck1").toString
    val q1 = EventsStream.boilerplateIndexMaintainStream(
      EventsStream.readDocuments(spark, watch.toString), table, ck1, "bp_maint_1")
    q1.processAllAvailable()
    stageHalf(col("doc_id") % 2 === 1, "b1.parquet")
    q1.processAllAvailable(); q1.stop()
    // drained state → DF readout through the SAME tail as the batch side,
    // compared against the full-corpus distinct-doc DF (order-free: DF is
    // a set count, so arrival order cannot matter)
    def readout(inc: org.apache.spark.sql.DataFrame): Map[String, Long] =
      graft.queries.CurationQueries.boilerplateFromIncidences(inc)
        .collect().map(r => r.getAs[String]("seg") -> r.getAs[Long]("df")).toMap
    val got  = readout(spark.table(table).select(col("seg"), col("doc_id")))
    val want = readout(graft.queries.CurationQueries.docSegments(docs)
      .select(col("seg"), col("doc_id")))
    assert(want.nonEmpty && got === want,
      "streamed boilerplate DF diverged from the batch computation")
    // redelivery with a fresh checkpoint: the incidence-key anti-join
    // keeps the append a no-op
    val n = spark.table(table).count()
    val ck2 = fixtureDir("graft-bp-ck2").toString
    val q2 = EventsStream.boilerplateIndexMaintainStream(
      EventsStream.readDocuments(spark, watch.toString), table, ck2, "bp_maint_2")
    q2.processAllAvailable(); q2.stop()
    assert(spark.table(table).count() === n, "replay duplicated incidence rows")
  }

  test("streaming SNM-key index maintenance ≡ batch key build; replay is a no-op") {
    // q215's state table maintained from a stream: per batch, distinct
    // simhash values → rotated keys under FIXED bounds → (rot,k)
    // anti-joined append. Drained keys must equal the batch-built key
    // frame over everything delivered (set-typed state: arrival-order
    // free), and a fresh-checkpoint replay must be a no-op.
    val docs  = graft.core.Tables(spark, dir).documents
    val watch = fixtureDir("graft-snm-watch")
    def stageHalf(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = fixtureDir("graft-snm-half")
      docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst.get
      java.nio.file.Files.copy(part, watch.resolve(name))
    }
    // fixed bounds, as at index creation: quantiles of the FULL corpus
    // key space (any literal array works — results are bound-independent
    // sets; these make multi-bucket layout real)
    val allKeys = graft.operators.Dedup.snmKeys(
        graft.operators.Dedup.simhashVals(docs, "doc_id", "text"), 4)
      .withColumn("__proxy", graft.operators.Dedup.snmProxy(col("k")))
    val bounds = graft.operators.Sharding.boundaries(allKeys, "__proxy", 8)
    val table = graft.sources.Warehouse.sessionScopedName(spark, "graft_snm_stream_idx")
    val ck1 = fixtureDir("graft-snm-ck1").toString
    stageHalf(col("doc_id") % 2 === 0, "b0.parquet")
    val q1 = EventsStream.snmIndexMaintainStream(
      EventsStream.readDocuments(spark, watch.toString), table, bounds, ck1, "snm_maint_1")
    q1.processAllAvailable()
    stageHalf(col("doc_id") % 2 === 1, "b1.parquet")
    q1.processAllAvailable(); q1.stop()
    val want = allKeys
      .withColumn("__b", graft.operators.Dedup
        .snmBucketOf(bounds, col("__proxy"))
        .cast(org.apache.spark.sql.types.LongType))
      .select(col("rot"), col("k"), col("h"), col("__b"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    def got(): Set[(Int, String, String, Long)] =
      spark.table(table).select(col("rot"), col("k"), col("h"), col("__b"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(want.nonEmpty && got() === want,
      "streamed SNM key state diverged from the batch key build")
    assert(spark.table(table).select(col("__b")).distinct().count() > 1,
      "fixture landed in one bucket — the multi-bucket layout is unexercised")
    // redelivery with a fresh checkpoint: the (rot,k) anti-join keeps
    // the append a no-op
    val n = spark.table(table).count()
    val ck2 = fixtureDir("graft-snm-ck2").toString
    val q2 = EventsStream.snmIndexMaintainStream(
      EventsStream.readDocuments(spark, watch.toString), table, bounds, ck2, "snm_maint_2")
    q2.processAllAvailable(); q2.stop()
    assert(spark.table(table).count() === n, "replay duplicated key rows")
  }

  test("boilerplate-DF index maintenance RESTARTS from checkpointLocation; state ≡ batch build") {
    // Round-12 verdict ask #5: the boilerplate leg's recovery was only
    // inferred from the shared helpers; this kills the query between
    // batches and restarts a NEW instance on the SAME checkpoint — the
    // restarted run may read ONLY the unseen file, the commit sequence
    // must continue, and the drained state must equal the batch build.
    val docs  = graft.core.Tables(spark, dir).documents
    val watch = fixtureDir("graft-bpr-watch")
    def stageHalf(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = fixtureDir("graft-bpr-half")
      docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst.get
      java.nio.file.Files.copy(part, watch.resolve(name))
    }
    val table = graft.sources.Warehouse.sessionScopedName(spark, "graft_bp_restart_idx")
    val cp = fixtureDir("graft-bpr-cp").toString
    def runOnce(name: String): Long = {
      val q = EventsStream.boilerplateIndexMaintainStream(
        EventsStream.readDocuments(spark, watch.toString), table, cp, name)
      q.processAllAvailable()
      val inputRows = q.recentProgress.map(_.numInputRows).sum
      q.stop()
      inputRows
    }
    stageHalf(col("doc_id") % 2 === 0, "b0.parquet")
    val evens = docs.filter(col("doc_id") % 2 === 0).count()
    assert(runOnce("bp_restart_1") == evens)
    // the query is DOWN; the odd half arrives
    stageHalf(col("doc_id") % 2 === 1, "b1.parquet")
    val odds = docs.filter(col("doc_id") % 2 === 1).count()
    val run2 = runOnce("bp_restart_2")
    assert(run2 == odds,
      s"restarted boilerplate maintenance re-read committed docs: $run2 input rows (want $odds)")
    val commits = new java.io.File(cp, "commits").list().toSeq
      .filter(_.forall(_.isDigit)).map(_.toInt).sorted
    assert(commits == Seq(0, 1), s"commit log did not advance across restart: $commits")
    // drained state through the batch tail ≡ the batch DF over all docs
    def readout(inc: org.apache.spark.sql.DataFrame): Map[String, Long] =
      graft.queries.CurationQueries.boilerplateFromIncidences(inc)
        .collect().map(r => r.getAs[String]("seg") -> r.getAs[Long]("df")).toMap
    val got  = readout(spark.table(table).select(col("seg"), col("doc_id")))
    val want = readout(graft.queries.CurationQueries.docSegments(docs)
      .select(col("seg"), col("doc_id")))
    assert(want.nonEmpty && got === want,
      "restarted boilerplate index diverged from the batch build")
  }

  test("streaming ANN serving from the persisted IVF index ≡ batch serving; replay is a no-op") {
    val emb   = graft.core.Tables(spark, dir).embeddings
    val watch = fixtureDir("graft-ann-watch")
    def stageHalf(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = fixtureDir("graft-ann-half")
      emb.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst.get
      java.nio.file.Files.copy(part, watch.resolve(name))
    }
    stageHalf(col("vec_id") < 25, "e0.parquet")
    val (idx, cents) = graft.queries.VectorQueries.ivfServingParts(spark, dir)
    val outTable = graft.sources.Warehouse.sessionScopedName(spark, "graft_ann_stream_out")
    val ck1 = fixtureDir("graft-ann-ck1").toString
    val q1 = EventsStream.annServeStream(
      EventsStream.readEmbeddings(spark, watch.toString).filter(col("vec_id") < 50),
      idx, cents, k = 3, nprobe = graft.queries.VectorQueries.IvfNprobe,
      outTable, ck1, "ann_serve_1")
    q1.processAllAvailable()
    stageHalf(col("vec_id") >= 25 && col("vec_id") < 50, "e1.parquet")
    q1.processAllAvailable(); q1.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
                           r.getAs[Double]("cosine"))).toSet
    val got  = rows(spark.table(outTable))
    val want = rows(graft.queries.VectorQueries.ivfServe(spark, dir, col("vec_id") < 50, k = 3))
    assert(want.nonEmpty, "batch serve returned nothing — vacuous parity")
    assert(got === want, "streamed ANN serving diverged from the batch serve")
    // redelivery with a fresh checkpoint: the query_id anti-join guard
    // must keep the append a no-op
    val ck2 = fixtureDir("graft-ann-ck2").toString
    val q2 = EventsStream.annServeStream(
      EventsStream.readEmbeddings(spark, watch.toString).filter(col("vec_id") < 50),
      idx, cents, k = 3, nprobe = graft.queries.VectorQueries.IvfNprobe,
      outTable, ck2, "ann_serve_2")
    q2.processAllAvailable(); q2.stop()
    assert(spark.table(outTable).count() === want.size.toLong, "replay duplicated results")
  }

  test("streaming PSI drift state ≡ batch q181 readout; replay is a no-op") {
    import org.apache.spark.sql.functions.{expr, max, min}
    val e0 = graft.core.Tables(spark, dir).events.filter(col("value").isNotNull)
      .select(col("value"), expr("unix_micros(ts) DIV 86400000000").as("day"))
    val minDay = e0.agg(min(col("day"))).head.getLong(0)
    val ref = e0.filter(expr(s"(day - ${minDay}L) DIV 7") === 0)
      .agg(min(col("value")), max(col("value"))).head
    val (vmin, vmax) = (ref.getDouble(0), ref.getDouble(1))
    val table = graft.sources.Warehouse.sessionScopedName(spark, "graft_psi_stream")
    val ck1 = fixtureDir("graft-psi-ck1").toString
    val q1 = EventsStream.psiDriftStream(
      EventsStream.read(spark, eventsDir), minDay, vmin, vmax, table, ck1, "psi_1")
    q1.processAllAvailable(); q1.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("week_idx"), r.getAs[Long]("bin"),
                           r.getAs[Long]("ref_cnt"), r.getAs[Long]("cur_cnt"),
                           r.getAs[Double]("psi_term"), r.getAs[Double]("psi_total")))
      .toSet
    val got = rows(graft.queries.RetrievalQueries.psiFromBinned(
      spark, spark.table(table).select(col("week_idx"), col("bin"))))
    val want = rows(SparkEntry.queries("q181_windowed_psi")(spark, dir))
    assert(want.nonEmpty, "batch drift curve is empty — vacuous parity")
    assert(got === want, "streamed drift state diverged from the batch curve")
    // replay with a fresh checkpoint: event_id anti-join keeps it a no-op
    val n = spark.table(table).count()
    val ck2 = fixtureDir("graft-psi-ck2").toString
    val q2 = EventsStream.psiDriftStream(
      EventsStream.read(spark, eventsDir), minDay, vmin, vmax, table, ck2, "psi_2")
    q2.processAllAvailable(); q2.stop()
    assert(spark.table(table).count() === n, "replay duplicated drift state")
  }

  test("streaming mixture audit ≡ batch q192 after drain; replay is a no-op") {
    // frozen targets from the batch planning run
    val plan = SparkEntry.queries("q168_temperature_mixture")(spark, dir)
      .select(col("lang"), col("lang_tokens"), col("target_tokens"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val table = graft.sources.Warehouse.sessionScopedName(spark, "graft_mix_stream")
    val ck1 = fixtureDir("graft-mix-ck1").toString
    val q1 = EventsStream.mixtureAuditStream(
      EventsStream.readDocuments(spark, docsDir), plan, table, ck1, "mix_1")
    q1.processAllAvailable(); q1.stop()
    val got = spark.table(table).groupBy(col("lang"))
      .agg(org.apache.spark.sql.functions.sum(col("emitted_tokens")).as("achieved"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = SparkEntry.queries("q192_mixture_audit")(spark, dir)
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("achieved_tokens")).toMap
    assert(want.nonEmpty && got === want,
      s"streamed audit $got diverged from batch q192 $want")
    // replay with a fresh checkpoint: doc_id anti-join keeps it a no-op
    val n = spark.table(table).count()
    val ck2 = fixtureDir("graft-mix-ck2").toString
    val q2 = EventsStream.mixtureAuditStream(
      EventsStream.readDocuments(spark, docsDir), plan, table, ck2, "mix_2")
    q2.processAllAvailable(); q2.stop()
    assert(spark.table(table).count() === n, "replay duplicated audit rows")
  }

  test("streaming decontamination ≡ batch q77 across micro-batches; replay is a no-op") {
    val docs  = graft.core.Tables(spark, dir).documents
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select(explode(graft.functions.Text.shingles(col("text"), 8)).as("ngram"))
      .distinct()
    val watch = fixtureDir("graft-decon-watch")
    def stageCorpus(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = fixtureDir("graft-decon-half")
      docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst.get
      java.nio.file.Files.copy(part, watch.resolve(name))
    }
    // the q77 corpus split (non-benchmark docs), arriving in two batches
    stageCorpus(col("doc_id") % 10 =!= 0 && col("doc_id") < 250, "c0.parquet")
    val outTable = graft.sources.Warehouse.sessionScopedName(spark, "graft_decon_stream_out")
    val ck1 = fixtureDir("graft-decon-ck1").toString
    val q1 = EventsStream.decontaminateStream(
      EventsStream.readDocuments(spark, watch.toString), bench, outTable, ck1, "decon_1")
    q1.processAllAvailable()
    stageCorpus(col("doc_id") % 10 =!= 0 && col("doc_id") >= 250, "c1.parquet")
    q1.processAllAvailable(); q1.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
                           r.getAs[Long]("n_overlap_ngrams"),
                           r.getAs[Boolean]("is_contaminated"))).toSet
    val got  = rows(spark.table(outTable))
    val want = rows(SparkEntry.queries("q77_decontaminate")(spark, dir))
    assert(want.exists(_._4), "fixture has no contaminated doc — vacuous parity")
    assert(got === want, "streamed decontamination diverged from batch q77")
    // replay with a fresh checkpoint: the doc_id anti-join keeps it a no-op
    val ck2 = fixtureDir("graft-decon-ck2").toString
    val q2 = EventsStream.decontaminateStream(
      EventsStream.readDocuments(spark, watch.toString), bench, outTable, ck2, "decon_2")
    q2.processAllAvailable(); q2.stop()
    assert(spark.table(outTable).count() === want.size.toLong, "replay duplicated rows")
  }

  test("z-order stats maintenance: drained state re-aggregates to the batch delta stats") {
    import graft.queries.OlapQueries.ZOrder
    val orders = graft.core.Tables(spark, dir).orders
    val watch = fixtureDir("graft-zs-watch")
    def stage(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = fixtureDir("graft-zs-half")
      orders.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst.get
      java.nio.file.Files.copy(part, watch.resolve(name))
    }
    // frozen bounds from the EVEN half — the q220 base-grid contract
    val bRow = ZOrder.bounds(
      ZOrder.prep(orders.filter(col("o_orderkey") % 2 === 0))).collect().head
    val bounds = (bRow.getLong(0), bRow.getLong(1), bRow.getLong(2), bRow.getLong(3))
    val table = graft.sources.Warehouse.sessionScopedName(spark, "graft_zs_stream_idx")
    val ck1 = fixtureDir("graft-zs-ck1").toString
    stage(col("o_orderkey") % 4 === 1, "b0.parquet")
    val q1 = EventsStream.zorderStatsMaintainStream(
      EventsStream.readOrders(spark, watch.toString), table, bounds, ck1, "zs_maint_1")
    q1.processAllAvailable()
    stage(col("o_orderkey") % 4 === 3, "b1.parquet")
    q1.processAllAvailable(); q1.stop()
    // the stats rows are associative — the readout re-aggregation must
    // equal the one-shot delta stats under the same frozen grid
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("file_id"))
        .agg(sum(col("n_rows")).as("n"), min(col("min_ck")).as("a"),
             max(col("max_ck")).as("b"), min(col("min_day")).as("c"),
             max(col("max_day")).as("d"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                             r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val bDf = spark.range(1).select(
      lit(bounds._1).as("ck_min"), lit(bounds._2).as("ck_max"),
      lit(bounds._3).as("day_min"), lit(bounds._4).as("day_max"))
    val want = agg(ZOrder.fileStats(ZOrder.assign(
      ZOrder.prep(orders.filter(col("o_orderkey") % 2 === 1)), bDf)))
    val got = agg(spark.table(table))
    assert(want.nonEmpty && got === want,
      "streamed z-order stats diverged from the batch delta stats")
    // two staged batches → per-file rows may appear twice; the state is
    // strictly finer than the readout, never coarser
    assert(spark.table(table).count() >= got.size.toLong)
    // redelivery with a fresh checkpoint: the guard key keeps appends no-op
    val n = spark.table(table).count()
    val ck2 = fixtureDir("graft-zs-ck2").toString
    val q2 = EventsStream.zorderStatsMaintainStream(
      EventsStream.readOrders(spark, watch.toString), table, bounds, ck2, "zs_maint_2")
    q2.processAllAvailable(); q2.stop()
    assert(spark.table(table).count() === n, "replay duplicated stats rows")
  }
}
