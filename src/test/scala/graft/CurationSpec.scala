package graft

import java.sql.Timestamp

import graft.queries.{CurationQueries, TemporalQueries}
import org.apache.spark.sql.DataFrame

/** Semantics of the corpus-curation (q75–q82) and event-analytics
  * (q80/q81) queries on crafted fixtures — the edge cases the sf
  * testdata never exercises (sub-2-token docs, out-of-order funnel
  * steps), plus partitioning-invariance of the sequential log-prob fold.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  /** Write a crafted documents/events fixture dir and return its path. */
  private lazy val craftedDir: String = {
    val dir = fixtureDir("curation_fixture").toString
    val docs = Seq(
      // doc 0: repeated content; shares its first 10-token segment with doc 1
      (0L, "a b c d e f g h i j a b c d e f g h i j", "en", "web", 39L),
      // doc 1: same first segment as doc 0 (not first occurrence), then new
      (1L, "a b c d e f g h i j k l m n o p q r s t", "en", "web", 39L),
      // doc 2: single token — sub-2-token edge (no bigrams, no 8-grams)
      (2L, "z", "de", "web", 1L),
      // doc 3: all-distinct tokens, fully novel
      (3L, "aa bb cc dd ee ff gg hh ii jj", "fr", "web", 29L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val events = Seq(
      // user 1: view → click → purchase, in order → step 3
      (0L, ts(1), 1L, "view", 1.0, "{}"),
      (1L, ts(2), 1L, "click", 1.0, "{}"),
      (2L, ts(3), 1L, "purchase", 1.0, "{}"),
      // user 2: click BEFORE its only view; no click after → step 1
      (3L, ts(1), 2L, "click", 1.0, "{}"),
      (4L, ts(2), 2L, "view", 1.0, "{}"),
      // user 3: no view at all → step 0 even with click+purchase
      (5L, ts(1), 3L, "click", 1.0, "{}"),
      (6L, ts(2), 3L, "purchase", 1.0, "{}"),
      // user 4: view then purchase but never a click → step 1
      (7L, ts(1), 4L, "view", 1.0, "{}"),
      (8L, ts(2), 4L, "purchase", 1.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  private def run(name: String): DataFrame = {
    val defs = CurationQueries.defs ++ TemporalQueries.defs
    defs(name)(spark, craftedDir)
  }

  test("q75 segment dedup keeps only the globally first occurrence") {
    val byDoc = run("q75_segment_dedup")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 0: two identical segments; only the first survives
    assert(byDoc(0L) == ((2L, 1L, "a b c d e f g h i j")))
    // doc 1: first segment already seen in doc 0; second is new
    assert(byDoc(1L) == ((2L, 1L, "k l m n o p q r s t")))
    // doc 2: one 1-token segment, first occurrence
    assert(byDoc(2L) == ((1L, 1L, "z")))
    assert(byDoc.size == 4)
  }

  test("q200 boilerplate scrub removes EVERY occurrence of a df>=3 segment (q75 keeps the first)") {
    val dir = fixtureDir("boilerplate_fixture").toString
    val x  = (1 to 10).map(i => s"x$i").mkString(" ") // boilerplate: df = 4
    val u0 = (1 to 10).map(i => s"u$i").mkString(" ")
    val u1 = (1 to 10).map(i => s"v$i").mkString(" ")
    val w  = (1 to 10).map(i => s"w$i").mkString(" ")
    Seq(
      (0L, s"$x $u0", "en", "web", 1L), // boilerplate + unique tail
      (1L, s"$x $u1", "en", "web", 1L),
      (2L, x, "en", "web", 1L),         // nothing but boilerplate
      (3L, s"$x $x", "en", "web", 1L),  // boilerplate twice (df counts DOCS)
      (4L, w, "en", "web", 1L))         // untouched
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = CurationQueries.defs("q200_boilerplate_scrub")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the FIRST occurrence (doc 0) loses the segment too — the q75 contrast
    assert(out(0L).getAs[Long]("n_removed") == 1L &&
           out(0L).getAs[String]("clean_hash") == md5hex(u0) &&
           !out(0L).getAs[Boolean]("is_dropped"))
    assert(out(1L).getAs[String]("clean_hash") == md5hex(u1))
    // a doc that was ALL boilerplate scrubs to empty and is dropped
    assert(out(2L).getAs[Boolean]("is_dropped") &&
           out(2L).getAs[String]("clean_hash") == md5hex(""))
    // df counts distinct docs: doc 3's two copies both go
    assert(out(3L).getAs[Long]("n_removed") == 2L &&
           out(3L).getAs[Boolean]("is_dropped"))
    // non-boilerplate doc is byte-identical
    assert(out(4L).getAs[Long]("n_removed") == 0L &&
           out(4L).getAs[String]("clean_hash") == md5hex(w))
    // q75 on the same fixture KEEPS doc 0's copy of the segment
    val q75 = CurationQueries.defs("q75_segment_dedup")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(q75(0L).startsWith(x))
  }

  test("q205 scrub-then-dedup catches the duplicate raw exact dedup provably misses") {
    val dir = fixtureDir("scrubdedup_fixture").toString
    val x = (1 to 10).map(i => s"x$i").mkString(" ") // boilerplate (df = 3)
    val u = (1 to 10).map(i => s"u$i").mkString(" ") // the shared body
    Seq(
      (0L, s"$x $u", "en", "web", 1L), // chrome + body
      (1L, u, "en", "web", 1L),        // the SAME body, no chrome
      (2L, s"$x ${(1 to 10).map(i => s"p$i").mkString(" ")}", "en", "web", 1L),
      (3L, s"$x ${(1 to 10).map(i => s"q$i").mkString(" ")}", "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    // raw exact dedup sees four distinct hashes — no duplicate anywhere
    val rawDups = graft.queries.TextQueries.defs("q34_dedup_exact")(spark, dir)
      .filter(org.apache.spark.sql.functions.col("is_duplicate")).count()
    assert(rawDups == 0L, "raw dedup unexpectedly found a duplicate")
    val out = CurationQueries.defs("q205_scrub_then_dedup")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // after the scrub docs 0 and 1 coincide: one clean group, doc 0 canonical
    assert(out(0L).getAs[String]("clean_hash") == out(1L).getAs[String]("clean_hash"))
    assert(out(0L).getAs[Boolean]("is_canonical") && !out(1L).getAs[Boolean]("is_canonical"))
    assert(out(1L).getAs[Long]("canonical_id") == 0L)
    assert(out(0L).getAs[Boolean]("scrub_revealed") && out(1L).getAs[Boolean]("scrub_revealed"))
    // and the raw bytes really did differ (what raw dedup keyed on)
    assert(out(0L).getAs[Long]("n_removed") == 1L && out(1L).getAs[Long]("n_removed") == 0L)
    // docs 2/3 keep unique bodies: their groups are singletons
    assert(!out(2L).getAs[Boolean]("scrub_revealed") &&
           out(2L).getAs[Long]("n_copies") == 1L)
  }

  test("q204 incremental boilerplate DF ≡ one-shot full-corpus recompute; crossing semantics") {
    val dir = "/root/testdata/sf0.001"
    val out = CurationQueries.defs("q204_boilerplate_incremental")(spark, dir)
      .collect().map(r => r.getAs[String]("seg") ->
        (r.getAs[Long]("base_df"), r.getAs[Long]("delta_df"),
         r.getAs[Long]("total_df"), r.getAs[Boolean]("newly_boilerplate"))).toMap
    assert(out.nonEmpty)
    // independent one-shot recompute: full-corpus distinct-doc DF per seg
    val docs = graft.core.Tables(spark, dir).documents
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val segDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    docs.foreach { case (id, text) =>
      // mirror Text.tokens = split(text, " ") exactly: keep empties
      val toks = Option(text).map(_.split(" ", -1).toSeq).getOrElse(Nil)
      toks.grouped(10).map(_.mkString(" ")).foreach { seg =>
        segDocs.getOrElseUpdate(seg, scala.collection.mutable.Set.empty) += id
      }
    }
    val expected = segDocs.filter(_._2.size >= 3)
    assert(out.keySet == expected.keySet,
      s"boilerplate set mismatch: ${out.keySet.diff(expected.keySet)} / ${expected.keySet.diff(out.keySet)}")
    out.foreach { case (seg, (b, d, t, newly)) =>
      assert(t == expected(seg).size && t == b + d)
      assert(newly == (b < 3))
    }
    // both crossing modes must actually occur on this data for the gate
    // to mean anything: segments already boilerplate in the base, and
    // segments the delta pushed over the bar
    assert(out.values.exists(_._4) , "no segment crossed the bar via the delta")
  }

  test("q203 spacing audit: 3-epoch copies, per-doc gap identities on real data") {
    val dir = "/root/testdata/sf0.001"
    val out = CurationQueries.defs("q203_repeat_spacing")(spark, dir).collect()
    assert(out.nonEmpty)
    val reps = CurationQueries.defs("q168_temperature_mixture")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_repeats")).toMap
    val manifestRows = out.head.getAs[Long]("manifest_rows")
    out.foreach { r =>
      val n = r.getAs[Long]("n_copies")
      // every audited doc carries exactly 3 epochs of its q168 allocation
      assert(n == 3L * reps(r.getAs[Long]("doc_id")))
      assert(r.getAs[Long]("min_gap") >= 1L)
      assert(r.getAs[Long]("min_gap") <= r.getAs[Long]("max_gap"))
      val span = r.getAs[Long]("span")
      assert(span >= (n - 1L) * r.getAs[Long]("min_gap"))
      assert(span <= (n - 1L) * r.getAs[Long]("max_gap"))
      assert(span <= manifestRows - 1L)
    }
    // the scatter keys work: most docs must NOT be clumped (the flag fires
    // below a quarter of the random-scatter min-spacing expectation, so a
    // correct permutation leaves the large majority unflagged)
    assert(out.count(_.getAs[Boolean]("is_clumped")) * 2 < out.length)
  }

  test("q76 repetition metrics handle the sub-2-token edge") {
    val byDoc = run("q76_repetition_quality")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_distinct_bigrams"),
         r.getAs[Double]("dup_word_frac"), r.getAs[Boolean]("passes_repetition_filter")))
      .toMap
    // single-token doc: zero bigrams, top-token share 1.0 → fails filter
    assert(byDoc(2L) == ((0L, 0L, 0.0, false)))
    // doc 0: 20 tokens / 10 distinct → dup_word_frac 0.5; 19 bigrams,
    // 10 distinct ("j a" bridges the repeats, "a b".."i j" dup'd)
    assert(byDoc(0L)._1 == 19L && byDoc(0L)._2 == 10L && byDoc(0L)._3 == 0.5)
    // doc 3: all distinct → passes
    assert(byDoc(3L)._4)
  }

  test("q78 unigram-LM score is invariant to input partitioning") {
    val base = run("q78_unigram_lm")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("sum_logprob"),
         r.getAs[Double]("perplexity"))).toMap
    assert(base.size == 4)
    // rare-token doc 3 scores lower (higher perplexity) than common doc 0
    assert(base(3L)._3 > base(0L)._3)
    // bit-identical across shuffle-partition settings (sequential fold)
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      val alt = run("q78_unigram_lm")
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_tokens"), r.getAs[Double]("sum_logprob"),
           r.getAs[Double]("perplexity"))).toMap
      assert(alt == base)
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("q82 ngram novelty: first doc fully novel, short docs kept at 0") {
    val byDoc = run("q82_ngram_novelty")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_ngrams"), r.getAs[Long]("n_novel"),
         r.getAs[Double]("novelty_frac"))).toMap
    assert(byDoc.size == 4)
    assert(byDoc(0L)._3 == 1.0)          // first occurrence of everything it has
    assert(byDoc(2L) == ((0L, 0L, 0.0))) // <8 tokens: no 8-grams, still present
    assert(byDoc(3L)._3 == 1.0)          // disjoint vocabulary
    // doc 1 shares its first three 8-grams with doc 0's tail ("a b..j" span)
    assert(byDoc(1L)._2 < byDoc(1L)._1)
  }

  test("q80 funnel: steps must occur in order, starting from a view") {
    val byUser = run("q80_funnel")
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("reached_step"))
      .toMap
    assert(byUser == Map(1L -> 3L, 2L -> 1L, 3L -> 0L, 4L -> 1L))
  }

  test("q81 retention buckets day offsets into 7-day windows") {
    val dir = fixtureDir("retention_fixture").toString
    def ts(day: Int): Timestamp = Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    Seq(
      (0L, ts(1), 1L, "view", 1.0, "{}"),  // cohort 2024-01-01, offset 0
      (1L, ts(7), 1L, "view", 1.0, "{}"),  // day 6 → offset 0
      (2L, ts(8), 1L, "view", 1.0, "{}"),  // day 7 → offset 1
      (3L, ts(2), 2L, "view", 1.0, "{}"))  // cohort 2024-01-02, offset 0
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = TemporalQueries.defs("q81_retention")(spark, dir)
      .collect().map(r => (r.getAs[String]("cohort_date"),
        r.getAs[Long]("week_offset"), r.getAs[Long]("n_users"))).toSet
    assert(got == Set(("2024-01-01", 0L, 1L), ("2024-01-01", 1L, 1L),
                      ("2024-01-02", 0L, 1L)))
  }

  test("q83 bloom hits contain q77's exact overlaps (no false negatives)") {
    val exact = run("q77_decontaminate")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_overlap_ngrams"), r.getAs[Boolean]("is_contaminated"))).toMap
    val bloom = run("q83_bloom_decontaminate")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bloom_hits"), r.getAs[Boolean]("is_flagged_bloom"))).toMap
    assert(bloom.keySet == exact.keySet) // same corpus side (bench docs excluded)
    exact.foreach { case (id, (nExact, flagged)) =>
      // a Bloom filter can only ADD hits (false positives), never drop one
      assert(bloom(id)._1 >= nExact, s"doc $id lost exact overlaps")
      if (flagged) assert(bloom(id)._2, s"doc $id contaminated but not flagged")
    }
    // doc 1 genuinely shares 8-grams with bench doc 0; doc 2 has none
    assert(exact(1L)._2 && bloom(1L)._2)
    assert(exact(2L)._1 == 0L)
  }

  test("q87 winnowing: shared ≥(w+k-1)-token runs share a fingerprint; short docs drop out") {
    val fps = graft.queries.TextQueries.defs("q87_winnow_fingerprint")(spark, craftedDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = fps.groupBy(_._1)
    // docs 0 and 1 share their first 10 tokens (≥ w+k-1 = 8): the MOSS
    // guarantee says at least one fingerprint HASH must be common
    val h0 = byDoc(0L).map(_._3).toSet
    val h1 = byDoc(1L).map(_._3).toSet
    assert((h0 & h1).nonEmpty, s"shared run produced no shared fingerprint: $h0 vs $h1")
    // doc 2 has 1 token (< k): no grams, no fingerprints, no row
    assert(!byDoc.contains(2L))
    // density: never more fingerprints than windows, and positions in range
    byDoc.foreach { case (_, rows) =>
      rows.foreach { case (_, pos, h) =>
        assert(pos >= 0 && h >= 0 && h < 65536)
      }
    }
    // doc 0's text repeats identically (tokens 0-9 == 10-19): its
    // fingerprint HASHES at offset pos and pos+10 coincide where both
    // positions were selected — sanity that hashing is positional-content
    // based, not position-salted
    val d0 = byDoc(0L).map(r => r._2 -> r._3).toMap
    d0.foreach { case (pos, h) =>
      if (d0.contains(pos + 10) && pos + 10 <= 6) assert(d0(pos + 10) == h)
    }
  }

  test("q84 chunking covers every token with W=50/S=40 overlap") {
    val dir  = fixtureDir("chunk_fixture").toString
    val toks = (0 until 95).map(i => s"w$i") // 95 tokens → chunks at 0/40/80
    Seq((0L, toks.mkString(" "), "en", "web", 0L),
        (1L, "solo", "en", "web", 4L)) // 1 token → exactly one chunk
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val rows = CurationQueries.defs("q84_chunk_windows")(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("chunk_start"), r.getAs[Long]("n_chunk_tokens"),
        r.getAs[String]("chunk_text")))
    val d0 = rows.filter(_._1 == 0L).sortBy(_._2)
    assert(d0.map(c => (c._3, c._4)).toSeq == Seq((0L, 50L), (40L, 50L), (80L, 15L)))
    d0.foreach { case (_, _, start, n, text) =>
      assert(text == toks.slice(start.toInt, start.toInt + n.toInt).mkString(" "))
    }
    // every token position is covered by at least one chunk
    val covered = d0.flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered == (0L until 95L).toSet)
    assert(rows.filter(_._1 == 1L).toSeq == Seq((1L, 0L, 0L, 1L, "solo")))
  }

  test("q168 repeat allocation: epochs are base or base+1 and targets respect the budget") {
    val out = CurationQueries.defs("q168_temperature_mixture")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    // per-row: n_repeats ∈ {target DIV T, target DIV T + 1}
    out.foreach { r =>
      val base = r.getAs[Long]("target_tokens") / r.getAs[Long]("lang_tokens")
      val n    = r.getAs[Long]("n_repeats")
      assert(n == base || n == base + 1, s"row $r")
    }
    // per-lang achieved tokens land within one full epoch of the target
    // (the only slack the hash-threshold rounding can introduce), and the
    // language-level targets never exceed the declared budget in total
    val perLang = out.groupBy(_.getAs[String]("lang"))
    val langTokens = perLang.map { case (l, rs) =>
      l -> rs.head.getAs[Long]("lang_tokens") }
    val allTokens = langTokens.values.sum
    val targets = perLang.map { case (l, rs) =>
      l -> rs.head.getAs[Long]("target_tokens") }
    assert(targets.values.sum <= allTokens / 2)
    perLang.foreach { case (l, rs) =>
      val achieved = rs.map(r => r.getAs[Long]("n_repeats") * r.getAs[Long]("n_tokens")).sum
      val base     = targets(l) / langTokens(l) * langTokens(l)
      assert(achieved >= base && achieved <= base + langTokens(l),
        s"lang $l achieved $achieved outside [$base, ${base + langTokens(l)}]")
    }
  }

  test("q175 Kneser–Ney: hand-computed probabilities on a 3-doc corpus (mass sums to 1)") {
    // corpus "a b", "a b", "a c": c(ab)=2, c(ac)=1, c(a·)=3, N1+(a·)=2,
    // N1+(·b)=N1+(·c)=1, |bigram types|=2
    //   p(b|a) = (2−.75)/3 + (.75·2/3)·(1/2) = 2/3
    //   p(c|a) = (1−.75)/3 + (.75·2/3)·(1/2) = 1/3   (sum = 1 exactly)
    import spark.implicits._
    val tmp = fixtureDir("graft-kn").toString
    Seq((1L, "a b", "en", "s", 3L), (2L, "a b", "en", "s", 3L),
        (3L, "a c", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = CurationQueries.defs("q175_kneser_ney_lm")(spark, tmp)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val pB = 1.25 / 3.0 + (0.75 * 2.0 / 3.0) * 0.5
    val pC = 0.25 / 3.0 + (0.75 * 2.0 / 3.0) * 0.5
    assert(approx(pB + pC, 1.0, 1e-12), "KN mass must sum to 1 per history")
    def q9(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    assert(approx(out(1L).getAs[Double]("sum_logprob"), q9(math.log(pB)), 1e-9))
    assert(approx(out(3L).getAs[Double]("sum_logprob"), q9(math.log(pC)), 1e-9))
    assert(out(1L).getAs[Long]("n_bigrams") == 1L)
    assert(approx(out(3L).getAs[Double]("perplexity"), q9(math.exp(-q9(math.log(pC)))), 1e-9))
  }

  test("q171 UniMax walk: caps respected, budget never exceeded, uncapped langs share evenly") {
    val out = CurationQueries.defs("q171_unimax_alloc")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val perLang = out.groupBy(_.getAs[String]("lang")).map { case (l, rs) =>
      val h = rs.head
      (l, h.getAs[Long]("lang_tokens"), h.getAs[Long]("capacity"),
        h.getAs[Long]("alloc_tokens"), h.getAs[Boolean]("capped"))
    }.toSeq.sortBy(t => (t._3, t._1))
    val budget = perLang.map(_._2).sum * 3
    // every allocation within its capacity; total within budget
    perLang.foreach { case (l, _, cap, alloc, capped) =>
      assert(alloc <= cap, s"$l over capacity")
      assert(capped == (alloc == cap))
    }
    assert(perLang.map(_._4).sum <= budget)
    // replay the walk: ascending by capacity, equal share of remaining
    var remaining = budget
    var k = perLang.size.toLong
    perLang.foreach { case (l, _, cap, alloc, _) =>
      val share = remaining / k
      assert(alloc == math.min(cap, share), s"$l walk mismatch")
      remaining -= alloc; k -= 1
    }
    // per-doc epochs are base or base+1 of the lang's rational epoch count
    out.foreach { r =>
      val base = r.getAs[Long]("alloc_tokens") / r.getAs[Long]("lang_tokens")
      val n    = r.getAs[Long]("n_repeats")
      assert(n == base || n == base + 1)
    }
  }

  test("q170 near-dup decontamination pairs respect the split sides and the q36 semantics") {
    import org.apache.spark.sql.functions.{col, concat, lit, md5}
    val dir = "/root/testdata/sf0.001"
    val out = graft.queries.TextQueries.defs("q170_neardup_decontam")(spark, dir).collect()
    assert(out.nonEmpty, "decontamination found no candidate pairs at sf0.001")
    val buckets = graft.core.Tables(spark, dir).documents
      .select(col("doc_id"),
        (graft.functions.HexKeys.value16(
          md5(concat(lit("split|"), col("doc_id").cast("string")))) % 100)
          .cast("long").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(buckets(r.getAs[Long]("train_doc_id")) < 95)
      assert(buckets(r.getAs[Long]("eval_doc_id")) >= 95)
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
      assert(r.getAs[Boolean]("contaminated") == (j >= 0.5))
    }
  }

  test("temperature repeats stay exact past 10^10 total tokens (128-bit arithmetic)") {
    // Round-11 advice: qs · (all_tokens DIV 2) is a product of two
    // corpus-scale BIGINTs that passed Long at ~10^10 total tokens —
    // exactly the scale the operator is billed for. The arithmetic now
    // rides DECIMAL(38,0); this fixture carries 5·10^17 tokens (product
    // ~2.5·10^32) and checks the result against an independent BigInt
    // replay of the formula.
    val en = 400000000000000000L
    val fr = 100000000000000000L
    val t = Seq((1L, "en", en), (2L, "fr", fr))
      .toDF("doc_id", "lang", "n_tokens")
    val got = CurationQueries.temperatureRepeats(t).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("target_tokens"), r.getAs[Long]("n_repeats"))).toMap
    def qs(lt: Long): BigInt = BigInt(math.floor(math.sqrt(lt.toDouble) * 1e6).toLong)
    val qsTot = qs(en) + qs(fr)
    val budget = BigInt(en + fr) / 2
    def target(lt: Long): BigInt = qs(lt) * budget / qsTot
    def h(docId: Long): BigInt = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix|$docId".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      BigInt(hex.take(4), 16)
    }
    def repeats(docId: Long, lt: Long): Long =
      (target(lt) / lt +
        (if (h(docId) * lt < target(lt) % lt * 65536) BigInt(1) else BigInt(0))).toLong
    assert(got("en") == ((target(en).toLong, repeats(1L, en))),
      s"en diverged from the BigInt replay: ${got("en")}")
    assert(got("fr") == ((target(fr).toLong, repeats(2L, fr))),
      s"fr diverged from the BigInt replay: ${got("fr")}")
    // the sqrt temperature genuinely upweights the smaller language
    assert(got("fr")._1.toDouble / fr > got("en")._1.toDouble / en)
  }

  test("q195 source cap: at most C per source, deterministic, flags pre-cap size") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q195_source_cap")(spark, dir).collect()
    val bySource = rows.groupBy(_.getAs[String]("source"))
    assert(bySource.nonEmpty)
    bySource.foreach { case (src, rs) =>
      val cap = rs.head.getAs[Long]("cap")
      assert(rs.length <= cap, s"$src kept ${rs.length} > cap $cap")
      // ranks are 1..k dense within the source
      assert(rs.map(_.getAs[Long]("src_rank")).sorted.toSeq ==
        (1L to rs.length.toLong), s"$src ranks not dense")
      val n = rs.head.getAs[Long]("n_source")
      assert(rs.head.getAs[Boolean]("capped") == (n > cap))
      // when the cap bites, exactly cap survive
      if (n > cap) assert(rs.length == cap)
    }
    // determinism: a second run (fresh plan, different partitioning) picks
    // the identical survivor set — md5 rank is a pure function of doc_id
    val again = SparkEntry.queries("q195_source_cap")(spark, dir)
      .repartition(7).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet ==
      again.map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("q196 capped curation only ever picks cap survivors") {
    val dir = "/root/testdata/sf0.001"
    val capIds = SparkEntry.queries("q195_source_cap")(spark, dir)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val picked = SparkEntry.queries("q196_capped_curation")(spark, dir)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(picked.nonEmpty)
    picked.foreach(id => assert(capIds.contains(id),
      s"doc $id selected despite being cut by the source cap"))
  }

  test("q209 scrub-gated curation only ever picks scrub survivors") {
    val dir = "/root/testdata/sf0.001"
    val survivors = SparkEntry.queries("q200_boilerplate_scrub")(spark, dir)
      .filter(!org.apache.spark.sql.functions.col("is_dropped"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val picked = SparkEntry.queries("q209_scrubbed_curation")(spark, dir)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(picked.nonEmpty)
    picked.foreach(id => assert(survivors.contains(id),
      s"doc $id selected despite being dropped by the boilerplate scrub"))
  }

  test("q223 calibrated curation only ever picks per-source top-quintile docs") {
    val dir = "/root/testdata/sf0.001"
    val kept = SparkEntry.queries("q222_source_quantile_norm")(spark, dir)
      .filter(org.apache.spark.sql.functions.col("is_kept"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val picked = SparkEntry.queries("q223_calibrated_curation")(spark, dir)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(picked.nonEmpty)
    picked.foreach(id => assert(kept.contains(id),
      s"doc $id selected despite sitting below its source's quantile bar"))
  }

  test("q207 weights telescope: Σ weight = n_docs, canonicals only, weights ≥ 1") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q207_dedup_weights")(spark, dir).collect()
    assert(rows.nonEmpty)
    val nDocs = graft.core.Tables(spark, dir).documents.count()
    // every doc contributes exactly once to its canonical's weight
    assert(rows.map(_.getAs[Long]("weight")).sum == nDocs)
    rows.foreach { r =>
      assert(r.getAs[Long]("weight") >= 1L)
      // canonical: the row's doc IS its cluster representative
      assert(r.getAs[Long]("doc_id") == r.getAs[Long]("cluster_id"))
      assert(r.getAs[Long]("weighted_tokens") ==
             r.getAs[Long]("weight") * r.getAs[Long]("n_tokens"))
    }
    // the weighted estimator moves: some cluster has size > 1 on this data
    assert(rows.exists(_.getAs[Long]("weight") > 1L))
  }

  test("q208 per-source KS ≡ independent recompute from collected scores") {
    val dir = "/root/testdata/sf0.001"
    val scored = graft.queries.TextQueries.defs("q33_text_quality")(spark, dir)
      .select("doc_id", "quality_score").collect()
      .flatMap(r => if (r.isNullAt(1)) None // unscoreable docs: q208 drops them
                    else Some(r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score")))
      .toMap
    val srcOf = graft.core.Tables(spark, dir).documents
      .select("doc_id", "source").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    val buckets = scored.toSeq.collect { case (id, q) if !q.isNaN =>
      (srcOf(id), math.floor(q / 5).toLong) }
    val allBuckets = buckets.map(_._2).distinct.sorted
    val bySrc = buckets.groupBy(_._1)
    val total = buckets.size.toLong
    val want = bySrc.map { case (src, bs) =>
      val nIn = bs.size.toLong
      val nRest = total - nIn
      var cumIn = 0L; var cumAll = 0L; var maxGap = BigInt(0)
      allBuckets.foreach { b =>
        cumIn += bs.count(_._2 == b)
        cumAll += buckets.count(_._2 == b)
        val gap = (BigInt(cumIn) * nRest - BigInt(cumAll - cumIn) * nIn).abs
        if (gap > maxGap) maxGap = gap
      }
      src -> (nIn, nRest, maxGap.toDouble / (nIn.toDouble * nRest.toDouble))
    }
    val got = graft.queries.TextQueries.defs("q208_source_ks")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_in"), r.getAs[Long]("n_rest"),
         r.getAs[Double]("ks_stat"), r.getAs[Boolean]("is_outlier"))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (src, (nIn, nRest, ks, outlier)) =>
      val (wIn, wRest, wKs) = want(src)
      assert(nIn == wIn && nRest == wRest)
      assert(math.abs(ks - wKs) < 1e-12, s"$src ks $ks != $wKs")
      val crit = 1.358 * math.sqrt((nIn + nRest).toDouble / (nIn.toDouble * nRest.toDouble))
      assert(outlier == (ks > crit))
    }
  }

  // The r19 scan-local WordGramStats rewrite of q76/q156 must be
  // bit-identical to the retired explode → groupBy composed tree it
  // replaced (which is also what the DuckDB oracle replays). Pinned on
  // the sf0.001 corpus (real text) AND the crafted fixture (sub-n-token
  // docs, repeated content, single-token and tie edges).
  private def retiredQ156(dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val docs = graft.core.Tables(spark, dir).documents
    val toks = split(col("text"), " ")
    def gramsAll(n: Int) = {
      val m = size(toks) - (n - 1)
      when(size(toks) >= n,
        transform(sequence(lit(1), m),
                  i => array_join(slice(toks, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    }
    val ns = Seq(2, 3, 4, 5)
    val tagged = ns.map { n =>
      docs.select(col("doc_id"),
                  length(col("text")).cast(LongType).as("n_chars_doc"),
                  lit(n.toLong).as("n"), explode(gramsAll(n)).as("gram"))
    }.reduce(_ unionByName _)
    val gc = tagged
      .groupBy(col("doc_id"), col("n_chars_doc"), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val agg = gc.groupBy(col("doc_id"), col("n_chars_doc"), col("n"))
      .agg(sum(col("cnt")).as("n_grams"),
           min(struct((-col("cnt")).as("negcnt"), col("gram").as("gram"))).as("top"),
           sum(when(col("cnt") >= 2,
                    col("cnt") * length(col("gram")).cast(LongType))
                 .otherwise(lit(0L))).as("dup_chars"))
    val spine = ns.map { n =>
      docs.select(col("doc_id"),
                  length(col("text")).cast(LongType).as("n_chars_doc"),
                  lit(n.toLong).as("n"))
    }.reduce(_ unionByName _)
    spine.join(agg.drop("n_chars_doc"), Seq("doc_id", "n"), "left")
      .select(col("doc_id"), col("n"),
              coalesce(col("n_grams"), lit(0L)).as("n_grams"),
              coalesce(col("top.gram"), lit("")).as("top_gram"),
              coalesce(-col("top.negcnt"), lit(0L)).as("top_gram_count"),
              coalesce(((-col("top.negcnt")) *
                         length(col("top.gram")).cast(LongType)).cast(DoubleType) /
                       col("n_chars_doc").cast(DoubleType), lit(0.0))
                .as("top_gram_char_frac"),
              coalesce(col("dup_chars").cast(DoubleType) /
                       col("n_chars_doc").cast(DoubleType), lit(0.0))
                .as("dup_gram_char_frac"))
  }

  private def retiredQ76(dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val docs = graft.core.Tables(spark, dir).documents
    val wc = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val words = wc.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
           count(lit(1)).as("n_distinct_tokens"),
           min(struct((-col("cnt")).as("negcnt"), col("tok").as("tok"))).as("top"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
              col("top.tok").as("top_token"),
              (-col("top.negcnt")).as("top_token_count"))
    val grams = docs.select(
      col("doc_id"),
      greatest(size(split(col("text"), " ")) - 1, lit(0))
        .cast(LongType).as("n_bigrams"),
      size(graft.functions.Text.shingles(col("text"), 2)).cast(LongType)
        .as("n_distinct_bigrams"))
    val dupWordFrac = (col("n_tokens") - col("n_distinct_tokens")) /
      col("n_tokens").cast(DoubleType)
    val topFrac = col("top_token_count") / col("n_tokens").cast(DoubleType)
    val dupBigramFrac = when(col("n_bigrams") > 0,
      (col("n_bigrams") - col("n_distinct_bigrams")) /
        col("n_bigrams").cast(DoubleType)).otherwise(0.0)
    words.join(grams, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
              dupWordFrac.as("dup_word_frac"),
              col("top_token"), col("top_token_count"),
              topFrac.as("top_token_frac"),
              col("n_bigrams"), col("n_distinct_bigrams"),
              dupBigramFrac.as("dup_bigram_frac"),
              (dupWordFrac <= 0.6 && topFrac <= 0.2 && dupBigramFrac <= 0.4)
                .as("passes_repetition_filter"))
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("q156 scan-local stats ≡ retired explode/groupBy tree") {
    for (dir <- Seq("/root/testdata/sf0.001", craftedDir)) {
      val got = rowsOf(CurationQueries.defs("q156_gopher_repetition")(spark, dir))
      val want = rowsOf(retiredQ156(dir))
      assert(got == want, s"q156 diverges from the retired tree on $dir")
    }
  }

  test("q76 scan-local stats ≡ retired explode/groupBy tree") {
    for (dir <- Seq("/root/testdata/sf0.001", craftedDir)) {
      val got = rowsOf(CurationQueries.defs("q76_repetition_quality")(spark, dir))
      val want = rowsOf(retiredQ76(dir))
      assert(got == want, s"q76 diverges from the retired tree on $dir")
    }
  }

  test("WordGramStats ties break to the UTF-8-smallest gram") {
    import org.apache.spark.sql.functions._
    // "b a b a": bigrams "b a"×2? no — windows: "b a","a b","b a" → "b a"
    // wins at 2; unigrams tie a=2 b=2 → "a" (lexicographically smaller).
    val df = Seq("b a b a").toDF("text").select(
      org.apache.spark.sql.graftx.WordGramStats
        .wordGramStats(col("text"), Seq(1, 2)).as("st"))
    val st = df.collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(st(0).getLong(1) == 4L && st(0).getString(3) == "a" &&
           st(0).getLong(4) == 2L)
    assert(st(1).getLong(1) == 3L && st(1).getString(3) == "b a" &&
           st(1).getLong(4) == 2L && st(1).getLong(5) == 2L * 3L)
  }
}
