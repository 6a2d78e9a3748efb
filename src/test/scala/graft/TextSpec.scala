package graft

import graft.functions.Text
import org.apache.spark.sql.functions._

/** Text-analysis functions on real multilingual samples (the synthetic
  * testdata shares one vocabulary across lang labels, so discrimination
  * is proven here instead).
  */
class TextSpec extends SparkSpec {
  import spark.implicits._

  test("native WordSetHits matches the composable filter/array_contains form bit-for-bit") {
    val texts = Seq(
      "the cat sat on the mat", "der hund und die katze", "", "xyz qqq",
      "the the the a a of is to in that it for und the") ++
      (0 until 50).map(i => s"w$i the a of w${i % 7} und der el los")
    val df = texts.toDF("text").select(Text.tokens(col("text")).as("toks"))
    Text.langProfiles.foreach { case (_, words) =>
      val rows = df.select(
        Text.wordListHits(col("toks"), words).as("native"),
        ReferenceForms.wordListHitsComposable(col("toks"), words).as("composable")).collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    }
    // null-element and null-array behavior match too
    val edge = spark.sql(
      "SELECT array('the', CAST(NULL AS STRING), 'of') AS toks " +
      "UNION ALL SELECT CAST(NULL AS ARRAY<STRING>)")
    val er = edge.select(
      Text.wordListHits(col("toks"), Seq("the", "of")).as("native"),
      ReferenceForms.wordListHitsComposable(col("toks"), Seq("the", "of")).as("composable"))
      .collect()
    er.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1))
    }
  }

  test("langId discriminates real language samples") {
    val samples = Seq(
      ("en", "the cat sat on the mat and it is a good day for all of us"),
      ("de", "der hund ist nicht zu hause und die katze ist mit der maus"),
      ("fr", "le chat est dans la maison et les oiseaux sont sur une branche pour la nuit"),
      ("es", "el perro es un animal que vive con los humanos por una larga historia"),
      ("zh", "这是一个中文句子 用于测试语言识别功能 谢谢")
    ).toDF("expected", "text")
    val got = samples.select(col("expected"), Text.langId(col("text")).as("got"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    got.foreach { case (want, have) => assert(want == have, s"expected $want got $have") }
  }

  test("langId returns 'und' when nothing matches") {
    val got = Seq("zzz qqq xxx").toDF("text")
      .select(Text.langId(col("text"))).collect().head.getString(0)
    assert(got == "und")
  }

  test("shingles builds distinct word trigrams; short docs give none") {
    val out = Seq("a b c d", "a b").toDF("text")
      .select(Text.shingles(col("text"), 3).as("s")).collect()
    assert(out(0).getSeq[String](0).toSet == Set("a b c", "b c d"))
    assert(out(1).getSeq[String](0).isEmpty)
  }

  test("native shingles ≡ composable shingles (values AND order) on real docs") {
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001").documents
      .union(Seq((9998L, "a b", "x", "x", 3L), (9999L, "a a a a", "x", "x", 7L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    for (n <- Seq(2, 3, 5)) {
      val mismatch = docs.select(
        Text.shingles(col("text"), n).as("native"),
        ReferenceForms.shinglesComposable(col("text"), n).as("composable"))
        .filter(not(col("native") === col("composable")))
        .count()
      assert(mismatch == 0, s"n=$n")
    }
  }

  test("sortedTokenFingerprint matches on reordered documents") {
    val out = Seq("b a c", "c b a", "a b d").toDF("text")
      .select(Text.sortedTokenFingerprint(col("text")).as("f"))
      .collect().map(_.getString(0))
    assert(out(0) == out(1) && out(0) != out(2))
  }

  test("wordListHits counts total (not distinct) occurrences") {
    val n = Seq("the cat the dog the").toDF("text")
      .select(Text.wordListHits(Text.tokens(col("text")), Seq("the", "a")))
      .collect().head.getLong(0)
    assert(n == 3)
  }

  test("regexTokenCount counts word runs and isolated punctuation") {
    val n = Seq("hello, world! it's fine").toDF("text")
      .select(Text.regexTokenCount(col("text"))).collect().head.getLong(0)
    // hello , world ! it ' s fine → 8
    assert(n == 8)
  }

  test("q162 first-occurrence curve ≡ naive per-checkpoint distinct aggregation") {
    // The single-scan trick (V_k = Σ_{b≤k} |{tok : min-bucket = b}|) must
    // equal the 8-aggregation naive form (distinct tokens over each doc_id
    // prefix) — checkpoint by checkpoint, tokens and vocab both.
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q162_heaps_law")(spark, dir)
      .orderBy("checkpoint").collect()
    val d  = graft.core.Tables(spark, dir).documents
    val mx = d.agg(max(col("doc_id"))).collect().head.getLong(0)
    rows.foreach { r =>
      val k  = r.getAs[Long]("checkpoint")
      // bucket(doc) ≤ k  ⇔  doc_id·8 div (mx+1) + 1 ≤ k
      val prefix = d.filter(expr(s"CAST((doc_id * 8) DIV ($mx + 1) AS BIGINT) + 1") <= k)
        .select(explode(Text.tokens(col("text"))).as("tok"))
      val Array(nTok, nVoc) =
        prefix.agg(count(lit(1)), countDistinct(col("tok"))).collect().head
          .toSeq.toArray.map(_.asInstanceOf[Long])
      assert(r.getAs[Long]("cum_tokens") == nTok, s"tokens at checkpoint $k")
      assert(r.getAs[Long]("cum_vocab") == nVoc, s"vocab at checkpoint $k")
    }
    // fit sanity: vocab grows sublinearly (β < 1); the synthetic corpus
    // shares one small vocabulary, so it saturates in the first bucket
    // and β legitimately sits near 0 — exactly the "more data stops
    // adding words" signal the curve exists to expose.
    val beta = rows.head.getAs[Double]("heaps_beta")
    assert(beta >= 0.0 && beta < 1.0, s"heaps_beta=$beta")
  }

  test("q174 S-curve planner: FP falls with rows-per-band, FN falls with bands, one best") {
    val rows = graft.queries.TextQueries.defs("q174_lsh_parameter_plan")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 20)
    val byBR = rows.map(r => (r.getAs[Long]("b"), r.getAs[Long]("r")) -> r).toMap
    // fixed b: raising r makes the curve steeper-later → less FP mass,
    // more FN mass
    for (b <- Seq(1L, 4L, 16L); Seq(r1, r2) <- Seq(1L, 2L, 4L, 8L).sliding(2)) {
      assert(byBR((b, r2)).getAs[Long]("fp_q") <= byBR((b, r1)).getAs[Long]("fp_q"))
      assert(byBR((b, r2)).getAs[Long]("fn_q") >= byBR((b, r1)).getAs[Long]("fn_q"))
    }
    // fixed r: more bands → more collisions → more FP, less FN
    for (r <- Seq(1L, 2L, 8L); Seq(b1, b2) <- Seq(1L, 2L, 4L, 8L, 16L).sliding(2)) {
      assert(byBR((b2, r)).getAs[Long]("fp_q") >= byBR((b1, r)).getAs[Long]("fp_q"))
      assert(byBR((b2, r)).getAs[Long]("fn_q") <= byBR((b1, r)).getAs[Long]("fn_q"))
    }
    // exactly one best plan, inside the signature budget
    val best = rows.filter(_.getAs[Boolean]("is_best"))
    assert(best.length == 1)
    assert(best.head.getAs[Long]("sig_len") <= 16)
    // q199's Scala planner replay (pure-JVM doubles, same square chains
    // and 1e12 quantization) must pick EXACTLY the plan the Spark-side
    // integral marks — this is what makes embedding the planned (b, r)
    // as constants in q199's oracle sound
    val (pb, pr) = graft.queries.TextQueries.plannedLsh
    assert((best.head.getAs[Long]("b").toInt, best.head.getAs[Long]("r").toInt)
      == ((pb, pr)), s"Scala replay ($pb,$pr) diverged from q174's is_best")
  }

  test("q206 winnow overlap ≡ brute-force recompute over q87's fingerprints") {
    val dir = "/root/testdata/sf0.001"
    val fps = graft.queries.TextQueries.defs("q87_winnow_fingerprint")(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("fp_hash")))
      .toSet // distinct (doc, print) incidences
    val df = fps.groupBy(_._2).map { case (h, s) => h -> s.size }
    val rare = fps.filter { case (_, h) => df(h) <= 50 }
    val nfp  = rare.groupBy(_._1).map { case (d, s) => d -> s.size.toLong }
    val byHash = rare.groupBy(_._2).mapValues(_.map(_._1).toSeq.sorted)
    val shared = scala.collection.mutable.Map.empty[(Long, Long), Long]
    byHash.values.foreach { ds =>
      for (i <- ds.indices; j <- (i + 1) until ds.size)
        shared((ds(i), ds(j))) = shared.getOrElse((ds(i), ds(j)), 0L) + 1L
    }
    val want = shared.filter(_._2 >= 2L).map { case ((a, b), s) =>
      (a, b) -> (s, nfp(a), nfp(b),
                 s.toDouble / math.min(nfp(a), nfp(b)).toDouble)
    }.toMap
    val got = graft.queries.TextQueries.defs("q206_winnow_overlap")(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("shared"), r.getAs[Long]("nfp_a"),
         r.getAs[Long]("nfp_b"), r.getAs[Double]("overlap"))).toMap
    assert(want.nonEmpty, "no overlap pairs on the test corpus — screen untestable")
    assert(got == want, s"overlap mismatch: ${got.size} vs ${want.size} pairs")
  }

  test("q201 KS drift: monotone CDFs ending at 1, ks = max gap, size-aware bar") {
    val rows = graft.queries.TextQueries.defs("q201_ks_drift")(
      spark, "/root/testdata/sf0.001").orderBy("bucket").collect()
    assert(rows.nonEmpty)
    var pb = 0.0; var pd = 0.0; var maxGap = 0.0
    rows.foreach { r =>
      val cb = r.getAs[Double]("cdf_base")
      val cd = r.getAs[Double]("cdf_delta")
      assert(cb >= pb - 1e-12 && cd >= pd - 1e-12, "CDFs must be monotone")
      pb = cb; pd = cd
      maxGap = math.max(maxGap, math.abs(cb - cd))
    }
    assert(math.abs(rows.last.getAs[Double]("cdf_base") - 1.0) < 1e-12)
    assert(math.abs(rows.last.getAs[Double]("cdf_delta") - 1.0) < 1e-12)
    val ks = rows.head.getAs[Double]("ks_stat")
    assert(rows.forall(r => math.abs(r.getAs[Double]("ks_stat") - ks) < 1e-15))
    assert(math.abs(ks - maxGap) < 1e-9, s"ks_stat $ks != max CDF gap $maxGap")
    assert(rows.count(_.getAs[Boolean]("is_ks_bucket")) >= 1)
    // the α=0.05 bar is the classical c·√((nₐ+n_d)/(nₐ·n_d)) — and on a
    // RANDOM md5 split of one corpus the statistic must sit under it
    val nb = rows.map(_.getAs[Long]("n_base")).sum
    val nd = rows.map(_.getAs[Long]("n_delta")).sum
    val crit = 1.358 * math.sqrt((nb + nd).toDouble / (nb.toDouble * nd.toDouble))
    rows.foreach(r => assert(r.getAs[Boolean]("is_drifted") == (ks > crit)))
    assert(ks <= crit, "a random split of one distribution must not read as drift")
  }

  test("q202 fertility rollup ≡ independent per-language recompute from q130") {
    val dir  = "/root/testdata/sf0.001"
    val q130 = graft.queries.TextQueries.defs("q130_bpe_tokenize")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens_before"), r.getAs[Long]("n_tokens_after"),
         r.getAs[Long]("n_merged_tokens"))).toMap
    val docs = graft.core.Tables(spark, dir).documents
      .select("doc_id", "lang", "n_chars")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
                           r.getAs[Long]("n_chars")))
    val expected = docs.groupBy(_._2).map { case (lang, ds) =>
      val t = ds.map { case (id, _, nc) =>
        val (b, a, m) = q130(id); (b, a, m, nc)
      }
      lang -> (ds.length.toLong, t.map(_._1).sum, t.map(_._2).sum,
               t.map(_._3).sum, t.map(_._4).sum)
    }
    val out = graft.queries.TextQueries.defs("q202_tokenizer_fertility")(
      spark, dir).collect()
    assert(out.map(_.getAs[String]("lang")).toSet == expected.keySet)
    out.foreach { r =>
      val (nDocs, words, bpe, merged, chars) = expected(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_docs") == nDocs)
      assert(r.getAs[Long]("n_words") == words)
      assert(r.getAs[Long]("n_bpe_tokens") == bpe)
      assert(r.getAs[Long]("n_merged_tokens") == merged)
      assert(r.getAs[Long]("n_chars") == chars)
      assert(r.getAs[Double]("fertility") == bpe.toDouble / words.toDouble)
      // this BPE merges whitespace words, so fertility ≤ 1 and each merged
      // token accounts for ≥1 of the before−after shrink
      assert(bpe <= words && (words - bpe) >= merged)
    }
  }

  test("q222 per-source quantiles ≡ independent recompute; keep rate ≤ 20% + one bucket") {
    // re-derive every doc's (cum_below, n_source) from collected
    // (source, bucket) pairs in plain Scala, and pin the calibration
    // guarantee: within each source the kept fraction can exceed 20%
    // only by the one bucket straddling the 0.8 boundary.
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q222_source_quantile_norm")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"),
                 (r.getAs[String]("source"), r.getAs[Long]("bucket"),
                  r.getAs[Long]("n_source"), r.getAs[Long]("cum_below"),
                  r.getAs[Boolean]("is_kept")))).toMap
    val pairs = got.toSeq.map { case (d, (src, b, _, _, _)) => (d, src, b) }
    val bySrc = pairs.groupBy(_._2)
    bySrc.foreach { case (src, ds) =>
      val n = ds.size.toLong
      val cnt = ds.groupBy(_._3).view.mapValues(_.size.toLong).toMap
      ds.foreach { case (d, _, b) =>
        val below = cnt.filter(_._1 < b).values.sum
        val (gs, gb, gn, gc, gk) = got(d)
        assert(gs == src && gb == b && gn == n && gc == below &&
               gk == (below * 5 >= n * 4), s"doc $d mismatch")
      }
      val kept = ds.count { case (d, _, _) => got(d)._5 }
      val largestBucket = cnt.values.max
      assert(kept <= n / 5 + largestBucket,
        s"$src keeps $kept of $n — beyond 20% + one bucket")
    }
  }

  test("q219 Hill spectrum ≡ independent recompute from collected cluster sizes") {
    // re-derive the whole plot in plain Scala (BigInt prefix sums over
    // the same 1e9-quantized ln terms) from q67's collected sizes — the
    // CurationSpec q208 discipline: the distributed heap/window chain
    // must agree with the direct math, value for value.
    val dir = "/root/testdata/sf0.001"
    val sizes = SparkEntry.queries("q67_dedup_clusters")(spark, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .collect().map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("sz")))
    val top = sizes.sortBy { case (cid, sz) => (-sz, cid) }.take(21).map(_._2)
    val tq = top.map(s => BigInt(math.floor(1e9 * math.log(s.toDouble) + 0.5).toLong))
    val expected = (1 until top.length).map { k =>
      val gap = tq.take(k).sum - k * tq(k)
      val alpha = if (gap == 0) None
                  else Some(k.toDouble * 1e9 / gap.toDouble)
      (k.toLong, top(k - 1), alpha)
    }.filter(_._1 <= 20)
    val got = SparkEntry.queries("q219_dup_cluster_spectrum")(spark, dir)
      .orderBy("tail_rank").collect()
      .map(r => (r.getAs[Long]("tail_rank"), r.getAs[Long]("cluster_size"),
                 Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(got.toSeq == expected,
      s"spectrum mismatch:\n got $got\n want $expected")
  }

  test("q214 audit rate is budget-coupled: clamped 1..20%, pair budget never exceeded, over-budget raises") {
    import graft.queries.TextQueries.{snmAuditRateExpr, SnmAuditBudgetPairs, SnmAuditMaxPct, SnmAuditTargetVals}
    def rateFor(v: Long): Long =
      Seq(v).toDF("__v").select(snmAuditRateExpr.as("r")).collect().head.getLong(0)
    // small V (every test SF): capped at round 13's fixed 20% so the gate
    // hashes are unchanged
    assert(rateFor(1L) == SnmAuditMaxPct)
    assert(rateFor(5000L) == SnmAuditMaxPct)
    assert(rateFor(100L * SnmAuditTargetVals / SnmAuditMaxPct) == SnmAuditMaxPct)
    // growth region: expected sampled pairs (rate·V/100)²/2 stays under
    // budget for every V up to the raise bound
    for (v <- Seq(30000L, 100000L, 250000L, 447200L)) {
      val r = rateFor(v)
      assert(r >= 1L && r <= SnmAuditMaxPct)
      val sampled = r * v / 100.0
      assert(sampled * sampled / 2.0 <= SnmAuditBudgetPairs.toDouble * 1.05,
        s"V=$v rate=$r implies ${sampled * sampled / 2.0} pairs > budget")
    }
    // the floor: exactly at the bound the 1% rate is still legal
    assert(rateFor(100L * SnmAuditTargetVals) == 1L)
    // beyond it the query must REFUSE to run the quadratic
    val ex = intercept[Exception] { rateFor(100L * SnmAuditTargetVals + 1L) }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("q214 audit budget exceeded")), s"wrong error: $ex")
  }
}
