package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Dedup operator semantics: exact groups, Jaccard values, prefix-filter
  * equivalence with the naive algorithm, MinHash recall on true dupes.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b c d e f"),
    (2L, "a b c d e f"),          // exact dup of 1
    (3L, "a b c d e g"),          // near dup of 1 (shares 3 of 5 trigrams)
    (4L, "x y z w v u"),          // unrelated
    (5L, "f e d c b a")           // reversed: same tokens, different trigrams
  ).toDF("doc_id", "text")

  test("exact dedup groups by content hash with min-id canonical") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id", "canonical_id", "is_duplicate")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == ((1L, false)))
    assert(out(2L) == ((1L, true)))
    assert(out(3L)._2 == false && out(5L)._2 == false)
  }

  test("jaccard pairs: identical docs = 1.0; near dup = |∩|/|∪|") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    // doc1 trigrams {abc,bcd,cde,def}, doc3 {abc,bcd,cde,deg}: 3/5 = 0.6
    assert(approx(pairs((1L, 3L)), 0.6))
    assert(approx(pairs((2L, 3L)), 0.6))
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((1L, 5L)))
  }

  test("prefix-filtered jaccard equals the naive all-pairs result") {
    // adversarial-ish corpus: skewed token frequencies, variable lengths
    val corpus = (0 until 40).map { i =>
      val toks = (0 until 6 + i % 5).map(j => s"w${(i * 7 + j * 3) % 13}")
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val smart = Dedup.jaccardPairs(corpus, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // naive: all-pairs via full shingle sets
    val sh = Dedup.shingled(corpus, "doc_id", "text")
    val naive = sh.alias("a").crossJoin(sh.alias("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        (size(array_intersect(col("a.shingles"), col("b.shingles"))).cast("double") /
          (col("a.n_shingles") + col("b.n_shingles") -
            size(array_intersect(col("a.shingles"), col("b.shingles")))).cast("double"))
          .as("j"))
      .filter(col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(smart == naive)
  }

  test("containment pairs detect near-supersets Jaccard misses; ≡ naive all-pairs") {
    // doc 11 is verbatim-contained in the 4× larger doc 12: containment
    // = 1.0 but Jaccard ≈ 1/4 — the case symmetric dedup can't see
    val quoted = "q1 q2 q3 q4 q5 q6"
    val filler = (0 until 18).map(j => s"f$j").mkString(" ")
    val corpus = ((0 until 30).map { i =>
      val toks = (0 until 6 + i % 5).map(j => s"w${(i * 7 + j * 3) % 13}")
      (i.toLong, toks.mkString(" "))
    } ++ Seq((11L + 100, quoted), (12L + 100, s"$filler $quoted")))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(corpus, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSet
    assert(got.contains((111L, 112L, 1.0)),
      s"verbatim inclusion not detected in $got")
    // Jaccard at the same threshold does NOT find it
    val jac = Dedup.jaccardPairs(corpus, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((111L, 112L)))
    // exhaustive equivalence with the naive all-pairs containment
    val sh = Dedup.shingled(corpus, "doc_id", "text")
    val naive = sh.alias("a").crossJoin(sh.alias("b"))
      .filter(col("a.n_shingles") < col("b.n_shingles") ||
              (col("a.n_shingles") === col("b.n_shingles") &&
               col("a.doc_id") < col("b.doc_id")))
      .select(col("a.doc_id"), col("b.doc_id"),
        (size(array_intersect(col("a.shingles"), col("b.shingles"))).cast("double") /
          col("a.n_shingles").cast("double")).as("c"))
      .filter(col("c") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == naive)
  }

  test("exactSubstrCoverage marks exactly the cross-doc verbatim spans") {
    // k=5. Doc 10 and 11 share "ABCDEFG" (len 7 ≥ 5) and nothing else
    // cross-doc; doc 12 repeats a 5-gram only WITHIN itself (no other
    // doc has it) → zero coverage; doc 13 is unrelated.
    val corpus = Seq(
      (10L, "xxABCDEFGyy"),        // span [3, 10) → 7 chars, grams at pos 3,4,5
      (11L, "ABCDEFGzzzz"),        // span [1, 8)  → 7 chars, grams at pos 1,2,3
      (12L, "QQQQQwwQQQQQ"),       // within-doc repeat only → no coverage
      (13L, "0123456789")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrCoverage(corpus, "doc_id", "text", k = 5)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out === Array(
      (10L, 3L, 1L, 7L, 7L),
      (11L, 3L, 1L, 7L, 7L),
      (12L, 0L, 0L, 0L, 0L),
      (13L, 0L, 0L, 0L, 0L)))
    // two disjoint shared runs make two spans; dup_chars sums both
    val corpus2 = Seq(
      (20L, "AAAAA.....BBBBB"),    // shares AAAAA and BBBBB with 21/22
      (21L, "AAAAAzzzzzzzzzz"),
      (22L, "zzzzzzzzzzBBBBB")
    ).toDF("doc_id", "text")
    val out2 = Dedup.exactSubstrCoverage(corpus2, "doc_id", "text", k = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out2(0) === ((20L, 2L, 10L)))  // two spans of 5 chars each
  }

  test("exactSubstrAgainst marks only delta-vs-BASE spans, never delta-vs-delta") {
    val base = Seq((1L, "xxABCDEFGyy")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "ABCDEFGzz"),     // shares ABCDEFG (7 >= 5) with base doc 1
      (11L, "WWWWWqqqqq"),    // shares WWWWW only with delta doc 12 → no hit
      (12L, "WWWWWrrrrr")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrAgainst(delta, base, "doc_id", "text", k = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out === Array((10L, 1L, 7L), (11L, 0L, 0L), (12L, 0L, 0L)))
  }

  test("simhash aggregate matches a reference bit-count implementation") {
    // Independent recomputation: per distinct trigram, bit b = bit (7-b%8)
    // of byte b/8 of md5; document bit set iff 2*ones >= n. Exercises the
    // distributed update/merge/serialize path against local arithmetic.
    def refSimhash(text: String): Long = {
      val toks = text.split(" ")
      val tris = (0 until math.max(toks.length - 2, 1))
        .map(i => toks.slice(i, i + 3).mkString(" ")).distinct
      val md = java.security.MessageDigest.getInstance("MD5")
      val counts = new Array[Int](64)
      tris.foreach { t =>
        val b = md.digest(t.getBytes("UTF-8"))
        for (i <- 0 until 64) counts(i) += (b(i / 8) >> (7 - i % 8)) & 1
      }
      (0 until 64).foldLeft(0L)((acc, i) =>
        if (2 * counts(i) >= tris.length) acc | (1L << (63 - i)) else acc)
    }
    val got = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = docs.collect().map(r => r.getLong(0) -> refSimhash(r.getString(1))).toMap
    assert(got == want)
    // near-dup pair structure: exact dup at hamming 0, reversed text differs
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == 0L)
  }

  test("connected components label transitive clusters with the min id") {
    // chain 1-2-3 (transitive: 1 and 3 never share an edge), pair 5-4
    // (reversed order), singleton 9
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 4L)).toDF("a", "b")
    val got = Dedup.connectedComponents(nodes, pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("star contraction ≡ min-label propagation on chain / star / random graphs") {
    // The interchangeability contract behind q149: both CC algorithms
    // produce the identical (id, cluster_id = component min) labeling.
    // Adversarial shapes: a 64-deep CHAIN (min-label's worst case — star
    // contraction must converge in far fewer than 64 rounds, enforced by
    // its own maxIters=50 require), a star with a LATE root (edges arrive
    // max-first), a random multi-component graph with dup/reversed edges,
    // and singletons that never appear in any edge.
    val chainN = 64
    val cases: Seq[(Seq[Long], Seq[(Long, Long)])] = Seq(
      ((0L until chainN.toLong) :+ 999L,
        (0 until chainN - 1).map(i => (i.toLong + 1L, i.toLong))),
      (Seq(10L, 11L, 12L, 13L, 1L), Seq((10L, 11L), (12L, 11L), (13L, 12L), (11L, 1L))),
      (0L to 30L,
        Seq((5L, 3L), (3L, 5L), (3L, 8L), (20L, 25L), (25L, 21L), (21L, 20L),
            (30L, 29L), (29L, 28L), (28L, 27L), (27L, 26L), (2L, 8L)))
    ).map { case (ns, es) => (ns.toSeq, es) }
    for (((ns, es), ci) <- cases.zipWithIndex) {
      val nodes = ns.toDF("id")
      val pairs = es.toDF("a", "b")
      // maxIters=80 for the BASELINE: min-label propagation genuinely
      // needs diameter≈63 rounds on the chain (its default 20-round cap
      // trips — which is precisely the scale gap star contraction closes
      // while converging well inside its own default cap here).
      val want = Dedup.connectedComponents(nodes, pairs, "a", "b", maxIters = 80)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = Dedup.connectedComponentsStars(nodes, pairs, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"case $ci: star contraction diverged")
    }
  }

  test("star contraction handles an edgeless graph (all singletons)") {
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    val got = Dedup.connectedComponentsStars(nodes, pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("minhash LSH candidates include all exact duplicates") {
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L))) // identical signature → same bands
  }

  test("rowBands (scan-local, streaming form) ≡ aggregate-path bands bit-for-bit") {
    // real corpus rows, plus a shingle-less doc (2 tokens) that both
    // paths must DROP (the aggregate path by emitting no exploded rows,
    // the row path by the empty-array guard)
    val d = graft.core.Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((9999L, "two tokens")).toDF("doc_id", "text"))
    val agg = Dedup.lshBands(Dedup.minhashSignatures(d, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val row = d.select(col("doc_id"), explode(Dedup.rowBands(col("text"))).as("b"))
      .select(col("doc_id"), col("b.band_idx"), col("b.band_hash"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(row === agg, "scan-local bands diverged from the aggregate path")
    assert(!row.exists(_._1 == 9999L), "shingle-less doc must produce no bands")
  }

  test("exactSubstrRemediate cuts a middle shared span and stitches head+tail") {
    val shared = "abcdefghijklmnopqrstuvwxy12345" // 30 chars
    val d = Seq(
      (1L, "A" * 20 + shared + "Z" * 20),
      (2L, "B" * 20 + shared + "Y" * 20),
      (3L, "totally unrelated text that stands alone here!!!")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrRemediate(d, "doc_id", "text", k = 25, minChars = 30)
      .collect().map(r => r.getLong(0) -> r).toMap
    // the only cross-doc ≥25-char verbatim run is the 30-char block;
    // removal leaves head+tail stitched
    assert(out(1L).getAs[String]("residual_text") == "A" * 20 + "Z" * 20)
    assert(out(2L).getAs[String]("residual_text") == "B" * 20 + "Y" * 20)
    assert(out(1L).getAs[Long]("clean_chars") == 40L)
    assert(out(1L).getAs[Long]("dup_chars") == 30L)
    assert(out(1L).getAs[Boolean]("keep"))
    // unique doc passes through byte-identical
    assert(out(3L).getAs[String]("residual_text") ==
      "totally unrelated text that stands alone here!!!")
    assert(approx(out(3L).getAs[Double]("kept_frac"), 1.0))
  }

  test("exactSubstrRemediate empties full duplicates and drops them below minChars") {
    val t = "0123456789" * 6 // 60 chars, duplicated verbatim
    val d = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val out = Dedup.exactSubstrRemediate(d, "doc_id", "text", k = 25, minChars = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    Seq(1L, 2L).foreach { id =>
      assert(out(id).getAs[String]("residual_text") == "")
      assert(out(id).getAs[Long]("clean_chars") == 0L)
      assert(out(id).getAs[Long]("dup_chars") == 60L)
      assert(!out(id).getAs[Boolean]("keep"))
    }
  }

  test("chunkDedup keeps first corpus-wide occurrence and reassembles in order") {
    val w25 = (1 to 25).map("w" + _).mkString(" ")
    val w20 = (1 to 20).map("w" + _).mkString(" ") // == doc 1's first chunk
    val d = Seq((1L, w25), (2L, w20), (3L, "a b c")).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(d, "doc_id", "text", chunkTokens = 20)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_chunks") == 2L)
    assert(out(1L).getAs[Long]("kept_chunks") == 2L)
    assert(out(1L).getAs[Long]("kept_tokens") == 25L)
    assert(out(1L).getAs[String]("residual_text") == w25)
    // doc 2's single chunk is doc 1's chunk 0 → cut entirely
    assert(out(2L).getAs[Long]("kept_chunks") == 0L)
    assert(out(2L).getAs[Long]("kept_tokens") == 0L)
    assert(out(2L).getAs[String]("residual_text") == "")
    assert(out(3L).getAs[Long]("kept_tokens") == 3L)
    assert(out(3L).getAs[String]("residual_text") == "a b c")
  }

  test("exactSubstrRemediateAgainst cleans only delta-vs-BASE spans, never delta-vs-delta") {
    val shared = "abcdefghijklmnopqrstuvwxy12345" // 30 chars, lives in the base
    val dd     = "ZYXWVUTSRQPONMLKJIHGFEDCBA9876" // 30 chars shared only BETWEEN deltas
    val base  = Seq((1L, "B" * 10 + shared + "Q" * 10)).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "A" * 20 + shared + "Z" * 20), // base span → cut
      (11L, "C" * 10 + dd + "D" * 10),     // delta-only duplication → kept
      (12L, "E" * 10 + dd + "F" * 10)
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrRemediateAgainst(delta, base, "doc_id", "text",
        k = 25, minChars = 30)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(10L).getAs[String]("residual_text") == "A" * 20 + "Z" * 20)
    assert(out(10L).getAs[Long]("dup_chars") == 30L)
    // delta-vs-delta duplication is NOT this operator's job (the batch
    // pass owns it) — both docs pass through untouched
    Seq(11L, 12L).foreach { id =>
      assert(out(id).getAs[Long]("dup_chars") == 0L)
      assert(approx(out(id).getAs[Double]("kept_frac"), 1.0))
    }
    assert(!out.contains(1L), "base docs must not appear in the delta output")
  }

  // --- CDC chunking (q225/q226) -----------------------------------

  /** Scala replay of CdcChunkArray's boundary rule via the UN-rolled
    * polynomial (the oracle's derivation): boundary at 1-based cp
    * position p ≥ k iff Σ cp(p−k+j)·31^(k−j) mod 2^32 mod divisor == 0.
    */
  private def polyBoundaries(s: String, k: Int, div: Int): Seq[Int] = {
    val cps = s.codePoints().toArray
    (k to cps.length).filter { p =>
      val h = (1 to k).foldLeft(0L) { (acc, j) =>
        (acc + cps(p - k + j - 1).toLong * Seq.fill(k - j)(31L).product) & 0xFFFFFFFFL
      }
      h % div == 0
    }
  }

  private def cdcChunksOf(texts: Seq[String]): Map[Long, Seq[org.apache.spark.sql.Row]] = {
    import spark.implicits._
    Dedup.cdcChunkFrame(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id -> rs.sortBy(_.getAs[Long]("chunk_idx")).toSeq }
  }

  test("CdcChunkArray partitions the exact code-point stream; rolling ≡ polynomial") {
    val rnd = new scala.util.Random(41)
    val alpha = "abcdefgh 😀é" // includes a non-BMP cp and a 2-byte cp
    val texts = (1 to 8).map(_ => (1 to 300).map(_ =>
      alpha.codePoints().toArray.apply(rnd.nextInt(11))).flatMap(Character.toChars(_).toSeq).mkString) :+
      "short" :+ "" :+ "x"
    val out = cdcChunksOf(texts.filter(_.nonEmpty))
    texts.filter(_.nonEmpty).zipWithIndex.foreach { case (t, i) =>
      val chunks = out(i.toLong)
      // exact partition of the char stream
      assert(chunks.map(_.getAs[String]("chunk_text")).mkString == t)
      assert(chunks.map(_.getAs[Long]("chunk_chars")).sum ==
             t.codePointCount(0, t.length).toLong)
      // boundary set ≡ the un-rolled polynomial (pins the rolling
      // subtract/mask arithmetic, surrogate pairs included)
      val bs = polyBoundaries(t, Dedup.CdcK, Dedup.CdcDivisor)
        .filter(_ < t.codePointCount(0, t.length)) // boundary at n closes no extra chunk
      val ends = chunks.map(r => r.getAs[Long]("chunk_pos") + r.getAs[Long]("chunk_chars") - 1L)
      assert(ends.dropRight(1).map(_.toInt) == bs,
        s"interior chunk ends != polynomial boundaries for doc $i")
    }
  }

  test("CDC boundaries re-synchronize after a prefix edit; fixed offsets do not") {
    val rnd = new scala.util.Random(7)
    val s = (1 to 600).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val padded = "XQZV7 " + s
    val ch = cdcChunksOf(Seq(s, padded))
    val orig = ch(0L).map(_.getAs[String]("chunk_text"))
    val pad  = ch(1L).map(_.getAs[String]("chunk_text"))
    assert(orig.size >= 3, "fixture too short to exercise realignment")
    // every boundary of s survives the shift (the gram ending there is
    // untouched), so all of s's chunks AFTER its first boundary appear
    // verbatim in the padded doc's chunk stream
    assert(orig.tail.forall(pad.contains),
      "CDC chunks after the first boundary must realign across the prefix edit")
  }

  test("cdcChunkDedup cuts realigned suffix content of a prefix-edited copy") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val s = (1 to 600).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val d = Seq((1L, s), (2L, "XQZV7 " + s), (3L, s)).toDF("doc_id", "text")
    val out = Dedup.cdcChunkDedup(d, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 3 is an exact duplicate: every chunk cut, empty residual
    assert(out(3L).getAs[Long]("kept_chunks") == 0L)
    assert(out(3L).getAs[String]("residual_text") == "")
    // doc 1 is the first occurrence: fully kept, exact reassembly
    assert(out(1L).getAs[String]("residual_text") == s)
    // doc 2 keeps only its first chunk(s) up to realignment — strictly
    // less than half survives (at divisor 64 over 600 chars the shared
    // suffix dominates)
    assert(out(2L).getAs[Long]("kept_chars") < 300L,
      s"prefix-edited copy kept ${out(2L).getAs[Long]("kept_chars")} chars — CDC failed to realign")
  }

  test("token and CDC chunk dedup: full repeat, in-document repeat, repeat-free document") {
    // token chunks of 3: doc 2 repeats doc 1 in full, doc 3's third chunk
    // repeats its first, doc 4 repeats nothing
    val d = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"),
                (3L, "x y z p q r x y z"), (4L, "m n o u")).toDF("doc_id", "text")
    val tok = Dedup.chunkDedup(d, "doc_id", "text", chunkTokens = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("kept_chunks"), r.getAs[Long]("kept_tokens"),
         r.getAs[String]("residual_text"))).toMap
    assert(tok == Map(
      1L -> (3L, 7L, "a b c d e f g"),
      2L -> (0L, 0L, ""),
      3L -> (2L, 6L, "x y z p q r"),
      4L -> (2L, 4L, "m n o u")))

    // CDC: the same three shapes over random text, each document's
    // expected readout replayed from its chunks in (doc_id, chunk_idx)
    // order with a seen-set
    val rnd = new scala.util.Random(7)
    def text(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val s = text(400)
    val t = text(300)
    val u = text(300)
    val c = Seq((1L, s), (2L, s), (3L, t + t), (4L, u)).toDF("doc_id", "text")
    val chunks = Dedup.cdcChunkFrame(c, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
                 r.getAs[String]("chunk_text")))
      .sortBy(x => (x._1, x._2))
    val seen = scala.collection.mutable.Set.empty[String]
    val want = chunks.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, cs) =>
      val kept = cs.sortBy(_._2).map(_._3).filter(seen.add)
      id -> (kept.size.toLong, kept.map(_.length.toLong).sum, kept.mkString)
    }.toMap
    val cdc = Dedup.cdcChunkDedup(c, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("kept_chunks"), r.getAs[Long]("kept_chars"),
         r.getAs[String]("residual_text"))).toMap
    assert(cdc == want)
    val nChunks = chunks.groupBy(_._1).map { case (id, cs) => id -> cs.length.toLong }
    assert(cdc(2L) == ((0L, 0L, "")))
    assert(cdc(3L)._1 < nChunks(3L), "t + t must repeat a chunk inside doc 3")
    // the empty separator gives back a repeat-free document verbatim
    assert(cdc(1L) == ((nChunks(1L), s.length.toLong, s)))
    assert(cdc(4L) == ((nChunks(4L), u.length.toLong, u)))
  }

  test("chunkDedup cuts a repeated chunk WITHIN one document") {
    val rep = ((1 to 20) ++ (1 to 20)).map("t" + _).mkString(" ") // chunk1 == chunk0
    val d = Seq((7L, rep)).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(d, "doc_id", "text", chunkTokens = 20).collect().head
    assert(out.getAs[Long]("n_chunks") == 2L)
    assert(out.getAs[Long]("kept_chunks") == 1L)
    assert(out.getAs[Long]("kept_tokens") == 20L)
    assert(out.getAs[String]("residual_text") == (1 to 20).map("t" + _).mkString(" "))
  }

  test("packedChunkKey fails loudly outside its silent-collision bounds") {
    import spark.implicits._
    // in-bounds: exact packing
    val ok = Seq((5L, 3L)).toDF("d", "c")
      .select(Dedup.packedChunkKey(col("d"), col("c"))).collect()
    assert(ok.head.getLong(0) == 5L * 1048576L + 3L)
    // out of bounds: chunk_idx ≥ 2^20 would silently bleed into doc_id
    // bits and doc_id ≥ 2^43 would wrap — both must raise, not reorder
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + msgs(t.getCause)
    def boom(d: Long, c: Long): Unit = {
      val ex = intercept[Throwable] {
        Seq((d, c)).toDF("d", "c")
          .select(Dedup.packedChunkKey(col("d"), col("c"))).collect()
      }
      assert(msgs(ex).contains("chunk key packing"),
        s"($d,$c) failed for the wrong reason: ${msgs(ex).take(200)}")
    }
    boom(1L << 43, 0L)  // doc_id at the wrap bound
    boom(-1L, 0L)       // negative doc_id
    boom(5L, 1048576L)  // chunk_idx at the bleed bound
  }

  test("durable mode: representative pipelines hash-identical through table-backed cuts") {
    // Round-12 audit routed every memoized/corpus-derived lineage cut
    // through Materialize.cut (miners, CC loop inputs, DSIR features,
    // classifier features/scores — see Materialize's routing policy).
    // This runs four pipelines that together traverse those cut sites
    // on a FRESH session with durable=true (fresh session: the memo
    // caches are session-keyed, so the durable path genuinely executes
    // instead of serving the local-mode memo), and asserts results are
    // identical row for row.
    val dir = "/root/testdata/sf0.001"
    val qs = Seq(
      "q67_dedup_clusters",       // jaccard miner + cc_star_edges/cc_endpoints/cc_edge_nodes
      "q148_importance_resample", // dsir_doc_dim
      "q135_audio_neardup",       // afp_frame + afp_pairs
      "q129_quality_classifier")  // classifier_feats + nb_scores
    def results(s: org.apache.spark.sql.SparkSession): Map[String, Set[String]] =
      qs.map { q =>
        val df = SparkEntry.queries(q)(s, dir)
        q -> df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
      }.toMap
    val local = results(spark)
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.materialize.durable", "true")
    assert(graft.core.Materialize.durable(s2))
    val durable = results(s2)
    qs.foreach { q =>
      assert(durable(q) == local(q), s"$q diverged under durable cuts")
    }
  }

  test("snmPairs: bucket-invariant, and window >= n recovers brute force") {
    import spark.implicits._
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001").documents
    def key(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    // (1) the bucketed two-level sliding window is bucketing-INDEPENDENT:
    // 2 vs 7 range buckets must produce identical pairs (in-bucket lead
    // pairs + boundary head/tail cross change shape, the result must not)
    val at2 = key(Dedup.snmPairs(docs, "doc_id", "text", buckets = 2))
    val at7 = key(Dedup.snmPairs(docs, "doc_id", "text", buckets = 7))
    assert(at2 == at7, "SNM output depends on the bucket count")
    assert(at2.nonEmpty, "fixture mined no SNM pairs - gate is vacuous")
    // (2) every reported hamming really is bit_count(xor) of the parsed
    // hex values and respects the bar + orientation
    Dedup.snmPairs(docs, "doc_id", "text", buckets = 3).collect().foreach { r =>
      val (ha, hb) = (r.getString(0), r.getString(1))
      val d = java.lang.Long.bitCount(
        java.lang.Long.parseUnsignedLong(ha, 16) ^
        java.lang.Long.parseUnsignedLong(hb, 16))
      assert(ha < hb, "pair not oriented")
      assert(r.getLong(2) == d && d <= 8, s"hamming mismatch: $ha $hb")
    }
    // (3) with W >= distinct values, every rotation's window covers ALL
    // pairs, so SNM must equal the brute-force screen at the same bar
    val small = docs.filter(col("doc_id") < 40)
    val n = Dedup.simhash(small, "doc_id", "text")
      .select(col("simhash")).distinct().count().toInt
    val full = Dedup.snmPairs(small, "doc_id", "text", windowW = n, buckets = 3)
    val sigs = Dedup.simhash(small, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val vals = sigs.groupBy(_._2).map { case (sh, g) =>
      (sh, g.map(_._1).min, g.size.toLong) }.toSeq
    val brute = (for {
      (sa, ca, na) <- vals; (sb, cb, nb) <- vals
      if sa != sb
      ha = f"$sa%016X"; hb = f"$sb%016X"
      if ha < hb && java.lang.Long.bitCount(sa ^ sb) <= 8
    } yield s"$ha|$hb|${java.lang.Long.bitCount(sa ^ sb)}|$na|$ca|$nb|$cb").toSet
    assert(key(full) == brute.map(_.toString),
      "full-window SNM diverged from brute force")
  }

  test("adversarial corpus: mega-dup cluster + flooded shingle keep candidates sub-quadratic") {
    // Round-14 verdict ask: every dedup gate runs on the generator's
    // well-behaved corpus, so the flooded-key discipline had no direct
    // test. This fixture is the pathological shape it exists for —
    //   (a) 30% of the corpus is ONE near-dup cluster (shared 43-token
    //       base, one distinct suffix token each: pairwise J = 38/44),
    //   (b) one trigram appears in EVERY document (the universal nav /
    //       boilerplate shingle — a df = n postings-list bomb).
    // The assertions pin CANDIDATE counts, not just verified pairs: the
    // candidate set must stay ~ true-pairs + O(n), never ~ n²/2.
    val n = 400
    val k = 120 // the mega cluster: 30% of docs
    val baseHead = (0 until 20).map(j => s"base$j").mkString(" ")
    val baseTail = (20 until 40).map(j => s"base$j").mkString(" ")
    val flood = "flood0 flood1 flood2"
    val corpus = ((0 until k).map { i =>
      (i.toLong, s"$baseHead $flood $baseTail uniq$i")
    } ++ (k until n).map { i =>
      val t = (0 until 30).map(j => s"d${i}t$j")
      (i.toLong,
       (t.take(15) ++ Seq("flood0", "flood1", "flood2") ++ t.drop(15))
         .mkString(" "))
    }).toDF("doc_id", "text")
    val truePairs = k.toLong * (k - 1) / 2 // 7140: all intra-cluster
    val allPairs = n.toLong * (n - 1) / 2  // 79800

    // q35 leg — AllPairs prefix filter: the universal shingle has the
    // maximal df, so the (df asc, shingle asc) prefix order pushes it
    // PAST every prefix; candidates must be exactly the cluster pairs.
    val sh = Dedup.shingled(corpus, "doc_id", "text")
    val jacCand = Dedup.jaccardCandidates(sh, threshold = 0.5,
      materialize = false).count()
    assert(jacCand <= truePairs + n,
      s"prefix filter flooded: $jacCand candidates (true pairs $truePairs)")
    assert(jacCand < allPairs / 10,
      s"prefix filter quadratic: $jacCand of $allPairs possible")
    val jacPairs = Dedup.jaccardPairs(corpus, "doc_id", "text",
      threshold = 0.5, materialize = false).count()
    assert(jacPairs == truePairs,
      s"expected exactly the $truePairs intra-cluster pairs, got $jacPairs")

    // q36 leg — MinHash banding: background docs share ONLY the flooded
    // trigram (J ≈ 1/60), so accidental band collisions stay rare while
    // the cluster (J = 0.86) is recalled near-fully.
    val mhCand = Dedup.minhashCandidates(corpus, "doc_id", "text",
      materialize = false).count()
    assert(mhCand <= truePairs + n + allPairs / 50,
      s"LSH banding flooded: $mhCand candidates (true pairs $truePairs)")
    assert(mhCand >= (truePairs * 90) / 100,
      s"LSH banding lost the cluster: $mhCand of $truePairs")

    // q41 leg — SimHash banding: near-identical cluster texts hash
    // within the band-exact hamming range; candidates ≈ cluster pairs.
    val shPairs = Dedup.simhashPairs(corpus, "doc_id", "text",
      materialize = false).count()
    assert(shPairs <= truePairs + n,
      s"simhash banding flooded: $shPairs pairs (true pairs $truePairs)")

    // SNM leg (q213 family) — the flooded-key discipline proper:
    // identical values collapse BEFORE any window, so the distinct-value
    // frame is ≤ n rows and the screen's candidate volume is bounded by
    // rotations · window · values, linear in V regardless of dup skew.
    val vals = Dedup.simhashVals(corpus, "doc_id", "text")
    val v = vals.count()
    assert(v <= n, s"value collapse failed: $v distinct simhash rows")
    val snm = Dedup.snmPairsFromVals(vals, windowW = 2, rotations = 4,
      maxHamming = 8).count()
    assert(snm <= 4L * 2 * 2 * v,
      s"SNM screen exceeded its rotations·window·values bound: $snm")

    // q67 leg — connected components over the mined pairs: one cluster
    // of 120, everything else a singleton, labels converged.
    val cc = Dedup.connectedComponents(
      corpus.select(col("doc_id").as("id")),
      Dedup.jaccardPairs(corpus, "doc_id", "text", threshold = 0.5,
        materialize = false),
      "doc_a", "doc_b")
    val sizes = cc.groupBy(col("cluster_id")).count()
      .groupBy(col("count")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(k.toLong -> 1L, 1L -> (n - k).toLong),
      s"cluster spectrum wrong: $sizes")
  }

  test("q67 cluster-assignment memo ≡ the gated uncached entry") {
    // The r19 memo (dupClusterAssignments) shares one cluster table
    // across its nine consumers; it must be row-identical to what the
    // gated q67 entry computes fresh, and repeat calls must hit the memo
    // (one build, N readers) rather than re-mining.
    val dir = "/root/testdata/sf0.001"
    val memo1 = graft.queries.TextQueries.dupClusterAssignments(spark, dir)
    val memo2 = graft.queries.TextQueries.dupClusterAssignments(spark, dir)
    assert(memo1 eq memo2, "second call re-built the cluster frame")
    val fresh = graft.queries.TextQueries.defs("q67_dedup_clusters")(spark, dir)
    val a = memo1.collect().map(_.toString).sorted.toSeq
    val b = fresh.collect().map(_.toString).sorted.toSeq
    assert(a == b, "memoized cluster assignment diverges from the gated q67")
  }
}
