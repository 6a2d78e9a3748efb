package graft

import graft.operators.Bpe

/** BPE merge induction semantics: greedy non-overlap, deterministic
  * tie-break, the fit loop's merge sequence, and application to new text.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("applyMerge is greedy left-to-right non-overlapping") {
    assert(Bpe.applyMerge(Seq("a", "a", "a"), "a", "a") == Seq("a+a", "a"))
    assert(Bpe.applyMerge(Seq("a", "a", "a", "a"), "a", "a") == Seq("a+a", "a+a"))
    assert(Bpe.applyMerge(Seq("x", "a", "b", "y", "a", "b"), "a", "b") ==
      Seq("x", "a+b", "y", "a+b"))
    assert(Bpe.applyMerge(Seq.empty, "a", "b") == Seq.empty)
    assert(Bpe.applyMerge(Seq("a"), "a", "b") == Seq("a"))
  }

  test("fit recovers the dominant phrase, then builds on its own merges") {
    // "new york" dominates round 1 (8 occurrences vs ≤5 for any other
    // pair); round 2's top pair then CONTAINS the round-1 merged token,
    // proving the loop re-tokenizes with its own merges
    val docs = Seq.fill(5)("we saw new york") ++
      Seq.fill(3)("in new york today") ++
      Seq.fill(2)("the cat sat here quietly")
    val merges = Bpe.fit(docs.toDF("text"), "text", numMerges = 2)
    assert(merges.head == (("new", "york")))
    // round 2: (saw, new+york) ×5 ties (we, saw) ×5; "saw" < "we"
    assert(merges(1) == (("saw", "new+york")))
    // application path: fitted merges tokenize unseen text consistently
    assert(Bpe.tokenize("we saw new york again".split(' ').toSeq, merges) ==
      Seq("we", "saw+new+york", "again"))
  }

  test("ties break on (count desc, a asc, b asc) — deterministic merge order") {
    // both pairs occur exactly twice; ("a","b") < ("c","d") lexicographically
    val docs = Seq("a b", "a b", "c d", "c d")
    assert(Bpe.fit(docs.toDF("text"), "text", numMerges = 1) == Seq(("a", "b")))
  }

  test("fit stops early when no adjacent pairs remain") {
    val docs = Seq("one", "two", "three") // single-token docs: no pairs
    assert(Bpe.fit(docs.toDF("text"), "text", numMerges = 3).isEmpty)
  }

  test("fit skips NULL text rows and rejects nonpositive merge counts") {
    val docs = Seq(Some("a b"), None, Some("a b")).toDF("text")
    assert(Bpe.fit(docs, "text", numMerges = 1) == Seq(("a", "b")))
    intercept[IllegalArgumentException](Bpe.fit(docs, "text", numMerges = 0))
  }

  test("fitDelta ≡ fit on random small-vocab corpora (the naive loop is the spec)") {
    // Small vocab + short docs force dense pair collisions, exercising
    // tie-breaks, merged-token operands, and count-delta bookkeeping.
    // Deterministic seeds (no scalatest-scalacheck bridge offline).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val corpusGen: Gen[Seq[String]] = for {
      vocab <- Gen.choose(3, 6)
      nDocs <- Gen.choose(4, 12)
      docs <- Gen.sequence[Seq[String], String]((0 until nDocs).map { _ =>
        for {
          len  <- Gen.choose(1, 10)
          toks <- Gen.listOfN(len, Gen.choose(0, vocab - 1).map(v => s"w$v"))
        } yield toks.mkString(" ")
      })
    } yield docs
    Seq(11L, 22L, 33L, 44L).foreach { sd =>
      val docs = corpusGen.pureApply(Gen.Parameters.default, Seed(sd))
      val df = docs.toDF("text")
      val n = 6
      val naive = Bpe.fit(df, "text", n)
      val delta = Bpe.fitDelta(df, "text", n)
      assert(delta == naive, s"seed $sd: fitDelta diverged from fit")
    }
  }

  test("fitDelta merge sequence is invariant to the state bucket count") {
    // The pair-count state is hash-bucketed by (a,b); the argmax is a
    // per-bucket top-1 + driver reduce, so the chosen merge — and hence
    // the whole sequence — must not depend on how many buckets hold the
    // state. 2 vs 7 buckets (coprime with nothing special) must agree.
    val docs = (Seq.fill(5)("we saw new york") ++
      Seq.fill(3)("in new york today") ++
      Seq.fill(2)("the cat sat here quietly")).toDF("text")
    val at2 = Bpe.fitDelta(docs, "text", numMerges = 4, stateBuckets = 2)
    val at7 = Bpe.fitDelta(docs, "text", numMerges = 4, stateBuckets = 7)
    assert(at2 == at7, "merge sequence depends on bucket count")
    assert(at2 == Bpe.fit(docs, "text", 4))
    // a 1-bucket state is the single-task anti-pattern — rejected loudly
    intercept[IllegalArgumentException](
      Bpe.fitDelta(docs, "text", numMerges = 1, stateBuckets = 1))
  }

  test("fitDelta stops early when pairs run out, restores AQE+shuffle conf, skips nulls") {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val shufBefore = spark.conf.get("spark.sql.shuffle.partitions")
    // 'a a a' exhausts: merge1 (a,a) → [a+a, a]; merge2 (a+a, a) → one
    // token; no pairs remain → early return after 2 of 5 requested
    val docs = Seq(Some("a a a"), None).toDF("text")
    val merges = Bpe.fitDelta(docs, "text", numMerges = 5)
    assert(merges == Seq(("a", "a"), ("a+a", "a")))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqeBefore)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == shufBefore)
    intercept[IllegalArgumentException](Bpe.fitDelta(docs, "text", 0))
  }

  test("disjointBatch: greedy token-disjoint prefix in candidate order") {
    // shares 'b' with the first pick → skipped; ('c','d') disjoint →
    // picked; ('d','e') shares 'd' with a PICKED pair → skipped (used
    // tokens accumulate only from picks); cap truncates
    val cands = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y"))
    assert(Bpe.disjointBatch(cands, 5) == Seq(("a", "b"), ("c", "d"), ("x", "y")))
    assert(Bpe.disjointBatch(cands, 2) == Seq(("a", "b"), ("c", "d")))
    assert(Bpe.disjointBatch(Seq(("a", "a")), 3) == Seq(("a", "a")))
  }

  test("fitDeltaBatched ≡ sequential fit on a token-disjoint corpus") {
    // Four hot bigrams over DISJOINT token sets, frequency-separated so
    // the sequential fit picks them in order and none of their product
    // pairs ('x+y' forms) can out-count a later pick: every phrase
    // occurs as an isolated 2-token doc, so merging one creates NO new
    // adjacent pairs at all — the exact "merges don't interact" regime
    // where batched ≡ sequential holds by construction.
    val docs = (Seq.fill(9)("aa bb") ++ Seq.fill(7)("cc dd") ++
      Seq.fill(5)("ee ff") ++ Seq.fill(3)("gg hh")).toDF("text")
    val seqFit = Bpe.fit(docs, "text", 4)
    val batched = Bpe.fitDeltaBatched(docs, "text", numMerges = 4, maxBatch = 4)
    assert(batched == seqFit, s"batched $batched != sequential $seqFit")
    assert(seqFit == Seq(("aa", "bb"), ("cc", "dd"), ("ee", "ff"), ("gg", "hh")))
    // and the whole set lands in ONE round (4 disjoint candidates)
    val oneRound = Bpe.fitDeltaBatched(docs, "text", numMerges = 16,
      maxBatch = 16, maxRounds = 1)
    assert(oneRound == seqFit)
  }

  test("fitDeltaBatched at maxBatch=1 IS fitDelta (delegation identity)") {
    val docs = (Seq.fill(5)("we saw new york") ++
      Seq.fill(3)("in new york today")).toDF("text")
    assert(Bpe.fitDeltaBatched(docs, "text", numMerges = 3, maxBatch = 1)
      == Bpe.fitDelta(docs, "text", numMerges = 3))
    intercept[IllegalArgumentException](
      Bpe.fitDeltaBatched(docs, "text", 3, maxBatch = 0))
    intercept[IllegalArgumentException](
      Bpe.fitDeltaBatched(docs, "text", 3, maxBatch = 2, maxRounds = 0))
  }

  test("pairCounts matches a hand count (scan-local pair projection)") {
    val df = Seq("a b a b", "b a").toDF("text")
    val got = Bpe.pairCounts(df, org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.col("text"), " "))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("a", "b") -> 2L, ("b", "a") -> 2L))
  }

  test("fitDeltaBatched: one plan-stable job per round, no collect, no compile after round 2") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val docs = (Seq.fill(6)("a b c a b d e a b f g") ++
      Seq.fill(4)("c d e c d f g h") ++ Seq.fill(3)("h i j h i k")).toDF("text")
    def fit(rounds: Int) = Bpe.fitDeltaBatched(docs, "text", numMerges = 64,
      maxBatch = 2, maxRounds = rounds)
    // rounds 1 and 2 compile whatever the JVM has not compiled yet
    val twoRounds = fit(2)
    val sc = spark.sparkContext
    val group = "bpe-spec-rounds"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add(e.stageInfos.map(_.name))
    }
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.addSparkListener(listener)
    val before = compiles
    sc.setJobGroup(group, "six-round BPE fit")
    val sixRounds = try fit(6) finally sc.clearJobGroup()
    val compiled = compiles - before
    org.apache.spark.graftbus.Listeners.drain(sc)
    sc.removeSparkListener(listener)
    assert(sixRounds.take(twoRounds.length) == twoRounds)
    assert(sixRounds.length > 6, s"want several merges per round, got $sixRounds")
    assert(compiled == 0, s"rounds 3-6 compiled $compiled classes: their plans changed")
    import scala.jdk.CollectionConverters._
    val names = jobs.asScala.toSeq
    // one job to start, one per state update; the sixth round updates nothing
    assert(names.size == 6, s"want 6 jobs, got ${names.size}: $names")
    assert(!names.flatten.exists(_.startsWith("collect")), s"a round collects: $names")
  }
}
