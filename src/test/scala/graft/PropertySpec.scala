package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks for the algorithmic operators. Few cases (Spark
  * jobs per case), but randomized where the math has sharp edges: the
  * AllPairs prefix length ⌈t·|S|⌉ boundary, decimal-exact aggregation.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Drive a Gen with fixed seeds (no scalatest-scalacheck bridge in the
    * offline dependency set) — deterministic, 5 cases per property.
    */
  private def forSeeds[A](gen: Gen[A], seeds: Seq[Long] = Seq(1L, 2L, 3L, 4L, 5L))(f: A => Unit): Unit =
    seeds.foreach { sd =>
      f(gen.pureApply(Gen.Parameters.default, Seed(sd)))
    }

  private val corpusGen: Gen[(Seq[(Long, String)], Double)] = for {
    vocab     <- Gen.choose(5, 12)
    nDocs     <- Gen.choose(8, 25)
    threshold <- Gen.oneOf(0.3, 0.5, 0.7, 0.9)
    docs <- Gen.sequence[Seq[(Long, String)], (Long, String)]((0 until nDocs).map { i =>
      for {
        len  <- Gen.choose(3, 12)
        toks <- Gen.listOfN(len, Gen.choose(0, vocab - 1).map(v => s"w$v"))
      } yield (i.toLong, toks.mkString(" "))
    })
  } yield (docs, threshold)

  private val packGen: Gen[(Seq[(Long, Long)], Long, Int)] = for {
    nDocs    <- Gen.choose(5, 40)
    capacity <- Gen.oneOf(16L, 64L, 100L)
    streams  <- Gen.choose(1, 5)
    sizes <- Gen.listOfN(nDocs, Gen.choose(1L, 150L)) // some exceed capacity
  } yield (sizes.zipWithIndex.map { case (n, i) => (i.toLong, n) }, capacity, streams)

  private val graphGen: Gen[(Seq[Long], Seq[(Long, Long)])] = for {
    nNodes <- Gen.choose(5, 40)
    nEdges <- Gen.choose(0, 60)
    edges <- Gen.listOfN(nEdges, for {
      a <- Gen.choose(0, nNodes - 1)
      b <- Gen.choose(0, nNodes - 1)
    } yield (a.toLong, b.toLong))
  } yield ((0 until nNodes).map(_.toLong), edges)

  test("star contraction ≡ reference union-find on random graphs (self-loops, dups, reversals)") {
    // Ground truth is a 20-line driver-side union-find — deliberately a
    // THIRD implementation so the two distributed CC algorithms aren't
    // just checked against each other.
    forSeeds(graphGen) { case (ns, es) =>
      val parent = scala.collection.mutable.Map(ns.map(n => n -> n): _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
      }
      // path-compress to the component MIN (roots are minima by the
      // lo/hi union rule above)
      val want = ns.map(n => n -> find(n)).toMap
      val got = Dedup.connectedComponentsStars(
          ns.toDF("id"), es.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"nodes=$ns edges=$es")
    }
  }

  test("audioFingerprint64 ≡ the arithmetic restatement for random ids (incl. huge variants)") {
    // the q135 oracle's formula, restated independently in plain Scala
    def expected(id: Long): Long = {
      val f = (id % 16).toInt
      val v = id / 16
      val bands = new Array[Long](65)
      var i = 0
      while (i < 260) {
        var s = ((i.toLong * (17 + 26 * f) + 97L * f) % 2001) - 1000
        if ((i * 7 + v * 53) % 131 == v % 131) s += 500
        bands(i / 4) += math.abs(s)
        i += 1
      }
      (0 until 64).foldLeft(0L) { (acc, k) =>
        if (bands(k) < bands(k + 1)) acc | (1L << k) else acc
      }
    }
    forSeeds(Gen.listOfN(40, Gen.choose(0L, 5000000L))) { ids =>
      ids.foreach { id =>
        val got = graft.operators.Multimodal.audioFingerprint64(
          graft.operators.Multimodal.syntheticToneWav(id))
        assert(got.contains(expected(id)), s"fingerprint mismatch for id=$id")
      }
    }
  }

  test("packGreedy ≡ sequential per-stream greedy fold for random corpora") {
    forSeeds(packGen) { case (docs, capacity, streams) =>
      val got = graft.operators.Sharding
        .packGreedy(docs.toDF("doc_id", "n").repartition(3), "doc_id", "n",
          capacity, streams)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      val expect = (0 until streams).flatMap { st =>
        var bin = 0L; var fill = -1L
        docs.filter(_._1 % streams == st).sortBy(_._1).map { case (id, n) =>
          if (fill < 0 || fill + n > capacity) { bin += 1; fill = n } else fill += n
          (id, st.toLong, bin, n, fill)
        }
      }.toSet
      assert(got == expect, s"capacity=$capacity streams=$streams docs=${docs.size}")
      // capacity invariant: a multi-doc bin never exceeds capacity
      got.groupBy(t => (t._2, t._3)).values.foreach { bin =>
        assert(bin.map(_._4).sum <= capacity || bin.size == 1)
      }
    }
  }

  test("prefix-filtered jaccard ≡ naive all-pairs for random corpora and thresholds") {
    forSeeds(corpusGen) { case (docs, threshold) =>
      val df = docs.toDF("doc_id", "text")
      val smart = Dedup.jaccardPairs(df, "doc_id", "text", threshold)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sh = Dedup.shingled(df, "doc_id", "text")
      val naive = sh.alias("a").crossJoin(sh.alias("b"))
        .filter(col("a.doc_id") < col("b.doc_id") && col("a.n_shingles") > 0)
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          (size(array_intersect(col("a.shingles"), col("b.shingles"))).cast("double") /
            (col("a.n_shingles") + col("b.n_shingles") -
              size(array_intersect(col("a.shingles"), col("b.shingles")))).cast("double"))
            .as("j"))
        .filter(col("j") >= threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(smart == naive, s"threshold=$threshold docs=${docs.size}")
    }
  }

  test("containment pairs ≡ naive all-pairs containment for random corpora") {
    forSeeds(corpusGen) { case (docs, threshold) =>
      val df = docs.toDF("doc_id", "text")
      val smart = Dedup.containmentPairs(df, "doc_id", "text", threshold)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sh = Dedup.shingled(df, "doc_id", "text")
      val naive = sh.alias("a").crossJoin(sh.alias("b"))
        .filter((col("a.n_shingles") < col("b.n_shingles") ||
                 (col("a.n_shingles") === col("b.n_shingles") &&
                  col("a.doc_id") < col("b.doc_id"))) && col("a.n_shingles") > 0)
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          (size(array_intersect(col("a.shingles"), col("b.shingles"))).cast("double") /
            col("a.n_shingles").cast("double")).as("c"))
        .filter(col("c") >= threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(smart == naive, s"threshold=$threshold docs=${docs.size}")
    }
  }

  private val vecCorpusGen: Gen[(Seq[(Long, Array[Float])], Double, Int)] = for {
    n         <- Gen.choose(6, 20)
    k         <- Gen.choose(2, 4)
    minCosine <- Gen.oneOf(0.3, 0.6, 0.9)
    vecs <- Gen.sequence[Seq[(Long, Array[Float])], (Long, Array[Float])]((0 until n).map { i =>
      Gen.listOfN(8, Gen.choose(-3, 3).map(_.toFloat))
        .map(l => (i.toLong, l.toArray))
    })
  } yield (vecs, minCosine, k)

  test("ball-cover blocked near-dup ≡ all-pairs crossJoin, bit-for-bit, random vectors") {
    // random small-grid vectors include zero vectors (filtered), colinear
    // scaled pairs (cosine 1), and antipodal pairs — the sharp edges of
    // the triangle-inequality reach bound and the nrm>0 contract
    forSeeds(vecCorpusGen) { case (vecs, minCosine, k) =>
      import graft.functions.Vectors
      import graft.operators.Similarity
      val df = vecs.toDF("vec_id", "embedding")
      val blocked = Similarity
        .exactNearDupBlocked(df, "vec_id", "embedding", minCosine, k, iters = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val v = df.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", Vectors.norm(col("v")))
      val a = v.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
      val b = v.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
      val naive = a.crossJoin(b)
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Vectors.cosinePrenormed(
            Vectors.dot(col("va"), col("vb")), col("na"), col("nb")).as("cosine"))
        .filter(col("cosine") >= minCosine)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(blocked == naive, s"minCosine=$minCosine k=$k n=${vecs.size}")
    }
  }

  test("DoubleSortKey: lossless roundtrip and exact DESC order, random doubles") {
    import org.apache.spark.sql.graftx.SortableDouble
    val doubleGen: Gen[Seq[Double]] = Gen.listOfN(40, Gen.oneOf(
      Gen.choose(-1.0, 1.0),
      Gen.choose(-1e300, 1e300),
      Gen.oneOf(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
                Double.MaxValue, Double.MinValue, 1.0, -1.0)))
    forSeeds(doubleGen) { vals =>
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
        .select(col("id"), col("v"), SortableDouble.sortKeyDesc(col("v")).as("k"))
        .select(col("id"), col("v"), col("k"),
                SortableDouble.decodeDesc(col("k")).as("rt"))
      val rows = df.collect().map(r =>
        (r.getDouble(1), r.getString(2), r.getDouble(3)))
      // bitwise roundtrip (covers -0.0 vs 0.0 and denormals)
      rows.foreach { case (v, _, rt) =>
        assert(java.lang.Double.doubleToRawLongBits(v) ===
          java.lang.Double.doubleToRawLongBits(rt))
      }
      // key ASC (binary string order) == value DESC (IEEE total order);
      // the reference order is computed directly from the bit pattern
      def ascBits(v: Double): Long = {
        val bits = java.lang.Double.doubleToLongBits(v)
        if (bits >= 0L) bits ^ java.lang.Long.MIN_VALUE else ~bits
      }
      val byKey = rows.sortBy(_._2).map(_._1)
      val byVal = rows.map(_._1)
        .sortWith((a, b) => java.lang.Long.compareUnsigned(ascBits(a), ascBits(b)) > 0)
      assert(byKey.map(java.lang.Double.doubleToLongBits).toSeq ===
             byVal.map(java.lang.Double.doubleToLongBits).toSeq)
    }
  }

  test("CharGramArray ≡ naive sliding substrings, random strings") {
    import org.apache.spark.sql.graftx.CharGramArray
    // includes a non-BMP char (surrogate pair in UTF-16): grams must
    // window on CODE POINTS, like DuckDB substr — the reference below
    // does too
    val sGen: Gen[Seq[String]] = Gen.listOfN(20, for {
      n  <- Gen.choose(0, 12)
      cs <- Gen.listOfN(n, Gen.oneOf("a", "b", " ", "Ω", "😀"))
    } yield cs.mkString)
    forSeeds(sGen) { strs =>
      for (k <- Seq(1, 3, 5)) {
        val got = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
          .toDF("id", "s")
          .select(col("id"), CharGramArray.charGrams(col("s"), k).as("g"))
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
        strs.zipWithIndex.foreach { case (s, i) =>
          val cps = s.codePoints().toArray
          val want = if (cps.length < k) Seq.empty
                     else (0 to cps.length - k).map(p =>
                       new String(cps, p, k))
          assert(got(i.toLong) === want, s"k=$k s='$s'")
        }
      }
    }
  }

  test("CharHistogram ≡ naive code-point counts, random strings") {
    import org.apache.spark.sql.graftx.CharHistogram
    // non-BMP chars included: counting UTF-16 units would split the
    // surrogate pair and diverge from DuckDB's code-point semantics
    val sGen: Gen[Seq[String]] = Gen.listOfN(20, for {
      n  <- Gen.choose(0, 15)
      cs <- Gen.listOfN(n, Gen.oneOf("a", "b", " ", "Ω", "😀"))
    } yield cs.mkString)
    forSeeds(sGen) { strs =>
      val got = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "s")
        .select(col("id"), CharHistogram.charHistogram(col("s")).as("h"))
        .collect().map { r =>
          r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
            .map(x => x.getString(0) -> x.getLong(1))
        }.toMap
      strs.zipWithIndex.foreach { case (s, i) =>
        val want = s.codePoints().toArray.toSeq
          .map(cp => new String(Character.toChars(cp)))
          .groupBy(identity).map { case (ch, occ) => ch -> occ.size.toLong }
          .toSeq.sortBy(_._1)
        assert(got(i.toLong) === want, s"s='$s'")
      }
    }
  }

  test("CharGramHistogram ≡ naive code-point gram counts; k=1 ≡ CharHistogram") {
    import org.apache.spark.sql.graftx.{CharGramHistogram, CharHistogram}
    // non-BMP chars included: windowing on UTF-16 units would split the
    // surrogate pair and shift every gram vs DuckDB's code-point substr
    val sGen: Gen[Seq[String]] = Gen.listOfN(20, for {
      n  <- Gen.choose(0, 15)
      cs <- Gen.listOfN(n, Gen.oneOf("a", "b", " ", "Ω", "😀"))
    } yield cs.mkString)
    forSeeds(sGen) { strs =>
      val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "s")
      for (k <- Seq(1, 2, 3)) {
        val got = df
          .select(col("id"),
                  CharGramHistogram.charGramHistogram(col("s"), k).as("h"))
          .collect().map { r =>
            r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
              .map(x => x.getString(0) -> x.getLong(1))
          }.toMap
        strs.zipWithIndex.foreach { case (s, i) =>
          val cps = s.codePoints().toArray
          val want = if (cps.length < k) Seq.empty
                     else (0 to cps.length - k).map(p => new String(cps, p, k))
                       .groupBy(identity)
                       .map { case (g, occ) => g -> occ.size.toLong }
                       .toSeq.sortBy(_._1)
          assert(got(i.toLong) === want, s"k=$k s='$s'")
        }
      }
      // k = 1 reproduces CharHistogram exactly (modulo field names)
      val viaGram = df
        .select(col("id"), CharGramHistogram.charGramHistogram(col("s"), 1).as("h"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getString(0), x.getLong(1))))
        .toMap
      val viaUni = df
        .select(col("id"), CharHistogram.charHistogram(col("s")).as("h"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getString(0), x.getLong(1))))
        .toMap
      assert(viaGram === viaUni)
    }
  }

  test("SortedIntersect ≡ array_intersect on sorted distinct long arrays") {
    import org.apache.spark.sql.graftx.SortedIntersect
    // the producer contract: ascending, distinct (sort_array over a
    // collect_list of distinct neighbors) — including empty and
    // disjoint arrays
    val aGen: Gen[Seq[(Seq[Long], Seq[Long])]] = Gen.listOfN(25, for {
      na <- Gen.choose(0, 20)
      nb <- Gen.choose(0, 20)
      a  <- Gen.listOfN(na, Gen.choose(0L, 30L))
      b  <- Gen.listOfN(nb, Gen.choose(0L, 30L))
    } yield (a.distinct.sorted, b.distinct.sorted))
    forSeeds(aGen) { pairs =>
      val df = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("id", "a", "b")
      val got = df.select(col("id"),
          SortedIntersect.sortedIntersect(col("a"), col("b")).as("x"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val want = df.select(col("id"),
          sort_array(array_intersect(col("a"), col("b"))).as("x"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got === want)
    }
  }

  test("exact decimal sums equal plain double sums within 1e-9 on 2-decimal data") {
    forSeeds(Gen.listOfN(200, Gen.choose(0, 5000000).map(_ / 100.0))) { xs =>
      {
        val df  = xs.toDF("v")
        val row = df.agg(
          graft.functions.Exact.sumExact(col("v")).as("exact"),
          sum(col("v")).as("plain")).head
        assert(math.abs(row.getDouble(0) - row.getDouble(1)) < 1e-6)
      }
    }
  }

  test("z-order interleave is a bijection on the 8-bit grid (q218's invariant)") {
    // min/max file stats are only TIGHT if distinct cells never collide
    // in z — interleave must be injective on [0,256)², stay inside 16
    // bits, and the file prefix inside [0,64). Exhaustive over a stride
    // sample plus the full boundary rows/columns.
    val coords = (for {
      x <- 0 until 256 by 7
      y <- 0 until 256 by 11
    } yield (x.toLong, y.toLong)) ++
      (0 until 256).flatMap(v => Seq((v.toLong, 0L), (v.toLong, 255L),
                                     (0L, v.toLong), (255L, v.toLong)))
    val df = coords.distinct.toDF("xg", "yg")
      .select(col("xg"), col("yg"),
              expr(graft.queries.OlapQueries.ZOrder.sparkZ).as("z"))
    val rows = df.collect()
    assert(rows.map(_.getAs[Long]("z")).distinct.length == rows.length,
      "z collision: interleave not injective")
    assert(rows.forall(r => r.getAs[Long]("z") >= 0 && r.getAs[Long]("z") < 65536),
      "z escaped 16 bits")
    // spot-check the classic Morton identities: (0,0)→0, (255,255)→65535,
    // (1,0)→1, (0,1)→2
    val m = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("z")).toMap
    assert(m((0L, 0L)) == 0L && m((255L, 255L)) == 65535L &&
           m((1L, 0L)) == 1L && m((0L, 1L)) == 2L)
  }

  private val quotaGen: Gen[(Seq[Long], Int)] = for {
    k      <- Gen.choose(2, 6)
    sizes  <- Gen.listOfN(k, Gen.oneOf(2L, 3L, 5L)) // repeated sizes tie remainders
    budget <- Gen.choose(1, sizes.sum.toInt)
  } yield (sizes, budget)

  test("largest-remainder quotas: Σ target_n = B, base or base+1, ties to the lower stratum") {
    var splitTies = 0
    forSeeds(quotaGen, (1L to 8L)) { case (sizes, budget) =>
      val strata = sizes.indices.map(i => s"s$i")
      val pool = strata.zip(sizes).flatMap { case (st, n) => (0L until n).map(j => (st, j)) }
        .zipWithIndex.map { case ((st, _), id) => (st, id.toLong) }.toDF("stratum", "id")
      val rows = graft.operators.Sampling.quotaSample(pool, "stratum", "id", budget, "quota|")
        .collect().map(r => (r.getString(0), r.getLong(3)))
      val picked = rows.groupBy(_._1).map { case (st, rs) => st -> rs.length.toLong }
      // a stratum with no row has target 0 (its rows all fail strat_rank <= 0)
      val target = strata.map(st => st -> rows.find(_._1 == st).map(_._2).getOrElse(0L)).toMap
      val total = sizes.sum
      val base = strata.zip(sizes).map { case (st, n) => st -> budget * n / total }.toMap
      val rem = strata.zip(sizes).map { case (st, n) => st -> (budget * n - base(st) * total) }.toMap
      val case_ = s"sizes=$sizes budget=$budget target=$target"
      assert(target.values.sum == budget, case_)
      assert(strata.forall(st => picked.getOrElse(st, 0L) == target(st)), case_)
      assert(strata.forall(st => target(st) == base(st) || target(st) == base(st) + 1), case_)
      val seated = strata.filter(st => target(st) == base(st) + 1).toSet
      for (a <- strata; b <- strata if a < b && rem(a) == rem(b) && seated(b)) {
        assert(seated(a), s"$b took the residual seat its tied lower stratum $a lacks: $case_")
      }
      for (a <- strata; b <- strata if rem(a) > rem(b) && seated(b)) {
        assert(seated(a), s"$b (remainder ${rem(b)}) seated over $a (${rem(a)}): $case_")
      }
      splitTies += (for (a <- strata; b <- strata
                         if a < b && rem(a) == rem(b) && seated(a) && !seated(b)) yield 1).sum
    }
    assert(splitTies > 0, "no generated case split a remainder tie")
  }

  test("Exact.q9/e9: column forms equal the driver-side forms bit for bit") {
    import graft.functions.Exact
    // half-unit boundaries: x·1e9 + 0.5 lands on an integer near
    // x = (k + ½)/1e9, so test that point and its neighbours one ulp away
    val gen: Gen[Seq[Double]] = for {
      plain <- Gen.listOfN(30, Gen.choose(-1e6, 1e6))
      small <- Gen.listOfN(30, Gen.choose(-1e-3, 1e-3))
      ks    <- Gen.listOfN(20, Gen.choose(-4000000000L, 4000000000L))
    } yield Seq(0.0, -0.0, 5e-10, -5e-10) ++ plain ++ small ++ ks.flatMap { k =>
      val h = (k + 0.5) / 1e9
      Seq(Math.nextDown(h), h, Math.nextUp(h))
    }
    forSeeds(gen) { xs =>
      val df = xs.toDF("x")
      // the local relation is folded by the interpreter; the repartitioned
      // copy runs the generated code
      for (in <- Seq(df, df.repartition(2))) {
        in.select(col("x"), Exact.q9(col("x")), Exact.e9(col("x"))).collect().foreach { r =>
          val x = r.getDouble(0)
          assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
                   java.lang.Double.doubleToRawLongBits(Exact.q9(x)), s"q9($x)")
          assert(r.getLong(2) == Exact.e9(x), s"e9($x)")
        }
      }
    }
  }
}

