package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** Semantics of the retrieval (q88/q89) and graph (q90) operators:
  * BM25's scan-local projection tf ≡ the explode+groupBy formulation,
  * CMS never undercounts and is partition-invariant, and integer-scaled
  * PageRank matches an exact driver-side reference fold on a crafted
  * graph (same truncating arithmetic) and conserves rank mass.
  */
class RetrievalGraphSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("triangleCounts: crafted graphs exact; ≡ naive all-triples enumeration") {
    def sym(pairs: Seq[(Long, Long)]) =
      (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    // K4: every node sits in C(3,2) = 3 triangles
    val k4 = sym(for { i <- 0L to 3L; j <- (i + 1) to 3L } yield (i, j))
    val got = graft.operators.Graph.triangleCounts(k4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // path graph: no triangles → empty result
    val path = sym(Seq((0L, 1L), (1L, 2L), (2L, 3L)))
    assert(graft.operators.Graph.triangleCounts(path).count() == 0)
    // random-ish graph: counts match a naive all-ordered-triples check
    val rnd = scala.util.Random
    rnd.setSeed(7)
    val es = (for (_ <- 1 to 60) yield {
      val a = rnd.nextInt(12).toLong; val b = rnd.nextInt(12).toLong
      if (a == b) None else Some((math.min(a, b), math.max(a, b)))
    }).flatten.distinct
    val adj = es.toSet
    def connected(a: Long, b: Long) = adj.contains((math.min(a, b), math.max(a, b)))
    val naive = (for {
      a <- 0L to 11L; b <- (a + 1) to 11L; c <- (b + 1) to 11L
      if connected(a, b) && connected(b, c) && connected(a, c)
    } yield Seq(a, b, c)).flatten
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val got2 = graft.operators.Graph.triangleCounts(sym(es))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == naive, s"oriented $got2 vs naive $naive")
  }

  test("adamicAdar: crafted graphs score exactly; hub cap excludes commons") {
    import spark.implicits._
    def sym(pairs: Seq[(Long, Long)]) =
      (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    // C4 cycle 0-1-2-3-0: non-edges (0,2),(1,3), each via two deg-2 commons
    val t2 = math.floor(1e9 / math.log(2.0) + 0.5).toLong
    val c4 = graft.operators.Graph
      .adamicAdar(sym(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))), 64, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(c4.toSet == Set((0L, 2L, 2L, 2 * t2), (1L, 3L, 2L, 2 * t2)))
    // star 0-{1,2,3}: three non-edges via the one deg-3 hub
    val t3 = math.floor(1e9 / math.log(3.0) + 0.5).toLong
    val star = sym(Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    val got = graft.operators.Graph.adamicAdar(star, 64, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == Set((1L, 2L, 1L, t3), (1L, 3L, 1L, t3), (2L, 3L, 1L, t3)))
    // degCap below the hub degree removes every wedge
    assert(graft.operators.Graph.adamicAdar(star, 2, 50).count() == 0)
  }

  test("labelPropagation: two cliques + bridge ≡ naive synchronous reference") {
    import spark.implicits._
    def sym(pairs: Seq[(Long, Long)]) =
      (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val cl = (for { i <- 0L to 3L; j <- (i + 1) to 3L } yield (i, j)) ++
      (for { i <- 10L to 13L; j <- (i + 1) to 13L } yield (i, j)) :+ (3L, 10L)
    def naive(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      var lab = adj.keys.map(n => n -> n).toMap
      for (_ <- 1 to iters) {
        lab = adj.map { case (n, nbrs) =>
          val counts = nbrs.groupBy(lab).map { case (l, xs) => l -> xs.size }
          n -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
        }
      }
      lab
    }
    for (iters <- 1 to 3) {
      val got = graft.operators.Graph.labelPropagation(sym(cl), iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == naive(cl, iters), s"iters=$iters")
    }
    // 3 iterations settle the two cliques onto their min ids
    val fin = graft.operators.Graph.labelPropagation(sym(cl), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 3L).forall(n => fin(n) == 0L))
    assert((11L to 13L).forall(n => fin(n) == 10L))
  }

  test("leadRho equals 1 + leading-zeros of the 48-bit md5 slice") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val xs = (1 to 500).map(_ => rnd.nextLong().toString)
    val got = xs.toDF("s")
      .select(col("s"),
        graft.functions.HexKeys.leadRho(md5(col("s")), 2, 12).as("rho"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    xs.foreach { s =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val slice = java.lang.Long.parseLong(hex.substring(2, 14), 16) // 48 bits
      val expect =
        if (slice == 0L) 49 else java.lang.Long.numberOfLeadingZeros(slice) - 16 + 1
      assert(got(s) == expect, s"$s hex=$hex")
    }
  }

  test("HLL raw branch: 50k distinct estimated within 20% (m=256)") {
    import graft.functions.HexKeys
    import spark.implicits._
    val hex = md5(col("s"))
    val est = (1 to 50000).map(i => s"doc-$i").toDF("s")
      .select((HexKeys.digit(hex, 0) * 16 + HexKeys.digit(hex, 1)).as("bucket"),
              HexKeys.leadRho(hex, 2, 12).as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("mj"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 49 - mj)")).as("s_present"),
           count(lit(1)).as("nb"))
      .select(expr(
        "CAST(26499596412111161535758336 AS DECIMAL(38,0)) div " +
          "(CAST(s_present + (256 - nb) * 562949953421312 AS DECIMAL(38,0)) * 1000000)"))
      .head().getLong(0)
    assert(est > 640, s"raw branch not exercised: $est") // past linear-counting cutover
    assert(math.abs(est - 50000.0) / 50000.0 < 0.20, s"estimate $est")
  }

  test("q88 scan-local tf equals the explode+groupBy BM25 formulation") {
    val df = SparkEntry.queries("q88_bm25_topk")(spark, dir)
    // alternative shape: explode tokens, filter to the terms, count
    val docs  = graft.core.Tables(spark, dir).documents
    val terms = Seq("spark", "join", "vector")
    val tf = docs
      .select(col("doc_id"), explode(graft.functions.Text.tokens(col("text"))).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val tfCols = col("doc_id") +: terms.zipWithIndex.map { case (t, i) =>
      size(filter(graft.functions.Text.tokens(col("text")), x => x === lit(t)))
        .cast("long").as(s"tf$i")
    }
    val base = docs.select(tfCols: _*)
    base.collect().foreach { r =>
      val id = r.getLong(0)
      terms.zipWithIndex.foreach { case (t, i) =>
        assert(r.getLong(i + 1) == tf.getOrElse((id, t), 0L),
          s"tf mismatch doc=$id term=$t")
      }
    }
    // and the top-k is well-formed: scores strictly ordered after tiebreak
    val rows = df.collect()
    assert(rows.length == 25)
    val keys = rows.map(r => (-r.getDouble(3), r.getLong(0)))
    assert(keys.sameElements(keys.sorted), "top-k not in (score desc, id) order")
  }

  test("q89 CMS never undercounts on the sf data") {
    val rows = SparkEntry.queries("q89_cms_heavy_hitters")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) >= 0L, s"CMS undercounts ${r.getString(0)}")
      assert(r.getLong(2) >= r.getLong(1))
    }
  }

  test("q89 CMS matches a driver-side reference sketch under forced collisions, " +
       "independent of input file layout") {
    // 1501 distinct tokens in 1024-wide rows GUARANTEE bucket collisions,
    // so the min-over-counters estimate path actually runs (the sf
    // vocabulary is ~31 tokens — zero collisions, estimate == truth).
    val text1 = (1 to 1500).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (0L, text1, "en", "web", 1L),
      (1L, Seq.fill(100)("hot").mkString(" "), "en", "web", 1L),
      (2L, "hot t1 t2 t3", "en", "web", 1L))
    // same rows, two different file layouts — the INPUT partitioning the
    // sketch build must be invariant to
    val (dirA, dirB) = {
      val a = fixtureDir("cms_a").toString
      val b = fixtureDir("cms_b").toString
      val df = docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      df.coalesce(1).write.parquet(s"$a/documents.parquet")
      df.repartition(5).write.parquet(s"$b/documents.parquet")
      (a, b)
    }
    def run(d: String): Map[String, (Long, Long)] =
      SparkEntry.queries("q89_cms_heavy_hitters")(spark, d).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val outA = run(dirA)
    assert(outA == run(dirB), "sketch depends on input file layout")
    assert(outA.values.exists(v => v._2 > v._1), "no collision exercised")

    // independent reference: exact counts + the same md5/K-M positions
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val counts = docs.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    def buckets(tok: String): Seq[(Int, Int)] = {
      val hex = md5hex(s"cms|$tok")
      val h1  = Integer.parseInt(hex.substring(0, 4), 16)
      val h2  = Integer.parseInt(hex.substring(4, 8), 16)
      (0 until 4).map(j => j -> (h1 + j * h2) % 1024)
    }
    val sketch = new scala.collection.mutable.HashMap[(Int, Int), Long]()
      .withDefaultValue(0L)
    for ((t, c) <- counts; b <- buckets(t)) sketch(b) += c
    val expected = counts.map { case (t, c) =>
      t -> (c, buckets(t).map(sketch).min)
    }
    assert(outA == expected, "CMS diverges from the reference sketch")
  }

  test("q92 heap-encoded top-3 equals the window formulation") {
    val got = SparkEntry.queries("q92_tfidf_keywords")(spark, dir)
    // naive alternative: row_number window over the same quantized score
    val docs = graft.core.Tables(spark, dir).documents
    val tf = docs
      .select(col("doc_id"), explode(graft.functions.Text.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scaled = floor(col("tf").cast("double") *
      log(col("n_docs").cast("double") / col("df").cast("double")) * 1e9 + 0.5)
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("scaled").desc, col("tok").asc)
    val naive = tf.join(dfreq, "tok").crossJoin(n)
      .select(col("doc_id"), col("tok"), col("tf"), scaled.as("scaled"))
      .withColumn("kw_rank", row_number().over(w).cast("long"))
      .filter(col("kw_rank") <= 3)
      .select(col("doc_id"), col("kw_rank"), col("tok"), col("tf"),
              (col("scaled").cast("double") / 1e9).as("tfidf_score"))
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty,
      "TopKPairs top-3 diverges from the window formulation")
  }

  test("q93 bin estimates bracket the exact quantile values") {
    val rows = SparkEntry.queries("q93_histogram_quantiles")(spark, dir).collect()
    assert(rows.map(_.getLong(0)).sorted.sameElements(Array(50L, 90L, 99L)))
    val values = graft.core.Tables(spark, dir).events
      .select(col("value")).collect().map(_.getDouble(0)).sorted
    rows.foreach { r =>
      val exact = values(r.getLong(1).toInt - 1) // target_rank is 1-based
      assert(r.getDouble(3) <= exact && exact <= r.getDouble(4),
        s"p${r.getLong(0)}: exact $exact outside [${r.getDouble(3)}, ${r.getDouble(4)}]")
    }
  }

  test("q91 flags exact reorder-dups and containment near-dups on a crafted fixture") {
    val dir = fixtureDir("snap_fixture").toString
    val ws = (1 to 12).map(i => s"w$i").mkString(" ") // 12 tokens → 5 8-grams
    val docs = Seq(
      (0L, ws, "en", "web", 1L),                                  // base
      (1L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12", "en", "web", 1L), // base
      // delta: exact reorder of base doc 0 → exact dup, not kept
      (400L, (1 to 12).reverse.map(i => s"w$i").mkString(" "), "en", "web", 1L),
      // delta: shares a long prefix with base doc 1 (high containment)
      (401L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 zz", "en", "web", 1L),
      // delta: fully novel text → kept
      (402L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10 n11 n12", "en", "web", 1L),
      // delta: too short for 8-grams, novel tokens → kept (n_ngrams=0)
      (403L, "s1 s2 s3", "en", "web", 1L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q91_snapshot_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), r.getLong(3), r.getLong(4), r.getBoolean(6))).toMap
    assert(out(400L) == ((true, 5L, 0L, false)), s"reorder dup: ${out(400L)}")
    // doc 401 shares 4 of its 5 8-grams with base doc 1 → 800‰, dropped
    assert(out(401L) == ((false, 5L, 4L, false)), s"near dup: ${out(401L)}")
    assert(out(402L) == ((false, 5L, 0L, true)), s"novel: ${out(402L)}")
    assert(out(403L) == ((false, 0L, 0L, true)), s"short novel: ${out(403L)}")
  }

  test("q96 temperature sampling concentrates on sqrt(n_min*n_source) under skew") {
    // the sf corpus has UNIFORM sources (thr = n_source, everything kept),
    // so the temperature path needs a skewed fixture: 400/100/25 docs
    val dirF = fixtureDir("temp_fixture").toString
    val docs = (0 until 400).map(i => (i.toLong, s"a$i", "en", "big", 1L)) ++
      (0 until 100).map(i => (400L + i, s"b$i", "en", "mid", 1L)) ++
      (0 until 25).map(i => (500L + i, s"c$i", "en", "small", 1L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dirF/documents.parquet")
    val out = SparkEntry.queries("q96_temperature_mix")(spark, dirF)
    val kept = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // smallest source keeps everything (thr = n_source)
    assert(kept("small") == 25L, s"smallest source subsampled: $kept")
    // expected kept ≈ sqrt(25·n): big → 100, mid → 50; allow binomial noise
    assert(kept("big") >= 60 && kept("big") <= 140, s"big: $kept")
    assert(kept("mid") >= 30 && kept("mid") <= 70, s"mid: $kept")
    // softer than q86: the big source keeps MORE than the uniform target
    val uniform = SparkEntry.queries("q86_mixture_rebalance")(spark, dirF)
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("big") > uniform("big"), s"not softer than uniform: $kept vs $uniform")
    // deterministic: a second run keeps the identical doc set
    val ids1 = out.select("doc_id").collect().map(_.getLong(0)).sorted
    val ids2 = SparkEntry.queries("q96_temperature_mix")(spark, dirF)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids1.sameElements(ids2))
  }

  test("kmeans separates two obvious clusters and assigns every point") {
    val dims = 64
    def vec(a: Double, b: Double): Seq[Double] =
      Seq(a, b) ++ Seq.fill(dims - 2)(0.0)
    // two tight groups far apart; ids interleaved so seeds hit both
    val pts = (0 until 10).map(i => (i.toLong, vec(0.0 + i * 0.01, 0.0))) ++
      (10 until 20).map(i => (i.toLong, vec(10.0 + i * 0.01, 10.0)))
    val df = pts.toDF("vec_id", "embedding")
    val out = graft.operators.Clustering
      .kmeans(df, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 20)
    val groupA = (0 until 10).map(i => out(i.toLong)).toSet
    val groupB = (10 until 20).map(i => out(i.toLong)).toSet
    assert(groupA.size == 1 && groupB.size == 1 && groupA != groupB,
      s"clusters not separated: $out")
  }

  test("kmeans handles k = 1 and fewer rows than k") {
    val one = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0))).toDF("vec_id", "embedding")
    val k1 = graft.operators.Clustering.kmeans(one, "vec_id", "embedding", k = 1, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k1 == Map(1L -> 0L, 2L -> 0L))
    // fewer input rows than k: seeds shrink to the row count, no crash
    val tiny = Seq((1L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    val got = graft.operators.Clustering.kmeans(tiny, "vec_id", "embedding", k = 5, iters = 1)
      .collect()
    assert(got.length == 1 && got.head.getLong(1) == 0L)
  }

  test("pageRank matches an exact integer reference fold on a crafted graph") {
    // path graph 1–2–3 (symmetric): hand-foldable, asymmetric degrees
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val got = Graph.pageRank(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // driver-side reference with the SAME truncating integer arithmetic
    val adj    = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L))
    val n      = 3L
    var rank   = adj.keys.map(_ -> Graph.Scale / n).toMap
    val telep  = Graph.Scale * 15 / (n * 100)
    for (_ <- 1 to 3) {
      val in = adj.toSeq
        .flatMap { case (u, vs) => vs.map(v => v -> (rank(u) * 85 / (vs.size * 100))) }
        .groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).sum }
      rank = adj.keys.map(v => v -> (telep + in.getOrElse(v, 0L))).toMap
    }
    assert(got == rank, s"got $got expected $rank")
  }

  test("pageRank ranks sink nodes; dangling mass drops as documented") {
    // directed 1→2 only: node 2 is a sink and must still be ranked
    val got = Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val S = Graph.Scale
    val telep = S * 15 / (2 * 100)
    val r1 = Map(1L -> telep, 2L -> (telep + (S / 2) * 85 / 100))
    val r2 = Map(1L -> telep, 2L -> (telep + r1(1L) * 85 / 100))
    assert(got == r2, s"got $got expected $r2")
  }

  test("pageRank checkpointing is semantics-preserving") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    def run(every: Int) = Graph.pageRank(edges, iters = 7, checkpointEvery = every)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(2) == run(100), "lineage truncation changed the result")
  }

  test("pageRank conserves rank mass up to truncation and is partition-invariant") {
    val t  = graft.core.Tables(spark, dir)
    val li = t.lineitem.select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
    val edges = li.as("a")
      .join(li.as("b"), col("a.okey") === col("b.okey") && col("a.part") =!= col("b.part"))
      .select(col("a.part").as("src"), col("b.part").as("dst")).distinct()
    val r1 = Graph.pageRank(edges, 2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nNodes = r1.size
    val mass = r1.values.sum
    // every division truncates < 1 unit; per iteration the loss is bounded
    // by (#edges + #nodes) units — at 1e-12 scale, far under 0.1% of mass
    assert(mass <= Graph.Scale && mass > (Graph.Scale * 999L) / 1000L,
      s"mass $mass out of range for $nNodes nodes")
    assert(r1.values.forall(_ > 0))
    val r2 = Graph.pageRank(edges.repartition(7), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == r2, "pageRank not partition-invariant")
  }

  test("q166 CMS inner product never underestimates the exact join size") {
    // the defining sketch guarantee: every depth row's inner product is
    // the exact size PLUS non-negative collision cross terms, so the min
    // over rows still bounds from above
    val row = SparkEntry.queries("q166_join_size_estimate")(
      spark, "/root/testdata/sf0.001").collect().head
    val exact = row.getAs[Long]("exact_size")
    val est   = row.getAs[Long]("cms_estimate")
    assert(exact > 0L)
    assert(est >= exact, s"estimate $est under exact $exact")
    assert(row.getAs[Long]("overcount") == est - exact)
  }

  test("q165 curriculum: rank is a dense permutation with monotone stages") {
    val rows = SparkEntry.queries("q165_curriculum_schedule")(
      spark, "/root/testdata/sf0.001")
      .orderBy("curriculum_rank").collect()
    assert(rows.map(_.getAs[Long]("curriculum_rank")).toSeq ==
      (1L to rows.length.toLong))
    // stage never decreases as the schedule advances — the curriculum
    // property the packed key exists to deliver
    val stages = rows.map(_.getAs[Long]("stage")).toSeq
    assert(stages == stages.sorted)
    assert(stages.distinct.size > 1, "degenerate single-stage corpus")
  }
}
