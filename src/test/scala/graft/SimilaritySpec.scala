package graft

import graft.functions.Vectors
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Vector math + ANN operator semantics. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("native dot product matches the composable fold bit-for-bit") {
    val df = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 16 + j)),
                 Array.tabulate(16)(j => math.cos(i * 16 + j)))
    }.toDF("id", "a", "b")
    val rows = df.select(
      Vectors.dot(col("a"), col("b")).as("native"),
      ReferenceForms.dotComposable(col("a"), col("b")).as("composable")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // exact, not approx
  }

  test("ScaledCosineLookup ≡ the composed join tree it replaces, bit-for-bit") {
    import org.apache.spark.sql.graftx.{ScaledCosineLookup, VecTable}
    // the beamOver contract: query batch held as a VecTable reference
    // object must score every (query, candidate) pair EXACTLY as the
    // retired broadcast-join + floor((dot/(qn*cn)+1)*1e9+0.5) tree did
    val dim = 16
    val qs = (0 until 12).map { i =>
      val v = Array.tabulate(dim)(j => math.floor(math.sin(i * dim + j) * 1000) / 1000)
      (i.toLong * 7, v, math.sqrt(v.map(x => x * x).sum))
    }
    val flat = qs.flatMap(_._2).toArray
    val table = new VecTable(qs.map(_._1).toArray, flat, qs.map(_._3).toArray, dim)
    val cands = (0 until 40).map { c =>
      val v = Array.tabulate(dim)(j => math.floor(math.cos(c * dim + j) * 1000) / 1000)
      (qs((c * 5) % qs.length)._1, v, math.sqrt(v.map(x => x * x).sum))
    }.toDF("query_id", "cv", "cn")
    val qdf = qs.toDF("query_id", "qv", "qn")
    val viaJoin = cands.join(qdf, Seq("query_id"))
      .select(col("query_id"), col("cv"),
              floor((Vectors.dot(col("qv"), col("cv")) /
                       (col("qn") * col("cn")) + 1) * 1e9 + 0.5)
                .cast("long").as("scaled"))
      .select(col("query_id"), col("scaled")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val viaLookup = cands
      .select(col("query_id"),
              ScaledCosineLookup.score(col("query_id"), col("cv"), col("cn"),
                                       table).as("scaled"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(viaLookup.toSeq == viaJoin.toSeq)
    // a query_id absent from the table must refuse loudly, never mis-score
    val boom = intercept[Exception] {
      cands.select(ScaledCosineLookup.score(col("query_id") + 1, col("cv"),
                                            col("cn"), table)).collect()
    }
    assert(boom.toString.contains("lookup miss") ||
           Option(boom.getCause).exists(_.toString.contains("lookup miss")))
  }

  test("dotShort is the exact integer dot (matches the composable long fold)") {
    // int16 gathers (the NN-descent quantized-build primitive) must be
    // EXACT: every product and sum stays far inside long range, so the
    // native loop and the cast-to-long composable fold agree bitwise
    val df = (0 until 30).map { i =>
      (i.toLong,
       Array.tabulate(16)(j => (((i * 31 + j * 7) % 60000) - 30000).toShort),
       Array.tabulate(16)(j => (((i * 17 + j * 13) % 60000) - 30000).toShort))
    }.toDF("id", "a", "b")
    val rows = df.select(
      org.apache.spark.sql.graftx.DotProductShort.dotShort(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"),
                         (x, y) => x.cast("long") * y.cast("long")),
                lit(0L), (acc, x) => acc + x).as("composable")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("MomentTerms matches the composable nested-transform form bit-for-bit") {
    // same element order AND same IEEE products as
    // concat(upper-triangle pair structs, first-moment structs)
    val df = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(7)(j => math.sin(i * 7 + j) * 0.6))
    }.toDF("id", "v").select(col("id"), col("v").cast("array<double>").as("v"))
    val pairTerms = flatten(transform(sequence(lit(1), size(col("v"))), i =>
      transform(sequence(i, size(col("v"))), j =>
        struct(i.cast("int").as("i"), j.cast("int").as("j"),
               (element_at(col("v"), i) * element_at(col("v"), j)).as("t")))))
    val rawTerms = transform(sequence(lit(1), size(col("v"))), i =>
      struct(i.cast("int").as("i"), lit(0).as("j"),
             element_at(col("v"), i).as("t")))
    val rows = df.select(
      org.apache.spark.sql.graftx.MomentTerms.momentTerms(col("v")).as("native"),
      concat(pairTerms, rawTerms).as("composable")).collect()
    rows.foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](0) == r.getSeq[org.apache.spark.sql.Row](1))
    }
    // empty vector → empty terms, null vector → null
    val edge = Seq((1L, Some(Array.empty[Double])), (2L, None))
      .toDF("id", "v").select(col("id"), col("v").cast("array<double>").as("v"))
    val e = edge.select(
        org.apache.spark.sql.graftx.MomentTerms.momentTerms(col("v")).as("m"))
      .orderBy(col("m").isNull).collect()
    assert(e(0).getSeq[Any](0).isEmpty && e(1).isNullAt(0))
  }

  test("NearestCentroid matches the composable array_max form bit-for-bit") {
    import org.apache.spark.sql.graftx.NearestCentroid
    // centroids: a degenerate zero-norm one, two colinear ones (tie on
    // cosine → smallest id must win), and a generic one
    val cents = Seq(
      (3L, Array(0.5, 0.5, 0.0, 0.1), math.sqrt(0.51)),
      (7L, Array(0.0, 0.0, 0.0, 0.0), 0.0),
      (11L, Array(1.0, 0.0, 1.0, 0.0), math.sqrt(2.0)),
      (12L, Array(2.0, 0.0, 2.0, 0.0), math.sqrt(8.0)))
    val vecs = (0 until 200).map { i =>
      val v = Array.tabulate(4)(j => math.sin(i * 4 + j) * (if (i % 17 == 0) 0 else 1))
      (i.toLong, v)
    }.toDF("id", "v").withColumn("nrm",
      sqrt(Vectors.dot(col("v"), col("v"))))
    val composable = {
      val entries = cents.sortBy(_._1).map { case (cid, cv, cnrm) =>
        val d = Vectors.dot(col("v"), array(cv.map(lit(_)): _*))
        struct(
          coalesce(when(col("nrm") > 0 && lit(cnrm) > 0, d / (col("nrm") * lit(cnrm))),
                   lit(Double.NegativeInfinity)).as("sim"),
          lit(-cid).as("ncid"))
      }
      -array_max(array(entries: _*)).getField("ncid")
    }
    val rows = vecs.select(
      NearestCentroid.nearest(col("v"), col("nrm"), cents).as("native"),
      composable.cast("long").as("composable")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // the zero-norm vectors (i % 17 == 0) resolve to the smallest id
    val zeroNorm = vecs.filter(col("nrm") === 0.0)
      .select(NearestCentroid.nearest(col("v"), col("nrm"), cents))
      .collect().map(_.getLong(0)).toSet
    assert(zeroNorm == Set(3L))
  }

  test("cosine: orthogonal→0, identical→1, zero-norm→null") {
    val df = Seq(
      (Array(1.0, 0.0), Array(0.0, 1.0)),
      (Array(1.0, 2.0), Array(1.0, 2.0)),
      (Array(0.0, 0.0), Array(1.0, 2.0))
    ).toDF("a", "b").select(Vectors.cosine(col("a"), col("b")).as("c"))
    val rows = df.collect()
    assert(approx(rows(0).getDouble(0), 0.0))
    assert(approx(rows(1).getDouble(0), 1.0))
    assert(rows(2).isNullAt(0))
  }

  test("bruteForceTopK returns k nearest excluding self, deterministic tiebreak") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),   // closest to 0
      (2L, Array(0.5f, 0.5f)),
      (3L, Array(0.0f, 1.0f))    // farthest from 0
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", k = 3)
      .orderBy("rank").select("neighbor_id").collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L, 2L, 3L))
  }

  test("hyperplanes are deterministic and ±1-valued") {
    val p1 = Similarity.hyperplanes(4, 8)
    val p2 = Similarity.hyperplanes(4, 8)
    assert(p1 == p2)
    assert(p1.flatten.forall(v => v == 1.0 || v == -1.0))
  }

  test("annTopK finds identical vectors (same bucket by construction)") {
    val base = Array.tabulate(8)(j => math.sin(j).toFloat)
    val vecs = (Seq((0L, base), (1L, base)) ++
      (2 until 20).map(i => (i.toLong, Array.tabulate(8)(j => math.cos(i * 8 + j).toFloat))))
      .toDF("vec_id", "embedding")
    val out = Similarity.annTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding",
      k = 1, numPlanes = 4, dims = 8)
      .select("neighbor_id").collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L)) // the identical vector shares every plane sign
  }

  test("exactNearDupBlocked ≡ all-pairs crossJoin baseline, bit-for-bit") {
    // fixture engineered so the ball cover genuinely PRUNES (two tight
    // antipodal clusters: cross-cluster cell pairs are out of reach) and
    // still includes the edge cases: a zero-norm vector (never qualifies),
    // scaled copies (cosine 1 despite different norms), and pairs right
    // at the threshold neighborhood
    val vecs = ((0 until 12).map { i =>
      val s = 1.0 + (i % 3)                         // scale varies, cosine doesn't
      (i.toLong, Array.tabulate(8)(j => (s * (1.0 + 0.05 * math.sin(i + j))).toFloat))
    } ++ (12 until 24).map { i =>
      (i.toLong, Array.tabulate(8)(j => (-1.0 - 0.05 * math.cos(i * 8 + j)).toFloat))
    } :+ (24L, Array.fill(8)(0.0f)))
      .toDF("vec_id", "embedding")
    val blocked = Similarity.exactNearDupBlocked(
      vecs, "vec_id", "embedding", minCosine = 0.4, k = 4, iters = 2)
    val naive = {
      val v = vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", Vectors.norm(col("v")))
      val a = v.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
      val b = v.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
      a.crossJoin(b)
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
                Vectors.cosinePrenormed(
                  Vectors.dot(col("va"), col("vb")), col("na"), col("nb")).as("cosine"))
        .filter(col("cosine") >= 0.4)
    }
    assert(blocked.exceptAll(naive).isEmpty && naive.exceptAll(blocked).isEmpty,
      "blocked form lost or invented pairs vs the exact baseline")
    // both within-cluster pair sets are found (12·11/2 each = 132), and
    // nothing cross-cluster (antipodal ⇒ cosine ≈ −1) or zero-norm
    assert(blocked.count() == 132L)
  }

  test("nearDupTopK ≡ windowed all-pairs baseline (capped output, exact recall)") {
    // same two-antipodal-cluster fixture shape as the q38 test; the
    // capped form must return each doc's top-3 qualifying neighbors with
    // the heap's (cosine desc, id asc) order ≡ the window's
    val vecs = ((0 until 12).map { i =>
      val s = 1.0 + (i % 3)
      (i.toLong, Array.tabulate(8)(j => (s * (1.0 + 0.05 * math.sin(i + j))).toFloat))
    } ++ (12 until 24).map { i =>
      (i.toLong, Array.tabulate(8)(j => (-1.0 - 0.05 * math.cos(i * 8 + j)).toFloat))
    } :+ (24L, Array.fill(8)(0.0f)))
      .toDF("vec_id", "embedding")
    val capped = Similarity.nearDupTopK(
      vecs, "vec_id", "embedding", minCosine = 0.4, kNeighbors = 3,
      k = 4, iters = 2)
    val naive = {
      import org.apache.spark.sql.expressions.{Window => W}
      val v = vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", Vectors.norm(col("v")))
      val a = v.select(col("vec_id").as("doc_id"), col("v").as("va"), col("nrm").as("na"))
      val b = v.select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("nrm").as("nb"))
      a.crossJoin(b)
        .filter(col("doc_id") =!= col("neighbor_id"))
        .select(col("doc_id"), col("neighbor_id"),
                Vectors.cosinePrenormed(
                  Vectors.dot(col("va"), col("vb")), col("na"), col("nb")).as("cosine"))
        .filter(col("cosine") >= 0.4)
        .withColumn("scaled",
          floor((col("cosine") + 1) * 1e9 + 0.5).cast("long"))
        .withColumn("rn", row_number().over(
          W.partitionBy(col("doc_id"))
            .orderBy(col("scaled").desc, col("neighbor_id").asc)))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("neighbor_id"),
                (col("scaled").cast("double") / 1e9 - 1).as("cosine_q"))
    }
    assert(capped.exceptAll(naive).isEmpty && naive.exceptAll(capped).isEmpty,
      "capped form disagrees with the windowed exact baseline")
    // output contract: ≤ 3 neighbors per doc, 24 qualifying docs
    assert(capped.count() == 72L)
  }

  test("shared ball-cover memo: one fit, bit-identical outputs (q38/q274/q280 discipline)") {
    // the ball-cover artifact: consumers passing the same cacheKey share
    // ONE (session, corpus, k, iters) Lloyd fit + assignment cut; the
    // fit is deterministic, so shared-vs-fresh covers must be
    // bit-identical — asserted against cacheKey = None runs of BOTH
    // consumers, plus the memo-hit probe itself
    val vecs = ((0 until 12).map { i =>
      val s = 1.0 + (i % 3)
      (i.toLong, Array.tabulate(8)(j => (s * (1.0 + 0.05 * math.sin(i + j))).toFloat))
    } ++ (12 until 24).map { i =>
      (i.toLong, Array.tabulate(8)(j => (-1.0 - 0.05 * math.cos(i * 8 + j)).toFloat))
    }).toDF("vec_id", "embedding")
    val key = "similarity-spec-shared-cover"
    def fittedCoverFor(cacheKey: String): Boolean =
      graft.core.Artifact.built(spark).contains(("ball_cover", s"$cacheKey|k=4|iters=2"))
    assert(!fittedCoverFor(key + "!absent"),
      "probe must report a miss for a never-fitted key")
    val pairsShared = Similarity.exactNearDupBlocked(
      vecs, "vec_id", "embedding", minCosine = 0.4, k = 4, iters = 2,
      cacheKey = Some(key))
    pairsShared.count() // force the fit through the memo
    assert(fittedCoverFor(key),
      "first consumer must have populated the cover memo")
    val topShared = Similarity.nearDupTopK(
      vecs, "vec_id", "embedding", minCosine = 0.4, kNeighbors = 3,
      k = 4, iters = 2, cacheKey = Some(key))
    val pairsFresh = Similarity.exactNearDupBlocked(
      vecs, "vec_id", "embedding", minCosine = 0.4, k = 4, iters = 2)
    val topFresh = Similarity.nearDupTopK(
      vecs, "vec_id", "embedding", minCosine = 0.4, kNeighbors = 3,
      k = 4, iters = 2)
    assert(pairsShared.exceptAll(pairsFresh).isEmpty &&
           pairsFresh.exceptAll(pairsShared).isEmpty,
      "shared-cover pair set differs from the per-call fit")
    assert(topShared.exceptAll(topFresh).isEmpty &&
           topFresh.exceptAll(topShared).isEmpty,
      "shared-cover top-k differs from the per-call fit")
  }

  test("durable materialization: blocked near-dup identical with checkpointing off") {
    // same fixture as the ≡-baseline test; here the claim is that the
    // table-backed lineage cut (Materialize durable mode — the cluster
    // deployment's form, recomputable after executor loss) changes
    // NOTHING: no localCheckpoint runs, and the result set is identical
    // row for row (parquet round-trips preserve long/double exactly)
    val vecs = ((0 until 12).map { i =>
      val s = 1.0 + (i % 3)
      (i.toLong, Array.tabulate(8)(j => (s * (1.0 + 0.05 * math.sin(i + j))).toFloat))
    } ++ (12 until 24).map { i =>
      (i.toLong, Array.tabulate(8)(j => (-1.0 - 0.05 * math.cos(i * 8 + j)).toFloat))
    } :+ (24L, Array.fill(8)(0.0f)))
      .toDF("vec_id", "embedding")
    def run() = Similarity.exactNearDupBlocked(
      vecs, "vec_id", "embedding", minCosine = 0.4, k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val local = run()
    spark.conf.set("spark.graft.materialize.durable", "true")
    try {
      assert(graft.core.Materialize.durable(spark))
      assert(run() == local, "durable cut changed the near-dup result")
      // the mined-pair memo path (Dedup.withCachesIf) cuts durably too
      val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w q r"))
        .toDF("doc_id", "text")
      val cand = graft.operators.Dedup
        .minhashCandidates(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cand.contains((1L, 2L)), "identical docs must stay candidates")
    } finally spark.conf.set("spark.graft.materialize.durable", "false")
  }

  test("frozen-centroid appends drift recall; rebuild (q146's operator) restores it") {
    // Fixture: base spans directions e1 (ids 0–7) and e2 (ids 8–15);
    // the delta batch (ids 100–107) sits BETWEEN them — x/y leaning
    // alternates with parity while a growing z-component makes each
    // delta's true nearest neighbors the adjacent-z OPPOSITE-leaning
    // deltas. Under base-frozen centroids the leaning splits the deltas
    // across the e1/e2 lists, so an nprobe=1 query can't see its true
    // neighbors; after re-picking centroids from the full id set the
    // md5 order promotes delta ids 102 and 106 to seeds (precomputed),
    // the low/high-z deltas collapse into those lists, and the same
    // queries find their true neighbors again.
    val base = (0 until 16).map { i =>
      val v = if (i < 8) Array(1.0, 0.001 * i, 0.0)
              else Array(0.001 * i, 1.0, 0.0)
      (i.toLong, v)
    }
    val delta = (100 until 108).map { i =>
      val lean = if (i % 2 == 0) 0.1 else -0.1
      (i.toLong, Array(1.0 + lean, 1.0 - lean, 0.4 * (i - 100)))
    }
    def df(rows: Seq[(Long, Array[Double])]) =
      rows.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val (baseDf, allDf) = (df(base), df(base ++ delta))
    val queries = df(delta).select(col("vec_id"), col("v").as("embedding"))
    val k = 2
    // exact truth, computed locally on the tiny fixture (self excluded,
    // ties broken by id — but the fixture has no cosine ties)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d  = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      d / (na * nb)
    }
    val all = base ++ delta
    val exact: Map[Long, Set[Long]] = delta.map { case (qid, qv) =>
      qid -> all.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet
    }.toMap
    def recall(served: org.apache.spark.sql.DataFrame): Double = {
      val got = served.collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      delta.map { case (qid, _) =>
        got.getOrElse(qid, Set.empty).count(exact(qid).contains).toDouble / k
      }.sum / delta.size
    }
    val centsBase = Similarity.ivfCentroids(baseDf, nlist = 4)
    val appended = Similarity.ivfAssignWith(baseDf, centsBase)
      .unionByName(Similarity.ivfAssignWith(df(delta), centsBase))
    val rAppend = recall(Similarity.annTopKIvfServe(
      queries, appended, centsBase, "vec_id", "embedding", k, nprobe = 1))
    // the q146 rebuild: centroids re-picked from the appended rows
    val centsReb = Similarity.ivfCentroids(
      appended.select(col("vec_id"), col("v")), nlist = 4)
    assert(centsReb.map(_._1).toSet != centsBase.map(_._1).toSet,
      "rebuild should promote delta ids into the seed set")
    val rebuilt = Similarity.ivfAssignWith(allDf, centsReb)
    val rRebuild = recall(Similarity.annTopKIvfServe(
      queries, rebuilt, centsReb, "vec_id", "embedding", k, nprobe = 1))
    assert(rAppend < rRebuild,
      s"drift not demonstrated: append recall $rAppend vs rebuild $rRebuild")
    // not 1.0: nprobe=1 is deliberately tight, and one boundary query
    // (z between the two promoted delta seeds) still straddles lists —
    // the point is the strict recovery, not perfection at nprobe=1
    assert(rRebuild >= 0.9, s"rebuild barely recovered: $rRebuild")
  }

  test("PQ encode: codes in range, distortion is the exact sum of subspace residuals") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.core.Tables(spark, dir).embeddings
    val cb = graft.operators.Pq.fitCodebooks(e, "vec_id", "embedding",
      m = 4, subDim = 16, k = 16, iters = 2)
    assert(cb.length == 4 && cb.forall(_.length == 16) &&
           cb.forall(_.forall(_.length == 16)))
    val codes = graft.operators.Pq.encode(e, "vec_id", "embedding", cb, 16).collect()
    codes.foreach { r =>
      val ds = (0 until 4).map(j => r.getAs[Double](s"d2_$j"))
      (0 until 4).foreach { j =>
        val c = r.getAs[Long](s"code_$j")
        assert(c >= 0 && c < 16, s"code out of range: $c")
        assert(ds(j) >= -1e-9, s"negative residual: ${ds(j)}")
      }
      assert(r.getAs[Double]("distortion") == ds.reduce(_ + _),
        "distortion must be the fixed-order sum of subspace residuals")
    }
    // ADC returns exactly k ranked rows per query, ascending
    val adc = graft.operators.Pq.adcTopK(
      e.filter(col("vec_id") < 20), // 20-query batch
      graft.operators.Pq.encode(e, "vec_id", "embedding", cb, 16)
        .select(col("vec_id"), col("code_0"), col("code_1"), col("code_2"), col("code_3")),
      "vec_id", "embedding", cb, 16, k = 3).collect()
    val byQ = adc.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 20 && byQ.values.forall(_.length == 3))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Double]("approx_d2")).sliding(2)
        .forall(p => p.head <= p.last), "ranks must ascend in approx distance")
    }
  }

  test("PQ serving rejects an unbounded query batch instead of collecting it") {
    // queryLuts collects the query frame to the driver — bounded by
    // contract, and the contract is enforced: a corpus-sized frame must
    // fail loudly, not OOM the driver (round-11 advice).
    val dir = "/root/testdata/sf0.001"
    val e = graft.core.Tables(spark, dir).embeddings
    val cb = graft.operators.Pq.fitCodebooks(e, "vec_id", "embedding",
      m = 4, subDim = 16, k = 4, iters = 1)
    val codes = graft.operators.Pq.encode(e, "vec_id", "embedding", cb, 16)
      .select(col("vec_id"), col("code_0"), col("code_1"), col("code_2"), col("code_3"))
    // 5000 "queries" (the corpus unioned onto itself past the 4096 bound)
    val big = (0 until 10).map(i =>
        e.select((col("vec_id") + i * 100000).as("vec_id"), col("embedding")))
      .reduce(_ unionByName _)
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Pq.adcTopK(big, codes, "vec_id", "embedding", cb, 16, k = 3)
    }
    assert(ex.getMessage.contains("per-BATCH serving kernel"))
  }

  test("q216 multi-probe recall dominates single-bucket recall (candidate superset)") {
    // The hamming-1 probe union is a strict candidate superset of the
    // exact bucket, and gt = GLOBAL top-3 — so a gt member displaced
    // from the wider top-3 would need 3 strictly-better candidates,
    // which would evict it from the global top-3 too. Recall is
    // therefore monotone in probe budget BY CONSTRUCTION; this pins the
    // implementation to that construction on real data.
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q217_multiprobe_recall")(spark, dir)
      .collect().map(r => r.getAs[Long]("probe_bits") ->
                          (r.getAs[Long]("found"), r.getAs[Long]("total"))).toMap
    assert(rows.keySet == Set(0L, 1L, 2L), s"budgets missing: ${rows.keySet}")
    val (f0, t0) = rows(0L); val (f1, t1) = rows(1L); val (f2, t2) = rows(2L)
    assert(t0 == t1 && t1 == t2 && t0 > 0, s"ground-truth totals disagree: $t0/$t1/$t2")
    assert(f1 >= f0 && f2 >= f1,
      s"recall not monotone in probe budget: $f0, $f1, $f2")
    // and every single-bucket ANN pair is also a multi-probe pair — the
    // per-pair statement of the same superset argument
    val a0 = SparkEntry.queries("q40_ann_lsh")(spark, dir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val a1full = SparkEntry.queries("q216_multiprobe_lsh")(spark, dir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val displaced = a0 -- a1full
    // a q40 pair may leave the multi-probe TOP-3 only by displacement —
    // then its query must still return 3 multi-probe rows
    val fullQ = a1full.groupBy(_._1).view.mapValues(_.size).toMap
    displaced.foreach { case (q, _) =>
      assert(fullQ.getOrElse(q, 0) == 3,
        s"pair of query $q vanished without displacement")
    }
  }

  test("nearDupPreBlockedLsh \u2286 exact pairs with bit-identical cosines") {
    // the two-antipodal-cluster fixture: intra-cluster pairs are tight
    // (cos \u2248 1) so the banded signatures MUST catch them; the pre-blocked
    // output must be a subset of the exact pair set with the same cosine
    // doubles (same scoring expression on mined candidates)
    val vecs = ((0 until 12).map { i =>
      val s = 1.0 + (i % 3)
      (i.toLong, Array.tabulate(8)(j => (s * (1.0 + 0.05 * math.sin(i + j))).toFloat))
    } ++ (12 until 24).map { i =>
      (i.toLong, Array.tabulate(8)(j => (-1.0 - 0.05 * math.cos(i * 8 + j)).toFloat))
    } :+ (24L, Array.fill(8)(0.0f)))
      .toDF("vec_id", "embedding")
    val exact = Similarity.exactNearDupBlocked(
      vecs, "vec_id", "embedding", minCosine = 0.4, k = 4, iters = 2)
    val pre = Similarity.nearDupPreBlockedLsh(
      vecs, "vec_id", "embedding", minCosine = 0.4)
    assert(pre.exceptAll(exact).isEmpty,
      "pre-blocked output is not a subset of the exact pair set")
    // tight intra-cluster pairs sit at cos \u2248 1 where per-band collision
    // \u2248 1 \u2014 deterministic given the fixed md5 planes and fixture
    assert(pre.count() == exact.count(),
      "pre-blocker missed near-identical pairs (cos \u2248 1 must collide)")
  }

  test("exactNearDupCollapsed \u2261 exactNearDupBlocked on a duplicate-heavy corpus") {
    val base = ((0 until 12).map { i =>
      val s = 1.0 + (i % 3)
      (i.toLong, Array.tabulate(8)(j => (s * (1.0 + 0.05 * math.sin(i + j))).toFloat))
    } ++ (12 until 24).map { i =>
      (i.toLong, Array.tabulate(8)(j => (-1.0 - 0.05 * math.cos(i * 8 + j)).toFloat))
    } :+ (24L, Array.fill(8)(0.0f)))
    // byte-identical copies of the first cluster AND of the zero vector:
    // dup clusters of size 3 (the zero-vector cluster must NOT pair)
    val withDups = base ++ base.collect {
      case (id, v) if id < 12 || id == 24L => Seq((id + 100L, v), (id + 200L, v))
    }.flatten
    val vecs = withDups.toDF("vec_id", "embedding")
    val collapsed = Similarity.exactNearDupCollapsed(
      vecs, "vec_id", "embedding", minCosine = 0.4, k = 4, iters = 2)
    val blocked = Similarity.exactNearDupBlocked(
      vecs, "vec_id", "embedding", minCosine = 0.4, k = 4, iters = 2)
    assert(collapsed.exceptAll(blocked).isEmpty &&
           blocked.exceptAll(collapsed).isEmpty,
      "collapse pre-pass changed the exact near-dup output")
  }

  test("nearDupAuto routes by threshold (exact-collapsed high, pre-blocked low)") {
    val vecs = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(8)(j => (1.0 + 0.05 * math.sin(i + j)).toFloat))
    }.toDF("vec_id", "embedding")
    val hi = Similarity.nearDupAuto(vecs, "vec_id", "embedding", 0.9)
    val hiRef = Similarity.exactNearDupCollapsed(vecs, "vec_id", "embedding", 0.9)
    assert(hi.exceptAll(hiRef).isEmpty && hiRef.exceptAll(hi).isEmpty)
    val lo = Similarity.nearDupAuto(vecs, "vec_id", "embedding", 0.4)
    val loRef = Similarity.nearDupPreBlockedLsh(vecs, "vec_id", "embedding", 0.4)
    assert(lo.exceptAll(loRef).isEmpty && loRef.exceptAll(lo).isEmpty)
  }
}
