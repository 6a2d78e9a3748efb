package graft

import graft.sources.Warehouse
import org.apache.spark.sql.functions._

/** Physical-plan assertions — the "is this the plan you'd want at 100 TB"
  * checks: predicate pushdown reaches the parquet scan, column pruning
  * shrinks ReadSchema, small dims broadcast, bucketed joins don't shuffle,
  * partitioned writes prune, salting splits a hot key.
  */
class PlanQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Physical plan with exchanges, unwrapped for tree collection: under
    * AQE the executedPlan root is an AdaptiveSparkPlanExec LEAF node —
    * `collect` over it sees nothing inside (sparkPlan is no alternative:
    * EnsureRequirements hasn't inserted exchanges there yet).
    */
  private def physical(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("filters push down to the parquet scan and projection prunes columns") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$plan")
    // projection pruning: q09 reads only 2 of 6 event columns (ts reads
    // as timestamp_ntz on Spark ≥4.1 — ToolchainSpec pins that; the
    // canonicalizing cast is a projection ABOVE the scan, so pruning holds)
    val spine = SparkEntry.queries("q09_distinct_spine")(spark, dir)
    val spinePlan = planOf(spine)
    assert(spinePlan.contains("ReadSchema: struct<ts:timestamp_ntz,user_id:bigint>") ||
           spinePlan.contains("ReadSchema: struct<user_id:bigint,ts:timestamp_ntz>"),
      s"scan reads more than the projected columns:\n$spinePlan")
  }

  test("small dimension joins broadcast (no shuffle of the fact side)") {
    val df = SparkEntry.queries("q04_annual_metrics")(spark, dir)
    assert(planOf(df).contains("BroadcastHashJoin"))
    // q54's shipped frame is the memoized lineage-cut mart; fctPlan is
    // the very plan that memo cuts, so the dim-join broadcast is
    // asserted on the plan that ships
    val fct = graft.queries.PipelineQueries.fctPlan(spark, dir)
    assert(planOf(fct).contains("BroadcastHashJoin"))
    // q74's star join: all three dims broadcast, and the only exchange of
    // the fact side is the final group-by (no shuffle for any join)
    val star = SparkEntry.queries("q74_part_margin")(spark, dir)
    val bhj = physical(star).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.size == 3, s"expected 3 broadcast joins:\n${planOf(star)}")
    assert(!planOf(star).contains("SortMergeJoin"))
  }

  test("aggregations run partial then final (map-side combine)") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("HashAggregate"))
    // partial + final pairs: at least two HashAggregate levels
    assert(plan.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2)
  }

  test("bucketed join on the bucket key plans without an Exchange") {
    val t = graft.core.Tables(spark, dir)
    Warehouse.writeBucketed(t.orders, "b_orders", "o_custkey", 4)
    Warehouse.writeBucketed(
      t.customer.withColumnRenamed("c_custkey", "o_custkey"), "b_customer", "o_custkey", 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      val joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
        .groupBy("o_custkey").count()
      val plan = planOf(joined)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(!plan.contains("Exchange hashpartitioning(o_custkey"),
        s"bucketed join still shuffles on the join key:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("rebalanced writes plan an AQE rebalance shuffle; catalog stats feed the CBO") {
    val t = graft.core.Tables(spark, dir)
    // REBALANCE in the plan: the write-side small-files guard
    val plan = t.events.hint("rebalance").queryExecution.executedPlan.toString
    assert(plan.contains("REBALANCE"), s"no rebalance exchange in:\n$plan")
    val out = fixtureDir("graft-rebal").toString + "/ev"
    Warehouse.writeRebalanced(t.events, out)
    assert(spark.read.parquet(out).count() == t.events.count())
    // ANALYZE TABLE: row count + column NDV land in the catalog
    Warehouse.writeBucketed(t.nation, "stats_nation", "n_nationkey", 4)
    try {
      Warehouse.analyzeTable(spark, "stats_nation")
      val described = spark.sql("DESCRIBE EXTENDED stats_nation n_nationkey")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(described.get("distinct_count").exists(_.toLong > 0),
        s"no NDV in catalog stats: $described")
      val stats = spark.sql("DESCRIBE EXTENDED stats_nation")
        .filter(col("col_name") === "Statistics").collect()
      assert(stats.nonEmpty && stats.head.getString(1).contains("rows"),
        "no table-level row stats recorded")
    } finally spark.sql("DROP TABLE IF EXISTS stats_nation")
  }

  test("partitioned writes prune partitions under a partition predicate") {
    val out = fixtureDir("graft-part").toString + "/events"
    val t = graft.core.Tables(spark, dir)
    Warehouse.writePartitioned(
      t.events.withColumn("event_date", to_date(col("ts"))), out, Seq("event_date"))
    val pruned = spark.read.parquet(out).filter(col("event_date") === "2024-01-05")
    val plan = planOf(pruned)
    assert(plan.contains("PartitionFilters: [isnotnull(event_date"),
      s"no partition filter:\n$plan")
    assert(pruned.count() > 0)
  }

  test("q62 prefix sum bucket-partitions the data; no full-data single-partition window") {
    // The scale-killer this guards against: Window.orderBy with no
    // partitioning funnels every row through ONE task. The two-pass
    // prefix sum (Sharding.runningTotal) must (a) spread the full data
    // over literal-deterministic id buckets, and (b) confine any
    // SinglePartition exchange to the per-bucket-totals branch, i.e.
    // strictly AFTER an aggregation (one row per bucket, constant-sized).
    val df   = SparkEntry.queries("q62_token_shards")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("hashpartitioning(__pid"),
      s"no parallel bucket partitioning in:\n$plan")
    // Walk the tree: every SinglePartition exchange must have an Aggregate
    // below it (the P-row offsets), never a raw scan/projection of documents.
    val offenders = physical(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 &&
            e.child.collect {
              case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
            }.isEmpty => e
    }
    assert(offenders.isEmpty,
      s"single-partition exchange over non-aggregated data:\n$plan")
    // and the result is identical to the naive global window
    val naive = {
      val d  = graft.core.Tables(spark, dir).documents
      val nt = size(graft.functions.Text.tokens(col("text"))).cast("long")
      val w  = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      d.select(col("doc_id"), nt.as("n_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .withColumn("shard_id",
          floor((col("cum_tokens") - col("n_tokens")) / 5000.0).cast("long"))
    }
    assert(df.exceptAll(naive).isEmpty && naive.exceptAll(df).isEmpty)
  }

  test("q62 executes ONE scan of documents (pass 2 reuses pass 1's exchange)") {
    // The "one data scan" cost story of Sharding.runningTotal depends on
    // ReuseExchange/AQE stage reuse actually deduplicating the identical
    // repartition+sort subtree consumed by both the per-bucket fold and
    // the per-bucket totals. If a plan change breaks canonical equality,
    // this silently becomes two scans — so pin it: after execution, the
    // final adaptive plan must reference the documents scan ONCE, with a
    // reused stage/exchange for the second consumer.
    val df = SparkEntry.queries("q62_token_shards")(spark, dir)
    df.collect() // materialize THIS plan (count() would build a different one)
    val full = df.queryExecution.executedPlan.toString
    // the adaptive plan prints "== Final Plan ==" then "== Initial Plan ==";
    // only the final section reflects what actually ran
    val plan = full.split("== Initial Plan ==")(0)
    val scans = "documents\\.parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected exactly 1 documents scan, saw $scans:\n$plan")
    assert(plan.contains("ReusedExchange"), s"no exchange reuse in:\n$plan")
  }

  test("q162 explodes the corpus once: both growth readouts reuse the (tok, bucket) exchange") {
    // The Heaps'-curve cost story is ONE corpus explode shared by the
    // per-bucket token totals and the first-occurrence vocab counts. The
    // min(when(c >= 1, b)) anchor in TextQueries exists precisely so
    // Catalyst cannot eliminate the shared (tok, bucket) aggregate from
    // the vocab branch and re-explode the corpus — pin the reuse here.
    val df = SparkEntry.queries("q162_heaps_law")(spark, dir)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val plan = full.split("== Initial Plan ==")(0)
    val textScans = "ReadSchema: struct<doc_id:bigint,text:string>".r
      .findAllIn(plan).size
    assert(textScans == 1, s"expected 1 exploded text scan, saw $textScans:\n$plan")
    assert(plan.contains("ReusedExchange"), s"no exchange reuse in:\n$plan")
  }

  test("q68 stratified sample is a two-level top-N: no per-stratum window, partial agg") {
    // The round-2 scale-killer: row_number over Window.partitionBy(lang)
    // pushes each language's ENTIRE corpus through one task to keep 50
    // rows. The TopKPairs rewrite must plan as ObjectHashAggregate with a
    // partial level BEFORE the stratum shuffle (map-side top-50) and no
    // Window/global Sort over the full data.
    val df   = SparkEntry.queries("q68_stratified_sample")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("Window"), s"stratum window still present:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"no object-hash aggregate:\n$plan")
    val aggs = physical(df).collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    assert(aggs.size >= 2, s"no partial+final aggregate pair:\n$plan")
    // no exchange below the partial aggregate (it runs on scan partitions)
    val partial = aggs.last
    assert(partial.collectFirst {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, s"partial top-k runs after a shuffle:\n$plan")
  }

  test("q78 unigram LM broadcasts the vocabulary; the token stream is never shuffled to score") {
    val df   = SparkEntry.queries("q78_unigram_lm")(spark, dir)
    val plan = planOf(df)
    // vocab equi-join broadcasts; the single-row total arrives via a
    // broadcast nested-loop cross — the corpus side of scoring sees no
    // SortMergeJoin (its only shuffles are the two aggregations).
    assert(plan.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"), s"total not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for scoring:\n$plan")
    // same guarantees for the bigram upgrade (q102)
    val bi = planOf(SparkEntry.queries("q102_bigram_lm")(spark, dir))
    assert(bi.contains("BroadcastHashJoin"), s"q102 counts not broadcast:\n$bi")
    assert(!bi.contains("SortMergeJoin"), s"q102 corpus shuffled to score:\n$bi")
  }

  test("funnel/retention/curation plans use partial aggregation, never per-entity windows") {
    // The q68 lesson generalized: every new analytics operator that keeps
    // "first/min per entity" must plan as partial+final aggregation, not
    // row_number over an entity-partitioned window (one task per hot
    // entity at 100 TB).
    for (q <- Seq("q80_funnel", "q81_retention", "q75_segment_dedup",
                  "q82_ngram_novelty", "q91_snapshot_dedup",
                  "q99_cluster_medoids", "q100_dataset_card",
                  "q103_feature_hashing", "q200_boilerplate_scrub")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("Window"), s"$q plans a window:\n$plan")
      // struct-typed min/max (q99's medoid pick) is not hash-aggregable and
      // plans as SortAggregate — still partial+final with map-side combine.
      // The allowance is scoped to q99 so the other queries keep their
      // hash-aggregate regression guard.
      val hashAgg = plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate")
      assert(hashAgg || (q == "q99_cluster_medoids" && plan.contains("SortAggregate")),
        s"$q has no (hash) partial+final aggregate:\n$plan")
    }
    // q76 holds the STRONGER r19 property: per-doc token stats are
    // scan-local (WordGramStats via inline), so the plan has no window,
    // no aggregate and no Exchange at all.
    val p76 = planOf(SparkEntry.queries("q76_repetition_quality")(spark, dir))
    assert(!p76.contains("Window"), s"q76 plans a window:\n$p76")
    assert(!p76.contains("Exchange"), s"q76 shuffles per-doc stats:\n$p76")
  }

  test("q83 bloom probe broadcasts the constant-size filter; q84/q86 stay shuffle-lean") {
    // The whole point of q83 over q77: the benchmark side collapses to a
    // ≤2048-row bit table that BROADCASTS onto the corpus n-gram stream —
    // no shuffle of the corpus against a benchmark-sized set.
    val bloomPlan = planOf(SparkEntry.queries("q83_bloom_decontaminate")(spark, dir))
    assert(bloomPlan.contains("BroadcastHashJoin"), s"bloom not broadcast:\n$bloomPlan")
    assert(!bloomPlan.contains("SortMergeJoin"), s"corpus shuffled against bloom:\n$bloomPlan")
    // q84 chunking is a scan-local flatMap: projection + explode, ZERO
    // exchanges of any kind.
    val chunkPlan = physical(SparkEntry.queries("q84_chunk_windows")(spark, dir))
    val chunkExchanges = chunkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(chunkExchanges.isEmpty, s"chunking shuffles:\n$chunkPlan")
    // q86's only shuffle is the tiny per-source count; both the counts
    // and the single-row target come back by broadcast.
    val mixPlan = planOf(SparkEntry.queries("q86_mixture_rebalance")(spark, dir))
    assert(mixPlan.contains("BroadcastHashJoin"), s"counts not broadcast:\n$mixPlan")
    assert(mixPlan.contains("BroadcastNestedLoopJoin"), s"target not broadcast:\n$mixPlan")
    assert(!mixPlan.contains("SortMergeJoin"), s"corpus shuffled to rebalance:\n$mixPlan")
  }

  test("q85 quantization broadcasts the per-dimension stats onto the scan") {
    val plan = planOf(SparkEntry.queries("q85_embedding_quantize")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"stats not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"vectors shuffled to quantize:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
  }

  test("q88 BM25 is projection-only tf + broadcast stats + TakeOrdered top-k") {
    // The fixed-term design goal: NO explode of the corpus (term counts are
    // scan-local array projections), the single stats row broadcasts back,
    // and the only movement of document rows is the top-25 TakeOrdered.
    val df   = SparkEntry.queries("q88_bm25_topk")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("Generate"), s"corpus exploded for tf:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for stats:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"), s"stats not broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k is a full sort:\n$plan")
  }

  test("q150/q156/q157 stay window-free with partial aggregation") {
    // The new curation readouts must hold the q68 discipline: per-doc /
    // per-stratum state comes from partial+final aggregation (or a
    // bounded TopKPairs heap), never a row_number window over a
    // content-keyed partition.
    for (q <- Seq("q150_lang_mixing", "q157_quota_sample")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("Window"), s"$q plans a window:\n$plan")
      assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"),
        s"$q has no hash partial+final aggregate:\n$plan")
    }
    // q156 holds the STRONGER r19 property: the per-(doc, n) stats are
    // scan-local (WordGramStats), so the plan has no aggregate, no
    // window and — the point — no Exchange at all.
    val p156 = planOf(SparkEntry.queries("q156_gopher_repetition")(spark, dir))
    assert(!p156.contains("Window"), s"q156 plans a window:\n$p156")
    assert(!p156.contains("Exchange"), s"q156 shuffles per-doc stats:\n$p156")
  }

  test("q148 DSIR scoring broadcasts the 64-row model; selection is TakeOrdered") {
    // The importance-resampling contract at 100 TB: the bucket model is
    // bounded (64 rows + one totals row) and BROADCASTS onto the per-doc
    // feature aggregate; nothing corpus-sized is sort-merged, the top-K
    // pick is a TakeOrdered heap (never a global sort exchange), and the
    // only Window-free rank comes from the bounded collect_list collapse.
    val df   = SparkEntry.queries("q148_importance_resample")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), s"model join not broadcast:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"), s"totals not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled to score:\n$plan")
    assert(!plan.contains("Window"), s"q148 plans a window:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-K is a full sort:\n$plan")
  }

  test("q89 CMS collapses map-side and broadcasts onto the probe") {
    // The sketch aggregate must plan partial+final (each scan task reduces
    // to ≤ d·w counters BEFORE the shuffle) and the ≤4096-row sketch joins
    // the probe side by broadcast — the token stream is never sort-merged.
    val df   = SparkEntry.queries("q89_cms_heavy_hitters")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), s"sketch not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"probe sort-merged:\n$plan")
    assert(plan.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2,
      s"no partial+final sketch aggregate:\n$plan")
  }

  test("q90 PageRank iterations are join+partial-agg over the bucketed edge table") {
    // building the query materializes the src-bucketed edge table
    val df   = SparkEntry.queries("q90_pagerank")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("Window"), s"pagerank plans a window:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"edges not read as a bucketed table:\n$plan")
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n$plan")
    // the 100 TB iteration shape: one iteration's edges⋈ranks join must
    // plan with NO Exchange on the edge side — the bucketed layout IS the
    // partitioning, only the node-sized rank frame moves. Broadcast is
    // disabled so the tiny sf0.001 ranks can't hide the shuffle behavior.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val edges  = spark.table(graft.queries.GraphQueries.edgeCache.tableName(spark, dir))
      val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      val ranks  = edges.select(col("src").as("node")).distinct()
        .withColumn("rank", lit(1L))
      val iter = edges.join(outdeg, "src")
        .join(ranks, col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("rank")).as("in_rank"))
      val iterPlan = planOf(iter)
      assert(!iterPlan.contains("Exchange hashpartitioning(src"),
        s"edge side of the iteration join still shuffles:\n$iterPlan")
      assert(iterPlan.contains("SortMergeJoin") || iterPlan.contains("ShuffledHashJoin"),
        s"iteration join not an equi-join:\n$iterPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q92 keyword top-3 is a bounded-heap aggregate, no per-doc window") {
    val df   = SparkEntry.queries("q92_tfidf_keywords")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("Window"), s"per-doc window:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"no TopKPairs aggregate:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"df not broadcast:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"), s"N not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"tf shuffled to score:\n$plan")
  }

  test("q37 brute-force top-k is a bounded-heap aggregate, no per-query window") {
    // The round-7 verdict's last weak item: a row_number window per
    // query_id funnels every scored corpus row of one query through ONE
    // task. The fix keeps the exact cosine (SortableDouble lossless key)
    // but selects via TopKPairs — map-side partial top-k, ≤k survivors
    // per task per query.
    val df   = SparkEntry.queries("q37_cosine_topk")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("Window"), s"per-query window:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"no TopKPairs aggregate:\n$plan")
  }

  test("q127 dHash mining plans as banded equi-join — no cartesian, no window") {
    // The shipped q127 is a memoized checkpoint (q35 discipline); assert
    // the banded shape on the LAZY mining plan instead.
    val plan = planOf(graft.queries.TextQueries.dhashPairsPlan(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"all-pairs crept in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ crept in:\n$plan")
    assert(!plan.contains("Window"), s"window crept in:\n$plan")
  }

  test("q135 audio fingerprint mining plans as banded equi-join — no cartesian, no window") {
    // same contract as q127: the shipped q135 is a memoized checkpoint,
    // so assert the banded shape on the LAZY mining plan
    val plan = planOf(graft.queries.TextQueries.audioPairsPlan(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"all-pairs crept in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ crept in:\n$plan")
    assert(!plan.contains("Window"), s"window crept in:\n$plan")
  }

  test("q136 KMV profile reads the scan once with NO Expand; q114's exact mode keeps its") {
    // the whole point of the approx mode: per-column KMV sketches ride
    // ONE agg over the scan at its natural width — no rows × columns
    // Expand, O(k) state per column at any scale
    val approx = SparkEntry.queries("q136_profile_kmv")(spark, dir)
    val approxPlan = planOf(approx)
    assert(!approxPlan.contains("Expand"), s"KMV profile still expands:\n$approxPlan")
    val aggs = physical(approx).collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    assert(aggs.size >= 2, s"no partial+final sketch aggregate:\n$approxPlan")
    // the exact mode's documented price stays visible (a future Spark
    // that drops the Expand would make the KMV mode's motivation stale)
    val exact = planOf(SparkEntry.queries("q114_table_profile")(spark, dir))
    assert(exact.contains("Expand"), s"exact profile no longer expands:\n$exact")
  }

  test("q138 hard negatives: corpus joins candidates by equi-key, never cross/sort-merge") {
    // the IVF scale contract under the cross-label filter: the corpus
    // side reaches the scorer through the broadcast-hash centroid_id
    // join (one scan, no shuffle); the only cross product is the
    // constant-size query × nlist probe ranking
    val plan = planOf(SparkEntry.queries("q138_hard_negatives")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"corpus cross-joined:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled to score:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"candidates not broadcast-joined:\n$plan")
  }

  test("q145 probes the persisted LSH index bucket-pruned; base self-join shuffle-free") {
    // single-delta-doc probe: 4 bands → at most 4 distinct band hashes →
    // the index scan reads at most 4 of its 16 buckets
    val one  = graft.queries.TextQueries.lshProbe(spark, dir, col("doc_id") === 1)
    val plan = planOf(one)
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning on the LSH index probe:\n$plan")
    assert(m.get.group(2).toInt == 16, s"index not 16-bucketed:\n$plan")
    assert(m.get.group(1).toInt <= 4,
      s"single-doc probe reads ${m.get.group(1)} buckets (> 4 bands):\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"delta bands not broadcast:\n$plan")
    // the base×base candidate leg must ride the bucketed layout: its
    // self-join on (band_idx, band_hash) is satisfied by the band_hash
    // hash-partitioning, so the full q145 plan carries no shuffle of the
    // index (the only Exchanges belong to the distinct/verify stages,
    // which see candidate pairs, never the corpus bands)
    val full = planOf(SparkEntry.queries("q145_lsh_index_incremental")(spark, dir))
    val idxScans = "SelectedBucketsCount".r.findAllIn(full).size
    assert(idxScans >= 1, s"q145 lost the pruned probe:\n$full")
    assert(!full.contains("CartesianProduct") &&
           !full.contains("BroadcastNestedLoopJoin"),
      s"q145 degenerated to a cross product:\n$full")
  }

  test("q139 serves ANN from the bucketed IVF index with bucket-pruned probe reads") {
    // single-query serving: nprobe=4 of nlist=16 → the index scan must
    // read at most 4 of the 16 buckets (source-side pruning — the whole
    // point of persisting the index bucketed by centroid_id)
    val one  = graft.queries.VectorQueries.ivfServe(spark, dir, col("vec_id") === 7, 3)
    val plan = planOf(one)
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning on the index scan:\n$plan")
    assert(m.get.group(2).toInt == 16, s"index not 16-bucketed:\n$plan")
    assert(m.get.group(1).toInt <= 4,
      s"single query reads ${m.get.group(1)} buckets (> nprobe):\n$plan")
    // and the served results equal the in-session operator's, row for row
    val direct = graft.operators.Similarity.annTopKIvf(
      graft.core.Tables(spark, dir).embeddings.filter(col("vec_id") === 7),
      graft.core.Tables(spark, dir).embeddings, "vec_id", "embedding",
      k = 3, nlist = 16, nprobe = 4)
    assert(one.collect().toSet === direct.collect().toSet)
  }

  test("q146 rebuilt index stays bucket-pruned and equals the one-shot build") {
    val one  = graft.queries.VectorQueries.ivfServeRebuilt(spark, dir, col("vec_id") === 7, 3)
    val plan = planOf(one)
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning on the rebuilt index scan:\n$plan")
    assert(m.get.group(1).toInt <= 4 && m.get.group(2).toInt == 16,
      s"pruning degraded after rebuild:\n$plan")
    // rebuild ≡ one-shot: re-picked centroids are the full-corpus seeds
    val direct = graft.operators.Similarity.annTopKIvf(
      graft.core.Tables(spark, dir).embeddings.filter(col("vec_id") === 7),
      graft.core.Tables(spark, dir).embeddings, "vec_id", "embedding",
      k = 3, nlist = 16, nprobe = 4)
    assert(one.collect().toSet === direct.collect().toSet)
  }

  test("q141 incremental index append preserves bucket pruning and one-shot equivalence") {
    // bucket pruning must survive the append (delta rows live in extra
    // per-bucket files of the SAME bucket spec)
    val one  = graft.queries.VectorQueries.ivfServeIncremental(spark, dir, col("vec_id") === 7, 3)
    val plan = planOf(one)
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning on the appended index scan:\n$plan")
    assert(m.get.group(1).toInt <= 4 && m.get.group(2).toInt == 16,
      s"pruning degraded after append:\n$plan")
    // incremental build ≡ one-shot: assignment is a pure per-row
    // function of (vector, frozen centroids)
    val e = graft.core.Tables(spark, dir).embeddings
    val base = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = graft.operators.Similarity.ivfCentroids(base, 16)
    val oneShot = graft.operators.Similarity.annTopKIvfServe(
      e.filter(col("vec_id") === 7),
      graft.operators.Similarity.ivfAssignWith(
        e.select(col("vec_id"), col("embedding").cast("array<double>").as("v")), cents),
      cents, "vec_id", "embedding", 3, nprobe = 4)
    assert(one.collect().toSet === oneShot.collect().toSet)
  }

  test("q142 hybrid RRF: both legs end in TakeOrdered; corpus never sort-merged") {
    // each leg's top-25 is a TakeOrdered (per-partition heap, no global
    // sort); the rank windows and the fusion join see only ≤25-row
    // frames; the single query vector broadcasts onto the embedding scan
    val df   = SparkEntry.queries("q142_hybrid_rrf")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"), s"top-25 is a full sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
    // the fusion join (full outer of two ≤25-row lists) may sort-merge —
    // constant work; what must NOT happen is a sort-merge of CORPUS data:
    // every SMJ input must be bounded by a TakeOrdered/limit below it
    physical(df).collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.foreach { j =>
      Seq(j.left, j.right).foreach { side =>
        val bounded = side.collect {
          case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
          case l: org.apache.spark.sql.execution.GlobalLimitExec => l
        }
        assert(bounded.nonEmpty, s"sort-merge over unbounded corpus data:\n$plan")
      }
    }
    // every window input is bounded by a limit/TakeOrdered below it
    physical(df).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      val bounded = w.child.collect {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
        case l: org.apache.spark.sql.execution.GlobalLimitExec => l
        case l: org.apache.spark.sql.execution.LocalLimitExec => l
      }
      assert(bounded.nonEmpty, s"rank window over unbounded data:\n$plan")
    }
  }

  test("q93 histogram sketch: the only window runs over the aggregated bins") {
    // The data path is projection + partial/final count; a Window is fine
    // ONLY downstream of the ≤1024-row histogram aggregate — never over
    // raw events.
    val df = SparkEntry.queries("q93_histogram_quantiles")(spark, dir)
    val wins = physical(df).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, "expected the CDF window")
    wins.foreach { w =>
      assert(w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty, s"CDF window runs over non-aggregated data:\n${planOf(df)}")
    }
    assert(planOf(df).contains("BroadcastNestedLoopJoin"),
      s"stats not broadcast:\n${planOf(df)}")
  }

  test("q201 KS: every window runs over the aggregated bucket frame, never raw docs") {
    // The corpus pass is ONE partial+final aggregation to ≤21 bucket rows;
    // the CDF / totals / max-gap windows are legal only above that
    // aggregate (q93's discipline).
    val df = SparkEntry.queries("q201_ks_drift")(spark, dir)
    val wins = physical(df).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, "expected the CDF/max-gap windows")
    wins.foreach { w =>
      assert(w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty, s"KS window runs over non-aggregated data:\n${planOf(df)}")
    }
    assert(!planOf(df).contains("CartesianProduct"))
  }

  test("q203 spacing audit keeps the prefix-sum rank shape; gaps ride a per-doc window") {
    // Rank assignment must stay on q62's bucketed prefix sum (no global
    // Window.orderBy over the manifest); the only corpus-keyed window is
    // the per-doc lag whose partitions hold ≤31 rows by the packing
    // contract.
    val df   = SparkEntry.queries("q203_repeat_spacing")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("hashpartitioning(__pid"),
      s"q203 lost the parallel bucket partitioning:\n$plan")
    val offenders = physical(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 &&
            e.child.collect {
              case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
            }.isEmpty => e
    }
    assert(offenders.isEmpty,
      s"q203 funnels non-aggregated data through one partition:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q94 robust stats broadcast back; q95 epoch rank reuses the q62 prefix-sum shape") {
    val madPlan = planOf(SparkEntry.queries("q94_mad_outliers")(spark, dir))
    assert(madPlan.contains("BroadcastHashJoin"), s"medians not broadcast:\n$madPlan")
    assert(!madPlan.contains("SortMergeJoin"), s"events shuffled for scoring:\n$madPlan")
    // q95: same guarantees as q62 — bucket-partitioned prefix sum, and any
    // single-partition exchange sits strictly above an aggregate
    val df   = SparkEntry.queries("q95_epoch_shuffle")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("hashpartitioning(__pid"),
      s"no parallel bucket partitioning in:\n$plan")
    val offenders = physical(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 &&
            e.child.collect {
              case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
            }.isEmpty => e
    }
    assert(offenders.isEmpty,
      s"single-partition exchange over non-aggregated data:\n$plan")
  }

  test("q97 k-means assignment is a shuffle-free projection over the scan") {
    // centroids are literals (driver-sized by construction), so the final
    // assignment plans with ZERO exchanges, joins, or windows — the
    // corpus is scanned once and never moved.
    val df = SparkEntry.queries("q97_kmeans")(spark, dir)
    val p  = physical(df)
    assert(p.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.isEmpty, s"assignment shuffles:\n${planOf(df)}")
    assert(!planOf(df).contains("Join"), s"assignment joins:\n${planOf(df)}")
    assert(!planOf(df).contains("Window"), s"assignment windows:\n${planOf(df)}")
  }

  test("q38 exact near-dup plans as blocked equi-join — no cartesian anywhere") {
    // round-6 verdict #1: the exact-recall baseline must not carry a
    // CartesianProduct/BroadcastNestedLoopJoin scale-killer. The ball-
    // cover form joins on the cluster key; the only broadcast is the
    // ≤ k² probe-pair table.
    val plan = planOf(SparkEntry.queries("q38_embedding_neardup")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"corpus cross-joined:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"corpus nested-loop joined:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"no equi-join on the cluster key:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
  }

  test("q274 capped near-dup: blocked equi-join + bounded heap, no window/cartesian") {
    // the scale-safe companion to q38: same ball-cover candidate plan,
    // but the rank must be the TopKPairs heap (map-side partial
    // collapse), never a per-doc window over the pair stream
    val plan = planOf(SparkEntry.queries("q274_neardup_topk")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"corpus cross-joined:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"corpus nested-loop joined:\n$plan")
    assert(!plan.contains("Window"), s"pair-stream window crept in:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"no TopKPairs heap:\n$plan")
  }

  test("q278 pre-blocked near-dup: in-join scoring, no cartesian/window") {
    // the low-threshold route (round-17 verdict #3): candidates come
    // from the id-only (band, sig) self-equi-join (the guide-§8 proxy —
    // vectors are re-attached by id and each deduped pair scored once) —
    // never a cartesian, never a per-doc window over the pair stream
    val plan = planOf(SparkEntry.queries("q278_neardup_preblocked")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"q278 cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"q278 BNLJ:\n$plan")
    assert(!plan.contains("Window"), s"q278 window:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"q278 has no (band, sig) equi-join:\n$plan")
  }

  test("q279 collapsed near-dup: equi-joins only, no cartesian") {
    // the collapse pre-pass groups byte-identical vectors with one hash
    // window; the rep scoring and both expansions must stay equi-join
    // shaped (a cartesian here would defeat the whole pre-pass)
    val plan = planOf(SparkEntry.queries("q279_neardup_collapsed")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"q279 cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"q279 BNLJ:\n$plan")
  }

  test("q275 URL canonicalization is a scan-local projection — zero exchanges") {
    // the crawl-normalization pass must not shuffle: regexp/split/sort
    // built-ins over the scan, no UDF, no aggregation
    val df = SparkEntry.queries("q275_url_canonicalize")(spark, dir)
    val n = physical(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    assert(n == 0, s"q275 plans $n exchanges (want 0 — pure projection):\n${planOf(df)}")
    assert(!planOf(df).contains("BatchEvalPython"), "UDF crept in")
  }

  test("q276 host dedup+cap: derived-key aggs + bounded heap, window-free") {
    // fetch-dedup and host stats are partial+final aggs on derived keys;
    // the anti-flooding cap rides the TopKPairs heap, never a per-host
    // window over the page stream
    val p = planOf(SparkEntry.queries("q276_host_dedup_cap")(spark, dir))
    assert(!p.contains("Window"), s"q276 windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"q276 cartesian:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"no TopKPairs heap:\n$p")
  }

  test("q277 host policy filter broadcasts the policy seed — the corpus never shuffles for it") {
    val p = planOf(SparkEntry.queries("q277_host_policy_filter")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"policy join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q277 shuffling for the policy join:\n$p")
    assert(!p.contains("Window"), s"q277 windows:\n$p")
  }

  test("q98 semantic dedup compares only within clusters via an equi-join") {
    // the SemDeDup point: the pairwise compare joins on the CLUSTER key
    // (bucketable equi-join, pairs bounded per cluster) — never a full
    // cartesian over the corpus like the q38 exact baseline
    val plan = planOf(SparkEntry.queries("q98_semantic_dedup")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"corpus cross-joined:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"no equi-join on the cluster key:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
  }

  test("q106 salted skew join: exchange partitions on (key, salt), no broadcast") {
    val df   = SparkEntry.queries("q106_salted_skew_join")(spark, dir)
    val plan = planOf(df)
    // the join must be a real shuffle join partitioned on the SALTED key —
    // broadcast would bypass the skew machinery this query gates
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"salted join not a shuffle join:\n$plan")
    assert(plan.contains("__salt"), s"no salted partitioning in:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"dim broadcast defeats salting:\n$plan")
    // and the hot key genuinely occupies >= SaltBuckets/2 distinct buckets
    // (same deterministic construction the query runs)
    val e = graft.core.Tables(spark, dir).events
    val left = e.select(col("event_id"),
      when(col("event_id") % 2 === 0, lit("hot"))
        .otherwise(concat(lit("k"), (col("event_id") % 97).cast("string"))).as("k"),
      col("value"))
    val (sl, _, _) = Warehouse.saltedJoinSides(
      left, left.limit(1), "k", graft.queries.OlapQueries.SaltBuckets)
    val hotBuckets = sl.filter(col("k") === "hot")
      .select("__salt").distinct().count()
    assert(hotBuckets >= graft.queries.OlapQueries.SaltBuckets / 2,
      s"hot key only in $hotBuckets salt buckets")
  }

  test("round-7 curation additions keep scale shapes (q107-q110)") {
    // q107 PII scrub: pure scan-local projection — zero exchanges
    val pii = physical(SparkEntry.queries("q107_pii_redaction")(spark, dir))
    assert(pii.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.isEmpty, s"PII redaction shuffles:\n$pii")
    // q108 containment: equi-join candidates, never a cartesian
    val c = planOf(SparkEntry.queries("q108_containment_pairs")(spark, dir))
    assert(!c.contains("CartesianProduct") && !c.contains("BroadcastNestedLoopJoin"),
      s"containment corpus cross-joined:\n$c")
    // q109 retention: the cumulative window sees only the bucket aggregate
    val r = SparkEntry.queries("q109_quality_retention")(spark, dir)
    physical(r).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      assert(w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty, s"retention window over non-aggregated data:\n${planOf(r)}")
    }
    // q110 corpus build: shard assignment uses the q62 bucketed prefix sum;
    // any single-partition exchange sits strictly above an aggregate
    val b = SparkEntry.queries("q110_corpus_build")(spark, dir)
    val bPlan = planOf(b)
    assert(bPlan.contains("hashpartitioning(__pid"),
      s"corpus build lost the parallel prefix sum:\n$bPlan")
    val offenders = physical(b).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 &&
            e.child.collect {
              case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
            }.isEmpty => e
    }
    assert(offenders.isEmpty,
      s"single-partition exchange over non-aggregated data:\n$bPlan")
  }

  test("round-7 vector additions keep scale shapes (q117-q119)") {
    // q117 JL projection: scan-local sign-matrix dots — ZERO exchanges
    val proj = physical(SparkEntry.queries("q117_random_projection")(spark, dir))
    assert(proj.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.isEmpty, s"random projection shuffles:\n$proj")
    // q118 kNN graph: label-blocked equi-join + bounded-heap top-k —
    // never a cartesian, never a per-vector window over the pair stream
    val knn = planOf(SparkEntry.queries("q118_knn_graph")(spark, dir))
    assert(!knn.contains("CartesianProduct") && !knn.contains("BroadcastNestedLoopJoin"),
      s"kNN corpus cross-joined:\n$knn")
    assert(!knn.contains("Window"), s"per-vector window over pairs:\n$knn")
    assert(knn.contains("ObjectHashAggregate"), s"no TopKPairs aggregate:\n$knn")
    // q119 covariance: the d²-bounded moment aggregate is the only data
    // movement; the d-sized stat frames come back by broadcast
    val cov = planOf(SparkEntry.queries("q119_covariance")(spark, dir))
    assert(cov.contains("BroadcastHashJoin"), s"moment stats not broadcast:\n$cov")
    assert(!cov.contains("SortMergeJoin"), s"moments sort-merged:\n$cov")
    assert(!cov.contains("Window"), s"unexpected window:\n$cov")
    assert(!cov.contains("CartesianProduct"), s"cartesian in covariance:\n$cov")
    // q121 PCA projection: after the driver eigen, the returned frame is
    // a literal-vector dot over the scan — zero exchanges, zero joins
    val pca = SparkEntry.queries("q121_pca_projection")(spark, dir)
    assert(physical(pca).collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.isEmpty, s"PCA projection shuffles:\n${planOf(pca)}")
    assert(!planOf(pca).contains("Join"), s"PCA projection joins:\n${planOf(pca)}")
    // q122 Zipf fit: the rank window must see only the vocab-bounded tf
    // aggregate, never the raw token stream
    val zipf = SparkEntry.queries("q122_zipf_fit")(spark, dir)
    physical(zipf).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      assert(w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty, s"zipf rank window over non-aggregated data:\n${planOf(zipf)}")
    }
  }

  test("q240 cross-source matrix: equi-join pairing, no window, no cartesian") {
    // The pair fan-out must ride the cluster_id equi-join (bounded per
    // cluster by the ≤64-source eligibility filter) — never a cartesian
    // over sources or a window over the flooded cluster key.
    val p = planOf(SparkEntry.queries("q240_cross_source_dup")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q240 pairs via a cross join:\n$p")
    assert(!p.contains("Window"), s"q240 windows over cluster_id:\n$p")
  }

  test("q242 bloom semi-join: probe stream joins only by broadcast, never sort-merge") {
    // The operator's whole point is that the fact stream is NEVER
    // shuffled for the filter: all 4 word probes and the truth join must
    // be broadcast; a SortMergeJoin means the probe paid the exchange
    // the bloom exists to avoid.
    val p = planOf(SparkEntry.queries("q242_bloom_semijoin")(spark, dir))
    assert(!p.contains("SortMergeJoin"), s"q242 shuffled the probe stream:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q242 lost its broadcast probes:\n$p")
  }

  test("q243 DoReMi weights: window-free, normalizer broadcast") {
    // Both LM scorers are the gated vocab-broadcast per-doc folds (never
    // a rank window); the domain rollup must stay partial+final and the
    // softmax normalizer Z must reach the ≤|sources| frame as a 1-row
    // broadcast.
    val p = planOf(SparkEntry.queries("q243_doremi_weights")(spark, dir))
    assert(!p.contains("Window"), s"q243 windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"q243 cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"q243 lost its broadcast normalizer:\n$p")
  }

  test("q244 LSH band tuner: banded equi-joins only, no cartesian, no window") {
    // Each config's candidates must ride the (band_idx, band_hash)
    // equi-join — candidate volume ∝ bucket collisions, never all-pairs —
    // and the 4-row readout needs no window.
    val p = planOf(SparkEntry.queries("q244_lsh_band_tuning")(spark, dir))
    assert(!p.contains("CartesianProduct"), s"q244 cartesian:\n$p")
    assert(!p.contains("Window"), s"q244 windows:\n$p")
  }

  test("q245 learnability filter: thresholds broadcast back, never a per-source rank window") {
    // The q176 discipline: per-source selection must be an exact-
    // percentile THRESHOLD agg (≤|sources| rows) broadcast onto a
    // scan-local label — a per-source rank window would funnel each
    // source through one task.
    val p = planOf(SparkEntry.queries("q245_learnability_filter")(spark, dir))
    assert(!p.contains("Window"), s"q245 rank-windows a source partition:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q245 lost its threshold broadcast:\n$p")
  }

  test("q246 Davies-Bouldin: one agg over the assignment, pair frame broadcast, no window") {
    // The corpus contributes ONE partial+final agg (member distances to
    // <=k rows); the k*(k-1) centroid-separation frame is a driver-side
    // literal that must reach it broadcast — never a corpus-side join
    // fan-out or a window.
    val p = planOf(SparkEntry.queries("q246_davies_bouldin")(spark, dir))
    assert(!p.contains("Window"), s"q246 windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"q246 cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q246 lost its broadcast pair frame:\n$p")
  }

  test("q247 threshold sweep: endpoint-seeded CC, cluster stats without a cluster window") {
    // Every leg filters the ONE memoized pair frame; CC iterates over
    // edge endpoints only (the corpus never enters the loop); per-cluster
    // stats must be partial+final aggs — the flooded-cluster-key window
    // ban applies to every leg.
    val p = planOf(SparkEntry.queries("q247_threshold_sweep")(spark, dir))
    assert(!p.contains("Window"), s"q247 windows over a cluster key:\n$p")
    assert(!p.contains("CartesianProduct"), s"q247 cartesian:\n$p")
  }

  test("q248 ANN nDCG: bounded-heap rankers, no corpus-side rank window, discounts broadcast") {
    // Both rankers must stay on the TopKPairs heap (the q37 discipline —
    // a per-query row_number over CANDIDATES is the banned shape). The
    // only window allowed is q64's query-side probe ranking (bounded at
    // |queries|×nlist rows, ordered by centroid_id — the accepted IVF
    // shape), and the ≤k-row discount frame must arrive broadcast.
    val p = planOf(SparkEntry.queries("q248_ann_ndcg")(spark, dir))
    val wins = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(wins.forall(_.contains("centroid_id")),
      s"q248 windows outside the bounded probe:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q248 lost its broadcast discounts:\n$p")
  }

  test("q249 l-diversity sweep: one lattice pass, no window, no cartesian over the corpus") {
    // The q228 shape: a constant 4x explode over ONE corpus scan,
    // partial+final cell aggs, 4-row summary — never a per-cell window.
    val p = planOf(SparkEntry.queries("q249_l_diversity_sweep")(spark, dir))
    assert(!p.contains("Window"), s"q249 windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"q249 cartesian:\n$p")
  }

  test("q250 RBO: rides q142's gated legs plus one broadcast lookup, no cartesian fan-out") {
    // The suffix-weight lookup is a ≤K-row broadcast; the only windows
    // allowed are the ones q142's own gate already admits (none — its
    // legs rank via the collect_list/posexplode collapse); no corpus
    // cartesian may appear beyond q142's single-query-vector broadcast.
    val p = planOf(SparkEntry.queries("q250_rank_biased_overlap")(spark, dir))
    assert(!p.contains("Window"), s"q250 windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"q250 cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q250 lost its broadcast lookup:\n$p")
  }

  test("q251 packing sweep: per-stream folds only, shared token cut, no global window") {
    // Every capacity leg must keep q140's shape — the per-stream sorted
    // fold (SortAggregate/flatMapSortedGroups over stream_id), never a
    // corpus-wide ordering window; leg stats are partial+final aggs.
    val p = planOf(SparkEntry.queries("q251_packing_capacity_sweep")(spark, dir))
    assert(!p.contains("Window"), s"q251 global window:\n$p")
    assert(!p.contains("CartesianProduct"), s"q251 cartesian:\n$p")
  }

  test("q252 embedding drift: shuffle-free assignment, cluster-frame-only arithmetic") {
    // Occupancy must ride the literal-centroid assignment (no corpus
    // shuffle for clustering) and the PSI chain must stay on the ≤k-row
    // cluster frame with broadcast totals — no window anywhere.
    val p = planOf(SparkEntry.queries("q252_embedding_drift")(spark, dir))
    assert(!p.contains("Window"), s"q252 windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"q252 cartesian:\n$p")
  }

  test("q253 pivot: explicit value list keeps it one aggregation, no distinct-values job") {
    // The implicit pivot's hidden corpus pass shows up as a second
    // aggregate over source; with the explicit list the plan must be a
    // single partial+final HashAggregate chain — no window, no join.
    val p = planOf(SparkEntry.queries("q253_pivot_matrix")(spark, dir))
    assert(!p.contains("Window"), s"q253 windows:\n$p")
    assert(!p.contains("Join"), s"q253 grew a join:\n$p")
  }

  test("q254 unpivot: scan-local stack, one grouped agg") {
    val p = planOf(SparkEntry.queries("q254_unpivot_measures")(spark, dir))
    assert(!p.contains("Window") && !p.contains("Join"),
      s"q254 more than a melt+agg:\n$p")
  }

  test("q255 staleness audit: only the bounded probe windows, no corpus cartesian") {
    // Three gated reads composed by pair equi-joins; the only windows
    // allowed are the IVF probe rankings (query x centroid, bounded),
    // same as the q248 contract.
    val p = planOf(SparkEntry.queries("q255_index_staleness")(spark, dir))
    val wins = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(wins.forall(_.contains("centroid_id")),
      s"q255 windows outside the bounded probe:\n$p")
    assert(!p.contains("CartesianProduct"), s"q255 cartesian:\n$p")
  }

  test("q256 waterfall by source: the q182 flag frame, no text-hash window, one rollup") {
    // Same memoized flags as q182 — the dedup canonical must stay on the
    // groupBy+join-back discipline, never a text_hash window; the
    // attribution is a single partial+final agg.
    val p = planOf(SparkEntry.queries("q256_waterfall_by_source")(spark, dir))
    assert(!p.contains("Window"), s"q256 windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"q256 cartesian:\n$p")
  }

  test("q257 Poisson bootstrap: one scan through a constant lattice, no window, no join") {
    // The whole point is resampling WITHOUT copying: a constant B=20
    // explode over one scan, partial+final replicate aggs, a 1-row
    // readout — any join or window means it stopped being single-pass.
    val p = planOf(SparkEntry.queries("q257_poisson_bootstrap")(spark, dir))
    assert(!p.contains("Window") && !p.contains("Join"),
      s"q257 more than a lattice+agg:\n$p")
  }

  test("q258 weighted sample: bounded heap, no global sort or rank window") {
    // A-ES top-k must ride TopKPairs (map-side <= k+1 per task); a global
    // row_number/Sort over the corpus is the banned shape (the oracle
    // may sort — the plan may not).
    val p = planOf(SparkEntry.queries("q258_weighted_sample")(spark, dir))
    assert(!p.contains("Window"), s"q258 rank-windows the corpus:\n$p")
    assert(p.contains("TopKPairs") || p.contains("topkpairs"),
      s"q258 lost its bounded heap:\n$p")
  }

  test("q259 t-closeness sweep: lattice pass + broadcast lang completion, no window") {
    // The cell x lang completion must arrive as a <=|langs|-row
    // broadcast; cell stats stay partial+final — never a per-cell
    // window or a corpus cartesian.
    val p = planOf(SparkEntry.queries("q259_t_closeness_sweep")(spark, dir))
    assert(!p.contains("Window"), s"q259 windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"q259 cartesian:\n$p")
  }

  test("q260 consistent hashing: pure-projection ring assignment, no join, no window") {
    // The ring is a driver literal — assignment must never become a
    // theta/nested-loop join against a ring table; the whole plan is a
    // projection + 1-row agg + 2-leg union.
    val p = planOf(SparkEntry.queries("q260_consistent_hashing")(spark, dir))
    assert(!p.contains("Join") && !p.contains("Window"),
      s"q260 more than a projection+agg:\n$p")
  }

  test("q262 MMR: equi-join greedy steps over query-bounded frames, no rank window") {
    // The corpus appears only in the one ranker pass; the 5 greedy
    // steps must be equi-joins/aggs over |queries|*k frames — no window
    // (argmax is the struct-max), no cartesian.
    val p = planOf(SparkEntry.queries("q262_mmr_rerank")(spark, dir))
    assert(!p.contains("Window"), s"q262 rank-windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"q262 cartesian:\n$p")
  }

  test("q263 method agreement: pair-key equi-joins over pair-sized frames, no window") {
    // Every input is an already-gated pair set; the matrix must be a
    // pair-key self-join + a literal lattice completion — no window, no
    // corpus-scale cartesian (the 4x4 method lattice is the only cross).
    val p = planOf(SparkEntry.queries("q263_method_agreement")(spark, dir))
    assert(!p.contains("Window"), s"q263 windows:\n$p")
  }

  test("q123 triangle counting is equi-join only, over the bucketed edge table") {
    // Degree orientation bounds the per-edge adjacency intersection; the
    // scale contract is that NO stage is a cartesian pair stream and no
    // per-node window walks the wedge set — everything is node-key
    // equi-joins (bucket-friendly) plus partial+final aggregation.
    val tri = planOf(SparkEntry.queries("q123_triangle_count")(spark, dir))
    assert(!tri.contains("CartesianProduct") && !tri.contains("BroadcastNestedLoopJoin"),
      s"triangle counting cross-joined:\n$tri")
    assert(!tri.contains("Window"), s"per-node window over wedges:\n$tri")
    // Past the broadcast threshold the joins must plan as SHUFFLED HASH,
    // never sort-merge: SMJ's sort of the adjacency-carrying probe rows
    // is the operator's measured scale cliff (sf1: 16.9 s warm unhinted
    // vs 9.7 s hinted — the sorter churns the full wedge volume, see
    // PERF.md's q123 scaling model). At this test SF the joins broadcast,
    // so the gate pins the SHUFFLE_HASH hints surviving to the initial
    // plan instead.
    val initial = SparkEntry.queries("q123_triangle_count")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(!initial.contains("SortMergeJoin"),
      s"q123 lost its shuffle-hash hints (SMJ would sort the wedge stream):\n$initial")
  }

  test("shuffle budget: headline queries stay within their pinned exchange counts") {
    // Regression guard on the scale property the bench can't see at test
    // SF: the NUMBER of shuffle exchanges in the plan. A future edit that
    // silently adds a corpus shuffle (a lost broadcast, a divergent
    // subtree that stops reusing an exchange, a window where an
    // aggregate was) fails here, not at 100 TB. Counts are ceilings
    // measured on the shipped plans (sf0.001, AQE initial plan); tiny
    // constant-size exchanges (stat rows, bucket aggregates) are counted
    // too — the pin is about UNEXPECTED growth, not minimization.
    // q35/q36/q38-style miners checkpoint at construction, so their
    // returned frames legitimately read as 0.
    val budget = Map(
      "q01_pricing_summary"    -> 1, // partial→final agg
      "q04_annual_metrics"     -> 2,
      "q09_distinct_spine"     -> 1,
      "q34_dedup_exact"        -> 1, // one text-hash shuffle
      "q37_cosine_topk"        -> 1, // one TopKPairs agg after broadcast score
      "q62_token_shards"       -> 4, // bucket repartition + offsets (reused exchange)
      "q68_stratified_sample"  -> 1, // single stratum shuffle AFTER partial top-k
      "q74_part_margin"        -> 2, // star joins broadcast; agg only
      "q84_chunk_windows"      -> 0, // zero-exchange projection+explode
      "q88_bm25_topk"          -> 1, // stats row; top-k is TakeOrdered
      "q89_cms_heavy_hitters"  -> 3,
      "q93_histogram_quantiles"-> 6, // all constant-size after the bin agg
      "q97_kmeans"             -> 0, // literal-centroid projection
      "q98_semantic_dedup"     -> 2, // cluster-key equi-join
      "q104_media_features"    -> 0, // scan-local decode
      "q106_salted_skew_join"  -> 3, // salted join (by design) + agg
      "q107_pii_redaction"     -> 0,
      // re-pinned 4 → 5 in the round-7 review pass: totals moved from a
      // second corpus-scanning aggregate (crossJoin broadcast) to an
      // unbounded window over the ≤21-row bucket frame — one more
      // constant-size exchange, one fewer full corpus scan+tokenize
      "q109_quality_retention" -> 5,
      "q110_corpus_build"      -> 7, // filter+dedup+prefix-sum+card composition
      "q117_random_projection" -> 0, // scan-local sign-matrix projection
      "q118_knn_graph"         -> 1, // one TopKPairs agg after the label join
      "q119_covariance"        -> 0, // moment frame checkpointed at construction
      "q121_pca_projection"    -> 0, // literal-eigenvector projection
      "q122_zipf_fit"          -> 3, // vocab agg + rank window + 1-row OLS, all post-agg
      // re-pinned 1 → 8 in round 15: the SHUFFLE_HASH hints (the sf1
      // wedge-sort fix) surface the deg/adj attach exchanges in the
      // INITIAL plan where size-based broadcast used to hide them; at
      // runtime AQE still broadcasts the tiny sides at this SF (sf0.1
      // warm unchanged, 2.6 s), and past the threshold SHJ is exactly
      // the shape we want — the pin is about unexpected growth, and
      // these eight are the documented orientation/adjacency shuffles
      "q123_triangle_count"    -> 8,
      "q127_image_neardup"     -> 0, // memoized miner checkpoints at construction (q35 pattern)
      "q128_exact_substr"      -> 6, // gram agg + match join + per-doc islands + zero-fill
                                     // (initial plan; 4 at runtime after exchange reuse)
      "q129_quality_classifier"-> 0, // memoized scorer checkpoints at construction (q35 pattern)
      "q130_bpe_tokenize"      -> 1, // spread only; tokenize is scan-local
      "q131_classifier_eval"   -> 3, // all post-checkpoint ≤4-cell frames
      // re-pinned 4 → 8 in round 13: cluster_size moved from a
      // per-cluster window (one-task funnel on a mega-dup cluster) to
      // groupBy + join-back, whose INITIAL plan references the assign
      // subtree twice; ReuseExchange collapses the duplicates at runtime
      // (the q128 precedent — runtime count is unchanged)
      "q132_image_dup_clusters"-> 8, // quotient-graph rep joins + size join-back;
                                     // CC runs on ~distinct-hash-sized rep edges
      "q133_incremental_substr"-> 6, // base gram distinct + probe join + islands
      "q134_bpe_fit_apply"     -> 1, // spread only; fit collapses driver-side, apply scan-local
      "q135_audio_neardup"     -> 0, // memoized miner checkpoints at construction (q127 pattern)
      "q136_profile_kmv"       -> 1, // single partial+final sketch aggregate, no Expand
      "q137_audio_dup_clusters"-> 8, // quotient-graph rep joins + size join-back (q132 shape)
      "q140_sequence_packing"  -> 1) // one stream-id shuffle; the fold is a sorted group iterator
    for ((q, max) <- budget) {
      val n = physical(SparkEntry.queries(q)(spark, dir)).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
      assert(n <= max, s"$q plans $n shuffle exchanges, budget $max — " +
        "a new shuffle crept in; justify and re-pin, or fix the plan")
    }
  }

  test("q167/q169/q170 dedup additions: no cross products, eval bands broadcast") {
    // q167's remediation is q128's gram-join shape plus per-doc windows
    val p167 = planOf(SparkEntry.queries("q167_substr_remediate")(spark, dir))
    assert(!p167.contains("CartesianProduct") &&
           !p167.contains("BroadcastNestedLoopJoin"),
      s"q167 degenerated to a cross product:\n$p167")
    // q169: one chunk-key window + per-doc aggregate, no joins at all
    val p169 = planOf(SparkEntry.queries("q169_chunk_dedup")(spark, dir))
    assert(!p169.contains("CartesianProduct") &&
           !p169.contains("BroadcastNestedLoopJoin") &&
           !p169.contains("SortMergeJoin"),
      s"q169 grew an unexpected join:\n$p169")
    // q170: the tiny TEST-split band table must broadcast — the corpus
    // side never self-joins or cross-joins
    val p170 = planOf(SparkEntry.queries("q170_neardup_decontam")(spark, dir))
    assert(p170.contains("BroadcastHashJoin"),
      s"q170 eval bands not broadcast:\n$p170")
    assert(!p170.contains("CartesianProduct") &&
           !p170.contains("BroadcastNestedLoopJoin"),
      s"q170 degenerated to a cross product:\n$p170")
  }

  test("q172 probes the bucketed chunk index without shuffling it") {
    val p = planOf(SparkEntry.queries("q172_chunk_dedup_incremental")(spark, dir))
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"q172 degenerated to a cross product:\n$p")
    // the persisted index is 16-bucketed on chunk_hash (the probe key).
    // The DELTA side legitimately shuffles once on chunk_hash (its
    // first-occurrence window, reused by the join); the INDEX side must
    // ride its bucketed layout — so at most ONE chunk_hash hash-exchange
    // may appear in the whole plan (a second would mean the index got
    // re-shuffled on its own bucket key).
    val hashEx = "Exchange hashpartitioning\\(chunk_hash".r.findAllIn(p).size
    assert(hashEx <= 1,
      s"q172 plans $hashEx chunk_hash exchanges — the bucketed index side got re-shuffled:\n$p")
  }

  test("q204 merges deltas against the bucketed boilerplate index without shuffling it") {
    val p = planOf(SparkEntry.queries("q204_boilerplate_incremental")(spark, dir))
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"q204 degenerated to a cross product:\n$p")
    // q172's rule at segment-DF granularity: the index is 16-bucketed on
    // seg_hash; only the DELTA side may exchange on the merge key.
    val hashEx = "Exchange hashpartitioning\\(seg_hash".r.findAllIn(p).size
    assert(hashEx <= 1,
      s"q204 plans $hashEx seg_hash exchanges — the bucketed index side got re-shuffled:\n$p")
  }

  test("q190/q191 manifest ranks ride the bucketed prefix sum (q62's discipline)") {
    for (q <- Seq("q190_training_order", "q191_token_budget_shards")) {
      val df   = SparkEntry.queries(q)(spark, dir)
      val plan = planOf(df)
      assert(plan.contains("hashpartitioning(__pid"),
        s"$q lost the parallel bucket partitioning:\n$plan")
      // any SinglePartition exchange must sit above an aggregate (the
      // P-row offsets), never above raw copy rows — q62's exact guard
      val offenders = physical(df).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.numPartitions == 1 &&
              e.child.collect {
                case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
              }.isEmpty => e
      }
      assert(offenders.isEmpty,
        s"$q funnels non-aggregated data through one partition:\n$plan")
      // (a BroadcastNestedLoopJoin IS expected here: q168's totals ride a
      // 1-row broadcast cross join — the scalar-join pattern, not a
      // corpus cross product; CartesianProduct stays banned)
      assert(!plan.contains("CartesianProduct"),
        s"$q degenerated to a cartesian product:\n$plan")
    }
  }

  test("BPE fitDelta never plans a 1-partition exchange — state is (a,b)-bucketed") {
    // Round 11's last corpus-through-one-task shape: the fit's pair-count
    // state rode coalesce(1). Now the state is hash-bucketed by (a,b)
    // across `stateBuckets` partitions. This gate runs a REAL fit under a
    // QueryExecutionListener on an isolated session (listenerManager is
    // session-scoped, so parallel suites can't pollute the capture) and
    // asserts every executed plan of every round — argmax collects, delta
    // merges, state checkpoints — plans zero single-partition exchanges
    // and zero coalesce(1), and that the state shuffles land on exactly
    // the requested bucket count.
    val s = spark.newSession()
    import s.implicits._
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.execution.SparkPlan]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      val docs = (Seq.fill(6)("a b c a b d e a b") ++ Seq.fill(4)("c d e c d"))
        .toDF("text")
      val merges = graft.operators.Bpe.fitDelta(docs, "text", numMerges = 4,
        stateBuckets = 4)
      assert(merges.length == 4)
      // drain the async listener bus: poll until the capture stops growing
      val deadline = System.nanoTime() + 15e9.toLong
      var last = -1
      while (System.nanoTime() < deadline && plans.size != last) {
        last = plans.size; Thread.sleep(250)
      }
      assert(!plans.isEmpty, "listener captured no plans from the fit")
      import scala.jdk.CollectionConverters._
      val exchanges = plans.asScala.toSeq.flatMap(_.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      })
      assert(exchanges.nonEmpty, "fit planned no shuffles at all — state merge missing?")
      exchanges.foreach { e =>
        assert(e.outputPartitioning.numPartitions == 4,
          s"fit stage shuffled to ${e.outputPartitioning.numPartitions} partitions (want 4 buckets):\n$e")
      }
      val coalesced = plans.asScala.toSeq.flatMap(_.collect {
        case c: org.apache.spark.sql.execution.CoalesceExec if c.numPartitions == 1 => c
      })
      assert(coalesced.isEmpty, "fit still funnels state through coalesce(1)")
    } finally s.listenerManager.unregister(listener)
  }

  test("q195 source cap is a two-level top-N — the flooded source never funnels one task") {
    // The cap exists to defend against a skewed source; a per-source
    // window sort would push the flooded host's documents through ONE
    // task — the exact failure. Must plan as the q68 shape: bounded-heap
    // ObjectHashAggregate with a partial level before the source shuffle.
    val df   = SparkEntry.queries("q195_source_cap")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("Window"), s"per-source window still present:\n$plan")
    val aggs = physical(df).collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    assert(aggs.size >= 2, s"no partial+final bounded-heap pair:\n$plan")
    assert(aggs.last.collectFirst {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, s"partial top-k runs after a shuffle:\n$plan")
    // the pre-cap counts join back by broadcast (a per-source count is
    // ≤|sources| rows — shuffling the survivors against it would be silly)
    assert(plan.contains("BroadcastHashJoin"), s"counts join not broadcast:\n$plan")
  }

  test("q197 drift readout aggregates on the index's bucketed layout without an exchange") {
    // The monitor is one pass over the centroid_id-bucketed q141 table:
    // the groupBy(centroid_id) must be satisfied by the bucketed scan's
    // hash partitioning — an Exchange between the index scan and the
    // per-centroid aggregate means the monitor shuffles the corpus to
    // produce ≤ nlist rows.
    val df   = graft.queries.VectorQueries.ivfDriftPlan(spark, dir)
    val plan = planOf(df)
    val aggPairs = physical(df).collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.groupingExpressions.exists(_.toString.contains("centroid_id")) => a
    }
    assert(aggPairs.nonEmpty, s"no per-centroid aggregate in:\n$plan")
    // the FINAL per-centroid aggregate must see no shuffle below it on
    // the index side (the seed join is broadcast; corpus_n is a 1-row
    // broadcast cross join)
    aggPairs.foreach { a =>
      val ex = a.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(ex.isEmpty,
        s"per-centroid aggregate shuffles the index (bucketed layout lost):\n$plan")
    }
    assert(!plan.contains("CartesianProduct"), s"cartesian in monitor:\n$plan")
  }

  test("exact-dup family: no WindowExec partitioned by a content hash") {
    // A window over a content hash funnels each duplicate group through
    // ONE task with no map-side combine — at web scale the hot group
    // (empty docs, error boilerplate, mirrored spam) is 10⁶–10⁸ rows.
    // The canonical-id attach must be groupBy(hash) + join-back
    // (partial+final agg bounds the hot key map-side); this gate pins
    // the whole family to that shape.
    val hashNames = Set("text_hash", "content_hash", "chunk_hash",
                        "chunk_text", "fingerprint", "seg_hash")
    val family = Seq("q31_fingerprint", "q34_dedup_exact", "q63_multimodal",
                     "q110_corpus_build", "q169_chunk_dedup",
                     "q172_chunk_dedup_incremental", "q182_curation_waterfall",
                     "q186_waterfall_by_source", "q225_cdc_chunk_dedup",
                     "q226_cdc_realign_audit")
    family.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      physical(df).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.foreach { w =>
        val partNames = w.partitionSpec.flatMap(_.collect {
          case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
        })
        assert(!partNames.exists(hashNames.contains),
          s"$name windows over a content hash (${partNames.mkString(",")}):\n${planOf(df)}")
      }
    }
    // and the q34 canonical attach IS the partial+final agg shape:
    // at least one aggregate pair over text_hash below the join-back
    val q34 = SparkEntry.queries("q34_dedup_exact")(spark, dir)
    val aggs = physical(q34).collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.groupingExpressions.exists(_.collect {
          case at: org.apache.spark.sql.catalyst.expressions.Attribute => at.name
        }.contains("text_hash")) => a
    }
    assert(aggs.size >= 2,
      s"q34 lacks the partial+final text_hash aggregate pair:\n${planOf(q34)}")
  }

  test("cluster family: no WindowExec partitioned by cluster_id") {
    // The round-13 extension of the content-hash gate: a mega-duplicate
    // CLUSTER is exactly as flooded a key as the content hash — its
    // size/argmax attach must be groupBy + join-back (partial+final agg
    // bounds the hot cluster map-side), never a window over cluster_id.
    val family = Seq("q67_dedup_clusters", "q149_cc_star_contraction",
                     "q154_incremental_components", "q143_best_copy_dedup",
                     "q132_image_dup_clusters", "q137_audio_dup_clusters",
                     "q224_leakage_safe_split", "q231_chao1_unseen",
                     "q236_source_novelty", "q237_dedup_roi")
    family.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      physical(df).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.foreach { w =>
        val partNames = w.partitionSpec.flatMap(_.collect {
          case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
        })
        assert(!partNames.contains("cluster_id"),
          s"$name windows over cluster_id (${partNames.mkString(",")}):\n${planOf(df)}")
      }
    }
  }

  test("q225 CDC dedup: window-free, chunk-granular Generate, partial+final chunk_hash aggs") {
    // the chunker must stay one native pass per doc + one explode per
    // CHUNK — never a per-character sequence() explode (the q211
    // lesson) — and first-occurrence must be the groupBy + join-back
    // shape, so the whole plan is window-free
    val df = SparkEntry.queries("q225_cdc_chunk_dedup")(spark, dir)
    val p  = physical(df)
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"q225 grew a window:\n${planOf(df)}")
    p.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
      .foreach { g =>
        assert(!g.boundGenerator.toString.contains("sequence("),
          s"q225 explodes a per-character sequence:\n${planOf(df)}")
      }
    val aggs = p.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.groupingExpressions.exists(_.collect {
          case at: org.apache.spark.sql.catalyst.expressions.Attribute => at.name
        }.contains("chunk_hash")) => a
    }
    assert(aggs.size >= 2,
      s"q225 lacks the partial+final chunk_hash aggregate pair:\n${planOf(df)}")
  }

  test("q216 multi-probe LSH is an exploded-probe equi-join + bounded heap") {
    // the probe widening must NOT become a hamming theta-join over the
    // corpus, and ranking must stay the TopKPairs heap (q37's gate)
    val df   = SparkEntry.queries("q216_multiprobe_lsh")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), s"all-pairs crept in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ crept in:\n$plan")
    assert(!plan.contains("Window"), s"per-query window crept in:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"no TopKPairs aggregate:\n$plan")
  }

  test("q220 merges delta z-order stats against the persisted table — no base rescan") {
    // the delta pass reads the ≤64-row stats table + ONLY the delta rows;
    // the base half of orders must never be rescanned (stats are
    // associative — that's the whole point of incremental maintenance)
    val df   = SparkEntry.queries("q220_zorder_incremental")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("graft_q220_zstats"),
      s"q220 does not read the persisted stats table:\n$plan")
    val ordersScans = "orders\\.parquet".r.findAllIn(plan).length
    assert(ordersScans == 1,
      s"q220 scans orders $ordersScans times (want 1 — the delta only):\n$plan")
  }

  test("q218 z-order layout is projection + constant-size aggregation") {
    // grid/interleave/file assignment must stay a pure integer projection
    // (no shuffle of the fact rows beyond the ≤64-file-id stats agg)
    val df = SparkEntry.queries("q218_zorder_layout")(spark, dir)
    val n = physical(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    assert(n <= 3, s"q218 plans $n exchanges (bounds agg + file agg expected):\n${planOf(df)}")
    assert(!planOf(df).contains("Window"), s"window crept in:\n${planOf(df)}")
  }

  test("q211 entropy is projection-only: no Generate, no per-char rows") {
    // The round-12 shape exploded one row per CHARACTER (10 KB doc →
    // 10⁴ rows) before the partial agg; the CharHistogram expression +
    // functions.aggregate fold computes the same counts scan-locally.
    val df = SparkEntry.queries("q211_char_entropy")(spark, dir)
    val gens = physical(df).collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.isEmpty, s"q211 still explodes rows:\n${planOf(df)}")
    val exchanges = physical(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, s"q211 shuffles a projection-only op:\n${planOf(df)}")
  }

  test("q239 reshard audit: both packed manifests ride the bucketed prefix sum") {
    // the audit builds the q62 packing TWICE (base and full) — each must
    // keep the parallel bucket partitioning, and any single-partition
    // exchange must sit above an aggregate (q190/q191's exact guard)
    val df   = SparkEntry.queries("q239_reshard_churn")(spark, dir)
    val plan = planOf(df)
    assert("hashpartitioning\\(__pid".r.findAllIn(plan).size >= 2,
      s"q239 lost a packed manifest's bucket partitioning:\n$plan")
    val offenders = physical(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 &&
            e.child.collect {
              case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
            }.isEmpty => e
    }
    assert(offenders.isEmpty,
      s"q239 funnels non-aggregated data through one partition:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q239 cartesian:\n$plan")
  }

  test("q233 entropy rate is projection-only: no Generate, no per-bigram rows") {
    // the q211 discipline at k = 2 — CharGramHistogram computes the
    // per-doc bigram counts in one native pass; the composable form
    // would explode one row per BIGRAM before the partial agg
    val df = SparkEntry.queries("q233_entropy_rate")(spark, dir)
    val gens = physical(df).collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.isEmpty, s"q233 still explodes rows:\n${planOf(df)}")
    val exchanges = physical(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, s"q233 shuffles a projection-only op:\n${planOf(df)}")
  }

  test("q235 skew audit: window-free, constant lattice, partial+final bucket aggs") {
    // the audit must never itself hit the failure it measures: per-P
    // bucket counts are partial+final aggs (hot bucket bounded
    // map-side), the lattice explode is the constant 3-way Generate,
    // and no window touches any frame
    val df = SparkEntry.queries("q235_shuffle_skew_plan")(spark, dir)
    val p  = physical(df)
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"q235 grew a window:\n${planOf(df)}")
    val gens = p.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.size == 1, s"q235 expects exactly the 3-way lattice explode:\n${planOf(df)}")
    val n = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    assert(n <= 2, s"q235 plans $n exchanges (bucket agg + per-P rollup expected):\n${planOf(df)}")
  }

  test("q232 BH step-up rides the bounded panel only (no corpus-level window)") {
    // rank/step-up windows must sit ABOVE q208's per-source aggregation
    // — their input is the ≤|sources|-row panel, so every WindowExec in
    // the plan must be downstream of an aggregate (no window whose
    // partition key is a document-level column)
    val df = SparkEntry.queries("q232_drift_fdr")(spark, dir)
    physical(df).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      val partNames = w.partitionSpec.flatMap(_.collect {
        case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
      })
      assert(!partNames.exists(Set("doc_id", "text", "text_hash").contains),
        s"q232 windows over a document-level key (${partNames.mkString(",")}):\n${planOf(df)}")
    }
  }

  test("q213 SNM: every window is partitioned (no global sort through one task)") {
    // The sorted-neighborhood screen's whole point at scale is that the
    // global sliding window is realized as range-bucketed per-bucket
    // windows + a constant-sized boundary frame — a WindowExec with an
    // empty partitionSpec would be the single-task global sort the
    // design exists to avoid. Inspected on the RAW (materialize=false)
    // plan: the serving form eagerly cuts the rank frame, which
    // collapses the windows out of the executed plan.
    val df = graft.operators.Dedup.snmPairsFromVals(
      graft.operators.Dedup.simhashVals(
        graft.core.Tables(spark, dir).documents, "doc_id", "text"),
      windowW = 2, rotations = 4, maxHamming = 8, materialize = false)
    val wins = physical(df).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, "expected the per-bucket rank/lead windows")
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"global (unpartitioned) window in q213:\n${planOf(df)}")
    }
    assert(!planOf(df).contains("CartesianProduct"),
      s"cartesian in q213:\n${planOf(df)}")
  }

  test("q215 probes the persisted SNM keys table partition-pruned") {
    // the incremental probe reads only the ±W halo buckets of new
    // values; the __b-PARTITIONED layout must turn the isin filter into
    // directory pruning (PartitionFilters — planner-independent, where
    // bucket pruning is switched off for scan-only consumers)
    val idx = graft.queries.TextQueries.snmIndex(spark, dir)
    val probe = idx.filter(col("__b").isin(0L, 1L))
    val plan = planOf(probe)
    assert("PartitionFilters: \\[[^\\]]*__b".r.findFirstIn(plan).isDefined,
      s"halo filter did not reach PartitionFilters:\n$plan")
    assert(!plan.contains("PushedFilters: [In(__b"),
      s"__b still filtered row-level (not a partition column):\n$plan")
  }

  test("q267 label-noise matrix: label-domain aggs, broadcast totals") {
    // The confusion matrix is two partial+final aggs over q159's
    // prediction frame; the per-true-label totals (|L| rows) must come
    // back via a broadcast join — never a window over predictions. (The
    // plan DOES carry the one window q159 inherits from the q64 IVF
    // serve — per-query candidate ranking over probed-list partitions,
    // bounded by construction and gated there.)
    val p = planOf(SparkEntry.queries("q267_label_noise")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"q267 totals not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"q267 cartesian:\n$p")
  }

  test("q268 graph ANN: equi-join NN-descent + bounded-heap beam, no window, no cartesian") {
    // Build and serve must both be equi-joins + TopKPairs bounded heaps:
    // no per-node/per-query rank window (the pair stream is corpus-scale
    // at build time), no cartesian anywhere (the init blocks join on the
    // md5 block key; the beam expands via the edge equi-join).
    val p = planOf(SparkEntry.queries("q268_graph_ann_beam")(spark, dir))
    assert(!p.contains("Window"), s"q268 windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"q268 cartesian:\n$p")
  }

  test("q264 padding waste: domain-sized histogram window, broadcast boundary lookup") {
    // The only window rides the length HISTOGRAM (distinct lengths ≪
    // docs); per-doc bucket assignment must be a broadcast non-equi
    // lookup against the ≤21-row bounds frame — never a corpus ntile.
    val p = planOf(SparkEntry.queries("q264_padding_waste")(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"q264 bounds lookup not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"q264 cartesian:\n$p")
  }

  test("q265 source concentration: panel-bounded window, broadcast totals") {
    // The rank window partitions by lang over the (lang × source) panel;
    // the per-lang totals come back via broadcast.
    val p = planOf(SparkEntry.queries("q265_source_concentration")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"q265 totals not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"q265 cartesian:\n$p")
  }

  test("q266 burstiness: top-30 on the bounded heap, no vocabulary sort window") {
    val p = planOf(SparkEntry.queries("q266_term_burstiness")(spark, dir))
    assert(!p.contains("Window"), s"q266 windows:\n$p")
    assert(p.contains("topkpairs") || p.contains("TopKPairs"),
      s"q266 heap missing:\n$p")
  }

  test("q269 DP release is agg + projection only (no join, no window)") {
    val p = planOf(SparkEntry.queries("q269_dp_release")(spark, dir))
    assert(!p.contains("Window"), s"q269 windows:\n$p")
    assert(!p.contains("Join"), s"q269 joins:\n$p")
  }

  test("q270 source ablation: one corpus pass, hash-key equi-joins, no window") {
    // Ablating 20 sources must NOT be 20 corpus passes: the dup
    // correction rides one (hash × source) agg joined to per-hash
    // totals; additive metrics subtract broadcast 1-row totals.
    val p = planOf(SparkEntry.queries("q270_source_ablation")(spark, dir))
    assert(!p.contains("Window"), s"q270 windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"q270 cartesian:\n$p")
  }

  test("q271 PPR: per-round equi-join + partial agg, bounded-heap readout, no window") {
    // The LPA/CC iteration discipline: each push round is one equi-join
    // of the seeds-bounded mass frame onto the edge table + one
    // partial+final agg; the top-5 readout is the bounded heap.
    val p = planOf(SparkEntry.queries("q271_graph_ppr")(spark, dir))
    assert(!p.contains("Window"), s"q271 windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"q271 cartesian:\n$p")
    assert(p.contains("topkpairs") || p.contains("TopKPairs"),
      s"q271 heap missing:\n$p")
  }

  test("q272 beam-width sweep reuses the session-cached graph across legs") {
    // The three serve legs must read the SAME cached NN-descent edge
    // list (no per-leg rebuild): asserted DIRECTLY on the artifact store —
    // after planning the sweep, the full-corpus edge artifact holds
    // exactly ONE entry for this dir (a per-leg rebuild would need per-leg
    // keys, and three builds behind one key would still be caught by the
    // artifact's once-only lazy build). Plan-shape gates stay as a
    // backstop.
    val p = planOf(SparkEntry.queries("q272_beam_width_sweep")(spark, dir))
    assert(!p.contains("Window"), s"q272 windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"q272 cartesian:\n$p")
    val edgeKeys = graft.core.Artifact.built(spark)
      .collect { case ("nnd_edges", k) if k.startsWith(dir) && !k.endsWith("|base") => k }
    assert(edgeKeys == Set(dir),
      s"q272 expected one full-corpus NN-descent build entry [$dir], got $edgeKeys")
  }

  test("q268 NN-descent build joins the bucketed corpus exchange-free (only id rows shuffle)") {
    // Building the graph persists the normalized corpus as a
    // cand_id-bucketed table (the round-16 verdict's #1 lever: the
    // un-bucketed build measured ~200 KB of shuffle per corpus vector at
    // 100× because full vectors rode every candidate join). Probe with
    // the build's own vector-attach join shape: a non-bucketed edge-id
    // frame joined on cand_id must plan with the corpus read `Bucketed:
    // true` and NO Exchange over the corpus side — only the id rows move.
    SparkEntry.queries("q268_graph_ann_beam")(spark, dir).count()
    val tbl = graft.queries.VectorQueries.nndVecCache.tableName(spark, dir)
    val corpusB = spark.table(tbl)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val gIds  = spark.range(100).select(col("id").as("src"), col("id").as("pivot"))
      val probe = gIds.join(corpusB, gIds("src") === corpusB("cand_id"))
      val plan  = planOf(probe)
      assert(plan.contains("Bucketed: true"),
        s"NN-descent corpus not read as a bucketed table:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(cand_id"),
        s"corpus side of the build join still shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("durable mode: a NEW session serves q268 from the persisted graph, no rebuild") {
    // The production index lifecycle (round-16 verdict #6): in durable
    // materialization mode the finished NN-descent edge list is published
    // as a cross-session warehouse index. Session 2 (fresh artifact entries,
    // fresh session-scoped table namespace) must serve q268 by SCANNING
    // that index — asserted by (a) identical results, (b) the serve plan
    // reading the graft_nnd_edges_* parquet, and (c) the build-only
    // bucketed corpus table NOT existing in session 2's namespace.
    val d2 = "/root/testdata/sf0.01" // fresh cache key: `dir` is built non-durably by other tests
    val idx = graft.queries.VectorQueries.nndDurableIndexName(d2)
    graft.sources.Warehouse.dropDurableIndex(spark, idx)
    try {
      // the BUILDING leg runs in a throwaway session too (round-17
      // advice): the finally-drop below would otherwise leave the main
      // session's nndEdgeCache holding a frame over deleted files
      val s1 = spark.newSession()
      s1.conf.set("spark.graft.materialize.durable", "true")
      val r1 = SparkEntry.queries("q268_graph_ann_beam")(s1, d2)
        .collect().map(_.toSeq).toSet
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.materialize.durable", "true")
      val df2 = SparkEntry.queries("q268_graph_ann_beam")(s2, d2)
      // the beam rounds are per-round lineage-cut jobs now (round-18
      // beamOver), so the index scan no longer appears in the final
      // readout's plan — assert it on the edge frame the serve consumed
      val p2 = planOf(graft.queries.VectorQueries.nndBuildFrame(s2, d2))
      assert(p2.contains("graft_nnd_edges_"),
        s"session 2 is not scanning the persisted graph index:\n$p2")
      assert(!s2.catalog.tableExists(
          graft.queries.VectorQueries.nndVecCache.tableName(s2, d2)),
        "session 2 ran the build (its bucketed corpus table exists)")
      assert(df2.collect().map(_.toSeq).toSet == r1,
        "served results differ between the building and reusing sessions")
    } finally {
      graft.sources.Warehouse.dropDurableIndex(spark, idx)
    }
  }

  test("durable index refuses a dataset dir mutated in place (fingerprint)") {
    // round-17 stretch #8: durableIndex staleness no longer rests on the
    // immutable-dir convention alone — the builder stores a content
    // fingerprint (row count + max id) beside the index; a reader whose
    // corpus fingerprints differently gets a refusal naming the fix.
    val tmpDir = "/tmp/graft_fp_probe"
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    rmrf(new java.io.File(tmpDir))
    val src = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src.write.mode("overwrite").parquet(s"$tmpDir/embeddings.parquet")
    val idx = graft.queries.VectorQueries.nndDurableIndexName(tmpDir)
    graft.sources.Warehouse.dropDurableIndex(spark, idx)
    try {
      val s1 = spark.newSession()
      s1.conf.set("spark.graft.materialize.durable", "true")
      SparkEntry.queries("q268_graph_ann_beam")(s1, tmpDir).count()
      // mutate the dataset dir IN PLACE — the contract violation
      src.limit(10)
        .withColumn("vec_id", col("vec_id") + 500000L)
        .write.mode("append").parquet(s"$tmpDir/embeddings.parquet")
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.materialize.durable", "true")
      val ex = intercept[IllegalStateException] {
        SparkEntry.queries("q268_graph_ann_beam")(s2, tmpDir).count()
      }
      assert(ex.getMessage.contains("mutated in place"),
        s"refusal must name the violation: ${ex.getMessage}")
      assert(ex.getMessage.contains("dropDurableIndex"),
        s"refusal must name the fix: ${ex.getMessage}")
    } finally {
      graft.sources.Warehouse.dropDurableIndex(spark, idx)
      rmrf(new java.io.File(tmpDir))
    }
  }

  test("q273 incremental insert: beam equi-joins only, no rebuild windows/cartesians") {
    // Insert = one beam search per delta vector over the base graph;
    // serve = beam over the unioned edges. Neither phase may window
    // over corpus-scale frames or cross-join.
    val p = planOf(SparkEntry.queries("q273_graph_ann_insert")(spark, dir))
    assert(!p.contains("Window"), s"q273 windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"q273 cartesian:\n$p")
  }

  test("salting spreads a hot key across buckets with identical join results") {
    import spark.implicits._
    val left  = (1 to 1000).map(i => ("hot", i)) ++ (1 to 10).map(i => (s"k$i", i))
    val right = Seq(("hot", "H"), ("k1", "A"), ("k2", "B"))
    val (sl, sr, keys) = Warehouse.saltedJoinSides(
      left.toDF("k", "v"), right.toDF("k", "name"), "k", saltBuckets = 4)
    val salted = sl.join(sr, keys).groupBy("k").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = left.toDF("k", "v").join(right.toDF("k", "name"), "k")
      .groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    // the hot key genuinely uses >1 salt bucket
    val buckets = sl.filter(col("k") === "hot").select("__salt").distinct().count()
    assert(buckets > 1)
  }

  /** `file:line: code` for every code line of src/main/scala, outside the
    * `owners` files, that matches `call`. Comment lines and trailing
    * comments are exempt: `//` lines, and every line of a `/* … */` block
    * (opened by a line starting with `/*`, closed by the line holding
    * `*/`). A line starting with `*` outside a block is code, an
    * expression continued with the `*` operator (tools/codelines.sh
    * counts by the same rule). A `//` inside a string literal on the line
    * (a URI such as `synthetic://`) is code, not a trailing comment.
    */
  private def codeLines(call: scala.util.matching.Regex, owners: String*): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val skip = owners.map(o => root.resolve(o)).toSet
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && !skip(f)).toSeq
    assert(files.size > 50, s"source tree not found from ${root.toAbsolutePath}")
    def code(lines: Seq[String]): Seq[(String, Int)] = {
      var inBlock = false
      lines.map(_.trim).zipWithIndex.filter { case (line, _) =>
        if (inBlock) { inBlock = !line.contains("*/"); false }
        else if (line.startsWith("/*")) { inBlock = !line.drop(2).contains("*/"); false }
        else !line.startsWith("//")
      }
    }
    for {
      f <- files
      (line, i) <- code(java.nio.file.Files.readAllLines(f).asScala.toSeq)
      if call.findFirstIn(withoutTrailingComment(line)).isDefined
    } yield s"$f:${i + 1}: $line"
  }

  /** `line` cut at its first `//` outside a string literal (`"…"` with
    * escapes, `"""…"""`, or the char literal `'"'`).
    */
  private def withoutTrailingComment(line: String): String = {
    val tq = "\"\"\""
    var open = "" // the delimiter of the literal the scan is in, if any
    var i = 0
    var end = line.length
    while (i < end) {
      if (open.isEmpty && line.startsWith("//", i)) end = i
      else if (open.isEmpty && line.startsWith("'\"'", i)) i += 3
      else if (open != "\"" && line.startsWith(tq, i)) { open = if (open.isEmpty) tq else ""; i += 3 }
      else if (open == "\"" && line.charAt(i) == '\\') i += 2
      else if (open != tq && line.charAt(i) == '"') { open = if (open.isEmpty) "\"" else ""; i += 1 }
      else i += 1
    }
    line.take(end)
  }

  test("core.Materialize is the only caller of checkpoint, cache and persist in src/main") {
    // Every lineage cut and cache goes through one file, so what a session
    // may lose on executor loss is decided in one place.
    val hits = codeLines("""localCheckpoint|\.checkpoint\(|\.cache\(\)|\.persist\(""".r,
      "graft/core/Materialize.scala")
    assert(hits.isEmpty, hits.mkString("cut or cache outside core.Materialize:\n", "\n", ""))
  }

  test("sources.Warehouse is the only namer of session tables and sanitizer of keys") {
    // every session-scoped warehouse table is named by one function, so
    // two keys that differ only in punctuation never share a table
    for (call <- Seq("sessionScopedName(", """replaceAll("[^a-zA-Z0-9]"""")) {
      val hits = codeLines(java.util.regex.Pattern.quote(call).r, "graft/sources/Warehouse.scala")
      assert(hits.isEmpty, hits.mkString(s"$call outside sources.Warehouse:\n", "\n", ""))
    }
  }

  test("core.Sessions is the only builder of SparkSessions in src/main") {
    // A session built elsewhere runs without the factory's codegen cache,
    // shared executor classloader and stable class names, so its compile
    // counts and cold timings do not compare with the engine's. EntrySmoke
    // is exempt: it simulates the driver's plain session.
    val hits = codeLines("""SparkSession\s*\.\s*[bB]uilder|^\.builder\(""".r,
      "graft/core/Sessions.scala", "graft/EntrySmoke.scala")
    assert(hits.isEmpty, hits.mkString("SparkSession built outside core.Sessions:\n", "\n", ""))
  }

  test("one foreachBatch sink in src/main and one replace-table write in Warehouse") {
    // Every streaming state leg writes through EventsStream's one
    // micro-batch sink, and every warehouse table replace through one
    // drop / orphan-delete / write / exit-cleanup sequence.
    val sinks = codeLines("foreachBatch".r)
    assert(sinks.size == 1,
      sinks.mkString("foreachBatch outside the one sink helper:\n", "\n", ""))
    val drops = codeLines("DROP TABLE IF EXISTS".r)
    assert(drops.size == 1 && drops.head.contains("graft/sources/Warehouse.scala"),
      drops.mkString("DROP TABLE IF EXISTS outside Warehouse's one replace path:\n", "\n", ""))
  }

  test("one spread rule and one BPE word split in src/main") {
    // every "spread a one-split scan across cores" guard is Tables.spread,
    // and every whitespace word split is Bpe.words; ShingleArray's split
    // is the native shingle kernel, which keeps the composable form's
    // semantics on purpose
    val spreads = codeLines("getNumPartitions".r, "graft/core/Tables.scala")
    assert(spreads.isEmpty, spreads.mkString("partition-count guard outside Tables.spread:\n", "\n", ""))
    val splits = codeLines(java.util.regex.Pattern.quote("split(' ')").r,
      "graft/operators/Bpe.scala", "org/apache/spark/sql/graftx/ShingleArray.scala")
    assert(splits.isEmpty, splits.mkString("word split outside Bpe.words:\n", "\n", ""))
  }

  test("one quota apportionment and one LM fold in src/main") {
    // the largest-remainder ranking is Sampling.quotaSample and the
    // pos-ordered log-prob fold is CurationQueries.sumLogp
    val negrem = codeLines("negrem".r)
    assert(negrem.size == 1, negrem.mkString("remainder ranking outside Sampling.quotaSample:\n", "\n", ""))
    val folds = codeLines(java.util.regex.Pattern.quote("""struct(col("pos"), col("logp"))""").r)
    assert(folds.size == 1, folds.mkString("log-prob fold outside CurationQueries.sumLogp:\n", "\n", ""))
  }

  test("one owner each for the 1e-9 quantization, the top-k key constant and DECIMAL(18,9)") {
    // oracle parity rests on every engine applying these rules in the same
    // order; a pasted copy can drift from its owner unseen. stripMargin
    // lines (`|...`) are the DuckDB oracle SQL, which spells them literally.
    def outside(call: scala.util.matching.Regex, owners: String*): Seq[String] =
      codeLines(call, owners: _*).filterNot(_.split(": ", 2)(1).startsWith("|"))
    val quant = outside("""1e9\s*\+\s*(lit\()?0\.5""".r,
      "graft/functions/Exact.scala", "org/apache/spark/sql/graftx/QueryScore.scala")
    assert(quant.isEmpty, quant.mkString("1e-9 quantization outside Exact:\n", "\n", ""))
    val big = outside("1000000000000000000L".r)
    assert(big.size == 1 && big.head.contains("graftx/TopKPairs.scala"),
      big.mkString("10^18 top-k key constant outside TopKPairs:\n", "\n", ""))
    val d9 = outside("""DecimalType\(18,\s*9\)""".r, "graft/functions/Exact.scala")
    assert(d9.isEmpty, d9.mkString("DECIMAL(18,9) outside Exact:\n", "\n", ""))
  }

  test("one body each for the chunk reassembly, the gram scan, ImageIO and the synthetic media") {
    // each shape has one owner; a pasted copy is a second body that can
    // drift from it unseen
    val owned = Seq(
      ("""struct(col("chunk_idx"), col("chunk_text"))""", "graft/operators/Dedup.scala", 1),
      ("CharGramArray.charGrams", "graft/operators/Dedup.scala", 2),
      ("ImageIO.read(", "graft/operators/Multimodal.scala", 1),
      ("ImageIO.write(", "graft/operators/Multimodal.scala", 1),
      ("\"synthetic://", "graft/operators/Multimodal.scala", 1))
    for ((call, owner, bodies) <- owned) {
      val hits = codeLines(java.util.regex.Pattern.quote(call).r)
      assert(hits.size == bodies && hits.forall(_.contains(owner)),
        hits.mkString(s"$call: expected $bodies line(s) in $owner, got:\n", "\n", ""))
    }
  }

  test("core.Parallel is the only driver-side thread pool in src/main") {
    // every fan-out of Spark work over driver threads goes through one
    // scheduler, whose threads carry their caller's job group and local
    // properties; a pool that outlives its caller does not
    val hits = codeLines("""ExecutionContext|\bFuture\b|\bAwait\b|Executors\.""".r,
      "graft/core/Parallel.scala")
    assert(hits.isEmpty, hits.mkString("thread pool or Future outside core.Parallel:\n", "\n", ""))
  }

  test("every scaladoc in src/main sits on a name: no /** block followed only by another") {
    // the scaladoc tool attaches only the last of two stacked blocks, so
    // the first documents nothing or the wrong name
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"source tree not found from ${root.toAbsolutePath}")
    val stacked = for {
      f <- files
      lines = java.nio.file.Files.readAllLines(f).asScala.map(_.trim).toIndexedSeq
      (line, i) <- lines.zipWithIndex
      if line.startsWith("/**")
      end = lines.indexWhere(_.contains("*/"), i)
      next = lines.indexWhere(_.nonEmpty, end + 1)
      if end >= 0 && next >= 0 && lines(next).startsWith("/**")
    } yield s"$f:${i + 1}"
    assert(stacked.isEmpty, stacked.mkString("scaladoc followed only by another scaladoc:\n", "\n", ""))
  }

  test("q48 and q82 keep their cut inputs as named artifacts, not session-long caches") {
    val s = spark.newSession()
    spark.catalog.clearCache()
    for (_ <- 1 to 2; q <- Seq("q48_set_ops", "q82_ngram_novelty"))
      SparkEntry.queries(q)(s, dir).count()
    val cache = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    assert(cache.isEmpty, "q48/q82 left frames in the cache manager")
    val named = graft.core.Artifact.built(s)
      .filter { case (name, _) => name.startsWith("q48_") || name.startsWith("q82_") }
    assert(named == Set(("q48_buyer_sets", dir), ("q82_ngram_stream", dir)))
  }
}
