package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Iterative graph analytics over edge DataFrames — the second graph
  * operator family next to [[Dedup.connectedComponents]]. PageRank here is
  * the link-analysis primitive a crawl-curation pipeline uses to weight
  * documents by their (co-occurrence / hyperlink) graph centrality.
  *
  * Determinism contract: all arithmetic is INTEGER-scaled (ranks are
  * BIGINT units of 1e-12, damping 0.85 applied as ·85 div 100). Integer
  * sums are associative-exact, so the result is bit-identical across
  * partitionings, merge orders, and engines — the same discipline that
  * lets q59's decimal power sums and q66's KMV estimate hash-gate. The
  * truncation error vs real-valued PageRank is ≤ indegree·1e-12 per node
  * per iteration, far below any ranking-relevant signal.
  *
  * 100 TB shape: each iteration is ONE equi-join (edges ⋈ ranks on src —
  * both sides shuffle on the join key; on a real cluster you bucket both
  * by node id so iterations reuse the layout) plus ONE partial+final
  * aggregation on dst. The rank frame stays node-sized; edges are never
  * materialized per iteration (cache them once at the call site). No
  * windows, no driver-side collection, no per-node loops.
  */
object Graph {

  /** Rank scale: 1 unit = 1e-12 of total rank mass. */
  val Scale = 1000000000000L

  /** Exact per-node triangle participation counts over a SYMMETRIC edge
    * list, via degree orientation: each undirected edge points
    * (deg, id)-low → high, so every triangle is enumerated exactly once
    * (as the wedge at its orientation-smallest vertex) and the wedge
    * fan-out per node is bounded by the oriented out-degree — O(√m) on
    * skewed graphs, which is what keeps a hub from materializing its
    * quadratic neighbor-pair set. All joins are node-key equi-joins
    * (bucketable); the final count is one partial+final aggregation.
    * All-integer output. Nodes in no triangle are absent.
    *
    * @param edges symmetric DataFrame with `src`, `dst` (both directions
    *              present, no self-loops — the co-purchase contract)
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // Every node-keyed frame on a build side below carries a SHUFFLE_HASH
    // hint. Past the broadcast threshold the planner would otherwise pick
    // SortMergeJoin, whose SORT of the probe side is this operator's real
    // scale cliff: at sf1 the post-orientation probe rows carry the
    // adjacency ARRAYS, so the sorter churns wedge-volume allocations
    // (measured: 16.9 s warm at sf1 vs 2.8 s at sf0.1, where AQE still
    // broadcasts — a 6× jump for 10× data). A shuffled hash join builds
    // its per-partition map from the node-sized side and STREAMS the
    // array-carrying rows unsorted; the wedge volume crosses the wire
    // once (inherent — see PERF.md's q123 model) but is never sorted.
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .hint("shuffle_hash")
    val o = edges
      .join(deg.select(col("node"), col("deg").as("du")), col("src") === col("node"))
      .drop("node")
      .join(deg.select(col("node"), col("deg").as("dv")), col("dst") === col("node"))
      .drop("node")
      .filter(col("du") < col("dv") ||
              (col("du") === col("dv") && col("src") < col("dst")))
      .select(col("src").as("u"), col("dst").as("v"))
    // edge-iterator form: triangle (u≺v≺w) is found ONLY at its base
    // edge (u, v) as w ∈ N⁺(u) ∩ N⁺(v). Intersecting the two oriented
    // adjacency arrays per edge does O(m · d⁺) work — vs the wedge-join
    // form whose intermediate is EVERY open wedge (Σ C(d⁺, 2) rows,
    // 17.6 s at sf0.1 on the co-purchase graph vs ~3 s for this form;
    // triangles ≪ wedges on dense-ish graphs). Adjacency arrays are
    // bounded by the oriented out-degree — the orientation's O(√m)
    // guarantee — so no hub ever materializes a quadratic set.
    val adj = o.groupBy(col("u").as("node"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      .hint("shuffle_hash")
    // q123's warm cost measured ~85% GC (bench gc_ms) — allocation
    // churn, not compute — so the per-edge intersection, the
    // participation emit, and the (node, count) row stream are FUSED
    // into one expression (TriPack): per oriented edge it merge-walks
    // the two sorted adjacency arrays and returns k+2 packed BIGINTs
    // ((w,1)×k, (u,k), (v,k); node<<21|count) in two primitive-array
    // allocations. The retired form (SortedIntersect → concat +
    // array_repeat×2 → explode) allocated five arrays per edge and
    // pushed 3k rows through the agg; packing cuts rows ~3× for the
    // same exact counts, and the shift/mask agg below stays inside
    // whole-stage codegen.
    import org.apache.spark.sql.graftx.TriPack
    o.join(adj.select(col("node"), col("nbrs").as("nu")), col("u") === col("node"))
      .drop("node")
      .join(adj.select(col("node"), col("nbrs").as("nv")), col("v") === col("node"))
      .drop("node")
      .select(explode(TriPack.triPack(
        col("u").cast("long"), col("v").cast("long"),
        col("nu"), col("nv"))).as("p"))
      .groupBy(shiftright(col("p"), TriPack.CountBits).as("node"))
      .agg(sum(col("p").bitwiseAND(TriPack.CountMask)).as("n_triangles"))
  }

  /** Adamic–Adar link prediction over a SYMMETRIC edge list: for every
    * non-adjacent pair with ≥1 common neighbor of degree in [2, degCap],
    * score = Σ_w 1/ln(deg w), each term 1e-9-quantized BEFORE the exact
    * BIGINT sum so the result is fold-order independent and hash-gates.
    * Wedge fan-out per common node is C(deg, 2), so the cap bounds total
    * work at n·C(degCap, 2) regardless of skew (AA discounts high-degree
    * commons toward 0, so capping them is the standard approximation).
    * Returns the topN by (score desc, vec ids) — fully tiebroken.
    */
  def adamicAdar(edges: DataFrame, degCap: Int, topN: Int): DataFrame = {
    val deg = edges.groupBy(col("src").as("w"))
      .agg(count(lit(1)).as("deg"))
    val low = edges.select(col("src").as("w"), col("dst"))
      .join(deg.filter(col("deg").between(2, degCap)), Seq("w"))
      .withColumn("t",
        floor(lit(1e9) / log(col("deg").cast("double")) + 0.5).cast("long"))
    val pairs = low.as("a")
      .join(low.as("b"), col("a.w") === col("b.w") && col("a.dst") < col("b.dst"))
      .select(col("a.dst").as("pa"), col("b.dst").as("pb"), col("a.t").as("t"))
    pairs.groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("n_common"), sum(col("t")).as("aa_e9"))
      .join(edges.select(col("src").as("pa"), col("dst").as("pb")),
            Seq("pa", "pb"), "left_anti")
      .orderBy(col("aa_e9").desc, col("pa"), col("pb"))
      .limit(topN)
      .select(col("pa").as("vec_a"), col("pb").as("vec_b"),
              col("n_common"), col("aa_e9"))
  }

  /** Synchronous label-propagation community detection over a SYMMETRIC
    * edge list (Raghavan et al. 2007), `iters` fixed iterations from
    * label = node id. Each step every node adopts its neighborhood's
    * majority label, ties broken by SMALLEST label — expressed as ONE
    * (node, label) count aggregation plus ONE max(struct(cnt, −label))
    * argmax aggregation per iteration: both partial+final combinable,
    * no per-node window over the neighbor stream, and the per-iteration
    * state is exactly one label row per node. Fixed iteration count +
    * deterministic tie rule ⇒ hash-gateable output.
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to iters) {
      // symmetry lets the gather run keyed on SRC (src's label reaches dst
      // ≡ dst's neighborhood sees src's label): with the edge table
      // bucketed on src, the per-iteration join AND the initial distinct
      // plan with no edge-side Exchange — only the node-sized label frame
      // and the post-join aggregates ever shuffle.
      labels = edges
        .join(labels.select(col("node").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst").as("node"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
    }
    labels
  }

  /** Damped PageRank over a directed edge list, `iters` synchronous
    * iterations from a uniform start. Nodes = distinct src ∪ dst, so sink
    * nodes (no out-edges) are ranked too. Dangling-node mass is DROPPED,
    * not redistributed (the "remove dangling" simplification): a sink
    * receives teleport + in-flow but emits nothing, so total mass shrinks
    * by its damped rank each iteration. Callers pass symmetric edge sets
    * when the graph is undirected — then nothing dangles and mass is
    * conserved up to truncation (RetrievalGraphSpec asserts it).
    *
    * Long chains: every `checkpointEvery` iterations the rank frame is
    * cut as loop-round state ([[graft.core.Materialize.cutLocal]]) — the
    * same lineage-truncation discipline as [[Dedup.connectedComponents]]
    * — so the logical plan depth stays bounded instead of nesting 2
    * joins + an aggregate per iteration (a deep enough unchecked chain
    * superlinearly inflates Catalyst analysis and can overflow the
    * driver stack).
    *
    * @param edges DataFrame with `src`, `dst` (any integral type)
    * @return DataFrame of (node, rank_e12): BIGINT rank in 1e-12 units
    */
  def pageRank(
      edges: DataFrame,
      iters: Int,
      dampingPct: Int = 85,
      checkpointEvery: Int = 8): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(dampingPct > 0 && dampingPct < 100, "dampingPct must be in (0,100)")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val withDeg = edges.join(outdeg, "src")
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val n = nodes.agg(count(lit(1)).as("n"))
    // teleport + init are integer divisions of the scaled mass — computed
    // per-row against the broadcast single-row count, never collected.
    val teleport = expr(s"($Scale * ${100 - dampingPct}) div (n * 100)")
    var ranks = nodes.crossJoin(broadcast(n))
      .select(col("node"), expr(s"$Scale div n").as("rank"))
    for (i <- 1 to iters) {
      val contrib = withDeg
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), expr(s"(rank * $dampingPct) div (outdeg * 100)").as("c"))
      val inRank = contrib.groupBy(col("dst")).agg(sum(col("c")).as("in_rank"))
      ranks = nodes.crossJoin(broadcast(n))
        .join(inRank, col("node") === col("dst"), "left")
        .select(col("node"),
                (teleport + coalesce(col("in_rank"), lit(0L))).as("rank"))
      if (i % checkpointEvery == 0 && i < iters) ranks = graft.core.Materialize.cutLocal(ranks)
    }
    ranks.select(col("node"), col("rank").as("rank_e12"))
  }
}
