package graft.queries

import graft.core.{Artifact, Tables}
import graft.operators.Graph
import graft.sources.Warehouse
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Graph-analytics operator inventory — link analysis over a co-purchase
  * graph derived from the star schema (parts co-occurring in an order are
  * connected, both directions, so the graph is symmetric and nothing
  * dangles). Exercises [[graft.operators.Graph.pageRank]], the iterative
  * join+aggregate operator family next to connected components (q67).
  */
object GraphQueries {

  type Q = (SparkSession, String) => DataFrame

  private val Iters = 3

  /** The src-bucketed co-purchase edge table, built once per (session,
    * dir) and shared by every consumer in the session (repeat q90 and
    * q123 calls, the PlanQualitySpec probe).
    */
  private[graft] val edgeCache = new Artifact[DataFrame]("q90_edges")

  val defs: Map[String, Q] = Map(
    // ---------------------------------------------------------------
    // q90: PageRank over the part co-purchase graph, 3 iterations,
    // damping 0.85, integer-scaled (1e-12 rank units) so every sum is
    // associative-exact and the result hash-gates — see Graph.pageRank
    // for the determinism + 100 TB contract. The unrolled 3-iteration
    // DAG references the edge list 4× (3 contribs + degree), so it is
    // materialized ONCE to a src-bucketed warehouse table: every
    // iteration then scans a layout already hash-partitioned on the
    // join key, and the per-iteration join plans with NO Exchange on
    // the edge side (PlanQualitySpec asserts it) — the 100 TB iteration
    // shape. Bucketing also retires the session-lifetime .cache() this
    // query used to leak (each call now just overwrites the table).
    // ---------------------------------------------------------------
    "q90_pagerank" -> { (s, dir) =>
      Graph.pageRank(bucketedEdges(s, dir), Iters)
        .select(col("node").as("part"), col("rank_e12"))
    },

    // ---------------------------------------------------------------
    // q123: exact triangle counting with DEGREE ORIENTATION — the third
    // graph primitive next to PageRank (q90) and connected components
    // (q67); triangle participation is the local-clustering signal used
    // to spot templated/boilerplate link structure. The orientation is
    // the standard scale trick: each undirected edge points
    // (deg, id)-low → high, so every triangle is found EXACTLY once and
    // wedge fan-out per node is bounded by the oriented out-degree
    // (O(√m) on skewed graphs — a hub's quadratic wedge set never
    // materializes). All joins are node-key equi-joins over the
    // src-bucketed edge table; counts are partial+final; all-integer
    // output hash-gates.
    // ---------------------------------------------------------------
    "q123_triangle_count" -> { (s, dir) =>
      Graph.triangleCounts(bucketedEdges(s, dir))
        .select(col("node").as("part"), col("n_triangles"))
    }
  )

  private def bucketedEdges(s: SparkSession, dir: String): DataFrame =
    edgeCache.table(s, dir)(Warehouse.writeBucketed(_, _, "src", numBuckets = 32)) {
      val li = Tables(s, dir).lineitem
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      li.as("a")
        .join(li.as("b"),
              col("a.okey") === col("b.okey") && col("a.part") =!= col("b.part"))
        .select(col("a.part").as("src"), col("b.part").as("dst"))
        .distinct()
    }

  val oracles: Map[String, String] = Map(
    // Mirrors the Spark side: same (deg, id) orientation, same wedge
    // ordering, same closing-edge join — each triangle found once.
    "q123_triangle_count" ->
      """WITH li AS (SELECT l_orderkey AS okey, l_partkey AS part FROM lineitem),
        |edges AS (
        |  SELECT DISTINCT a.part AS src, b.part AS dst
        |  FROM li a JOIN li b ON a.okey = b.okey AND a.part <> b.part),
        |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
        |o AS (
        |  SELECT e.src AS u, e.dst AS v, dd.deg AS dv
        |  FROM edges e JOIN deg ds ON ds.node = e.src JOIN deg dd ON dd.node = e.dst
        |  WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND e.src < e.dst)),
        |wg AS (
        |  SELECT a.u, a.v AS w1, b.v AS w2
        |  FROM o a JOIN o b ON a.u = b.u
        |  WHERE a.dv < b.dv OR (a.dv = b.dv AND a.v < b.v)),
        |t AS (SELECT wg.u, wg.w1, wg.w2
        |      FROM wg JOIN o c ON c.u = wg.w1 AND c.v = wg.w2)
        |SELECT part, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        |  SELECT u AS part FROM t
        |  UNION ALL SELECT w1 FROM t
        |  UNION ALL SELECT w2 FROM t)
        |GROUP BY 1""".stripMargin,

    "q90_pagerank" -> {
      val S = Graph.Scale
      def iter(prev: String, i: Int) =
        s"""c$i AS (
           |  SELECT dst,
           |         CAST(sum((rank * 85) // (outdeg * 100)) AS BIGINT) AS in_rank
           |  FROM edges JOIN outdeg USING (src)
           |       JOIN $prev ON $prev.node = edges.src
           |  GROUP BY dst),
           |r$i AS (
           |  SELECT node, ($S * 15) // (n * 100) + coalesce(in_rank, 0) AS rank
           |  FROM nodes CROSS JOIN nn LEFT JOIN c$i ON c$i.dst = nodes.node)""".stripMargin
      s"""WITH li AS (SELECT l_orderkey AS okey, l_partkey AS part FROM lineitem),
         |edges AS (
         |  SELECT DISTINCT a.part AS src, b.part AS dst
         |  FROM li a JOIN li b ON a.okey = b.okey AND a.part <> b.part),
         |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT node, $S // n AS rank FROM nodes CROSS JOIN nn),
         |${(1 to Iters).map(i => iter(s"r${i - 1}", i)).mkString(",\n")}
         |SELECT node AS part, CAST(rank AS BIGINT) AS rank_e12 FROM r$Iters""".stripMargin
    }
  )
}
