package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.TopKPairs

/** Bounded-heap top-k aggregate: result ≡ global sort-limit per group,
  * invariant under partitioning (the partial/merge path), duplicate-safe.
  */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def naive(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"key", $"id")
    df.withColumn("rn", row_number().over(w)).filter($"rn" <= k)
      .select($"g", $"key", $"id", $"rn".cast("long").as("rank"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
  }

  private def viaAgg(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.groupBy($"g").agg(TopKPairs.topK($"key", $"id", k).as("top"))
      .select($"g", posexplode($"top"))
      .select($"g", $"col.key", $"col.id", ($"pos" + 1).cast("long").as("rank"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet

  test("topK equals the per-group sort-limit, at any partitioning") {
    val rows = for (i <- 1 to 997) yield (s"g${i % 3}", f"k${(i * 7919) % 100}%03d", i.toLong)
    val base = rows.toDF("g", "key", "id")
    val want = naive(base, 10)
    for (parts <- Seq(1, 4, 13)) {
      assert(viaAgg(base.repartition(parts), 10) == want, s"parts=$parts")
    }
  }

  test("k larger than the group keeps everything; ties on key break by id") {
    val base = Seq(("g", "same", 5L), ("g", "same", 2L), ("g", "zz", 1L)).toDF("g", "key", "id")
    assert(viaAgg(base, 10) ==
      Set(("g", "same", 2L, 1L), ("g", "same", 5L, 2L), ("g", "zz", 1L, 3L)))
    assert(viaAgg(base, 2) == Set(("g", "same", 2L, 1L), ("g", "same", 5L, 2L)))
  }

  test("duplicate (key,id) pairs keep multiset semantics like a sort-limit") {
    val base = Seq(("g", "k", 1L), ("g", "k", 1L), ("g", "z", 9L)).toDF("g", "key", "id")
    assert(viaAgg(base, 2) == Set(("g", "k", 1L, 1L), ("g", "k", 1L, 2L)))
    for (parts <- Seq(1, 3)) {
      assert(viaAgg(base.repartition(parts), 3) ==
        Set(("g", "k", 1L, 1L), ("g", "k", 1L, 2L), ("g", "z", 9L, 3L)), s"parts=$parts")
    }
  }

  test("nulls are skipped like built-in aggregates") {
    val base = Seq(("g", Some("a"), Some(1L)), ("g", None, Some(2L)), ("g", Some("b"), None))
      .toDF("g", "key", "id")
    assert(viaAgg(base, 5) == Set(("g", "a", 1L, 1L)))
  }

  private def viaDistinctAgg(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.groupBy($"g").agg(TopKPairs.topKDistinct($"key", $"id", k).as("top"))
      .select($"g", posexplode($"top"))
      .select($"g", $"col.key", $"col.id", ($"pos" + 1).cast("long").as("rank"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet

  test("topKDistinct ≡ distinct-then-topK, at any partitioning") {
    // duplicates both within and across partitions: the map-side partial
    // heaps must dedup locally AND across the merge path
    val rows = for (i <- 1 to 997) yield (s"g${i % 3}", f"k${(i * 31) % 40}%03d", (i % 80).toLong)
    val base = rows.toDF("g", "key", "id")
    val want = viaAgg(base.distinct(), 10)
    for (parts <- Seq(1, 4, 13)) {
      assert(viaDistinctAgg(base.repartition(parts), 10) == want, s"parts=$parts")
    }
  }

  test("topKDistinct collapses duplicates so distinct survivors fill the heap") {
    // multiset topK(2) keeps ("k",1) twice and drops ("z",9); set
    // semantics must keep both distinct pairs
    val base = Seq(("g", "k", 1L), ("g", "k", 1L), ("g", "z", 9L)).toDF("g", "key", "id")
    assert(viaDistinctAgg(base, 2) == Set(("g", "k", 1L, 1L), ("g", "z", 9L, 2L)))
  }

  test("descScore inverts descIdKey on [0, 10^18); binary key order is (score desc, id asc)") {
    val rnd = new scala.util.Random(7)
    val scores = Seq(0L, 1L, 9L, 10L, 999999999L, 999999999999999999L) ++
      Seq.fill(20)(math.abs(rnd.nextLong()) % 1000000000000000000L)
    val ids = Seq(0L, 1L, 10L, 9999999999L) ++ Seq.fill(3)(math.abs(rnd.nextLong()))
    val keyed = (for (sc <- scores; id <- ids) yield (sc, id)).toDF("score", "id")
      .select($"score", $"id", TopKPairs.descIdKey($"score", $"id").as("key"))
    val back = keyed.select($"score", TopKPairs.descScore($"key")).as[(Long, Long)].collect()
    assert(back.forall { case (sc, got) => sc == got })
    val ordered = keyed.orderBy($"key").select($"score", $"id").as[(Long, Long)].collect().toSeq
    assert(ordered == ordered.sortBy { case (sc, id) => (-sc, id) })
  }
}
