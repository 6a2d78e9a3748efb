package graft.queries

import graft.core.{Artifact, Tables}
import graft.functions.Exact._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** OLAP breadth beyond the reference's own usage (it has no grouping
  * sets, one window function, and no set operations — SURVEY §2.4/2.5/2.7
  * note their absence): rollup/cube, the full ranking-window family,
  * UNION/INTERSECT/EXCEPT, and pivot — so a consumer with broader OLAP
  * needs doesn't fall off the engine.
  */
object OlapQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q260's hash rings: [[RingNodesBefore]] shards and
    * [[RingNodesAfter]] (one added), each with [[RingVnodes]] virtual
    * nodes at positions value16(md5("ring|shard|vnode")) on the 16-bit
    * circle, packed as pos·32 + shard (shard < 32) so position ties
    * resolve to the smaller shard identically in both engines. Driver
    * literals — the ring is configuration, not data.
    */
  private val RingVnodes      = 16
  private val RingNodesBefore = 16
  private val RingNodesAfter  = 17

  private def ringPacked(nShards: Int): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (for {
      s <- 0 until nShards
      v <- 0 until RingVnodes
    } yield {
      val hex = md.digest(s"ring|$s|$v".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) * 32L + s.toLong
    }).sorted
  }

  /** q257's Poisson(1) CDF cut points on a 16-bit md5 slice: weight k
    * iff u < floor(CDF(k)·65536) first fails at k — driver-side literals
    * (corpus-independent) so both engines compare against the identical
    * integers. P(W > 4) < 0.4% folds into weight 4.
    */
  private val PoissonThresholds: Seq[Long] = {
    val pmf = (0 to 3).scanLeft(0.0) { (acc, k) =>
      acc + math.exp(-1.0) / (1 to k).product.toDouble
    }.tail // CDF(0..3)
    pmf.map(c => math.floor(c * 65536.0).toLong)
  }

  /** q48's buyer sets per dir: the distinct 1995 and 1996 custkeys. */
  private val buyerSets = new Artifact[(DataFrame, DataFrame)]("q48_buyer_sets")

  val defs: Map[String, Q] = Map(
    // ROLLUP: region → nation → total revenue hierarchy with grouping ids.
    "q46_rollup" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.orders
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(sumExact(col("o_totalprice")).as("revenue"),
             count(lit(1)).as("n_orders"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("region_name"),
          coalesce(col("n_name"), lit("ALL")).as("nation_name"),
          col("revenue"), col("n_orders"))
    },

    // GROUPING SETS: explicit aggregation lattice (segment×priority,
    // segment, priority, grand total) with per-column grouping flags —
    // the general form rollup/cube specialize.
    "q65_grouping_sets" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.orders
        .join(broadcast(t.customer.select(col("c_custkey"), col("c_mktsegment"))),
              col("o_custkey") === col("c_custkey"))
        .groupingSets(
          Seq(Seq(col("c_mktsegment"), col("o_orderpriority")),
              Seq(col("c_mktsegment")), Seq(col("o_orderpriority")), Seq()),
          col("c_mktsegment"), col("o_orderpriority"))
        .agg(grouping(col("c_mktsegment")).cast(LongType).as("grp_segment"),
             grouping(col("o_orderpriority")).cast(LongType).as("grp_priority"),
             sumExact(col("o_totalprice")).as("revenue"),
             count(lit(1)).as("n_orders"))
        .select(
          coalesce(col("c_mktsegment"), lit("ALL")).as("mktsegment"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
          col("grp_segment"), col("grp_priority"),
          col("revenue"), col("n_orders"))
    },

    // -----------------------------------------------------------------
    // q260: CONSISTENT-HASHING movement audit — the shard-map design
    // read q239's churn audit points at: growing a MOD-hash layout from
    // N to N+1 shards remaps ~N/(N+1) of all keys (≈94% here), while a
    // hash RING (Karger et al. 1997; 16 virtual nodes per shard) moves
    // only the keys in the arcs the new shard claims (≈1/(N+1) ≈ 6%) —
    // the difference between re-uploading a 100 TB corpus and touching
    // one shard's worth. Both strategies measured on the same doc-hash
    // stream: ring assignment is successor-on-the-circle, evaluated as
    // a PURE PROJECTION — the ring is a driver literal array (packed
    // pos·32+shard so position ties break to the smaller shard
    // identically in both engines) and the successor is
    // array_min(transform(...)) with wrap handled by adding one full
    // cycle; no join, no shuffle until the 1-row agg. All-integer until
    // the two readout divisions.
    // -----------------------------------------------------------------
    "q260_consistent_hashing" -> { (s, dir) =>
      val cycle = 65536L * 32L
      def assign(ring: Seq[Long], h: Column): Column = {
        val arr = array(ring.map(lit): _*)
        (array_min(transform(arr, p =>
          when(shiftright(p, 5) >= h, p).otherwise(p + cycle)))
          % cycle) % 32L
      }
      val h = graft.functions.HexKeys.value16(
        md5(concat(lit("ch|"), col("doc_id").cast(StringType))))
      val a = Tables(s, dir).documents.select(col("doc_id"), h.as("h"))
        .select(col("doc_id"),
                assign(ringPacked(RingNodesBefore), col("h")).as("ring_before"),
                assign(ringPacked(RingNodesAfter), col("h")).as("ring_after"),
                (col("h") % RingNodesBefore.toLong).as("mod_before"),
                (col("h") % RingNodesAfter.toLong).as("mod_after"))
      val g = a.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("ring_before") =!= col("ring_after"), 1L).otherwise(0L))
          .as("moved_ring"),
        sum(when(col("mod_before") =!= col("mod_after"), 1L).otherwise(0L))
          .as("moved_mod"))
      g.select(lit("ring").as("strategy"), col("n_docs"),
               col("moved_ring").as("n_moved"))
        .unionAll(g.select(lit("mod").as("strategy"), col("n_docs"),
                           col("moved_mod").as("n_moved")))
        .withColumn("moved_frac",
          col("n_moved").cast(DoubleType) / col("n_docs").cast(DoubleType))
    },

    // -----------------------------------------------------------------
    // q257: POISSON-BOOTSTRAP confidence interval — uncertainty
    // quantification for a corpus statistic (mean document length) in
    // ONE pass, the resampling scheme that works when the data can't be
    // materialized B times (Chamandy et al., "Estimating Uncertainty
    // for Massive Data Streams", Google 2012): each of B = 20
    // replicates gives every doc an i.i.d. Poisson(1) multiplicity, so
    // a replicate behaves like a bootstrap resample without shuffling
    // or copying anything. Determinism: the multiplicity is a pure
    // md5('boot|r|doc') function — a 16-bit slice compared against the
    // PRECOMPUTED Poisson(1) CDF thresholds [[PoissonThresholds]]
    // (driver literals, identical in the oracle), weights ∈ {0..4}
    // (P(W>4) < 0.4%, folded into 4 — same truncation both engines).
    // Per-replicate sums are exact integers; replicate means quantize
    // to 1e-9; the across-replicate mean/stddev ride DECIMAL power sums
    // (partition-order-free); the CI is the standard ±1.96·sd/√B.
    // Scale shape: a constant B× lattice explode over one scan,
    // partial+final per-replicate aggs to 20 rows, then one 1-row agg.
    // -----------------------------------------------------------------
    "q257_poisson_bootstrap" -> { (s, dir) =>
      val b = 20
      val d = Tables(s, dir).documents
        .select(col("doc_id"), col("n_chars").cast(LongType).as("n_chars"))
      val lat = d.select(col("doc_id"), col("n_chars"),
        explode(lit((1L to b.toLong).toArray)).as("r"))
      val u = graft.functions.HexKeys.value16(
        md5(concat(lit("boot|"), col("r").cast(StringType), lit("|"),
                   col("doc_id").cast(StringType))))
      val Seq(t0, t1, t2, t3) = PoissonThresholds
      val wt = when(u < t0, 0L).when(u < t1, 1L).when(u < t2, 2L)
        .when(u < t3, 3L).otherwise(4L)
      val rep = lat.select(col("r"), col("n_chars"), wt.as("wt"))
        .groupBy(col("r"))
        .agg(sum(col("wt")).as("n_eff"),
             sum(col("wt") * col("n_chars")).as("sum_len"))
        .select(col("r"),
          q9(col("sum_len").cast(DoubleType) / col("n_eff").cast(DoubleType)).as("mean_r"))
      import graft.functions.Exact
      val a = rep.agg(
        count(lit(1)).as("n_replicates"),
        Exact.avgExact(col("mean_r"), 9).as("mean_of_means"),
        Exact.stddevSampExact(col("mean_r"), 9).as("stddev_means"))
      a.select(col("n_replicates"), col("mean_of_means"), col("stddev_means"),
        (col("mean_of_means") -
          lit(1.96) * col("stddev_means") / sqrt(lit(b.toDouble))).as("ci_lo"),
        (col("mean_of_means") +
          lit(1.96) * col("stddev_means") / sqrt(lit(b.toDouble))).as("ci_hi"))
    },

    // -----------------------------------------------------------------
    // q253: PIVOT — the wide-matrix reshaping the OLAP family lacked
    // (rollup/cube/grouping-sets aggregate DOWN the lattice; pivot
    // rotates a dimension into columns): per language, token volume by
    // source as 20 fixed columns (src0..src19 — the synthetic corpus's
    // CLOSED source set at every SF). The value list is EXPLICIT, which
    // is the 100 TB-safe form: Spark's implicit pivot first runs a
    // distinct-values job over the corpus, while an explicit list makes
    // pivot ONE partial+final aggregation (each cell a conditional sum,
    // map-side combined) — same shape as a 20-way conditional-agg
    // projection, no extra pass, no shuffle beyond the groupBy. Absent
    // cells are explicit 0s (not engine-dependent NULLs).
    // -----------------------------------------------------------------
    "q253_pivot_matrix" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val toks = d.select(col("lang"), col("source"),
        size(graft.functions.Text.tokens(col("text"))).cast(LongType)
          .as("n_tokens"))
      val srcs = (0 until 20).map(i => s"src$i")
      toks.groupBy(col("lang"))
        .pivot("source", srcs)
        .agg(sum(col("n_tokens")))
        .select(col("lang") +:
          srcs.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
    },

    // -----------------------------------------------------------------
    // q254: UNPIVOT/MELT — the inverse reshaping: lineitem's four
    // numeric measures rotated into (measure, value) long form and
    // profiled per measure (count / decimal-exact sum / min / max — the
    // schema-profiling read over a wide fact table). The melt is a
    // scan-local stack expression (4 rows per input row, no shuffle
    // until the 4-group agg); the decimal sums keep the DOUBLE readout
    // partition-order-free.
    // -----------------------------------------------------------------
    "q254_unpivot_measures" -> { (s, dir) =>
      val li = Tables(s, dir).lineitem
      val long = li.select(expr(
        """stack(4,
          |  'quantity', l_quantity,
          |  'extendedprice', l_extendedprice,
          |  'discount', l_discount,
          |  'tax', l_tax) AS (measure, value)""".stripMargin))
      long.groupBy(col("measure"))
        .agg(count(col("value")).as("n_values"),
             sumExact(col("value")).as("sum_value"),
             min(col("value")).as("min_value"),
             max(col("value")).as("max_value"))
    },

    // -----------------------------------------------------------------
    // q261: CUBE — the remaining aggregation-lattice form next to
    // ROLLUP (q46, hierarchy prefixes) and GROUPING SETS (q65, explicit
    // lattice): all 2² subsets of (orderstatus, priority) in ONE
    // partial+final pass with grouping flags disambiguating real NULLs
    // from subtotal rows. Same decimal-exact revenue so every subtotal
    // hash-gates.
    // -----------------------------------------------------------------
    "q261_cube" -> { (s, dir) =>
      Tables(s, dir).orders
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping(col("o_orderstatus")).cast(LongType).as("grp_status"),
             grouping(col("o_orderpriority")).cast(LongType).as("grp_priority"),
             sumExact(col("o_totalprice")).as("revenue"),
             count(lit(1)).as("n_orders"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
          col("grp_status"), col("grp_priority"),
          col("revenue"), col("n_orders"))
    },

    // Full ranking-window family on one ordered partition (the reference
    // uses only rank()).
    "q47_window_family" -> { (s, dir) =>
      val t = Tables(s, dir)
      val rev = t.orders
        .groupBy(col("o_custkey"),
                 year(col("o_orderdate")).cast(LongType).as("reference_year"))
        .agg(sumExact(col("o_totalprice")).as("revenue"))
      val w = Window.partitionBy(col("reference_year"))
        .orderBy(col("revenue").desc_nulls_last, col("o_custkey"))
      rev.select(
        col("o_custkey"), col("reference_year"), col("revenue"),
        rank().over(w).cast(LongType).as("rnk"),
        dense_rank().over(w).cast(LongType).as("dense_rnk"),
        row_number().over(w).cast(LongType).as("row_num"),
        ntile(4).over(w).cast(LongType).as("quartile"),
        cume_dist().over(w).as("cume_dist_frac"),
        percent_rank().over(w).as("pct_rank_frac"))
    },

    // Set operations over customer activity: ordered-in-1995 vs
    // ordered-in-1996 (UNION / INTERSECT / EXCEPT are absent from the
    // reference's SQL entirely).
    "q48_set_ops" -> { (s, dir) =>
      val o  = Tables(s, dir).orders
      def buyers(y: Int) = o.filter(year(col("o_orderdate")) === y)
        .select(col("o_custkey")).distinct()
      // Each buyer set feeds union + intersect + except; Catalyst does not
      // dedupe common subtrees, so without a cut this is 6 scans of orders
      // for a 2-scan job. The cut is the distinct sets (tiny: custkeys).
      val (a, b) = buyerSets(s, dir)(
        (graft.core.Materialize.cut(buyers(1995), buyerSets.name),
         graft.core.Materialize.cut(buyers(1996), buyerSets.name)))
      a.union(b).distinct().withColumn("set_op", lit("union"))
        .unionByName(a.intersect(b).withColumn("set_op", lit("intersect")))
        .unionByName(a.except(b).withColumn("set_op", lit("except")))
    },

    // Pivot: average order price per nation × order-priority bucket as
    // columns (conditional-aggregation form keeps the oracle portable).
    "q49_pivot" -> { (s, dir) =>
      val t = Tables(s, dir)
      val base = t.orders
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("o_orderpriority"), col("o_totalprice"))
      def avgFor(p: String) = {
        val n = count(when(col("o_orderpriority") === p, lit(1)))
        when(n > 0,
          sum(when(col("o_orderpriority") === p, dec(col("o_totalprice")))).cast(DoubleType) /
            n.cast(DoubleType))
      }
      base.groupBy(col("n_name").as("nation_name"))
        .agg(
          avgFor("1-URGENT").as("avg_urgent"),
          avgFor("2-HIGH").as("avg_high"),
          avgFor("3-MEDIUM").as("avg_medium"),
          avgFor("4-NOT SPECIFIED").as("avg_not_specified"),
          avgFor("5-LOW").as("avg_low"))
    },

    // One-pass table profiler (quality.Profiler): per-column null
    // counts, exact distincts, and ranges for events — numeric ranges as
    // DOUBLE, string ranges as VARCHAR (separate columns: numeric→string
    // cast formatting is engine-specific and would break parity).
    "q114_table_profile" -> { (s, dir) =>
      graft.quality.Profiler.profile(
        Tables(s, dir).events,
        Seq("event_id", "user_id", "event_type", "value", "props"))
    },

    // q114's 100 TB sibling (round-7 advice #7): the SAME one-pass
    // profile with approxDistinct=true — per-column KMV sketches
    // (graftx.KmvDistinct, k=64) instead of the exact multi-column
    // countDistinct, so the plan carries NO Expand (PlanQualitySpec
    // asserts it) and per-column state is O(k) at any scale. `value` is
    // cast to DECIMAL(18,2) first: the sketch hashes each value's string
    // form, and decimal formatting is engine-portable where raw-double
    // formatting is not (the events value contract is ≤2 decimals).
    "q136_profile_kmv" -> { (s, dir) =>
      graft.quality.Profiler.profile(
        Tables(s, dir).events
          .withColumn("value", col("value").cast(DecimalType(18, 2))),
        Seq("event_id", "user_id", "event_type", "value", "props"),
        approxDistinct = true)
    },

    // Skew-salted join, oracle-gated (round-6 verdict #4 promoted
    // Warehouse.saltedJoinSides from spec-only to a gated query): a
    // pathologically skewed key — 'hot' on 50% of events — joins a
    // per-key dim through the salted sides, so the hot key's rows spread
    // over SaltBuckets reducers instead of one (PlanQualitySpec asserts
    // the salted exchange + spread; the oracle hash-pins that salting
    // never changes results). The shuffle_hash hint forces a real
    // shuffle join — broadcasting the dim would vacuously "fix" the skew
    // this query exists to exercise; at 100 TB the build side is a
    // data-sized table, not a 98-row fixture.
    "q106_salted_skew_join" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir).events
      val left = e.select(
        col("event_id"),
        when(col("event_id") % 2 === 0, lit("hot"))
          .otherwise(concat(lit("k"), (col("event_id") % 97).cast(StringType)))
          .as("k"),
        col("value"))
      val dim = ("hot" +: (0 until 97).map(i => s"k$i")).toDF("k")
        .withColumn("grp", substring(md5(col("k")), 1, 4))
      val (sl, sr, keys) = graft.sources.Warehouse.saltedJoinSides(
        left, dim, "k", saltBuckets = SaltBuckets)
      sl.join(sr.hint("shuffle_hash"), keys)
        .groupBy(col("k"), col("grp"))
        .agg(count(lit(1)).as("n_events"),
             sumExact(col("value"), 6).as("value_sum"))
    },

    // -----------------------------------------------------------------
    // q218: Z-ORDER (Morton) data layout — the lakehouse data-skipping
    // primitive for multi-dimension range probes. Interleaving the bits
    // of two 8-bit grid coordinates (customer, order day) gives every
    // file a TIGHT min/max bounding box in BOTH dimensions, so parquet
    // footer stats prune range probes on EITHER key — a single-key sort
    // layout prunes only its own key and scans everything for the other.
    // The operator emits exactly what data skipping reads: per-file row
    // counts + min/max of both dims, plus two audit flags — would this
    // file be scanned for a mid-range probe on custkey alone / on day
    // alone (file hit ⇔ its bound overlaps the probe band). 100 TB
    // shape: one bounds agg (1 row, broadcast back), then the grid/z/
    // file assignment is a pure integer projection (zero shuffle) and
    // the per-file stats a partial+final agg over ≤ 2^6 file ids; in
    // production `file_id` is the repartitionByRange key the writer
    // sorts by before emitting parquet. All arithmetic is BIGINT
    // (integer DIV and bit ops; the one epoch/86400 floor is exact in
    // double), so the oracle replays it bit-for-bit.
    // -----------------------------------------------------------------
    // -----------------------------------------------------------------
    // q242: BLOOM SEMI-JOIN reduction audit — the runtime-filter planner
    // read: before shuffling a 100 TB fact side into a join, fold the
    // (filtered) build side's keys into a constant-size Bloom filter,
    // probe the fact rows map-side, and measure what the filter would
    // save. Here: urgent orders (the build) against every lineitem row
    // (the probe) — the audit reports probe rows, bloom-pass rows, true
    // matches, false positives, the measured FP rate among true
    // negatives, and the pass fraction (the shuffle-volume multiplier a
    // planner compares against the filter's broadcast cost). Spark's own
    // runtime filters do this opaquely; this operator is the EXPLICIT,
    // engine-reproducible form: m = 2^20 bits (32768 BIGINT words — a
    // broadcast constant at any build size), k = 4 Kirsch–Mitzenmacher
    // positions (h1 + j·h2) mod 2^20 from two 32-bit md5 slices (q83's
    // derivation widened — 2^16 bits saturates past ~10k keys), so the
    // ESTIMATE hash-gates. No false negatives by construction (every
    // true match passes), so the semi-join is safe to apply, and the FP
    // rate is the measured (1 − e^{−kn/m})^k. Scale shape: bloom build =
    // one partial+final bit_or agg to ≤32768 rows; the probe keeps the
    // fact stream UNSHUFFLED (4 plain position columns, each resolved by
    // a broadcast word join — the q83 probe discipline); the truth join
    // rides the same broadcast build keys; one final 1-row agg. The
    // truth column is the audit's point — a production semi-join applies
    // the bloom WITHOUT it.
    // -----------------------------------------------------------------
    "q242_bloom_semijoin" -> { (s, dir) =>
      val t = Tables(s, dir)
      // layout/arithmetic shared with the streaming word-table leg via
      // operators.Bloom (same md5 slices, positions, word packing)
      import graft.operators.Bloom
      val build = t.orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("k")).distinct()
      val bloom = Bloom.words(build, "k")
      val probe = t.lineitem.select(col("l_orderkey").as("k"))
        .select(col("k") +: Bloom.positions(col("k")).zipWithIndex
          .map { case (c, j) => c.as(s"p_$j") }: _*)
      val probed = (0 until 4).foldLeft(probe) { (df, j) =>
        df.withColumn(s"wi_$j", floor(col(s"p_$j") / 32).cast(LongType))
          .join(broadcast(bloom.select(col("word_idx").as(s"wi_$j"),
                                       col("words").as(s"w_$j"))),
                Seq(s"wi_$j"), "left")
      }
      val passAll = (0 until 4).map { j =>
        coalesce(col(s"w_$j"), lit(0L))
          .bitwiseAND(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(p_$j % 32 AS INT))")) =!= 0L
      }.reduce(_ && _)
      val counts = probed
        .join(broadcast(build.select(col("k"), lit(true).as("__m"))), Seq("k"), "left")
        .agg(count(lit(1)).as("n_probe_rows"),
             sum(when(passAll, 1L).otherwise(0L)).as("n_pass_bloom"),
             sum(when(col("__m"), 1L).otherwise(0L)).as("n_true_match"),
             sum(when(passAll && col("__m").isNull, 1L).otherwise(0L))
               .as("n_false_positive"))
      counts
        .crossJoin(broadcast(build.agg(count(lit(1)).as("n_build_keys"))))
        .select(col("n_probe_rows"), col("n_build_keys"), col("n_pass_bloom"),
                col("n_true_match"), col("n_false_positive"),
                when(col("n_probe_rows") - col("n_true_match") > 0L,
                     col("n_false_positive").cast(DoubleType) /
                       (col("n_probe_rows") - col("n_true_match")).cast(DoubleType))
                  .as("fp_rate"),
                (col("n_pass_bloom").cast(DoubleType) /
                  col("n_probe_rows").cast(DoubleType)).as("pass_frac"))
    },

    "q218_zorder_layout" -> { (s, dir) =>
      val o = ZOrder.prep(Tables(s, dir).orders)
      val bounds = ZOrder.bounds(o)
      ZOrder.withProbeFlags(
        ZOrder.fileStats(ZOrder.assign(o, bounds)), bounds)
    },

    // -----------------------------------------------------------------
    // q220: INCREMENTAL z-order stats maintenance — q218 under the
    // build-once/merge-deltas discipline (the q215/q198/q204 split).
    // File min/max/count stats are ASSOCIATIVE, which is exactly why
    // real lakehouses maintain them incrementally: the base stats table
    // (≤64 rows, persisted WITH its grid bounds — the probe must bucket
    // deltas on the build-time grid, the q215 stored-bounds contract)
    // merges with delta-batch stats by a union + re-agg over ≤128 rows.
    // The delta pass scans ONLY delta rows; the base fact table is never
    // rescanned. n_delta_rows rides along so the gate can see the
    // delta-proportional work. Gated against a one-shot restatement
    // under the SAME frozen bounds (a union-refit would re-grid).
    // -----------------------------------------------------------------
    "q220_zorder_incremental" -> { (s, dir) =>
      val idx = zorderStatsIndex(s, dir)
      // the stored bounds are constant columns on every stats row
      val bounds = broadcast(idx.groupBy()
        .agg(max(col("ck_min")).as("ck_min"), max(col("ck_max")).as("ck_max"),
             max(col("day_min")).as("day_min"), max(col("day_max")).as("day_max")))
      val delta = ZOrder.prep(
        Tables(s, dir).orders.filter(col("o_orderkey") % 2 === 1))
      val dStats = ZOrder.fileStats(ZOrder.assign(delta, bounds))
        .withColumn("n_delta", col("n_rows"))
      val bStats = idx.select(col("file_id"), col("n_rows"), col("min_ck"),
                              col("max_ck"), col("min_day"), col("max_day"))
        .withColumn("n_delta", lit(0L))
      val merged = bStats.unionByName(dStats)
        .groupBy(col("file_id"))
        .agg(sum(col("n_rows")).as("n_rows"),
             min(col("min_ck")).as("min_ck"), max(col("max_ck")).as("max_ck"),
             min(col("min_day")).as("min_day"), max(col("max_day")).as("max_day"),
             sum(col("n_delta")).as("n_delta_rows"))
      ZOrder.withProbeFlags(merged, bounds)
    })

  /** q106's salt fan-out (PlanQualitySpec asserts the hot key spreads
    * across this many buckets).
    */
  val SaltBuckets = 8

  /** q218's Morton interleave, generated once for both engines so the
    * bit arithmetic cannot drift: z = Σ_i (x_i << 2i) + (y_i << 2i+1)
    * over the 8-bit grid coordinates. `fileShift` keeps the top 6 z bits
    * → ≤ 64 file ids.
    */
  private[graft] object ZOrder {
    val gridBits  = 8
    val fileShift = 10
    private def terms(shl: (String, Int) => String,
                      shr: (String, Int) => String): String =
      (0 until gridBits).map { i =>
        s"(${shl(s"(${shr("xg", i)} & 1)", 2 * i)} + ${shl(s"(${shr("yg", i)} & 1)", 2 * i + 1)})"
      }.mkString(" + ")
    val sparkZ: String =
      terms((e, n) => s"shiftleft($e, $n)", (e, n) => s"shiftright($e, $n)")
    val duckZ: String =
      terms((e, n) => s"($e << $n)", (e, n) => s"($e >> $n)")

    /** (ck, day) projection of orders — day via calendar truncation
      * (NTZ → date is TZ-independent in both engines, unlike an epoch
      * cast). [[prepKeyed]] keeps o_orderkey for the streaming leg's
      * redelivery guard.
      */
    def prepKeyed(orders: DataFrame): DataFrame =
      orders.select(
        col("o_orderkey"),
        col("o_custkey").cast(LongType).as("ck"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast(LongType).as("day"))

    def prep(orders: DataFrame): DataFrame =
      prepKeyed(orders).drop("o_orderkey")

    def bounds(o: DataFrame): DataFrame =
      o.agg(min(col("ck")).as("ck_min"), max(col("ck")).as("ck_max"),
            min(col("day")).as("day_min"), max(col("day")).as("day_max"))

    /** Grid/interleave/file assignment under the GIVEN bounds — a pure
      * integer projection after the 1-row bounds broadcast.
      */
    def assign(o: DataFrame, boundsDf: DataFrame): DataFrame =
      o.crossJoin(broadcast(boundsDf))
        .withColumn("xg", expr("((ck - ck_min) * 256) DIV (ck_max - ck_min + 1)"))
        .withColumn("yg", expr("((day - day_min) * 256) DIV (day_max - day_min + 1)"))
        .withColumn("zval", expr(sparkZ))
        .withColumn("file_id", expr(s"shiftright(zval, $fileShift)"))

    def fileStats(assigned: DataFrame): DataFrame =
      assigned.groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_rows"),
             min(col("ck")).as("min_ck"), max(col("ck")).as("max_ck"),
             min(col("day")).as("min_day"), max(col("day")).as("max_day"))

    /** Attach the two mid-range-probe audit flags; any extra stats
      * columns (q220's n_delta_rows) ride through untouched.
      */
    def withProbeFlags(stats: DataFrame, boundsDf: DataFrame): DataFrame =
      stats.crossJoin(broadcast(boundsDf))
        .withColumn("hit_ck_probe",
          expr("max_ck >= ck_min + ((ck_max - ck_min + 1) * 7) DIV 16 AND " +
               "min_ck <= ck_min + ((ck_max - ck_min + 1) * 8) DIV 16 - 1"))
        .withColumn("hit_day_probe",
          expr("max_day >= day_min + ((day_max - day_min + 1) * 7) DIV 16 AND " +
               "min_day <= day_min + ((day_max - day_min + 1) * 8) DIV 16 - 1"))
        .drop("ck_min", "ck_max", "day_min", "day_max")
  }

  private val zIdxCache = new Artifact[DataFrame]("q220_zstats")

  /** q220's persisted base stats: per-file min/max/count over the EVEN
    * o_orderkey half, with the base grid bounds stored as constant
    * columns on every row (the q215 stored-bounds contract — delta
    * batches must bucket on the build-time grid, not refit it).
    */
  private def zorderStatsIndex(s: SparkSession, dir: String): DataFrame =
    zIdxCache.table(s, dir)(graft.sources.Warehouse.writeTable) {
      val base = ZOrder.prep(
        Tables(s, dir).orders.filter(col("o_orderkey") % 2 === 0))
      val b = ZOrder.bounds(base)
      ZOrder.fileStats(ZOrder.assign(base, b)).crossJoin(broadcast(b))
    }

  val oracles: Map[String, String] = Map(
    // q242: identical md5 32-bit K–M slices mod 2^20, identical word/mask
    // arithmetic, same 4 LEFT JOIN probes, same guarded final divisions.
    "q242_bloom_semijoin" -> {
      val hk = graft.functions.HexKeys
      val M = 1048576L
      def posSql(j: Int) = s"(h1 + $j * h2) % $M"
      def maskSql(p: String) = s"(CAST(1 AS BIGINT) << CAST($p % 32 AS INTEGER))"
      s"""WITH build AS (
         |  SELECT DISTINCT o_orderkey AS k FROM orders
         |  WHERE o_orderpriority = '1-URGENT'),
         |bh AS (SELECT k, md5('bsj|' || CAST(k AS VARCHAR)) AS hex FROM build),
         |bp AS (SELECT k, ${hk.value32Sql(0)} % $M AS h1,
         |              ${hk.value32Sql(8)} % $M AS h2 FROM bh),
         |ps AS (SELECT ((h1 + j * h2) % $M) AS p
         |       FROM bp, (SELECT unnest([0, 1, 2, 3]) AS j)),
         |bw AS (SELECT p // 32 AS word_idx, bit_or(${maskSql("p")}) AS words
         |       FROM ps GROUP BY 1),
         |ph AS (SELECT l_orderkey AS k,
         |              md5('bsj|' || CAST(l_orderkey AS VARCHAR)) AS hex
         |       FROM lineitem),
         |pp AS (SELECT k, ${hk.value32Sql(0)} % $M AS h1,
         |              ${hk.value32Sql(8)} % $M AS h2 FROM ph),
         |px AS (SELECT k, ${(0 until 4).map(j => s"${posSql(j)} AS p_$j").mkString(", ")}
         |       FROM pp),
         |jn AS (
         |  SELECT px.*, ${(0 until 4).map(j => s"w$j.words AS w_$j").mkString(", ")},
         |         (b.k IS NOT NULL) AS m
         |  FROM px
         |  ${(0 until 4).map(j => s"LEFT JOIN bw w$j ON w$j.word_idx = px.p_$j // 32").mkString("\n|  ")}
         |  LEFT JOIN build b ON b.k = px.k),
         |c AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_probe_rows,
         |    CAST(sum(CASE WHEN ${(0 until 4).map(j =>
                 s"(coalesce(w_$j, 0) & ${maskSql(s"p_$j")}) <> 0").mkString(" AND ")}
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_bloom,
         |    CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match,
         |    CAST(sum(CASE WHEN ${(0 until 4).map(j =>
                 s"(coalesce(w_$j, 0) & ${maskSql(s"p_$j")}) <> 0").mkString(" AND ")}
         |                  AND NOT m THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positive
         |  FROM jn),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_build_keys FROM build)
         |SELECT n_probe_rows, n_build_keys, n_pass_bloom, n_true_match,
         |  n_false_positive,
         |  CASE WHEN n_probe_rows - n_true_match > 0
         |       THEN CAST(n_false_positive AS DOUBLE)
         |            / CAST(n_probe_rows - n_true_match AS DOUBLE) END AS fp_rate,
         |  CAST(n_pass_bloom AS DOUBLE) / CAST(n_probe_rows AS DOUBLE) AS pass_frac
         |FROM c CROSS JOIN nb""".stripMargin
    },

    // q260: identical ring literal lists, successor arithmetic, and
    // readout divisions.
    "q260_consistent_hashing" -> {
      val cycle = 65536L * 32L
      def assignSql(ring: Seq[Long]): String =
        s"(list_min(list_transform([${ring.mkString(", ")}], " +
          s"p -> CASE WHEN (p >> 5) >= h THEN p ELSE p + $cycle END)) " +
          s"% $cycle) % 32"
      s"""WITH d AS (
         |  SELECT doc_id, ${graft.functions.HexKeys.value16Sql()} AS h
         |  FROM (SELECT doc_id, md5('ch|' || CAST(doc_id AS VARCHAR)) AS hex
         |        FROM documents)),
         |a AS (
         |  SELECT doc_id,
         |    ${assignSql(ringPacked(RingNodesBefore))} AS ring_before,
         |    ${assignSql(ringPacked(RingNodesAfter))} AS ring_after,
         |    h % $RingNodesBefore AS mod_before,
         |    h % $RingNodesAfter AS mod_after
         |  FROM d),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN ring_before <> ring_after THEN 1 ELSE 0 END)
         |         AS BIGINT) AS moved_ring,
         |    CAST(sum(CASE WHEN mod_before <> mod_after THEN 1 ELSE 0 END)
         |         AS BIGINT) AS moved_mod
         |  FROM a)
         |SELECT 'ring' AS strategy, n_docs, moved_ring AS n_moved,
         |  CAST(moved_ring AS DOUBLE) / CAST(n_docs AS DOUBLE) AS moved_frac
         |FROM g
         |UNION ALL
         |SELECT 'mod', n_docs, moved_mod,
         |  CAST(moved_mod AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |FROM g""".stripMargin
    },

    // q257: same md5 slice vs the identical threshold literals, exact
    // integer replicate sums, quantized means, DECIMAL power-sum
    // stddev, same CI expression order.
    "q257_poisson_bootstrap" -> {
      val Seq(t0, t1, t2, t3) = PoissonThresholds
      s"""WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents),
         |lat AS (
         |  SELECT d.doc_id, d.n_chars, r.r
         |  FROM d CROSS JOIN
         |    (SELECT CAST(unnest(range(1, 21)) AS BIGINT) AS r) r),
         |h AS (
         |  SELECT r, n_chars,
         |    md5('boot|' || CAST(r AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)) AS hex
         |  FROM lat),
         |w AS (
         |  SELECT r, n_chars,
         |    CASE WHEN u < $t0 THEN 0 WHEN u < $t1 THEN 1
         |         WHEN u < $t2 THEN 2 WHEN u < $t3 THEN 3 ELSE 4 END AS wt
         |  FROM (SELECT r, n_chars, ${graft.functions.HexKeys.value16Sql()} AS u
         |        FROM h)),
         |rep AS (
         |  SELECT r, CAST(sum(wt) AS BIGINT) AS n_eff,
         |         CAST(sum(wt * n_chars) AS BIGINT) AS sum_len
         |  FROM w GROUP BY 1),
         |m AS (
         |  SELECT r,
         |    floor(CAST(sum_len AS DOUBLE) / CAST(n_eff AS DOUBLE) * 1e9 + 0.5)
         |      / 1e9 AS mean_r
         |  FROM rep),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_replicates,
         |    CAST(sum(CAST(mean_r AS DECIMAL(18,9))) AS DOUBLE)
         |      / CAST(count(mean_r) AS DOUBLE) AS mean_of_means,
         |    CASE WHEN count(mean_r) > 1 THEN
         |      sqrt(greatest(0.0,
         |        (CAST(count(mean_r) AS DOUBLE)
         |           * CAST(sum(CAST(mean_r AS DECIMAL(18,9))
         |                      * CAST(mean_r AS DECIMAL(18,9))) AS DOUBLE)
         |         - CAST(sum(CAST(mean_r AS DECIMAL(18,9))) AS DOUBLE)
         |           * CAST(sum(CAST(mean_r AS DECIMAL(18,9))) AS DOUBLE))
         |        / (CAST(count(mean_r) AS DOUBLE)
         |           * (CAST(count(mean_r) AS DOUBLE) - 1.0))))
         |    END AS stddev_means
         |  FROM m)
         |SELECT n_replicates, mean_of_means, stddev_means,
         |  mean_of_means - 1.96 * stddev_means / sqrt(20.0) AS ci_lo,
         |  mean_of_means + 1.96 * stddev_means / sqrt(20.0) AS ci_hi
         |FROM a""".stripMargin
    },

    // q253: conditional-aggregation restatement of the explicit-list
    // pivot — per (lang, source) cell one conditional sum, absent cells
    // exact 0s.
    "q253_pivot_matrix" -> {
      val cells = (0 until 20).map { i =>
        s"CAST(coalesce(sum(CASE WHEN source = 'src$i' THEN n_tokens END), 0) AS BIGINT) AS src$i"
      }.mkString(",\n        |  ")
      s"""WITH t AS (
        |  SELECT lang, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT lang,
        |  $cells
        |FROM t GROUP BY lang""".stripMargin
    },

    // q254: UNION ALL melt legs, identical decimal-exact sums.
    "q254_unpivot_measures" ->
      """WITH long AS (
        |  SELECT 'quantity' AS measure, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'tax', l_tax FROM lineitem)
        |SELECT measure, CAST(count(value) AS BIGINT) AS n_values,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM long GROUP BY measure""".stripMargin,

    "q46_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region_name,
        |  coalesce(n_name, 'ALL') AS nation_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,
    "q65_grouping_sets" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS mktsegment,
        |  coalesce(o_orderpriority, 'ALL') AS orderpriority,
        |  CAST(GROUPING(c_mktsegment) AS BIGINT) AS grp_segment,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS grp_priority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority), (c_mktsegment), (o_orderpriority), ())""".stripMargin,

    // q261: the same lattice arithmetic via CUBE.
    "q261_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
        |  coalesce(o_orderpriority, 'ALL') AS orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS grp_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS grp_priority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q47_window_family" ->
      """WITH rev AS (
        |  SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS reference_year,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_custkey, reference_year, revenue,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS dense_rnk,
        |  CAST(row_number() OVER w AS BIGINT) AS row_num,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  cume_dist() OVER w AS cume_dist_frac,
        |  percent_rank() OVER w AS pct_rank_frac
        |FROM rev
        |WINDOW w AS (PARTITION BY reference_year ORDER BY revenue DESC NULLS LAST, o_custkey)""".stripMargin,
    "q48_set_ops" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |SELECT o_custkey, 'union' AS set_op FROM (SELECT * FROM a UNION SELECT * FROM b)
        |UNION ALL
        |SELECT o_custkey, 'intersect' FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL
        |SELECT o_custkey, 'except' FROM (SELECT * FROM a EXCEPT SELECT * FROM b)""".stripMargin,
    "q49_pivot" ->
      """SELECT n_name AS nation_name,
        |  CASE WHEN COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) > 0
        |       THEN CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |            / CAST(COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS DOUBLE) END AS avg_urgent,
        |  CASE WHEN COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) > 0
        |       THEN CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |            / CAST(COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS DOUBLE) END AS avg_high,
        |  CASE WHEN COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) > 0
        |       THEN CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |            / CAST(COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS DOUBLE) END AS avg_medium,
        |  CASE WHEN COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) > 0
        |       THEN CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |            / CAST(COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS DOUBLE) END AS avg_not_specified,
        |  CASE WHEN COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) > 0
        |       THEN CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |            / CAST(COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS DOUBLE) END AS avg_low
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q114_table_profile" -> {
      def num(c: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
           |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
           |FROM events""".stripMargin
      def str(c: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           |  min($c) AS min_str, max($c) AS max_str
           |FROM events""".stripMargin
      Seq(num("event_id"), num("user_id"), str("event_type"),
          num("value"), str("props")).mkString("\nUNION ALL\n")
    },
    // q66's KMV arithmetic per profiled column: first 32 bits of md5 of
    // the value's canonical string, distinct hashes ranked, estimate
    // (k−1)·2³² / h_k (or the exact held count when fewer than k) —
    // identical on both engines because every step is integer/md5
    // arithmetic. `value` hashes via its DECIMAL(18,2) string form on
    // both sides.
    "q136_profile_kmv" -> {
      // 32-bit big-endian value of the first 8 hex digits of md5(sv);
      // BIGINT cast BEFORE the scale multiply — digit * 16^7 overflows
      // INT32 (q66-oracle discipline)
      val hv = (0 until 8).map { j =>
        s"CAST(${graft.functions.HexKeys.digitSql(j)} AS BIGINT) * ${1L << (4 * (7 - j))}"
      }.mkString("(", " + ", ")")
      def block(c: String, sv: String, numeric: Boolean) = {
        val (minNum, maxNum, minStr, maxStr) =
          if (numeric)
            (s"CAST(min($c) AS DOUBLE)", s"CAST(max($c) AS DOUBLE)",
             "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
          else
            ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
             s"min($c)", s"max($c)")
        s"""SELECT '$c' AS "column",
           |  (SELECT count(*) FROM events) AS n_rows,
           |  (SELECT CAST(count(*) - count($c) AS BIGINT) FROM events) AS n_nulls,
           |  (WITH h AS (
           |     SELECT DISTINCT $hv AS hvv FROM
           |       (SELECT md5($sv) AS hex FROM events WHERE $c IS NOT NULL)),
           |   ranked AS (
           |     SELECT hvv, row_number() OVER (ORDER BY hvv) AS rn,
           |            count(*) OVER () AS nh FROM h)
           |   SELECT CASE WHEN max(nh) < 64 THEN CAST(max(nh) AS DOUBLE)
           |               ELSE 63 * 4294967296.0
           |                    / CAST(max(CASE WHEN rn = 64 THEN hvv END) AS DOUBLE) END
           |   FROM ranked) AS n_distinct_est,
           |  (SELECT $minNum FROM events) AS min_num,
           |  (SELECT $maxNum FROM events) AS max_num,
           |  (SELECT $minStr FROM events) AS min_str,
           |  (SELECT $maxStr FROM events) AS max_str""".stripMargin
      }
      Seq(
        block("event_id", "CAST(event_id AS VARCHAR)", numeric = true),
        block("user_id", "CAST(user_id AS VARCHAR)", numeric = true),
        block("event_type", "event_type", numeric = false),
        block("value", "CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR)", numeric = true),
        block("props", "props", numeric = false)).mkString("\nUNION ALL\n")
    },
    // the UNSALTED join: salting must be result-invariant
    "q106_salted_skew_join" ->
      """WITH left_side AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 2 = 0 THEN 'hot'
        |         ELSE 'k' || CAST(event_id % 97 AS VARCHAR) END AS k,
        |    value
        |  FROM events),
        |dim AS (
        |  SELECT k, substring(md5(k), 1, 4) AS grp FROM (
        |    SELECT 'hot' AS k
        |    UNION ALL
        |    SELECT 'k' || CAST(unnest(range(97)) AS VARCHAR)))
        |SELECT k, grp, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM left_side JOIN dim USING (k)
        |GROUP BY 1, 2""".stripMargin,

    // Same integer grid/interleave arithmetic (ZOrder.duckZ is generated
    // from the one term builder the Spark expr uses); // is DuckDB's
    // integer DIV.
    "q218_zorder_layout" ->
      s"""WITH o AS (
         |  SELECT o_custkey AS ck,
         |         CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day
         |  FROM orders),
         |b AS (SELECT min(ck) AS ck_min, max(ck) AS ck_max,
         |             min(day) AS day_min, max(day) AS day_max FROM o),
         |g AS (
         |  SELECT ck, day,
         |         ((ck - ck_min) * 256) // (ck_max - ck_min + 1) AS xg,
         |         ((day - day_min) * 256) // (day_max - day_min + 1) AS yg
         |  FROM o CROSS JOIN b),
         |z AS (SELECT ck, day, (${ZOrder.duckZ}) AS zval FROM g),
         |f AS (SELECT ck, day, (zval >> ${ZOrder.fileShift}) AS file_id FROM z),
         |agg AS (
         |  SELECT file_id, count(*) AS n_rows,
         |         min(ck) AS min_ck, max(ck) AS max_ck,
         |         min(day) AS min_day, max(day) AS max_day
         |  FROM f GROUP BY 1)
         |SELECT file_id, n_rows, min_ck, max_ck, min_day, max_day,
         |  (max_ck >= ck_min + ((ck_max - ck_min + 1) * 7) // 16 AND
         |   min_ck <= ck_min + ((ck_max - ck_min + 1) * 8) // 16 - 1) AS hit_ck_probe,
         |  (max_day >= day_min + ((day_max - day_min + 1) * 7) // 16 AND
         |   min_day <= day_min + ((day_max - day_min + 1) * 8) // 16 - 1) AS hit_day_probe
         |FROM agg CROSS JOIN b""".stripMargin,

    // One-shot restatement of the incremental merge under the SAME
    // frozen grid: bounds come from the EVEN (base) half only, stats
    // aggregate over everything, n_delta_rows counts the odd half.
    "q220_zorder_incremental" ->
      s"""WITH o AS (
         |  SELECT o_orderkey, o_custkey AS ck,
         |         CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day
         |  FROM orders),
         |b AS (SELECT min(ck) AS ck_min, max(ck) AS ck_max,
         |             min(day) AS day_min, max(day) AS day_max
         |      FROM o WHERE o_orderkey % 2 = 0),
         |g AS (
         |  SELECT o_orderkey, ck, day,
         |         ((ck - ck_min) * 256) // (ck_max - ck_min + 1) AS xg,
         |         ((day - day_min) * 256) // (day_max - day_min + 1) AS yg
         |  FROM o CROSS JOIN b),
         |z AS (SELECT o_orderkey, ck, day, (${ZOrder.duckZ}) AS zval FROM g),
         |f AS (SELECT o_orderkey, ck, day, (zval >> ${ZOrder.fileShift}) AS file_id FROM z),
         |agg AS (
         |  SELECT file_id, count(*) AS n_rows,
         |         min(ck) AS min_ck, max(ck) AS max_ck,
         |         min(day) AS min_day, max(day) AS max_day,
         |         CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_rows
         |  FROM f GROUP BY 1)
         |SELECT file_id, n_rows, min_ck, max_ck, min_day, max_day, n_delta_rows,
         |  (max_ck >= ck_min + ((ck_max - ck_min + 1) * 7) // 16 AND
         |   min_ck <= ck_min + ((ck_max - ck_min + 1) * 8) // 16 - 1) AS hit_ck_probe,
         |  (max_day >= day_min + ((day_max - day_min + 1) * 7) // 16 AND
         |   min_day <= day_min + ((day_max - day_min + 1) * 8) // 16 - 1) AS hit_day_probe
         |FROM agg CROSS JOIN b""".stripMargin)
}
