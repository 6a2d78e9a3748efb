package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.model._
import org.apache.spark.graftbus.Listeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DAG runner + materializer semantics: topo order, concurrent scheduling,
  * incremental high-watermark upsert, SCD2 snapshot merge, contract
  * enforcement.
  */
class RunnerSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir() = Files.createTempDirectory("graft-runner").toString
  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t1 = Timestamp.valueOf("2024-02-01 00:00:00")

  /** Blocks a model's transform until `latch` opens, failing the model if
    * it stays shut for 30 s (a serial runner never opens it).
    */
  private def await(latch: CountDownLatch, what: String): Unit =
    if (!latch.await(30, TimeUnit.SECONDS))
      throw new IllegalStateException(s"timed out waiting for $what")

  /** A transform for `n` sibling models that only returns once all `n`
    * are inside it at the same time.
    */
  private def meeting(n: Int): DataFrame => DataFrame = {
    val arrived = new CountDownLatch(n)
    df => { arrived.countDown(); await(arrived, s"$n siblings to overlap"); df }
  }

  test("topoOrder resolves dependencies; cycles are rejected") {
    val r = new Runner(spark, tmpDir(), t0, "run0")
    val ms = Seq(
      Model("c", Seq("b"))(d => d("b")),
      Model("a", Seq())(d => spark.range(1).toDF()),
      Model("b", Seq("a"))(d => d("a")))
    assert(r.topoOrder(ms).map(_.name) == Seq("a", "b", "c"))
    val cyc = Seq(Model("x", Seq("y"))(d => d("y")),
                  Model("y", Seq("x"))(d => d("x")))
    intercept[IllegalArgumentException](r.topoOrder(cyc))
  }

  test("incremental materializer appends only rows past the watermark, upserted by key") {
    val wh = tmpDir()
    def runWith(data: Seq[(String, String, Double)], runId: String) = {
      val r = new Runner(spark, wh, t0, runId)
      val df = data.toDF("k", "d", "v").withColumn("d", col("d").cast(DateType))
      r.run(Seq(Model("inc", Seq("src"),
        Materialization.Incremental("k", "d"))(deps => deps("src"))),
        Map("src" -> df))("inc")
    }
    val first = runWith(Seq(("a", "2024-01-01", 1.0), ("b", "2024-01-02", 2.0)), "r1")
    assert(first.count() == 2)
    // second run: one late row (skipped — watermark), one duplicate key past
    // watermark (skipped — unique key), one genuinely new row (appended)
    val second = runWith(Seq(
      ("a", "2024-01-01", 1.0),       // unchanged
      ("z", "2023-12-31", 9.0),       // LATE: behind watermark → skipped (reference semantics)
      ("b", "2024-01-05", 5.0),       // same key past watermark → anti-joined away
      ("c", "2024-01-03", 3.0)), "r2")
    val rows = second.orderBy("k").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    assert(rows.find(_.getString(0) == "b").get.getDouble(2) == 2.0) // original kept
  }

  test("time travel: every table rewrite stays readable at its version; retention expires the tail") {
    val wh = tmpDir()
    def runWith(data: Seq[(String, Double)], runId: String) = {
      val r = new Runner(spark, wh, t0, runId)
      r.run(Seq(Model("t", Seq("src"),
        Materialization.Table)(deps => deps("src"))),
        Map("src" -> data.toDF("k", "v")))
      r
    }
    runWith(Seq(("a", 1.0)), "v1run")
    val r = runWith(Seq(("a", 2.0), ("b", 3.0)), "v2run")
    val versions = r.listVersions("t")
    assert(versions.size == 2, s"expected 2 versions, got $versions")
    assert(r.currentVersion("t").contains(versions.last))
    // both points in time readable, each exactly as materialized
    assert(r.readTableAt("t", versions.head).collect()
      .map(x => (x.getString(0), x.getDouble(1))).toSeq == Seq(("a", 1.0)))
    assert(r.readTableAt("t", versions.last).count() == 2)
    assert(r.readTable("t").count() == 2) // pointer still serves the latest
    // retention keeps the newest `keep`, never the pointer target
    val expired = r.expireVersions("t", keep = 1)
    assert(expired == Seq(versions.head))
    assert(r.listVersions("t") == Seq(versions.last))
    assert(r.readTable("t").count() == 2) // current unaffected
    intercept[IllegalArgumentException](r.readTableAt("t", versions.head))
    intercept[IllegalArgumentException](r.expireVersions("t", keep = 0))
    // unknown version fails loudly, naming what exists
    val e = intercept[IllegalArgumentException](r.readTableAt("t", "v_nope"))
    assert(e.getMessage.contains(versions.last))
  }

  test("diffVersions: added/removed/changed rows, null-safe, schema-widening-safe") {
    val wh = tmpDir()
    def runWith(df: org.apache.spark.sql.DataFrame, runId: String) = {
      val r = new Runner(spark, wh, t0, runId)
      r.run(Seq(Model("t", Seq("src"),
        Materialization.Table)(deps => deps("src"))), Map("src" -> df))
      r
    }
    import org.apache.spark.sql.functions.{col, lit}
    val v1 = Seq(("a", Some(1.0)), ("b", None), ("c", Some(3.0)), ("d", Some(4.0)))
      .toDF("k", "v")
    // v2: a changed, b null→value (must read as changed, not equal),
    // c dropped, e added; plus a WIDENED column w (null for everyone —
    // absent-vs-null must not flag unchanged d)
    val v2 = Seq(("a", Some(9.0)), ("b", Some(0.0)), ("d", Some(4.0)), ("e", Some(5.0)))
      .toDF("k", "v")
      .withColumn("w", lit(null).cast("string"))
    runWith(v1, "r1")
    val r = runWith(v2, "r2")
    val Seq(vOld, vNew) = r.listVersions("t")
    val got = r.diffVersions("t", vOld, vNew, Seq("k")).collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    // d is value-identical and its widened column w is null ⇒ absent≡null
    // keeps it OUT of the diff; b's null→0.0 is a real change
    assert(got == Map("a" -> "changed", "b" -> "changed",
                      "c" -> "removed", "e" -> "added"), s"got $got")
    intercept[IllegalArgumentException](
      r.diffVersions("t", vOld, vNew, Seq("nope")))
  }

  test("a failed rewrite leaves the _VERSION pointer and served data intact") {
    val wh = tmpDir()
    val r1 = new Runner(spark, wh, t0, "ok")
    r1.run(Seq(Model("t", Seq("src"), Materialization.Table)(d => d("src"))),
      Map("src" -> Seq(("a", 1.0)).toDF("k", "v")))
    val v1 = r1.currentVersion("t").get
    // second run fails MID-WRITE (an executor-side throw during the new
    // version's parquet job) — the pointer must still serve v1, because
    // the swap happens only after a successful write
    val boom = org.apache.spark.sql.functions.udf { (x: Double) =>
      if (x > 0) throw new RuntimeException("boom"); x
    }
    val r2 = new Runner(spark, wh, t0, "fail")
    intercept[Exception] {
      r2.run(Seq(Model("t", Seq("src"), Materialization.Table)(d =>
        d("src").withColumn("v", boom(col("v"))))),
        Map("src" -> Seq(("b", 2.0)).toDF("k", "v")))
    }
    val r3 = new Runner(spark, wh, t0, "check")
    assert(r3.currentVersion("t").contains(v1), "pointer moved despite failed write")
    val rows = r3.readTable("t").collect().map(x => (x.getString(0), x.getDouble(1)))
    assert(rows.toSeq == Seq(("a", 1.0)), "served data changed despite failed write")
  }

  test("incremental batch carrying duplicate keys writes one row per key, latest watermark wins") {
    val wh = tmpDir()
    val r  = new Runner(spark, wh, t0, "dup")
    val df = Seq(
      ("a", "2024-01-01", 1.0),
      ("a", "2024-01-03", 3.0),  // later watermark → must be the survivor
      ("a", "2024-01-02", 2.0),
      ("b", "2024-01-01", 9.0))
      .toDF("k", "d", "v").withColumn("d", col("d").cast(DateType))
      .repartition(3) // dupes spread across partitions: pick must be layout-independent
    val out = r.run(Seq(Model("inc", Seq("src"),
      Materialization.Incremental("k", "d"))(deps => deps("src"))),
      Map("src" -> df))("inc")
    val rows = out.orderBy("k").collect()
    assert(rows.length == 2)
    assert(rows.head.getString(0) == "a" && rows.head.getDouble(2) == 3.0)
  }

  test("snapshot materializer runs SCD2: insert / update closes old version / hard delete") {
    val wh = tmpDir()
    def snap(data: Seq[(String, Double)], asOf: Timestamp) = {
      val r = new Runner(spark, wh, asOf, "s")
      r.run(Seq(Model("snap", Seq("src"),
        Materialization.Snapshot("k", Seq("v")))(deps => deps("src"))),
        Map("src" -> data.toDF("k", "v")))("snap")
    }
    snap(Seq(("a", 1.0), ("b", 2.0)), t0)
    val v2 = snap(Seq(("a", 1.5), ("c", 3.0)), t1) // a changed, b deleted, c new
    val rows = v2.select("k", "v", "dbt_valid_from", "dbt_valid_to")
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)))).toSet
    assert(rows == Set(
      ("a", 1.0, t0, Some(t1)),   // closed old version
      ("a", 1.5, t1, None),       // new current version
      ("b", 2.0, t0, Some(t1)),   // hard delete → invalidated
      ("c", 3.0, t1, None)))      // fresh insert
  }

  test("on_schema_change=append_new_columns widens the target; ignore keeps it frozen") {
    // append_new_columns (fct_economic_indicators.sql:5): a widened
    // upstream adds the column, old rows read back null-filled, no crash.
    val wh = tmpDir()
    def runInc(df: org.apache.spark.sql.DataFrame, runId: String,
               osc: Materialization.OnSchemaChange) = {
      val r = new Runner(spark, wh, t0, runId)
      r.run(Seq(Model("inc", Seq("src"),
        Materialization.Incremental("k", "d", osc))(deps => deps("src"))),
        Map("src" -> df))("inc")
    }
    val base = Seq(("a", "2024-01-01", 1.0)).toDF("k", "d", "v")
      .withColumn("d", col("d").cast(DateType))
    runInc(base, "r1", Materialization.OnSchemaChange.AppendNewColumns)
    val widened = Seq(("b", "2024-01-02", 2.0, "extra")).toDF("k", "d", "v", "note")
      .withColumn("d", col("d").cast(DateType))
    val out = runInc(widened, "r2", Materialization.OnSchemaChange.AppendNewColumns)
    assert(out.columns.toSet == Set("k", "d", "v", "note"))
    val byK = out.collect().map(r => r.getString(0) -> Option(r.getAs[String]("note"))).toMap
    assert(byK == Map("a" -> None, "b" -> Some("extra"))) // old row null-filled

    // ignore (dbt default): the extra column is dropped, target stays frozen
    val wh2 = tmpDir()
    def runIgnore(df: org.apache.spark.sql.DataFrame, runId: String) = {
      val r = new Runner(spark, wh2, t0, runId)
      r.run(Seq(Model("inc", Seq("src"),
        Materialization.Incremental("k", "d"))(deps => deps("src"))),
        Map("src" -> df))("inc")
    }
    runIgnore(base, "r1")
    val out2 = runIgnore(widened, "r2")
    assert(out2.columns.toSet == Set("k", "d", "v"))
  }

  test("run logs a row count per table-backed model (log_row_count port)") {
    val r = new Runner(spark, tmpDir(), t0, "lg")
    r.run(Seq(
      Model("t1", Seq("src"), Materialization.Table)(d => d("src")),
      Model("v1", Seq("t1"))(d => d("t1"))), // view → not logged
      Map("src" -> Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v")))
    assert(r.auditLog.toSeq == Seq("Row count for t1: 2"))

    // The count comes from the write itself; it must equal a read-back
    // count for every table-backed materializer: first writes, an
    // incremental append and a snapshot merge, then an append of nothing.
    val wh = tmpDir()
    def runAll(rows: Seq[(String, String, Double)], asOf: Timestamp, runId: String): Unit = {
      val src = rows.toDF("k", "d", "v").withColumn("d", col("d").cast(DateType))
      val r = new Runner(spark, wh, asOf, runId)
      val names = Seq("inc", "snap", "tab")
      r.run(Seq(
        Model("inc", Seq("src"), Materialization.Incremental("k", "d"))(d => d("src")),
        Model("snap", Seq("src"), Materialization.Snapshot("k", Seq("v")))(d => d("src")),
        Model("tab", Seq("src"), Materialization.Table)(d => d("src"))),
        Map("src" -> src))
      assert(r.auditLog.toSeq ==
        names.map(n => s"Row count for $n: ${r.readTable(n).count()}"), runId)
    }
    runAll(Seq(("a", "2024-01-01", 1.0), ("b", "2024-01-02", 2.0)), t0, "c1")
    val second = Seq(("a", "2024-01-01", 1.5), ("b", "2024-01-02", 2.0), ("c", "2024-01-03", 3.0))
    runAll(second, t1, "c2")
    runAll(second, Timestamp.valueOf("2024-03-01 00:00:00"), "c3")
  }

  test("audit count(*) decodes no columns: the scan's pruned ReadSchema is empty") {
    // The audit line counts rows as they are written, with no extra job.
    // Re-counting a model afterwards (`readTable(name).count()`, as the
    // log_row_count spec does) launches a job but reads only row-group
    // metadata — visible in the plan as an empty pruned read schema
    // (struct<>).
    val r = new Runner(spark, tmpDir(), t0, "lp")
    r.run(Seq(Model("t2", Seq("src"), Materialization.Table)(d => d("src"))),
      Map("src" -> Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v")))
    val counted = r.readTable("t2").groupBy().count()
    counted.collect()
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<>"),
      s"audit count decodes column data:\n$plan")
  }

  test("independent models run concurrently, up to defaultParallelism at a time") {
    assert(spark.sparkContext.defaultParallelism >= 3)
    val meet = meeting(3)
    val r = new Runner(spark, tmpDir(), t0, "par")
    val out = r.run(
      Seq("left", "middle", "right").map(n =>
        Model(n, Seq("src"), Materialization.Table)(d => meet(d("src")))),
      Map("src" -> Seq(("a", 1.0)).toDF("k", "v")))
    assert(Seq("left", "middle", "right").forall(out(_).count() == 1))
  }

  test("every job of a concurrent run carries the caller's job group and local properties") {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("<none>")
        seen.add((prop("spark.jobGroup.id"), prop("graft.spec.tag"), e.stageInfos.map(_.name).mkString))
      }
    }
    // Two runs with different tags: the second run's jobs must carry the
    // second tag, so worker threads may not outlive the run that made them.
    def runTagged(tag: String): Seq[(String, String, String)] = {
      Listeners.drain(sc)
      seen.clear()
      sc.setJobGroup(s"group-$tag", "runner spec")
      sc.setLocalProperty("graft.spec.tag", tag)
      try {
        val meet = meeting(2)
        new Runner(spark, tmpDir(), t0, s"props-$tag").run(Seq(
          Model("left", Seq("src"), Materialization.Table)(d => meet(d("src"))),
          Model("right", Seq("src"), Materialization.Incremental("k", "d"))(d => meet(d("src"))),
          Model("after", Seq("left", "right"), Materialization.Table)(d =>
            d("left").unionByName(d("right")).groupBy("k").agg(max("v").as("v")))),
          Map("src" -> Seq(("a", "2024-01-01", 1.0)).toDF("k", "d", "v")
            .withColumn("d", col("d").cast(DateType))))
      } finally {
        sc.clearJobGroup()
        sc.setLocalProperty("graft.spec.tag", null)
      }
      Listeners.drain(sc)
      seen.asScala.toSeq
    }
    sc.addSparkListener(listener)
    try {
      Seq("one", "two").foreach { tag =>
        val jobs = runTagged(tag)
        assert(jobs.nonEmpty)
        val stray = jobs.filterNot { case (g, t, _) => g == s"group-$tag" && t == tag }
        assert(stray.isEmpty, s"jobs without the caller's properties: $stray")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("a failing model rethrows its own exception; dependents never start, independent models commit") {
    val wh = tmpDir()
    val r = new Runner(spark, wh, t0, "fail")
    val wrong = Contract(StructType(Seq(StructField("k", IntegerType))))
    val childStarted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[ContractViolation] {
      r.run(Seq(
        Model("a_bad", Seq("src"), Materialization.Table, Some(wrong))(d => d("src")),
        Model("b_child", Seq("a_bad"), Materialization.Table)(d => {
          childStarted.set(true); d("a_bad")
        }),
        Model("c_sibling", Seq("src"), Materialization.Table)(d => d("src")),
        // fails too, but later in topo order: its exception is not the one rethrown
        Model("d_bad", Seq("src"), Materialization.Table)(_ =>
          throw new IllegalStateException("d_bad"))),
        Map("src" -> Seq(("a", 1.0)).toDF("k", "v")))
    }
    assert(e.model == "a_bad")
    assert(!childStarted.get)
    assert(!Files.exists(Paths.get(wh, "b_child")))
    val check = new Runner(spark, wh, t0, "check")
    assert(check.exists("c_sibling"))
    assert(check.readTable("c_sibling").count() == 1)
    assert(r.auditLog.toSeq == Seq("Row count for c_sibling: 1"))
  }

  test("auditLog comes out in topo order whatever order the models finish in") {
    // a_slow is first in topo order but finishes last: it waits until
    // c_after, which starts only once b_fast is committed, is running.
    val cStarted = new CountDownLatch(1)
    val r = new Runner(spark, tmpDir(), t0, "order")
    r.run(Seq(
      Model("a_slow", Seq("src"), Materialization.Table)(d => {
        await(cStarted, "c_after to start"); d("src").limit(1)
      }),
      Model("b_fast", Seq("src"), Materialization.Table)(d => d("src")),
      Model("c_after", Seq("b_fast"), Materialization.Table)(d => {
        cStarted.countDown(); d("b_fast").limit(2)
      })),
      Map("src" -> Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("k", "v")))
    assert(r.auditLog.toSeq == Seq(
      "Row count for a_slow: 1", "Row count for b_fast: 3", "Row count for c_after: 2"))
  }

  test("generate_schema_name routes non-prod targets to env-prefixed schemas") {
    val wh = tmpDir()
    val dev = new Runner(spark, wh, t0, "sr", env = "dev")
    assert(dev.schemaName("analytics") == "dev_analytics")
    dev.run(Seq(Model("m", Seq("src"), Materialization.Table,
      customSchema = Some("analytics"))(d => d("src"))),
      Map("src" -> Seq(("a", 1.0)).toDF("k", "v")))
    assert(Files.exists(java.nio.file.Paths.get(wh, "dev_analytics", "m", "_VERSION")))
    val prod = new Runner(spark, wh, t0, "sr2", env = "prod")
    assert(prod.schemaName("analytics") == "analytics")
    // a FRESH runner (no run() yet) must still resolve the custom-schema
    // relation on disk
    val fresh = new Runner(spark, wh, t0, "sr3", env = "dev")
    assert(fresh.exists("m"))
    assert(fresh.readTable("m").count() == 1)
  }

  test("contract enforcement rejects schema drift and constraint violations") {
    val r = new Runner(spark, tmpDir(), t0, "c")
    val good = StructType(Seq(StructField("k", StringType), StructField("v", DoubleType)))
    val df = Seq(("a", 1.0), ("a", 2.0)).toDF("k", "v")
    // schema ok, unique violated
    intercept[ContractViolation] {
      r.run(Seq(Model("m", Seq("src"), Materialization.Table,
        Some(Contract(good, uniqueKeys = Seq(Seq("k")))))(d => d("src"))),
        Map("src" -> df))
    }
    // schema mismatch
    intercept[ContractViolation] {
      r.run(Seq(Model("m2", Seq("src"), Materialization.Table,
        Some(Contract(StructType(Seq(StructField("k", IntegerType))))))(d => d("src"))),
        Map("src" -> df))
    }
    // passing contract materializes
    val ok = r.run(Seq(Model("m3", Seq("src"), Materialization.Table,
      Some(Contract(good, notNull = Seq("k"))))(d => d("src"))),
      Map("src" -> df))("m3")
    assert(ok.count() == 2)
  }

  test("contract data checks read the frame once and report each violation as before") {
    val schema = StructType(Seq(StructField("k", StringType), StructField("v", DoubleType)))
    val rows = Seq(("a", 1.0), ("a", 2.0), (null, 3.0), (null, 4.0), ("b", 5.0))
    // every evaluation of the frame adds its row count
    val reads = spark.sparkContext.longAccumulator("contract-reads")
    val df = rows.toDF("k", "v").as[(String, Double)]
      .map { r => reads.add(1); r }.toDF("k", "v")
    def enforce(c: Contract): Option[String] = {
      reads.reset()
      val detail =
        try { Contract.enforce("m", df, c); None }
        catch { case e: ContractViolation => Some(e.detail) }
      assert(reads.value == rows.size,
        s"enforce read the frame ${reads.value.toDouble / rows.size} times for $c")
      detail
    }
    // not-null violations first, in declaration order
    assert(enforce(Contract(schema, notNull = Seq("v", "k"), uniqueKeys = Seq(Seq("v"))))
      .contains("2 null rows in not-null column k"))
    // groups a and NULL repeat; v is unique
    assert(enforce(Contract(schema, notNull = Seq("v"), uniqueKeys = Seq(Seq("v"), Seq("k"))))
      .contains("2 duplicate groups on key (k)"))
    assert(enforce(Contract(schema, uniqueKeys = Seq(Seq("k", "v")))).isEmpty)
    assert(enforce(Contract(schema, notNull = Seq("v"))).isEmpty)
  }

  test("persisted index marts (q139/q141) satisfy the IVF index contract; violations throw") {
    val dir = "/root/testdata/sf0.001"
    // building the indexes runs the contract enforcement inline — a
    // violation would have thrown out of the serve below; re-assert the
    // read-back tables explicitly so the spec fails even if a future
    // refactor drops the inline check
    graft.queries.VectorQueries.ivfServe(spark, dir, col("vec_id") === 3, 2).count()
    graft.queries.VectorQueries.ivfServeIncremental(spark, dir, col("vec_id") === 3, 2).count()
    val c = graft.queries.VectorQueries.IvfIndexContract
    Contract.enforce("q139_readback",
      spark.table(graft.queries.VectorQueries.ivfIndexTable(spark, dir)), c)
    Contract.enforce("q141_readback",
      spark.table(graft.queries.VectorQueries.ivfIncTable(spark, dir)), c)
    // violations: null centroid_id, then a duplicated vec_id
    val base = spark.table(graft.queries.VectorQueries.ivfIndexTable(spark, dir))
    intercept[ContractViolation] {
      Contract.enforce("nulls", base.withColumn("centroid_id",
        when(col("vec_id") === 0, lit(null)).otherwise(col("centroid_id"))
          .cast("long")), c)
    }
    intercept[ContractViolation] {
      Contract.enforce("dups", base.unionByName(base.limit(1)), c)
    }
  }
}
