package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable

import graft.SparkEntry
import graft.core.{Sessions, Tables}
import graft.model.Runner
import graft.models.{EurostatModels, TestdataRaw}
import graft.quality.Checks
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side. `run.py` generates the inputs, writes a plan
  * file (`key=value` lines) and reads back the raw samples this program
  * writes as JSON; the statistics are computed there.
  *
  * Usage: `perfbench.Main <plan-file>` or `perfbench.Main pin <corpus> <out>`.
  */
object Main {

  /** The family file that defines a registry query: the object its
    * function literal was compiled in (`graft.queries.TextQueries$$Lambda…`
    * → `TextQueries`).
    */
  def family(name: String): String =
    SparkEntry.queries(name).getClass.getName.stripPrefix("graft.queries.").takeWhile(_ != '$')

  def main(args: Array[String]): Unit = args.toList match {
    case "pin" :: corpus :: out :: names if names.nonEmpty => pin(corpus, out, names)
    case planFile :: Nil => run(Plan.read(planFile))
    case _ =>
      System.err.println("usage: perfbench.Main <plan-file> | pin <corpus-dir> <out-json> <query>...")
      sys.exit(2)
  }

  final case class Plan(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"plan has no '$k'"))
    def list(k: String): Seq[String] = kv.get(k).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    def int(k: String): Int = apply(k).toInt
  }
  object Plan {
    def read(file: String): Plan = Plan(Files.readAllLines(Paths.get(file)).toArray(Array.empty[String])
      .filter(_.contains('=')).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap)
  }

  def session(cpus: Int, rec: Recorder = new Recorder): SparkSession = {
    val spark = Sessions.local(cpus, "perfbench")
    rec.mark("spark_context")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  def run(plan: Plan): Unit = {
    val rec = new Recorder
    rec.marks("jvm_start") = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    rec.mark("main")
    val spark = session(plan.int("cpus"), rec)
    rec.mark("session")
    val traced = plan("trace") == "1"
    val trace = if (traced) Some(new Trace(spark.sparkContext)) else None
    def attach(on: Boolean): Unit = trace.foreach { t =>
      if (on) { spark.sparkContext.addSparkListener(t); spark.listenerManager.register(t) }
      else { spark.sparkContext.removeSparkListener(t); spark.listenerManager.unregister(t) }
    }
    val layers = mutable.LinkedHashMap[String, Double]()
    attach(traced)
    trace.foreach(t => tablesResolve(spark, plan("corpus"), t, rec))
    attach(false)
    val wl = plan("workload") match {
      case "dag_refresh" => new DagRefresh(spark, plan, rec)
      case "build_cold"  => new BuildCold(spark, plan, rec)
      case other => sys.error(s"unknown workload $other")
    }
    wl.setup()
    rec.firstOpEpochMs = System.currentTimeMillis()
    val seconds = plan.int("seconds")
    val t0 = System.nanoTime()
    var cycle = 0
    var tracedCycles = 0
    // A traced run first runs one unrecorded cycle, so the JVM's warm-up
    // does not land on a traced cycle; then it alternates traced and
    // untraced cycles and ends on a traced one, so a linear drift cancels
    // out of the overhead. The per-layer numbers come from traced cycles.
    val warmup = if (traced) 1 else 0
    while (cycle < warmup + wl.minCycles(traced) || (System.nanoTime() - t0) / 1e9 < seconds ||
        (traced && (cycle - warmup) % 2 == 0)) {
      val on = traced && cycle >= warmup && (cycle - warmup) % 2 == 0
      attach(on)
      val wall = wl.cycle(cycle, trace.filter(_ => on))
      attach(false)
      if (cycle >= warmup) wall.foreach(w => rec.sample(if (on) "traced_cycle_s" else "cycle_s", w))
      if (on) {
        tracedCycles += 1
        trace.foreach(t => wl.collect(t.harvest()))
      }
      cycle += 1
    }
    if (traced) layers ++= wl.layers(tracedCycles)
    wl.teardown()
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    Files.writeString(Paths.get(plan("out")), rec.json(heapMb, layers, spark.version))
    spark.stop()
  }

  /** `Tables.table` timed alone, once per corpus table (samples
    * `tables.resolve_ms`). */
  def tablesResolve(spark: SparkSession, corpus: String, trace: Trace, rec: Recorder): Unit = {
    val names = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    trace.enter("tables")
    names.foreach { n =>
      val t0 = System.nanoTime(); Tables(spark, corpus).table(n)
      rec.sample("tables.resolve_ms", (System.nanoTime() - t0) / 1e6)
    }
    trace.harvest()
  }

  /** Calls each named query on `corpus` in a fresh session, cold then
    * warm, and writes `{name: {"count": n}}`, the counts `expected.json`
    * pins. Fails unless both calls return the same count. Logs each
    * query's cold and warm wall, its cold call's jobs and the operator
    * files they were attributed to on stderr.
    */
  def pin(corpus: String, out: String, names: Seq[String]): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors())
    val trace = new Trace(spark.sparkContext)
    spark.sparkContext.addSparkListener(trace)
    val rows = names.map { n =>
      val s = spark.newSession()
      def call(): (Long, Double, Map[String, Double]) = {
        trace.enter("pin")
        val t0 = System.nanoTime()
        val c = SparkEntry.queries(n)(s, corpus).count()
        (c, (System.nanoTime() - t0) / 1e9, trace.harvest())
      }
      val (cold, coldS, jobs) = call()
      val (warm, warmS, _) = call()
      require(cold == warm, s"$n: cold count $cold, warm count $warm")
      val ops = Trace.OpsFiles.map(f => f -> jobs.getOrElse(s"pin|ops.$f.n", 0.0).toInt).filter(_._2 > 0)
      System.err.println(f"[pin] $n count=$cold cold_s=$coldS%.2f warm_s=$warmS%.2f " +
        f"jobs=${jobs.getOrElse("pin|jobs.n", 0.0).toInt} ops=${ops.mkString(",")}")
      s"""${Json.str(n)}: {"count": $cold}"""
    }
    Files.writeString(Paths.get(out), rows.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}

/** Raw samples, attempts and failures of one run. */
final class Recorder {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val failures = mutable.ArrayBuffer[String]()
  val marks = mutable.LinkedHashMap[String, Long]()
  var attempted = 0
  var firstOpEpochMs = 0L

  /** Stamps the end of a set-up step (epoch ms), for the detail line. */
  def mark(step: String): Unit = marks(step) = System.currentTimeMillis()

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** Runs one op and checks its output. A throw or a failed check counts
    * as a failure and records no timing; otherwise returns the result, its
    * wall time and the JVM's CPU time over it (all threads), in seconds.
    */
  def op[T](label: String)(body: => T)(check: T => Option[String]): Option[(T, Double, Double)] = {
    attempted += 1
    val (t0, c0) = (System.nanoTime(), Recorder.cpuNanos())
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpu = (Recorder.cpuNanos() - c0) / 1e9
    val verdict = res match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) => try check(v) catch { case e: Throwable => Some(s"check threw ${e.getMessage}") }
    }
    verdict match {
      case Some(why) =>
        failures += s"$label: ${why.take(300)}"
        None
      case None => res.toOption.map(v => (v, secs, cpu))
    }
  }

  def json(heapMb: Double, layers: collection.Map[String, Double], sparkVersion: String): String = {
    val ss = samples.map { case (k, v) => s"${Json.str(k)}:[${v.mkString(",")}]" }.mkString("{", ",", "}")
    val ls = layers.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":${failures.size},"failures":[${failures.map(Json.str).mkString(",")}],""" +
      s""""first_op_epoch_ms":$firstOpEpochMs,"heap_retained_mb":$heapMb,"spark_version":${Json.str(sparkVersion)},""" +
      s""""marks":${marks.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")},""" +
      s""""samples":$ss,"layers":$ls}"""
  }
}

object Recorder {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM process: unlike wall time, it does not grow
    * when the host lends this machine's CPUs to other guests (steal). */
  def cpuNanos(): Long = os.getProcessCpuTime
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** One workload: an untimed set-up, then timed cycles. */
trait Workload {
  def setup(): Unit
  /** Runs timed cycle `i`; returns its wall in seconds unless an op failed. */
  def cycle(i: Int, trace: Option[Trace]): Option[Double]
  /** Least cycles per run; traced runs need traced, untraced, traced. */
  def minCycles(traced: Boolean): Int = if (traced) 3 else 1
  /** Folds one traced cycle's counters in. */
  def collect(counters: Map[String, Double]): Unit = {
    counters.foreach { case (k, v) => acc(k) = acc.getOrElse(k, 0.0) + v }
  }
  def layers(tracedCycles: Int): Seq[(String, Double)] = Layers.fromCounters(acc.toMap, tracedCycles) ++ extra(tracedCycles)
  def extra(tracedCycles: Int): Seq[(String, Double)] = Nil
  def teardown(): Unit = ()
  protected val acc = mutable.Map[String, Double]()
}

object Layers {
  val Timed = Set("runner", "checks", "construct", "action")

  /** Per-cycle layer metrics from bucketed trace counters (`bucket|key`). */
  def fromCounters(c: Map[String, Double], cycles: Int): Seq[(String, Double)] = {
    val n = math.max(cycles, 1).toDouble
    def sum(key: String, buckets: Set[String] = Timed): Double =
      c.collect { case (k, v) if buckets(k.takeWhile(_ != '|')) && k.dropWhile(_ != '|').drop(1) == key => v }.sum / n
    Seq(
      "tables.jobs" -> sum("site.Tables.n"),
      "materialize.jobs" -> sum("site.Materialize.n"),
      "materialize.job_ms" -> sum("site.Materialize.ms"),
      "construct.jobs" -> sum("jobs.n", Set("construct")),
      "construct.task_ms" -> sum("task_ms", Set("construct")),
      "plan.analysis_ms" -> sum("plan.analysis"),
      "plan.optimization_ms" -> sum("plan.optimization"),
      "plan.planning_ms" -> sum("plan.planning"),
      "exec.jobs" -> sum("jobs.n"),
      "exec.stages" -> sum("stages"),
      "exec.tasks" -> sum("tasks"),
      "exec.task_ms" -> sum("task_ms"),
      "exec.shuffle_bytes" -> sum("shuffle_bytes"),
      "exec.spill_bytes" -> sum("spill_bytes"),
      "exec.gc_ms" -> sum("gc_ms"),
      "runner.jobs" -> sum("jobs.n", Set("runner")),
      "runner.job_ms" -> sum("jobs.ms", Set("runner")),
      "runner.bytes_written" -> sum("bytes_written", Set("runner")),
      "checks.jobs" -> sum("jobs.n", Set("checks")),
      "checks.job_ms" -> sum("jobs.ms", Set("checks"))) ++
      Trace.OpsFiles.flatMap(f => Seq(
        s"ops.$f.jobs" -> sum(s"ops.$f.n"), s"ops.$f.job_ms" -> sum(s"ops.$f.ms")))
  }
}

/** The reference's own job: a full-refresh DAG run on a fresh warehouse,
  * the generic and singular tests, then an incremental run at a later
  * `asOf` that sees the held-back months and the revised GDP rows.
  */
final class DagRefresh(spark: SparkSession, plan: Main.Plan, rec: Recorder) extends Workload {
  private val work = plan("work")
  private val asOf1 = Timestamp.valueOf("2002-01-01 00:00:00")
  private val asOf2 = Timestamp.valueOf("2002-02-01 00:00:00")
  private val revisions: Seq[(String, String, Double)] = plan.list("revisions").map { r =>
    val Array(geo, year, f) = r.split(':'); (geo, year, f.toDouble)
  }
  private var held: Seq[String] = Nil
  private var sources1: Map[String, DataFrame] = Map.empty
  private var sources2: Map[String, DataFrame] = Map.empty
  private var whBytes = (0.0, 0.0)
  private var whFiles = 0.0

  private def monthly(name: String) = name == "raw_unemployment" || name == "raw_inflation"

  override def minCycles(traced: Boolean): Int = if (traced) 3 else 2

  def setup(): Unit = {
    val raw = TestdataRaw.sources(Tables(spark, plan("corpus"))).map { case (n, df) => n -> df.localCheckpoint() }
    rec.mark("raw_sources")
    // The monthly fact joins both monthly tables, so only months they share
    // (orders end in August 2001, shipments run three months past that)
    // reach it.
    val months = Seq("raw_unemployment", "raw_inflation")
      .map(n => raw(n).select("time_code").filter(length(col("time_code")) === 7))
      .reduce(_ intersect _).collect().map(_.getString(0)).sorted
    held = months.takeRight(plan.int("holdback")).toSeq
    val revise = revisions.foldLeft(col("value")) { case (v, (geo, year, f)) =>
      when(col("geo_code") === geo && col("time_code") === year,
        floor(col("value") * f * 100 + 0.5) / 100).otherwise(v)
    }
    raw.foreach { case (n, df) =>
      val first = if (monthly(n)) df.filter(!col("time_code").isin(held: _*)) else df
      val second = if (n == "raw_gdp") df.withColumn("value", revise) else df
      first.write.mode("overwrite").parquet(s"$work/run1/$n")
      second.write.mode("overwrite").parquet(s"$work/run2/$n")
    }
    sources1 = raw.keys.map(n => n -> spark.read.parquet(s"$work/run1/$n")).toMap
    sources2 = raw.keys.map(n => n -> spark.read.parquet(s"$work/run2/$n")).toMap
    rec.mark("run_inputs")
  }

  def cycle(i: Int, trace: Option[Trace]): Option[Double] = {
    val wh = s"$work/wh-$i"
    val (id1, id2) = (s"bench-$i-full", s"bench-$i-inc")
    trace.foreach(_.enter("runner"))
    val r1 = new Runner(spark, wh, asOf1, id1)
    val full = rec.op("dag.full_refresh")(r1.run(EurostatModels.models(asOf1, id1), sources1)) { out =>
      trace.foreach(_.enter("verify"))
      val empty = out.filter { case (n, df) => !sources1.contains(n) && df.isEmpty }.keys
      val missing = 13 - out.keys.count(n => !sources1.contains(n))
      if (empty.nonEmpty || missing != 0) Some(s"empty models ${empty.mkString(",")}, $missing missing") else None
    }
    if (full.isEmpty) return None
    val out1 = full.get._1
    whBytes = (Dirs.bytes(Paths.get(wh)), whBytes._2)
    trace.foreach(_.enter("checks"))
    val tests = rec.op("dag.tests") {
      val fct = out1("fct_economic_indicators")
      Seq(
        "unique(indicator_key)" -> Checks.unique(fct, Seq("indicator_key")).count(),
        "not_null(indicator_key)" -> Checks.notNull(fct, "indicator_key").count(),
        "relationships(country_key)" ->
          Checks.relationships(fct, "country_key", out1("dim_country"), "country_key").count(),
        "range(unemployment_rate_pct)" -> Checks.valueInRange(fct, "unemployment_rate_pct", 0, 100).count(),
        "eu_aggregate_consistency" ->
          EurostatModels.euAggregateConsistencyViolations(out1("stg_eurostat__gdp")).count())
    } { res =>
      val bad = res.filter(_._2 != 0)
      if (bad.isEmpty) None else Some(bad.map { case (t, n) => s"$t: $n violations" }.mkString("; "))
    }
    trace.foreach(_.enter("runner"))
    val r2 = new Runner(spark, wh, asOf2, id2)
    val inc = rec.op("dag.incremental")(r2.run(EurostatModels.models(asOf2, id2), sources2)) { out =>
      trace.foreach(_.enter("verify"))
      val appended = out("fct_economic_indicators").filter(col("_dbt_invocation_id") === id2)
        .select(col("indicator_key"))
      val expected = out("int_country_monthly_indicators")
        .filter(date_format(col("reference_date"), "yyyy-MM").isin(held: _*))
        .select(col("monthly_metrics_key").as("indicator_key"))
      val (na, ne) = (appended.count(), expected.count())
      val snap = out("snap_gdp_history")
      val closed = snap.filter(col("dbt_valid_to").isNotNull).count()
      val opened = snap.filter(col("dbt_valid_from") === lit(asOf2)).count()
      if (na != ne || ne == 0 || !appended.exceptAll(expected).isEmpty)
        Some(s"incremental appended $na keys, expected the $ne held-back keys")
      else if (closed != revisions.size || opened != revisions.size)
        Some(s"snapshot closed $closed / opened $opened rows, expected ${revisions.size}")
      else None
    }
    trace.foreach(_.enter("verify"))
    whBytes = (whBytes._1, Dirs.bytes(Paths.get(wh)))
    whFiles = Dirs.files(Paths.get(wh)).toDouble
    Dirs.delete(Paths.get(wh))
    for ((_, f, fc) <- full; (_, t, tc) <- tests; (_, n, nc) <- inc) yield {
      rec.sample("dag_full_refresh_s", f); rec.sample("dag_test_s", t); rec.sample("dag_incremental_s", n)
      rec.sample("cycle_cpu_s", fc + tc + nc)
      rec.sample("call_ms", f * 1000); rec.sample("call_ms", t * 1000); rec.sample("call_ms", n * 1000)
      f + t + n
    }
  }

  override def extra(tracedCycles: Int): Seq[(String, Double)] = Seq(
    "runner.files_written" -> whFiles,
    "runner.warehouse_bytes_refresh" -> whBytes._1,
    "runner.warehouse_bytes_incremental" -> whBytes._2)

  override def teardown(): Unit = Dirs.delete(Paths.get(work))
}

/** First calls of the corpus-fitted and iterative queries: each query in
  * a fresh session (cold session memos), called cold then warm. Both
  * calls must match the pinned count, so cold ≡ warm (memo ≡ fresh).
  */
final class BuildCold(spark: SparkSession, plan: Main.Plan, rec: Recorder) extends Workload {
  private val corpus = plan("corpus")
  private val order = plan.list("build")
  private val expected: Map[String, Long] = plan.list("expected").map { kv =>
    val i = kv.lastIndexOf(':'); kv.take(i) -> kv.drop(i + 1).toLong
  }.toMap
  private var constructMs = 0.0
  private val familyMs = mutable.Map[String, Double]()

  def setup(): Unit = ()

  def cycle(i: Int, trace: Option[Trace]): Option[Double] = {
    val res = order.map { q =>
      val s = spark.newSession()
      trace.foreach(s.listenerManager.register(_))
      val cold = call(s, q, trace)
      val warm = call(s, q, trace)
      (q, cold, warm)
    }
    if (trace.isDefined) res.foreach { case (q, c, w) =>
      val k = q.takeWhile(_ != '_')
      c.foreach(t => rec.sample(s"build.$k.cold_s", t._1))
      w.foreach(t => rec.sample(s"build.$k.warm_s", t._1))
    }
    if (res.forall { case (_, c, w) => c.isDefined && w.isDefined }) {
      val cold = res.map(_._2.get._1).sum
      rec.sample("build_cold_s", cold)
      rec.sample("build_warm_s", res.map(_._3.get._1).sum)
      rec.sample("cycle_cpu_s", res.map(_._2.get._2).sum)
      res.foreach { case (q, c, w) =>
        rec.sample("call_ms", c.get._1 * 1000)
        rec.sample(s"query_ms.$q.cold", c.get._1 * 1000); rec.sample(s"query_ms.$q.warm", w.get._1 * 1000)
      }
      Some(cold)
    } else None
  }

  /** (wall s, JVM CPU s) of one checked call, timed as construction (the
    * call) plus action (the count); None if it threw or its count is not
    * the pinned one. */
  private def call(s: SparkSession, name: String, trace: Option[Trace]): Option[(Double, Double)] = {
    var constructSecs = 0.0
    val res = rec.op(name) {
      trace.foreach(_.enter("construct"))
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(s, corpus)
      constructSecs = (System.nanoTime() - t0) / 1e9
      trace.foreach(_.enter("action"))
      df.count()
    } { c =>
      if (expected.get(name).contains(c)) None
      else Some(s"count $c, pinned ${expected.get(name).map(_.toString).getOrElse("none")}")
    }
    if (trace.isDefined) res.foreach { case (_, w, _) =>
      constructMs += constructSecs * 1000
      val fam = Main.family(name)
      familyMs(fam) = familyMs.getOrElse(fam, 0.0) + w * 1000
    }
    res.map { case (_, w, c) => (w, c) }
  }

  override def extra(tracedCycles: Int): Seq[(String, Double)] = {
    val n = math.max(tracedCycles, 1).toDouble
    Seq("construct.ms" -> constructMs / n) ++
      familyMs.toSeq.sortBy(_._1).map { case (f, ms) => s"family.$f.ms" -> ms / n }
  }
}

object Dirs {
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close() }

  def bytes(p: Path): Double = walk(p).filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
  def files(p: Path): Int = walk(p).count(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
  def delete(p: Path): Unit = walk(p).reverse.foreach(Files.deleteIfExists(_))
}
