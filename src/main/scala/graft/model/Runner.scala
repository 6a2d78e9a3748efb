package graft.model

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.{Executors, LinkedBlockingQueue}

import graft.functions.Macros
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

/** DAG runner: topologically orders registered models over their `deps`
  * edges and applies each model's materializer (the Spark equivalent of
  * `dbt run`, SURVEY §3.1). Planning is Catalyst's; this class only owns
  * scheduling + materialization + contract enforcement.
  *
  * Wall-clock-dependent columns are driven by the injected `asOf` clock
  * and `runId` so results are reproducible (SURVEY §7.4.4).
  */
final class Runner(
    spark: SparkSession,
    warehouseDir: String,
    val asOf: Timestamp,
    val runId: String,
    val env: String = "prod") {

  /** `generate_schema_name` port (`macros/data_quality.sql:66-73`): prod
    * targets use the model's custom schema as-is; any other target is
    * prefixed `env_` so dev runs never collide with prod relations.
    */
  def schemaName(customSchema: String): String =
    if (env == "prod") customSchema.trim else s"${env}_${customSchema.trim}"

  // name → warehouse subdirectory, recorded at materialization so
  // readTable resolves custom-schema models after a run. Concurrent: run()
  // materializes independent models on several threads, and path() fills
  // it in lazily from any of them.
  private val schemaDirs = scala.collection.concurrent.TrieMap.empty[String, String]

  /** `log_row_count` port (`macros/data_quality.sql:49-63`): one line per
    * table-backed model, in topo order, also collected for
    * inspection/alerting.
    */
  val auditLog = scala.collection.mutable.ArrayBuffer.empty[String]
  private def logRowCount(name: String, rows: Long): Unit = {
    val line = s"Row count for $name: $rows"
    auditLog += line
    // scalastyle:off println
    println(s"[graft] $line")
    // scalastyle:on println
  }

  private def path(name: String) =
    schemaDirs.get(name) match {
      case Some(schema) => s"$warehouseDir/$schema/$name"
      case None =>
        // Fresh Runner (no run() yet): a custom-schema relation from an
        // earlier run lives under warehouseDir/<schema>/<name>. Prefer the
        // default location, else scan one directory level — accepting ONLY
        // schema dirs stamped with THIS env (`_ENV` marker, written at
        // materialization), so a dev runner can never silently resolve a
        // prod relation (or vice versa); require an actual materialized
        // table (_VERSION/_SUCCESS), not a stray file. The hit is cached.
        val direct = Paths.get(warehouseDir, name)
        if (Files.exists(direct)) direct.toString
        else {
          val hit = Option(new java.io.File(warehouseDir).listFiles())
            .getOrElse(Array.empty)
            .filter(_.isDirectory)
            .sortBy(_.getName)
            .filter { d =>
              val marker = Paths.get(d.getPath, "_ENV")
              // matching env stamp, or an unstamped legacy dir (built
              // before markers existed — env can't be attributed, accept
              // for back-compat); a dir stamped with ANOTHER env is out
              if (Files.exists(marker)) Files.readString(marker).trim == env else true
            }
            .map(d => (d.getName, new java.io.File(d, name)))
            .find { case (_, t) =>
              new java.io.File(t, "_VERSION").exists || new java.io.File(t, "_SUCCESS").exists
            }
          hit.foreach { case (schema, _) => schemaDirs += name -> schema }
          hit.map(_._2.toString).getOrElse(direct.toString)
        }
    }

  def exists(name: String): Boolean = {
    val p = Paths.get(path(name), "_VERSION")
    Files.exists(p) || Files.exists(Paths.get(path(name), "_SUCCESS"))
  }

  /** Current physical location of a materialized table (versioned tables
    * resolve through the `_VERSION` pointer, giving atomic rewrites for
    * snapshot merges — the parquet stand-in for a transactional MERGE).
    */
  private def currentPath(name: String): String = {
    val pointer = Paths.get(path(name), "_VERSION")
    if (Files.exists(pointer)) s"${path(name)}/${Files.readString(pointer).trim}"
    else path(name)
  }

  /** append_new_columns incrementals accumulate mixed-schema files (the
    * `_WIDENING` marker records this durably); only those pay the
    * all-footers mergeSchema read — every other table reads one footer.
    * A warehouse widened by a pre-marker build can opt in by touching
    * `_WIDENING` in the table directory.
    */
  def readTable(name: String): DataFrame = {
    val merge = Files.exists(Paths.get(path(name), "_WIDENING"))
    spark.read.option("mergeSchema", merge.toString).parquet(currentPath(name))
  }

  /** All materialized versions of a table, oldest → newest. Version ids
    * are `v_<nanotime>`; the sort is NUMERIC on the suffix, never
    * lexicographic — System.nanoTime() has no fixed digit width and an
    * arbitrary per-boot origin, so string order can invert creation
    * order across reboots or power-of-ten boundaries (new writes are
    * zero-padded, but pre-pad dirs must still order correctly). Every
    * `writeVersioned` rewrite (table runs, snapshot merges) leaves the
    * previous version dir intact — that history is what [[readTableAt]]
    * serves and [[expireVersions]] bounds.
    */
  def listVersions(name: String): Seq[String] =
    Option(new java.io.File(path(name)).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v_"))
      .map(_.getName)
      // non-numeric v_* dirs are NOT versions: defaulting them into the
      // sort (round-7 advice: they landed at Long.MaxValue) made them
      // permanently "newest" — holding a retention slot forever and being
      // served as latest. Skip them outright.
      .flatMap(v => v.stripPrefix("v_").toLongOption.map(n => (n, v)))
      .sortBy(_._1)
      .map(_._2)
      .toSeq

  /** The version id the `_VERSION` pointer currently resolves to. */
  def currentVersion(name: String): Option[String] = {
    val pointer = Paths.get(path(name), "_VERSION")
    if (Files.exists(pointer)) Some(Files.readString(pointer).trim) else None
  }

  /** Time-travel read: the table exactly as the given version (an id from
    * [[listVersions]]) materialized it — the snapshot-consumer story the
    * SCD2 sink implies, for parquet dirs instead of a table format.
    * CAVEAT: incremental models micro-batch APPEND into their current
    * version dir between rewrites, so for them a version is the state at
    * its last read, not at pointer creation; tables and snapshots rewrite
    * per run and are stable.
    */
  def readTableAt(name: String, version: String): DataFrame = {
    val dir = Paths.get(path(name), version)
    require(Files.exists(dir),
      s"table $name has no version '$version' " +
        s"(have: ${listVersions(name).mkString(", ")})")
    val merge = Files.exists(Paths.get(path(name), "_WIDENING"))
    spark.read.option("mergeSchema", merge.toString).parquet(dir.toString)
  }

  /** Row-level diff between two materialized versions of a table — the
    * "what changed between yesterday's build and today's" audit that a
    * versioned warehouse exists to answer. One full-outer co-shuffle on
    * the key (at 100 TB you'd partition-prune both sides to the touched
    * slices first; the join itself is the irreducible cost of a
    * row-level answer). Non-key columns compare via an md5 fingerprint
    * over the UNION of both versions' columns in sorted NAME order,
    * with null and column-absent sharing one marker — a widening that
    * backfills null does not flag untouched rows. Keys must be unique
    * per version (the warehouse unique-key contract); duplicate keys
    * would cross-join.
    */
  def diffVersions(
      name: String, vOld: String, vNew: String, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "diffVersions needs at least one key column")
    val o = readTableAt(name, vOld)
    val n = readTableAt(name, vNew)
    (keys.diff(o.columns) ++ keys.diff(n.columns)).headOption.foreach(k =>
      throw new IllegalArgumentException(
        s"key column '$k' missing from a version of $name"))
    val payload = (o.columns ++ n.columns).distinct.sorted.diff(keys)
    // concat_ws SKIPS nulls (conflating ("a", null) with ("a")), so
    // every cell coalesces onto an explicit marker, and cells are
    // separated by a sentinel so ("ab","c") never collides with
    // ("a","bc"). A column ABSENT from one version uses the same marker
    // as null: a widening that backfills null must not flag every
    // existing row as changed (the flip side: "column dropped" and
    // "column nulled" are indistinguishable — the standard trade).
    def fp(df: DataFrame): Column = md5(concat_ws("\u0001",
      payload.map { c =>
        if (df.columns.contains(c))
          coalesce(col(c).cast("string"), lit("\u0000"))
        else lit("\u0000")
      }: _*))
    val os = o.select(keys.map(col) :+ fp(o).as("__fp_old"): _*)
    val ns = n.select(keys.map(col) :+ fp(n).as("__fp_new"): _*)
    os.join(ns, keys, "full_outer")
      .withColumn("change_type",
        when(col("__fp_old").isNull, lit("added"))
          .when(col("__fp_new").isNull, lit("removed"))
          .when(col("__fp_old") =!= col("__fp_new"), lit("changed")))
      .filter(col("change_type").isNotNull)
      .select(keys.map(col) :+ col("change_type"): _*)
  }

  /** Retention: delete all but the newest `keep` versions. The current
    * pointer target always survives regardless of its age (a stale
    * pointer must never dangle). Returns the expired version ids.
    */
  def expireVersions(name: String, keep: Int): Seq[String] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val cur = currentVersion(name)
    val expired = listVersions(name).dropRight(keep).filterNot(cur.contains)
    expired.foreach { v =>
      val walk = Files.walk(Paths.get(path(name), v))
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
    expired
  }

  /** Writes a new version of the table and returns its row count. */
  private def writeVersioned(name: String, df: DataFrame): Long = {
    // zero-padded to 19 digits (Long.MaxValue width) so the ids also
    // read correctly in a plain directory listing
    val version = f"v_${System.nanoTime()}%019d"
    val rows = countedWrite(df)(_.write.mode("overwrite").parquet(s"${path(name)}/$version"))
    val tmp = Paths.get(path(name), "_VERSION.tmp")
    Files.createDirectories(Paths.get(path(name)))
    Files.writeString(tmp, version)
    Files.move(tmp, Paths.get(path(name), "_VERSION"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    rows
  }

  /** Runs `write` over `df` and returns the number of rows it wrote,
    * counted by an observation on the write's own job rather than by a
    * second job over the written files.
    */
  private def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = Observation()
    write(df.observe(rows, count(lit(1)).as("rows")))
    rows.get("rows").asInstanceOf[Long]
  }

  /** Run the DAG over the given source tables; returns every model's
    * resolved DataFrame (views stay lazy, tables/incrementals/snapshots
    * read back their materialized output).
    *
    * Scheduling follows dbt's `threads`: a model starts as soon as all its
    * `deps` are resolved, with at most `defaultParallelism` models in
    * flight, earliest in topo order first. The worker threads are created
    * per run from the calling thread, so every job a model launches
    * carries the caller's job-local properties (job group, description,
    * custom properties). A failing model's dependents never start; models
    * independent of it still run. Once every started model has finished,
    * the exception of the earliest failing model in topo order is rethrown
    * unchanged. Audit lines are logged in topo order.
    */
  def run(models: Seq[Model], sources: Map[String, DataFrame]): Map[String, DataFrame] = {
    val order = topoOrder(models)
    val known = sources.keySet ++ order.map(_.name)
    order.foreach { m =>
      val missing = m.deps.filterNot(known.contains)
      require(missing.isEmpty, s"model ${m.name}: unresolved deps $missing")
    }
    val resolved = scala.collection.mutable.Map[String, DataFrame](sources.toSeq: _*)
    val rowCounts = scala.collection.mutable.Map.empty[String, Long]
    val failures = scala.collection.mutable.Map.empty[String, Throwable]
    val waiting = scala.collection.mutable.ArrayBuffer(order: _*)
    val finished = new LinkedBlockingQueue[(Model, Either[Throwable, (DataFrame, Option[Long])])]()
    val width = math.max(1, spark.sparkContext.defaultParallelism)
    // The pool creates its threads inside execute(), which only this
    // thread calls: each inherits this thread's Spark local properties.
    val pool = Executors.newFixedThreadPool(width)
    var inFlight = 0
    def launchReady(): Unit =
      waiting.filter(_.deps.forall(resolved.contains)).take(width - inFlight).foreach { m =>
        waiting -= m
        m.customSchema.foreach { cs =>
          val schema = schemaName(cs)
          schemaDirs += m.name -> schema
          // env stamp: lets fresh Runners resolve this schema dir later
          // without ever crossing env boundaries (see path())
          val dir = Paths.get(warehouseDir, schema)
          Files.createDirectories(dir)
          Files.writeString(dir.resolve("_ENV"), env)
        }
        val deps = resolved.toMap
        inFlight += 1
        pool.execute { () =>
          val out =
            try Right(materialize(m, m.transform(deps)))
            catch { case t: Throwable => Left(t) }
          finished.put(m -> out)
        }
      }
    try {
      launchReady()
      while (inFlight > 0) {
        val (m, out) = finished.take()
        inFlight -= 1
        out match {
          case Right((df, rows)) =>
            resolved += m.name -> df
            rows.foreach(rowCounts += m.name -> _)
          case Left(t) => failures += m.name -> t
        }
        launchReady()
      }
    } finally pool.shutdown()
    order.foreach(m => rowCounts.get(m.name).foreach(logRowCount(m.name, _)))
    order.flatMap(m => failures.get(m.name)).headOption.foreach(t => throw t)
    resolved.toMap
  }

  /** Kahn topological sort over dep edges; deterministic (name-ordered)
    * tie-breaking so runs are reproducible.
    */
  def topoOrder(models: Seq[Model]): Seq[Model] = {
    val byName   = models.map(m => m.name -> m).toMap
    val inDeg    = scala.collection.mutable.Map(models.map(m =>
      m.name -> m.deps.count(byName.contains)): _*)
    val order    = scala.collection.mutable.ArrayBuffer[Model]()
    val ready    = scala.collection.mutable.PriorityQueue[String]()(Ordering[String].reverse)
    inDeg.filter(_._2 == 0).keys.foreach(ready.enqueue(_))
    while (ready.nonEmpty) {
      val n = ready.dequeue()
      order += byName(n)
      models.filter(_.deps.contains(n)).foreach { child =>
        inDeg(child.name) -= 1
        if (inDeg(child.name) == 0) ready.enqueue(child.name)
      }
    }
    require(order.size == models.size,
      s"cycle in model graph: ${models.map(_.name).diff(order.map(_.name).toSeq)}")
    order.toSeq
  }

  /** Applies the model's materializer to its transformed frame; returns
    * the resolved frame and, for table-backed models, the row count of
    * the materialized table.
    */
  private def materialize(m: Model, df: DataFrame): (DataFrame, Option[Long]) = m.materialization match {
    case Materialization.View =>
      m.contract.foreach(enforce(m.name, df, _))
      (df, None)

    case Materialization.Table =>
      m.contract.foreach(enforce(m.name, df, _))
      val rows = writeVersioned(m.name, df)
      (readTable(m.name), Some(rows))

    case Materialization.Incremental(uniqueKey, watermarkCol, onSchemaChange) =>
      m.contract.foreach(enforce(m.name, df, _))
      if (onSchemaChange == Materialization.OnSchemaChange.AppendNewColumns) {
        Files.createDirectories(Paths.get(path(m.name)))
        Files.writeString(Paths.get(path(m.name), "_WIDENING"), "append_new_columns")
      }
      val rows = if (!exists(m.name)) {
        writeVersioned(m.name, latestPerKey(df, uniqueKey, watermarkCol))
      } else {
        val existing = readTable(m.name)
        val stats = existing.agg(max(col(watermarkCol)), count(lit(1))).head
        val wm = stats.get(0)
        val fresh0 = if (wm == null) df else df.filter(col(watermarkCol) > lit(wm))
        val fresh  = latestPerKey(fresh0, uniqueKey, watermarkCol)
        val toInsert0 = fresh.join(
          existing.select(col(uniqueKey)), Seq(uniqueKey), "left_anti")
        val toInsert = onSchemaChange match {
          // dbt default: frozen target schema — extra upstream columns are
          // dropped; a removed column fails the select loudly.
          case Materialization.OnSchemaChange.Ignore =>
            toInsert0.select(existing.columns.map(col): _*)
          // append_new_columns: write the batch with its own (wider)
          // schema; mergeSchema reads widen the table, old rows null-fill.
          case Materialization.OnSchemaChange.AppendNewColumns =>
            toInsert0
        }
        // Append into the CURRENT version dir: cheap micro-batch append;
        // the versioned rewrite path is reserved for snapshot merges. The
        // anti-join keeps keys unique, so the table grows by what is written.
        stats.getLong(1) +
          countedWrite(toInsert)(_.write.mode("append").parquet(currentPath(m.name)))
      }
      (readTable(m.name), Some(rows))

    case Materialization.Snapshot(key, checkCols) =>
      val source = df
      val rows = if (!exists(m.name)) {
        writeVersioned(m.name, snapshotCols(source, key))
      } else {
        val snap    = graft.core.Materialize.cutLocal(readTable(m.name))
        val current = snap.filter(col("dbt_valid_to").isNull)
        val changed = checkCols
          .map(c => !(col(s"cur.$c") <=> col(s"src.$c")))
          .reduce(_ || _)
        val joined = current.alias("cur").join(
          source.alias("src"), col(s"cur.$key") === col(s"src.$key"), "full_outer")
        val closes = joined // key gone or value changed → close current row
          .filter(col(s"cur.$key").isNotNull && (col(s"src.$key").isNull || changed))
          .select(col("cur.*"))
          .withColumn("dbt_valid_to", lit(asOf))
        val keeps = joined
          .filter(col(s"cur.$key").isNotNull && col(s"src.$key").isNotNull && !changed)
          .select(col("cur.*"))
        val inserts = joined // new key or changed value → open new row
          .filter(col(s"src.$key").isNotNull && (col(s"cur.$key").isNull || changed))
          .select(col("src.*"))
        val history = snap.filter(col("dbt_valid_to").isNotNull)
        val merged = history
          .unionByName(closes)
          .unionByName(keeps)
          .unionByName(snapshotCols(inserts, key))
        writeVersioned(m.name, merged)
      }
      (readTable(m.name), Some(rows))
  }

  /** In-batch upsert rule for incremental models (shared with the
    * streaming sink — `functions.Upserts`): one row per `uniqueKey` per
    * batch, latest watermark wins. Without this, a batch carrying
    * duplicate keys writes every copy and violates the documented
    * upsert-by-key invariant (the target-side anti-join only guards
    * against ALREADY-WRITTEN keys).
    */
  private def latestPerKey(df: DataFrame, uniqueKey: String, watermarkCol: String): DataFrame =
    graft.functions.Upserts.latestPerKey(df, uniqueKey, Some(watermarkCol))

  /** dbt snapshot metadata columns: valid_from/valid_to/scd_id/updated_at. */
  private def snapshotCols(df: DataFrame, key: String): DataFrame =
    df.withColumn("dbt_valid_from", lit(asOf))
      .withColumn("dbt_valid_to", lit(null).cast("timestamp"))
      .withColumn("dbt_updated_at", lit(asOf))
      .withColumn("dbt_scd_id",
        Macros.surrogateKey(col(key), lit(asOf).cast(StringType)))

  /** Contract enforcement: schema (names + types, order-sensitive like a
    * dbt contract), then not-null / unique data assertions.
    */
  private def enforce(name: String, df: DataFrame, c: Contract): Unit =
    Contract.enforce(name, df, c)
}
