package graft.sources

import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}

/** Physical-layout utilities for the 100 TB path: partitioned writes
  * (partition pruning), bucketed tables (shuffle-free co-located joins),
  * and key salting (skew mitigation). The reference delegates all of this
  * to a single DuckDB file; at cluster scale the layout IS the query plan.
  */
object Warehouse {

  /** Write partitioned-by-column parquet — predicates on `partitionCols`
    * prune entire directories at scan time (verify with
    * `.explain`: PartitionFilters).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Session-scoped table name: `base` plus a suffix derived from this
    * session's UUID. With the UUID in the name, two sessions over one
    * warehouse dir never share a catalog location, so a session can only
    * drop or rewrite its own table, and the orphan-dir delete below can
    * never hit unrelated data.
    */
  def sessionScopedName(spark: SparkSession, base: String): String =
    base + "_s" + org.apache.spark.sql.graftx.Bridge.sessionUUID(spark)
      .replaceAll("[^a-zA-Z0-9]", "").take(12)

  /** The one table name of artifact `base` at `key` (a dataset dir, a
    * cache key, a sequence number), not session-scoped: `graft_`, the
    * sanitized base, the sanitized key's last 32 characters, and an
    * 8-hex md5 of the FULL key, so keys that sanitize or truncate alike
    * (`/d/sf0.01`, `/d/sf0_01`) still name different tables. Used bare
    * only for cross-session [[durableIndex]] names.
    */
  def keyedName(base: String, key: String): String = {
    def clean(x: String) = x.replaceAll("[^a-zA-Z0-9]", "_")
    val hash = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s"graft_${clean(base)}_${clean(key).takeRight(32)}_$hash"
  }

  /** [[keyedName]] scoped to `spark`'s session ([[sessionScopedName]]):
    * the name of every session-lifetime artifact table.
    */
  def sessionTable(spark: SparkSession, base: String, key: String): String =
    sessionScopedName(spark, keyedName(base, key))

  /** Register a bucketed table: both sides of a recurring equi-join
    * bucketed by the join key on the same bucket count join WITHOUT a
    * shuffle (no Exchange in the plan) — the Spark rendering of
    * co-located joins. Requires saveAsTable (bucket metadata lives in the
    * catalog).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int = 8): Unit =
    replaceTable(df, table)(_.bucketBy(numBuckets, bucketCol).sortBy(bucketCol))

  /** Plain (unbucketed) parquet table write with the same
    * drop/orphan/exit-cleanup discipline as [[writeBucketed]] — the
    * durable-materialization primitive behind
    * [[graft.core.Materialize]]'s table mode.
    */
  def writeTable(df: DataFrame, table: String): Unit =
    replaceTable(df, table)(identity)

  /** Register a table PARTITIONED by a low-cardinality column:
    * predicates on `partitionCol` prune whole directories at scan time
    * (PartitionFilters) — planner-INDEPENDENT, unlike bucket pruning,
    * which DisableUnnecessaryBucketedScan switches off for scan-only
    * plans (a filter+window consumer gets `Bucketed: false` and reads
    * every file). The right layout for range-bucket id columns probed
    * with IN filters (q215's halo probe: ≤ 33 directories).
    */
  def writePartitionedTable(df: DataFrame, table: String,
                            partitionCol: String): Unit =
    replaceTable(df, table)(_.partitionBy(partitionCol))

  /** The one replace-table write behind [[writeBucketed]], [[writeTable]]
    * and [[writePartitionedTable]]: `layout` sets the table's bucketing
    * or partitioning on the Overwrite writer.
    */
  private def replaceTable(df: DataFrame, table: String)(
      layout: DataFrameWriter[Row] => DataFrameWriter[Row]): Unit = {
    val spark = df.sparkSession
    // a managed-table location can outlive its catalog entry (a previous
    // session wrote it, this session's in-memory catalog never heard of
    // it) — saveAsTable then fails with LOCATION_ALREADY_EXISTS, so drop
    // both the entry and any orphaned location before writing. The
    // location comes from the CATALOG (graftx.Bridge), not a
    // hand-assembled <warehouse.dir>/<name>: the catalog path honors the
    // current database (<db>.db/ subdir) and case normalization, so this
    // can never delete an unrelated sibling directory.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val (loc, fs) = tableLocation(spark, table)
    if (fs.exists(loc)) fs.delete(loc, true)
    layout(df.write.mode(SaveMode.Overwrite)).format("parquet").saveAsTable(table)
    // session-scoped tables die with the session's in-memory catalog, so
    // without cleanup every run would orphan its table dirs in the
    // shared warehouse forever (the flip side of the per-session names
    // that prevent cross-session clobbering). Delete our OWN dirs at JVM
    // exit — no cross-session risk by construction; only a crashed JVM
    // leaks, and its leftovers can never collide with a future session.
    registerExitCleanup(loc.toUri, spark.sparkContext.hadoopConfiguration)
  }

  /** The catalog's default location for `table` and its filesystem. */
  private def tableLocation(spark: SparkSession, table: String): (Path, FileSystem) = {
    val loc = new Path(org.apache.spark.sql.graftx.Bridge.defaultTablePath(spark, table))
    (loc, loc.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** Append to an EXISTING unbucketed table created by [[writeTable]] —
    * the sink primitive for streaming legs that accumulate results
    * across micro-batches.
    */
  def appendTable(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Append).format("parquet").saveAsTable(table)

  /** Cross-session durable index (round-16 verdict #6: the session-scoped
    * graph caches die with the session, so every new session re-paid the
    * most expensive build in the engine). If `<warehouse>/<name>` already
    * holds the index, READ it — a new session serves without rebuilding
    * (its plan is a parquet scan, not the build lineage). Otherwise run
    * `build`, publish it write-then-rename (a concurrent builder that
    * loses the rename race deletes its copy and reads the winner — the
    * same last-writer-safe discipline a production deployment gets from
    * its index-build coordinator), and return the read-back frame.
    *
    * Deliberately NOT registered for exit cleanup and NOT session-scoped:
    * the name is dataset-dir-derived (the q90 discipline — datasets can't
    * cross-corrupt) and the files are meant to outlive the JVM. Staleness
    * follows the testdata contract: a dataset dir's content is immutable;
    * regenerated data lands in a new dir and therefore a new index name.
    *
    * Leak: an index whose name changes stays in the shared warehouse for
    * good. That happens when the name derivation changes (a shortened key
    * tail) or the dataset dir moves or is renamed; the new name builds a
    * new index and nothing removes the old one. No sweep can mend this
    * safely, because an index under a stale name looks exactly like
    * another live dataset's index. Only [[dropDurableIndex]], given the
    * old name, removes it.
    */
  def durableIndex(spark: SparkSession, name: String,
                   fingerprint: Option[String] = None)(build: => DataFrame): DataFrame = {
    val (loc, fs) = tableLocation(spark, name)
    // round-17 stretch #8: staleness no longer rests on the
    // immutable-dir convention alone — the builder stores a cheap
    // content fingerprint of its INPUT beside the index (an
    // underscore-prefixed file, invisible to the parquet reader); a
    // reader whose input fingerprints differently is refused with the
    // fix in the message (the Guard discipline) instead of silently
    // served a stale graph.
    def fpFile(dir: Path) =
      new Path(dir, "_GRAFT_FINGERPRINT")
    if (fs.exists(loc)) {
      (fingerprint, if (fs.exists(fpFile(loc))) {
        val in = fs.open(fpFile(loc))
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
          Some(new String(buf.toByteArray, "UTF-8").trim)
        } finally in.close()
      } else None) match {
        case (Some(want), Some(have)) if want != have =>
          throw new IllegalStateException(
            s"durableIndex '$name': the published index was built from an input " +
            s"fingerprinting '$have' but the current input fingerprints '$want' — " +
            "the dataset dir was mutated in place, violating the immutable-dir " +
            "contract. Regenerate the data into a NEW dir (which derives a new " +
            "index name), or drop the stale index with " +
            s"Warehouse.dropDurableIndex(spark, \"$name\").")
        case _ => ()
      }
      return spark.read.parquet(loc.toString)
    }
    // sweep _build_ leftovers from builders that crashed between the tmp
    // write and the rename (they would otherwise leak in the shared
    // warehouse forever) — only siblings >10 min old, so a concurrent
    // LIVE builder's tmp is never swept mid-publish
    val stale = fs.globStatus(new Path(
      loc.getParent, "_build_" + loc.getName + "_*"))
    if (stale != null) stale.foreach { st =>
      if (st.getModificationTime < System.currentTimeMillis() - 10 * 60 * 1000L)
        try fs.delete(st.getPath, true) catch { case _: Exception => () }
    }
    val df  = build
    val tmp = new Path(loc.getParent,
      "_build_" + loc.getName + "_" + java.util.UUID.randomUUID().toString.take(8))
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fingerprint.foreach { fp =>
      val out = fs.create(fpFile(tmp), true)
      try out.write(fp.getBytes("UTF-8")) finally out.close()
    }
    if (fs.exists(loc) || !fs.rename(tmp, loc)) fs.delete(tmp, true)
    // a rename can fail for reasons OTHER than losing the publish race
    // (permissions, quota, a non-atomic store) — surface that as a
    // descriptive error instead of an opaque path-not-found on the read
    require(fs.exists(loc),
      s"durableIndex '$name': publish failed — neither this builder's rename " +
      s"to $loc landed nor a concurrent winner's files exist; the filesystem " +
      "refused the rename for a reason other than losing the publish race " +
      "(check permissions/quota on the warehouse dir)")
    spark.read.parquet(loc.toString)
  }

  /** Delete a [[durableIndex]] by name (test hygiene, and the only way to
    * remove an index left under a name that changed).
    */
  def dropDurableIndex(spark: SparkSession, name: String): Unit = {
    val (loc, fs) = tableLocation(spark, name)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Append a delta batch to an EXISTING bucketed table (incremental
    * index/table maintenance): the bucket spec must match the table's —
    * Spark writes the delta as additional per-bucket files, and bucketed
    * reads/joins keep their no-shuffle property across the union of
    * files. The table must have been created by [[writeBucketed]].
    */
  def appendBucketed(df: DataFrame, table: String, bucketCol: String,
                     numBuckets: Int = 8): Unit =
    df.write.mode(SaveMode.Append)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  // (URI, Configuration) pairs: the hook must resolve each FileSystem
  // from the conf REGISTERED with the path, not a fresh Configuration()
  // — a fresh conf lacks session settings (s3a credentials, a custom
  // fs.defaultFS), so on any such filesystem the delete would throw,
  // be swallowed, and the table dir leak silently.
  private val exitPaths =
    java.util.Collections.synchronizedMap(
      new java.util.HashMap[java.net.URI, org.apache.hadoop.conf.Configuration]())
  private lazy val exitHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      exitPaths.forEach { (uri, conf) =>
        try {
          val p = new Path(uri)
          p.getFileSystem(conf).delete(p, true)
        } catch { case _: Exception => () }
      }))
  private def registerExitCleanup(
      uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    exitHookInstalled
    exitPaths.put(uri, conf)
  }

  /** Salt a skewed build-side key: explode each right-side row into
    * `saltBuckets` copies and scatter left-side rows uniformly, so one hot
    * key spreads over `saltBuckets` reducers. AQE's skew-join handles
    * moderate skew automatically; salting is the explicit fallback for
    * pathological keys. Returns (saltedLeft, saltedRight, joinKeys).
    */
  def saltedJoinSides(left: DataFrame, right: DataFrame, key: String,
                      saltBuckets: Int): (DataFrame, DataFrame, Seq[String]) = {
    // deterministic pseudo-random salt: stable across retries (no rand(),
    // which would break task-retry idempotence at scale)
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(col(key), monotonically_increasing_id()), lit(saltBuckets)))
    val saltedRight = right
      .withColumn("__salt", explode(array((0 until saltBuckets).map(lit): _*)))
    (saltedLeft, saltedRight, Seq(key, "__salt"))
  }

  /** Write with AQE output rebalancing — the small-files / skewed-files
    * guard for massive writes: the REBALANCE hint inserts an
    * AQE-optimized shuffle that SPLITS oversized partitions and
    * COALESCES tiny ones toward `spark.sql.adaptive.advisoryPartitionSizeInBytes`,
    * so output files land near the target size regardless of upstream
    * partitioning (a 1000-task upstream writing 1000 tiny files is the
    * classic 100 TB warehouse pathology). `maxRecordsPerFile` bounds the
    * worst case file independently.
    */
  def writeRebalanced(df: DataFrame, path: String,
                      maxRecordsPerFile: Long = 5000000L): Unit =
    df.hint("rebalance")
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)

  /** Collect catalog statistics for a saved table (row counts + per-column
    * NDV/min/max) — what lets the cost-based optimizer pick broadcast
    * sides and join orders from METADATA instead of the static
    * `autoBroadcastJoinThreshold` file-size guess. On a real warehouse
    * this runs after every large write (the `dbt docs`-adjacent hygiene
    * the reference gets for free from DuckDB's implicit stats).
    */
  def analyzeTable(spark: SparkSession, table: String): Unit =
    spark.sql(s"ANALYZE TABLE `$table` COMPUTE STATISTICS FOR ALL COLUMNS")
}
