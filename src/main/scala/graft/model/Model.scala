package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** A model = named derived table with declared materialization, mirroring
  * the reference's dbt node (`dbt_project.yml:28-53`): a pure
  * transformation over its upstream models/sources plus a materializer.
  *
  * `transform` receives the resolved upstream DataFrames by name; Catalyst
  * sees the fully composed plan for view-materialized chains, so pruning
  * and pushdown cross model boundaries for free (the Spark equivalent of
  * dbt's view layering).
  */
final case class Model(
    name: String,
    deps: Seq[String],
    materialization: Materialization = Materialization.View,
    contract: Option[Contract] = None,
    customSchema: Option[String] = None)(
    val transform: Map[String, DataFrame] => DataFrame)

/** Materialization strategies (reference: view / table / incremental
  * `fct_economic_indicators.sql:3-6` / snapshot
  * `snapshots/snap_gdp_history.sql:4-11`).
  */
sealed trait Materialization
object Materialization {

  /** Unmaterialized — downstream models compose the logical plan. */
  case object View extends Materialization

  /** Full-refresh parquet table (CREATE TABLE AS equivalent). */
  case object Table extends Materialization

  /** Schema-drift policy for incremental appends
    * (`fct_economic_indicators.sql:5` `on_schema_change`).
    */
  sealed trait OnSchemaChange
  object OnSchemaChange {

    /** dbt default: the target schema is frozen; new upstream columns are
      * dropped, removed ones fail the append loudly.
      */
    case object Ignore extends OnSchemaChange

    /** `append_new_columns`: new upstream columns widen the target (old
      * rows read back null-filled); removed columns stay, null-filled on
      * new rows. Implemented with mixed-schema parquet files + mergeSchema
      * reads — no rewrite of existing data, so widening is O(1) at any
      * table size.
      */
    case object AppendNewColumns extends OnSchemaChange
  }

  /** High-watermark append with upsert key: only rows with
    * `watermarkCol > max(existing)` are processed, then anti-joined on
    * `uniqueKey` before append (dbt incremental + unique_key semantics,
    * `fct_economic_indicators.sql:28-31`). Late back-period revisions are
    * deliberately skipped — the snapshot captures those (SURVEY §7.4.8).
    */
  final case class Incremental(
      uniqueKey: String,
      watermarkCol: String,
      onSchemaChange: OnSchemaChange = OnSchemaChange.Ignore) extends Materialization

  /** SCD Type-2 history with `check` strategy on `checkCols` and hard-
    * delete invalidation (`snap_gdp_history.sql`): changed rows close the
    * current version and insert a new one; disappeared keys are closed.
    */
  final case class Snapshot(key: String, checkCols: Seq[String]) extends Materialization
}

/** Enforced model contract (reference `contract={'enforced': true}` +
  * column constraints, `_marts__models.yml:9-60`): schema equality checked
  * before writing; not-null/unique checked as data assertions (Spark has
  * no native constraints).
  */
final case class Contract(
    schema: StructType,
    notNull: Seq[String] = Nil,
    uniqueKeys: Seq[Seq[String]] = Nil)

object Contract {

  /** The enforcement itself, static so marts written OUTSIDE the model
    * runner (the persisted ANN/LSH index tables — q139/q141/q145/q146)
    * get the same schema-equality + not-null/unique checks the Eurostat
    * marts get, before any warehouse write.
    *
    * The data checks run as one aggregation query that computes `df`
    * once, however many constraints there are: grouping sets give one
    * group per value of each unique key plus the empty grouping set,
    * which carries the null counts, and a global level reads every check
    * off those groups. Violations are reported in declaration order,
    * not-null first.
    */
  def enforce(name: String, df: DataFrame, c: Contract): Unit = {
    import org.apache.spark.sql.functions._
    val got  = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val want = c.schema.fields.map(f => (f.name, f.dataType)).toSeq
    if (got != want)
      throw ContractViolation(name, s"schema mismatch:\n  got  $got\n  want $want")
    if (c.notNull.isEmpty && c.uniqueKeys.isEmpty) return
    val nulls = c.notNull.map(n => count_if(col(n).isNull))
    val counts: Seq[Long] =
      if (c.uniqueKeys.isEmpty) {
        val row = df.agg(nulls.head, nulls.tail: _*).head()
        nulls.indices.map(row.getLong)
      } else {
        // grouping_id sets bit (m-1-i) for each of the m key columns that
        // the grouping set leaves out
        val keyCols = c.uniqueKeys.flatten.distinct
        def gid(set: Seq[String]): Long = keyCols.indices
          .filterNot(i => set.contains(keyCols(i)))
          .map(i => 1L << (keyCols.length - 1 - i)).sum
        val groups = df.groupingSets((c.uniqueKeys :+ Nil).map(_.map(col)), keyCols.map(col): _*)
          .agg(grouping_id().as("__gid"),
            (count(lit(1)).as("__n") +: nulls.zipWithIndex.map { case (e, i) => e.as(s"__null$i") }): _*)
        val all = col("__gid") === gid(Nil)
        val checks = nulls.indices.map(i => coalesce(max(when(all, col(s"__null$i"))), lit(0L))) ++
          c.uniqueKeys.map(k => count_if(col("__gid") === gid(k) && col("__n") > 1))
        val row = groups.agg(checks.head, checks.tail: _*).head()
        checks.indices.map(row.getLong)
      }
    c.notNull.zip(counts).foreach { case (col0, n) =>
      if (n > 0) throw ContractViolation(name, s"$n null rows in not-null column $col0")
    }
    c.uniqueKeys.zip(counts.drop(c.notNull.length)).foreach { case (keys, n) =>
      if (n > 0) throw ContractViolation(name, s"$n duplicate groups on key (${keys.mkString(",")})")
    }
  }
}

final case class ContractViolation(model: String, detail: String)
    extends RuntimeException(s"contract violation in $model: $detail")
