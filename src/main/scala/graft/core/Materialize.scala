package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftx.LocalCutBlocks

/** The one owner of lineage cuts and caches: no other file in `src/main`
  * calls `localCheckpoint`, `checkpoint`, `cache` or `persist`, so what a
  * session may lose on executor loss is decided here.
  *
  * Two durability classes, chosen by the call:
  *
  *   - [[cut]]: SHARED state — memoized artifacts, mined pair tables,
  *     frames consumed across queries or by several downstream stages.
  *     Follows `spark.graft.materialize.durable`: off (the default) it is
  *     an eager `localCheckpoint`, whose blocks live in executor storage
  *     and are not recomputable after executor loss; on, the frame is
  *     written as a session-scoped warehouse table and read back, so a
  *     lost executor re-reads files. Results are identical either way
  *     (DedupSpec and SimilaritySpec assert this under both modes).
  *   - [[cutLocal]]: LOOP-ROUND state (label propagation, PageRank ranks,
  *     the BPE fit's per-round corpus and counts, beam rounds) and
  *     DRIVER-BOUNDED frames (per-language or per-label quota and margin
  *     tables, one-row totals). Always an eager `localCheckpoint`, in
  *     either mode: a table write per loop round would thrash the
  *     warehouse, a loop re-derives its rounds from its own inputs, and a
  *     tiny frame costs less to recompute than to round-trip.
  *
  * [[cutLocalWith]] cuts a round's two state frames in one job;
  * [[release]] frees a local cut early; [[cachedWhile]] scopes a cache to
  * the evaluation that needs it, so no cache outlives its call.
  */
object Materialize {

  def durable(s: SparkSession): Boolean =
    s.conf.get("spark.graft.materialize.durable", "false").toBoolean

  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** Materialize `df` eagerly and return a lineage-cut frame. `tag`
    * names the table in durable mode (diagnosability — the warehouse
    * shows WHICH operator's state a table holds); a per-JVM sequence
    * keeps repeated cuts from clobbering each other.
    */
  def cut(df: DataFrame, tag: String): DataFrame =
    if (!durable(df.sparkSession)) df.localCheckpoint(true)
    else {
      val name = graft.sources.Warehouse.sessionScopedName(df.sparkSession,
        "graft_mat_" + tag.replaceAll("[^a-zA-Z0-9]", "_").take(40) +
          "_" + seq.incrementAndGet())
      graft.sources.Warehouse.writeTable(df, name)
      df.sparkSession.table(name)
    }

  /** Eager local cut of loop-round or driver-bounded state, in either
    * durability mode. Takes no tag: a local cut never becomes a table.
    */
  def cutLocal[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(true)

  /** [[cutLocal]] of `ds` and of `f(cut of ds)` in ONE job, for loop
    * rounds whose next state is built from a frame the round derives
    * first. Both frames are marked for a local checkpoint, and one job
    * computes every partition of both: `ds` is computed once, where
    * `f`'s plan first reads it, and its blocks are cut with the rest. The
    * frames' shuffles must not run at planning time, so call this with
    * AQE off (an adaptive plan runs its shuffle stages while it plans).
    */
  def cutLocalWith[A, B](ds: Dataset[A])(f: Dataset[A] => Dataset[B]): (Dataset[A], Dataset[B]) = {
    val a = ds.localCheckpoint(eager = false)
    val b = f(a).localCheckpoint(eager = false)
    def marked(d: Dataset[_]) = d.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    ds.sparkSession.sparkContext.union(marked(a), marked(b)).foreach(_ => ())
    (a, b)
  }

  /** Free the blocks of a [[cutLocal]] frame now rather than when the
    * ContextCleaner collects it. A local cut is registered with the block
    * manager, not the cache manager, so `Dataset.unpersist` would be a
    * no-op; the checkpointed RDD's blocks are freed directly, without the
    * WARN `RDD.unpersist` logs for every local cut. Any other frame is
    * left alone.
    */
  def release(ds: Dataset[_]): Unit = ds.queryExecution.analyzed match {
    case lr: LogicalRDD => LocalCutBlocks.free(lr.rdd)
    case _ => ()
  }

  /** Cache `dfs` for the evaluation of `body`, then unpersist them, also
    * when `body` throws. For inputs that several stages of one eager
    * evaluation read; `body` must not return a lazy plan over them.
    */
  def cachedWhile[A](dfs: Dataset[_]*)(body: => A): A = {
    dfs.foreach(_.cache())
    try body
    finally dfs.foreach(_.unpersist(false))
  }
}
