package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Contract
import graft.sources.Warehouse

/** A named, session-scoped derived artifact: a value (a fitted model, a
  * lineage-cut frame, a persisted index) built at most once per
  * (SparkSession, key) and shared by every consumer in that session — the
  * query-level analog of a pipeline materializing a stage once.
  *
  * Three forms build an entry:
  *  - [[apply]]: any value, built by the caller;
  *  - [[cut]]: a frame behind an eager lineage cut ([[Materialize.cut]]);
  *  - [[table]]: a frame written to a session-scoped warehouse table
  *    named by [[tableName]] and read back.
  *
  * Names are declared once and must be unique across the JVM;
  * constructing a second artifact under a name already in use fails.
  *
  * Reuse contract:
  *  - `build` runs once per (session, key), even when first calls race:
  *    `putIfAbsent` races only over a cheap lazy holder, and the build
  *    runs when the one canonical holder is first forced;
  *  - each session (`spark.newSession()` included) has its own entries,
  *    so a fresh session always rebuilds;
  *  - entries are evicted when the application ends and, on the next
  *    access from any session, for every session whose SparkContext has
  *    stopped.
  *
  * The store is keyed by the session object itself because a built value
  * (a cut frame, a session-scoped table) is only valid inside the session
  * that built it. A memoized frame strongly references its own session,
  * so the weak key alone never collects it; eviction is therefore
  * explicit. A session abandoned without stopping, in an application that
  * never touches an artifact again, stays pinned until application end —
  * acceptable for this engine's drivers (one application, one or a few
  * sessions), not a general-purpose session registry.
  */
final class Artifact[V](val name: String) {
  require(Artifact.names.add(name), s"duplicate artifact name: $name")

  // the cast is safe because names are unique: only this artifact writes
  // entries under its name
  def apply(spark: SparkSession, key: String)(build: => V): V =
    Artifact.holder(spark, (name, key), () => build).value.asInstanceOf[V]

  /** The artifact as an eager lineage cut of `df`, tagged with its name
    * (see [[Materialize.cut]]).
    */
  def cut(spark: SparkSession, key: String)(df: => DataFrame)(implicit ev: DataFrame <:< V): V =
    apply(spark, key)(ev(Materialize.cut(df, name)))

  /** The artifact as a warehouse table: `df` is checked against
    * `contract` under the artifact's name before any write, written by
    * `write` (a [[Warehouse]] writer, which sets the layout) under
    * [[tableName]], and read back.
    */
  def table(spark: SparkSession, key: String, contract: Option[Contract] = None)(
      write: (DataFrame, String) => Unit)(df: => DataFrame)(implicit ev: DataFrame <:< V): V =
    apply(spark, key) {
      val (d, t) = (df, tableName(spark, key))
      contract.foreach(Contract.enforce(name, d, _))
      write(d, t)
      ev(spark.table(t))
    }

  /** The session-scoped warehouse table of this artifact at `key`; a
    * non-empty `part` names a side table the same build writes.
    */
  def tableName(spark: SparkSession, key: String, part: String = ""): String =
    Warehouse.sessionTable(spark, if (part.isEmpty) name else s"${name}_$part", key)
}

object Artifact {

  private val names = ConcurrentHashMap.newKeySet[String]()

  private final class Holder(build: () => Any) { lazy val value: Any = build() }

  private val bySession =
    new java.util.WeakHashMap[SparkSession, TrieMap[(String, String), Holder]]()

  private def holder(spark: SparkSession, id: (String, String), build: () => Any): Holder = {
    val entries = bySession.synchronized {
      bySession.entrySet().removeIf(e => e.getKey.sparkContext.isStopped)
      var m = bySession.get(spark)
      if (m == null) {
        m = TrieMap.empty[(String, String), Holder]
        bySession.put(spark, m)
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
            bySession.synchronized { bySession.remove(spark); () }
        })
      }
      m
    }
    entries.get(id) match {
      case Some(h) => h
      case None =>
        val fresh = new Holder(build)
        entries.putIfAbsent(id, fresh).getOrElse(fresh)
    }
  }

  /** Test hook: the (name, key) entries held for `spark`. Never inserts. */
  private[graft] def built(spark: SparkSession): Set[(String, String)] = bySession.synchronized {
    Option(bySession.get(spark)).map(_.keySet.toSet).getOrElse(Set.empty)
  }
}
