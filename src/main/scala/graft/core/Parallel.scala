package graft.core

import java.util.concurrent.{Executors, LinkedBlockingQueue}

import org.apache.spark.sql.SparkSession

/** The engine's one driver-side scheduler: every place that runs Spark work
  * from several driver threads at once goes through [[run]] or [[map]]. It
  * follows dbt's `threads` (`profiles.yml:10,14`): at most
  * `defaultParallelism` tasks in flight, the local core count under
  * [[Sessions.local]].
  *
  * Contract, for both entry points:
  *
  *   - the pool's threads are created per call, by a launch loop that only
  *     the calling thread runs, so each inherits the caller's Spark job
  *     group and local properties, and none outlives the call. A long-lived
  *     pool (Scala's global `ExecutionContext`) keeps the properties of
  *     whichever thread first made its workers, so its jobs cannot be
  *     attributed to their caller;
  *   - a task starts once all its dependencies have finished, earliest in
  *     the given order first;
  *   - a failed task's dependents never start; tasks independent of it
  *     still run. Once every started task has finished, the exception of the
  *     earliest failed task in the given order is rethrown unchanged;
  *   - results come back in the given order.
  */
object Parallel {

  /** Runs every task once each of its `deps` has finished; `body` receives
    * the task and its dependencies' results. Returns the results in the
    * order of `tasks`. The tasks are distinct, every dependency is one of
    * them, and they form no cycle.
    */
  def run[T, V](spark: SparkSession, tasks: Seq[T])(deps: T => Seq[T])(
      body: (T, Map[T, V]) => V): Seq[V] = {
    val depIdx = tasks.map(deps(_).map(tasks.indexOf(_)))
    val results = scala.collection.mutable.Map.empty[Int, V]
    val failures = scala.collection.mutable.Map.empty[Int, Throwable]
    val waiting = scala.collection.mutable.ArrayBuffer(tasks.indices: _*)
    val finished = new LinkedBlockingQueue[(Int, Either[Throwable, V])]()
    val width = math.max(1, spark.sparkContext.defaultParallelism)
    // The pool creates its threads inside execute(), which only this
    // thread calls: each inherits this thread's Spark local properties.
    val pool = Executors.newFixedThreadPool(width)
    var inFlight = 0
    def launchReady(): Unit =
      waiting.filter(depIdx(_).forall(results.contains)).take(width - inFlight).foreach { i =>
        waiting -= i
        val in = depIdx(i).map(d => tasks(d) -> results(d)).toMap
        inFlight += 1
        pool.execute { () =>
          finished.put(i -> (try Right(body(tasks(i), in)) catch { case t: Throwable => Left(t) }))
        }
      }
    try {
      launchReady()
      while (inFlight > 0) {
        val (i, out) = finished.take()
        inFlight -= 1
        out.fold(failures += i -> _, results += i -> _)
        launchReady()
      }
    } finally pool.shutdown()
    tasks.indices.flatMap(failures.get).headOption.foreach(t => throw t)
    tasks.indices.map(results)
  }

  /** Runs `body` over every item, independent of one another, under
    * [[run]]'s contract; returns the results in the order of `items`.
    */
  def map[A, V](spark: SparkSession, items: Seq[A])(body: A => V): Seq[V] =
    run[Int, V](spark, items.indices)(_ => Nil)((i, _) => body(items(i)))
}
