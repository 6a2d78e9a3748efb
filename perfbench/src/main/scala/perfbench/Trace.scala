package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced run, collected from outside the
  * engine through Spark's public listener APIs.
  *
  * The harness names its current phase (a bucket) in a job-local property,
  * which every job carries, AQE's too. Stages and tasks are charged to
  * their job's bucket, and a query execution to the bucket of its first
  * job (else to the phase current when the event arrives). The bus is
  * drained only when the counters are read, so tracing adds no waits
  * between phases.
  *
  * A job's caller is its final stage's call site (`parquet at
  * Tables.scala:14`) and, for layer files deeper in the stack, the long
  * form of that call site. Jobs that AQE submits from its own threads
  * carry a `CompletableFuture.java` call site; they are mapped through
  * `spark.sql.execution.id` to the call site of their SQL execution.
  */
final class Trace(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Trace._

  @volatile private var current: String = "idle"
  private val counters = new ConcurrentHashMap[String, Double]()
  private val execSites = new ConcurrentHashMap[Long, (String, String)]()
  private val execBucket = new ConcurrentHashMap[Long, String]()
  private val stageBucket = new ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentHashMap[Int, Job]()

  /** Charges the jobs this thread starts from now on to `name`. */
  def enter(name: String): Unit = { sc.setLocalProperty(BucketKey, name); current = name }

  /** Drains the bus and returns (and clears) every counter so far. */
  def harvest(): Map[String, Double] = {
    BusDrain(sc)
    enter("idle")
    val out = mutable.Map[String, Double]()
    counters.forEach((k, v) => out(k) = v)
    counters.clear()
    out.toMap
  }

  private def add(key: String, v: Double): Unit = counters.merge(key, v, _ + _)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execSites.put(e.executionId, (e.description, e.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val bucket = props.flatMap(p => Option(p.getProperty(BucketKey))).getOrElse(current)
    val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).flatMap(_.toLongOption)
    execId.foreach(execBucket.putIfAbsent(_, bucket))
    e.stageIds.foreach(stageBucket.put(_, bucket))
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    var short = last.map(_.name).getOrElse("")
    var long = last.map(_.details).getOrElse("")
    if (!short.contains(".scala:")) {
      execId.flatMap(id => Option(execSites.get(id))).foreach { case (s, l) => short = s; long = l }
    }
    jobs.put(e.jobId, Job(bucket, siteFile(short), opsFiles(long), e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val job = jobs.remove(e.jobId)
    if (job != null) {
      val ms = (e.time - job.start).toDouble
      val keys = Seq(s"${job.bucket}|jobs", s"${job.bucket}|site.${job.site}") ++
        job.ops.map(f => s"${job.bucket}|ops.$f")
      keys.foreach { k => add(k + ".n", 1); add(k + ".ms", ms) }
    }
  }

  private def stageBucketOf(stageId: Int): String = Option(stageBucket.get(stageId)).getOrElse(current)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(s"${stageBucketOf(e.stageInfo.stageId)}|stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val bucket = stageBucketOf(e.stageId)
    val m = e.taskMetrics
    add(s"$bucket|tasks", 1)
    if (m != null) {
      add(s"$bucket|task_ms", m.executorRunTime.toDouble)
      add(s"$bucket|gc_ms", m.jvmGCTime.toDouble)
      add(s"$bucket|shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(s"$bucket|spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(s"$bucket|bytes_written", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  private def planPhases(qe: QueryExecution): Unit = {
    val bucket = Option(execBucket.get(qe.id)).getOrElse(current)
    qe.tracker.phases.foreach { case (phase, s) => add(s"$bucket|plan.$phase", s.durationMs.toDouble) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planPhases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planPhases(qe)
}

object Trace {
  private val BucketKey = "perfbench.bucket"

  /** The operator files whose round loops the build workload loads.
    * `Graph` is not among them: its operators only build plans, so their
    * work runs in the jobs of the caller's action and carries its call site.
    */
  val OpsFiles: Seq[String] = Seq("Bpe", "Dedup", "Similarity", "Clustering", "Pq")

  private final case class Job(bucket: String, site: String, ops: Seq[String], start: Long)

  private val SiteFile = """ at ([A-Za-z0-9_$]+)\.(scala|java):\d+""".r.unanchored

  /** `parquet at Tables.scala:14` → `Tables`; a call site outside any
    * Scala file (the bench's own actions map to their file too) → `other`.
    */
  def siteFile(short: String): String = short match {
    case SiteFile(f, "scala") => f
    case _ => "other"
  }

  /** Operator files that appear anywhere in a long-form call site. */
  def opsFiles(long: String): Seq[String] =
    OpsFiles.filter(f => long.contains(s"graft.operators.$f"))
}
