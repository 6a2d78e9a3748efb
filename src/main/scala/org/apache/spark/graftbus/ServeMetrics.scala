package org.apache.spark.graftbus

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Task-level attribution of one `measure` body: JVM GC
  * time, shuffle/agg spill bytes and peak execution memory (the bench's
  * per-sample "GC/session pressure vs plan regression" split), plus the
  * shuffle bytes/rows each stage moves (the measured constants behind
  * ScaleRehearsal's scale-up estimates).
  *
  * Lives under `org.apache.spark` because exact attribution needs
  * `SparkContext.listenerBus.waitUntilEmpty()` (private[spark]) — the
  * task-end events are delivered on an async bus, and without the drain
  * a sample's tail tasks would bleed into the next sample's bucket. The
  * listener itself is public API ([[SparkListener]]); only the drain is
  * bridged. Works identically on a real cluster: task metrics arrive at
  * the driver with task completion regardless of deploy mode.
  */
final class ServeMetrics extends SparkListener {
  private val gcMs       = new AtomicLong(0L)
  private val memSpill   = new AtomicLong(0L)
  private val diskSpill  = new AtomicLong(0L)
  private val peakMem    = new AtomicLong(0L)
  private val writeBytes = new AtomicLong(0L)
  private val writeRows  = new AtomicLong(0L)
  private val readBytes  = new AtomicLong(0L)
  private val all = Seq(gcMs, memSpill, diskSpill, peakMem, writeBytes, writeRows, readBytes)

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      gcMs.addAndGet(m.jvmGCTime)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
      peakMem.getAndAccumulate(m.peakExecutionMemory, Math.max(_, _))
      writeBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      writeRows.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      readBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  /** Drains the listener bus so every finished task is counted in the
    * current bucket. A drain timeout degrades to the undrained state
    * (attribution slightly blurred, caller never killed).
    */
  private def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** The counters accumulated since the last reset. */
  private def snapshot(sc: SparkContext): ServeMetrics.Snapshot = {
    drain(sc)
    ServeMetrics.Snapshot(gcMs.get(), memSpill.get(), diskSpill.get(), peakMem.get(),
      writeBytes.get(), writeRows.get(), readBytes.get())
  }

  private def reset(sc: SparkContext): Unit = {
    drain(sc)
    all.foreach(_.set(0L))
  }

  /** Wall seconds, result and task counters of `body` alone. */
  def measure[A](sc: SparkContext)(body: => A): (Double, A, ServeMetrics.Snapshot) = {
    reset(sc)
    val (sec, r) = graft.Harness.timed(body)
    (sec, r, snapshot(sc))
  }
}

object ServeMetrics {

  /** Peak memory is the max over tasks; every other field is a sum. */
  final case class Snapshot(
      gcMs: Long, memorySpillBytes: Long, diskSpillBytes: Long, peakExecutionMemory: Long,
      shuffleWriteBytes: Long, shuffleWriteRows: Long, shuffleReadBytes: Long)
}
