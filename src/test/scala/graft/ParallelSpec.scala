package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.core.Parallel
import org.apache.spark.graftbus.Listeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The driver-side scheduler's fan-out: input-order results, the earliest
  * failure rethrown, and jobs that carry their caller's properties. The
  * dependency-ordered run is pinned through [[graft.model.Runner]] in
  * RunnerSpec.
  */
class ParallelSpec extends SparkSpec {

  test("map returns results in input order and rethrows the earliest failure in that order") {
    assert(Parallel.map(spark, Seq(3, 1, 2))(_ * 10) == Seq(30, 10, 20))
    // item 1 fails only after item 2 has failed, so the failure met first
    // is not the one rethrown; item 0 still runs to completion
    val laterFailed = new CountDownLatch(1)
    val ran = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Parallel.map(spark, Seq(0, 1, 2)) {
        case 0 => ran.set(true)
        case 1 =>
          assert(laterFailed.await(30, TimeUnit.SECONDS))
          throw new IllegalStateException("first")
        case _ =>
          try throw new IllegalStateException("second")
          finally laterFailed.countDown()
      }
    }
    assert(e.getMessage == "first")
    assert(ran.get)
  }

  for (q <- Seq("q247_threshold_sweep", "q272_beam_width_sweep"))
    test(s"every job of the $q fan-out carries the caller's job group and local properties") {
      val sc = spark.sparkContext
      val seen = new ConcurrentLinkedQueue[(String, String)]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val p = Option(e.properties)
          def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("<none>")
          seen.add((prop("spark.jobGroup.id"), prop("graft.spec.tag")))
        }
      }
      // Two calls with different tags: the second call's jobs must carry
      // the second tag, so no fan-out thread may outlive its call.
      def callTagged(tag: String): Seq[(String, String)] = {
        Listeners.drain(sc)
        seen.clear()
        sc.setJobGroup(s"group-$tag", "parallel spec")
        sc.setLocalProperty("graft.spec.tag", tag)
        try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count()
        finally {
          sc.clearJobGroup()
          sc.setLocalProperty("graft.spec.tag", null)
        }
        Listeners.drain(sc)
        seen.asScala.toSeq
      }
      sc.addSparkListener(listener)
      try {
        Seq("one", "two").foreach { tag =>
          val jobs = callTagged(tag)
          assert(jobs.nonEmpty, s"$tag: no job launched")
          val stray = jobs.filterNot(_ == (s"group-$tag", tag))
          if (stray.nonEmpty)
            fail(s"$tag: ${stray.size} of ${jobs.size} jobs without the caller's properties: ${stray.distinct}")
        }
      } finally sc.removeSparkListener(listener)
    }
}
