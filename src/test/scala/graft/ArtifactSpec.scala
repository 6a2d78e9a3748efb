package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.core.Artifact
import org.apache.spark.graftbus.Listeners

/** The session-artifact reuse contract: one build per (session, key)
  * under racing first calls, per-session entries, unique names, one
  * eviction listener per session, and a non-mutating `built` probe.
  */
class ArtifactSpec extends SparkSpec {

  test("racing first calls on one (session, key) run build exactly once") {
    val a = new Artifact[Int]("spec.race")
    val builds = new AtomicInteger(0)
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val results = (1 to n).map { _ =>
        pool.submit(() => {
          start.await()
          a(spark, "k") { builds.incrementAndGet(); Thread.sleep(50); 42 }
        })
      }
      start.countDown()
      assert(results.map(_.get(30, TimeUnit.SECONDS)).toSet == Set(42))
    } finally pool.shutdown()
    assert(builds.get == 1, s"build ran ${builds.get} times")
    assert(Artifact.built(spark).contains(("spec.race", "k")))
  }

  test("a new session misses, then builds its own entry") {
    val a = new Artifact[String]("spec.session")
    assert(a(spark, "k")("first") == "first")
    val s2 = spark.newSession()
    assert(!Artifact.built(s2).contains(("spec.session", "k")))
    assert(a(s2, "k")("second") == "second")
    assert(Artifact.built(s2).contains(("spec.session", "k")))
    assert(a(spark, "k")("unused") == "first", "the first session keeps its own entry")
  }

  test("a duplicate artifact name is rejected") {
    new Artifact[Int]("spec.dup")
    val ex = intercept[IllegalArgumentException](new Artifact[Long]("spec.dup"))
    assert(ex.getMessage.contains("spec.dup"))
  }

  test("touching several artifacts from one session adds at most one listener") {
    val arts = Seq("spec.l1", "spec.l2", "spec.l3").map(new Artifact[Int](_))
    val s = spark.newSession()
    val before = Listeners.count(spark.sparkContext)
    arts.zipWithIndex.foreach { case (a, i) => a(s, "k")(i); a(s, "k2")(i) }
    val added = Listeners.count(spark.sparkContext) - before
    assert(added <= 1, s"$added listeners added for one session")
  }

  test("built never inserts") {
    val a = new Artifact[Int]("spec.probe")
    val s = spark.newSession()
    val before = Listeners.count(spark.sparkContext)
    assert(Artifact.built(s).isEmpty)
    assert(Artifact.built(s).isEmpty, "probing an unseen session must not create its entry")
    assert(Listeners.count(spark.sparkContext) == before)
    a(s, "k")(1)
    val seen = Artifact.built(s)
    assert(seen == Set(("spec.probe", "k")))
    assert(!seen.contains(("spec.probe", "absent")))
    assert(Artifact.built(s) == seen)
    assert(a(s, "absent")(2) == 2, "a probed-but-unbuilt key still builds on first use")
  }

  test("keys that differ only in punctuation name different warehouse tables") {
    val a = new Artifact[org.apache.spark.sql.DataFrame]("spec.table")
    val (dot, underscore) = (a.tableName(spark, "/d/a.b"), a.tableName(spark, "/d/a_b"))
    assert(dot != underscore, s"one table for two keys: $dot")
    assert(dot.startsWith("graft_spec_table__d_a_b_"), dot)
    assert(a.tableName(spark, "/d/a.b", "side") != dot)
  }

  test("one session builds q90 over two dirs that differ only in punctuation") {
    // each dir's index table is its own: building the second must not
    // drop the table the first dir's memoized frame reads
    val root = fixtureDir("graft-punct")
    val data = java.nio.file.Paths.get("/root/testdata/sf0.001")
    val Seq(dot, underscore) = Seq("sf0.001", "sf0_001")
      .map(n => java.nio.file.Files.createSymbolicLink(root.resolve(n), data).toString)
    val s = spark.newSession()
    val first = SparkEntry.queries("q90_pagerank")(s, dot)
    val n = first.count()
    assert(SparkEntry.queries("q90_pagerank")(s, underscore).count() == n)
    assert(first.count() == n, "the first dir's frame lost its table")
  }
}
