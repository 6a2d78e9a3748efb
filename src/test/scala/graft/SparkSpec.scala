package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites (one session per JVM — suites reuse
  * the same local[4] session, built by the engine's own factory, via
  * getOrCreate). Fixture dirs come from [[fixtureDir]] and are deleted
  * when the suite ends.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = graft.core.Sessions.local(4)
    // StreamingJoinHelper computes stream-stream state-eviction bounds
    // by symbolically solving the join condition; on conditions mixing
    // time bounds with non-time predicates (minhashCandidateStream's
    // doc_a < doc_b) it probes expression evaluation, catches the
    // resulting [INTERNAL_ERROR] Cannot evaluate expression itself, and
    // still logs the full stack trace — 16 harmless traces per green run
    // that train readers to skip error-shaped output (round-12 verdict
    // #4). The watermark still applies (StreamingSpec's horizon cutoff
    // asserts state stays bounded); only this one logger is quieted,
    // AFTER session init because Spark's logging bootstrap resets
    // programmatic levels set earlier.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.catalyst.analysis.StreamingJoinHelper",
      org.apache.logging.log4j.Level.FATAL)
    s
  }

  def approx(a: Double, b: Double, tol: Double = 1e-6): Boolean = math.abs(a - b) <= tol

  private val fixtureDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A new empty temp dir named `prefix…`, deleted with its contents after
    * the suite.
    */
  def fixtureDir(prefix: String): Path = synchronized {
    val d = Files.createTempDirectory(prefix)
    fixtureDirs += d
    d
  }

  /** Releases what may still point into a fixture dir (running streams,
    * catalog tables located there), so no later suite in the shared
    * session reads a deleted location, then deletes the dirs. Symlinks
    * inside a fixture dir are removed, never followed.
    */
  override protected def afterAll(): Unit =
    try super.afterAll()
    finally if (fixtureDirs.nonEmpty) {
      spark.streams.active.foreach(_.stop())
      val catalog = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.externalCatalog
      for {
        db <- catalog.listDatabases()
        t <- catalog.listTables(db)
        loc = catalog.getTable(db, t).location
        if loc.getScheme == "file" && fixtureDirs.exists(java.nio.file.Paths.get(loc).startsWith(_))
      } spark.sql(s"DROP TABLE IF EXISTS `$db`.`$t`")
      for (d <- fixtureDirs if Files.exists(d)) {
        val paths = Files.walk(d)
        try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
        finally paths.close()
      }
    }
}
