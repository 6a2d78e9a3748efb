package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites (one session per JVM — suites reuse
  * the same local[4] session, built by the engine's own factory, via
  * getOrCreate).
  */
trait SparkSpec extends AnyFunSuite {
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
}
