package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What the harness mains (`Bench`, `Probe`, `Verify`, `ScaleRehearsal`)
  * share: one session loan at the [[core.Sessions.cores]] rule, one wall
  * clock, one number format and one artifact write. `PlanDump` builds its
  * own session at a fixed core count (see there).
  */
object Harness {

  /** Runs `body` in a fresh [[core.Sessions.local]] session after a warm-up
    * query (JVM and codegen start-up stay out of the first measurement),
    * then stops the session and clears the active and default sessions,
    * also on a throw, so the next loan in the JVM gets a new context
    * instead of the stopped one.
    */
  def session[A](appName: String)(body: SparkSession => A): A = {
    val spark = core.Sessions.local(appName = appName)
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      body(spark)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** Wall seconds `body` took, and its result. */
  def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** `v` with `decimals` places, always with a decimal point: the
    * f-interpolator follows the JVM default locale, and a comma decimal
    * makes invalid JSON.
    */
  def fmt(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** Prints `line` and writes it, newline-terminated, to `file`. */
  def writeArtifact(file: String, line: String): Unit = {
    println(line)
    Files.writeString(Paths.get(file), line + "\n")
  }
}
