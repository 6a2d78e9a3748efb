package perfbench

/** Harness checks that need no Spark session; `selftest.py` runs them.
  * Exits non-zero on the first failed check.
  */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"FAIL: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val rec = new Recorder
    val boom = rec.op("q_throws")(throw new IllegalStateException("boom"))(_ => None)
    check(boom.isEmpty, "a throwing op returns no timing")
    val bad = rec.op("q_wrong")(41L)(c => if (c == 42L) None else Some(s"count $c"))
    check(bad.isEmpty, "an op failing its output check returns no timing")
    val good = rec.op("q_ok")(42L)(c => if (c == 42L) None else Some(s"count $c"))
    check(good.exists(_._1 == 42L), "a passing op returns its result and timing")
    check(rec.attempted == 3 && rec.failures.size == 2, "attempted 3, failed 2")
    check(rec.failures.head.startsWith("q_throws: threw IllegalStateException"), "failure names the op")
    check(rec.samples.isEmpty, "ops record no samples by themselves")

    check(Trace.siteFile("parquet at Tables.scala:14") == "Tables", "site file of a Scala call site")
    check(Trace.siteFile("run at CompletableFuture.java:1768") == "other", "site file of a Java call site")
    check(Trace.opsFiles("graft.operators.Bpe$.fit(Bpe.scala:120)\ngraft.operators.Pq$.x(Pq.scala:9)")
      == Seq("Bpe", "Pq"), "operator files in a long call site")
    check(Main.family("q210_bpe_fit_batched") == "TextQueries", "family of a text query")
    check(Main.family("q90_pagerank") == "GraphQueries", "family of a graph query")
    println("perfbench.SelfTest: ok")
  }
}
