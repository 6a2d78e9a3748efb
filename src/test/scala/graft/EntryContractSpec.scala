package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants over the query surface itself — cheap
  * guards for regressions the gates can't see until the driver runs:
  * a query added without its oracle silently downgrades to a rows-only
  * check; a colliding qNN prefix makes Bench emit duplicate JSON keys.
  */
class EntryContractSpec extends AnyFunSuite {

  test("every gated query has an oracle, and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries with no oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles with no query: ${(o -- q).toSeq.sorted}")
  }

  test("qNN prefixes are unique (Bench JSON key invariant)") {
    val prefixes = SparkEntry.queries.keys.toSeq.map(_.takeWhile(_ != '_'))
    val dup = prefixes.groupBy(identity).filter(_._2.size > 1).keys
    assert(dup.isEmpty, s"colliding qNN prefixes: ${dup.toSeq.sorted}")
  }

  test("query names follow the qNN_snake_case convention") {
    val bad = SparkEntry.queries.keys.filterNot(_.matches("q[0-9]+_[a-z0-9_]+"))
    assert(bad.isEmpty, s"nonconforming names: ${bad.toSeq.sorted}")
  }

  test("oracle SQL never references driver-internal paths or temp locations") {
    val bad = SparkEntry.oracleSql.filter { case (_, sql) =>
      sql.contains("/tmp/") || sql.contains("spark-warehouse") || sql.contains("file:")
    }
    assert(bad.isEmpty, s"oracles with environment-bound paths: ${bad.keys.toSeq.sorted}")
  }

  test("Harness.fmt writes a decimal point under a comma-decimal default locale") {
    // The f-interpolator follows the default locale; Bench's and
    // ScaleRehearsal's JSON lines are valid only because fmt does not.
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(f"${1.5}%.2f" == "1,50", "the locale did not take effect")
      assert(Harness.fmt(1.5, 2) == "1.50")
    } finally java.util.Locale.setDefault(saved)
    assert(java.util.Locale.getDefault == saved)
  }
}
