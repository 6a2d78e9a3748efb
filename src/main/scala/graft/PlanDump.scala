package graft

import java.nio.file.{Files, Paths}

/** Writes `PLANS.md`: the formatted physical plan of each gated query —
  * reviewable evidence that pushdown/pruning/broadcast/partial-agg shapes
  * hold (the machine-checked versions live in PlanQualitySpec).
  *
  * DUMP-SET POLICY (round 15): every key of `SparkEntry.queries`, sorted
  * by numeric id. The hand-maintained headline list drifted twice (q263
  * missed the round-14 regen; 156 of 257 covered overall — neither "all"
  * nor a documented subset), so the set is now DERIVED: a new gated query
  * appears in the dump automatically or it isn't in `queries` at all.
  *
  * Usage: sbt "runMain graft.PlanDump [sfDir] [outFile]"
  */
object PlanDump {

  /** Fixed, not [[core.Sessions.cores]]: the core count sets the shuffle
    * partitions printed in the plans, and PLANS.md must not change with
    * the box that regenerates it. PlanDump also skips the harness's
    * warm-up query, whose expression ids would renumber every plan.
    */
  private val Cpus = 4

  /** Numeric id of a "qNN_name" key, for stable ordering. */
  private def qid(name: String): Int =
    name.drop(1).takeWhile(_.isDigit).toInt

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out   = args.lift(1).getOrElse("PLANS.md")
    val spark = core.Sessions.local(Cpus)
    val names = SparkEntry.queries.keys.toSeq.sortBy(n => (qid(n), n))
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of every gated query\n\n")
    sb.append(s"Generated by `graft.PlanDump` on $sfDir: all ${names.size} ")
    sb.append("`SparkEntry.queries` entries, sorted by id (the dump-set\n")
    sb.append("policy — derived, not hand-maintained). Machine-checked plan\n")
    sb.append("assertions are in `PlanQualitySpec`; this file is the human-readable dump.\n")
    // The shipped q35/q36/q41 eagerly checkpoint their pair mining, which
    // collapses the plan to an ExistingRDD scan — useless as documentation
    // AND it runs the mining just to print. Dump the SAME shipped builders
    // with materialize=false (TextQueries.{jaccard,minhash,simhash}Query),
    // so the dumped shape can't drift from the shipped query.
    val planOnly: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "q35_jaccard_pairs" -> { (s, dir) =>
        graft.queries.TextQueries.jaccardQuery(s, dir, materialize = false) },
      "q36_minhash_lsh" -> { (s, dir) =>
        graft.queries.TextQueries.minhashQuery(s, dir, materialize = false) },
      "q41_simhash" -> { (s, dir) =>
        graft.queries.TextQueries.simhashQuery(s, dir, materialize = false) },
      "q127_image_neardup" -> { (s, dir) =>
        graft.queries.TextQueries.dhashPairsPlan(s, dir) },
      "q135_audio_neardup" -> { (s, dir) =>
        graft.queries.TextQueries.audioPairsPlan(s, dir) })
    names.foreach { name =>
      val df = planOnly.getOrElse(name, SparkEntry.queries(name))(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out (${names.size} plans)")
    spark.stop()
  }
}
