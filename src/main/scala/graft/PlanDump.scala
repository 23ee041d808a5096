package graft

/** Regenerates PLANS.md: `explain("formatted")` for EVERY declared key
  * — the plan-audit
  * evidence behind DESIGN §3's claims (pushdown reaching scans,
  * broadcasts, 2-phase aggregates, the custom TopK execs, no
  * nested-loop joins in the similarity family). The enforced subset of
  * these properties lives in PlanSpec, including the two ALL-KEYS
  * audits (no undeclared cartesian/BNLJ; no unpartitioned row-level
  * WindowExec outside the bounded whitelist).
  *
  *   java -cp target/scala-2.13/classes:/opt/spark/jars/'*' \
  *     <add-opens list from tools/run_verify.sh> graft.PlanDump
  */
object PlanDump {
  private val Keys = SparkEntry.queries.keys.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // fixed 4 partitions: the plans print them, so PLANS.md must not
    // depend on the machine that regenerates it
    val spark = Harness.session(4)
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans of the flagship operators\n\n"
    sb ++= s"Generated by `graft.PlanDump` at $sfDir (initial plans, " +
      "before AQE runtime re-optimization; regenerate after plan-shape " +
      "changes). The assertions in PlanSpec are the enforced subset — " +
      "this file is the human-readable audit trail.\n"
    Keys.foreach { k =>
      val df = SparkEntry.queries(k)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb ++= s"\n## $k\n\n```\n$formatted```\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      sb.toString.getBytes("UTF-8"))
    println(s"PLANS.md written (${Keys.length} keys)")
    spark.stop()
  }
}
