package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Writes PLANS.md: the formatted physical plan of each headline
  * query at a given sf dir — the `.explain("formatted")` review the
  * scale posture is judged on (pushdown, broadcasts, exchange count).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    // Fixed local[4], not SPARK_GRAFT_CPUS: the partition count shows
    // in every Exchange, and PLANS.md must not depend on the host.
    val spark = GraftSession.create(4)
    spark.sparkContext.setLogLevel("ERROR")
    // The dump list IS the registry (sorted for a stable diff):
    // round 3 missed a query because this was a hand-maintained
    // headline list; deriving it kills the drift class, and
    // PlanCoverageSpec fails the build if the committed PLANS.md
    // falls behind the registry.
    val headline = SparkEntry.queries.keys.toSeq.sorted
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (")
      .append(sfDir).append(")\n\n")
    sb.append("Generated by `graft.PlanDump`. What to look for: ")
      .append("`PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin` ")
      .append("for dims and query sets, `TakeOrderedAndProject` for top-k, ")
      .append("exchange count (one per intended shuffle), codegen spans.\n")
    for (name <- headline) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
