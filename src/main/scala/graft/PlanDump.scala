package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.matching.Regex

import org.apache.spark.sql.execution.ExplainMode

/** Writes PLANS.md: the formatted physical plan of each headline
  * query at a given sf dir — the `.explain("formatted")` review the
  * scale posture is judged on (pushdown, broadcasts, exchange count).
  */
object PlanDump {
  /** An index-store scan path, `file:<root>/<tag>-<md5>/<frame>`. The
    * root and the input fingerprint depend on the checkout, not on the
    * plan, so PLANS.md prints it as `<index>/<tag>/<frame>`. */
  private val storePath = """file:[^\s,\[\]]*/([a-z0-9]+)-[0-9a-f]{32}/""".r
  /** Global counters, not plan content: SparkPlan ids (`[plan_id=N]`
    * on exchanges, `[id=#N]` on subqueries), expression ids (`name#N`),
    * RDD ids (`RDD[N]`) and lambda variable names (`lambda x_N`) number
    * everything the JVM has built so far, so they shift with whatever
    * ran first (an index store built in the same run shifts every later
    * id). Each is renumbered per query in order of appearance, which
    * keeps which nodes and columns share one. */
  private val counters = Seq(
    """(\[plan_id=|\[id=#)(\d+)""".r,
    """((?<!\[id=)#)(\d+)""".r,
    """(RDD\[)(\d+)""".r,
    """(lambda \w+?_)(\d+)""".r)
  /** A lambda prints its runtime class and identity hash. */
  private val lambda = """\$\$Lambda\$?\d*/0x[0-9a-f]+@[0-9a-f]+""".r

  /** The formatted plan with only plan-dependent text left in it. */
  private[graft] def stable(explain: String): String = {
    val paths = storePath.replaceAllIn(explain, "<index>/$1/")
    val renumbered = counters.foldLeft(paths) { (text, counter) =>
      val ids = mutable.Map.empty[String, Int]
      counter.replaceAllIn(text, m => Regex.quoteReplacement(
        m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1)))
    }
    lambda.replaceAllIn(renumbered, Regex.quoteReplacement("$$Lambda"))
  }

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
      sb.append(stable(
        df.queryExecution.explainString(ExplainMode.fromString("formatted"))))
      sb.append("```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
