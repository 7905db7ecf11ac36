package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Registry-completeness gate for the plan-review artifacts (round-4
  * verdict item 5): PlanDump derives its list from
  * `SparkEntry.queries`, and this spec fails the build whenever the
  * COMMITTED PLANS.md falls behind the registry (a query added
  * without regenerating the dump) or carries stale sections — the
  * drift class that silently dropped a query from plan review in
  * round 3. The second test is the baseline scale contract applied
  * to EVERY registered query, not just the hand-pinned PlanSpec
  * subset: each plan must build, and none may contain a bare
  * (non-broadcast) cartesian product.
  */
class PlanCoverageSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("PLANS.md carries a dumped plan for every registered query " +
       "and no stale sections") {
    val md = new String(Files.readAllBytes(Paths.get("PLANS.md")),
      StandardCharsets.UTF_8)
    val dumped = md.linesIterator
      .filter(_.startsWith("## ")).map(_.drop(3).trim).toSet
    val missing = SparkEntry.queries.keySet -- dumped
    assert(missing.isEmpty,
      s"queries with no dumped plan — regenerate with " +
        s"`sbt \"runMain graft.PlanDump\"`: " +
        missing.toSeq.sorted.mkString(", "))
    val stale = dumped -- SparkEntry.queries.keySet
    assert(stale.isEmpty,
      s"PLANS.md sections for queries no longer registered: " +
        stale.toSeq.sorted.mkString(", "))
  }

  test("every registered query builds a physical plan with no bare " +
       "cartesian product") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan =
          try fn(spark, sf).queryExecution.executedPlan.toString
          catch { case e: Throwable =>
            fail(s"$name failed to plan: $e")
          }
        // crossJoin(broadcast(tiny)) lowers to BroadcastNestedLoop —
        // allowed; an unhinted cartesian of two distributed sides is
        // the 100 TB death sentence this guards against.
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    // per-query caches from eagerly-materializing builders (pagerank
    // etc.) are not needed once the plan string is taken
    spark.sqlContext.clearCache()
    assert(offenders.isEmpty,
      s"queries planning CartesianProduct: ${offenders.mkString(", ")}")
  }
}
