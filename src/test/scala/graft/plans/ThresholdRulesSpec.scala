package graft.plans

import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The levenshtein-threshold optimizer rule: every comparison
  * direction rewrites to the banded three-argument form, the rewrite
  * is semantics-preserving (incl. nulls), and guarded thresholds are
  * left alone.
  */
class ThresholdRulesSpec extends AnyFunSuite with SharedSpark {

  // (a, b, distance); one null row exercises null-intolerance.
  // Parquet-backed (not a LocalRelation): ConvertToLocalRelation would
  // otherwise evaluate the whole filter at optimization time and leave
  // no plan to inspect.
  private lazy val pairsPath: String = {
    import spark.implicits._
    val p = tempDir("lev_pairs").toString
    Seq(("kitten", "sitting", 3), ("abc", "abd", 1), ("abc", "abc", 0),
        ("abc", "xyz", 3), ("ab", "abcd", 2), ("", "abc", 3))
      .toDF("a", "b", "d")
      .unionByName(Seq((null: String, "abc", -1)).toDF("a", "b", "d"))
      .write.mode("overwrite").parquet(p)
    p
  }
  private def pairs = spark.read.parquet(pairsPath)

  private def rewritten(pred: String): String = {
    val analyzed = pairs.filter(expr(pred)).queryExecution.analyzed
    LevenshteinThresholdRule(analyzed).toString
  }

  test("each comparison direction rewrites to the banded form") {
    for ((pred, want) <- Seq(
        ("levenshtein(a, b) <= 2", "Some\\(2\\)\\) >= 0"),
        ("2 >= levenshtein(a, b)", "Some\\(2\\)\\) >= 0"),
        ("levenshtein(a, b) < 3", "Some\\(2\\)\\) >= 0"),
        ("levenshtein(a, b) > 2", "Some\\(2\\)\\) = -1"),
        ("levenshtein(a, b) >= 3", "Some\\(2\\)\\) = -1"))) {
      val s = rewritten(pred)
      assert(s.matches(s"(?s).*levenshtein\\([^)]*, $want.*"), s"$pred ==> $s")
    }
  }

  test("degenerate and non-literal thresholds are left alone") {
    // k = 0 for <= stays unrewritten (band would be empty).
    assert(!rewritten("levenshtein(a, b) <= 0").contains("Some("))
    // Column threshold stays unrewritten.
    assert(!rewritten("levenshtein(a, b) <= d").contains("Some("))
  }

  test("rewrite is semantics-preserving through the optimizer") {
    // The session installs the rule through GraftExtensions.
    for ((pred, keep) <- Seq(
        ("levenshtein(a, b) <= 2", (d: Int) => d <= 2),
        ("levenshtein(a, b) < 3", (d: Int) => d < 3),
        ("levenshtein(a, b) > 2", (d: Int) => d > 2),
        ("levenshtein(a, b) >= 2", (d: Int) => d >= 2))) {
      val got = pairs.filter(expr(pred))
        .select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSet
      val want = pairs.collect()
        .filter(r => !r.isNullAt(0) && keep(r.getInt(2)))
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got === want, pred)
      // And the optimized plan really took the banded form.
      val opt = pairs.filter(expr(pred)).queryExecution.optimizedPlan.toString
      assert(opt.matches("(?s).*levenshtein\\(.*Some\\(\\d+\\)\\).*"), opt)
    }
  }
}
