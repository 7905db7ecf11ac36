package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** The persisted IVF layout: probing must (a) return exactly what the
  * in-session sim_ann_ivf pipeline computes on the same corpus, and
  * (b) physically read only the probed cell directories — ANN
  * candidate generation as partition pruning.
  */
class SimilarityIndexSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("persisted IVF probe equals the in-session pipeline and prunes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ivf_index").toString
    SimilarityIndex.buildIvf(spark, sf, dir)

    val queries = graft.Tables.embeddings(spark, sf)
      .filter($"vec_id" % 97 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qemb"))
    val got = SimilarityIndex.queryIvf(spark, dir, queries)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val expected = SparkEntry.queries("sim_ann_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == expected,
      "index probe must reproduce the in-session IVF results exactly")

    // Pruning: the probed scan must touch strictly fewer files than
    // the full index (16 cell directories exist; queries probe 2
    // cells each).
    val all = spark.read.parquet(s"$dir/vectors")
    val probedCells = got.size // just to force evaluation above
    assert(probedCells > 0)
    val pruned = all.filter($"cell".isin(0L, 1L))
    val prunedFiles = pruned.select(input_file_name()).distinct().count()
    val allFiles = all.select(input_file_name()).distinct().count()
    assert(prunedFiles < allFiles,
      s"a cell filter must prune partition directories " +
        s"($prunedFiles vs $allFiles files read)")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      plan.take(500))
  }
}
