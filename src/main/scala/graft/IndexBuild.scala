package graft

/** One-time index-build economics: builds each persisted index family
  * ([[ext.GraphIndex]], [[ext.DedupIndex]], [[ext.TextIndex]],
  * [[ext.MmIndex]]) for the given sf dir into a FRESH index root and
  * prints one JSON line of per-family build seconds.
  *
  * This is the job a production deployment actually schedules (the
  * per-query numbers in BENCH assume the stores exist); BASELINE.md's
  * index-economics table is produced by running this against a fresh
  * `SPARK_GRAFT_INDEX_DIR` so the rename-install never short-circuits:
  *
  * {{{
  * SPARK_GRAFT_INDEX_DIR=$(mktemp -d) \
  *   sbt "runMain graft.IndexBuild /root/testdata/sf0.1"
  * }}}
  *
  * Each family's time covers its full ensure() build (every frame
  * written + atomic install) plus one count() of the leading frame —
  * the read is pennies next to the build and proves the install.
  */
object IndexBuild {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.create(GraftSession.envCpus)
    def time(body: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = body
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val families = Seq[(String, () => Long)](
      "graph" -> (() => ext.GraphIndex.copurchase(spark, sfDir).count()),
      "dedup" -> (() => ext.DedupIndex.signatures(spark, sfDir).count()),
      "text" -> (() => ext.TextIndex.tokens(spark, sfDir).count()),
      "mm" -> (() => ext.MmIndex.features(spark, sfDir).count()))
    val timed = families.map { case (name, f) =>
      val (sec, n) = time(f())
      name -> (sec, n)
    }
    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val line = timed
      .map { case (k, (sec, n)) => s""""$k":{"sec":${fmt(sec)},"rows":$n}""" }
      .mkString(s"""{"metric":"index_build","sf":"$sfDir","families":{""",
        ",", "}}")
    try spark.stop() catch { case _: Throwable => () }
    println(line)
  }
}
