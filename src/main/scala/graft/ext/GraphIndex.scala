package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** A PERSISTED graph layout — an [[IndexUtil]] `Store` for the gr_
  * family's shared edge builds. The two expensive post-shuffle
  * frames are written ONCE per testdata fingerprint:
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
  * Freshness and atomicity are the shared [[Store]] mechanics
  * (fingerprint of lineitem.parquet + orders.parquet).
  */
object GraphIndex {

  private[ext] val store = new Store("graph", version = 1,
    Seq("lineitem.parquet", "orders.parquet"), Seq(
      Frame("copurchase", 8, "a", Seq("a", "b"),
        (s, d, _) => buildCopurchase(s, d)),
      Frame("interaction", 8, "c", Seq("c", "s"),
        (s, d, _) => buildInteraction(s, d))))

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

  /** The stored (a, b, w) co-purchase frame (a < b, w = support >= 2),
    * read from the persisted layout (built on first use). */
  def copurchase(s: SparkSession, sfDir: String): DataFrame =
    store.read(s, sfDir, "copurchase")

  /** The stored distinct (c, s) customer–supplier pairs. */
  def interaction(s: SparkSession, sfDir: String): DataFrame =
    store.read(s, sfDir, "interaction")
}
