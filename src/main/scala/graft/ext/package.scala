package graft

import org.apache.spark.sql.DataFrame

package object ext {

  /** Lineage cut + persist: re-roots `df` on its own RDD (a
    * LogicalRDD leaf) and caches it, with no action. The caller's
    * next action computes it once, however many times the plan
    * references it. Unrolled loops need this because round i+1
    * references round i more than once, and an uncut plan grows
    * geometrically with the round count (observed 13 s → ~2 s for
    * gr_pagerank at sf0.1). Verify/Bench drop the pins per query. */
  private[ext] def pin(df: DataFrame): DataFrame = {
    val cut = df.sparkSession.createDataFrame(df.rdd, df.schema)
    cut.persist()
    cut
  }
}
