package graft

import org.apache.spark.sql.SparkSession

/** The one engine session: every main and the shared test session
  * build through [[create]], so the engine that is tested, verified
  * and timed is the same engine (same confs, same extensions).
  */
object GraftSession {

  /** AQE's coalescer (parallelismFirst=true) targets
    * max(stageBytes/parallelism, minPartitionSize); at bench scale
    * every shuffle is 1-30 MB, so the default 1 MB floor coalesces
    * post-shuffle stages to a handful of tasks and serializes the
    * work local[cpus] could parallelize (measured 45-90% per-query
    * time ratios with the floor lowered). The floor only binds when
    * a stage's data is smaller than parallelism × floor — at
    * production shuffle sizes stageBytes/parallelism dominates and
    * this setting is inert, so the local value is safe at any scale. */
  val MinCoalesceBytes = "64k"

  /** Whole-stage-codegen compile cache (static conf, default 100
    * entries): a 294-query sweep generates thousands of distinct
    * codegen units, so at the default size every unit is evicted
    * before its second sweep and janino recompiles the entire suite
    * per sweep — pure fixed overhead in every measured sample. Sized
    * to hold the whole suite's units; this caches COMPILED CODE keyed
    * by generated source, never data or results. */
  val CodegenCacheEntries = "5000"

  /** Core count for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** local[cpus] with cpus shuffle partitions and the engine conf.
    * `getOrCreate`: a second call in the same JVM returns the live
    * session with the runtime confs re-applied. */
  def create(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        MinCoalesceBytes)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .config("spark.sql.session.timeZone", "UTC")
      // Write TIMESTAMP_MICROS, not INT96: pandas reads INT96 as
      // datetime64[ns] but DuckDB's .df() yields datetime64[us] — the
      // oracle compare's dtype-sensitive hash then reds EVERY
      // timestamp column. Micros round-trips identically on both
      // sides (Verify's dumps, SyntheticGen's tables).
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // A shared VM can stall for minutes at a time and a 48g sf1
      // heap can take >2 min in a single full GC; either starves
      // the in-process heartbeater past the default 120 s window and
      // the executor then KILLS a healthy run ("Exit as unable to
      // send heartbeats", observed at sf1). Local mode has no real
      // liveness question — driver and executor share the JVM — so
      // widen the windows.
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .withExtensions(new functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
