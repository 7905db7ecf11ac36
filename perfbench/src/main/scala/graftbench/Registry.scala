package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, SparkEntry}

/** The registry workload's query sample, output digests and session. */
object Registry {

  /** Scale factor of the generated tables. */
  val Sf = 0.01

  /** Share of each family kept in the sample, at least `MinPerFamily`. */
  val Fraction = 0.03
  val MinPerFamily = 1

  /** Least number of timed passes over the sample in a run; each
    * query's time is its median over the run's timed passes. */
  val MinPasses = 2

  /** Untimed passes over the sample before the timed ones. Pass times
    * fall for about eight passes in a fresh JVM (JIT); these take the
    * steepest part of that fall out of the timed passes. */
  val WarmPasses = 4

  def family(name: String): String = name.takeWhile(_ != '_')

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** A fixed family-stratified sample of the registry: per family, the
    * queries first in md5(name) order. Fixed, so every seed times the
    * same work and only the order differs. */
  def sample(registry: Seq[Q] = SparkEntry.registry): Seq[Q] =
    registry.groupBy(q => family(q.name)).toSeq.sortBy(_._1).flatMap { case (_, qs) =>
      val n = math.min(qs.size, math.max(MinPerFamily, math.round(qs.size * Fraction).toInt))
      qs.sortBy(q => md5(q.name)).take(n)
    }

  /** Order-insensitive digest of a result: row count and the sum of
    * one 64-bit hash per row (over the row's JSON form, so every
    * column type hashes). Equal results give equal digests in any
    * row order. */
  final case class Digest(rows: Long, hashSum: BigDecimal)

  def digest(df: DataFrame): Digest = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = named
      .select(xxhash64(to_json(struct(named.columns.map(col).toIndexedSeq: _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Recorded digest of one query. `exact` compares the hash sum too;
    * `count` compares the row count only (output differs run to run). */
  final case class Recorded(rows: Long, hashSum: BigDecimal, mode: String) {
    def matches(d: Digest): Boolean =
      d.rows == rows && (mode == "count" || d.hashSum == hashSum)
  }

  val DigestResource = "/graftbench/registry_digests.tsv"

  def recorded(): Map[String, Recorded] = {
    val in = getClass.getResourceAsStream(DigestResource)
    if (in == null) Map.empty
    else try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
          val Array(n, rows, h, mode) = l.split("\t")
          n -> Recorded(rows.toLong, BigDecimal(h), mode)
        }.toMap
    } finally in.close()
  }

  /** Bench's untimed warm-up: a scan, a shuffle and a broadcast join. */
  def warmup(spark: SparkSession, dir: String): Unit = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    li.groupBy(col("l_orderkey")).count()
      .join(broadcast(li.limit(10)), "l_orderkey")
      .write.format("noop").mode("overwrite").save()
  }

  /** Bench's per-query release: drop cached frames and RDDs, and a
    * full GC every 16th query. */
  def release(spark: SparkSession, n: Int): Unit = {
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    if (n % 16 == 0) System.gc()
  }

  /** The index builders, as `graft.IndexBuild` times them. */
  def indexFamilies(spark: SparkSession, dir: String): Seq[(String, () => Long)] = Seq(
    "graph" -> (() => graft.ext.GraphIndex.copurchase(spark, dir).count()),
    "dedup" -> (() => graft.ext.DedupIndex.signatures(spark, dir).count()),
    "text" -> (() => graft.ext.TextIndex.tokens(spark, dir).count()),
    "mm" -> (() => graft.ext.MmIndex.features(spark, dir).count()))

  /** Tables for the registry, from `graft.SyntheticGen` with the
    * parquet timestamp type its own main sets. */
  def generate(spark: SparkSession, dir: String): Unit = {
    val key = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try graft.SyntheticGen.generate(spark, dir, Sf)
    finally spark.conf.unset(key)
  }
}

/** The session every workload runs in: `graft.Bench`'s builder, conf
  * for conf, at local[cpus] with cpus shuffle partitions. The JVM also
  * carries Bench's `-Dspark.ui.enabled=false` and
  * `-Dspark.sql.session.timeZone=UTC`. */
object Session {
  def create(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The effective conf, minus per-process identifiers, plus whether
    * `GraftExtensions` is installed (it sets no conf key; its injected
    * function is looked up instead). */
  def effectiveConf(spark: SparkSession): Map[String, String] = {
    val volatile = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
      "spark.driver.host", "spark.driver.port", "spark.executor.id")
    (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll)
      .filter { case (k, _) => !volatile.contains(k) } +
      ("graftbench.graftExtensions" ->
        spark.catalog.functionExists("farm_starts_with_name_native").toString)
  }
}
