package graft

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated parquet testdata (`TESTDATA.md`):
  * one file per table under an sf dir. Filters/projections applied by
  * callers are pushed into the parquet scan by Catalyst.
  *
  * Every parquet read in the engine goes through [[parquet]], which
  * memoizes table metadata per JVM. Without a schema, each
  * `spark.read.parquet` runs a schema-inference job while the query is
  * still being built; most registry queries read three or more tables,
  * so that job was a large share of a query's fixed cost. The memo key
  * is the path plus (relative path, length, mtime) of every file under
  * it ([[files]]), so a table rewritten in place is inferred (and
  * counted) afresh. The schema key adds the confs that change what
  * inference returns for the same files, so `events` read under the
  * other timestamp setting is inferred afresh too. Only metadata is
  * cached: every query still scans the parquet.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The confs under which the same parquet files infer another schema. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  private val schemas =
    new ConcurrentHashMap[(String, Seq[String], Seq[Option[String]]), StructType]()

  /** `rel:length:mtime` of every file under `f` (`f` itself named
    * `rel`), in name order; empty when `f` does not exist. Also the
    * input of the index stores' fingerprint. */
  def files(f: File, rel: String): Seq[String] =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
        .flatMap(c => files(c, s"$rel/${c.getName}"))
    else if (f.exists()) Seq(s"$rel:${f.length}:${f.lastModified}")
    else Nil

  /** The parquet at `path`, read with its memoized schema; the first
    * read of a (path, files, confs) key infers it. A path with no local
    * files is read as Spark reads it, uninferred and unmemoized. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val sig = files(new File(path), "")
    if (sig.isEmpty) spark.read.parquet(path)
    else {
      val key = (path, sig, schemaConfs.map(spark.conf.getOption))
      spark.read
        .schema(schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema))
        .parquet(path)
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `events.ts` has shipped as TIMESTAMP(NANOS) in some testdata
    * vintages (vectorized reader rejects it — read nanos as long and
    * divide) and plain TIMESTAMP(MICROS) in others (reads as
    * TIMESTAMP_NTZ under Spark 4's NTZ inference). Adapt to whichever
    * schema the files carry and normalize to the session-UTC
    * TimestampType every downstream query was written against; both
    * conversions are exact integer microseconds, and DuckDB reads the
    * same micros, so oracle comparisons stay bit-exact.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // Left enabled: consulted again at execution time; no other
    // testdata table carries nanos timestamps.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long vintage: exact ns → us
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // micros vintage: same instant, UTC wall clock
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  private val rowCounts =
    new ConcurrentHashMap[(String, Seq[String]), java.lang.Long]()

  /** Row count of `<dir>/<name>.parquet`, memoized under the same
    * (path, files) key as [[parquet]]'s schemas, so a regenerated table
    * is counted afresh. It is the observed measure most [[Regimes]]
    * switches pass to `Regimes.big`, and the input to the
    * oracle-mirrored sample arithmetic (Dedup, Similarity); compare it
    * with a threshold only through a `Regimes` entry. Switches consult
    * it on every query construction; without the memo each
    * construction charged a full count job to the query's measured
    * time.
    */
  def rowCount(s: SparkSession, dir: String, name: String): Long = {
    // events.ts may be TIMESTAMP(NANOS) (see [[events]]) — the raw
    // reader refuses that type at analysis unless the legacy conf is
    // on, and a rowCount("events") can run before any events() call.
    // Harmless for every other table.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    rowCounts.computeIfAbsent((path, files(new File(path), "")),
      _ => parquet(s, path).count())
  }
}

/** One engine query: the Spark plan builder plus (when SQL-expressible)
  * the ANSI-SQL oracle the driver runs in DuckDB over the same tables.
  *
  * Oracle-parity rules used throughout (see SURVEY.md §5):
  *   - every computed column aliased identically on both sides;
  *   - floating aggregates computed as SUM(CAST(expr AS DECIMAL(p,s)))
  *     then CAST AS DOUBLE — decimal addition is associative, so the
  *     result is bit-identical regardless of partial-aggregation order;
  *   - timestamp arithmetic in integer microseconds on both sides;
  *   - every ranked/limited query carries a total-order tiebreaker.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])
