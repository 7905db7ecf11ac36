package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated parquet testdata (`TESTDATA.md`):
  * one file per table under an sf dir. Filters/projections applied by
  * callers are pushed into the parquet scan by Catalyst.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

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

  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Row count of `<dir>/<name>.parquet`, cached per path for the
    * lifetime of the process. It is the observed measure most
    * [[Regimes]] switches pass to `Regimes.big`, and the input to the
    * oracle-mirrored sample arithmetic (Dedup, Similarity); compare it
    * with a threshold only through a `Regimes` entry. Switches consult
    * it on every query construction; without the cache each
    * construction charged a full count job to the query's measured
    * time. Testdata dirs are immutable within a run, so a plain
    * per-path memo is safe.
    */
  def rowCount(s: SparkSession, dir: String, name: String): Long = {
    // events.ts may be TIMESTAMP(NANOS) (see [[events]]) — the raw
    // reader refuses that type at analysis unless the legacy conf is
    // on, and a rowCount("events") can run before any events() call.
    // Harmless for every other table.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    rowCountCache.computeIfAbsent(
      s"$dir/$name.parquet", p => apply(s, dir, name).count())
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
