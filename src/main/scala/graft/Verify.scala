package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Canonicalize each result's PHYSICAL export types to the ones the
    * driver's pandas-based dtype-sensitive hash sees from the DuckDB
    * side — values are untouched, only representation widens:
    *
    *  - int8/16/32 → int64 (DuckDB aggregates/ranks are BIGINT; a
    *    Spark `row_number` lands as int32 and reds the compare),
    *  - DATE / TIMESTAMP (tz) → TIMESTAMP_NTZ micros (pandas reads
    *    DuckDB DATE and TIMESTAMP as naive datetime64[us]; Spark's
    *    INT96 reads as ns and its tz-adjusted micros as tz-aware —
    *    both red a strict dtype compare even when values agree).
    *
    * One dump-layer projection instead of 40 per-query casts; the
    * session TZ is UTC so tz→NTZ is value-identical. */
  private def canonical(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case ByteType | ShortType | IntegerType =>
          col(f.name).cast(LongType).as(f.name)
        case DateType | TimestampType =>
          col(f.name).cast(TimestampNTZType).as(f.name)
        case _ => col(f.name)
      }
    }.toSeq: _*)
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // The session writes TIMESTAMP_MICROS, which `canonical` relies
    // on (see GraftSession).
    val spark = GraftSession.create(GraftSession.envCpus)
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (not used by the driver): run only the
    // named queries, e.g. SPARK_GRAFT_ONLY=q1,q2 (pair with
    // VERIFY_ONLY on the compare side).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => selected(kv._1))
      .foreach { case (name, fn) =>
      try canonical(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Dataset.persist lives in the CacheManager (strong refs, not
      // GC-cleaned) — drop each query's pins so a 250+-query dump
      // doesn't accrete cached frames (see Bench for the reasoning).
      // Raw RDD persists (Ranking) bypass the CacheManager; drop them
      // explicitly too rather than waiting on GC + ContextCleaner.
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // ALWAYS the full oracle map, even under SPARK_GRAFT_ONLY: a
    // filtered dump into a shared out dir would clobber the complete
    // oracle_sql.json other queries' compares read (verify_local's
    // VERIFY_ONLY handles compare-side subsetting).
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
