package graft.sources

import java.io.OutputStreamWriter
import java.net.URI
import java.nio.charset.Charset
import java.nio.file.{Files, LinkOption, Path, Paths}
import java.util
import java.util.UUID

import scala.collection.mutable

import org.apache.commons.io.file.PathUtils
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The per-document CSV sink behind `FarmPipeline.writeCsv`: the
  * reference's one-object-per-document `put_object`
  * (lambda_function.py:769-774) as a DataSourceV2 batch write on
  * `java.nio`. `df.write.format(classOf[CsvSink].getName)
  * .mode("overwrite").save(outPath)` writes every `doc` value's rows,
  * in arrival order, to `doc=<escaped key>/part-<partition>-<job>.c000.csv`
  * under `outPath`, with the header and without the `doc` column —
  * the layout and bytes of `partitionBy("doc").csv(outPath)`, whose
  * `UnivocityGenerator` it uses. No `.crc` side files are written.
  *
  * All rows of one `doc` must reach one task, contiguously (the
  * caller repartitions and sorts on `doc` first), so a document is
  * never split over two files: a key that comes back within a task
  * fails the task, and a key that two tasks wrote fails the job
  * commit before it moves any file.
  *
  * Commit protocol, all-or-nothing per job like Spark's v1 committer:
  * the driver deletes `outPath` and makes a `_temporary-<job>` staging
  * directory; each task writes its files flat into staging and lists
  * them in its commit message (abort deletes them); job commit moves
  * the listed files into place, writes `_SUCCESS` and deletes staging;
  * job abort deletes staging.
  *
  * Paths are local: a plain path or a `file:` URI. Any other scheme
  * fails at `save`, naming the scheme, before any job runs.
  */
class CsvSink extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException(
      "graft CSV sink is write-only: it takes the schema of the frame it writes")

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    require(schema.fieldNames.contains(CsvSink.KeyColumn) &&
      schema(CsvSink.KeyColumn).dataType == StringType,
      s"graft CSV sink needs a string `${CsvSink.KeyColumn}` column; got $schema")
    new CsvSinkTable(schema, CsvSink.localPath(properties.get("path")).toString)
  }
}

object CsvSink {
  /** One output file per value of this column. */
  val KeyColumn = "doc"

  private val Scheme = "^([A-Za-z][A-Za-z0-9+.-]*):".r

  /** `outPath` as an absolute local path: plain paths resolve against
    * the working directory, as Hadoop's local FileSystem does. */
  def localPath(outPath: String): Path = {
    require(outPath != null, "graft CSV sink: save(path) needs a path")
    Scheme.findFirstMatchIn(outPath).map(_.group(1)) match {
      case None => Paths.get(outPath).toAbsolutePath
      case Some(s) if s.equalsIgnoreCase("file") => Paths.get(URI.create(outPath))
      case Some(s) => throw new IllegalArgumentException(
        s"graft CSV sink writes local paths only, not scheme '$s': $outPath")
    }
  }

  /** Deletes `p` and everything under it, without following links. */
  private[sources] def deleteTree(p: Path): Unit =
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) PathUtils.delete(p)
}

private class CsvSinkTable(tableSchema: StructType, out: String)
    extends Table with SupportsWrite {
  override def name(): String = s"graft-csv($out)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var truncated = false
      override def truncate(): WriteBuilder = { truncated = true; this }
      override def build(): Write = {
        // The job deletes `out` first, so an append would lose data.
        require(truncated,
          "graft CSV sink replaces its output whole: write with mode(\"overwrite\")")
        new Write {
          override def toBatch: BatchWrite = new CsvBatchWrite(info.schema(), out)
        }
      }
    }
}

/** (staged file name, final path relative to the output root). */
private case class CsvFiles(files: Seq[(String, String)]) extends WriterCommitMessage

private class CsvBatchWrite(schema: StructType, out: String) extends BatchWrite {
  private val job = UUID.randomUUID().toString
  private val root = Paths.get(out)
  private val staging = root.resolve(s"_temporary-$job")

  /** Job start, on the driver, after the input's upstream stages. */
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    CsvSink.deleteTree(root)
    Files.createDirectories(staging)
    val conf = SQLConf.get
    CsvWriterFactory(schema, staging.toString, job,
      new CSVOptions(Map("header" -> "true"), conf.csvColumnPruning,
        conf.sessionLocalTimeZone))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq.flatMap(_.asInstanceOf[CsvFiles].files)
    // A task names each directory once, so a repeat is a second task.
    val dirs = files.map { case (_, rel) => rel.takeWhile(_ != '/') }
    val split = dirs.diff(dirs.distinct).distinct
    if (split.nonEmpty) throw new IllegalStateException(
      s"rows of ${split.mkString(", ")} reached more than one write task: " +
        s"repartition by ${CsvSink.KeyColumn} first")
    for ((staged, rel) <- files) {
      val dst = root.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.move(staging.resolve(staged), dst)
    }
    Files.write(root.resolve("_SUCCESS"), Array.emptyByteArray)
    CsvSink.deleteTree(staging)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    CsvSink.deleteTree(staging)
}

private case class CsvWriterFactory(schema: StructType, staging: String,
                                    job: String, options: CSVOptions)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CsvDataWriter(this, partitionId, taskId)
}

private class CsvDataWriter(f: CsvWriterFactory, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  private val keyIdx = f.schema.fieldIndex(CsvSink.KeyColumn)
  private val dataCols = f.schema.indices.filter(_ != keyIdx)
  private val dataSchema = StructType(dataCols.map(f.schema(_)))
  private val data = ProjectingInternalRow(dataSchema, dataCols)
  private val charset = Charset.forName(f.options.charset)
  private val fileName = f"part-$partitionId%05d-${f.job}.c000.csv"
  private val staging = Paths.get(f.staging)
  private val written = mutable.ArrayBuffer[(String, String)]()
  private val dirs = mutable.HashSet[String]()
  private var key: UTF8String = _
  private var gen: UnivocityGenerator = _

  override def write(row: InternalRow): Unit = {
    val raw = if (row.isNullAt(keyIdx)) null else row.getUTF8String(keyIdx)
    // An empty key shares the default partition with the null key.
    val k = if (raw == null || raw.numBytes == 0) null else raw
    // `raw` may point into a reused row buffer: keep a copy.
    if (gen == null || k != key) open(if (k == null) null else k.clone())
    data.project(row)
    gen.write(data)
  }

  private def open(k: UTF8String): Unit = {
    closeFile()
    val dir = ExternalCatalogUtils.getPartitionPathString(
      CsvSink.KeyColumn, if (k == null) null else k.toString)
    if (!dirs.add(dir)) throw new IllegalStateException(
      s"rows of $dir are not contiguous in partition $partitionId: sort by ${CsvSink.KeyColumn} first")
    val staged = s"$taskId-${written.size}"
    written += staged -> s"$dir/$fileName"
    key = k
    gen = new UnivocityGenerator(dataSchema,
      new OutputStreamWriter(Files.newOutputStream(staging.resolve(staged)), charset),
      f.options)
    gen.writeHeaders()
  }

  private def closeFile(): Unit =
    if (gen != null) { val g = gen; gen = null; g.close() }

  override def commit(): WriterCommitMessage = {
    closeFile()
    CsvFiles(written.toSeq)
  }

  override def abort(): Unit = {
    try closeFile()
    finally written.foreach { case (staged, _) =>
      Files.deleteIfExists(staging.resolve(staged))
    }
  }

  override def close(): Unit = closeFile()
}
