package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.TextractConnector.OcrClient

/** DataSourceV2 form of the OCR ingest (SURVEY.md §7.3's "v2 could
  * formalize as TableProvider"): `spark.read.format("graft-ocr")
  * .option("keys", "a.png,b.png").load()`.
  *
  * The DSv2 surface buys planner integration: one [[InputPartition]]
  * per run of up to [[OcrDataSourceV2.DocsPerPartition]] consecutive
  * keys, in the order `keys` lists them. A task starts the OCR job of
  * every document in its partition before it polls the first one, so
  * a cluster running 125 such tasks keeps about 1000 OCR jobs in
  * flight with no repartition step, while a run of short documents
  * pays the per-task cost once, not once per document. The reader
  * emits each document's rows one document after another, with `seq`
  * counting that document's blocks from 0. Also: column pruning
  * (unrequested fields are never materialized per block), and `BlockType = <v>` filter pushdown
  * (non-matching blocks are skipped inside the reader, before any row
  * is built — at 100 TB the LINE filter drops most of Textract's
  * WORD/PAGE blocks at the source). Failure quarantine, per document:
  * a document whose job fails yields one `error` row, and the other
  * documents of its partition still read in full. Pruning `error` out
  * also prunes the quarantine channel — callers that want the
  * dead-letter path must select the column.
  *
  * Options: `keys` (comma-separated document keys, required);
  * `client` — "stub" (default, deterministic offline fake) or the
  * fully-qualified class name of a no-arg [[OcrClient]]
  * implementation; `pollDelayMs` / `maxWaitMs` — poll loop bounds
  * (reference: delay=2s, max_wait=900s, lambda_function.py:57).
  */
class OcrDataSourceV2 extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-ocr"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OcrDataSourceV2.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new OcrTable(properties.asScala.toMap)
}

object OcrDataSourceV2 {
  /** Documents per input partition. A task's fixed cost (deserializing
    * its closure, generating its projections) outweighs the reader's
    * work for one short document; a few documents per task take most
    * of that cost away, while larger partitions would leave cores idle
    * on a small input. A constant, not read from the core count, so a
    * plan never depends on the host. */
  val DocsPerPartition = 8

  val schema: StructType = StructType(Seq(
    StructField("doc", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("BlockType", StringType),
    StructField("Text", StringType),
    StructField("Page", IntegerType, nullable = false),
    StructField("left", DoubleType, nullable = false),
    StructField("top", DoubleType, nullable = false),
    StructField("error", StringType)))

  private[sources] def clientFor(opts: Map[String, String]): OcrClient =
    opts.getOrElse("client", "stub") match {
      case "stub" => TextractConnector.stub()
      case "aws"  => AwsHttpOcrClient.fromOptions(opts)
      case fqcn   => Class.forName(fqcn).getDeclaredConstructor()
                       .newInstance().asInstanceOf[OcrClient]
    }
}

private class OcrTable(options: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-ocr(${options.getOrElse("keys", "")})"
  override def schema(): StructType = OcrDataSourceV2.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap)
      : ScanBuilder = new OcrScanBuilder(options)
}

private class OcrScanBuilder(options: Map[String, String])
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = OcrDataSourceV2.schema
  private var pushed: Array[Filter] = Array.empty
  private var blockTypeEq: Option[String] = None

  /** `BlockType = <literal>` is evaluated inside the reader (exactly:
    * SQL equality never matches NULL, and neither does the skip test),
    * so it is consumed here; everything else stays a residual for
    * Spark to evaluate post-scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition {
      case EqualTo("BlockType", v: String) => blockTypeEq = Some(v); true
      case _ => false
    }
    pushed = accepted
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def description(): String =
      s"graft-ocr pushed=[${pushed.mkString(", ")}] " +
        s"columns=[${required.fieldNames.mkString(", ")}]"
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      options.getOrElse("keys", "").split(",").filter(_.nonEmpty).map(_.trim)
        .grouped(OcrDataSourceV2.DocsPerPartition)
        .map(docs => OcrInputPartition(docs.toSeq): InputPartition).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      OcrReaderFactory(options, required.fieldNames, blockTypeEq)
  }
}

/** Consecutive document keys, read in this order. */
private case class OcrInputPartition(docs: Seq[String]) extends InputPartition

private case class OcrReaderFactory(options: Map[String, String],
                                    columns: Array[String],
                                    blockTypeEq: Option[String])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val docs = partition.asInstanceOf[OcrInputPartition].docs
    val client = OcrDataSourceV2.clientFor(options)
    val pollDelayMs = options.getOrElse("pollDelayMs", "2000").toLong
    val maxWaitMs = options.getOrElse("maxWaitMs", "900000").toLong
    // pollBackoffFactor=1.0 is the reference's fixed-delay loop
    // (lambda_function.py:57-67); >1 grows the delay geometrically to
    // maxPollDelayMs — at 1000 concurrent jobs a fixed 2 s poll is
    // 500 rps of GetDocumentTextDetection against a throttled API.
    val backoff = options.getOrElse("pollBackoffFactor", "1.0").toDouble
    val maxPollDelayMs = options.getOrElse("maxPollDelayMs", "30000").toLong

    new PartitionReader[InternalRow] {
      private var it: Iterator[InternalRow] = _
      private var row: InternalRow = _

      private def project(doc: String, seq: Long, bt: String, text: String,
                          page: Int, left: Double, top: Double,
                          error: String): InternalRow = {
        val out = new GenericInternalRow(columns.length)
        var i = 0
        while (i < columns.length) {
          columns(i) match {
            case "doc"       => out.update(i, UTF8String.fromString(doc))
            case "seq"       => out.setLong(i, seq)
            case "BlockType" => out.update(i,
              if (bt == null) null else UTF8String.fromString(bt))
            case "Text"      => out.update(i,
              if (text == null) null else UTF8String.fromString(text))
            case "Page"      => out.setInt(i, page)
            case "left"      => out.setDouble(i, left)
            case "top"       => out.setDouble(i, top)
            case "error"     => out.update(i,
              if (error == null) null else UTF8String.fromString(error))
          }
          i += 1
        }
        out
      }

      private def errorRow(doc: String, e: Throwable): InternalRow =
        project(doc, -1L, null, null, 0, 0.0, 0.0, String.valueOf(e.getMessage))

      /** poll → paginate one started job, lazily; any failure (of its
        * start, or during page 2+ iteration) quarantines as one error
        * row of `doc`. */
      private def open(doc: String, job: Either[Exception, String]): Iterator[InternalRow] =
        try {
          val jobId = job.toTry.get
          val deadline = System.nanoTime() + maxWaitMs * 1000000L
          var status = client.jobStatus(jobId)
          var delay = pollDelayMs
          while (status != "SUCCEEDED" && status != "FAILED"
                 && status != "PARTIAL_SUCCESS") {
            if (System.nanoTime() > deadline)
              throw new RuntimeException(s"OCR job $jobId timed out")
            Thread.sleep(delay)
            delay = math.min(math.max((delay * backoff).toLong, delay),
              maxPollDelayMs)
            status = client.jobStatus(jobId)
          }
          if (status != "SUCCEEDED")
            throw new RuntimeException(s"OCR failed with status: $status")
          val pages = Iterator.iterate(
            Option(client.fetchPage(jobId, None))) {
              case Some((_, Some(tok))) =>
                Some(client.fetchPage(jobId, Some(tok)))
              case _ => None
            }.takeWhile(_.isDefined).map(_.get._1)
          var seq = -1L
          val base = pages.flatten.flatMap { case (bt, text, page, l, t) =>
            seq += 1 // seq counts every block — stable under pushdown
            if (blockTypeEq.forall(_ == bt))
              Iterator.single(project(doc, seq, bt, text, page, l, t, null))
            else Iterator.empty
          }
          new Iterator[InternalRow] {
            private var pending: InternalRow = _
            private var dead = false
            def hasNext: Boolean =
              if (dead) false
              else if (pending != null) true
              else try base.hasNext catch {
                case e: Exception => pending = errorRow(doc, e); true
              }
            def next(): InternalRow =
              if (pending != null) { dead = true; val r = pending; pending = null; r }
              else try base.next() catch {
                case e: Exception => dead = true; errorRow(doc, e)
              }
          }
        } catch {
          case e: Exception => Iterator.single(errorRow(doc, e))
        }

      /** Every document's job is started before the first poll, so the
        * partition's jobs run on the OCR service side by side. */
      private def start(): Iterator[InternalRow] = {
        val jobs = docs.map { doc =>
          doc -> (try Right(client.startJob(doc)) catch { case e: Exception => Left(e) })
        }
        jobs.iterator.flatMap { case (doc, job) => open(doc, job) }
      }

      override def next(): Boolean = {
        if (it == null) it = start()
        if (it.hasNext) { row = it.next(); true } else false
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
