package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.parity.FarmPipeline
import graft.sources.BlockSource

/** Structured-Streaming surface (SURVEY.md §2.10). The reference is
  * event-driven — an object-created event triggers one document's
  * pipeline (/root/reference/lambda_function.py:779-820). Here the
  * file source replaces the S3→Lambda trigger: new block dumps landing
  * under the raw prefix flow through the same batch pipeline inside
  * `foreachBatch`, with checkpointing (exactly-once per document) and
  * a quarantine improving on the reference's log-and-skip.
  *
  * Documents are atomic (no cross-document state), so the farm stream
  * needs no watermark or state store.
  */
object StreamingOps {

  /** Streaming farm pipeline: raw block dumps → CSV per document. */
  def farmStream(spark: SparkSession, inputGlob: String,
                 checkpointDir: String, outDir: String,
                 trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val blocks = spark.readStream
      .schema(BlockSource.blockSchema)
      .json(inputGlob)
      .withColumn("doc", input_file_name())
    blocks.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // seq (in-file block order) is derived here — the id
        // expression is not permitted on a streaming frame.
        val withSeq = batch.withColumn("seq", monotonically_increasing_id())
        val result = FarmPipeline.toCsvFormat(
          FarmPipeline.assembleRecords(FarmPipeline.linesFromBlocks(withSeq)))
        FarmPipeline.writeCsv(result, s"$outDir/batch_$batchId")
      }
      .start()
  }
}
