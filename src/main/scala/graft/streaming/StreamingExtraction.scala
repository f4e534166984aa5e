package graft.streaming

import graft.pipeline.TableIO
import graft.plans.ExtractDocs
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming ingest for the extraction pipeline — the Spark analog
  * of the reference's Celery work queue (SURVEY.md §2.9: work-queue streaming,
  * no event time, no watermarks needed).
  *
  * `readStream` over the input table directory; each micro-batch runs the
  * SAME batch commit (the `ExtractDocs` node, via the one commit body
  * `TableIO.commitRemaining`) inside `foreachBatch` and commits one TableIO
  * snapshot. `Trigger.AvailableNow` drains everything
  * currently present and stops — the "process the snapshot, resumably" mode
  * the north rule asks for; a continuous trigger turns the same job into a
  * tailing ingester. Spark's streaming checkpoint (source offsets) plus
  * TableIO's committed-doc skip give end-to-end exactly-once per doc_id even
  * if a batch is replayed.
  */
object StreamingExtraction {

  /** Run an AvailableNow ingest of `inputPath` into `outRoot` snapshots.
    * Returns the number of micro-batches processed.
    */
  def ingestAvailableNow(spark: SparkSession, inputPath: String, outRoot: String,
                         checkpoint: String, runId: String,
                         maxFilesPerTrigger: Int = 8): Long =
    ingest(spark, ExtractDocs.Pdf, inputPath, outRoot, checkpoint, runId, maxFilesPerTrigger)

  /** AvailableNow ingest of raw web pages into committed snapshots via
    * [[TableIO.commitWeb]]'s body — the crawl front end as a tailing
    * ingester, with the same end-to-end exactly-once story as the PDF path.
    */
  def ingestWebAvailableNow(spark: SparkSession, inputPath: String,
                            outRoot: String, checkpoint: String, runId: String,
                            maxFilesPerTrigger: Int = 8): Long =
    ingest(spark, ExtractDocs.Web, inputPath, outRoot, checkpoint, runId, maxFilesPerTrigger)

  /** Streams the table of `kernel`'s input contract at `inputPath` under
    * `Trigger.AvailableNow` and commits each micro-batch with `kernel`. The
    * micro-batch plan feeds TableIO's commit path DIRECTLY, so the
    * resume/commit semantics (committed-doc skip, atomic manifest) are
    * identical in batch and streaming modes with no staging
    * materialization. Returns the number of micro-batches.
    */
  private def ingest(spark: SparkSession, kernel: ExtractDocs.Kernel, inputPath: String,
                     outRoot: String, checkpoint: String, runId: String,
                     maxFilesPerTrigger: Int): Long = {
    var batches = 0L
    spark.readStream
      .schema(kernel.inputSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputPath)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        TableIO.commitRemaining(spark, batch, kernel, outRoot, s"$runId-b$batchId")
        batches += 1
        ()
      }
      .start()
      .awaitTermination()
    batches
  }
}
