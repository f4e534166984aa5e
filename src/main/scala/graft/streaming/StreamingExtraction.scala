package graft.streaming

import graft.pipeline.TableIO
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming ingest for the extraction pipeline — the Spark analog
  * of the reference's Celery work queue (SURVEY.md §2.9: work-queue streaming,
  * no event time, no watermarks needed).
  *
  * `readStream` over the input table directory; each micro-batch runs the
  * SAME batch commit (the `ExtractDocs` node, via `TableIO.commitDocs`)
  * inside `foreachBatch` and commits one TableIO snapshot. `Trigger.AvailableNow` drains everything
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
                         maxFilesPerTrigger: Int = 8): Long = {
    import spark.implicits._
    ingest(spark, graft.plans.ExtractDocs.inputSchema, inputPath, checkpoint,
        maxFilesPerTrigger) { (batch, batchId) =>
      TableIO.commitDocs(spark, batch.select("doc_id", "spans").as[graft.model.Doc],
        outRoot, s"$runId-b$batchId")
    }
  }

  /** Raw-HTML pages schema (the wild-web front end's input table). */
  val webInputSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("html", StringType)))

  /** AvailableNow ingest of raw web pages into committed snapshots via
    * [[TableIO.commitWeb]] — the crawl front end as a tailing ingester, with
    * the same end-to-end exactly-once story as the PDF path.
    */
  def ingestWebAvailableNow(spark: SparkSession, inputPath: String,
                            outRoot: String, checkpoint: String, runId: String,
                            maxFilesPerTrigger: Int = 8): Long =
    ingest(spark, webInputSchema, inputPath, checkpoint, maxFilesPerTrigger) {
      (batch, batchId) => TableIO.commitWeb(spark, batch, outRoot, s"$runId-b$batchId")
    }

  /** Streams the `schema` table at `inputPath` under `Trigger.AvailableNow`
    * and hands each micro-batch to `commit`. The micro-batch plan feeds
    * TableIO's commit path DIRECTLY, so the resume/commit semantics
    * (committed-doc skip, atomic manifest) are identical in batch and
    * streaming modes with no staging materialization. Returns the number
    * of micro-batches.
    */
  private def ingest(spark: SparkSession, schema: StructType, inputPath: String,
                     checkpoint: String, maxFilesPerTrigger: Int)
                    (commit: (DataFrame, Long) => Option[String]): Long = {
    var batches = 0L
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputPath)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commit(batch, batchId)
        batches += 1
        ()
      }
      .start()
      .awaitTermination()
    batches
  }
}
