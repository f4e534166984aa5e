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

  /** Input schema per BASELINE.json input_hint. */
  val inputSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("kind", StringType),
      StructField("text", StringType),
      StructField("media_ref", StringType),
      StructField("offset", IntegerType, nullable = false)))))))

  /** Run an AvailableNow ingest of `inputPath` into `outRoot` snapshots.
    * Returns the number of micro-batches processed.
    */
  def ingestAvailableNow(spark: SparkSession, inputPath: String, outRoot: String,
                         checkpoint: String, runId: String,
                         maxFilesPerTrigger: Int = 8): Long = {
    import spark.implicits._
    var batches = 0L
    val stream = spark.readStream
      .schema(inputSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputPath)

    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the micro-batch plan feeds TableIO's commit path DIRECTLY, so the
        // resume/commit semantics (committed-doc skip, atomic manifest) are
        // identical in batch and streaming modes with no staging
        // materialization — the former staging parquet copy doubled the
        // write I/O per batch and needed a per-filesystem cleanup
        val docs = batch.select("doc_id", "spans").as[graft.model.Doc]
        TableIO.commitDocs(spark, docs, outRoot, s"$runId-b$batchId")
        batches += 1
        ()
      }
      .start()
    q.awaitTermination()
    batches
  }

  /** Raw-HTML pages schema (the wild-web front end's input table). */
  val webInputSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("html", StringType)))

  /** AvailableNow ingest of raw web pages into committed snapshots via
    * [[TableIO.commitWeb]] — the crawl front end as a tailing ingester, with
    * the same end-to-end exactly-once story as the PDF path: streaming
    * checkpoint (source offsets) + committed-doc skip make batch replays and
    * restarts idempotent per doc_id.
    */
  def ingestWebAvailableNow(spark: SparkSession, inputPath: String,
                            outRoot: String, checkpoint: String, runId: String,
                            maxFilesPerTrigger: Int = 8): Long = {
    var batches = 0L
    val stream = spark.readStream
      .schema(webInputSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputPath)

    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        TableIO.commitWeb(spark, batch, outRoot, s"$runId-b$batchId")
        batches += 1
        ()
      }
      .start()
    q.awaitTermination()
    batches
  }
}
