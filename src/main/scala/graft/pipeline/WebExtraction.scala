package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.OutSpan
import graft.parse.MainContent

/** Raw-HTML analog of [[Extraction]]'s parse stage: main-content extraction
  * over wild-web pages WITH the per-partition lineage + failure containment
  * the north rule demands of every extraction surface — so the web front end
  * rides the same committed-snapshot/resume machinery ([[TableIO.commitWeb]])
  * as the PDF pipeline instead of being a bare map.
  *
  * Scale shape: ONE zero-shuffle `mapPartitions` pass over `(doc_id, html)`
  * rows at the input's own partitioning — there is nothing to co-locate
  * because every page is independent; `repartitionByRange(doc_id)` upstream
  * remains the explicit clustering knob for unclustered crawls (tight
  * doc_id envelopes per output file → the committed-skip anti-join and
  * doc_id lookups prune files afterwards, same as the PDF path).
  */
object WebExtraction {

  /** Per-page result with partition lineage. `failed` pages carry one
    * `error` span (reference tasks.py:301–314 containment semantics: a
    * poisoned page becomes a metric tick, never a job abort). The wall time
    * stays in nanoseconds until [[metrics]] sums it: a page takes well under
    * a millisecond, so flooring each page to whole ms would count most as 0.
    */
  final case class WebRes(doc_id: String, spans: Seq[OutSpan], failed: Boolean,
                          part_id: Int, wall_ns: Long)

  /** Parse raw pages in place (no shuffle). [[MainContent.extract]] is total
    * on any string, so the catch arm is pure containment discipline — it
    * exists so a pathological page (e.g. regex stack overflow on adversarial
    * nesting) degrades to one error span exactly like a poisoned PDF page.
    */
  def parse(pages: Dataset[(String, String)]): Dataset[WebRes] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      it.map { case (id, html) =>
        val t0 = System.nanoTime()
        try {
          val spans = MainContent.extract(html)
          WebRes(id, spans, failed = false, pid, System.nanoTime() - t0)
        } catch {
          case scala.util.control.NonFatal(e) =>
            WebRes(id, Seq(OutSpan("error", e.getClass.getSimpleName, "", 0)),
              failed = true, pid, System.nanoTime() - t0)
        }
      }
    }
  }

  /** Committed-table data shape: NESTED spans, one row per page — a page
    * whose main content is empty still commits (and is therefore skipped on
    * resume) instead of silently re-extracting forever.
    */
  def assemble(parsed: Dataset[WebRes]): DataFrame =
    parsed.toDF().select(col("doc_id"), col("spans"))

  /** Per-partition lineage rows, mirroring the PDF commit's metrics table
    * (§3 of FIXTURES.md, [[TableIO.lineageMetrics]]) for the web surface:
    * pages in, spans out, failures, wall.
    */
  def metrics(parsed: Dataset[WebRes], runId: String, snapshotId: String): DataFrame = {
    parsed.toDF()
      .groupBy(col("part_id").as("partition_id"))
      .agg(
        min(col("doc_id")).as("doc_lo"),
        max(col("doc_id")).as("doc_hi"),
        count(lit(1)).as("pages_parsed"),
        sum(size(col("spans"))).as("spans_emitted"),
        sum(when(col("failed"), 1L).otherwise(0L)).as("parse_failures"),
        expr("sum(wall_ns) div 1000000").as("wall_ms"))
      .withColumn("run_id", lit(runId))
      .withColumn("snapshot_id", lit(snapshotId))
      .select("run_id", "snapshot_id", "partition_id", "doc_lo", "doc_hi",
        "pages_parsed", "spans_emitted", "parse_failures", "wall_ms")
  }

  /** Explode a committed web table scan back to the driver-gate span shape
    * `(doc_id, kind, text, media_ref, ord)`.
    */
  def explodeSpans(spark: SparkSession, committed: DataFrame): DataFrame =
    committed.select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.kind").as("kind"), col("s.text").as("text"),
        col("s.media_ref").as("media_ref"), col("s.order").as("ord"))
}
