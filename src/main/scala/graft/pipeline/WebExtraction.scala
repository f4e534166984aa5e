package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.util.CollectionAccumulator
import graft.model.OutSpan
import graft.parse.MainContent
import graft.plans.{TaskCounts, TaskLineage}

/** Raw-HTML analog of the [[graft.plans.ExtractDocs]] node: main-content
  * extraction over wild-web pages WITH the per-task lineage + failure
  * containment the north rule demands of every extraction surface — so the
  * web front end rides the same committed-snapshot/resume machinery
  * ([[TableIO.commitWeb]]) as the PDF pipeline instead of being a bare map.
  *
  * Scale shape: ONE zero-shuffle `mapPartitions` pass over `(doc_id, html)`
  * rows at the input's own partitioning — there is nothing to co-locate
  * because every page is independent; `repartitionByRange(doc_id)` upstream
  * remains the explicit clustering knob for unclustered crawls (tight
  * doc_id envelopes per output file → the committed-skip anti-join and
  * doc_id lookups prune files afterwards, same as the PDF path).
  */
object WebExtraction {

  /** One extracted page. A failed page carries one `error` span (reference
    * tasks.py:301–314 containment semantics: a poisoned page becomes a
    * metric tick, never a job abort).
    */
  final case class WebRes(doc_id: String, spans: Seq[OutSpan])

  /** Parse raw pages in place (no shuffle). [[MainContent.extract]] is total
    * on any string, so the catch arm is pure containment discipline — it
    * exists so a pathological page (e.g. regex stack overflow on adversarial
    * nesting) degrades to one error span exactly like a poisoned PDF page.
    *
    * `lineage`, when set, receives one [[TaskLineage]] per non-empty task,
    * counted page by page into the node's [[TaskCounts]] (a web page has no
    * OCR confidence, so `sum_conf_pm` is 0).
    */
  def parse(pages: Dataset[(String, String)],
            lineage: Option[CollectionAccumulator[TaskLineage]] = None): Dataset[WebRes] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions { it =>
      val counts = new TaskCounts
      lineage.foreach { acc =>
        val ctx = TaskContext.get()
        ctx.addTaskCompletionListener[Unit] { _ =>
          if (counts.docs > 0) acc.add(counts.lineage(ctx.partitionId()))
        }
      }
      it.map { case (id, html) =>
        val t0 = System.nanoTime()
        val (spans, failed) =
          try (MainContent.extract(html), 0L)
          catch {
            case scala.util.control.NonFatal(e) =>
              (Seq(OutSpan("error", e.getClass.getSimpleName, "", 0)), 1L)
          }
        counts.add(id, 1, spans.length, failed, 0, System.nanoTime() - t0)
        WebRes(id, spans)
      }
    }
  }

  /** Committed-table data shape: NESTED spans, one row per page — a page
    * whose main content is empty still commits (and is therefore skipped on
    * resume) instead of silently re-extracting forever.
    */
  def assemble(parsed: Dataset[WebRes]): DataFrame = parsed.toDF()
}
