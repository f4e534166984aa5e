package graft.plans

import graft.model.{InSpan, PageResult}
import graft.parse.DocParser
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.CollectionAccumulator

/** Whole-operator extraction as a custom plan node — tier (c) of the
  * custom-operator ladder (compose built-ins > Expression > LogicalPlan +
  * Strategy + SparkPlan > mapPartitions). The physical node consumes the
  * input table's InternalRows DIRECTLY (no Doc/InSpan Encoder round-trip —
  * the typed doc-local path deserializes every span through `mapobjects`,
  * which this skips) and emits output rows in one map, zero shuffles.
  *
  * Child contract: output columns (doc_id STRING, spans ARRAY<STRUCT<kind,
  * text, media_ref STRING, offset INT>>) in that order — any plan: a parquet
  * scan, a resume's left-anti-joined `Dataset[Doc]`, a streaming micro-batch.
  *
  * `lineage`, when set, receives one [[TaskLineage]] per non-empty task,
  * counted while the task parses (the commit path's metrics source).
  */
final case class ExtractDocs(
    child: LogicalPlan,
    // constructor param so exprIds survive tree copies (LogicalRDD pattern)
    output: Seq[Attribute] = DataTypeUtils.toAttributes(ExtractDocs.schema),
    lineage: Option[CollectionAccumulator[TaskLineage]] = None)
  extends UnaryNode {
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  // The node has no expressions, so the default `references` is EMPTY and
  // ColumnPruning would prune the child scan to struct<> — the exec node then
  // reads field 0 of a zero-field row (SIGSEGV on a null-backed UnsafeRow).
  // Declare that we consume every child column.
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet
  // the accumulator is plumbing, not a plan argument
  override protected def stringArgs: Iterator[Any] = Iterator(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): ExtractDocs =
    copy(child = newChild)
}

/** What one task of an [[ExtractDocs]] pass parsed: the doc_id range it
  * covered, pages, emitted spans, failed pages, page-confidence mass and
  * parse wall time. Field names are the metrics table's columns.
  */
final case class TaskLineage(
    partition_id: Int, doc_lo: String, doc_hi: String, pages_parsed: Long,
    spans_emitted: Long, parse_failures: Long, sum_conf_pm: Long, wall_ms: Long)

object ExtractDocs {
  val spanType: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("text", StringType),
    StructField("media_ref", StringType),
    StructField("order", IntegerType, nullable = false)))

  val schema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(spanType)),
    StructField("markdown", StringType),
    StructField("html", StringType),
    StructField("conf_pm", LongType, nullable = false)))

  private val inSpanFields = Seq("kind", "text", "media_ref", "offset")

  /** Build the extraction DataFrame over any `(doc_id, spans)` DataFrame via
    * the custom node. Registers the strategy on the session (idempotent).
    */
  def of(docs: DataFrame,
         lineage: Option[CollectionAccumulator[TaskLineage]] = None): DataFrame = {
    val spark = docs.sparkSession
    if (!spark.experimental.extraStrategies.contains(ExtractStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ ExtractStrategy
    if (!spark.experimental.extraOptimizations.contains(PushDocIdFilterThroughExtract))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PushDocIdFilterThroughExtract
    val child = docs.select("doc_id", "spans")
    // the exec node reads span fields by ordinal
    val fields = child.schema("spans").dataType match {
      case ArrayType(st: StructType, _) => st.fieldNames.toSeq
      case _ => Nil
    }
    require(fields == inSpanFields,
      s"ExtractDocs child contract: spans must be array<struct<${inSpanFields.mkString(",")}>>, " +
        s"got ${child.schema("spans").dataType.simpleString}")
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark, ExtractDocs(
      org.apache.spark.sql.GraftColumnBridge.logicalPlan(child), lineage = lineage))
  }

  /** [[of]] over an input table path. */
  def over(spark: SparkSession, inputPath: String): DataFrame =
    of(spark.read.parquet(inputPath))
}

object ExtractStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case e: ExtractDocs => ExtractDocsExec(e.output, planLater(e.child), e.lineage) :: Nil
    case _ => Nil
  }
}

/** One task's running counts; feeds both the SQL metrics and the lineage
  * report, so every page is counted once.
  */
private final class TaskCounts {
  var docs, pages, spans, failures, confPm, parseNs = 0L
  var docLo, docHi: String = _

  def add(docId: String, pageResults: Seq[PageResult], spansOut: Int,
          ns: Long): Unit = {
    if (docs == 0 || docId < docLo) docLo = docId
    if (docs == 0 || docId > docHi) docHi = docId
    docs += 1
    pages += pageResults.length
    pageResults.foreach { p =>
      if (p.parseFailed) failures += 1
      confPm += p.confPm
    }
    spans += spansOut
    parseNs += ns
  }

  def lineage(partitionId: Int): TaskLineage =
    TaskLineage(partitionId, docLo, docHi, pages, spans, failures, confPm,
      parseNs / 1000000)
}

final case class ExtractDocsExec(output: Seq[Attribute], child: SparkPlan,
                                 lineage: Option[CollectionAccumulator[TaskLineage]])
    extends UnaryExecNode {

  // the output attrs are CREATED here, not consumed from the child — without
  // this they'd count as missing references and mark the node invalid
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override protected def stringArgs: Iterator[Any] = Iterator(output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "pages" -> SQLMetrics.createMetric(sparkContext, "pages parsed"),
    "spans" -> SQLMetrics.createMetric(sparkContext, "spans emitted"),
    "parseFailures" -> SQLMetrics.createMetric(sparkContext, "parse failures"),
    "parseTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "parse time"))

  override protected def withNewChildInternal(newChild: SparkPlan): ExtractDocsExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = ExtractDocs.schema
    val (pagesM, spansM, failuresM, parseTimeM) = (longMetric("pages"),
      longMetric("spans"), longMetric("parseFailures"), longMetric("parseTime"))
    val lineage = this.lineage
    child.execute().mapPartitionsWithIndex { (partitionId, rows) =>
      // physical operators must emit UnsafeRow (collect and exchanges cast
      // unchecked — a GenericInternalRow segfaults under JIT'd readers)
      val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
      val counts = new TaskCounts
      // completion listeners run before the task's accumulator updates are
      // collected, and a failed task's updates are dropped
      TaskContext.get().addTaskCompletionListener[Unit] { _ =>
        pagesM += counts.pages
        spansM += counts.spans
        failuresM += counts.failures
        parseTimeM += counts.parseNs
        if (counts.docs > 0) lineage.foreach(_.add(counts.lineage(partitionId)))
      }
      rows.map { row =>
        // manual decode — no Encoder machinery. The child contract is
        // non-null (doc_id, spans, span fields); violations fail with a
        // diagnosable message instead of an opaque NPE (ADVICE round 1).
        require(!row.isNullAt(0) && !row.isNullAt(1),
          "ExtractDocs child contract: doc_id and spans must be non-null")
        val docId = row.getUTF8String(0).toString
        val arr = row.getArray(1)
        val n = arr.numElements()
        val spans = new Array[InSpan](n)
        var i = 0
        while (i < n) {
          require(!arr.isNullAt(i),
            s"ExtractDocs child contract: null span element at $i (doc $docId)")
          val s = arr.getStruct(i, 4)
          require(!s.isNullAt(0) && !s.isNullAt(1) && !s.isNullAt(2) &&
              !s.isNullAt(3),
            s"ExtractDocs child contract: null span field at $i (doc $docId)")
          spans(i) = InSpan(
            s.getUTF8String(0).toString,
            s.getUTF8String(1).toString,
            s.getUTF8String(2).toString,
            s.getInt(3))
          i += 1
        }
        // DocParser.parseDoc in its two steps, so the pages can be counted
        val t0 = System.nanoTime()
        val pages = DocParser.parsePages(spans.toIndexedSeq)
        val e = DocParser.assemble(docId, pages)
        counts.add(docId, pages, e.spans.length, System.nanoTime() - t0)
        // manual encode
        val outSpans = new Array[Any](e.spans.length)
        var j = 0
        e.spans.foreach { sp =>
          outSpans(j) = new GenericInternalRow(Array[Any](
            UTF8String.fromString(sp.kind), UTF8String.fromString(sp.text),
            UTF8String.fromString(sp.media_ref), sp.order))
          j += 1
        }
        toUnsafe(new GenericInternalRow(Array[Any](
          UTF8String.fromString(e.doc_id), new GenericArrayData(outSpans),
          UTF8String.fromString(e.markdown),
          UTF8String.fromString(e.html),
          e.conf_pm))): InternalRow
      }
    }
  }
}
