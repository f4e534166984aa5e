package graft.plans

import graft.model.{InSpan, Kind, PageResult}
import graft.parse.DocParser
import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.CollectionAccumulator

/** Whole-operator extraction as a custom plan node — tier (c) of the
  * custom-operator ladder (compose built-ins > Expression > LogicalPlan +
  * Strategy + SparkPlan > mapPartitions). The physical node consumes the
  * input table's InternalRows DIRECTLY (no Doc/InSpan Encoder round-trip —
  * a typed `Dataset[Doc]` map deserializes every span through `mapobjects`,
  * which this skips) and emits output rows in one map, zero shuffles. It is
  * the only PDF extraction path: the gates, the commits and the streaming
  * ingest all run it.
  *
  * Child contract: output columns (doc_id STRING, spans ARRAY<STRUCT<kind,
  * text, media_ref STRING, offset INT>>) in that order — any plan: a parquet
  * scan, a resume's left-anti-joined `Dataset[Doc]`, a streaming micro-batch.
  * A row whose spans array, a span or a span field is null parses as
  * [[DocParser.MalformedDoc]]: one error span and one counted parse failure
  * under its doc_id. A null doc_id still fails the task, because such a row
  * has no key to carry an error span, and what a resume should do with it is
  * not settled.
  *
  * Output contract: each task writes its rows in place into ONE reused
  * [[UnsafeRow]], so a row is valid only until the iterator's next `next()`;
  * a consumer that keeps rows copies them — the contract every projection
  * to unsafe rows has, which Spark's own operators already honour.
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
  * parse wall time (page split, page parse and doc assembly). Field names
  * are the metrics table's columns.
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

  /** The input contract: the `(doc_id, spans)` table every PDF extraction
    * reads (BASELINE.json input_hint). The node reads the span fields by
    * ordinal, in this order.
    */
  val inputSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("kind", StringType),
      StructField("text", StringType),
      StructField("media_ref", StringType),
      StructField("offset", IntegerType, nullable = false)))))))

  /** Where `got` breaks the contract type `want`, if it does: a contract
    * field missing (fields are found by name) or of another type.
    * Nullability is not part of the contract. `inOrder` also requires each
    * struct to hold exactly the contract's fields in the contract's order.
    */
  private def breach(want: DataType, got: DataType, at: String,
                     inOrder: Boolean): Option[String] = (want, got) match {
    case (w: StructType, g: StructType) =>
      if (inOrder && g.fieldNames.toSeq != w.fieldNames.toSeq)
        Some(s"$at has fields (${g.fieldNames.mkString(", ")})")
      else w.fields.iterator.map { f =>
        val path = if (at.isEmpty) f.name else s"$at.${f.name}"
        g.fields.find(_.name == f.name) match {
          case Some(gf) => breach(f.dataType, gf.dataType, path, inOrder)
          case None => Some(s"$path is missing")
        }
      }.collectFirst { case Some(b) => b }
    case (ArrayType(w, _), ArrayType(g, _)) => breach(w, g, s"$at[]", inOrder)
    case _ if want == got => None
    case _ => Some(s"$at is ${got.simpleString}, not ${want.simpleString}")
  }

  private def requireContract(got: StructType, where: String, inOrder: Boolean): Unit =
    breach(inputSchema, got, "", inOrder).foreach { b =>
      throw new IllegalArgumentException(
        s"ExtractDocs input contract: $where must hold ${inputSchema.simpleString}; $b")
    }

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
    requireContract(child.schema, "the child", inOrder = true) // the node reads by ordinal
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark, ExtractDocs(
      org.apache.spark.sql.GraftColumnBridge.logicalPlan(child), lineage = lineage))
  }

  /** The input table at `inputPath`, read with [[inputSchema]], so no
    * schema-inference job runs. First, on the driver, the footer of the
    * first data file in path order (the file inference would read) must
    * hold the contract's columns and span fields with the contract's
    * types; extra ones and any field order are fine, as the read picks the
    * contract's fields by name.
    */
  def readInput(spark: SparkSession, inputPath: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    firstDataFile(new Path(inputPath), conf).foreach { f =>
      requireContract(footerSchema(f, conf), f.toString, inOrder = false)
    }
    spark.read.schema(inputSchema).parquet(inputPath)
  }

  /** The data file under `path` (a directory, file or glob) with the
    * smallest path, skipping the hidden names Spark's file index skips;
    * None when nothing matches (the read then reports it).
    */
  private def firstDataFile(path: Path, conf: Configuration): Option[Path] = {
    val fs = path.getFileSystem(conf)
    def hidden(name: String) = (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    // listStatus, not listFiles: a recursive listFiles also looks up the
    // block locations of every file, which costs far more than the listing
    def files(st: FileStatus): Seq[Path] =
      if (st.isFile) Seq(st.getPath)
      else fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName)).flatMap(files)
    Option(fs.globStatus(path)).toSeq.flatten.flatMap(files).minByOption(_.toString)
  }

  /** The Spark schema of parquet file `f` as inference derives it: the
    * schema Spark wrote into the footer, else the converted parquet schema.
    */
  private def footerSchema(f: Path, conf: Configuration): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf),
      HadoopReadOptions.builder(conf, f)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(conf).convert(meta.getSchema))
  }

  /** [[of]] over an input table path. */
  def over(spark: SparkSession, inputPath: String): DataFrame =
    of(readInput(spark, inputPath))
}

object ExtractStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case e: ExtractDocs => ExtractDocsExec(e.output, planLater(e.child), e.lineage) :: Nil
    case _ => Nil
  }
}

/** One task's running counts; feeds both the SQL metrics and the lineage
  * report, so every page is counted once. Both extraction surfaces count
  * through it: the node per doc, the web parse per page. Time stays in
  * nanoseconds until [[lineage]] floors the task's sum once.
  */
private[graft] final class TaskCounts {
  var docs, pages, spans, failures, confPm, parseNs, rowIoNs = 0L
  var docLo, docHi: String = _

  def add(docId: String, pages: Long, spans: Long, failures: Long, confPm: Long,
          ns: Long): Unit = {
    if (docs == 0 || docId < docLo) docLo = docId
    if (docs == 0 || docId > docHi) docHi = docId
    docs += 1
    this.pages += pages
    this.spans += spans
    this.failures += failures
    this.confPm += confPm
    parseNs += ns
  }

  def add(docId: String, pageResults: Seq[PageResult], ns: Long): Unit = {
    var spans, failures, confPm = 0L
    val it = pageResults.iterator // a loop, so the locals are not boxed into a closure
    while (it.hasNext) {
      val p = it.next()
      if (p.parseFailed) failures += 1
      confPm += p.confPm
      spans += p.spans.length
    }
    add(docId, pageResults.length, spans, failures, confPm, ns)
  }

  def lineage(partitionId: Int): TaskLineage =
    TaskLineage(partitionId, docLo, docHi, pages, spans, failures, confPm,
      parseNs / 1000000)
}

/** An `Appendable` that encodes the text it is given to UTF-8 in a reused
  * byte buffer: the bytes equal `String.getBytes(UTF_8)`, Spark's own string
  * encoding, of everything appended since [[clear]] (an unpaired surrogate
  * becomes `?`, also when a pair is split over two appends).
  */
final class Utf8Sink(initialBytes: Int) extends Appendable {
  private var buf = new Array[Byte](initialBytes)
  private var len = 0
  private var high: Char = 0 // a trailing high surrogate, waiting for its pair

  def clear(): Unit = { len = 0; high = 0 }

  /** The encoded bytes are `bytes(0 until length)`. */
  def bytes: Array[Byte] = { flush(); buf }
  def length: Int = { flush(); len }

  /** Drops a buffer that grew past `maxBytes` (after a huge doc). */
  def shrink(maxBytes: Int): Unit =
    if (buf.length > maxBytes) buf = new Array[Byte](initialBytes)

  private def flush(): Unit = if (high != 0) { reserve(1); put('?'); high = 0 }

  private def reserve(n: Int): Unit =
    if (len + n > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(len + n, 2 * buf.length))

  private def put(b: Int): Unit = { buf(len) = b.toByte; len += 1 }

  override def append(c: Char): Appendable = append(String.valueOf(c), 0, 1)
  override def append(cs: CharSequence): Appendable = append(cs, 0, cs.length)

  override def append(cs: CharSequence, start: Int, end: Int): Appendable = {
    if (start == end) return this // keeps a pending high surrogate pending
    reserve(3 * (end - start) + 4) // 3 bytes per char at most, 4 for a pair
    var i = start
    if (high != 0) {
      if (i < end && Character.isLowSurrogate(cs.charAt(i))) {
        putPair(high, cs.charAt(i)); i += 1
      } else put('?')
      high = 0
    }
    while (i < end) {
      val c = cs.charAt(i)
      if (c < 0x80) put(c)
      else if (c < 0x800) { put(0xc0 | (c >> 6)); put(0x80 | (c & 0x3f)) }
      else if (!Character.isSurrogate(c)) {
        put(0xe0 | (c >> 12)); put(0x80 | ((c >> 6) & 0x3f)); put(0x80 | (c & 0x3f))
      } else if (Character.isLowSurrogate(c)) put('?')
      else if (i + 1 == end) high = c
      else if (Character.isLowSurrogate(cs.charAt(i + 1))) { putPair(c, cs.charAt(i + 1)); i += 1 }
      else put('?')
      i += 1
    }
    this
  }

  private def putPair(hi: Char, lo: Char): Unit = {
    val cp = Character.toCodePoint(hi, lo)
    put(0xf0 | (cp >> 18)); put(0x80 | ((cp >> 12) & 0x3f))
    put(0x80 | ((cp >> 6) & 0x3f)); put(0x80 | (cp & 0x3f))
  }
}

/** The node's row I/O, one per task: reads an input row's spans and writes
  * the output row in place with Spark's unsafe writers, through one reused
  * [[UnsafeRow]] and one UTF-8 scratch buffer.
  */
private final class RowIo {
  import RowIo._

  private val utf8 = new Utf8Sink(ScratchBytes)
  private var row: UnsafeRowWriter = _
  private var spansOut: UnsafeArrayWriter = _
  private var spanOut: UnsafeRowWriter = _
  newWriters()

  private def newWriters(): Unit = {
    row = new UnsafeRowWriter(ExtractDocs.schema.length, RowBytes)
    spansOut = new UnsafeArrayWriter(row, 8) // struct elements: offset and size
    spanOut = new UnsafeRowWriter(spansOut, ExtractDocs.spanType.length)
  }

  /** The spans of an input row's array, or null when the array, a span or a
    * span field is null.
    */
  def readSpans(arr: ArrayData): IndexedSeq[InSpan] = {
    val n = arr.numElements()
    val spans = new Array[InSpan](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val s = arr.getStruct(i, 4)
      if (s.isNullAt(0) || s.isNullAt(1) || s.isNullAt(2) || s.isNullAt(3)) return null
      spans(i) = InSpan(kind(s.getUTF8String(0)), string(s.getUTF8String(1)),
        string(s.getUTF8String(2)), s.getInt(3))
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(spans)
  }

  /** The output row of a doc, from its pages in page order. Valid until the
    * next call.
    */
  def write(docId: UTF8String, sorted: Seq[PageResult]): UnsafeRow = {
    if (row.getBuffer.length > MaxKeptBytes) newWriters()
    row.reset()
    row.zeroOutNullBytes()
    row.write(0, docId)
    val spansAt = row.cursor()
    var n = 0
    sorted.foreach(n += _.spans.length)
    spansOut.initialize(n)
    DocParser.foreachSpan(sorted) { (s, order) =>
      val at = spansOut.cursor()
      spanOut.resetRowWriter()
      text(spanOut, 0, s.kind)
      text(spanOut, 1, s.text)
      text(spanOut, 2, s.media_ref)
      spanOut.write(3, order)
      spansOut.setOffsetAndSizeFromPreviousCursor(order, at)
    }
    row.setOffsetAndSizeFromPreviousCursor(1, spansAt)
    utf8.clear()
    DocParser.writeMarkdown(sorted, utf8)
    row.write(2, utf8.bytes, 0, utf8.length)
    utf8.clear()
    DocParser.writeHtml(sorted, utf8)
    row.write(3, utf8.bytes, 0, utf8.length)
    row.write(4, DocParser.confPm(sorted))
    utf8.shrink(MaxKeptBytes)
    row.getRow
  }

  private def text(w: UnsafeRowWriter, ordinal: Int, s: String): Unit = {
    utf8.clear()
    utf8.append(s)
    w.write(ordinal, utf8.bytes, 0, utf8.length)
  }
}

private object RowIo {
  /** The UTF-8 scratch buffer's starting size. */
  val ScratchBytes = 16 << 10
  /** The row buffer's starting size. */
  val RowBytes = 64 << 10
  /** A buffer that grew past this for a huge doc is dropped afterwards, so a
    * task keeps at most this much per buffer.
    */
  val MaxKeptBytes = 1 << 20

  private val inputKinds: Array[(UTF8String, String)] =
    Array(Kind.PdfLine, Kind.PageBreak, Kind.PdfRegion, Kind.HtmlBlock, Kind.Media)
      .map(k => UTF8String.fromBytes(k.getBytes(StandardCharsets.UTF_8)) -> k)

  /** An input kind as its shared constant, matched on the bytes. */
  def kind(u: UTF8String): String = {
    var i = 0
    while (i < inputKinds.length) {
      if (inputKinds(i)._1 == u) return inputKinds(i)._2
      i += 1
    }
    string(u)
  }

  /** `u.toString`, decoded straight from the backing bytes. */
  def string(u: UTF8String): String =
    if (u.numBytes == 0) ""
    else u.getBaseObject match {
      case b: Array[Byte] =>
        new String(b, (u.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, u.numBytes,
          StandardCharsets.UTF_8)
      case _ => u.toString
    }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes the calling thread has allocated so far. */
  def threadAllocatedBytes: Long = threads.getCurrentThreadAllocatedBytes
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
    "parseTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "parse time"),
    "rowIoTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "row decode + encode time"),
    "allocBytes" -> SQLMetrics.createSizeMetric(sparkContext, "task thread allocated bytes"))

  override protected def withNewChildInternal(newChild: SparkPlan): ExtractDocsExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val (pagesM, spansM, failuresM, parseTimeM, rowIoTimeM, allocM) = (longMetric("pages"),
      longMetric("spans"), longMetric("parseFailures"), longMetric("parseTime"),
      longMetric("rowIoTime"), longMetric("allocBytes"))
    val lineage = this.lineage
    child.execute().mapPartitionsWithIndex { (partitionId, rows) =>
      val alloc0 = RowIo.threadAllocatedBytes
      val io = new RowIo
      val counts = new TaskCounts
      // completion listeners run on the task thread before the task's
      // accumulator updates are collected, and a failed task's are dropped
      TaskContext.get().addTaskCompletionListener[Unit] { _ =>
        pagesM += counts.pages
        spansM += counts.spans
        failuresM += counts.failures
        parseTimeM += counts.parseNs
        rowIoTimeM += counts.rowIoNs
        allocM += RowIo.threadAllocatedBytes - alloc0
        if (counts.docs > 0) lineage.foreach(_.add(counts.lineage(partitionId)))
      }
      rows.map { row =>
        // manual decode — no Encoder machinery
        require(!row.isNullAt(0), "ExtractDocs child contract: doc_id must be non-null")
        val t0 = System.nanoTime()
        val docId = row.getUTF8String(0)
        val spans = if (row.isNullAt(1)) null else io.readSpans(row.getArray(1))
        val t1 = System.nanoTime()
        val pages = DocParser.inPageOrder(DocParser.parseSplit(
          if (spans == null) DocParser.MalformedDoc else DocParser.splitPages(spans)))
        val t2 = System.nanoTime()
        val out = io.write(docId, pages)
        val t3 = System.nanoTime()
        // parseTime (and lineage wall_ms) spans split, page parse and the doc
        // assembly, which the row write now does while it encodes; rowIoTime
        // is decode plus that write, so the two overlap in the write
        counts.add(RowIo.string(docId), pages, t3 - t1)
        counts.rowIoNs += (t1 - t0) + (t3 - t2)
        out: InternalRow
      }
    }
  }
}
