package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.model._
import graft.corpus.{CorpusGen, WebGen}
import graft.oracle.Oracle
import graft.pipeline.{Extraction, TableIO}
import graft.plans.ExtractDocs
import graft.streaming.StreamingExtraction
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode, functions}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Every table the extraction path reads is read with a schema it already
  * knows: committed tables with the schemas their manifests record, input
  * tables with the input contract. So building a reader starts no Spark job
  * (no schema inference), a committed read equals what inference gives over
  * the same files, and a broken input still fails on the driver.
  */
class KnownSchemaSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSessions.spark
  import spark.implicits._

  private val spec = CorpusGen.Spec(docs = 24, megaPages = 8)
  private lazy val docs = CorpusGen.genAll(spec).toSeq
  private lazy val pages = (0L until 20L).map(WebGen.genPage(_, spec))

  private final class JobLog extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(s"job ${e.jobId}"))
  }

  /** Runs `body` and returns its result with the descriptions of the Spark
    * jobs it started. A marker job runs last; listener events arrive in
    * order, so once the marker is seen every earlier job has been seen too.
    */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val log = new JobLog
    sc.addSparkListener(log)
    try {
      val out = body
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!log.jobs.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      log.jobs.contains("marker") shouldBe true
      (out, log.jobs.asScala.toSeq.filterNot(_ == "marker"))
    } finally sc.removeSparkListener(log)
  }

  private def writeDocs(dir: String, ds: Seq[Doc]): Unit =
    spark.createDataset(ds).write.mode(SaveMode.Overwrite).parquet(dir)

  /** A PDF table touched by every commit kind: a killed run and its resume,
    * an upsert, a delete, a commit with an added column, a compaction and a
    * resume on top of it.
    */
  private def pdfTable(tmp: String): String = {
    val out = s"$tmp/pdf"
    writeDocs(s"$tmp/in1", docs.take(10))
    writeDocs(s"$tmp/in", docs)
    TableIO.runAndCommit(spark, s"$tmp/in1", out, "run1").get
    TableIO.runAndCommit(spark, s"$tmp/in", out, "run2").get
    TableIO.upsertDocs(spark, Extraction.readInput(spark, s"$tmp/in1").limit(3), out, "up").get
    TableIO.deleteDocs(spark, Seq(docs(4).doc_id).toDF("doc_id"), out, "del").get
    writeDocs(s"$tmp/in3", docs.take(2).map(d => d.copy(doc_id = d.doc_id + "-evo")))
    TableIO.commitData(spark, ExtractDocs.over(spark, s"$tmp/in3")
      .withColumn("quality", functions.length(col("markdown")).cast("long")), out, "evolve")
    TableIO.compact(spark, out, "opt", rowsPerFile = 10L).get
    // the resume after compaction re-extracts just the deleted doc
    TableIO.runAndCommit(spark, s"$tmp/in", out, "run3").get
    TableIO.runAndCommit(spark, s"$tmp/in", out, "run4") shouldBe None
    out
  }

  private def webTable(tmp: String): String = {
    val out = s"$tmp/web"
    def write(dir: String, ps: Seq[WebGen.WebPage]): Unit =
      ps.map(p => (p.doc_id, p.html)).toDF("doc_id", "html").write.parquet(dir)
    write(s"$tmp/web1", pages.take(8))
    write(s"$tmp/web2", pages)
    TableIO.commitWeb(spark, spark.read.parquet(s"$tmp/web1"), out, "w1").get
    TableIO.commitWeb(spark, spark.read.parquet(s"$tmp/web2"), out, "w2").get
    out
  }

  /** Two tables the streaming ingests commit, one batch per input file. */
  private def streamTables(tmp: String): Seq[String] = {
    docs.grouped(8).zipWithIndex.foreach { case (chunk, i) =>
      spark.createDataset(chunk).coalesce(1).write.parquet(s"$tmp/sin/part-$i")
    }
    StreamingExtraction.ingestAvailableNow(spark, s"$tmp/sin/part-*", s"$tmp/spdf",
      s"$tmp/sck", "s", maxFilesPerTrigger = 1) should be >= 2L
    pages.grouped(7).zipWithIndex.foreach { case (chunk, i) =>
      chunk.map(p => (p.doc_id, p.html)).toDF("doc_id", "html").coalesce(1)
        .write.parquet(s"$tmp/swin/part-$i")
    }
    StreamingExtraction.ingestWebAvailableNow(spark, s"$tmp/swin/part-*", s"$tmp/sweb",
      s"$tmp/swck", "sw", maxFilesPerTrigger = 1) should be >= 2L
    Seq(s"$tmp/spdf", s"$tmp/sweb")
  }

  /** A copy of the table at `root` whose manifests are rewritten in the
    * format written before manifests carried schemas, so it reads by
    * inference.
    */
  private def withoutSchemas(root: String, copy: String): String = {
    val src = Paths.get(root)
    Files.walk(src).iterator().asScala.foreach { p =>
      val to = Paths.get(copy).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    TableIO.committedSnapshots(copy).foreach { s =>
      s.schemas should not be empty
      val parent = s.parent.map(p => s""""parent": "$p", """).getOrElse("")
      val replaces =
        if (s.replaces.isEmpty) ""
        else s.replaces.map("\"" + _ + "\"").mkString(""", "replaces": [""", ", ", "]")
      Files.delete(Paths.get(s.dir.toUri.getPath, ".manifest.json.crc"))
      Files.write(Paths.get(s.dir.toUri.getPath, "manifest.json"),
        s"""{"snapshot_id": "${s.id}", $parent"run_id": "old"$replaces}""".getBytes("UTF-8"))
    }
    TableIO.committedSnapshots(copy).foreach(_.schemas shouldBe empty)
    copy
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def sameTable(got: Option[DataFrame], ref: Option[DataFrame]): Unit = {
    got.isDefined shouldBe ref.isDefined
    for (g <- got; r <- ref) {
      g.schema shouldBe r.schema
      rows(g) shouldBe rows(r)
    }
  }

  test("building the extraction and committed-table readers starts no Spark job") {
    val tmp = Files.createTempDirectory("graft-nojob").toString
    val pdf = pdfTable(tmp)
    val web = webTable(tmp)
    val first = TableIO.committedSnapshots(pdf).head.id
    val (dfs, jobs) = jobsOf(Seq(
      ExtractDocs.over(spark, s"$tmp/in"),
      Extraction.readInput(spark, s"$tmp/in").toDF(),
      TableIO.readCommitted(spark, pdf).get,
      TableIO.readAsOf(spark, pdf, first).get,
      TableIO.readMetrics(spark, pdf).get,
      TableIO.readCommitted(spark, web).get,
      TableIO.readMetrics(spark, web).get))
    jobs shouldBe empty
    // the readers are real: their actions do run jobs
    val (_, actionJobs) = jobsOf(dfs.map(_.count()))
    actionJobs should not be empty
  }

  test("every commit kind reads back with the schema and rows inference gives") {
    val tmp = Files.createTempDirectory("graft-schemas").toString
    val tables = Seq(pdfTable(tmp), webTable(tmp)) ++ streamTables(tmp)
    for (t <- tables) withClue(s"table $t: ") {
      val snaps = TableIO.committedSnapshots(t)
      snaps.size should be >= 2
      // each recorded schema is what inference reads from that directory
      for (s <- snaps; (name, st) <- s.schemas) withClue(s"snapshot ${s.id} $name: ") {
        val dir = new org.apache.hadoop.fs.Path(s.dir, name).toString
        val ref = spark.read.parquet(dir)
        val got = spark.read.schema(st).parquet(dir)
        got.schema shouldBe ref.schema
        rows(got) shouldBe rows(ref)
      }
      // whole-table reads equal the same table read through manifests
      // without schemas, i.e. by inference
      val old = withoutSchemas(t, s"$t-old")
      sameTable(TableIO.readCommitted(spark, t), TableIO.readCommitted(spark, old))
      sameTable(TableIO.readMetrics(spark, t), TableIO.readMetrics(spark, old))
      for (s <- snaps) withClue(s"as of ${s.id}: ") {
        sameTable(TableIO.readAsOf(spark, t, s.id), TableIO.readAsOf(spark, old, s.id))
      }
    }
    // the added column survives compaction: set on the two rows committed
    // with it, NULL on the others
    val pdf = TableIO.readCommitted(spark, s"$tmp/pdf").get
    pdf.where(col("quality").isNotNull).select("doc_id").as[String].collect().sorted shouldBe
      docs.take(2).map(_.doc_id + "-evo").sorted.toArray
  }

  test("a commit writes its lineage metrics on the driver: no job, one file, no marker") {
    val tmp = Files.createTempDirectory("graft-commit-jobs").toString
    writeDocs(s"$tmp/in1", docs.take(10))
    writeDocs(s"$tmp/in", docs)
    val out = s"$tmp/out"
    def commit(in: String, run: String) =
      jobsOf(TableIO.commitDocs(spark, Extraction.readInput(spark, in), out, run))
    // the jobs of a commit: the isEmpty check (with the committed doc_ids'
    // broadcast on resume), then the data write (broadcast, the rebalance
    // exchange, the write); the metrics file adds none
    val (fresh, freshJobs) = commit(s"$tmp/in1", "run1")
    val (resume, resumeJobs) = commit(s"$tmp/in", "run2")
    val (noop, noopJobs) = commit(s"$tmp/in", "run3")
    withClue(s"fresh commit jobs $freshJobs: ")(freshJobs.size shouldBe 3)
    withClue(s"resume commit jobs $resumeJobs: ")(resumeJobs.size shouldBe 5)
    withClue(s"no-op resume jobs $noopJobs: ")(noopJobs.size shouldBe 2)
    noop shouldBe None

    for (id <- Seq(fresh, resume).flatten) withClue(s"snapshot $id: ") {
      Files.list(Paths.get(out, s"snap-$id", "metrics")).iterator().asScala
        .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq
        .shouldBe(Seq("part-00000.snappy.parquet"))
    }
    val m = TableIO.readMetrics(spark, out).get
    m.agg(sum(col("pages_parsed"))).as[Long].head() shouldBe
      docs.map(d => graft.parse.DocParser.splitPages(d.spans).size.toLong).sum
  }

  test("the input contract fails on the driver; extra columns and reordered span fields read") {
    val tmp = Files.createTempDirectory("graft-contract").toString
    writeDocs(s"$tmp/good", docs)
    val good = spark.read.parquet(s"$tmp/good")
    def spansWith(fields: String*) = transform(col("spans"),
      s => struct(fields.map(f => s(f).as(f)): _*)).as("spans")
    // input, and the breach the contract message names
    val bad = Seq(
      good.select(col("doc_id")) -> "spans is missing",
      good.select(col("spans")) -> "doc_id is missing",
      good.select(col("doc_id"), spansWith("kind", "text", "offset")) ->
        "spans[].media_ref is missing",
      good.select(col("doc_id"), transform(col("spans"), s =>
        struct(s("kind").as("kind"), s("text").as("text"), s("media_ref").as("media_ref"),
          s("offset").cast("long").as("offset"))).as("spans")) ->
        "spans[].offset is bigint, not int")
    for (((df, breach), i) <- bad.zipWithIndex) withClue(s"$breach: ") {
      val dir = s"$tmp/bad-$i"
      df.write.parquet(dir)
      val (errors, jobs) = jobsOf(Seq(
        intercept[IllegalArgumentException](ExtractDocs.over(spark, dir)),
        intercept[IllegalArgumentException](Extraction.readInput(spark, dir))))
      jobs shouldBe empty
      errors.foreach { e =>
        e.getMessage should include("ExtractDocs input contract")
        e.getMessage should include(breach)
      }
    }

    val golden = docs.map(d => d.doc_id -> Oracle.golden(d)).toMap
    val fine = Map(
      "extra column" -> good.withColumn("source", lit("scan")),
      "reordered span fields" ->
        good.select(spansWith("offset", "media_ref", "text", "kind"), col("doc_id")))
    for (((what, df), i) <- fine.zipWithIndex) withClue(s"$what: ") {
      val dir = s"$tmp/fine-$i"
      df.write.parquet(dir)
      def byId(ds: org.apache.spark.sql.Dataset[Extracted]) =
        ds.collect().map(e => e.doc_id -> e).toMap
      byId(ExtractDocs.over(spark, dir).as[Extracted]) shouldBe golden
      TableIO.runAndCommit(spark, dir, s"$tmp/out-$i", "r").isDefined shouldBe true
      byId(TableIO.readCommitted(spark, s"$tmp/out-$i").get.as[Extracted]) shouldBe golden
    }
  }
}
