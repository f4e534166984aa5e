package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.model.OutSpan
import graft.corpus.{CorpusGen, WebGen}
import graft.pipeline.TableIO
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The raw-HTML front end on the committed-snapshot machinery
  * ([[TableIO.commitWeb]]): exactly-once per page across snapshots, the
  * committed union equal to the generator's PLANTED truth, per-partition
  * lineage metrics with correct totals — the same resume contract
  * [[ResumeSpec]] pins for the PDF path.
  */
class WebResumeSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSessions.spark
  import spark.implicits._

  private val spec = CorpusGen.Spec(docs = 40, megaPages = 8)
  private lazy val pages = (0L until spec.docs.toLong).map(WebGen.genPage(_, spec))

  private def writePages(dir: String, ps: Seq[WebGen.WebPage]): Unit =
    ps.map(p => (p.doc_id, p.html)).toDF("doc_id", "html")
      .write.mode(SaveMode.Overwrite).parquet(dir)

  test("kill/resume: snapshot 2 extracts only the remainder; union equals the planted truth") {
    val tmp = Files.createTempDirectory("graft-web-resume").toString
    val (first, rest) = pages.splitAt(25)

    writePages(s"$tmp/input1", first)
    val s1 = TableIO.commitWeb(spark,
      spark.read.parquet(s"$tmp/input1"), s"$tmp/out", "w1")
    s1.isDefined shouldBe true

    writePages(s"$tmp/input", pages)
    val s2 = TableIO.commitWeb(spark,
      spark.read.parquet(s"$tmp/input"), s"$tmp/out", "w2")
    s2.isDefined shouldBe true

    // snapshot 2's data contains exactly the pages snapshot 1 did not commit
    val snap2 = spark.read.parquet(s"$tmp/out/snap-${s2.get}/data")
    snap2.select("doc_id").as[String].collect().sorted shouldBe
      rest.map(_.doc_id).sorted.toArray

    // committed union: every page exactly once, spans equal to the PLANT
    val committed = TableIO.readCommitted(spark, s"$tmp/out").get
    committed.groupBy("doc_id").count().filter($"count" > 1).count() shouldBe 0
    val got = committed.select($"doc_id", $"spans").as[(String, Seq[OutSpan])]
      .collect().toMap
    got.keySet shouldBe pages.map(_.doc_id).toSet
    for (p <- pages) withClue(s"page ${p.doc_id}: ") {
      got(p.doc_id) shouldBe p.truth
    }

    // a third run over the same crawl is a no-op (idempotent resume)
    TableIO.commitWeb(spark,
      spark.read.parquet(s"$tmp/input"), s"$tmp/out", "w3") shouldBe None

    // per-partition lineage metrics: pages once, spans = plant, 0 failures
    val m = TableIO.readMetrics(spark, s"$tmp/out").get
    m.columns shouldBe Array("run_id", "snapshot_id", "partition_id",
      "doc_lo", "doc_hi", "pages_parsed", "spans_emitted", "parse_failures",
      "sum_conf_pm", "wall_ms")
    m.agg(sum($"sum_conf_pm")).as[Long].head() shouldBe 0L
    m.agg(sum($"pages_parsed")).as[Long].head() shouldBe spec.docs.toLong
    m.agg(sum($"spans_emitted")).as[Long].head() shouldBe
      pages.map(_.truth.size.toLong).sum
    m.agg(sum($"parse_failures")).as[Long].head() shouldBe 0L
    m.select("doc_lo").as[String].collect().foreach(_ should startWith("web-"))
    // both snapshots contributed lineage rows
    m.select("snapshot_id").distinct().count() shouldBe 2L
  }

  test("web metrics sum page nanoseconds before flooring to wall_ms") {
    // four 600 µs pages: 2.4 ms in all, but 0 if each page were floored
    // first; both surfaces count their pages through the one TaskCounts
    val counts = new graft.plans.TaskCounts
    (0 until 4).foreach(i => counts.add(s"web-$i", 1, 0, 0, 0, 600000L))
    counts.lineage(0).wall_ms shouldBe 2L
  }

  test("empty-content pages still commit (resume can never re-extract them forever)") {
    val tmp = Files.createTempDirectory("graft-web-empty").toString
    val blank = Seq(("web-blank-0", "<html><body><nav><a href='/'>home</a></nav></body></html>"))
      .toDF("doc_id", "html")
    val s1 = TableIO.commitWeb(spark, blank, s"$tmp/out", "b1")
    s1.isDefined shouldBe true
    // the page committed with zero spans...
    val t = TableIO.readCommitted(spark, s"$tmp/out").get
    t.count() shouldBe 1L
    t.select(org.apache.spark.sql.functions.size($"spans")).as[Int].head() shouldBe 0
    // ...so a re-run skips it instead of re-extracting
    TableIO.commitWeb(spark, blank, s"$tmp/out", "b2") shouldBe None
  }
}
