package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.model._
import graft.corpus.CorpusGen
import graft.oracle.Oracle
import graft.pipeline.{Extraction, TableIO}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Checkpoint/resume + metrics (north rule: resumable from snapshot
  * checkpoints with per-partition lineage; exactly-once per doc_id).
  */
class ResumeSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSessions.spark
  import spark.implicits._

  private val spec = CorpusGen.Spec(docs = 60, megaPages = 32)

  private def writeInput(dir: String, docs: Seq[Doc]): Unit =
    spark.createDataset(docs).write.mode(SaveMode.Overwrite).parquet(dir)

  test("kill/resume: second run processes only the remainder; union equals golden") {
    val tmp = Files.createTempDirectory("graft-resume").toString
    val all = CorpusGen.genAll(spec).toSeq
    val (first, rest) = all.splitAt(25)

    // run 1 sees only a prefix of the input (simulates a kill after a
    // committed snapshot: committed work is visible, the rest never ran)
    writeInput(s"$tmp/input1", first)
    val s1 = TableIO.runAndCommit(spark, s"$tmp/input1", s"$tmp/out", "run1")
    s1.isDefined shouldBe true

    // run 2 sees the FULL input and must skip the committed doc_ids
    writeInput(s"$tmp/input", all)
    val s2 = TableIO.runAndCommit(spark, s"$tmp/input", s"$tmp/out", "run2")
    s2.isDefined shouldBe true

    // snapshot 2's data contains exactly the remainder
    val snap2 = spark.read.parquet(s"$tmp/out/snap-${s2.get}/data")
    snap2.select("doc_id").as[String].collect().sorted shouldBe
      rest.map(_.doc_id).sorted.toArray

    // committed union: every doc exactly once, equal to golden
    val committed = TableIO.readCommitted(spark, s"$tmp/out").get
    committed.groupBy("doc_id").count().filter($"count" > 1).count() shouldBe 0
    val got = committed.select($"doc_id", $"spans").as[(String, Seq[OutSpan])]
      .collect().toMap
    val golden = all.map(d => d.doc_id -> Oracle.golden(d).spans).toMap
    got.keySet shouldBe golden.keySet
    for ((id, g) <- golden) withClue(s"doc $id: ") { got(id) shouldBe g }

    // a third run over the same input is a no-op (idempotent)
    TableIO.runAndCommit(spark, s"$tmp/input", s"$tmp/out", "run3") shouldBe None

    // time travel: AS OF snapshot 1 sees only run 1's docs; AS OF snapshot 2
    // sees the full table; unknown ids resolve to nothing
    TableIO.readAsOf(spark, s"$tmp/out", s1.get).get
      .select("doc_id").as[String].collect().sorted shouldBe
      first.map(_.doc_id).sorted.toArray
    TableIO.readAsOf(spark, s"$tmp/out", s2.get).get.count() shouldBe all.length
    TableIO.readAsOf(spark, s"$tmp/out", "no-such-snapshot") shouldBe None
  }

  test("mixed writers: a fan-out snapshot under node commits reads back as one golden table") {
    val tmp = Files.createTempDirectory("graft-mixed").toString
    val all = CorpusGen.genAll(spec).toSeq
    writeInput(s"$tmp/input1", all.take(25))
    writeInput(s"$tmp/input", all)

    // snapshot 1 is the page fan-out's output, committed as plain data
    val s1 = TableIO.commitData(spark,
      Extraction.assemble(Extraction.parsePages(Extraction.readInput(spark, s"$tmp/input1"), 4)),
      s"$tmp/out", "fanout")
    // the resume runs through the node and commits only the remainder
    val s2 = TableIO.runAndCommit(spark, s"$tmp/input", s"$tmp/out", "node").get
    spark.read.parquet(s"$tmp/out/snap-$s2/data").count() shouldBe (all.size - 25L)
    TableIO.readAsOf(spark, s"$tmp/out", s1).get.count() shouldBe 25L

    val committed = TableIO.readCommitted(spark, s"$tmp/out").get
    committed.groupBy("doc_id").count().filter($"count" > 1).count() shouldBe 0
    val got = committed.select($"doc_id", $"spans", $"markdown", $"html", $"conf_pm")
      .as[(String, Seq[OutSpan], String, String, Long)].collect().map(t => t._1 -> t).toMap
    got.keySet shouldBe all.map(_.doc_id).toSet
    for (d <- all; g = Oracle.golden(d)) withClue(s"doc ${d.doc_id}: ") {
      got(d.doc_id) shouldBe ((g.doc_id, g.spans, g.markdown, g.html, g.conf_pm))
    }
  }

  test("lineage: duplicate task reports count once; empty tasks write no row") {
    // a retried or speculative task reports its partition twice
    val r = graft.plans.TaskLineage(3, "doc-a", "doc-c", 5L, 40L, 1L, 4500L, 7L)
    val reports = Seq(r, r.copy(partition_id = 1, doc_lo = "doc-d", doc_hi = "doc-d"), r)
    val rows = TableIO.lineageMetrics(spark, reports, "run", "snap")
      .select("partition_id", "doc_lo", "pages_parsed").as[(Int, String, Long)].collect()
    rows.toSeq shouldBe Seq((1, "doc-d", 5L), (3, "doc-a", 5L))

    // 3 docs over 8 input slices: five node tasks parse nothing
    val tmp = Files.createTempDirectory("graft-lineage").toString
    val few = CorpusGen.genAll(spec).toSeq.take(3)
    TableIO.commitDocs(spark, spark.createDataset(spark.sparkContext.parallelize(few, 8)),
      s"$tmp/out", "sparse").isDefined shouldBe true
    val m = TableIO.readMetrics(spark, s"$tmp/out").get
    m.count() shouldBe 3L
    m.where($"doc_lo" =!= $"doc_hi" || $"pages_parsed" === 0L).count() shouldBe 0L
    val stats = few.map(Oracle.pageStats)
    m.agg(sum($"pages_parsed"), sum($"spans_emitted"), sum($"parse_failures"),
        sum($"sum_conf_pm")).as[(Long, Long, Long, Long)].head() shouldBe
      ((stats.map(_._1).sum, stats.map(_._2).sum, stats.map(_._3).sum, stats.map(_._4).sum))
  }

  test("compaction: full-rewrite snapshot preserves rows, bounds files, keeps time travel until expiry") {
    val tmp = Files.createTempDirectory("graft-compact").toString
    val all = CorpusGen.genAll(spec).toSeq
    val (first, rest) = all.splitAt(25)
    writeInput(s"$tmp/input1", first)
    val s1 = TableIO.runAndCommit(spark, s"$tmp/input1", s"$tmp/out", "run1").get
    writeInput(s"$tmp/input", all)
    TableIO.runAndCommit(spark, s"$tmp/input", s"$tmp/out", "run2").get

    val before = TableIO.readCommitted(spark, s"$tmp/out").get
      .select($"doc_id", $"spans").as[(String, Seq[OutSpan])].collect().toMap

    val c = TableIO.compact(spark, s"$tmp/out", "opt1", rowsPerFile = 10L).get
    // the compacted snapshot ALONE is the live table now, content-identical
    TableIO.liveSnapshots(s"$tmp/out").map(_.id) shouldBe Seq(c)
    val after = TableIO.readCommitted(spark, s"$tmp/out").get
      .select($"doc_id", $"spans").as[(String, Seq[OutSpan])].collect().toMap
    after shouldBe before
    // file count bounded by the target: ceil(60 / 10) data files
    val dataDir = java.nio.file.Paths.get(s"$tmp/out/snap-$c/data")
    import scala.jdk.CollectionConverters._
    Files.list(dataDir).iterator().asScala.count(
      _.getFileName.toString.endsWith(".parquet")) shouldBe 6
    // time travel to the pre-compaction snapshot still works
    TableIO.readAsOf(spark, s"$tmp/out", s1).get
      .select("doc_id").as[String].collect().sorted shouldBe
      first.map(_.doc_id).sorted.toArray
    // resume against the compacted table still skips committed docs
    TableIO.runAndCommit(spark, s"$tmp/input", s"$tmp/out", "run3") shouldBe None
    // a genuinely new doc commits on top of the compacted snapshot
    writeInput(s"$tmp/input2", rest.take(1).map(d => d.copy(doc_id = d.doc_id + "-new")))
    val s4 = TableIO.runAndCommit(spark, s"$tmp/input2", s"$tmp/out", "run4").get
    TableIO.readCommitted(spark, s"$tmp/out").get.count() shouldBe (all.size + 1L)
    TableIO.liveSnapshots(s"$tmp/out").map(_.id) shouldBe Seq(c, s4)
    // expiry removes the replaced snapshots; live table unaffected,
    // time travel to expired ids now returns None
    val expired = TableIO.expireSnapshots(s"$tmp/out")
    expired should contain (s1)
    TableIO.readCommitted(spark, s"$tmp/out").get.count() shouldBe (all.size + 1L)
    TableIO.readAsOf(spark, s"$tmp/out", s1) shouldBe None
  }

  test("upsert + row-level delete: merge-on-read tombstones, re-ingest after delete, purge at compaction") {
    val tmp = Files.createTempDirectory("graft-upsert").toString
    val all = CorpusGen.genAll(spec).toSeq
    def isOdd(d: Doc) = (d.doc_id.last - '0') % 2 == 1
    val (odds, evens) = all.partition(isOdd)
    def stale(d: Doc): Doc = d.copy(spans = d.spans.take(math.max(1, d.spans.length / 2)))

    // phase 1 commits the true evens + a STALE version of every odd doc
    writeInput(s"$tmp/input1", evens ++ odds.map(stale))
    val s1 = TableIO.runAndCommit(spark, s"$tmp/input1", s"$tmp/out", "run1").get
    // upsert replaces the odd docs with their true extraction
    writeInput(s"$tmp/input2", odds)
    TableIO.upsertDocs(spark,
      graft.pipeline.Extraction.readInput(spark, s"$tmp/input2"),
      s"$tmp/out", "run2").get

    val golden = all.map(d => d.doc_id -> Oracle.golden(d).spans).toMap
    def table() = TableIO.readCommitted(spark, s"$tmp/out").get
      .select($"doc_id", $"spans").as[(String, Seq[OutSpan])].collect().toMap
    val got = table()
    got.keySet shouldBe golden.keySet
    for ((id, g) <- golden) withClue(s"doc $id: ") { got(id) shouldBe g }
    // time travel still sees the stale pre-upsert version
    val rich = odds.find(_.spans.length >= 4).get
    val atS1 = TableIO.readAsOf(spark, s"$tmp/out", s1).get
      .select($"doc_id", $"spans").as[(String, Seq[OutSpan])].collect().toMap
    atS1(rich.doc_id) should not be golden(rich.doc_id)

    // delete 3 docs: immediately invisible, everything else intact
    val victims = all.take(3).map(_.doc_id)
    TableIO.deleteDocs(spark, victims.toDF("doc_id"), s"$tmp/out", "gdpr").get
    val afterDel = table()
    afterDel.keySet shouldBe (golden.keySet -- victims)
    // resume over the full input re-extracts EXACTLY the deleted docs
    writeInput(s"$tmp/input", all)
    TableIO.runAndCommit(spark, s"$tmp/input", s"$tmp/out", "run3").get
    table().keySet shouldBe golden.keySet
    // compaction + expiry physically purge tombstones and stale bytes
    TableIO.compact(spark, s"$tmp/out", "opt", rowsPerFile = 20L).get
    TableIO.expireSnapshots(s"$tmp/out")
    val finalT = table()
    finalT.keySet shouldBe golden.keySet
    for ((id, g) <- golden) withClue(s"doc $id: ") { finalT(id) shouldBe g }
    // no tombstone dirs survive in the live chain
    TableIO.liveSnapshots(s"$tmp/out").foreach { s =>
      new java.io.File(s.dir.toUri.getPath, "deletes").isDirectory shouldBe false
    }
  }

  test("expire-then-commit: monotonic ids keep post-expiry commits visible (ADVICE r3 high)") {
    val tmp = Files.createTempDirectory("graft-expirecommit").toString
    val all = CorpusGen.genAll(spec).toSeq
    val (first, rest) = all.splitAt(25)
    writeInput(s"$tmp/input1", first)
    writeInput(s"$tmp/input", all)
    TableIO.runAndCommit(spark, s"$tmp/input1", s"$tmp/out", "run1").get
    TableIO.runAndCommit(spark, s"$tmp/input", s"$tmp/out", "run2").get
    // compact (full rewrite) then EXPIRE the two replaced snapshots: the
    // committed set is now the single compacted snapshot with a high index
    TableIO.compact(spark, s"$tmp/out", "opt", rowsPerFile = 1000L).get
    TableIO.expireSnapshots(s"$tmp/out").size shouldBe 2
    // a fresh doc commits AFTER expiry — the regression: a count-derived id
    // (000001-...) would sort before the surviving compacted 000002-... and
    // the new snapshot would be invisible to readCommitted, making every
    // later resume re-extract (and re-commit) it forever
    writeInput(s"$tmp/input2",
      rest.take(1).map(d => d.copy(doc_id = d.doc_id + "-post-expiry")))
    val s4 = TableIO.runAndCommit(spark, s"$tmp/input2", s"$tmp/out", "run4").get
    s4.takeWhile(_.isDigit).toLong should be > 2L // monotonic, not count-derived
    val live = TableIO.readCommitted(spark, s"$tmp/out").get
    live.count() shouldBe (all.size + 1L)
    live.where($"doc_id".endsWith("-post-expiry")).count() shouldBe 1L
    // and the resume anti-join sees it: a re-run over the same input is a no-op
    TableIO.runAndCommit(spark, s"$tmp/input2", s"$tmp/out", "run5") shouldBe None
    // head selection is by lineage: the new head's parent is the compacted id
    val snaps = TableIO.committedSnapshots(s"$tmp/out")
    val head = snaps.find(_.id == s4).get
    head.parent shouldBe Some(snaps.find(_.replaces.nonEmpty).get.id)
  }

  test("schema evolution: columns added by later snapshots read as NULL on older data") {
    val tmp = Files.createTempDirectory("graft-evolve").toString
    TableIO.commitData(spark, Seq(("a", 1L)).toDF("doc_id", "x"), tmp, "v1")
    TableIO.commitData(spark,
      Seq(("b", 2L, 9L)).toDF("doc_id", "x", "quality"), tmp, "v2")
    val t = TableIO.readCommitted(spark, tmp).get
    t.columns.toSet shouldBe Set("doc_id", "x", "quality")
    val rows = t.collect().map(r =>
      r.getString(r.fieldIndex("doc_id")) ->
        (r.getLong(r.fieldIndex("x")),
          if (r.isNullAt(r.fieldIndex("quality"))) None
          else Some(r.getLong(r.fieldIndex("quality"))))).toMap
    rows("a") shouldBe ((1L, None))
    rows("b") shouldBe ((2L, Some(9L)))
    // tombstones apply across schema versions
    TableIO.deleteDocs(spark, Seq("a").toDF("doc_id"), tmp, "del")
    TableIO.readCommitted(spark, tmp).get.select("doc_id")
      .as[String].collect().toSeq shouldBe Seq("b")
  }

  test("uncommitted snapshot (no manifest) is invisible to readers") {
    val tmp = Files.createTempDirectory("graft-uncommitted").toString
    val all = CorpusGen.genAll(CorpusGen.Spec(5, 4)).toSeq
    writeInput(s"$tmp/input", all)
    // fake a crashed run: data written, manifest missing
    val dir = java.nio.file.Paths.get(tmp, "out", "snap-zz-crashed", "data")
    Files.createDirectories(dir)
    spark.createDataset(all).write.mode(SaveMode.Overwrite).parquet(dir.toString)
    TableIO.readCommitted(spark, s"$tmp/out") shouldBe None
    // resume ignores it and processes everything
    val s = TableIO.runAndCommit(spark, s"$tmp/input", s"$tmp/out", "r")
    s.isDefined shouldBe true
    TableIO.readCommitted(spark, s"$tmp/out").get.count() shouldBe 5
  }

  test("metrics: per-partition lineage rows with correct totals") {
    val tmp = Files.createTempDirectory("graft-metrics").toString
    val all = CorpusGen.genAll(spec).toSeq
    writeInput(s"$tmp/input", all)
    TableIO.runAndCommit(spark, s"$tmp/input", s"$tmp/out", "mrun")
    val m = TableIO.readMetrics(spark, s"$tmp/out").get
    m.columns shouldBe Array("run_id", "snapshot_id", "partition_id", "doc_lo",
      "doc_hi", "pages_parsed", "spans_emitted", "parse_failures",
      "sum_conf_pm", "wall_ms")

    val totalPages = all.map(d => graft.parse.DocParser.splitPages(d.spans).size.toLong).sum
    m.agg(sum($"pages_parsed")).as[Long].head() shouldBe totalPages
    m.agg(sum($"parse_failures")).as[Long].head() shouldBe Oracle.expectedFailures(spec)
    val goldenSpans = all.map(d => Oracle.golden(d).spans.size.toLong).sum
    m.agg(sum($"spans_emitted")).as[Long].head() shouldBe goldenSpans
    // confidence mass matches the sequential oracle (ocr_engine.py:690–695)
    val confMass = all.map(d => Oracle.pageStats(d)._4).sum
    m.agg(sum($"sum_conf_pm")).as[Long].head() shouldBe confMass
    confMass should be > 0L
    // pricing + progress math (tasks.py:263, 379)
    graft.pipeline.Extraction.priceKrw(totalPages) shouldBe totalPages * 50
    // README bulk tiers (README.md:227–232) — every boundary both ways
    Seq(1L -> 50L, 99L -> 50L, 100L -> 45L, 499L -> 45L, 500L -> 40L,
        999L -> 40L, 1000L -> 35L, 5000L -> 35L).foreach { case (p, u) =>
      graft.pipeline.Extraction.bulkUnitKrw(p) shouldBe u
      graft.pipeline.Extraction.priceKrwBulk(p) shouldBe p * u
    }
    graft.pipeline.Extraction.progressPct(0, 10) shouldBe 0
    graft.pipeline.Extraction.progressPct(5, 10) shouldBe 45
    graft.pipeline.Extraction.progressPct(10, 10) shouldBe 90
    graft.pipeline.Extraction.progressPct(0, 0) shouldBe 0
    // lineage ranges are real doc ids
    m.select("doc_lo").as[String].collect().foreach(_ should startWith("doc-"))
  }
}
