package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.model._
import graft.corpus.CorpusGen
import graft.oracle.Oracle
import graft.pipeline.TableIO
import graft.streaming.StreamingExtraction
import java.nio.file.Files

class StreamingSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSessions.spark
  import spark.implicits._

  test("AvailableNow streaming ingest over multiple files == golden, exactly-once") {
    val tmp = Files.createTempDirectory("graft-stream").toString
    val spec = CorpusGen.Spec(docs = 40, megaPages = 16)
    val all = CorpusGen.genAll(spec).toSeq
    // several input files → several micro-batches with maxFilesPerTrigger=2
    all.grouped(10).zipWithIndex.foreach { case (chunk, i) =>
      spark.createDataset(chunk).coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/input/part-$i")
    }
    val inputGlob = s"$tmp/input/part-*"

    StreamingExtraction.ingestAvailableNow(
      spark, inputGlob, s"$tmp/out", s"$tmp/ckpt", "stream-run", maxFilesPerTrigger = 2)

    val committed = TableIO.readCommitted(spark, s"$tmp/out").get
    committed.groupBy("doc_id").count().filter($"count" > 1).count() shouldBe 0
    val got = committed.select($"doc_id", $"spans").as[(String, Seq[OutSpan])]
      .collect().toMap
    val golden = all.map(d => d.doc_id -> Oracle.golden(d).spans).toMap
    got.keySet shouldBe golden.keySet
    for ((id, g) <- golden) withClue(s"doc $id: ") { got(id) shouldBe g }

    // re-running the same AvailableNow query with the same checkpoint is a
    // no-op (source offsets committed) — still exactly-once
    StreamingExtraction.ingestAvailableNow(
      spark, inputGlob, s"$tmp/out", s"$tmp/ckpt", "stream-run2", maxFilesPerTrigger = 2)
    TableIO.readCommitted(spark, s"$tmp/out").get
      .groupBy("doc_id").count().filter($"count" > 1).count() shouldBe 0
  }

  test("AvailableNow web ingest: kill-restart through one checkpoint == planted truth, exactly-once") {
    import graft.corpus.WebGen
    val tmp = Files.createTempDirectory("graft-stream-web").toString
    val spec = CorpusGen.Spec(docs = 30, megaPages = 8)
    val pages = (0L until spec.docs.toLong).map(WebGen.genPage(_, spec))
    val (first, rest) = pages.splitAt(18)
    first.map(p => (p.doc_id, p.html)).toDF("doc_id", "html").coalesce(1)
      .write.parquet(s"$tmp/in/f-0")

    // phase 1 drains the first file set, then "dies"
    StreamingExtraction.ingestWebAvailableNow(
      spark, s"$tmp/in/f-*", s"$tmp/out", s"$tmp/ckpt", "sw1", maxFilesPerTrigger = 2)
    // restart over MORE files, same checkpoint: recovered offsets skip f-0
    rest.map(p => (p.doc_id, p.html)).toDF("doc_id", "html").coalesce(1)
      .write.parquet(s"$tmp/in/f-1")
    StreamingExtraction.ingestWebAvailableNow(
      spark, s"$tmp/in/f-*", s"$tmp/out", s"$tmp/ckpt", "sw2", maxFilesPerTrigger = 2)

    val committed = TableIO.readCommitted(spark, s"$tmp/out").get
    committed.groupBy("doc_id").count().filter($"count" > 1).count() shouldBe 0
    val got = committed.select($"doc_id", $"spans").as[(String, Seq[OutSpan])]
      .collect().toMap
    got.keySet shouldBe pages.map(_.doc_id).toSet
    for (p <- pages) withClue(s"page ${p.doc_id}: ") { got(p.doc_id) shouldBe p.truth }
  }

  test("streaming near-dup: cross-batch and cross-restart candidates == sequential restatement") {
    import graft.streaming.StreamingNearDup
    import graft.streaming.StreamingNearDup.NdIn
    val tmp = java.nio.file.Files.createTempDirectory("graft-snd").toString
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    def edited(k: Int): String = // swap a few words — a near-dup, not exact
      base.split(" ").zipWithIndex.map { case (w, i) =>
        if (i % 20 == k) s"edit$k" else w }.mkString(" ")
    val far = (1 to 60).map(i => s"other$i word$i").mkString(" ")
    def writeFile(i: Int, rows: Seq[NdIn]): Unit =
      spark.createDataset(rows).coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/f-$i")
    // batch 0: original + one same-batch near-dup + one unrelated doc
    writeFile(0, Seq(NdIn(1, base), NdIn(2, edited(0)), NdIn(9, far)))
    StreamingNearDup.ingestNearDup(spark, s"$tmp/in/f-*", s"$tmp/out",
      s"$tmp/ckpt", maxFilesPerTrigger = 100000)
    // restart with the same checkpoint: a new near-dup of doc 1 must be
    // caught against the RECOVERED bucket state
    writeFile(1, Seq(NdIn(5, edited(1)), NdIn(10, far + " tail")))
    StreamingNearDup.ingestNearDup(spark, s"$tmp/in/f-*", s"$tmp/out",
      s"$tmp/ckpt", maxFilesPerTrigger = 100000)
    val got = spark.read.parquet(s"$tmp/out")
      .select($"a", $"b", $"est_pm").distinct()
      .as[(Long, Long, Long)].collect().toSet
    val want = graft.oracle.OpsOracle.streamNearDupPairs(
      Seq(1L -> base, 2L -> edited(0), 9L -> far, 5L -> edited(1),
        10L -> (far + " tail")),
      n = 3, k = 16, bands = 4, minEstPm = 500).toSet
    got shouldBe want
    // the planted relations are live: same-batch pair AND cross-restart pair
    got.map(p => (p._1, p._2)) should contain allOf ((1L, 2L), (1L, 5L))
    // the unrelated docs never pair with the base family
    got.map(p => (p._1, p._2)) should not contain ((1L, 9L))
  }

  test("streaming near-dup TTL: idle band buckets evict, fresh pairs still found") {
    import graft.streaming.StreamingNearDup
    import graft.streaming.StreamingNearDup.NdIn
    val tmp = java.nio.file.Files.createTempDirectory("graft-snd-ttl").toString
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    def edited(kk: Int): String =
      base.split(" ").zipWithIndex.map { case (w, i) =>
        if (i % 20 == kk) s"edit$kk" else w }.mkString(" ")
    val far = (1 to 60).map(i => s"other$i word$i").mkString(" ")
    def writeFile(i: Int, rows: Seq[NdIn]): Unit =
      spark.createDataset(rows).coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/f-$i")
    def drain(): Unit =
      StreamingNearDup.ingestNearDupContinuous(spark, s"$tmp/in/f-*",
        s"$tmp/out", s"$tmp/ckpt", maxFilesPerTrigger = 100000,
        minEstPm = 500, ttl = Some("1 second"), triggerMs = 100L,
        idleStopMs = 5000L)
    // phase 1: index doc 1
    writeFile(0, Seq(NdIn(1, base)))
    drain()
    // let doc 1's bucket deadlines expire, then process UNRELATED data —
    // that batch fires the pending timers and evicts the idle buckets
    Thread.sleep(2500)
    writeFile(1, Seq(NdIn(9, far)))
    drain()
    // phase 3: a near-dup of doc 1 plus a fresh same-batch near-dup pair
    // (doc 4 repeats base — the same relation as doc 3, fresh state only).
    // Doc 1's state is gone (evicted), so (1,·) must NOT appear; the fresh
    // pair (3,4) must (detection still live after evictions).
    writeFile(2, Seq(NdIn(3, edited(0)), NdIn(4, base)))
    drain()
    val got = spark.read.parquet(s"$tmp/out")
      .select($"a", $"b").distinct().as[(Long, Long)].collect().toSet
    got should contain ((3L, 4L))
    got.filter(p => p._1 == 1L || p._2 == 1L) shouldBe empty
  }

  test("stateful streaming dedup: first-seen wins across micro-batches and restarts") {
    import graft.streaming.StreamingDedup
    import graft.streaming.StreamingDedup.DocIn
    val tmp = Files.createTempDirectory("graft-sdedup").toString

    // three files → three micro-batches (maxFilesPerTrigger=1):
    //   f0: docs 1,2 distinct; 3 duplicates 1's text (same batch as nothing)
    //   f1: 4 duplicates 1 (cross-batch dup), 5 new
    //   f2: 6 duplicates 5, 7 new
    def writeFile(i: Int, rows: Seq[DocIn]): Unit =
      spark.createDataset(rows).coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/in/f-$i")
    writeFile(0, Seq(DocIn(1, "alpha text"), DocIn(2, "beta text"), DocIn(3, "alpha text")))
    writeFile(1, Seq(DocIn(4, "alpha text"), DocIn(5, "gamma text")))
    writeFile(2, Seq(DocIn(6, "gamma text"), DocIn(7, "delta text")))

    StreamingDedup.ingestDedup(spark, s"$tmp/in/f-*", s"$tmp/out", s"$tmp/ckpt")
    val admitted = spark.read.parquet(s"$tmp/out")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    admitted shouldBe Map(1L -> "alpha text", 2L -> "beta text",
      5L -> "gamma text", 7L -> "delta text")

    // restart with the same checkpoint + a new file: dup of already-admitted
    // content stays suppressed (state survived), new content is admitted
    writeFile(3, Seq(DocIn(8, "beta text"), DocIn(9, "epsilon text")))
    StreamingDedup.ingestDedup(spark, s"$tmp/in/f-*", s"$tmp/out", s"$tmp/ckpt")
    val after = spark.read.parquet(s"$tmp/out")
      .select($"doc_id").as[Long].collect().toSet
    after shouldBe Set(1L, 2L, 5L, 7L, 9L)
  }
}
