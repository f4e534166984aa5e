package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.ops._
import org.apache.spark.sql.functions._

/** Self-checks for the training-data operators: LSH/minhash results verified
  * against exact computations on the same data (SURVEY.md: "a correct-but-
  * unverified approximate operator is not done").
  */
class OpsSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSessions.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
  private lazy val embs = spark.read.parquet(s"$dir/embeddings.parquet").cache()

  test("exact dedup partitions the corpus: group sizes sum to row count") {
    val total = docs.count()
    Dedup.exact(docs).agg(sum($"n_docs")).as[Long].head() shouldBe total
  }

  test("shard manifest: permutation of sequences, contiguous positions, parallelism-invariant") {
    val packed = Packing.packSequences(docs, capacity = 128, nBuckets = 8)
    val m = Packing.shardManifest(packed, nShards = 4).cache()
    // one manifest row per packed sequence; item/token totals preserved
    m.count() shouldBe packed.select("seq_id").distinct().count()
    m.agg(sum($"n_items")).as[Long].head() shouldBe packed.count()
    // positions are 1..|shard| within each shard
    val bad = m.groupBy($"shard")
      .agg(count(lit(1)).as("n"), max($"shard_pos").as("mx"), min($"shard_pos").as("mn"),
        countDistinct($"shard_pos").as("d"))
      .where($"mx" =!= $"n" || $"mn" =!= 1L || $"d" =!= $"n")
    bad.count() shouldBe 0L
    // same result under a different partitioning of the input
    val m2 = Packing.shardManifest(packed.repartition(3), nShards = 4)
    m.except(m2).count() shouldBe 0L
    m2.except(m).count() shouldBe 0L
    m.unpersist()
  }

  test("oov ratio: full vocab means zero oov; cut is deterministic on ties") {
    val full = TextOps.oovRatio(docs, vocabSize = 1 << 20)
    full.where($"n_oov" =!= 0L || $"oov_pm" =!= 0L).count() shouldBe 0L
    // planted: vocab of size 2 keeps the two most frequent; tie between 'b'
    // and 'c' (both once) resolves to 'b' by token order, so only doc 2's
    // 'c' is oov
    val planted = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextOps.oovRatio(planted, vocabSize = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    got(1L) shouldBe ((3L, 0L, 0L))
    got(2L) shouldBe ((2L, 1L, 500L))
  }

  test("Gopher text rules: planted bullets, ellipses, symbols, stopwords") {
    val doc1 = "• first bullet\n- second bullet\nplain line the and of\nends with dots...\n* third"
    val doc2 = "a # b # c ... d" // 7 whitespace tokens, 2 '#' + 1 '...'
    val rows = Seq((1L, doc1), (2L, doc2), (3L, "")).toDF("doc_id", "text")
    val got = TextOps.gopherTextRules(rows).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // doc 1: 5 lines, 3 bullets (•, "- ", "* "), 1 ellipsis line
    got(1L)._1 shouldBe 5L
    got(1L)._2 shouldBe (3L * 1000 / 5)
    got(1L)._3 shouldBe (1L * 1000 / 5)
    // "the", "and", "of", "with" present in doc 1
    got(1L)._5 shouldBe 4L
    // doc 2: 7 tokens, 2 '#' + 1 '...' = 3 symbols
    got(2L)._4 shouldBe (3L * 1000 / 7)
    got(3L) shouldBe ((1L, 0L, 0L, 0L, 0L))
  }

  test("BPE encode: textbook merges apply in rank order, corpus == sequential oracle") {
    // rank 0 merges first even though rank 1's pair also exists: "lo"+"w"
    // can only form after "l"+"o", and "ow" (rank 2) must NOT fire inside
    // "low" once "lo" won the earlier rank
    val merges = Seq(("l", "o"), ("lo", "w"), ("o", "w"))
    val got = TextOps.bpeEncode(
        Seq((1L, "low owl"), (2L, ""), (3L, " lol ")).toDF("doc_id", "text"), merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // "low" -> l o w -> lo w -> low (2 merges, 1 piece); "owl" -> o w l ->
    // ow l (rank-2 merge, then no pair) = 2 pieces
    got(1L)._1 shouldBe 2L
    got(1L)._2 shouldBe 3L
    got(2L) shouldBe ((0L, 0L, got(2L)._3))
    // "lol": l o l -> lo l; no further pair
    got(3L)._2 shouldBe 2L
    val want = graft.oracle.OpsOracle.bpeEncode(
      Seq((1L, "low owl"), (2L, ""), (3L, " lol ")), merges)
      .map { case (id, w, p, h) => id -> ((w, p, h)) }.toMap
    got shouldBe want
    // corpus: encode with merges trained on the corpus itself, at two
    // parallelisms, against the sequential restatement
    val seq = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    val trained = graft.oracle.OpsOracle.bpeMerges(seq, nMerges = 20, maxVocab = 1 << 16)
      .map { case (_, l, r, _) => (l, r) }
    val wantC = graft.oracle.OpsOracle.bpeEncode(seq, trained)
      .map { case (id, w, p, h) => id -> ((w, p, h)) }.toMap
    def run(df: org.apache.spark.sql.DataFrame) =
      TextOps.bpeEncode(df, trained).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    run(docs) shouldBe wantC
    run(docs.repartition(5)) shouldBe wantC
  }

  test("C4 line cleaning: every rule exercised on planted lines") {
    val good = "this line has five good words."
    val doc1 = Seq(
      good,                                   // kept
      "ends well but only four words.",       // kept (6 words)
      "no terminal punctuation here at all",  // dropped: no . ! ? "
      "too few words.",                       // dropped: 3 words < 5
      "enable javascript to view this page.", // dropped: javascript
      "  " + good + "  ",                     // kept: trim, then same line
      "\"a quoted line of five words\""       // kept: ends with a quote
    ).mkString("\n")
    val doc2 = good + "\nlorem IPSUM dolor sit amet here."  // page rule
    val doc3 = good + " brace { inside\n" + good + "\n" + good // { page rule
    val doc4 = good + "\n" + good                           // only 2 kept < 3
    val rows = Seq((1L, doc1), (2L, doc2), (3L, doc3), (4L, ""))
      .toDF("doc_id", "text").unionByName(Seq((5L, doc4)).toDF("doc_id", "text"))
    val got = TextOps.c4Clean(rows).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3), r.getString(4))).toMap
    got(1L)._1 shouldBe 7L
    got(1L)._2 shouldBe 4L
    got(1L)._3 shouldBe true
    // doc 2: both lines end in '.', >= 5 words → kept... but < 3 lines AND
    // the cleaned text contains lorem ipsum → page dropped
    got(2L)._2 shouldBe 2L
    got(2L)._3 shouldBe false
    // doc 3: 3 clean lines survive but the RAW text contains '{'
    got(3L)._2 shouldBe 2L // the brace line itself fails word/punct? no — it ends without '.', dropped
    got(3L)._3 shouldBe false
    got(4L) shouldBe ((1L, 0L, false, got(4L)._4)) // blank: one empty line, none kept
    got(5L)._2 shouldBe 2L
    got(5L)._3 shouldBe false
    // cleaned text is pinned: doc 1's md5 equals the joined kept lines
    // (kept lines stay UNtrimmed — the predicate trims, the content doesn't)
    val expectClean = Seq(good, "ends well but only four words.",
      "  " + good + "  ", "\"a quoted line of five words\"").mkString("\n")
    got(1L)._4 shouldBe java.security.MessageDigest.getInstance("MD5")
      .digest(expectClean.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("bigram LM score == sequential oracle with active caps, parallelism-invariant") {
    // small caps so BOTH contracts are exercised: <unk> normalization
    // (vocab cut) and the Laplace-floor fallback (bigram-table cut)
    val seq = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    val want = graft.oracle.OpsOracle.lmScore(seq, vocabSize = 64, maxBigrams = 256)
      .map { case (id, n, tot, per) => (id, (n, tot, per)) }.toMap
    def run(df: org.apache.spark.sql.DataFrame) =
      TextOps.lmScore(df, vocabSize = 64, maxBigrams = 256)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val got = run(docs)
    got shouldBe want
    run(docs.repartition(3)) shouldBe want
  }

  test("bigram LM score: predictable text beats gibberish; trivial docs zero") {
    // every token is IN vocabulary (vocabSize covers the alphabet), so the
    // comparison measures transition entropy, not <unk> collapse: doc 1
    // cycles two bigrams, doc 2 scatters over the full 8-symbol bigram space
    val predictable = ("a b" + " a b" * 40).trim
    val rng = new scala.util.Random(7)
    val gibberish = (0 until 82).map(_ => s"w${rng.nextInt(8)}").mkString(" ")
    val rows = Seq((1L, predictable), (2L, gibberish), (3L, ""), (4L, "solo"))
    val got = TextOps.lmScore(rows.toDF("doc_id", "text"),
        vocabSize = 16, maxBigrams = 128)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    got(1L)._1 shouldBe 81L
    got(2L)._1 shouldBe 81L
    got(1L)._3 should be > got(2L)._3
    got(1L)._2 should be < 0L // log-probs are negative
    got(3L) shouldBe ((0L, 0L, 0L))
    got(4L) shouldBe ((0L, 0L, 0L))
    // and the planted corpus agrees with the sequential restatement too
    val want = graft.oracle.OpsOracle.lmScore(rows, vocabSize = 16, maxBigrams = 128)
      .map { case (id, n, tot, per) => (id, (n, tot, per)) }.toMap
    got shouldBe want
  }

  test("trigram backoff LM == sequential oracle with active caps, parallelism-invariant") {
    val seq = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    val want = graft.oracle.OpsOracle.backoffLmSeq(seq, vocabSize = 16,
        maxTrigrams = 256, maxBigrams = 64, alphaPm = 400)
      .map { case (id, n, tot, per) => (id, (n, tot, per)) }.toMap
    def run(df: org.apache.spark.sql.DataFrame) =
      TextOps.backoffLmScore(df, vocabSize = 16, maxTrigrams = 256,
          maxBigrams = 64, alphaPm = 400)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val got = run(docs)
    got shouldBe want
    run(docs.repartition(3)) shouldBe want
    // the caps are LIVE: loosening them moves at least one doc's score
    // (i.e. some transitions really do back off because of a table cut)
    val loose = TextOps.backoffLmScore(docs, vocabSize = 16,
        maxTrigrams = 1 << 16, maxBigrams = 1 << 16, alphaPm = 400)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.count { case (id, (_, tot, _)) => tot != loose(id) } should be > 0
  }

  test("trigram backoff LM: repeated pattern beats scattered; levels ordered") {
    // doc 1 cycles one trigram pattern (every transition a modeled trigram
    // hit); doc 2 scatters over 12 symbols (tiny tri/bi caps force floors)
    val predictable = ("a b c" + " a b c" * 27).trim
    val rng = new scala.util.Random(11)
    val scattered = (0 until 84).map(_ => s"w${rng.nextInt(12)}").mkString(" ")
    val rows = Seq((1L, predictable), (2L, scattered), (3L, ""), (4L, "two toks"))
    val got = TextOps.backoffLmScore(rows.toDF("doc_id", "text"),
        vocabSize = 16, maxTrigrams = 8, maxBigrams = 8, alphaPm = 400)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    got(1L)._1 shouldBe 82L
    got(2L)._1 shouldBe 82L
    got(1L)._3 should be > got(2L)._3 // backoff penalties bite the scatter
    got(3L) shouldBe ((0L, 0L, 0L))
    got(4L) shouldBe ((0L, 0L, 0L)) // < 3 tokens → no trigram transition
    val want = graft.oracle.OpsOracle.backoffLmSeq(rows, vocabSize = 16,
        maxTrigrams = 8, maxBigrams = 8, alphaPm = 400)
      .map { case (id, n, tot, per) => (id, (n, tot, per)) }.toMap
    got shouldBe want
  }

  test("BM25 top-k == sequential oracle on the gate probes, parallelism-invariant") {
    val seq = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    val want = graft.oracle.OpsOracle.bm25TopK(seq, Retrieval.GateQueries,
      k = 10, k1Pm = 1200, bPm = 750).toSet
    def run(df: org.apache.spark.sql.DataFrame) =
      Retrieval.bm25TopK(df, Retrieval.GateQueries, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong,
          r.getLong(3))).toSet
    val got = run(docs)
    got shouldBe want
    run(docs.repartition(7)) shouldBe want
    // the absent-term probe (q 4) emits nothing by contract
    got.count(_._1 == 4L) shouldBe 0
  }

  test("BM25: planted relevance ordering, idf discrimination, distinct-terms contract") {
    // d1 is stuffed with the query term; d2 mentions it once in a long doc;
    // d3 has only the common filler; d4 is blank (indexed, never matches)
    val rows = Seq(
      (1L, "spark spark spark spark engine"),
      (2L, "engine engine engine engine engine engine engine spark engine engine engine engine"),
      (3L, "engine engine engine"),
      (4L, ""))
    val df = rows.toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(df, Seq(0L -> "spark", 1L -> "spark spark"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val q0 = got.filter(_._1 == 0L).sortBy(_._3)
    // only the two docs containing "spark" appear; the stuffed short doc wins
    q0.map(_._2).toSeq shouldBe Seq(1L, 2L)
    q0.head._4 should be > q0.last._4
    // a rare term out-discriminates the ubiquitous one: "spark" idf > "engine" idf
    val both = Retrieval.bm25TopK(df, Seq(9L -> "spark engine"), k = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    both.keySet shouldBe Set(1L, 2L, 3L)
    // repeated query terms fold to one (distinct contract): q0 == q1 scores
    val q1 = got.filter(_._1 == 1L).sortBy(_._3)
    q1.map(t => (t._2, t._4)).toSeq shouldBe q0.map(t => (t._2, t._4)).toSeq
    // agrees with the sequential restatement on the planted corpus
    val want = graft.oracle.OpsOracle.bm25TopK(rows,
      Seq(0L -> "spark", 1L -> "spark spark", 9L -> "spark engine"),
      k = 10, k1Pm = 1200, bPm = 750).toSet
    Retrieval.bm25TopK(df, Seq(0L -> "spark", 1L -> "spark spark", 9L -> "spark engine"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong, r.getLong(3)))
      .toSet shouldBe want
  }

  test("BM25 plan: hit stream filtered before the tf exchange, query side broadcast") {
    val plan = Retrieval.bm25TopK(docs, Retrieval.GateQueries, k = 10)
      .queryExecution.executedPlan.toString
    // the two small sides (df table, query-term pairs) ship as broadcasts
    plan.linesIterator.count(_.contains("BroadcastExchange")) should be >= 2
    // corpus text reaches no exchange: every shuffle below carries only
    // (doc_id/q_id, tok, counts) — no `text`/`toks` attribute survives
    val shuffleLines = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    shuffleLines.foreach { l => l should not include "text" }
  }

  test("NB quality score == sequential oracle with active vocab cap, parallelism-invariant") {
    val seq = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    val srcs = docs.select($"doc_id", $"source").as[(Long, String)]
      .collect().toMap
    val labels = seq.collect { case (id, _) if id % 3 == 0 =>
      id -> (if (srcs(id) == "src0") 1 else 0)
    }.toMap
    // vocabSize 64 keeps the cap ACTIVE (corpus vocab is larger), so the
    // deterministic top-k cut and the OOV smoothing path are both exercised
    val want = graft.oracle.OpsOracle.nbScore(seq, labels, vocabSize = 64)
      .map { case (id, n, l1, l0, m, lb) => (id, (n, l1, l0, m, lb)) }.toMap
    def run(df: org.apache.spark.sql.DataFrame) = {
      val labeled = df.where($"doc_id" % 3 === 0)
        .select($"doc_id", when($"source" === "src0", 1).otherwise(0).as("label"))
      TextOps.nbQualityScore(df, labeled, vocabSize = 64).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getInt(5))).toMap
    }
    val got = run(docs)
    got shouldBe want
    run(docs.repartition(5)) shouldBe want
  }

  test("NB quality score separates planted classes on held-out docs") {
    // two disjoint vocabularies; labeled seed covers docs 1-4, docs 5/6 are
    // held out and must be assigned to their source class
    val pos = "wiki article cited encyclopedia neutral sourced"
    val neg = "click buy casino winner jackpot prize"
    val rows = Seq(
      (1L, s"$pos $pos", 1), (2L, s"$pos extra $pos", 1),
      (3L, s"$neg $neg", 0), (4L, s"$neg again $neg", 0),
      (5L, s"$pos fresh words too", -1), (6L, s"$neg fresh words too", -1),
      (7L, "", -1))
    val df = rows.toDF("doc_id", "text", "seed")
    val labeled = df.where($"seed" >= 0).select($"doc_id", $"seed".as("label"))
    val got = TextOps.nbQualityScore(df.select($"doc_id", $"text"), labeled)
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getInt(5))).toMap
    got(5L)._2 shouldBe 1
    got(6L)._2 shouldBe 0
    got(1L)._2 shouldBe 1
    got(3L)._2 shouldBe 0
    // blank doc falls back to the (balanced) priors: margin 0 → label 0
    got(7L) shouldBe ((0L, 0))
    // and the planted rows agree with the sequential restatement
    val want = graft.oracle.OpsOracle.nbScore(
      rows.map(r => (r._1, r._2)),
      rows.collect { case (id, _, s) if s >= 0 => id -> s }.toMap,
      vocabSize = 1 << 14)
      .map { case (id, n, l1, l0, m, lb) => (id, (m, lb)) }.toMap
    got shouldBe want
  }

  test("source KL == sequential oracle with active vocab cap, parallelism-invariant") {
    val seq = docs.select($"source", $"text").as[(String, String)]
      .collect().toSeq.sorted
    val want = graft.oracle.OpsOracle.sourceKl(seq, vocabSize = 64)
      .map { case (s, n, k, p) => (s, (n, k, p)) }.toMap
    def run(df: org.apache.spark.sql.DataFrame) =
      TextOps.sourceKl(df, vocabSize = 64).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val got = run(docs)
    got shouldBe want
    run(docs.repartition(5)) shouldBe want
  }

  test("source KL: a drifted source scores higher than a corpus-like one") {
    val common = "shared words appearing in every source here"
    val rows = Seq.tabulate(20)(i => (s"s$i", s"base$i", "bulk")) ++ Seq(
      (s"x1", common, "like"), (s"x2", common + " tiny", "like"),
      (s"y1", "utterly different vocabulary entirely elsewhere", "drift"),
      (s"y2", "nothing in common with anything whatsoever", "drift"))
    val df = rows.toDF("doc_id0", "text", "source")
      .select(monotonically_increasing_id().as("doc_id"), $"text", $"source")
    val got = TextOps.sourceKl(df).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    got("drift") should be > got("like")
  }

  test("CMS point queries: one-sided error vs exact counts, parallelism-invariant") {
    val qs = Seq("join", "hash", "row", "nonexistent_tok_xyz")
    val exact = docs.select(explode(split(trim($"text"), "[ \\t\\n\\x0B\\f\\r]+")).as("tok"))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def run(df: org.apache.spark.sql.DataFrame) =
      Sketches.cmsTokenCounts(df, qs, d = 4, w = 1024)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = run(docs)
    got.keySet shouldBe qs.toSet
    qs.foreach { t =>
      got(t) should be >= exact.getOrElse(t, 0L) // CMS never undercounts
    }
    // live heavy hitters estimate close at this width (w=1024 ≫ vocab/10)
    got("join") should be <= (exact("join") + exact.values.sum / 100)
    run(docs.repartition(7)) shouldBe got
  }

  test("quality ensemble: keep equals the conjunction of its component ops") {
    val labeled = docs.where($"doc_id" % 3 === 0)
      .select($"doc_id", when($"source" === "src0", 1).otherwise(0).as("label"))
    val blocked = Seq("slow", "broken", "stale")
    val got = TextOps.qualityEnsemble(docs, labeled, blocked)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // recompute from the standalone ops
    val nb = TextOps.nbQualityScore(docs, labeled)
      .collect().map(r => r.getLong(0) -> r.getInt(5)).toMap
    val gq = TextOps.gopherQuality(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bl = TextOps.blocklistFilter(docs, blocked, maxPm = 25)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    got.size shouldBe nb.size
    got.foreach { case (id, keep) =>
      val (nTok, meanPm) = gq(id)
      keep shouldBe (nb(id) == 1 && bl(id) <= 25 && nTok >= 10 &&
        meanPm >= 3000 && meanPm <= 10000)
    }
    got.values.toSet shouldBe Set(true, false) // both outcomes live
  }

  test("frame sampling: stride/cap honored, md5-pinned, parallelism-invariant") {
    import graft.ops.Multimodal
    import graft.ops.Multimodal.MediaRecord
    // payloads sized to exercise: exact multiple, remainder tail (dropped),
    // sub-frame payload (zero frames), cap at maxFrames
    val recs = Seq(
      MediaRecord("d1", "m1", "video/mp4", Array.tabulate(256)(_.toByte), 0, 0),
      MediaRecord("d2", "m2", "video/mp4", Array.tabulate(300)(i => (i * 7).toByte), 0, 0),
      MediaRecord("d3", "m3", "video/mp4", Array.tabulate(40)(_.toByte), 0, 0),
      MediaRecord("d4", "m4", "video/mp4", Array.tabulate(3000)(i => (i * 13).toByte), 0, 0))
    val ds = spark.createDataset(recs)
    val got = Multimodal.frameSample(ds, frameBytes = 64, stride = 2,
      maxFrames = 8, poolDim = 4).collect()
    val byDoc = got.groupBy(_.doc_id)
    byDoc("d1").map(_.frame_no).sorted shouldBe Array(0, 2) // 4 frames, stride 2
    byDoc("d1").head.n_frames shouldBe 4
    byDoc("d2").map(_.frame_no).sorted shouldBe Array(0, 2) // tail 44 bytes dropped
    byDoc.get("d3") shouldBe None                           // sub-frame payload
    byDoc("d4").length shouldBe 8                           // 46 frames capped at 8
    byDoc("d4").map(_.frame_no).sorted shouldBe Array(0, 2, 4, 6, 8, 10, 12, 14)
    // md5 pins content; pooled checksum equals the local restatement
    val f0 = byDoc("d1").find(_.frame_no == 0).get
    val frame0 = recs.head.content.slice(0, 64)
    f0.frame_md5 shouldBe java.security.MessageDigest.getInstance("MD5")
      .digest(frame0).map("%02x".format(_)).mkString
    f0.pooled_micro shouldBe Multimodal.resizePool(
      new Multimodal.StubDecoder().decode(frame0), 4).sum
    // same rows at a different parallelism
    val got2 = Multimodal.frameSample(ds.repartition(3), frameBytes = 64,
      stride = 2, maxFrames = 8, poolDim = 4).collect()
    got2.toSet shouldBe got.toSet
  }

  test("mojibake repair: classic plants heal, genuine accents survive, mixed docs veto") {
    val dbl = graft.ops.TextOps.fixMojibakeStr("tÃ¡ble") // single round result
    val rows = Seq(
      (1L, "plain ascii text"),
      (2L, "the tÃ¡ble is set"),          // UTF-8-as-latin1 → é-class repair
      (3L, "it rowâ€™s here"),            // CP1252 0x80–0x9F gap (’)
      (4L, "café déjà vu"),               // genuine accents: é alone is NOT valid UTF-8 bytes
      (5L, "tÃ¡ble and fást mixed"),      // mojibake + genuine accent → whole-string veto
      (6L, "tÃƒÂ¡ble double"))            // double-encoded: two rounds
      .toDF("doc_id", "text")
    val got = TextOps.mojibakeRepair(rows).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2), r.getLong(3))).toMap
    got(1L) shouldBe ((false, 16L, 16L))
    got(2L)._1 shouldBe true
    got(2L)._3 shouldBe (got(2L)._2 - 1) // Ã¡ (2 chars) → á (1 char)
    got(3L)._1 shouldBe true
    got(3L)._3 shouldBe (got(3L)._2 - 2) // â€™ (3 chars) → ’ (1)
    got(4L) shouldBe ((false, 12L, 12L))
    got(5L)._1 shouldBe false
    got(6L)._1 shouldBe true
    // kernel vectors + double-encode round trip
    graft.ops.TextOps.fixMojibakeStr("tÃ¡ble") shouldBe "táble"
    graft.ops.TextOps.fixMojibakeStr("rowâ€™s") shouldBe "row’s"
    graft.ops.TextOps.fixMojibakeStr("tÃƒÂ¡ble") shouldBe "táble"
    dbl shouldBe "táble"
    // the op agrees with the INDEPENDENT JDK-charset restatement
    val seq = rows.as[(Long, String)].collect().toSeq.sortBy(_._1)
    val want = graft.oracle.OpsOracle.fixMojibake(seq)
      .map { case (id, c, b, a, h) => (id, (c, b, a, h)) }.toMap
    val full = TextOps.mojibakeRepair(rows).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toMap
    full shouldBe want
  }

  test("URL canonicalization: every rule exercised on constructed URLs") {
    val rows = Seq(
      (1L, "HTTPS://WWW.Example.COM:443/a/b?utm_source=x&z=2&a=1#frag"),
      (2L, "http://news.example.CO.UK:80/path?gclid=abc"),
      (3L, "https://cdn.example.com:8443/x?b=2&a=1&utm_medium=email"),
      (4L, "http://localhost/x"),
      (5L, "https://www.shop.example.com.au/"),
      (6L, "http://a.b.c.d.org/deep?fbclid=1&fbclid"))
      .toDF("doc_id", "url")
    val got = UrlOps.urlProfile(rows).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toMap
    // default port dropped, www. stripped, params sorted, tracking dropped
    got(1L) shouldBe (("https://example.com/a/b?a=1&z=2", "https",
      "example.com", "example.com"))
    // default http port dropped; only-tracking query loses its '?'
    got(2L) shouldBe (("http://news.example.co.uk/path", "http",
      "news.example.co.uk", "example.co.uk"))
    // non-default port kept; params sorted
    got(3L) shouldBe (("https://cdn.example.com:8443/x?a=1&b=2", "https",
      "cdn.example.com", "example.com"))
    // single-label host: domain falls back to the host
    got(4L) shouldBe (("http://localhost/x", "http", "localhost", "localhost"))
    // multi-part TLD → three-label registrable domain
    got(5L) shouldBe (("https://shop.example.com.au/", "https",
      "shop.example.com.au", "example.com.au"))
    // bare tracking key (no '=') also dropped
    got(6L) shouldBe (("http://a.b.c.d.org/deep", "http", "a.b.c.d.org",
      "d.org"))
    // pure projection: no Exchange in the plan
    UrlOps.urlProfile(rows).queryExecution.executedPlan.toString should
      not include "Exchange"
  }

  test("ccnet perplexity buckets: tercile order, equal-bin consistency, degenerate source") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(60).cache()
    val got = TextOps.perplexityBuckets(docs, vocabSize = 32, maxBigrams = 256)
      .as[(Long, String, Long, String)].collect()
    got should have length 60
    // buckets are consistent per (source, bin) and ordered: every head bin
    // strictly above every middle bin, every middle above every tail
    got.groupBy(r => (r._2, r._3)).values
      .foreach(rows => rows.map(_._4).distinct should have size 1)
    got.groupBy(_._2).values.foreach { rows =>
      val byB = rows.groupBy(_._4).map { case (b, rs) => b -> rs.map(_._3) }
      for (h <- byB.get("head"); m <- byB.get("middle")) h.min should be > m.max
      for (m <- byB.get("middle"); t <- byB.get("tail")) m.min should be > t.max
      // the tail is never empty (rank-1 run is always <= v1) and no bucket
      // exceeds two thirds + the widest bin run
      byB.keySet should contain("tail")
    }
    // partition invariance
    TextOps.perplexityBuckets(docs.repartition(7), vocabSize = 32,
      maxBigrams = 256)
      .as[(Long, String, Long, String)].collect().toSet shouldBe got.toSet
    // a source whose docs all score identically is all tail by contract
    val flat = Seq((1L, "x y x", "s"), (2L, "x y x", "s"), (3L, "x y x", "s"))
      .toDF("doc_id", "text", "source")
    TextOps.perplexityBuckets(flat, vocabSize = 8, maxBigrams = 16)
      .as[(Long, String, Long, String)].collect()
      .map(_._4).toSet shouldBe Set("tail")
  }

  test("collocations: hand-counted word2phrase scores, thresholds, guard") {
    val docs = Seq((1L, "x y x y z"), (2L, "x y q")).toDF("doc_id", "text")
    // c(x,y)=3, others 1; unigrams x:3 y:3 z:1 q:1, T=8
    // score(x,y) = (3-2)*8*1000 div (3*3) = 888
    TextOps.collocations(docs, minCount = 3, discount = 2, minScorePm = 0L)
      .as[(String, String, Long, Long)].collect().toSet shouldBe
      Set(("x", "y", 3L, 888L))
    // the per-mille threshold is live
    TextOps.collocations(docs, minCount = 3, discount = 2, minScorePm = 889L)
      .collect() shouldBe empty
    // dropping minCount admits the singletons with their own exact scores:
    // (y,x) and (y,z): (1-0)*8*1000 div (3*3|3*1)
    TextOps.collocations(docs, minCount = 1, discount = 0, minScorePm = 0L)
      .as[(String, String, Long, Long)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
      .apply(("y", "z"))._2 shouldBe 2666L
    an[IllegalArgumentException] should be thrownBy
      TextOps.collocations(docs, minCount = 2, discount = 2)
  }

  test("domainSplit: all docs of a domain share one split; md5 bucket exact") {
    val profile = Seq(
      (1L, "example.com"), (2L, "example.com"), (3L, "example.com"),
      (4L, "news.co.uk"), (5L, "news.co.uk"), (6L, "other.org"))
      .toDF("doc_id", "domain")
    val got = TextOps.domainSplit(profile, trainPm = 900, valPm = 950)
      .as[(Long, String, Long, String)].collect()
    got.groupBy(_._2).values.foreach { rows =>
      rows.map(_._4).distinct should have size 1
      rows.map(_._3).distinct should have size 1
    }
    def bucket(d: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString, 16) % 1000
    got.foreach { case (_, d, b, s) =>
      b shouldBe bucket(d)
      s shouldBe (if (b < 900) "train" else if (b < 950) "val" else "test")
    }
  }

  test("tokenSpectrum: count-of-counts; blank docs excluded") {
    val docs = Seq((1L, "a a b"), (2L, "c"), (3L, "  ")).toDF("doc_id", "text")
    TextOps.tokenSpectrum(docs).as[(Long, Long)].collect().toSet shouldBe
      Set((1L, 2L), (2L, 1L))
  }

  test("contrastivePairs: negatives skip anchor+positives, first-j ranking, determinism") {
    val positives = Seq((0L, 7L), (0L, 3L), (5L, 9L)).toDF("a", "b")
    val got = graft.ops.Similarity.contrastivePairs(positives,
      nVectors = 10L, nNeg = 2, slack = 4)
      .as[(Long, Long, Long, Long)].collect()
    // anchor 0's candidate stream collides into {0,7,3} for all but one j
    // at nVectors=10 (verified by hand) — the "emits what survives"
    // contract: 2 positives × 1 surviving negative; anchor 5 gets its
    // full 2
    got.groupBy(_._1).view.mapValues(_.length).toMap shouldBe
      Map(0L -> 2, 5L -> 2)
    got.filter(_._1 == 0L).map(_._3).toSet shouldBe Set(8L)
    // contract invariants: negative never equals the anchor or any of its
    // positives (either direction), ranks are 1..nNeg, ids in [0, nVectors)
    val posSet = Set((0L, 7L), (7L, 0L), (0L, 3L), (3L, 0L), (5L, 9L), (9L, 5L))
    got.foreach { case (a, p, n, r) =>
      n should not be a
      posSet should not contain ((a, n))
      Set(1L, 2L) should contain(r)
      n should (be >= 0L and be < 10L)
      Set((a, p)) should (contain((0L, 7L)) or contain((0L, 3L)) or contain((5L, 9L)))
    }
    // negatives are the md5 derivation verbatim: recompute for anchor 5
    def h(a: Long, j: Int): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$a:$j".getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString, 16) % 10
    val expect5 = (0 until 6).map(j => (h(5L, j), j))
      .filter { case (n, _) => n != 5L && n != 9L }
      .groupBy(_._1).map { case (n, js) => (n, js.map(_._2).min) }
      .toSeq.sortBy(_._2).take(2).map(_._1)
    got.filter(_._1 == 5L).sortBy(_._4).map(_._3).toSeq shouldBe expect5
    // partition invariance
    graft.ops.Similarity.contrastivePairs(positives.repartition(5),
      nVectors = 10L, nNeg = 2, slack = 4)
      .as[(Long, Long, Long, Long)].collect().toSet shouldBe got.toSet
  }

  test("dedupLift: planted per-source duplicate rates") {
    val docs = Seq(
      (1L, "same text", "s1"), (2L, "same text", "s1"), (3L, "same text", "s1"),
      (4L, "other", "s1"),
      (5L, "a", "s2"), (6L, "b", "s2"))
      .toDF("doc_id", "text", "source")
    graft.ops.Dedup.dedupLift(docs)
      .as[(String, Long, Long, Long, Long)].collect().toSet shouldBe
      Set(("s1", 4L, 2L, 2L, 500L), ("s2", 2L, 2L, 0L, 0L))
  }

  test("goodTuring: hand-computed adjusted counts; empty successor class") {
    // a:3 b:1 c:1 d:2 e:2 f:2 → spectrum S1=2, S2=3, S3=1
    val docs = Seq((1L, "a a a b c"), (2L, "d d e e f f")).toDF("doc_id", "text")
    val got = TextOps.goodTuring(docs)
      .as[(Long, Long, Long, Long)].collect().toSet
    // r*=（r+1)·S_{r+1}/S_r per-mille: r=1: 2·3·1000/2 = 3000;
    // r=2: 3·1·1000/3 = 1000; r=3: successor empty → 0
    got shouldBe Set((1L, 2L, 3L, 3000L), (2L, 3L, 1L, 1000L),
      (3L, 1L, 0L, 0L))
  }

  test("mrrEval: conjunctive relevance, first-rank reciprocal, empty probes") {
    val docs = Seq(
      (10L, "join hash batch extra"), // all terms of q0
      (11L, "join hash only"),        // misses 'batch'
      (12L, "customer filter row"))   // all terms of q1
      .toDF("doc_id", "text")
    val ranked = Seq(
      (0L, 11L, 1L), (0L, 10L, 2L),   // q0: first CONJUNCTIVE match at rank 2
      (1L, 12L, 1L),                  // q1: match at rank 1
      (2L, 10L, 1L))                  // q2's terms not all in doc 10
      .toDF("q_id", "doc_id", "rank")
    val qs = Seq(0L -> "join hash batch", 1L -> "customer filter",
      2L -> "scan column row", 3L -> "zzz_absent")
    val got = graft.ops.Retrieval.mrrEval(docs, ranked, qs)
      .as[(Long, Long, Long, Long)].collect().toSet
    got shouldBe Set(
      (0L, 1L, 2L, 500000L),
      (1L, 1L, 1L, 1000000L),
      (2L, 0L, 0L, 0L),
      (3L, 0L, 0L, 0L))
  }

  test("crawl schedule: per-host slots, md5 fetch order, ingest-order invariance") {
    val rows = Seq(
      (1L, "a.com"), (2L, "a.com"), (3L, "a.com"), (4L, "a.com"), (5L, "a.com"),
      (6L, "b.org"), (7L, "b.org"))
      .toDF("doc_id", "host")
    val got = UrlOps.crawlSchedule(rows, perSlot = 2)
      .as[(Long, String, Long, Long)].collect().toSet
    // per-host seq is a permutation of 1..n; slot = (seq-1) div 2
    val byHost = got.groupBy(_._2)
    byHost("a.com").map(_._3).toSeq.sorted shouldBe (1L to 5L)
    byHost("b.org").map(_._3).toSeq.sorted shouldBe (1L to 2L)
    got.foreach { case (_, _, seq, slot) => slot shouldBe (seq - 1) / 2 }
    // a.com fills slots 0,0,1,1,2; b.org fills 0,0 — no host exceeds perSlot
    byHost("a.com").toSeq.map(_._4).sorted shouldBe Seq(0L, 0L, 1L, 1L, 2L)
    // fetch order is md5-of-doc-id within host: ingest order must not matter
    val shuffled = UrlOps.crawlSchedule(rows.orderBy(rand(7)).repartition(5),
      perSlot = 2).as[(Long, String, Long, Long)].collect().toSet
    shuffled shouldBe got
    // and the order really is the md5 order, not doc_id order
    val expected = Seq(1L, 2L, 3L, 4L, 5L)
      .sortBy(i => java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
      .zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    got.filter(_._2 == "a.com").foreach { case (id, _, seq, _) =>
      seq shouldBe expected(id)
    }
  }

  test("phraseBlocklist: positional counts, overlaps, boundaries, short docs") {
    val docs = Seq(
      (1L, "slow join is a slow join"),  // 2 hits of (slow join)
      (2L, "slow joint and joinslow"),   // token-boundary: 0 hits
      (3L, "a a a"),                     // overlapping (a a): 2 hits
      (4L, "a"),                         // shorter than every phrase
      (5L, "x a a y"))                   // 1 hit
      .toDF("doc_id", "text")
    val m = TextOps.phraseBlocklist(docs,
      Seq(Seq("slow", "join"), Seq("a", "a")))
      .as[(Long, Long, Long, Boolean)].collect()
      .map { case (id, n, h, f) => id -> ((n, h, f)) }.toMap
    m(1L) shouldBe ((6L, 2L, true))
    m(2L) shouldBe ((4L, 0L, false))
    m(3L) shouldBe ((3L, 2L, true))
    m(4L) shouldBe ((1L, 0L, false))
    m(5L) shouldBe ((4L, 1L, true))
  }

  test("blocklist filter: planted rows, case-insensitive, integer per-mille") {
    val rows = Seq(
      (1L, "clean words only here today"),                  // 0/5 → 0‰
      (2L, "SPAM spam words spam here"),                    // 3/5 → 600‰
      (3L, "one Spam in forty " + ("pad " * 36).trim),      // 1/40 → 25‰ (not > 25)
      (4L, ""),                                             // blank → 0
      (5L, "spam"))                                         // 1/1 → 1000‰
      .toDF("doc_id", "text")
    val got = TextOps.blocklistFilter(rows, Seq("spam"), maxPm = 25)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    got(1L) shouldBe ((5L, 0L, 0L, false))
    got(2L) shouldBe ((5L, 3L, 600L, true))
    got(3L) shouldBe ((40L, 1L, 25L, false)) // threshold is strict >
    got(4L) shouldBe ((0L, 0L, 0L, false))
    got(5L) shouldBe ((1L, 1L, 1000L, true))
    // zero-shuffle plan: no Exchange anywhere
    val plan = TextOps.blocklistFilter(rows, Seq("spam"))
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }

  test("DSIR weights == sequential oracle, parallelism-invariant") {
    val seq = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    val srcs = docs.select($"doc_id", $"source").as[(Long, String)]
      .collect().toMap
    // small bucket space so collisions are ACTIVE at sf0.001
    val want = graft.oracle.OpsOracle.dsirWeights(seq,
        seq.iterator.map(_._1).filter(id => srcs(id) == "src0").toSet,
        nBuckets = 256)
      .map { case (id, n, w, p) => (id, (n, w, p)) }.toMap
    def run(df: org.apache.spark.sql.DataFrame) =
      TextOps.dsirWeights(df, $"source" === "src0", nBuckets = 256)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3))).toMap
    val got = run(docs)
    got shouldBe want
    run(docs.repartition(5)) shouldBe want
  }

  test("DSIR weights rank target-like docs above off-target docs") {
    // target docs share a bigram vocabulary; held-out doc 5 looks like the
    // target, doc 6 does not — its importance weight must be lower
    val t = "solar panel energy grid storage battery"
    val o = "soccer match referee goal penalty corner"
    val rows = Seq(
      (1L, s"$t $t", "tgt"), (2L, s"$t again $t", "tgt"),
      (3L, s"$o $o", "web"), (4L, s"$o more $o", "web"),
      (5L, s"$t", "web"), (6L, s"$o", "web"), (7L, "one", "web"))
    val got = TextOps.dsirWeights(rows.toDF("doc_id", "text", "source"),
        col("source") === "tgt", nBuckets = 1 << 12)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    // DSIR is a RANKING signal (the sampler takes top weights / Gumbel
    // noise): target-like docs must outrank off-target docs; absolute sign
    // is not meaningful once Laplace smoothing dominates tiny corpora
    got(5L)._3 should be > got(6L)._3
    got(1L)._3 should be > got(3L)._3
    got(2L)._3 should be > got(4L)._3
    got(7L) shouldBe ((0L, 0L, 0L)) // single token → no bigram features
    val want = graft.oracle.OpsOracle.dsirWeights(
      rows.map(r => (r._1, r._2)), Set(1L, 2L), nBuckets = 1 << 12)
      .map { case (id, n, w, p) => (id, (n, w, p)) }.toMap
    got shouldBe want
  }

  test("dup windows: planted repeated substring is found, fractions integer-exact") {
    // doc 1 and 2 share a 6-token run; doc 2 additionally repeats it internally
    val run = "the quick brown fox jumps over"
    val planted = Seq(
      (1L, s"alpha beta $run gamma delta epsilon zeta"),
      (2L, s"$run one two three $run"),
      (3L, "entirely unique words nowhere else repeated in this corpus at all"))
      .toDF("doc_id", "text")
    val got = Dedup.dupWindows(planted, win = 6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1: 12 toks -> 7 windows, exactly 1 matches the shared run
    got(1L) shouldBe ((7L, 1L, 142L))
    // doc 2: 15 toks -> 10 windows; the run occurs at offsets 0 and 9 (both
    // duplicated: each matches the other and doc 1's)
    got(2L) shouldBe ((10L, 2L, 200L))
    got(3L) shouldBe ((6L, 0L, 0L))
    // corpus-level sanity at sf0.001: counts within bounds
    val corpus = Dedup.dupWindows(docs, win = 20)
    corpus.where($"n_dup_windows" > $"n_windows").count() shouldBe 0L
    corpus.where($"dup_pm" < 0 || $"dup_pm" > 1000).count() shouldBe 0L
  }

  test("gopher token-shape signals: planted lengths integer-exact, blank doc zeros") {
    val planted = Seq((1L, "aa bbb cccccccc"), (2L, "   ")).toDF("doc_id", "text")
    val got = TextOps.gopherQuality(planted)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // lens 2,3,8: mean = 13000/3 = 4333, one short (<=2), one long (>=8)
    got(1L) shouldBe ((3L, 4333L, 8L, 333L, 333L))
    got(2L) shouldBe ((0L, 0L, 0L, 0L, 0L))
  }

  test("source cap: equals the naive per-source window at any parallelism") {
    import org.apache.spark.sql.expressions.Window
    val naive = docs
      .select($"source", $"doc_id".cast("long").as("doc_id"),
        org.apache.spark.sql.functions.length($"text").cast("long").as("n_chars"))
      .withColumn("rnk", row_number().over(Window.partitionBy($"source")
        .orderBy($"n_chars".desc, $"doc_id")).cast("long"))
      .where($"rnk" <= 7)
    for (input <- Seq(docs, docs.repartition(13))) {
      val capped = TextOps.sourceCap(input, cap = 7)
      capped.except(naive).count() shouldBe 0L
      naive.except(capped).count() shouldBe 0L
    }
    // cap respected per source
    TextOps.sourceCap(docs, cap = 3).groupBy($"source").count()
      .where($"count" > 3).count() shouldBe 0L
  }

  test("media reuse: spans conserved, keep_doc is the min doc of the asset") {
    val media = Multimodal.fromCorpus(spark,
      graft.corpus.Corpus.ensure(spark, "sf0.001"))
    val reuse = Multimodal.mediaReuse(media).cache()
    reuse.agg(sum($"n_spans")).as[Long].head() shouldBe media.count()
    reuse.where($"n_docs" > $"n_spans").count() shouldBe 0L
    val expectKeep = media.toDF().groupBy($"media_ref")
      .agg(min($"doc_id").as("expect_keep"))
    reuse.join(expectKeep, Seq("media_ref"))
      .where($"keep_doc" =!= $"expect_keep").count() shouldBe 0L
    reuse.unpersist()
    // the synthetic corpus has unique refs (all singletons above), so pin
    // the sharing semantics on a planted multi-doc shared asset too
    def rec(doc: String, ref: String) =
      Multimodal.MediaRecord(doc, ref, "image/png",
        Multimodal.syntheticContent(ref), 640, 480)
    val planted = Seq(
      rec("d1", "shared.png"), rec("d2", "shared.png"), rec("d2", "shared.png"),
      rec("d3", "solo.png")).toDS()
    val got = Multimodal.mediaReuse(planted)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(4))).toMap
    got("shared.png") shouldBe ((2L, 3L, "d1"))
    got("solo.png") shouldBe ((1L, 1L, "d3"))
  }

  test("wordpiece merges: likelihood beats raw count, == sequential on the corpus") {
    // BPE would merge (a,b) (count 10); WordPiece prefers (c,d):
    // score(a,b) = 10/(10·10) = 0.100 < score(c,d) = 9/(9·9) = 0.111
    val rows = ((1 to 10).map(i => (i.toLong, "ab")) ++
      (11 to 19).map(i => (i.toLong, "cd"))).toDF("doc_id", "text")
    val first = TextOps.wordpieceMerges(rows, nMerges = 1).collect().head
    (first.getString(1), first.getString(2)) shouldBe (("c", "d"))
    first.getLong(3) shouldBe 9L
    val bpeFirst = TextOps.bpeMerges(rows, nMerges = 1).collect().head
    (bpeFirst.getString(1), bpeFirst.getString(2)) shouldBe (("a", "b"))
    // gate corpus agrees with the independent sequential restatement
    val seq = docs.select($"doc_id".cast("long"), $"text").as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    val want = graft.oracle.OpsOracle.wordpieceMerges(seq, nMerges = 25,
      maxVocab = 1 << 16)
    TextOps.wordpieceMerges(docs, nMerges = 25, maxVocab = 1 << 16)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq shouldBe want
  }

  test("wordpiece encode: == sequential at two parallelisms; textbook BPE divergence; UNK") {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // corpus equality: vocab derivation and encoding both match the oracle
    val seq = docs.select("doc_id", "text").as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    val vocab = TextOps.wordpieceVocab(docs, nMerges = 25, maxVocab = 1 << 16)
    vocab shouldBe graft.oracle.OpsOracle.wordpieceVocab(seq, 25, 1 << 16)
    val want = graft.oracle.OpsOracle.wordpieceEncode(seq, vocab)
    for (df <- Seq(docs, docs.repartition(7))) {
      TextOps.wordpieceEncode(df, vocab).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(_._1).toSeq shouldBe want
    }
    // textbook divergence vector: merges [(b,c) rank 0, (a,b) rank 1] on
    // "abc" — BPE inference replays by learned rank -> [a, bc]; WordPiece
    // greedy longest-match-first -> [ab, ##c]
    val d = Seq((1L, "abc")).toDF("doc_id", "text")
    TextOps.bpeEncode(d, Seq(("b", "c"), ("a", "b"))).collect()
      .head.getString(3) shouldBe md5("a bc")
    val wp = TextOps.wordpieceEncode(d, Seq("a", "b", "c", "bc", "ab")).collect().head
    wp.getString(3) shouldBe md5("ab ##c")
    wp.getLong(2) shouldBe 2L
    // a char outside the trained vocab UNKs the WHOLE word (BERT rule);
    // neighbors encode normally
    val u = TextOps.wordpieceEncode(Seq((2L, "ab zq")).toDF("doc_id", "text"),
      Seq("a", "b", "ab", "z")).collect().head
    u.getLong(1) shouldBe 2L
    u.getLong(2) shouldBe 2L // [ab] + [UNK]
    u.getString(3) shouldBe md5("ab\n[UNK]")
  }

  test("unigram viterbi: global likelihood beats greedy; tie rules; == sequential trainer") {
    // three-way divergence on "abc": unigram picks the globally-likeliest
    // [a, bc] (1·100 ≫ 2·1), WordPiece greedy longest-match picks [ab, ##c],
    // BPE with merges [(a,b)] replays to [ab, c]
    val counts = Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "ab" -> 2L, "bc" -> 100L)
    TextOps.unigramWord("abc", counts, 105L, 2, "[UNK]") shouldBe List("a", "bc")
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = Seq((1L, "abc")).toDF("doc_id", "text")
    TextOps.unigramEncode(d, counts.toSeq).collect()
      .head.getString(3) shouldBe md5("a bc")
    TextOps.wordpieceEncode(d, counts.keys.toSeq).collect()
      .head.getString(3) shouldBe md5("ab ##c")
    TextOps.bpeEncode(d, Seq(("a", "b"))).collect()
      .head.getString(3) shouldBe md5("ab c")
    // exact probability tie at equal piece count (6·2 = 1·12): the
    // longest-first probe keeps the candidate with the longer piece
    val tie = Map("a" -> 1L, "ab" -> 6L, "cd" -> 2L, "bcd" -> 12L)
    TextOps.unigramWord("abcd", tie, 21L, 3, "[UNK]") shouldBe List("a", "bcd")
    // fewer pieces wins an exact probability tie: 6/t² vs 6/t³ never ties,
    // but [ab]·t vs [a,b] with ab=1,a=1,b=t ties exactly → pick [ab]
    val tie2 = Map("a" -> 1L, "b" -> 4L, "ab" -> 1L)
    TextOps.unigramWord("ab", tie2, 4L, 2, "[UNK]") shouldBe List("ab")
    // trainer parity with the independent sequential restatement
    val seq = docs.select($"doc_id".cast("long"), $"text").as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    val want = graft.oracle.OpsOracle.unigramVocabSeq(seq, vocabSize = 120,
      maxPieceLen = 5, seedSize = 400, emIters = 3, maxVocab = 1 << 16)
    TextOps.unigramVocab(docs, vocabSize = 120, maxPieceLen = 5,
        seedSize = 400, emIters = 3, maxVocab = 1 << 16)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq shouldBe want
  }

  test("unigram encode: == sequential at two parallelisms; whole-word UNK") {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val seq = docs.select($"doc_id".cast("long"), $"text").as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    val vocabDf = TextOps.unigramVocab(docs, vocabSize = 120, maxPieceLen = 5,
      seedSize = 400, emIters = 3, maxVocab = 1 << 16)
    val vocab = vocabDf.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq
    val want = graft.oracle.OpsOracle.unigramEncodeSeq(seq, vocab)
    for (df <- Seq(docs, docs.repartition(7))) {
      TextOps.unigramEncode(df, vocab).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(_._1).toSeq shouldBe want
    }
    // a code point outside the vocab UNKs the WHOLE word; neighbors encode
    val u = TextOps.unigramEncode(Seq((2L, "ab zq")).toDF("doc_id", "text"),
      Seq("a" -> 1L, "b" -> 1L, "ab" -> 4L, "z" -> 1L)).collect().head
    u.getLong(1) shouldBe 2L
    u.getLong(2) shouldBe 2L // [ab] + [UNK]
    u.getString(3) shouldBe md5("ab\n[UNK]")
  }

  test("quality-aware keeper: best score wins, ties break to lowest id, singletons keep") {
    // cluster {1,2,3} via pairs; scores favor 2; {4,5} tie on score → 4; 6 singleton
    val rows = Seq((1L, "aa"), (2L, "aaaa"), (3L, "a"), (4L, "bbb"), (5L, "bbb"),
      (6L, "c")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val got = Dedup.dedupClustersBy(rows, pairs,
      score = org.apache.spark.sql.functions.length($"text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    got(1L)._2 shouldBe 0L
    got(2L)._2 shouldBe 1L // longest of {1,2,3}
    got(3L)._2 shouldBe 0L
    got(4L)._2 shouldBe 1L // tie with 5 → lowest id
    got(5L)._2 shouldBe 0L
    got(6L)._2 shouldBe 1L // singleton keeps itself
    // same cluster ids as the min-label assignment
    Set(got(1L)._1, got(2L)._1, got(3L)._1).size shouldBe 1
    got(4L)._1 shouldBe got(5L)._1
    // exactly one keeper per cluster
    got.values.groupBy(_._1).values.foreach(_.count(_._2 == 1L) shouldBe 1)
  }

  test("reliable-checkpoint mode: identical results through a DFS-checkpoint dir (VERDICT r3 item 1)") {
    // every eager-materialization site, exercised with a reliable checkpoint
    // dir (Hadoop-FS path): results must be row-identical to the local fast
    // path, and the mode must not leak the session checkpoint dir setting
    val ckpt = java.nio.file.Files.createTempDirectory("graft-reliable").toString
    val some = Some(ckpt)
    val small = docs.limit(200)
    val prior = spark.sparkContext.getCheckpointDir

    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
      a.except(b).count() shouldBe 0L
      b.except(a).count() shouldBe 0L
    }
    same(Dedup.ngramJaccardPairs(small, n = 3, minJaccardPm = 200),
      Dedup.ngramJaccardPairs(small, n = 3, minJaccardPm = 200,
        reliableCheckpointDir = some))
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    same(Dedup.dedupClusters(ids, pairs),
      Dedup.dedupClusters(ids, pairs, reliableCheckpointDir = some))
    val scored = Seq((1L, "aa"), (2L, "aaaa"), (3L, "a"), (4L, "bbb"),
      (5L, "bbb"), (6L, "c")).toDF("doc_id", "text")
    same(Dedup.dedupClustersBy(scored, pairs,
        score = org.apache.spark.sql.functions.length($"text")),
      Dedup.dedupClustersBy(scored, pairs,
        score = org.apache.spark.sql.functions.length($"text"),
        reliableCheckpointDir = some))
    same(Retrieval.bm25TopK(small, Retrieval.GateQueries, k = 10),
      Retrieval.bm25TopK(small, Retrieval.GateQueries, k = 10,
        reliableCheckpointDir = some))
    spark.sparkContext.getCheckpointDir shouldBe prior
  }

  test("domain opt-out: blocked registrable domains flagged, zero shuffle") {
    val profile = Seq(
      (1L, "https://a.example.com/x", "https", "a.example.com", "example.com"),
      (2L, "https://b.org/y", "https", "b.org", "b.org"),
      (3L, "https://c.co.uk/z", "https", "c.co.uk", "c.co.uk"))
      .toDF("doc_id", "url_norm", "scheme", "host", "domain")
    val got = UrlOps.optOut(profile, Seq("example.com", "c.co.uk"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    got shouldBe Map(1L -> 1L, 2L -> 0L, 3L -> 1L)
    UrlOps.optOut(profile, Seq("example.com"))
      .queryExecution.executedPlan.toString should not include "Exchange"
  }

  test("cdc chunking: reassembly, bounds, edit-robust realignment, zero shuffle") {
    val text = (1 to 400).map(i => s"w$i").mkString(" ")
    val chunks = TextOps.cdcChunksStr(text)
    chunks.mkString shouldBe text                       // exact reassembly
    all(chunks.map(_.length)) should be <= 256          // force-cut bound
    chunks.init.foreach(_.length should be >= 16)       // min skip (tail exempt)
    chunks.length should be > 3                         // boundaries actually fire
    // edit robustness: an insertion near the front shifts offsets but the
    // chunk STREAM re-aligns — the suffix of the chunk sequence is shared
    val edited = text.substring(0, 5) + "XYZ" + text.substring(5)
    val c2 = TextOps.cdcChunksStr(edited)
    val sharedSuffix = chunks.reverse.zip(c2.reverse).takeWhile { case (a, b) => a == b }.length
    sharedSuffix should be >= (chunks.length - 3)
    // fixed windows would share NO window after the edit point — quantify
    val fixedA = text.grouped(64).toSeq
    val fixedB = edited.grouped(64).toSeq
    fixedA.reverse.zip(fixedB.reverse).takeWhile { case (a, b) => a == b }.length shouldBe 0
    // distributed = kernel, zero exchange
    val df = TextOps.cdcChunks(docs)
    df.queryExecution.executedPlan.toString should not include "Exchange"
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3))).toMap
    val seq = docs.select($"doc_id".cast("long"), $"text").as[(Long, String)].collect()
    val want = seq.flatMap { case (id, t) =>
      TextOps.cdcChunksStr(t).zipWithIndex.map { case (c, i) =>
        (id, i.toLong) -> (c.length.toLong,
          java.security.MessageDigest.getInstance("MD5")
            .digest(c.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      }
    }.toMap
    got shouldBe want
  }

  test("temperature targets: first-principles arithmetic, sum-to-1000, mixture == sequential") {
    // α=0 is uniform regardless of counts
    TextOps.temperatureTargetsSeq(Seq(("a", 8L), ("b", 1L)), alphaPm = 0) shouldBe
      Seq(("a", 500L), ("b", 500L))
    // α=1 is proportional: 8000/9 = 888.8..., largest remainder bumps a
    TextOps.temperatureTargetsSeq(Seq(("a", 8L), ("b", 1L)), alphaPm = 1000) shouldBe
      Seq(("a", 889L), ("b", 111L))
    // α=0.3 sits strictly between uniform and proportional for the tail
    val t = TextOps.temperatureTargetsSeq(Seq(("a", 8L), ("b", 1L)), alphaPm = 300).toMap
    t("b") should be > 111L
    t("b") should be < 500L
    (t("a") + t("b")) shouldBe 1000L
    // corpus targets sum to exactly 1000 and the sampler agrees with the
    // sequential restatement at two parallelisms
    val targets = TextOps.temperatureTargets(docs, alphaPm = 300)
    targets.map(_._2).sum shouldBe 1000L
    val seq = docs.select($"doc_id".cast("long"), $"source").as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    val want = graft.oracle.OpsOracle.temperatureMixture(seq, alphaPm = 300).toSet
    def run(df: org.apache.spark.sql.DataFrame) =
      TextOps.mixtureSample(df, TextOps.temperatureTargets(df, alphaPm = 300))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    run(docs) shouldBe want
    run(docs.repartition(7)) shouldBe want
  }

  test("salted join == plain join; salt reaches the join key; pressure diagnostic conserves rows") {
    val fact = docs.select($"doc_id".cast("long").as("doc_id"), $"source")
    val dim = docs.groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs_source"))
    val salted = Skew.saltedJoin(fact, dim, key = "source",
      saltBy = "doc_id", saltFactor = 8)
      .select($"doc_id", $"source", $"n_docs_source")
    val plain = fact.join(dim, Seq("source"))
      .select($"doc_id", $"source", $"n_docs_source")
    salted.collect().map(_.toSeq).toSet shouldBe plain.collect().map(_.toSeq).toSet
    // the exchange partitions on (source, _salt), not source alone
    salted.queryExecution.executedPlan.toString should include ("_salt")
    // pressure histogram: row total conserved, per-bucket keys ≥ 1
    val p = Skew.keyPressure(docs, "source", nBuckets = 32).collect()
    p.map(_.getLong(1)).sum shouldBe docs.count()
    all(p.map(_.getLong(2))) should be >= 1L
  }

  test("random projection == sequential oracle; JL distance preservation on planted near-dups") {
    val seqEmb = embs.select($"vec_id".cast("long"), $"embedding")
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    val want = graft.oracle.OpsOracle.randomProject(seqEmb, outDim = 8, seed = 42)
      .map { case (id, p) => id -> p.toSeq }.toMap
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.randomProject(df, outDim = 8, seed = 42)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    run(embs) shouldBe want
    run(embs.repartition(5)) shouldBe want
    // planted near-dups stay near after projection: for every perturbed
    // copy, the projected L2 distance to its original is far below the
    // median inter-vector distance (the JL property, deterministic here)
    val pert = graft.oracle.OpsOracle.perturbed(seqEmb, n = 15)
    val projAll = graft.oracle.OpsOracle.randomProject(seqEmb ++ pert,
      outDim = 8, seed = 42).toMap
    def d2(a: Array[Long], b: Array[Long]): Double =
      a.indices.map(i => (a(i) - b(i)).toDouble).map(x => x * x).sum
    val nearDs = (0 until 15).map(i => d2(projAll(i.toLong), projAll(1000000L + i)))
    val farDs = (0 until 15).map(i => d2(projAll(i.toLong), projAll(((i + 40) % seqEmb.size).toLong)))
    nearDs.max should be < farDs.min
  }

  test("semantic decontam == sequential oracle, planted leaks caught, parallelism-invariant") {
    val seqEmb = embs.select($"vec_id".cast("long"), $"embedding")
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    val evalSeq = graft.oracle.OpsOracle.perturbed(seqEmb, n = 15)
    val want = graft.oracle.OpsOracle.semanticDecontam(seqEmb, evalSeq,
      minCosinePm = 990).toSet
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.semanticDecontam(df, Similarity.perturbed(embs, n = 15),
        minCosinePm = 990)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = run(embs)
    got shouldBe want
    run(embs.repartition(5)) shouldBe want
    // every planted leak (corpus vec i ≈ eval 1000000+i) is flagged
    (0 until 15).foreach { i =>
      got.find(_._1 == i.toLong).map(_._2) shouldBe Some(1000000L + i)
    }
    // eval side broadcasts; corpus embeddings reach no shuffle
    val plan = Similarity.semanticDecontam(embs,
      Similarity.perturbed(embs, n = 15)).queryExecution.executedPlan.toString
    plan should include ("BroadcastNestedLoopJoin")
  }

  test("zorder key: exact bucket+interleave arithmetic on crafted values") {
    // values 0..15 with bits=4 bucketize to themselves; hand-check corners
    val df = spark.range(16).selectExpr("id AS a", "cast(15 - id AS bigint) AS b")
    val got = Layout.zorderKey(df, "a", "b", bits = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    got(0L) shouldBe 85L   // a=0  (odd bits 0), b=15 (even bits 1111) = 0b01010101
    got(15L) shouldBe 170L // a=15 (odd bits 1), b=0 = 0b10101010
    // interleave is a bijection on the crafted grid: all keys distinct
    got.values.toSet.size shouldBe 16
    // deterministic under repartitioning (stats pass + pure projection)
    Layout.zorderKey(df.repartition(5), "a", "b", bits = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap shouldBe got
  }

  test("zorder layout: footer-stats pruning works on BOTH dimensions") {
    // two independent deterministic dimensions over 4096 rows
    val df = spark.range(4096).selectExpr("id AS a",
      "cast((id * 2654435761) % 4096 AS bigint) AS b")
    val zdir = java.nio.file.Files.createTempDirectory("zorder").toString + "/z"
    val adir = java.nio.file.Files.createTempDirectory("zorder").toString + "/a"
    Layout.clusterBy(df, "a", "b", nFiles = 16, bits = 12)
      .write.parquet(zdir)
    df.repartitionByRange(16, $"a").sortWithinPartitions($"a")
      .write.parquet(adir)
    val zs = Layout.fileStats(spark, zdir, Seq("a", "b")).cache()
    val as = Layout.fileStats(spark, adir, Seq("a", "b")).cache()
    zs.count() shouldBe 16L
    // a narrow predicate on EITHER column skips most z-ordered files ...
    Layout.prunedFraction(zs, "a", 100, 180) should be >= 0.5
    Layout.prunedFraction(zs, "b", 100, 180) should be >= 0.5
    // ... while the single-column layout prunes only its own dimension
    Layout.prunedFraction(as, "a", 100, 180) should be >= 0.8
    Layout.prunedFraction(as, "b", 100, 180) should be <= 0.2
    zs.unpersist(); as.unpersist()
  }

  test("phash near-dup == sequential brute force incl. plants, parallelism-invariant") {
    val sf = "sf0.001"
    graft.corpus.Corpus.ensure(spark, sf)
    val spec = graft.corpus.CorpusGen.specFor(sf)
    val want = graft.oracle.OpsOracle.phashPairs(spec, flips = 2, mod = 7,
      maxHamming = 6).toSet
    val media = Multimodal.fromCorpus(spark, graft.corpus.Corpus.ensure(spark, sf))
    def run(m: org.apache.spark.sql.Dataset[Multimodal.MediaRecord]) =
      Multimodal.phashNearDup(m.union(Multimodal.perturbedAssets(m)), maxHamming = 6)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2).toLong)).toSet
    val got = run(media)
    got shouldBe want
    run(media.repartition(5)) shouldBe want
    // the plants are LIVE: at least one planted (ref, ref~p) pair is caught
    got.count { case (a, b, _) => b == a + "~p" } should be > 0
  }

  test("phash multi-index banding == sequential restatement; classic set at gate scale") {
    val sf = "sf0.001"
    graft.corpus.Corpus.ensure(spark, sf)
    val spec = graft.corpus.CorpusGen.specFor(sf)
    val media = Multimodal.fromCorpus(spark, graft.corpus.Corpus.ensure(spark, sf))
    val all = media.union(Multimodal.perturbedAssets(media))
    def run(r: Int) =
      Multimodal.phashNearDup(all, maxHamming = 6, bandsPerKey = r)
        .collect().map(x => (x.getString(0), x.getString(1), x.getInt(2).toLong)).toSet
    for (r <- Seq(2, 3)) {
      val want = graft.oracle.OpsOracle.phashPairs(spec, flips = 2, mod = 7,
        maxHamming = 6, bandsPerKey = r).toSet
      run(r) shouldBe want
      // no bucket overflows at gate scale under either layout, so every
      // variant reports exactly the classic r=1 pair set
      want shouldBe graft.oracle.OpsOracle.phashPairs(spec, flips = 2, mod = 7,
        maxHamming = 6).toSet
    }
  }

  test("phash multi-index banding keeps recall where classic bands hot-drop it") {
    // 20k pseudo-random assets: every 9-bit r=1 bucket holds ~39 assets, so
    // a maxBucket=10 cap hot-drops ALL classic buckets and the planted
    // near-dup pair silently vanishes — the corpus-scale failure mode. The
    // 21-bit joint keys of r=3 stay near-empty and keep exact recall.
    def content(seed: Int): Array[Byte] = {
      val b = new Array[Byte](256); new scala.util.Random(seed).nextBytes(b); b
    }
    val base = content(999999)
    val edited = base.clone(); edited(0) = (edited(0) + 1).toByte; edited(31) = (edited(31) + 1).toByte
    java.lang.Long.bitCount(
      Multimodal.phash64(base) ^ Multimodal.phash64(edited)) should be <= 6
    def rec(doc: String, ref: String, c: Array[Byte]) =
      Multimodal.MediaRecord(doc, ref, "image/png", c, 0, 0)
    val crowd = (0 until 20000).map(i => rec(s"d$i", s"r$i", content(i)))
    val assets = spark.createDataset(
      crowd :+ rec("dA", "zA", base) :+ rec("dB", "zB", edited))
    def pairs(r: Int) =
      Multimodal.phashNearDup(assets, maxHamming = 6, maxBucket = 10, bandsPerKey = r)
        .collect().map(x => (x.getString(0), x.getString(1))).toSet
    pairs(1) should not contain (("zA", "zB"))
    pairs(3) should contain (("zA", "zB"))
  }

  test("phash64: integer-exact, edit-local, order-of-magnitude separation") {
    val rng = new scala.util.Random(11)
    val base = Array.fill(512)(rng.nextInt(256).toByte)
    // determinism
    Multimodal.phash64(base) shouldBe Multimodal.phash64(base.clone())
    // a 2-byte bump moves the hash at most a few bits
    val edited = base.clone(); edited(0) = (edited(0) + 1).toByte
    edited(31) = (edited(31) + 1).toByte
    java.lang.Long.bitCount(
      Multimodal.phash64(base) ^ Multimodal.phash64(edited)) should be <= 6
    // an unrelated payload lands far away (random 64-bit hamming ≈ 32)
    val other = Array.fill(512)(rng.nextInt(256).toByte)
    java.lang.Long.bitCount(
      Multimodal.phash64(base) ^ Multimodal.phash64(other)) should be > 6
    // empty payload is defined
    Multimodal.phash64(Array.emptyByteArray) shouldBe 0L
  }

  test("hll sketch: large-range accuracy, small-range n_hit, parallelism invariance") {
    // large range: 50k distinct items at p=12 (n/m ≈ 12 > 2.5) — raw
    // estimator regime, sigma = 1.04/sqrt(4096) = 1.6%; assert 6%
    val big = spark.range(50000).selectExpr("'all' AS k", "concat('item-', id) AS item")
    val est = Sketches.hllDistinct(big, "k", "item", p = 12)
      .select($"est_distinct").as[Long].head()
    est.toDouble shouldBe 50000.0 +- 3000.0
    // duplicated items change nothing (sketch sees the set, not the bag)
    val dup = Sketches.hllDistinct(big.union(big), "k", "item", p = 12)
      .select($"est_distinct").as[Long].head()
    dup shouldBe est
    // small range: 100 distinct at p=12 — n_hit is the near-exact signal
    val small = spark.range(100).selectExpr("'all' AS k", "concat('x-', id) AS item")
    val nHit = Sketches.hllDistinct(small, "k", "item", p = 12)
      .select($"n_hit").as[Long].head()
    nHit should be >= 95L
    nHit should be <= 100L
    // per-source shingle sketch: deterministic under repartitioning, and
    // within estimator tolerance of the exact distinct count
    val a = Sketches.hllShingleDistinct(docs, n = 3, p = 6)
    val b = Sketches.hllShingleDistinct(docs.repartition(13), n = 3, p = 6)
    a.except(b).count() shouldBe 0L
    b.except(a).count() shouldBe 0L
    val exact = docs.where(trim($"text") =!= "")
      .select($"source", split(trim($"text"), TextOps.WsPlus).as("toks"))
      .where(expr("size(toks) >= 3"))
      .select($"source", explode(transform(sequence(lit(0), expr("size(toks) - 3")),
        i => concat_ws(" ", slice($"toks", i + 1, lit(3))))).as("item"))
      .groupBy($"source").agg(countDistinct($"item").as("n_exact"))
    val errs = a.join(exact, Seq("source"))
      .select($"est_distinct", $"n_exact").as[(Long, Long)].collect()
      .map { case (e, x) => math.abs(e - x).toDouble / x }
    all(errs) should be < 0.5
    (errs.sum / errs.length) should be < 0.2
  }

  test("training manifest composition: sequences respect capacity, shards bounded") {
    val m = SparkEntry.queries("q_training_manifest")(spark, dir).cache()
    m.count() should be > 0L
    // a packed sequence never exceeds the 128-token capacity
    m.where($"sum_tokens" > 128L || $"n_items" < 1L).count() shouldBe 0L
    m.where($"shard" < 0L || $"shard" >= 8L).count() shouldBe 0L
    // shard positions are 1..|shard|
    val bad = m.groupBy($"shard")
      .agg(count(lit(1)).as("n"), max($"shard_pos").as("mx"), min($"shard_pos").as("mn"))
      .where($"mx" =!= $"n" || $"mn" =!= 1L)
    bad.count() shouldBe 0L
    m.unpersist()
  }

  test("incremental dedup: empty index passes exact's keepers, full index passes nothing") {
    val keepers = Dedup.exact(docs).select($"keep_id".as("doc_id"), $"content_md5")
    val noIndex = spark.emptyDataset[String].toDF("content_md5")
    val vsEmpty = Dedup.incrementalNew(docs, noIndex)
    vsEmpty.count() shouldBe keepers.count()
    vsEmpty.except(keepers).count() shouldBe 0L
    // committing every hash makes the next identical batch fully redundant
    Dedup.incrementalNew(docs, keepers.select("content_md5")).count() shouldBe 0L
  }

  test("incremental near-dup vs committed signature index: == sequential oracle, plants behave") {
    // corpus split: committed index = doc_id % 3 == 0, batch = the rest
    val index = docs.where($"doc_id" % 3 === 0)
    val batch = docs.where($"doc_id" % 3 =!= 0)
    val got = Dedup.incrementalNearNew(batch, Dedup.nearDupIndex(index),
        minAgreePm = 500)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val localB = batch.select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().toSeq
    val localI = index.select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().toSeq
    got shouldBe oracle.OpsOracle.incrementalNearNew(localB, localI,
      n = 3, k = 64, bands = 16, minAgreePm = 500)
    // parallelism invariance: a different input partitioning, same rows
    Dedup.incrementalNearNew(batch.repartition(3),
        Dedup.nearDupIndex(index.repartition(5)), minAgreePm = 500)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq shouldBe got
    // plants: an exact copy of an index doc scores agreement 1000; a novel
    // token soup matches nothing; a blank doc has no signature -> new
    val idxDoc = localI.filter(_._2.trim.split("\\s+").length >= 10).head
    val planted = Seq(
      (900001L, idxDoc._2),
      (900002L, (1 to 60).map(i => s"zq${i}xv${i * 7}").mkString(" ")),
      (900003L, "   ")).toDF("doc_id", "text")
    val p = Dedup.incrementalNearNew(planted, Dedup.nearDupIndex(index),
        minAgreePm = 500)
      .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> t).toMap
    // (match_id may be a lower-id exact/near-exact twin of idxDoc within
    // the index — the agreement score and the dup verdict are the pins)
    p(900001L)._3 shouldBe 1000L
    p(900001L)._4 shouldBe 0L
    p(900002L)._4 shouldBe 1L
    p(900002L)._2 shouldBe -1L
    p(900003L) shouldBe ((900003L, -1L, -1L, 1L))
  }

  test("bloom incremental dedup is exact: equals the plain path at any fpp") {
    val committed = docs.where($"doc_id" % 5 === 0)
      .select(md5($"text".cast("binary")).as("content_md5")).distinct()
    val plain = Dedup.incrementalNew(docs, committed)
    for (fpp <- Seq(0.01, 0.5)) { // even a near-useless sketch stays exact
      val bloom = Dedup.incrementalNewBloom(docs, committed, 1000L, fpp)
      bloom.except(plain).count() shouldBe 0L
      plain.except(bloom).count() shouldBe 0L
    }
  }

  test("minhash+LSH near-dup pairs are a high-recall subset of exact n-gram jaccard pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, n = 3, minJaccardPm = 200)
      .select($"a".cast("long"), $"b".cast("long")).as[(Long, Long)].collect().toSet
    val mh = Dedup.minHashNearDup(docs, n = 3, minJaccardPm = 200)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    exact should not be empty
    // verification step guarantees precision 1.0
    mh.subsetOf(exact) shouldBe true
    // banding guarantees high recall at this jaccard level
    mh.size.toDouble / exact.size.toDouble should be >= 0.8
  }

  test("simhash near-dup: every reported pair truly within hamming bound; sane count") {
    val pairs = Dedup.simHashNearDup(docs, maxHamming = 7).collect()
    val sims = docs.select($"doc_id".cast("long"), $"text").as[(Long, String)]
      .collect().map { case (id, t) => id -> Dedup.simhash64(t) }.toMap
    pairs.foreach { r =>
      val h = java.lang.Long.bitCount(sims(r.getLong(0)) ^ sims(r.getLong(1)))
      h should be <= 7
      h shouldBe r.getInt(2).toLong.toInt
    }
    // pigeonhole banding is exhaustive: count must equal brute-force count
    val ids = sims.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      if java.lang.Long.bitCount(sims(ids(i)) ^ sims(ids(j))) <= 7
    } yield 1).size
    pairs.length shouldBe brute
  }

  test("source overlap == sequential oracle; identical sources read as 1000‰") {
    val seq = docs.select($"doc_id".cast("long"), $"text", $"source")
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    val want = graft.oracle.OpsOracle.sourceOverlapSeq(seq, n = 3, k = 64).toSet
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.sourceOverlap(df, n = 3, k = 64)
        .as[(String, String, Long, Long)].collect().toSet
    run(docs) shouldBe want
    run(docs.repartition(5)) shouldBe want
    // planted ground truth: a source that is an exact shingle-universe copy
    // of another estimates 1000‰; a disjoint-vocabulary source estimates 0
    val planted = seq.map { case (id, t, _) => (id, t, "sA") } ++
      seq.map { case (id, t, _) => (id + 10000L, t, "sB") } ++
      seq.map { case (id, _, _) =>
        (id + 20000L, s"zz${id} qq${id} rr${id} ww${id}", "sC") }
    val got = run(planted.toDF("doc_id", "text", "source"))
      .map { case (a, b, _, j) => (a, b) -> j }.toMap
    got(("sA", "sB")) shouldBe 1000L
    got(("sA", "sC")) shouldBe 0L
  }

  test("RRF fusion matches a hand-computed trace; ties break on doc_id") {
    // q0: list A ranks (doc1, doc2), list B ranks (doc2, doc3).
    // c(r) = 1e6 div (60 + r): c(1) = 16393, c(2) = 16129.
    // doc2 = 16393 + 16129 = 32522 > doc1 = 16393 > doc3 = 16129.
    // q1: doc5 (A) and doc4 (B) both rank 1 → tie at 16393, doc4 first.
    val a = Seq((0L, 1L, 1L), (0L, 2L, 2L), (1L, 5L, 1L))
      .toDF("q_id", "doc_id", "rank")
    val b = Seq((0L, 2L, 1L), (0L, 3L, 2L), (1L, 4L, 1L))
      .toDF("q_id", "doc_id", "rank")
    val got = graft.ops.Retrieval.rrfFuse(Seq(a, b), k = 10)
      .as[(Long, Long, Long, Long)].collect().toSet
    got shouldBe Set(
      (0L, 2L, 1L, 32522L), (0L, 1L, 2L, 16393L), (0L, 3L, 3L, 16129L),
      (1L, 4L, 1L, 16393L), (1L, 5L, 2L, 16393L))
    // k truncates the fused list, not the inputs
    graft.ops.Retrieval.rrfFuse(Seq(a, b), k = 1)
      .as[(Long, Long, Long, Long)].collect().toSet shouldBe
      Set((0L, 2L, 1L, 32522L), (1L, 4L, 1L, 16393L))
  }

  test("winnow near-dup == sequential oracle with a live df cap; parallelism-invariant") {
    val seq = docs.select($"doc_id".cast("long"), $"text").as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    val want = graft.oracle.OpsOracle.winnowPairs(seq, k = 8, w = 16,
      minShared = 2, maxDf = 8).toSet
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.winnowNearDup(df, k = 8, w = 16, minShared = 2, maxDf = 8)
        .as[(Long, Long, Long)].collect().toSet
    val got = run(docs)
    got shouldBe want
    got should not be empty
    run(docs.repartition(5)) shouldBe want
    // the df cap is LIVE here: lifting it must admit more pair mass
    val uncapped = graft.oracle.OpsOracle.winnowPairs(seq, k = 8, w = 16,
      minShared = 2, maxDf = Int.MaxValue).toSet
    uncapped.size should be > want.size
  }

  test("ANN: brute matches local ground truth; LSH full recall on near-dups") {
    val brute = Similarity.bruteTopK(embs, nQueries = 10, k = 5)
      .select($"q_id".cast("long"), $"n_id".cast("long")).as[(Long, Long)].collect().toSet
    brute.size shouldBe 50
    // local ground truth (double-precision cosine, same tie-break)
    val all = embs.select($"vec_id".cast("long"), $"embedding").as[(Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for ((q, qv) <- all.filter(_._1 < 10)) yield {
      all.filter(_._1 != q).map { case (n, nv) => (n, cos(qv, nv)) }
        .sortBy { case (n, s) => (-s, n) }.take(5).map(x => (q, x._1))
    }).flatten.toSet
    brute shouldBe expected

    // LSH recall contract holds for HIGH-similarity neighbors; this corpus is
    // near-random (max pairwise cosine 0.51), where hyperplane theory predicts
    // collision ~0.14 for cos≈0.4 pairs at 8 planes + 1-bit probe. Assert the
    // theoretical floor on random data…
    val lsh = Similarity.lshTopK(embs, nQueries = 10, k = 5)
      .select($"q_id".cast("long"), $"n_id".cast("long")).as[(Long, Long)].collect().toSet
    (lsh intersect brute).size.toDouble / brute.size.toDouble should be >= 0.05
    // …and full recall where LSH's contract actually applies: planted
    // near-duplicate queries (negative ids < nQueries) must rank their source
    // vector first.
    val withDups = embs.select($"vec_id".cast("long"), $"embedding")
      .unionByName(Similarity.perturbed(embs, n = 10, idOffset = -1000000L))
    val top1 = Similarity.lshTopK(withDups, nQueries = 0, k = 1) // queries: ids < 0
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toMap
    for (i <- 0L until 10L) top1(i - 1000000L) shouldBe i
  }

  test("cosine near-dup finds all planted perturbed duplicates") {
    val base = embs.select($"vec_id".cast("long"), $"embedding")
    val withDups = base.unionByName(Similarity.perturbed(embs, n = 20))
    val found = Similarity.cosineNearDup(withDups, minCosinePm = 990)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val planted = (0L until 20L).map(i => (i, i + 1000000L)).toSet
    planted.subsetOf(found) shouldBe true
  }

  test("two-phase top-k: no per-query Window funnel in the physical plan") {
    Similarity.bruteTopK(embs, nQueries = 10, k = 5)
      .queryExecution.executedPlan.toString should not include "Window"
    Similarity.lshTopK(embs, nQueries = 10, k = 5)
      .queryExecution.executedPlan.toString should not include "Window"
    Similarity.ivfTopK(embs, nQueries = 10, k = 5)
      .queryExecution.executedPlan.toString should not include "Window"
  }

  test("IVF top-k: results are brute-rank-consistent within probed cells; planted dups found") {
    // every returned neighbor must score at least as high as the brute
    // kth-best within the same probe set (sanity: exact cosine, real ranks)
    val ivf = Similarity.ivfTopK(embs, nQueries = 10, k = 5)
      .select($"q_id".cast("long"), $"n_id".cast("long"), $"rank".cast("int"))
      .as[(Long, Long, Int)].collect()
    ivf.groupBy(_._1).foreach { case (_, rows) =>
      rows.map(_._3).sorted shouldBe (1 to rows.length)
    }
    ivf.length shouldBe 50
    // planted near-duplicate queries land in their source's cell -> top-1
    val withDups = embs.select($"vec_id".cast("long"), $"embedding")
      .unionByName(Similarity.perturbed(embs, n = 10, idOffset = -1000000L))
    val top1 = Similarity.ivfTopK(withDups, nQueries = 0, k = 1) // ids < 0
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toMap
    for (i <- 0L until 10L) top1(i - 1000000L) shouldBe i
  }

  test("codebook init is id-space independent: shifting every vec_id leaves the codebook and dedup relation unchanged") {
    // the content-hash seed selection (VERDICT r3 item 7) must not look at
    // ids at all: shift the whole id space by +10^9 and both the seed and
    // the Lloyd-refined codebooks must be bit-identical
    val shifted = embs.select(($"vec_id".cast("long") + 1000000000L).as("vec_id"),
      $"embedding")
    Similarity.seedCodebook(shifted, 16).map(_.toSeq).toSeq shouldBe
      Similarity.seedCodebook(embs, 16).map(_.toSeq).toSeq
    Similarity.kmeansCodebook(shifted, nCells = 16, iters = 2).map(_.toSeq).toSeq shouldBe
      Similarity.kmeansCodebook(embs, nCells = 16, iters = 2).map(_.toSeq).toSeq
    // and the downstream relations shift WITH the ids: ivf neighbors and
    // the semantic-dup relation are the originals translated by the offset
    val base = Similarity.ivfTopK(embs, nQueries = 5, k = 3, nCells = 16)
      .select($"q_id".cast("long"), $"n_id".cast("long"), $"rank".cast("int"))
      .as[(Long, Long, Int)].collect().toSet
    // shifted ids are >= 10^9, so probe the shifted query band explicitly
    val shiftedQ = shifted.where($"vec_id" < 1000000000L + 5)
    val shiftedTop = Similarity.ivfTopK(
        shifted, nQueries = 0, k = 3, nCells = 16) // nQueries=0: no query <0
    // restate via semanticDedup instead (query-band selection is id-anchored
    // by contract): dup relation must translate exactly
    val d0 = Similarity.semanticDedup(embs, minCosinePm = 990, nCells = 16)
      .as[(Long, Long, Long, Long)].collect().toSet
    val d1 = Similarity.semanticDedup(shifted, minCosinePm = 990, nCells = 16)
      .as[(Long, Long, Long, Long)].collect().toSet
    d1 shouldBe d0.map { case (id, c, dup, k) =>
      (id + 1000000000L, c, if (dup < 0) dup else dup + 1000000000L, k) }
    base should not be empty // the unshifted ivf still ran (plan sanity)
    shiftedQ.count() shouldBe 5L
    shiftedTop.count() shouldBe 0L
  }

  test("auto cell count: nCells=0 derives ~sqrt(N) and matches the explicit call") {
    val n = embs.count()
    val auto = Similarity.autoCells(embs)
    auto shouldBe math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    val viaAuto = Similarity.ivfTopK(embs, nQueries = 5, k = 3)
      .as[(Long, Long, Int, Double)].collect().toSet
    val viaExplicit = Similarity.ivfTopK(embs, nQueries = 5, k = 3, nCells = auto)
      .as[(Long, Long, Int, Double)].collect().toSet
    viaAuto shouldBe viaExplicit
  }

  test("IVF recall-vs-cells curve: recall measured at multiple cell counts (VERDICT r3 item 6)") {
    val typed = embs.select($"vec_id".cast("long"), $"embedding")
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    val truth = graft.oracle.OpsOracle.bruteTopK(typed, nQueries = 10, k = 5)
      .map { case (q, n, _, _) => (q, n) }.toSet
    def recallAt(cells: Int): Double = {
      val got = Similarity.ivfTopK(embs, nQueries = 10, k = 5, nCells = cells)
        .select($"q_id".cast("long"), $"n_id".cast("long"))
        .as[(Long, Long)].collect().toSet
      (got intersect truth).size.toDouble / truth.size
    }
    val curve = Seq(4, 8, 16, 32).map(c => c -> recallAt(c))
    curve.foreach { case (c, r) => info(f"IVF recall@5 with nCells=$c%2d: $r%.3f") }
    // with nProbe fixed at 4, 4 cells means every probe set is the whole
    // corpus -> recall exactly 1.0; more cells = smaller probed fraction =
    // lower recall (the curve IS the measurement: probe coverage, not the
    // golden gate, is what degrades — the gate pins exact hashes separately)
    curve.head._2 shouldBe 1.0 +- 1e-9
    curve.last._2 should be <= curve.head._2
    // the training-free floor at the gate's own cell count (the trained
    // codebook, gated elsewhere, lifts this to >= 0.5 on this corpus)
    curve.foreach { case (_, r) => r should be >= 0.35 }
  }

  test("k-means IVF: distributed codebook == sequential Lloyd; recall measured vs training-free") {
    val typed = embs.select($"vec_id".cast("long"), $"embedding")
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    // the distributed micro-unit training must reproduce the sequential
    // loop bit-exactly (partitioning-invariant integer arithmetic)
    val dist = Similarity.kmeansCodebook(embs, nCells = 32, iters = 3)
    val seq = graft.oracle.OpsOracle.kmeansCodebook(typed, nCells = 32, iters = 3)
    dist.length shouldBe seq.length
    dist.zip(seq).foreach { case (a, b) => a.toSeq shouldBe b.toSeq }
    // recall@5 vs brute-force ground truth, k-means codebook vs the
    // training-free lowest-id codebook (the VERDICT-asked measurement):
    // Lloyd cells are tuned to the data distribution, so trained recall
    // should at least hold the training-free level on this corpus
    val truth = graft.oracle.OpsOracle.bruteTopK(typed, nQueries = 10, k = 5)
      .map { case (q, n, _, _) => (q, n) }.toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select($"q_id".cast("long"), $"n_id".cast("long"))
        .as[(Long, Long)].collect().toSet
      (got intersect truth).size.toDouble / truth.size
    }
    val r0 = recall(Similarity.ivfTopK(embs, nQueries = 10, k = 5))
    val rk = recall(Similarity.ivfTopK(embs, nQueries = 10, k = 5, trainIters = 3))
    info(f"IVF recall@5: training-free=$r0%.3f kmeans(3 iters)=$rk%.3f")
    rk should be >= r0 - 0.08 // tuned codebook must not collapse recall
    rk should be >= 0.5
  }

  test("IVF-PQ: distributed == sequential oracle; recall-vs-float curve (VERDICT r4 item 4)") {
    val typed = embs.select($"vec_id".cast("long"), $"embedding")
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    // exact distributed/sequential equality at the gate parameters — the PQ
    // codebooks, codes, probe sets and asymmetric scores are all pinned
    val dist = Similarity.ivfpqTopK(embs, nQueries = 10, k = 5, nCells = 32,
        nProbe = 4, m = 8, ks = 16, pqIters = 2)
      .select($"q_id".cast("long"), $"n_id".cast("long"),
        $"rank".cast("int"), $"score")
      .as[(Long, Long, Int, Double)].collect().toSet
    val seq = graft.oracle.OpsOracle.ivfpqTopK(typed, nQueries = 10, k = 5,
        nCells = 32, nProbe = 4, m = 8, ks = 16, pqIters = 2).toSet
    dist shouldBe seq
    // recall@5 vs brute-force float ground truth across the quantization
    // ladder: float IVF >= PQ at the same probe budget (PQ adds code error),
    // and PQ must stay usable — the curve IS the measurement
    val truth = graft.oracle.OpsOracle.bruteTopK(typed, nQueries = 10, k = 5)
      .map { case (q, n, _, _) => (q, n) }.toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select($"q_id".cast("long"), $"n_id".cast("long"))
        .as[(Long, Long)].collect().toSet
      (got intersect truth).size.toDouble / truth.size
    }
    val rFloat = recall(Similarity.ivfTopK(embs, nQueries = 10, k = 5, nCells = 32))
    val rPq8 = recall(Similarity.ivfpqTopK(embs, nQueries = 10, k = 5,
      nCells = 32, nProbe = 4, m = 8, ks = 16, pqIters = 2))
    val rPq16 = recall(Similarity.ivfpqTopK(embs, nQueries = 10, k = 5,
      nCells = 32, nProbe = 4, m = 16, ks = 16, pqIters = 2))
    info(f"recall@5: IVF-float=$rFloat%.3f IVF-PQ(m=8)=$rPq8%.3f IVF-PQ(m=16)=$rPq16%.3f")
    rPq8 should be <= rFloat + 1e-9  // quantization cannot beat float at equal probes
    rPq16 should be >= rPq8 - 0.08  // finer subspaces must not collapse recall
    rPq8 should be >= 0.2           // and the compressed tier stays usable
    // exact re-rank over the 4k PQ shortlist: distributed == sequential, and
    // the re-rank can only improve on raw PQ ranking (same candidate pool,
    // exact scores) — the standard two-stage recall recovery
    val rrDist = Similarity.ivfpqRerankTopK(embs, nQueries = 10, k = 5,
        nCells = 32, nProbe = 4, m = 8, ks = 16, pqIters = 2, shortlistFactor = 4)
      .select($"q_id".cast("long"), $"n_id".cast("long"),
        $"rank".cast("int"), $"score")
      .as[(Long, Long, Int, Double)].collect().toSet
    val rrSeq = graft.oracle.OpsOracle.ivfpqRerankTopK(typed, nQueries = 10,
        k = 5, nCells = 32, nProbe = 4, m = 8, ks = 16, pqIters = 2,
        shortlistFactor = 4).toSet
    rrDist shouldBe rrSeq
    val rRr = recall(Similarity.ivfpqRerankTopK(embs, nQueries = 10, k = 5,
      nCells = 32, nProbe = 4, m = 8, ks = 16, pqIters = 2, shortlistFactor = 4))
    info(f"recall@5: IVF-PQ+rerank(4x)=$rRr%.3f")
    rRr should be >= rPq8 - 1e-9
  }

  test("MinHashSigAgg (distributed k-min fold) == sequential minhashSig per doc") {
    val sh = Dedup.shingles(docs, 3)
    val sigAgg = udaf(new Dedup.MinHashSigAgg(64), org.apache.spark.sql.Encoders.scalaLong)
    val viaAgg = sh.groupBy("doc_id").agg(sigAgg($"shingle").as("sig"))
      .as[(Long, Array[Long])].collect().toMap
    val seq = sh.as[(Long, Long)].collect().groupBy(_._1)
      .map { case (d, rows) => d -> Dedup.minhashSig(rows.map(_._2), 64) }
    viaAgg.keySet shouldBe seq.keySet
    viaAgg.foreach { case (d, sig) => sig.toSeq shouldBe seq(d).toSeq }
  }

  test("ngramJaccardPairs reports EXACT jaccard (uncapped verify step)") {
    // brute-force sequential ground truth over full shingle sets; the df cap
    // cannot bind at this scale (500 docs < maxDf), so candidate recall is 1
    // and the whole output must match exactly
    val sets = Dedup.shingles(docs, 3).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (d, rows) => d -> rows.map(_._2).toSet }
    val ids = sets.keys.toSeq.sorted
    val expected = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      inter = (sets(ids(i)) intersect sets(ids(j))).size
      if inter > 0
      jpm = inter.toLong * 1000 / (sets(ids(i)).size + sets(ids(j)).size - inter)
      if jpm >= 200
    } yield (ids(i), ids(j), jpm)).toSet
    val got = Dedup.ngramJaccardPairs(docs, n = 3, minJaccardPm = 200)
      .select($"a", $"b", $"jaccard_pm").as[(Long, Long, Long)].collect().toSet
    got shouldBe expected
    expected should not be empty
  }

  test("connected components: long chain converges to one min-labelled cluster") {
    // a 10-node path graph needs several propagation rounds (diameter 9) —
    // proves the loop iterates to a fixed point, not just one hop
    val chain = (1L to 9L).map(i => (i, i + 1)) :+ (20L, 21L)
    val comp = Dedup.connectedComponents(chain.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    (1L to 10L).foreach(v => comp(v) shouldBe 1L)
    comp(20L) shouldBe 20L
    comp(21L) shouldBe 20L
  }

  test("star connected components equal min-label propagation on chain, clique, forest") {
    // chain: the adversarial case for propagation (diameter rounds) and the
    // motivating case for star contraction; clique: the near-dup regime;
    // plus an isolated 2-node component and a bridge node shared by both
    val chain = (1L to 9L).map(i => (i, i + 1))
    val clique = for (i <- 30L to 34L; j <- (i + 1) to 34L) yield (i, j)
    val bridge = Seq((10L, 30L)) // welds chain and clique into one component
    val isolated = Seq((50L, 51L))
    val pairs = (chain ++ clique ++ bridge ++ isolated).toDF("a", "b")
    val prop = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    val star = Dedup.connectedComponentsStar(pairs).as[(Long, Long)].collect().toMap
    star shouldBe prop
    (1L to 10L).foreach(v => star(v) shouldBe 1L)
    (30L to 34L).foreach(v => star(v) shouldBe 1L)
    star(50L) shouldBe 50L
    star(51L) shouldBe 50L
  }

  test("star dedup clusters match the union-find oracle on corpus near-dup pairs") {
    val pairs = Dedup.minHashNearDup(docs, n = 3, minJaccardPm = 200)
    val got = Dedup.dedupClusters(docs, pairs, star = true)
      .as[(Long, Long, Long, Long)].collect().toSet
    val ids = docs.select($"doc_id".cast("long")).as[Long].collect().toSeq
    val seqPairs = pairs.select($"a", $"b").as[(Long, Long)].collect().toSeq
    got shouldBe graft.oracle.OpsOracle.clusterAssign(ids, seqPairs).toSet
  }

  test("dedup cluster assignment matches sequential union-find") {
    val pairs = Dedup.minHashNearDup(docs, n = 3, minJaccardPm = 200)
    val got = Dedup.dedupClusters(docs, pairs)
      .as[(Long, Long, Long, Long)].collect().toSet
    val ids = docs.select($"doc_id".cast("long")).as[Long].collect().toSeq
    val seqPairs = pairs.select($"a", $"b").as[(Long, Long)].collect().toSeq
    val expected = graft.oracle.OpsOracle.clusterAssign(ids, seqPairs).toSet
    got shouldBe expected
    // clusters partition the corpus: every doc exactly once, one keeper
    // per cluster, and n_members consistent with the actual member count
    got.map(_._1) shouldBe ids.toSet
    got.count(_._4 == 1L) shouldBe got.map(_._2).size
    got.groupBy(_._2).foreach { case (_, ms) =>
      ms.map(_._3) shouldBe Set(ms.size.toLong)
    }
  }

  test("string ids fail fast instead of silently collapsing to NULL") {
    val strDocs = docs.select(concat(lit("doc-"), $"doc_id").as("doc_id"), $"text")
    val e = intercept[Exception] {
      Dedup.simHashNearDup(strDocs, maxHamming = 7).count()
    }
    e.getMessage should include("not castable to long")
  }

  test("multimodal plumbing: features deterministic, batch path exercised") {
    val sf = "sf0.001"
    val path = graft.corpus.Corpus.ensure(spark, sf)
    val media = Multimodal.fromCorpus(spark, path)
    val n = media.count()
    n should be > 0L
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(m => (m.doc_id, m.media_ref))
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(m => (m.doc_id, m.media_ref))
    f1.map(_.content_h64).toSeq shouldBe f2.map(_.content_h64).toSeq
    f1.foreach { f =>
      f.embedding.length shouldBe Multimodal.EmbeddingDim
      f.n_bytes should be >= 256
    }
  }

  test("as-of backward join: latest at-or-before match, equal-ts match, null when none") {
    val left = Seq((1L, 100L, 10L), (1L, 50L, 11L), (2L, 10L, 12L)).toDF("k", "ts", "lid")
    val right = Seq((1L, 100L, 20L), (1L, 60L, 21L), (1L, 40L, 22L), (2L, 30L, 23L))
      .toDF("k", "ts", "rid")
    val got = AsOf.backward(left, right, "k", "ts", "ts", Seq("rid", "ts"))
      .select($"lid", $"asof.rid").as[(Long, Option[Long])].collect().toMap
    got shouldBe Map(10L -> Some(20L), 11L -> Some(22L), 12L -> None)
  }

  test("sessionization: both window functions share one exchange; numbering sane") {
    val e = spark.read.parquet(s"$dir/events.parquet")
      .select($"user_id", $"event_id",
        unix_micros($"ts".cast("timestamp")).as("ts_us"))
    val sess = Sessionize.byGap(e, "user_id", "ts_us", "event_id",
      gapUs = 1800L * 1000000L)
    // lag and the running sum use the same (key, order) window → Catalyst
    // plans one exchange (+ one sort) for both, not one per function
    sess.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange")) shouldBe 1
    val rows = sess.select($"user_id".cast("long"), $"ts_us", $"session_no")
      .as[(Long, Long, Long)].collect()
    rows.groupBy(_._1).values.foreach { es =>
      val ordered = es.sortBy(_._2)
      ordered.head._3 shouldBe 1L
      // non-decreasing, steps of at most 1
      ordered.sliding(2).foreach {
        case Array(a, b) => (b._3 - a._3) should (be >= 0L and be <= 1L)
        case _ =>
      }
    }
  }

  test("as-of and sessionization match sequential references on random data") {
    val rng = new scala.util.Random(42)
    for (round <- 1 to 3) withClue(s"round $round: ") {
      val n = 150
      val left = (0 until n).map(i =>
        (rng.nextInt(8).toLong, rng.nextInt(500).toLong, i.toLong))
      val right0 = (0 until n).map(i =>
        (rng.nextInt(8).toLong, rng.nextInt(500).toLong, (1000 + i).toLong))
      // right side unique per (key, ts) — the operator's precondition
      val right = right0.groupBy(t => (t._1, t._2)).map(_._2.maxBy(_._3)).toSeq

      val gotAsof = AsOf.backward(left.toDF("k", "ts", "lid"),
          right.toDF("k", "ts", "rid"), "k", "ts", "ts", Seq("rid"))
        .select($"lid", $"asof.rid").as[(Long, Option[Long])].collect().toMap
      val expAsof = left.map { case (k, ts, lid) =>
        val cands = right.filter(r => r._1 == k && r._2 <= ts)
        lid -> (if (cands.isEmpty) None else Some(cands.maxBy(_._2)._3))
      }.toMap
      gotAsof shouldBe expAsof

      val gotSess = Sessionize.byGap(left.toDF("k", "ts", "id"),
          "k", "ts", "id", gapUs = 50L)
        .select($"id", $"session_no").as[(Long, Long)].collect().toMap
      val expSess = left.groupBy(_._1).values.flatMap { es =>
        var s = 0L
        var prev = Long.MinValue
        es.sortBy(e => (e._2, e._3)).map { e =>
          if (prev == Long.MinValue || e._2 - prev > 50L) s += 1
          prev = e._2
          e._3 -> s
        }
      }.toMap
      gotSess shouldBe expSess
    }
  }

  test("range join: binned result equals nested-loop reference at several bin widths") {
    val rng = new scala.util.Random(7)
    val pts = (0 until 300).map(i => (i.toLong, rng.nextInt(10000).toLong))
    val ivs = (0 until 60).map { i =>
      val lo = rng.nextInt(10000).toLong
      (1000L + i, lo, lo + rng.nextInt(800).toLong)
    }
    val exp = for {
      (pid, p) <- pts; (iid, lo, hi) <- ivs if p >= lo && p <= hi
    } yield (pid, iid)
    for (bw <- Seq(64L, 500L, 5000L)) withClue(s"binWidth $bw: ") {
      val got = RangeJoin.pointInInterval(pts.toDF("pid", "p"), "p",
          ivs.toDF("iid", "lo", "hi"), "lo", "hi", bw)
        .select($"pid", $"iid").as[(Long, Long)].collect()
      got.length shouldBe exp.length // each pair meets in exactly one bin
      got.toSet shouldBe exp.toSet
    }
  }

  test("label centroids: micro-unit aggregation matches a sequential fold") {
    val got = Similarity.labelCentroids(embs)
      .as[(Long, Long, Long)].collect().map { case (l, d, c) => (l, d) -> c }.toMap
    val local = embs.select($"label".cast("long"), $"embedding")
      .as[(Long, Array[Float])].collect()
    val expected = local.groupBy(_._1).flatMap { case (l, vs) =>
      val dim = vs.head._2.length
      (0 until dim).map { d =>
        val sums = vs.map(v => math.floor(v._2(d).toDouble * 1e6).toLong).sum
        (l, d.toLong) -> math.floor(sums.toDouble / vs.length).toLong
      }
    }
    got shouldBe expected
  }

  test("quantized top-k matches sequential integer ranking; decent float recall") {
    val got = Similarity.quantizedTopK(embs, nQueries = 10, k = 5)
      .select($"q_id", $"n_id", $"rank".cast("long"), $"score".cast("long"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val local = embs.select($"vec_id".cast("long"), $"embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val exp = graft.oracle.OpsOracle.quantizedTopK(local, nQueries = 10, k = 5)
      .map { case (q, n, r, s) => (q, n, r.toLong, s) }.toSet
    got shouldBe exp
    // int8 codes keep most of the float ranking (the compression tradeoff)
    val brute = Similarity.bruteTopK(embs, nQueries = 10, k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val overlap = got.map(t => (t._1, t._2)).count(brute.contains)
    overlap.toDouble / brute.size should be >= 0.5
  }

  test("int8 quantization matches sequential double arithmetic; codes bounded") {
    val got = Similarity.quantizeInt8(embs).as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val local = embs.select($"vec_id".cast("long"), $"embedding")
      .as[(Long, Array[Float])].collect()
    local.foreach { case (id, v) =>
      val scale = v.map(x => math.abs(x)).max.toDouble
      val qs = v.map(x => math.floor(x.toDouble / scale * 127 + 0.5).toLong)
      qs.foreach(q => math.abs(q) should be <= 127L)
      got(id) shouldBe ((math.floor(scale * 1e6).toLong,
        qs.sum, qs.map(q => q * q).sum))
    }
  }

  test("repetition / split / source stats invariants") {
    val rep = TextOps.repetition(docs)
    rep.where($"n_distinct_tokens" > $"n_tokens").count() shouldBe 0
    rep.where($"top_token_pm" > 1000 || $"dup_bigram_pm" > 1000).count() shouldBe 0
    // a fully-repeated doc: top_token_pm = 1000, all bigrams duplicate
    val loop = Seq((1L, "x x x x x x")).toDF("doc_id", "text")
    TextOps.repetition(loop).select($"top_token_pm", $"dup_bigram_pm")
      .as[(Long, Long)].head() shouldBe ((1000L, 800L))
    val split = TextOps.hashSplit(docs)
    split.where($"split_bucket" < 0 || $"split_bucket" >= 1000).count() shouldBe 0
    // identical content always lands in the same split (dup-leak-proof)
    val dup = Seq((1L, "same words here"), (2L, "same words here")).toDF("doc_id", "text")
    TextOps.hashSplit(dup).select($"split_bucket").distinct().count() shouldBe 1
    TextOps.sourceStats(docs).agg(sum($"n_docs")).as[Long].head() shouldBe docs.count()
  }

  test("pii scrub: counts and ordered replacement on constructed rows") {
    val d = Seq(
      (1L, "contact me at a.b@example.com or https://ex.co/x?y=1 now"),
      (2L, "no pii here"),
      (3L, "https://u@h.io/p and c@d.org e@f.net")).toDF("doc_id", "text")
    val got = TextOps.piiScrub(d).as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    got(1L) shouldBe ((1L, 1L))
    got(2L) shouldBe ((0L, 0L))
    // the email inside the URL is counted and scrubbed (emails first)
    got(3L) shouldBe ((3L, 1L))
    // scrub is a no-op on pii-free text: md5 equals the plain fingerprint
    val plain = TextOps.fingerprint(d.where($"doc_id" === 2))
      .select($"md5_hex").as[String].head()
    TextOps.piiScrub(d.where($"doc_id" === 2))
      .select($"scrubbed_md5").as[String].head() shouldBe plain
  }

  test("length quantiles: discrete rank selection matches a local sort") {
    val got = TextOps.lengthQuantiles(docs)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val local = docs.select($"source",
        org.apache.spark.sql.functions.length($"text").cast("long"))
      .as[(String, Long)].collect().groupBy(_._1)
    def pct(sorted: Array[Long], q: Double): Long =
      sorted(math.floor(q * (sorted.length - 1)).toInt)
    local.foreach { case (src, vs) =>
      val sorted = vs.map(_._2).sorted
      got(src) shouldBe ((sorted.length.toLong,
        pct(sorted, 0.5), pct(sorted, 0.9)))
    }
  }

  test("length quantiles: window runs over run-length runs, not raw docs") {
    // VERDICT r2 item 1's done-criterion: no single-task-per-source sort of
    // raw documents. The two-level shape is pinned structurally — the only
    // Window sits ABOVE a (source, n_chars)-keyed aggregate (input = runs,
    // bounded by the length domain), raw lengths are combined map-side, and
    // the old row_number-over-docs formulation is gone.
    val plan = TextOps.lengthQuantiles(docs).queryExecution.executedPlan.toString
    plan should not include "row_number"
    "(?s)Window".r.findAllIn(plan).size shouldBe 1
    val rleAgg = "HashAggregate\\(keys=\\[source#\\d+, n_chars#\\d+L?\\]".r
    rleAgg.findFirstIn(plan) should not be empty
    // run-length compression happens below the window (tree prints parent first)
    plan.indexOf("Window") should be < plan.indexOf(
      rleAgg.findFirstIn(plan).get)
    plan should include("partial_count") // map-side combine of raw lengths
  }

  test("decontaminate: matches sequential oracle; plants detected; clean corpus disjoint") {
    val bench = docs.where($"doc_id" % 97 === 0)
      .select($"doc_id".as("bench_id"), substring($"text", 51, 400).as("text"))
    val got = Dedup.decontaminate(docs, bench, n = 5)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val seqDocs = docs.select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val benchTexts = seqDocs.filter(_._1 % 97 == 0)
      .map(d => oracle.OpsOracle.cpSubstring(d._2, 51, 400))
    val want = oracle.OpsOracle.decontaminate(seqDocs, benchTexts, n = 5)
      .sortBy(_._1)
    got.toSeq shouldBe want
    // every excerpt source long enough to hold an internal 5-gram is flagged
    val flagged = got.filter(_._3 == 1L).map(_._1).toSet
    for ((id, t) <- seqDocs if id % 97 == 0
         if oracle.OpsOracle.cpSubstring(t, 51, 400).split(" ").length >= 7)
      flagged should contain(id)
    // the bench shingle side is small → must be a broadcast join, and the
    // doc shingle stream must reach it without an exchange below the join
    val plan = Dedup.decontaminate(docs, bench, n = 5)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
  }

  test("mixture sample: exact floor arithmetic, deterministic, proportions honored") {
    val targets = Seq("src0" -> 500L, "src1" -> 300L, "src2" -> 200L)
    val got = TextOps.mixtureSample(docs, targets)
      .as[(Long, String, Long, Long, Long)].collect()
    // only targeted sources appear
    got.map(_._2).toSet shouldBe Set("src0", "src1", "src2")
    // recompute rates locally from first principles
    val n = docs.where($"source".isin("src0", "src1", "src2"))
      .groupBy($"source").count().as[(String, Long)].collect().toMap
    val tTotal = targets.map { case (s, pm) =>
      math.floor(n(s) * 1000.0 / pm).toLong }.min
    val rates = targets.map { case (s, pm) =>
      s -> math.min(1000000L,
        math.floor(math.floor(tTotal * pm / 1000.0) * 1000000.0 / n(s)).toLong)
    }.toMap
    got.foreach { case (_, src, mixPpm, ratePpm, keep) =>
      ratePpm shouldBe rates(src)
      keep shouldBe (if (mixPpm < ratePpm) 1L else 0L)
    }
    // determinism: two runs agree row-for-row
    TextOps.mixtureSample(docs, targets)
      .as[(Long, String, Long, Long, Long)].collect()
      .sortBy(_._1) shouldBe got.sortBy(_._1)
  }

  test("pack sequences: valid packing, matches sequential oracle, metadata-only shuffle") {
    val cap = 128
    val got = Packing.packSequences(docs, capacity = cap, nBuckets = 16)
      .select($"doc_id", $"n_tokens".cast("long"), $"bucket".cast("long"),
        $"seq_id", $"pos".cast("long"))
      .as[(Long, Long, Long, Long, Long)].collect()
    val seqDocs = docs.select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val want = oracle.OpsOracle.packSequences(seqDocs, capacity = cap, nBuckets = 16)
    got.sortBy(r => (r._1, r._4)) shouldBe want.sortBy(r => (r._1, r._4))
    // validity: capacity respected, every packable doc placed exactly once,
    // positions contiguous from 0 within each sequence
    val bySeq = got.groupBy(_._4)
    bySeq.values.foreach { rows =>
      rows.map(_._2).sum should be <= cap.toLong
      rows.map(_._5).sorted shouldBe rows.indices.map(_.toLong)
    }
    got.map(_._1).distinct.length shouldBe got.length
    val packable = seqDocs.count { case (_, t) =>
      val nt = oracle.OpsOracle.wsTokenCount(t); nt > 0 && nt <= cap }
    got.length shouldBe packable
    // fill efficiency: BFD on this corpus should waste little
    val fill = got.map(_._2).sum.toDouble / (bySeq.size.toLong * cap)
    fill should be > 0.8
    // plan: exactly one exchange (the metadata shuffle), text never moves
    val plan = Packing.packSequences(docs, capacity = cap, nBuckets = 16)
      .queryExecution.executedPlan.toString
    "Exchange".r.findAllIn(plan).size shouldBe 1
  }

  test("chunk docs: windows cover every token, overlap honored, zero shuffle") {
    val maxT = 128; val ov = 16; val stride = maxT - ov
    val got = TextOps.chunkDocs(docs, maxT, ov)
      .as[(Long, Long, Long, String)].collect().groupBy(_._1)
    val local = docs.select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().toMap
      .map { case (id, t) =>
        val trimmed = t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
        id -> (if (trimmed.isEmpty) Array.empty[String]
               else trimmed.split("[ \\t\\n\\x0B\\f\\r]+", -1))
      }
    local.filter(_._2.nonEmpty).foreach { case (id, toks) =>
      val chunks = got(id).sortBy(_._2)
      // chunk_no contiguous from 0; expected count
      chunks.map(_._2) shouldBe chunks.indices.map(_.toLong).toArray
      chunks.length shouldBe math.max(1,
        math.ceil((toks.length - ov).toDouble / stride).toInt)
      // each window is exactly the expected slice (pinned via md5)
      chunks.foreach { case (_, i, nt, h) =>
        val w = toks.slice(i.toInt * stride, i.toInt * stride + maxT)
        nt shouldBe w.length.toLong
        h shouldBe java.security.MessageDigest.getInstance("MD5")
          .digest(w.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      }
      // coverage: union of windows touches every token index
      chunks.map(c => (c._2.toInt * stride, c._2.toInt * stride + c._3.toInt))
        .sortBy(_._1).foldLeft(0) { case (reach, (a, b)) =>
          a should be <= reach; math.max(reach, b)
        } shouldBe toks.length
    }
    got.keySet shouldBe local.filter(_._2.nonEmpty).keySet
    // pure map work — no exchange anywhere in the plan
    TextOps.chunkDocs(docs, maxT, ov)
      .queryExecution.executedPlan.toString should not include "Exchange"
  }

  test("salient terms: matches local (tf desc, df asc, tok asc) selection") {
    val got = TextOps.salientTerms(docs)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    val toks = docs.select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect()
      .filter(_._2.trim.nonEmpty)
      .map { case (id, t) =>
        id -> t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
          .split("[ \\t\\n\\x0B\\f\\r]+", -1).toSeq
      }
    val dfreq = toks.flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.length.toLong }
    toks.foreach { case (id, ts) =>
      val best = ts.groupBy(identity).map { case (t, xs) =>
        (t, xs.length.toLong, dfreq(t)) }
        .minBy { case (t, tf, df) => (-tf, df, t) }
      got(id) shouldBe ((id, best._1, best._2, best._3))
    }
  }

  test("chunk→pack composition matches sequential oracle and loses no tokens") {
    val chunks = TextOps.chunkDocs(docs, maxTokens = 64, overlap = 8)
    val got = Packing.packItems(
      chunks.select(($"doc_id" * 1000000L + $"chunk_no").as("item_id"), $"n_tokens"),
      capacity = 128, nBuckets = 16)
      .select($"item_id", $"n_tokens".cast("long"), $"bucket".cast("long"),
        $"seq_id", $"pos".cast("long"))
      .as[(Long, Long, Long, Long, Long)].collect()
    val seqDocs = docs.select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val want = oracle.OpsOracle.packItemsSeq(
      oracle.OpsOracle.chunkItems(seqDocs, maxTokens = 64, overlap = 8),
      capacity = 128, nBuckets = 16)
    got.sortBy(r => (r._1, r._4)) shouldBe want.sortBy(r => (r._1, r._4))
    // unlike doc-level packing, chunking first means EVERY non-blank doc
    // contributes: each doc's chunk 0 must appear among packed items
    val packedDocs = got.map(_._1 / 1000000L).toSet
    packedDocs shouldBe seqDocs.filter(d =>
      oracle.OpsOracle.wsTokenCount(d._2) > 0).map(_._1).toSet
  }

  test("token stats / quality are consistent") {
    val q = TextOps.quality(docs)
    q.where($"punct_pm" > 1000 || $"stopword_pm" > 1000).count() shouldBe 0
    TextOps.tokenStats(docs).where($"n_tokens" === 0 && $"n_chars" > 0)
      .count() shouldBe 0
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  test("dup-segment removal: shared and internal repeats cut, first occurrence kept") {
    val run20 = (1 to 20).map(i => s"w$i").mkString(" ")
    val a = s"$run20 alpha beta gamma" // first occurrence of the run — kept whole
    val b = s"$run20 delta"            // seg 0 duplicates doc 1's seg 0 — cut
    val c = "unique tokens only here"
    val planted = Seq((1L, a), (2L, b), (3L, c), (4L, "")).toDF("doc_id", "text")
    val got = Dedup.removeDupSegments(planted, seg = 20)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    got(1L) shouldBe ((1L, 2L, 0L, 23L, md5hex(a)))
    got(2L) shouldBe ((2L, 2L, 1L, 1L, md5hex("delta")))
    got(3L) shouldBe ((3L, 1L, 0L, 4L, md5hex(c)))
    got(4L) shouldBe ((4L, 0L, 0L, 0L, md5hex(""))) // blank doc: zero segments
    // within-doc repetition is duplication too (ExactSubstr semantics)
    val internal = Seq((9L, s"$run20 $run20")).toDF("doc_id", "text")
    Dedup.removeDupSegments(internal, seg = 20)
      .as[(Long, Long, Long, Long, String)].head() shouldBe
      ((9L, 2L, 1L, 20L, md5hex(run20)))
  }

  test("dup-segment removal: one row per doc, accounting consistent, parallelism-invariant") {
    val full = Dedup.removeDupSegments(docs, seg = 20).cache()
    full.count() shouldBe docs.count()
    // kept + removed segments account for every segment; clean token count
    // never exceeds the original
    full.where($"n_removed" > $"n_segs" || $"clean_n_tokens" < 0).count() shouldBe 0
    // identity on docs with nothing removed: cleaned text == normalized text
    val norm = docs.select($"doc_id".cast("long").as("doc_id"),
      md5(concat_ws(" ", split(trim($"text"), TextOps.WsPlus)).cast("binary")).as("norm_md5"))
    full.where($"n_removed" === 0).join(norm, Seq("doc_id"))
      .where($"clean_md5" =!= $"norm_md5" && $"n_segs" > 0)
      .count() shouldBe 0
    val again = Dedup.removeDupSegments(docs.repartition(7), seg = 20)
    full.except(again).count() shouldBe 0
    again.except(full).count() shouldBe 0
    full.unpersist()
  }

  test("bpe merges: textbook example learns expected merges; corpus matches oracle") {
    // Sennrich-style toy corpus: 'lo' dominates (appears in low×7, lower×2,
    // lowest×1 = weight 10), so the first merge is (l, o)
    val toy = Seq(
      (1L, "low low low low low"), (2L, "low low lower lower"),
      (3L, "lowest newest newest")).toDF("doc_id", "text")
    val got = TextOps.bpeMerges(toy, nMerges = 3)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    got(0) shouldBe ((0L, "l", "o", 10L))
    got(1) shouldBe ((1L, "lo", "w", 10L))
    // after low merges: 'e'+'s' (lower? no — 'low'+'e' in lowest=1, 'e','r'=2,
    // 'e','s'=3, 'n','e'=2, 's','t'=3, 'w','e'=2... tie (e,s)=3 vs (s,t)=3
    // breaks to (e, s) by left asc
    got(2) shouldBe ((2L, "e", "s", 3L))
    // corpus run equals the independent sequential restatement exactly
    val local = docs.select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    TextOps.bpeMerges(docs, nMerges = 20, maxVocab = 1 << 16)
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq shouldBe
      oracle.OpsOracle.bpeMerges(local, nMerges = 20, maxVocab = 1 << 16)
  }

  test("semantic dedup: matches sequential oracle; planted copies flagged as dups") {
    val base = embs.select($"vec_id".cast("long"), $"embedding")
    val withDups = base.unionByName(Similarity.perturbed(embs, n = 10))
    val got = Similarity.semanticDedup(withDups, minCosinePm = 990,
        nCells = 16, trainIters = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    val local = withDups.as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    got shouldBe oracle.OpsOracle.semanticDedup(local, minCosinePm = 990,
      nCells = 16, trainIters = 2).toSet
    // a perturbed copy is near-parallel to its original: same cell, cosine
    // over threshold, original has the lower id — so every copy is dropped
    // with dup_of pointing at its original, and every original survives
    val byId = got.map(t => t._1 -> t).toMap
    (0L until 10L).foreach { i =>
      byId(i + 1000000L)._3 shouldBe i
      byId(i + 1000000L)._4 shouldBe 0L
      byId(i)._4 shouldBe 1L
    }
  }

  test("exact-substring spans: misaligned duplicates that fixed segments miss") {
    // a 25-token run planted at DIFFERENT offsets (3 and 7) in two docs —
    // no fixed 20-token segment boundary aligns, so removeDupSegments
    // provably cannot see it; exactSubstrSpans must locate it exactly
    val run = (1 to 25).map(i => s"r$i").mkString(" ")
    val planted = Seq(
      (1L, s"a1 a2 a3 $run a4 a5"),          // run at toks [3, 28)
      (2L, s"b1 b2 b3 b4 b5 b6 b7 $run"),    // run at toks [7, 32)
      (3L, "entirely unique tokens that appear nowhere else in this corpus"))
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstrSpans(planted, minLen = 20)
      .as[(Long, Long, Long, Long)].collect().toSet
    got shouldBe Set((1L, 3L, 28L, 25L), (2L, 7L, 32L, 25L))
    // the fixed-segment op removes NOTHING here — the misalignment blinds it
    Dedup.removeDupSegments(planted, seg = 20)
      .where($"n_removed" > 0).count() shouldBe 0L
    // within-doc repetition is duplication too; runs separated by a gap
    // > minLen stay separate spans
    val gap = (1 to 21).map(i => s"g$i").mkString(" ")
    val internal = Seq((9L, s"$run $gap $run")).toDF("doc_id", "text")
    Dedup.exactSubstrSpans(internal, minLen = 20)
      .as[(Long, Long, Long, Long)].collect().toSet shouldBe
      Set((9L, 0L, 25L, 25L), (9L, 46L, 71L, 25L))
    // adjacent copies merge into one maximal span (71 covered positions)
    val adjacent = Seq((8L, s"$run $run $run")).toDF("doc_id", "text")
    Dedup.exactSubstrSpans(adjacent, minLen = 20)
      .as[(Long, Long, Long, Long)].head() shouldBe ((8L, 0L, 75L, 75L))
  }

  test("exact-substring spans: corpus equals suffix-array oracle, parallelism-invariant") {
    // the engine computes coverage via duplicated stride-1 windows; the
    // oracle builds a REAL suffix array (Kasai LCP, maxmatch union) — the
    // scaladoc's equivalence proof is exercised end-to-end here
    val local = docs.select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val want = oracle.OpsOracle.exactSubstrSpans(local, minLen = 20).toSet
    val got = Dedup.exactSubstrSpans(docs, minLen = 20)
      .as[(Long, Long, Long, Long)].collect().toSet
    got shouldBe want
    want should not be empty // the gate corpus plants near/exact dups
    val again = Dedup.exactSubstrSpans(docs.repartition(7), minLen = 20)
      .as[(Long, Long, Long, Long)].collect().toSet
    again shouldBe want
  }

  test("containmentPairs reports EXACT containment (uncapped verify), parallelism-invariant") {
    // brute-force sequential ground truth over full shingle sets; the df cap
    // cannot bind at this scale (< maxDf docs), so candidate recall is 1 and
    // the whole output must match exactly
    val sets = Dedup.shingles(docs, 3).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (d, rows) => d -> rows.map(_._2).toSet }
    val ids = sets.keys.toSeq.sorted
    val expected = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      inter = (sets(ids(i)) intersect sets(ids(j))).size
      if inter > 0
      cpm = inter.toLong * 1000 / math.min(sets(ids(i)).size, sets(ids(j)).size)
      if cpm >= 150
    } yield (ids(i), ids(j), inter.toLong, sets(ids(i)).size.toLong,
      sets(ids(j)).size.toLong, cpm)).toSet
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.containmentPairs(df, n = 3, minContainPm = 150)
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val got = run(docs)
    got shouldBe expected
    expected should not be empty
    run(docs.repartition(5)) shouldBe expected
  }

  test("containmentPairs catches a quoted-superset pair Jaccard-threshold dedup misses") {
    // doc 2 quotes ALL of doc 1 inside 10x unrelated filler: containment is
    // 1000 per-mille but Jaccard is tiny — the structural blind spot the op
    // exists for
    val quoted = (1 to 12).map(i => s"q$i").mkString(" ")
    val filler = (1 to 120).map(i => s"f$i").mkString(" ")
    val df = Seq((1L, quoted), (2L, s"$filler $quoted"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(df, n = 3, minContainPm = 800)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    pairs.map(p => (p._1, p._2)).toSet shouldBe Set((1L, 2L))
    val (_, _, nInter, nA, _, cpm) = pairs.head
    cpm shouldBe 1000L
    nInter shouldBe nA // every shingle of the quoted doc is in the host
    // the same pair is invisible to the Jaccard op at any sane threshold
    Dedup.ngramJaccardPairs(df, n = 3, minJaccardPm = 200).count() shouldBe 0L
  }

  test("containment gate corpora: distinct hashed shingles == distinct string shingles per doc") {
    // the q_containment_* DuckDB oracles count each doc's shingle set as
    // n-gram STRINGS, the engine as 64-bit xxhash64 values; they agree only
    // while no two n-grams of a doc hash alike
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val d = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
      val hashed = Dedup.shingles(d, 3).groupBy("doc_id")
        .agg(countDistinct($"shingle").as("n_hashed"))
      val toks = split(trim($"text"), TextOps.WsPlus)
      val nToks = org.apache.spark.sql.functions.size(toks)
      val strings = d.where(nToks >= 3)
        .select($"doc_id".cast("long").as("doc_id"), explode(transform(sequence(lit(0), nToks - 3),
          i => concat_ws(" ", slice(toks, i + 1, lit(3))))).as("ng"))
        .groupBy("doc_id").agg(countDistinct($"ng").as("n_strings"))
      val differ = hashed.join(strings, Seq("doc_id"), "full_outer")
        .where(!($"n_hashed" <=> $"n_strings"))
        .as[(Long, Option[Long], Option[Long])].collect()
      withClue(s"$sf documents whose distinct 3-gram hashes and strings differ " +
          s"(doc_id, hashed, strings), a hash collision the containment oracles " +
          s"cannot see: ${differ.mkString(", ")}: ") {
        differ shouldBe empty
      }
    }
  }

  test("nearDupEval scores the LSH tier against the exhaustive truth") {
    val truth = Dedup.ngramJaccardPairs(docs, 3, 200)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val found = Dedup.minHashNearDup(docs, n = 3, minJaccardPm = 200)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val row = Dedup.nearDupEval(docs, n = 3, minJaccardPm = 200)
      .as[(Long, Long, Long, Long, Long)].head()
    row._1 shouldBe truth.size.toLong
    row._2 shouldBe found.size.toLong
    row._3 shouldBe (truth intersect found).size.toLong
    // the minhash path exact-verifies candidates: found ⊆ truth, so
    // precision is pinned at 1000‰ and recall is the live metric
    found.subsetOf(truth) shouldBe true
    row._4 shouldBe 1000L
    row._5 shouldBe (truth intersect found).size.toLong * 1000 / truth.size
    truth should not be empty
  }

  test("containmentKeeper == brute-force drop rule, parallelism-invariant") {
    val sets = Dedup.shingles(docs, 3).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (d, rows) => d -> rows.map(_._2).toSet }
    val spine = docs.select($"doc_id".cast("long")).as[Long].collect().toSeq
    val ids = sets.keys.toSeq.sorted
    val dominators = scala.collection.mutable.Map.empty[Long, Long]
    for {
      i <- ids.indices; j <- (i + 1) until ids.length
      (x, y) = (ids(i), ids(j))
      inter = (sets(x) intersect sets(y)).size
      if inter.toLong * 1000 >= 900L * math.min(sets(x).size, sets(y).size)
    } {
      val (drop, dom) =
        if (sets(x).size < sets(y).size) (x, y)
        else if (sets(y).size < sets(x).size) (y, x)
        else (math.max(x, y), math.min(x, y))
      dominators(drop) = math.min(dominators.getOrElse(drop, Long.MaxValue), dom)
    }
    val expected = spine.map(d => (d,
      if (dominators.contains(d)) 0L else 1L,
      dominators.getOrElse(d, -1L))).toSet
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.containmentKeeper(df, n = 3, minContainPm = 900)
        .as[(Long, Long, Long)].collect().toSet
    val got = run(docs)
    got shouldBe expected
    expected.count(_._2 == 0L) should be > 0 // the gate plants drop docs
    run(docs.repartition(5)) shouldBe expected
  }

  test("containmentKeeper: transitive chain keeps only the outermost host; ties drop the higher id") {
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")
    val mid = s"${(1 to 40).map(i => s"m$i").mkString(" ")} $quote"
    val host = s"${(1 to 120).map(i => s"f$i").mkString(" ")} $mid"
    val df = Seq((1L, quote), (2L, mid), (3L, host), (4L, "z1 z2 z3 z4"),
      (5L, "t1 t2 t3 t4 t5"), (6L, "t1 t2 t3 t4 t5")).toDF("doc_id", "text")
    val got = Dedup.containmentKeeper(df, n = 3, minContainPm = 900)
      .as[(Long, Long, Long)].collect().toSet
    // doc 1 ⊂ doc 2 ⊂ doc 3: only the outermost keeps; doc 1's lowest
    // dominator is 2 even though 2 itself drops (greedy per-pair rule);
    // identical twins 5/6 tie on size — the higher id drops
    got shouldBe Set(
      (1L, 0L, 2L), (2L, 0L, 3L), (3L, 1L, -1L), (4L, 1L, -1L),
      (5L, 1L, -1L), (6L, 0L, 5L))
  }

  test("phraseSearch == sliding-window brute force on the gate corpus") {
    val local = docs.select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().toSeq
    val expected = (for {
      (q, ph) <- Retrieval.GatePhrases
      pt = ph.trim.split("\\s+").toSeq
      (id, text) <- local
      toks = text.trim.split("[ \\t\\n\\x0B\\f\\r]+", -1).toSeq
        .filter(_ => text.trim.nonEmpty)
      starts = (0 to toks.length - pt.length).filter(s => toks.slice(s, s + pt.length) == pt)
      if starts.nonEmpty
    } yield (q, id, starts.length.toLong, starts.min.toLong + 1)).toSet
    def run(df: org.apache.spark.sql.DataFrame) =
      Retrieval.phraseSearch(df, Retrieval.GatePhrases)
        .as[(Long, Long, Long, Long)].collect().toSet
    val got = run(docs)
    got shouldBe expected
    expected should not be empty
    run(docs.repartition(5)) shouldBe expected
  }

  test("phraseSearch: self-overlapping repeated-term phrases count every occurrence") {
    // "a a" in "a a a b a a" occurs at starts 1,2,5 (overlaps allowed);
    // "a a a" once; an absent phrase emits no rows; a phrase longer than the
    // doc emits no rows
    val df = Seq((1L, "a a a b a a"), (2L, "b"), (3L, "")).toDF("doc_id", "text")
    val got = Retrieval.phraseSearch(df,
        Seq(0L -> "a a", 1L -> "a a a", 2L -> "zz", 3L -> "a a a b a a a"))
      .as[(Long, Long, Long, Long)].collect().toSet
    got shouldBe Set((0L, 1L, 3L, 1L), (1L, 1L, 1L, 1L))
  }

  test("windowSearch == sliding-window brute force on the gate corpus") {
    val w = 8
    val local = docs.select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().toSeq
    val expected = (for {
      (q, probe) <- Retrieval.GateQueries
      pt = probe.trim.split("\\s+").toSeq.distinct
      (id, text) <- local
      toks = if (text.trim.isEmpty) Seq.empty[String]
             else text.trim.split("[ \\t\\n\\x0B\\f\\r]+", -1).toSeq
      starts = toks.indices.filter { s =>
        val win = toks.slice(s, s + w)
        pt.forall(win.contains)
      }
      if starts.nonEmpty
    } yield (q, id, starts.length.toLong, starts.min.toLong + 1)).toSet
    def run(df: org.apache.spark.sql.DataFrame) =
      Retrieval.windowSearch(df, Retrieval.GateQueries, window = w)
        .as[(Long, Long, Long, Long)].collect().toSet
    val got = run(docs)
    got shouldBe expected
    expected should not be empty
    run(docs.repartition(5)) shouldBe expected
  }

  test("windowSearch: span boundary is exact and probe-term repeats collapse") {
    // "x a y": span 3 fits window 3 (start 1); "x a a y": span 4 does not
    val df = Seq((1L, "x a y"), (2L, "x a a y"), (3L, "y x")).toDF("doc_id", "text")
    val got = Retrieval.windowSearch(df, Seq(0L -> "x y", 1L -> "x x y"), window = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc 3: order-free — "y x" matches at starts 1 (and nothing else);
    // probe 1 repeats "x" but the distinct-terms contract makes it probe 0
    got shouldBe Set(
      (0L, 1L, 1L, 1L), (0L, 3L, 1L, 1L),
      (1L, 1L, 1L, 1L), (1L, 3L, 1L, 1L))
  }

  test("tokenEntropy == sequential oracle, parallelism-invariant") {
    val seq = docs.select($"doc_id".cast("long"), $"text").as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    val want = oracle.OpsOracle.tokenEntropySeq(seq).toSet
    def run(df: org.apache.spark.sql.DataFrame) =
      TextOps.tokenEntropy(df).as[(Long, Long, Long, Long, Long)].collect().toSet
    val got = run(docs)
    got shouldBe want
    want should not be empty
    run(docs.repartition(5)) shouldBe want
  }

  test("tokenEntropy: spam floors at zero, unique-token docs hit ln(n), blanks stay visible") {
    val df = Seq(
      (1L, "buy buy buy buy"),   // one type: H = 0 exactly
      (2L, "a b c d"),           // uniform unique: per-tok = round(ln(4)*1e6)
      (3L, ""),                  // blank: all-zero row, still present
      (4L, "a a b b"))           // two balanced types: per-tok = round(ln(2)*1e6)
      .toDF("doc_id", "text")
    val got = TextOps.tokenEntropy(df)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    got(1L) shouldBe ((4L, 1L, 0L, 0L))
    val ln4 = Math.round(StrictMath.log(4.0) * 1e6)
    got(2L) shouldBe ((4L, 4L, 4 * ln4, ln4))
    got(3L) shouldBe ((0L, 0L, 0L, 0L))
    val ln2 = Math.round(StrictMath.log(2.0) * 1e6)
    got(4L) shouldBe ((4L, 2L, 4 * ln2, ln2))
    // ordering: the spam doc scores strictly below both diverse docs
    got(1L)._4 should be < got(4L)._4
    got(4L)._4 should be < got(2L)._4
  }
}
