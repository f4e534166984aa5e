package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.pipeline.{Extraction, TableIO}
import graft.plans.ExtractDocs

/** Dumps the executed physical plans of the headline queries (the concrete
  * evidence behind BENCH.md/README claims: scan pruning, predicate pushdown,
  * broadcast joins, partial aggregation). Usage:
  * runMain graft.PlanDump [testdataDir] -- writes PLANS.md.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Verify.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val corpus = Corpus.ensure(spark, "sf0.001")
    val out = new StringBuilder
    def emit(line: String): Unit = { out.append(line).append('\n') }

    def dump(title: String, note: String, df: DataFrame, run: Boolean = true): Unit = {
      if (run) df.collect() // let AQE finalize so the printed plan is the real one
      emit(s"## $title")
      emit("")
      emit(note)
      emit("")
      emit("```")
      emit(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).trim)
      emit("```")
      emit("")
    }

    emit("# PLANS -- executed physical plans of the headline queries")
    emit("")
    emit("Generated by `runMain graft.PlanDump` (AQE-final plans after one")
    emit(s"execution, sf0.001 corpus + sf0.01 testdata, local[${Verify.cpus}] with")
    emit(s"${Verify.cpus} shuffle partitions, the session `graft.Verify` runs). What to")
    emit("look for is called out per plan.")
    emit("")

    dump("Custom-node extraction with doc_id lookup",
      "`PushDocIdFilterThroughExtract` rewrote the output-attribute filter " +
      "onto the scan: `PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,...)]` " +
      "and `ReadSchema` keeps only (doc_id, spans). Zero exchanges.",
      ExtractDocs.over(spark, corpus).where($"doc_id" === "doc-000000042")
        .select($"doc_id", size($"spans").as("n")))

    dump("Full extraction, custom plan node",
      "Single embarrassingly parallel stage: Scan → ColumnarToRow → " +
      "ExtractDocs. No exchange anywhere — assembly happens inside the node.",
      ExtractDocs.over(spark, corpus))

    dump("Commit data plan (TableIO.extractForCommit)",
      "What `TableIO.commitDocs`/`upsertDocs` write: Scan → ExtractDocs at " +
      "input-split parallelism, then ONE `REBALANCE_PARTITIONS_BY_NONE` " +
      "exchange so AQE sizes the output files. No page shuffle, no " +
      "aggregate: the per-task lineage is counted inside the node.",
      TableIO.extractForCommit(Extraction.readInput(spark, corpus),
        spark.sparkContext.collectionAccumulator[graft.plans.TaskLineage]("plan-dump")))

    dump("Web commit data plan (TableIO.webForCommit)",
      "What `TableIO.commitWeb` writes, under the same hint: Scan → the " +
      "same ExtractDocs node with its web kernel at input-split " +
      "parallelism, then ONE `REBALANCE_PARTITIONS_BY_NONE` exchange. No " +
      "typed map, no cached parse and no metrics aggregate: the node counts " +
      "the per-task lineage while the pages parse, as under the PDF kernel.",
      TableIO.webForCommit(spark.read.parquet(Corpus.ensureWeb(spark, "sf0.001")),
        spark.sparkContext.collectionAccumulator[graft.plans.TaskLineage]("plan-dump")))

    dump("Broadcast dimension join + top-k (q_top_customers)",
      "Fact side aggregates partially before the exchange; the customer " +
      "dimension goes through `BroadcastExchange` + `BroadcastHashJoin` " +
      "(no shuffle of the fact table against the dim); `TakeOrderedAndProject` " +
      "caps the result at 20 without a global sort.",
      SparkEntry.queries("q_top_customers")(spark, dir))

    dump("Global aggregate (x_extract_totals)",
      "`HashAggregate(partial)` → single-partition exchange of ONE row per " +
      "task → final `HashAggregate`: the classic two-phase pattern, nothing " +
      "wide moves.",
      ExtractDocs.over(spark, corpus).agg(
        count(lit(1)).as("total_docs"), sum(size($"spans")).as("total_spans")))

    dump("Two-phase ANN top-k (q_ann_brute_topk)",
      "Round-2 shape: queries broadcast against the streaming corpus side, " +
      "per-partition k-heap in `MapPartitions` (zero shuffle), then ONE " +
      "hash exchange of <= partitions x k survivor rows per query for the " +
      "final merge. No `Window.partitionBy(q_id)` funnel anywhere.",
      graft.ops.Similarity.bruteTopK(
        spark.read.parquet(s"$dir/embeddings.parquet"), nQueries = 20, k = 5))

    dump("IVF-PQ asymmetric-table ANN (q_ann_ivfpq_topk)",
      "The memory tier: the candidate side of the cell join carries ONLY " +
      "(vec_id, cell, m sub-codes) — m small ints per vector instead of " +
      "the dim-float embedding (32x narrower at the gate's 64-dim/m=8; " +
      "512x at 1024-dim) — and the query side (with its per-query m x ks " +
      "ADC lookup tables) is broadcast. Scoring is a codegen'd " +
      "zip_with/element_at/aggregate fold over the code array; the only " +
      "exchanges after the join are the two-phase top-k merge.",
      graft.ops.Similarity.ivfpqTopK(
        spark.read.parquet(s"$dir/embeddings.parquet"), nQueries = 20, k = 5,
        nCells = 32, nProbe = 4, m = 8, ks = 16, pqIters = 2))

    dump("Embedding near-dup, scalar-carrying dedup exchange (q_emb_near_dup)",
      "Pairs are scored INSIDE the bucket join (`zip_with`/`aggregate` " +
      "codegen); the groupBy(a,b) dedup exchange carries one double per " +
      "pair — embedding vectors never cross a pair-keyed shuffle.",
      { val embs = spark.read.parquet(s"$dir/embeddings.parquet")
        graft.ops.Similarity.cosineNearDup(
          embs.select($"vec_id".cast("long"), $"embedding"), minCosinePm = 990) })

    dump("Zero-shuffle repetition signals (q_doc_repetition)",
      "Gopher-style dup-token/bigram rates as pure map work: the whole " +
      "query is Scan → Project (the higher-order-function projection sits " +
      "right above a codegen'd span; HOFs themselves evaluate interpreted " +
      "but stay row-local) — no explode and no exchange exist at any " +
      "corpus size.",
      graft.ops.TextOps.repetition(
        spark.read.parquet(s"$dir/documents.parquet")))

    dump("Near-dup cluster assignment (q_dedup_clusters, post-convergence)",
      "Connected components converge before this plan runs (min-label " +
      "propagation over localCheckpoint'd label tables — lineage is " +
      "truncated each round, so the final plan joins the corpus against a " +
      "small materialized component table instead of an unbounded " +
      "iteration tree). AQE turns both the component join and the " +
      "cluster-size join into broadcasts at this scale.",
      graft.ops.Dedup.dedupClusters(
        spark.read.parquet(s"$dir/documents.parquet"),
        graft.ops.Dedup.minHashNearDup(
          spark.read.parquet(s"$dir/documents.parquet"), n = 3, minJaccardPm = 200)))

    dump("SimHash candidate generation via the native expression (q_simhash_near_dup)",
      "simhash64 is a Catalyst expression (one static call inside generated " +
      "code) and the band keys are shiftrightunsigned/mask column " +
      "arithmetic, so scan → hash → band explode all run in codegen spans " +
      "with no Encoder round-trip; the only exchanges are the band-key " +
      "self-join's.",
      graft.ops.Dedup.simHashNearDup(
        spark.read.parquet(s"$dir/documents.parquet"), maxHamming = 7))

    dump("Benchmark decontamination (q_decontam)",
      "The benchmark shingle side (eval sets — small by nature) goes " +
      "through `BroadcastExchange` into a `BroadcastHashJoin`: the exploded " +
      "doc shingle stream never shuffles, matched rows aggregate per doc " +
      "with map-side partials, and only (doc_id, n_overlap) reaches the " +
      "flag join back to the doc spine.",
      { val docs = spark.read.parquet(s"$dir/documents.parquet")
        val bench = docs.where($"doc_id" % 97 === 0)
          .select($"doc_id".as("bench_id"), substring($"text", 51, 400).as("text"))
        graft.ops.Dedup.decontaminate(docs, bench, n = 5) })

    dump("Sequence packing, metadata-only exchange (q_pack_sequences)",
      "Exactly ONE exchange, and it carries (doc_id, n_tokens, bucket) — " +
      "16 bytes a doc; document text never moves. Token counting and " +
      "bucket assignment are codegen projections below the exchange; " +
      "best-fit-decreasing runs inside `MapGroups` above it.",
      graft.ops.Packing.packSequences(
        spark.read.parquet(s"$dir/documents.parquet"), capacity = 128, nBuckets = 16))

    dump("Overlapping token-window chunking (q_doc_chunks)",
      "Zero exchange at any corpus size: tokenize, window-slice via in-row " +
      "higher-order functions, `posexplode` — Scan → Project → Generate, " +
      "all map-side.",
      graft.ops.TextOps.chunkDocs(
        spark.read.parquet(s"$dir/documents.parquet")))

    dump("Whole-stage codegen'd scalar cascade (fix_typos)",
      "The native Catalyst expression participates in WholeStageCodegen " +
      "(one codegen span covers scan->project) -- no UDF boundary.",
      { graft.functions.Functions.register(spark)
        spark.read.parquet(s"$dir/documents.parquet")
          .selectExpr("doc_id", "fix_typos(text) AS fixed") })

    dump("HLL distinct sketch (q_hll_shingles)",
      "The hash/register/rank projection is map-side off the scan; " +
      "exchange 1 carries (key, register, rank) with partial aggregation " +
      "capping it at 2^p rows per key per task (look for the " +
      "partial_max/HashAggregate pair); exchange 2 rolls 2^p register rows " +
      "per key into one. The shingle strings die before any exchange.",
      graft.ops.Sketches.hllShingleDistinct(
        spark.read.parquet(s"$dir/documents.parquet"), n = 3, p = 6))

    dump("Per-source cap via bounded heaps (q_source_cap)",
      "Phase 1 is the mapPartitions heap prune (SerializeFromObject above " +
      "it) — at most cap rows per (partition, source) reach the exchange, " +
      "so the per-source window sorts <= cap x partitions rows, bounded by " +
      "the CAP rather than the hottest host's doc count.",
      graft.ops.TextOps.sourceCap(
        spark.read.parquet(s"$dir/documents.parquet"), cap = 10))

    dump("OOV ratio, broadcast anti-join (q_doc_oov)",
      "The top-k vocabulary collapses to a TakeOrderedAndProject and is " +
      "BroadcastExchange'd into a BroadcastHashJoin LeftAnti over the " +
      "exploded token stream — the tokens are filtered map-side and never " +
      "shuffle; only sparse (doc_id, n_oov) partials exchange.",
      graft.ops.TextOps.oovRatio(
        spark.read.parquet(s"$dir/documents.parquet"), vocabSize = 12))

    dump("Duplicated-window detection (q_dup_windows)",
      "Windows become 16-byte md5 map-side (the text never shuffles); the " +
      "dup-hash set is a count aggregate (a long per hash, never a posting " +
      "list) feeding a LeftSemi join back onto the window stream — a semi " +
      "join cannot multiply rows, and a hot boilerplate hash is an " +
      "AQE-splittable skew key.",
      graft.ops.Dedup.dupWindows(
        spark.read.parquet(s"$dir/documents.parquet"), win = 20))

    dump("Bloom runtime-filtered incremental dedup (q_incremental_dedup_bloom)",
      "The committed-index side of the anti-join carries the bloom " +
      "`mightContain` Filter DIRECTLY above its scan — index rows whose " +
      "hash cannot occur in the batch never reach the index's join " +
      "exchange, which is the side that is corpus-sized in production. " +
      "One anti-join, no union, no double consumption of the keeper " +
      "aggregate.",
      { val docsDf = spark.read.parquet(s"$dir/documents.parquet")
        val committed = docsDf.where(col("doc_id") % 3 === 0)
          .select(md5(col("text").cast("binary")).as("content_md5")).distinct()
        graft.ops.Dedup.incrementalNewBloom(docsDf, committed,
          expectedBatch = 1000L) })

    dump("Duplicated-segment removal (q_doc_seg_clean)",
      "Segments are 16-byte md5s from the moment they exist (Generate over " +
      "an in-row hash projection — the text never enters the segment " +
      "stream); the first-occurrence aggregate carries (count, min struct) " +
      "with map-side partials; the removed-ordinal table is sparse, so AQE " +
      "broadcasts it into the final left join and the corpus side is never " +
      "shuffled — reconstruction is the in-row filter/flatten projection " +
      "above the scan.",
      graft.ops.Dedup.removeDupSegments(
        spark.read.parquet(s"$dir/documents.parquet"), seg = 20))

    dump("SemDeDup cluster-then-dedup (q_semantic_dedup)",
      "Cell assignment is map work under the broadcast codebook; the " +
      "within-cell self-join exchanges on cell id (nCells = the " +
      "parallelism ceiling — size it to the cluster); pair rows carry " +
      "(ids, one double) and the sparse dup-of table joins back to the " +
      "spine as an AQE broadcast.",
      { val embs = spark.read.parquet(s"$dir/embeddings.parquet")
        graft.ops.Similarity.semanticDedup(
          embs.select($"vec_id".cast("long"), $"embedding"),
          minCosinePm = 990, nCells = 32) })

    dump("Bigram-LM perplexity score (q_doc_lm_score)",
      "All three model tables reach the scoring stream as broadcasts: the " +
      "vocabulary is a TakeOrderedAndProject (top-k, never a full sort) " +
      "feeding two BroadcastHashJoins that <unk>-normalize the in-row " +
      "transition pairs map-side; the capped bigram table and the " +
      "(<= |vocab|+1 row) context counts broadcast into the same stream; " +
      "log_prob_micro is a native codegen expression, so the per-" +
      "transition score is computed inside the codegen span and only " +
      "sparse (doc_id, long) partials exchange for the per-doc sum. The " +
      "token stream itself NEVER shuffles.",
      graft.ops.TextOps.lmScore(
        spark.read.parquet(s"$dir/documents.parquet"),
        vocabSize = 1 << 14, maxBigrams = 1 << 16))

    dump("Naive Bayes quality classifier (q_doc_nb_quality)",
      "Training IS two aggregates: the labeled seed (broadcast into the " +
      "corpus scan to pick up text) feeds ONE map-side-combined token-count " +
      "shuffle capped by TakeOrderedAndProject; the resulting <= vocabSize " +
      "model and the tiny totals/priors broadcast back into the corpus " +
      "token stream, which is scored map-side by the native log_prob_micro " +
      "expression — only (doc_id, long) partials exchange for the per-doc " +
      "sum. Corpus text never shuffles.",
      {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val labeled = docs.where($"doc_id" % 3 === 0)
          .select($"doc_id", when($"source" === "src0", 1).otherwise(0).as("label"))
        graft.ops.TextOps.nbQualityScore(docs, labeled)
      })

    dump("DSIR importance weights (q_doc_dsir)",
      "The <= nBuckets hashed-feature table comes out of one map-side-" +
      "combined aggregate and broadcasts back with its totals; every " +
      "per-feature log-ratio is computed inside the codegen span " +
      "(log_prob_micro twice) and only sparse (doc_id, long) partials " +
      "exchange. The feature stream is derived in-row (zip_with over the " +
      "token array) — the corpus text itself crosses no exchange.",
      graft.ops.TextOps.dsirWeights(
        spark.read.parquet(s"$dir/documents.parquet"),
        $"source" === "src0"))

    dump("URL canonicalization (q_doc_url_norm)",
      "Pure projection: Scan → Project with the whole parse/normalize/" +
      "domain chain fused into one whole-stage-codegen span. Zero " +
      "exchanges at any corpus size; the domain rollup (q_domain_stats) " +
      "adds exactly one map-side-combined shuffle on domain.",
      graft.ops.UrlOps.urlProfile(
        spark.read.parquet(s"$dir/documents.parquet").withColumn("url",
          concat(lit("https://WWW.h"), ($"doc_id" % 97).cast("string"),
            lit(".example.co.uk:443/p/"), $"doc_id".cast("string"),
            lit("?utm_source=x&b=2&a=1#f")))))

    dump("Mojibake repair via the native expression (q_doc_mojibake)",
      "Scan → Project, fix_mojibake inside the codegen span like its " +
      "fix_typos/nfc_normalize siblings — an encoding-repair pass over " +
      "100 TB is exactly one embarrassingly parallel stage.",
      graft.ops.TextOps.mojibakeRepair(
        spark.read.parquet(s"$dir/documents.parquet")))

    dump("BM25 retrieval (q_bm25_topk)",
      "Read-side plan: the InSet term filter runs AT the token projection " +
      "(only query-term hits survive the scan stage), ONE map-side-combined " +
      "tf exchange, the df table and (q_id, term) pairs return as " +
      "`BroadcastExchange`s, `bm25_micro` scores inside codegen, and the " +
      "two-phase heap top-k bounds every later exchange at partitions x k " +
      "rows. No shuffle anywhere carries document text.",
      graft.ops.Retrieval.bm25TopK(
        spark.read.parquet(s"$dir/documents.parquet"),
        graft.ops.Retrieval.GateQueries, k = 10))

    dump("Perceptual-hash media near-dup (q_media_phash_dup)",
      "phash64 runs in the typed map directly over the media scan — asset " +
      "BYTES never reach an exchange; everything after the first " +
      "(ref, 8-byte hash) aggregate is the SimHash banding shape: band " +
      "explode in column arithmetic, bucket-cap semi-join, band-key " +
      "self-join, bit_count Hamming verify.",
      { val media = graft.ops.Multimodal.fromCorpus(spark, corpus)
        graft.ops.Multimodal.phashNearDup(
          media.union(graft.ops.Multimodal.perturbedAssets(media)),
          maxHamming = 6) })

    dump("Multi-index phash banding (q_media_phash_dup_mih)",
      "Identical topology to the classic banding — the ONLY difference is " +
      "the bucket key: 84 joint 3-band keys of 21 bits per asset instead " +
      "of 7 single-band keys of 9 bits, all built as plan-time-constant " +
      "column arithmetic inside one in-row array explode. That key width " +
      "is what keeps bucket population (and the hot-bucket cap) meaningful " +
      "at 10^12 assets; exchanges still carry only (ref, hash, key) rows.",
      { val media = graft.ops.Multimodal.fromCorpus(spark, corpus)
        graft.ops.Multimodal.phashNearDup(
          media.union(graft.ops.Multimodal.perturbedAssets(media)),
          maxHamming = 6, bandsPerKey = 3) })

    dump("Z-order layout key (q_zorder_key)",
      "One stats pass collected up front (min/max per column — table " +
      "metadata at corpus scale), then the bucket+interleave key is a pure " +
      "Scan → Project codegen span. `clusterBy` adds exactly one " +
      "range exchange; the KEY itself never shuffles anything.",
      graft.ops.Layout.zorderKey(
        spark.read.parquet(s"$dir/documents.parquet"), "n_chars", "doc_id",
        bits = 8).select($"doc_id", $"zkey"))

    dump("Semantic decontamination (q_semantic_decontam)",
      "Eval side is a `BroadcastNestedLoopJoin` against the streaming " +
      "corpus scan; the cosine threshold filters BELOW the aggregate, so " +
      "the only hash exchange carries the sparse qualifying (vec_id, " +
      "eval_id, score) rows — at 10^12 vectors the corpus embeddings " +
      "themselves never move.",
      { val embs = spark.read.parquet(s"$dir/embeddings.parquet")
        graft.ops.Similarity.semanticDecontam(
          embs, graft.ops.Similarity.perturbed(embs, n = 15)) })

    dump("Explicit salted enrichment join (q_salted_join)",
      "Both exchanges hash on (source, _salt) — the hot source key is " +
      "spread over 8 reducer slices; the dim side explodes 8x (3 keys -> " +
      "24 rows) and AQE broadcasts it at this scale, leaving the fact side " +
      "unshuffled entirely. On a cluster where the dim outgrows broadcast, " +
      "the same plan degrades to an SMJ whose per-slice width is 1/8 of " +
      "the unsalted hot key.",
      { val docs = spark.read.parquet(s"$dir/documents.parquet")
        val dim = docs.groupBy($"source")
          .agg(count(lit(1)).cast("long").as("n_docs_source"))
        graft.ops.Skew.saltedJoin(
          docs.select($"doc_id".cast("long").as("doc_id"), $"source"),
          dim, key = "source", saltBy = "doc_id", saltFactor = 8)
          .select($"doc_id", $"source", $"n_docs_source") })

    dump("Incremental near-dup vs committed signature index (q_incremental_near_dup)",
      "The committed side is a stored (doc_id, sig) scan whose band keys " +
      "explode map-side; the batch pays ONE signature shuffle (the k-min " +
      "Aggregator — text never moves). The index-side hot-bucket cap is a " +
      "count + left-semi BEFORE the band join; agreement is scored in-row " +
      "on the two sig arrays inside the join projection, so the post-join " +
      "exchange carries (ids, one long) per candidate, and the sparse " +
      "match table returns to the batch spine as an AQE broadcast.",
      { val docs = spark.read.parquet(s"$dir/documents.parquet")
        graft.ops.Dedup.incrementalNearNew(
          docs.where($"doc_id" % 3 =!= 0),
          graft.ops.Dedup.nearDupIndex(docs.where($"doc_id" % 3 === 0)),
          minAgreePm = 500) })

    dump("Temperature mixture sampling (q_temperature_mixture)",
      "Targets come from the driver-side stats pass; the sampler is the " +
      "mixtureSample shape — rates return as a `BroadcastExchange`, the " +
      "keep decision is a pure projection over the corpus scan. The only " +
      "aggregate is the |sources|-row count.",
      { val docs = spark.read.parquet(s"$dir/documents.parquet")
        graft.ops.TextOps.mixtureSample(docs,
          graft.ops.TextOps.temperatureTargets(docs, alphaPm = 300)) })

    dump("Integer PageRank round (the q_pagerank/q_trustrank iterate)",
      "ONE round of the iterate, un-materialized (the loop checkpoints " +
      "this plan each round). The degree-annotated edge table is " +
      "checkpointed hash-partitioned on `src` once — a `Scan ExistingRDD` " +
      "with NO exchange on the edge side of the per-round join; each " +
      "round moves only the (doc_id, rank) table: one hash exchange into " +
      "the rank⋈edges join, one for the groupBy(dst) partial+final " +
      "Long-sum, and the 1-row dangling pool returns as a " +
      "`BroadcastExchange` into the node-spine join. Every aggregate is " +
      "an associative Long sum, so ranks are bit-identical at any " +
      "parallelism — the TrustRank variant reuses this iterate seed-gated.",
      { val docs = spark.read.parquet(s"$dir/documents.parquet")
        val ids = docs.select($"doc_id".cast("long").as("doc_id"))
          .withColumn("is_seed", lit(true)).localCheckpoint(true)
        val edges = graft.ops.Graph.linkEdges(docs)
        val outd = edges.groupBy("src")
          .agg(count(lit(1)).cast("long").as("out_deg"))
        val edgesDeg = edges.join(outd, Seq("src"))
          .repartition($"src").localCheckpoint(true)
        val dangling = ids.select("doc_id")
          .join(edgesDeg.select($"src".as("doc_id")), Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
        val ranks = ids.select($"doc_id", lit(1000000L).as("rank_micro"))
          .localCheckpoint(true)
        graft.ops.Graph.pageRankRound(ids, edgesDeg, dangling, ranks,
          dampingPm = 850, nTeleport = 500L, base = 150000L) })

    dump("Fan-out-capped co-citation pair mining (q_cocitation)",
      "The hub cap is a count + `left_semi` BEFORE the quadratic " +
      "self-join — the explosion is bounded to C(maxFanout,2) per source " +
      "BY PLAN, not by hoping the data is nice. Both self-join sides are " +
      "the same capped edge table hash-partitioned on `src` (the join " +
      "key), so AQE reuses one exchange; the pair-count aggregate is the " +
      "only other shuffle. `coupling` is the identical plan transposed " +
      "onto `dst`/in-degree.",
      graft.ops.Graph.cocitation(
        graft.ops.Graph.linkEdges(spark.read.parquet(s"$dir/documents.parquet")),
        minShared = 1, maxFanout = 2))

    dump("Trigram stupid-backoff LM (q_doc_lm_backoff)",
      "ONE corpus-wide exchange — the (p2,p1,c) trigram count — which the " +
      "bi/uni/context tables all re-aggregate (ReuseExchange dedups the " +
      "scan). The capped tri/bi tables join their context denominators " +
      "BEFORE broadcasting, so what moves is ≤ maxTrigrams/maxBigrams " +
      "rows; scoring is three broadcast lookups on the UN-shuffled " +
      "transition stream with the `sb_log_prob_micro` codegen expression " +
      "inside the projection, then one sparse (doc_id, long) partial-sum " +
      "exchange. At 10^12 docs the broadcasts are bounded by the caps, " +
      "never the corpus.",
      graft.ops.TextOps.backoffLmScore(
        spark.read.parquet(s"$dir/documents.parquet"),
        vocabSize = 16, maxTrigrams = 1024, maxBigrams = 128, alphaPm = 400))

    dump("Pointer-doubling redirect round (the q_url_redirects iterate)",
      "ONE round of the alias-resolution fixpoint, un-materialized (the " +
      "loop checkpoints this plan each round). The pointer table (src, " +
      "cur, hops — three longs per REDIRECT, never per doc) self-joins " +
      "keyed on `cur`: one exchange pair per round, and because the " +
      "composition squares the step count, a length-L chain settles in " +
      "ceil(log2 L) rounds — the naive chain walk is L rounds of the " +
      "same exchange. Corpus text and the node spine never enter the " +
      "loop; the fixpoint test reads the `moved` flag off the table the " +
      "round materialized anyway.",
      { val docs = spark.read.parquet(s"$dir/documents.parquet")
        val ptr = graft.ops.Graph.redirectEdges(docs)
          .select($"src", $"dst".as("cur"), lit(1L).as("hops"))
          .localCheckpoint(true)
        ptr.join(ptr.select($"src".as("cur"), $"cur".as("cur2"),
            $"hops".as("hops2")), Seq("cur"), "left")
          .select($"src", coalesce($"cur2", $"cur").as("cur"),
            ($"hops" + coalesce($"hops2", lit(0L))).as("hops"),
            $"cur2".isNotNull.as("moved")) })

    dump("Capped exact 2-hop neighborhood (q_harmonic_2hop)",
      "The in(m)·out(m) blow-up of the e⋈e 2-hop expansion is bounded " +
      "BY PLAN: hub mids are removed by a count + `left_semi` before the " +
      "self-join (the homepage mid would otherwise contribute " +
      "in-degree × out-degree rows by itself). Both join sides key on " +
      "the mid node; the level-1 exclusion is a `left_anti` on the " +
      "(w, v) pair against the edge table — no driver set, no window.",
      graft.ops.Graph.neighborhood2(
        spark.read.parquet(s"$dir/documents.parquet").select($"doc_id"),
        graft.ops.Graph.linkEdges(spark.read.parquet(s"$dir/documents.parquet")),
        maxMidIn = 4))

    dump("Word2phrase collocation scoring (q_collocations)",
      "The corpus-sized work is TWO map-side-combined counts — the " +
      "adjacent-pair stream is built IN-ROW by zip_with over two slices " +
      "(no posexplode self-join), so nothing quadratic and no doc text " +
      "ever shuffles. The scoring joins key on the token against " +
      "VOCAB-SIZED aggregates (one row per type), so the hottest token " +
      "is one row, not a skew axis; the DECIMAL(38,0) ratio keeps the " +
      "score exact to 10^13-token corpora inside the projection.",
      graft.ops.TextOps.collocations(
        spark.read.parquet(s"$dir/documents.parquet"),
        minCount = 3, discount = 2, minScorePm = 400L))

    dump("Retrieval MRR eval, broadcast-pruned relevance (q_retrieval_mrr)",
      "The k·|Q| ranked table BROADCASTS into the corpus scan (BuildRight " +
      "hash join keyed on doc_id), so conjunctive relevance — an in-row " +
      "`forall` over the query-term array — is only ever evaluated on " +
      "ranked candidates: the corpus is pruned at the scan, never " +
      "shuffled. Everything past the join is |Q|-sized (one groupBy over " +
      "≤ k·|Q| rows, a |Q|-row spine left-join).",
      { val docs = spark.read.parquet(s"$dir/documents.parquet")
        val ranked = graft.ops.Retrieval.bm25TopK(docs,
          graft.ops.Retrieval.GateQueries, k = 10).localCheckpoint(true)
        graft.ops.Retrieval.mrrEval(docs, ranked,
          graft.ops.Retrieval.GateQueries) })

    dump("Raw-HTML main-content extraction (x_web_main_content)",
      "The wild-web front end is ONE embarrassingly parallel stage: Scan " +
      "parquet (doc_id, html) → the ExtractDocs node with its web kernel " +
      "(lexer → block features → label → smooth → spans) → explode. Zero " +
      "exchanges — the PDF extraction's node and scaling shape; input-split " +
      "sizing is the only parallelism knob that matters.",
      { val webPath = Corpus.ensureWeb(spark, "sf0.001")
        SparkEntry.queries("x_web_main_content")(spark,
          "/root/testdata/sf0.001") })

    dump("Committed-skip web resume (TableIO.commitWeb phase 2)",
      "The resumed commit's data plan: the raw crawl joins the committed " +
      "table's doc_id projection LEFT ANTI — only (doc_id) crosses from the " +
      "committed side (ReadSchema prunes spans), and at gate scale AQE " +
      "broadcasts it (BuildRight BroadcastHashJoin LeftAnti), so the crawl " +
      "itself never shuffles — and the ExtractDocs node with its web kernel " +
      "parses the remainder under the commit's one rebalance exchange. At " +
      "corpus scale the same plan degrades gracefully to a sorted shuffle " +
      "join on doc_id — both sides range-clustered by the writer.",
      { val webPath = Corpus.ensureWeb(spark, "sf0.001")
        val tmp = java.nio.file.Files.createTempDirectory("plandump-web").toString
        val pages = spark.read.parquet(webPath)
        graft.pipeline.TableIO.commitWeb(spark,
          pages.where(substring($"doc_id", 13, 1).isin("0", "2", "4", "6", "8")),
          s"$tmp/table", "pd-w1")
        val done = graft.pipeline.TableIO.readCommitted(spark, s"$tmp/table").get
        TableIO.webForCommit(pages.join(done.select("doc_id"), Seq("doc_id"), "left_anti"),
          spark.sparkContext.collectionAccumulator[graft.plans.TaskLineage]("plan-dump")) })

    dump("Extract-then-near-dup over span-hash shingles (q_web_near_dup)",
      "The crawl never shuffles: ONE zero-shuffle extract map reduces each " +
      "page to a line of 64-bit span hashes, and everything after runs on " +
      "those signatures (bytes per doc, not the page). ngramJaccardPairs " +
      "then does its two bounded aggregations — df-capped posting lists " +
      "(the countDistinct semi-join kills stop-shingles BEFORE any posting " +
      "list materializes) and the pair-count rollup — plus the exact-verify " +
      "joins over the few candidate docs. Deterministic by construction: " +
      "no LSH band can miss a planted pair.",
      SparkEntry.queries("q_web_near_dup")(spark, "/root/testdata/sf0.001"))

    dump("Canonical-edge resolution against the crawl's own url column (q_web_canonical)",
      "No global URL registry at corpus scale — the crawl table IS the " +
      "registry. One per-page map yields (doc_id, url, canonical, content " +
      "md5); cross-page canonicals equi-join the url projection of the " +
      "same map output. At gate scale AQE broadcasts the tiny canonical " +
      "side; at 10^12 docs the same declarative join degrades to a hash " +
      "shuffle on url with both sides already reduced to 3 narrow columns.",
      SparkEntry.queries("q_web_canonical")(spark, "/root/testdata/sf0.001"))

    dump("Sitemap discovery reconciliation (q_web_sitemap)",
      "The sitemaps table has a handful of ROWS per host but O(pages) " +
      "entries inside the XML bodies, so the exploded listed-URL side is " +
      "corpus-sized and must NOT broadcast. Index→child reachability " +
      "resolves on the tiny (host, path) row set; each reachable body " +
      "parses once in a flatMap; the url-keyed min-lastmod aggregate " +
      "already hash-partitions `listed` by url, so the full-outer join " +
      "with the crawl reuses that exchange — only the crawl side " +
      "shuffles, carrying one string column.",
      SparkEntry.queries("q_web_sitemap")(spark, "/root/testdata/sf0.001"))

    dump("Per-host admission funnel (q_web_host_funnel)",
      "Five independently-gated signals composed in ONE declarative plan: " +
      "the robots verdict joins a broadcast compiled-rule table (one row " +
      "per host at any corpus size), noindex/soft-404/yield come from one " +
      "zero-shuffle typed map over the pages, the sitemap orphan flag " +
      "joins on url, and the rollup is an 8-row aggregate. The pages " +
      "table is scanned once per signal branch but never shuffles with " +
      "its html column — every exchange carries booleans and counts.",
      SparkEntry.queries("q_web_host_funnel")(spark, "/root/testdata/sf0.001"))

    dump("One-pass extraction-eval threshold sweep (q_web_eval_curve)",
      "Tuning-sweep shape: the HTML is segmented ONCE (zero-shuffle map to " +
      "3-int rows), joined once to the label table on (doc_id, ord), and " +
      "only then exploded 4x over the threshold list, so every operating " +
      "point aggregates in one map-side-combined rollup. At corpus scale a " +
      "grid sweep costs one scan, not one job per candidate; the explode " +
      "multiplies 12-byte rows, never pages.",
      SparkEntry.queries("q_web_eval_curve")(spark, "/root/testdata/sf0.001"))

    dump("Reciprocity-validated hreflang clusters (q_web_hreflang)",
      "Validation-join shape: ONE zero-shuffle parse emits every head " +
      "signal, the declaring subset (a few % of a real crawl) is hashed to " +
      "an order-insensitive set signature by pure projection, and " +
      "reciprocity is a single self-join on the exploded href list — both " +
      "sides pre-filtered to declarers, so the exchange carries (url, md5) " +
      "pairs, never pages. Validity folds back with one per-page min(ok) " +
      "rollup; no window, no all-pairs.",
      SparkEntry.queries("q_web_hreflang")(spark, "/root/testdata/sf0.001"))

    dump("Pagination-chain stitching via URL-keyed pointer doubling (q_web_pagination)",
      "Chains of length L settle in ceil(log2 L) doubling rounds over a " +
      "pointer table that holds ONLY declaring pages (rel=prev edges) — " +
      "the 10^12-page crawl contributes nothing unless it paginates. The " +
      "n_parts rollup and the id join-back both key on the member subset; " +
      "every exchange is (url, url, long) triples.",
      SparkEntry.queries("q_web_pagination")(spark, "/root/testdata/sf0.001"))

    dump("Chain-document assembly (q_web_chain_docs)",
      "The stitched pagination output CONSUMED: member spans join chains " +
      "on doc_id (inner — non-paginating pages contribute nothing), then " +
      "ONE window renumbers in (pos, ord) under the chain head. The window " +
      "partition is a single logical chain — bounded by chain length × " +
      "spans/page, never corpus size — the rare window that is scale-safe " +
      "by construction.",
      SparkEntry.queries("q_web_chain_docs")(spark, "/root/testdata/sf0.001"))

    dump("Containment near-dup pairs (q_containment_pairs)",
      "Same two-bounded-aggregation shape as the Jaccard op (df-capped " +
      "posting lists with the countDistinct semi-join killing stop-shingles " +
      "BEFORE any posting list materializes, then the pair-count rollup), " +
      "but the prefilter compares capped intersections against " +
      "min(|A|,|B|) — intersection-free denominator, so the capped test is " +
      "monotone and the exact verify only ever confirms survivors upward. " +
      "Text leaves the scan as 64-bit shingle hashes; the verify joins " +
      "touch only candidate docs.",
      SparkEntry.queries("q_containment_pairs")(spark, dir))

    dump("Positional phrase search (q_phrase_search)",
      "Inverted-index-free adjacency search: the phrase table broadcasts, " +
      "the corpus token stream is cut to phrase-term hits by a map-side " +
      "InSet BEFORE any exchange, and occurrence detection is ONE " +
      "map-side-combined aggregate on (q_id, doc_id, implied-start) — " +
      "countDistinct(offset) == phrase length — followed by the per-doc " +
      "rollup. No k-way self-join, no window; every exchange carries " +
      "4-long rows bounded by term hits.",
      SparkEntry.queries("q_phrase_search")(spark, dir))

    dump("Windowed proximity search (q_window_search)",
      "Same broadcast-probe + witness-start shape as the phrase op, but " +
      "each posting witnesses its whole 8-start window via an in-row " +
      "sequence explode (a plan-time-constant fan-out of the TERM-HIT " +
      "stream, not the corpus) and the distinct-term count per start is a " +
      "genuine countDistinct — the expand it plans is bounded by " +
      "hits x window.",
      SparkEntry.queries("q_window_search")(spark, dir))

    dump("Token-distribution entropy (q_doc_entropy)",
      "One (doc_id, tok) count shuffle off the scan; the per-doc totals, " +
      "the entropy-term join and the final rollup all key on doc_id, so " +
      "the downstream exchanges reuse one hash partitioning. The per-type " +
      "term is the codegen'd entropy_term_micro expression — micro-nat " +
      "longs sum exactly, no float aggregate anywhere, and no row ever " +
      "holds a whole doc's histogram.",
      SparkEntry.queries("q_doc_entropy")(spark, dir))

    // harness-exempt java.nio: PLANS.md is a generated document of the
    // checkout it runs in (the working directory)
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      out.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[plandump] wrote PLANS.md (${out.length} chars)")
    spark.stop()
  }
}
