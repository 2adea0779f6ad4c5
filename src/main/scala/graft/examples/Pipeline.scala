package graft.examples

import graft.{GraftSession, Tables}
import graft.ops.{Chunking, Classify, Dedup, Export, Graph, LangModel, Similarity, TextStats}
import org.apache.spark.sql.functions._

/** Runnable end-to-end TRAINING-DATA pipeline over the test corpus — the
  * composition a pretraining prep job actually runs, each stage a
  * harness-verified operator, all of it one lazy DataFrame program until
  * the final actions:
  *
  *   quality gate → repetition filter → block-level boilerplate removal
  *   → substring span dedup → LM fluency filter → near-dup dedup
  *   (MinHash-LSH → verify → components → keep-one) → span-level
  *   benchmark decontamination → NB classifier labeling →
  *   sqrt-temperature language rebalancing → PII redaction → chunking →
  *   strict next-fit sequence packing, plus the embedding-side semantic
  *   dedup and a drift report.
  *
  * Run: `sbt "runMain graft.examples.Pipeline"` (sf0.001 by default;
  * pass an sf dir to scale up). Prints per-stage survivor counts.
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    def stage(name: String, n: Long): Unit = println(f"[pipeline] $name%-28s $n%8d rows")

    val docs = Tables.documents(spark, dir)
    stage("corpus", docs.count())

    // 1. quality gate: keep docs passing length + alpha-ratio thresholds
    val quality = docs.filter(TextStats.qualityGate(col("text")))
    stage("quality gate", quality.count())

    // 1b. in-document repetition filter (Gopher/Dolma): drop pages whose
    //     top-n-gram or duplicated-5-gram char mass crosses the thresholds
    val unrepetitive = quality
      .join(TextStats.repetitionSignals(quality, "doc_id", "text")
        .filter(!col("repetitive")).select("doc_id"), "doc_id")
    stage("repetition filter", unrepetitive.count())

    // 2. cross-document boilerplate removal (block-level exact dedup)
    val deboiler = Dedup.blockDedup(unrepetitive, "doc_id", "text", blockTokens = 20)
      .withColumnRenamed("clean_text", "text")
    stage("block dedup", deboiler.count())

    // 3. any-offset repeated-passage removal (ExactSubstr-style spans)
    val spanned = Dedup.exactSubstringDedup(deboiler, "doc_id", "text")
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("clean_text").as("text"))
    stage("substring dedup", spanned.count())

    // 4. LM fluency filter: drop the least-fluent tail (worst 10% NLL).
    //    The EXACT deterministic decile (LangModel.exactNllCut) keeps the
    //    whole pipeline lazy and oracle-replayable — p01 gates this very
    //    chain; swap in stat.approxQuantile at corpus sizes where a
    //    global row_number sort is unaffordable
    val scoredLm = LangModel.perplexityScoreSelf(spanned, "doc_id", "text")
    val fluent = spanned
      .join(scoredLm.select("doc_id", "n_transitions", "nll_nats"), "doc_id")
      .crossJoin(broadcast(LangModel.exactNllCut(scoredLm, "doc_id")))
      .filter(col("n_transitions") === 0 || col("nll_nats") <= col("nll_cut"))
      .select(col("doc_id"), col("text"))
    stage("LM fluency filter", fluent.count())

    // 5. near-dup dedup: exact n-gram Jaccard pairs → connected
    //    components → min-id representative per cluster
    val kept = Dedup.nearDupDedup(
      fluent.join(quality.select("doc_id", "lang"), "doc_id"),
      "doc_id", "text", blockCol = "lang")
    stage("near-dup keep-one", kept.count())

    // 6. SPAN-level benchmark decontamination: excise overlapping 8-word
    //    spans (benchmark: a deterministic 1/16 hash-sample stand-in),
    //    dropping a doc only when nothing survives
    val bench = kept.filter(Chunking.hashSample(col("doc_id"), keepHexDigits = 1))
      .select(col("doc_id").as("b_id"), col("text"))
    // Materialize: the span-decontamination plan on top of the five
    // stages above is the chain's heaviest subtree; without the break,
    // stage 7's window re-derives it and the accumulated AQE plan alone
    // exhausts an 8 GiB driver (p01's gate measured the same recompute
    // amplification at 14×)
    val cleanDocs = graft.ops.Caches.localCheckpointTracked(
      Dedup.decontaminateSpans(
          kept.join(bench, kept("doc_id") === bench("b_id"), "leftanti"),
          bench, "doc_id", "text")
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("clean_text").as("text")))
    stage("decontaminated", cleanDocs.count())

    // 6b. model-based language assignment (the fastText role, x108):
    //     train the NB classifier on the labeled 80% slice, predict a
    //     label for EVERY surviving doc — downstream mixing keys on the
    //     model's label, so unlabeled or mislabeled arrivals still land
    //     in the right bucket (s17 runs this same frozen-model scoring
    //     at the streaming ingest edge)
    val labeled = docs.join(cleanDocs.select("doc_id"), "doc_id")
    val nbModel = Classify.trainNaiveBayes(
      labeled.filter(col("doc_id") % 5 =!= 0), "lang", "text")
    val predLang = Classify.nbScore(cleanDocs, "doc_id", "text", nbModel)
      .select(col("doc_id"), col("pred_label").as("lang"))
    stage("classifier-labeled", predLang.count())

    // 7. sqrt-temperature language rebalancing (downsample-only α = 0.5)
    //    over the MODEL's labels
    val balanced = Chunking.temperatureMix(
        cleanDocs.join(predLang, "doc_id"), "lang", "doc_id")
      .filter(col("keep"))
      .select("doc_id", "text")
    stage("temperature mix", balanced.count())

    // 8. PII scrub + chunking + fixed-capacity sequence packing.
    // Materialize here: three downstream consumers (chunking, the shard
    // export write, the manifest) would otherwise each re-derive the
    // whole 7-stage chain — the same recompute amplification p01's gate
    // measured at 14× (and enough transient plans to OOM an 8 GiB
    // driver at sf0.001)
    val scrubbed = graft.ops.Caches.localCheckpointTracked(
      balanced.select(col("doc_id"),
        TextStats.redactPii(col("text")).as("text")))
    val chunks = Chunking.chunk(scrubbed, "doc_id", "text",
      chunkTokens = 50, overlap = 10)
    stage("chunks", chunks.count())
    // strict next-fit: no pack exceeds the context capacity, so the
    // training loader never truncates (packChunks' cumsum form may
    // overrun a pack by one chunk)
    val packs = Chunking.packChunksStrict(
      chunks.withColumn("source", lit("corpus")),
      "source", "n_chunk_tokens", capacity = 256, Seq("doc_id", "chunk_idx"))
    stage("training packs", packs.select("source", "pack_id").distinct().count())

    // 8b. the LAST MILE: deterministic md5-sharded export of the scrubbed
    //     document corpus (packs stay keyed by chunk for 8a's consumers)
    //     + the verifiable manifest (counts, id bounds, commuting
    //     checksum) a training job validates before reading
    val exportDir = java.nio.file.Files.createTempDirectory("pipeline_export_")
    Export.exportShards(scrubbed, "doc_id", exportDir.toString, nShards = 8)
    Export.shardManifest(scrubbed, "doc_id", "text", nShards = 8)
      .collect()
      .foreach(r => println(f"[pipeline] shard ${r.getLong(0)}%d: " +
        f"${r.getLong(1)}%d docs, ${r.getLong(2)}%d tokens, checksum ${r.getLong(5)}%d"))
    graft.util.Fs.deleteTree(exportDir)

    // 9. embedding-side semantic dedup (banded LSH → verify → CC → keep-one)
    val emb = Tables.embeddings(spark, dir)
    val semKept = Similarity.semanticDedup(emb, "embedding", "vec_id",
      threshold = 0.9)
    stage("embeddings kept", semKept.count())

    // 9b. the SERVING last mile on the embedding side: encode the
    //     surviving vectors into the IVF×PQ index (the x58/x73 written
    //     shape) and batch-serve a query sample over it (x75) — the
    //     retrieval surface a data-curation loop queries. Corpus and
    //     query sample are DISJOINT (the x75/p03 split): indexing the
    //     queries too would make every top-1 the query itself.
    val servCorpus = semKept.filter(col("vec_id") % 50 =!= 0)
    val (cents, assigned) = Similarity.ivfBuild(servCorpus, "embedding", "vec_id")
    val cb = Similarity.pqBuildCodebook(servCorpus, "embedding", "vec_id")
    val served = Similarity.ivfPqServeAll(cents,
      Similarity.ivfPqEncode(assigned, "vec_id", cb), servCorpus,
      "embedding", "vec_id",
      semKept.filter(col("vec_id") % 50 === 0), "vec_id", cb, k = 5)
    stage("ANN results served", served.count())

    // 9c. GRAPH curation pass over the survivors: the k-NN graph is the
    //     maintained artifact (x72 build / x90 delta / x91 compaction /
    //     s16 streaming); reciprocal pairs at cos ≥ 0.4 give the
    //     high-precision residual-dup communities, PageRank the
    //     representativeness prior, and the keeper rule retains the most
    //     CENTRAL member per community (x99 — vs keep-one's min-id and
    //     SemDeDup's outlier rules); the size histogram is the
    //     dataset-card dup-mass summary (x104)
    val g = graft.ops.Caches.localCheckpointTracked(
      Similarity.knnGraphCells(semKept, "embedding", "vec_id", k = 5)
        .select("src_id", "nbr_id", "cos_sim", "rank"))
    val comps = Dedup.connectedComponents(semKept.select("vec_id"), "vec_id",
      Graph.mutualKnnPairs(g).filter(col("cos_sim") >= 0.4)
        .select("a_id", "b_id"))
    val pr = Graph.pageRank(g.select("src_id", "nbr_id"),
      semKept.select("vec_id"), "vec_id")
    val w9 = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("pr_fix").desc, col("id").asc)
    val keepers = comps
      .join(pr.select(col("vec_id").as("id"), col("pr_fix")), "id")
      .withColumn("rk", row_number().over(w9)).filter(col("rk") === 1)
    stage("graph-curated keepers", keepers.count())
    comps.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_components"))
      .orderBy("csize").collect()
      .foreach(r => println(f"[pipeline] dup communities of size ${r.getLong(0)}%d: ${r.getLong(1)}%d"))

    // 10. drift report over the surviving corpus (KL vs the whole)
    LangModel.distributionDrift(
        balanced.join(quality.select("doc_id", "lang"), "doc_id"),
        "lang", "text")
      .orderBy(col("kl_nats").desc)
      .collect()
      .foreach(r => println(f"[pipeline] drift ${r.getString(0)}%-6s " +
        f"kl=${r.getDouble(2)}%.4f over ${r.getLong(1)}%d tokens"))

    // 10b. the round-14 telemetry row the curation loop reads each
    //      refresh: WHICH tokens moved between corpus halves (x138 —
    //      the attribution behind the KL alarm above), how the frozen
    //      tokenizer fits each language (x140), and what the top source
    //      is about (x142)
    LangModel.tokenDriftMovers(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), "text", topK = 3)
      .collect()
      .foreach(r => println(f"[pipeline] drift mover '${r.getString(0)}%s' " +
        f"${r.getLong(1)}%d vs ${r.getLong(2)}%d"))
    graft.ops.Bpe.fertilityReport(docs, "lang", "text")
      .collect()
      // fertility_permille is null for a language with zero words
      // (whitespace-only texts) — print n/a rather than throw
      .foreach(r => println(f"[pipeline] fertility ${r.getString(0)}%-6s " +
        (if (r.isNullAt(5)) "n/a" else f"${r.getLong(5)}%d ids/1000 words")))
    TextStats.tfidfSalience(docs, "doc_id", "source", "text", topK = 3)
      .orderBy("source", "rk").collect()
      .foreach(r => println(f"[pipeline] salient ${r.getString(0)}%-6s " +
        f"#${r.getInt(5)}%d '${r.getString(1)}%s'"))

    graft.ops.Caches.releaseAll()
    spark.stop()
    sys.exit(0)
  }
}
