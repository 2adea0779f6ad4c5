package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY.md §2.B
  * [EXT]): exact, n-gram Jaccard (exact verification path), MinHash+LSH
  * and SimHash (approximate scale paths).
  *
  * Scale design (100 TB): signatures are computed per-row with codegen'd
  * higher-order functions — no shuffle, no UDF, no driver state. The only
  * shuffles are the LSH band-bucket join (keys are uniform hashes → no
  * skew) and the candidate-pair aggregation, whose input is orders of
  * magnitude smaller than the corpus. The exact-Jaccard variant shuffles
  * one row per (doc, distinct n-gram) and self-joins — correct but
  * quadratic in hot n-grams, so it is the small-scale oracle/verify path,
  * not the 100 TB path.
  *
  * Cache ownership: the pair operators persist their signature/n-gram
  * intermediates (consumed 2-3× inside one returned plan — recomputing
  * them tripled runtime). Every persisted/checkpointed intermediate is
  * registered with [[Caches]]; callers release them via
  * `Caches.releaseAll()` once the returned frame is no longer referenced
  * (the harness Verify/Bench mains do this per query).
  */
object Dedup {

  /** Exact dedup: keep the lowest id per identical key. */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** C4-style BLOCK-level corpus dedup with reassembly: split each doc
    * into fixed `blockTokens`-token blocks, drop every block whose exact
    * text occurs elsewhere in the corpus unless this is its FIRST
    * occurrence (lexicographic min of (doc_id, block_idx)), and
    * reassemble each doc's surviving blocks in order. The
    * pretraining-corpus counterpart of row-level [[exact]]: boilerplate
    * repeated ACROSS documents (headers, licenses, navigation) disappears
    * while unique content survives. Docs whose every block was seen
    * earlier drop out entirely.
    *
    * Scale shape: one posexplode (rows ≈ corpus tokens / blockTokens),
    * ONE shuffle keyed by block text (uniform — identical blocks are the
    * rare case by construction) whose first-occurrence pick is a
    * map-side-combinable min(struct) aggregate (no window, no sort), and
    * one per-doc regroup. Linear end to end; no self-join. */
  def blockDedup(docs: DataFrame, idCol: String, textCol: String,
                 blockTokens: Int = 20): DataFrame = {
    require(blockTokens > 0, s"blockTokens must be positive, got $blockTokens")
    val blocks = docs
      .withColumn("toks", split(col(textCol), " "))
      // ceil(n/b)-1 = floor((n-1)/b); split() yields >= 1 token, so the
      // sequence upper bound is always >= 0
      .select(col(idCol), posexplode(transform(
        sequence(lit(0),
          floor((size(col("toks")) - 1).cast("double") / blockTokens).cast("int")),
        i => concat_ws(" ", slice(col("toks"), i * blockTokens + 1, lit(blockTokens))))))
      .withColumnRenamed("pos", "block_idx")
      .withColumnRenamed("col", "block_text")
    val firsts = blocks
      .groupBy(col("block_text"))
      .agg(min(struct(col(idCol), col("block_idx"))).as("keep"))
      .select(col(s"keep.$idCol").as(idCol),
        col("keep.block_idx").as("block_idx"), col("block_text"))
    firsts
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("block_idx"), col("block_text")))),
          s => s.getField("block_text")), " ").as("clean_text"),
        count(lit(1)).as("n_blocks"))
  }

  /** ExactSubstr-style SPAN dedup (the suffix-array substring dedup of
    * the public "Deduplicating Training Data" line of work, re-expressed
    * as a distributed fixed-window pass): slide a `windowWords`-word
    * window over every document (stride 1), find windows whose exact text
    * occurs anywhere else in the corpus, keep only the lexicographically
    * FIRST occurrence of each window content — min of (doc_id, pos) —
    * and delete every word covered by a non-first duplicate window.
    * Overlapping duplicate spans union into one covered interval set per
    * doc, so a long repeated passage disappears wholesale from later
    * docs while its first appearance survives verbatim. Unlike
    * [[blockDedup]]'s aligned blocks, the stride-1 windows catch
    * repeats at ANY offset — the C4-vs-ExactSubstr distinction.
    *
    * Scale shape: window rows ≈ corpus words (stride 1), keyed by
    * md5(window) — 16 bytes per key instead of the window text, the
    * fixed-width key an engine would use at 100 TB. One shuffle for the
    * first-occurrence min-struct aggregate (map-side combinable, no
    * window function), the dup-filter join reuses the same key, then a
    * per-(doc, word-pos) distinct + anti-join and one per-doc regroup —
    * all linear in corpus words; no self-join anywhere.
    *
    * Returns one row per input doc: (idCol, clean_text, n_words,
    * n_kept). Docs whose every word was covered keep n_kept = 0 and
    * clean_text = "" (they'd be dropped by a corpus-prep caller). */
  /** The stride-1 WINDOW INDEX shared by [[exactSubstringDedup]] (scrub),
    * [[duplicationScore]] (score) and [[decontaminateSpans]]
    * (decontaminate): one row per (doc, 1-based start pos) carrying the
    * md5 of that `windowWords`-word window — docs shorter than the
    * window contribute no rows. Per-row, shuffle-free, codegen'd; at
    * 100 TB this is the write-once artifact (`.write.parquet(...)`) that
    * all three operators then READ instead of re-tokenizing and
    * re-hashing the corpus per pass — hand the read-back frame to their
    * index-accepting overloads (ScaleSpec proves the persisted-index run
    * is bit-equal to the inline build). */
  def windowIndex(docs: DataFrame, idCol: String, textCol: String,
                  windowWords: Int = 8): DataFrame = {
    require(windowWords > 1, s"windowWords must be > 1, got $windowWords")
    windowIndexFromBase(
      docs.select(col(idCol), split(col(textCol), " ").as("toks")),
      idCol, windowWords)
  }

  /** [[windowIndex]] over a pre-tokenized (idCol, toks) frame — the
    * internal entry that lets the inline operator paths reuse their
    * persisted tokenization for the gram build. */
  private def windowIndexFromBase(base: DataFrame, idCol: String,
                                  windowWords: Int): DataFrame =
    base
      .filter(size(col("toks")) >= windowWords)
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), size(col("toks")) - (windowWords - 1)),
        i => md5(concat_ws(" ", slice(col("toks"), i, lit(windowWords)))))))
      .select(col(idCol), (col("pos") + 1).as("pos"), col("col").as("g"))

  def exactSubstringDedup(docs: DataFrame, idCol: String, textCol: String,
                          windowWords: Int = 8): DataFrame = {
    require(windowWords > 1, s"windowWords must be > 1, got $windowWords")
    // EAGER (r18, guide §5): the tokenized base feeds three subtrees
    // (gram index, word scrub, per-doc lengths) that evaluate in separate
    // jobs/broadcast builds — a lazy persist re-derived the whole
    // upstream chain per consumer (p01 profiled the quality+blockDedup
    // chain running 3× under this operator; ~25 s of its 81 s CPU)
    val base = Caches.localCheckpointTracked(
      docs.select(col(idCol), split(col(textCol), " ").as("toks")))
    exactSubstringDedupImpl(base,
      windowIndexFromBase(base, idCol, windowWords), idCol, windowWords)
  }

  /** [[exactSubstringDedup]] over a prebuilt [[windowIndex]] (read back
    * from its persisted form) — the corpus is still needed for the word
    * scrub/reassembly, but the gram build is the index scan. */
  def exactSubstringDedup(docs: DataFrame, index: DataFrame, idCol: String,
                          textCol: String, windowWords: Int): DataFrame = {
    require(windowWords > 1, s"windowWords must be > 1, got $windowWords")
    val base = Caches.persistTracked(
      docs.select(col(idCol), split(col(textCol), " ").as("toks")))
    exactSubstringDedupImpl(base, index, idCol, windowWords)
  }

  private def exactSubstringDedupImpl(base: DataFrame, grams: DataFrame,
                                      idCol: String,
                                      windowWords: Int): DataFrame = {
    val firsts = grams
      .groupBy(col("g"))
      .agg(min(struct(col(idCol), col("pos"))).as("keep"))
    val dupOccurrences = grams
      .join(firsts, "g")
      .filter(struct(col(idCol), col("pos")) =!= col("keep"))
      .select(col(idCol), col("pos"))
    val covered = dupOccurrences
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (windowWords - 1))).as("wp"))
      .distinct()
    removeCoveredWords(base, covered, idCol)
  }

  /** Shared span-excision tail of [[exactSubstringDedup]] and
    * [[decontaminateSpans]]: given `base` (idCol, toks) and the covered
    * 1-based word positions, drop covered words and reassemble each doc
    * in position order → (idCol, clean_text, n_words, n_kept). */
  private def removeCoveredWords(base: DataFrame, covered: DataFrame,
                                 idCol: String): DataFrame = {
    val words = base
      .select(col(idCol), posexplode(col("toks")))
      .select(col(idCol), (col("pos") + 1).as("wp"), col("col").as("w"))
    val kept = words
      .join(covered, Seq(idCol, "wp"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("wp"), col("w")))),
          s => s.getField("w")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    base
      .select(col(idCol), size(col("toks")).cast("long").as("n_words"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_words"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Per-doc DUPLICATION score — the memorization-risk audit: the
    * fraction of a doc's stride-1 `windowWords`-word windows whose exact
    * text occurs MORE THAN ONCE in the corpus (anywhere — other docs or
    * a repeat within the same doc). 0 = fully novel text; 1 = everything
    * this doc says is said elsewhere. The read-only companion of
    * [[exactSubstringDedup]] (same windows, same md5 keys): run the
    * score to DECIDE, the scrub to ACT. One grouped count keyed by
    * md5(window) + the same-key join back + a per-doc aggregate —
    * linear in corpus words, no self-join. Returns one row per doc:
    * (idCol, n_windows, n_dup_windows, dup_ratio); docs shorter than
    * the window report 0 windows and a null ratio. */
  def duplicationScore(docs: DataFrame, idCol: String, textCol: String,
                       windowWords: Int = 8): DataFrame = {
    require(windowWords > 1, s"windowWords must be > 1, got $windowWords")
    val base = Caches.persistTracked(
      docs.select(col(idCol), split(col(textCol), " ").as("toks")))
    duplicationScoreImpl(base.select(col(idCol)),
      windowIndexFromBase(base, idCol, windowWords), idCol)
  }

  /** [[duplicationScore]] over a prebuilt [[windowIndex]] — read-only
    * scoring needs nothing but the index and the doc-id universe. */
  def duplicationScore(docs: DataFrame, index: DataFrame, idCol: String,
                       textCol: String, windowWords: Int): DataFrame = {
    require(windowWords > 1, s"windowWords must be > 1, got $windowWords")
    duplicationScoreImpl(docs.select(col(idCol)), index, idCol)
  }

  private def duplicationScoreImpl(docIds: DataFrame, index: DataFrame,
                                   idCol: String): DataFrame = {
    val gramsP = Caches.persistTracked(index.select(col(idCol), col("g")))
    val occ = gramsP.groupBy(col("g")).agg(count(lit(1)).as("n_occ"))
    val perDoc = gramsP
      .join(occ, "g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
    docIds
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 6)
          .as("dup_ratio"))
  }

  /** SPAN-level benchmark decontamination: instead of dropping every doc
    * that overlaps the held-out set ([[contaminatedDocs]] — the blunt
    * instrument), EXCISE exactly the words covered by any `windowWords`-
    * word window whose text occurs anywhere in the benchmark, and keep
    * the rest of the doc. The [[exactSubstringDedup]] interval-union
    * machinery pointed at an external reference set: same md5 window
    * keys, same covered-position scrub, but membership comes from a
    * leftsemi join against the benchmark's distinct window set (at
    * 100 TB the benchmark side is tiny and broadcasts; the corpus-sized
    * work stays linear in corpus words). Returns (idCol, clean_text,
    * n_words, n_kept) for every corpus doc. */
  def decontaminateSpans(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         windowWords: Int = 8): DataFrame = {
    require(windowWords > 1, s"windowWords must be > 1, got $windowWords")
    val base = Caches.persistTracked(
      corpus.select(col(idCol), split(col(textCol), " ").as("toks")))
    decontaminateSpansImpl(base,
      windowIndexFromBase(base, idCol, windowWords),
      benchmark, idCol, textCol, windowWords)
  }

  /** [[decontaminateSpans]] over a prebuilt corpus [[windowIndex]] — the
    * benchmark side is re-windowed inline (it is the tiny side and
    * broadcasts; the corpus-sized gram build is the index scan). */
  def decontaminateSpans(corpus: DataFrame, benchmark: DataFrame,
                         index: DataFrame, idCol: String, textCol: String,
                         windowWords: Int): DataFrame = {
    require(windowWords > 1, s"windowWords must be > 1, got $windowWords")
    val base = Caches.persistTracked(
      corpus.select(col(idCol), split(col(textCol), " ").as("toks")))
    decontaminateSpansImpl(base, index, benchmark, idCol, textCol, windowWords)
  }

  private def decontaminateSpansImpl(base: DataFrame, grams: DataFrame,
                                     benchmark: DataFrame, idCol: String,
                                     textCol: String,
                                     windowWords: Int): DataFrame = {
    val benchGrams = benchmark
      .withColumn("toks", split(col(textCol), " "))
      .filter(size(col("toks")) >= windowWords)
      .select(explode(array_distinct(transform(
        sequence(lit(1), size(col("toks")) - (windowWords - 1)),
        i => md5(concat_ws(" ", slice(col("toks"), i, lit(windowWords))))))).as("g"))
      .distinct()
    val covered = grams
      .join(benchGrams, Seq("g"), "leftsemi")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (windowWords - 1))).as("wp"))
      .distinct()
    removeCoveredWords(base, covered, idCol)
  }

  /** Distinct word n-grams per document, 1-based positions (matches the
    * DuckDB oracle's list semantics). Documents shorter than n words drop. */
  def ngrams(docs: DataFrame, textCol: String, n: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    docs
      .withColumn("toks", toks)
      .filter(size(col("toks")) >= n)
      .withColumn("g", explode(array_distinct(
        transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(col("toks"), i + k)): _*)))))
      .drop("toks")
  }

  /** Exact n-gram Jaccard pairs within a blocking column (e.g. lang):
    * shared-n-gram self-join → common counts → |A∩B| / (|A|+|B|-|A∩B|). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int, threshold: Double): DataFrame = {
    val tri = Caches.persistTracked(
      ngrams(docs.select(col(idCol), col(blockCol), col(textCol)), textCol, n)
        .select(col(idCol), col(blockCol), col("g"))
    ) // consumed by the size agg and both self-join sides
    val sizes = tri.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val a = tri.select(col(idCol).as("a_id"), col(blockCol).as("blk"), col("g"))
    val b = tri.select(col(idCol).as("b_id"), col(blockCol).as("blk"), col("g"))
    val common = a.join(b, Seq("blk", "g"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("n_grams", "na"), common("a_id") === sizes(idCol)).drop(idCol)
      .join(sizes.withColumnRenamed("n_grams", "nb"), common("b_id") === sizes(idCol)).drop(idCol)
      .withColumn("jac", col("common").cast("double") /
        (col("na") + col("nb") - col("common")))
      .filter(col("jac") >= threshold)
      .select("a_id", "b_id", "common", "na", "nb", "jac")
  }

  /** DEDUP-RATE dial ladder (the x155 recall-cost-ladder discipline
    * applied to the dedup lane): the pair step runs ONCE at the
    * LOOSEST threshold with exact Jaccard values attached — threshold
    * sets NEST (jac ≥ t₂ ⊆ jac ≥ t₁ for t₁ < t₂) — and each dial is a
    * filter slice pushed through connected components and retention.
    * One row per dial: (tau_permille, n_pairs, n_dup_clusters,
    * n_removable) — the tuning table a dedup deployer reads before
    * freezing τ (harness query x158 gates all dials under one oracle).
    *
    * Engine-robustness of the dial compare: jac is the IEEE quotient
    * of exact integer counts (common / (na+nb−common)) — division is
    * correctly rounded and bit-identical across engines (no libm in
    * the lane, unlike the ln gates), so `jac ≥ τ` agrees even for a
    * pair sitting exactly AT the boundary; no dead-band needed.
    *
    * 100 TB shape: grams/sizes/pairs are computed once and
    * checkpointed (the expensive stage); each dial re-runs only the
    * pair-sized slice + components — per-dial CC is the real
    * incremental cost and is exactly what the table prices. At scale,
    * feed the slice from the LSH production pair step (x149) instead
    * of the exact self-join — the ladder tail is identical. */
  def dedupRateLadder(docs: DataFrame, idCol: String, textCol: String,
                      blockCol: String, n: Int,
                      taus: Seq[Double]): DataFrame = {
    require(taus.nonEmpty, "need at least one threshold dial")
    require(taus.sliding(2).forall(w => w.size < 2 || w(0) < w(1)),
      s"thresholds must be strictly increasing: $taus")
    val nDocs = docs.select(col(idCol)).agg(count(lit(1)).as("__n"))
    val pairs = Caches.localCheckpointTracked(
      ngramJaccardPairs(docs, idCol, textCol, blockCol, n, taus.min)
        .select(col("a_id"), col("b_id"), col("jac")))
    taus.map { t =>
      val sel = pairs.filter(col("jac") >= t)
      val comp = connectedComponents(docs.select(col(idCol)), idCol, sel)
      val sizes = comp.groupBy("cluster_id").agg(count(lit(1)).as("__sz"))
      val rep = sizes.agg(count(lit(1)).as("__n_clusters"),
        sum(when(col("__sz") >= 2, 1L).otherwise(0L)).as("n_dup_clusters"))
      val np = sel.agg(count(lit(1)).as("n_pairs"))
      rep.crossJoin(np).crossJoin(nDocs)
        .select(lit(math.round(t * 1000).toInt).as("tau_permille"),
          col("n_pairs"), col("n_dup_clusters"),
          (col("__n") - col("__n_clusters")).as("n_removable"))
    }.reduce(_.unionByName(_))
  }

  /** MinHash signature of a document's distinct n-gram set: for each of
    * `nHashes` seeded hash functions, the min hash over the set. Computed
    * per-row (no explode/shuffle) via one left-fold over the grams with an
    * array-of-minima accumulator. The fold evaluates its input array once,
    * so each gram is string-hashed once and the `nHashes` family members
    * are derived by rehashing that long — a naive seed-per-pass loop would
    * re-string-hash every gram `nHashes` times (higher-order args are
    * re-evaluated per outer-lambda iteration). */
  def minhashSignature(gramsCol: Column, nHashes: Int): Column =
    graft.functions.TextExpressions.minhashSigNative(gramsCol, nHashes,
      portable = false)

  /** HOF-composed twin of [[minhashSignature]], kept for the bit-parity
    * spec (the native expression replays exactly this fold). */
  private[graft] def minhashSignatureComposed(gramsCol: Column, nHashes: Int): Column =
    aggregate(
      transform(gramsCol, g => xxhash64(g)),
      array_repeat(lit(Long.MaxValue), nHashes),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(nHashes - 1)),
        (m, i) => least(m, xxhash64(h, i))))

  import graft.functions.PortableHash.md5u32

  /** Engine-portable MinHash signature: gram → low-32 md5, family member i
    * = (aᵢ·m + bᵢ) mod 2³¹−1 with md5-derived affine constants (a 2-universal
    * family — plan literals, like [[graft.functions.VectorFunctions.rhpPlanes]]).
    * Every step is integer arithmetic any engine reproduces bit-for-bit, so
    * a DuckDB oracle can rebuild identical signatures (the x24 oracle does).
    * Per gram this is ONE string hash + nHashes multiply-adds, vs
    * [[minhashSignature]]'s nHashes rehashes — cheaper per gram; xxhash64
    * stays on the LSH hot path where portability isn't needed.
    * No overflow under ANSI: a < 2³⁰, m < 2³², so a·m+b < 2⁶³. */
  def portableMinhashSignature(gramsCol: Column, nHashes: Int): Column =
    graft.functions.TextExpressions.minhashSigNative(gramsCol, nHashes,
      portable = true)

  /** HOF-composed twin of [[portableMinhashSignature]] for the parity
    * spec; also the shape the x24 oracle mirrors in SQL. */
  private[graft] def portableMinhashSignatureComposed(gramsCol: Column,
                                                      nHashes: Int): Column = {
    val M = 2147483647L
    val as = Array.tabulate(nHashes)(i => md5u32(s"mh:a:$i") % 268435456L * 2 + 1)
    val bs = Array.tabulate(nHashes)(i => md5u32(s"mh:b:$i") % M)
    aggregate(
      transform(gramsCol, g => conv(substring(md5(g), 1, 8), 16, 10).cast("long")),
      array_repeat(lit(Long.MaxValue), nHashes),
      (acc, m) => zip_with(acc, sequence(lit(0), lit(nHashes - 1)),
        (mn, i) => least(mn,
          (element_at(lit(as), i + 1) * m + element_at(lit(bs), i + 1)) % M)))
  }

  /** The PRODUCTION LSH dial tuple: the n-gram width, signature size,
    * band count and candidate cut the scale path runs with, plus the
    * exact-Jaccard verify cut it feeds. ONE constant shared by the
    * OpsSpec full-recall pin (LSH candidates ⊇ every exact
    * Jaccard≥`jaccardThreshold` pair on the gate fixture) and gated
    * query x149 (which serves these dials under x143's exact-path
    * oracle) — x149's full-oracle validity RESTS on the pin, so the
    * two must be mechanically unable to drift (VERDICT r15 #6). */
  final case class LshDials(n: Int, nHashes: Int, bands: Int,
                            lshThreshold: Double, jaccardThreshold: Double)
  val lshProductionDials: LshDials = LshDials(
    n = 3, nHashes = 64, bands = 16, lshThreshold = 0.35,
    jaccardThreshold = 0.5)

  /** MinHash + LSH banding candidate pairs with signature-estimated
    * Jaccard. `bands` × `rowsPerBand` must equal `nHashes`; two docs
    * collide iff some band of their signatures is identical. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, nHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5): DataFrame = {
    require(nHashes % bands == 0, s"bands=$bands must divide nHashes=$nHashes")
    val r = nHashes / bands
    val toks = split(col(textCol), " ")
    val sigs0 = docs
      .withColumn("toks", toks)
      .filter(size(col("toks")) >= n)
      .withColumn("grams", array_distinct(
        transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(col("toks"), i + k)): _*))))
      .withColumn("sig", minhashSignature(col("grams"), nHashes))
      .select(col(idCol), col("sig"))
    // reused by the banding explode and two post-candidate joins; without
    // persistence each branch recomputes every signature
    val sigsP = Caches.persistTracked(sigs0)
    // band hash: one long per band over its signature slice
    val banded = sigsP
      .withColumn("band", explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band_idx"),
          xxhash64(slice(col("sig"), b * r + 1, lit(r)), b).as("band_hash")))))
      .select(col(idCol), col("band.band_idx"), col("band.band_hash"), col("sig"))
    // Candidate pairs dedupe on ids only — carrying the 64-long signature
    // arrays through the join+distinct shuffle triples its cost; join the
    // (small) signature table back afterwards instead.
    val l = banded.select(col(idCol).as("a_id"), col("band_idx"), col("band_hash"))
    val rgt = banded.select(col(idCol).as("b_id"), col("band_idx"), col("band_hash"))
    val pairs = l.join(rgt, Seq("band_idx", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    pairs
      .join(sigsP.select(col(idCol).as("a_id"), col("sig").as("sig_a")), "a_id")
      .join(sigsP.select(col(idCol).as("b_id"), col("sig").as("sig_b")), "b_id")
      .withColumn("est_jac",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0),
          (acc, v) => acc + v).cast("double") / nHashes)
      .filter(col("est_jac") >= threshold)
      .select("a_id", "b_id", "est_jac")
  }

  /** Incremental INGEST dedup — the daily-batch shape at corpus scale:
    * a new batch of documents is screened against the EXISTING corpus
    * (not against itself), so ingestion cost is proportional to the
    * batch, never to a corpus-wide re-dedup. MinHash-band both sides,
    * take candidates strictly ACROSS sides (the corpus side is exactly
    * the write-once band index a production pipeline keeps next to the
    * corpus — at 100 TB the banding of the corpus is precomputed and
    * this join prunes to the incoming batch's buckets), estimate-filter
    * on signature agreement, then exact n-gram-Jaccard verification
    * (same-`blockCol` only, the [[verifyPairsJaccard]] semantics).
    *
    * Returns one row per incoming doc: (idCol, kept, match_id,
    * n_matches) — `kept` = no verified corpus near-dup, `match_id` = the
    * smallest matching corpus id. Batch-INTERNAL duplicates are out of
    * scope by design (run [[nearDupDedup]] on the batch first); corpus
    * ids and incoming ids must be disjoint. */
  def incrementalNearDupFilter(corpus: DataFrame, incoming: DataFrame,
                               idCol: String, textCol: String,
                               blockCol: String, n: Int = 3,
                               nHashes: Int = 64, bands: Int = 16,
                               estThreshold: Double = 0.35,
                               verifyThreshold: Double = 0.5): DataFrame = {
    require(nHashes % bands == 0, s"bands=$bands must divide nHashes=$nHashes")
    val r = nHashes / bands
    def sigsOf(df: DataFrame): DataFrame = Caches.persistTracked(df
      .withColumn("toks", split(col(textCol), " "))
      .filter(size(col("toks")) >= n)
      .withColumn("sig", minhashSignature(gramArray(col("toks"), n), nHashes))
      .select(col(idCol), col("sig")))
    def bandsOf(sigs: DataFrame, asId: String): DataFrame = sigs
      .withColumn("band", explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band_idx"),
          xxhash64(slice(col("sig"), b * r + 1, lit(r)), b).as("band_hash")))))
      .select(col(idCol).as(asId), col("band.band_idx"), col("band.band_hash"))
    val cSigs = sigsOf(corpus)
    val iSigs = sigsOf(incoming)
    val cands = bandsOf(iSigs, "b_id")
      .join(bandsOf(cSigs, "a_id"), Seq("band_idx", "band_hash"))
      .select("a_id", "b_id").distinct()
    val est = cands
      .join(cSigs.select(col(idCol).as("a_id"), col("sig").as("sig_a")), "a_id")
      .join(iSigs.select(col(idCol).as("b_id"), col("sig").as("sig_b")), "b_id")
      .withColumn("est_jac", aggregate(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)), lit(0),
        (acc, v) => acc + v).cast("double") / nHashes)
      .filter(col("est_jac") >= estThreshold)
      .select("a_id", "b_id")
    val verified = verifyPairsJaccard(
      corpus.select(col(idCol), col(blockCol), col(textCol))
        .unionByName(incoming.select(col(idCol), col(blockCol), col(textCol))),
      idCol, textCol, blockCol, est, n, verifyThreshold)
    val matches = verified
      .groupBy(col("b_id").as(idCol))
      .agg(min(col("a_id")).as("match_id"), count(lit(1)).as("n_matches"))
    incoming.select(col(idCol))
      .join(matches, Seq(idCol), "left")
      .select(col(idCol),
        col("match_id").isNull.as("kept"),
        col("match_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
  }

  /** Word n-gram array from an ALREADY-MATERIALIZED token-array column
    * (distinct, order of first occurrence). The tokens must be a real
    * column, not an inline `split(...)` — expressions referenced inside
    * higher-order-function lambdas are re-evaluated per element, so an
    * inlined split would re-tokenize the text 3× per gram. Caller must
    * have filtered rows with fewer than n tokens (sequence bounds must
    * ascend). */
  private def gramArray(toksCol: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), size(toksCol) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(toksCol, i + k)): _*)))

  /** One MinHash sketch per group estimating the group's n-gram-set UNION
    * (per-row signatures merged map-side by the [[graft.functions.MinHashUnion]]
    * Aggregator — shuffles nHashes longs per group, never the gram sets).
    * min-union over per-row signatures equals the min over the group's
    * distinct gram set.
    *
    * `portable` picks the hash family: true (default) = the md5-affine
    * [[portableMinhashSignature]] family, externally replayable by any
    * engine (x24's full oracle) at ~1.5× signature-build cost; false = the
    * [[minhashSignature]] xxhash64 family — the fast choice for production
    * runs that don't need an external audit (the two families' sketches
    * are NOT comparable to each other; pick one per corpus). */
  def groupMinhashSketch(docs: DataFrame, groupCol: String, textCol: String,
                         n: Int = 3, nHashes: Int = 64,
                         portable: Boolean = true): DataFrame = {
    val sigOf: Column => Column =
      if (portable) portableMinhashSignature(_, nHashes)
      else minhashSignature(_, nHashes)
    docs
      .withColumn("toks", split(col(textCol), " "))
      .filter(size(col("toks")) >= n)
      .withColumn("sig", sigOf(gramArray(col("toks"), n)))
      .groupBy(col(groupCol))
      .agg(graft.functions.MinHashUnion(col("sig"), nHashes).as("sketch"))
  }

  /** Pairwise estimated Jaccard between group sketches (tiny frame —
    * one row per group pair). The sketch frame feeds BOTH cross-join
    * sides, so it is persisted here — without that, an unmaterialized
    * input (e.g. a fresh [[groupMinhashSketch]], whose per-row signature
    * aggregation is the expensive part) would be evaluated twice. */
  def sketchJaccardPairs(sketches: DataFrame, groupCol: String,
                         nHashes: Int = 64): DataFrame = {
    val sk = Caches.persistTracked(sketches)
    val a = sk.select(col(groupCol).as("a_grp"), col("sketch").as("sk_a"))
    val b = sk.select(col(groupCol).as("b_grp"), col("sketch").as("sk_b"))
    a.crossJoin(b).filter(col("a_grp") < col("b_grp"))
      .withColumn("est_jac",
        aggregate(zip_with(col("sk_a"), col("sk_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0),
          (acc, v) => acc + v).cast("double") / nHashes)
      .select("a_grp", "b_grp", "est_jac")
  }

  /** Exact-Jaccard verification of CANDIDATE pairs — the verify step of
    * the production near-dup pipeline (LSH emits candidates, this rescoring
    * keeps only true near-dups). Unlike [[ngramJaccardPairs]] (all-pairs,
    * quadratic in hot grams) this is linear in the candidate set: each
    * pair picks up its two gram ARRAYS via id-keyed joins and intersects
    * them per-row — no gram explode, no gram-keyed shuffle. Block parity
    * with the exact path: pairs crossing `blockCol` are discarded, so with
    * full-recall candidates the output EQUALS [[ngramJaccardPairs]] (same
    * columns, same jac arithmetic — common/(na+nb-common) over the same
    * integers). */
  def verifyPairsJaccard(docs: DataFrame, idCol: String, textCol: String,
                         blockCol: String, candidates: DataFrame,
                         n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // the gram arrays feed BOTH join sides — persist so the per-doc gram
    // build runs once, not twice (registered with Caches, harness-released)
    val sets = Caches.persistTracked(docs
      .withColumn("toks", split(col(textCol), " "))
      .filter(size(col("toks")) >= n)
      .select(col(idCol), col(blockCol), gramArray(col("toks"), n).as("grams")))
    val a = sets.select(col(idCol).as("a_id"), col(blockCol).as("a_blk"),
      col("grams").as("ga"))
    val b = sets.select(col(idCol).as("b_id"), col(blockCol).as("b_blk"),
      col("grams").as("gb"))
    candidates.select("a_id", "b_id")
      .join(a, "a_id").join(b, "b_id")
      .filter(col("a_blk") === col("b_blk"))
      .withColumn("common", size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .withColumn("na", size(col("ga")).cast("long"))
      .withColumn("nb", size(col("gb")).cast("long"))
      .withColumn("jac", col("common").cast("double") /
        (col("na") + col("nb") - col("common")))
      .filter(col("jac") >= threshold)
      .select("a_id", "b_id", "common", "na", "nb", "jac")
  }

  /** SimHash near-dup pairs: chunk blocking (a pair within Hamming
    * distance ≤ nChunks−1 must share at least one chunk — pigeonhole),
    * then exact Hamming verification via bit_count(xor).
    *
    * `chunkBits` is the SCALE dial: with w-bit chunks, expected bucket
    * fan-in is n²/2^w per chunk position, so candidates grow
    * superlinearly in corpus size at fixed w (measured 4.4× on 3× docs at
    * w=8 — BASELINE.md round-6 growth table). Widen to 16-bit chunks
    * (4 blocks, guarantee ≤3) at corpus scale to divide fan-in by 256;
    * the blocking granularity trades the Hamming radius it can guarantee
    * against candidate volume. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 7, chunkBits: Int = 8): DataFrame = {
    require(chunkBits == 8 || chunkBits == 16,
      s"chunkBits must be 8 or 16, got $chunkBits")
    val nChunks = 64 / chunkBits
    require(maxHamming <= nChunks - 1,
      s"$nChunks-chunk blocking only guarantees hamming <= ${nChunks - 1}")
    val mask = (1L << chunkBits) - 1
    val prints = Caches.persistTracked(docs
      .withColumn("fp", simhash63(TextStats.tokens(col(textCol))))
      .select(col(idCol), col("fp"))) // reused by both sides of the chunk join
    val chunked = prints.withColumn("chunk", explode(array(
      (0 until nChunks).map(j => struct(lit(j).as("j"),
        shiftrightunsigned(col("fp"), j * chunkBits).bitwiseAND(lit(mask)).as("v"))): _*)))
      .select(col(idCol), col("chunk.j"), col("chunk.v"), col("fp"))
    val l = chunked.select(col(idCol).as("a_id"), col("j"), col("v"), col("fp").as("fp_a"))
    val r = chunked.select(col(idCol).as("b_id"), col("j"), col("v"), col("fp").as("fp_b"))
    l.join(r, Seq("j", "v"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "fp_a", "fp_b").distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** Connected components over near-dup pairs: the pairs→clusters step a
    * real dedup pipeline needs (LSH emits pairs; retention policy needs
    * one keeper per component). Iterative min-label propagation with
    * pointer jumping: each round every vertex takes the min label among
    * itself and its neighbors, then compresses via label ← label(label).
    * With compression a round halves the label-tree height, so convergence
    * is O(log n) rounds (near-clique dedup clusters converge in 2-3); each
    * round is two joins + one aggregation over the EDGE set (pairs, not
    * corpus) and the per-round frame is localCheckpoint'd so lineage stays
    * flat. The driver loop carries only a convergence counter — the
    * standard distributed-CC shape (GraphX/GraphFrames do the same).
    *
    * Returns one row per vertex: (id, cluster_id), cluster_id = min id of
    * the component; singletons map to themselves. */
  def connectedComponents(vertices: DataFrame, idCol: String, pairs: DataFrame,
                          aCol: String = "a_id", bCol: String = "b_id",
                          maxIter: Int = 25): DataFrame = {
    // Both union branches read `pairs`; EAGERLY checkpoint the projection
    // so the (potentially expensive — e.g. a full LSH+verify pipeline or a
    // mutual-kNN graph build) pair build runs once, not once per round: a
    // lazily persisted pair frame is re-derived from scratch by the
    // per-round join jobs (the r17 pageRank finding). The pair blocks are
    // freed as soon as the symmetrized edge frame is materialized.
    val p0 = Caches.localCheckpointScoped(pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v")))
    val edgesCp =
      try Caches.localCheckpointScoped(
        p0.df.union(p0.df.select(col("v").as("u"), col("u").as("v"))))
      catch { case t: Throwable => p0.release(); throw t }
    p0.release()
    val edges = edgesCp.df
    // Iterate ONLY over pair-incident vertices: for near-dup graphs the
    // pair set is orders of magnitude smaller than the corpus, so the
    // per-round frames stay edge-sized; corpus-only vertices are appended
    // as self-labeled singletons once, after convergence.
    //
    // Driver-job economy: each round materializes eagerly (scoped local
    // checkpoint, keeping lineage flat) and immediately frees the PREVIOUS
    // round's blocks; the convergence count runs only every 2nd round —
    // min-label propagation is monotone (labels only decrease), so a
    // skipped check can at worst run one no-change round, never oscillate.
    var cur =
      try Caches.localCheckpointScoped(
        edges.select(col("u").as("id")).distinct()
          .select(col("id"), col("id").as("cluster_id")))
      catch { case t: Throwable => edgesCp.release(); throw t }
    var labels = cur.df
    var converged = false
    var iter = 0
    try while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.withColumnsRenamed(Map("id" -> "v", "cluster_id" -> "vl")), "v")
        .groupBy("u").agg(min(col("vl")).as("nbr_min"))
        .withColumnRenamed("u", "id")
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("cluster_id").as("prev"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))).as("mid"))
      val jump = labels.select(col("id").as("mid_id"), col("cluster_id").as("mid_label"))
      val next = Caches.localCheckpointScoped(
        stepped.join(jump, stepped("mid") === jump("mid_id"), "left")
          .select(col("id"), col("prev"),
            least(col("mid"), coalesce(col("mid_label"), col("mid"))).as("cluster_id")))
      // the convergence check is an action on `next` BEFORE it is adopted
      // as `cur` — a failure here must release next's blocks itself (the
      // outer catch only knows cur/edgesCp; ADVICE r17)
      if (iter % 2 == 1 || iter == maxIter - 1)
        converged =
          try next.df.filter(col("cluster_id") =!= col("prev")).isEmpty
          catch { case t: Throwable => next.release(); throw t }
      cur.release() // round N is materialized → free round N-1's blocks
      cur = next
      labels = next.df.select("id", "cluster_id")
      iter += 1
    } catch {
      // a mid-loop failure must not strand the live round's blocks
      case t: Throwable => cur.release(); edgesCp.release(); throw t
    }
    edgesCp.release()
    // the final round's blocks back the returned plan — registry-owned
    val finalLabels = Caches.adopt(cur).select("id", "cluster_id")
    val all = vertices.select(col(idCol).cast("long").as("id"))
    val singletons = all.join(finalLabels.select("id"), Seq("id"), "leftanti")
      .select(col("id"), col("id").as("cluster_id"))
    finalLabels.union(singletons)
  }

  /** The whole near-dup dedup pipeline as one call: exact n-gram Jaccard
    * pairs within `blockCol` ([[ngramJaccardPairs]]) → connected
    * components (edge-sized rounds) → keep the min-id doc per component.
    * Returns the retained rows of `docs` unchanged in schema. Harness
    * query x34 is this function under the exact path's oracle (x27).
    *
    * Every pair at Jaccard ≥ `threshold` is an edge, so the retention
    * set is exact. MinHash-LSH candidates cannot promise that: a pair at
    * exactly J = 1/2 shares one of 16 bands of 4 only with probability
    * 1 − (1 − 2⁻⁴)¹⁶ ≈ 0.64. On the harness corpora the gram self-join is
    * also the cheapest of the three candidate sources (sf0.01 docs on a
    * 4-vCPU host, median of 5: 1.39 s against 1.53 s for LSH + verify
    * and 1.99 s for the [[prefixJaccardParts]] filter + verify); the
    * prefix filter is the full-recall route for corpora whose hot grams
    * make the self-join quadratic. */
  def nearDupDedup(docs: DataFrame, idCol: String, textCol: String,
                   blockCol: String, n: Int = 3,
                   threshold: Double = 0.5): DataFrame = {
    val edges = ngramJaccardPairs(docs, idCol, textCol, blockCol, n, threshold)
    val comp = connectedComponents(docs.select(col(idCol)), idCol,
      edges.select("a_id", "b_id"))
    keepClusterRepresentatives(docs, idCol, comp)
  }

  /** Keep exactly the cluster representatives (id == cluster_id) of `df`,
    * i.e. the min-id document per near-dup component plus all singletons —
    * the retention step after [[connectedComponents]]. `components` must
    * be that function's raw output (columns `id`, `cluster_id`). */
  def keepClusterRepresentatives(df: DataFrame, idCol: String,
                                 components: DataFrame): DataFrame =
    df.join(components.filter(col("cluster_id") === col("id"))
        .select(col("id").as(idCol)),
      Seq(idCol), "leftsemi")

  /** LEAKAGE-SAFE train/val/test split: assign the split at the
    * NEAR-DUP-CLUSTER level, not the document level — the discipline
    * that keeps a validation document's near-duplicate out of train
    * (a doc-level hash split leaks every cluster that straddles the
    * cut, which is exactly the memorization-measurement failure the
    * split exists to prevent). `components` is
    * [[connectedComponents]]' raw output (`id`, `cluster_id`); the
    * split is a pure function of cluster_id — the first 4 md5 hex
    * digits of `<salt>:<cluster_id>` against permille cuts at
    * [[Chunking.hashKeepFraction]]'s 1/65536 granularity (val below
    * the val cut, test below val+test, train above) — so members of a
    * cluster CANNOT disagree, singletons split i.i.d., and the
    * assignment replays bit-for-bit in any engine.
    *
    * Scale shape: a per-row codegen'd expression over the cluster
    * frame — no shuffle beyond what component-finding already paid,
    * no coordination; expected split sizes are permille-exact over
    * clusters (doc-level fractions inherit cluster-size variance,
    * which is the price of leakage safety). */
  def leakageSafeSplit(components: DataFrame, valPermille: Int = 50,
                       testPermille: Int = 50,
                       salt: String = "split"): DataFrame = {
    require(valPermille >= 0 && testPermille >= 0 &&
      valPermille + testPermille <= 1000,
      s"permilles must be >= 0 and sum <= 1000: $valPermille/$testPermille")
    val valCut = math.floor(valPermille / 1000.0 * 65536 + 0.5).toInt
    val testCut = valCut +
      math.floor(testPermille / 1000.0 * 65536 + 0.5).toInt
    val u = conv(substring(md5(concat(lit(s"$salt:"),
      col("cluster_id").cast("string"))), 1, 4), 16, 10).cast("int")
    components.withColumn("split",
      when(u < valCut, lit("val"))
        .when(u < testCut, lit("test"))
        .otherwise(lit("train")))
  }

  /** CDC-chunk CONTAINMENT pairs — the consumer of
    * [[Chunking.contentDefinedChunks]]' `chunk_hash` dedup key: two docs
    * are scored by the token mass of the content-defined chunks they
    * SHARE, as a permille of the smaller doc's chunk mass (containment,
    * not Jaccard — a revision buried inside a longer doc still scores
    * high). Because CDC boundaries are content-local, shared passages
    * match at ANY alignment: a prefix-inserted revision keeps every
    * later chunk hash, where fixed windows at the same cost shift every
    * hash and miss it (the OpsSpec law).
    *
    * Mechanics: per-doc DISTINCT (id, chunk_hash, tokens) — a doc's
    * repeated chunk counts once, its unique content mass; chunk hashes
    * shared by more than `maxChunkDf` docs are cut as boilerplate
    * STOP-CHUNKS (they would connect everything quadratically — at
    * 100 TB the hot navigation/license chunk is the skew key, and any
    * pair it alone would connect is boilerplate overlap, not a
    * revision); both the shared mass and each doc's mass are computed
    * over the SAME kept universe, so the permille is internally
    * consistent. Exact integer lane end to end:
    * `shared·1000 div least(mass_a, mass_b)`.
    *
    * Scale shape: one distinct + one groupBy-count on chunk_hash, a
    * hash-equality self-join on chunk hashes (bucketed by the key,
    * never all-pairs; the stop-chunk cut bounds per-hash fan-out at
    * maxChunkDf²), and doc-sized mass joins. Output: (a_id, b_id,
    * shared_tokens, a_tokens, b_tokens, containment_permille). */
  def cdcContainmentPairs(chunks: DataFrame, idCol: String,
                          maxChunkDf: Int = 50): DataFrame = {
    require(maxChunkDf >= 2, s"need maxChunkDf >= 2, got $maxChunkDf")
    // persist both reused frames: d feeds the df cut AND kept; kept
    // feeds the mass aggregate and both self-join sides — unpersisted,
    // the corpus-sized CDC chunk chain re-executes 4-5x (the same
    // discipline as verifyPairsJaccard's `sets`)
    val d = Caches.persistTracked(
      chunks.select(col(idCol).as("__id"), col("chunk_hash"),
        col("n_chunk_tokens").cast("long").as("__tok")).distinct())
    val kept = Caches.persistTracked(d.join(
      d.groupBy("chunk_hash").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxChunkDf).select("chunk_hash"),
      "chunk_hash"))
    val mass = kept.groupBy("__id").agg(sum(col("__tok")).as("__mass"))
    val shared = kept.select(col("chunk_hash"), col("__tok"), col("__id").as("a_id"))
      .join(kept.select(col("chunk_hash"), col("__id").as("b_id")), "chunk_hash")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(sum(col("__tok")).as("shared_tokens"))
    shared
      .join(mass.select(col("__id").as("a_id"), col("__mass").as("a_tokens")), "a_id")
      .join(mass.select(col("__id").as("b_id"), col("__mass").as("b_tokens")), "b_id")
      .withColumn("containment_permille",
        expr("CAST((shared_tokens * 1000) div least(a_tokens, b_tokens) AS INT)"))
  }

  /** The CDC dedup end to end: chunk ([[Chunking.contentDefinedChunks]])
    * → containment pairs ([[cdcContainmentPairs]]) → threshold →
    * [[connectedComponents]] — the any-alignment revision-dedup
    * discipline for corpora of near-identical re-crawls/checkpoints.
    * Returns (id, cluster_id); keep one doc per cluster with
    * [[keepClusterRepresentatives]], or split leakage-safe with
    * [[leakageSafeSplit]]. */
  def cdcNearDupComponents(docs: DataFrame, idCol: String, textCol: String,
                           windowWords: Int = 4, maskMod: Int = 16,
                           thresholdPermille: Int = 500,
                           maxChunkDf: Int = 50): DataFrame = {
    require(thresholdPermille >= 1 && thresholdPermille <= 1000,
      s"thresholdPermille must be in [1, 1000]: $thresholdPermille")
    val chunks = Chunking.contentDefinedChunks(docs, idCol, textCol,
      windowWords, maskMod)
    val pairs = cdcContainmentPairs(chunks, idCol, maxChunkDf)
      .filter(col("containment_permille") >= thresholdPermille)
      .select("a_id", "b_id")
    connectedComponents(docs.select(col(idCol)), idCol, pairs)
  }

  /** Benchmark decontamination: flag corpus documents sharing at least one
    * word `n`-gram with a benchmark/eval set — the overlap check every
    * training corpus runs before release (n=8..13 typical; exact match on
    * normalized shingles). Returns (id, n_shared_grams) for contaminated
    * docs only.
    *
    * Scale shape: the benchmark side is distinct-gram-reduced first and is
    * orders of magnitude smaller than the corpus, so the join against it
    * broadcasts (or at worst shuffles gram hashes, never texts); the
    * corpus side streams through ngram explode → join → per-doc count,
    * all keyed on uniform-ish gram values. */
  def contaminatedDocs(corpus: DataFrame, benchmark: DataFrame,
                       idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val benchGrams = ngrams(benchmark.select(col(textCol)), textCol, n)
      .select(col("g")).distinct()
    ngrams(corpus.select(col(idCol), col(textCol)), textCol, n)
      .select(col(idCol), col("g"))
      .join(benchGrams, "g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** 63-bit SimHash fingerprint, packed big-endian (bit 62 first; 63 bits
    * so the packing never touches the sign bit — Spark 4 runs ANSI mode
    * and would throw on the final-shift overflow of a full 64-bit pack).
    * Standard simhash: bit b's vote per token is bit b of ONE token hash —
    * one string hash per token, bits extracted with literal shifts (Spark's
    * shift functions take constant shift amounts only, so the bit array is
    * unrolled over the already-hashed lambda variable rather than looped
    * over a bit-index column). Per-row, codegen'd, shuffle-free.
    *
    * The token hash is the two low-32 md5 halves (bits 0–31 from hex
    * digits 9–16, bits 32–62 from digits 1–8) — engine-portable integer
    * arithmetic, so the x04 oracle rebuilds identical fingerprints and the
    * driver checks the simhash OUTPUT itself (pairs + hamming), not a
    * Jaccard proxy it provably can't match. */
  /** 63-bit SimHash of a token array — delegates to the native
    * [[graft.functions.Simhash63Expr]] (one pass per row; the HOF fold
    * below evaluated 63 lambda steps per token, interpreted — ~2× of
    * x04's cost). [[simhash63Composed]] is kept as the parity twin the
    * spec checks bit-for-bit. */
  def simhash63(tokensCol: Column): Column =
    graft.functions.TextExpressions.simhash63Native(tokensCol)

  private[graft] def simhash63Composed(tokensCol: Column): Column = {
    // One fold over the tokens (each string-hashed ONCE) accumulating the
    // 63 per-bit ±1 votes as an array; then pack votes into the long.
    // Big-endian: vote index 0 holds bit 62.
    // nested transforms: md5 ONCE per token (no CSE inside HOF lambdas),
    // then the two 32-bit halves parsed from the one hex string
    val votes = aggregate(
      transform(transform(tokensCol, t => md5(t)), h => array(
        conv(substring(h, 9, 8), 16, 10).cast("long"),
        conv(substring(h, 1, 8), 16, 10).cast("long"))),
      array_repeat(lit(0L), 63),
      (acc, h) => zip_with(acc,
        array((62 to 0 by -1).map { b =>
          if (b < 32) shiftrightunsigned(element_at(h, 1), b).bitwiseAND(lit(1L))
          else shiftrightunsigned(element_at(h, 2), b - 32).bitwiseAND(lit(1L))
        }: _*),
        (v, bit) => v + when(bit === 1L, lit(1L)).otherwise(lit(-1L))))
    aggregate(votes, lit(0L), (acc, v) =>
      acc * 2 + when(v > 0, lit(1L)).otherwise(lit(0L)))
  }

  /** EXACT set-similarity self-join by PREFIX FILTERING (the
    * PPJoin/AllPairs candidate rule, Xiao et al. 2008 / Bayardo et al.
    * 2007): every pair of docs whose distinct-token Jaccard is >=
    * tauNum/tauDen, found WITHOUT hashing and WITHOUT all-pairs — the
    * deterministic-completeness sibling of MinHash-LSH ([[lshKeepOne]]
    * trades recall for speed; this trades a larger-but-bounded
    * candidate set for EXACT recall 1.0).
    *
    * Candidate rule: order each doc's tokens by ascending document
    * frequency (rarest first, ties by token); a doc of n tokens keeps
    * the first n - ceil(tau*n) + 1 as its PREFIX. Any pair with
    * J >= tau must share >= 1 prefix token (pigeonhole on the
    * rarity-sorted overlap), so the equi-join of prefixes on the token
    * is a complete candidate generator; the size filter
    * tau <= |B|/|A| <= 1/tau prunes further, and the POSITIONAL filter
    * (PPJoin proper, Xiao et al. §3.2) prunes each shared prefix token
    * by its rarity RANK: a pair at position (rk_a, rk_b) can still
    * reach overlap at most 1 + min(n_a − rk_a, n_b − rk_b) (this match
    * plus everything after each prefix position), so the pair is a
    * candidate only if that bound reaches the overlap threshold
    * alpha = ceil(tau/(1+tau) · (n_a+n_b)) — as the integer
    * cross-multiplication (1 + min(..)) · (tauNum+tauDen) >=
    * (n_a+n_b) · tauNum. Completeness is preserved: for a true pair
    * the FIRST common token in the global rarity order sits in both
    * prefixes (the prefix-filter pigeonhole) and every one of the
    * >= alpha common tokens sorts at-or-after it on both sides, so at
    * that position the bound >= alpha holds and the pair survives.
    * `suffix = true` adds the depth-1 SUFFIX filter (PPJoin+): it caps
    * the overlap reachable from the two suffixes by where each
    * suffix's MEDIAN element falls in the global order (see
    * [[prefixJaccardParts]]). MEASURED OFF by default: on the x122
    * fixture the positional survivors are almost all TRUE near-pairs
    * (which no sound filter can prune), so the median rule removes
    * <0.5% of candidates at every tau while paying a wider prefix
    * self-join — net ~2x slower end-to-end (BASELINE.md tau ladder).
    * Turn it on for boilerplate-heavy low-tau sweeps where the
    * positional bound leaves moderately-common-shingle FALSE
    * candidates — the regime the rule was designed for.
    * Verification is exact: intersection by token equi-join over
    * candidates only, the threshold test as integer
    * cross-multiplication (no float threshold), jaccard reported as
    * the round-6 IEEE division of the exact counts.
    *
    * THE tau DIAL (like simhash's `chunkBits`): prefix length is
    * n − ceil(tau·n) + 1 ≈ (1−tau)·n, so LOW thresholds keep long
    * prefixes — at tau = 1/2 half of every document enters the
    * candidate join and only the positional filter keeps
    * moderately-common shingles from going quadratic on
    * boilerplate-heavy corpora. Production callers should run
    * tau >= 0.8 (prefix O(1) per doc) and reserve low tau for
    * deliberate deep sweeps.
    *
    * Scale (100 TB): df counts and per-doc rarity ranks are
    * token/doc-keyed (the per-doc sort window is bounded by doc token
    * counts); prefixes hold the RAREST tokens, so prefix join buckets
    * are small by construction — the hot-token problem of a naive
    * token join is excluded by the prefix cut, the positional filter
    * bounds the damage of the tokens that remain, and every remaining
    * shuffle keys on token or pair. */
  def prefixJaccardJoin(docs: DataFrame, idCol: String, textCol: String,
                        tauNum: Int = 1, tauDen: Int = 2,
                        ngramN: Int = 1, suffix: Boolean = false): DataFrame = {
    val (tokP, sz, cand) =
      prefixJaccardParts(docs, idCol, textCol, tauNum, tauDen, ngramN,
        positional = true, suffix = suffix)
    // (r18 measured, kept as-is: re-keying `cand` on id_a before the
    // verification joins — to widen the byte-coalesced intersection
    // stage — was tried and REVERTED: same-window best-of-3 A/B 4.98 s /
    // 73.5 s CPU vs 4.24 s / 25.6 s CPU without it. The extra pair-set
    // exchange costs more than the width buys — the rescorePairsTopK
    // finding. The eager tokP checkpoint above is what fixed x122.)
    val inter = cand
      .join(tokP.select(col("id").as("id_a"), col("t")), Seq("id_a"))
      .join(tokP.select(col("id").as("id_b"), col("t")), Seq("id_b", "t"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sz.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .filter(col("inter") * tauDen >= col("uni") * tauNum)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        col("inter"), col("uni"),
        round(col("inter").cast("double") / col("uni"), 6).as("jaccard"))
  }

  /** CROSS-CORPUS DECONTAMINATION, attributed: the train-vs-benchmark
    * n-gram overlap report (the GPT-3/Pile discipline — drop or flag
    * training documents that share long n-grams with an evaluation
    * set, so benchmark answers don't leak into the training corpus).
    * [[contaminatedDocs]] is the boolean doc-level sibling (flag and
    * drop); this is the AUDIT form — one row
    * per (corpus doc, benchmark doc) pair sharing >= `minShared`
    * distinct `ngramN`-gram shingles: the shared count, the doc's
    * total distinct shingles, and `contamination` = shared / total
    * (1.0 = the doc is entirely contained in the benchmark doc's
    * shingle set).
    *
    * Scale (100 TB corpus): the corpus side is shingled once
    * (token-keyed, distinct per doc); the BENCHMARK side is small by
    * nature (eval sets are 10³–10⁵ docs), so its shingle table
    * broadcasts and the overlap join is map-side — the corpus is never
    * shuffled on shingle keys and nothing is corpus × corpus. For a
    * benchmark too large to broadcast, drop the hint and the same plan
    * shuffles both sides on the digest — shape unchanged. Shingles are
    * md5 digests (fixed-width keys, the x122 convention). */
  def contaminationReport(corpus: DataFrame, bench: DataFrame,
                          idCol: String, textCol: String,
                          benchIdCol: String, benchTextCol: String,
                          ngramN: Int = 8, minShared: Int = 1): DataFrame = {
    val cs = Caches.persistTracked(
      contaminationShingles(corpus, idCol, textCol, ngramN))
    contaminationReportFromShingles(cs, bench, benchIdCol, benchTextCol,
      ngramN, minShared)
  }

  /** The corpus-side precompute of [[contaminationReport]]: one row per
    * (doc, distinct shingle digest) — columns `__did`, `t`. Build (and
    * persist/write) ONCE per corpus; every subsequent benchmark audit
    * reuses it, which is the incremental form a living eval suite needs
    * (new benchmarks keep arriving; the 100-TB corpus must not be
    * re-shingled per audit). */
  def contaminationShingles(corpus: DataFrame, idCol: String,
                            textCol: String, ngramN: Int = 8): DataFrame = {
    require(ngramN >= 1, s"need ngramN >= 1: $ngramN")
    ngrams(corpus.select(col(idCol).as("__did"), col(textCol).as("__txt")),
        "__txt", ngramN)
      .select(col("__did"), md5(col("g")).as("t"))
  }

  /** [[contaminationReport]] against a PREBUILT corpus shingle table
    * ([[contaminationShingles]]' output) — the audit-one-benchmark step.
    * Each benchmark's report rows are disjoint from every other
    * benchmark's (keyed by bench doc id), so incremental audits fold by
    * plain union: batch order and boundaries provably cannot show. */
  def contaminationReportFromShingles(cs: DataFrame, bench: DataFrame,
                                      benchIdCol: String, benchTextCol: String,
                                      ngramN: Int = 8,
                                      minShared: Int = 1): DataFrame = {
    require(ngramN >= 1 && minShared >= 1,
      s"need ngramN >= 1, minShared >= 1: $ngramN/$minShared")
    val bs = ngrams(
        bench.select(col(benchIdCol).as("__bid"), col(benchTextCol).as("__txt")),
        "__txt", ngramN)
      .select(col("__bid"), md5(col("g")).as("t"))
    val nDoc = cs.groupBy(col("__did")).agg(count(lit(1)).as("n_doc_shingles"))
    val shared = cs.join(broadcast(bs), Seq("t"))
      .groupBy(col("__did"), col("__bid")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    shared.join(nDoc, Seq("__did"))
      .select(col("__did").as("doc_id"), col("__bid").as("bench_id"),
        col("n_shared"), col("n_doc_shingles"),
        round(col("n_shared").cast("double") / col("n_doc_shingles"), 6)
          .as("contamination"))
  }

  /** Candidate machinery behind [[prefixJaccardJoin]], split out so the
    * spec can measure each filter's pruning directly:
    * returns (persisted element table (id, t), sizes (id, n), candidate
    * pairs (id_a, id_b)). `positional = false` degrades to the
    * prefix + length filters alone (the AllPairs rule); `suffix = true`
    * adds the depth-1 SUFFIX filter on top — same final output after
    * verification in every configuration, strictly fewer candidates
    * left to right. */
  private[graft] def prefixJaccardParts(
      docs: DataFrame, idCol: String, textCol: String,
      tauNum: Int, tauDen: Int, ngramN: Int,
      positional: Boolean,
      suffix: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    require(tauNum > 0 && tauNum < tauDen,
      s"threshold must be in (0,1): $tauNum/$tauDen")
    require(!suffix || positional,
      "the suffix filter composes on top of the positional rule")
    import org.apache.spark.sql.expressions.Window
    // elements are keyed by md5(element) — fixed-width join/shuffle
    // keys instead of shingle text (the [[windowIndex]] discipline);
    // ranks, counts and the intersection all operate on the digest
    val tok =
      if (ngramN <= 1)
        docs.select(col(idCol).as("id"),
          explode(array_distinct(transform(
            TextStats.tokens(col(textCol)), t => md5(t)))).as("t"))
      else
        ngrams(docs.select(col(idCol), col(textCol)), textCol, ngramN)
          .select(col(idCol).as("id"), md5(col("g")).as("t"))
    // EAGER (r18): df counts, ranks, and both intersection sides all
    // read the same element table — under a lazy persist the final job
    // scanned the raw corpus once per unpopulated subtree (x122 profiled
    // 8 concurrent full-parquet scans stacked up behind the cache lock)
    val tokP = Caches.localCheckpointTracked(tok)
    val dfreq = tokP.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val sz = tokP.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val ranked0 = tokP.join(dfreq, "t")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("t"))))
      .join(sz, "id")
    // the suffix path reads the ranked table twice (prefix rows + the
    // median position lookup); persist so the df-join + per-doc rank
    // window runs once
    val ranked = if (suffix) Caches.persistTracked(ranked0) else ranked0
    val prefixBase = ranked
      .filter(col("rk") <=
        col("n") - expr(s"($tauNum * n + ${tauDen - 1}) div $tauDen") + 1)
      .select(col("id"), col("t"), col("n"), col("rk"))
    // depth-1 SUFFIX filter (PPJoin+, Xiao et al. §4): each prefix row
    // carries the MEDIAN element of its suffix (positions rk+1..n in
    // the same global (df, digest) order — the token at position
    // rk + 1 + ⌊(s−1)/2⌋, s = n − rk) plus the left/right partition
    // sizes l = ⌊(s−1)/2⌋, r = s−1−l. One extra id-keyed position
    // join; l/r are per-row arithmetic.
    val prefix =
      if (!suffix) prefixBase
      else {
        val mids = ranked.select(col("id").as("__mid"), col("rk").as("__mrk"),
          col("df").as("mdf"), col("t").as("mt"))
        prefixBase
          .withColumn("l", expr("(n - rk - 1) div 2"))
          .join(mids, col("id") === col("__mid") &&
            col("__mrk") === col("rk") + lit(1) + col("l"), "left")
          .drop("__mid", "__mrk")
          .withColumn("r", col("n") - col("rk") - lit(1) - col("l"))
      }
    // positional filter: reachable overlap from this shared prefix
    // position must meet alpha = ceil(tau/(1+tau)·(n_a+n_b)); integer
    // cross-multiplied, so no ceil/float anywhere
    val reachable = (lit(1L) +
      least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk"))) *
      (tauNum + tauDen) >= (col("a.n") + col("b.n")) * tauNum
    val base = col("a.t") === col("b.t") && col("a.id") < col("b.id") &&
      col("a.n") * tauNum <= col("b.n") * tauDen &&
      col("b.n") * tauNum <= col("a.n") * tauDen
    val posCond = if (positional) base && reachable else base
    // suffix bound: partition each suffix by its median in the global
    // order; set algebra caps |S_a ∩ S_b| by where the medians fall
    // (m_a = m_b: common < m in A1∩B1, the match, common > m in A2∩B2;
    // m_a < m_b: common < m_b sits in B1, common ≥ m_b sits in A2 and
    // {m_b}∪B2; symmetric above). The cap is an overlap UPPER bound, so
    // pruning bound < alpha keeps every true pair (at the first common
    // prefix element all ≥ alpha−1 remaining common elements are in
    // both suffixes, and the cap dominates their count).
    val cond =
      if (!suffix) posCond
      else {
        val (sA, sB) = (col("a.n") - col("a.rk"), col("b.n") - col("b.rk"))
        val mEq = col("a.mdf") === col("b.mdf") && col("a.mt") === col("b.mt")
        val aLt = col("a.mdf") < col("b.mdf") ||
          (col("a.mdf") === col("b.mdf") && col("a.mt") < col("b.mt"))
        val ub = when(mEq,
            least(col("a.l"), col("b.l")) + lit(1) +
              least(col("a.r"), col("b.r")))
          .when(aLt, least(sA, col("b.l")) + least(col("a.r"), col("b.r") + 1))
          .otherwise(least(sB, col("a.l")) + least(col("b.r"), col("a.r") + 1))
        val suffixOk = col("a.mt").isNull || col("b.mt").isNull ||
          (lit(1L) + ub) * (tauNum + tauDen) >=
            (col("a.n") + col("b.n")) * tauNum
        posCond && suffixOk
      }
    val cand = prefix.as("a").join(prefix.as("b"), cond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    (tokP, sz, cand)
  }

  /** CLUSTER-SIZE HISTOGRAM over a [[connectedComponents]] frame — the
    * dedup telemetry read before believing a dedup pass: how big are
    * the near-dup families (cluster_size 1 = unique docs), how many of
    * each, and the corpus-level dedup rate (removable docs = size − 1
    * per cluster, as a permille of all docs) riding along as a
    * constant column. One row per occurring cluster size.
    *
    * Scale shape: one cluster-keyed count over the doc-sized component
    * frame, then everything is histogram-sized (a size-keyed count, a
    * broadcast 1-row total). All integers — the x144 oracle replays it
    * exactly. */
  def clusterSizeHistogram(components: DataFrame): DataFrame = {
    val cs = Caches.persistTracked(components.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size")))
    val tot = cs.agg(sum(col("cluster_size")).as("__n_total"),
      sum(col("cluster_size") - 1).as("__n_removable"))
    cs.groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .crossJoin(broadcast(tot))
      .withColumn("dedup_rate_permille",
        expr("(__n_removable * 1000) div __n_total"))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        col("dedup_rate_permille"))
  }

  /** CROSS-SLICE DUPLICATION matrix: which sources copy from each
    * other — the exact near-dup pairs ([[ngramJaccardPairs]], the
    * verify-grade path) attributed to their (source, source) cell,
    * slice pair ordered lexicographically so within-slice duplication
    * sits on the diagonal. One row per implicated cell: n_pairs (dup
    * pairs straddling the cell) and n_docs (distinct docs involved) —
    * the provenance telemetry a curation pipeline reads before
    * deciding WHERE its duplication comes from (crawl overlap between
    * two sources vs boilerplate within one).
    *
    * Scale shape: everything after the pair step is pair-sized — two
    * id-keyed attribution joins and two cell-keyed aggregates. The
    * pair step itself is the exact path (small-scale/verify grade);
    * swap in [[minhashLshPairs]] → [[verifyPairsJaccard]] for the
    * 100 TB run — the matrix tail is identical. */
  def crossSliceDuplication(docs: DataFrame, idCol: String, textCol: String,
                            blockCol: String, sliceCol: String,
                            ngramN: Int = 3,
                            threshold: Double = 0.5): DataFrame =
    crossSliceMatrixFromPairs(docs,
      ngramJaccardPairs(docs, idCol, textCol, blockCol, ngramN, threshold)
        .select("a_id", "b_id"),
      idCol, sliceCol)

  /** The matrix TAIL of [[crossSliceDuplication]] over an
    * already-verified pair set — x149's production form: feed
    * [[minhashLshPairs]] → [[verifyPairsJaccard]] (the x136
    * bucketed scale path) and the cell attribution is identical code.
    * Pair-sized throughout: two id-keyed attribution joins and two
    * cell-keyed aggregates. */
  def crossSliceMatrixFromPairs(docs: DataFrame, pairs: DataFrame,
                                idCol: String, sliceCol: String): DataFrame = {
    val src = docs.select(col(idCol), col(sliceCol).cast("string").as("__s"))
    val lab = Caches.persistTracked(pairs.select("a_id", "b_id")
      .join(src.select(col(idCol).as("a_id"), col("__s").as("sa")), Seq("a_id"))
      .join(src.select(col(idCol).as("b_id"), col("__s").as("sb")), Seq("b_id"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"),
        col("a_id"), col("b_id")))
    val np = lab.groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
    val nd = lab
      .select(col("src_a"), col("src_b"),
        explode(array(col("a_id"), col("b_id"))).as("d"))
      .distinct()
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_docs"))
    np.join(nd, Seq("src_a", "src_b"))
  }

  /** WINNOWING fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
    * algorithm): hash every `k`-token gram, slide a window of `w`
    * consecutive gram hashes, keep each window's MINIMUM — the
    * guarantee the other fingerprint families here lack: ANY shared
    * token run of length ≥ w + k − 1 between two documents yields at
    * least one shared fingerprint (every such run contains a full
    * window of identical gram hashes, and a window's min is a pure
    * function of its contents), while the kept set is a ~2/(w+1)
    * sample of the grams. CDC (x133) shares the any-alignment idea but
    * fingerprints variable CHUNKS for dedup storage; winnowing
    * fingerprints fixed-size grams for overlap DETECTION. Docs with at
    * least one gram but fewer than `w` of them keep one fingerprint
    * (the min of all — the standard short-input degeneration); docs
    * shorter than `k` tokens carry no signal and emit nothing.
    *
    * One row per (doc, DISTINCT fingerprint). Pure per-row HOFs over
    * the token array (codegen'd, O(n·w) per doc, no UDF) + one
    * doc-keyed distinct — the only shuffle. Hashes are the first 8 md5
    * hex digits as a BIGINT (the x133/x135 integer convention), so the
    * x141 oracle replays them exactly. */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
                            k: Int = 4, w: Int = 8): DataFrame = {
    require(k >= 1, s"need gram size k >= 1, got $k")
    require(w >= 1, s"need window size w >= 1, got $w")
    docs
      .withColumn("toks", split(col(textCol), " "))
      .withColumn("nt", size(col("toks")))
      // k-gram hashes (guard short docs — Spark's sequence(a, b)
      // DECREASES when b < a)
      .withColumn("hs",
        when(col("nt") >= k,
          transform(sequence(lit(1), col("nt") - (k - 1)), i =>
            conv(substring(md5(concat_ws(" ",
              slice(col("toks"), i, lit(k)))), 1, 8), 16, 10)
              .cast("long")))
          .otherwise(array().cast("array<long>")))
      .withColumn("fp", explode(
        when(size(col("hs")) >= w,
          array_distinct(transform(sequence(lit(1), size(col("hs")) - (w - 1)),
            j => array_min(slice(col("hs"), j, lit(w))))))
          .otherwise(when(size(col("hs")) >= 1, array(array_min(col("hs"))))
            .otherwise(array().cast("array<long>")))))
      .select(col(idCol), col("fp"))
      .distinct()
  }

  /** Pairwise OVERLAP report over [[winnowingFingerprints]]: one row
    * per doc pair sharing ≥ `minShared` fingerprints, with the shared
    * count — the plagiarism/clone-detection join. Fingerprints seen in
    * more than `maxFpDf` docs are stop-fingerprints (boilerplate
    * phrases) and are cut BEFORE the self-join, bounding per-key
    * fan-out at maxFpDf² — the same discipline as x135's stop-chunks;
    * everything shuffles on the fingerprint or the pair, never
    * all-pairs. */
  def winnowingOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
                            k: Int = 4, w: Int = 8, minShared: Int = 3,
                            maxFpDf: Int = 50): DataFrame =
    winnowingOverlapFromFingerprints(
      Caches.persistTracked(winnowingFingerprints(docs, idCol, textCol, k, w)),
      idCol, minShared, maxFpDf)

  /** The pair tail of [[winnowingOverlapPairs]] over an already-built
    * (idCol, fp) index — the s33 streaming gate's read path: the index
    * is the maintained artifact (doc-keyed rows, a pure per-row
    * function of content, so batches union order-free) and this report
    * is a pure function of it. */
  def winnowingOverlapFromFingerprints(fps: DataFrame, idCol: String,
                                       minShared: Int = 3,
                                       maxFpDf: Int = 50): DataFrame = {
    require(minShared >= 1, s"need minShared >= 1, got $minShared")
    require(maxFpDf >= 2, s"need maxFpDf >= 2 (pairs need df 2), got $maxFpDf")
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxFpDf).select("fp"),
      Seq("fp"), "left_semi")
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** WRITE a [[winnowingFingerprints]] frame as the fp-bucketed index
    * tree — the storage shape a 100 TB overlap service reads (VERDICT
    * r14 missing #3, the x82/x84 discipline applied to winnowing):
    * rows are `partitionBy(fpb)` where fpb = fp mod `nBuckets`, so a
    * delta fold rewrites only the buckets its fingerprints hash to and
    * a probe for specific fingerprints prunes to their buckets at the
    * storage layer. Rows sort by (fpb, fp, id) within partitions so
    * re-runs produce identical files. A fingerprint fully determines
    * its bucket, so bucket-local work (df counts, pair joins) equals
    * global work — no cross-bucket traffic ever. */
  def winnowingWriteIndex(fps: DataFrame, idCol: String, path: String,
                          nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"need a positive bucket count, got $nBuckets")
    fps.withColumn("fpb", pmod(col("fp"), lit(nBuckets.toLong)))
      .repartition(col("fpb"))
      .sortWithinPartitions(col("fpb"), col("fp"), col(idCol))
      .write.mode("overwrite").partitionBy("fpb").parquet(path)
  }

  /** COMPACTION of a written [[winnowingWriteIndex]] tree: fold an
    * appended-docs delta into the fp-bucketed index. The delta
    * fingerprints ITSELF (cost ∝ |delta|); ONLY the buckets those
    * fingerprints hash to are rewritten — existing rows of touched
    * buckets union the delta rows under dynamic partition overwrite,
    * untouched bucket directories keep their files byte-for-byte
    * (OpsSpec pins both). The index row is a pure per-doc function of
    * content and the per-(doc, fp) distinct is doc-local, so disjoint
    * doc sets union order-free: compact-then-serve ≡ rebuild-then-serve
    * exactly (the x70/x73/x79/x81 law; harness query x148's oracle is
    * x141's SQL verbatim over the read-back tree). Doc sets must be
    * disjoint (appends are new docs). REPLAY-SAFE: `foreachBatch` is
    * at-least-once (a failure between the overwrite and the checkpoint
    * commit re-runs the batch), so the union dedupes on (id, fp) —
    * a replayed delta's rows are exact duplicates of rows already in
    * the touched buckets and collapse to a no-op instead of inflating
    * the served shared_fps counts. The dedupe key determines its
    * bucket, so the shuffle stays bucket-local-sized (touched buckets
    * + delta, never the full tree). */
  def winnowingCompact(spark: org.apache.spark.sql.SparkSession,
                       path: String, deltaDocs: DataFrame, idCol: String,
                       textCol: String, k: Int = 4, w: Int = 8,
                       nBuckets: Int = 64): Unit = {
    // the delta fingerprinting feeds BOTH the touched-bucket broadcast
    // and the union side — materialize it once (the cost-∝-|delta| claim
    // would otherwise pay the gram hashing twice per compaction)
    val dfp = Caches.localCheckpointScoped(
      winnowingFingerprints(deltaDocs, idCol, textCol, k, w)
        .withColumn("fpb", pmod(col("fp"), lit(nBuckets.toLong))))
    try {
      val touched = dfp.df.select("fpb").distinct()
      // materialize before the overwrite — Spark cannot safely overwrite
      // storage it is still lazily reading
      val merged = Caches.localCheckpointScoped(
        spark.read.parquet(path)
          .withColumn("fpb", col("fpb").cast("long"))
          .join(broadcast(touched), "fpb")
          .select(col(idCol), col("fp"), col("fpb"))
          .unionByName(dfp.df.select(col(idCol), col("fp"), col("fpb")))
          .dropDuplicates(idCol, "fp")
          .repartition(col("fpb"))
          .sortWithinPartitions(col("fpb"), col("fp"), col(idCol)))
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try merged.df.write.mode("overwrite").partitionBy("fpb").parquet(path)
      finally {
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
        merged.release()
      }
    } finally dfp.release()
  }

  /** SERVE the overlap report from a WRITTEN [[winnowingWriteIndex]]
    * tree: read the (id, fp) rows back and run the
    * [[winnowingOverlapFromFingerprints]] tail — the report is a pure
    * function of the maintained artifact, so serve-after-compaction
    * equals [[winnowingOverlapPairs]] over the full corpus. The df
    * stop-cut and the pair join both key on fp, and fp determines its
    * bucket, so the physical work stays bucket-local. */
  def winnowingServeTree(spark: org.apache.spark.sql.SparkSession,
                         path: String, idCol: String, minShared: Int = 3,
                         maxFpDf: Int = 50): DataFrame =
    winnowingOverlapFromFingerprints(
      Caches.persistTracked(
        spark.read.parquet(path).select(col(idCol), col("fp"))),
      idCol, minShared, maxFpDf)

  /** PROBE a written [[winnowingWriteIndex]] tree with a QUERY batch —
    * the true index SEEK (the x82/x85 discipline): the query docs
    * fingerprint themselves (cost ∝ batch), their distinct buckets
    * (≤ `nBuckets` values — model-sized, the ivfPqProbe collect
    * convention) push as a literal IN-filter on the partition column,
    * so the tree scan reads ONLY the matching bucket directories; the
    * overlap then joins query fingerprints against the pruned index
    * rows. One row per (a_id = query doc, b_id = indexed doc) sharing
    * ≥ `minShared` fingerprints. The stop cut uses the INDEX-side df —
    * well-defined under pruning because a fingerprint's index rows all
    * live in its own bucket, which the probe reads whenever that
    * fingerprint is queried. Query and indexed doc sets should be
    * disjoint (a doc probing an index containing itself matches
    * itself). ScaleSpec pins the partition pruning; harness query x152
    * replays the asymmetric chain in full. */
  def winnowingProbeTree(spark: org.apache.spark.sql.SparkSession,
                         path: String, queryDocs: DataFrame, idCol: String,
                         textCol: String, k: Int = 4, w: Int = 8,
                         minShared: Int = 3, maxFpDf: Int = 50,
                         nBuckets: Int = 64): DataFrame = {
    val qfp = Caches.persistTracked(
      winnowingFingerprints(queryDocs, idCol, textCol, k, w)
        .withColumn("fpb", pmod(col("fp"), lit(nBuckets.toLong))))
    val buckets = qfp.select("fpb").distinct().collect().map(_.getLong(0))
    val idx = spark.read.parquet(path)
      .withColumn("fpb", col("fpb").cast("long"))
      .filter(col("fpb").isin(buckets.map(Long.box): _*))
      .select(col(idCol).as("b_id"), col("fp"))
    val kept = idx.join(
      idx.groupBy("fp").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxFpDf).select("fp"),
      Seq("fp"), "left_semi")
    qfp.select(col(idCol).as("a_id"), col("fp"))
      .join(kept, "fp")
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }
}
