package graft.queries

import graft.Tables
import graft.ops.{Chunking, Dedup, LangModel, TextStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The MULTI-STAGE pipeline composition gate (p01): six chained stages
  * of [[graft.examples.Pipeline]] — quality gate → block-level
  * boilerplate dedup → any-offset substring span dedup → self-trained
  * bigram-LM fluency cut (EXACT deterministic decile, not
  * approxQuantile) → near-dup keep-one (LSH scale path) → sqrt-
  * temperature language rebalancing — verified as ONE query against ONE
  * DuckDB oracle that replays every stage over the rewritten
  * intermediate texts.
  *
  * Why a composition gate when each stage is already gated (x26 covers
  * only 3 stages): the failure mode users hit composing operators is
  * STAGE-INTERFACE drift — a stage changing its text-rewriting
  * convention (separator, empty-doc handling, tie order) breaks the
  * pipeline while every per-stage oracle stays green, because each
  * per-stage gate feeds on pristine `documents`. Here stage N's oracle
  * CTE consumes stage N-1's oracle CTE exactly as the Spark plan chains
  * DataFrames, so any drift in an intermediate contract flips the final
  * hash.
  *
  * Scale shape: every stage is its operator's production path (the
  * linear window/block machinery, the LSH near-dup path, broadcast
  * rates); the one addition, the exact decile cut, is a single global
  * row_number over doc-sized rows ([[LangModel.exactNllCut]] — swap for
  * approxQuantile beyond that, losing replayability).
  */
object PipelineGate {

  /** The p01 chain. Returns the surviving mixed corpus as
    * (doc_id, lang, text_md5), one row per retained doc.
    *
    * Stage OUTPUTS are eagerly checkpointed (registry-tracked, released
    * by `Caches.releaseAll`): every stage here has several downstream
    * consumers (the LM trains AND scores over stage 3; near-dup scans
    * its input for signatures, verification, components and retention;
    * the mix reads its input twice), so an unbroken lazy DAG recomputes
    * the whole upstream chain per consumer — measured 141 s at sf0.1 vs
    * ~13 s checkpointed, pure recompute amplification. At 100 TB these
    * boundaries are exactly where a pipeline writes intermediate tables
    * anyway. */
  def cleanMix(docs: DataFrame): DataFrame =
    cleanMixDocs(docs)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("text_md5"))

  /** Stages 1–6 with the surviving docs' final REWRITTEN texts —
    * (doc_id, lang, text). [[cleanMix]] (p01) hashes the text;
    * [[queries]]' p02 manifests it ([[graft.ops.Export.shardManifest]]
    * as the export last mile over the same chain). */
  def cleanMixDocs(docs: DataFrame): DataFrame = {
    import graft.ops.Caches.localCheckpointTracked
    // 1. quality gate (the x26/x39 shared definition)
    val quality = docs.filter(TextStats.qualityGate(col("text")))
    // 2. cross-document 20-token block dedup (x41)
    val deboiler = Dedup.blockDedup(quality, "doc_id", "text", blockTokens = 20)
      .select(col("doc_id"), col("clean_text").as("text"))
    // 3. stride-1 8-word substring span dedup (x47); fully-covered docs drop
    val spanned = localCheckpointTracked(
      Dedup.exactSubstringDedup(deboiler, "doc_id", "text")
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("clean_text").as("text")))
    // 4. fluency: self-trained bigram NLL (x48) + exact decile cut —
    //    keep the most-fluent ~90% (and transition-free docs, which the
    //    LM cannot judge)
    val scored = localCheckpointTracked(
      LangModel.perplexityScoreSelf(spanned, "doc_id", "text")
        .select(col("doc_id"), col("n_transitions"), col("nll_nats")))
    val fluent = localCheckpointTracked(
      spanned
        .join(scored, "doc_id")
        .crossJoin(broadcast(LangModel.exactNllCut(scored, "doc_id")))
        .filter(col("n_transitions") === 0 || col("nll_nats") <= col("nll_cut"))
        .select(col("doc_id"), col("text"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id"))
    // 5. near-dup keep-one over the rewritten texts (x34's pipeline:
    //    exact n-gram Jaccard pairs → components → min-id keep)
    val kept = localCheckpointTracked(
      Dedup.nearDupDedup(fluent, "doc_id", "text", blockCol = "lang"))
    // 6. sqrt-temperature language rebalancing (x54), downsample-only
    Chunking.temperatureMix(kept, "lang", "doc_id")
      .filter(col("keep"))
      .select(col("doc_id"), col("lang"), col("text"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_pipeline_clean_mix" -> { (s, dir) =>
      cleanMix(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // The EXPORT LAST MILE composed onto the same chain (VERDICT r8 #5):
    // the x66 shard manifest computed over the stage-6 survivors' final
    // rewritten texts — the batch pipeline's clean→dedup→mix→export
    // contract as ONE oracle. Any stage-interface drift (or a manifest
    // drifting from the texts the pipeline actually emits) flips the
    // shard checksums.
    "p02_pipeline_export_manifest" -> { (s, dir) =>
      graft.ops.Export.shardManifest(
        cleanMixDocs(Tables.documents(s, dir)), "doc_id", "text",
        nShards = 8)
    },

    // The TOKEN-ID shard export (p06): the stage-6 survivors encoded to
    // BPE token-id sequences (x134's fixed-table encode — broadcast
    // merges + vocab, per-row codegen'd fold) and shipped through the
    // x66 shard-manifest discipline with the checksum over the ID
    // payload itself: shard = md5(doc_id) mod 8, n_tokens = the id
    // count, checksum = order-free sum of md5(doc_id:ids). This is the
    // pipeline's real last mile — a loader consumes id shards, not
    // text — and any drift in any upstream stage, the encode, or the
    // vocab flips the shard checksums.
    "p06_pipeline_id_shards" -> { (s, dir) =>
      val enc = cleanMixDocs(Tables.documents(s, dir))
        .select(col("doc_id"),
          concat_ws(" ", transform(
            graft.functions.TextExpressions.bpeEncodeIdsNative(col("text")),
            _.cast("string"))).as("ids_txt"))
      graft.ops.Export.shardManifest(enc, "doc_id", "ids_txt", nShards = 8)
    },

    // The PACK-PAYLOAD manifest (p08 — VERDICT r14 next #6): the other
    // last mile. p06 ships per-DOC id shards; a throughput-bound loader
    // instead consumes x137's PACKS — each pack one concatenated id
    // sequence with chunk-boundary offsets — so the export that has to
    // be integrity-checked is the pack payload itself. CDC chunks
    // (x133) encode to BPE ids (x134's native expression), strict-pack
    // by id count (x137's fold), and each pack's payload + offsets roll
    // up through the x66 manifest discipline (shard = md5 of the pack
    // key, checksum = order-free sum of 32-bit payload hashes). Any
    // drift in chunk boundaries, the encode, packing order, or the
    // offset arithmetic flips a shard checksum. FULL oracle: the
    // chunk replay + merge-fold encode + fill recurrence + the payload
    // string/offset/checksum arithmetic, chained.
    "p08_pack_payload_manifest" -> { (s, dir) =>
      // ONE encode per chunk: ids_txt and n_ids both derive from the
      // same materialized id array (unlike x137, which counts without
      // ever materializing ids, p08 ships the ids — so size() is free)
      val chunks = Chunking.contentDefinedChunks(Tables.documents(s, dir),
          "doc_id", "text", windowWords = 4, maskMod = 16,
          keepCols = Seq("lang"))
        .withColumn("ids",
          graft.functions.TextExpressions.bpeEncodeIdsNative(col("chunk")))
        .withColumn("ids_txt",
          concat_ws(" ", transform(col("ids"), _.cast("string"))))
        .withColumn("n_ids", size(col("ids")))
        .select("doc_id", "chunk_idx", "lang", "n_ids", "ids_txt")
      graft.ops.Export.packPayloadManifest(
        Chunking.packChunksStrict(chunks, "lang", "n_ids",
          capacity = 512, orderCols = Seq("doc_id", "chunk_idx")),
        groupCol = "lang", idsCol = "ids_txt", nIdsCol = "n_ids",
        orderCols = Seq("doc_id", "chunk_idx"), nShards = 8)
    },
  )

  /** The six-stage CTE chain (q → … → k6), shared by p01 and p02 — each
    * stage the proven per-stage SQL (x26 quality / x41 blocks / x47
    * spans / x48 LM / x34 near-dup / x54 mix) re-pointed at the previous
    * stage's CTE exactly as the Spark plan chains DataFrames. */
  private val pipelineCtes: String =
    Ext.materializeCtes("""WITH RECURSIVE q AS (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |      / NULLIF(length(text), 0) AS ar
        |  FROM documents),
        |d1 AS (
        |  SELECT doc_id, text FROM q
        |  WHERE n_tokens >= 5 AND round(ar, 6) >= 0.5),
        |t2 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d1),
        |b2 AS (
        |  SELECT doc_id, toks, UNNEST(range(0, (len(toks) - 1) // 20 + 1)) AS block_idx
        |  FROM t2),
        |bt2 AS (
        |  SELECT doc_id, CAST(block_idx AS INT) AS block_idx,
        |    array_to_string(toks[block_idx * 20 + 1 : block_idx * 20 + 20], ' ') AS block_text
        |  FROM b2),
        |k2 AS (
        |  SELECT doc_id, block_idx, block_text FROM bt2
        |  QUALIFY row_number() OVER (PARTITION BY block_text ORDER BY doc_id, block_idx) = 1),
        |d2 AS (
        |  SELECT doc_id, string_agg(block_text, ' ' ORDER BY block_idx) AS text
        |  FROM k2 GROUP BY doc_id),
        |w3 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d2),
        |g3 AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos,
        |    md5(array_to_string(ws[i : i + 7], ' ')) AS g
        |  FROM w3, unnest(generate_series(1, len(ws) - 7)) t(i)
        |  WHERE len(ws) >= 8),
        |dup3 AS (
        |  SELECT doc_id, pos FROM g3
        |  QUALIFY row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) > 1),
        |cov3 AS (
        |  SELECT DISTINCT doc_id, wp FROM (
        |    SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS wp FROM dup3)),
        |words3 AS (
        |  SELECT doc_id, CAST(i AS INT) AS wp, ws[i] AS word
        |  FROM w3, unnest(generate_series(1, len(ws))) t(i)),
        |d3 AS (
        |  SELECT words3.doc_id, string_agg(word, ' ' ORDER BY words3.wp) AS text
        |  FROM words3 LEFT JOIN cov3
        |    ON cov3.doc_id = words3.doc_id AND cov3.wp = words3.wp
        |  WHERE cov3.wp IS NULL
        |  GROUP BY words3.doc_id),
        |tok4 AS (SELECT doc_id, string_split(text, ' ') AS ts FROM d3),
        |tr4 AS (
        |  SELECT doc_id, ts[i] AS prev, ts[i+1] AS cur
        |  FROM tok4, unnest(generate_series(1, len(ts) - 1)) u(i)
        |  WHERE len(ts) >= 2),
        |uni4 AS (SELECT prev, COUNT(*) AS cu FROM tr4 GROUP BY 1),
        |bi4 AS (SELECT prev, cur, COUNT(*) AS cb FROM tr4 GROUP BY 1, 2),
        |v4 AS (SELECT COUNT(DISTINCT w) AS vsz
        |       FROM (SELECT unnest(ts) AS w FROM tok4)),
        |lp4 AS (
        |  SELECT tr4.doc_id,
        |    CAST(floor(ln((bi4.cb + 1.0) / (uni4.cu + v4.vsz)) * 1000000000000.0) AS BIGINT) AS lp_fix
        |  FROM tr4
        |  JOIN uni4 ON uni4.prev = tr4.prev
        |  JOIN bi4 ON bi4.prev = tr4.prev AND bi4.cur = tr4.cur, v4),
        |agg4 AS (
        |  SELECT doc_id, COUNT(*) AS n_transitions, SUM(lp_fix) AS sfix
        |  FROM lp4 GROUP BY 1),
        |nll4 AS (
        |  SELECT tok4.doc_id, coalesce(n_transitions, 0) AS n_transitions,
        |    round(CAST(-sfix AS DOUBLE) / 1000000000000.0 / n_transitions, 6) AS nll_nats
        |  FROM tok4 LEFT JOIN agg4 USING (doc_id)),
        |rank4 AS (
        |  SELECT doc_id, nll_nats,
        |    row_number() OVER (ORDER BY nll_nats ASC, doc_id ASC) AS rn
        |  FROM nll4 WHERE n_transitions > 0),
        |m4 AS (SELECT COUNT(*) AS m FROM rank4),
        |cut4 AS (
        |  SELECT MAX(nll_nats) AS nll_cut FROM rank4, m4
        |  WHERE rn <= floor((m * 9 + 9) / 10)),
        |d4 AS (
        |  SELECT d3.doc_id, d3.text FROM d3
        |  JOIN nll4 USING (doc_id), cut4
        |  WHERE n_transitions = 0 OR nll_nats <= nll_cut),
        |tok5 AS (
        |  SELECT d4.doc_id, d.lang, string_split(d4.text, ' ') AS ts
        |  FROM d4 JOIN documents d USING (doc_id)
        |  WHERE len(string_split(d4.text, ' ')) >= 3),
        |tri5 AS (
        |  SELECT DISTINCT doc_id, lang,
        |    unnest(list_transform(generate_series(1, len(ts) - 2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
        |  FROM tok5),
        |nt5 AS (SELECT doc_id, COUNT(*) AS n FROM tri5 GROUP BY doc_id),
        |cand5 AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
        |  FROM tri5 a JOIN tri5 b
        |    ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p5 AS (
        |  SELECT a_id, b_id FROM cand5
        |  JOIN nt5 na ON a_id = na.doc_id JOIN nt5 nb ON b_id = nb.doc_id
        |  WHERE common * 1.0 / (na.n + nb.n - common) >= 0.5),
        |edges5 AS (SELECT a_id AS u, b_id AS v FROM p5 UNION SELECT b_id, a_id FROM p5),
        |walk5(id, reach) AS (
        |  SELECT doc_id, doc_id FROM d4
        |  UNION
        |  SELECT w.id, e.v FROM walk5 w JOIN edges5 e ON w.reach = e.u),
        |comp5 AS (SELECT id AS doc_id, MIN(reach) AS cluster_id FROM walk5 GROUP BY id),
        |d5 AS (
        |  SELECT d4.doc_id, d4.text FROM d4
        |  JOIN comp5 c ON c.doc_id = d4.doc_id
        |  WHERE c.doc_id = c.cluster_id),
        |c6 AS (
        |  SELECT d.lang, COUNT(*) AS ng
        |  FROM d5 JOIN documents d USING (doc_id) GROUP BY 1),
        |mm6 AS (SELECT MIN(ng) AS nmin FROM c6),
        |r6 AS (
        |  SELECT lang, ng,
        |    CAST(floor(sqrt(CAST(nmin AS DOUBLE) / ng) * 65536.0 + 0.5) AS INT) AS cut
        |  FROM c6, mm6),
        |k6 AS (
        |  SELECT d5.doc_id, d.lang, d5.text
        |  FROM d5 JOIN documents d USING (doc_id) JOIN r6 ON r6.lang = d.lang
        |  WHERE r6.cut >= 65536 OR
        |    substr(md5(CAST(d5.doc_id AS VARCHAR)), 1, 4) < printf('%04x', r6.cut))
        |""".stripMargin)

  val oracle: Map[String, String] = Map(
    "p01_pipeline_clean_mix" ->
      (pipelineCtes +
        """SELECT doc_id, lang, md5(text) AS text_md5
          |FROM k6 ORDER BY doc_id""".stripMargin),

    // x66's manifest arithmetic over the stage-6 survivors (k6) instead
    // of raw documents — the export last mile in the same replay.
    "p02_pipeline_export_manifest" ->
      (pipelineCtes +
        """SELECT shard, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens,
          |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
          |  CAST(SUM(chk) AS BIGINT) AS checksum
          |FROM (
          |  SELECT doc_id,
          |    CAST(CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) % 8 AS shard,
          |    len(list_filter(string_split(text, ' '), t -> t <> '')) AS ntok,
          |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 8) AS UBIGINT) AS BIGINT) AS chk
          |  FROM k6)
          |GROUP BY shard ORDER BY shard""".stripMargin),

    // p02's manifest arithmetic over the ID payload: k6 texts run the
    // x134 encode replay (merge replace-chain + vocab CASE chain), the
    // ids join space-separated, and the manifest hashes/counts/checksums
    // that string exactly as the Spark side does.
    "p06_pipeline_id_shards" ->
      (pipelineCtes +
        s""", enc AS (
          |  SELECT doc_id,
          |    array_to_string(list_transform(
          |      ${graft.ops.Bpe.oracleIdsFromMergedExpr("s")},
          |      x -> CAST(x AS VARCHAR)), ' ') AS ids_txt
          |  FROM (SELECT doc_id, ${graft.ops.Bpe.oracleSqlExpr("text")} AS s
          |        FROM k6))
          |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens,
          |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
          |  CAST(SUM(chk) AS BIGINT) AS checksum
          |FROM (
          |  SELECT doc_id,
          |    CAST(CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) % 8 AS shard,
          |    len(list_filter(string_split(ids_txt, ' '), t -> t <> '')) AS ntok,
          |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || ids_txt), 1, 8) AS UBIGINT) AS BIGINT) AS chk
          |  FROM enc)
          |GROUP BY shard ORDER BY shard""".stripMargin),

    // p08: x137's chunk/encode/pack replay extended with the payload
    // lanes — per chunk the merged ids join space-separated; the
    // recursive fill fold carries (doc_id, chunk_idx, ids_txt) through
    // the pack assignment; per pack the payload string_aggs in fold
    // order with exclusive-running-sum offsets; the manifest hashes
    // pack keys, offsets and payloads exactly as the Spark side.
    "p08_pack_payload_manifest" -> Ext.materializeCtes(
      s"""WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |n AS (SELECT doc_id, ts, len(ts) AS nt FROM t),
        |b AS (
        |  SELECT doc_id, ts, nt,
        |    CASE WHEN nt >= 4 THEN
        |      list_filter(generate_series(4, nt), i ->
        |        CAST('0x' || substr(md5(array_to_string(ts[i-3:i], ' ')), 1, 4) AS INT) % 16 = 0)
        |    ELSE [] END AS bnd
        |  FROM n),
        |fb AS (
        |  SELECT doc_id, ts, nt,
        |    CASE WHEN len(bnd) > 0 AND bnd[-1] = nt THEN bnd
        |         ELSE list_append(bnd, nt) END AS bnd2
        |  FROM b),
        |c AS (
        |  SELECT doc_id, unnest(generate_series(1, len(bnd2))) AS ci, ts, bnd2
        |  FROM fb),
        |ck AS (
        |  SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
        |    array_to_string(ts[CASE WHEN ci = 1 THEN 1 ELSE bnd2[ci-1] + 1 END : bnd2[ci]], ' ') AS chunk
        |  FROM c),
        |enc AS (SELECT doc_id, chunk_idx, ${graft.ops.Bpe.oracleSqlExpr("chunk")} AS s FROM ck),
        |ids AS (
        |  SELECT doc_id, chunk_idx,
        |    array_to_string(list_transform(
        |      ${graft.ops.Bpe.oracleIdsFromMergedExpr("s")},
        |      x -> CAST(x AS VARCHAR)), ' ') AS ids_txt,
        |    CAST(length(s) - length(replace(s, '{', '')) AS INT) AS n_ids
        |  FROM enc),
        |j AS (SELECT ids.doc_id, ids.chunk_idx, ids.n_ids, ids.ids_txt, d.lang
        |      FROM ids JOIN documents d USING (doc_id)),
        |r AS (
        |  SELECT lang, doc_id, chunk_idx, n_ids, ids_txt,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id, chunk_idx) AS rk
        |  FROM j),
        |f(lang, rk, doc_id, chunk_idx, n_ids, ids_txt, pack_id, fill) AS (
        |  SELECT lang, rk, doc_id, chunk_idx, n_ids, ids_txt,
        |    CAST(0 AS BIGINT), CAST(n_ids AS BIGINT)
        |  FROM r WHERE rk = 1
        |  UNION ALL
        |  SELECT r.lang, r.rk, r.doc_id, r.chunk_idx, r.n_ids, r.ids_txt,
        |    CASE WHEN f.fill + r.n_ids > 512 THEN f.pack_id + 1 ELSE f.pack_id END,
        |    CASE WHEN f.fill + r.n_ids > 512 THEN CAST(r.n_ids AS BIGINT)
        |         ELSE f.fill + r.n_ids END
        |  FROM r JOIN f ON r.lang = f.lang AND r.rk = f.rk + 1),
        |o AS (
        |  SELECT lang, pack_id, doc_id, chunk_idx, n_ids, ids_txt,
        |    COALESCE(SUM(CAST(n_ids AS BIGINT)) OVER (PARTITION BY lang, pack_id
        |      ORDER BY doc_id, chunk_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM f),
        |pk AS (
        |  SELECT lang, pack_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |    CAST(SUM(n_ids) AS BIGINT) AS n_ids,
        |    string_agg(ids_txt, ' ' ORDER BY doc_id, chunk_idx) AS payload,
        |    string_agg(CAST(off AS VARCHAR), ' ' ORDER BY doc_id, chunk_idx) AS offsets
        |  FROM o GROUP BY 1, 2),
        |m AS (
        |  SELECT lang || ':' || CAST(pack_id AS VARCHAR) AS k, n_chunks, n_ids,
        |    CAST(CAST('0x' || substr(md5(lang || ':' || CAST(pack_id AS VARCHAR) || ':' || offsets || ':' || payload), 1, 8) AS UBIGINT) AS BIGINT) AS chk
        |  FROM pk)
        |SELECT CAST(CAST('0x' || substr(md5('shard:' || k), 1, 8) AS UBIGINT) AS BIGINT) % 8 AS shard,
        |  COUNT(*) AS n_packs, CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
        |  CAST(SUM(n_ids) AS BIGINT) AS n_ids, CAST(SUM(chk) AS BIGINT) AS checksum
        |FROM m GROUP BY shard ORDER BY shard""".stripMargin),
  )
}
