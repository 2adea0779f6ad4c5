package graft.queries

import graft.Tables
import graft.ops.Checkpointed
import graft.streaming.Streams
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** Driver-gated STREAMING queries: each runs a real micro-batch pipeline
  * (produce → `graft-topic` → readStream → stateful transform → sink) to a
  * batch-readable result whose values a batch engine can recompute — so the
  * streaming execution path itself sits under the DuckDB oracle, not just
  * under specs. The reference's streaming leg is exactly this shape
  * (Kafka topic → watermark window agg: FlinkHttpConnectorExample.scala:78-104).
  *
  * s01/s04 run MULTI-micro-batch (admission-capped so ≥4 batches replay the
  * backlog, asserted ≥2 after the drain): window partials and session
  * merges cross batch boundaries under the oracle, matching the
  * reference's own cross-micro-batch visibility semantics
  * (HttpLookupConnectorIntegrationTest.scala:428-543). s05 stops a capped
  * stream mid-backlog and RESUMES it from the checkpoint — the oracle hash
  * breaks on any replayed or skipped record, so exactly-once restart is
  * value-checked, not just spec'd.
  *
  * A gate states only its topic, its transform or fold, its sink and its
  * assertions; the plumbing is shared: [[topicFor]] produces each input
  * topic once, `readTopic` is the admission-capped parsed stream,
  * `runToEnd` drains a writer and asserts its data-batch count, [[Fold]]
  * holds foreachBatch state as scoped checkpoints, and `killAndResume`
  * is the mid-backlog restart of s05/s25/s28.
  */
object StreamGate {

  /** Every produced gate topic, keyed by (kind, sf dir) and JVM-scoped
    * like [[HttpEnrichment.usersServer]]: the produce cost is paid once
    * per (JVM, sf dir) instead of once per query invocation — bench
    * best-of-N reruns skip it entirely. Heap bound: one JSON copy of each
    * topic's rows per sf dir (~15 MB for `events` at sf0.1), held for the
    * life of the JVM. */
  private val topics = mutable.Map.empty[(String, String), String]

  /** The `kind` topic for `dir`; `rows` (key, value, timestamp) are
    * produced into it on first use only. */
  private[queries] def topicFor(kind: String, dir: String, partitions: Int = 4)(
      rows: => DataFrame): String = synchronized {
    topics.getOrElseUpdate((kind, dir), {
      val topic = s"gate_${kind}_${java.util.UUID.randomUUID().toString.take(8)}"
      rows.write.format("graft-topic").mode("append")
        .option("topic", topic).option("partitions", partitions.toString).save()
      topic
    })
  }

  /** The record timestamp of topics whose gates use no event time. */
  private val noEventTime = to_timestamp(lit("2024-01-01 00:00:00"))

  /** `df` as topic records: `key` the record key, the JSON object of
    * `fields` the value, `ts` the record timestamp. */
  private def records(df: DataFrame, key: Column, ts: Column = noEventTime)(
      fields: Column*): DataFrame =
    df.select(key.cast("string").as("key"), to_json(struct(fields: _*)).as("value"),
      ts.as("timestamp"))

  /** The shared events topic: key = user_id, value = JSON `{user_id,
    * event_type, value}`, record timestamp = event time, 8 partitions.
    * Most event gates derive their input from this single topic (s01/s04
    * parse event_type+value, s02 needs only the key, s03/s05 parse
    * user_id+value). */
  private def eventsTopic(s: SparkSession, dir: String): String =
    topicFor("events", dir, partitions = 8)(records(Tables.events(s, dir),
      col("user_id"), col("ts"))(col("user_id"), col("event_type"), col("value")))
  private val eventsDdl = "user_id BIGINT, event_type STRING, value DOUBLE"

  /** Total records currently in the shared topic (driver-side; on real
    * Kafka this is the admin-API end-offset sum). Sizes the per-trigger
    * admission caps scale-independently. */
  private def topicSize(topic: String): Long =
    graft.sources.topic.TopicLog.endOffsets(topic).values.sum

  /** Per-user metadata CHANGELOG topic for the stream-stream join (s06):
    * one record per distinct events user, tier = pure function of the id
    * so the oracle reproduces the join arithmetically. */
  private def userMetaTopic(s: SparkSession, dir: String): String =
    topicFor("usermeta", dir)(records(Tables.events(s, dir).select(col("user_id")).distinct(),
      col("user_id"))(col("user_id").as("m_user_id"),
      concat(lit("T"), (col("user_id") % 3).cast("string")).as("tier")))

  /** Query-VECTOR topic for the streaming ANN serving gate (s08): the
    * x45 query-side convention (every 50th embedding) serialized as
    * JSON. Doubles survive the to_json/from_json round trip bit-exactly
    * (shortest-roundtrip repr on write, correctly-rounded parse), so the
    * streamed vectors equal the parquet vectors and the oracle can read
    * `embeddings` directly. */
  private def queryVecTopic(s: SparkSession, dir: String): String =
    topicFor("queryvec", dir)(records(Tables.embeddings(s, dir).filter(col("vec_id") % 50 === 0),
      col("vec_id"))(col("vec_id").as("q_id"), col("embedding").cast("array<double>").as("qv")))

  /** `embeddings` rows matching `keep` as (vec_id, v) vector records —
    * the arrival topics of the index-maintenance gates. */
  private def vectorRecords(s: SparkSession, dir: String, keep: Column): DataFrame =
    records(Tables.embeddings(s, dir).filter(keep), col("vec_id"))(
      col("vec_id"), col("embedding").cast("array<double>").as("v"))
  private val vectorDdl = "vec_id BIGINT, v ARRAY<DOUBLE>"

  /** Arriving-VECTORS topic for the streaming delta-index ANN serving
    * gate (s11): x70's delta convention (every 7th corpus vector,
    * query rows excluded) serialized as JSON — the vectors that arrived
    * since the static index was written. */
  private def arrivalVecTopic(s: SparkSession, dir: String): String =
    topicFor("arrvec", dir)(vectorRecords(s, dir,
      col("vec_id") % 50 =!= 0 && col("vec_id") % 7 === 0))

  /** Arrival topic for the APPEND-ONLY index gate (s15): x89's corpus is
    * vec_id ≠ 0 and the streamed split is its % 7 = 0 slice (distinct
    * from [[arrivalVecTopic]], whose corpus excludes % 50 = 0 query
    * rows). */
  private def arrivalVec7Topic(s: SparkSession, dir: String): String =
    topicFor("arrvec7", dir)(vectorRecords(s, dir,
      col("vec_id") =!= 0 && col("vec_id") % 7 === 0))

  /** Arrival topic for the streaming GRAPH-maintenance gate (s16):
    * x90/x91's delta split — vec_id % 7 = 0, INCLUDING vec 0 (unlike
    * [[arrivalVec7Topic]]) — so the folded graph replays x90's oracle
    * verbatim. */
  private def arrivalGraphTopic(s: SparkSession, dir: String): String =
    topicFor("arrg", dir)(vectorRecords(s, dir, col("vec_id") % 7 === 0))

  /** Incoming-DOCUMENTS topic for the streaming ingest-screening gate
    * (s09): the x50 batch side (doc_id ≥ 400) serialized as JSON — the
    * arrival stream of an ingest pipeline whose corpus (doc_id < 400)
    * is the static reference. */
  private def incomingDocsTopic(s: SparkSession, dir: String): String =
    topicFor("docs", dir)(records(Tables.documents(s, dir).filter(col("doc_id") >= 400),
      col("doc_id"))(col("doc_id"), col("text"), col("lang")))
  private val incomingDocsDdl = "doc_id BIGINT, text STRING, lang STRING"

  /** BENCHMARK-DOC topic for the streaming decontamination gate (s29):
    * x125's benchmark side (the planted %13 eval set, bench_id =
    * doc_id + 300000) serialized as JSON — the living-eval-suite feed
    * whose arrivals the gate audits incrementally. */
  private def benchDocsTopic(s: SparkSession, dir: String): String =
    topicFor("bench", dir)(records(Tables.documents(s, dir).filter(col("doc_id") % 13 === 0),
      col("doc_id") + 300000)((col("doc_id") + 300000).as("bench_id"), col("text")))

  /** Whole-corpus document topic for the streaming CDC-digest gate
    * (s31): every `documents` row as JSON (doc_id, text) — the arrival
    * feed whose per-batch content-defined chunks fold into the
    * maintained chunk-digest table. */
  private def allDocsTopic(s: SparkSession, dir: String): String =
    topicFor("alldocs", dir)(records(Tables.documents(s, dir), col("doc_id"))(
      col("doc_id"), col("text")))
  private val allDocsDdl = "doc_id BIGINT, text STRING"

  /** Source-attributed document topic for the streaming TF-IDF gate
    * (s34): every `documents` row as JSON (doc_id, source, text). */
  private def srcDocsTopic(s: SparkSession, dir: String): String =
    topicFor("srcdocs", dir)(records(Tables.documents(s, dir), col("doc_id"))(
      col("doc_id"), col("source"), col("text")))
  private val srcDocsDdl = "doc_id BIGINT, source STRING, text STRING"

  /** Typed-measurement topic for the streaming anomaly gate (s21):
    * events re-serialized WITH their event_id (the shared
    * [[eventsTopic]] carries only user/type/value — the z-score report
    * is per event id). */
  private def measurementsTopic(s: SparkSession, dir: String): String =
    topicFor("meas", dir)(records(Tables.events(s, dir), col("event_id"), col("ts"))(
      col("event_id"), col("event_type"), col("value")))

  /** TIME-ORDERED typed-event topic for the streaming Markov gate
    * (s23): events WITH their event_id (the transition tie-break),
    * produced by ONE task sorted (ts, event_id) with key = user_id —
    * so each user's records sit in one partition in (ts, id) order and
    * offset-ranged admission preserves that order across batches: the
    * per-user in-order prerequisite of
    * [[graft.ops.EventAnalytics.transitionBatchPairs]] (the s07/s20
    * backfill-producer shape). */
  private def orderedTypedEventsTopic(s: SparkSession, dir: String): String =
    topicFor("evseq", dir)(records(
      Tables.events(s, dir).repartition(1).sortWithinPartitions("ts", "event_id"),
      col("user_id"), col("ts"))(col("user_id"), col("event_id"), col("event_type")))

  /** CATALOG-ROW topic for the streaming profile gate (s26): x119's
    * profiled projection of `documents` (id, lang, source, n_chars)
    * serialized as JSON; the planted lang_dirty null pattern is a pure
    * function of doc_id, recomputed after parse. */
  private def docsCatalogTopic(s: SparkSession, dir: String): String =
    topicFor("cat", dir)(records(Tables.documents(s, dir), col("doc_id"))(
      col("doc_id"), col("lang"), col("source"), col("n_chars")))
  private val docsCatalogDdl = "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT"

  /** ORDERED chunk-stream topic for the streaming packing gate (s27):
    * x128's chunk rows (doc_id, source, chunk_idx, n_chunk_tokens)
    * produced by ONE task sorted (doc_id, chunk_idx) with key = source —
    * each source's chunks sit in one partition in pack order, so
    * offset-ranged admission hands every micro-batch a contiguous
    * ordered per-shard segment: the prerequisite of
    * [[graft.ops.Chunking.packChunksStrictFold]]'s resume law. */
  private def chunkStreamTopic(s: SparkSession, dir: String): String =
    topicFor("chunks", dir)(records(
      graft.ops.Chunking.chunk(Tables.documents(s, dir), "doc_id", "text",
          chunkTokens = 50, overlap = 10, keepCols = Seq("source"))
        .select("doc_id", "source", "chunk_idx", "n_chunk_tokens")
        .repartition(1).sortWithinPartitions("doc_id", "chunk_idx"),
      col("source"))(col("doc_id"), col("source"), col("chunk_idx"), col("n_chunk_tokens")))
  private val chunksDdl = "doc_id BIGINT, source STRING, chunk_idx INT, n_chunk_tokens INT"

  /** HOT-REGION arrivals topic for the streaming Z-order compaction
    * gate (s22): x126's spatially-clustered delta — the %5 lineitem
    * rows whose partkey sits in the bottom 1/16 of the STATIC split's
    * span — serialized as JSON. The static-split bounds are computed at
    * produce time (they are the written tree's model in the gate too). */
  private def zorderDeltaTopic(s: SparkSession, dir: String): String =
    topicFor("zdelta", dir) {
      val li = Tables.lineitem(s, dir)
      val r = li.filter(col("l_orderkey") % 5 =!= 0)
        .agg(min(col("l_partkey").cast("long")), max(col("l_partkey").cast("long"))).head()
      val cut = r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 16
      records(li.filter(col("l_orderkey") % 5 === 0 && col("l_partkey") <= cut),
        col("l_orderkey"))(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    }

  /** DIMENSION-SNAPSHOT topic for the streaming SCD2 gate (s20): the
    * x118 four-snapshot stack serialized as JSON, produced by ONE
    * sorted task ordered (version, doc_id) — the daily-dimension-load
    * replay shape: a backfill producer writes snapshots in version
    * order, and key-hash routing preserves each id's version order per
    * partition (all of an id's rows share a partition). Admission caps
    * then split versions MID-batch, exercising the partial-snapshot
    * decomposability of scd2Apply. */
  private def docSnapshotsTopic(s: SparkSession, dir: String): String =
    topicFor("scd", dir) {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      records((0 to 3).map { v =>
        docs.select(col("doc_id"), lit(v).as("version"),
          concat(col("text"),
            expr(s"repeat('!', $v div (1 + doc_id % 3))")).as("text"))
      }.reduce(_ unionByName _)
        .repartition(1).sortWithinPartitions("version", "doc_id"),
        col("doc_id"))(col("doc_id"), col("version"), col("text"))
    }

  /** TIME-ORDERED events replay topic for the state-EVICTION gate (s07).
    * Differences from [[eventsTopic]], both load-bearing:
    *
    *  - the produce is a SINGLE sorted task (`repartition(1)
    *    .sortWithinPartitions(ts)`), so every topic partition receives its
    *    records in event-time order — admission-capped batches then admit
    *    monotonically later spans and the watermark ADVANCES mid-drain
    *    (the append-order replay of [[eventsTopic]] scrambles time across
    *    batches, which is why those gates pin a 35-day delay and never
    *    evict);
    *  - two SENTINEL records (user_id −5/−10 ≡ 0 mod 5, one per joined
    *    event_type, ts = max real ts + 100 days) sort last, so they are
    *    admitted in the final data batch and push BOTH sides' watermarks
    *    past every real join window in the trailing no-data batch. That
    *    makes the LEFT OUTER emitted set exactly the batch left join —
    *    without the sentinels, which unmatched rows get their null
    *    emission would depend on where batch boundaries fall. The
    *    sentinels themselves are never emitted: their own windows close
    *    only at sentinel ts + 7 days, which no watermark ever reaches
    *    (and the batch-side aggregate filters user_id >= 0 regardless).
    *
    * On real Kafka this is a backfill producer writing in log order — the
    * standard replay shape for watermarked reprocessing. */
  private def orderedEventsTopic(s: SparkSession, dir: String): String =
    topicFor("events_time", dir) {
      val ev = Tables.events(s, dir).select("user_id", "event_type", "value", "ts")
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 100L * 24 * 3600 * 1000)
      val sentinels = s.range(2).select(
        ((col("id") + 1) * -5).as("user_id"),
        when(col("id") === 0, "click").otherwise("purchase").as("event_type"),
        lit(0.0).as("value"),
        lit(sentinelTs).as("ts"))
      records(ev.unionByName(sentinels).repartition(1).sortWithinPartitions("ts"),
        col("user_id"), col("ts"))(col("user_id"), col("event_type"), col("value"))
    }

  /** The replayed topic interleaves 30 days of event time across batches
    * in (partitioned) APPEND order, not time order — a multi-batch drain
    * can see near-max timestamps in batch 1 and day-1 rows in batch 4, so
    * the watermark delay must cover the full backlog span (30 days;
    * standard backfill practice: disorder bound = replay depth). The
    * 1-day delay of the single-batch round-5 gate was valid only because
    * the watermark never advanced mid-drain. */
  private val replayWatermark = "35 days"

  /** One JVM-scoped temp root for every gate checkpoint / sink dir,
    * preferring tmpfs (/dev/shm) over the disk-backed java.io.tmpdir: a
    * micro-batch pays walCommit + commitOffsets + per-partition state
    * delta writes on EVERY trigger (measured ~70-90 ms/batch on ext4
    * /tmp), which is pure fixed machinery at gate scale — on a production
    * cluster this is fast local/HDFS storage. Exactly-once semantics are
    * unchanged: the commit-log protocol is identical, only the volume is
    * faster; s05's two legs share one JVM, so tmpfs persistence is
    * sufficient for its restart replay. */
  private lazy val gateTmpRoot: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(base, "graft_gate_")
  }
  private def gateTmpDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(gateTmpRoot, prefix)

  /** Run `body` with gate-sized state parallelism: 4 shuffle partitions
    * instead of the session's 32. Stateful-operator state stores scale
    * with shuffle partitions — every instance pays open/commit/delta-file
    * machinery per micro-batch — and at gate scale that is pure fixed
    * overhead (8→4 measured −2.3 s across the six queries, r7; 32→8 was
    * −0.5 s/query, r6). Still multi-partition, so distributed state
    * semantics stay exercised. Restores the session value afterwards; gate
    * queries run sequentially in Verify/Bench, so the temporary session
    * conf can't race another query. */
  private val gateActive = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def withGateConf[T](s: SparkSession, noData: Boolean = false,
                              partitions: Int = 4)(body: => T): T = {
    // Guard the sequential-execution assumption instead of trusting it
    // (ADVICE r6): the temporary session conf below is safe ONLY while no
    // other gate query shares the session. A future concurrent harness
    // fails loudly here rather than silently running unrelated queries at
    // gate parallelism or restoring the wrong conf value.
    require(gateActive.compareAndSet(false, true),
      "gate queries must run sequentially: withGateConf mutates session-global conf")
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    // The trailing no-data micro-batch exists to advance the watermark so
    // append-mode WINDOWED aggregates can emit finalized windows. Most gate
    // queries don't need it (s01/s04 are complete-mode; s02's dedup and
    // s06's inner join emit on arrival), and it costs a full trigger
    // round-trip (measured 0.4-0.8 s/query). Off for the gate, restored
    // after — EXCEPT s07, whose LEFT OUTER join needs exactly that trailing
    // batch to emit the final null rows after the sentinel advances the
    // watermark (noData = true).
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", noData.toString)
    // NOT RocksDB: tried r7 — RocksDBStateStoreProvider was +2.0 s across
    // the six queries (native store init per instance per batch dwarfs the
    // tiny gate state; the default HDFS-backed store on the tmpfs
    // checkpoint root wins at this scale).
    try body finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      gateActive.set(false)
    }
  }

  /** The gate's stream over `topic`. `perTrigger` maps the topic's size
    * to the records admitted per micro-batch (at least 1; without it the
    * whole backlog is one batch). With a `ddl`, each record comes out as
    * its `key`, its event time `ts` and the value's JSON fields beside
    * them; without one, as the source's raw columns. */
  private def readTopic(s: SparkSession, topic: String, ddl: String = "",
                        perTrigger: Option[Long => Long] = None): DataFrame = {
    val r = s.readStream.format("graft-topic").option("topic", topic)
    val raw = perTrigger.fold(r)(f =>
      r.option("maxRecordsPerTrigger", math.max(1L, f(topicSize(topic))).toString)).load()
    if (ddl.isEmpty) raw
    else raw.select(col("key"), col("timestamp").as("ts"),
        from_json(col("value").cast("string"), StructType.fromDDL(ddl)).as("j"))
      .select("key", "ts", "j.*")
  }

  /** A foreachBatch writer running `f` on every micro-batch that carries
    * data. */
  private def eachBatch(df: DataFrame)(f: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream.foreachBatch { (b: DataFrame, id: Long) => if (!b.isEmpty) f(b, id) }

  /** Start `w` under a fresh checkpoint, drain it to the end of its
    * topic (AvailableNow) and require at least `minBatches` data batches;
    * `tooFew` words the failure from the count that ran. */
  private def runToEnd(tag: String, w: DataStreamWriter[Row], minBatches: Int = 2)(
      tooFew: Int => String): StreamingQuery = {
    val ckpt = gateTmpDir(s"${tag}_ckpt_")
    val q = w.option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    drain(q, ckpt)
    require(dataBatches(q) >= minBatches, tooFew(dataBatches(q)))
    q
  }

  /** Checkpoint-resume: a leg of `leg` (the writer, built afresh per leg)
    * is STOPPED mid-backlog after ≥2 committed batches, then a second leg
    * resumes from the same checkpoint and drains the rest — it must
    * process data, or leg 1 drained the whole backlog and nothing was
    * resumed. The cut is signalled from the progress LISTENER (fires on
    * batch commit), not a lastProgress poll — the listener latch makes
    * the cut point deterministic at its source, so leg 1 cannot race
    * through the remaining backlog between a late poll and stop() on a
    * fast fixture (ADVICE r6). Where exactly the cut lands past batch 2
    * doesn't matter — the oracle hash catches any replay/skip wherever it
    * falls. */
  private def killAndResume(s: SparkSession, tag: String,
                            leg: () => DataStreamWriter[Row]): Unit = {
    val ckpt = gateTmpDir(s"${tag}_ckpt_")
    def start(): StreamingQuery = leg().option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    val cut = new java.util.concurrent.CountDownLatch(1)
    // runId captured in onQueryStarted — Spark posts that event
    // SYNCHRONOUSLY before start() returns, so leg1Run is assigned
    // before the first trigger can possibly commit (no window in
    // which a batch>=2 progress event could be dropped, ADVICE r7).
    // Only leg 1 starts while this listener is registered (removed
    // before leg 2; withGateConf enforces sequential gates), so the
    // first-started guard can't latch onto a foreign query.
    @volatile var leg1Run: java.util.UUID = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (leg1Run == null) leg1Run = e.runId
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.runId == leg1Run && e.progress.batchId >= 2) cut.countDown()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.runId == leg1Run) cut.countDown() // failed/finished leg: don't hang
    }
    s.streams.addListener(listener)
    val q1 = start()
    // belt-and-braces: onQueryStarted has already run (synchronous),
    // but assert the contract rather than silently depend on it
    require(leg1Run == q1.runId,
      s"$tag listener captured runId $leg1Run but leg 1 is ${q1.runId}")
    // The stop window's expected abort cascade (task aborted /
    // failedToCommitStateFileError from the interrupted in-flight
    // batch) is silenced — scoped to exactly this stop+drain, so a
    // real state-store failure anywhere else still logs.
    try {
      if (!q1.isActive) cut.countDown() // terminated before runId was set
      cut.await(120, java.util.concurrent.TimeUnit.SECONDS)
    } finally {
      try graft.util.QuietLogs.withQuiet() {
        cleanupStep("leg1 stop")(q1.stop())
        // drain to full termination INSIDE the quiet window so the
        // async abort cascade on executor threads is covered too; a
        // stopped query returns normally, a genuinely failed one
        // still throws out of here
        q1.awaitTermination()
      } finally cleanupStep("leg1 listener remove")(
        s.streams.removeListener(listener))
    }
    if (sys.env.contains("SPARK_GRAFT_GATE_DEBUG")) dumpProgress(q1)
    val q2 = start()
    drain(q2, ckpt)
    require(dataBatches(q2) >= 1,
      s"$tag resume leg processed nothing — leg 1 drained the whole backlog")
  }

  /** Drain the stream, then stop it and delete the checkpoint — each step
    * isolated, so a failing stop() can't leak and no cleanup error masks
    * the stream's own exception (reported to stderr instead). The shared
    * topic is JVM-scoped and intentionally NOT deleted here. */
  private def drain(q: StreamingQuery, ckpt: java.nio.file.Path): Unit =
    try {
      q.awaitTermination()
      if (sys.env.contains("SPARK_GRAFT_GATE_DEBUG")) dumpProgress(q)
    } finally {
      cleanupStep("stop")(q.stop())
      cleanupStep("checkpoint delete")(graft.util.Fs.deleteTree(ckpt))
    }

  /** Per-micro-batch duration breakdown (triggerExecution and its parts),
    * printed when SPARK_GRAFT_GATE_DEBUG is set — the gate's profiling
    * loop for finding where fixed machinery seconds go. */
  private def dumpProgress(q: StreamingQuery): Unit =
    q.recentProgress.foreach { p =>
      val d = p.durationMs
      System.err.println(s"[gate-debug] ${Option(q.name).getOrElse(q.id)} " +
        s"batch=${p.batchId} rows=${p.numInputRows} durations=${d.toString}")
    }

  private def cleanupStep(what: String)(f: => Unit): Unit =
    try f catch { case e: Throwable =>
      System.err.println(s"[stream-gate] $what failed: ${e.getMessage}") }

  /** Batches that actually carried data (AvailableNow plans a trailing
    * empty batch; don't count it). */
  private def dataBatches(q: StreamingQuery): Int =
    q.recentProgress.count(_.numInputRows > 0)

  /** Hand back a gate result detached from its memory-sink table: the
    * table contents are eagerly checkpointed (blocks registered with
    * [[graft.ops.Caches]], so the harness releaseAll() frees them after
    * each query) and the table is DROPPED — without this, best-of-N bench
    * reruns accumulate one live memory table per invocation (ADVICE r5). */
  private def materialized(s: SparkSession, mem: String, df: DataFrame): DataFrame = {
    val out = graft.ops.Caches.localCheckpointTracked(df)
    s.catalog.dropTempView(mem)
    out
  }

  /** State a gate folds its micro-batches into, held as a scoped
    * checkpoint: each [[update]] materializes the next state before it
    * frees the previous one, so one copy is live between batches (the
    * kCore discipline). */
  private[queries] final class Fold {
    private var held: Checkpointed = null

    /** The current state; null before the first batch (the fold
      * operators' "no prior state"). */
    def state: DataFrame = if (held == null) null else held.df

    /** Fold one batch in: `first` builds the state when there is none,
      * `next` derives it from the current one otherwise. */
    def update(first: => DataFrame)(next: DataFrame => DataFrame): Unit = {
      val n = graft.ops.Caches.localCheckpointScoped(
        if (held == null) first else next(held.df))
      release()
      held = n
    }

    def release(): Unit = if (held != null) { held.release(); held = null }

    /** The final state, handed to the [[graft.ops.Caches]] registry so
      * the harness frees it with the query's other blocks. */
    def result(): DataFrame = graft.ops.Caches.adopt(held)
  }

  private[queries] object Fold {
    /** Run `body`; if it throws, every fold's live state is released
      * first — a failed drain or fold must not strand scoped blocks. */
    def guard[T](folds: Fold*)(body: => T): T =
      try body catch { case t: Throwable => folds.foreach(_.release()); throw t }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Watermark + tumbling 1-day window counts over the replayed topic,
    // MULTI-batch: the admission cap (≈1/6 of the backlog per trigger)
    // forces ≥4 micro-batches, so per-window partials persist in the state
    // store and merge ACROSS batches before the complete-mode memory sink
    // emits the final table. Deterministic because the window sum is
    // decimal-accumulated (merge-order-proof across partitions AND
    // batches) and the replay watermark covers the full disorder span (no
    // late drops). ≥2 data batches asserted — a config drift back to
    // single-batch must fail loudly, not silently weaken the gate.
    "s01_stream_window_counts" -> { (s, dir) =>
      val topic = eventsTopic(s, dir)
      val mem = s"s01_result_${java.util.UUID.randomUUID().toString.take(8)}"
      withGateConf(s) {
        val parsed = readTopic(s, topic, eventsDdl, Some(n => n / 6))
          .select("ts", "event_type", "value")
        val agg = Streams.windowedCounts(parsed, "ts",
          watermark = replayWatermark, windowDuration = "1 day")
        runToEnd("s01", agg.writeStream.format("memory").queryName(mem)
          .outputMode("complete"))(n =>
          s"s01 must exercise cross-batch state merge; ran $n data batches")
        materialized(s, mem, s.table(mem).orderBy("win_start", "event_type"))
      }
    },

    // Streaming ANN SERVING: a query-vector stream banded against the
    // STATIC corpus index — the online form of x45's batch serving. Each
    // arriving vector computes its 16 band keys in-plan (the native
    // RhpBandsExpr on a streaming column), equi-joins the static band
    // index (stream-static join: no state, no shuffle of the corpus —
    // the 100 TB form reads only the matching band buckets per batch),
    // exact-rescored candidates aggregate to a per-query top-5 via a
    // streaming collect_list (array_distinct dedups multi-band hits on
    // exact struct equality — no streaming dropDuplicates state needed;
    // sort desc on struct(cos_sim, -id) = score desc, id asc).
    // Deterministic: scores are the proven rounded-cosine doubles, ties
    // id-broken, and the admission split only controls WHICH batch
    // serves a query, never its result — the memory table equals x45's
    // batch answer, which is the oracle.
    "s08_stream_ann_serving" -> { (s, dir) =>
      val topic = queryVecTopic(s, dir)
      val mem = s"s08_result_${java.util.UUID.randomUUID().toString.take(8)}"
      withGateConf(s) {
        val corpus = Tables.embeddings(s, dir).filter(col("vec_id") % 50 =!= 0)
        // persist both static sides: a stream-static join re-evaluates the
        // static plan EVERY micro-batch, so without this the corpus is
        // re-banded (128 hyperplane dots/vector) once per batch — at scale
        // the band index is a written partitioned table, and the persist
        // is the in-gate stand-in for reading it (measured 11.9 s → ~4 s
        // best-of-2 at sf0.1)
        val cIdx = graft.ops.Caches.persistTracked(
          graft.ops.Similarity.annBuildBandIndex(corpus, "embedding", "vec_id"))
        val cVec = graft.ops.Caches.persistTracked(corpus.select(col("vec_id"),
          col("embedding").cast("array<double>").as("cv")))
        val qBands = readTopic(s, topic, "q_id BIGINT, qv ARRAY<DOUBLE>", Some(n => n / 3))
          .select(col("q_id"), col("qv"), posexplode(
            graft.functions.VectorExpressions.rhpBandsNative(col("qv"), 16, 8, 64)))
          .select(col("q_id"), col("qv"),
            (col("pos").cast("long") * 256L + col("col")).as("band_key"))
        val agg = qBands
          .join(cIdx, "band_key")
          .join(cVec, "vec_id")
          .withColumn("cos_sim", round(
            graft.functions.VectorFunctions.cosine(col("cv"), col("qv")), 6))
          .groupBy(col("q_id"))
          .agg(slice(sort_array(array_distinct(collect_list(
            struct(col("cos_sim"), (-col("vec_id")).as("nid")))), asc = false),
            1, 5).as("top"))
        runToEnd("s08", agg.writeStream.format("memory").queryName(mem)
          .outputMode("complete"))(n =>
          s"s08 must serve queries across batches; ran $n data batches")
        materialized(s, mem, s.table(mem)
          .select(col("q_id"), posexplode(col("top")))
          .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
            (-col("col.nid")).as("vec_id"), col("col.cos_sim").as("cos_sim"))
          .orderBy("q_id", "rank"))
      }
    },

    // Streaming INGEST SCREENING: each arriving micro-batch of documents
    // is near-dup-screened against the static corpus via foreachBatch —
    // the deployment form of x50's incremental dedup (corpus static,
    // arrivals incremental), with verdicts landing in an append-mode
    // parquet table as batches commit (the production shape). Candidates
    // are cross-side-only, so a doc's verdict depends only on (doc,
    // corpus) — never on which batch carried it or on its batch-mates —
    // and the streamed union equals the batch x50 computation, which is
    // the oracle. ≥2 data batches asserted.
    "s09_stream_ingest_screening" -> { (s, dir) =>
      val topic = incomingDocsTopic(s, dir)
      withGateConf(s) {
        val corpus = Tables.documents(s, dir).filter(col("doc_id") < 400)
        val sink = gateTmpDir("s09_sink_")
        val stream = readTopic(s, topic, incomingDocsDdl, Some(n => n / 2))
          .select("doc_id", "text", "lang")
        runToEnd("s09", stream.writeStream
          .foreachBatch { (df: DataFrame, _: Long) =>
            // the micro-batch df belongs to a CLONED session whose temp
            // function registry starts empty, and the screening plan mixes
            // that df with outer-session frames — register the native
            // expressions on both registries so either analyzer resolves
            // them (the batch-query path registers lazily on first use and
            // never hits this)
            graft.functions.TextExpressions.register(s)
            graft.functions.TextExpressions.register(df.sparkSession)
            graft.ops.Dedup.incrementalNearDupFilter(
                corpus, df, "doc_id", "text", "lang")
              .write.mode("append").parquet(sink.toString)
            ()
          })(n => s"s09 must screen across batches; ran $n data batches")
        val out = graft.ops.Caches.localCheckpointTracked(
          s.read.parquet(sink.toString).orderBy("doc_id"))
        cleanupStep("sink delete")(graft.util.Fs.deleteTree(sink))
        out
      }
    },

    // Streaming SHARD EXPORT: each arriving micro-batch appends into the
    // md5-sharded partitioned tree — the deployment form of x66's export
    // (a training-data landing zone filled by a stream), with the
    // manifest computed over the WRITTEN tree after the drain. Shard
    // membership is a pure function of the row and every manifest field
    // commutes (counts/sums add, min/max fold), so batch boundaries
    // cannot show in the result: the streamed tree's manifest equals the
    // batch manifest over the same arrival set — the oracle (x66's SQL
    // restricted to the arrival ids). ≥2 data batches asserted, and the
    // manifest is computed from what the files actually contain, so a
    // lost or duplicated batch commit would hash-fail loudly.
    "s10_stream_shard_export" -> { (s, dir) =>
      val topic = incomingDocsTopic(s, dir)
      withGateConf(s) {
        val sink = gateTmpDir("s10_sink_")
        val stream = readTopic(s, topic, incomingDocsDdl, Some(n => n / 2))
          .select("doc_id", "text")
        runToEnd("s10", stream.writeStream
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.withColumn("shard", graft.ops.Export.shardOf(col("doc_id"), 8))
              .write.mode("append").partitionBy("shard").parquet(sink.toString)
            ()
          })(n => s"s10 must export across batches; ran $n data batches")
        // placement audit (ADVICE r8): the manifest recomputes shard from
        // doc_id, so a row landed in the WRONG shard=N/ directory would
        // still hash-pass — assert the directory-derived partition column
        // agrees with shardOf(doc_id) for every written row first
        val misplaced = s.read.parquet(sink.toString)
          .filter(col("shard") =!= graft.ops.Export.shardOf(col("doc_id"), 8))
          .count()
        require(misplaced == 0,
          s"s10 wrote $misplaced rows into the wrong shard directory")
        val out = graft.ops.Caches.localCheckpointTracked(
          graft.ops.Export.shardManifest(
            s.read.parquet(sink.toString).select(col("doc_id"), col("text")),
            "doc_id", "text", nShards = 8))
        cleanupStep("sink delete")(graft.util.Fs.deleteTree(sink))
        out
      }
    },

    // Streaming DELTA-INDEX ANN serving — s08 composed with x70 (the r8
    // stretch): the corpus DELTA is the stream. The static 6/7 of the
    // corpus is the written band index (persisted stand-in); arrivals
    // band themselves in-plan (pure per-row band keys), join the STATIC
    // query-band index, and accumulate per-query arrival top-5s in
    // complete mode across ≥2 batches. Serving then MERGES the static-
    // index probe with the streamed delta top-5 — exactly how production
    // ANN serves an immutable index plus an in-memory delta — and
    // because top-5(static) ∪ top-5(delta) ⊇ top-5(static ∪ delta) under
    // one total order (cos desc, id asc), the merged re-rank equals the
    // batch probe of the WHOLE corpus: the oracle is s08's SQL verbatim,
    // and which batch carried an arrival cannot show (the s09 argument).
    "s11_stream_delta_ann_serving" -> { (s, dir) =>
      val topic = arrivalVecTopic(s, dir)
      val mem = s"s11_result_${java.util.UUID.randomUUID().toString.take(8)}"
      withGateConf(s) {
        import org.apache.spark.sql.expressions.Window
        val all = Tables.embeddings(s, dir)
        val queries = all.filter(col("vec_id") % 50 === 0)
        val corpusStatic = all.filter(
          col("vec_id") % 50 =!= 0 && col("vec_id") % 7 =!= 0)
        // static artifacts persisted once (the written-index stand-ins):
        // the query-band index the arrivals join, and the query vectors
        val qBands = graft.ops.Caches.persistTracked(
          graft.ops.Similarity.annBuildBandIndex(queries, "embedding", "vec_id")
            .withColumnRenamed("vec_id", "q_id"))
        val qVec = graft.ops.Caches.persistTracked(queries.select(
          col("vec_id").as("q_id"),
          col("embedding").cast("array<double>").as("qv")))
        val aBands = readTopic(s, topic, vectorDdl, Some(n => n / 3))
          .select(col("vec_id"), col("v").as("av"), posexplode(
            graft.functions.VectorExpressions.rhpBandsNative(col("v"), 16, 8, 64)))
          .select(col("vec_id"), col("av"),
            (col("pos").cast("long") * 256L + col("col")).as("band_key"))
        val agg = aBands
          .join(qBands, "band_key")
          .join(qVec, "q_id")
          .withColumn("cos_sim", round(
            graft.functions.VectorFunctions.cosine(col("av"), col("qv")), 6))
          .groupBy(col("q_id"))
          .agg(slice(sort_array(array_distinct(collect_list(
            struct(col("cos_sim"), (-col("vec_id")).as("nid")))), asc = false),
            1, 5).as("top"))
        runToEnd("s11", agg.writeStream.format("memory").queryName(mem)
          .outputMode("complete"))(n =>
          s"s11 must index arrivals across batches; ran $n data batches")
        val deltaTop = s.table(mem)
          .select(col("q_id"), posexplode(col("top")))
          .select(col("q_id"), (-col("col.nid")).as("vec_id"),
            col("col.cos_sim").as("cos_sim"))
        val staticTop = graft.ops.Similarity.annProbeBandedAll(
            corpusStatic, queries, "embedding", "vec_id", "vec_id", k = 5)
          .select(col("q_id"), col("vec_id"), col("cos_sim"))
        materialized(s, mem, deltaTop.unionByName(staticTop)
          .withColumn("rank", row_number().over(Window.partitionBy("q_id")
            .orderBy(col("cos_sim").desc, col("vec_id").asc)))
          .filter(col("rank") <= 5)
          .select(col("q_id"), col("rank"), col("vec_id"), col("cos_sim"))
          .orderBy("q_id", "rank"))
      }
    },

    // STREAMING INDEX COMPACTION — s10's foreachBatch discipline composed
    // with x79: each micro-batch of raw vector arrivals is COMPACTED into
    // the written partitionBy(centroid_id) IVF×PQ tree against the frozen
    // model (assigned + encoded inline, ONLY touched cells rewritten
    // under dynamic partition overwrite), and serving probes the TREE
    // after the drain — the streaming form of index maintenance: ingest
    // compacts, the probe never sees a delta union (s11 serves
    // static ∪ delta; this gate retires the delta entirely). Cell ids
    // and codes are pure per-row functions of the frozen model and
    // micro-batches deliver disjoint arrival sets, so the final tree ≡
    // the whole-corpus encode and the oracle is x58's SQL verbatim
    // (the x70/x73/x79 law, now under the streaming engine).
    "s12_stream_index_compaction" -> { (s, dir) =>
      val topic = arrivalVecTopic(s, dir)
      withGateConf(s) {
        val emb = Tables.embeddings(s, dir).filter(col("vec_id") =!= 0)
        val (cents, assigned) = graft.ops.Similarity.ivfBuild(emb, "embedding", "vec_id")
        val cb = graft.ops.Similarity.pqBuildCodebook(emb, "embedding", "vec_id")
        val tree = gateTmpDir("s12_tree_")
        // static tree: everything the arrival topic does NOT carry
        graft.ops.Similarity.ivfPqEncode(assigned.filter(
            !(col("vec_id") % 50 =!= 0 && col("vec_id") % 7 === 0)),
            "vec_id", cb)
          .select("vec_id", "centroid_id", "codes")
          .write.mode("overwrite").partitionBy("centroid_id")
          .parquet(tree.toString)
        val stream = readTopic(s, topic, vectorDdl, Some(n => n / 3))
          .select(col("vec_id"), col("v").as("embedding"))
        runToEnd("s12", eachBatch(stream) { (df, _) =>
          graft.ops.Similarity.ivfPqCompact(tree.toString, cents, df,
            "embedding", "vec_id", cb)
        })(n => s"s12 must compact across batches; ran $n data batches")
        val qv = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        val out = graft.ops.Caches.localCheckpointTracked(
          graft.ops.Similarity.ivfPqProbe(cents,
            s.read.parquet(tree.toString), emb, "embedding", "vec_id",
            qv, cb, k = 20))
        cleanupStep("tree delete")(graft.util.Fs.deleteTree(tree))
        out
      }
    },

    // STREAMING BM25 MODEL MAINTENANCE — s12's per-batch-compaction
    // discipline on the text side: the static (doc_id < 400) corpus is
    // the written term-bucketed BM25 tree; each micro-batch of arriving
    // documents builds its own model and bm25Compact folds it in (delta
    // terms' buckets only, stats add), and serving SEEKS the compacted
    // tree after the drain. Every model field is an exact
    // re-aggregatable count and batches are disjoint doc sets, so the
    // final tree ≡ the whole-corpus model and the oracle is x76's SQL
    // verbatim (the x81/x84 law under the streaming engine).
    "s13_stream_bm25_maintenance" -> { (s, dir) =>
      import s.implicits._
      val topic = incomingDocsTopic(s, dir)
      withGateConf(s) {
        val docs = Tables.documents(s, dir)
        val tree = gateTmpDir("s13_tree_")
        // 16-bucket gate dial + 2 batches (≥2 asserted below): at sf0.1
        // every micro-batch touches nearly all term buckets, so the fold
        // cost at gate scale is pure write machinery — fewer dirs and one
        // fewer fold prove the same law (x84's comment; 64 = production
        // default stays exercised by x82)
        graft.ops.Retrieval.bm25WriteModel(graft.ops.Retrieval
          .bm25BuildModel(docs.filter(col("doc_id") < 400), "doc_id",
            "text"), tree.toString, nBuckets = 16)
        val stream = readTopic(s, topic, incomingDocsDdl, Some(n => (n + 1) / 2))
          .select("doc_id", "text")
        runToEnd("s13", eachBatch(stream) { (df, _) =>
          graft.ops.Retrieval.bm25Compact(s, tree.toString, df,
            "doc_id", "text", nBuckets = 16)
        })(n => s"s13 must compact across batches; ran $n data batches")
        val qs = Seq(
          (1L, Seq("hash", "join")),
          (2L, Seq("spark", "vector")),
          (3L, Seq("data", "filter", "stream")),
          (4L, Seq("cache", "data"))).toDF("q_id", "terms")
        val out = graft.ops.Caches.localCheckpointTracked(
          graft.ops.Retrieval.bm25ServeAllSeek(s, tree.toString, "doc_id",
              qs, "q_id", "terms", k = 10, nBuckets = 16)
            .orderBy("q_id", "rank"))
        cleanupStep("tree delete")(graft.util.Fs.deleteTree(tree))
        out
      }
    },

    // STREAMING DUAL-TREE HYBRID MAINTENANCE — the production capstone:
    // BOTH serving indexes are maintained under the streaming engine
    // (the BM25 term-bucketed tree by per-batch bm25Compact as in s13,
    // the IVF×PQ centroid tree by per-batch ivfPqCompact as in s12 —
    // two AvailableNow drains, ≥2 data batches each), then ONE
    // hybridServeAllSeek serves the x78 query batch from the two
    // compacted trees. Static splits: docs < 400 (s13's), corpus vectors
    // with vec_id % 7 ≠ 0 (s12's arrival topic carries the complement);
    // the frozen cents/codebook span the WHOLE corpus, so compaction
    // lands each batch exactly where the whole-corpus build would.
    // Final trees ≡ whole-corpus models (the x84/x79 laws) and seek
    // reads are exact ⇒ the served hybrid is x78's SQL verbatim.
    "s14_stream_hybrid_maintenance" -> { (s, dir) =>
      import s.implicits._
      val vTopic = arrivalVecTopic(s, dir)
      val dTopic = incomingDocsTopic(s, dir)
      withGateConf(s) {
        val docs = Tables.documents(s, dir)
        val emb = Tables.embeddings(s, dir)
        val corpus = emb.filter(col("vec_id") % 50 =!= 0)
        val (cents, assigned) = graft.ops.Similarity.ivfBuild(corpus,
          "embedding", "vec_id")
        val cb = graft.ops.Similarity.pqBuildCodebook(corpus, "embedding",
          "vec_id")
        val bm25Tree = gateTmpDir("s14_bm25_")
        val annTree = gateTmpDir("s14_ann_")
        // s13's 16-bucket / 2-batch gate dial on the text tree
        graft.ops.Retrieval.bm25WriteModel(graft.ops.Retrieval
          .bm25BuildModel(docs.filter(col("doc_id") < 400), "doc_id",
            "text"), bm25Tree.toString, nBuckets = 16)
        graft.ops.Similarity.ivfPqEncode(
            assigned.filter(col("vec_id") % 7 =!= 0), "vec_id", cb)
          .select("vec_id", "centroid_id", "codes")
          .write.mode("overwrite").partitionBy("centroid_id")
          .parquet(annTree.toString)
        def maintain(topic: String, ddl: String, prep: DataFrame => DataFrame,
                     fold: DataFrame => Unit, what: String): Unit =
          runToEnd(s"s14_$what", eachBatch(
              readTopic(s, topic, ddl, Some(n => (n + 1) / 2)).transform(prep)) {
            (df, _) => fold(df)
          })(n => s"s14 must compact $what across batches; ran $n")
        maintain(dTopic, incomingDocsDdl, _.select("doc_id", "text"),
          df => graft.ops.Retrieval.bm25Compact(s, bm25Tree.toString, df,
            "doc_id", "text", nBuckets = 16), "bm25")
        maintain(vTopic, vectorDdl, _.select(col("vec_id"), col("v").as("embedding")),
          df => { graft.ops.Similarity.ivfPqCompact(annTree.toString, cents,
            df, "embedding", "vec_id", cb); () }, "ann")
        val qdef = Seq(
          (1L, Seq("hash", "join"), 0L),
          (2L, Seq("spark", "vector"), 50L),
          (3L, Seq("data", "filter", "stream"), 100L),
          (4L, Seq("cache", "data"), 150L)).toDF("q_id", "terms", "src_vec")
        val qs = qdef.join(emb.select(col("vec_id").as("src_vec"),
          col("embedding")), "src_vec")
        val out = graft.ops.Caches.localCheckpointTracked(
          graft.ops.Retrieval.hybridServeAllSeek(s, bm25Tree.toString,
              annTree.toString, "doc_id", cents, corpus, "embedding",
              "vec_id", qs, "q_id", "terms", cb, kCand = 100, k = 10,
              nBuckets = 16)
            .orderBy("q_id", "rank"))
        cleanupStep("bm25 tree delete")(graft.util.Fs.deleteTree(bm25Tree))
        cleanupStep("ann tree delete")(graft.util.Fs.deleteTree(annTree))
        out
      }
    },

    // STREAMING APPEND-ONLY INDEX MAINTENANCE — the cheapest rung of the
    // maintenance ladder: the projected-IVF assignment row (vec_id,
    // centroid_id) is a PURE PER-ROW function of the frozen model
    // (projection matrix + centroid sample), so arriving vectors don't
    // need compaction at all — each micro-batch projects, assigns and
    // APPENDS to the partitionBy(centroid_id) tree (new files in the
    // touched cell dirs only; zero rewrites, vs s12/s13's
    // dynamic-overwrite folds whose rows aggregate). Serving probes the
    // projected query's cells against the tree and exact-reranks with
    // ORIGINAL vectors from the static table. Static (vec_id % 7 ≠ 0) ∪
    // streamed arrivals (% 7 = 0) = the x89 corpus, the model is frozen
    // over the WHOLE corpus, and append order can't affect a keyed read
    // — so the final tree reads exactly like the batch build and the
    // oracle is x89's SQL verbatim.
    "s15_stream_append_index" -> { (s, dir) =>
      val topic = arrivalVec7Topic(s, dir)
      withGateConf(s) {
        val emb = Tables.embeddings(s, dir)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val proj = graft.ops.Caches.localCheckpointTracked(
          graft.ops.Similarity.randomProject(corpus, "embedding", "vec_id", 16))
        val cents = graft.ops.Caches.localCheckpointTracked(proj
          .select(col("vec_id").as("centroid_id"), col("proj").as("cv"))
          .orderBy(md5(col("centroid_id").cast("string")).asc,
            col("centroid_id").asc)
          .limit(16))
        val tree = gateTmpDir("s15_tree_")
        graft.ops.Similarity.assignProjected(
            corpus.filter(col("vec_id") % 7 =!= 0), "embedding", "vec_id",
            cents, outDims = 16)
          .write.mode("overwrite").partitionBy("centroid_id")
          .parquet(tree.toString)
        val stream = readTopic(s, topic, vectorDdl, Some(n => (n + 1) / 2))
          .select(col("vec_id"), col("v").as("embedding"))
        runToEnd("s15", eachBatch(stream) { (df, _) =>
          graft.ops.Similarity.assignProjected(df, "embedding",
              "vec_id", cents, outDims = 16)
            .write.mode("append").partitionBy("centroid_id")
            .parquet(tree.toString)
        })(n => s"s15 must append across batches; ran $n data batches")
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        val qp = graft.ops.Similarity.randomProjectLocal(qv, 16)
        val probeCells = cents
          .withColumn("qs", graft.functions.VectorFunctions.cosine(col("cv"),
            lit(qp.toArray)))
          .orderBy(col("qs").desc, col("centroid_id").asc)
          .limit(4).select(col("centroid_id").cast("long"))
          .collect().map(_.getLong(0)).toSeq
        val out = graft.ops.Caches.localCheckpointTracked(
          s.read.parquet(tree.toString)
            .filter(col("centroid_id").isin(probeCells.map(Long.box): _*))
            .select(col("vec_id"))
            .join(corpus.select(col("vec_id"),
              col("embedding").cast("array<double>").as("__v")), "vec_id")
            .withColumn("cos_sim", round(
              graft.functions.VectorFunctions.cosine(col("__v"),
                lit(qv.toArray)), 6))
            .orderBy(col("cos_sim").desc, col("vec_id").asc)
            .limit(20)
            .select(col("vec_id"), col("cos_sim")))
        cleanupStep("tree delete")(graft.util.Fs.deleteTree(tree))
        out
      }
    },

    // STREAMING k-NN graph maintenance: the x90/x91 fold run per
    // micro-batch under the streaming engine — the stored
    // partitionBy(sb) graph tree is the maintained artifact; each
    // arrival batch re-ranks only affected sources (stored-k ∪
    // Δ-touching) under the FROZEN static-corpus model (centsOpt — a
    // per-fold retrain would change the candidate geometry), the
    // running corpus accumulates batch by batch, and
    // read-after-streaming ≡ the frozen-model rebuild over the whole
    // corpus: x90's SQL verbatim.
    "s16_stream_graph_maintenance" -> { (s, dir) =>
      val topic = arrivalGraphTopic(s, dir)
      withGateConf(s) {
        val emb = Tables.embeddings(s, dir)
        val static0 = graft.ops.Caches.localCheckpointTracked(
          emb.filter(col("vec_id") % 7 =!= 0)
            .select(col("vec_id"),
              col("embedding").cast("array<double>").as("embedding")))
        val cents = graft.ops.Caches.localCheckpointTracked(
          graft.ops.Similarity.ivfBuildKmeans(static0, "embedding",
            "vec_id", graft.ops.Similarity.autoCellCount(static0), 2)._1)
        val tree = gateTmpDir("s16_tree_")
        graft.ops.Similarity.knnGraphCells(static0, "embedding", "vec_id",
            k = 5)
          .withColumn("sb", pmod(col("src_id"), lit(16L)))
          .repartition(col("sb"))
          .sortWithinPartitions(col("sb"), col("src_id"), col("rank"))
          .write.mode("overwrite").partitionBy("sb").parquet(tree.toString)
        var sofar = static0
        val stream = readTopic(s, topic, vectorDdl, Some(n => (n + 1) / 2))
          .select(col("vec_id"), col("v").as("embedding"))
        runToEnd("s16", eachBatch(stream) { (df, _) =>
          val d = graft.ops.Caches.localCheckpointTracked(
            df.select(col("vec_id"), col("embedding")))
          graft.ops.Similarity.knnGraphCompact(s, tree.toString, sofar,
            d, "embedding", "vec_id", k = 5, centsOpt = Some(cents))
          sofar = graft.ops.Caches.localCheckpointTracked(
            sofar.unionByName(d))
        })(n => s"s16 must fold across batches; ran $n data batches")
        val out = graft.ops.Caches.localCheckpointTracked(
          s.read.parquet(tree.toString)
            .select(col("src_id"), col("nbr_id"), col("cos_sim"), col("rank"))
            .orderBy("src_id", "rank"))
        cleanupStep("tree delete")(graft.util.Fs.deleteTree(tree))
        out
      }
    },

    // Streaming CLASSIFIER-SCREENED ingest (s17): each arriving
    // micro-batch of documents is scored by the FROZEN Naive-Bayes model
    // trained on the static corpus (doc_id < 400, label = lang) — the
    // deployment form of x108, i.e. model-based language/quality
    // screening at the ingest edge (the role fastText plays in
    // CCNet-style pipelines). Scoring is a pure per-document function of
    // the frozen model (explode + broadcast model joins + one per-doc
    // argmax aggregate), so a doc's verdict cannot depend on its
    // batch-mates or on which batch carried it — the streamed union
    // equals the batch evaluation on the same split, which is the
    // oracle (the x108 SQL on the <400/≥400 split). ≥2 data batches
    // asserted; verdicts land in an append-mode parquet table as
    // batches commit.
    "s17_stream_classify_screening" -> { (s, dir) =>
      val topic = incomingDocsTopic(s, dir)
      withGateConf(s) {
        val m = {
          val m0 = graft.ops.Classify.trainNaiveBayes(
            Tables.documents(s, dir).filter(col("doc_id") < 400),
            "lang", "text")
          // freeze the model frames: every micro-batch joins them, and an
          // unmaterialized lineage would re-run training per batch
          graft.ops.Classify.NbModel(
            graft.ops.Caches.localCheckpointTracked(m0.classStats),
            graft.ops.Caches.localCheckpointTracked(m0.wordCounts),
            m0.vocabSize)
        }
        val sink = gateTmpDir("s17_sink_")
        val stream = readTopic(s, topic, incomingDocsDdl, Some(n => n / 2))
          .select("doc_id", "text", "lang")
        runToEnd("s17", stream.writeStream
          .foreachBatch { (df: DataFrame, _: Long) =>
            graft.ops.Classify.nbScore(df, "doc_id", "text", m)
              .join(df.select(col("doc_id"), col("lang").as("actual_label")),
                Seq("doc_id"))
              .select(col("doc_id"), col("actual_label"), col("pred_label"),
                col("score_nats"),
                (col("actual_label") === col("pred_label")).as("is_correct"))
              .write.mode("append").parquet(sink.toString)
            ()
          })(n => s"s17 must screen across batches; ran $n data batches")
        val out = graft.ops.Caches.localCheckpointTracked(
          s.read.parquet(sink.toString).orderBy("doc_id"))
        cleanupStep("sink delete")(graft.util.Fs.deleteTree(sink))
        out
      }
    },

    // Streaming FUNNEL maintenance (s18): the x109 signup→click→purchase
    // funnel kept incrementally as micro-batches of the event log arrive
    // in APPEND order (event time scrambled across batches — the hard
    // case for sequential-funnel semantics). Each batch folds into the
    // pruned per-(user, stage) candidate-timestamp state
    // ([[graft.ops.EventAnalytics.funnelFold]]): conditional-min merges
    // under the FROZEN stage definitions, the s16/s17 discipline. The
    // fold law (prune keeps every timestamp that could still become a
    // conditional min as earlier-stage minima keep dropping) makes the
    // folded state's report equal the batch funnel over the whole log —
    // which is the oracle, x109's SQL verbatim. ≥2 data batches
    // asserted; per-round state localCheckpoints with scoped release
    // (one live copy, the kCore discipline). The pending-state cut runs
    // with retainHours = the gate's arrival-disorder bound: this replay
    // scrambles the FULL 30-day log across batches (see
    // [[replayWatermark]]), so the sound horizon is the log span (31
    // days) — at which the cut provably drops nothing here, exactly as
    // a production deployment would size it to its lateness bound.
    "s18_stream_funnel_maintenance" -> { (s, dir) =>
      val topic = eventsTopic(s, dir)
      withGateConf(s) {
        val stages = Seq("signup", "click", "purchase")
        val retainHours = 31 * 24
        val h = new Fold
        Fold.guard(h) {
          val stream = readTopic(s, topic, eventsDdl, Some(n => (n + 2) / 3))
            .select("user_id", "ts", "event_type")
          runToEnd("s18", eachBatch(stream) { (df, _) =>
            h.update(graft.ops.EventAnalytics.funnelState(df, "user_id", "ts",
                "event_type", stages, retainHours))(
              graft.ops.EventAnalytics.funnelFold(_, df, "user_id", "ts",
                "event_type", stages, retainHours))
          })(n => s"s18 must fold across batches; ran $n data batches")
          graft.ops.Caches.localCheckpointTracked(
            graft.ops.EventAnalytics.funnelFromState(h.result(), "user_id",
                stages.size, withinHours = 48)
              .orderBy("user_id"))
        }
      }
    },

    // Streaming RETENTION maintenance (s19): x110's cohort matrix kept
    // incrementally — state is the distinct (user, activity-day) pair
    // set, retention's exact sufficient statistic, folded per batch by
    // plain set union (associative-commutative, so arrival order and
    // batch boundaries provably cannot show); the matrix renders from
    // the state after the drain. Oracle = x110's SQL verbatim over the
    // whole log. ≥2 data batches asserted; scoped per-batch
    // localCheckpoints (one live state copy).
    "s19_stream_retention_maintenance" -> { (s, dir) =>
      val topic = eventsTopic(s, dir)
      withGateConf(s) {
        val h = new Fold
        Fold.guard(h) {
          runToEnd("s19", activeDays(s, topic, h))(n =>
            s"s19 must fold across batches; ran $n data batches")
          graft.ops.Caches.localCheckpointTracked(
            graft.ops.EventAnalytics.retentionFromState(h.result(), "user_id")
              .orderBy("cohort_day", "offset_days"))
        }
      }
    },

    // Streaming SCD2 maintenance (s20): the x118 dimension history kept
    // incrementally as snapshot rows arrive in version order — each
    // micro-batch folds its version slices ASCENDING through
    // scd2Apply (partial snapshots are sound: apply is id-decomposable
    // within a version — each id's open interval is touched exactly
    // once whichever batch carries its row — and per-id version order
    // is preserved by the ordered produce + key-hash routing). Oracle =
    // x118's full-build SQL verbatim: the x123 fold law under the
    // streaming engine. ≥2 data batches asserted; scoped per-fold
    // checkpoints (one live history copy).
    "s20_stream_scd2_maintenance" -> { (s, dir) =>
      val topic = docSnapshotsTopic(s, dir)
      withGateConf(s) {
        val h = new Fold
        Fold.guard(h) {
          val stream = readTopic(s, topic, "doc_id BIGINT, version INT, text STRING",
              Some(n => (n + 2) / 3))
            .select("doc_id", "version", "text")
          runToEnd("s20", eachBatch(stream) { (df, _) =>
            val batch = graft.ops.Caches.localCheckpointTracked(df)
            // the version list is model-sized gate plumbing (≤4
            // values): snapshot slices must fold in ascending order
            val versions = batch.select("version").distinct()
              .collect().map(_.getInt(0)).sorted
            versions.foreach { v =>
              val slice = batch.filter(col("version") === v)
              val apply = (cur: DataFrame) =>
                graft.ops.Scd.scd2Apply(cur, slice, "doc_id", "version", Seq("text"))
              h.update(apply(slice.select(col("doc_id"),
                col("version").as("valid_from"), col("version").as("valid_to"),
                lit(true).as("is_current"), col("text")).limit(0)))(apply)
            }
          })(n => s"s20 must fold across batches; ran $n data batches")
          graft.ops.Caches.localCheckpointTracked(
            h.result().orderBy("doc_id", "valid_from"))
        }
      }
    },

    // Streaming ANOMALY-STATS maintenance (s21): x113's per-slice
    // sufficient statistics (n, Σv, Σv²) — three exact combinable longs
    // per slice — folded per micro-batch by pure integer addition
    // (associative-commutative, so batch boundaries provably cannot
    // show in the final stats), then ONE serving pass scores the
    // arrived events against the final stats. The maintained artifact
    // is the stats frame (slice-count-sized); the event accumulation
    // here stands in for the stored event table a production scorer
    // reads. Oracle = x113's SQL verbatim. ≥2 data batches asserted.
    "s21_stream_anomaly_stats" -> { (s, dir) =>
      val topic = measurementsTopic(s, dir)
      withGateConf(s) {
        val (stats, seen) = (new Fold, new Fold)
        Fold.guard(stats, seen) {
          val stream = readTopic(s, topic, "event_id BIGINT, event_type STRING, value DOUBLE",
              Some(n => (n + 2) / 3))
            .select("event_id", "event_type", "value")
          runToEnd("s21", eachBatch(stream) { (df, _) =>
            val bStats = graft.ops.EventAnalytics.anomalyStats(df,
              "event_type", "value")
            stats.update(bStats)(
              graft.ops.EventAnalytics.anomalyStatsMerge(_, bStats, "event_type"))
            seen.update(df)(_.unionByName(df))
          })(n => s"s21 must fold across batches; ran $n data batches")
          graft.ops.Caches.localCheckpointTracked(
            graft.ops.EventAnalytics.anomalyScoresFromStats(
                seen.result(), stats.result(),
                "event_type", "value", "event_id")
              .orderBy("event_id"))
        }
      }
    },

    // Streaming Z-ORDER COMPACTION (s22): x126's layout maintenance as
    // arrivals stream — the static tree writes once, each micro-batch
    // of hot-region rows folds in through zOrderCompact under the
    // FROZEN bounds (cell assignment is a pure per-row function of the
    // model, and compaction preserves rows, so compact ∘ compact over
    // any batch split ≡ one compact over the union — the s12 law on
    // the layout side). Only the delta's cell dirs rewrite per batch.
    // Oracle = x126's SQL verbatim (static ∪ all arrivals = the same
    // union). ≥2 data batches asserted.
    "s22_stream_zorder_compaction" -> { (s, dir) =>
      val topic = zorderDeltaTopic(s, dir)
      withGateConf(s) {
        val li = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_partkey", "l_suppkey")
        val tree = gateTmpDir("s22_tree_")
        val b = graft.ops.Layout.zOrderWrite(
          li.filter(col("l_orderkey") % 5 =!= 0), "l_partkey", "l_suppkey",
          tree.toString, bits = 8, cellBits = 4)
        // two data batches: each compact pays a read+rewrite of its
        // touched cell dirs, so the admission cap sizes the gate at the
        // minimum multi-batch evidence (≥2 asserted below)
        val stream = readTopic(s, topic,
            "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT", Some(n => (n + 1) / 2))
          .select("l_orderkey", "l_partkey", "l_suppkey")
        runToEnd("s22", eachBatch(stream) { (df, _) =>
          graft.ops.Layout.zOrderCompact(s, tree.toString, df,
            "l_partkey", "l_suppkey", b, bits = 8, cellBits = 4)
        })(n => s"s22 must compact across batches; ran $n data batches")
        val out = graft.ops.Caches.localCheckpointTracked(
          s.read.parquet(tree.toString)
            .groupBy(col("cell").cast("long").as("cell"))
            .agg(count(lit(1)).as("n"),
              min(col("xg")).as("min_xg"), max(col("xg")).as("max_xg"),
              min(col("yg")).as("min_yg"), max(col("yg")).as("max_yg"))
            .withColumn("skippable",
              col("max_xg") < 64 || col("min_xg") > 127 ||
              col("max_yg") < 0 || col("min_yg") > 63)
            .orderBy("cell"))
        cleanupStep("tree delete")(graft.util.Fs.deleteTree(tree))
        out
      }
    },

    // Streaming MARKOV-TRANSITION maintenance (s23): x111's transition
    // matrix kept incrementally — state is the (src, dst) pair-count
    // table (type²-sized) plus the per-user frontier (last event), and
    // each micro-batch contributes its internal consecutive pairs plus
    // the frontier-boundary pairs via one lead window over frontier ∪
    // batch. Exact because the topic replays in per-user (ts, id) order
    // (ordered produce + key-hash routing — the prerequisite named in
    // the op's scaladoc). Oracle = x111's SQL verbatim over the whole
    // log. ≥2 data batches asserted; scoped per-batch checkpoints.
    "s23_stream_markov_maintenance" -> { (s, dir) =>
      val topic = orderedTypedEventsTopic(s, dir)
      withGateConf(s) {
        val (pairs, frontier) = (new Fold, new Fold)
        Fold.guard(pairs, frontier) {
          val stream = readTopic(s, topic, "user_id BIGINT, event_id BIGINT, event_type STRING",
              Some(n => (n + 2) / 3))
            .select("user_id", "ts", "event_id", "event_type")
          runToEnd("s23", eachBatch(stream) { (df, _) =>
            val batch = graft.ops.Caches.localCheckpointScoped(df)
            try {
              val fdf = frontier.state
              val bp = graft.ops.EventAnalytics.transitionBatchPairs(
                fdf, batch.df, "user_id", "ts", "event_type", "event_id")
              pairs.update(bp)(graft.ops.EventAnalytics.transitionPairsMerge(_, bp))
              val nf = graft.ops.EventAnalytics.transitionNewFrontier(
                fdf, batch.df, "user_id", "ts", "event_type", "event_id")
              frontier.update(nf)(_ => nf)
            } finally batch.release()
          })(n => s"s23 must fold across batches; ran $n data batches")
          frontier.release()
          graft.ops.Caches.localCheckpointTracked(
            graft.ops.EventAnalytics.transitionFromPairs(pairs.result())
              .orderBy("src_type", "dst_type"))
        }
      }
    },

    // Streaming ROLLING-ACTIVE maintenance (s24): x116's DAU/WAU report
    // kept incrementally from the SAME state s19 maintains for
    // retention — the distinct (user, day) pair set, folded by plain
    // set union (associative-commutative: arrival order and batch
    // boundaries provably cannot show). One state, two reports: the
    // gate renders the rolling-active table from the folded pair set.
    // Oracle = x116's SQL verbatim. ≥2 data batches asserted.
    "s24_stream_rolling_active" -> { (s, dir) =>
      val topic = eventsTopic(s, dir)
      withGateConf(s) {
        val h = new Fold
        Fold.guard(h) {
          runToEnd("s24", activeDays(s, topic, h))(n =>
            s"s24 must fold across batches; ran $n data batches")
          graft.ops.Caches.localCheckpointTracked(
            graft.ops.EventAnalytics.rollingActiveFromState(h.result(), "user_id",
                windowDays = 7)
              .orderBy("day"))
        }
      }
    },

    // Streaming COLUMN-PROFILE maintenance (s26): x119's per-column
    // report kept incrementally as catalog rows arrive — the maintained
    // artifact is the ONE-ROW mergeable profile state (exact counts /
    // nulls / native extrema / length sums + an HLL sketch per column),
    // folded per batch by profileMerge. The gate ALSO accumulates the
    // arrived rows as the EXACT control: the emitted report is the
    // exact profile over the accumulated set (= x119's SQL verbatim),
    // and the maintained HLL state is asserted against it in-gate
    // (every exact field equal; n_distinct within the lgK=12 sketch
    // bound) — the x28 convention: the approximate artifact is
    // value-pinned, the oracle hashes the exact twin. ≥2 data batches
    // asserted; scoped per-batch checkpoints (one live copy each).
    "s26_stream_profile_maintenance" -> { (s, dir) =>
      val topic = docsCatalogTopic(s, dir)
      val cols = Seq("doc_id", "lang", "source", "n_chars", "lang_dirty")
      withGateConf(s) {
        val (st, seen) = (new Fold, new Fold)
        Fold.guard(st, seen) {
          val stream = readTopic(s, topic, docsCatalogDdl, Some(n => (n + 2) / 3))
            .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
              when(col("doc_id") % 7 === 0, lit(null).cast("string"))
                .otherwise(col("lang")).as("lang_dirty"))
          runToEnd("s26", eachBatch(stream) { (df, _) =>
            val bState = graft.ops.Profile.profileState(df, cols)
            st.update(bState)(graft.ops.Profile.profileMerge(_, bState, cols))
            seen.update(df)(_.unionByName(df))
          })(n => s"s26 must fold across batches; ran $n data batches")
          val exact = graft.ops.Caches.localCheckpointTracked(
            graft.ops.Profile.profile(seen.result(), cols)
              .orderBy("col_name"))
          // value-pin the maintained HLL state against the exact twin
          val approx = graft.ops.Profile.profileFromState(st.result(), cols)
            .collect().map(r => r.getString(0) -> r).toMap
          exact.collect().foreach { e =>
            val a = approx(e.getString(0))
            require(a.getLong(1) == e.getLong(1) && a.getLong(2) == e.getLong(2)
              && a.getString(4) == e.getString(4)
              && a.getString(5) == e.getString(5) && a.get(6) == e.get(6),
              s"s26 maintained state drifted on an exact field: $a vs $e")
            require(math.abs(a.getLong(3) - e.getLong(3)) <=
              math.max(2L, math.round(0.05 * e.getLong(3))),
              s"s26 HLL distinct outside bound: $a vs $e")
          }
          exact
        }
      }
    },

    // Streaming STRICT-PACKING maintenance (s27): x128's next-fit pack
    // table kept incrementally — state is the per-shard open-pack
    // (fill, bin) pair plus the accumulated (source, pack_id) totals;
    // each micro-batch folds its contiguous ordered per-shard chunk
    // segment from the carried state (the packChunksStrictFold resume
    // law: (fill, bin) is next-fit's COMPLETE sequential state, so
    // state ∘ batch ≡ one fold over the concatenation). A pack that
    // spans a batch boundary keeps filling, its totals merging by sum.
    // Exact because the topic replays per-source in (doc_id, chunk_idx)
    // order (ordered produce + key routing). Oracle = x128's SQL
    // verbatim. ≥2 data batches asserted; scoped per-batch checkpoints.
    "s27_stream_packing_maintenance" -> { (s, dir) =>
      val topic = chunkStreamTopic(s, dir)
      withGateConf(s) {
        val (packs, state) = (new Fold, new Fold)
        Fold.guard(packs, state) {
          val stream = readTopic(s, topic, chunksDdl, Some(n => (n + 2) / 3))
            .select("doc_id", "source", "chunk_idx", "n_chunk_tokens")
          runToEnd("s27", eachBatch(stream) { (df, _) =>
            val batch = graft.ops.Caches.localCheckpointScoped(df)
            try {
              val folded = graft.ops.Caches.localCheckpointScoped(
                graft.ops.Chunking.packChunksStrictFold(batch.df, "source",
                  "n_chunk_tokens", 256, Seq("doc_id", "chunk_idx"), state.state))
              try {
                val bp = packTotals(folded.df)
                packs.update(bp)(_.unionByName(bp).groupBy("source", "pack_id")
                  .agg(sum(col("n_chunks")).cast("long").as("n_chunks"),
                    sum(col("pack_tokens")).cast("long").as("pack_tokens")))
                val ns = graft.ops.Chunking.packFoldState(folded.df, "source")
                state.update(ns)(graft.ops.Chunking.packStateMerge(_, ns, "source"))
              } finally folded.release()
            } finally batch.release()
          })(n => s"s27 must fold across batches; ran $n data batches")
          state.release()
          graft.ops.Caches.localCheckpointTracked(
            packs.result().orderBy("source", "pack_id"))
        }
      }
    },

    // Streaming exact dedup under the gate: events replayed through the
    // topic → dropDuplicatesWithinWatermark(user_id) → append-mode memory
    // sink. WHICH occurrence survives is arrival-order-dependent, so the
    // query emits only the key column — the emitted key SET (exactly one
    // row per distinct user) is deterministic and batch-recomputable as
    // DISTINCT. PINNED single-batch (ADVICE r5): this query must NOT set
    // maxRecordsPerTrigger — with the 1-day watermark advancing between
    // batches, dropDuplicatesWithinWatermark could evict a key's state and
    // re-emit it, silently diverging from the DISTINCT oracle. The
    // ≤1-data-batch assertion turns any such config drift into a loud
    // failure. (The watermark bounds dedup state on an unbounded stream;
    // on this bounded single-batch replay it evicts nothing.)
    "s02_stream_dedup" -> { (s, dir) =>
      val topic = eventsTopic(s, dir)
      val mem = s"s02_result_${java.util.UUID.randomUUID().toString.take(8)}"
      withGateConf(s) {
        val docs = readTopic(s, topic) // no admission cap — see above
          .select(col("key").cast("string").cast("long").as("user_id"),
            col("timestamp").as("ts"))
        val deduped = Streams.dedupWithinWatermark(docs, "user_id", "ts", "1 day")
          .select("user_id")
        val q = runToEnd("s02", deduped.writeStream.format("memory").queryName(mem)
          .outputMode("append"), minBatches = 0)(_ => "")
        require(dataBatches(q) <= 1,
          s"s02 relies on the single-batch drain invariant; ran ${dataBatches(q)} data batches")
        materialized(s, mem, s.table(mem).orderBy("user_id"))
      }
    },

    // Streaming SESSION windows under the gate, MULTI-batch: gap-based
    // sessionization (session_window merge semantics) per event_type with
    // a 1-hour gap. The admission cap forces ≥4 batches, so sessions
    // STRADDLE batch boundaries and the session-merge state operator has
    // to widen/merge persisted sessions as later batches arrive — the
    // cross-batch merge path itself is what the oracle now checks. The
    // oracle sessionizes with the q35-proven lag/cumsum islands pattern
    // (duplicate timestamps can't flip a break: a 0 gap never exceeds the
    // threshold, so tie order is irrelevant).
    "s04_stream_session_windows" -> { (s, dir) =>
      val topic = eventsTopic(s, dir)
      val mem = s"s04_result_${java.util.UUID.randomUUID().toString.take(8)}"
      withGateConf(s) {
        val parsed = readTopic(s, topic, eventsDdl, Some(n => n / 6))
          .select("ts", "event_type", "value")
        val agg = Streams.sessionCounts(parsed, "ts",
          watermark = replayWatermark, gap = "1 hour")
        runToEnd("s04", agg.writeStream.format("memory").queryName(mem)
          .outputMode("complete"))(n =>
          s"s04 must exercise cross-batch session merge; ran $n data batches")
        materialized(s, mem, s.table(mem).orderBy("event_type", "win_start"))
      }
    },

    // The reference's CORE use case, streaming form, under the gate:
    // an unbounded keyed stream enriched against the TTL-cached
    // http-full-cache table (stream-static LEFT lookup join — the static
    // side re-plans each micro-batch, the source's TTL decides whether a
    // re-plan re-fetches), then a running per-user aggregate in complete
    // mode. Batch h01 shares the same arithmetic, so the oracle is the
    // same reproduction of the lookup (a user exists iff 0 <= id < 100).
    "s03_stream_enrich" -> { (s, dir) =>
      val topic = eventsTopic(s, dir)
      val mem = s"s03_result_${java.util.UUID.randomUUID().toString.take(8)}"
      withGateConf(s) {
        val stream = readTopic(s, topic, eventsDdl).select("user_id", "value")
        val users = s.read.format("http-full-cache")
          .schema("id INT, name STRING, username STRING, email STRING")
          .option("url", HttpEnrichment.usersServer.url)
          .load()
        val agg = Streams.enrich(stream, users,
            stream("user_id") === users("id"), "left")
          .groupBy("user_id", "name")
          .agg(count(lit(1)).as("n_events"),
            Tables.dsum(col("value")).as("sum_value"))
        runToEnd("s03", agg.writeStream.format("memory").queryName(mem)
          .outputMode("complete"), minBatches = 0)(_ => "")
        materialized(s, mem, s.table(mem).orderBy("user_id"))
      }
    },

    // Checkpoint-resume under the gate (the reference's restart-safety
    // claim, README.md:135-165): a capped stream (≈12 batches of backlog)
    // into an exactly-once FILE sink is STOPPED mid-backlog, then a second
    // query resumes from the same checkpoint and drains the rest. The
    // batch read of the output goes through the sink's _spark_metadata
    // commit log, so an uncommitted in-flight batch from the interrupted
    // leg is invisible; the grouped counts/sums over the output equal the
    // batch aggregate of `events` iff the resume replayed nothing and
    // skipped nothing — any off-by-one-batch breaks n/sum_value and the
    // oracle hash.
    "s05_stream_checkpoint_resume" -> { (s, dir) =>
      val topic = eventsTopic(s, dir)
      val out = gateTmpDir("s05_out_")
      withGateConf(s) {
        killAndResume(s, "s05", () =>
          readTopic(s, topic, eventsDdl, Some(n => n / 12))
            .select(col("key").cast("string").cast("long").as("user_id"),
              col("event_type"), col("value"))
            .writeStream.format("parquet")
            .option("path", out.toString)
            .outputMode("append"))
        // The output dir outlives the query (read lazily below); /tmp is
        // round-scoped. The aggregate proves exactly-once: a lost or
        // doubled record anywhere shifts n/sum_value.
        s.read.parquet(out.toString)
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("sum_value"))
          .orderBy("user_id", "event_type")
      }
    },

    // s05's restart-safety claim through the TOPIC sink: the capped
    // stream produces each record to an output graft-topic via the
    // EXACTLY-ONCE transactional producer (task-staged records publish
    // through the broker's (queryId, epochId, taskPartition) commit
    // ledger), is KILLED mid-backlog after ≥2 committed batches, and a
    // second leg resumes from the checkpoint. The kill lands mid-epoch
    // by construction, so the resume REPLAYS that epoch — any
    // re-published record doubles a count and breaks the oracle hash
    // (with the default at-least-once producer this gate fails; the
    // ledger is what makes it pass). Aggregation happens batch-side
    // over the drained output topic; oracle = s05's SQL verbatim.
    "s25_stream_txn_topic_sink" -> { (s, dir) =>
      val topic = eventsTopic(s, dir)
      val outTopic = s"s25_out_${java.util.UUID.randomUUID().toString.take(8)}"
      withGateConf(s) {
        try {
          killAndResume(s, "s25", () =>
            readTopic(s, topic, perTrigger = Some(n => n / 12))
              .select(col("key"), col("value"), col("timestamp"))
              .writeStream.format("graft-topic")
              .option("topic", outTopic)
              .option("partitions", "4"))
          graft.ops.Caches.localCheckpointTracked(
            s.read.format("graft-topic").option("topic", outTopic).load()
              .select(col("key").cast("string").cast("long").as("user_id"),
                from_json(col("value").cast("string"), org.apache.spark.sql.types
                  .StructType.fromDDL("event_type STRING, value DOUBLE")).as("j"))
              .groupBy(col("user_id"), col("j.event_type").as("event_type"))
              .agg(count(lit(1)).as("n"), Tables.dsum(col("j.value")).as("sum_value"))
              .orderBy("user_id", "event_type"))
        } finally
          // per-invocation output topic: released with its ledger so
          // best-of-N reruns cannot accumulate log copies
          cleanupStep("output topic delete")(
            graft.sources.topic.TopicLog.delete(outTopic))
      }
    },

    // RESTART-SAFE strict-packing maintenance (s28): s27's fold with its
    // state OUTSIDE the driver. Per batch the gate folds from the LATEST
    // persisted snapshot with id < batchId, then persists the full shard
    // (fill, bin) snapshot to state/batch=<id> and the batch's pack-total
    // DELTA to packs/batch=<id>. A replayed batch — the kill window's
    // in-flight micro-batch, which restarts with the SAME batch id and
    // (static topic, fixed admission cap) the same offset range — re-reads
    // the same prior snapshot and OVERWRITES its own two dirs: idempotent
    // by construction, no epoch ledger needed. Leg 1 is killed
    // mid-backlog by the s05 listener latch; leg 2 resumes from the
    // checkpoint and drains. The report sums the delta tree; oracle =
    // x128's SQL verbatim — any replayed or skipped chunk shifts a pack
    // total and breaks the hash. Persisted state is delta-sized per
    // batch: the snapshot is shards × (fill, bin), the delta the batch's
    // packs (production appends + compacts like the s11–s16 index folds).
    "s28_stream_packing_restart" -> { (s, dir) =>
      val topic = chunkStreamTopic(s, dir)
      val root = gateTmpDir("s28_state_")
      withGateConf(s) {
        val stateRoot = s"$root/state"
        val packsRoot = s"$root/packs"
        def latestStateBefore(b: Long): Option[String] = {
          val dirs = Option(new java.io.File(stateRoot).listFiles())
            .getOrElse(Array.empty)
            .map(_.getName).filter(_.startsWith("batch="))
            .map(_.stripPrefix("batch=").toLong).filter(_ < b)
          if (dirs.isEmpty) None else Some(s"$stateRoot/batch=${dirs.max}")
        }
        killAndResume(s, "s28", () => eachBatch(
            // ~12-batch backlog — DELIBERATELY not trimmed (r16 gate-dial
            // audit): the backlog is the RUNWAY for the kill-resume race —
            // leg 1's stop lands asynchronously after the ≥3-committed
            // latch, and a short backlog lets leg 1 drain everything
            // before the stop, starving leg 2's ≥1-data-batch assert; the
            // extra folds are the price of a non-flaky resume leg
            readTopic(s, topic, chunksDdl, Some(n => n / 12))
              .select("doc_id", "source", "chunk_idx", "n_chunk_tokens")) {
          (df, batchId) =>
            val batch = graft.ops.Caches.localCheckpointScoped(df)
            try {
              val prior = latestStateBefore(batchId)
                .map(p => s.read.parquet(p)).orNull
              val folded = graft.ops.Caches.localCheckpointScoped(
                graft.ops.Chunking.packChunksStrictFold(batch.df, "source",
                  "n_chunk_tokens", 256, Seq("doc_id", "chunk_idx"), prior))
              try {
                packTotals(folded.df)
                  .write.mode("overwrite")
                  .parquet(s"$packsRoot/batch=$batchId")
                val ns = graft.ops.Chunking.packFoldState(folded.df, "source")
                (if (prior == null) ns
                 else graft.ops.Chunking.packStateMerge(prior, ns, "source"))
                  .write.mode("overwrite")
                  .parquet(s"$stateRoot/batch=$batchId")
              } finally folded.release()
            } finally batch.release()
        })
        graft.ops.Caches.localCheckpointTracked(
          s.read.parquet(packsRoot)
            .groupBy("source", "pack_id")
            .agg(sum(col("n_chunks")).cast("long").as("n_chunks"),
              sum(col("pack_tokens")).cast("long").as("pack_tokens"))
            .orderBy("source", "pack_id"))
      }
    },

    // Streaming DECONTAMINATION maintenance (s29): x125's cross-corpus
    // audit kept incrementally as BENCHMARK docs arrive — the
    // living-eval-suite shape: the 100-TB corpus is shingled ONCE
    // (persisted here; a written digest table at scale) and each
    // micro-batch audits only its arriving benchmark rows against it,
    // so incremental cost ∝ batch, never ∝ corpus. Report rows are
    // keyed by bench doc id — disjoint across batches — so the fold is
    // plain union: batch order and boundaries provably cannot show.
    // Oracle = x125's SQL verbatim. ≥2 data batches asserted; scoped
    // per-batch checkpoints (one live copy).
    "s29_stream_decontamination" -> { (s, dir) =>
      val topic = benchDocsTopic(s, dir)
      withGateConf(s) {
        val rep = new Fold
        val cs = graft.ops.Caches.persistTracked(
          graft.ops.Dedup.contaminationShingles(
            Tables.documents(s, dir).select("doc_id", "text"),
            "doc_id", "text", ngramN = 5))
        Fold.guard(rep) {
          val stream = readTopic(s, topic, "bench_id BIGINT, text STRING",
              Some(n => (n + 2) / 3))
            .select("bench_id", "text")
          runToEnd("s29", eachBatch(stream) { (df, _) =>
            val br = graft.ops.Dedup.contaminationReportFromShingles(
              cs, df, "bench_id", "text", ngramN = 5, minShared = 2)
            rep.update(br)(_.unionByName(br))
          })(n => s"s29 must fold across batches; ran $n data batches")
          graft.ops.Caches.localCheckpointTracked(
            rep.result().orderBy("doc_id", "bench_id"))
        }
      }
    },

    // Streaming BUDGET-MIX maintenance (s30): x131's mix plan kept
    // incrementally as catalog rows arrive — the maintained artifact is
    // the GROUP-SIZED token-sum state (integer adds, associative-
    // commutative: batch order and boundaries provably cannot show),
    // from which the plan (targets, cuts) is a pure function and keeps
    // are a READ-TIME md5 predicate — never a materialized keep set, so
    // a cut moved by new arrivals re-scores at scan time for free. The
    // gate accumulates the arrived rows as the exact control: the
    // folded stats are value-pinned against the accumulated set's stats
    // in-gate, and the emitted report applies the MAINTAINED plan to
    // the accumulated rows — oracle = x131's SQL verbatim. ≥2 data
    // batches asserted; scoped per-batch checkpoints (one live copy).
    "s30_stream_budget_mix" -> { (s, dir) =>
      val topic = docsCatalogTopic(s, dir)
      val weights = Map("en" -> 500, "zh" -> 200, "de" -> 150, "fr" -> 150)
      withGateConf(s) {
        val (st, seen) = (new Fold, new Fold)
        Fold.guard(st, seen) {
          val stream = readTopic(s, topic, docsCatalogDdl, Some(n => (n + 2) / 3))
            .select("doc_id", "lang", "n_chars")
          runToEnd("s30", eachBatch(stream) { (df, _) =>
            val bs = graft.ops.Chunking.mixtureStats(df, "lang", "n_chars")
            st.update(bs)(graft.ops.Chunking.mixtureStatsMerge(_, bs, "lang"))
            seen.update(df)(_.unionByName(df))
          })(n => s"s30 must fold across batches; ran $n data batches")
          val seenDf = seen.result()
          val stDf = st.result()
          // value-pin the folded stats against the exact twin over the
          // accumulated arrivals (integer sums: equality is exact)
          val folded = stDf.collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          val exact = graft.ops.Chunking.mixtureStats(seenDf, "lang", "n_chars")
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          require(folded == exact,
            s"s30 folded stats drifted from the exact twin: $folded vs $exact")
          // the report: the MAINTAINED plan applied to the accumulated rows
          val plan = graft.ops.Chunking.mixturePlanFromStats(stDf,
            "lang", weights, budgetTokens = 40000L)
          graft.ops.Caches.localCheckpointTracked(
            graft.ops.Chunking.applyMixturePlan(seenDf, plan, "lang", "doc_id")
              .groupBy("lang")
              .agg(max(col("n_tokens")).as("n_tokens"),
                max(col("w_permille")).cast("long").as("w_permille"),
                max(col("target_tokens")).as("target_tokens"),
                max(col("cut")).cast("long").as("cut"),
                count_if(col("keep")).as("n_kept"),
                coalesce(sum(when(col("keep"), col("n_chars"))), lit(0L))
                  .cast("long").as("kept_tokens"))
              .orderBy("lang"))
        }
      }
    },

    // Streaming CDC-DIGEST maintenance (s31): x133's content-defined
    // chunk digest kept incrementally as documents arrive — the written
    // artifact every CDC consumer (x135's containment dedup) reads.
    // Boundaries are a pure per-row function of LOCAL content, so each
    // batch chunks only its arriving docs (cost ∝ batch, never ∝
    // corpus) and digest rows are doc-keyed — disjoint across batches —
    // so the fold is plain union: batch order and boundaries provably
    // cannot show. Oracle = x133's SQL verbatim. ≥2 data batches
    // asserted; scoped per-batch checkpoints (one live copy).
    "s31_stream_cdc_digest" -> { (s, dir) =>
      val topic = allDocsTopic(s, dir)
      withGateConf(s) {
        val digest = new Fold
        Fold.guard(digest) {
          val stream = readTopic(s, topic, allDocsDdl, Some(n => (n + 2) / 3))
            .select("doc_id", "text")
          runToEnd("s31", eachBatch(stream) { (df, _) =>
            val bd = graft.ops.Chunking.contentDefinedChunks(
                df, "doc_id", "text", windowWords = 4, maskMod = 16)
              .select("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_hash")
            digest.update(bd)(_.unionByName(bd))
          })(n => s"s31 must fold across batches; ran $n data batches")
          graft.ops.Caches.localCheckpointTracked(
            digest.result().orderBy("doc_id", "chunk_idx"))
        }
      }
    },

    // Streaming TOKEN-DRIFT maintenance (s32): x138's two snapshot
    // token histograms kept incrementally as documents arrive — the
    // maintained artifact is the VOCAB-SIZED (side, w, c) count state
    // (integer adds, associative-commutative: batch order and
    // boundaries provably cannot show), from which the drift
    // attribution report is a pure function — nothing corpus-sized is
    // ever maintained, and the alarm re-reads the same state each
    // trigger for free. The folded state is value-pinned against the
    // exact twin over the accumulated arrivals in-gate; the emitted
    // report is [[graft.ops.LangModel.driftMoversFromStats]] over the
    // maintained sides — oracle = x138's SQL verbatim. ≥2 data batches
    // asserted; scoped per-batch checkpoints (one live copy).
    "s32_stream_token_drift" -> { (s, dir) =>
      val topic = allDocsTopic(s, dir)
      withGateConf(s) {
        val st = new Fold
        Fold.guard(st) {
          val stream = readTopic(s, topic, allDocsDdl, Some(n => (n + 2) / 3))
            .select("doc_id", "text")
          runToEnd("s32", eachBatch(stream) { (df, _) =>
            val sided = df.withColumn("side",
              when(col("doc_id") % 2 === 0, lit("a")).otherwise(lit("b")))
            val bs = sided
              .select(col("side"),
                explode(split(col("text"), " ")).as("w"))
              .groupBy("side", "w")
              .agg(count(lit(1)).cast("long").as("c"))
            st.update(bs)(_.unionByName(bs).groupBy("side", "w")
              .agg(sum(col("c")).cast("long").as("c")))
          })(n => s"s32 must fold across batches; ran $n data batches")
          val stDf = st.result()
          // value-pin the folded histograms against the exact twin over
          // the source table — the topic IS the whole documents table
          // drained with AvailableNow, so the arrival set equals it
          // (the s34 discipline; integer counts, equality exact). The
          // gate maintains ONLY the vocab-sized state, never the corpus.
          val folded = stDf.collect()
            .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
          val exact = Tables.documents(s, dir)
            .select(when(col("doc_id") % 2 === 0, lit("a")).otherwise(lit("b"))
              .as("side"), explode(split(col("text"), " ")).as("w"))
            .groupBy("side", "w").agg(count(lit(1)).cast("long").as("c"))
            .collect()
            .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
          require(folded == exact,
            s"s32 folded histograms drifted from the exact twin " +
              s"(${folded.size} vs ${exact.size} keys)")
          // the report: the drift attribution as a pure function of the
          // maintained state sides
          graft.ops.Caches.localCheckpointTracked(
            graft.ops.LangModel.driftMoversFromStats(
              stDf.filter(col("side") === "a").select("w", "c"),
              stDf.filter(col("side") === "b").select("w", "c"),
              topK = 50))
        }
      }
    },

    // Streaming WINNOWING-INDEX maintenance (s33): x141's fingerprint
    // index kept incrementally — fingerprints are a pure per-row
    // function of LOCAL content (the same property as s31's CDC
    // digest), so each micro-batch fingerprints only its arriving docs
    // (cost ∝ batch, never ∝ corpus) and the doc-keyed index rows union
    // order-free; the overlap-pair report is a pure READ of the
    // maintained index (df cut + fp-keyed join), re-runnable each
    // trigger. Oracle = x141's SQL verbatim. ≥2 data batches asserted;
    // scoped per-batch checkpoints (one live copy).
    "s33_stream_winnowing_index" -> { (s, dir) =>
      val topic = allDocsTopic(s, dir)
      withGateConf(s) {
        val idx = new Fold
        Fold.guard(idx) {
          val stream = readTopic(s, topic, allDocsDdl, Some(n => (n + 2) / 3))
            .select("doc_id", "text")
          runToEnd("s33", eachBatch(stream) { (df, _) =>
            val bf = graft.ops.Dedup.winnowingFingerprints(
              df, "doc_id", "text", k = 4, w = 8)
            idx.update(bf)(_.unionByName(bf))
          })(n => s"s33 must fold across batches; ran $n data batches")
          graft.ops.Caches.localCheckpointTracked(
            graft.ops.Dedup.winnowingOverlapFromFingerprints(
                idx.result(), "doc_id",
                minShared = 3, maxFpDf = 50)
              .orderBy("a_id", "b_id"))
        }
      }
    },

    // Streaming TF-IDF-SALIENCE maintenance (s34): x142's stats kept
    // incrementally — the maintained artifact is the ONE tall
    // vocab-sized (kind, grp, w, c) frame (tf term counts, per-doc-
    // distinct df, the doc count), folded by integer adds. tf/nd fold
    // unconditionally; df folds because each doc arrives in exactly
    // one batch (the topic partitions the corpus), so its distinct
    // words are counted within its own batch — the same doc-keyed
    // argument as s31/s33. The salience report is a pure function of
    // the state. Folded state value-pinned against the exact twin
    // in-gate; oracle = x142's SQL verbatim. ≥2 data batches asserted.
    "s34_stream_tfidf_salience" -> { (s, dir) =>
      val topic = srcDocsTopic(s, dir)
      withGateConf(s) {
        val st = new Fold
        Fold.guard(st) {
          val stream = readTopic(s, topic, srcDocsDdl, Some(n => (n + 2) / 3))
            .select("doc_id", "source", "text")
          runToEnd("s34", eachBatch(stream) { (df, _) =>
            val bs = graft.ops.TextStats.tfidfStats(
              df, "doc_id", "source", "text")
            st.update(bs)(graft.ops.TextStats.tfidfStatsMerge(_, bs))
          })(n => s"s34 must fold across batches; ran $n data batches")
          val stDf = st.result()
          // value-pin the folded stats against the exact twin over the
          // whole corpus (integer counts: equality is exact)
          val folded = stDf.collect()
            .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
              r.getLong(3)).toMap
          val exact = graft.ops.TextStats.tfidfStats(
              Tables.documents(s, dir), "doc_id", "source", "text")
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
              r.getLong(3)).toMap
          require(folded == exact,
            s"s34 folded stats drifted from the exact twin " +
              s"(${folded.size} vs ${exact.size} keys)")
          graft.ops.Caches.localCheckpointTracked(
            graft.ops.TextStats.tfidfSalienceFromStats(stDf, "source",
                topK = 10)
              .orderBy("source", "rk"))
        }
      }
    },

    // STREAMING-MAINTAINED TREE RECALL (s35) — x146's quality audit
    // pointed at the tree s12 maintains: micro-batches of vector
    // arrivals compact into the written partitionBy(centroid_id) IVF×PQ
    // tree under the frozen model (only touched cells rewritten), and
    // AFTER the drain the recall@5 report is computed by SERVING THE
    // COMPACTED TREE for the whole query table and intersecting with
    // the exact L2 ground truth. This is the audit a deployer actually
    // needs: x146 measures the batch-built index, but quality drift
    // hides exactly in the maintenance fold (VERDICT r14 missing #2) —
    // so the hash-gated recall artifact must be measured over the tree
    // the folds produced. Cell ids and codes are pure per-row functions
    // of the frozen model and micro-batches deliver disjoint arrival
    // sets, so the final tree ≡ the whole-corpus encode (the s12/x79
    // law) and the oracle is x146's SQL verbatim.
    "s35_stream_tree_recall" -> { (s, dir) =>
      val topic = arrivalVecTopic(s, dir)
      withGateConf(s) {
        val all = Tables.embeddings(s, dir)
        val corpus = all.filter(col("vec_id") % 50 =!= 0)
        val qtab = all.filter(col("vec_id") % 50 === 0)
        val (cents, assigned) =
          graft.ops.Similarity.ivfBuild(corpus, "embedding", "vec_id")
        val cb = graft.ops.Similarity.pqBuildCodebook(corpus, "embedding", "vec_id")
        val tree = gateTmpDir("s35_tree_")
        // static tree: the corpus minus what the arrival topic carries
        graft.ops.Similarity.ivfPqEncode(
            assigned.filter(col("vec_id") % 7 =!= 0), "vec_id", cb)
          .select("vec_id", "centroid_id", "codes")
          .write.mode("overwrite").partitionBy("centroid_id")
          .parquet(tree.toString)
        val stream = readTopic(s, topic, vectorDdl, Some(n => n / 3))
          .select(col("vec_id"), col("v").as("embedding"))
        runToEnd("s35", eachBatch(stream) { (df, _) =>
          graft.ops.Similarity.ivfPqCompact(tree.toString, cents, df,
            "embedding", "vec_id", cb)
        })(n => s"s35 must compact across batches; ran $n data batches")
        val served = graft.ops.Similarity.ivfPqServeAll(cents,
          s.read.parquet(tree.toString), corpus, "embedding", "vec_id",
          qtab, "vec_id", cb, k = 5)
        val exact = graft.ops.Similarity.l2TopKAll(corpus, "embedding",
          "vec_id", qtab, "vec_id", k = 5)
        val out = graft.ops.Caches.localCheckpointTracked(
          graft.ops.Similarity.recallAtK(served, exact, k = 5,
              queries = Some(qtab.select(col("vec_id").as("q_id"))))
            .orderBy("q_id"))
        cleanupStep("tree delete")(graft.util.Fs.deleteTree(tree))
        out
      }
    },

    // STREAMING WINNOWING-TREE maintenance (s36): s33 maintains the
    // fingerprint index as a frame; this maintains the WRITTEN
    // fp-bucketed tree (x148's storage shape — what a 100 TB overlap
    // service actually reads): the static split writes the base tree,
    // each micro-batch folds its arrivals in by bucket-local
    // winnowingCompact (the s13 discipline applied to fingerprints),
    // and the overlap report is served from the compacted tree after
    // the drain. Fingerprints are a pure per-doc function of content
    // and doc sets are disjoint across batches, so compact-then-serve
    // ≡ build-on-everything: oracle = x141's SQL verbatim. ≥2 data
    // batches asserted.
    "s36_stream_winnowing_tree" -> { (s, dir) =>
      val topic = incomingDocsTopic(s, dir)
      withGateConf(s) {
        val docs = Tables.documents(s, dir)
        val tree = gateTmpDir("s36_tree_")
        // 16-bucket gate dial (the s13/x84 convention: results are
        // bucket-count-invariant, the oracle bucketless)
        graft.ops.Dedup.winnowingWriteIndex(
          graft.ops.Dedup.winnowingFingerprints(
            docs.filter(col("doc_id") < 400), "doc_id", "text", k = 4, w = 8),
          "doc_id", tree.toString, nBuckets = 16)
        val stream = readTopic(s, topic, incomingDocsDdl, Some(n => (n + 1) / 2))
          .select("doc_id", "text")
        runToEnd("s36", eachBatch(stream) { (df, _) =>
          graft.ops.Dedup.winnowingCompact(s, tree.toString, df,
            "doc_id", "text", k = 4, w = 8, nBuckets = 16)
        })(n => s"s36 must compact across batches; ran $n data batches")
        val out = graft.ops.Caches.localCheckpointTracked(
          graft.ops.Dedup.winnowingServeTree(s, tree.toString, "doc_id",
              minShared = 3, maxFpDf = 50)
            .orderBy("a_id", "b_id"))
        cleanupStep("tree delete")(graft.util.Fs.deleteTree(tree))
        out
      }
    },

    // STREAMING LM-CURRICULUM MAINTENANCE (s37) — the LM lane's
    // streaming twin: the self-scored bigram LM decomposes into three
    // maintainable states, each with an order-free fold — the
    // (prev, cur, cb) bigram grid (integer adds; the unigram
    // denominator DERIVES from it, cu = Σ_cur cb, so one count frame
    // maintains the whole model), the distinct-word vocabulary
    // (union+distinct, idempotent), and doc-keyed per-doc transition
    // counts (disjoint docs per batch → append, the s33 argument).
    // After the drain the threshold-curriculum manifest is served as a
    // pure function of the three states (scoreFromBigramStats ≡
    // perplexityScoreSelf, spec-pinned; the bucket tail is x156's own
    // curriculumThresholdFromScored, shared code). Both model states
    // value-pinned against exact twins in-gate; oracle = x156's SQL
    // verbatim, dials the shared curriculumCutDials constant.
    "s37_stream_lm_curriculum" -> { (s, dir) =>
      val topic = srcDocsTopic(s, dir)
      withGateConf(s) {
        val (bi, vw, dt) = (new Fold, new Fold, new Fold)
        Fold.guard(bi, vw, dt) {
          val stream = readTopic(s, topic, srcDocsDdl, Some(n => (n + 2) / 3))
            .select("doc_id", "text")
          runToEnd("s37", eachBatch(stream) { (df, _) =>
            val lm = graft.ops.LangModel
            val bb = lm.bigramStats(df, "doc_id", "text")
            bi.update(bb)(lm.bigramStatsMerge(_, bb))
            val bv = lm.vocabWords(df, "text")
            vw.update(bv)(_.unionByName(bv).distinct())
            val bt = lm.docTransitionStats(df, "doc_id", "text")
            dt.update(bt)(_.unionByName(bt))
          })(n => s"s37 must fold across batches; ran $n data batches")
          val biDf = bi.result()
          val vwDf = vw.result()
          val dtDf = dt.result()
          val docs = Tables.documents(s, dir)
          // value-pin the folded MODEL states against the exact twins
          // (integer counts / a distinct set: equality is exact)
          val foldedBi = biDf.collect()
            .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
          val exactBi = graft.ops.LangModel
            .bigramStats(docs, "doc_id", "text").collect()
            .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
          require(foldedBi == exactBi,
            s"s37 folded bigram grid drifted from the exact twin " +
              s"(${foldedBi.size} vs ${exactBi.size} keys)")
          val foldedV = vwDf.collect().map(_.getString(0)).toSet
          val exactV = graft.ops.LangModel.vocabWords(docs, "text")
            .collect().map(_.getString(0)).toSet
          require(foldedV == exactV,
            s"s37 folded vocabulary drifted (${foldedV.size} vs ${exactV.size})")
          val scored = graft.ops.LangModel.scoreFromBigramStats(
            dtDf, "doc_id", biDf, foldedV.size.toLong)
          graft.ops.Caches.localCheckpointTracked(
            graft.ops.Export.curriculumThresholdFromScored(scored,
                Ext.curriculumCutDials)
              .orderBy("bucket"))
        }
      }
    },
  )

  /** s19/s24's shared fold: the events stream folded into the distinct
    * (user, activity-day) pair set. */
  private def activeDays(s: SparkSession, topic: String, h: Fold): DataStreamWriter[Row] =
    eachBatch(readTopic(s, topic, eventsDdl, Some(n => (n + 2) / 3)).select("user_id", "ts")) {
      (df, _) =>
        h.update(graft.ops.EventAnalytics.retentionState(df, "user_id", "ts"))(
          graft.ops.EventAnalytics.retentionFold(_, df, "user_id", "ts"))
    }

  /** s27/s28's per-(source, pack_id) chunk and token totals of one
    * packed batch. */
  private def packTotals(packed: DataFrame): DataFrame =
    graft.ops.Chunking.packAssignments(packed)
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_chunk_tokens")).cast("long").as("pack_tokens"))

  private val streamStreamEntry: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // STREAM-STREAM inner join under the gate: the capped events stream
    // (~5 micro-batches) joins a user-metadata changelog stream on
    // user_id — matches between meta seen in batch 1 and events arriving
    // in batches 2..n can only come from the symmetric join STATE, so
    // cross-batch join-state retention is what the oracle checks (≥2 data
    // batches asserted). Inner equality join with both watermarks far
    // below any event time: no state eviction before the drain, and the
    // emitted SET is batch-equivalent regardless of batch boundaries. The
    // joined rows land append-mode in the memory sink; the returned frame
    // aggregates them batch-side (tier is a pure function of user_id, so
    // DuckDB reproduces the join arithmetically).
    "s06_stream_stream_join" -> { (s, dir) =>
      val topic = eventsTopic(s, dir)
      val mTopic = userMetaTopic(s, dir)
      val mem = s"s06_result_${java.util.UUID.randomUUID().toString.take(8)}"
      withGateConf(s) {
        val ev = readTopic(s, topic, eventsDdl, Some(n => n / 3))
          .select("ts", "user_id", "value")
          // deterministic 1-in-5 user subset: the join-state machinery is
          // what the gate exercises; 100k joined rows through the
          // symmetric-hash join + memory sink would only buy volume
          .filter(col("user_id") % 5 === 0)
          .withWatermark("ts", replayWatermark)
        val meta = readTopic(s, mTopic, "m_user_id BIGINT, tier STRING")
          .select(col("ts").as("m_ts"), col("m_user_id"), col("tier"))
          .withWatermark("m_ts", replayWatermark)
        val joined = ev.join(meta, ev("user_id") === meta("m_user_id"), "inner")
          .select("user_id", "tier", "value")
        runToEnd("s06", joined.writeStream.format("memory").queryName(mem)
          .outputMode("append"))(n =>
          s"s06 must exercise cross-batch join state; ran $n data batches")
        materialized(s, mem, s.table(mem)
          .groupBy("user_id", "tier")
          .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("sum_value"))
          .orderBy("user_id"))
      }
    },
    // Stream-stream LEFT OUTER join with state EVICTION exercised
    // mid-drain — the path s06 deliberately pins shut (watermarks below
    // all event times: no null emission, no state cleanup). Attribution
    // shape: every click joined to the same user's purchases within the
    // following 7 days; clicks with no such purchase emit a null row once
    // the watermark proves no match can still arrive. The time-ordered
    // replay (see [[orderedEventsTopic]]) advances the watermark ~5 days
    // per admission-capped batch, so the join evicts expired click /
    // purchase state WHILE draining — asserted via stateOperators
    // .numRowsRemoved — and the sentinel pair closes every real window in
    // the trailing no-data batch, making the emitted set batch-equivalent:
    // matches AND null rows are decided by event times alone. The 5-day
    // delay covers cross-partition admission skew (partitions advance
    // proportionally; per-batch spans differ by hours, not days).
    // Reference analog: bounded state via TTL is the reference's whole
    // cache-lifecycle story (HttpLookupTableSource.scala:49-52); here the
    // bound comes from watermark + join-window instead of a clock.
    "s07_stream_join_eviction" -> { (s, dir) =>
      val topic = orderedEventsTopic(s, dir)
      val mem = s"s07_result_${java.util.UUID.randomUUID().toString.take(8)}"
      // r8 trim: 3 data batches (was 6) — the watermark advances ~10
      // days/trigger, so batch-1 join windows (c_ts+7d < day 15) still
      // evict DURING data batch 3, mid-drain as asserted; and 2 state
      // partitions (was 4) — the outer join keeps 4 state stores per
      // partition, so this halves per-batch store open/commit machinery
      // while staying multi-partition. Each saved batch saves a full
      // admission pass over BOTH sides plus 4-store commits.
      withGateConf(s, noData = true, partitions = 2) {
        def side(): DataFrame = readTopic(s, topic, eventsDdl, Some(n => n / 3))
          .select("ts", "user_id", "event_type", "value")
        // deterministic 1-in-5 user subset, same rationale as s06; the
        // sentinels pass it (−5 % 5 == −10 % 5 == 0)
        val clicks = side()
          .filter(col("event_type") === "click" && col("user_id") % 5 === 0)
          .select(col("user_id"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "5 days")
        val purchases = side()
          .filter(col("event_type") === "purchase" && col("user_id") % 5 === 0)
          .select(col("user_id").as("p_user_id"), col("ts").as("p_ts"),
            col("value").as("p_value"))
          .withWatermark("p_ts", "5 days")
        val joined = clicks.join(purchases,
          expr("user_id = p_user_id AND p_ts >= c_ts AND p_ts <= c_ts + interval 7 days"),
          "leftOuter")
          .select(col("user_id"), col("c_ts"), col("p_ts"), col("p_value"))
        val q = runToEnd("s07", joined.writeStream.format("memory").queryName(mem)
          .outputMode("append"))(n => s"s07 must drain multi-batch; ran $n data batches")
        val removed = q.recentProgress
          .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
        require(removed > 0,
          "s07 must observe join-state eviction mid-drain; numRowsRemoved == 0 " +
            "means the watermark never released state (time-ordered replay broken?)")
        materialized(s, mem, s.table(mem)
          .filter(col("user_id") >= 0)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"), count(col("p_ts")).as("n_matched"),
            Tables.dsum(col("p_value")).as("sum_purchase"))
          .orderBy("user_id"))
      }
    },
  )

  /** s06/s07 merged here (declared above so object init order is safe). */
  lazy val allQueries: Map[String, (SparkSession, String) => DataFrame] =
    queries ++ streamStreamEntry

  /** s08's whole-corpus ANN-serving replay, shared verbatim by s11
    * (delta-index serving): which batch carried a query or an arrival
    * cannot appear in the result. */
  private val s08AnnServeSql: String =
    """WITH h AS (
        |  SELECT b, list_transform(generate_series(0, 63),
        |    d -> (CAST('0x' || substr(md5('rhp:' || CAST(b AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 8) AS UBIGINT) % 2000001) / 1000000.0 - 1.0) AS hv
        |  FROM generate_series(0, 127) t(b)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |bits AS (
        |  SELECT e.vec_id, CAST(h.b // 8 AS INT) AS j,
        |    CASE WHEN list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * hv[i])) > 0
        |      THEN CAST(1 << (7 - (h.b % 8)) AS BIGINT) ELSE 0 END AS bit
        |  FROM e, h),
        |bands AS (SELECT vec_id, j, SUM(bit) AS bv FROM bits GROUP BY vec_id, j),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id
        |  FROM bands q JOIN bands c USING (j, bv)
        |  WHERE q.vec_id % 50 = 0 AND c.vec_id % 50 <> 0),
        |scored AS (
        |  SELECT cand.q_id, cand.vec_id,
        |    round(
        |      list_sum(list_transform(generate_series(1, len(c.v)), i -> c.v[i] * q.v[i])) /
        |      (sqrt(list_sum(list_transform(generate_series(1, len(c.v)), i -> c.v[i] * c.v[i]))) *
        |       sqrt(list_sum(list_transform(generate_series(1, len(q.v)), i -> q.v[i] * q.v[i])))),
        |    6) AS cos_sim
        |  FROM cand
        |  JOIN e c ON c.vec_id = cand.vec_id
        |  JOIN e q ON q.vec_id = cand.q_id)
        |SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS INT) AS rank,
        |  vec_id, cos_sim
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY q_id, rank""".stripMargin

  val oracle: Map[String, String] = Map(
    // The batch x50 computation IS the streaming answer: screening is
    // cross-side-only (doc vs corpus), so micro-batch boundaries cannot
    // show in any per-doc verdict — share x50's oracle SQL verbatim.
    "s09_stream_ingest_screening" -> Ext.oracle("x50_incremental_dedup"),

    // NB scoring under a frozen model is a pure per-document function,
    // so the streamed verdicts equal the batch evaluation on the same
    // static/arrival split: the x108 replay on <400 / >=400.
    "s17_stream_classify_screening" ->
      Ext.nbEvalSql("doc_id < 400", "doc_id >= 400"),

    // The funnel fold law: pruned conditional-min state folded per
    // batch renders exactly the batch funnel over the whole event log —
    // x109's SQL verbatim.
    "s18_stream_funnel_maintenance" -> Ext.oracle("x109_funnel"),

    // Retention state is the distinct (user, day) set — set union is
    // associative-commutative, so the folded matrix is the batch
    // matrix: x110's SQL verbatim.
    "s19_stream_retention_maintenance" -> Ext.oracle("x110_retention"),

    // The SCD2 fold law under the streaming engine: version-ordered
    // partial-snapshot applies reproduce the full four-snapshot build —
    // x118's SQL verbatim.
    "s20_stream_scd2_maintenance" -> Ext.oracle("x118_scd2_history"),

    // Sufficient statistics fold by integer addition: the final stats
    // equal the batch aggregate, so scoring the arrived set against
    // them is x113's SQL verbatim.
    "s21_stream_anomaly_stats" -> Ext.oracle("x113_anomaly_zscores"),

    // Cell assignment is a pure function of the frozen bounds and
    // compaction preserves rows, so compact-per-batch over any split
    // equals one compact over the union: x126's SQL verbatim.
    "s22_stream_zorder_compaction" -> Ext.oracle("x126_zorder_compact"),

    // Per-user (ts, id)-ordered replay + frontier-boundary lead pairs
    // make the folded pair counts the batch pair counts, and counts add
    // — the rendered matrix is x111's SQL verbatim.
    "s23_stream_markov_maintenance" -> Ext.oracle("x111_transition_matrix"),

    // The rolling-active report is a pure function of the distinct
    // (user, day) pair set, and set union folds order-free — x116's
    // SQL verbatim over the whole log.
    "s24_stream_rolling_active" -> Ext.oracle("x116_rolling_active"),

    // The gate emits the exact profile over the accumulated arrivals
    // (the maintained HLL state is value-pinned against it in-gate) —
    // x119's SQL verbatim.
    "s26_stream_profile_maintenance" -> Ext.oracle("x119_column_profile"),

    // (fill, bin) is next-fit's complete sequential state and the topic
    // replays per-source in pack order, so the maintained pack table is
    // the batch pack table — x128's SQL verbatim.
    "s27_stream_packing_maintenance" -> Ext.oracle("x128_strict_packing"),

    // The persisted-state restart leg changes WHERE the fold state lives,
    // not what it computes: the summed delta tree is the batch pack
    // table iff the kill window neither replayed nor skipped a chunk —
    // x128's SQL verbatim.
    "s28_stream_packing_restart" -> Ext.oracle("x128_strict_packing"),

    // The corpus shingle table is static and each benchmark doc's
    // report rows depend only on that doc's own shingles, so per-batch
    // audits union to the one-shot audit — x125's SQL verbatim.
    "s29_stream_decontamination" -> Ext.oracle("x125_decontamination"),

    // The group token sums fold by integer addition (value-pinned
    // against the exact twin in-gate), the plan is a pure function of
    // them, and keeps are a read-time predicate of the plan — the
    // report over the accumulated arrivals is x131's SQL verbatim.
    "s30_stream_budget_mix" -> Ext.oracle("x131_budget_mix"),

    // CDC boundaries are a pure per-row function of local content and
    // digest rows are doc-keyed, so per-batch chunking unions to the
    // one-shot corpus digest — x133's SQL verbatim.
    "s31_stream_cdc_digest" -> Ext.oracle("x133_cdc_chunks"),

    // The side-keyed token histograms fold by integer addition
    // (value-pinned against the exact twin in-gate) and the drift
    // attribution is a pure function of the folded state — the report
    // over the accumulated arrivals is x138's SQL verbatim.
    "s32_stream_token_drift" -> Ext.oracle("x138_token_drift"),

    // Winnowing fingerprints are a pure per-row function of content and
    // index rows are doc-keyed, so per-batch fingerprinting unions to
    // the one-shot corpus index; the pair report is a pure read of it —
    // x141's SQL verbatim.
    "s33_stream_winnowing_index" -> Ext.oracle("x141_winnowing_overlap"),

    // The tall tf/df/nd stats frame folds by integer addition (df
    // validly because the topic partitions docs across batches;
    // value-pinned against the exact twin in-gate) and the salience
    // report is a pure function of the state — x142's SQL verbatim.
    "s34_stream_tfidf_salience" -> Ext.oracle("x142_tfidf_salience"),

    // Shard membership is a pure function of the row and every manifest
    // field commutes, so the streamed partitioned tree's manifest equals
    // the batch manifest over the same arrival set (doc_id >= 400 — the
    // ingest topic's slice): x66's replay with that filter.
    "s10_stream_shard_export" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) % 8 AS shard,
        |    len(list_filter(string_split(text, ' '), t -> t <> '')) AS ntok,
        |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 8) AS UBIGINT) AS BIGINT) AS chk
        |  FROM documents WHERE doc_id >= 400)
        |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
        |  CAST(SUM(chk) AS BIGINT) AS checksum
        |FROM d GROUP BY shard ORDER BY shard""".stripMargin,

    // The batch x45 computation IS the streaming answer: band keys are a
    // pure function of the vector (md5-rebuilt planes), the stream-static
    // join adds no state, and the per-query top-5 is deterministic
    // (score desc, id asc) — so which batch served a query cannot show.
    "s08_stream_ann_serving" -> s08AnnServeSql,

    // s11: static ∪ arrivals = the whole %50≠0 corpus, and band keys /
    // scores / tie-breaks are pure functions of the vectors — the
    // merged delta serving equals the batch probe of the full corpus,
    // s08's replay verbatim.
    "s11_stream_delta_ann_serving" -> s08AnnServeSql,

    // s12: static tree ∪ streamed arrivals = the whole vec_id<>0 corpus,
    // cells/codes pure per-row functions of the frozen model — the
    // compacted tree's probe equals the whole-corpus x58 probe, its SQL
    // verbatim (the x70/x73/x79 law under the streaming engine).
    "s12_stream_index_compaction" -> Ext.oracle("x58_ivfpq_topk"),

    // s13: static (<400) ∪ streamed arrivals (≥400) = all documents, and
    // every BM25 model field is an exact re-aggregatable count — the
    // compacted tree serves exactly the whole-corpus model: x76's SQL
    // verbatim (the x81/x84 law under the streaming engine).
    "s13_stream_bm25_maintenance" -> Ext.oracle("x76_bm25_serve"),

    // s14: both maintained trees end ≡ their whole-corpus models (the
    // x84 count fold on the text side, the x79 frozen-model encode on
    // the vector side; static ∪ streamed = whole in both), and seek
    // reads are exact — the served hybrid is x78's SQL verbatim.
    "s14_stream_hybrid_maintenance" -> Ext.oracle("x78_hybrid_serve_ann"),

    // s35: static tree ∪ streamed arrivals = the whole %50≠0 corpus and
    // cells/codes are pure per-row functions of the frozen model, so
    // the compacted tree ≡ x146's batch-built index frame (the s12/x79
    // law); serve-all, the exact ground truth and the intersection are
    // then x146's replay verbatim.
    "s35_stream_tree_recall" -> Ext.oracle("x146_ann_recall_report"),

    // s36 = x141's report served from the streaming-compacted written
    // tree; fingerprints are pure per-doc functions and batch doc sets
    // are disjoint, so the tree read-back equals the one-shot frame.
    "s36_stream_winnowing_tree" -> Ext.oracle("x141_winnowing_overlap"),
    "s37_stream_lm_curriculum" -> Ext.oracle("x156_curriculum_threshold"),

    // s15: the assignment row is a pure per-row function of the frozen
    // model, appends land new files in their cell dirs (no rewrites),
    // and a keyed read is order-blind — static ∪ appended = the batch
    // build's tree: x89's SQL verbatim.
    "s15_stream_append_index" -> Ext.oracle("x89_projected_ivf_topk"),

    // s16: candidate cells/bands are pure per-row functions of the
    // FROZEN static-split model, the affected-source re-rank is exact
    // by the displacement argument, and each fold leaves unaffected
    // sources untouched — so static ∪ streamed folds = the frozen-model
    // rebuild over the whole corpus: x90's SQL verbatim (the x91 law
    // under the streaming engine).
    "s16_stream_graph_maintenance" -> Ext.oracle("x90_knn_graph_delta"),

    // The FULL batch left join: the sentinel-closed watermark guarantees
    // every real click got its match rows or its null row — nothing is
    // left pending in join state, so matches AND null emissions are pure
    // functions of event times.
    "s07_stream_join_eviction" ->
      """WITH c AS (SELECT user_id, ts AS c_ts FROM events
        |           WHERE event_type = 'click' AND user_id % 5 = 0),
        |p AS (SELECT user_id AS p_user_id, ts AS p_ts, value AS p_value FROM events
        |      WHERE event_type = 'purchase' AND user_id % 5 = 0)
        |SELECT c.user_id, COUNT(*) AS n, COUNT(p.p_ts) AS n_matched,
        |  CAST(SUM(CAST(p.p_value AS DECIMAL(28,6))) AS DOUBLE) AS sum_purchase
        |FROM c LEFT JOIN p
        |  ON c.user_id = p.p_user_id AND p.p_ts >= c.c_ts
        | AND p.p_ts <= c.c_ts + INTERVAL 7 DAY
        |GROUP BY c.user_id
        |ORDER BY c.user_id""".stripMargin,

    // The meta side carries every distinct events user with tier a pure
    // function of the id, so the inner join keeps all rows.
    "s06_stream_stream_join" ->
      """SELECT user_id, concat('T', CAST(user_id % 3 AS VARCHAR)) AS tier,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id % 5 = 0
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // Spark's window('1 day') buckets align to the epoch = UTC calendar
    // days (UTC session both sides), so date_trunc is the same bucketing.
    "s01_stream_window_counts" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start,
        |  CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS win_end,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2, 3 ORDER BY win_start, event_type""".stripMargin,

    "s02_stream_dedup" ->
      "SELECT DISTINCT user_id FROM events ORDER BY user_id",

    // q35's lag/cumsum sessionization per event_type. Session = [min ts,
    // max ts + gap); Spark MERGES events exactly gap apart, so the break
    // is strict `>` — same alignment q35 pins.
    "s04_stream_session_windows" ->
      """WITH s AS (
        |  SELECT event_type, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY event_type ORDER BY ts) > INTERVAL 1 HOUR
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |g AS (
        |  SELECT event_type, ts, value,
        |    SUM(brk) OVER (PARTITION BY event_type ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM s)
        |SELECT MIN(ts) AS win_start, MAX(ts) + INTERVAL 1 HOUR AS win_end, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY event_type, sess
        |ORDER BY event_type, win_start""".stripMargin,

    // Same arithmetic reproduction of the HTTP lookup as batch h01.
    "s03_stream_enrich" ->
      """SELECT user_id,
        |  CASE WHEN user_id BETWEEN 0 AND 99 THEN concat('User ', CAST(user_id AS VARCHAR)) END AS name,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    // Exactly-once across the restart: grouped counts/sums must equal the
    // batch aggregate of events bit-for-bit.
    "s05_stream_checkpoint_resume" ->
      """SELECT user_id, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    // The transactional topic producer under a mid-epoch kill + resume:
    // exactly-once means the drained output topic holds every event
    // once, so the grouped counts/sums equal the batch aggregate —
    // s05's SQL verbatim.
    "s25_stream_txn_topic_sink" ->
      """SELECT user_id, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
  )
}
