package graft

import graft.http.Fixtures
import graft.sources.http.SnapshotCache
import graft.sources.http.testkit.EmbeddedJsonServer
import graft.streaming.{Streams, TimedEvent, UserEvent}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Structured Streaming parity: stream-static enrichment with TTL refresh
  * across micro-batches (the reference's cache-refresh-visibility scenario
  * re-expressed, ref: HttpLookupConnectorIntegrationTest.scala:428-543),
  * watermarked windows, and keyed state. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = GraftSession.local("4")

  /** Poll until the query has completed at least `n` micro-batches. */
  private def awaitBatches(q: org.apache.spark.sql.streaming.StreamingQuery,
                           n: Long, timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while ((Option(q.lastProgress).map(_.batchId).getOrElse(-1L) < n) &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(Option(q.lastProgress).map(_.batchId).getOrElse(-1L) >= n,
      s"stream did not reach batch $n within ${timeoutMs}ms")
  }

  test("native readStream emits the snapshot per trigger with TTL-dedup'd fetches") {
    SnapshotCache.invalidateAll()
    val server = new EmbeddedJsonServer
    try {
      server.payload = Fixtures.usersJson(prefix = "Mock")
      val users = spark.readStream.format("http-full-cache")
        .schema(Fixtures.usersSchema)
        .option("url", server.url)
        .option("cache.refresh-interval", "PT1H")
        .load()
      val q = users.writeStream.format("memory").queryName("native_stream")
        .outputMode("append").start()
      try {
        awaitBatches(q, 3)
        // every micro-batch re-emits the full snapshot...
        val perName = spark.table("native_stream").groupBy("name").count()
          .collect().map(_.getLong(1))
        assert(perName.nonEmpty && perName.forall(_ >= 3),
          s"each batch should re-emit the snapshot rows")
        // ...but within the TTL all batches share ONE fetch
        assert(server.requestCount == 1,
          s"expected exactly one TTL-dedup'd fetch, got ${server.requestCount}")
      } finally graft.util.QuietLogs.quietStop(q)
    } finally server.stop()
  }

  test("native readStream sees the refreshed payload after TTL expiry") {
    SnapshotCache.invalidateAll()
    val server = new EmbeddedJsonServer
    try {
      server.payload = Fixtures.usersJson(prefix = "Mock")
      val users = spark.readStream.format("http-full-cache")
        .schema(Fixtures.usersSchema)
        .option("url", server.url)
        .option("cache.refresh-interval", "PT0.3S")
        .load()
      val q = users.writeStream.format("memory").queryName("native_refresh")
        .outputMode("append").start()
      try {
        awaitBatches(q, 1)
        server.payload = Fixtures.usersJson(prefix = "Updated")
        Thread.sleep(400) // TTL expiry
        val before = Option(q.lastProgress).map(_.batchId).getOrElse(0L)
        awaitBatches(q, before + 2)
        val names = spark.table("native_refresh").select("name")
          .collect().map(_.getString(0)).toSet
        assert(names.exists(_.startsWith("Mock")) && names.exists(_.startsWith("Updated")),
          s"post-TTL batches must carry the refreshed snapshot: $names")
        // fetches are TTL-bounded, not per-batch: far fewer than batches
        val batches = Option(q.lastProgress).map(_.batchId).getOrElse(0L) + 1
        assert(server.requestCount >= 2 && server.requestCount < batches + 1,
          s"fetches=${server.requestCount} batches=$batches")
      } finally graft.util.QuietLogs.quietStop(q)
    } finally server.stop()
  }

  test("stream-static enrichment sees refreshed HTTP snapshot in later micro-batches") {
    import spark.implicits._
    SnapshotCache.invalidateAll()
    val server = new EmbeddedJsonServer
    try {
      server.payload = Fixtures.usersJson(prefix = "Mock")
      val users = spark.read.format("http-full-cache")
        .schema(Fixtures.usersSchema)
        .option("url", server.url)
        .option("cache.refresh-interval", "PT1S")
        .load()
      val input = new MemoryStream[Int](1, spark)
      val enriched = Streams.enrich(input.toDF.withColumnRenamed("value", "user_id"),
        users, col("user_id") === col("id"), "inner")
        .select("user_id", "name")
      val q = enriched.writeStream.format("memory").queryName("enriched")
        .outputMode("append").start()
      try {
        input.addData(1, 2)
        q.processAllAvailable()
        val batch1 = spark.table("enriched").collect().map(_.getString(1))
        assert(batch1.length == 2 && batch1.forall(_.startsWith("Mock")))

        server.payload = Fixtures.usersJson(prefix = "Updated")
        Thread.sleep(1200) // TTL expiry
        input.addData(3, 4)
        q.processAllAvailable()
        val all = spark.table("enriched").collect()
          .map(r => r.getInt(0) -> r.getString(1)).toMap
        assert(all(1).startsWith("Mock"), "earlier batch output is immutable")
        assert(all(3).startsWith("Updated") && all(4).startsWith("Updated"),
          s"micro-batch after TTL must see the new snapshot: $all")
        assert(server.requestCount >= 2)
      } finally graft.util.QuietLogs.quietStop(q)
    } finally server.stop()
  }

  test("within-TTL micro-batches reuse one fetch") {
    import spark.implicits._
    SnapshotCache.invalidateAll()
    val server = new EmbeddedJsonServer
    try {
      server.payload = Fixtures.usersJson()
      val users = spark.read.format("http-full-cache")
        .schema(Fixtures.usersSchema)
        .option("url", server.url)
        .option("cache.refresh-interval", "PT1H")
        .load()
      val input = new MemoryStream[Int](1, spark)
      val q = Streams.enrich(input.toDF.withColumnRenamed("value", "user_id"),
          users, col("user_id") === col("id"), "inner")
        .writeStream.format("memory").queryName("one_fetch").outputMode("append").start()
      try {
        for (batch <- 1 to 3) { input.addData(batch); q.processAllAvailable() }
        assert(spark.table("one_fetch").count() == 3)
        assert(server.requestCount == 1,
          s"expected exactly one fetch across micro-batches, got ${server.requestCount}")
      } finally graft.util.QuietLogs.quietStop(q)
    } finally server.stop()
  }

  private def lastPlan(q: org.apache.spark.sql.streaming.StreamingQuery): SparkPlan =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan

  /** The http-full-cache broadcasts of a plan, through AQE's stages. */
  private def fullCacheExchanges(p: SparkPlan): Seq[graft.plans.FullCacheBroadcastExchangeExec] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    nodes(p).collect { case e: graft.plans.FullCacheBroadcastExchangeExec => e }
  }

  test("micro-batches build the lookup broadcast once per snapshot load") {
    import spark.implicits._
    SnapshotCache.invalidateAll()
    val server = new EmbeddedJsonServer
    try {
      server.payload = Fixtures.usersJson()
      val users = spark.read.format("http-full-cache")
        .schema(Fixtures.usersSchema)
        .option("url", server.url)
        .option("cache.refresh-interval", "PT3S")
        .load()
      val input = new MemoryStream[Int](1, spark)
      val q = Streams.enrich(input.toDF.withColumnRenamed("value", "user_id"),
          users, col("user_id") === col("id"), "inner")
        .select("user_id", "name")
        .writeStream.format("memory").queryName("memo_batches").outputMode("append").start()
      try {
        val (loads0, builds0) = (SnapshotCache.loadCount, SnapshotCache.relationBuilds)
        for (batch <- 1 to 5) { input.addData(batch); q.processAllAvailable() }
        // a stateless stream's micro-batches run adaptively
        assert(lastPlan(q).exists(_.isInstanceOf[AdaptiveSparkPlanExec]))
        assert(fullCacheExchanges(lastPlan(q)).size == 1, lastPlan(q).toString)
        assert(SnapshotCache.loadCount - loads0 == 1)
        assert(SnapshotCache.relationBuilds - builds0 == 1,
          s"5 batches on one load built ${SnapshotCache.relationBuilds - builds0} relations")
        server.payload = Fixtures.usersJson(prefix = "Updated")
        Thread.sleep(3200) // TTL expiry
        for (batch <- 6 to 8) { input.addData(batch); q.processAllAvailable() }
        val names = spark.table("memo_batches").collect().map(r => r.getInt(0) -> r.getString(1)).toMap
        assert((1 to 5).forall(i => names(i) == s"Mock Name$i"), names)
        assert((6 to 8).forall(i => names(i) == s"Updated Name$i"), names)
        // one more load, one more build: builds follow loads
        assert(SnapshotCache.loadCount - loads0 == 2)
        assert(SnapshotCache.relationBuilds - builds0 == SnapshotCache.loadCount - loads0)
        assert(server.requestCount == 2)
      } finally graft.util.QuietLogs.quietStop(q)
    } finally server.stop()
  }

  test("stateful micro-batches, planned without AQE, reuse the lookup broadcast too") {
    import spark.implicits._
    SnapshotCache.invalidateAll()
    val server = new EmbeddedJsonServer
    try {
      server.payload = Fixtures.usersJson()
      val users = spark.read.format("http-full-cache")
        .schema(Fixtures.usersSchema)
        .option("url", server.url)
        .option("cache.refresh-interval", "PT1H")
        .load()
      val input = new MemoryStream[Int](1, spark)
      val q = Streams.enrich(input.toDF.withColumnRenamed("value", "user_id"),
          users, col("user_id") === col("id"), "inner")
        .groupBy("name").count()
        .writeStream.format("memory").queryName("memo_stateful").outputMode("complete").start()
      try {
        val builds0 = SnapshotCache.relationBuilds
        for (batch <- Seq(1, 2, 2, 3)) { input.addData(batch); q.processAllAvailable() }
        assert(!lastPlan(q).exists(_.isInstanceOf[AdaptiveSparkPlanExec]), lastPlan(q).toString)
        assert(fullCacheExchanges(lastPlan(q)).size == 1, lastPlan(q).toString)
        val counts = spark.table("memo_stateful").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(counts == Map("Mock Name1" -> 1L, "Mock Name2" -> 2L, "Mock Name3" -> 1L), counts)
        assert(SnapshotCache.relationBuilds - builds0 == 1)
        assert(server.requestCount == 1)
      } finally graft.util.QuietLogs.quietStop(q)
    } finally server.stop()
  }

  test("watermarked tumbling window aggregates event time") {
    import spark.implicits._
    val input = new MemoryStream[(Timestamp, String, Double)](2, spark)
    val df = input.toDF.toDF("ts", "event_type", "value")
    val agg = Streams.windowedCounts(df, "ts", "10 seconds", "1 minute")
    val q = agg.writeStream.format("memory").queryName("win")
      .outputMode("complete").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(
        (t("2024-01-01 00:00:10"), "click", 1.0),
        (t("2024-01-01 00:00:50"), "click", 2.0),
        (t("2024-01-01 00:01:10"), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win").collect()
      val clicks = rows.find(r => r.getAs[String]("event_type") == "click").get
      assert(clicks.getAs[Long]("n") == 2 && clicks.getAs[Double]("sum_value") == 3.0)
      val views = rows.find(r => r.getAs[String]("event_type") == "view").get
      assert(views.getAs[Timestamp]("win_start") == t("2024-01-01 00:01:00"))
    } finally graft.util.QuietLogs.quietStop(q)
  }

  test("session windows merge gap-adjacent events and close on watermark") {
    import spark.implicits._
    val input = new MemoryStream[(Timestamp, String, Double)](4, spark)
    val df = input.toDF.toDF("ts", "event_type", "value")
    val q = Streams.sessionCounts(df, "ts", watermark = "10 seconds", gap = "30 seconds")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(
        (t("2024-01-01 00:00:10"), "click", 1.0),
        (t("2024-01-01 00:00:20"), "click", 2.0), // within 30s gap → same session
        (t("2024-01-01 00:02:00"), "click", 5.0)) // past gap → new session
      q.processAllAvailable()
      // two more batches: watermark computed at batch end applies next batch
      input.addData((t("2024-01-01 00:10:00"), "flush", 0.0))
      q.processAllAvailable()
      input.addData((t("2024-01-01 00:10:01"), "flush", 0.0))
      q.processAllAvailable()
      val sessions = spark.table("sess").filter(col("event_type") === "click")
        .orderBy("win_start").collect()
        .map(r => (r.getAs[Timestamp]("win_start"), r.getAs[Timestamp]("win_end"),
          r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
      assert(sessions.toSeq == Seq(
        (t("2024-01-01 00:00:10"), t("2024-01-01 00:00:50"), 2L, 3.0),
        (t("2024-01-01 00:02:00"), t("2024-01-01 00:02:30"), 1L, 5.0)),
        s"got ${sessions.toSeq}")
    } finally graft.util.QuietLogs.quietStop(q)
  }

  test("streaming parquet file sink with checkpoint persists appended batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink")
    try {
      val input = new MemoryStream[Int](7, spark)
      val q = input.toDF.withColumnRenamed("value", "v")
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/cp")
        .outputMode("append").start()
      try {
        input.addData(1, 2, 3); q.processAllAvailable()
        input.addData(4, 5); q.processAllAvailable()
        val got = spark.read.parquet(s"$dir/out").as[Int].collect().sorted
        assert(got.toSeq == (1 to 5))
      } finally graft.util.QuietLogs.quietStop(q)
    } finally graft.util.Fs.deleteTree(dir)
  }

  test("foreachBatch sink runs arbitrary batch logic per micro-batch") {
    import spark.implicits._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val input = new MemoryStream[Int](8, spark)
    val q = input.toDF.writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        seen.add(batchId -> df.count()); ()
      }
      .start()
    try {
      input.addData(1, 2, 3); q.processAllAvailable()
      input.addData(4); q.processAllAvailable()
      val batches = seen.toArray(Array.empty[(Long, Long)]).toMap
      assert(batches.values.sum == 4 && batches.size >= 2, s"got $batches")
    } finally graft.util.QuietLogs.quietStop(q)
  }

  test("streaming ingest dedup: foreachBatch screens each micro-batch against the corpus") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val corpus = docs.filter(col("doc_id") < 400)
    // batch-mode truth for the whole incoming set
    val expected = graft.ops.Dedup.incrementalNearDupFilter(
        corpus, docs.filter(col("doc_id") >= 400), "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // stream the incoming docs in two micro-batches through foreachBatch,
    // screening each batch against the same corpus — the ingest-pipeline
    // deployment shape (corpus static, arrivals incremental)
    val incoming = docs.filter(col("doc_id") >= 400)
      .select("doc_id", "text", "lang").as[(Long, String, String)]
      .collect().sortBy(_._1)
    val (first, second) = incoming.splitAt(incoming.length / 2)
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
    val input = new MemoryStream[(Long, String, String)](9, spark)
    val q = input.toDF.toDF("doc_id", "text", "lang").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ops.Dedup.incrementalNearDupFilter(
            corpus, df, "doc_id", "text", "lang")
          .collect().foreach(r => seen.put(r.getLong(0), r.getBoolean(1)))
        ()
      }
      .start()
    try {
      input.addData(first.toSeq); q.processAllAvailable()
      input.addData(second.toSeq); q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = seen.asScala.toMap
      assert(got.size == expected.size, s"${got.size} vs ${expected.size}")
      assert(got == expected,
        s"streamed screening diverged on ${expected.collect { case (k, v) if got.get(k) != Some(v) => k }}")
    } finally graft.util.QuietLogs.quietStop(q)
  }

  test("streaming dedup within watermark emits each fingerprint once") {
    import spark.implicits._
    val input = new MemoryStream[(Timestamp, String)](6, spark)
    val df = input.toDF.toDF("ts", "fp")
    val q = Streams.dedupWithinWatermark(df, "fp", "ts", "10 minutes")
      .writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData((t("2024-01-01 00:00:00"), "a"),
                    (t("2024-01-01 00:00:01"), "b"),
                    (t("2024-01-01 00:00:02"), "a")) // in-batch dup
      q.processAllAvailable()
      input.addData((t("2024-01-01 00:01:00"), "a"), // cross-batch dup, within horizon
                    (t("2024-01-01 00:01:01"), "c"))
      q.processAllAvailable()
      val fps = spark.table("sdedup").select("fp").collect().map(_.getString(0))
      assert(fps.sorted.toSeq == Seq("a", "b", "c"), s"got ${fps.toSeq}")
    } finally graft.util.QuietLogs.quietStop(q)
  }

  test("transformWithState (v2 state API, RocksDB) accumulates per-key stats") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = new MemoryStream[UserEvent](9, spark)
      val q = Streams.runningUserStatsV2(input.toDS())
        .writeStream.format("memory").queryName("stats_v2").outputMode("update").start()
      try {
        input.addData(UserEvent(1, "a", 1.0), UserEvent(1, "b", 2.0), UserEvent(2, "a", 5.0))
        q.processAllAvailable()
        input.addData(UserEvent(1, "c", 4.0))
        q.processAllAvailable()
        val last = spark.table("stats_v2").collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
        assert(last(1L) == (3L, 7.0))
        assert(last(2L) == (1L, 5.0))
      } finally graft.util.QuietLogs.quietStop(q)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("processing-time timers close idle sessions (v2 state API)") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = new MemoryStream[UserEvent](10, spark)
      val q = Streams.idleSessionClose(input.toDS(), gapMs = 400)
        .writeStream.format("memory").queryName("idle_close").outputMode("append").start()
      try {
        // NOTE: processAllAvailable() never settles under processing-time
        // timers (timer wakeups keep scheduling batches), so this test
        // polls the sink instead.
        def closed() = spark.table("idle_close").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        input.addData(UserEvent(7, "a", 1.0), UserEvent(7, "b", 2.0))
        val deadline = System.currentTimeMillis() + 30000
        while (!closed().contains((7L, 2L, 3.0)) &&
               System.currentTimeMillis() < deadline) Thread.sleep(200)
        assert(closed().contains((7L, 2L, 3.0)),
          s"idle timer should close the session: got ${closed().toSeq}")
      } finally graft.util.QuietLogs.quietStop(q)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("state TTL: a key idle past the TTL restarts from zero (v2 state API)") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = new MemoryStream[UserEvent](11, spark)
      val q = Streams.runningUserStatsTtl(input.toDS(), ttlMs = 1000)
        .writeStream.format("memory").queryName("stats_ttl").outputMode("update").start()
      try {
        // NOTE: as with processing-time timers, processAllAvailable() may
        // not settle under TimeMode.ProcessingTime — poll the sink.
        def rows() = spark.table("stats_ttl").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        def awaitRow(want: (Long, Long, Double)): Unit = {
          val deadline = System.currentTimeMillis() + 30000
          while (!rows().contains(want) &&
                 System.currentTimeMillis() < deadline) Thread.sleep(200)
        }
        input.addData(UserEvent(5, "a", 1.0), UserEvent(5, "b", 2.0))
        awaitRow((5L, 2L, 3.0))
        assert(rows().contains((5L, 2L, 3.0)), s"pre-TTL accumulation missing: ${rows()}")
        Thread.sleep(2500) // let the 1s TTL lapse in processing time
        input.addData(UserEvent(5, "c", 4.0))
        awaitRow((5L, 1L, 4.0))
        // expired state → the post-TTL batch starts over, NOT (5,3,7.0)
        assert(rows().contains((5L, 1L, 4.0)) && !rows().contains((5L, 3L, 7.0)),
          s"state survived past its TTL: ${rows()}")
      } finally graft.util.QuietLogs.quietStop(q)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("event-time timers close sessions when the watermark passes (v2 state API)") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = new MemoryStream[TimedEvent](12, spark)
      val q = Streams.sessionCloseOnWatermark(input.toDS(), gapMs = 60000)
        .writeStream.format("memory").queryName("wm_close").outputMode("append").start()
      try {
        def t(s: String) = Timestamp.valueOf(s)
        def closed() = spark.table("wm_close").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        input.addData(TimedEvent(7, t("2024-01-01 10:00:00"), 1.0),
                      TimedEvent(7, t("2024-01-01 10:00:05"), 2.0))
        q.processAllAvailable()
        // watermark still before the 10:01:05 timer → session open
        assert(closed().isEmpty, s"session closed too early: ${closed()}")
        // a later event (other key) advances the watermark past the timer
        input.addData(TimedEvent(8, t("2024-01-01 10:05:00"), 9.0))
        q.processAllAvailable()
        assert(closed().contains((7L, 2L, 3.0)),
          s"watermark passage should close key 7's session: ${closed()}")
        // key 8's own session is still open (no watermark past 10:06)
        assert(!closed().exists(_._1 == 8L), s"got ${closed()}")
      } finally graft.util.QuietLogs.quietStop(q)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("mapGroupsWithState accumulates per-key running stats across batches") {
    import spark.implicits._
    val input = new MemoryStream[UserEvent](3, spark)
    val q = Streams.runningUserStats(input.toDS())
      .writeStream.format("memory").queryName("stats").outputMode("update").start()
    try {
      input.addData(UserEvent(1, "a", 1.0), UserEvent(1, "b", 2.0), UserEvent(2, "a", 5.0))
      q.processAllAvailable()
      input.addData(UserEvent(1, "c", 4.0))
      q.processAllAvailable()
      val last = spark.table("stats").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
      assert(last(1L) == (3L, 7.0))
      assert(last(2L) == (1L, 5.0))
    } finally graft.util.QuietLogs.quietStop(q)
  }
}
