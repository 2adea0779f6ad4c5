package graft

import graft.sources.topic.{TopicLog, TopicOffset}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.collection.mutable

/** Kafka-style log consumption mechanics: envelope/offsets/key affinity,
  * exactly-once checkpoint resume, startingOffsets, admission control. */
class TopicSourceSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("4")

  private def fill(topic: String, n: Int, parts: Int = 3, from: Int = 0): Unit = {
    TopicLog.create(topic, parts)
    (from until from + n).foreach { i =>
      TopicLog.append(topic, s"user${i % 7}", s"""{"n":$i}""", 1700000000000L + i * 1000L)
    }
  }

  test("offset JSON roundtrips and is key-sorted") {
    val off = TopicOffset(Map(2 -> 7L, 0 -> 12L, 1 -> 0L))
    assert(off.json() == """{"0":12,"1":0,"2":7}""")
    assert(TopicOffset.parse(off.json()) == off)
  }

  test("batch write: produce round-trips through the source with key affinity") {
    import spark.implicits._
    val t = "t_sink_batch"
    TopicLog.create(t, 3)
    try {
      (1 to 30).map(i => (s"user${i % 5}", s"""{"i":$i}"""))
        .toDF("key", "value")
        .write.format("graft-topic").option("topic", t).mode("append").save()
      val back = spark.read.format("graft-topic").option("topic", t).load()
      assert(back.count() == 30)
      // values survive byte-exact (collected BEFORE the helper append below
      // — the read is lazy and re-scans the log per action)
      val vals = back.select(col("value").cast("string")).as[String].collect().toSet
      assert(vals == (1 to 30).map(i => s"""{"i":$i}""").toSet)
      // producer key routing matches the consumer-side contract: one key →
      // one partition, for BOTH write APIs on the same topic
      TopicLog.append(t, "user1", """{"via":"helper"}""", 0L)
      val spread = spark.read.format("graft-topic").option("topic", t).load()
        .select(col("key").cast("string").as("k"), col("partition"))
        .distinct().groupBy("k").count().agg(max("count")).head().getLong(0)
      assert(spread == 1L, "sink and helper must route a key identically")
    } finally TopicLog.delete(t)
  }

  test("batch write: explicit partition column wins; invalid partition fails the write") {
    import spark.implicits._
    val t = "t_sink_explicit"
    TopicLog.create(t, 2)
    try {
      Seq(("a", "v0", 0), ("b", "v1", 1), ("c", "v1b", 1))
        .toDF("key", "value", "partition")
        .write.format("graft-topic").option("topic", t).mode("append").save()
      val got = spark.read.format("graft-topic").option("topic", t).load()
        .select(col("partition"), col("value").cast("string").as("v"))
        .collect().map(r => r.getInt(0) -> r.getString(1)).toSet
      assert(got == Set(0 -> "v0", 1 -> "v1", 1 -> "v1b"))
      val err = intercept[Exception] {
        Seq(("x", "boom", 7)).toDF("key", "value", "partition")
          .write.format("graft-topic").option("topic", t).mode("append").save()
      }
      assert(err.getMessage != null)
    } finally TopicLog.delete(t)
  }

  test("write auto-creates the topic when 'partitions' is given") {
    import spark.implicits._
    val t = "t_sink_autocreate"
    try {
      Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value")
        .write.format("graft-topic").option("topic", t)
        .option("partitions", "4").mode("append").save()
      assert(TopicLog.partitions(t) == 4)
      assert(spark.read.format("graft-topic").option("topic", t).load().count() == 2)
      // idempotent: a second write with the option appends, never resets
      Seq(("k3", "v3")).toDF("key", "value")
        .write.format("graft-topic").option("topic", t)
        .option("partitions", "4").mode("append").save()
      assert(spark.read.format("graft-topic").option("topic", t).load().count() == 3)
    } finally TopicLog.delete(t)
  }

  test("write: null key routes deterministically, null value is a tombstone") {
    import spark.implicits._
    val t = "t_sink_nulls"
    TopicLog.create(t, 3)
    try {
      Seq((Some("k1"), Some("v1")), (None, Some("v-nullkey")), (Some("k2"), None))
        .toDF("key", "value")
        .write.format("graft-topic").option("topic", t).mode("append").save()
      val rows = spark.read.format("graft-topic").option("topic", t).load()
        .select(col("key").cast("string"), col("value").cast("string"), col("partition"))
        .collect()
      assert(rows.length == 3)
      val nullKey = rows.find(_.isNullAt(0)).get
      assert(nullKey.getInt(2) == 0, "null key must route to partition 0")
      assert(nullKey.getString(1) == "v-nullkey")
      val tomb = rows.find(r => !r.isNullAt(0) && r.getString(0) == "k2").get
      assert(tomb.isNullAt(1), "null value must survive as a tombstone")
    } finally TopicLog.delete(t)
  }

  test("write validation: missing value column and bad types are rejected") {
    import spark.implicits._
    val t = "t_sink_invalid"
    TopicLog.create(t, 1)
    try {
      val noValue = intercept[Exception] {
        Seq("k").toDF("key").write.format("graft-topic")
          .option("topic", t).mode("append").save()
      }
      assert(noValue.getMessage.contains("value"))
      val badPart = intercept[Exception] {
        Seq(("v", "not-an-int")).toDF("value", "partition")
          .write.format("graft-topic").option("topic", t).mode("append").save()
      }
      assert(badPart.getMessage.contains("partition"))
    } finally TopicLog.delete(t)
  }

  test("streaming write: a topic-to-topic pipeline moves records across micro-batches") {
    import spark.implicits._
    val src = "t_pipe_src"
    val dst = "t_pipe_dst"
    fill(src, 12, parts = 2)
    TopicLog.create(dst, 2)
    val ckpt = Files.createTempDirectory("graft_sink_ckpt")
    try {
      // consume the source topic, uppercase the payload, produce to dst —
      // the canonical stream-transform-produce pipeline, all graft-topic
      val q = spark.readStream.format("graft-topic")
        .option("topic", src).load()
        .select(col("key"), upper(col("value").cast("string")).as("value"))
        .writeStream.format("graft-topic")
        .option("topic", dst)
        .option("checkpointLocation", ckpt.toString)
        .start()
      try q.processAllAvailable() finally graft.util.QuietLogs.quietStop(q)
      val out = spark.read.format("graft-topic").option("topic", dst).load()
      assert(out.count() == 12)
      val vals = out.select(col("value").cast("string")).as[String].collect()
      assert(vals.forall(v => v.contains("\"N\":") || v.toUpperCase == v))
      // key affinity preserved through the pipeline
      val spread = out.select(col("key").cast("string").as("k"), col("partition"))
        .distinct().groupBy("k").count().agg(max("count")).head().getLong(0)
      assert(spread == 1L)
    } finally {
      TopicLog.delete(src); TopicLog.delete(dst)
      // deleteOnExit can't remove non-empty dirs; clean the checkpoint tree
      graft.util.Fs.deleteTree(ckpt)
    }
  }

  test("idempotent batch produce: a replayed epochId write appends nothing") {
    import spark.implicits._
    val t = "t_sink_txn"
    TopicLog.create(t, 2)
    try {
      val df = (1 to 10).map(i => (s"k$i", s"""{"i":$i}""")).toDF("key", "value")
      def save(epoch: Long): Unit = df.write.format("graft-topic")
        .option("topic", t).option("writerId", "w1")
        .option("epochId", epoch.toString).mode("append").save()
      save(7)
      save(7) // the foreachBatch replay: same writer, same batch id
      assert(spark.read.format("graft-topic").option("topic", t).load()
        .count() == 10, "replayed epoch must publish nothing")
      save(8) // the NEXT batch appends normally
      assert(spark.read.format("graft-topic").option("topic", t).load()
        .count() == 20)
      // a different writer namespace is independent
      df.write.format("graft-topic").option("topic", t)
        .option("writerId", "w2").option("epochId", "7").mode("append").save()
      assert(spark.read.format("graft-topic").option("topic", t).load()
        .count() == 30)
    } finally TopicLog.delete(t)
  }

  test("default batch produce stays at-least-once: a re-run appends again") {
    import spark.implicits._
    val t = "t_sink_alo"
    TopicLog.create(t, 1)
    try {
      val df = Seq(("k", "v")).toDF("key", "value")
      df.write.format("graft-topic").option("topic", t).mode("append").save()
      df.write.format("graft-topic").option("topic", t).mode("append").save()
      assert(spark.read.format("graft-topic").option("topic", t).load()
        .count() == 2, "without an epochId the producer is non-transactional")
    } finally TopicLog.delete(t)
  }

  test("streaming produce is exactly-once: checkpoint restart replays no record") {
    import spark.implicits._
    val src = "t_txn_src"
    val dst = "t_txn_dst"
    fill(src, 24, parts = 2)
    TopicLog.create(dst, 2)
    val ckpt = Files.createTempDirectory("graft_txn_ckpt")
    try {
      def leg() = spark.readStream.format("graft-topic")
        .option("topic", src)
        .option("maxRecordsPerTrigger", "6")
        .load()
        .select(col("key"), col("value"))
        .writeStream.format("graft-topic")
        .option("topic", dst)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // leg 1 drains the whole capped backlog; leg 2 resumes from the
      // checkpoint with nothing left — and, crucially, leg 2's fresh run
      // must share leg 1's ledger namespace (the engine's STABLE queryId,
      // not the per-run id), so even a re-planned epoch cannot re-publish
      val q1 = leg(); q1.awaitTermination()
      val afterLeg1 = spark.read.format("graft-topic").option("topic", dst)
        .load().count()
      assert(afterLeg1 == 24, s"leg 1 must move the backlog: $afterLeg1")
      val q2 = leg(); q2.awaitTermination()
      assert(spark.read.format("graft-topic").option("topic", dst).load()
        .count() == 24, "the resumed leg must publish nothing new")
      // direct epoch-replay probe at the broker API: re-publishing leg 1's
      // first epoch unit under its writerId is a no-op
      val writerId = {
        // the streaming write's ledger namespace is the query id recorded
        // in the checkpoint metadata — stable across restarts
        val metaFile = ckpt.resolve("metadata")
        val meta = new String(java.nio.file.Files.readAllBytes(metaFile), "UTF-8")
        meta.split("\"id\"\\s*:\\s*\"")(1).takeWhile(_ != '"')
      }
      val again = TopicLog.publishOnce(dst, writerId, 0L, 0,
        Seq((Some(0), "k".getBytes, "v".getBytes, 0L)))
      assert(!again, "epoch 0 partition 0 must already sit in the ledger")
    } finally {
      TopicLog.delete(src); TopicLog.delete(dst)
      graft.util.Fs.deleteTree(ckpt)
    }
  }

  test("batch read: full envelope, contiguous per-partition offsets, key affinity") {
    val t = "t_batch"
    fill(t, 40)
    try {
      val df = spark.read.format("graft-topic").option("topic", t).load()
      assert(df.schema.fieldNames.toSeq ==
        Seq("key", "value", "topic", "partition", "offset", "timestamp"))
      assert(df.count() == 40)
      // offsets are 0..count-1 within each partition
      val perPart = df.groupBy("partition")
        .agg(count("*").as("n"), min("offset").as("lo"), max("offset").as("hi"))
        .collect()
      perPart.foreach { r =>
        assert(r.getAs[Long]("lo") == 0L)
        assert(r.getAs[Long]("hi") == r.getAs[Long]("n") - 1)
      }
      // a key's records all live in one partition (ordering guarantee)
      val spread = df.select(col("key").cast("string").as("k"), col("partition"))
        .distinct().groupBy("k").count().agg(max("count")).head().getLong(0)
      assert(spread == 1L, "a key must map to exactly one partition")
    } finally TopicLog.delete(t)
  }

  test("streaming read sees appended records exactly once across triggers") {
    val t = "t_stream"
    fill(t, 25)
    try {
      val q = spark.readStream.format("graft-topic").option("topic", t).load()
        .select(col("value").cast("string").as("v"), col("partition"), col("offset"))
        .writeStream.format("memory").queryName("topic_stream")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table("topic_stream").count() == 25)
        fill(t, 10, from = 25) // topic exists; appends only
        q.processAllAvailable()
        val vs = spark.table("topic_stream").select("v").collect().map(_.getString(0))
        assert(vs.length == 35 && vs.distinct.length == 35, "each record exactly once")
      } finally graft.util.QuietLogs.quietStop(q)
    } finally TopicLog.delete(t)
  }

  test("checkpoint restart resumes from committed offsets (no replay, no loss)") {
    val t = "t_resume"
    fill(t, 20)
    val ckptDir = Files.createTempDirectory("topic_ckpt")
    val ckpt = ckptDir.toString
    val seen = mutable.ArrayBuffer.empty[String]
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("graft-topic").option("topic", t).load()
        .select(col("value").cast("string").as("v"))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val vs = batch.collect().map(_.getString(0))
          seen.synchronized { seen ++= vs }
          ()
        }.start()
    try {
      val q1 = run()
      q1.processAllAvailable(); q1.stop()
      assert(seen.synchronized(seen.length) == 20)
      fill(t, 15, from = 20)
      val q2 = run()
      q2.processAllAvailable(); q2.stop()
      val all = seen.synchronized(seen.toVector)
      assert(all.length == 35 && all.distinct.length == 35,
        s"restart must continue from the checkpoint: ${all.length} rows, " +
          s"${all.distinct.length} distinct")
    } finally { TopicLog.delete(t); graft.util.Fs.deleteTree(ckptDir) }
  }

  test("startingOffsets=latest skips the backlog") {
    val t = "t_latest"
    fill(t, 30)
    try {
      val q = spark.readStream.format("graft-topic").option("topic", t)
        .option("startingOffsets", "latest").load()
        .select(col("value").cast("string").as("v"))
        .writeStream.format("memory").queryName("topic_latest")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table("topic_latest").count() == 0, "backlog must be skipped")
        fill(t, 5, from = 30)
        q.processAllAvailable()
        assert(spark.table("topic_latest").count() == 5)
      } finally graft.util.QuietLogs.quietStop(q)
    } finally TopicLog.delete(t)
  }

  test("end-to-end: topic stream decoded and enriched via http-full-cache lookup") {
    // the reference pipeline's exact shape: keyed topic -> deserialize ->
    // lookup-join the TTL-cached HTTP table
    // (ref: FlinkHttpConnectorExample.scala:78-154)
    graft.sources.http.SnapshotCache.invalidateAll()
    val t = "t_pipeline"
    TopicLog.create(t, 2)
    (1 to 8).foreach { i =>
      TopicLog.append(t, s"u$i", s"""{"userId":${i % 5 + 1},"amount":${i * 10}}""",
        1700000000000L + i * 1000L)
    }
    val server = new graft.http.TestHttpServer
    try {
      server.payload = graft.http.Fixtures.usersJson(prefix = "Mock")
      val users = spark.read.format("http-full-cache")
        .schema(graft.http.Fixtures.usersSchema)
        .option("url", server.url).load()
      val orders = spark.readStream.format("graft-topic").option("topic", t).load()
        .select(from_json(col("value").cast("string"),
          org.apache.spark.sql.types.StructType.fromDDL("userId INT, amount INT")).as("o"))
        .select(col("o.userId"), col("o.amount"))
      val enriched = graft.enrich.Enrich
        .lookupJoin(orders.toDF(), users, orders("userId") === users("id"), "inner")
        .select(col("userId"), col("amount"), col("name"))
      val q = enriched.writeStream.format("memory").queryName("topic_enriched")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val rows = spark.table("topic_enriched").collect()
        assert(rows.length == 8, "every topic record enriches (all userIds exist)")
        assert(rows.forall(_.getString(2).startsWith("Mock Name")))
        assert(server.requestCount == 1, "one TTL-dedup'd fetch for the whole stream")
      } finally graft.util.QuietLogs.quietStop(q)
    } finally { server.stop(); TopicLog.delete(t) }
  }

  test("maxRecordsPerTrigger rations micro-batches across partitions") {
    val t = "t_limit"
    fill(t, 24, parts = 4)
    try {
      val q = spark.readStream.format("graft-topic").option("topic", t)
        .option("maxRecordsPerTrigger", "5").load()
        .writeStream.format("memory").queryName("topic_limited")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table("topic_limited").count() == 24, "backlog fully drains")
        val batchSizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
        assert(batchSizes.forall(_ <= 5),
          s"every micro-batch must respect the cap: ${batchSizes.mkString(",")}")
        assert(batchSizes.length >= 5, "the cap must actually split the backlog")
      } finally graft.util.QuietLogs.quietStop(q)
    } finally TopicLog.delete(t)
  }

  test("Trigger.AvailableNow: capped drain runs multiple batches bounded by " +
       "the offset snapshot at prepare time") {
    val t = "t_avail_now"
    fill(t, 10, parts = 2)
    try {
      // unit-level pin of the SupportsTriggerAvailableNow contract: after
      // prepareForTriggerAvailableNow, planning targets the SNAPSHOT end —
      // records appended later are not part of this drain
      val stream = new graft.sources.topic.TopicMicroBatchStream(t, "earliest", Some(4L))
      stream.prepareForTriggerAvailableNow()
      (0 until 6).foreach(i => TopicLog.append(t, s"late$i", s"v$i", 1000L + i))
      var cur = stream.initialOffset()
      var batches = 0
      var planned = 0L
      var advanced = true
      while (advanced) {
        val next = stream.latestOffset(cur, stream.getDefaultReadLimit)
        val rows = stream.planInputPartitions(cur, next).map {
          case graft.sources.topic.TopicRange(_, _, from, until) => until - from
        }.sum
        advanced = rows > 0
        if (advanced) { batches += 1; planned += rows; cur = next }
      }
      assert(planned == 10, s"drain must stop at the snapshot, planned $planned")
      assert(batches == 3, s"ceil(10/4) = 3 capped batches, got $batches")
      // end-to-end: the gate path (AvailableNow + cap) drains everything
      // that existed at start across >= 2 real micro-batches
      val q = spark.readStream.format("graft-topic").option("topic", t)
        .option("maxRecordsPerTrigger", "4").load()
        .writeStream.format("memory").queryName("topic_avail_now")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination()
        assert(spark.table("topic_avail_now").count() == 16)
        assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
          "AvailableNow must honor the admission cap across batches")
      } finally graft.util.QuietLogs.quietStop(q)
    } finally TopicLog.delete(t)
  }
}
