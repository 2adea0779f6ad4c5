package perfbench

import graft.sources.http.SnapshotCache
import graft.sources.http.testkit.EmbeddedJsonServer
import graft.sources.topic.TopicLog
import graft.streaming.Streams
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.StructType

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Micro-batch phase medians from `StreamingQueryProgress.durationMs`. */
object StreamLayer {
  def summarize(ps: Seq[StreamingQueryProgress], r: Report): Unit =
    if (!r.metrics.contains("stream.batches")) {
      def med(k: String) = Stats.median(ps.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))
      r.put("stream.batches", ps.size)
      Seq("add_batch" -> "addBatch", "query_planning" -> "queryPlanning", "wal_commit" -> "walCommit",
        "commit_offsets" -> "commitOffsets", "latest_offset" -> "latestOffset")
        .foreach { case (n, k) => r.put(s"stream.${n}_ms", med(k)) }
    }

  def epochMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
}

object StreamEnrich {
  /** Offered events per second (open loop); `tinyRate` with `--tiny`. Half of
    * 64,000/s, the highest rate that stayed sustainable on a shared 4-vCPU VM
    * while other tenants loaded it (perfbench/README.md). */
  val rate = 32000.0
  val tinyRate = 2000.0
}

/** Streaming enrichment: an open-loop event generator appends to a
  * `graft-topic` topic; a micro-batch stream enriches each event against a
  * lookup payload whose version is bumped every refresh interval. */
final class StreamEnrich extends Workload {
  private var ttlMs = 2000L
  private var server: EmbeddedJsonServer = _
  private var lookup: Gen.Lookup = _
  private var seed = 0L
  private var nKeys = 0
  private var topic: String = _
  private var loads0 = 0L
  /** Epoch ms at which each version was published. */
  private val published = mutable.Map.empty[Int, Double]

  def setup(env: Env): Unit = {
    nKeys = if (env.tiny) 5000 else 100000
    ttlMs = if (env.tiny) 1000L else 2000L
    seed = env.seed
    lookup = new Gen.Lookup(seed)
    SnapshotCache.invalidateAll()
    loads0 = SnapshotCache.loadCount
    server = new EmbeddedJsonServer
    published.clear()
    server.payload = lookup.payload(nKeys, 0)
    published(0) = Clock.epochMs
    // first load, untimed
    lookupFrame(env).write.format("noop").mode("overwrite").save()
    topic = s"perfbench_events_${java.util.UUID.randomUUID()}"
    TopicLog.create(topic, 4)
  }

  private def ttl = s"PT${ttlMs / 1000.0}S"
  private def lookupFrame(env: Env): DataFrame = Http.frame(env.spark, lookup.ddl, server.url, ttl)

  /** One micro-batch as the sink saw it. */
  private final case class Batch(id: Long, ids: Array[Long], keys: Array[Int], vers: Array[Int],
    attrCrc: Array[Long], ws: Array[Int], labelCrc: Array[Long], refresh: Boolean,
    bcasts: Option[Seq[Plans.Bcast]], pending: Long)

  def measure(env: Env, r: Report): Unit = {
    val spark = env.spark
    val rate = if (env.tiny) StreamEnrich.tinyRate else StreamEnrich.rate
    val appended = new AtomicLong(0)
    val batches = ArrayBuffer.empty[Batch]
    var lastLoads = SnapshotCache.loadCount
    var committed = 0L
    val opts = Http.options(server.url, ttl)
    val fullSchema = StructType.fromDDL(lookup.ddl)
    val progress = new ProgressLog
    spark.streams.addListener(progress)

    // publisher: version v+1 every interval, built ahead while waiting
    @volatile var running = true
    val publisher = new Thread(() => {
      var v = 0
      var next = lookup.payload(nKeys, 1)
      var at = Clock.epochMs + ttlMs
      while (running) {
        val wait = at - Clock.epochMs
        if (wait > 0) Thread.sleep(math.min(wait.toLong + 1, 50L))
        else {
          v += 1
          server.payload = next
          published.synchronized(published(v) = Clock.epochMs)
          at += ttlMs
          next = lookup.payload(nKeys, v + 1)
        }
      }
    }, "perfbench-publisher")
    publisher.setDaemon(true)

    val ev = spark.readStream.format("graft-topic").option("topic", topic).load()
      .select(split(col("value").cast("string"), ",").as("p"))
      .select(col("p")(0).cast("long").as("event_id"), col("p")(1).cast("int").as("key"))
    val lk = lookupFrame(env)
    val enriched = Streams.enrich(ev, lk, ev("key") === lk("id"), "left")
      .select(ev("event_id"), ev("key"), lk("ver"), crc32(lk("attr").cast("binary")).as("attr_crc"),
        lk("w"), crc32(lk("label").cast("binary")).as("label_crc"))
    // the sink's frame is already materialised: the join ran in the
    // engine's execution of this batch
    var query: StreamingQueryWrapper = null
    def currentBcasts(): Option[Seq[Plans.Bcast]] =
      Option(query).flatMap(w => Option(w.streamingQuery.lastExecution)).map(e => Plans.bcasts(e.executedPlan))
    val q = enriched.writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        val rows = df.collect()
        // the engine loads the snapshot (if due) before the sink runs
        val loads = SnapshotCache.loadCount
        val refresh = loads > lastLoads
        lastLoads = loads
        def longs(i: Int) = rows.map(x => if (x.isNullAt(i)) -1L else x.getAs[Number](i).longValue)
        val b = Batch(id, longs(0), longs(1).map(_.toInt), longs(2).map(_.toInt), longs(3),
          longs(4).map(_.toInt), longs(5), refresh, currentBcasts(),
          appended.get - committed - rows.length)
        batches.synchronized(batches += b)
        committed += rows.length
        ()
      }
      // default trigger: the next batch starts as soon as the previous one
      // ends, so an event's latency follows batch time
      .option("checkpointLocation", env.dir("stream_ckpt").resolve("q").toString)
      .start()
    query = q.asInstanceOf[StreamingQueryWrapper]

    // open-loop generator: event i is due at t0 + i / rate
    val t0 = Clock.epochMs + 200
    def due(i: Long): Double = t0 + i * 1000.0 / rate
    // the window opens once the stream is warm: four batches with events
    // committed (the first ones pay planning, code generation and the
    // backlog that built up meanwhile)
    @volatile var windowStart, windowEnd = Double.MaxValue
    val late = ArrayBuffer.empty[Double]
    val generator = new Thread(() => {
      var i = 0L
      while (running) {
        val now = Clock.epochMs
        val dueNow = math.ceil((now - t0) * rate / 1000).toLong
        if (dueNow > i) {
          if (due(i) >= windowStart && due(i) < windowEnd) late += now - due(i)
          while (i < dueNow) {
            TopicLog.append(topic, i.toString, s"$i,${Gen.streamKey(seed, i, nKeys)}", due(i).toLong)
            i += 1
          }
          appended.set(i)
        }
        Thread.sleep(1)
      }
    }, "perfbench-generator")
    generator.setDaemon(true)

    val fetches0 = server.requestCount
    val runStart = Clock.epochMs
    publisher.start(); generator.start()
    val warmBy = Clock.epochMs + 30000
    while (batches.synchronized(batches.count(_.ids.nonEmpty)) < 4 && Clock.epochMs < warmBy) Thread.sleep(10)
    windowStart = Clock.epochMs
    windowEnd = windowStart + env.seconds * 1000
    val cpuStart = Clock.cpuNanos
    Thread.sleep((windowEnd - Clock.epochMs).toLong.max(0))
    val cpuWindow = Clock.cpuNanos - cpuStart
    running = false
    generator.join(); publisher.join()
    try q.processAllAvailable() finally q.stop()
    val runMs = Clock.epochMs - runStart
    q.exception.foreach(e => r.fail(s"stream failed: $e"))
    PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(progress)
    val prog = progress.drainAll().filter(_.id == q.id).map(p => p.batchId -> p).toMap

    // ---- checks
    val total = appended.get
    val seen = new java.util.BitSet(total.toInt)
    val pub = published.synchronized(published.toMap)
    var maxTrigger = 0L
    prog.values.foreach(p => maxTrigger = math.max(maxTrigger, StreamLayer.dur(p, "triggerExecution")))
    var lastVer = -1
    batches.sortBy(_.id).foreach { b =>
      b.ids.indices.foreach { j =>
        val (i, k, v) = (b.ids(j), b.keys(j), b.vers(j))
        val ok = i >= 0 && i < total && !seen.get(i.toInt) && k == Gen.streamKey(seed, i, nKeys) &&
          pub.contains(v) && b.attrCrc(j) == Gen.crc(lookup.attr(k, v)) && b.ws(j) == lookup.w(k, v) &&
          b.labelCrc(j) == Gen.crc(lookup.label(k))
        r.check(ok, s"batch ${b.id}: event $i key $k ver $v is wrong or duplicated")
        if (i >= 0 && i < total) seen.set(i.toInt)
      }
      if (b.vers.nonEmpty) {
        val v = b.vers.min
        r.check(v == b.vers.max, s"batch ${b.id} mixes versions ${b.vers.distinct.mkString(",")}")
        r.check(v >= lastVer, s"batch ${b.id} went back from version $lastVer to $v")
        lastVer = v
        for (p <- prog.get(b.id); newer <- pub.get(v + 1)) {
          val stale = StreamLayer.epochMs(p) - newer
          r.check(stale <= ttlMs + maxTrigger,
            f"batch ${b.id} served v$v $stale%.0f ms after v${v + 1} was published")
        }
      }
    }
    r.check(seen.cardinality == total, s"${total - seen.cardinality} of $total events never emitted")
    val fetches = server.requestCount - fetches0
    val allowed = math.ceil(runMs / ttlMs).toLong + 1
    r.check(fetches <= allowed, s"$fetches fetches in ${runMs.toLong} ms exceed one per interval ($allowed)")

    // ---- latency: event due -> its micro-batch committed
    def commitEnd(id: Long): Option[Double] =
      prog.get(id).map(p => (StreamLayer.epochMs(p) + StreamLayer.dur(p, "triggerExecution")).toDouble)
    val inWindow = batches.filter(b => prog.contains(b.id))
    val latency = ArrayBuffer.empty[Double]
    var eventsInWindow = 0L
    inWindow.foreach { b =>
      val end = commitEnd(b.id).get
      val p = prog(b.id)
      System.err.println(f"perfbench: batch ${b.id}: ${b.ids.length} events, start ${StreamLayer.epochMs(p) - t0}%.0f ms, " +
        s"phases ${p.durationMs}, refresh ${b.refresh}")
      b.ids.foreach { i =>
        if (due(i) >= windowStart && due(i) < windowEnd) {
          eventsInWindow += 1
          latency += end - due(i)
        }
      }
    }
    val windowBatches = inWindow.filter(b => b.ids.exists(i => due(i) >= windowStart && due(i) < windowEnd))
    r.put("latency_p50_ms", Stats.median(latency))
    r.put("op.cpu_ms", Clock.ms(cpuWindow) / math.max(1L, eventsInWindow))
    Layers.putTail(r, latency.toSeq)
    r.put("input.rows", eventsInWindow); r.put("input.payload_rows", nKeys)
    r.put("http.body_bytes", server.payload.length.toDouble)
    r.put("http.loads", SnapshotCache.loadCount - loads0)
    r.put("http.fetches", server.requestCount)
    r.put("http.retries", server.requestCount - (SnapshotCache.loadCount - loads0))
    r.put("stream.rate_per_s", rate)
    r.put("stream.generator_late_ms", if (late.isEmpty) 0.0 else late.max)
    r.put("stream.backlog_max", if (windowBatches.isEmpty) 0.0 else windowBatches.map(_.pending).max.toDouble)
    val wp = windowBatches.flatMap(b => prog.get(b.id))
    StreamLayer.summarize(wp.toSeq, r)
    def trig(f: Batch => Boolean) =
      Stats.median(windowBatches.filter(f).flatMap(b => prog.get(b.id)).map(StreamLayer.dur(_, "triggerExecution").toDouble))
    r.put("stream.refresh_batch_ms", trig(_.refresh))
    r.put("stream.steady_batch_ms", trig(!_.refresh))
    Layers.putBcasts(r, windowBatches.flatMap(_.bcasts).toSeq)

    if (env.trace) {
      traceBatches(env, windowBatches.toSeq, prog)
      // batch spans are rebuilt from progress reports: tracing adds no work
      Layers.finish(env, r, "batch", latency.toSeq, latency.toSeq)
      val pruned = StructType.fromDDL("id INT, ver INT")
      (0 until 3).foreach(i => Http.probe(env, opts, fullSchema, pruned, -1 - i))
      Http.putLayer(env, r, lookupFrame(env), nKeys, server.payload.length.toLong)
    }
  }

  /** Batch spans from each progress report, with its phases laid out in
    * engine order and the sink's own spans inside `addBatch`. */
  private def traceBatches(env: Env, bs: Seq[Batch], prog: Map[Long, StreamingQueryProgress]): Unit = {
    val tr = env.tracer
    bs.foreach { b =>
      val p = prog(b.id)
      val start = Clock.epochMsToNanos(StreamLayer.epochMs(p).toDouble)
      val it = b.id.toInt
      val root = tr.record("batch", "stream", it, start,
        start + StreamLayer.dur(p, "triggerExecution") * 1000000L, parent = Some(-1))
      var at = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets").foreach { k =>
        val d = StreamLayer.dur(p, k) * 1000000L
        val id = tr.record(k, if (k == "addBatch") "spark" else "stream", it, at, at + d, parent = Some(root))
        if (k == "addBatch") {
          var inner = at
          b.bcasts.getOrElse(Nil).foreach { bc =>
            Seq("bcast_collect" -> bc.collectMs, "bcast_build" -> bc.buildMs).foreach { case (n, ms) =>
              tr.record(n, "join", it, inner, inner + ms * 1000000L, parent = Some(id)); inner += ms * 1000000L
            }
          }
        }
        at += d
      }
    }
  }

  def teardown(): Unit = if (server != null) { server.stop(); server = null }
}
