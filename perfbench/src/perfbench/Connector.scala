package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.enrich.Enrich
import graft.sources.http.{HttpFetcher, HttpOptions, HttpScan, JsonRows, SnapshotCache}
import graft.sources.http.testkit.EmbeddedJsonServer
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Calls into the `http` layer from outside, shared by the connector
  * workloads. */
object Http {
  def frame(spark: SparkSession, ddl: String, url: String, ttl: String): DataFrame =
    spark.read.format("http-full-cache").schema(ddl)
      .option("url", url).option("cache.refresh-interval", ttl).load()

  /** The options the source parses from the same reader options, so a direct
    * `SnapshotCache.get` hits the scan's cache entry. */
  def options(url: String, ttl: String): HttpOptions =
    HttpOptions.parse(Map("url" -> url, "cache.refresh-interval" -> ttl).asJava)

  /** The pruned schema the source's scan reads in an executed plan. */
  def readSchema(plan: SparkPlan): StructType =
    Plans.nodes(plan).collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[HttpScan] => b.scan.readSchema()
    }.getOrElse(sys.error("no http-full-cache scan in the plan"))

  /** Checksum of a string column: crc32 of its UTF-8 bytes (see Gen.crc). */
  def crc(c: Column): Column = sum(crc32(c.cast("binary")))

  /** Probe spans on the served payload: fetch, parse under the full and a
    * pruned schema, and the parse split into tree building and row
    * conversion. Returns the body. */
  def probe(env: Env, opts: HttpOptions, full: StructType, pruned: StructType, iter: Int): String = {
    val tr = env.tracer
    tr("probe", "bench", iter) {
      val body = tr("http.fetch", "http", iter)(HttpFetcher.fetchBody(opts))
      tr("http.parse_full", "http", iter)(HttpFetcher.parseRows(body, opts, full))
      tr("http.parse_pruned", "http", iter)(HttpFetcher.parseRows(body, opts, pruned))
      val tree = tr("http.tree", "http", iter)(new ObjectMapper().readTree(body))
      tr("http.to_row", "http", iter) {
        val it = tree.elements()
        while (it.hasNext) JsonRows.toRow(it.next(), full)
      }
      body
    }
  }

  /** Per-layer http metrics from the probe spans plus the warm-scan and
    * retained-heap measurements; trace mode only. Leaves the cache empty. */
  def putLayer(env: Env, r: Report, scanFrame: => DataFrame, rows: Int, bodyBytes: Long): Unit = {
    val tr = env.tracer
    def med(n: String) = Stats.median(tr.durations(n))
    r.put("http.fetch_ms", med("http.fetch"))
    r.put("http.parse_full_ms", med("http.parse_full"))
    r.put("http.parse_pruned_ms", med("http.parse_pruned"))
    r.put("http.rows_per_s", rows / (med("http.parse_full") / 1000))
    r.put("http.to_row_ms", med("http.to_row"))
    r.put("http.tree_ms", med("http.parse_full") - med("http.to_row"))
    // one snapshot, loaded by the first scan, then served warm
    SnapshotCache.invalidateAll()
    scanFrame.write.format("noop").mode("overwrite").save()
    r.put("http.scan_ms", Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      scanFrame.write.format("noop").mode("overwrite").save()
      Clock.ms(System.nanoTime() - t0)
    }))
    // that snapshot cached vs none; the endpoint keeps its own copy either way
    val withSnapshot = Clock.settledHeap()
    SnapshotCache.invalidateAll()
    val heap = withSnapshot - Clock.settledHeap()
    r.put("http.heap_bytes", heap)
    r.put("http.heap_ratio", heap.toDouble / bodyBytes)
  }

  def numeric(row: Row): Seq[Double] =
    row.toSeq.map { case n: java.lang.Number => n.doubleValue; case null => Double.NaN; case o => sys.error(s"$o") }
}

/** The reference's reload path: every iteration publishes version v+1 of a
  * large nested payload, lets the short refresh interval expire, and runs
  * the lookup join whose result must carry v+1. */
final class SnapshotRefresh extends Workload {
  private val ttl = "PT0.05S"
  private var server: EmbeddedJsonServer = _
  private var users: Gen.Users = _
  private var seed = 0L
  private var nUsers = 0
  private var nEvents = 0
  private var version = 0
  private var events: DataFrame = _
  private var readSchema: StructType = _
  private var loads0 = 0L

  def setup(env: Env): Unit = {
    val spark = env.spark
    nUsers = if (env.tiny) 5000 else 250000
    nEvents = if (env.tiny) 5000 else 100000
    seed = env.seed
    users = new Gen.Users(seed)
    SnapshotCache.invalidateAll()
    loads0 = SnapshotCache.loadCount
    server = new EmbeddedJsonServer
    version = 0
    server.payload = users.payload(nUsers, version)
    val (sd, nu) = (seed, nUsers)
    val path = env.dir("refresh_events").toString
    spark.createDataFrame(spark.sparkContext.parallelize(0 until nEvents, env.cpus).map { i =>
      Row(i.toLong, Gen.eventUser(sd, i, nu), Gen.eventValue(sd, i))
    }, StructType.fromDDL("event_id BIGINT, user_id INT, value DOUBLE"))
      .write.mode("overwrite").parquet(path)
    events = spark.read.parquet(path)
    // first load and plan, untimed: warms the JIT and gives the scan's schema
    val df = query(spark)
    df.collect()
    readSchema = Http.readSchema(df.queryExecution.executedPlan)
  }

  private def query(spark: SparkSession, interval: String = ttl): DataFrame = {
    val u = Http.frame(spark, users.ddl, server.url, interval)
    Enrich.lookupJoin(events, u, events("user_id") === u("id"), "left")
      .agg(count(lit(1)), count(u("id")), Http.crc(u("name")), Http.crc(u("username")),
        Http.crc(u("email")), Http.crc(u("address.city")), sum(u("address.geo.lat")),
        sum(u("address.geo.lng")), min(u("ver")), max(u("ver")))
  }

  /** The aggregate over version `v`, from the generator alone. */
  private def expected(v: Int): Seq[Double] = {
    var hits = 0L; var sn, su, se, sc = 0L; var slat, slng = 0.0
    var i = 0
    while (i < nEvents) {
      val u = Gen.eventUser(seed, i, nUsers)
      if (u < nUsers) {
        hits += 1
        sn += Gen.crc(users.name(u, v)); su += Gen.crc(users.username(u, v))
        se += Gen.crc(users.email(u, v)); sc += Gen.crc(users.city(u, v))
        slat += users.lat(u, v); slng += users.lng(u, v)
      }
      i += 1
    }
    Seq(nEvents.toDouble, hits.toDouble, sn.toDouble, su.toDouble, se.toDouble, sc.toDouble,
      slat, slng, v.toDouble, v.toDouble)
  }

  def measure(env: Env, r: Report): Unit = {
    val spark = env.spark
    val tr = env.tracer
    val opts = Http.options(server.url, ttl)
    val tracedOpts = Http.options(server.url, "PT1H")
    val fullSchema = StructType.fromDDL(users.ddl)
    val prunedSchema = StructType.fromDDL("id INT, name STRING")
    val traced, untraced, cpu = ArrayBuffer.empty[Double]
    val bcasts = ArrayBuffer.empty[Seq[Plans.Bcast]]
    val results = ArrayBuffer.empty[(Int, Seq[Double])] // checked after the window
    var probeFetches = 0
    var bodyBytes = 0L
    val requestsAtStart = server.requestCount
    val loadsAtStart = SnapshotCache.loadCount
    var deadline = Long.MaxValue
    var iter = 0
    var lastEnd = 0L
    // refresh 0 warms up (JIT, first plans in this session) and is not timed
    while (iter < 3 || System.nanoTime() < deadline) {
      val v = version + 1
      val body = users.payload(nUsers, v) // the publisher's work, untimed
      bodyBytes = body.length.toLong // ASCII: one byte per char
      val isTraced = env.trace && iter % 2 == 0 && iter > 0
      // the interval runs from the previous load's completion
      Thread.sleep(math.max(0L, lastEnd + 60 - System.currentTimeMillis()))
      val c0 = Clock.cpuNanos
      val g0 = Clock.gcMillis
      val t0 = System.nanoTime()
      val row = try {
        if (!isTraced) { server.payload = body; query(spark).collect()(0) }
        else tr("refresh", "bench", iter) {
          // A long interval under its own cache key, emptied at publish, so
          // the explicit load below is the refresh's only one: with the short
          // interval the scan would find it expired again by execution time.
          tr("publish", "bench", iter) { server.payload = body; SnapshotCache.invalidateAll() }
          tr("cold_get", "http", iter)(SnapshotCache.get(tracedOpts, readSchema))
          val q = query(spark, "PT1H")
          tr("plan", "join", iter)(q.queryExecution.executedPlan)
          tr("execute", "spark", iter) {
            val out = q.collect()(0)
            bcasts += Layers.attachBcasts(env, iter, q.queryExecution.executedPlan)
            out
          }
        }
      } catch { case e: Exception => e.printStackTrace(); null }
      val ms = Clock.ms(System.nanoTime() - t0)
      val cpuMs = Clock.ms(Clock.cpuNanos - c0)
      System.err.println(f"perfbench: refresh $iter to v$v: $ms%.1f ms, cpu $cpuMs%.0f ms, gc ${Clock.gcMillis - g0} ms${if (isTraced) " (traced)" else ""}")
      version = v
      if (row == null) r.fail(s"refresh to v$v failed")
      else {
        results += v -> Http.numeric(row)
        if (isTraced) traced += ms else if (iter > 0) { untraced += ms; cpu += cpuMs }
      }
      if (isTraced) { Http.probe(env, opts, fullSchema, prunedSchema, iter); probeFetches += 1 }
      // every refresh starts from a settled heap (the Bench methodology)
      System.gc()
      lastEnd = System.currentTimeMillis()
      if (iter == 0) deadline = System.nanoTime() + (env.seconds * 1e9).toLong
      iter += 1
    }
    results.foreach { case (v, got) =>
      val exp = expected(v)
      r.check(got == exp, s"refresh v$v: got $got, expected $exp")
    }
    val loads = SnapshotCache.loadCount - loadsAtStart
    val fetches = server.requestCount - requestsAtStart - probeFetches
    r.check(loads == iter, s"expected one load per refresh: $loads loads for $iter refreshes")
    r.check(fetches == loads, s"$fetches fetches for $loads loads")

    r.put("latency_p50_ms", Stats.median(untraced))
    r.put("op.cpu_ms", Stats.median(cpu))
    Layers.putTail(r, untraced.toSeq)
    r.put("input.rows", nEvents); r.put("input.payload_rows", nUsers)
    r.put("http.body_bytes", bodyBytes)
    r.put("http.loads", SnapshotCache.loadCount - loads0)
    r.put("http.fetches", server.requestCount - probeFetches)
    r.put("http.retries", fetches - loads)
    if (env.trace) {
      r.put("http.cold_get_ms", Stats.median(tr.durations("cold_get")))
      r.put("join.plan_ms", Stats.median(tr.durations("plan")))
      Layers.putBcasts(r, bcasts.toSeq)
      Layers.finish(env, r, "refresh", traced.toSeq, untraced.toSeq)
      Http.putLayer(env, r, Http.frame(spark, users.ddl, server.url, "PT1H"), nUsers, bodyBytes)
    }
  }

  def teardown(): Unit = if (server != null) { server.stop(); server = null }
}

/** Steady-state lookup serving: a warm part-attribute snapshot enriches
  * lineitem, rotating over three projections and one pushed-filter variant. */
final class EnrichWarm extends Workload {
  private val ttl = "PT1H"
  private var server: EmbeddedJsonServer = _
  private var parts: Gen.Parts = _
  private var seed = 0L
  private var nParts = 0
  private var nLines = 0
  private var lineitem: DataFrame = _
  private var loads0 = 0L

  def setup(env: Env): Unit = {
    val spark = env.spark
    nParts = if (env.tiny) 2000 else 20000
    nLines = if (env.tiny) 20000 else 600000
    seed = env.seed
    parts = new Gen.Parts(seed)
    SnapshotCache.invalidateAll()
    loads0 = SnapshotCache.loadCount
    server = new EmbeddedJsonServer
    server.payload = parts.payload(nParts)
    val (sd, np) = (seed, nParts)
    val path = env.dir("lineitem").toString
    spark.createDataFrame(spark.sparkContext.parallelize(0 until nLines, env.cpus).map { i =>
      Row(i.toLong / 4, Gen.linePart(sd, i, np), Gen.lineQty(sd, i))
    }, StructType.fromDDL("l_orderkey BIGINT, l_partkey INT, l_quantity INT"))
      .write.mode("overwrite").parquet(path)
    lineitem = spark.read.parquet(path)
    // one load, then one parse per variant's pruned schema
    variants.indices.foreach(i => query(spark, i).collect())
  }

  private def variants: Seq[DataFrame => DataFrame] = {
    val l = lineitem
    def join(p: DataFrame, how: String) = Enrich.lookupJoin(l, p, l("l_partkey") === p("partkey"), how)
    Seq(
      p => join(p, "left").agg(count(lit(1)), count(p("partkey")), Http.crc(p("p_name")),
        Http.crc(p("p_brand"))),
      p => join(p, "left").agg(count(lit(1)), count(p("partkey")), Http.crc(p("p_type")),
        sum(p("p_size")), sum(p("p_retailprice") * l("l_quantity"))),
      p => join(p, "inner").agg(count(lit(1)), Http.crc(p("p_name")), Http.crc(p("p_brand")),
        Http.crc(p("p_type")), sum(p("p_size")), sum(p("p_retailprice")), Http.crc(p("p_comment"))),
      p => {
        val small = p.filter(p("p_size") <= 10) // pushed to the source
        join(small, "inner").agg(count(lit(1)), Http.crc(small("p_name")), sum(small("p_size")))
      })
  }

  private def query(spark: SparkSession, variant: Int): DataFrame =
    variants(variant)(Http.frame(spark, parts.ddl, server.url, ttl))

  /** Each variant's aggregate, from the generator alone. */
  private def expected: Seq[Seq[Double]] = {
    val name = Array.tabulate(nParts)(k => Gen.crc(parts.name(k)))
    val brand = Array.tabulate(nParts)(k => Gen.crc(parts.brand(k)))
    val ptype = Array.tabulate(nParts)(k => Gen.crc(parts.ptype(k)))
    val comment = Array.tabulate(nParts)(k => Gen.crc(parts.comment(k)))
    val e = Array.fill(4)(Array.fill(7)(0.0))
    var i = 0
    while (i < nLines) {
      val k = Gen.linePart(seed, i, nParts)
      val q = Gen.lineQty(seed, i)
      e(0)(0) += 1; e(1)(0) += 1
      if (k < nParts) {
        val (size, price) = (parts.size(k), parts.price(k))
        e(0)(1) += 1; e(0)(2) += name(k); e(0)(3) += brand(k)
        e(1)(1) += 1; e(1)(2) += ptype(k); e(1)(3) += size; e(1)(4) += price * q
        e(2)(0) += 1; e(2)(1) += name(k); e(2)(2) += brand(k); e(2)(3) += ptype(k)
        e(2)(4) += size; e(2)(5) += price; e(2)(6) += comment(k)
        if (size <= 10) { e(3)(0) += 1; e(3)(1) += name(k); e(3)(2) += size }
      }
      i += 1
    }
    Seq(e(0).take(4).toSeq, e(1).take(5).toSeq, e(2).toSeq, e(3).take(3).toSeq)
  }

  def measure(env: Env, r: Report): Unit = {
    val spark = env.spark
    val tr = env.tracer
    val exp = expected
    val traced, untraced, cpu = ArrayBuffer.empty[Double]
    val bcasts = ArrayBuffer.empty[Seq[Plans.Bcast]]
    val deadline = System.nanoTime() + (env.seconds * 1e9).toLong
    var iter = 0
    while (System.nanoTime() < deadline || iter < 4) {
      val variant = iter % variants.size
      val isTraced = env.trace && iter % 2 == 1
      val c0 = Clock.cpuNanos
      val t0 = System.nanoTime()
      val row = try {
        if (!isTraced) query(spark, variant).collect()(0)
        else tr("query", "bench", iter) {
          val q = query(spark, variant)
          tr("plan", "join", iter)(q.queryExecution.executedPlan)
          tr("execute", "spark", iter) {
            val out = q.collect()(0)
            bcasts += Layers.attachBcasts(env, iter, q.queryExecution.executedPlan)
            out
          }
        }
      } catch { case e: Exception => e.printStackTrace(); null }
      val ms = Clock.ms(System.nanoTime() - t0)
      val cpuMs = Clock.ms(Clock.cpuNanos - c0)
      if (row == null) r.fail(s"query $iter (variant $variant) failed")
      else {
        val got = Http.numeric(row)
        r.check(got == exp(variant), s"variant $variant: got $got, expected ${exp(variant)}")
        if (isTraced) traced += ms else { untraced += ms; cpu += cpuMs }
      }
      iter += 1
    }
    val loads = SnapshotCache.loadCount - loads0
    val fetches = server.requestCount
    r.check(loads == 1 && fetches == 1, s"expected exactly one load and fetch: $loads loads, $fetches fetches")

    r.put("latency_p50_ms", Stats.median(untraced))
    r.put("op.cpu_ms", Stats.median(cpu))
    Layers.putTail(r, untraced.toSeq)
    r.put("input.rows", nLines); r.put("input.payload_rows", nParts)
    r.put("http.body_bytes", server.payload.length.toDouble)
    r.put("http.loads", loads); r.put("http.fetches", fetches); r.put("http.retries", fetches - loads)
    if (env.trace) {
      r.put("join.plan_ms", Stats.median(tr.durations("plan")))
      Layers.putBcasts(r, bcasts.toSeq)
      Layers.finish(env, r, "query", traced.toSeq, untraced.toSeq)
      val opts = Http.options(server.url, ttl)
      val full = StructType.fromDDL(parts.ddl)
      val pruned = StructType.fromDDL("partkey INT, p_name STRING")
      (0 until 3).foreach(i => Http.probe(env, opts, full, pruned, iter + i))
      Http.putLayer(env, r, Http.frame(spark, parts.ddl, server.url, ttl), nParts,
        server.payload.length.toLong)
    }
  }

  def teardown(): Unit = if (server != null) { server.stop(); server = null }
}
