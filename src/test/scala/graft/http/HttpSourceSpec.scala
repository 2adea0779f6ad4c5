package graft.http

import graft.GraftSession
import graft.enrich.Enrich
import graft.plans.FullCacheBroadcastExchangeExec
import graft.sources.http.{HttpScan, SnapshotCache}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.LocalBroadcast
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** End-to-end parity with the reference's five MockServer integration
  * scenarios (ref: HttpLookupConnectorIntegrationTest.scala), re-expressed
  * over the DSv2 source + broadcast enrichment join. */
class HttpSourceSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark = GraftSession.local("4")

  private var server: TestHttpServer = _

  override def beforeEach(): Unit = {
    SnapshotCache.invalidateAll()
    server = new TestHttpServer
    server.payload = Fixtures.usersJson()
  }
  override def afterEach(): Unit = server.stop()

  private def users(extra: (String, String)*): DataFrame = usersIn(spark, extra: _*)

  private def usersIn(session: SparkSession, extra: (String, String)*): DataFrame = {
    val r = session.read.format("http-full-cache")
      .schema(Fixtures.usersSchema)
      .option("url", server.url)
      .option("xpath", "")
    extra.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  // Scenario (a): lookup join golden rows + exactly one HTTP call
  // (ref: integration test :86-213).
  test("broadcast lookup join enriches probe rows; exactly one fetch") {
    import spark.implicits._
    val probe = Seq((1, 11.5), (2, 20.0), (3, 30.25), (2, 5.0))
      .toDF("user_id", "amount")
    val joined = Enrich.lookupJoin(probe, users(), $"user_id" === $"id", "inner")
      .select($"user_id", $"amount", $"name", $"username", $"email")
    val rows = joined.collect()
    assert(rows.length == 4)
    val r1 = rows.find(_.getInt(0) == 1).get
    assert(r1.getString(2) == "Mock Name1" && r1.getString(3) == "Mock User1"
      && r1.getString(4) == "user1@example.com")
    assert(server.requestCount == 1)
  }

  // Scenario (b): full cache completeness — all 10 users join through;
  // repeated actions still one fetch (ref: :215-301).
  test("cache serves all rows; repeated actions do not re-fetch") {
    import spark.implicits._
    val probe = (1 to 10).toDF("id")
    val joined = Enrich.lookupJoin(probe, users(), Seq("id"), "inner")
    assert(joined.count() == 10)
    assert(joined.count() == 10) // second action
    assert(users().count() == 10) // separate read of same table
    assert(server.requestCount == 1)
  }

  test("left join emits nulls for cache misses") {
    import spark.implicits._
    val probe = Seq(1, 99).toDF("id")
    val got = Enrich.lookupJoin(probe, users(), Seq("id"), "left")
      .select("id", "name").collect().sortBy(_.getInt(0))
    assert(got(0).getString(1) == "Mock Name1")
    assert(got(1).isNullAt(1))
  }

  // The reported statistics (A17) must make Catalyst auto-broadcast the
  // enrichment join without an explicit hint — the full-cache pattern's
  // defining plan shape (probe side never shuffles).
  test("enrichment join auto-broadcasts the http table from reported statistics") {
    val probe = spark.range(1000).withColumnRenamed("id", "user_id")
    val joined = probe.join(users(), col("user_id") === col("id"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected auto-broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  // No filter reaches the source (the reference pushes none, ref:
  // HttpLookupTableSource.scala:25-26): the Filter Spark plans above the
  // scan is the only one, and the scan still fetches once.
  test("a filtered read runs Spark's Filter above the http scan; one fetch") {
    val df = users().filter(col("id") > 5 && col("name").isNotNull)
    val filters = planNodes(df).collect { case f: FilterExec => f }
    assert(filters.exists(f => f.child match {
      case InputAdapter(b: BatchScanExec) => b.scan.isInstanceOf[HttpScan]
      case b: BatchScanExec => b.scan.isInstanceOf[HttpScan]
      case _ => false
    }), s"expected a Filter directly above the http scan:\n${df.queryExecution.executedPlan}")
    assert(!df.queryExecution.executedPlan.toString.contains("PushedFilters"))
    val ids = df.select("id").collect().map(_.getInt(0)).sorted
    assert(ids.toSeq == (6 to 10).toSeq)
    assert(server.requestCount == 1)
  }

  // Each predicate shape is exact on the scan and as the lookup side of a
  // join, where the chain's Filter in FullCacheBroadcastExchange is the
  // only filter of the relation build.
  test("pushed-filter results are exact for every predicate shape") {
    import spark.implicits._
    // `lookup`'s ids that an inner lookup join with one probe row per id in
    // `ids` returns, through the full-cache exchange
    def joinedIds(lookup: DataFrame, ids: Range): Seq[Int] = {
      val joined = Enrich.lookupJoin(ids.toDF("pid"), lookup, $"pid" === $"id", "inner")
      assert(fullCacheExchanges(joined).size == 1, joined.queryExecution.executedPlan.toString)
      joined.select("id").collect().map(_.getInt(0)).sorted.toSeq
    }
    val u = users()
    val checks: Seq[(DataFrame, Set[Int])] = Seq(
      u.filter($"id" === 3)                               -> Set(3),
      u.filter($"id".isin(2, 4, 6))                       -> Set(2, 4, 6),
      u.filter($"name" < "Mock Name4")                    -> Set(1, 2, 3, 10),
      u.filter(!($"id" <= 7))                             -> Set(8, 9, 10),
      u.filter($"id" > 2 || $"username" === "Mock User1") -> (Set(1) ++ (3 to 10)))
    checks.foreach { case (df, want) =>
      assert(df.select("id").collect().map(_.getInt(0)).toSet == want,
        df.queryExecution.executedPlan.toString)
      assert(joinedIds(df, 1 to 10) == want.toSeq.sorted)
    }
    // SQL order, not Java's: -0.0 = 0.0, NaN = NaN and above every number,
    // strings by UTF-8 bytes ('\uffff' sorts below an emoji's surrogates in
    // UTF-16 but above them in UTF-8). Checked against a local frame of the
    // same rows.
    def row(id: Int, x: String, f: String, s: String) =
      "{\"id\": " + id + ", \"x\": " + x + ", \"f\": " + f + ", \"s\": \"" + s + "\"}"
    server.payload = Seq(row(1, "-0.0", "-0.0", "\\uffff"),
      row(2, "0.0", "0.0", "\\ud83d\\ude00"), row(3, "1.0", "1.0", "a"),
      row(4, "\"NaN\"", "2.0", "b")).mkString("[", ",", "]")
    SnapshotCache.invalidateAll()
    val src = spark.read.format("http-full-cache").schema("id INT, x DOUBLE, f FLOAT, s STRING")
      .option("url", server.url).load()
    val local = spark.createDataFrame(
      java.util.Arrays.asList(src.collect(): _*), src.schema)
    val shapes: Seq[DataFrame => DataFrame] = Seq(
      _.filter($"x" >= 0.0), _.filter($"x" === 0.0), _.filter($"x" <= -0.0),
      _.filter($"x" < 0.0), _.filter($"x" > 0.5), _.filter($"x".isin(0.0, Double.NaN)),
      _.filter($"x" === Double.NaN), _.filter($"f" >= 0.0f), _.filter($"f" === 0.0f),
      _.filter($"s" > "\uffff"), _.filter($"s" < "\ud83d\ude00"), _.filter($"s" >= "b"),
      _.filter(!($"x" < 0.0)))
    shapes.foreach { shape =>
      val got = shape(src)
      val want = shape(local).select("id").collect().map(_.getInt(0)).sorted.toSeq
      assert(got.select("id").collect().map(_.getInt(0)).sorted.toSeq == want,
        got.queryExecution.executedPlan.toString)
      assert(joinedIds(got, 1 to 4) == want, got.queryExecution.executedPlan.toString)
    }
    assert(shapes.head(src).count() == 4) // -0.0, 0.0, 1.0 and NaN are all >= 0.0
  }

  // The reference's primary UX is SQL DDL (CREATE TABLE ... WITH
  // ('connector' = 'http-lookup-full-cache'), ref: HttpLookupConnectorTest
  // .scala:40-54); the Spark-native equivalent is CREATE TABLE ... USING.
  test("SQL DDL creates the table; SQL lookup join and option errors work through SQL") {
    spark.sql("DROP TABLE IF EXISTS users_sql")
    spark.sql(
      s"""CREATE TABLE users_sql (id INT, name STRING, username STRING, email STRING)
         |USING `http-full-cache`
         |OPTIONS (url '${server.url}', `cache.refresh-interval` 'PT1H')""".stripMargin)
    try {
      val joined = spark.sql(
        """SELECT p.id, u.name FROM VALUES (1), (2), (99) AS p(id)
          |LEFT JOIN users_sql u ON p.id = u.id ORDER BY p.id""".stripMargin).collect()
      assert(joined.length == 3)
      assert(joined(0).getString(1) == "Mock Name1" && joined(2).isNullAt(1))
      assert(server.requestCount == 1)
      // option validation fires at CREATE TABLE (table-resolution) time,
      // like the reference factory's validation
      spark.sql("DROP TABLE IF EXISTS users_bad")
      val e = intercept[Exception](spark.sql(
        s"""CREATE TABLE users_bad (id INT) USING `http-full-cache`
           |OPTIONS (url '${server.url}', `max.retries` '-1')""".stripMargin))
      assert(e.getMessage.contains("Invalid value for max.retries"), e.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS users_sql")
      spark.sql("DROP TABLE IF EXISTS users_bad")
    }
  }

  // Scenario (c): 500, 500, then 200 — recovers, exactly 3 calls (ref: :303-426).
  test("retry recovers from transient 500s") {
    server.failFirst = 2
    val df = users("retry.delay.ms" -> "50")
    assert(df.count() == 10)
    assert(server.requestCount == 3)
  }

  test("retry exhaustion fails the query with reference error text") {
    server.failForever = true
    val e = intercept[Exception] {
      users("max.retries" -> "2", "retry.delay.ms" -> "20").count()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Iterator.iterate(e.getCause)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" ")
    assert(msg.contains("Failed to fetch data from"))
    assert(msg.contains("HTTP request failed with status 500"))
    assert(server.requestCount == 3) // initial + 2 retries
  }

  // Scenario (d): refresh visibility — updated payload served after the
  // interval elapses, ≥2 calls (ref: :428-543).
  test("updated payload visible after refresh interval") {
    val df = users("cache.refresh-interval" -> "PT1S")
    assert(df.select("name").as(org.apache.spark.sql.Encoders.STRING)
      .collect().head.startsWith("Mock"))
    server.payload = Fixtures.usersJson(prefix = "Updated")
    Thread.sleep(1200)
    val names = df.select("name").collect().map(_.getString(0))
    assert(names.forall(_.startsWith("Updated")))
    assert(server.requestCount >= 2)
  }

  test("within the interval the old snapshot is served (no refetch)") {
    val df = users("cache.refresh-interval" -> "PT1H")
    df.count()
    server.payload = Fixtures.usersJson(prefix = "Updated")
    val names = df.select("name").collect().map(_.getString(0))
    assert(names.forall(_.startsWith("Mock")))
    assert(server.requestCount == 1)
  }

  // Scenario (e): refresh failure is fatal — success then permanent 500s
  // fails the query, no stale-serving (ref: :546-672).
  test("refresh failure after success fails the query") {
    val df = users("cache.refresh-interval" -> "PT1S",
                   "max.retries" -> "1", "retry.delay.ms" -> "20")
    assert(df.count() == 10)
    server.failForever = true
    Thread.sleep(1200)
    val e = intercept[Exception](df.count())
    val msg = Option(e.getMessage).getOrElse("") +
      Iterator.iterate(e.getCause)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" ")
    assert(msg.contains("HTTP request failed with status 500"))
  }

  // JSON-pointer semantics (RFC 6901, not JsonPath; ref: HttpInputFormatProvider.scala:137-146).
  test("xpath selects a nested subtree; missing pointer errors") {
    server.payload = s"""{"data": {"users": ${Fixtures.usersJson()}}}"""
    assert(users("xpath" -> "/data/users").count() == 10)
    SnapshotCache.invalidateAll()
    val e = intercept[Exception](users("xpath" -> "/no/such/node").count())
    val msg = Option(e.getMessage).getOrElse("") +
      Iterator.iterate(e.getCause)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" ")
    assert(msg.contains("did not match any node"))
  }

  test("single object (non-array) payload yields exactly one row") {
    server.payload = """{"id": 42, "name": "Solo", "username": "solo", "email": "s@x.y"}"""
    val r = users().collect()
    assert(r.length == 1 && r.head.getInt(0) == 42)
  }

  // FAILFAST parse parity: missing declared field → null; malformed value
  // → error (ref: HttpInputFormatProvider.scala:190-191).
  test("missing field nulls, malformed value throws") {
    server.payload = """[{"id": 1, "name": "NoEmail", "username": "u"}]"""
    val r = users().collect()
    assert(r.head.isNullAt(3))
    SnapshotCache.invalidateAll()
    server.payload = """[{"id": "not-an-int", "name": "Bad", "username": "u", "email": "e"}]"""
    // count() prunes every column and so never deserializes the bad value
    // (projection pushdown working as intended); reading the column throws.
    val e = intercept[Exception](users().select("id").collect())
    val msg = Option(e.getMessage).getOrElse("") +
      Iterator.iterate(e.getCause)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" ")
    assert(msg.contains("Failed to deserialize"))
  }

  // Projection pushdown: pruned schema reaches the reader (ref: HttpLookupTableSource.scala:30-34).
  test("projection pushdown prunes the produced schema") {
    val plan = users().select("name").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<name:string>") ||
      !plan.contains("email"), s"expected pruned scan, got:\n$plan")
  }

  test("nested struct/array/map schemas deserialize and project") {
    server.payload =
      """[{"id": 1, "name": "N1",
        |  "address": {"city": "Rome", "geo": {"lat": 41.9, "lng": 12.5}},
        |  "tags": ["a", "b"], "scores": {"m1": 7, "m2": 9}}]""".stripMargin
    val df = spark.read.format("http-full-cache")
      .schema("id INT, name STRING, " +
        "address STRUCT<city: STRING, geo: STRUCT<lat: DOUBLE, lng: DOUBLE>>, " +
        "tags ARRAY<STRING>, scores MAP<STRING, INT>")
      .option("url", server.url).load()
    val r = df.selectExpr("id", "address.city", "address.geo.lat",
      "tags[1]", "scores['m2']").collect().head
    assert(r.getInt(0) == 1 && r.getString(1) == "Rome" && r.getDouble(2) == 41.9)
    assert(r.getString(3) == "b" && r.getInt(4) == 9)
  }

  // NESTED projection pushdown (ref declares supportsNestedProjection =
  // true, HttpLookupTableSource.scala:70): selecting nested leaves must
  // prune the scan's ReadSchema down to those leaves — untouched top-level
  // fields (name) AND untouched sibling leaves (geo.lng) both disappear,
  // so only the requested subtree is deserialized from the payload.
  test("nested projection prunes untouched leaves out of the scan schema") {
    server.payload =
      """[{"id": 1, "name": "N1",
        |  "address": {"city": "Rome", "geo": {"lat": 41.9, "lng": 12.5}}},
        | {"id": 2, "name": "N2",
        |  "address": {"city": "Oslo", "geo": {"lat": 59.9, "lng": 10.7}}}]""".stripMargin
    val df = spark.read.format("http-full-cache")
      .schema("id INT, name STRING, " +
        "address STRUCT<city: STRING, geo: STRUCT<lat: DOUBLE, lng: DOUBLE>>")
      .option("url", server.url).load()
    val sel = df.selectExpr("id", "address.city AS city", "address.geo.lat AS lat")
    val scanSchemas = sel.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.readSchema()
    }
    assert(scanSchemas.nonEmpty, sel.queryExecution.executedPlan.toString)
    val rs = scanSchemas.head.catalogString
    assert(rs.contains("city") && rs.contains("lat"), rs)
    assert(!rs.contains("name") && !rs.contains("lng"),
      s"expected nested-pruned ReadSchema, got: $rs")
    val rows = sel.orderBy("id").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1, "Rome", 41.9), (2, "Oslo", 59.9)))
  }

  // Loads of different keys run under different per-key locks, so the
  // JVM-wide load counter must not lose an increment to a concurrent load.
  test("concurrent first touches of distinct keys count every load once") {
    import graft.sources.http.HttpOptions
    import scala.jdk.CollectionConverters._
    val n = 16
    server.payload = (0 until n).map(i => s""""k$i": [{"id": $i}]""")
      .mkString("{", ",", "}")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id INT")
    val loads0 = SnapshotCache.loadCount
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val got = (0 until n).map { i =>
        val opts = HttpOptions.parse(Map("url" -> server.url, "xpath" -> s"/k$i").asJava)
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = { start.await(); SnapshotCache.get(opts, schema)(0).getInt(0) }
        })
      }
      start.countDown()
      assert(got.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS)) == (0 until n))
    } finally pool.shutdownNow()
    assert(SnapshotCache.loadCount - loads0 == n)
    assert(server.requestCount == n)
  }

  test("schema is mandatory") {
    val e = intercept[Exception](
      spark.read.format("http-full-cache").option("url", server.url).load())
    assert(e.getMessage.toLowerCase.contains("schema"))
  }

  /** The nodes of an executed plan, through AQE's stages. */
  private def planNodes(df: DataFrame): Seq[SparkPlan] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan)
  }

  /** The http-full-cache broadcasts of an executed plan. */
  private def fullCacheExchanges(df: DataFrame): Seq[FullCacheBroadcastExchangeExec] =
    planNodes(df).collect { case e: FullCacheBroadcastExchangeExec => e }

  private def builds = SnapshotCache.relationBuilds

  test("adaptive lookup join builds its broadcast once per load, on the driver, without scanning") {
    import spark.implicits._
    val probe = (1 to 12).toDF("user_id")
    def join = Enrich.lookupJoin(probe, users(), $"user_id" === $"id", "inner")
      .select($"user_id", $"name")
    val (loads0, builds0) = (SnapshotCache.loadCount, builds)
    val df = join
    val rows = df.collect()
    assert(rows.length == 10 && rows.forall(r => r.getString(1) == s"Mock Name${r.getInt(0)}"))
    assert(df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    val ex = fullCacheExchanges(df)
    assert(ex.size == 1, df.queryExecution.executedPlan.toString)
    assert(ex.head.metrics("numOutputRows").value == 10)
    // the scan under the exchange never ran: no collect job read it
    assert(ex.head.child.collectLeaves().head.metrics("numOutputRows").value == 0)
    (1 to 3).foreach(_ => assert(join.collect().length == 10))
    assert(SnapshotCache.loadCount - loads0 == 1 && builds - builds0 == 1)
    assert(server.requestCount == 1)
  }

  test("TTL expiry adds exactly one load and one relation build") {
    import spark.implicits._
    val probe = (1 to 10).toDF("id")
    def names = Enrich.lookupJoin(probe, users("cache.refresh-interval" -> "PT2S"), Seq("id"), "inner")
      .select("name").collect().map(_.getString(0))
    val (loads0, builds0) = (SnapshotCache.loadCount, builds)
    assert(names.length == 10 && names.forall(_.startsWith("Mock")))
    assert(names.length == 10)
    assert(SnapshotCache.loadCount - loads0 == 1 && builds - builds0 == 1)
    server.payload = Fixtures.usersJson(prefix = "Updated")
    Thread.sleep(2200)
    assert(names.length == 10 && names.forall(_.startsWith("Updated")))
    assert(names.forall(_.startsWith("Updated")))
    assert(SnapshotCache.loadCount - loads0 == 2 && builds - builds0 == 2)
    assert(server.requestCount == 2)
  }

  test("on one load, queries differing in pushed filter, projection, join key or join type stay exact") {
    import spark.implicits._
    val u = users()
    val local = spark.createDataFrame(java.util.Arrays.asList(u.collect(): _*), u.schema)
    val probe = Seq[Integer](1, 2, 3, 5, 8, 11, null).toDF("k")
    probe.createOrReplaceTempView("memo_probe")
    val variants: Seq[DataFrame => DataFrame] = Seq(
      l => probe.join(broadcast(l), probe("k") === l("id"), "inner").select(probe("k"), l("name")),
      l => probe.join(broadcast(l), probe("k") === l("id"), "left").select(probe("k"), l("name")),
      l => probe.join(broadcast(l), probe("k") === l("id"), "inner").select(probe("k"), l("email")),
      l => { val f = l.filter(l("id") > 3)
             probe.join(broadcast(f), probe("k") === f("id"), "inner").select(probe("k"), f("name")) },
      l => { val f = l.filter(l("id") > 5)
             probe.join(broadcast(f), probe("k") === f("id"), "inner").select(probe("k"), f("name")) },
      l => probe.join(broadcast(l), probe("k") === l("id") + 1, "inner").select(probe("k"), l("name")),
      l => probe.join(broadcast(l), probe("k") === l("id"), "left_anti"),
      // a non-equi join broadcasts the rows themselves (nested-loop join)
      l => probe.join(broadcast(l), probe("k") > l("id") * 2, "inner").select(probe("k"), l("id")),
      l => { l.createOrReplaceTempView("memo_lookup")
             spark.sql("SELECT k FROM memo_probe WHERE k NOT IN (SELECT id FROM memo_lookup)") })
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val loads0 = SnapshotCache.loadCount
    val builds0 = builds
    val canonical = variants.map { v =>
      val df = v(u)
      assert(rows(df) == rows(v(local)), df.queryExecution.executedPlan.toString)
      val ex = fullCacheExchanges(df)
      assert(ex.size == 1, df.queryExecution.executedPlan.toString)
      ex.head.canonicalized
    }
    // inner and left join on the same key share one relation, so fewer
    // relations than variants; each distinct exchange was built once
    assert(canonical.distinct.size == variants.size - 1)
    assert(builds - builds0 == canonical.distinct.size)
    assert(canonical.distinct.size <= SnapshotCache.MaxRelationsPerLoad)
    variants.foreach(v => assert(rows(v(u)) == rows(v(local))))
    assert(builds - builds0 == canonical.distinct.size)
    assert(SnapshotCache.loadCount - loads0 == 0 && server.requestCount == 1)
  }

  test("concurrent first queries make one fetch and one relation build") {
    import spark.implicits._
    val probe = (1 to 10).toDF("id")
    val builds0 = builds
    val n = 4
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val got = (0 until n).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            start.await()
            Enrich.lookupJoin(probe, users(), Seq("id"), "inner").count()
          }
        })
      }
      start.countDown()
      assert(got.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS)) == Seq.fill(n)(10L))
    } finally pool.shutdownNow()
    assert(server.requestCount == 1)
    assert(builds - builds0 == 1)
  }

  // ref: HttpLookupConnectorIntegrationTest.scala:207-212, on a plain read
  test("concurrent plain scans make one fetch") {
    val loads0 = SnapshotCache.loadCount
    val n = 4
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val got = (0 until n).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = {
            start.await()
            users().select("name").collect().map(_.getString(0)).sorted.toSeq
          }
        })
      }
      start.countDown()
      val want = (1 to 10).map(i => s"Mock Name$i").sorted
      assert(got.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS)) == Seq.fill(n)(want))
    } finally pool.shutdownNow()
    assert(server.requestCount == 1)
    assert(SnapshotCache.loadCount - loads0 == 1)
  }

  test("a load holds at most MaxRelationsPerLoad relations, evicting the least recently used") {
    import spark.implicits._
    val probe = (1 to 10).toDF("k")
    val u = users()
    def join(i: Int) = {
      val f = u.filter(u("id") > i)
      probe.join(broadcast(f), probe("k") === f("id"), "inner").count()
    }
    val cap = SnapshotCache.MaxRelationsPerLoad
    assert(join(0) == 10)
    val builds0 = builds
    (1 to cap).foreach(i => assert(join(i % 10) == math.max(0, 10 - i % 10)))
    assert(builds - builds0 == cap) // the cap+1-th relation evicted filter 0
    assert(join(cap) == 10 - cap) // the most recent is still held
    assert(builds - builds0 == cap)
    assert(join(0) == 10) // the evicted one is rebuilt
    assert(builds - builds0 == cap + 1)
    assert(server.requestCount == 1)
  }

  test("under a local master, tasks read the built relation itself, not a serialized copy") {
    import spark.implicits._
    val df = Enrich.lookupJoin((1 to 12).toDF("id"), users(), Seq("id"), "inner")
    assert(df.collect().length == 10)
    val b = fullCacheExchanges(df).head.executeBroadcast[Any]()
    assert(b.isInstanceOf[LocalBroadcast] && b.id < 0, b.getClass.getName)
    HttpSourceSpec.read.clear()
    spark.sparkContext.parallelize(1 to 4, 4).foreach(_ => HttpSourceSpec.read.add(b.value.asInstanceOf[AnyRef]))
    val read = HttpSourceSpec.read.asScala.toSeq
    assert(read.size == 4 && read.forall(_ eq b.value.asInstanceOf[AnyRef]))
  }

  test("a reload leaves the old load's relation unreachable: the local registry pins nothing") {
    import spark.implicits._
    def relation(): java.lang.ref.WeakReference[AnyRef] = {
      val df = Enrich.lookupJoin((1 to 12).toDF("id"), users("cache.refresh-interval" -> "PT1S"),
        Seq("id"), "inner")
      assert(df.collect().length == 10)
      new java.lang.ref.WeakReference(fullCacheExchanges(df).head.executeBroadcast[Any]().value.asInstanceOf[AnyRef])
    }
    val old = relation()
    Thread.sleep(1100)
    val current = relation()
    assert(SnapshotCache.loadCount >= 2 && server.requestCount == 2)
    var gcs = 0
    while (old.get != null && gcs < 20) { System.gc(); Thread.sleep(50); gcs += 1 }
    assert(old.get == null, "the replaced load's relation is still reachable")
    assert(current.get != null, "the live load holds its relation")
  }

  test("a destroyed or unknown local broadcast id fails loudly when read") {
    def write(o: AnyRef): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      val oos = new java.io.ObjectOutputStream(out)
      oos.writeObject(o)
      oos.close()
      out.toByteArray
    }
    def read(bytes: Array[Byte]): AnyRef =
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes)).readObject()
    val b = LocalBroadcast("x" * 100000)
    val bytes = write(b)
    assert(bytes.length < 500, "the serialized form is the id alone")
    assert(read(bytes) eq b)
    b.destroy()
    val destroyed = intercept[IllegalStateException](read(bytes))
    assert(destroyed.getMessage.contains(s"Local broadcast ${b.id} ") &&
      destroyed.getMessage.contains("a local master is required"), destroyed.getMessage)
    val unknown = intercept[IllegalStateException](LocalBroadcast.resolve(Long.MinValue))
    assert(unknown.getMessage.contains(s"Local broadcast ${Long.MinValue} ") &&
      unknown.getMessage.contains("a local master is required"), unknown.getMessage)
  }

  // Must stay the suite's last test: it stops the suite's session. The
  // session it leaves behind is the active one for later suites.
  test("a restarted SparkSession rebuilds the relation instead of reusing a stopped one") {
    def count(s: SparkSession): Long = {
      import s.implicits._
      Enrich.lookupJoin((1 to 10).toDF("id"), usersIn(s), Seq("id"), "inner").count()
    }
    assert(count(spark) == 10)
    val (loads0, builds0) = (SnapshotCache.loadCount, builds)
    assert(count(spark) == 10)
    assert(builds == builds0)
    graft.ops.Caches.releaseAll()
    spark.stop()
    val restarted = GraftSession.local("4")
    assert(restarted.sparkContext ne spark.sparkContext)
    assert(count(restarted) == 10)
    assert(SnapshotCache.loadCount == loads0, "the snapshot itself is still fresh")
    assert(builds - builds0 == 1)
    assert(server.requestCount == 1)
  }
}

object HttpSourceSpec {
  /** What the tasks of one spec read, in this JVM. */
  val read = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]
}
