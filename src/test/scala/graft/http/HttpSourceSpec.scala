package graft.http

import graft.GraftSession
import graft.enrich.Enrich
import graft.sources.http.SnapshotCache
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

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

  private def users(extra: (String, String)*): DataFrame = {
    val r = spark.read.format("http-full-cache")
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

  // Beyond reference parity: supported predicates reach the scan (visible
  // as PushedFilters in the plan) and pre-prune the snapshot; Spark still
  // re-applies every filter, so results are exact regardless.
  test("filter pushdown prunes the snapshot and shows in the plan") {
    val df = users().filter(col("id") > 5 && col("name").isNotNull)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(id,5)"),
      s"expected pushed filter in scan description:\n$plan")
    val ids = df.select("id").collect().map(_.getInt(0)).sorted
    assert(ids.toSeq == (6 to 10).toSeq)
    assert(server.requestCount == 1)
  }

  test("pushed-filter results are exact for every predicate shape") {
    import spark.implicits._
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
    }
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
}
