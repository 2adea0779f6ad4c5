package graft.plans

import graft.GraftSession
import graft.sources.http.{HttpScan, SnapshotCache}
import graft.sources.http.testkit.EmbeddedJsonServer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** The lookup relation's build in slices: any slice count gives the
  * relation one slice gives, and errors are those of one pass. */
class FullCacheBuildSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = GraftSession.local("4")

  private var server: EmbeddedJsonServer = _
  private val n = 37

  override def beforeAll(): Unit = {
    SnapshotCache.invalidateAll()
    server = new EmbeddedJsonServer
    server.payload = (1 to n).map { i =>
      s"""{"id": $i, "name": "user $i", "address": {"city": "c${i % 5}",""" +
        s""" "geo": {"lat": ${i * 0.5}, "lng": ${-i * 0.25}}}}"""
    }.mkString("[", ",", "]")
  }
  override def afterAll(): Unit = if (server != null) server.stop()

  private def users: DataFrame = spark.read.format("http-full-cache")
    .schema("id INT, name STRING, address STRUCT<city: STRING, geo: STRUCT<lat: DOUBLE, lng: DOUBLE>>")
    .option("url", server.url).load()

  private def probe: DataFrame = spark.range(0, 80).select(col("id").cast("int").as("k"),
    concat(lit("user "), col("id")).as("kn"))

  /** The one full-cache exchange of `df`'s plan, planned but not run. */
  private def exchange(df: DataFrame): FullCacheBroadcastExchangeExec = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    val ex = nodes(df.queryExecution.executedPlan).collect { case e: FullCacheBroadcastExchangeExec => e }
    assert(ex.size == 1, df.queryExecution.executedPlan.toString)
    ex.head
  }

  /** The load's rows for the scan under `ex`. */
  private def rowsFor(ex: FullCacheBroadcastExchangeExec): Array[InternalRow] = {
    val scan = FullCacheBroadcastExchangeExec.snapshotChain(ex.child).get.last
      .asInstanceOf[BatchScanExec].scan.asInstanceOf[HttpScan]
    SnapshotCache.get(scan.opts, scan.readSchema())
  }

  private def bytes(relation: Any): Seq[Byte] = {
    val out = new ByteArrayOutputStream
    val oos = new ObjectOutputStream(out)
    oos.writeObject(relation)
    oos.close()
    out.toByteArray.toSeq
  }

  /** Builds `df`'s relation in 1, 2, 3 and N slices; every build equals
    * the one-slice build byte for byte. Returns the one-slice relation. */
  private def sameAtEverySliceCount(df: DataFrame): Any = {
    val ex = exchange(df)
    val rows = rowsFor(ex)
    val one = ex.build(rows, 1, 1)
    Seq(2, 3, rows.length).foreach { k =>
      val sliced = ex.build(rows, k, 1)
      assert(sliced.numRows == one.numRows && sliced.dataSize == one.dataSize, s"$k slices")
      assert(bytes(sliced.broadcast.value) == bytes(one.broadcast.value), s"$k slices")
    }
    one.broadcast.value
  }

  test("a hashed join's relation is the same in 1, 2, 3 and N slices") {
    val u = users
    val p = probe
    sameAtEverySliceCount(p.join(broadcast(u), p("k") === u("id")))
    sameAtEverySliceCount(p.join(broadcast(u), p("kn") === u("name")))
  }

  test("a nested-loop join's rows keep their order in 1, 2, 3 and N slices") {
    val u = users
    val p = probe
    val rows = sameAtEverySliceCount(p.join(broadcast(u), p("k") > u("id") * 2))
      .asInstanceOf[Array[InternalRow]]
    assert(rows.map(_.getInt(0)).toSeq == (1 to n))
  }

  test("filter and nested projection are the same in 1, 2, 3 and N slices") {
    val u = users.filter(col("id") > 3 && col("id") % 3 =!= 0)
      .select(col("id"), col("address.geo.lat").as("lat"), upper(col("address.city")).as("city"))
    val p = probe
    val df = p.join(broadcast(u), p("k") === u("id"))
    assert(FullCacheBroadcastExchangeExec.snapshotChain(exchange(df).child).get
      .exists(_.isInstanceOf[FilterExec]))
    sameAtEverySliceCount(df)
    sameAtEverySliceCount(p.join(broadcast(u), p("k") > u("id")))
    val want = (4 to n).filter(_ % 3 != 0).map(i => (i, i * 0.5, s"C${i % 5}"))
    assert(df.select("id", "lat", "city").collect().map(r => (r.getInt(0), r.getDouble(1),
      r.getString(2))).sortBy(_._1).toSeq == want)
  }

  test("a failing build raises the lowest slice's error once every slice has finished") {
    val seen = FullCacheBuildSpec.seen
    seen.clear()
    val check = udf { (id: Int) =>
      if (id == 27) Thread.sleep(300) // the third slice, which does not fail, finishes last
      FullCacheBuildSpec.seen.put(id, ())
      if (id == 12 || id == 30) throw new IllegalArgumentException(s"bad id $id")
      id
    }
    val u = users.select(col("id"), check(col("id")).as("checked"))
    val p = probe
    val ex = exchange(p.join(broadcast(u), p("k") === u("checked")))
    val rows = rowsFor(ex)
    // 4 slices: 1-9, 10-18 (fails at 12), 19-27, 28-37 (fails at 30)
    val e = intercept[Exception](ex.build(rows, 4, 1))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("bad id 12")), e)
    assert(!messages.exists(m => m != null && m.contains("bad id 30")), e)
    assert((1 to 12).forall(seen.containsKey) && (19 to 27).forall(seen.containsKey))
    assert(!seen.containsKey(13) && seen.containsKey(30) && !seen.containsKey(31))
    // one slice fails at the same row as a one-pass build would
    seen.clear()
    val once = intercept[Exception](ex.build(rows, 1, 1))
    assert(Iterator.iterate[Throwable](once)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("bad id 12")))
    assert(seen.size == 12)
  }

  test("a relation below the minimum slice size builds on the calling thread") {
    val onThread = udf { (id: Int) =>
      FullCacheBuildSpec.threads.put(Thread.currentThread.getName, ()); id }
    val v = users.select(onThread(col("id")).as("id"))
    val p = probe
    val ex = exchange(p.join(broadcast(v), p("k") === v("id")))
    val rows = rowsFor(ex)
    val threads = FullCacheBuildSpec.threads
    threads.clear()
    assert(ex.build(rows, 4, FullCacheBroadcastExchangeExec.MinSliceRows).numRows == n)
    assert(threads.keySet.asScala == Set(Thread.currentThread.getName))
    threads.clear()
    assert(ex.build(rows, 4, 1).numRows == n)
    assert(threads.keySet.asScala.exists(_.startsWith("http-full-cache-decode-")))
  }
}

object FullCacheBuildSpec {
  val seen = new ConcurrentHashMap[Int, Unit]
  val threads = new ConcurrentHashMap[String, Unit]
}
