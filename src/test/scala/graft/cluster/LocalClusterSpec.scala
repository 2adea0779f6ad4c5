package graft.cluster

import graft.enrich.Enrich
import graft.ops.Caches
import graft.plans.FullCacheBroadcastExchangeExec
import graft.sources.http.SnapshotCache
import graft.sources.http.testkit.EmbeddedJsonServer
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.{BeforeAndAfterAll, Tag}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Tags the specs that run under a `local-cluster` master, whose executors
  * are JVMs of their own: `testOnly -- -n graft.LocalCluster` runs them alone. */
object LocalCluster extends Tag("graft.LocalCluster")

/** The connector and the storage contracts under a non-local master:
  * `local-cluster[2,1,1024]`, two executor JVMs of one core each, started
  * from `SPARK_HOME` with this build's classes on their class path. All
  * specs share one session, since each session pays executor start-up. */
class LocalClusterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var server: EmbeddedJsonServer = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    val classes = Seq(classOf[SnapshotCache.Relation], getClass)
      .map(c => Paths.get(c.getProtectionDomain.getCodeSource.getLocation.toURI).toString)
    spark = SparkSession.builder()
      .master("local-cluster[2,1,1024]")
      .appName("graft-local-cluster")
      .config("spark.executor.extraClassPath", classes.mkString(java.io.File.pathSeparator))
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    server = new EmbeddedJsonServer
    server.payload = (1 to 10).map { i =>
      s"""{"id": $i, "name": "Name$i", "email": "user$i@example.com"}"""
    }.mkString("[", ",", "]")
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    if (spark != null) spark.stop()
  }

  test("the master is not local", LocalCluster) {
    assert(!spark.sparkContext.isLocal)
  }

  test("a full-cache lookup join builds once on the driver and broadcasts through TorrentBroadcast",
      LocalCluster) {
    val session = spark
    import session.implicits._
    SnapshotCache.invalidateAll()
    val users = spark.read.format("http-full-cache")
      .schema("id INT, name STRING, email STRING").option("url", server.url).load()
    val (loads0, builds0) = (SnapshotCache.loadCount, SnapshotCache.relationBuilds)
    val df = Enrich.lookupJoin((1 to 12).toDF("user_id"), users, $"user_id" === $"id", "inner")
      .select($"user_id", $"name")
    val rows = df.collect()
    assert(rows.length == 10 && rows.forall(r => r.getString(1) == s"Name${r.getInt(0)}"))
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    val ex = nodes(df.queryExecution.executedPlan).collect { case e: FullCacheBroadcastExchangeExec => e }
    assert(ex.size == 1, df.queryExecution.executedPlan.toString)
    assert(SnapshotCache.loadCount - loads0 == 1 && SnapshotCache.relationBuilds - builds0 == 1)
    assert(server.requestCount == 1, "executors never fetch for a broadcast join")
    assert(ex.head.executeBroadcast[Any]().getClass.getName ==
      "org.apache.spark.broadcast.TorrentBroadcast")
  }

  test("reliable checkpoints need spark.graft.checkpoint.dir on a non-local master", LocalCluster) {
    val sc: SparkContext = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    var dir: java.nio.file.Path = null
    try {
      val e = intercept[IllegalArgumentException](Caches.localCheckpointTracked(spark.range(10).toDF()))
      assert(e.getMessage.contains("spark.graft.checkpoint.dir") &&
        e.getMessage.contains("non-local master local-cluster[2,1,1024]"), e.getMessage)
      assert(sc.getCheckpointDir.isEmpty)
      dir = Files.createTempDirectory("graft_cluster_ckpt_")
      spark.conf.set("spark.graft.checkpoint.dir", dir.toString)
      assert(Caches.localCheckpointTracked(spark.range(10).toDF()).count() == 10)
      assert(sc.getCheckpointDir.exists(_.contains(dir.getFileName.toString)))
    } finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
      spark.conf.unset("spark.graft.checkpoint.dir")
      Caches.releaseAll()
      Option(dir).foreach(d => Files.walk(d).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p)))
    }
  }
}
