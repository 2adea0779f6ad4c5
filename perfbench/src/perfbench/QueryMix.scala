package perfbench

import graft.SparkEntry
import graft.sources.http.SnapshotCache
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

object QueryMix {
  /** Short name -> harness query. */
  val queries: Seq[(String, String)] = Seq(
    "h01" -> "h01_http_enrich_join", "p01" -> "p01_pipeline_clean_mix",
    "x164" -> "x164_ann_residual_ladder")
  val short: Seq[String] = queries.map(_._1)
}

/** The operator path: three harness queries through `SparkEntry.queries`
  * over generated fixture tables, Bench-style (storage released and a GC
  * between queries). Each query's output is written as parquet so that
  * `perfbench/oracle.py` can hash-match it against the query's DuckDB
  * oracle after the run. */
final class QueryMix extends Workload {
  private var dataDir: String = _

  def setup(env: Env): Unit = {
    val spark = env.spark
    val seed = env.seed
    dataDir = env.dir("mix_data").toString
    def write(name: String, ddl: String, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, StructType.fromDDL(ddl)).coalesce(1)
        .write.mode("overwrite").parquet(s"$dataDir/$name.parquet")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    write("events", "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING", (0 until 10000).map { i =>
      Row(i.toLong, new java.sql.Timestamp(t0 + i * 60000L + Gen.below(seed, 90, i, 60000)),
        Gen.mixEventUser(seed, i), Gen.mixEventType(seed, i), Gen.mixEventValue(seed, i),
        s"""{"k": ${Gen.below(seed, 91, i, 100)}}""")
    })
    write("documents", "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
      (0 until 500).map { d =>
        val text = Gen.docText(seed, d)
        Row(d.toLong, text, Gen.docLang(seed, d), s"src${d % 10}", text.length.toLong)
      })
    write("embeddings", "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT", (0 until 500).map { i =>
      val (v, label) = Gen.embedding(seed, i)
      Row(i.toLong, v.toSeq, label)
    })
  }

  def measure(env: Env, r: Report): Unit = {
    val spark = env.spark
    val tr = env.tracer
    val out = env.dir("mix_out")
    val all = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val wall, cpu = ArrayBuffer.empty[Double]
    val perQuery = QueryMix.short.map(_ -> ArrayBuffer.empty[(Double, Double)]).toMap
    val h01Fetches0 = graft.queries.HttpEnrichment.usersServer.requestCount
    val loads0 = SnapshotCache.loadCount
    var deadline = Long.MaxValue
    var pass = 0
    // pass 0 warms up (JIT, code generation) and is not timed
    while (pass < 2 || System.nanoTime() < deadline) {
      var passWall, passCpu = 0.0
      tr(if (pass == 0) "warmup" else "pass", "bench", pass) {
        QueryMix.queries.foreach { case (s, name) =>
          val c0 = Clock.cpuNanos
          val t0 = System.nanoTime()
          var w, c = 0.0
          val ok = try {
            tr(s"mix.$s", "mix", pass) {
              all(name)(spark, dataDir).write.mode("overwrite").parquet(out.resolve(s).toString)
              w = Clock.ms(System.nanoTime() - t0); c = Clock.ms(Clock.cpuNanos - c0)
              if (env.trace) attachJobs(env, pass)
            }
            true
          } catch { case e: Exception => e.printStackTrace(); false }
          r.check(ok, s"$name failed in pass $pass")
          if (pass > 0) perQuery(s) += ((w / 1000, c / 1000))
          passWall += w; passCpu += c
          // Bench methodology: release operator storage, settle the heap
          graft.ops.Caches.releaseAll()
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          System.gc()
        }
      }
      System.err.println(f"perfbench: pass $pass: $passWall%.0f ms, cpu $passCpu%.0f ms")
      if (pass == 0) deadline = System.nanoTime() + (env.seconds * 1e9).toLong
      else { wall += passWall; cpu += passCpu }
      pass += 1
    }
    r.put("latency_p50_ms", Stats.median(wall))
    r.put("op.cpu_ms", Stats.median(cpu))
    Layers.putTail(r, wall.toSeq)
    perQuery.foreach { case (s, xs) =>
      r.put(s"mix.$s.wall_s", Stats.median(xs.map(_._1)))
      r.put(s"mix.$s.cpu_s", Stats.median(xs.map(_._2)))
    }
    r.put("input.rows", 10000 + 500 + 500)
    r.put("http.loads", SnapshotCache.loadCount - loads0)
    r.put("http.fetches", graft.queries.HttpEnrichment.usersServer.requestCount - h01Fetches0)
    // tracing here only reads listener events after the fact: no overhead
    Layers.finish(env, r, "pass", wall.toSeq, wall.toSeq)

    // what oracle.py compares, outside the timed window
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("data", dataDir)
    val qs = root.putObject("queries")
    QueryMix.queries.foreach { case (s, name) =>
      qs.putObject(s).put("name", name).put("sql", oracle(name)).put("out", out.resolve(s).toString)
    }
    Files.writeString(env.work.resolve("oracle.json"), m.writeValueAsString(root), UTF_8)
  }

  /** The time Spark jobs ran inside the open span (overlapping jobs merged),
    * as spark-layer children. */
  private def attachJobs(env: Env, pass: Int): Unit = {
    PerfbenchBus.drain(env.spark.sparkContext)
    val from = env.tracer.openStart
    val jobs = ArrayBuffer.empty[(Long, Long)]
    var j = env.counters.jobSpans.poll()
    while (j != null) {
      val (s, e) = (Clock.epochMsToNanos(j._1.toDouble), Clock.epochMsToNanos(j._2.toDouble))
      if (e > from) jobs += ((math.max(s, from), e))
      j = env.counters.jobSpans.poll()
    }
    jobs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, iv) => iv :: acc
    }.foreach { case (s, e) => env.tracer.record("jobs", "spark", pass, s, e) }
  }

  def teardown(): Unit = ()
}
