package perfbench

import graft.GraftSession
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

/** Everything a workload runs against. `spark` is replaced on each set-up
  * repetition. */
final class Env(val seed: Long, val seconds: Double, val trace: Boolean,
                val work: Path, val tiny: Boolean, val cpus: Int) {
  var spark: SparkSession = _
  /** The measured window's Spark listener. */
  var counters: SparkCounters = _
  val tracer = new Tracer(trace)
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

trait Workload {
  /** Everything before the first timed operation: inputs, endpoint, warm
    * caches. Runs once per set-up repetition on a fresh session. */
  def setup(env: Env): Unit
  /** The timed window plus its output checks. */
  def measure(env: Env, r: Report): Unit
  /** Releases what `setup` started (endpoints, threads). */
  def teardown(): Unit
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE [--tiny]`. Writes one JSON result object to FILE;
  * `perfbench/run.py` turns it into the benchmark's result line. */
object Main {
  val workloads: Map[String, () => Workload] = Map(
    "snapshot_refresh" -> (() => new SnapshotRefresh),
    "enrich_warm" -> (() => new EnrichWarm),
    "stream_enrich" -> (() => new StreamEnrich),
    "query_mix" -> (() => new QueryMix))

  /** Set-up repetitions: the first pays JVM and Spark start-up, the rest
    * give the reported median. */
  private val setupReps = 3

  /** Every per-layer metric name; BENCHMARK.json gives their units. */
  val perLayer: Seq[String] = Seq("setup.first_s", "op.cpu_ms", "op.count", "op.tail_pct", "op.tail_ms",
    "input.rows", "input.payload_rows", "http.body_bytes", "http.fetches", "http.loads",
    "http.retries", "http.fetch_ms", "http.cold_get_ms", "http.parse_full_ms",
    "http.parse_pruned_ms", "http.rows_per_s", "http.to_row_ms", "http.tree_ms",
    "http.heap_bytes", "http.heap_ratio", "http.scan_ms", "join.plan_ms",
    "join.bcast_collect_ms", "join.bcast_build_ms", "join.bcast_bytes", "join.bcasts_per_query",
    "stream.batches", "stream.add_batch_ms", "stream.query_planning_ms", "stream.wal_commit_ms",
    "stream.commit_offsets_ms", "stream.latest_offset_ms", "stream.refresh_batch_ms",
    "stream.steady_batch_ms", "stream.backlog_max", "stream.generator_late_ms",
    "stream.rate_per_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_cpu_ms",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.gc_ms") ++
    QueryMix.short.flatMap(q => Seq(s"mix.$q.wall_s", s"mix.$q.cpu_s")) ++
    Layers.names.map(l => s"self.${l}_ms") ++
    Seq("trace.ops", "trace.traced_p50_ms", "trace.untraced_p50_ms", "trace.overhead_ms",
      "trace.children_ms")

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = a("workload")
    val env = new Env(a("seed").toLong, a("seconds").toDouble, a.get("trace").contains("1"),
      Paths.get(a("work")).toAbsolutePath, args.contains("--tiny"),
      a.get("cpus").map(_.toInt).getOrElse(4))
    val w = workloads.getOrElse(name, sys.error(s"unknown workload '$name'"))()
    val r = new Report

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setups = (1 to setupReps).map { rep =>
      val t0 = if (rep == 1) jvmStartMs else Clock.epochMs
      if (env.spark != null) {
        w.teardown()
        env.spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      env.spark = GraftSession.local(env.cpus.toString)
      val tSession = Clock.epochMs
      env.spark.range(1000000).selectExpr("sum(id * 2)").collect()
      val tWarm = Clock.epochMs
      w.setup(env)
      System.err.println(f"perfbench: set-up $rep: session ${(tSession - t0) / 1000}%.2f s, " +
        f"warm-up ${(tWarm - tSession) / 1000}%.2f s, workload ${(Clock.epochMs - tWarm) / 1000}%.2f s")
      (Clock.epochMs - t0) / 1000.0
    }
    System.err.println(s"perfbench: set-ups took ${setups.map(t => f"$t%.2f").mkString(", ")} s")
    r.put("setup_s", Stats.median(setups.tail))
    r.put("setup.first_s", setups.head)

    val spark = env.spark
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    env.counters = counters
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val c0 = counters.snapshot(); val gc0 = Clock.gcMillis
    try w.measure(env, r)
    catch { case e: Throwable => e.printStackTrace(); r.fail(s"measure aborted: $e") }
    System.err.println(f"perfbench: measured window and checks ended ${(Clock.epochMs - jvmStartMs) / 1000}%.1f s after start")
    PerfbenchBus.drain(spark.sparkContext)
    val c1 = counters.snapshot()
    def d(k: String) = (c1(k) - c0(k)).toDouble
    r.put("spark.jobs", d("jobs")); r.put("spark.stages", d("stages")); r.put("spark.tasks", d("tasks"))
    r.put("spark.executor_cpu_ms", d("cpu_ns") / 1e6)
    r.put("spark.shuffle_read_bytes", d("shuffle_read")); r.put("spark.shuffle_write_bytes", d("shuffle_write"))
    r.put("spark.spill_bytes", d("spill")); r.put("spark.gc_ms", (Clock.gcMillis - gc0).toDouble)
    StreamLayer.summarize(progress.drainAll(), r)

    w.teardown()
    // a metric a workload does not exercise reads 0
    perLayer.foreach(n => if (!r.metrics.contains(n)) r.put(n, 0.0))
    if (env.trace) {
      r.spansJson = env.tracer.toJson
      r.table = layerTable(name, r)
    }
    Files.writeString(Paths.get(a("out")), resultJson(r), UTF_8)
    spark.stop()
    // the embedded endpoints' server threads are non-daemon
    sys.exit(0)
  }

  private def layerTable(name: String, r: Report): String = {
    val total = Layers.names.map(l => r.metrics(s"self.${l}_ms")).sum
    val rows = Layers.names.map { l =>
      val v = r.metrics(s"self.${l}_ms")
      f"  $l%-8s $v%12.2f ${if (total > 0) 100 * v / total else 0.0}%7.1f%%"
    }
    (Seq(s"per-layer self time, $name (traced operations: ${r.metrics("trace.ops").toLong})",
      f"  ${"layer"}%-8s ${"ms per op"}%12s ${"share"}%8s") ++ rows ++ Seq(
      f"  traced op p50 ${r.metrics("trace.traced_p50_ms")}%.2f ms (children cover " +
        f"${r.metrics("trace.children_ms")}%.2f ms), untraced op p50 " +
        f"${r.metrics("trace.untraced_p50_ms")}%.2f ms, tracing overhead " +
        f"${r.metrics("trace.overhead_ms")}%.2f ms")).mkString("\n")
  }

  private def resultJson(r: Report): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("attempted", r.attempted); root.put("failed", r.failed)
    val ms = root.putObject("metrics")
    r.metrics.foreach { case (k, v) => ms.put(k, v) }
    val ps = root.putArray("problems"); r.problems.foreach(p => ps.add(p))
    root.put("table", r.table)
    root.put("spans", r.spansJson)
    m.writeValueAsString(root)
  }
}
