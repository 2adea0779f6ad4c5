package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val mem = ManagementFactory.getMemoryMXBean
  def cpuNanos: Long = os.getProcessCpuTime
  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  /** Heap in use after two full collections. */
  def settledHeap(): Long = { System.gc(); System.gc(); mem.getHeapMemoryUsage.getUsed }
  def ms(ns: Long): Double = ns / 1e6
  /** Wall-clock epoch milliseconds with sub-millisecond resolution. */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochMs: Double = (System.nanoTime() + epochOffsetNs) / 1e6
  def epochMsToNanos(ms: Double): Long = (ms * 1e6).toLong - epochOffsetNs
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
}

/** In-memory spans around the calls into each layer, written to a sidecar
  * at exit. A span's self time is its duration minus the part of it that
  * its children cover. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, layer: String, iter: Int,
                        startNs: Long, endNs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[(Int, Long)] = Nil
  private var nextId = 0

  def apply[T](name: String, layer: String, iter: Int)(f: => T): T =
    if (!on) f
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      val t0 = System.nanoTime()
      open = (id, t0) :: open
      try f
      finally {
        open = open.tail
        spans.synchronized(spans += Span(id, parent, name, layer, iter, t0, System.nanoTime()))
      }
    }

  /** Start of the innermost open span (the parent an attached span gets). */
  def openStart: Long = open.headOption.map(_._2).getOrElse(System.nanoTime())

  /** Records an already-measured span under `parent` (-1: a root), by
    * default the innermost open span; returns its id. */
  def record(name: String, layer: String, iter: Int, startNs: Long, endNs: Long,
             parent: Option[Int] = None): Int = spans.synchronized {
    val id = nextId; nextId += 1
    val p = parent.getOrElse(open.headOption.map(_._1).getOrElse(-1))
    spans += Span(id, p, name, layer, iter, startNs, math.max(startNs, endNs))
    id
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  private def covered(s: Span, kids: Seq[Span]): Long = {
    val iv = kids.map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self milliseconds summed per layer, over the span trees whose root is
    * named `root`. */
  def selfMsByLayer(root: String): Map[String, Double] = {
    val ss = all
    val byId = ss.map(s => s.id -> s).toMap
    def rootOf(s: Span): Span = byId.get(s.parent).map(rootOf).getOrElse(s)
    val kids = ss.groupBy(_.parent)
    ss.filter(s => rootOf(s).name == root)
      .map(s => s.layer -> Clock.ms(s.endNs - s.startNs - covered(s, kids.getOrElse(s.id, Nil))))
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Duration of each span named `parent` minus its self time: the part
    * its children account for. */
  def childMs(parent: String): Seq[Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.filter(_.name == parent).map(s => Clock.ms(covered(s, kids.getOrElse(s.id, Nil))))
  }

  def durations(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => Clock.ms(s.endNs - s.startNs))

  def toJson: String = {
    val t0 = all.map(_.startNs).minOption.getOrElse(0L)
    all.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        f""""iter":${s.iter},"start_ms":${Clock.ms(s.startNs - t0)}%.3f,"end_ms":${Clock.ms(s.endNs - t0)}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Spark-layer counters from a listener the benchmark registers. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks, cpuNs, shuffleRead, shuffleWrite, spill = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** (start, end) epoch ms of finished jobs. */
  val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); jobStart.put(e.jobId, e.time) }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def snapshot(): Map[String, Long] = Map("jobs" -> jobs.get, "stages" -> stages.get,
    "tasks" -> tasks.get, "cpu_ns" -> cpuNs.get, "shuffle_read" -> shuffleRead.get,
    "shuffle_write" -> shuffleWrite.get, "spill" -> spill.get)
}

/** Every micro-batch progress of every streaming query in the session. */
final class ProgressLog extends StreamingQueryListener {
  val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = all.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def drainAll(): Seq[StreamingQueryProgress] = {
    val out = ArrayBuffer.empty[StreamingQueryProgress]
    var p = all.poll()
    while (p != null) { out += p; p = all.poll() }
    out.toSeq
  }
}

object Plans {
  final case class Bcast(collectMs: Long, buildMs: Long, bytes: Long)

  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def bcasts(p: SparkPlan): Seq[Bcast] = nodes(p).collect { case b: BroadcastExchangeExec =>
    def v(k: String) = b.metrics.get(k).map(_.value).getOrElse(0L)
    Bcast(v("collectTime"), v("buildTime"), v("dataSize"))
  }
}

object Layers {
  val names = Seq("bench", "http", "join", "stream", "spark", "mix")

  /** Per-operation self time of each layer over the traced operations
    * (span trees rooted at `root`), and the tracing overhead: traced minus
    * untraced operation medians. */
  def finish(env: Env, r: Report, root: String, traced: Seq[Double], untraced: Seq[Double]): Unit =
    if (env.trace) {
      val ops = math.max(1, env.tracer.all.count(s => s.name == root && s.parent == -1))
      val self = env.tracer.selfMsByLayer(root)
      names.foreach(l => r.put(s"self.${l}_ms", self.getOrElse(l, 0.0) / ops))
      r.put("trace.ops", ops)
      r.put("trace.traced_p50_ms", Stats.median(traced))
      r.put("trace.untraced_p50_ms", Stats.median(untraced))
      r.put("trace.overhead_ms", Stats.median(traced) - Stats.median(untraced))
      r.put("trace.children_ms", Stats.median(env.tracer.childMs(root)))
    }

  /** The highest percentile with at least ten samples beyond it, from a
    * fixed ladder; None when there are fewer than eleven samples. */
  def tailPct(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10)

  /** Operation count, tail percentile and tail latency. */
  def putTail(r: Report, lat: Seq[Double]): Unit = {
    r.put("op.count", lat.size)
    val p = tailPct(lat.size)
    r.put("op.tail_pct", p.getOrElse(0.0))
    r.put("op.tail_ms", p.map(q => Stats.quantile(lat, q / 100)).getOrElse(0.0))
  }

  /** Attaches a plan's broadcast collect and build times as join-layer
    * spans under the open span; returns the broadcasts. */
  def attachBcasts(env: Env, iter: Int, plan: org.apache.spark.sql.execution.SparkPlan): Seq[Plans.Bcast] = {
    val bs = Plans.bcasts(plan)
    var at = env.tracer.openStart
    bs.foreach { b =>
      Seq("bcast_collect" -> b.collectMs, "bcast_build" -> b.buildMs).foreach { case (n, ms) =>
        env.tracer.record(n, "join", iter, at, at + ms * 1000000L)
        at += ms * 1000000L
      }
    }
    bs
  }

  /** Broadcast-exchange metrics of executed plans (one Seq per query). */
  def putBcasts(r: Report, perQuery: Seq[Seq[Plans.Bcast]]): Unit = {
    val all = perQuery.flatten
    if (perQuery.nonEmpty) r.put("join.bcasts_per_query", all.size.toDouble / perQuery.size)
    if (all.nonEmpty) {
      r.put("join.bcast_collect_ms", Stats.median(all.map(_.collectMs.toDouble)))
      r.put("join.bcast_build_ms", Stats.median(all.map(_.buildMs.toDouble)))
      r.put("join.bcast_bytes", Stats.median(all.map(_.bytes.toDouble)))
    }
  }
}

/** What one run measured and checked. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer.empty[String]
  var spansJson: String = "[]"
  var table: String = ""

  def put(name: String, value: Double): Unit = metrics(name) = value
  /** One checked operation or invariant. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (problems.size < 50) problems += what }
  }
  def fail(what: String): Unit = check(ok = false, what)
}
