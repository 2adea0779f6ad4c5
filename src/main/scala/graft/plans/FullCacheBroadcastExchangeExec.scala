package graft.plans

import graft.sources.http.{HttpFetcher, HttpScan, SnapshotCache}
import graft.util.Parallel
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, PlanExpression, Predicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastMode, BroadcastPartitioning, IdentityBroadcastMode, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, InputAdapter, ProjectExec, SQLExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, BroadcastExchangeLike, FullCacheBroadcastSupport}
import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.map.BytesToBytesMap

import java.util.concurrent.{TimeUnit, TimeoutException}
import scala.concurrent.Promise

/** Physical rule: a broadcast whose side is only an http-full-cache
  * snapshot (see [[FullCacheBroadcastExchangeExec.snapshotChain]]) becomes
  * a [[FullCacheBroadcastExchangeExec]]; every other exchange is left as
  * it is, the `readStream` source's `MicroBatchScanExec` included.
  *
  * Injected through [[graft.extensions.GraftExtensions]] twice, because no
  * single hook sees the exchange in every plan: as a query-stage prep rule
  * for adaptive plans (batch queries, and stateless streaming
  * micro-batches), and before the columnar transitions (where
  * `EnsureRequirements` has already added the exchange and
  * `CollapseCodegenStages` has not yet run) for non-adaptive plans — among
  * them the micro-batches of stateful streaming queries, which run with
  * AQE off.
  */
object FullCacheBroadcasts extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case BroadcastExchangeExec(mode, child) if builtOnDriver(mode) &&
        FullCacheBroadcastExchangeExec.snapshotChain(child).isDefined =>
      FullCacheBroadcastExchangeExec(mode, child)
  }

  /** The modes whose relation the exchange knows how to size. */
  private def builtOnDriver(mode: BroadcastMode): Boolean = mode match {
    case _: HashedRelationBroadcastMode | IdentityBroadcastMode => true
    case _ => false
  }

  val columnar: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = FullCacheBroadcasts
  }
}

/** The broadcast of an http-full-cache lookup side, built once per
  * snapshot load instead of once per query or micro-batch — the reference
  * builds its full cache once per reload and serves every lookup from it
  * (ref: HttpLookupTableSource.scala:36-54).
  *
  * Each execution asks [[SnapshotCache.broadcast]] for the relation. That
  * call runs the TTL check and load exactly as a scan would (so at most
  * one fetch per interval, staleness bounded by the interval), then
  * returns the relation already built from this load, or builds it here
  * on the driver from this load's rows: the chain's filters and
  * projections, the only place its predicates run, on every core in
  * row-order slices, then the mode's relation and one
  * broadcast. Under a local master the broadcast hands tasks the relation
  * itself; on any other master it is Spark's serialized `TorrentBroadcast`
  * (see `FullCacheBroadcastSupport.broadcast`). There is no collect job
  * and the scan below never runs. The memo key is the SparkContext plus this
  * node's canonical form: the mode (build keys, null-awareness), every
  * filter and projection, and the scan — whose `HttpScan` compares by
  * pruned schema and options.
  *
  * Row and size limits, `spark.sql.broadcastTimeout` and the SQL metrics
  * follow `BroadcastExchangeExec`; a reused relation reports its row count
  * and size again, since AQE reads them back as the stage's statistics.
  */
case class FullCacheBroadcastExchangeExec(mode: BroadcastMode, child: SparkPlan)
    extends BroadcastExchangeLike {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "dataSize" -> SQLMetrics.createSizeMetric(sparkContext, "data size"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "buildTime" -> SQLMetrics.createTimingMetric(sparkContext, "time to build"),
    "broadcastTime" -> SQLMetrics.createTimingMetric(sparkContext, "time to broadcast"))

  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)

  override def doCanonicalize(): SparkPlan =
    FullCacheBroadcastExchangeExec(mode.canonicalized, child.canonicalized)

  override def runtimeStatistics: Statistics = Statistics(
    sizeInBytes = metrics("dataSize").value, rowCount = Some(metrics("numOutputRows").value))

  @transient private val timeout: Long = conf.broadcastTimeout

  @transient private lazy val promise = Promise[Broadcast[Any]]()

  @transient override lazy val completionFuture: scala.concurrent.Future[Broadcast[Any]] =
    promise.future

  @transient override lazy val relationFuture: java.util.concurrent.Future[Broadcast[Any]] =
    SQLExecution.withThreadLocalCaptured[Broadcast[Any]](
        session, FullCacheBroadcastSupport.executionContext) {
      try {
        val relation = SnapshotCache.broadcast(scan.opts, scan.readSchema(),
          (sparkContext, canonicalized))(build)
        longMetric("numOutputRows") += relation.numRows
        longMetric("dataSize") += relation.dataSize
        SQLMetrics.postDriverMetricUpdates(sparkContext,
          sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
        promise.trySuccess(relation.broadcast)
        relation.broadcast
      } catch {
        case e: Throwable =>
          promise.tryFailure(e)
          throw e
      }
    }

  /** This exchange's chain, top first, and the http scan at its foot. */
  @transient private lazy val chain: List[SparkPlan] =
    FullCacheBroadcastExchangeExec.snapshotChain(child).get

  @transient private lazy val scan: HttpScan =
    chain.last.asInstanceOf[BatchScanExec].scan.asInstanceOf[HttpScan]

  private def build(rows: Array[InternalRow]): SnapshotCache.Relation =
    build(rows, Runtime.getRuntime.availableProcessors, FullCacheBroadcastExchangeExec.MinSliceRows)

  /** The relation over one load's rows, under `BroadcastExchangeExec`'s
    * limits, with the chain evaluated in at most `maxSlices` slices of at
    * least `minSliceRows` rows (see [[FullCacheBroadcastExchangeExec.evaluate]]). */
  private[plans] def build(rows: Array[InternalRow], maxSlices: Int,
      minSliceRows: Int): SnapshotCache.Relation = {
    val beforeBuild = System.nanoTime()
    val out = FullCacheBroadcastExchangeExec.evaluate(chain, rows, maxSlices, minSliceRows)
    val numRows = out.length.toLong
    if (numRows >= maxBroadcastRows)
      throw FullCacheBroadcastSupport.tooManyRowsError(maxBroadcastRows, numRows)
    val relation = mode.transform(out.iterator, Some(numRows))
    val dataSize = FullCacheBroadcastSupport.relationSize(relation)
    val maxBytes = conf.maxBroadcastTableSizeInBytes
    if (dataSize >= maxBytes) throw FullCacheBroadcastSupport.tooManyBytesError(maxBytes, dataSize)
    val beforeBroadcast = System.nanoTime()
    longMetric("buildTime") += TimeUnit.NANOSECONDS.toMillis(beforeBroadcast - beforeBuild)
    val broadcast = FullCacheBroadcastSupport.broadcast(sparkContext, relation)
    longMetric("broadcastTime") += TimeUnit.NANOSECONDS.toMillis(System.nanoTime() - beforeBroadcast)
    SnapshotCache.Relation(broadcast, numRows, dataSize)
  }

  /** `BroadcastExchangeExec`'s: a LongHashedRelation holds up to 512M
    * rows, an UnsafeHashedRelation 70% of `BytesToBytesMap`'s capacity. */
  @transient private lazy val maxBroadcastRows: Long = mode match {
    case HashedRelationBroadcastMode(keys, _) if !(keys.length == 1 && keys.head.dataType == LongType) =>
      (BytesToBytesMap.MAX_CAPACITY / 1.5).toLong
    case _ => 512000000L
  }

  override protected def doPrepare(): Unit = relationFuture

  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException(s"$nodeName does not support the execute() code path")

  override def doExecuteBroadcast[T](): Broadcast[T] =
    try relationFuture.get(timeout, TimeUnit.SECONDS).asInstanceOf[Broadcast[T]]
    catch {
      case e: TimeoutException =>
        if (!relationFuture.isDone) relationFuture.cancel(true)
        throw FullCacheBroadcastSupport.timeoutError(timeout, e)
    }

  override protected def withNewChildInternal(newChild: SparkPlan): FullCacheBroadcastExchangeExec =
    copy(child = newChild)
}

object FullCacheBroadcastExchangeExec {

  /** `plan`'s nodes, top first, when `plan` is a chain of deterministic,
    * subquery-free projections and filters over exactly one
    * http-full-cache batch scan; None for anything else. Code-generation
    * wrappers (AQE collapses a stage's codegen before running it) are
    * looked through and left out. */
  def snapshotChain(plan: SparkPlan): Option[List[SparkPlan]] = plan match {
    case s: BatchScanExec if s.scan.isInstanceOf[HttpScan] && s.runtimeFilters.isEmpty =>
      Some(List(s))
    case w: WholeStageCodegenExec => snapshotChain(w.child)
    case i: InputAdapter => snapshotChain(i.child)
    case p @ ProjectExec(list, c) if list.forall(pure) => snapshotChain(c).map(p :: _)
    case f @ FilterExec(cond, c) if pure(cond) => snapshotChain(c).map(f :: _)
    case _ => None
  }

  private def pure(e: Expression): Boolean =
    e.deterministic && !e.exists(_.isInstanceOf[PlanExpression[_]])

  /** Fewest rows worth a slice of the build of their own. */
  private[plans] val MinSliceRows: Int = 1 << 14

  /** The chain's output over the scan's rows, evaluated on the driver with
    * the same (codegen'd, else interpreted) predicates and projections its
    * nodes use, as copied `UnsafeRow`s — what collecting it would return.
    *
    * The rows are cut into at most `maxSlices` contiguous slices of at
    * least `minSliceRows` rows. Each slice runs the chain — its filters are
    * the only ones the build applies — through codegen'd instances of its
    * own (they are not thread-safe), the first on the calling thread and
    * the rest on the snapshot decode pool; the slices are then joined in
    * row order, which an `IdentityBroadcastMode` relation keeps. Errors are those of
    * one pass: every slice finishes, then the lowest slice's is raised. */
  private def evaluate(chain: List[SparkPlan], rows: Array[InternalRow],
      maxSlices: Int, minSliceRows: Int): Array[InternalRow] = {
    val n = rows.length.toLong
    val slices = math.max(1L, math.min(maxSlices.toLong, n / minSliceRows)).toInt
    def slice(k: Int): Array[InternalRow] =
      if (slices == 1) rows else rows.slice((n * k / slices).toInt, (n * (k + 1) / slices).toInt)
    val parts = Parallel.all((0 until slices).map(k => () => evaluateSlice(chain, slice(k))): _*)(
      HttpFetcher.pool)
    if (slices == 1) parts.head else Array.concat(parts: _*)
  }

  private def evaluateSlice(chain: List[SparkPlan], rows: Array[InternalRow]): Array[InternalRow] = {
    var it: Iterator[InternalRow] = rows.iterator
    var unsafe = false
    chain.reverseIterator.foreach {
      case p: ProjectExec =>
        val project = UnsafeProjection.create(p.projectList, p.child.output)
        project.initialize(0)
        it = it.map(project)
        unsafe = true
      case f: FilterExec =>
        val predicate = Predicate.create(f.condition, f.child.output)
        predicate.initialize(0)
        it = it.filter(predicate.eval)
      case _ => // the scan: `rows` are its output
    }
    if (!unsafe) it = it.map(UnsafeProjection.create(chain.head.output, chain.head.output))
    it.map(_.copy()).toArray
  }
}
