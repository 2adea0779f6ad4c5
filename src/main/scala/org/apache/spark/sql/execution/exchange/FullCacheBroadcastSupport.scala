package org.apache.spark.sql.execution.exchange

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.joins.HashedRelation

import java.lang.ref.WeakReference
import java.util.concurrent.{ConcurrentHashMap, TimeoutException}
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.ExecutionContextExecutorService

/** The Spark-internal pieces `graft.plans.FullCacheBroadcastExchangeExec`
  * shares with `BroadcastExchangeExec`, so both behave alike: the
  * broadcast thread pool, the relation's size, the broadcast write, and
  * the row-limit, size-limit and timeout errors. */
object FullCacheBroadcastSupport {
  def executionContext: ExecutionContextExecutorService = BroadcastExchangeExec.executionContext

  /** The `dataSize` `BroadcastExchangeExec` reports for a built relation. */
  def relationSize(relation: Any): Long = relation match {
    case h: HashedRelation => h.estimatedSize
    case rows: Array[InternalRow] => rows.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
  }

  /** The relation as a broadcast. A local master's tasks run in this JVM
    * and get the relation itself ([[LocalBroadcast]]); any other master,
    * `local-cluster` included, gets Spark's serialized-only broadcast, the
    * one form an executor in another JVM can read. */
  def broadcast(sc: SparkContext, relation: Any): Broadcast[Any] =
    if (sc.isLocal) LocalBroadcast(relation)
    else sc.broadcastInternal(relation, serializedOnly = true)

  def tooManyRowsError(max: Long, rows: Long): Throwable =
    QueryExecutionErrors.cannotBroadcastTableOverMaxTableRowsError(max, rows)

  def tooManyBytesError(max: Long, bytes: Long): Throwable =
    QueryExecutionErrors.cannotBroadcastTableOverMaxTableBytesError(max, bytes)

  def timeoutError(seconds: Long, cause: TimeoutException): Throwable =
    QueryExecutionErrors.executeBroadcastTimeoutError(seconds, Some(cause))
}

/** A broadcast that hands tasks the driver's own value, for a local master,
  * whose tasks run in the driver's JVM. `TorrentBroadcast` keeps the value
  * for such readers too, but first serializes, compresses and checksums it
  * into pieces that no reader there ever fetches.
  *
  * Serialized, it is its id alone: deserializing resolves the id in a
  * JVM-wide registry of weak references to the live instances, so the
  * registry keeps nothing alive that its holders have dropped, and an id
  * read in another JVM fails loudly. Ids are negative, apart from Spark's.
  * Unpersisting has nothing to drop; destroying drops the value and the
  * registry entry.
  */
final class LocalBroadcast private (id: Long, @transient @volatile private var relation: Any)
    extends Broadcast[Any](id) {

  override protected def getValue(): Any = relation

  override protected def doUnpersist(blocking: Boolean): Unit = ()

  override protected def doDestroy(blocking: Boolean): Unit = {
    relation = null
    LocalBroadcast.registry.remove(id)
  }

  private def writeReplace(): AnyRef = new LocalBroadcast.Handle(id)
}

object LocalBroadcast {

  private val registry = new ConcurrentHashMap[Long, WeakReference[LocalBroadcast]]
  private val lastId = new AtomicLong

  def apply(relation: Any): LocalBroadcast = {
    registry.values.removeIf(_.get == null)
    val b = new LocalBroadcast(lastId.decrementAndGet(), relation)
    registry.put(b.id, new WeakReference(b))
    b
  }

  /** The live instance with this id. */
  def resolve(id: Long): LocalBroadcast =
    Option(registry.get(id)).flatMap(r => Option(r.get)).getOrElse(
      throw new IllegalStateException(s"Local broadcast $id is not live in this JVM: it was " +
        "destroyed or dropped, or is read outside the driver; a local master is required"))

  /** The serialized form: the id. */
  private final class Handle(id: Long) extends Serializable {
    private def readResolve(): AnyRef = resolve(id)
  }
}
