package org.apache.spark.sql.execution.exchange

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.joins.HashedRelation

import java.util.concurrent.TimeoutException
import scala.concurrent.ExecutionContextExecutorService

/** The Spark-internal pieces `graft.plans.FullCacheBroadcastExchangeExec`
  * shares with `BroadcastExchangeExec`, so both behave alike: the
  * broadcast thread pool, the relation's size, the serialized-only
  * broadcast write, and the row-limit, size-limit and timeout errors. */
object FullCacheBroadcastSupport {
  def executionContext: ExecutionContextExecutorService = BroadcastExchangeExec.executionContext

  /** The `dataSize` `BroadcastExchangeExec` reports for a built relation. */
  def relationSize(relation: Any): Long = relation match {
    case h: HashedRelation => h.estimatedSize
    case rows: Array[InternalRow] => rows.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
  }

  def broadcast(sc: SparkContext, relation: Any): Broadcast[Any] =
    sc.broadcastInternal(relation, serializedOnly = true)

  def tooManyRowsError(max: Long, rows: Long): Throwable =
    QueryExecutionErrors.cannotBroadcastTableOverMaxTableRowsError(max, rows)

  def tooManyBytesError(max: Long, bytes: Long): Throwable =
    QueryExecutionErrors.cannotBroadcastTableOverMaxTableBytesError(max, bytes)

  def timeoutError(seconds: Long, cause: TimeoutException): Throwable =
    QueryExecutionErrors.executeBroadcastTimeoutError(seconds, Some(cause))
}
