package graft.enrich

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.broadcast

/** Enrichment-join sugar: the Spark-native equivalent of the reference's
  * `JOIN t FOR SYSTEM_TIME AS OF s.proc_time ON keys` lookup join
  * (ref: README.md:57-64, HttpLookupConnectorTest.scala:56-68).
  *
  * The cached HTTP table is the build side: one fetch (TTL-guarded by
  * [[graft.sources.http.SnapshotCache]]), hash relation broadcast to
  * executors, per-row in-memory probe — `BroadcastHashJoinExec`, the same
  * execution shape as Flink's full-cache lookup operator.
  *
  * Works identically for a streaming probe: a stream-static join re-plans
  * the static side every micro-batch, and the TTL cache decides whether
  * that re-plan re-fetches (refresh semantics, SURVEY.md §7.3). The
  * broadcast relation is reused across queries and micro-batches, but
  * keyed by snapshot load ([[graft.plans.FullCacheBroadcastExchangeExec]]):
  * a batch within the interval reuses it, the first batch after expiry
  * builds a new one from the new payload. So no caching on the caller's
  * side is needed — and `lookup` should stay the raw source frame, since
  * persisting it would pin one snapshot past its refresh.
  */
object Enrich {

  /** Left/inner lookup join on an arbitrary equi-condition. */
  def lookupJoin(probe: DataFrame, lookup: DataFrame, condition: Column,
                 joinType: String = "left"): DataFrame =
    probe.join(broadcast(lookup), condition, joinType)

  /** Lookup join on same-named key columns. */
  def lookupJoin(probe: DataFrame, lookup: DataFrame, usingKeys: Seq[String],
                 joinType: String): DataFrame =
    probe.join(broadcast(lookup), usingKeys, joinType)
}
