package graft.sources.http

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

import scala.collection.concurrent.TrieMap

/** JVM-global TTL-guarded snapshot cache: the Spark-native stand-in for the
  * reference's `FullCachingLookupProvider` + `PeriodicCacheReloadTrigger`
  * (ref: HttpLookupTableSource.scala:36-54).
  *
  * Spark has no per-source timer thread; instead every scan consults the
  * cache and re-fetches only when the TTL (= `cache.refresh-interval`) has
  * elapsed since the *completion* of the previous load — Flink's
  * FIXED_DELAY schedule. The unit cached is the fetched payload *body*,
  * keyed by (url, xpath): queries that prune to different column sets share
  * one snapshot (and one HTTP call), with per-schema row deserialization
  * memoized on top. This preserves the two observable invariants:
  *  - at most one HTTP fetch per interval per JVM, no matter how many
  *    actions/projections/probe rows hit the table (exactly-one-call
  *    assertions, ref: HttpLookupConnectorIntegrationTest.scala:207-212);
  *  - staleness bounded by the interval: the first scan after expiry sees
  *    the new payload (ref: :428-543).
  *
  * A failed refresh (after the reader's retries) propagates and fails the
  * query — no stale-serving fallback, matching reference semantics
  * (ref: :546-672). In local mode there is one JVM; on a cluster the
  * driver-side broadcast fetch uses the driver's cache and each executor
  * that scans directly has its own — the per-interval fetch bound holds
  * per JVM, which is the same guarantee Flink gives per TaskManager.
  */
object SnapshotCache extends Logging {

  /** `bodyBytes` is the body's UTF-8 length for the scan statistics:
    * encoded once per loaded body, on the first statistics call, so a
    * scan whose plan never asks for statistics pays nothing. */
  private final class Entry(val body: String, val loadedAtNanos: Long) {
    lazy val bodyBytes: Long = body.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
    val rowsBySchema = TrieMap.empty[String, Array[InternalRow]]
  }

  private val entries = TrieMap.empty[String, Entry]
  private val locks = TrieMap.empty[String, Object]

  /** Total HTTP loads performed by this JVM (observability + tests).
    * Atomic: loads of different keys run under different locks. */
  private val loads = new java.util.concurrent.atomic.AtomicLong
  def loadCount: Long = loads.get()

  /** Entries are per (url, xpath) and per refresh interval. */
  private def keyOf(opts: HttpOptions): String =
    s"${opts.cacheKey}|${opts.refreshInterval.toMillis}"

  def get(opts: HttpOptions, schema: StructType): Array[InternalRow] = {
    val key = keyOf(opts)
    val lock = locks.getOrElseUpdate(key, new Object)
    lock.synchronized {
      val ttlNanos = opts.refreshInterval.toNanos
      val entry = entries.get(key) match {
        case Some(e) if System.nanoTime() - e.loadedAtNanos < ttlNanos => e
        case stale =>
          if (stale.isDefined) logInfo(s"Cache expired for ${opts.url}; reloading")
          val body = HttpFetcher.fetchBody(opts) // failure propagates: no stale-serving
          val e = new Entry(body, System.nanoTime())
          entries.put(key, e)
          loads.incrementAndGet()
          e
      }
      // Deserialization is narrowed to the pruned schema (projection
      // pushdown) but never triggers another fetch.
      entry.rowsBySchema.getOrElseUpdate(schema.catalogString,
        HttpFetcher.parseRows(entry.body, opts, schema))
    }
  }

  /** Bytes of the cached payload body for `opts`, if this JVM has loaded
    * it (feeds the scan's statistics estimate so Catalyst's broadcast
    * decision can see the real size once known). */
  def loadedBodyBytes(opts: HttpOptions): Option[Long] =
    entries.get(keyOf(opts)).map(_.bodyBytes)

  /** Row count of the cached payload for `opts`, if this JVM has parsed
    * it under any schema (projection changes the columns, never the row
    * count) — feeds the scan's numRows statistic. */
  def loadedRowCount(opts: HttpOptions): Option[Long] =
    entries.get(keyOf(opts)).flatMap(_.rowsBySchema.values.headOption.map(_.size.toLong))

  /** Drop all cached snapshots (tests / forced refresh). Lock objects are
    * deliberately kept: clearing them would let a thread inside [[get]]
    * (holding the old lock) race a new caller (holding a fresh one) into
    * two simultaneous fetches for the same key. */
  def invalidateAll(): Unit = entries.clear()
}
