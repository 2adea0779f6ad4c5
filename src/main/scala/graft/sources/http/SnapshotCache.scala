package graft.sources.http

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
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
  * Like the reference's full cache, which is built once per reload and
  * then serves every lookup, a load also memoizes the broadcast lookup
  * relations built from it ([[broadcast]], used by
  * [[graft.plans.FullCacheBroadcastExchangeExec]]): a query or micro-batch
  * that runs within the interval reuses the relation instead of
  * re-collecting and re-hashing the unchanged snapshot. Reuse is keyed by
  * load — a reload replaces the entry together with its relations — so it
  * can never pin a stale snapshot.
  *
  * A load fetches and decodes under the key's lock, so concurrent first
  * touches still make one fetch; the decode and the relation build
  * themselves run on every core ([[HttpFetcher.parseRows]] cuts the
  * selected array into chunks, the build cuts the rows into slices, and
  * both run on the `http-full-cache-decode-N` threads), so a reload holds
  * the lock, and the micro-batch that found the TTL expired, for less
  * time. Under a local master a relation's broadcast is the relation
  * itself, which tasks in this JVM read without a serialized copy; on any
  * other master it is a `TorrentBroadcast`.
  *
  * A failed refresh (after the reader's retries) propagates and fails the
  * query — no stale-serving fallback, matching reference semantics
  * (ref: :546-672). In local mode there is one JVM; on a cluster the
  * driver-side broadcast fetch uses the driver's cache and each executor
  * that scans directly has its own — the per-interval fetch bound holds
  * per JVM, which is the same guarantee Flink gives per TaskManager.
  */
object SnapshotCache extends Logging {

  /** One lookup relation built from one load, with the row count and size
    * the planner reads back once the broadcast has run. */
  final case class Relation(broadcast: Broadcast[Any], numRows: Long, dataSize: Long)

  /** Relations held per load; the least recently used one beyond this is
    * dropped, and on a cluster unpersisted from the executors (the driver
    * keeps its copy until `ContextCleaner` frees it, so a query still
    * reading it re-fetches; under a local master the query's own
    * reference keeps the relation alive). */
  val MaxRelationsPerLoad = 8

  private type RelationKey = (SparkContext, AnyRef)

  /** `bodyBytes` is the body's UTF-8 length for the scan statistics:
    * counted once per loaded body, on the first statistics call, so a
    * scan whose plan never asks for statistics pays nothing. `relations`
    * is touched only under the key's lock, in access order (LRU). */
  private final class Entry(val body: String, val loadedAtNanos: Long) {
    lazy val bodyBytes: Long = utf8Length(body)
    val rowsBySchema = TrieMap.empty[String, Array[InternalRow]]
    val relations = new java.util.LinkedHashMap[RelationKey, Relation](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[RelationKey, Relation]): Boolean = {
        val evict = size() > MaxRelationsPerLoad
        if (evict && !e.getKey._1.isStopped) e.getValue.broadcast.unpersist(false)
        evict
      }
    }
  }

  /** `s.getBytes(UTF_8).length` without encoding: a surrogate pair
    * counts 4 bytes, a lone surrogate 1 (the encoder's `?`). */
  private[http] def utf8Length(s: String): Long = {
    var bytes = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      bytes +=
        (if (c < 0x80) 1
         else if (c < 0x800) 2
         else if (!Character.isSurrogate(c)) 3
         else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
                  Character.isLowSurrogate(s.charAt(i + 1))) { i += 1; 4 }
         else 1)
      i += 1
    }
    bytes
  }

  private val entries = TrieMap.empty[String, Entry]
  private val locks = TrieMap.empty[String, Object]

  /** Total HTTP loads performed by this JVM (observability + tests).
    * Atomic: loads of different keys run under different locks. */
  private val loads = new java.util.concurrent.atomic.AtomicLong
  def loadCount: Long = loads.get()

  /** Total lookup relations built by [[broadcast]] in this JVM. */
  private val builds = new java.util.concurrent.atomic.AtomicLong
  def relationBuilds: Long = builds.get()

  /** Entries are per (url, xpath) and per refresh interval. */
  private def keyOf(opts: HttpOptions): String =
    s"${opts.cacheKey}|${opts.refreshInterval.toMillis}"

  /** Runs `f` on the entry for `opts` under the key's lock, loading it
    * first when there is none or its TTL has elapsed. */
  private def withEntry[T](opts: HttpOptions)(f: Entry => T): T = {
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
      f(entry)
    }
  }

  // Deserialization is narrowed to the pruned schema (projection pushdown)
  // but never triggers another fetch.
  private def rowsOf(entry: Entry, opts: HttpOptions, schema: StructType): Array[InternalRow] =
    entry.rowsBySchema.getOrElseUpdate(schema.catalogString,
      HttpFetcher.parseRows(entry.body, opts, schema))

  def get(opts: HttpOptions, schema: StructType): Array[InternalRow] =
    withEntry(opts)(rowsOf(_, opts, schema))

  /** The lookup relation `key` names, built at most once per load: the
    * same TTL check and load as [[get]], then the relation this load
    * already holds for `key`, or `build` over this load's rows for
    * `schema` — rows from this very call, so a build never reads the cache
    * twice. `key` pairs the SparkContext the broadcast lives in with
    * everything the relation depends on (the canonical exchange). A
    * reload replaces the entry and its relations with it; a relation of a
    * stopped SparkContext is dropped, never returned. */
  def broadcast(opts: HttpOptions, schema: StructType, key: (SparkContext, AnyRef))(
      build: Array[InternalRow] => Relation): Relation =
    withEntry(opts) { e =>
      e.relations.keySet.removeIf(_._1.isStopped)
      Option(e.relations.get(key)).getOrElse {
        val r = build(rowsOf(e, opts, schema))
        builds.incrementAndGet()
        e.relations.put(key, r)
        r
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

  /** Drop all cached snapshots and the relations built from them (tests /
    * forced refresh). Lock objects are deliberately kept: clearing them
    * would let a thread inside [[get]] (holding the old lock) race a new
    * caller (holding a fresh one) into two simultaneous fetches for the
    * same key. */
  def invalidateAll(): Unit = entries.clear()
}
