package graft.sources.http

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.InternalRow

import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 provider for the `http-full-cache` table: a bounded
  * relational snapshot materialized from a remote JSON document, served
  * from a TTL cache and designed to be the broadcast side of an
  * enrichment join (the reference's lookup-join pattern re-expressed
  * Spark-first; ref: HttpLookupTableSource.scala:36-54).
  *
  * Usage:
  * {{{
  * spark.read.format("http-full-cache")
  *   .schema("id INT, name STRING, username STRING, email STRING")
  *   .option("url", "http://host/users").option("xpath", "")
  *   .load()
  * }}}
  *
  * The schema is mandatory (the reference requires DDL-declared schemas;
  * no inference — ref: HttpLookupTableSourceFactory.scala:113).
  */
class HttpFullCacheProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "http-full-cache"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "http-full-cache requires an explicit schema (schema inference is not " +
        "supported, mirroring the reference connector's declared-DDL model)")

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = HttpOptions.parse(properties) // validates at table-resolution time
    new HttpTable(schema, opts)
  }
}

final class HttpTable(schema: StructType, opts: HttpOptions)
    extends Table with SupportsRead {
  override def name(): String = s"http-full-cache(${opts.url})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new HttpScanBuilder(schema, opts)
}

/** Projection pushdown: only the planner-required columns are deserialized
  * from the JSON payload (ref: HttpLookupTableSource.scala:30-34,70).
  * Filters are not pushed, as in the reference (ref:
  * HttpLookupTableSource.scala:25-26): the `Filter` Spark plans above the
  * scan applies every predicate, and a lookup join's build runs that same
  * `Filter` (see [[graft.plans.FullCacheBroadcastExchangeExec]]). */
final class HttpScanBuilder(fullSchema: StructType, opts: HttpOptions)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new HttpScan(required, opts)
}

/** Value equality over (read schema, options): `BatchScanExec`
  * compares scans through their `Batch`, so two plannings of the same read
  * (two micro-batches, two queries) canonicalize equal — the key under
  * which [[SnapshotCache.broadcast]] memoizes a lookup relation. A query's
  * filters are not in the scan: they are `Filter` nodes of the exchange's
  * chain, which the rest of that key holds. */
final class HttpScan(schema: StructType, val opts: HttpOptions)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def equals(other: Any): Boolean = other match {
    case o: HttpScan => o.readSchema() == schema && o.opts == opts
    case _ => false
  }
  override def hashCode(): Int = (schema, opts).hashCode()
  override def description(): String =
    s"http-full-cache url=${opts.url} xpath='${opts.xpath}' refresh=${opts.refreshInterval}"

  // Single input partition: the payload is one bounded snapshot, fetched
  // whole (ref: HttpInputFormatProvider.scala:80-81). Parallelism comes
  // from the probe side of the enrichment join, never from this scan.
  override def planInputPartitions(): Array[InputPartition] =
    Array(HttpInputPartition(opts, schema))
  override def createReaderFactory(): PartitionReaderFactory = HttpReaderFactory

  /** Native streaming read: each micro-batch re-emits the current snapshot,
    * mirroring the reference's unbounded lookup consumption
    * (ref: HttpLookupTableSource.scala:36-54) — the snapshot a batch sees
    * is whatever [[SnapshotCache]] holds, so actual HTTP fetches stay
    * TTL-dedup'd (≤1 per refresh interval per JVM) no matter the trigger
    * rate, and a post-TTL batch sees the refreshed payload. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new HttpMicroBatchStream(opts, schema)

  /** Reported so Catalyst auto-broadcasts the enrichment join even without
    * an explicit hint: actual payload bytes when this JVM has loaded the
    * snapshot, else a conservative estimate under the 10 MB auto-broadcast
    * default. The full-cache pattern presumes a broadcastable payload by
    * design (the reference holds it whole on every TaskManager heap), but a
    * genuinely oversized loaded payload now reports its real size and lets
    * Catalyst decline the broadcast. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(
      SnapshotCache.loadedBodyBytes(opts).getOrElse(8L * 1024 * 1024))
    // real row count once this JVM has parsed the snapshot (projection
    // never changes the count), unknown before first load
    override def numRows(): util.OptionalLong =
      SnapshotCache.loadedRowCount(opts)
        .map(util.OptionalLong.of).getOrElse(util.OptionalLong.empty())
  }
}

final case class HttpInputPartition(opts: HttpOptions, schema: StructType)
    extends InputPartition

/** Monotonic batch-counter offset: the stream is a clock, not a log — the
  * data of batch n is "the snapshot as of trigger n", so the offset only
  * needs to order triggers. */
final case class HttpStreamOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

final class HttpMicroBatchStream(opts: HttpOptions, schema: StructType)
    extends MicroBatchStream {
  private val counter = new java.util.concurrent.atomic.AtomicLong(0L)
  override def initialOffset(): Offset = HttpStreamOffset(0L)
  /** Advances once per trigger → every trigger runs a (snapshot) batch. */
  override def latestOffset(): Offset = HttpStreamOffset(counter.incrementAndGet())
  override def deserializeOffset(json: String): Offset = {
    val n = json.trim.toLong
    counter.updateAndGet(c => math.max(c, n)) // restart: resume past the checkpoint
    HttpStreamOffset(n)
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    if (start == end) Array.empty
    else Array(HttpInputPartition(opts, schema))
  override def createReaderFactory(): PartitionReaderFactory = HttpReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object HttpReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[HttpInputPartition]
    new HttpPartitionReader(p.opts, p.schema)
  }
}

/** Iterates the cached snapshot; the fetch (with retry) happens in
  * [[SnapshotCache.get]] iff the TTL has elapsed. Runs in a task; a
  * lookup-join broadcast of the snapshot does not run it, since
  * [[graft.plans.FullCacheBroadcastExchangeExec]] builds the relation on
  * the driver from the same rows. It emits every row of the snapshot;
  * the `Filter` above the scan drops the ones a query excludes. */
final class HttpPartitionReader(opts: HttpOptions, schema: StructType)
    extends PartitionReader[InternalRow] {
  private val rows = SnapshotCache.get(opts, schema)
  private var i = -1
  override def next(): Boolean = { i += 1; i < rows.length }
  override def get(): InternalRow = rows(i)
  override def close(): Unit = ()
}
