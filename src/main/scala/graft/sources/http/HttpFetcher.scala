package graft.sources.http

import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.util.Parallel
import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.{HttpURLConnection, URI}
import java.time.Duration
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import scala.concurrent.ExecutionContext
import scala.util.{Failure, Success}

/** One full-snapshot load: GET with bounded retry → JSON tree → RFC 6901
  * pointer extraction → array fan-out → rows against the (pruned) schema.
  *
  * Behavioral parity with the reference scan
  * (ref: HttpInputFormatProvider.scala:83-172):
  *  - non-200 → RuntimeException "HTTP request failed with status N. ..."
  *    which triggers a retry; exhaustion → RuntimeException
  *    "Failed to fetch data from <url> after <n> retries" with last cause;
  *  - unparseable body → "Failed to parse JSON response";
  *  - pointer is Jackson `.at()` RFC 6901 ("" = whole document, JsonPath
  *    `$.a.b` syntax deliberately NOT supported); missing node → error;
  *  - array node → one row per element; non-array → exactly one row.
  *
  * A selected array decodes on every core: [[JsonSplit]] cuts it into at
  * most one chunk per core of at least [[MinChunkChars]] characters, and
  * each chunk is parsed by one Jackson parser and converted into its slice
  * of the rows on the `http-full-cache-decode-N` daemon threads. The rest
  * of the body, with the array's text replaced by `[]`, is parsed on the
  * calling thread, and the pointer is resolved in it. Rows keep the
  * array's order, and errors are those of one pass over the body: a syntax
  * error anywhere fails with "Failed to parse JSON response" before any
  * conversion error does, and of those the lowest element's is raised. A
  * body that does not split (no array, a short one, a pointer the scan
  * cannot resolve) is the one-chunk case: one tree, converted in order.
  */
object HttpFetcher extends Logging {

  /** HTTP GET with retry; the single network side-effect per cache load. */
  def fetchBody(opts: HttpOptions): String = {
    val client = HttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(opts.connectTimeoutSeconds))
      .followRedirects(HttpClient.Redirect.NORMAL)
      .build()
    fetchWithRetry(client, opts)
  }

  /** Shared by every parse: a mapper is thread-safe once configured, and
    * this one never is. */
  private val mapper = new ObjectMapper()

  /** Smallest share of the selected array, in characters, worth a chunk
    * of its own. */
  private[http] val MinChunkChars: Int = 1 << 20

  /** The `http-full-cache-decode-N` daemon threads, one per core: the
    * decode's chunks run here, and so do the slices of a lookup relation's
    * build ([[graft.plans.FullCacheBroadcastExchangeExec]]). */
  private[graft] lazy val pool: ExecutionContext = {
    val cores = Runtime.getRuntime.availableProcessors
    val named = new AtomicInteger
    val exec = new ThreadPoolExecutor(cores, cores, 30, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), { (r: Runnable) =>
        val t = new Thread(r, s"http-full-cache-decode-${named.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    exec.allowCoreThreadTimeOut(true)
    ExecutionContext.fromExecutorService(exec)
  }

  /** Pointer-extract + fan-out + deserialize a fetched body against the
    * (possibly pruned) schema. Pure; no I/O. */
  def parseRows(body: String, opts: HttpOptions, schema: StructType): Array[InternalRow] =
    parseRows(body, opts, schema, Runtime.getRuntime.availableProcessors, MinChunkChars)

  private[http] def parseRows(body: String, opts: HttpOptions, schema: StructType,
      maxChunks: Int, minChunkChars: Int): Array[InternalRow] =
    JsonSplit.find(body, opts.xpath, maxChunks, minChunkChars,
        mapper.getFactory.streamReadConstraints.getMaxNestingDepth)
      .flatMap(parseChunks(body, opts.xpath, schema, _))
      .getOrElse(parseWhole(body, opts.xpath, schema))

  /** The one-chunk case: one tree for the whole body. */
  private def parseWhole(body: String, xpath: String, schema: StructType): Array[InternalRow] = {
    val selected = select(body, xpath)
    if (selected.isMissingNode)
      throw new RuntimeException(s"JSON Pointer '$xpath' did not match any node in the response")
    if (selected.isArray) {
      val out = new Array[InternalRow](selected.size())
      var i = 0
      val it = selected.elements()
      while (it.hasNext) { out(i) = JsonRows.toRow(it.next(), schema); i += 1 }
      out
    } else Array(JsonRows.toRow(selected, schema))
  }

  /** The chunks of `split` on the pool, the skeleton on this thread; None
    * when Jackson resolves the pointer elsewhere than the scan did. */
  private def parseChunks(body: String, xpath: String, schema: StructType,
      split: Split): Option[Array[InternalRow]] = {
    val rows = new Array[InternalRow](split.rows)
    var selected: JsonNode = null
    val outcomes = Parallel.settle[Option[Exception]](
      (() => { selected = select(split.skeleton(body), xpath); None }) +:
        (0 until split.chunks).map(k => () => parseChunk(body, split, k, schema, rows)))(pool)
    outcomes.collectFirst { case Failure(e) => throw e }
    if (selected.isArray && selected.isEmpty) {
      outcomes.collectFirst { case Success(Some(e)) => throw e }
      Some(rows)
    } else {
      logWarning(s"JSON Pointer '$xpath' resolved apart from the scanned array; decoding whole")
      None
    }
  }

  /** Parses chunk `k` into its rows. A syntax error throws; the first
    * conversion error is returned instead, once the chunk has parsed to
    * its end. */
  private def parseChunk(body: String, split: Split, k: Int, schema: StructType,
      rows: Array[InternalRow]): Option[Exception] = {
    var row = split.firsts(k)
    val end = split.firsts(k + 1)
    var bad: Exception = null
    parsing {
      val p = mapper.getFactory.createParser(split.reader(body, k))
      try {
        var t = p.nextToken() // the chunk's opening bracket
        while ({ t = p.nextToken(); t != null && t != JsonToken.END_ARRAY }) {
          val node: JsonNode = mapper.readTree(p)
          if (bad == null && row < end)
            try rows(row) = JsonRows.toRow(node, schema)
            catch { case e: Exception => bad = e }
          row += 1
        }
        if (t == null || p.nextToken() != null || row != end)
          throw new IllegalStateException(
            s"chunk $k of the array holds ${row - split.firsts(k)} elements, not ${end - split.firsts(k)}")
      } finally p.close()
    }
    Option(bad)
  }

  private def select(text: String, xpath: String): JsonNode = {
    val tree = parsing(mapper.readTree(text))
    if (xpath.isEmpty) tree else tree.at(xpath)
  }

  private def parsing[T](body: => T): T =
    try body
    catch { case e: Exception => throw new RuntimeException("Failed to parse JSON response", e) }

  private def fetchWithRetry(client: HttpClient, opts: HttpOptions): String = {
    var lastError: Exception = null
    var attempt = 0
    while (attempt <= opts.maxRetries) {
      try {
        val request = HttpRequest.newBuilder()
          .uri(URI.create(opts.url))
          .timeout(Duration.ofSeconds(opts.readTimeoutSeconds))
          .GET() // `method` option is accepted but GET-only, like the reference
          .build()
        val response = client.send(request, HttpResponse.BodyHandlers.ofString())
        if (response.statusCode() == HttpURLConnection.HTTP_OK) return response.body()
        throw new RuntimeException(
          s"HTTP request failed with status ${response.statusCode()}. Response body: ${response.body()}")
      } catch {
        case e: Exception =>
          lastError = e
          attempt += 1
          if (attempt <= opts.maxRetries) {
            logWarning(s"Attempt $attempt failed to fetch data from ${opts.url}. " +
              s"Retrying in ${opts.retryDelayMs}ms...", e)
            Thread.sleep(opts.retryDelayMs)
          }
      }
    }
    throw new RuntimeException(
      s"Failed to fetch data from ${opts.url} after ${opts.maxRetries} retries", lastError)
  }
}
