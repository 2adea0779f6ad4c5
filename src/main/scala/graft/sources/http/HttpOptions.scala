package graft.sources.http

import java.time.Duration
import scala.jdk.CollectionConverters._

/** Parsed + validated options of the `http-full-cache` source.
  *
  * Option surface and defaults mirror the reference connector
  * (ref: HttpLookupTableSourceFactory.scala:27-56), with two deliberate
  * deviations documented in SURVEY.md §2 faithfulness notes:
  *  - `xpath` defaults to "" (in the reference it is de-facto required
  *    because a missing value crashes, note 3);
  *  - `method` is accepted and validated but GET-only, matching the
  *    reference's actual behavior where the option is dead config (note 1).
  */
final case class HttpOptions(
    url: String,
    xpath: String,
    refreshInterval: Duration,
    method: String,
    connectTimeoutSeconds: Int,
    readTimeoutSeconds: Int,
    maxRetries: Int,
    retryDelayMs: Long) {
  def cacheKey: String = s"$url|$xpath"
}

object HttpOptions {
  val Url = "url"
  val Xpath = "xpath"
  val CacheRefreshInterval = "cache.refresh-interval"
  val Method = "method"
  val ConnectTimeoutSeconds = "connect.timeout.seconds"
  val ReadTimeoutSeconds = "read.timeout.seconds"
  val MaxRetries = "max.retries"
  val RetryDelayMs = "retry.delay.ms"

  val knownKeys: Set[String] = Set(Url, Xpath, CacheRefreshInterval, Method,
    ConnectTimeoutSeconds, ReadTimeoutSeconds, MaxRetries, RetryDelayMs)

  /** Keys Spark's session catalog adds around user options when the table
    * is created via SQL DDL (CREATE TABLE ... USING http-full-cache):
    * reserved table properties plus `option.<key>` duplicates of each
    * OPTIONS entry. They are envelope, not user input — tolerated here so
    * the same strict validation serves both the DataFrame and SQL paths. */
  private def catalogEnvelope(k: String): Boolean =
    k.startsWith("option.") ||
      Set("path", "paths", "provider", "owner", "location", "comment",
        "external").contains(k)

  /** Validation matrix of the reference factory
    * (ref: HttpLookupTableSourceFactory.scala:58-123). */
  def parse(options: java.util.Map[String, String]): HttpOptions = {
    val m = options.asScala.map { case (k, v) => k.toLowerCase -> v }.toMap
    val unknown = (m.keySet -- knownKeys).filterNot(catalogEnvelope)
    if (unknown.nonEmpty)
      fail(s"Unsupported options found for 'http-full-cache': ${unknown.toSeq.sorted.mkString(", ")}")

    val url = m.getOrElse(Url, fail(s"One or more required options are missing: $Url"))
    val xpath = m.getOrElse(Xpath, "")

    val refreshStr = m.getOrElse(CacheRefreshInterval, "PT5M")
    val refresh =
      try Duration.parse(refreshStr)
      catch {
        case _: Exception => fail(
          s"Invalid format for cache.refresh-interval: '$refreshStr'. " +
            "Expected format is ISO-8601 duration (e.g., PT5M for 5 minutes).")
      }

    val connect = intOpt(m, ConnectTimeoutSeconds, 10)
    if (connect <= 0) fail(s"Invalid value for connect.timeout.seconds: $connect. Must be positive.")
    val read = intOpt(m, ReadTimeoutSeconds, 30)
    if (read <= 0) fail(s"Invalid value for read.timeout.seconds: $read. Must be positive.")
    val retries = intOpt(m, MaxRetries, 3)
    if (retries < 0) fail(s"Invalid value for max.retries: $retries. Must be non-negative.")
    val delay = intOpt(m, RetryDelayMs, 1000).toLong
    if (delay <= 0) fail(s"Invalid value for retry.delay.ms: $delay. Must be positive.")

    val method = m.getOrElse(Method, "GET")

    HttpOptions(url, xpath, refresh, method, connect, read, retries, delay)
  }

  private def intOpt(m: Map[String, String], key: String, dflt: Int): Int =
    m.get(key).map { v =>
      try v.trim.toInt
      catch { case _: NumberFormatException =>
        fail(s"Invalid value for $key: '$v'. Must be an integer.") }
    }.getOrElse(dflt)

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
}
