package graft.sources

import java.net.URI
import java.net.http.HttpRequest

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Typed connector configuration — the engine's counterpart of the
  * reference's typebox `Environment` (task.ts:7-23): `url` required,
  * optional `headers`, `timeout` defaulting to 30000 ms, `retries`
  * defaulting to 2. Both DSv2 connectors (capfeed source, cloudtak
  * sink) parse their options through [[EtlConfig.fromOptions]], and
  * these four are all their options: the defaults and validation are
  * one definition that cannot drift apart. Any other option is ignored.
  *
  * `capfeed` takes no knob of its own. Its width follows its links: a
  * read plans min(4, ceil(links / 8)) partitions, in the batch scan and
  * in every micro-batch. Its stream offset is the link set of the last
  * feed poll, so a link that leaves the feed and comes back is emitted
  * again, as the reference re-submits it (see [[CapFeedDataSource]]).
  *
  * `url` and `headers` are checked here against what `java.net.http`
  * accepts, so a malformed one fails when the options are parsed, not
  * as a retried error inside every request.
  */
final case class EtlConfig(
    url: String,
    headers: Map[String, String] = Map.empty,
    timeoutMs: Long = EtlConfig.DefaultTimeoutMs,
    retries: Int = EtlConfig.DefaultRetries)

object EtlConfig {
  /** Reference defaults (task.ts:15-22). */
  val DefaultTimeoutMs: Long = 30000L
  val DefaultRetries: Int = 2

  /** Parse + validate connector options. `who` prefixes error messages
    * with the connector short name (capfeed / cloudtak). */
  def fromOptions(options: CaseInsensitiveStringMap, who: String): EtlConfig = {
    def reject(msg: String) = throw new IllegalArgumentException(s"$who: $msg")
    val url = Option(options.get("url")).map(_.trim).filter(_.nonEmpty)
      .getOrElse(reject("'url' option is required"))
    val timeoutMs = options.getLong("timeout", DefaultTimeoutMs)
    if (timeoutMs <= 0) reject(s"'timeout' must be positive, got $timeoutMs")
    val retries = options.getInt("retries", DefaultRetries)
    if (retries < 0) reject(s"'retries' must be >= 0, got $retries")
    try HttpRequest.newBuilder(URI.create(url))
    catch { case e: IllegalArgumentException => reject(s"'url' is not an http(s) URL: ${e.getMessage}") }
    EtlConfig(url, headers(options.getOrDefault("headers", ""), reject), timeoutMs, retries)
  }

  /** The `headers` option ("K1=V1;K2=V2"). Every entry needs a `=` and
    * a name and value `java.net.http` may send (not `Host`,
    * `Content-Length`, ...); errors name the header, never its value. */
  private def headers(opt: String, reject: String => Nothing): Map[String, String] =
    opt.split(";").iterator.map(_.trim).filter(_.nonEmpty).zipWithIndex.map { case (kv, i) =>
      val (k, v) = kv.split("=", 2) match {
        case Array(k, v) => (k.trim, v.trim)
        case _ => reject(s"'headers' entry ${i + 1} has no '=' (expected K=V;K=V)")
      }
      if (k.isEmpty) reject(s"'headers' entry ${i + 1} has an empty name")
      try HttpRequest.newBuilder().header(k, v)
      catch { case _: IllegalArgumentException =>
        reject(s"'headers' entry '$k' is refused by java.net.http (a restricted or invalid name, or an invalid value)") }
      k -> v
    }.toMap
}
