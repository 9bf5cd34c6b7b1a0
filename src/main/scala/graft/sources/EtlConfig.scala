package graft.sources

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Typed connector configuration — the engine's counterpart of the
  * reference's typebox `Environment` (task.ts:7-23): `url` required,
  * optional `headers`, `timeout` defaulting to 30000 ms, `retries`
  * defaulting to 2. Both DSv2 connectors (capfeed source, cloudtak
  * sink) parse their options through [[EtlConfig.fromOptions]], so the
  * defaults and validation are one definition that cannot drift apart.
  * One option lives outside it: `capfeed` alone reads `numPartitions`
  * (default 4), the number of partitions its alert links are spread
  * over, in the batch scan and in every micro-batch; the `cloudtak`
  * sink ignores it. Any other option not named here is ignored.
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
    val url = Option(options.get("url")).map(_.trim).filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(s"$who: 'url' option is required"))
    val timeoutMs = options.getLong("timeout", DefaultTimeoutMs)
    if (timeoutMs <= 0)
      throw new IllegalArgumentException(s"$who: 'timeout' must be positive, got $timeoutMs")
    val retries = options.getInt("retries", DefaultRetries)
    if (retries < 0)
      throw new IllegalArgumentException(s"$who: 'retries' must be >= 0, got $retries")
    EtlConfig(url, Http.parseHeaders(options.getOrDefault("headers", "")),
      timeoutMs, retries)
  }
}
