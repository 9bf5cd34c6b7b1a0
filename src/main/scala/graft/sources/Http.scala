package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import graft.functions.JsCompat

/** S1 — HTTP fetch with retry/backoff, semantics matching the reference
  * `fetchWithRetry` (task.ts:382-407): `retries + 1` total attempts,
  * per-attempt timeout, non-2xx throws `HTTP <status>`, linear backoff
  * `1000 * (attempt + 1)` ms between attempts (none after the last).
  * Used on the driver for feed planning and inside DSv2 partition
  * readers/writers for the per-alert fan-out — which turns the
  * reference's SERIAL per-alert loop (task.ts:626) into
  * partition-parallel I/O.
  */
object Http {

  private lazy val client: HttpClient = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()

  def fetchWithRetry(url: String, headers: Map[String, String],
      timeoutMs: Long, retries: Int,
      method: String = "GET", body: Option[Array[Byte]] = None,
      sleep: Long => Unit = Thread.sleep): String = {
    val maxRetries = math.max(0, retries) // negative would loop forever
    var attempt = 0
    while (true) {
      try {
        return fetchOnce(url, headers, timeoutMs, method, body)
      } catch {
        // NonFatal only: an interrupt (task kill) or VM error must
        // propagate immediately, not sleep through the backoff
        case scala.util.control.NonFatal(e) =>
          if (attempt >= maxRetries) throw e
          sleep(1000L * (attempt + 1))
          attempt += 1
      }
    }
    throw new IllegalStateException("fetchWithRetry: unreachable")
  }

  private def fetchOnce(url: String, headers: Map[String, String],
      timeoutMs: Long, method: String, body: Option[Array[Byte]]): String = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofMillis(timeoutMs))
    headers.foreach { case (k, v) => b.header(k, v) }
    val req = (method match {
      case "POST" => b.POST(HttpRequest.BodyPublishers.ofByteArray(body.getOrElse(Array.emptyByteArray)))
      case _ => b.GET()
    }).build()
    val res = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (res.statusCode() < 200 || res.statusCode() >= 300)
      throw new RuntimeException(s"HTTP ${res.statusCode()}")
    res.body()
  }
}

/** P1-P3 link extraction (reference task.ts:555-581), the one
  * definition: the `capfeed` planner calls [[extract]], and the
  * declarative `CapPipeline.parseFeedLinks` flatMaps [[matches]].
  */
object FeedLinks {
  /** RSS `<link>text</link>` with the reference's {1,1000} ReDoS cap. */
  private val RssLink = "<link>([^<]{1,1000})</link>".r
  /** Atom `<link ... href="...">`, same length cap. */
  private val AtomLink = "<link[^>]+href=[\"']([^\"']{1,1000})[\"'][^>]*>".r

  /** P2 predicate: keep links containing `/cap/` or `alert`. */
  def isCapAlertLink(l: String): Boolean = l.contains("/cap/") || l.contains("alert")

  /** Every link in `body`: the RSS matches, then the Atom matches, each
    * in match order and JS-trimmed like the reference's `.trim()` (task.ts:559-581), before
    * the predicate and dedup. A match's index is its extraction position. */
  def matches(body: String): Seq[String] =
    (RssLink.findAllMatchIn(body) ++ AtomLink.findAllMatchIn(body))
      .map(m => JsCompat.jsTrim(m.group(1))).toSeq

  /** P1-P3 over one feed: order-preserving distinct like JS
    * `[...new Set(links)]` (task.ts:580). */
  def extract(feedText: String): Seq[String] =
    matches(feedText).filter(isCapAlertLink).distinct
}
