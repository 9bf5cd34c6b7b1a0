package graft.cap

import java.time.Instant

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

import graft.functions.JsCompat
import graft.sources.FeedLinks

/** The CAP dataflow as first-class Spark operators (SURVEY.md §2/§3).
  *
  * Reference pipeline (`task.ts:598-883`): feed → link extraction →
  * per-URL fetch → XML parse/validate → expiry filter → fan-out →
  * FeatureCollection. Here each stage is a declarative Dataset
  * transform; the reference's *serial* per-alert loop (`task.ts:626`)
  * becomes partition-parallel execution — the engine's main scalability
  * win. Fetching is decoupled: these operators take `Dataset[String]`
  * of feed/alert bodies, so any source (files, a DSv2 HTTP connector,
  * a stream) plugs in front.
  *
  * Each step has one definition, shared with the connectors: link
  * extraction is [[FeedLinks]], the alert parse is [[CapXml.decode]]
  * (one StAX cursor pass per document), the per-alert fan-out is
  * the private `fanOut` behind [[toFeatures]] and [[quarantine]], and
  * the FeatureCollection envelope is [[Features.featureCollectionJson]].
  * [[CapEtl]] composes them with the connectors into the one job.
  */
object CapPipeline {

  // ---------------------------------------------------------------
  // P1-P3: feed link extraction. The patterns, the JS trim and the
  // /cap/-or-alert predicate are FeedLinks, the same
  // definition the capfeed connector plans with.
  // ---------------------------------------------------------------

  /** Order-preserving dedup, mirroring the reference's
    * `[...new Set(links)]` (task.ts:580): each link keeps its FIRST
    * extraction position and the result is ordered by it — RSS matches
    * before Atom matches within a body, exactly like the reference,
    * which concatenates the two regex passes before dedup. The
    * reference processes one feed per invocation, so within-body order
    * is the reference semantics; across multiple feed bodies (which
    * have no reference counterpart) ties on position break by link for
    * a deterministic total order. */
  def parseFeedLinks(feeds: Dataset[String]): Dataset[String] = {
    val spark = feeds.sparkSession
    import spark.implicits._
    // a link's position counts every match before it, kept or not
    feeds.flatMap(body => FeedLinks.matches(body).zipWithIndex
        .filter { case (link, _) => FeedLinks.isCapAlertLink(link) })
      .toDF("link", "pos")
      .groupBy(col("link")).agg(min(col("pos")).as("first_pos"))
      .orderBy(col("first_pos"), col("link"))
      .select(col("link"))
      .as[String]
  }

  // ---------------------------------------------------------------
  // P4-P7: one cursor pass per document (CapXml.decode), typed, so the
  // alerts stay JVM objects from decode through expiry and fan-out:
  // Catalyst's EliminateSerialization drops the CapAlert row encode and
  // decode between these typed steps.
  // ---------------------------------------------------------------
  def parseAlerts(xml: Dataset[String]): Dataset[CapAlert] = {
    import xml.sparkSession.implicits._
    xml.flatMap(x => CapXml.decode(x))
  }

  /** F1: the alerts active at `asOf` (injected clock, deterministic —
    * SURVEY.md §5) — no `expires`, an `expires` at or after `asOf`, or
    * one JS cannot parse (NaN < now is false, task.ts). Parsing goes
    * through JsCompat.jsDateParse, the same clock and parse semantics as
    * feature rendering (fixed UTC, JS shapes), so no session-timezone
    * dependence and no alert kept here only to be dropped by iso()'s
    * throw later. Callers reach it through [[active]]. */
  def filterActive(alerts: Dataset[CapAlert], asOf: Instant): Dataset[CapAlert] = {
    val now = asOf.toEpochMilli
    alerts.filter((a: CapAlert) =>
      a.expires == null || JsCompat.jsDateParse(a.expires).forall(_.toEpochMilli >= now))
  }

  // ---------------------------------------------------------------
  // X2 fan-out — typed flatMap over the heavily unit-tested pure
  // function; per-alert error isolation (F2) mirrors the reference's
  // try/catch-and-continue (task.ts:876-878).
  // ---------------------------------------------------------------

  /** One alert's fan-out: its features, or the quarantine row when
    * `alertToFeatures` throws (e.g. an unparseable `sent` making
    * `toISOString` fail). The error text is the exception's message,
    * else its class's simple name. */
  private def fanOut(a: CapAlert): Either[QuarantinedAlert, Seq[CotFeature]] =
    try Right(Features.alertToFeatures(a))
    catch {
      case NonFatal(e) => Left(QuarantinedAlert(a.identifier,
        Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
    }

  /** The features of every alert whose fan-out succeeds. */
  def toFeatures(alerts: Dataset[CapAlert]): Dataset[CotFeature] = {
    val spark = alerts.sparkSession
    import spark.implicits._
    alerts.flatMap(a => fanOut(a).getOrElse(Seq.empty))
  }

  /** F2 with a quarantine side-channel — the engine's improvement over
    * the reference, which only console-logs and drops (task.ts:876-878):
    * an alert whose fan-out throws comes back as one (identifier, error)
    * row instead of vanishing. A caller that wants both sides of one
    * source persists the alerts and calls [[toFeatures]] and this. */
  def quarantine(alerts: Dataset[CapAlert]): Dataset[QuarantinedAlert] = {
    val spark = alerts.sparkSession
    import spark.implicits._
    alerts.flatMap(a => fanOut(a).swap.toSeq)
  }

  /** The active alerts of `xml` at `asOf`: [[parseAlerts]] then
    * [[filterActive]], the one parse-then-expiry composition, for batch
    * and streaming Datasets alike. */
  def active(xml: Dataset[String], asOf: Instant): Dataset[CapAlert] =
    filterActive(parseAlerts(xml), asOf)
}
