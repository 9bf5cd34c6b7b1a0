package graft.cap

import java.time.Instant

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

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
  * extraction is [[FeedLinks]], the per-alert fan-out is
  * the private `fanOut` behind [[toFeatures]] and [[quarantine]], and
  * the FeatureCollection envelope is [[Features.featureCollectionJson]].
  * [[CapEtl]] composes them with the connectors into the one job.
  */
object CapPipeline {

  // ---------------------------------------------------------------
  // P4 schema — all leaves forced to StringType so from_xml cannot
  // numeric-coerce text nodes (fast-xml-parser quirk parity,
  // SURVEY.md §7 risk register); polygon/parameter declared as arrays
  // so the scalar-or-array XML quirk normalizes at parse time
  // (task.ts:458, 647).
  // ---------------------------------------------------------------
  val parameterType: ArrayType = ArrayType(StructType(Seq(
    StructField("valueName", StringType),
    StructField("value", StringType))))

  /** One <info> element. Declared separately because `info` itself is an
    * ARRAY in the alert schema: fast-xml-parser yields an array for
    * repeated <info> elements, and the reference then reads `info.x` off
    * the ARRAY — undefined → '' for every field (task.ts:427-453). A
    * struct schema here would silently keep the LAST <info> instead. */
  val infoType: StructType = StructType(Seq(
    StructField("category", StringType),
    StructField("event", StringType),
    StructField("urgency", StringType),
    StructField("severity", StringType),
    StructField("certainty", StringType),
    StructField("senderName", StringType),
    StructField("headline", StringType),
    StructField("description", StringType),
    StructField("instruction", StringType),
    StructField("responseType", StringType),
    StructField("onset", StringType),
    StructField("expires", StringType),
    StructField("web", StringType),
    StructField("area", StructType(Seq(
      StructField("areaDesc", StringType),
      StructField("polygon", ArrayType(StringType)),
      StructField("circle", StringType)))),
    StructField("parameter", parameterType)))

  val alertSchema: StructType = StructType(Seq(
    StructField("identifier", StringType),
    StructField("sender", StringType),
    StructField("sent", StringType),
    StructField("status", StringType),
    StructField("msgType", StringType),
    StructField("scope", StringType),
    StructField("info", ArrayType(infoType)),
    StructField("Signature", StructType(Seq(
      StructField("KeyInfo", StructType(Seq(
        StructField("X509Data", StructType(Seq(
          StructField("X509Certificate", StringType))))))))))))

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
  // P4-P7: XML parse + projection + '' defaulting + validity filter +
  // colour-code priority — all as declarative column expressions so
  // Catalyst prunes/pushes around them.
  // ---------------------------------------------------------------
  def parseAlerts(xml: Dataset[String]): Dataset[CapAlert] = {
    val spark = xml.sparkSession
    import spark.implicits._

    def s(c: Column): Column = coalesce(c, lit(""))

    val a = from_xml(col("xml"), alertSchema)
    // JS semantics over the repeated-<info> quirk (task.ts:427-453): with
    // exactly one <info>, fields project from it; with several, the
    // reference reads `info.x` off the ARRAY → undefined → '' for every
    // info-derived field (empty area → NZ-center fallback point). The
    // Signature branch is independent of info and still applies.
    val info = when(size(col("a.info")) === 1, element_at(col("a.info"), 1))
      .otherwise(lit(null).cast(infoType))
    val params = coalesce(info.getField("parameter"), lit(null).cast(parameterType))
    // P7 (task.ts:456-476): a present ColourCodeHex param wins even when
    // its value is empty/null — no fallthrough to ColourCode.
    val hexParam = get(filter(params, p => p("valueName") === "ColourCodeHex"), lit(0))
    val namedParam = get(filter(params, p => p("valueName") === "ColourCode"), lit(0))
    val colorCode = when(hexParam.isNotNull, s(hexParam("value")))
      .otherwise(s(try_element_at(typedLit(graft.functions.Lookups.ColorMap), namedParam("value"))))

    xml.toDF("xml")
      .select(a.as("a"))
      .select(
        s(col("a.identifier")).as("identifier"),
        s(col("a.sender")).as("sender"),
        s(col("a.sent")).as("sent"),
        s(col("a.status")).as("status"),
        s(col("a.msgType")).as("msgType"),
        s(col("a.scope")).as("scope"),
        // P6 `no info` check (task.ts:427-430): fast-xml-parser parses
        // an EMPTY <info/> as '' (falsy → dropped), but from_xml yields
        // a single all-null struct — detect it via to_json = "{}" so
        // empty-info alerts drop here like the reference.
        (col("a.info").isNotNull &&
          !(size(col("a.info")) === 1 &&
            to_json(element_at(col("a.info"), 1)) === "{}")).as("hasInfo"),
        s(info.getField("category")).as("category"),
        s(info.getField("event")).as("event"),
        s(info.getField("urgency")).as("urgency"),
        s(info.getField("severity")).as("severity"),
        s(info.getField("certainty")).as("certainty"),
        s(info.getField("senderName")).as("senderName"),
        s(info.getField("headline")).as("headline"),
        s(info.getField("description")).as("description"),
        s(info.getField("instruction")).as("instruction"),
        s(info.getField("responseType")).as("responseType"),
        s(info.getField("onset")).as("onset"),
        s(info.getField("expires")).as("expires"),
        s(info.getField("web")).as("web"),
        s(info.getField("area").getField("areaDesc")).as("areaDesc"),
        transform(
          coalesce(info.getField("area").getField("polygon"),
            array().cast(ArrayType(StringType))),
          p => coalesce(p, lit(""))).as("polygon"),
        s(info.getField("area").getField("circle")).as("circle"),
        colorCode.as("colorCode"),
        s(col("a.Signature.KeyInfo.X509Data.X509Certificate")).as("cert"))
      // P6 validity filter (task.ts:415-434): no <alert> root → all-null
      // struct → dropped here too.
      .filter(col("hasInfo") &&
        col("identifier") =!= "" && col("sender") =!= "" && col("sent") =!= "")
      .drop("hasInfo")
      .as[CapAlert]
  }

  // ---------------------------------------------------------------
  // F1 expiry filter with an injected asOf clock (deterministic —
  // SURVEY.md §5). Parsing goes through JsCompat.jsDateParse — the SAME
  // clock/parse semantics as feature rendering (fixed UTC, JS shapes) —
  // so no session-timezone dependence and no alert kept here only to be
  // dropped by iso()'s throw later. JS semantics: invalid `expires`
  // compares NaN<now → false → alert kept (UDF None → coalesce true).
  // The UDF blocks Catalyst pushdown, but it runs post-XML-parse where
  // nothing remains to push past; correctness over pushdown here.
  // ---------------------------------------------------------------
  private val jsExpiresMs =
    udf((s: String) => graft.functions.JsCompat.jsDateParse(s).map(_.toEpochMilli))

  /** F1: the alerts active at `asOf` — no `expires`, an `expires` at
    * or after `asOf`, or one JS cannot parse. Callers reach it through
    * [[active]]. */
  def filterActive(alerts: Dataset[CapAlert], asOf: Instant): Dataset[CapAlert] =
    alerts.filter(col("expires") === "" ||
      coalesce(jsExpiresMs(col("expires")) >= lit(asOf.toEpochMilli), lit(true)))

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
