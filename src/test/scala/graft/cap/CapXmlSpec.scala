package graft.cap

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, SerializeFromObject}
import org.apache.spark.sql.types.ObjectType
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession

/** The one-pass decoder against the `from_xml` form it replaces:
  * `CapPipeline.parseAlerts` must return the same rows as
  * [[FromXmlForm]] on the fixtures, on fuzzed garbage and on generated
  * CAP-shaped edge documents, and the decode must stay typed from parse
  * through fan-out. */
class CapXmlSpec extends AnyFunSuite with GraftTestSession {

  private def checkProp(p: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  /** Both forms' rows over `docs`, in input order. */
  private def bothForms(docs: Seq[String]): (Seq[CapAlert], Seq[CapAlert]) = {
    import spark.implicits._
    val ds = docs.toDS()
    (CapPipeline.parseAlerts(ds).collect().toSeq, FromXmlForm(ds).collect().toSeq)
  }

  /** True when both forms return the same rows; else fails on the first
    * document whose rows differ. */
  private def sameRows(docs: Seq[String]): Boolean = {
    val (decoded, reference) = bothForms(docs)
    if (decoded != reference) {
      val first = docs.find(d => bothForms(Seq(d)) match { case (a, b) => a != b })
      fail(s"decoder and from_xml differ on ${first.map(d => "\n" + d).getOrElse("the batch")}:\n" +
        first.map(d => bothForms(Seq(d))).getOrElse((decoded, reference)))
    }
    true
  }

  private def fixtureDocs(dir: String): Seq[String] = {
    val files = Files.list(Paths.get(dir))
    try files.iterator().asScala.toSeq.sortBy(_.toString)
      .map((p: Path) => new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    finally files.close()
  }

  private lazy val fixtures: Seq[String] =
    Seq("fixtures/cap", "fixtures/cap_bad", "fixtures/cap_lifecycle").flatMap(fixtureDocs)

  test("parseAlerts equals the from_xml form on fixtures/cap, cap_bad and cap_lifecycle") {
    val (decoded, reference) = bothForms(fixtures)
    assert(decoded.nonEmpty && decoded == reference)
  }

  test("parseAlerts equals the from_xml form on ParseRobustnessSpec's garbage") {
    checkProp(Prop.forAllNoShrink(Gen.listOfN(40, ParseRobustnessSpec.garbage))(sameRows), 10)
  }

  // ---- generated CAP-shaped edge documents ----

  private def spelled(name: String): Gen[String] = Gen.frequency(
    6 -> Gen.const(name), 1 -> Gen.const(name.toUpperCase), 1 -> Gen.const(name.toLowerCase),
    1 -> Gen.const("cap:" + name))

  private val attrs: Gen[String] = Gen.frequency(
    6 -> Gen.const(""), 1 -> Gen.const(" lang=\"en\""),
    1 -> Gen.const(" xmlns=\"urn:oasis:names:tc:emergency:cap:1.2\" a='1 &amp; 2'"))

  private val noise: Gen[String] = Gen.oneOf("", "\n  ", "<!-- c -->", "<?pi d?>", "stray text",
    "<unknown><info><identifier>deep</identifier></info></unknown>", "<extra/>")

  private val value: Gen[String] = Gen.frequency(
    8 -> Gen.alphaNumStr.map(s => "v" + s.take(6)),
    1 -> Gen.const(""), 1 -> Gen.const("   "), 1 -> Gen.const("  padded value \n"),
    1 -> Gen.const("a <b>bold</b> c"), 1 -> Gen.const("<b>lead</b> tail"),
    1 -> Gen.const("<i k=\"v\" j='w &amp; x'>it</i><x:y/>"),
    1 -> Gen.const("x &amp; y &lt;z&gt; &#169;"), 1 -> Gen.const("<![CDATA[ raw <tag> ]]>"),
    1 -> Gen.const("pre<!-- note -->post"), 1 -> Gen.const("p<?pi data?>q"),
    1 -> Gen.const("bad<!-- a -- b -->comment"),
    1 -> Gen.const(" nbsp "), 1 -> Gen.const("&undefined;"),
    1 -> Gen.const("2026-08-11T00:00:00+12:00"), 1 -> Gen.const("not a date"))

  private def leaf(name: String, v: Gen[String] = value): Gen[String] = for {
    n <- spelled(name); a <- attrs; x <- v
    form <- Gen.frequency(8 -> 0, 1 -> 1, 1 -> 2)
  } yield form match {
    case 0 => s"<$n$a>$x</$n>"
    case 1 => s"<$n$a/>"
    case _ => s"<$n$a></$n>"
  }

  private def element(name: String, body: Gen[String]): Gen[String] = for {
    n <- spelled(name); a <- attrs; b <- body
    empty <- Gen.frequency(9 -> false, 1 -> true)
  } yield if (empty) s"<$n$a/>" else s"<$n$a>$b</$n>"

  private val polygon: Gen[String] = leaf("polygon", Gen.frequency(
    3 -> Gen.const("-41.0,174.0 -41.5,174.5 -42.0,174.0 -41.0,174.0"), 1 -> value))

  private val area: Gen[String] = element("area", for {
    d <- leaf("areaDesc"); n <- Gen.choose(0, 3); ps <- Gen.listOfN(n, polygon)
    c <- leaf("circle", Gen.oneOf("-41.5,174.1 10", "bad circle", ""))
    parts <- Gen.pick(3, Seq(d, ps.mkString, c)); z <- noise
  } yield parts.mkString + z)

  private val parameter: Gen[String] = element("parameter", for {
    vn <- leaf("valueName", Gen.oneOf("ColourCodeHex", "ColourCode", "Other", "", "colourcode"))
    v <- leaf("value", Gen.oneOf("#FFD000", "Orange", "Red", "Purple", "", " Blue "))
    parts <- Gen.oneOf(Seq(vn, v), Seq(v, vn), Seq(vn), Seq(v), Seq(vn, v, v))
  } yield parts.mkString)

  private val infoElem: Gen[String] = element("info", for {
    leaves <- Gen.sequence[Seq[String], String](Seq("category", "event", "urgency", "severity",
      "certainty", "senderName", "headline", "description", "instruction", "responseType",
      "onset", "expires", "web").map(leaf(_)))
    k <- Gen.choose(0, leaves.size); picked <- Gen.pick(k, leaves)
    nAreas <- Gen.frequency(3 -> 1, 1 -> 0, 1 -> 2); areas <- Gen.listOfN(nAreas, area)
    nParams <- Gen.choose(0, 3); params <- Gen.listOfN(nParams, parameter)
    all <- Gen.pick(picked.size + areas.size + params.size, picked ++ areas ++ params)
    z <- noise
  } yield all.mkString + z)

  private val signature: Gen[String] = element("Signature",
    element("KeyInfo", element("X509Data", leaf("X509Certificate",
      Gen.oneOf("Q049eA==", "not-base64!", "")))))

  private def required(name: String): Gen[String] =
    Gen.frequency(8 -> leaf(name, Gen.alphaNumStr.map(s => "r" + s.take(5))), 1 -> leaf(name),
      1 -> Gen.const(""))

  private val alertBody: Gen[String] = for {
    req <- Gen.sequence[Seq[String], String](Seq("identifier", "sender", "sent").map(required))
    opt <- Gen.sequence[Seq[String], String](Seq("status", "msgType", "scope").map(leaf(_)))
    dup <- Gen.frequency(6 -> Gen.const(""), 1 -> required("identifier"))
    nInfo <- Gen.frequency(6 -> 1, 1 -> 0, 2 -> 2); infos <- Gen.listOfN(nInfo, infoElem)
    sig <- Gen.frequency(3 -> Gen.const(""), 1 -> signature)
    z <- noise
    all <- Gen.pick(3 + 3 + 1 + infos.size + 1, req ++ opt ++ Seq(dup, sig) ++ infos)
  } yield all.mkString + z

  private val capDoc: Gen[String] = for {
    root <- Gen.frequency(8 -> Gen.const("alert"), 1 -> Gen.const("Alert"), 1 -> Gen.const("cap:alert"),
      1 -> Gen.const("feed"))
    a <- attrs; body <- alertBody
    prolog <- Gen.frequency(4 -> Gen.const("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"),
      3 -> Gen.const(""), 1 -> Gen.const("  <?xml version=\"1.0\"?>"), 1 -> Gen.const("<!DOCTYPE alert>"),
      1 -> Gen.const("<!-- feed item -->\n"), 1 -> Gen.const("\n"))
    epilog <- Gen.frequency(6 -> Gen.const(""), 1 -> Gen.const("\n<!-- end -->"),
      1 -> Gen.const("<alert><identifier>second</identifier></alert>"), 1 -> Gen.const("trailing <junk"))
    doc = s"$prolog<$root$a>$body</$root>$epilog"
    cut <- Gen.choose(0, doc.length)
    mutation <- Gen.frequency(12 -> 0, 1 -> 1, 1 -> 2, 1 -> 3)
  } yield mutation match {
    case 0 => doc
    case 1 => doc.take(cut)
    case 2 => doc.take(cut) + doc.drop(cut + 1)
    case _ => doc.take(cut) + "</x>" + doc.drop(cut)
  }

  /** A fixture truncated, with one character dropped, or with a stray
    * close tag inserted, at a random offset. */
  private val damagedFixture: Gen[String] = for {
    doc <- Gen.oneOf(fixtures); cut <- Gen.choose(0, doc.length)
    how <- Gen.choose(0, 2)
  } yield how match {
    case 0 => doc.take(cut)
    case 1 => doc.take(cut) + doc.drop(cut + 1)
    case _ => doc.take(cut) + "</info>" + doc.drop(cut)
  }

  test("parseAlerts equals the from_xml form on generated CAP-shaped edge documents") {
    checkProp(Prop.forAllNoShrink(Gen.listOfN(150, capDoc)) { docs =>
      val (decoded, _) = bothForms(docs)
      // the generator must keep alerts too, or the property proves little
      decoded.nonEmpty && sameRows(docs)
    }, 12)
  }

  test("parseAlerts equals the from_xml form on damaged fixtures") {
    checkProp(Prop.forAllNoShrink(Gen.listOfN(100, damagedFixture))(sameRows), 6)
  }

  // ---- the three shapes a plain cursor decoder gets wrong ----

  private val asOf = Instant.parse("2026-08-12T00:00:00Z")

  private def doc(info: String, extra: String = ""): String =
    "<alert><identifier>X-1</identifier><sender>s</sender><sent>2026-08-11T00:00:00Z</sent>" +
      s"$extra<info>$info</info></alert>"

  private def decodedBoth(d: String): Seq[CapAlert] = {
    val (decoded, reference) = bothForms(Seq(d))
    assert(decoded == reference, s"decoder $decoded, from_xml $reference")
    decoded
  }

  test("nested markup inside a leaf comes back as its raw inner XML") {
    val Seq(a) = decodedBoth(doc("<description> a <b>bold</b> c </description>" +
      "<headline><i k=\"v\">lead</i> tail</headline>"))
    assert(a.description == "a <b>bold</b> c")
    assert(a.headline == "<i k=\"v\">lead</i> tail")
  }

  test("a second <area> replaces the first one entirely, polygons included") {
    val Seq(a) = decodedBoth(doc(
      "<area><areaDesc>first</areaDesc><polygon>1,2 3,4 5,6 1,2</polygon><polygon>7,8</polygon></area>" +
        "<area><circle>-41.5,174.1 10</circle></area>"))
    assert(a.areaDesc == "" && a.polygon.isEmpty && a.circle == "-41.5,174.1 10")
  }

  test("a present but empty leaf makes <info> non-empty, so the alert is kept") {
    assert(decodedBoth(doc("")).isEmpty)
    val Seq(a) = decodedBoth(doc("<category></category>"))
    assert(a.category == "" && a.identifier == "X-1")
  }

  // ---- security ----

  test("a DOCTYPE external entity decodes to no row and reads nothing") {
    val secret = Files.createTempFile("capxml-secret", ".txt")
    try {
      Files.writeString(secret, "TOP-SECRET-CONTENT")
      val dtd = s"""<?xml version="1.0"?><!DOCTYPE alert [<!ENTITY xxe SYSTEM "${secret.toUri}">]>"""
      val inIdentifier = dtd + "<alert><identifier>&xxe;</identifier><sender>s</sender>" +
        "<sent>2026-08-11T00:00:00Z</sent><info><event>e</event></info></alert>"
      assert(CapXml.decode(inIdentifier).isEmpty)
      assert(decodedBoth(inIdentifier).isEmpty)
      // wherever the reference sits, its target's content reaches no field
      val inDescription = dtd + doc("<event>e</event><description>&xxe;</description>")
      for (a <- CapXml.decode(inDescription).toSeq ++ decodedBoth(inDescription))
        assert(!a.productIterator.mkString.contains("TOP-SECRET"))
    } finally Files.delete(secret)
  }

  // ---- typed from decode through fan-out ----

  test("alerts stay objects from decode through expiry and fan-out") {
    import spark.implicits._
    val plan = CapPipeline.toFeatures(CapPipeline.active(Seq(doc("<event>e</event>")).toDS(), asOf))
      .queryExecution.optimizedPlan
    // the xml strings are the only rows decoded and the features the only
    // objects encoded: no CapAlert row in between
    assert(plan.collect { case d: DeserializeToObject => d.outputObjAttr.dataType } ==
      Seq(ObjectType(classOf[String])), plan)
    assert(plan.collect { case s: SerializeFromObject => s.inputObjAttr.dataType } ==
      Seq(ObjectType(classOf[CotFeature])), plan)
  }

  test("expiry keeps empty and unparseable expires, drops a past one") {
    import spark.implicits._
    val docs = Seq("", "not a date", "2020-01-02T00:00:00Z", "2030-01-01T00:00:00Z")
      .zipWithIndex.map { case (e, i) =>
        doc(s"<event>e</event><expires>$e</expires>").replace("X-1", s"X-$i") }
    val kept = CapPipeline.active(docs.toDS(), asOf).collect().map(_.identifier).toSet
    assert(kept == Set("X-0", "X-1", "X-3"))
  }
}
