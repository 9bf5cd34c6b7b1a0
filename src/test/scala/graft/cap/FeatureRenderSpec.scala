package graft.cap

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.scalacheck.rng.Seed
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Geo

/** The one-builder render against the String-per-value form it
  * replaces: `Features.alertToFeatures` must return the same features,
  * every `CotFeature` field equal, or fail with the same error as
  * [[FeaturesRefForm]] on the fixtures and on seeded edge alerts, and
  * `Geo.parsePolygon` must return the same ring or the same error. */
class FeatureRenderSpec extends AnyFunSuite {

  private def checkProp(p: Prop, n: Int): Unit = {
    val params = SCTest.Parameters.default.withMinSuccessfulTests(n).withInitialSeed(Seed(15151L))
    val res = SCTest.check(params, p)
    assert(res.passed, res.status.toString)
  }

  private def outcome(render: CapAlert => Seq[CotFeature], a: CapAlert): Either[String, Seq[CotFeature]] =
    try Right(render(a))
    catch { case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}") }

  /** Both renders agree on `a`; else fails naming the alert. */
  private def sameFeatures(a: CapAlert): Boolean = {
    val (got, want) = (outcome(Features.alertToFeatures, a), outcome(FeaturesRefForm.alertToFeatures, a))
    assert(got == want, s"renders differ on $a")
    true
  }

  private def fixtureDocs(dir: String): Seq[String] = {
    val files = Files.list(Paths.get(dir))
    try files.iterator().asScala.toSeq.sortBy(_.toString)
      .map((p: Path) => new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    finally files.close()
  }

  test("alertToFeatures equals the String-per-value form on fixtures/cap, cap_bad and cap_lifecycle") {
    val alerts = Seq("fixtures/cap", "fixtures/cap_bad", "fixtures/cap_lifecycle")
      .flatMap(fixtureDocs).flatMap(CapXml.decode)
    assert(alerts.size >= 20)
    alerts.foreach(sameFeatures)
    val features = alerts.flatMap(a => outcome(Features.alertToFeatures, a).getOrElse(Nil))
    assert(features.map(_.geomType).toSet == Set("Polygon", "Point") && features.exists(_.isCenter))
  }

  // ---- seeded edge alerts ----

  private val wsChars: Seq[Char] =
    Seq('\t', '\n', '\u000b', '\f', '\r', ' ', '\u00a0', '\u1680', '\u2028', '\u2029',
      '\u202f', '\u205f', '\u3000', '\ufeff') ++ ('\u2000' to '\u200a')

  /** A run of 1–3 JS whitespace characters, every member of JsWsChars
    * drawn. */
  private val wsRun: Gen[String] = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf(wsChars)))
    .map(_.mkString)

  /** `x` as text: 1–17 significant digits, integral, negative zero,
    * exponent form, a leading '+' or a trailing non-numeric tail (JS
    * parseFloat reads the prefix). */
  private def decimal(x: Double): Gen[String] = Gen.frequency(
    6 -> Gen.choose(1, 17).map(k => new java.math.BigDecimal(x)
      .round(new java.math.MathContext(k)).toPlainString),
    1 -> Gen.const(math.rint(x).toLong.toString),
    1 -> Gen.oneOf("-0", "-0.0", "0.000", "0"),
    1 -> Gen.choose(1, 9).map(k => new java.math.BigDecimal(x).round(new java.math.MathContext(k))
      .toString.replace("E+", "e")),
    1 -> Gen.oneOf("1e-7", "-2.5e-3", "4.1e1", "1E2", "-1.5e+1"),
    1 -> Gen.const("+" + x),
    1 -> Gen.const(x.toString + "abc"))

  private val goodPair: Gen[String] = for {
    lat <- Gen.choose(-90.0, 90.0).flatMap(decimal)
    lon <- Gen.choose(-180.0, 180.0).flatMap(decimal)
  } yield s"$lat,$lon"

  private val badPair: Gen[String] = Gen.oneOf(
    Gen.const("-41.5"), Gen.const("-41.5,174.5,3"), Gen.const(",174.5"), Gen.const("-41.5,"),
    Gen.const("91,174"), Gen.const("-41,181"), Gen.const("-90.0001,0"), Gen.const("a,b"),
    Gen.const(",,"), Gen.const("NaN,1"))

  /** A polygon of 3–512 pairs, closed or open, with whitespace runs
    * between and around the pairs and, when `bad`, one invalid pair at
    * its start, middle or end. */
  private def polygonText(bad: Boolean): Gen[String] = for {
    n <- Gen.frequency(8 -> Gen.choose(3, 24), 1 -> Gen.choose(25, 512))
    pairs <- Gen.listOfN(n, goodPair)
    closed <- Gen.oneOf(true, false)
    b <- badPair
    at <- Gen.oneOf(0, n / 2, n)
    seps <- Gen.listOfN(n + 2, Gen.frequency(4 -> Gen.const(" "), 1 -> wsRun))
    lead <- Gen.frequency(3 -> Gen.const(""), 1 -> wsRun)
    trail <- Gen.frequency(3 -> Gen.const(""), 1 -> wsRun)
  } yield {
    val ring = if (closed) pairs :+ pairs.head else pairs
    val all = if (bad) ring.patch(at min ring.size, Seq(b), 0) else ring
    lead + all.head + all.tail.zip(seps).map { case (p, s) => s + p }.mkString + trail
  }

  /** Up to four polygons; one of them, the first, middle or last, may
    * carry an invalid pair. */
  private val polygons: Gen[Seq[String]] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 4))
    badAt <- Gen.oneOf(-1, 0, n / 2, n - 1)
    ps <- Gen.sequence[Seq[String], String]((0 until n).map(i => polygonText(i == badAt)))
    odd <- Gen.frequency(12 -> Gen.const(ps), 1 -> Gen.const(Seq("")), 1 -> Gen.const(ps :+ "  "))
  } yield odd

  private val text: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf(" ", "\"", "\\", "/", "<", "&", "'", "\u2028", "\u2029", "\u007f"),
    1 -> Gen.choose('\u0000', '\u001f').map(_.toString),
    1 -> Gen.oneOf("M\u0101ori", "\u0101", "\u014c", "\uD83C\uDF0A", "\uD83D\uDE00", "\u00e9")))
    .map(_.take(60).mkString)

  private val date: Gen[String] = Gen.frequency(
    6 -> Gen.choose(0L, 400000000L).map(s =>
      java.time.Instant.ofEpochSecond(1767225600L + s).atOffset(java.time.ZoneOffset.ofHours(12)).toString),
    1 -> Gen.const(""), 1 -> Gen.const("not a date"))

  private val edgeAlert: Gen[CapAlert] = for {
    id <- Gen.frequency(4 -> Gen.identifier, 1 -> text)
    sent <- Gen.frequency(8 -> date.suchThat(_.nonEmpty), 1 -> Gen.const("bad"))
    onset <- date
    expires <- date
    event <- Gen.oneOf(Gen.oneOf("rainfall", "Heavy Rain", "thunder-storm", "Strong Wind", "", "snow"), text)
    category <- Gen.oneOf("Met", "Geo", "Fire", "Health", "Other", "")
    severity <- Gen.oneOf("Severe", "Moderate", "Minor", "Extreme", "")
    headline <- Gen.oneOf(Gen.const(""), text)
    description <- text
    instruction <- text
    web <- Gen.oneOf(Gen.const(""), Gen.const("https://alerts.example.nz/a?b=1&c=\"x\""), text)
    area <- text
    ps <- polygons
    circle <- Gen.oneOf("", "-41.5,174.1 30.0", "-41.5,174.1 0", "bad circle")
    color <- Gen.oneOf("", "#FF8918", "#FFFF00", "\"\\\u0001")
    sender <- text
  } yield CapAlert(id, sender, sent, "Actual", "Alert", "Public", category, event, "Expected",
    severity, "Likely", sender, headline, description, instruction, "Prepare", onset, expires,
    web, area, ps, circle, color, "")

  test("alertToFeatures equals the String-per-value form on seeded edge alerts") {
    checkProp(Prop.forAllNoShrink(edgeAlert)(sameFeatures), 600)
  }

  test("parsePolygon returns the same ring or the same error as the regex-split form") {
    val polygon = Gen.oneOf(polygonText(false), polygonText(true),
      Gen.listOf(Gen.oneOf(wsRun, Gen.oneOf(",", "-", "1", "4.5", "a", "e7"))).map(_.mkString))
    def same(s: String): Boolean = (Geo.parsePolygon(s), FeaturesRefForm.parsePolygon(s)) match {
      case (Right(a), Right(b)) =>
        assert(a.length == b.length && a.indices.forall(i => a(i).sameElements(b(i))), String.valueOf(s))
        true
      case (a, b) =>
        assert(a == b, String.valueOf(s))
        true
    }
    checkProp(Prop.forAllNoShrink(polygon)(same), 3000)
    Seq(null, "", "   ", "1,2 3,4", "x " * 5, "91,1 " * 4).foreach(same)
    assert(Geo.parsePolygon("a,b c,d e,f g,h").left.toOption.get.endsWith("..."))
  }
}
