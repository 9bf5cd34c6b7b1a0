package graft.functions

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import java.time.Instant

class JsCompatSpec extends AnyFunSuite {
  import JsCompat._

  // Regex definitions of jsTrim and jsParseFloat: the oracle the
  // hand-written scanners are checked against.
  private val trimRe = java.util.regex.Pattern.compile(s"^[$JsWsChars]+|[$JsWsChars]+$$")
  private val floatPrefixRe = """^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?""".r

  private def regexTrim(s: String): String = trimRe.matcher(s).replaceAll("")

  private def regexParseFloat(s: String): Double = {
    val t = regexTrim(s)
    if (t.startsWith("Infinity") || t.startsWith("+Infinity")) Double.PositiveInfinity
    else if (t.startsWith("-Infinity")) Double.NegativeInfinity
    else floatPrefixRe.findFirstIn(t).fold(Double.NaN)(_.toDouble)
  }

  /** Same double, NaN included, -0.0 told apart from 0.0. */
  private def same(a: Double, b: Double): Boolean = java.lang.Double.compare(a, b) == 0

  private val jsWhitespace: Seq[String] =
    (Seq('\t', '\n', '\u000b', '\f', '\r', ' ', '\u00a0', '\u1680', '\u2028', '\u2029',
      '\u202f', '\u205f', '\u3000', '\ufeff') ++ ('\u2000' to '\u200a')).map(_.toString)

  /** Strings of numeric characters, JS whitespace, near-miss spaces that
    * JS does not trim, letters and `Infinity`. */
  private val jsyStrings: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.oneOf("0123456789+-.eE".map(_.toString)),
    3 -> Gen.oneOf(jsWhitespace),
    1 -> Gen.oneOf("\u200b", "\u180e", "x", "a", "e", "I", "n"),
    1 -> Gen.const("Infinity"))).map(_.mkString)

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20000), p)
    assert(res.passed, res.status.toString)
  }

  test("jsTrim agrees with its regex definition on random strings") {
    checkProp(Prop.forAll(jsyStrings)(s => jsTrim(s) == regexTrim(s)))
  }

  test("jsParseFloat agrees with its regex definition on random strings") {
    checkProp(Prop.forAll(jsyStrings)(s => same(jsParseFloat(s), regexParseFloat(s))))
  }

  test("jsParseFloat / jsTrim: prefix edge cases") {
    val cases = Seq(
      "5." -> 5.0, "." -> Double.NaN, "+.5" -> 0.5, "1e" -> 1.0, "1e+" -> 1.0,
      "-.e1" -> Double.NaN, "\u2000 1.5\u3000" -> 1.5, "-0" -> -0.0, "1.e2x" -> 100.0)
    cases.foreach { case (s, v) =>
      assert(same(jsParseFloat(s), v), s)
      assert(same(regexParseFloat(s), v), s)
    }
    assert(jsTrim("\u2000 1.5\u3000") == "1.5")
    assert(jsTrim(" \t\ufeff ").isEmpty)
    // U+0085 is not JS whitespace. The regex's `$` also matches before a
    // final line terminator, so it wrongly trimmed " " in "x \u0085";
    // JS "x \u0085".trim() keeps all three characters, as the scanner does.
    assert(jsTrim("x \u0085") == "x \u0085")
  }

  test("jsParseFloat: prefix parsing like JS") {
    assert(jsParseFloat("1.5") == 1.5)
    assert(jsParseFloat("1.5abc") == 1.5)
    assert(jsParseFloat("-41.29") == -41.29)
    assert(jsParseFloat("  174.78  ") == 174.78)
    assert(jsParseFloat("1e3") == 1000.0)
    assert(jsParseFloat(".5") == 0.5)
    assert(jsParseFloat("abc").isNaN)
    assert(jsParseFloat("").isNaN)
    assert(jsParseFloat(",").isNaN)
  }

  test("jsParseFloat: signed Infinity like JS parseFloat") {
    assert(jsParseFloat("Infinity") == Double.PositiveInfinity)
    assert(jsParseFloat("+Infinity") == Double.PositiveInfinity)
    assert(jsParseFloat("-Infinity") == Double.NegativeInfinity)
    assert(jsParseFloat("Infinity123") == Double.PositiveInfinity) // prefix rule
    assert(jsParseFloat("  Infinity") == Double.PositiveInfinity)
    assert(jsParseFloat("Inf").isNaN) // JS rejects partial keyword
  }

  test("jsDateParse: ISO shapes") {
    assert(jsDateParse("2026-08-12T10:00:00Z").contains(Instant.parse("2026-08-12T10:00:00Z")))
    assert(jsDateParse("2026-08-12T10:00:00+12:00").contains(Instant.parse("2026-08-11T22:00:00Z")))
    assert(jsDateParse("2026-08-12T10:00:00.123Z").contains(Instant.parse("2026-08-12T10:00:00.123Z")))
    assert(jsDateParse("2026-08-12").contains(Instant.parse("2026-08-12T00:00:00Z")))
    assert(jsDateParse("garbage").isEmpty)
    assert(jsDateParse("").isEmpty)
  }

  test("jsDateParse: dates outside JS's +-8.64e15 ms range are Invalid Date") {
    // java.time parses year 999999999 but JS clips at +-275760-09-13;
    // unguarded this overflows toEpochMilli and kills the whole job.
    assert(jsDateParse("+999999999-01-01T00:00:00Z").isEmpty)
    assert(jsDateParse("-999999999-01-01T00:00:00Z").isEmpty)
    assert(jsDateParse("+275760-09-13T00:00:00Z").nonEmpty) // JS max exact
    assert(jsDateParse("+275760-09-14T00:00:00Z").isEmpty)  // one day past
  }

  test("jsDateParse: JS-only shapes — bare year, year-month, 24:00 rollover") {
    assert(jsDateParse("2027") == jsDateParse("2027-01-01T00:00:00Z"))
    assert(jsDateParse("2027-03") == jsDateParse("2027-03-01T00:00:00Z"))
    assert(jsDateParse("2025-06-15T24:00:00Z") == jsDateParse("2025-06-16T00:00:00Z"))
    assert(jsDateParse("2025-06-15T24:00Z") == jsDateParse("2025-06-16T00:00:00Z"))
    assert(jsDateParse("2025-06-15T24:00:01Z").isEmpty) // 24:xx only valid at exactly 24:00:00
    assert(jsDateParse("2027-13").isEmpty) // month out of range
  }

  test("JS whitespace: NBSP and friends count as \\s / trim targets") {
    assert(jsTrim("\u00a0 x \ufeff") == "x")
    assert(jsParseFloat("\u00a01.5abc") == 1.5)
    assert(jsWsSplit("a\u00a0b\u2028c").toSeq == Seq("a", "b", "c"))
    assert(jsWsRemove("a b\u00a0c\td") == "abcd")
  }

  test("toIsoString: expanded years match JS (proleptic, 6 digits outside 0000-9999)") {
    assert(toIsoString(java.time.Instant.parse("+275760-09-13T00:00:00Z"))
      == "+275760-09-13T00:00:00.000Z")
    assert(toIsoString(java.time.OffsetDateTime.parse("-000001-06-01T00:00:00Z").toInstant)
      == "-000001-06-01T00:00:00.000Z")
    assert(toIsoString(java.time.Instant.parse("0000-01-01T00:00:00Z"))
      == "0000-01-01T00:00:00.000Z")
  }

  test("toIsoString: JS toISOString millisecond-Z shape (task.ts:670)") {
    assert(toIsoString(Instant.parse("2026-08-11T22:00:00Z")) == "2026-08-11T22:00:00.000Z")
    assert(toIsoString(Instant.parse("2026-08-11T22:00:00.123Z")) == "2026-08-11T22:00:00.123Z")
  }

  test("toNzLocaleString: NZST winter (UTC+12), lowercase meridiem (task.ts:703)") {
    // August = NZ winter = NZST (UTC+12)
    val s = toNzLocaleString(Instant.parse("2026-08-11T22:00:00Z"))
    assert(s == "12/08/2026, 10:00:00 am", s)
  }

  test("toNzLocaleString: NZDT summer (UTC+13)") {
    // January = NZ summer = NZDT (UTC+13)
    val s = toNzLocaleString(Instant.parse("2026-01-15T02:30:05Z"))
    assert(s == "15/01/2026, 3:30:05 pm", s)
  }

  test("toNzLocaleString: DST transition boundaries (spring-forward gap, fall-back ambiguity)") {
    // NZDT starts the last Sunday of September: 02:00 NZST jumps to
    // 03:00 NZDT (2026-09-27, i.e. 2026-09-26T14:00Z). The 2 am wall
    // hour never exists — one second before the gap renders 1:59:59,
    // the gap instant itself 3:00:00, matching JS/ICU.
    assert(toNzLocaleString(Instant.parse("2026-09-26T13:59:59Z"))
      == "27/09/2026, 1:59:59 am")
    assert(toNzLocaleString(Instant.parse("2026-09-26T14:00:00Z"))
      == "27/09/2026, 3:00:00 am")
    // NZDT ends the first Sunday of April: 03:00 NZDT falls back to
    // 02:00 NZST (2026-04-05, i.e. 2026-04-04T14:00Z). The 2:00-2:59
    // wall hour occurs TWICE; both instants must render the same
    // ambiguous local time, exactly as JS toLocaleString does.
    assert(toNzLocaleString(Instant.parse("2026-04-04T13:30:00Z"))
      == "5/04/2026, 2:30:00 am") // first pass, still NZDT (UTC+13)
    assert(toNzLocaleString(Instant.parse("2026-04-04T14:30:00Z"))
      == "5/04/2026, 2:30:00 am") // second pass, NZST (UTC+12)
    // and the instant the clock falls back: 03:00:00 NZDT == 14:00Z
    // re-renders as 2:00:00 am NZST
    assert(toNzLocaleString(Instant.parse("2026-04-04T14:00:00Z"))
      == "5/04/2026, 2:00:00 am")
  }
}
