package graft.cap

import java.util.Locale

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import Json.{jsDouble, num}

/** Property tests for the JS-number renderer: round-trip exactness,
  * shortestness and layout-range rules over arbitrary doubles, not just
  * the unit cases. `num`'s fixed-scale fast path is checked against the
  * BigDecimal probe (`jsDouble`) it short-cuts.
  */
class JsonPropSpec extends AnyFunSuite {

  private def checkProp(p: Prop, n: Int = 500): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private val finiteDoubles: Gen[Double] = Gen.oneOf(
    Gen.choose(-1e9, 1e9),
    Gen.choose(-1.0, 1.0),
    Gen.choose(-1e-5, 1e-5),
    Gen.choose(Double.MinValue / 2, Double.MaxValue / 2),
    // raw bit patterns cover subnormals and extreme exponents
    Gen.chooseNum(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble)
      .suchThat(d => !d.isNaN && !d.isInfinite))

  /** ±m·10^-s with m of 1–15 significant digits and s = 1..21: the
    * values the fast path exists for (the wide generators above almost
    * always draw 16–17-digit doubles), and, past scale 15, small values
    * of at most 15 digits that the fast path leaves to the probe. */
  private val shortDecimals: Gen[java.math.BigDecimal] = for {
    k <- Gen.choose(1, 15)
    s <- Gen.choose(1, 21)
    m <- Gen.choose(math.pow(10, k - 1).toLong, math.pow(10, k).toLong - 1)
    neg <- Gen.oneOf(false, true)
  } yield java.math.BigDecimal.valueOf(if (neg) -m else m, s)

  /** `%.4f` coordinates, as in CAP polygons. */
  private def coordinate(limit: Double): Gen[Double] =
    Gen.choose(-limit, limit)
      .map(x => String.format(Locale.ROOT, "%.4f", Double.box(x)).toDouble)

  private val allDoubles: Gen[Double] = Gen.oneOf(
    finiteDoubles, shortDecimals.map(_.doubleValue), coordinate(90), coordinate(180))

  test("num(d) parses back to exactly d (shortest round-trip digits)") {
    checkProp(Prop.forAll(allDoubles) { d =>
      java.lang.Double.parseDouble(num(d)) == d
    })
  }

  test("num(d) equals the BigDecimal probe on every generator") {
    checkProp(Prop.forAll(allDoubles) { d => num(d) == jsDouble(d) }, 20000)
  }

  test("a decimal of at most 15 significant digits renders as itself") {
    checkProp(Prop.forAll(shortDecimals) { b =>
      b.abs.compareTo(java.math.BigDecimal.valueOf(1, 6)) < 0 || // exponent form
        num(b.doubleValue) == b.stripTrailingZeros.toPlainString
    }, 20000)
  }

  test("fast-path edges (expected strings are Node's JSON.stringify)") {
    val cases = Seq(
      1e-6 -> "0.000001",                        // lowest fast-path magnitude
      -1e-6 -> "-0.000001",
      9.99999e-7 -> "9.99999e-7",                // below it: exponent form
      99999.9999999999 -> "99999.9999999999",    // m = 10^15 - 1 is accepted
      1234567890.12345 -> "1234567890.12345",    // 15 significant digits
      1234567890.123456 -> "1234567890.123456",  // 16: m reaches 10^15, falls back
      0.123456789012345 -> "0.123456789012345",  // 15 digits at scale 15
      0.1234567890123456 -> "0.1234567890123456",// 16: no scale fits, falls back
      (1.1 + 2.2) -> "3.3000000000000003",
      (0.1 + 0.7) -> "0.7999999999999999",
      -174.7762 -> "-174.7762",
      -0.0 -> "0")
    cases.foreach { case (d, js) =>
      assert(num(d) == js, s"num($d)")
      assert(jsDouble(d) == js, s"jsDouble($d)")
    }
  }

  test("exponent form appears exactly outside JS's plain range [1e-6, 1e21)") {
    checkProp(Prop.forAll(allDoubles) { d =>
      val s = num(d)
      val a = math.abs(d)
      val plainOk = d == 0.0 || s.contains("e") ||
        (a < 1e21 && (a >= 1e-6 || d == math.rint(d)))
      val expOk = !s.contains("e") || a >= 1e21 || a < 1e-6
      plainOk && expOk
    })
  }

  test("rendering never produces Java artifacts (E, trailing .0, leading +)") {
    checkProp(Prop.forAll(allDoubles) { d =>
      val s = num(d)
      !s.contains("E") && !(s.contains(".") && !s.contains("e") && s.endsWith("0")) &&
        !s.startsWith("+")
    })
  }
}
