package graft.cap

/** Minimal JSON writer with JS `JSON.stringify` semantics — JS number
  * rendering (integral doubles print without a decimal point) and
  * stringify-compatible escaping. Used for golden-comparable CoT feature
  * output; no external deps.
  *
  * Builder contract: every writer appends to the caller's
  * `java.lang.StringBuilder` and returns it, so a document is rendered
  * into one builder with no String per value. Key order is the
  * caller's: keys and other constant text are pre-escaped literals
  * appended as they stand (`"\"id\":"`).
  */
object Json {

  private val Hex = "0123456789abcdef"

  private def needsEscape(c: Char): Boolean = c < ' ' || c == '"' || c == '\\'

  /** Appends `s` escaped as `JSON.stringify` escapes it, without the
    * quotes. A string with nothing to escape is appended whole. */
  def esc(sb: java.lang.StringBuilder, s: String): java.lang.StringBuilder = {
    val n = s.length
    var i = 0
    while (i < n && !needsEscape(s.charAt(i))) i += 1
    if (i == n) return sb.append(s)
    sb.append(s, 0, i)
    while (i < n) {
      s.charAt(i) match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append("\\u00").append(Hex.charAt(c >> 4)).append(Hex.charAt(c & 0xf))
        case c => sb.append(c)
      }
      i += 1
    }
    sb
  }

  /** Appends `s` as a JSON string literal. */
  def str(sb: java.lang.StringBuilder, s: String): java.lang.StringBuilder =
    esc(sb.append('"'), s).append('"')

  /** JS number rendering (`JSON.stringify` = `Number#toString`):
    * integral values print without a decimal point (`174`, not `174.0`);
    * exponent form only outside [1e-6, 1e21) (`0.0005`, not `5.0E-4`;
    * but `5e-7` and `1e+21`). Digits are the SHORTEST round-trip
    * representation — JDK 17's `Double.toString` is NOT shortest
    * (JDK-4511638, fixed only in 19: `1e23` renders as
    * `9.999999999999999E22`), so it cannot be reused.
    *
    * Fast path, for non-integral |d| in [1e-6, 1e15) (every polygon
    * vertex): for scale s = 1..15 take m = round(|d|·10^s) and accept the
    * first s where `m / 10^s == |d|`, giving up once m reaches 10^15. The
    * test is exact — 10^s and m (< 2^53) are exact doubles and IEEE
    * division is correctly rounded, so it is `parseDouble("m/10^s") == d`.
    * The accepted decimal has at most 15 significant digits, and a
    * round-tripping decimal of at most DBL_DIG = 15 digits is the only
    * one of its length, so it is the shortest and is what ECMA-262
    * picks. The product's rounding error stays under 0.2, so round()
    * cannot miss that decimal at its scale. Everything else — 16–17-digit
    * values such as centroids, and the exponent forms — goes to
    * [[jsDouble]]'s BigDecimal probe. Integral values and the fast path
    * append their digits straight into `sb`.
    *
    * A non-integral |d| in [1, 1e15) that the fast path misses has no
    * round-tripping decimal of 15 or fewer digits (such a decimal has at
    * most 14 decimals, so its scale is one the fast path tries), and the
    * probe starts at 16 digits. */
  def num(sb: java.lang.StringBuilder, d: Double): java.lang.StringBuilder =
    if (d.isNaN || d.isInfinite) sb.append("null") // JSON.stringify(NaN) → null
    else if (d == math.rint(d) && math.abs(d) < 1e15) sb.append(d.toLong)
    else if (fixedScale(sb, d)) sb
    else sb.append(jsDouble(d, if (math.abs(d) >= 1 && math.abs(d) < 1e15) 16 else 1))

  /** [[num]] as a String. */
  def num(d: Double): String = num(new java.lang.StringBuilder(24), d).toString

  private val Pow10: Array[Double] = Array.tabulate(16)(i => math.pow(10, i))
  private val LongPow10: Array[Long] = Array.tabulate(16)(i => math.pow(10, i).toLong)

  /** [[num]]'s fast path: appends `d` with the fewest decimals (1..15)
    * that round-trip and returns true, or appends nothing and returns
    * false when there is none with m < 10^15. */
  private def fixedScale(sb: java.lang.StringBuilder, d: Double): Boolean = {
    val a = math.abs(d)
    if (a < 1e-6 || a >= 1e15) return false
    var s = 1
    while (s <= 15) {
      val m = math.rint(a * Pow10(s))
      if (m >= 1e15) return false
      if (m / Pow10(s) == a) {
        plainDecimal(sb, d < 0, m.toLong, s)
        return true
      }
      s += 1
    }
    false
  }

  /** Appends `[-]m·10^-s` in plain notation with exactly `s` decimals:
    * the integer part, '.', then the fraction zero-padded to `s` digits. */
  private def plainDecimal(sb: java.lang.StringBuilder, neg: Boolean, m: Long, s: Int): Unit = {
    val frac = m % LongPow10(s)
    if (neg) sb.append('-')
    sb.append(m / LongPow10(s)).append('.')
    var z = s - 1
    while (z > 0 && frac < LongPow10(z)) { sb.append('0'); z -= 1 }
    sb.append(frac)
  }

  /** Shortest round-trip digits by probing `fromDigits`..17 significant
    * digits — [[num]]'s general path, and, from 1 digit, the oracle its
    * fast path is tested against. */
  private[cap] def jsDouble(d: Double, fromDigits: Int = 1): String = {
    val neg = d < 0
    val a = math.abs(d)
    // Shortest digit string that round-trips. BigDecimal(a) is the
    // EXACT binary value; rounding it to k significant digits with
    // HALF_EVEN yields the k-digit decimal closest to `a`, breaking
    // exact ties toward even — precisely ECMA-262 Number::toString's
    // choice. (java.util.Formatter's %e is HALF_UP and would diverge
    // on exact ties.)
    val exact = new java.math.BigDecimal(a)
    var k = fromDigits
    var rounded = java.math.BigDecimal.ZERO
    var done = false
    while (!done && k <= 17) {
      rounded = exact.round(new java.math.MathContext(k, java.math.RoundingMode.HALF_EVEN))
      if (rounded.doubleValue() == a) done = true else k += 1
    }
    val unscaled = rounded.unscaledValue.toString
    // exponent of the leading digit: precision - scale - 1
    val exp = rounded.precision - rounded.scale - 1
    val digits = unscaled.reverse.dropWhile(_ == '0').reverse match {
      case "" => "0"
      case x  => x
    }
    val out =
      if (exp >= 21 || exp <= -7) {
        // JS exponent form: mantissa without trailing ".0", e±exp
        val m = if (digits.length == 1) digits
                else digits.take(1) + "." + digits.drop(1)
        val sign = if (exp >= 0) "+" else "-"
        s"${m}e$sign${math.abs(exp)}"
      } else {
        val p = exp + 1 // digit count before the decimal point
        if (p <= 0) "0." + ("0" * -p) + digits
        else if (p >= digits.length) digits + ("0" * (p - digits.length))
        else digits.take(p) + "." + digits.drop(p)
      }
    if (neg) "-" + out else out
  }
}
