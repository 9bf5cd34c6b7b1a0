package graft.cap

/** Minimal JSON writer with JS `JSON.stringify` semantics — deterministic
  * key order (caller-supplied), JS number rendering (integral doubles
  * print without a decimal point), and stringify-compatible escaping.
  * Used for golden-comparable CoT feature output; no external deps.
  */
object Json {

  def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  def str(s: String): String = "\"" + esc(s) + "\""

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
    * [[jsDouble]]'s BigDecimal probe. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" // JSON.stringify(NaN) → null
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else {
      val fast = fixedScale(d)
      if (fast != null) fast else jsDouble(d)
    }

  private val Pow10: Array[Double] = Array.tabulate(16)(i => math.pow(10, i))

  /** [[num]]'s fast path: `d` with the fewest decimals (1..15) that
    * round-trip, or null when there is none with m < 10^15. */
  private def fixedScale(d: Double): String = {
    val a = math.abs(d)
    if (a < 1e-6 || a >= 1e15) return null
    var s = 1
    while (s <= 15) {
      val m = math.rint(a * Pow10(s))
      if (m >= 1e15) return null
      if (m / Pow10(s) == a) return plainDecimal(d < 0, m.toLong, s)
      s += 1
    }
    null
  }

  /** `[-]m·10^-s` in plain notation with exactly `s` decimals. */
  private def plainDecimal(neg: Boolean, m: Long, s: Int): String = {
    val digits = java.lang.Long.toString(m)
    val intLen = digits.length - s
    val sb = new java.lang.StringBuilder(digits.length + s + 3)
    if (neg) sb.append('-')
    if (intLen <= 0) {
      sb.append("0.")
      var z = -intLen
      while (z > 0) { sb.append('0'); z -= 1 }
      sb.append(digits)
    } else sb.append(digits, 0, intLen).append('.').append(digits, intLen, digits.length)
    sb.toString
  }

  /** Shortest round-trip digits by probing 1..17 significant digits —
    * [[num]]'s general path, and the oracle its fast path is tested
    * against. */
  private[cap] def jsDouble(d: Double): String = {
    val neg = d < 0
    val a = math.abs(d)
    // Shortest digit string that round-trips. BigDecimal(a) is the
    // EXACT binary value; rounding it to k significant digits with
    // HALF_EVEN yields the k-digit decimal closest to `a`, breaking
    // exact ties toward even — precisely ECMA-262 Number::toString's
    // choice. (java.util.Formatter's %e is HALF_UP and would diverge
    // on exact ties.)
    var k = 1
    var rounded = java.math.BigDecimal.ZERO
    var done = false
    while (!done && k <= 17) {
      rounded = new java.math.BigDecimal(a)
        .round(new java.math.MathContext(k, java.math.RoundingMode.HALF_EVEN))
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

  /** JSON boolean — used for the `archived`/`isCenter` constants. */
  def bool(b: Boolean): String = if (b) "true" else "false"

  /** Object from pre-rendered (key → json-value) pairs, in order. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
