package graft.functions

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, LocalDateTime, OffsetDateTime, ZoneId, ZoneOffset}
import java.util.Locale

/** JavaScript-compatible primitives. The reference (task.ts) leans on JS
  * host semantics — `parseFloat` prefix parsing, `new Date(...)` ISO
  * parsing, `toISOString()` millisecond-Z rendering, and
  * `toLocaleString('en-NZ', {timeZone:'Pacific/Auckland'})` — so those
  * semantics are reproduced here exactly and unit-tested.
  */
object JsCompat {

  /** The ECMA-262 WhiteSpace ∪ LineTerminator set — what JS `\s`,
    * `String#trim`, and `parseFloat` skip. Java's `\s` and `trim` are
    * ASCII-only and even `strip()` misses NBSP/U+FEFF, so every
    * JS-parity whitespace operation must go through these. */
  val JsWsChars: String =
    "\\t\\n\\x0B\\f\\r \\u00a0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000\\ufeff"

  private val jsWsRun = java.util.regex.Pattern.compile(s"[$JsWsChars]+")

  /** `JsWsChars` as a lookup table over every UTF-16 code unit, built
    * once from the same class so the set keeps a single definition. */
  private val isJsWs: Array[Boolean] = {
    val one = java.util.regex.Pattern.compile(s"[$JsWsChars]")
    Array.tabulate(65536)(c => one.matcher(String.valueOf(c.toChar)).matches())
  }

  /** JS `String#trim` (Unicode whitespace + BOM, unlike Java trim). */
  def jsTrim(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && isJsWs(s.charAt(b))) b += 1
    while (e > b && isJsWs(s.charAt(e - 1))) e -= 1
    s.substring(b, e)
  }

  /** JS `split(/\s+/)` — Unicode whitespace runs, precompiled. */
  def jsWsSplit(s: String): Array[String] = jsWsRun.split(s, -1)

  /** JS `replace(/\s/g, '')` / `replaceAll(re, "")` over JS-\s. */
  def jsWsRemove(s: String): String = jsWsRun.matcher(s).replaceAll("")

  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** End of the run of ASCII digits in `t` starting at `i`. */
  private def digitsEnd(t: String, i: Int): Int = {
    var j = i
    while (j < t.length && isDigit(t.charAt(j))) j += 1
    j
  }

  /** JS `parseFloat`: longest valid numeric prefix, NaN if none.
    * (`task.ts:287-288`, `327-330` rely on this — "1.5abc" parses to 1.5.)
    * Optionally-signed `Infinity` is a valid JS prefix too — the
    * reference accepts a circle radius of Infinity (`task.ts:327-336`).
    * The prefix is the longest match of
    * `[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?` (ASCII digits), found by
    * one forward scan and handed to `Double.parseDouble`. */
  def jsParseFloat(s: String): Double = {
    val t = jsTrim(s)
    if (t.startsWith("Infinity") || t.startsWith("+Infinity")) Double.PositiveInfinity
    else if (t.startsWith("-Infinity")) Double.NegativeInfinity
    else {
      val n = t.length
      val start = if (n > 0 && (t.charAt(0) == '+' || t.charAt(0) == '-')) 1 else 0
      val intEnd = digitsEnd(t, start)
      var end = intEnd
      if (end < n && t.charAt(end) == '.') {
        val fracEnd = digitsEnd(t, end + 1)
        if (intEnd > start || fracEnd > end + 1) end = fracEnd
      }
      if (end == start) Double.NaN // no mantissa digits
      else {
        if (end < n && (t.charAt(end) == 'e' || t.charAt(end) == 'E')) {
          val signed = end + 1 < n && (t.charAt(end + 1) == '+' || t.charAt(end + 1) == '-')
          val expStart = if (signed) end + 2 else end + 1
          val expEnd = digitsEnd(t, expStart)
          if (expEnd > expStart) end = expEnd
        }
        java.lang.Double.parseDouble(t.substring(0, end))
      }
    }
  }

  /** JS Date's representable range: ±8.64e15 ms from the epoch
    * (ECMA-262 time-value clip). Anything outside is Invalid Date. */
  private val JsMaxAbsMillis = 8640000000000000L

  private val yearOnlyRe = """^\d{4}$""".r
  private val yearMonthRe = """^\d{4}-\d{2}$""".r
  // ISO permits hour 24 iff minutes/seconds/fraction are all zero; JS
  // accepts it, java.time's parsers do not.
  private val hour24Re =
    """^(.+)T24:00(?::00(?:\.0{1,3})?)?(Z|[+-]\d{2}:\d{2})?$""".r

  /** JS `new Date(str)` for the ISO-8601 shapes CAP feeds use,
    * including the JS-only forms `YYYY`, `YYYY-MM`, and `T24:00:00`
    * end-of-day rollover. Date-only and offset-less date-times are
    * treated as UTC (the reference Lambda runs with TZ=UTC). Returns
    * None for JS "Invalid Date" — including dates java.time can parse
    * but that fall outside JS's ±8.64e15 ms range (year ±275760-ish),
    * which would otherwise overflow `toEpochMilli` downstream and kill
    * the whole job on one pathological row. */
  def jsDateParse(s: String): Option[Instant] = {
    val t0 = jsTrim(s)
    if (t0.isEmpty) return None
    val expanded = t0 match {
      case yearOnlyRe()  => t0 + "-01-01"
      case yearMonthRe() => t0 + "-01"
      case _             => t0
    }
    val (t, addDay) = expanded match {
      case hour24Re(datePart, offset) =>
        (datePart + "T00:00:00" + Option(offset).getOrElse(""), true)
      case _ => (expanded, false)
    }
    def tryParse[A](f: => A): Option[A] =
      try Some(f) catch { case _: Exception => None }
    tryParse(OffsetDateTime.parse(t).toInstant)
      .orElse(tryParse(Instant.parse(t)))
      .orElse(tryParse(LocalDateTime.parse(t).toInstant(ZoneOffset.UTC)))
      .orElse(tryParse(LocalDate.parse(t).atStartOfDay(ZoneOffset.UTC).toInstant))
      .map(i => if (addDay) i.plus(1, java.time.temporal.ChronoUnit.DAYS) else i)
      .filter { i =>
        try math.abs(i.toEpochMilli) <= JsMaxAbsMillis
        catch { case _: ArithmeticException => false }
      }
  }

  private val isoMillisRest =
    DateTimeFormatter.ofPattern("-MM-dd'T'HH:mm:ss.SSS'Z'")
      .withZone(ZoneOffset.UTC)

  /** JS `Date.prototype.toISOString()` — always millisecond precision,
    * always `Z` (`task.ts:670-672`). Years are proleptic (`uuuu`
    * semantics): 0000–9999 print as 4 digits, anything else as the JS
    * expanded ±6-digit form (`+275760`, `-000001`) — the `yyyy`
    * year-of-era pattern would silently mangle BCE years. */
  def toIsoString(i: Instant): String = {
    val y = i.atZone(ZoneOffset.UTC).getYear
    val ys =
      if (y >= 0 && y <= 9999) f"$y%04d"
      else if (y > 9999) f"+$y%06d"
      else f"-${-y}%06d"
    ys + isoMillisRest.format(i)
  }

  private val nzZone = ZoneId.of("Pacific/Auckland")
  private val nzFmt =
    DateTimeFormatter.ofPattern("d/MM/yyyy, h:mm:ss a", Locale.ENGLISH)

  /** JS `toLocaleString('en-NZ', {timeZone:'Pacific/Auckland'})` —
    * `d/MM/yyyy, h:mm:ss am|pm` with lowercase meridiem
    * (`task.ts:703-704`). DST (NZST/NZDT) handled by the zone rules. */
  def toNzLocaleString(i: Instant): String = {
    val s = nzFmt.format(i.atZone(nzZone))
    s.replace("AM", "am").replace("PM", "pm")
  }
}
