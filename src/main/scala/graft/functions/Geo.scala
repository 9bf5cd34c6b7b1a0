package graft.functions

import JsCompat.{foreachJsWsPiece, jsParseFloat, jsTrim}

/** Geometry scalar functions (SURVEY.md §2.4, reference `task.ts:255-378`).
  * Pure Scala — used directly in the typed fan-out and registrable as UDFs.
  * Semantics replicate the reference exactly, including its quirks
  * (reject-whole-polygon on any invalid pair, [lon,lat] swap, ring
  * auto-close, degenerate-area mean fallback, circle radius validation).
  */
object Geo {

  /** G1 — parse `"lat,lon lat,lon …"` into a closed GeoJSON ring
    * (`task.ts:255-317`). Left(error) reproduces the reference's throw:
    * any invalid pair rejects the whole polygon; <3 valid points rejects;
    * first≠last auto-closes.
    *
    * One scan: the pairs are the JS `split(/\s+/)` pieces of the trimmed
    * string ([[JsCompat.foreachJsWsPiece]]), each cut at its comma and
    * parsed in place by the range form of `JsCompat.jsParseFloat`;
    * only an invalid pair becomes a String, for the error message. A
    * piece holds no JS whitespace, so a side is blank exactly when it is
    * empty. The ring holds doubles only: `Features` appends them straight
    * into the polygon feature's builder, and no vertex text is kept.
    */
  def parsePolygon(polygonStr: String): Either[String, Array[Array[Double]]] = {
    if (polygonStr == null) return Left("Empty or invalid polygon string")
    val s = jsTrim(polygonStr)
    if (s.isEmpty) return Left("Empty polygon string after trimming")

    val points = new scala.collection.mutable.ArrayBuffer[Array[Double]](s.length / 16 + 4)
    val invalid = scala.collection.mutable.ArrayBuffer.empty[String] // the first 3
    var invalidCount = 0
    foreachJsWsPiece(s) { (from, to) =>
      // JS `"a,b,c".split(',')` keeps every part incl. empties: a valid
      // pair has exactly one comma and a non-empty side on each of it
      val comma = commaIn(s, from, to)
      val ok = from < comma && comma < to - 1 && commaIn(s, comma + 1, to) == to && {
        val lat = jsParseFloat(s, from, comma)
        val lon = jsParseFloat(s, comma + 1, to)
        val inRange = lat >= -90 && lat <= 90 && lon >= -180 && lon <= 180 // false on NaN
        if (inRange) points += Array(lon, lat) // GeoJSON is [lon, lat]
        inRange
      }
      if (!ok && from < to) {
        if (invalidCount < 3) invalid += s.substring(from, to)
        invalidCount += 1
      }
    }

    if (invalidCount > 0)
      Left(s"Invalid coordinate pairs: ${invalid.mkString(", ")}${if (invalidCount > 3) "..." else ""}")
    else if (points.length < 3)
      Left(s"Insufficient valid points: ${points.length} (minimum 3 required)")
    else {
      if (points.head(0) != points.last(0) || points.head(1) != points.last(1))
        points += points.head.clone()
      Right(points.toArray)
    }
  }

  /** The first ',' in `s` between `from` and `to`, or `to`: the search
    * stays inside one piece, so a long polygon without commas is still
    * one scan. */
  private def commaIn(s: String, from: Int, to: Int): Int = {
    var i = from
    while (i < to && s.charAt(i) != ',') i += 1
    i
  }

  /** G2 — parse `"lat,lon radius"`; None (not an error) on any invalid
    * part (`task.ts:319-338`). The radius is validated (>0) but the
    * reference discards it downstream — preserved by the caller. JS
    * `split(' ')` keeps empty strings, so a double space kills the parse.
    */
  def parseCircle(circleStr: String): Option[(Array[Double], Double)] = {
    if (circleStr == null) return None
    val parts = jsTrim(circleStr).split(" ", -1)
    if (parts.length >= 2) {
      val latLon = parts(0).split(",", -1)
      if (latLon.length >= 2 && latLon(0).nonEmpty && latLon(1).nonEmpty) {
        val lat = jsParseFloat(latLon(0))
        val lon = jsParseFloat(latLon(1))
        val radius = jsParseFloat(parts(1))
        if (!lat.isNaN && !lon.isNaN && !radius.isNaN &&
            lat >= -90 && lat <= 90 && lon >= -180 && lon <= 180 && radius > 0)
          return Some((Array(lon, lat), radius))
      }
    }
    None
  }

  /** G3 — shoelace centroid of ring 0 with arithmetic-mean fallback for
    * degenerate (|area| < 1e-10) polygons and [0,0] for <3 points
    * (`task.ts:340-378`). Per-row scalar over an array column, not an
    * aggregation.
    */
  def polygonCentroid(ring: Array[Array[Double]]): Array[Double] = {
    if (ring.length < 3) return Array(0.0, 0.0)
    var area = 0.0
    var cx = 0.0
    var cy = 0.0
    var i = 0
    while (i < ring.length - 1) {
      val x0 = ring(i)(0); val y0 = ring(i)(1)
      val x1 = ring(i + 1)(0); val y1 = ring(i + 1)(1)
      val a = x0 * y1 - x1 * y0
      area += a
      cx += (x0 + x1) * a
      cy += (y0 + y1) * a
      i += 1
    }
    area *= 0.5
    if (math.abs(area) < 1e-10) {
      var x = 0.0; var y = 0.0
      ring.foreach { p => x += p(0); y += p(1) }
      Array(x / ring.length, y / ring.length)
    } else {
      Array(cx / (6 * area), cy / (6 * area))
    }
  }

  /** G4 — fallback point at the approximate center of NZ
    * (`task.ts:791-796`). */
  val NzCenter: Array[Double] = Array(174.0, -41.0)
}
