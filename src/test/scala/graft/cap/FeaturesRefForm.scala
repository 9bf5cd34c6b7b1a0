package graft.cap

import graft.functions.{Cert, Geo, JsCompat, Lookups}

/** The String-per-value form of the CoT feature render: a String per
  * JSON value and per vertex, joined by `mkString`, with the polygon
  * pairs cut by a whitespace regex and `split(",", -1)`. It is the
  * differential reference for [[Features.alertToFeatures]], which
  * renders the same bytes into one builder per feature; only the specs
  * run it. */
object FeaturesRefForm {

  // ---- the String-returning JSON writer ----

  private def esc(s: String): String = {
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

  private def str(s: String): String = "\"" + esc(s) + "\""

  private val Pow10: Array[Double] = Array.tabulate(16)(i => math.pow(10, i))

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else {
      val fast = fixedScale(d)
      if (fast != null) fast else Json.jsDouble(d)
    }

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

  private def bool(b: Boolean): String = if (b) "true" else "false"

  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  private def arr(items: Seq[String]): String = items.mkString("[", ",", "]")

  // ---- the regex-split polygon parse ----

  private val jsWsRun = java.util.regex.Pattern.compile(s"[${JsCompat.JsWsChars}]+")

  /** `Geo.parsePolygon`'s reference: the same ring or the same error. */
  def parsePolygon(polygonStr: String): Either[String, Array[Array[Double]]] = {
    if (polygonStr == null) return Left("Empty or invalid polygon string")
    val trimmed = JsCompat.jsTrim(polygonStr)
    if (trimmed.isEmpty) return Left("Empty polygon string after trimming")

    val coordPairs = jsWsRun.split(trimmed, -1)
    val points = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val invalid = scala.collection.mutable.ArrayBuffer.empty[String]

    for (pair <- coordPairs) {
      if (pair.isEmpty || !pair.contains(",")) {
        if (pair.nonEmpty) invalid += pair
      } else {
        // JS ``"a,b,c".split(',')`` keeps every part incl. trailing empties
        val parts = pair.split(",", -1)
        if (parts.length != 2) invalid += pair
        else {
          val (latStr, lonStr) = (parts(0), parts(1))
          if (JsCompat.jsTrim(latStr).isEmpty || JsCompat.jsTrim(lonStr).isEmpty) invalid += pair
          else {
            val lat = JsCompat.jsParseFloat(latStr)
            val lon = JsCompat.jsParseFloat(lonStr)
            if (lat.isNaN || lon.isNaN) invalid += pair
            else if (lat < -90 || lat > 90 || lon < -180 || lon > 180) invalid += pair
            else points += Array(lon, lat) // GeoJSON is [lon, lat]
          }
        }
      }
    }

    if (invalid.nonEmpty)
      Left(s"Invalid coordinate pairs: ${invalid.take(3).mkString(", ")}${if (invalid.length > 3) "..." else ""}")
    else if (points.length < 3)
      Left(s"Insufficient valid points: ${points.length} (minimum 3 required)")
    else {
      if (points.head(0) != points.last(0) || points.head(1) != points.last(1))
        points += points.head.clone()
      Right(points.toArray)
    }
  }

  // ---- the fan-out ----

  private def iso(s: String): String =
    JsCompat.jsDateParse(s) match {
      case Some(i) => JsCompat.toIsoString(i)
      case None    => throw new IllegalArgumentException(s"Invalid Date: $s")
    }

  private def nz(s: String): String =
    JsCompat.jsDateParse(s) match {
      case Some(i) => JsCompat.toNzLocaleString(i)
      case None    => throw new IllegalArgumentException(s"Invalid Date: $s")
    }

  private def metadataJson(a: CapAlert, isCenter: Boolean): String = {
    val base = Seq(
      "sender" -> str(a.sender), "sent" -> str(a.sent),
      "status" -> str(a.status), "msgType" -> str(a.msgType),
      "scope" -> str(a.scope), "category" -> str(a.category),
      "event" -> str(a.event), "urgency" -> str(a.urgency),
      "severity" -> str(a.severity), "certainty" -> str(a.certainty),
      "senderName" -> str(a.senderName), "headline" -> str(a.headline),
      "description" -> str(a.description), "instruction" -> str(a.instruction),
      "responseType" -> str(a.responseType), "onset" -> str(a.onset),
      "expires" -> str(a.expires), "web" -> str(a.web),
      "areaDesc" -> str(a.areaDesc))
    obj(if (isCenter) base :+ ("isCenter" -> bool(true)) else base)
  }

  private def remarksText(a: CapAlert, sig: Option[Cert.SignatureMeta]): String = {
    def orUnknown(s: String) = if (s.nonEmpty) s else "Unknown"
    val lines = Seq(
      "Description: " + a.description, // `|| ''` never fires (task.ts:695)
      "Instruction: " + a.instruction,
      "Category: " + Lookups.categoryDescription(a.category),
      "Event: " + Lookups.eventDescription(a.event),
      "Urgency: " + orUnknown(a.urgency),
      "Severity: " + orUnknown(a.severity),
      "Certainty: " + orUnknown(a.certainty),
      "Response: " + orUnknown(a.responseType)) ++
      (if (a.onset.nonEmpty) Seq("Onset: " + nz(a.onset) + " NZT") else Nil) ++
      (if (a.expires.nonEmpty) Seq("Expires: " + nz(a.expires) + " NZT") else Nil) ++
      (sig match {
        case Some(m) => Seq(
          "", // filtered out below — reference quirk
          "Digital Signature",
          "Name: " + orUnknown(m.subject),
          "Issuer: " + orUnknown(m.issuer),
          "Valid Until: " + orUnknown(m.validUntil),
          "Fingerprint: " + orUnknown(m.fingerprint))
        case None => Nil
      })
    lines.filter(_.trim.nonEmpty).mkString("\n")
  }

  private def linksJson(a: CapAlert, uid: String): Option[(String, String)] =
    if (a.web.nonEmpty)
      Some("links" -> arr(Seq(obj(Seq(
        "uid" -> str(uid), "relation" -> str("r-u"), "mime" -> str("text/html"),
        "url" -> str(a.web), "remarks" -> str("CAP Alert Details"))))))
    else None

  private def featureJson(id: String, properties: String, geometry: String): String =
    obj(Seq("id" -> str(id), "type" -> str("Feature"),
      "properties" -> properties, "geometry" -> geometry))

  private def pointGeom(c: Array[Double]): String =
    obj(Seq("type" -> str("Point"), "coordinates" -> arr(c.map(num).toSeq)))

  private def polygonGeom(ring: Array[Array[Double]]): String =
    obj(Seq("type" -> str("Polygon"),
      "coordinates" -> arr(Seq(arr(ring.map(p => arr(p.map(num).toSeq)).toSeq)))))

  /** The fan-out. Throws on unparseable sent/onset/expires — isolate per
    * alert at the caller (CapPipeline.toFeatures). */
  def alertToFeatures(a: CapAlert): Seq[CotFeature] = {
    val sig = if (a.cert.nonEmpty) Cert.signatureMeta(a.cert) else None
    val callsign = if (a.headline.nonEmpty) a.headline else "CAP Alert"
    val timeIso = iso(a.sent)
    val startIso = if (a.onset.nonEmpty) iso(a.onset) else timeIso
    val staleIso = if (a.expires.nonEmpty) Some(iso(a.expires)) else None
    val remarks = remarksText(a, sig)
    val hasColor = a.colorCode.nonEmpty
    val icon = Lookups.eventIcon(a.event, a.category, a.severity, a.headline)

    def headProps(withIcon: Boolean): Seq[(String, String)] =
      Seq("callsign" -> str(callsign), "type" -> str("a-f-X-i"),
        "time" -> str(timeIso), "start" -> str(startIso)) ++
        staleIso.map("stale" -> str(_)).toSeq ++
        (if (withIcon) Seq("icon" -> str(icon)) else Nil)

    def polygonFeature(polygonId: String, ring: Array[Array[Double]]): CotFeature = {
      val styleFields =
        if (hasColor) Seq(
          "stroke" -> str(a.colorCode), "stroke-opacity" -> num(0.5),
          "stroke-width" -> num(3), "stroke-style" -> str("solid"),
          "fill-opacity" -> num(0.4), "fill" -> str(a.colorCode))
        else Nil
      val props = obj(headProps(withIcon = false) ++
        Seq("metadata" -> metadataJson(a, isCenter = false), "remarks" -> str(remarks)) ++
        linksJson(a, polygonId).toSeq ++ styleFields :+ ("archived" -> bool(false)))
      CotFeature(polygonId, "Polygon", isCenter = false, callsign, None, remarks,
        featureJson(polygonId, props, polygonGeom(ring)))
    }

    def centerFeature(polygonId: String, centroid: Array[Double]): CotFeature = {
      val id = s"$polygonId-center"
      val props = obj(headProps(withIcon = true) ++
        Seq("metadata" -> metadataJson(a, isCenter = true), "remarks" -> str(remarks)) ++
        linksJson(a, id).toSeq :+ ("archived" -> bool(false)))
      CotFeature(id, "Point", isCenter = true, callsign, Some(icon), remarks,
        featureJson(id, props, pointGeom(centroid)))
    }

    def pointFeature(coords: Array[Double]): CotFeature = {
      val style =
        if (hasColor) obj(Seq(
          "stroke" -> str(a.colorCode), "stroke-opacity" -> num(0.5019607843137255),
          "stroke-width" -> num(3), "stroke-style" -> str("solid"),
          "fill-opacity" -> num(0.5019607843137255), "fill" -> str(a.colorCode)))
        else "{}" // `style: baseStyle` is unconditional on this branch (task.ts:868)
      val props = obj(headProps(withIcon = true) ++
        Seq("metadata" -> metadataJson(a, isCenter = false), "remarks" -> str(remarks)) ++
        linksJson(a, a.identifier).toSeq ++ Seq("style" -> style, "archived" -> bool(false)))
      CotFeature(a.identifier, "Point", isCenter = false, callsign, Some(icon), remarks,
        featureJson(a.identifier, props, pointGeom(coords)))
    }

    // JS truthiness of `area.polygon`: '' (single empty) is falsy; a
    // non-empty array is truthy even if its elements are empty strings.
    val polygonTruthy = a.polygon.nonEmpty && !(a.polygon.length == 1 && a.polygon.head.isEmpty)

    if (polygonTruthy) {
      val out = scala.collection.mutable.ArrayBuffer.empty[CotFeature]
      try {
        for (i <- a.polygon.indices) {
          val ring = parsePolygon(a.polygon(i)) match {
            case Right(r) => r
            case Left(e)  => throw new IllegalArgumentException(e)
          }
          if (ring.length >= 4) {
            val polygonId =
              if (a.polygon.length > 1) s"${a.identifier}-$i" else a.identifier
            out += polygonFeature(polygonId, ring)
            out += centerFeature(polygonId, Geo.polygonCentroid(ring))
          }
        }
        return out.toSeq // full success: no fallback point (task.ts:776)
      } catch {
        case _: IllegalArgumentException =>
          // partial failure: keep prefix, add fallback point (task.ts:777-796)
      }
      (out += pointFeature(Geo.NzCenter)).toSeq
    } else if (a.circle.nonEmpty) {
      val coords = Geo.parseCircle(a.circle) match {
        case Some((center, _)) => center // radius discarded (task.ts:780-788)
        case None              => Geo.NzCenter
      }
      Seq(pointFeature(coords))
    } else {
      Seq(pointFeature(Geo.NzCenter))
    }
  }
}
