package graft.cap

import graft.functions.{Cert, Geo, JsCompat, Lookups}
import Json._

/** X2 fan-out + O1-O6 output assembly (reference `task.ts:644-875`).
  *
  * One alert becomes:
  *  - per successfully parsed polygon i: a Polygon feature
  *    (id `identifier` or `identifier-i` when multiple) + a `-center`
  *    Point feature at the shoelace centroid;
  *  - on polygon-parse failure (even mid-array): the successfully parsed
  *    prefix's features PLUS one fallback Point feature (`task.ts:776-779`
  *    + `791` — partial-failure semantics preserved);
  *  - circle alerts: one Point at the circle center (radius parsed then
  *    discarded, `task.ts:780-788`);
  *  - otherwise: one Point at NZ center `[174,-41]`.
  *
  * Quirks replicated on purpose (SURVEY.md §2.7):
  *  - `'Description: ' + description || ''` precedence bug — the line
  *    always survives the blank filter (`task.ts:695`);
  *  - the signature block's leading `''` separator is REMOVED by the
  *    `.filter(r => r.trim())` (`task.ts:705-713`);
  *  - polygon features spread style keys at the top level with opacities
  *    0.5/0.4; point features nest them under `style` with
  *    0.5019607843137255, and `style` is present (possibly `{}`) on every
  *    point-branch feature (`task.ts:723-730` vs `799-806`, `868`);
  *  - center features carry `icon` and `metadata.isCenter:true` but no
  *    style (`task.ts:742-772`).
  *
  * Any date-parse failure throws — callers isolate per alert (F2), which
  * reproduces the reference's per-alert try/catch drop.
  */
object Features {

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
          val ring = Geo.parsePolygon(a.polygon(i)) match {
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

  /** Sink envelope (`task.ts:615-623`): rendered Feature documents
    * (`CotFeature.json`) wrapped as a FeatureCollection, in the given
    * order. One `mkString`, so a multi-MB sink body is built once. */
  def featureCollectionJson(jsons: scala.collection.Seq[String]): String =
    jsons.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
}
