package graft.cap

import graft.functions.{Cert, Geo, JsCompat, Lookups}

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
  *
  * Builder contract: each Feature document is rendered into one
  * pre-sized `java.lang.StringBuilder` through the [[Json]] writers. The
  * fragments all of an alert's features share — the head props, the
  * metadata (closed with or without `isCenter`), the escaped remarks,
  * the polygon style and the links after their `uid` — are rendered
  * once per alert and appended to each feature as they stand; a
  * polygon's vertices go straight into its own feature's builder.
  */
object Features {
  import Json.{num, str}

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

  private def builder(capacity: Int) = new java.lang.StringBuilder(capacity)

  /** `,"metadata":{` and the 19 alert fields, left open for [[Shared]]
    * to close with or without `isCenter` (`task.ts:673-693`, `752-755`). */
  private def metadataOpen(a: CapAlert): String = {
    val sb = builder(512 + a.description.length + a.instruction.length)
    str(sb.append(",\"metadata\":{\"sender\":"), a.sender)
    str(sb.append(",\"sent\":"), a.sent)
    str(sb.append(",\"status\":"), a.status)
    str(sb.append(",\"msgType\":"), a.msgType)
    str(sb.append(",\"scope\":"), a.scope)
    str(sb.append(",\"category\":"), a.category)
    str(sb.append(",\"event\":"), a.event)
    str(sb.append(",\"urgency\":"), a.urgency)
    str(sb.append(",\"severity\":"), a.severity)
    str(sb.append(",\"certainty\":"), a.certainty)
    str(sb.append(",\"senderName\":"), a.senderName)
    str(sb.append(",\"headline\":"), a.headline)
    str(sb.append(",\"description\":"), a.description)
    str(sb.append(",\"instruction\":"), a.instruction)
    str(sb.append(",\"responseType\":"), a.responseType)
    str(sb.append(",\"onset\":"), a.onset)
    str(sb.append(",\"expires\":"), a.expires)
    str(sb.append(",\"web\":"), a.web)
    str(sb.append(",\"areaDesc\":"), a.areaDesc)
    sb.toString
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

  /** One alert's shared fragments, rendered once; [[feature]] appends
    * them to each of its features. */
  private final class Shared(a: CapAlert) {
    private val sig = if (a.cert.nonEmpty) Cert.signatureMeta(a.cert) else None
    val callsign: String = if (a.headline.nonEmpty) a.headline else "CAP Alert"

    /** `{"callsign":…,"type":"a-f-X-i","time":…,"start":…[,"stale":…]`;
      * sent, onset and expires parse in this order, so an alert with
      * several bad dates fails on the first. */
    val head: String = {
      val timeIso = iso(a.sent)
      val sb = builder(160)
      str(sb.append("{\"callsign\":"), callsign)
      str(sb.append(",\"type\":\"a-f-X-i\",\"time\":"), timeIso)
      str(sb.append(",\"start\":"), if (a.onset.nonEmpty) iso(a.onset) else timeIso)
      if (a.expires.nonEmpty) str(sb.append(",\"stale\":"), iso(a.expires))
      sb.toString
    }
    val remarks: String = remarksText(a, sig)
    val icon: String = Lookups.eventIcon(a.event, a.category, a.severity, a.headline)
    val iconField: String = str(builder(icon.length + 12).append(",\"icon\":"), icon).toString
    val metadata: String = metadataOpen(a)
    val remarksField: String =
      str(builder(remarks.length + 16).append(",\"remarks\":"), remarks).toString
    /** The link object after its `uid` (`task.ts:714-722`), or null without `web`. */
    val linkTail: String =
      if (a.web.isEmpty) null
      else str(builder(a.web.length + 96).append(",\"relation\":\"r-u\",\"mime\":\"text/html\",\"url\":"),
        a.web).append(",\"remarks\":\"CAP Alert Details\"}]").toString
    /** The polygon branch's top-level style keys (`task.ts:723-730`), or "". */
    val polygonStyle: String =
      if (a.colorCode.isEmpty) ""
      else {
        val sb = builder(160)
        str(sb.append(",\"stroke\":"), a.colorCode)
          .append(",\"stroke-opacity\":0.5,\"stroke-width\":3,\"stroke-style\":\"solid\",\"fill-opacity\":0.4")
        str(sb.append(",\"fill\":"), a.colorCode).toString
      }
    /** The point branch's nested style (`task.ts:799-806`); `style` is
      * unconditional on this branch (`task.ts:868`). */
    def pointStyle: String =
      if (a.colorCode.isEmpty) ",\"style\":{}"
      else {
        val sb = builder(192)
        str(sb.append(",\"style\":{\"stroke\":"), a.colorCode)
          .append(",\"stroke-opacity\":0.5019607843137255,\"stroke-width\":3,\"stroke-style\":\"solid\"")
          .append(",\"fill-opacity\":0.5019607843137255")
        str(sb.append(",\"fill\":"), a.colorCode).append('}').toString
      }
    /** Characters every feature of the alert takes besides its id,
      * style and geometry. */
    val size: Int = head.length + iconField.length + metadata.length + remarksField.length +
      (if (linkTail == null) 0 else linkTail.length) + 128
  }

  /** One Feature document: `id`, the properties from the shared
    * fragments, then `geometry` appends the geometry object. */
  private def feature(sh: Shared, id: String, withIcon: Boolean, isCenter: Boolean,
      style: String, geometrySize: Int)(geometry: java.lang.StringBuilder => Unit): String = {
    val sb = builder(sh.size + 3 * id.length + style.length + geometrySize)
    str(sb.append("{\"id\":"), id).append(",\"type\":\"Feature\",\"properties\":").append(sh.head)
    if (withIcon) sb.append(sh.iconField)
    sb.append(sh.metadata).append(if (isCenter) ",\"isCenter\":true}" else "}").append(sh.remarksField)
    if (sh.linkTail != null) str(sb.append(",\"links\":[{\"uid\":"), id).append(sh.linkTail)
    sb.append(style).append(",\"archived\":false},\"geometry\":")
    geometry(sb)
    sb.append('}').toString
  }

  private def pointGeom(sb: java.lang.StringBuilder, c: Array[Double]): Unit = {
    num(sb.append("{\"type\":\"Point\",\"coordinates\":["), c(0)).append(',')
    num(sb, c(1)).append("]}")
  }

  private def polygonGeom(sb: java.lang.StringBuilder, ring: Array[Array[Double]]): Unit = {
    sb.append("{\"type\":\"Polygon\",\"coordinates\":[[")
    var i = 0
    while (i < ring.length) {
      if (i > 0) sb.append(',')
      num(num(sb.append('['), ring(i)(0)).append(','), ring(i)(1)).append(']')
      i += 1
    }
    sb.append("]]}")
  }

  /** The fan-out. Throws on unparseable sent/onset/expires — isolate per
    * alert at the caller (CapPipeline.toFeatures). */
  def alertToFeatures(a: CapAlert): Seq[CotFeature] = {
    val sh = new Shared(a)

    def polygonFeature(polygonId: String, ring: Array[Array[Double]]): CotFeature =
      CotFeature(polygonId, "Polygon", isCenter = false, sh.callsign, None, sh.remarks,
        feature(sh, polygonId, withIcon = false, isCenter = false, sh.polygonStyle,
          40 + 32 * ring.length)(polygonGeom(_, ring)))

    def centerFeature(polygonId: String, centroid: Array[Double]): CotFeature = {
      val id = s"$polygonId-center"
      CotFeature(id, "Point", isCenter = true, sh.callsign, Some(sh.icon), sh.remarks,
        feature(sh, id, withIcon = true, isCenter = true, "", 80)(pointGeom(_, centroid)))
    }

    def pointFeature(coords: Array[Double]): CotFeature =
      CotFeature(a.identifier, "Point", isCenter = false, sh.callsign, Some(sh.icon), sh.remarks,
        feature(sh, a.identifier, withIcon = true, isCenter = false, sh.pointStyle, 80)(
          pointGeom(_, coords)))

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
    * order — [[EnvelopeOpen]], the documents joined by ',', then
    * [[EnvelopeClose]]. The `cloudtak` sink writes the same bytes. */
  def featureCollectionJson(jsons: scala.collection.Seq[String]): String =
    jsons.mkString(EnvelopeOpen, ",", EnvelopeClose)

  val EnvelopeOpen: String = """{"type":"FeatureCollection","features":["""
  val EnvelopeClose: String = "]}"
}
