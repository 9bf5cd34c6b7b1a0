package graft.cap

import org.scalatest.funsuite.AnyFunSuite

class FeaturesSpec extends AnyFunSuite {
  import Features._

  private def alert(
      identifier: String = "TEST-1",
      headline: String = "Test Alert",
      description: String = "desc",
      instruction: String = "",
      onset: String = "",
      expires: String = "",
      web: String = "",
      polygon: Seq[String] = Nil,
      circle: String = "",
      colorCode: String = "",
      category: String = "Met",
      event: String = "rainfall",
      severity: String = "Severe",
      cert: String = ""): CapAlert =
    CapAlert(identifier, "sender@x", "2026-08-10T10:00:00+12:00", "Actual",
      "Alert", "Public", category, event, "Expected", severity, "Likely",
      "MetService", headline, description, instruction, "Prepare",
      onset, expires, web, "Area", polygon, circle, colorCode, cert)

  private val goodPoly = "-41.0,174.0 -41.5,174.5 -42.0,174.0 -41.0,174.0"
  private val goodPoly2 = "-43.0,171.0 -43.5,171.8 -44.0,171.0 -43.0,171.0"
  private val badPoly = "91.0,174.0 -41.5,174.5 -42.0,174.0"

  test("X2: single polygon → polygon + center, unsuffixed id (task.ts:662)") {
    val fs = alertToFeatures(alert(polygon = Seq(goodPoly)))
    assert(fs.map(_.id) == Seq("TEST-1", "TEST-1-center"))
    assert(fs.map(_.geomType) == Seq("Polygon", "Point"))
    assert(fs(1).isCenter && fs(1).icon.isDefined && fs(0).icon.isEmpty)
  }

  test("X2: multi-polygon → -i suffixed ids (task.ts:662, 743)") {
    val fs = alertToFeatures(alert(polygon = Seq(goodPoly, goodPoly2)))
    assert(fs.map(_.id) == Seq("TEST-1-0", "TEST-1-0-center", "TEST-1-1", "TEST-1-1-center"))
  }

  test("X2: failed polygon → single NZ-center fallback point (task.ts:777-796)") {
    val fs = alertToFeatures(alert(polygon = Seq(badPoly)))
    assert(fs.map(_.id) == Seq("TEST-1"))
    assert(fs.head.json.contains(""""coordinates":[174,-41]"""))
    assert(fs.head.icon.isDefined) // point branch carries icon
  }

  test("X2: partial failure keeps prefix AND adds fallback (task.ts:776-779)") {
    val fs = alertToFeatures(alert(polygon = Seq(goodPoly, badPoly)))
    assert(fs.map(_.id) == Seq("TEST-1-0", "TEST-1-0-center", "TEST-1"))
  }

  test("X2: failure at index 0 of multi → fallback only") {
    val fs = alertToFeatures(alert(polygon = Seq(badPoly, goodPoly)))
    assert(fs.map(_.id) == Seq("TEST-1"))
  }

  test("X2: circle → point at center, radius discarded (task.ts:780-788)") {
    val fs = alertToFeatures(alert(circle = "-41.5,174.1 30.0"))
    assert(fs.map(_.geomType) == Seq("Point"))
    assert(fs.head.json.contains(""""coordinates":[174.1,-41.5]"""))
    assert(!fs.head.json.contains("radius"))
  }

  test("X2: invalid circle → NZ-center fallback (task.ts:791-796)") {
    val fs = alertToFeatures(alert(circle = "-41.5,174.1 0"))
    assert(fs.head.json.contains(""""coordinates":[174,-41]"""))
  }

  test("X2: no geometry → NZ-center fallback") {
    val fs = alertToFeatures(alert())
    assert(fs.map(_.geomType) == Seq("Point"))
    assert(fs.head.json.contains(""""coordinates":[174,-41]"""))
  }

  test("O5: polygon branch spreads top-level style, 0.5/0.4 (task.ts:723-730)") {
    val fs = alertToFeatures(alert(polygon = Seq(goodPoly), colorCode = "#FF8918"))
    val poly = fs.head.json
    assert(poly.contains(""""stroke":"#FF8918""""))
    assert(poly.contains(""""stroke-opacity":0.5"""))
    assert(poly.contains(""""stroke-width":3"""))
    assert(poly.contains(""""fill-opacity":0.4"""))
    assert(!poly.contains(""""style""""))
    // center has no style at all
    assert(!fs(1).json.contains("stroke"))
  }

  test("O5: point branch nests style with 0.5019607843137255 (task.ts:799-806)") {
    val fs = alertToFeatures(alert(circle = "-41.5,174.1 30.0", colorCode = "#FFFF00"))
    val j = fs.head.json
    assert(j.contains(""""style":{"stroke":"#FFFF00","stroke-opacity":0.5019607843137255"""))
    assert(j.contains(""""fill-opacity":0.5019607843137255"""))
  }

  test("O5: point branch without color still has empty style (task.ts:868)") {
    val fs = alertToFeatures(alert())
    assert(fs.head.json.contains(""""style":{},"archived":false"""))
  }

  test("O1: time/start/stale ISO rendering (task.ts:670-672)") {
    val fs = alertToFeatures(alert(
      onset = "2026-08-12T06:00:00+12:00", expires = "2030-08-13T18:00:00+12:00"))
    val j = fs.head.json
    assert(j.contains(""""time":"2026-08-09T22:00:00.000Z""""))
    assert(j.contains(""""start":"2026-08-11T18:00:00.000Z""""))
    assert(j.contains(""""stale":"2030-08-13T06:00:00.000Z""""))
  }

  test("O1: no expires → no stale key (JSON.stringify drops undefined)") {
    val fs = alertToFeatures(alert())
    assert(!fs.head.json.contains("stale"))
  }

  test("O3: remarks quirks — bare Description:/Instruction: lines survive (task.ts:695)") {
    val fs = alertToFeatures(alert(description = "", instruction = ""))
    val r = fs.head.remarks
    assert(r.startsWith("Description: \nInstruction: \nCategory: "))
  }

  test("O3: remarks Onset/Expires in NZ local time with NZT suffix (task.ts:703-704)") {
    val fs = alertToFeatures(alert(onset = "2026-08-12T06:00:00+12:00"))
    assert(fs.head.remarks.contains("Onset: 12/08/2026, 6:00:00 am NZT"))
  }

  test("O3: signature block — leading blank line is filtered out (task.ts:705-713)") {
    val b64 = java.util.Base64.getEncoder.encodeToString(
      "CN=Issuer X, O=Org Y, 250101000000Z 271023120000Z".getBytes)
    val fs = alertToFeatures(alert(cert = b64))
    val r = fs.head.remarks
    assert(r.contains("Response: Prepare\nDigital Signature\nName: Org Y\nIssuer: Issuer X\nValid Until: 2027-10-23\nFingerprint: "))
  }

  test("O4: links only when web present, uid = feature id (task.ts:714-722)") {
    val withWeb = alertToFeatures(alert(polygon = Seq(goodPoly), web = "https://x.nz/a"))
    assert(withWeb(0).json.contains(""""links":[{"uid":"TEST-1","relation":"r-u","mime":"text/html","url":"https://x.nz/a","remarks":"CAP Alert Details"}]"""))
    assert(withWeb(1).json.contains(""""uid":"TEST-1-center""""))
    val noWeb = alertToFeatures(alert(polygon = Seq(goodPoly)))
    assert(!noWeb(0).json.contains("links"))
  }

  test("O2: metadata has 19 fields; center adds isCenter (task.ts:673-693, 752-755)") {
    val fs = alertToFeatures(alert(polygon = Seq(goodPoly)))
    assert(!fs(0).json.contains("isCenter"))
    assert(fs(1).json.contains(""""areaDesc":"Area","isCenter":true}"""))
  }

  test("callsign defaults to 'CAP Alert' when headline empty (task.ts:668)") {
    val fs = alertToFeatures(alert(headline = ""))
    assert(fs.head.callsign == "CAP Alert")
  }

  test("invalid sent throws (per-alert isolation drops it upstream)") {
    assertThrows[IllegalArgumentException] {
      alertToFeatures(alert().copy(sent = "not-a-date"))
    }
  }

  test("JS truthiness: single empty polygon string is falsy → circle branch") {
    val fs = alertToFeatures(alert(polygon = Seq(""), circle = "-41.5,174.1 30.0"))
    assert(fs.head.json.contains(""""coordinates":[174.1,-41.5]"""))
  }

  test("FeatureCollection envelope (task.ts:615-623)") {
    val fs = alertToFeatures(alert())
    val fc = featureCollectionJson(fs.map(_.json))
    assert(fc.startsWith("""{"type":"FeatureCollection","features":[{"""))
  }
}
