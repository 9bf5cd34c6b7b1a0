package graft.cap

import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession

class CapPipelineSpec extends AnyFunSuite with GraftTestSession {

  private val asOf = Instant.parse("2026-08-12T00:00:00Z")
  private val fixtureDir = "fixtures/cap"

  /** The features of the fixture alerts active at `at`. */
  private def featuresAt(at: Instant): Seq[CotFeature] = {
    import spark.implicits._
    val xml = spark.read.option("wholetext", "true").text(fixtureDir).as[String]
    CapPipeline.toFeatures(CapPipeline.active(xml, at)).collect().toSeq
  }

  private lazy val features: Map[String, CotFeature] =
    featuresAt(asOf).map(f => f.id -> f).toMap

  test("end-to-end over all fixtures: expected feature id set") {
    val expected = Set(
      "MS-2026-001", "MS-2026-001-center",
      "MS-2026-002-0", "MS-2026-002-0-center", "MS-2026-002-1", "MS-2026-002-1-center",
      "GEONET-2026-100",
      "NEMA-2026-007",
      "MS-2026-BAD",
      "MS-2026-PART-0", "MS-2026-PART-0-center", "MS-2026-PART",
      "MS-2026-RING", "MS-2026-RING-center",
      "MS-2026-SCALAR",
      "MS-2026-UNK",
      "MS-2026-NODESC",
      "MS-2026-BADCERT",
      "NEMA-2026-MULTI")
    assert(features.keySet == expected)
    // expired.xml, missing-identifier.xml, and empty-info.xml
    // contribute nothing
  }

  test("P6: an EMPTY <info/> element drops the alert (fast-xml-parser '' falsy parity)") {
    // CapXml.decode reads <info/> as one info with every field absent,
    // where the reference's parser yields '' (falsy → dropped,
    // task.ts:427-430); without the empty-info check this alert would
    // emit a spurious NZ-center feature.
    assert(!features.keySet.exists(_.contains("EMPTYINFO")))
  }

  test("P4 multi-<info> quirk: array info → all info fields '', NZ-center point") {
    val f = features("NEMA-2026-MULTI")
    // JS reads info.x off the ARRAY → undefined → '' (task.ts:427-453):
    // no polygon survives, so a single fallback Point at NZ center.
    assert(f.geomType == "Point")
    assert(f.json.contains(""""coordinates":[174,-41]"""))
    assert(f.callsign == "CAP Alert") // headline '' → default
    assert(f.json.contains(""""headline":"""""))
    assert(f.json.contains(""""areaDesc":"""""))
    assert(f.remarks.contains("Category: Unknown"))
  }

  test("P7: ColourCode name mapped to hex through the color table") {
    assert(features("MS-2026-001").json.contains(""""stroke":"#FF8918"""")) // Orange
    assert(features("GEONET-2026-100").json.contains(""""stroke":"#FFFF00"""")) // Yellow
  }

  test("P7: ColourCodeHex passthrough (scalar parameter normalize)") {
    assert(features("MS-2026-002-0").json.contains(""""stroke":"#FFD000""""))
    assert(features("MS-2026-SCALAR").json.contains(""""stroke":"#AB12CD""""))
  }

  test("G2: circle center point, [lon,lat] swapped") {
    assert(features("GEONET-2026-100").json.contains(""""coordinates":[174.1,-41.5]"""))
  }

  test("G4: bad polygon and no-geometry fall back to NZ center") {
    assert(features("MS-2026-BAD").json.contains(""""coordinates":[174,-41]"""))
    assert(features("NEMA-2026-007").json.contains(""""coordinates":[174,-41]"""))
  }

  test("G1+G3: unclosed ring auto-closes; center point is inside") {
    val ring = features("MS-2026-RING")
    assert(ring.geomType == "Polygon")
    val center = features("MS-2026-RING-center")
    assert(center.json.contains(""""type":"Point""""))
  }

  test("P8: signature metadata reaches remarks (fingerprint parity vector)") {
    val r = features("MS-2026-001").remarks
    assert(r.contains("Digital Signature"))
    assert(r.contains("Name: METEOROLOGICAL SERVICE OF NEW ZEALAND LIMITED"))
    assert(r.contains("Issuer: MetService CAP Authority"))
    assert(r.contains("Valid Until: 2027-10-23"))
    assert(r.contains("Fingerprint: D5:93:0A:F3:76:F1:F2:16:4A:77:3D:F0:A8:7A:B9:6D:CD:45:18:3D:C8:45:A0:B4:3E:D0:D5:F6:36:6A:BE:8A"))
  }

  test("P8: bad cert falls back to CERT_DEFAULTS") {
    val r = features("MS-2026-BADCERT").remarks
    assert(r.contains("Issuer: cap.metservice.com"))
    assert(r.contains("Fingerprint: Unknown"))
  }

  test("L3 icons: pattern group, direct map, severity fallback") {
    assert(features("MS-2026-001-center").icon.get.endsWith("NH.05.HeavyRain.png"))
    assert(features("GEONET-2026-100").icon.get.endsWith("NH.24.Earthquake.png"))
    // unknown event + Met + Moderate → NonUrgent
    assert(features("MS-2026-UNK").icon.get.endsWith("INC.39.NaturalDisaster2.NonUrgent.png"))
  }

  test("O3: no-description quirk — bare 'Description: ' line survives") {
    assert(features("MS-2026-NODESC").remarks.startsWith("Description: \n"))
  }

  test("O3: unknown codes pass through category/event lookups") {
    val r = features("MS-2026-UNK").remarks
    assert(r.contains("Category: Meteorological (including flood)"))
    assert(r.contains("Event: zombieApocalypse")) // passthrough
    assert(r.contains("Urgency: Unknown")) // empty → Unknown
  }

  test("F1: asOf before expiry keeps the alert; reference boundary is strict <") {
    // expired.xml has expires 2020-01-02; absent from features (checked above).
    // re-run with asOf back in 2019 → it must appear.
    val old = featuresAt(Instant.parse("2019-12-31T00:00:00Z")).map(_.id).toSet
    assert(old.contains("MS-2020-999"))
  }

  test("P1-P3: feed link extraction, both formats, dedup, predicate") {
    import spark.implicits._
    val rss = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("fixtures/feed/rss.xml")))
    val atom = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("fixtures/feed/atom.xml")))
    // single body: first-occurrence order, exactly [...new Set(links)]
    // (task.ts:580) — the reference processes one feed per invocation
    val rssLinks = CapPipeline.parseFeedLinks(Seq(rss).toDS()).collect().toSeq
    assert(rssLinks == Seq(
      "https://alerts.example.nz/", // 'alert' substring in host keeps it
      "https://alerts.example.nz/cap/rss/abc123", // deduped, first position kept
      "https://alerts.example.nz/cap/rss/def456"))
    // multiple bodies: ordered by first extraction position, link as the
    // deterministic cross-body tiebreak
    val links = CapPipeline.parseFeedLinks(Seq(rss, atom).toDS()).collect().toSeq
    assert(links == Seq(
      "https://alerts.example.nz/",
      "https://api.geonet.org.nz/cap/1.2/GPA1.0/feed/atom1.0/quake",
      "https://alerts.example.nz/cap/rss/abc123",
      "https://api.geonet.org.nz/cap/1.2/GPA1.0/quake/2026p123456",
      "https://alerts.example.nz/cap/rss/def456"))
    // padded links: the pipeline and the capfeed planner return the same
    // JS-trimmed links (.trim() strips newlines, indents, NBSP and BOM)
    val padded = "<rss><channel><item><link>\n    https://alerts.example.nz/cap/rss/nl1\n  </link></item>" +
      "<link rel=\"alternate\" href=\"\u00a0\ufeffhttps://alerts.example.nz/cap/atom/pad1\ufeff\u00a0\"/>" +
      "</channel></rss>"
    val trimmed = Seq("https://alerts.example.nz/cap/rss/nl1", "https://alerts.example.nz/cap/atom/pad1")
    assert(CapPipeline.parseFeedLinks(Seq(padded).toDS()).collect().toSeq == trimmed)
    assert(graft.sources.FeedLinks.extract(padded) == trimmed)
  }

  test("golden: metservice-polygon FeatureCollection JSON") {
    val goldenPath = java.nio.file.Paths.get("fixtures/golden/metservice-polygon.json")
    val fs = Seq(features("MS-2026-001"), features("MS-2026-001-center"))
    val got = Features.featureCollectionJson(fs.map(_.json))
    if (!java.nio.file.Files.exists(goldenPath)) {
      java.nio.file.Files.createDirectories(goldenPath.getParent)
      java.nio.file.Files.writeString(goldenPath, got)
      info(s"golden written: $goldenPath (first run)")
    }
    val want = new String(java.nio.file.Files.readAllBytes(goldenPath))
    assert(got == want)
  }

  test("golden: full fixture corpus FeatureCollection (regression lock)") {
    // Locks the byte-exact output for EVERY fixture (circle, multi-
    // polygon, partial failure, scalar param, multi-info, bad cert, …).
    // The metservice golden above was hand-derived from task.ts; this
    // one was generated from the verified implementation and guards
    // against regressions, not independently re-derived.
    val goldenPath = java.nio.file.Paths.get("fixtures/golden/all-fixtures.json")
    val fs = features.keys.toSeq.sorted.map(features)
    val got = Features.featureCollectionJson(fs.map(_.json))
    if (!java.nio.file.Files.exists(goldenPath)) {
      java.nio.file.Files.createDirectories(goldenPath.getParent)
      java.nio.file.Files.writeString(goldenPath, got)
      info(s"golden written: $goldenPath (first run)")
    }
    val want = new String(java.nio.file.Files.readAllBytes(goldenPath))
    assert(got == want)
  }

  test("cap1-cap5 oracles read the goldens of this checkout") {
    val dir = new java.io.File("fixtures/golden").getAbsolutePath
    for (sql <- Seq(graft.queries.CapQueries.cap1Sql, graft.queries.CapQueries.cap2Sql,
        graft.queries.CapQueries.cap3Sql, graft.queries.CapQueries.cap4Sql,
        graft.queries.CapQueries.cap5Sql))
      assert(sql.contains(s"'$dir/"), s"oracle reads goldens outside $dir: $sql")
  }
}
