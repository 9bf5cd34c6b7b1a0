package graft.cap

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession

/** F2 quarantine semantics: throwing alerts surface as (id, error)
  * rows; healthy alerts quarantine nothing, and a failing alert leaves
  * the other alerts' features unchanged.
  */
class QuarantineSpec extends AnyFunSuite with GraftTestSession {

  private def alert(id: String, sent: String): CapAlert =
    CapAlert(id, "sender@x", sent, "Actual", "Alert", "Public",
      "Met", "Wind", "Immediate", "Severe", "Observed", "MetService",
      s"headline $id", "desc", "instr", "Monitor", "", "", "",
      "Area", Seq("-41,174 -42,175 -41,175 -41,174"), "", "", "")

  test("unparseable sent is quarantined with an error; valid alerts pass through") {
    import spark.implicits._
    val alerts = Seq(
      alert("ok-1", "2024-05-01T10:00:00Z"),
      alert("bad-1", "not a date"),
      alert("ok-2", "2024-05-02T10:00:00Z")).toDS()
    val q = CapPipeline.quarantine(alerts).collect()
    assert(q.map(_.identifier).toSeq == Seq("bad-1"))
    assert(q.head.error.nonEmpty)

    val featIds = CapPipeline.toFeatures(alerts).collect().map(_.id).toSet
    // polygon + centroid features for each valid alert, none for bad-1
    assert(featIds.exists(_.startsWith("ok-1")))
    assert(featIds.exists(_.startsWith("ok-2")))
    assert(!featIds.exists(_.startsWith("bad-1")))
    // the failing alert leaves the other alerts' features unchanged
    assert(featIds == CapPipeline.toFeatures(alerts.filter(_.identifier != "bad-1"))
      .collect().map(_.id).toSet)
  }

  test("fixture corpus quarantines nothing (all failures are handled fallbacks)") {
    import spark.implicits._
    val xml = spark.read.option("wholetext", "true").text("fixtures/cap").as[String]
    val quarantine = CapPipeline.quarantine(CapPipeline.parseAlerts(xml))
    assert(quarantine.count() == 0, s"unexpected quarantine: ${quarantine.collect().toSeq}")
  }
}
