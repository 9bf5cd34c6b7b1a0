package graft.cap

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession

object ParseRobustnessSpec {
  /** Arbitrary text and broken CAP fragments. */
  val garbage: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.asciiPrintableStr,
    Gen.const(""),
    Gen.const("<alert>"),
    Gen.const("<alert><identifier>x</identifier>"),
    Gen.const("<?xml version=\"1.0\"?><alert><info><polygon>"),
    Gen.const("<alert><info><area><polygon>1,2 3,4</polygon></area></info></alert>"),
    Gen.listOfN(64, Gen.choose(Char.MinValue, '퟿')).map(_.mkString))
}

/** Fuzz the ingest path: arbitrary garbage through parseAlerts must
  * never throw — malformed XML becomes zero rows (P6 drop semantics,
  * matching the reference's per-alert error isolation), not a job
  * failure.
  */
class ParseRobustnessSpec extends AnyFunSuite with GraftTestSession {
  import ParseRobustnessSpec.garbage

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p)
    assert(res.passed, res.status.toString)
  }

  test("parseAlerts never throws on malformed input; invalid alerts drop to zero rows") {
    import spark.implicits._
    checkProp(Prop.forAll(Gen.listOfN(5, garbage)) { docs =>
      val out = CapPipeline.parseAlerts(docs.toDS()).collect()
      // every surviving row must satisfy the P6 validity contract
      out.forall(a => a.identifier.nonEmpty && a.sender.nonEmpty && a.sent.nonEmpty)
    })
  }

  test("the fan-out never throws through the quarantine path on fuzzed alerts") {
    import spark.implicits._
    val weird = Seq(
      CapAlert("id1", "s", "not a date", "", "", "", "", "", "", "", "", "", "",
        "", "", "", "garbage-onset", "garbage-expires", "", "",
        Seq("nonsense", "", "1,2"), "circle nonsense", "#zzz", "not-base64!"),
      CapAlert("id2", "s", "2024-01-01T00:00:00Z", "", "", "", "", "", "", "", "",
        "", "", "", "", "", "", "", "", "", Seq.empty, "", "", ""))
    // must evaluate without throwing; id1 (bad sent) quarantined, id2 emits
    val q = CapPipeline.quarantine(weird.toDS()).collect().map(_.identifier).toSet
    val f = CapPipeline.toFeatures(weird.toDS()).collect().map(_.id)
    assert(q == Set("id1"))
    assert(f.nonEmpty && f.forall(_.startsWith("id2")))
  }
}
