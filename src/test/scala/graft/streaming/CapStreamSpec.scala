package graft.streaming

import java.time.Instant

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.cap.{CapAlert, CapPipeline}
import graft.GraftTestSession

/** Streaming semantics: the batch pipeline's steps, drained AvailableNow
  * over the fixture directory, must reproduce the batch pipeline's
  * output; the stateful lifecycle runs on MemoryStream-driven
  * micro-batches.
  */
class CapStreamSpec extends AnyFunSuite with GraftTestSession {

  private val asOf = Instant.parse("2024-06-01T00:00:00Z")

  private def mkAlert(id: String, msgType: String, sent: String): CapAlert =
    CapAlert(id, "sender@x", sent, "Actual", msgType, "Public",
      "Met", "Wind", "Immediate", "Severe", "Observed", "MetService",
      s"headline $id", "desc", "instr", "Monitor", "", "", "",
      "Area", Seq("-41,174 -42,175 -41,175 -41,174"), "", "", "")

  test("AvailableNow streaming over fixtures equals the batch pipeline") {
    import spark.implicits._
    val expected = {
      val xml = spark.read.option("wholetext", "true").text("fixtures/cap").as[String]
      CapPipeline.toFeatures(CapPipeline.active(xml, asOf)).collect().map(_.id).sorted
    }
    val xml = spark.readStream.option("wholetext", "true").text("fixtures/cap").as[String]
    val q = CapPipeline.toFeatures(CapPipeline.active(xml, asOf))
      .writeStream
      .format("memory")
      .queryName("feat_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("feat_stream").collect()
      .map(_.getAs[String]("id")).sorted
    assert(got.sameElements(expected), s"stream=${got.toSeq} batch=${expected.toSeq}")
    assert(got.nonEmpty)
  }

  test("lifecycle orders by ABSOLUTE time across mixed UTC offsets, not by string") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[CapAlert]
    val q = CapStream.lifecycle(in.toDS())
      .writeStream.format("memory").queryName("lifecycle_tz")
      .outputMode("update")
      .start()
    // '2024-05-01T22:00:00+12:00' is 10:00Z — EARLIER than 11:00Z even
    // though the string compares greater.
    in.addData(
      mkAlert("z", "Alert", "2024-05-01T22:00:00+12:00"),
      mkAlert("z", "Update", "2024-05-01T11:00:00Z"))
    q.processAllAvailable()
    val r = spark.table("lifecycle_tz").collect()
      .map(x => (x.getString(0), x.getSeq[String](2), x.getString(3)))
      .maxBy(_._2.length)
    assert(r._2 == Seq("Alert", "Update"), s"wrong order: ${r._2}")
    assert(r._3 == "2024-05-01T11:00:00Z", s"lastSent must be the absolute-latest: ${r._3}")
    q.stop()
  }

  test("lifecycle state machine: Alert -> Update stays active, Cancel is terminal") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[CapAlert]
    val q = CapStream.lifecycle(in.toDS())
      .writeStream.format("memory").queryName("lifecycle")
      .outputMode("update")
      .start()
    in.addData(mkAlert("x", "Alert", "2024-05-01T10:00:00Z"),
      mkAlert("y", "Alert", "2024-05-01T10:00:00Z"))
    q.processAllAvailable()
    in.addData(mkAlert("x", "Update", "2024-05-01T11:00:00Z"))
    q.processAllAvailable()
    in.addData(mkAlert("x", "Cancel", "2024-05-01T12:00:00Z"),
      mkAlert("y", "Update", "2024-05-01T12:30:00Z"))
    q.processAllAvailable()
    // latest state per id from the update-mode output
    val last = spark.table("lifecycle").collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[String](2), r.getString(3)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._3.length) }
    assert(last("x")._2 == "cancelled")
    assert(last("x")._3 == Seq("Alert", "Update", "Cancel"))
    assert(last("y")._2 == "active")
    assert(last("y")._4 == "2024-05-01T12:30:00Z")
    q.stop()
  }

  test("lifecycleTransitions emits one audit row per state change, none for no-ops") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[CapAlert]
    val q = CapStream.lifecycleTransitions(in.toDS())
      .writeStream.format("memory").queryName("transitions")
      .outputMode("update")
      .start()
    in.addData(mkAlert("x", "Alert", "2024-05-01T10:00:00Z"))
    q.processAllAvailable()
    // Update keeps status=active → NO transition row may be emitted
    in.addData(mkAlert("x", "Update", "2024-05-01T11:00:00Z"))
    q.processAllAvailable()
    in.addData(mkAlert("x", "Cancel", "2024-05-01T12:00:00Z"))
    q.processAllAvailable()
    // post-cancel Update is terminal-absorbed → again no row
    in.addData(mkAlert("x", "Update", "2024-05-01T13:00:00Z"))
    q.processAllAvailable()
    val rows = spark.table("transitions").collect()
      .map(r => (r.getAs[String]("fromStatus"), r.getAs[String]("toStatus"),
        r.getAs[String]("msgType")))
    assert(rows.toSeq == Seq(
      ("none", "active", "Alert"),
      ("active", "cancelled", "Cancel")),
      s"audit log must hold exactly the two real transitions, got ${rows.toSeq}")
    q.stop()
  }
}
