package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession

/** Gated (compact) version of the [[StreamSoak]] probe: the many-batch
  * drain path — 16 time-sliced micro-batches through RocksDB with a
  * mid-soak kill/resume — runs in every `sbt test`, so a regression in
  * long checkpoint lineages, per-batch state growth, or update-mode
  * re-emission semantics fails the build instead of waiting for the
  * next big-SF probe. The full-depth numbers (64 batches at sf0.1)
  * live in BENCH_NOTES §Round 16.
  */
class SoakSpec extends AnyFunSuite with GraftTestSession {

  // the bounded-state and eviction gates below read EXACT numRowsTotal,
  // so the soak opts back into the RocksDB row-count tracking the
  // session definition turns off
  override protected def suiteConfs = Map(
    "spark.sql.streaming.numRecentProgressUpdates" -> "64",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "true")

  private val sf = "/root/testdata/sf0.001"
  private val nSlices = 16

  private lazy val (arrivals, arrivalsDup, ev) = {
    val root = tempDir("graft_soak_spec").toString
    StreamSoak.writeTimeSlices(spark, sf, nSlices, root)
  }

  test("b51 ValueState survives a 16-batch drain with a mid-soak kill/resume " +
      "and converges to the batch aggregate") {
    def df = EventStream.userActivity(
      StreamSoak.readArrivals(spark, arrivals, ev.schema))
    // the kill lands between batches (StreamSoak.drive), so it fires on
    // every 16-slice drain and drops no committed batch's progress
    val work = tempDir("soak_b51").toString
    val half = StreamSoak.drive(spark, "spec_soak_b51", df, "update",
      s"$work/ckpt", s"$work/out", arrivals.getAbsolutePath,
      killAfter = nSlices / 2)
    val rest = StreamSoak.drive(spark, "spec_soak_b51_resume", df, "update",
      s"$work/ckpt", s"$work/out", arrivals.getAbsolutePath)
    assert(rest.finished, "the resumed run should drain to completion")
    assert(half.killed, "the mid-soak kill should fire")
    assert(!half.finished, "a killed run must not report finished")
    assert(rest.progress.count(_._2 > 0) > 0 || half.progress.count(_._2 > 0) >= nSlices,
      "the resumed run should have processed the remaining slices")
    val dataBatches = (half.progress ++ rest.progress).count(_._2 > 0)
    assert(dataBatches >= nSlices,
      s"expected >= $nSlices data micro-batches across kill+resume, saw $dataBatches")
    // converged value parity: per-user LAST update == batch GROUP BY
    val asym = StreamSoak.asymmetricRows(
      StreamSoak.lastUpdate(spark, s"$work/out", Seq("user_id")), StreamSoak.b51Oracle(ev))
    assert(asym == 0, s"$asym asymmetric rows between converged state and batch aggregate")
    // bounded state: the store plateaus at the user-key space, never above
    val users = ev.select("user_id").distinct().count()
    val maxState = (half.progress ++ rest.progress).map(_._4).max
    assert(maxState <= users,
      s"state rows $maxState exceeded the $users-user key space")
  }

  test("b45 session windows and b46 interval join drain 16 batches with exact " +
      "parity and watermark-evicted state") {
    // the two hardest state encodings (merging session state; symmetric
    // join buffers) — full-depth kill/resume evidence lives in the
    // StreamSoak probe, this gates the drain path per build
    val w45 = tempDir("soak_b45").toString
    val r45 = StreamSoak.drive(spark, "spec_soak_b45",
      EventStream.sessionAgg(StreamSoak.readArrivals(spark, arrivals, ev.schema)),
      "append", s"$w45/ckpt", s"$w45/out", arrivals.getAbsolutePath)
    assert(r45.finished && r45.progress.count(_._2 > 0) >= nSlices)
    val asym45 = StreamSoak.asymmetricRows(
      IdempotentSink.readBack(spark, s"$w45/out"), StreamSoak.b45Oracle(ev))
    assert(asym45 == 0, s"b45: $asym45 asymmetric session rows")
    val st45 = r45.progress.map(_._4)
    assert(st45.last < st45.max, s"b45: no session-state eviction (peak ${st45.max})")

    val w46 = tempDir("soak_b46").toString
    val r46 = StreamSoak.drive(spark, "spec_soak_b46", {
        val e = StreamSoak.readArrivals(spark, arrivals, ev.schema)
        EventStream.clickErrorJoin(e, e)
      }, "append", s"$w46/ckpt", s"$w46/out", arrivals.getAbsolutePath)
    assert(r46.finished && r46.progress.count(_._2 > 0) >= nSlices)
    val asym46 = StreamSoak.asymmetricRows(
      IdempotentSink.readBack(spark, s"$w46/out"), StreamSoak.b46Oracle(ev))
    assert(asym46 == 0, s"b46: $asym46 asymmetric joined rows")
    val st46 = r46.progress.map(_._4)
    assert(st46.last < st46.max, s"b46: no join-buffer eviction (peak ${st46.max})")
  }

  test("b47 dedup over a doubled 16-batch stream reproduces the raw table " +
      "with watermark-bounded state") {
    val work = tempDir("soak_b47").toString
    val r = StreamSoak.drive(spark, "spec_soak_b47",
      EventStream.dedupedEvents(
        StreamSoak.readArrivals(spark, arrivalsDup, ev.schema)),
      "append", s"$work/ckpt", s"$work/out", arrivals.getAbsolutePath)
    assert(r.finished)
    assert(r.progress.count(_._2 > 0) >= nSlices)
    val got = StreamSoak.eventIds(IdempotentSink.readBack(spark, s"$work/out"))
    val want = StreamSoak.eventIds(ev)
    assert(got == want,
      s"dedup output diverged: got ${got.size} rows, want ${want.size}")
    // eviction visible: the final batch's seen-key state is strictly
    // below the peak (the watermark passed early keys mid-drain)
    val states = r.progress.map(_._4)
    assert(states.last < states.max,
      s"no watermark eviction observed: state stayed at peak ${states.max}")
  }
}
