package graft.streaming

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Relational
import graft.GraftTestSession

/** Batch/stream unification for the analytics surface: the streaming
  * hourly aggregation over events.parquet must produce exactly the
  * batch B11 result — same windows, same counts, same decimal sums.
  */
class EventStreamSpec extends AnyFunSuite with GraftTestSession {

  private val sf = "/root/testdata/sf0.001"

  test("streaming hourly aggregation equals the batch b11 result") {
    val q = EventStream.hourlyAgg(EventStream.readEvents(spark, sf))
      .writeStream
      .format("memory")
      .queryName("ev_hourly")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "stream did not finish within 120s")
    finally q.stop()

    val got = spark.table("ev_hourly").collect()
      .map(r => (r.getAs[Long]("hour_epoch"), r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .sortBy(_._1).toSeq
    val want = Relational.b11TimeWindow(spark, sf).collect()
      .map(r => (r.getAs[Long]("hour_epoch"), r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .sortBy(_._1).toSeq
    assert(want.nonEmpty)
    assert(got == want, "stream and batch disagree on the hourly windows")
  }

  test("stream-static segment enrichment equals the batch join") {
    val customer = graft.sources.Tables.customer(spark, sf)
    val q = EventStream.segmentAgg(EventStream.readEvents(spark, sf), customer)
      .writeStream
      .format("memory")
      .queryName("ev_segment")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "stream did not finish within 120s")
    finally q.stop()
    val got = spark.table("ev_segment").collect()
      .map(r => (r.getAs[String]("segment"), r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .sortBy(_._1).toSeq
    val want = EventStream.segmentAgg(
        graft.sources.Tables.events(spark, sf), customer).collect()
      .map(r => (r.getAs[String]("segment"), r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .sortBy(_._1).toSeq
    assert(want.nonEmpty && want.map(_._2).sum == graft.sources.Tables.events(spark, sf).count(),
      "every event must land in exactly one segment")
    assert(got == want, "stream and batch disagree on segment rollups")
  }

  test("watermarked stream dedup collapses a doubled event stream to the distinct ids") {
    // feed every event twice (union with itself): within-watermark
    // duplicates must collapse to exactly one row per event_id
    val doubled = EventStream.readEvents(spark, sf)
      .union(EventStream.readEvents(spark, sf))
    val q = EventStream.dedupedEvents(doubled)
      .groupBy().count()
      .writeStream
      .format("memory")
      .queryName("ev_dedup")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "dedup stream did not finish within 120s")
    finally q.stop()
    val got = spark.table("ev_dedup").collect()(0).getLong(0)
    val want = graft.sources.Tables.events(spark, sf).count()
    assert(got == want, s"expected $want distinct events, got $got")
  }

  test("streaming session windows equal the batch session windows") {
    val q = EventStream.sessionAgg(EventStream.readEvents(spark, sf))
      .writeStream
      .format("memory")
      .queryName("ev_sessions")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "session stream did not finish within 120s")
    finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[Long]("sess_start_us"),
        r.getAs[Long]("sess_end_us"), r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value"))
    val got = spark.table("ev_sessions").collect().map(key).sorted.toSeq
    val want = EventStream.sessionAgg(graft.sources.Tables.events(spark, sf))
      .collect().map(key).sorted.toSeq
    assert(want.nonEmpty)
    assert(got == want, "stream and batch disagree on session windows")
    // sessions partition the event stream: counts must total the corpus
    assert(want.map(_._4).sum == graft.sources.Tables.events(spark, sf).count())
    // session_window semantics: end = last event + gap, so every session
    // extends at least the 30-minute gap past its start...
    val gapUs = 30L * 60 * 1000000
    want.foreach { case (_, start, end, _, _) =>
      assert(end - start >= gapUs, "session extent must cover the inactivity gap")
    }
    // ...and sessions of the same user never overlap (the defining
    // sessionization invariant: a new session starts only after a gap).
    want.groupBy(_._1).foreach { case (_, sessions) =>
      sessions.sortBy(_._2).sliding(2).foreach {
        case Seq(a, b) =>
          assert(b._2 >= a._3, s"user sessions overlap: $a vs $b")
        case _ => ()
      }
    }
  }

  test("idempotent foreachBatch sink: replayed batches do not duplicate output") {
    val dir = tempDir("ev_sink").toString
    val q = EventStream.dedupedEvents(EventStream.readEvents(spark, sf))
      .writeStream
      .foreachBatch(IdempotentSink.parquetSink(dir))
      .option("checkpointLocation", s"$dir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "sink stream did not finish within 120s")
    finally q.stop()

    val committed = IdempotentSink.readBack(spark, dir)
    val expected = graft.sources.Tables.events(spark, sf)
      .dropDuplicates("event_id").count()
    assert(committed.count() == expected,
      "sink must hold the deduped stream exactly once")
    // simulate the at-least-once failure replay: re-deliver batch 0's
    // data under the same batchId and assert nothing duplicates
    // localCheckpoint cuts lineage so the overwrite doesn't read from
    // the path it replaces (exactly what a replayed source batch is)
    val batch0 = spark.read.parquet(s"$dir/batch_id=0").localCheckpoint(true)
    IdempotentSink.parquetSink(dir)(batch0, 0L)
    assert(IdempotentSink.readBack(spark, dir).count() == expected,
      "a replayed batchId must overwrite its own output, not append")
  }

  test("watermarked stream-stream interval join equals the batch join") {
    val q = EventStream.clickErrorJoin(
        EventStream.readEvents(spark, sf), EventStream.readEvents(spark, sf))
      .writeStream
      .format("memory")
      .queryName("ev_join")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "join stream did not finish within 120s")
    finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("error_id"), r.getAs[Long]("click_id"),
        r.getAs[Long]("user_id"), r.getAs[Long]("gap_us"))
    val got = spark.table("ev_join").collect().map(key).sorted.toSeq
    val batch = graft.sources.Tables.events(spark, sf)
    val want = EventStream.clickErrorJoin(batch, batch).collect().map(key).sorted.toSeq
    assert(want.nonEmpty, "batch interval join must match some pairs")
    assert(got == want, "stream-stream join and batch join disagree")
    // every matched click precedes its error by at most 30 minutes
    want.foreach { case (_, _, _, gap) =>
      assert(gap >= 0 && gap <= 30L * 60 * 1000000)
    }
  }

  test("transformWithState accumulates ValueState across micro-batches") {
    import org.apache.spark.sql.functions.col
    // two-file source + maxFilesPerTrigger=1 forces (at least) two data
    // batches, so the second batch exercises the prior-state merge path
    // the single-batch oracle run never reaches
    val ev = graft.sources.Tables.events(spark, sf)
    val srcDir = tempDir("tws-src-").toFile
    def writeHalf(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = new java.io.File(srcDir, s"stage-$name")
      ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, s"$name.parquet").toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    }
    writeHalf(col("event_id") % 2 === 0, "a")
    writeHalf(col("event_id") % 2 === 1, "b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = EventStream.userActivity(stream)
      .writeStream.format("memory").queryName("ev_tws")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "tws stream did not finish within 120s")
    finally q.stop()
    val emitted = spark.table("ev_tws").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Double]("max_value"), r.getAs[Long]("first_ts_us"),
        r.getAs[Long]("last_ts_us")))
    // at least one user must have been updated in both batches —
    // otherwise this test degenerated to single-batch and proves nothing
    assert(emitted.groupBy(_._1).exists(_._2.length >= 2),
      "expected some user updated across two micro-batches")
    // the final (largest-n) emission per user is the full aggregate
    val got = emitted.groupBy(_._1).view.mapValues(_.maxBy(_._2)).values.toSet
    val want = ev.groupBy(col("user_id")).agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_events"),
        org.apache.spark.sql.functions.max(col("value")).as("max_value"),
        org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.unix_micros(col("ts"))).as("first_ts_us"),
        org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.unix_micros(col("ts"))).as("last_ts_us"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Double]("max_value"), r.getAs[Long]("first_ts_us"),
        r.getAs[Long]("last_ts_us"))).toSet
    assert(want.nonEmpty && got == want,
      "accumulated per-user state must equal the one-shot aggregate")
  }

  test("MapState histogram accumulates per-(user,type) entries across micro-batches") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val ev = graft.sources.Tables.events(spark, sf)
    val srcDir = tempDir("mapstate-src-").toFile
    def writeHalf(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = new java.io.File(srcDir, s"stage-$name")
      ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, s"$name.parquet").toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    }
    writeHalf(col("event_id") % 2 === 0, "a")
    writeHalf(col("event_id") % 2 === 1, "b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = EventStream.typeHistogram(stream)
      .writeStream.format("memory").queryName("ev_mapstate")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "mapstate stream did not finish within 120s")
    finally q.stop()
    val emitted = spark.table("ev_mapstate").collect()
      .map(r => ((r.getAs[Long]("user_id"), r.getAs[String]("event_type")),
        r.getAs[Long]("n_events")))
    // some (user, type) must have been bumped in both batches
    assert(emitted.groupBy(_._1).exists(_._2.length >= 2),
      "expected some map entry updated across two micro-batches")
    val got = emitted.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val want = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) -> r.getAs[Long]("n"))
      .toMap
    assert(want.nonEmpty && got == want,
      "accumulated MapState entries must equal the one-shot aggregate")
  }

  test("warm-started state seeds the stream: backfill + tail equals the full " +
      "aggregate, and provably differs from a cold start") {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, unix_micros}
    val ev = graft.sources.Tables.events(spark, sf)
    val backfill = ev.filter(col("event_id") % 2 === 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("value")).as("max_value"),
        min(unix_micros(col("ts"))).as("first_ts_us"),
        max(unix_micros(col("ts"))).as("last_ts_us"))
    // stream side: the odd half, via a real file-stream source
    val tmp = tempDir("warmstart-src-").toFile
    ev.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val tail = spark.readStream.schema(ev.schema).parquet(tmp.toString)

    val q = EventStream.warmStartActivity(tail, backfill)
      .writeStream.format("memory").queryName("ev_warm")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "warm-start stream did not finish")
    finally q.stop()

    def asMap(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("max_value"),
          r.getAs[Long]("first_ts_us"), r.getAs[Long]("last_ts_us"))).toMap
    val got = asMap(spark.table("ev_warm").collect())
    val full = asMap(ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("value")).as("max_value"),
        min(unix_micros(col("ts"))).as("first_ts_us"),
        max(unix_micros(col("ts"))).as("last_ts_us")).collect())
    val tailOnly = asMap(ev.filter(col("event_id") % 2 === 1)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("value")).as("max_value"),
        min(unix_micros(col("ts"))).as("first_ts_us"),
        max(unix_micros(col("ts"))).as("last_ts_us")).collect())
    // every tail-active user converged to the FULL aggregate
    assert(got.nonEmpty && got.forall { case (u, agg) => full(u) == agg },
      "warm-started stream diverges from the full-table aggregate")
    // negative control: a cold start could not produce these numbers
    assert(got.exists { case (u, agg) => tailOnly(u) != agg },
      "test degenerated: tail-only equals full — backfill contributed nothing")
  }

  test("event-time timers fire inactivity closes when the watermark passes them") {
    import org.apache.spark.sql.functions.{col, max, unix_micros}
    val gapMs = 30L * 60 * 1000
    val ev = graft.sources.Tables.events(spark, sf)
    // two arrival files: the events, then a far-future sentinel that
    // pushes the final watermark past every armed timer
    val srcDir = tempDir("timer-src-").toFile
    def place(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = new java.io.File(srcDir, s"stage-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    }
    val base = ev.select("event_id", "ts", "user_id", "event_type", "value")
    val maxTs = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val sentinel = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(-1L,
        new java.sql.Timestamp(maxTs.getTime + 10L * 24 * 3600 * 1000),
        -1L, "sentinel", 0.0)),
      base.schema)
    val now = System.currentTimeMillis()
    place(base, "a", now)
    place(sentinel, "b", now + 2000)

    val stream = spark.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = EventStream.inactivityCloses(stream, gapMs)
      .writeStream.format("memory").queryName("ev_timers")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "timer stream did not finish")
    finally q.stop()

    val closes = spark.table("ev_timers").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("close_ts_us")))
    assert(closes.nonEmpty, "no inactivity close ever fired")
    // well-formed: every close sits exactly gap after one of that
    // user's observed event times (the last-seen the timer was armed on)
    val tsByUser = base.select(col("user_id"), unix_micros(col("ts")).as("tsus"))
      .collect().map(r => (r.getLong(0), r.getLong(1) / 1000))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    closes.foreach { case (u, closeUs) =>
      val armedAtMs = closeUs / 1000 - gapMs
      assert(tsByUser.getOrElse(u, Set.empty).contains(armedAtMs),
        s"close for user $u at $closeUs is not last-seen + gap")
    }
    // the sentinel's watermark push must close every real user's final
    // session (single-timer contract: the LAST armed timer per user is
    // at their true max event time + gap)
    val lastClose = closes.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    tsByUser.foreach { case (u, ts) =>
      assert(lastClose.get(u).contains((ts.max + gapMs) * 1000),
        s"user $u's final inactivity close missing or misplaced")
    }
  }

  test("timer firing at the exact watermark boundary matches b57's inclusive oracle rule") {
    // b57's oracle originally encoded STRICTLY-BELOW firing
    // (last_ms + gap < wm); this fixture proved the engine's
    // event-time timer expiry is INCLUSIVE (a timer at expiry == wm
    // fires, one at wm+1ms stays open), so the oracle now reads
    // last_ms + gap <= wm and this test pins the boundary on both
    // sides — if a Spark upgrade ever flips expiry to exclusive, this
    // fails before the driver's oracle gate does.
    import org.apache.spark.sql.functions.col
    val gapMs = 30L * 60 * 1000
    val delayMs = 1000L // the 1-second watermark delay in inactivityCloses
    val tMax = 1_700_000_000_000L // fixture epoch ms; wm = tMax - delayMs
    val wm = tMax - delayMs
    def row(u: Long, tsMs: Long) =
      org.apache.spark.sql.Row(u, new java.sql.Timestamp(tsMs), 1.0)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    val rows = java.util.List.of(
      row(1L, wm - gapMs),      // timer at wm exactly: boundary — FIRES (inclusive)
      row(2L, wm - gapMs - 1),  // timer at wm - 1: below — fires
      row(3L, wm - gapMs + 1),  // timer at wm + 1: above — must not fire
      row(99L, tMax))           // carries the max event time (sets wm)
    val base = spark.createDataFrame(rows, schema)
    val srcDir = tempDir("timer-edge-").toFile
    base.coalesce(1).write.mode("overwrite").parquet(srcDir.toString)

    val stream = spark.readStream.schema(base.schema).parquet(srcDir.toString)
    val q = EventStream.inactivityCloses(stream, gapMs)
      .writeStream.format("memory").queryName("ev_timer_edge")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "timer stream did not finish")
    finally q.stop()

    val fired = spark.table("ev_timer_edge").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("close_ts_us"))).toSet
    // the at-watermark timer AND the below-watermark timer fire; the
    // one a millisecond above stays open
    assert(fired == Set((1L, wm * 1000), (2L, (wm - 1) * 1000)),
      s"boundary rule diverged from the oracle's inclusive rule: $fired " +
        s"(user 1's timer sits exactly at wm=$wm and must fire; user 3 must not)")
    // double-check the SQL rule computes the same set on this fixture
    base.createOrReplaceTempView("timer_edge_events")
    val viaSql = spark.sql(
      s"""WITH ls AS (SELECT user_id, max(unix_millis(ts)) AS last_ms
         |            FROM timer_edge_events GROUP BY user_id),
         |     w AS (SELECT max(unix_millis(ts)) - 1000 AS wm FROM timer_edge_events)
         |SELECT user_id, (last_ms + $gapMs) * 1000 AS close_ts_us
         |FROM ls, w WHERE last_ms + $gapMs <= wm""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaSql == fired, "oracle-rule SQL and engine diverge on the boundary fixture")
  }
}
