package graft.streaming

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession

/** Checkpoint recovery for the STATEFUL event side — the crash-restart
  * half of the exactly-once story. ConnectorSpec proves the capfeed
  * source resumes from its offset checkpoint; this spec proves the
  * windowed AGGREGATION state does: hourlyAgg killed mid-stream (the
  * failure injected AFTER the sink wrote, the worst case — output
  * exists but the batch never committed), restarted from the same
  * checkpoint, must replay exactly the uncommitted batch into
  * IdempotentSink and converge to the same committed output as a run
  * that never failed. The cap4 mapGroupsWithState lifecycle gets the
  * same treatment on the ROCKSDB provider (the engine default since
  * round 10 — [[StateBackend]]): killed mid-stream under a real
  * checkpoint, its per-alert state must restore from the RocksDB
  * changelog and converge to the uninterrupted run's final state.
  * A provider-parity test pins that the heap provider produces the
  * identical lifecycle, so the RocksDB default changes no result.
  *
  * Coverage: with the session-window (b45), transformWithState (b51),
  * and stream-stream join (b46) cases below, every stateful operator
  * family the engine ships — windowed agg, merging session state,
  * mapGroupsWithState, the Spark-4 ValueState API, and symmetric join
  * buffers — has a kill→resume→equals-control gate.
  */
class RecoverySpec extends AnyFunSuite with GraftTestSession {

  /** Three-valued run outcome: the old Boolean helpers returned false
    * both when the injected crash fired AND when awaitTermination timed
    * out, so "failure was not injected" asserts could pass on a hung
    * stream. Finished/Failed/TimedOut keeps the two failure modes
    * distinct — a timeout now fails every assertion that mentions it. */
  private sealed trait RunResult
  private case object Finished extends RunResult
  private case object Failed extends RunResult
  private case object TimedOut extends RunResult

  private def await(q: org.apache.spark.sql.streaming.StreamingQuery): RunResult =
    try { if (q.awaitTermination(180000)) Finished else TimedOut }
    catch { case _: StreamingQueryException => Failed }
    finally q.stop()

  private val sf = "/root/testdata/sf0.001"

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Split the events table into 4 single-file "arrival" quartiles by
    * event id, plus a far-future sentinel file that pushes the final
    * watermark past every real window (so append mode emits them all).
    * Files get strictly increasing modification times — the order the
    * file source replays them in with maxFilesPerTrigger=1. */
  private def writeArrivalFiles(dir: String): Unit = {
    val ev = graft.sources.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val maxTs = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val quartiles = (0 until 4).map(i => ev.filter(col("event_id") % 4 === i))
    val sentinel = spark.createDataFrame(
      java.util.List.of(Row(-1L,
        new java.sql.Timestamp(maxTs.getTime + 10L * 24 * 3600 * 1000),
        -1L, "sentinel", 0.0)),
      eventSchema)
    (quartiles :+ sentinel).zipWithIndex.foreach { case (part, i) =>
      val tmp = tempDir(s"ev_part$i").toString
      part.coalesce(1).write.mode("overwrite").parquet(tmp)
      val src = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, f"f$i%02d.parquet")
      java.nio.file.Files.copy(src.toPath, dst.toPath)
      dst.setLastModified(System.currentTimeMillis() + i * 2000)
    }
  }

  private def hourly(srcDir: String): DataFrame =
    EventStream.hourlyAgg(
      spark.readStream.schema(eventSchema)
        .option("maxFilesPerTrigger", "1") // one arrival file per batch
        .parquet(srcDir))

  /** Run the stream to completion (AvailableNow, one file per batch)
    * through `sinkFn`, returning whether it terminated cleanly. */
  private def run(srcDir: String, ckpt: String,
      sinkFn: (org.apache.spark.sql.Dataset[Row], Long) => Unit): RunResult = {
    val q = hourly(srcDir)
      .writeStream
      .foreachBatch(sinkFn)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    await(q)
  }

  test("hourlyAgg killed mid-stream resumes from the checkpoint with exactly-once output") {
    val srcDir = tempDir("ev_arrivals").toString
    writeArrivalFiles(srcDir)

    // control: the same stream, never failed
    val controlDir = tempDir("ev_ctl").toString
    assert(run(srcDir, s"$controlDir/_ckpt", IdempotentSink.parquetSink(controlDir)) == Finished,
      "control stream did not finish")
    val control = IdempotentSink.readBack(spark, controlDir)
      .collect().map(_.toString).sorted.toSeq
    assert(control.nonEmpty, "control stream emitted no closed windows")

    // failure run: batch 2's sink write SUCCEEDS, then the batch dies
    // before committing — the worst-case at-least-once window
    val outDir = tempDir("ev_rec").toString
    val ckpt = s"$outDir/_ckpt"
    val armed = new AtomicBoolean(true)
    val failingSink: (org.apache.spark.sql.Dataset[Row], Long) => Unit =
      (batch, id) => {
        IdempotentSink.parquetSink(outDir)(batch, id)
        if (id == 2 && armed.getAndSet(false))
          throw new RuntimeException("injected crash after sink write")
      }
    assert(run(srcDir, ckpt, failingSink) == Failed, "failure was not injected")

    // restart from the SAME checkpoint: must replay batch 2 (written
    // but uncommitted), then drain the remaining files
    assert(run(srcDir, ckpt, IdempotentSink.parquetSink(outDir)) == Finished,
      "recovery run did not finish")

    val recovered = IdempotentSink.readBack(spark, outDir)
    val got = recovered.collect().map(_.toString).sorted.toSeq
    assert(got == control,
      s"recovered output differs from the never-failed control:\n got=$got\nwant=$control")
    // exactly-once: no window emitted twice across the replay boundary
    assert(recovered.select("hour_epoch").distinct().count() == recovered.count(),
      "a window was emitted more than once after recovery")
  }

  test("sessionAgg killed mid-stream resumes from the RocksDB checkpoint with exactly-once output") {
    // the one stateful checkpoint shape the other cases don't cover: a
    // watermarked SESSION-window aggregation (b45's operator), where
    // open sessions live in merging state-store entries across batches.
    // The quartile arrival split interleaves every user's events across
    // all four files, so the crash lands while most sessions are OPEN
    // — recovery must restore the merged session state, not just
    // replay rows.
    val srcDir = tempDir("sess_arrivals").toString
    writeArrivalFiles(srcDir)

    def sessions(srcDir: String): DataFrame =
      EventStream.sessionAgg(
        spark.readStream.schema(eventSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir))

    def run(ckpt: String, sinkFn: (org.apache.spark.sql.Dataset[Row], Long) => Unit): RunResult = {
      val q = sessions(srcDir)
        .writeStream
        .foreachBatch(sinkFn)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      await(q)
    }

    // control: the same stream, never failed
    val controlDir = tempDir("sess_ctl").toString
    assert(run(s"$controlDir/_ckpt", IdempotentSink.parquetSink(controlDir)) == Finished,
      "control session stream did not finish")
    val control = IdempotentSink.readBack(spark, controlDir)
      .collect().map(_.toString).sorted.toSeq
    assert(control.nonEmpty, "control session stream emitted no closed sessions")

    // failure run: batch 2's sink write SUCCEEDS, then the batch dies
    // before committing (worst-case at-least-once window)
    val outDir = tempDir("sess_rec").toString
    val ckpt = s"$outDir/_ckpt"
    val armed = new AtomicBoolean(true)
    val failingSink: (org.apache.spark.sql.Dataset[Row], Long) => Unit =
      (batch, id) => {
        IdempotentSink.parquetSink(outDir)(batch, id)
        if (id == 2 && armed.getAndSet(false))
          throw new RuntimeException("injected crash after sink write")
      }
    assert(run(ckpt, failingSink) == Failed, "failure was not injected")

    // restart from the SAME checkpoint: session state (including
    // sessions opened in batches 0-1) must restore from the RocksDB
    // changelog; batch 2 replays over its own uncommitted output
    assert(run(ckpt, IdempotentSink.parquetSink(outDir)) == Finished,
      "session recovery run did not finish")

    val recovered = IdempotentSink.readBack(spark, outDir)
    val got = recovered.collect().map(_.toString).sorted.toSeq
    assert(got == control,
      s"recovered sessions differ from the never-failed control:\n got=${got.take(5)}…\nwant=${control.take(5)}…")
    // exactly-once: each (user, session-start) closed exactly once
    assert(recovered.select("user_id", "sess_start_us").distinct().count() ==
      recovered.count(),
      "a session was emitted more than once after recovery")
  }

  test("cap4 lifecycle is state-store-provider agnostic (RocksDB == heap HDFS provider)") {
    // capLifecycle runs on RocksDB (the session default, drained by StreamRunner);
    // re-run the same pipeline on the legacy heap provider and compare.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks = graft.queries.CapQueries.capLifecycle(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val heap = withConfs(key ->
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider") {
      spark.catalog.dropTempView("cap4_heap_sink")
      val q = CapStream.lifecycle(
          CapStream.alerts(spark, graft.queries.CapQueries.lifecycleFixtureDir))
        .toDF()
        .select(col("identifier"), col("status"),
          concat_ws("|", col("msgTypes")).as("msg_chain"),
          col("lastSent").as("last_sent"))
        .writeStream.format("memory").queryName("cap4_heap_sink")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000), "heap-provider run did not finish")
      finally q.stop()
      spark.table("cap4_heap_sink").orderBy("identifier")
        .collect().map(_.toString).sorted.toSeq
    }
    assert(rocks == heap && rocks.nonEmpty,
      "mapGroupsWithState lifecycle differs between state store providers")
  }

  test("cap4 lifecycle killed mid-stream resumes from the RocksDB checkpoint") {
    val fixtures = graft.queries.CapQueries.lifecycleFixtureDir

    // one fixture file per micro-batch: per-alert state must survive
    // the crash between batches via the RocksDB changelog checkpoint
    def run(ckpt: String, sinkFn: (org.apache.spark.sql.Dataset[Row], Long) => Unit): RunResult = {
      import spark.implicits._
      val xml = spark.readStream.option("wholetext", "true")
        .option("maxFilesPerTrigger", "1").text(fixtures).as[String]
      val q = CapStream.lifecycle(graft.cap.CapPipeline.parseAlerts(xml))
        .toDF()
        .writeStream
        .foreachBatch(sinkFn)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      await(q)
    }

    // final lifecycle = latest emitted row per identifier (update mode
    // emits one refreshed row per alert per batch that touches it)
    def finalState(outDir: String): Map[String, String] =
      spark.read.option("basePath", outDir).parquet(s"$outDir/batch_id=*")
        .collect()
        .groupBy(_.getAs[String]("identifier"))
        .map { case (id, rows) =>
          val last = rows.maxBy(_.getAs[Int]("batch_id"))
          id -> (last.getAs[String]("status") + "|" +
            last.getAs[scala.collection.Seq[String]]("msgTypes").mkString(",") +
            "|" + last.getAs[String]("lastSent"))
        }

    val controlDir = tempDir("cap4_ctl").toString
    assert(run(s"$controlDir/_ckpt", IdempotentSink.parquetSink(controlDir)) == Finished,
      "control lifecycle stream did not finish")
    val control = finalState(controlDir)
    assert(control.nonEmpty, "control lifecycle emitted nothing")

    // crash AFTER batch 2's sink write (worst case: output exists but
    // the batch never committed) — replay must overwrite, state must
    // restore to batch 1's
    val outDir = tempDir("cap4_rec").toString
    val ckpt = s"$outDir/_ckpt"
    val armed = new AtomicBoolean(true)
    val failingSink: (org.apache.spark.sql.Dataset[Row], Long) => Unit =
      (batch, id) => {
        IdempotentSink.parquetSink(outDir)(batch, id)
        if (id == 2 && armed.getAndSet(false))
          throw new RuntimeException("injected crash after sink write")
      }
    assert(run(ckpt, failingSink) == Failed, "failure was not injected")
    assert(run(ckpt, IdempotentSink.parquetSink(outDir)) == Finished,
      "recovery lifecycle run did not finish")

    assert(finalState(outDir) == control,
      "recovered lifecycle state differs from the never-failed control")
  }

  test("transformWithState killed mid-stream restores its ValueState from " +
      "the RocksDB checkpoint") {
    // the Spark-4 stateful API's recovery path (b51's operator): the
    // per-user ValueState aggregate accumulated over batches 0-1 must
    // survive the crash at batch 2 — a lost prior would make every
    // post-crash emission restart its counts from the batch's own rows.
    val srcDir = tempDir("tws_arrivals").toString
    writeArrivalFiles(srcDir)

    def run(ckpt: String, outSink: (org.apache.spark.sql.Dataset[Row], Long) => Unit): RunResult = {
      val q = EventStream.userActivity(
          spark.readStream.schema(eventSchema)
            .option("maxFilesPerTrigger", "1").parquet(srcDir))
        .writeStream
        .foreachBatch(outSink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      await(q)
    }

    // final aggregate = the largest-count emission per user (update
    // mode re-emits the refreshed row each batch that touches the user)
    def finalAgg(outDir: String): Map[Long, (Long, Double, Long, Long)] =
      IdempotentSink.readBack(spark, outDir).collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (u, rows) =>
          val last = rows.maxBy(_.getAs[Long]("n_events"))
          u -> (last.getAs[Long]("n_events"), last.getAs[Double]("max_value"),
            last.getAs[Long]("first_ts_us"), last.getAs[Long]("last_ts_us"))
        }

    val controlDir = tempDir("tws_ctl").toString
    assert(run(s"$controlDir/_ckpt", IdempotentSink.parquetSink(controlDir)) == Finished,
      "control tws stream did not finish")
    val control = finalAgg(controlDir)
    assert(control.nonEmpty, "control tws stream emitted nothing")
    // the quartile split guarantees real accumulation: some user's
    // final count must exceed any single batch's contribution
    assert(control.values.exists(_._1 > 1), "no user accumulated state")

    val outDir = tempDir("tws_rec").toString
    val ckpt = s"$outDir/_ckpt"
    val armed = new AtomicBoolean(true)
    val failingSink: (org.apache.spark.sql.Dataset[Row], Long) => Unit =
      (batch, id) => {
        IdempotentSink.parquetSink(outDir)(batch, id)
        if (id == 2 && armed.getAndSet(false))
          throw new RuntimeException("injected crash after sink write")
      }
    assert(run(ckpt, failingSink) == Failed, "failure was not injected")
    assert(run(ckpt, IdempotentSink.parquetSink(outDir)) == Finished,
      "tws recovery run did not finish")

    assert(finalAgg(outDir) == control,
      "recovered per-user ValueState differs from the never-failed control")
  }

  test("stream-stream interval join killed mid-stream restores both sides' " +
      "buffered state from the RocksDB checkpoint") {
    // the last stateful-operator family the other cases don't cover:
    // b46's symmetric join state (each side buffers rows until the
    // watermark + interval passes). The quartile arrival split lands
    // the crash while both buffers hold unmatched rows — recovery must
    // restore them or post-crash arrivals silently lose their matches.
    val srcDir = tempDir("join_arrivals").toString
    writeArrivalFiles(srcDir)

    def run(ckpt: String, outSink: (org.apache.spark.sql.Dataset[Row], Long) => Unit): RunResult = {
      val src = spark.readStream.schema(eventSchema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = EventStream.clickErrorJoin(src, src)
        .writeStream
        .foreachBatch(outSink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      await(q)
    }

    def matches(outDir: String): Seq[String] =
      IdempotentSink.readBack(spark, outDir).collect().map(_.toString).sorted.toSeq

    val controlDir = tempDir("join_ctl").toString
    assert(run(s"$controlDir/_ckpt", IdempotentSink.parquetSink(controlDir)) == Finished,
      "control join stream did not finish")
    val control = matches(controlDir)
    assert(control.nonEmpty, "control join stream matched nothing")

    val outDir = tempDir("join_rec").toString
    val ckpt = s"$outDir/_ckpt"
    val armed = new AtomicBoolean(true)
    val failingSink: (org.apache.spark.sql.Dataset[Row], Long) => Unit =
      (batch, id) => {
        IdempotentSink.parquetSink(outDir)(batch, id)
        if (id == 2 && armed.getAndSet(false))
          throw new RuntimeException("injected crash after sink write")
      }
    assert(run(ckpt, failingSink) == Failed, "failure was not injected")
    assert(run(ckpt, IdempotentSink.parquetSink(outDir)) == Finished,
      "join recovery run did not finish")

    assert(matches(outDir) == control,
      "recovered join output differs from the never-failed control")
  }

  test("transformWithState MapState killed mid-stream restores per-key maps " +
      "from the RocksDB checkpoint") {
    // b53's state encoding (MapState sub-key entries) has its own
    // RocksDB column-family layout — a recovery defect here would not
    // show in the ValueState case above. The quartile split accumulates
    // each (user, type) count across batches; the crash at batch 2 must
    // restore every map entry or post-crash emissions restart counts
    // from the batch's own rows.
    val srcDir = tempDir("map_arrivals").toString
    writeArrivalFiles(srcDir)

    def run(ckpt: String, outSink: (org.apache.spark.sql.Dataset[Row], Long) => Unit): RunResult = {
      val q = EventStream.typeHistogram(
          spark.readStream.schema(eventSchema)
            .option("maxFilesPerTrigger", "1").parquet(srcDir))
        .writeStream
        .foreachBatch(outSink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      await(q)
    }

    // final histogram = the largest count emitted per (user, type)
    // (update mode re-emits the refreshed running total each batch);
    // the user_id=-1 watermark-sentinel file row isn't in the batch
    // table — drop it from the compare
    def finalHist(outDir: String): Map[(Long, String), Long] =
      IdempotentSink.readBack(spark, outDir).collect()
        .filter(_.getAs[Long]("user_id") >= 0)
        .groupBy(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
        .map { case (k, rows) => k -> rows.map(_.getAs[Long]("n_events")).max }

    val controlDir = tempDir("map_ctl").toString
    assert(run(s"$controlDir/_ckpt", IdempotentSink.parquetSink(controlDir)) == Finished,
      "control mapstate stream did not finish")
    val control = finalHist(controlDir)
    assert(control.nonEmpty, "control mapstate stream emitted nothing")
    // ground truth: the final histogram must equal the batch GROUP BY
    // (also proves the quartile split accumulated across batches)
    val batchTruth = graft.sources.Tables.events(spark, sf)
      .groupBy("user_id", "event_type").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(control == batchTruth,
      "control mapstate histogram diverges from the batch GROUP BY")

    val outDir = tempDir("map_rec").toString
    val ckpt = s"$outDir/_ckpt"
    val armed = new AtomicBoolean(true)
    val failingSink: (org.apache.spark.sql.Dataset[Row], Long) => Unit =
      (batch, id) => {
        IdempotentSink.parquetSink(outDir)(batch, id)
        if (id == 2 && armed.getAndSet(false))
          throw new RuntimeException("injected crash after sink write")
      }
    assert(run(ckpt, failingSink) == Failed, "failure was not injected")
    assert(run(ckpt, IdempotentSink.parquetSink(outDir)) == Finished,
      "mapstate recovery run did not finish")

    assert(finalHist(outDir) == control,
      "recovered MapState histogram differs from the never-failed control")
  }

  test("warm-started transformWithState killed mid-stream resumes WITHOUT " +
      "re-seeding the initial state") {
    // b54's handoff contract under failure: handleInitialState runs
    // once at query START; a restart from the checkpoint must restore
    // the evolved state, NOT re-apply the backfill seed (re-seeding
    // would double the backfill contribution in every post-crash
    // emission). Control = the uninterrupted warm-start run; ground
    // truth = the full-table batch aggregate over tail-active users.
    val srcDir = tempDir("warm_arrivals").toString
    writeArrivalFiles(srcDir)

    val ev = graft.sources.Tables.events(spark, sf)
    val backfill = ev.filter(col("event_id") % 2 === 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("value")).as("max_value"),
        min(unix_micros(col("ts"))).as("first_ts_us"),
        max(unix_micros(col("ts"))).as("last_ts_us"))

    def run(ckpt: String, outSink: (org.apache.spark.sql.Dataset[Row], Long) => Unit): RunResult = {
      val tail = spark.readStream.schema(eventSchema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .filter(col("event_id") % 2 === 1)
      val q = EventStream.warmStartActivity(tail, backfill)
        .writeStream
        .foreachBatch(outSink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      await(q)
    }

    def finalAgg(outDir: String): Map[Long, (Long, Double, Long, Long)] =
      IdempotentSink.readBack(spark, outDir).collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (u, rows) =>
          val last = rows.maxBy(_.getAs[Long]("n_events"))
          u -> (last.getAs[Long]("n_events"), last.getAs[Double]("max_value"),
            last.getAs[Long]("first_ts_us"), last.getAs[Long]("last_ts_us"))
        }

    val controlDir = tempDir("warm_ctl").toString
    assert(run(s"$controlDir/_ckpt", IdempotentSink.parquetSink(controlDir)) == Finished,
      "control warm-start stream did not finish")
    val control = finalAgg(controlDir)
    assert(control.nonEmpty, "control warm-start stream emitted nothing")
    // the handoff ground truth: converged per-user state == full-table
    // batch aggregate for every user the tail touched (b54's oracle)
    val truth = ev
      .join(ev.filter(col("event_id") % 2 === 1).select("user_id").distinct(),
        Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), max(col("value")).as("mx"),
        min(unix_micros(col("ts"))).as("f"), max(unix_micros(col("ts"))).as("l"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(control == truth,
      "control warm-start final state diverges from the full-table aggregate")

    val outDir = tempDir("warm_rec").toString
    val ckpt = s"$outDir/_ckpt"
    val armed = new AtomicBoolean(true)
    val failingSink: (org.apache.spark.sql.Dataset[Row], Long) => Unit =
      (batch, id) => {
        IdempotentSink.parquetSink(outDir)(batch, id)
        if (id == 2 && armed.getAndSet(false))
          throw new RuntimeException("injected crash after sink write")
      }
    assert(run(ckpt, failingSink) == Failed, "failure was not injected")
    assert(run(ckpt, IdempotentSink.parquetSink(outDir)) == Finished,
      "warm-start recovery run did not finish")

    assert(finalAgg(outDir) == control,
      "recovered warm-start state differs from the never-failed control — " +
        "was the initial state re-seeded on resume?")
  }

  test("event-time timers killed mid-stream survive the restart and still fire") {
    // the timer hook's recovery path: timers armed in batches 0-1 live
    // in the same RocksDB store as the ValueState; after the crash at
    // batch 2 they must restore with the checkpoint and fire as the
    // replayed watermark passes them. Batch boundaries are identical
    // between control and recovery (same files, same order, restored
    // watermark), so the emitted close set must match row-for-row.
    val srcDir = tempDir("timer_arrivals").toString
    writeArrivalFiles(srcDir)
    val gapMs = 30L * 60 * 1000

    def run(ckpt: String, outSink: (org.apache.spark.sql.Dataset[Row], Long) => Unit): RunResult = {
      val q = EventStream.inactivityCloses(
          spark.readStream.schema(eventSchema)
            .option("maxFilesPerTrigger", "1").parquet(srcDir), gapMs)
        .writeStream
        .foreachBatch(outSink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      await(q)
    }

    def closes(outDir: String): Seq[String] =
      IdempotentSink.readBack(spark, outDir).collect().map(_.toString).sorted.toSeq

    val controlDir = tempDir("timer_ctl").toString
    assert(run(s"$controlDir/_ckpt", IdempotentSink.parquetSink(controlDir)) == Finished,
      "control timer stream did not finish")
    val control = closes(controlDir)
    assert(control.nonEmpty, "control timer stream fired no closes")

    val outDir = tempDir("timer_rec").toString
    val ckpt = s"$outDir/_ckpt"
    val armed = new AtomicBoolean(true)
    val failingSink: (org.apache.spark.sql.Dataset[Row], Long) => Unit =
      (batch, id) => {
        IdempotentSink.parquetSink(outDir)(batch, id)
        if (id == 2 && armed.getAndSet(false))
          throw new RuntimeException("injected crash after sink write")
      }
    assert(run(ckpt, failingSink) == Failed, "failure was not injected")
    assert(run(ckpt, IdempotentSink.parquetSink(outDir)) == Finished,
      "timer recovery run did not finish")

    assert(closes(outDir) == control,
      "recovered timer closes differ from the never-failed control — " +
        "did armed timers survive the restart?")
  }
}
