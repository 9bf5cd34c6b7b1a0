package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Streaming mode for the relational/events surface — the same hourly
  * tumbling-window aggregation as B11, runnable over either the batch
  * `Tables.events` DataFrame or an incremental file stream of the same
  * parquet. One definition of the aggregation serves both paths, which
  * is the unification argument the CAP side makes in [[CapStream]]
  * extended to the analytics surface: at 100 TB a backfill (batch) and
  * the live tail (stream) MUST agree, so they share the operator.
  *
  * Scale notes: the stream shuffles once per micro-batch on the window
  * key; the 2-hour watermark bounds the aggregation state (late events
  * beyond it are dropped in append mode); the decimal accumulator keeps
  * the windowed double-sum identical across partitionings, micro-batch
  * boundaries, and engines.
  */
object EventStream {

  /** Streaming view of the events table, `ts` normalized to a session-TZ
    * TimestampType whichever footer variant the driver generated. The
    * streaming source needs an explicit schema: it is the raw footer
    * schema `Tables` reads the batch table with (the same ns shim). */
  def readEvents(s: SparkSession, sfDir: String): DataFrame = {
    val evPath = s"$sfDir/events.parquet"
    val raw = graft.sources.Tables.schema(s, evPath)
    // the streaming file source wants a directory: for the driver SFs'
    // single-FILE layout that is the sf dir + a glob narrowing the
    // listing to the events table; ScaleGen probes write events.parquet
    // as a directory of part files, streamable directly. Directory-ness
    // is resolved through the Hadoop FileSystem of the path (not
    // java.io.File), so an hdfs:///s3a:// sfDir takes the right branch.
    val hPath = new org.apache.hadoop.fs.Path(evPath)
    val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val reader = s.readStream.schema(raw)
    val stream =
      if (fs.getFileStatus(hPath).isDirectory) reader.parquet(evPath)
      else reader.option("pathGlobFilter", "events.parquet").parquet(sfDir)
    graft.sources.Tables.normalizeTs(stream, raw("ts").dataType)
  }

  /** Watermarked stream dedup on event_id (SURVEY §2.9 "dedup across
    * batches"): duplicates arriving within the 2-hour event-time
    * watermark are dropped with BOUNDED state —
    * dropDuplicatesWithinWatermark evicts seen-key state once the
    * watermark passes it, where a plain dropDuplicates would grow
    * state forever on an unbounded stream. */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join, batch/stream agnostic: every error
    * matched to the clicks of the same user in the preceding 30
    * minutes (the streaming generalization of B15's as-of lookup —
    * ALL recent clicks, not just the latest). In streaming mode both
    * sides carry a 2-hour event-time watermark and the join condition
    * bounds event time on both sides, which is exactly what lets Spark
    * evict buffered rows: state per side is (watermark + interval)
    * wide, constant in stream length. In batch mode the same operator
    * plans a plain equi-join on user_id with the interval as a
    * residual predicate — one shuffle per side at any scale.
    */
  def clickErrorJoin(clicks: DataFrame, errors: DataFrame): DataFrame = {
    val c = clicks.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val e = errors.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "2 hours")
    e.join(c,
        col("e_user") === col("c_user") &&
          col("e_ts") >= col("c_ts") &&
          col("e_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
      .select(
        col("error_id"), col("click_id"), col("e_user").as("user_id"),
        (unix_micros(col("e_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
  }

  /** Native session-window aggregation (30-minute inactivity gap),
    * batch/stream agnostic — the session_window analog of B17's manual
    * lag/flag/running-sum sessionization (same shape, engine-managed
    * window merging instead of two window passes). In streaming mode
    * sessions merge incrementally and close once the watermark passes
    * their end, so state per user is bounded by OPEN sessions only —
    * the property that makes sessionization viable on an unbounded
    * stream where B17's global window form cannot run at all.
    */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(30, 6))), 2).cast("double").as("sum_value"))
      .select(
        col("user_id"),
        unix_micros(col("w.start")).as("sess_start_us"),
        unix_micros(col("w.end")).as("sess_end_us"),
        col("n_events"), col("sum_value"))

  /** Stream-static enrichment join, batch/stream agnostic: the event
    * stream joined against the STATIC customer dimension (user_id =
    * c_custkey) and rolled up per market segment. The static side needs
    * no watermark and holds no state — Spark broadcasts it to every
    * micro-batch task, which is exactly the dimension-enrichment shape
    * a 100 TB/day event firehose uses (re-read per restart, never
    * shuffled, never stateful). Left join keeps events with no
    * dimension row under a sentinel segment so the stream never drops
    * data on a late-arriving dimension update. */
  def segmentAgg(events: DataFrame, customer: DataFrame): DataFrame = {
    val dim = customer.select(col("c_custkey").as("user_id"),
      col("c_mktsegment").as("segment"))
    events
      .withWatermark("ts", "2 hours")
      .join(broadcast(dim), Seq("user_id"), "left")
      .withColumn("segment", coalesce(col("segment"), lit("UNKNOWN")))
      .groupBy(col("segment"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(30, 6))), 2).cast("double").as("sum_value"))
  }

  /** Input/output row types of [[UserActivityProcessor]]. Fields are
    * order-insensitive aggregates on purpose: rows inside a micro-batch
    * reach `handleInputRows` in partition order, so anything
    * order-sensitive (first-seen value, double sum) would be
    * partitioning-dependent; count/max/min are fold-order-free and make
    * the result bit-deterministic under any batch split. */
  case class UserEvent(user_id: Long, tsus: Long, value: Double)
  case class UserActivity(user_id: Long, n_events: Long, max_value: Double,
      first_ts_us: Long, last_ts_us: Long)

  /** Per-user activity aggregate on the `transformWithState` API —
    * Spark 4's arbitrary-stateful-processing surface (typed ValueState
    * handles, per-state-variable encoders, TTL support, timer hooks),
    * the successor to cap4/cap5's mapGroupsWithState. One ValueState
    * row per user, updated by an order-free fold over each batch's
    * rows; emits the updated aggregate once per (user, batch) — update
    * mode. transformWithState REQUIRES the RocksDB state store
    * provider, which every [[StreamRunner]] path already enables — so
    * this surface also pins that wiring under the oracle gate. */
  class UserActivityProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, UserEvent, UserActivity] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.streaming.OutputMode

    @transient private var agg: ValueState[UserActivity] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      agg = getHandle.getValueState[UserActivity]("agg",
        org.apache.spark.sql.Encoders.product[UserActivity], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[UserActivity] =
      foldActivity(key, rows, agg.get()) match {
        case Some(next) => agg.update(next); Iterator.single(next)
        case None => Iterator.empty
      }
  }

  /** Row types of [[TypeHistogramProcessor]]. */
  case class TypedEvent(user_id: Long, event_type: String)
  case class TypeCount(user_id: Long, event_type: String, n_events: Long)

  /** Per-(user, event_type) histogram on transformWithState's MapState
    * handle — the keyed-sub-state sibling of [[UserActivityProcessor]]'s
    * ValueState: one RocksDB map per user, one entry per event type
    * seen, point-updated per batch (no read-modify-write of a whole
    * composite value, which is the reason MapState exists — a 10k-entry
    * histogram under ValueState would rewrite 10k entries to bump one).
    * Emits the refreshed (user, type, n) rows for exactly the types the
    * batch touched — update-mode semantics at sub-key granularity. */
  class TypeHistogramProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, TypedEvent, TypeCount] {
    import org.apache.spark.sql.streaming.{MapState, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.streaming.OutputMode

    @transient private var hist: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getMapState[String, Long]("hist",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
        timerValues: TimerValues): Iterator[TypeCount] = {
      // order-free within-batch pre-fold, then one point-update per
      // touched type — deterministic under any batch split
      val delta = scala.collection.mutable.Map.empty[String, Long]
      rows.foreach(e => delta.update(e.event_type, delta.getOrElse(e.event_type, 0L) + 1))
      delta.toSeq.sortBy(_._1).map { case (tpe, d) =>
        val n = (if (hist.containsKey(tpe)) hist.getValue(tpe) else 0L) + d
        hist.updateValue(tpe, n)
        TypeCount(key, tpe, n)
      }.iterator
    }
  }

  /** Order-free fold shared by [[UserActivityProcessor]] and
    * [[WarmStartActivityProcessor]]: merge a batch of rows (and an
    * optional prior) into the running per-user aggregate. */
  private def foldActivity(key: Long, rows: Iterator[UserEvent],
      prior: UserActivity): Option[UserActivity] = {
    var n = 0L
    var mx = Double.NegativeInfinity
    var first = Long.MaxValue
    var last = Long.MinValue
    rows.foreach { e =>
      n += 1
      if (e.value > mx) mx = e.value
      if (e.tsus < first) first = e.tsus
      if (e.tsus > last) last = e.tsus
    }
    if (n == 0) None
    else if (prior == null) Some(UserActivity(key, n, mx, first, last))
    else Some(UserActivity(key, prior.n_events + n, math.max(prior.max_value, mx),
      math.min(prior.first_ts_us, first), math.max(prior.last_ts_us, last)))
  }

  /** [[UserActivityProcessor]] with WARM-START state: the
    * StatefulProcessorWithInitialState variant seeds each key's
    * ValueState from a batch-computed Dataset before the first
    * micro-batch — the backfill→live-tail handoff a 100 TB deployment
    * needs when a streaming job takes over from a batch-computed
    * snapshot without re-reading the historical corpus through the
    * stream. handleInitialState runs once per key at query start;
    * handleInputRows then merges arriving rows into the seeded prior
    * exactly as the cold-start processor does. */
  class WarmStartActivityProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, UserEvent, UserActivity, UserActivity] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.streaming.OutputMode

    @transient private var agg: ValueState[UserActivity] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      agg = getHandle.getValueState[UserActivity]("agg",
        org.apache.spark.sql.Encoders.product[UserActivity], TTLConfig.NONE)

    override def handleInitialState(key: Long, initialState: UserActivity,
        timerValues: TimerValues): Unit =
      agg.update(initialState)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[UserActivity] =
      foldActivity(key, rows, agg.get()) match {
        case Some(next) => agg.update(next); Iterator.single(next)
        case None => Iterator.empty
      }
  }

  /** The b54 stream: the live TAIL of the events table (odd event_ids)
    * through [[WarmStartActivityProcessor]], with the BACKFILL half
    * (even event_ids) supplied as batch-computed initial state. The
    * final aggregate must equal the full-table one — the handoff
    * contract. */
  def warmStartActivity(tail: DataFrame, backfill: DataFrame): DataFrame = {
    val s = tail.sparkSession
    import s.implicits._
    val initial = backfill
      .select(col("user_id"), col("n_events"), col("max_value"),
        col("first_ts_us"), col("last_ts_us"))
      .as[UserActivity]
      .groupByKey(_.user_id)
    tail
      .select(col("user_id"), unix_micros(col("ts")).as("tsus"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new WarmStartActivityProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update(),
        initial)
      .toDF()
  }

  /** Output row of [[InactivityCloseProcessor]]. */
  case class SessionClose(user_id: Long, close_ts_us: Long)

  /** Event-time TIMERS on transformWithState — the remaining hook of
    * the Spark-4 stateful API ([[UserActivityProcessor]] covers
    * ValueState, [[TypeHistogramProcessor]] MapState,
    * [[WarmStartActivityProcessor]] initial state): an inactivity
    * detector that arms a per-user timer at last-seen + gap and emits a
    * SessionClose when the WATERMARK passes it — push-based session
    * closure, where b45's session_window is pull-based (the engine
    * emits on window merge+eviction). Each input batch re-arms the
    * user's single timer (drop the old, register at the new
    * last-seen + gap); `handleExpiredTimer` emits the closure and
    * clears the user's state, so an idle user costs nothing after the
    * close fires. Timers live in the same RocksDB store as the state
    * and restore with it on recovery. */
  class InactivityCloseProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, UserEvent, SessionClose] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.streaming.OutputMode

    @transient private var lastSeenMs: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastSeenMs = getHandle.getValueState[Long]("lastSeenMs",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[SessionClose] = {
      var mx = if (lastSeenMs.exists()) lastSeenMs.get() else Long.MinValue
      rows.foreach(e => if (e.tsus / 1000 > mx) mx = e.tsus / 1000)
      if (mx != Long.MinValue) {
        // single-timer contract: re-arm at the newest last-seen
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
        getHandle.registerTimer(mx + gapMs)
        lastSeenMs.update(mx)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionClose] = {
      lastSeenMs.clear()
      Iterator.single(SessionClose(key, expiredTimerInfo.getExpiryTimeInMs() * 1000))
    }
  }

  /** Inactivity closes over a watermarked event stream. The emitted set
    * depends on micro-batch boundaries by design, so the general surface
    * is property-checked (EventStreamSpec); under the single-data-batch
    * constraint the boundary dependence vanishes and b57 runs it under
    * the DuckDB oracle gate (StreamQueries.b57StreamTimers, whose
    * update-mode run StreamRunner holds to one data batch). */
  def inactivityCloses(events: DataFrame, gapMs: Long): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .withWatermark("ts", "1 second")
      .select(col("user_id"), unix_micros(col("ts")).as("tsus"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new InactivityCloseProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF()
  }

  /** The b53 stream: events keyed by user through
    * [[TypeHistogramProcessor]] (MapState). Update mode. */
  def typeHistogram(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select(col("user_id"), col("event_type"))
      .as[TypedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new TypeHistogramProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF()
  }

  /** The b51 stream: events keyed by user through
    * [[UserActivityProcessor]]. Returns a DataFrame with the processor's
    * output schema; run in update mode (one row per user per data
    * batch). */
  def userActivity(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("tsus"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new UserActivityProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF()
  }

  /** Hourly tumbling-window aggregation, batch/stream agnostic: counts
    * and the exact-decimal value sum per event-time hour. Produces the
    * same rows as `Relational.b11TimeWindow` on the same input. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(30, 6))), 2).cast("double").as("sum_value"))
      .select(
        unix_timestamp(col("w.start")).as("hour_epoch"),
        col("n_events"),
        col("sum_value"))
}
