package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}

/** Streaming surfaces exposed on the driver's oracled queries list.
  *
  * The 8 streaming concepts (SURVEY §2.9) are spec-gated in
  * CapStreamSpec/EventStreamSpec; this adds the driver-checkable gate:
  * the streaming hourly aggregation MUST reproduce batch b11 bit for
  * bit, so its oracle IS b11's oracle. `Trigger.AvailableNow` drains
  * the source as bounded micro-batches and terminates — the
  * batch/stream-unification contract Structured Streaming is built on,
  * here held to the same rows+schema+hash standard as every batch
  * operator.
  *
  * Every surface runs through [[StreamRunner.run]] (RocksDB state,
  * exactly-once file sink, explicit checkpoint, AvailableNow, read-back
  * scan) with its state width sized to the events source all nine read.
  * The sink root is wiped per run, so repeated calls in one session
  * (Verify + Bench) are idempotent. Update-mode surfaces get
  * StreamRunner's single-data-batch check.
  */
object StreamQueries {

  /** b43: EventStream.hourlyAgg through the micro-batch engine — the
    * result is the streaming runtime's own output, not a batch
    * re-computation. */
  def b43StreamParity(s: SparkSession, d: String): DataFrame =
    StreamRunner.run(s, "b43_stream_parity_sink", s"$d/events.parquet",
      EventStream.hourlyAgg(EventStream.readEvents(s, d)), "complete")
      .orderBy("hour_epoch")

  /** Same result contract as batch b11 — deliberately the same SQL. */
  val b43Sql: String = graft.queries.Relational.b11Sql

  /** b44: the stream-static broadcast enrichment (events × customer
    * dimension → per-segment rollup) through the micro-batch engine.
    * The static side is re-read per micro-batch and never stateful;
    * the oracle is the plain batch join it must equal. */
  def b44StreamSegment(s: SparkSession, d: String): DataFrame =
    StreamRunner.run(s, "b44_stream_segment_sink", s"$d/events.parquet",
      EventStream.segmentAgg(EventStream.readEvents(s, d),
        graft.sources.Tables.customer(s, d)), "complete")
      .orderBy("segment")

  val b44Sql: String =
    """SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
      |       COUNT(*) AS n_events,
      |       CAST(ROUND(SUM(CAST(e.value AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_value
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** b45: native session windows (30-minute inactivity gap) through
    * the micro-batch engine, oracled against the windowed-SQL
    * sessionization. Spark's session_window is [start, end) with
    * end = last event + gap, merging while the next event falls
    * strictly inside the current end — i.e. a gap of exactly 30
    * minutes STARTS a new session, which the oracle mirrors with
    * `>= 1800000000` on the microsecond delta. */
  def b45StreamSessions(s: SparkSession, d: String): DataFrame =
    StreamRunner.run(s, "b45_stream_sessions_sink", s"$d/events.parquet",
      EventStream.sessionAgg(EventStream.readEvents(s, d)), "complete")
      .orderBy("user_id", "sess_start_us")

  val b45Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsus, value FROM events),
      |x AS (SELECT user_id, tsus, value,
      |             CASE WHEN tsus - LAG(tsus) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_sess
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsus)),
      |g AS (SELECT user_id, tsus, value,
      |             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tsus
      |                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      |      FROM x)
      |SELECT user_id, MIN(tsus) AS sess_start_us,
      |       MAX(tsus) + 1800000000 AS sess_end_us,
      |       COUNT(*) AS n_events,
      |       CAST(ROUND(SUM(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_value
      |FROM g GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_start_us""".stripMargin

  /** b46: the stream-stream interval join (every error joined to the
    * same user's clicks in the preceding 30 minutes) through the
    * micro-batch engine. Both sides are the SAME streaming source
    * (a streaming self-join); the 2-hour watermarks inside
    * clickErrorJoin bound the buffered state, and the inner join emits
    * each match exactly once as both sides arrive. The oracle is the
    * equivalent batch interval self-join on microsecond epochs. */
  def b46StreamIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val events = EventStream.readEvents(s, d)
    StreamRunner.run(s, "b46_stream_interval_join_sink", s"$d/events.parquet",
      EventStream.clickErrorJoin(events, events), "append")
      .orderBy("error_id", "click_id")
  }

  val b46Sql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsus, event_type FROM events)
      |SELECT err.event_id AS error_id, clk.event_id AS click_id,
      |       err.user_id AS user_id, err.tsus - clk.tsus AS gap_us
      |FROM e err JOIN e clk ON err.user_id = clk.user_id
      |WHERE err.event_type = 'error' AND clk.event_type = 'click'
      |  AND err.tsus >= clk.tsus AND err.tsus <= clk.tsus + 1800000000
      |ORDER BY error_id, click_id""".stripMargin

  /** b47: bounded-state stream dedup under the oracle — the SAME event
    * source is read twice and unioned (every event arrives exactly
    * twice), then dropDuplicatesWithinWatermark collapses the doubled
    * stream. The oracle is the raw events table itself: dedup is
    * correct iff the doubled stream reproduces it exactly. Both copies
    * of a key are identical rows, so first-seen-wins is deterministic;
    * state is bounded by the 2-hour watermark (keys evict once the
    * watermark passes), which is what distinguishes this from a plain
    * dropDuplicates that grows state forever on an unbounded stream. */
  def b47StreamDedup(s: SparkSession, d: String): DataFrame = {
    val doubled = EventStream.readEvents(s, d)
      .unionAll(EventStream.readEvents(s, d))
    StreamRunner.run(s, "b47_stream_dedup_sink", s"$d/events.parquet",
      EventStream.dedupedEvents(doubled)
        .select(col("event_id"), unix_micros(col("ts")).as("tsus"),
          col("user_id"), col("event_type"), col("value")), "append")
      .orderBy("event_id")
  }

  val b47Sql: String =
    """SELECT event_id, epoch_us(ts) AS tsus, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin

  /** b51: per-user activity aggregate through Spark 4's
    * transformWithState API (typed ValueState + per-state encoders —
    * see [[EventStream.UserActivityProcessor]]). Update mode with the
    * single-data-batch premise: exactly one emitted row per user, the
    * final aggregate, which the plain batch GROUP BY oracle mirrors.
    * All folded measures are order-free (count/max/min), so the result
    * is identical under any partitioning or batch split — asserted by
    * the same oracle hash at CPUS=3/8. */
  def b51StreamTws(s: SparkSession, d: String): DataFrame =
    StreamRunner.run(s, "b51_stream_tws_sink", s"$d/events.parquet",
      EventStream.userActivity(EventStream.readEvents(s, d)), "update")
      .orderBy("user_id")

  val b51Sql: String =
    """SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value,
      |       MIN(epoch_us(ts)) AS first_ts_us, MAX(epoch_us(ts)) AS last_ts_us
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** b53: per-(user, event_type) histogram through transformWithState's
    * MapState handle (see [[EventStream.TypeHistogramProcessor]]) —
    * point-updated sub-key state, where b51 is the whole-value
    * ValueState shape. Update mode under the single-data-batch premise:
    * one row per (user, type), the final count, mirrored by the plain
    * batch GROUP BY oracle. */
  def b53StreamMapState(s: SparkSession, d: String): DataFrame =
    StreamRunner.run(s, "b53_stream_mapstate_sink", s"$d/events.parquet",
      EventStream.typeHistogram(EventStream.readEvents(s, d)), "update")
      .orderBy("user_id", "event_type")

  val b53Sql: String =
    """SELECT user_id, event_type, COUNT(*) AS n_events
      |FROM events GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** b54: the backfill→live-tail handoff — the stream (odd event_ids)
    * starts from per-user state SEEDED by a batch aggregate of the
    * even half ([[EventStream.WarmStartActivityProcessor]],
    * StatefulProcessorWithInitialState). The converged result must
    * equal the full-table aggregate for every user the tail touches —
    * exactly the contract of cutting a streaming job over from a
    * batch-computed snapshot without re-reading history through the
    * stream. (Users with no tail events never re-emit, so the oracle
    * scopes to tail-active users; at these SFs that is every user.) */
  def b54StreamWarmstart(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val ev = graft.sources.Tables.events(s, d)
    val backfill = ev.filter(col("event_id") % 2 === 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("value")).as("max_value"),
        min(unix_micros(col("ts"))).as("first_ts_us"),
        max(unix_micros(col("ts"))).as("last_ts_us"))
    val tail = EventStream.readEvents(s, d).filter(col("event_id") % 2 === 1)
    StreamRunner.run(s, "b54_stream_warmstart_sink", s"$d/events.parquet",
      EventStream.warmStartActivity(tail, backfill), "update")
      .orderBy("user_id")
  }

  val b54Sql: String =
    """SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value,
      |       MIN(epoch_us(ts)) AS first_ts_us, MAX(epoch_us(ts)) AS last_ts_us
      |FROM events
      |WHERE user_id IN (SELECT DISTINCT user_id FROM events WHERE event_id % 2 = 1)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** b57: event-time TIMERS under the oracle gate — the
    * [[EventStream.InactivityCloseProcessor]] closes a user's session
    * when the WATERMARK passes last-seen + gap. Under AvailableNow the
    * single data batch arms one timer per user at last_ms + gap; the
    * engine then runs a timer batch at the final watermark
    * (max event-time ms − 1000, the 1-second delay in
    * inactivityCloses), firing exactly the timers AT or below it —
    * expiry == watermark fires (INCLUSIVE, pinned by the
    * EventStreamSpec boundary fixture, where an exactly-at-watermark
    * timer fires and a wm+1ms timer stays open). That firing rule is
    * batch-expressible, so DuckDB computes the identical close set:
    * users whose last event is at least gap + delay before the
    * stream's end, each closing at (last_ms + gap) ms. At both driver
    * SFs the predicate genuinely discriminates (some users' last
    * events hug the global max and stay OPEN), so the oracle pins the
    * firing threshold, not just row plumbing. */
  private val b57GapMs = 30L * 60 * 1000

  def b57StreamTimers(s: SparkSession, d: String): DataFrame =
    StreamRunner.run(s, "b57_stream_timers_sink", s"$d/events.parquet",
      EventStream.inactivityCloses(EventStream.readEvents(s, d), b57GapMs), "update")
      .orderBy("user_id")

  val b57Sql: String =
    s"""WITH ls AS (SELECT user_id, max(epoch_ms(ts)) AS last_ms
       |            FROM events GROUP BY user_id),
       |     w AS (SELECT max(epoch_ms(ts)) - 1000 AS wm FROM events)
       |SELECT user_id, (last_ms + $b57GapMs) * 1000 AS close_ts_us
       |FROM ls, w WHERE last_ms + $b57GapMs <= wm
       |ORDER BY user_id""".stripMargin

  val queries: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("b43_stream_parity", b43StreamParity _, b43Sql),
    ("b44_stream_segment", b44StreamSegment _, b44Sql),
    ("b45_stream_sessions", b45StreamSessions _, b45Sql),
    ("b46_stream_interval_join", b46StreamIntervalJoin _, b46Sql),
    ("b47_stream_dedup", b47StreamDedup _, b47Sql),
    ("b51_stream_tws", b51StreamTws _, b51Sql),
    ("b53_stream_mapstate", b53StreamMapState _, b53Sql),
    ("b54_stream_warmstart", b54StreamWarmstart _, b54Sql),
    ("b57_stream_timers", b57StreamTimers _, b57Sql))
}
