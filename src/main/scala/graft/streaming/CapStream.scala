package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.cap.{CapAlert, CapPipeline}

/** Lifecycle state carried across micro-batches for one alert id. */
final case class AlertLifecycle(identifier: String, status: String,
    msgTypes: Seq[String], lastSent: String)

/** One emitted state transition of one alert id (audit-log row). */
final case class AlertTransition(identifier: String, fromStatus: String,
    toStatus: String, msgType: String, sent: String)

/** Streaming mode for the CAP pipeline (SURVEY §2.9): the reference's
  * "streaming" is scheduled whole-batch re-execution (task.ts:66); here
  * a Structured Streaming job reads the alert files incrementally
  * (`Trigger.AvailableNow` replaces the external scheduler), and
  * `mapGroupsWithState`/`flatMapGroupsWithState` add the alert-lifecycle
  * tracking the reference leaves to CloudTAK (msgType field exists at
  * task.ts:31 but is never consumed).
  *
  * The stateless steps have no streaming copy: CapPipeline.parseAlerts
  * / active / toFeatures run unchanged on streaming Datasets
  * (CapStreamSpec drains them against the batch pipeline, and
  * [[graft.cap.CapEtl.stream]] is the CAP job itself as a stream) — the
  * engine's batch/stream unification story.
  */
object CapStream {

  /** Streaming source: one CAP XML document per file in `xmlDir`,
    * parsed. No maxFilesPerTrigger cap: with Trigger.AvailableNow that
    * means ONE micro-batch over the whole directory, so the lifecycle
    * surfaces (cap4, cap5) see every alert of a chain in one batch. */
  def alerts(spark: SparkSession, xmlDir: String): Dataset[CapAlert] = {
    import spark.implicits._
    CapPipeline.parseAlerts(spark.readStream.option("wholetext", "true").text(xmlDir).as[String])
  }

  /** Absolute time of a CAP timestamp; unparseable sorts first. CAP
    * timestamps mix UTC offsets (`+12:00` vs `Z`), so ordering and
    * recency compare parsed instants, never raw strings. */
  private def epochMs(s: String): Long =
    graft.functions.JsCompat.jsDateParse(s).map(_.toEpochMilli).getOrElse(Long.MinValue)

  /** Deterministic within-batch order: by absolute time, then msgType. */
  private def inOrder(batch: Iterator[CapAlert]): Seq[CapAlert] =
    batch.toSeq.sortBy(a => (epochMs(a.sent), a.msgType))

  /** The lifecycle rule: a Cancel cancels, cancelled is terminal,
    * anything else is active. */
  private def transition(status: String, msgType: String): String =
    if (msgType == "Cancel" || status == "cancelled") "cancelled" else "active"

  /** Alert lifecycle (Alert → Update* → Cancel) via mapGroupsWithState:
    * per-identifier state accumulates the msgType chain; a Cancel marks
    * the alert cancelled, an Update keeps it active with the latest
    * sent. Arbitrary stateful processing the reference cannot express.
    * State holds one row per distinct alert id (CAP feeds: tens); an
    * unbounded-id deployment would add a state timeout. Recency
    * compares parsed instants ([[epochMs]]): lexicographic comparison
    * would pick a wall-clock-later-but-absolute-earlier value. */
  def lifecycle(alerts: Dataset[CapAlert]): Dataset[AlertLifecycle] = {
    import alerts.sparkSession.implicits._
    alerts.groupByKey(_.identifier)
      .mapGroupsWithState[AlertLifecycle, AlertLifecycle](GroupStateTimeout.NoTimeout()) {
        (id, batch, state) =>
          val prior = state.getOption.getOrElse(AlertLifecycle(id, "none", Seq.empty, ""))
          val next = inOrder(batch).foldLeft(prior) { (st, a) =>
            AlertLifecycle(id, transition(st.status, a.msgType), st.msgTypes :+ a.msgType,
              if (st.lastSent.isEmpty || epochMs(a.sent) > epochMs(st.lastSent)) a.sent
              else st.lastSent)
          }
          state.update(next)
          next
      }
  }

  /** Per-transition audit log via `flatMapGroupsWithState` — the
    * multi-row sibling of [[lifecycle]]: where mapGroupsWithState must
    * collapse each group-batch to ONE row (latest state), this emits
    * one row per state TRANSITION (none→active, active→cancelled, …),
    * which is what a downstream audit/compliance consumer ingests.
    * Same deterministic within-batch ordering and terminal-cancel
    * semantics; state is the single latest status per alert id, so
    * streaming state stays O(live alerts) regardless of history
    * length. Update output mode in streaming; identical rows in batch
    * via the spec's replay comparison.
    */
  def lifecycleTransitions(alerts: Dataset[CapAlert]): Dataset[AlertTransition] = {
    import alerts.sparkSession.implicits._
    alerts.groupByKey(_.identifier)
      .flatMapGroupsWithState[String, AlertTransition](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (id, batch, state) =>
          var status = state.getOption.getOrElse("none")
          val out = inOrder(batch).flatMap { a =>
            val next = transition(status, a.msgType)
            val row =
              if (next != status) Some(AlertTransition(id, status, next, a.msgType, a.sent))
              else None
            status = next
            row
          }
          state.update(status)
          out.iterator
      }
  }
}
