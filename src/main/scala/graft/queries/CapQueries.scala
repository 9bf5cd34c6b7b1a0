package graft.queries

import java.time.Instant

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.cap.CapPipeline

/** CAP ETL pipeline exposed on the driver's queries surface. Not
  * SQL-expressible (XML + custom fan-out semantics), so each oracle
  * reads a checked-in golden parquet ([[goldens]]); full semantic
  * coverage lives in the ScalaTest suites + golden files.
  */
object CapQueries {

  /** Deterministic clock for F1 (SURVEY.md §5 determinism rule). */
  val asOf: Instant = Instant.parse("2026-08-12T00:00:00Z")

  /** Fixture roots: relative when running from the repo checkout
    * (tests, sbt), falling back to the driver's absolute layout. */
  private def resolve(rel: String): String =
    if (new java.io.File(rel).exists()) rel else s"/root/repo/$rel"

  def fixtureDir: String = resolve("fixtures/cap")
  def feedDir: String = resolve("fixtures/feed")
  def badFixtureDir: String = resolve("fixtures/cap_bad")
  def lifecycleFixtureDir: String = resolve("fixtures/cap_lifecycle")

  /** One XML document (an alert or a feed) per file of `dir`, read
    * whole so no document is split at a line. */
  private def xmlFiles(s: SparkSession, dir: String): Dataset[String] =
    s.read.option("wholetext", "true").text(dir).as(Encoders.STRING)

  /** Full pipeline: alert XML fixtures → CoT features, projected to
    * (id, json) — `json` is the COMPLETE rendered feature (the
    * reference's actual output format), so every envelope/metadata/
    * geometry/style field participates in the oracle hash while the
    * compare stays engine-portable (two string columns, no nested
    * types). */
  def capFeatures(s: SparkSession, d: String): DataFrame =
    CapPipeline.toFeatures(CapPipeline.active(xmlFiles(s, fixtureDir), asOf))
      .toDF()
      .select(col("id"), col("json"))
      .orderBy(col("id"))

  /** P1-P3: feed-link extraction over RSS+Atom fixture feeds, in the
    * reference's first-occurrence order (order-preserving dedup). */
  def capFeedLinks(s: SparkSession, d: String): DataFrame =
    CapPipeline.parseFeedLinks(xmlFiles(s, feedDir)).toDF("link")

  /** F2 quarantine surface over a fixture set with PLANTED bad alerts
    * (unparseable `sent`/`onset` — the reference's per-alert
    * try/catch-and-drop, task.ts:876-878, upgraded to a side-channel):
    * the full pipeline runs and the quarantined (identifier, error)
    * rows come back. */
  def capQuarantine(s: SparkSession, d: String): DataFrame =
    CapPipeline.quarantine(CapPipeline.active(xmlFiles(s, badFixtureDir), asOf))
      .toDF().select(col("identifier"), col("error"))
      .orderBy("identifier")

  /** Golden-file oracles: the driver's DuckDB compare reads a
    * checked-in expected-output parquet (regenerate with
    * `runMain graft.GoldenGen` after an INTENDED semantic change).
    * The goldens are locked to the hand-verified fixture JSON goldens
    * (fixtures/golden) by CapPipelineSpec/FeaturesSpec — this
    * turns the XML pipeline's spec coverage into a driver-checkable
    * rows+schema+hash gate instead of a rows-only smoke check.
    *
    * The one table of golden files: query name → the file its oracle
    * reads and GoldenGen writes. Absolute paths into the checkout in
    * use: DuckDB runs from another directory. */
  val goldens: SortedMap[String, String] = SortedMap(
    "cap1_features" -> "cap1_features.parquet",
    "cap2_feed_links" -> "cap2_feed_links.parquet",
    "cap3_quarantine" -> "cap3_quarantine.parquet",
    "cap4_stream_lifecycle" -> "cap4_lifecycle.parquet",
    "cap5_stream_transitions" -> "cap5_transitions.parquet")
    .map { case (q, f) => q -> new java.io.File(resolve("fixtures/golden"), f).getAbsolutePath }

  val cap1Sql: String =
    s"SELECT id, json FROM '${goldens("cap1_features")}' ORDER BY id"

  val cap2Sql: String =
    s"SELECT link FROM '${goldens("cap2_feed_links")}'"

  val cap3Sql: String =
    s"SELECT identifier, error FROM '${goldens("cap3_quarantine")}' ORDER BY identifier"

  /** cap4: the mapGroupsWithState alert lifecycle (Alert → Update* →
    * Cancel, terminal cancel) over a fixture chain, run through the
    * ACTUAL stateful streaming operator — the arbitrary-stateful-
    * processing surface the reference cannot express, held to a golden
    * oracle like every other query. Runs through the same
    * [[graft.streaming.StreamRunner]] path as b43–b57 (RocksDB state,
    * exactly-once file sink, no driver-resident stream results) in
    * Update mode, which mapGroupsWithState requires. One AvailableNow
    * batch over the fixture dir yields exactly one update row per alert
    * id — the golden compare DEPENDS on that, so StreamRunner's
    * update-mode single-data-batch check fails here if a future
    * maxFilesPerTrigger default or added fixtures ever split the
    * source, instead of silently diverging with duplicate per-id rows. */
  def capLifecycle(s: SparkSession, d: String): DataFrame = {
    val alerts = graft.streaming.CapStream.alerts(s, lifecycleFixtureDir)
    graft.streaming.StreamRunner.run(s, "cap4_lifecycle_sink", lifecycleFixtureDir,
      graft.streaming.CapStream.lifecycle(alerts).toDF()
        .select(col("identifier"), col("status"),
          concat_ws("|", col("msgTypes")).as("msg_chain"),
          col("lastSent").as("last_sent")), "update")
      .orderBy("identifier")
  }

  /** cap5: the flatMapGroupsWithState per-transition audit log over
    * the same fixture chain — one row per state transition. */
  def capTransitions(s: SparkSession, d: String): DataFrame = {
    val alerts = graft.streaming.CapStream.alerts(s, lifecycleFixtureDir)
    graft.streaming.StreamRunner.run(s, "cap5_transitions_sink", lifecycleFixtureDir,
      graft.streaming.CapStream.lifecycleTransitions(alerts).toDF()
        .select(col("identifier"), col("fromStatus").as("from_status"),
          col("toStatus").as("to_status"), col("msgType").as("msg_type"),
          col("sent")), "update")
      .orderBy("identifier", "sent")
  }

  val cap4Sql: String =
    s"SELECT identifier, status, msg_chain, last_sent FROM '${goldens("cap4_stream_lifecycle")}' ORDER BY identifier"

  val cap5Sql: String =
    s"SELECT identifier, from_status, to_status, msg_type, sent FROM '${goldens("cap5_stream_transitions")}' ORDER BY identifier, sent"

  val queries: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("cap1_features", capFeatures _, cap1Sql),
    ("cap2_feed_links", capFeedLinks _, cap2Sql),
    ("cap3_quarantine", capQuarantine _, cap3Sql),
    ("cap4_stream_lifecycle", capLifecycle _, cap4Sql),
    ("cap5_stream_transitions", capTransitions _, cap5Sql))
}
