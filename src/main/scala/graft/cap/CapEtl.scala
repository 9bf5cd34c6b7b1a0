package graft.cap

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.GraftSession
import graft.streaming.StreamRunner

/** The reference's whole job, `control()` (task.ts:598-883), composed
  * once: fetch the feed and its alerts (`capfeed`), parse and drop the
  * expired ([[CapPipeline.active]]), fan out, and submit the features
  * (`cloudtak`). [[run]] is one scheduled invocation over the whole
  * feed. [[stream]] runs the same body on each micro-batch of an
  * AvailableNow stream, so a run from an existing checkpoint delivers
  * only the alerts that appeared since the last one: one declarative
  * job, batch or incremental (Structured Streaming, SIGMOD 2018). No
  * other file in `src/main` names the two connectors.
  *
  * Usage: `runMain graft.cap.CapEtl <feedUrl> <sinkUrl> [checkpointDir]`.
  * A checkpoint selects the incremental run. The clock is the wall
  * clock; the main prints the run record as one JSON line.
  */
object CapEtl {

  /** What one run delivered: the number of features POSTed to the sink
    * and the alerts whose fan-out failed, each with its error. Jackson
    * writes it. */
  final case class RunRecord(features: Long, quarantined: Seq[QuarantinedAlert]) {
    def json: String = mapper.writeValueAsString(this)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def active(feed: DataFrame, asOf: Instant): Dataset[CapAlert] =
    CapPipeline.active(feed.select("xml").as(Encoders.STRING), asOf)

  /** The shared body. The alerts are persisted, so both fan-out sides
    * read one fetch of each alert: the features go to the sink, the
    * quarantine rows to the record. */
  private def deliver(alerts: Dataset[CapAlert], sinkOpts: Map[String, String]): RunRecord = {
    alerts.persist()
    try {
      val sent = Observation("cloudtak")
      CapPipeline.toFeatures(alerts).select("json")
        .observe(sent, count(lit(1)).as("features"))
        .write.format("cloudtak").options(sinkOpts).mode("append").save()
      RunRecord(sent.get("features").asInstanceOf[Long],
        CapPipeline.quarantine(alerts).collect().toSeq)
    } finally alerts.unpersist()
  }

  /** One scheduled run: the whole feed at `asOf`. `feedOpts` and
    * `sinkOpts` are the connectors' options (`url` and the rest of
    * [[graft.sources.EtlConfig]]). */
  def run(spark: SparkSession, feedOpts: Map[String, String],
      sinkOpts: Map[String, String], asOf: Instant): RunRecord =
    deliver(active(spark.read.format("capfeed").options(feedOpts).load(), asOf), sinkOpts)

  /** One incremental run from `checkpoint`: the alerts whose links the
    * checkpoint's last feed poll did not hold (a link that left the
    * feed and came back is new again), drained AvailableNow through
    * [[StreamRunner.drain]], the body applied per micro-batch. A re-run
    * with no new alert delivers nothing. The plan holds no state, so
    * the checkpoint is also the path that sizes the (unused) state
    * width. */
  def stream(spark: SparkSession, feedOpts: Map[String, String],
      sinkOpts: Map[String, String], asOf: Instant, checkpoint: String): RunRecord = {
    val batches = new ConcurrentLinkedQueue[RunRecord]()
    val alerts = active(spark.readStream.format("capfeed").options(feedOpts).load(), asOf)
    val q = StreamRunner.drain(spark, "cap_etl", checkpoint, alerts.toDF(), "append",
      checkpoint, (batch, _) => batches.add(deliver(batch.as[CapAlert](alerts.encoder), sinkOpts)))
    q.exception.foreach(e => throw e)
    val all = batches.asScala.toSeq
    RunRecord(all.map(_.features).sum, all.flatMap(_.quarantined))
  }

  def main(args: Array[String]): Unit = {
    val (feedUrl, sinkUrl, checkpoint) = args match {
      case Array(f, s) => (f, s, None)
      case Array(f, s, c) => (f, s, Some(c))
      case _ => throw new IllegalArgumentException(
        "usage: CapEtl <feedUrl> <sinkUrl> [checkpointDir]")
    }
    val (feed, sink) = (Map("url" -> feedUrl), Map("url" -> sinkUrl))
    GraftSession.run() { spark =>
      val asOf = Instant.now()
      val record = checkpoint match {
        case Some(c) => stream(spark, feed, sink, asOf, c)
        case None => run(spark, feed, sink, asOf)
      }
      println(record.json)
    }
  }
}
