package perfbench

import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.{col, length, sum}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

import graft.cap.{CapPipeline, CotFeature}
import graft.sources.{FeedLinks, Http}

/** The CAP workloads: capfeed -> parseAlerts -> filterActive ->
  * toFeatures -> cloudtak, as a closed loop of batch passes
  * (`etl_batch_cpu`) and as one long-running micro-batch stream
  * (`etl_stream_rtt`). The connectors get only `url` and `timeout`;
  * every other knob stays at the program's default. */
object Etl {
  private val Timeout = "30000"

  def features(xml: Dataset[String], asOf: Instant): Dataset[CotFeature] =
    CapPipeline.toFeatures(CapPipeline.filterActive(CapPipeline.parseAlerts(xml), asOf))

  private def read(ctx: Main.Ctx, url: String): Dataset[String] =
    ctx.spark.read.format("capfeed").option("url", url).option("timeout", Timeout).load()
      .select("xml").as(Encoders.STRING)

  private def write(df: DataFrame, url: String): Unit =
    df.write.format("cloudtak").option("url", url).option("timeout", Timeout)
      .mode("append").save()

  /** The load generator's check of one pass's deliveries; it also
    * returns that pass's server-side counters. Runs outside timing. */
  private def verify(ctx: Main.Ctx, tag: String): JsonNode = {
    val v = ctx.ctl(s"/ctl/verify?tag=$tag")
    ctx.attempted += v.path("alerts").asLong
    ctx.fail(v.path("failed").asLong, s"$tag: ${v.path("why").asText}")
    v
  }

  def batch(ctx: Main.Ctx): Unit = {
    val asOf = Instant.parse(ctx.cfg.path("as_of").asText())
    val feed = s"${ctx.base}/feed/batch"
    val sc = ctx.spark.sparkContext
    def fused(tag: String): Double = {
      sc.setJobGroup(tag, tag)
      val t0 = System.nanoTime()
      write(features(read(ctx, feed), asOf).select("json"), s"${ctx.base}/ingest/$tag")
      (System.nanoTime() - t0) / 1e9
    }

    // set-up excludes the output checks of the warm-up passes
    var checks = 0.0
    val warmups = (0 until ctx.cfg.path("warmup_passes").asInt(1)).map { k =>
      val w = fused(s"warmup$k")
      val t0 = System.nanoTime()
      verify(ctx, s"warmup$k")
      checks += (System.nanoTime() - t0) / 1e9
      w
    }
    ctx.result.put("warmup_walls", warmups.asJava)
    ctx.result.put("setup_s", ctx.sinceJvmStart - checks)

    val walls = ArrayBuffer.empty[Double]
    val alerts = ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    def more(i: Int) = i < ctx.minPasses || (System.nanoTime() - t0) / 1e9 < ctx.seconds
    var i = 0
    if (!ctx.traced) {
      while (more(i)) {
        walls += fused(s"p$i")
        alerts += verify(ctx, s"p$i").path("alerts").asLong
        i += 1
      }
    } else {
      // Each round: an untraced fused pass, then a traced round.
      val untraced = ArrayBuffer.empty[Double]
      val rounds = ArrayBuffer.empty[Round]
      val phases = Phases.register(ctx.spark)
      while (more(i)) {
        untraced += fused(s"u$i")
        verify(ctx, s"u$i")
        rounds += tracedRound(ctx, feed, asOf, i, phases)
        i += 1
      }
      walls ++= rounds.map(_.wall)
      alerts ++= rounds.map(_.server.path("alerts").asLong)
      report(ctx, rounds.toSeq, phases)
      Server.layer(ctx.layer, rounds.map(_.server).toSeq)
      ctx.layer.put("trace.overhead_share",
        Main.median(rounds.map(_.wall).toSeq) / Main.median(untraced.toSeq) - 1)
    }
    ctx.result.put("pass_walls", walls.asJava)
    ctx.result.put("pass_alerts", alerts.asJava)
  }

  private final case class Round(wall: Double, build: Double, tail: Double,
      server: JsonNode, counts: (Long, Long, Long, Long))

  /** A traced fused pass, then a staged pass where every layer runs as
    * its own materialized step: fetch -> cached xml -> parse -> cached
    * alerts -> filter -> fan-out -> cached features -> sink. */
  private def tracedRound(ctx: Main.Ctx, feed: String, asOf: Instant, i: Int,
      phases: Phases): Round = {
    val tr = ctx.trace
    val sc = ctx.spark.sparkContext
    val tag = s"t$i"
    sc.setJobGroup(tag, tag)
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var build = 0.0
    tr.span("pass", tag) {
      val df = features(read(ctx, feed), asOf).select("json")
      build = (System.nanoTime() - t0) / 1e9
      write(df, s"${ctx.base}/ingest/$tag")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val returned = System.currentTimeMillis()
    phases.window(start, returned)
    ctx.drain()
    val server = verify(ctx, tag)

    val st = s"s$i"
    sc.setJobGroup(st, st)
    def cached[T](ds: Dataset[T]): (Dataset[T], Long) = {
      val p = ds.persist(StorageLevel.MEMORY_ONLY)
      (p, p.count())
    }
    val (xml, nXml, alerts, active, nActive, feats, nFeats) = tr.span("staged", st) {
      tr.span("capfeed.plan", st) {
        FeedLinks.extract(Http.fetchWithRetry(feed, Map.empty, Timeout.toLong, 2))
      }
      val (xml, nXml) = tr.span("capfeed.fetch", st) { cached(read(ctx, feed)) }
      val (alerts, _) = tr.span("cap.parse", st) { cached(CapPipeline.parseAlerts(xml)) }
      val (active, nActive) =
        tr.span("cap.filter", st) { cached(CapPipeline.filterActive(alerts, asOf)) }
      val (feats, nFeats) = tr.span("cap.fanout", st) { cached(CapPipeline.toFeatures(active)) }
      tr.span("cloudtak.write", st) {
        write(feats.select("json"), s"${ctx.base}/ingest/$st")
      }
      (xml, nXml, alerts, active, nActive, feats, nFeats)
    }
    val bytes = feats.agg(sum(length(col("json")))).first().getLong(0)
    Seq(feats, active, alerts, xml).foreach(_.unpersist())
    verify(ctx, st)
    Round(wall, build, (returned - ctx.listener.group(tag).lastJobEndMs) / 1e3, server,
      (nXml, nActive, nFeats, bytes))
  }

  private val stagedLayers =
    Seq("capfeed.fetch", "cap.parse", "cap.filter", "cap.fanout", "cloudtak.write")

  /** Per-round layer self times, counts, Catalyst phases and stage
    * metrics of the traced rounds. */
  private def report(ctx: Main.Ctx, rounds: Seq[Round], phases: Phases): Unit = {
    val n = rounds.size
    val self = ctx.trace.selfSeconds
    def per(name: String) = self.getOrElse(name, 0.0) / n
    val l = ctx.layer
    ("capfeed.plan" +: stagedLayers).foreach(k => l.put(k + "_s", per(k)))
    l.put("cap.fused_gap_s", Main.median(rounds.map(_.wall)) - stagedLayers.map(per).sum)
    l.put("query.build_s", Main.median(rounds.map(_.build)))
    val (in, active, out, bytes) = rounds.last.counts
    l.put("cap.alerts_in", in)
    l.put("cap.alerts_active", active)
    l.put("cap.features_out", out)
    l.put("cap.feature_json_bytes", bytes)
    Exec.layer(ctx, n, _.startsWith("t"), rounds.map(_.tail))
    phases.layer(l)
  }

  def stream(ctx: Main.Ctx): Unit = {
    val asOf = Instant.parse(ctx.cfg.path("as_of").asText())
    val sc = ctx.spark.sparkContext
    val feed = s"${ctx.base}/feed/stream"
    val sink = s"${ctx.base}/ingest/stream"
    // traced runs attach the listener halfway through the measured ticks
    if (ctx.traced) sc.removeSparkListener(ctx.listener)
    val q = ctx.spark.readStream.format("capfeed")
      .option("url", feed).option("timeout", Timeout).load()
      .select("xml").as(Encoders.STRING)
      .transform(features(_, asOf))
      .writeStream
      .foreachBatch { (b: Dataset[CotFeature], _: Long) => write(b.select("json"), sink) }
      .option("checkpointLocation", s"${ctx.cfg.path("work").asText()}/checkpoint")
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    try {
      // set-up ends when the first batch holding the pre-published
      // alerts has committed
      val deadline = System.nanoTime() + 120e9.toLong
      while (!q.recentProgress.exists(_.numInputRows > 0)) {
        q.exception.foreach(e => throw e)
        require(System.nanoTime() < deadline, "stream committed no batch within 120 s")
        Thread.sleep(5)
      }
      ctx.result.put("setup_s", ctx.sinceJvmStart)
      ctx.ctl("/ctl/go")
      var attached = !ctx.traced
      var st = ctx.ctl("/ctl/status")
      while (!st.path("done").asBoolean(false)) {
        q.exception.foreach(e => throw e)
        if (!attached && st.path("tick").asInt >= st.path("traced_from_tick").asInt) {
          sc.addSparkListener(ctx.listener)
          attached = true
        }
        Thread.sleep(100)
        st = ctx.ctl("/ctl/status")
      }
    } finally q.stop()
    val v = verify(ctx, "stream")
    val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
    val l = ctx.layer
    def p50(phase: String) =
      Main.median(progress.map(_.durationMs.asScala.get(phase).map(_.toDouble / 1e3).getOrElse(0.0)))
    l.put("stream.batches", progress.size)
    l.put("stream.trigger_s_p50", p50("triggerExecution"))
    l.put("stream.latest_offset_s_p50", p50("latestOffset"))
    l.put("stream.add_batch_s_p50", p50("addBatch"))
    l.put("stream.wal_commit_s_p50", p50("walCommit"))
    l.put("stream.offset_json_bytes_last",
      progress.lastOption.flatMap(_.sources.headOption).map(_.endOffset.length).getOrElse(0))
    ctx.result.put("stream_batches", progress.size)
    if (ctx.traced) {
      // the layers' self times on the stream's inputs, from one traced
      // round over the final feed window
      val phases = Phases.register(ctx.spark)
      report(ctx, Seq(tracedRound(ctx, feed, asOf, 0, phases)), phases)
      // stage metrics of the micro-batches (job group = the query's run id)
      Exec.layer(ctx, 1, _ == q.runId.toString, Nil)
      Server.layer(l, Seq(v))
    }
  }
}
