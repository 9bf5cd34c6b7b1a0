package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.cap.CapPipeline
import graft.GraftTestSession

/** DSv2 connector tests against a real in-JVM HTTP server: feed
  * planning, partition-parallel alert fetch, retry/backoff parity, and
  * the FeatureCollection sink envelope.
  */
class ConnectorSpec extends AnyFunSuite with GraftTestSession with BeforeAndAfterAll {

  private var server: HttpServer = _
  private var base: String = _
  private val posts = new ConcurrentLinkedQueue[String]()
  private val flakyHits = new AtomicInteger(0)
  private val alertFiles = Seq(
    "metservice-polygon.xml", "metservice-multipolygon.xml", "geonet-circle.xml",
    "nema-nogeometry.xml", "unknown-codes.xml")

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val feed = alertFiles.zipWithIndex.map { case (f, i) =>
      s"<item><link>$base/cap/$f</link></item>"
    }.mkString("<rss><channel>", "", "</channel></rss>")
    server.createContext("/feed", (ex: HttpExchange) => respond(ex, 200, feed))
    server.createContext("/cap/", (ex: HttpExchange) => {
      val name = ex.getRequestURI.getPath.stripPrefix("/cap/")
      val p = Paths.get("fixtures/cap", name)
      if (Files.exists(p)) respond(ex, 200, Files.readString(p))
      else respond(ex, 404, "not found")
    })
    // fails twice, then succeeds — exercises retry w/ backoff
    server.createContext("/flaky", (ex: HttpExchange) => {
      if (flakyHits.incrementAndGet() <= 2) respond(ex, 503, "unavailable")
      else respond(ex, 200, "<rss><channel><item><link>" + base +
        "/cap/metservice-polygon.xml</link></item></channel></rss>")
    })
    server.createContext("/ingest", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      posts.add(body)
      respond(ex, 200, "ok")
    })
    // without an executor the JDK server handles requests on ONE
    // dispatcher thread, which would serialize the concurrency test
    // server-side and hide client-side overlap
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  test("capfeed: plans one partition slice per link group and fetches all alerts") {
    val df = spark.read.format("capfeed")
      .option("url", s"$base/feed")
      .option("numPartitions", 2)
      .option("timeout", 5000)
      .load()
    assert(df.rdd.getNumPartitions == 2, "link slices must become input partitions")
    val rows = df.collect()
    assert(rows.length == alertFiles.length)
    val urls = rows.map(_.getString(0)).toSet
    assert(urls == alertFiles.map(f => s"$base/cap/$f").toSet)
    rows.foreach(r => assert(r.getString(1).contains("<alert")))
  }

  test("capfeed: retries with backoff on 5xx and then succeeds (reference parity)") {
    flakyHits.set(0)
    val t0 = System.nanoTime()
    val df = spark.read.format("capfeed")
      .option("url", s"$base/flaky")
      .option("timeout", 5000)
      .option("retries", 2)
      .load()
    val n = df.count()
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(n == 1)
    assert(flakyHits.get() == 3, "two failures + one success")
    // linear backoff 1000*(attempt+1): 1000 + 2000 = 3000 ms minimum
    assert(elapsedMs >= 3000, s"backoff not applied: ${elapsedMs}ms")
  }

  test("capfeed: exhausted retries surface the HTTP error") {
    flakyHits.set(-1000) // stays 5xx for all attempts
    val ex = intercept[Exception] {
      spark.read.format("capfeed")
        .option("url", s"$base/flaky")
        .option("timeout", 1000)
        .option("retries", 0)
        .load().count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(_.getMessage != null) &&
      chain(ex).exists(t => Option(t.getMessage).exists(_.contains("HTTP 503"))))
  }

  test("capfeed: a dead alert link is skipped (reference per-alert isolation)") {
    // feed with one good and one 404 link
    server.createContext("/deadfeed", (ex: HttpExchange) => respond(ex, 200,
      s"<rss><channel><item><link>$base/cap/metservice-polygon.xml</link></item>" +
        s"<item><link>$base/cap/does-not-exist.xml</link></item></channel></rss>"))
    val rows = spark.read.format("capfeed")
      .option("url", s"$base/deadfeed")
      .option("timeout", 2000)
      .option("retries", 0)
      .load().collect()
    assert(rows.length == 1, "dead link must be skipped, not fail the run")
    assert(rows(0).getString(0).endsWith("metservice-polygon.xml"))
  }

  test("capfeed: the default window overlaps a partition's fetches and skips dead links") {
    // 6 deliberately slow alert endpoints + 1 dead link, all in ONE
    // partition, so any speedup must come from intra-partition overlap
    val slowMs = 150L
    // server-side overlap instrumentation: the handler counts requests
    // currently in flight and records the high-water mark — a direct
    // observation of fetch overlap, immune to scheduler-stall flakes
    // that a wall-clock ratio assertion is exposed to on loaded CI
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/slow/", (ex: HttpExchange) => {
      val now = inFlight.incrementAndGet()
      maxInFlight.accumulateAndGet(now, math.max)
      try {
        Thread.sleep(slowMs)
        val name = ex.getRequestURI.getPath.stripPrefix("/slow/")
        if (name == "dead-alert.xml") respond(ex, 404, "not found")
        else respond(ex, 200, Files.readString(Paths.get("fixtures/cap/metservice-polygon.xml")))
      } finally inFlight.decrementAndGet()
    })
    // filenames contain "alert" so the P2 link predicate keeps them
    val links = ((1 to 6).map(i => s"alert-$i.xml") :+ "dead-alert.xml")
      .map(f => s"<item><link>$base/slow/$f</link></item>").mkString
    server.createContext("/slowfeed", (ex: HttpExchange) =>
      respond(ex, 200, s"<rss><channel>$links</channel></rss>"))

    val rows = spark.read.format("capfeed")
      .option("url", s"$base/slowfeed")
      .option("numPartitions", 1)
      .option("timeout", 5000)
      .option("retries", 0)
      .load().collect()
    val max = maxInFlight.get()
    // 6 good rows, the dead link skipped
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      (1 to 6).map(i => s"$base/slow/alert-$i.xml").sorted)
    // overlap, observed server-side: the window must genuinely overlap
    // (≥3 of 7 in flight together — conservative so a slow submission
    // ramp can't flake it) and can never exceed the partition's 7 links
    assert(max >= 3 && max <= 7,
      s"default window did not overlap within bounds: max in-flight $max")
  }

  /** One AvailableNow run of a `capfeed` stream over `feedUrl` on
    * `ckpt`; returns the emitted URLs, or the query's failure. */
  private def availableNow(feedUrl: String, ckpt: String,
      extra: (String, String)*): Either[Throwable, Seq[String]] = {
    val got = new ConcurrentLinkedQueue[String]()
    var reader = spark.readStream.format("capfeed")
      .option("url", feedUrl)
      .option("timeout", 5000)
    extra.foreach { case (k, v) => reader = reader.option(k, v) }
    val q = reader.load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => got.add(r.getString(0)))
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(60000), s"stream over $feedUrl did not finish")
      Right(got.asScala.toSeq)
    } catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException => Left(e)
    } finally q.stop()
  }

  test("capfeed streaming: AvailableNow polls once; checkpoint restart emits only new links") {
    val streamAlerts = new java.util.concurrent.atomic.AtomicReference(
      Seq("metservice-polygon.xml", "geonet-circle.xml"))
    server.createContext("/streamfeed", (ex: HttpExchange) => respond(ex, 200,
      streamAlerts.get().map(f => s"<item><link>$base/cap/$f</link></item>")
        .mkString("<rss><channel>", "", "</channel></rss>")))
    val ckpt = java.nio.file.Files.createTempDirectory("capfeed-ckpt").toString

    val first = availableNow(s"$base/streamfeed", ckpt).toOption.get.toSet
    assert(first == streamAlerts.get().map(f => s"$base/cap/$f").toSet)

    // feed gains one alert; a restarted stream on the same checkpoint
    // must emit ONLY the new link (offset replay, no re-emission)
    streamAlerts.set(streamAlerts.get() :+ "nema-nogeometry.xml")
    val second = availableNow(s"$base/streamfeed", ckpt).toOption.get.toSet
    assert(second == Set(s"$base/cap/nema-nogeometry.xml"),
      s"restart must emit only the new alert, got $second")
  }

  test("capfeed streaming: a micro-batch overlaps its alert fetches at the default window") {
    val inFlight = new AtomicInteger(0)
    val maxInFlight = new AtomicInteger(0)
    server.createContext("/slowstream-alerts/", (ex: HttpExchange) => {
      maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      try {
        Thread.sleep(150)
        respond(ex, 200, Files.readString(Paths.get("fixtures/cap/metservice-polygon.xml")))
      } finally inFlight.decrementAndGet()
    })
    val urls = (1 to 5).map(i => s"$base/slowstream-alerts/a$i.xml")
    server.createContext("/slowstreamfeed", (ex: HttpExchange) => respond(ex, 200,
      urls.map(u => s"<item><link>$u</link></item>").mkString("<rss><channel>", "", "</channel></rss>")))
    val ckpt = Files.createTempDirectory("capfeed-overlap-ckpt").toString

    val got = availableNow(s"$base/slowstreamfeed", ckpt, "numPartitions" -> "1")
    assert(got.map(_.sorted) == Right(urls.sorted), s"one micro-batch must emit every link once, got $got")
    assert(maxInFlight.get() > 1,
      s"micro-batch fetched one alert at a time: max in-flight ${maxInFlight.get()}")
  }

  test("capfeed streaming: a failed feed poll plans no batch; the next run emits every link once") {
    val feedUp = new java.util.concurrent.atomic.AtomicBoolean(false)
    val urls = Seq("metservice-polygon.xml", "geonet-circle.xml", "unknown-codes.xml")
      .map(f => s"$base/cap/$f")
    val feedLinks = new java.util.concurrent.atomic.AtomicReference(urls)
    server.createContext("/outagefeed", (ex: HttpExchange) =>
      if (!feedUp.get()) respond(ex, 500, "feed down")
      else respond(ex, 200, feedLinks.get()
        .map(u => s"<item><link>$u</link></item>").mkString("<rss><channel>", "", "</channel></rss>")))
    val ckpt = Files.createTempDirectory("capfeed-outage-ckpt").toString

    // the feed is down for the whole first run: it ends cleanly, empty
    val down = availableNow(s"$base/outagefeed", ckpt, "retries" -> "0")
    assert(down == Right(Nil), s"a failed poll must end the run quietly, got $down")

    // the feed is back: a run from the same checkpoint emits each link once
    feedUp.set(true)
    val up = availableNow(s"$base/outagefeed", ckpt, "retries" -> "0")
    assert(up.map(_.sorted) == Right(urls.sorted), s"recovered run must emit every link once, got $up")

    // a restart whose first poll fails must keep the committed offset:
    // that run emits nothing, and the next good poll emits only the
    // link added since, not the checkpointed ones again
    feedUp.set(false)
    val downAgain = availableNow(s"$base/outagefeed", ckpt, "retries" -> "0")
    assert(downAgain == Right(Nil), s"a failed poll after a restart must emit nothing, got $downAgain")
    val added = s"$base/cap/nema-nogeometry.xml"
    feedLinks.set(urls :+ added)
    feedUp.set(true)
    val afterOutage = availableNow(s"$base/outagefeed", ckpt, "retries" -> "0")
    assert(afterOutage == Right(Seq(added)),
      s"the run after a failed poll must emit only the new link, got $afterOutage")
  }

  test("capfeed streaming: a link with an inner newline round-trips the checkpointed offset") {
    // the RSS pattern admits newlines and tabs inside <link>; Spark's
    // offset log keeps one offset per line, so the offset JSON must
    // escape them or the restart below cannot read its checkpoint
    val good = s"$base/cap/metservice-polygon.xml"
    server.createContext("/newlinefeed", (ex: HttpExchange) => respond(ex, 200,
      s"<rss><channel><item><link>$good</link></item>" +
        s"<item><link>$base/cap/geonet-\n\tcircle.xml</link></item></channel></rss>"))
    val ckpt = Files.createTempDirectory("capfeed-newline-ckpt").toString

    // the broken link is planned into the offset, its fetch fails and is skipped
    val first = availableNow(s"$base/newlinefeed", ckpt, "retries" -> "0")
    assert(first == Right(Seq(good)), s"first run must emit the good link once, got $first")
    val restart = availableNow(s"$base/newlinefeed", ckpt, "retries" -> "0")
    assert(restart == Right(Nil), s"a restart must read its offset and re-emit nothing, got $restart")
  }

  test("streaming quarantine parity: a planted bad alert through the capfeed " +
      "MicroBatchStream lands in the quarantine side-channel") {
    // cap3_quarantine gates per-alert error isolation in BATCH mode;
    // this proves the same side-channel through the capfeed streaming
    // source — a feed mixing healthy alerts with the
    // planted bad fixtures (unparseable sent/onset) must stream the
    // good features and quarantine exactly the bad identifiers, no
    // batch/stream divergence.
    // path segment contains "alert" so the P2 link predicate
    // (Http.isCapAlertLink) keeps these links — same contract real
    // CAP feeds satisfy
    server.createContext("/capbad-alerts/", (ex: HttpExchange) => {
      val name = ex.getRequestURI.getPath.stripPrefix("/capbad-alerts/")
      val p = Paths.get("fixtures/cap_bad", name)
      if (Files.exists(p)) respond(ex, 200, Files.readString(p))
      else respond(ex, 404, "not found")
    })
    val mixed = Seq("/cap/metservice-polygon.xml", "/capbad-alerts/bad-sent.xml",
      "/capbad-alerts/bad-onset.xml", "/capbad-alerts/ok-point.xml")
    server.createContext("/feedbad", (ex: HttpExchange) => respond(ex, 200,
      mixed.map(f => s"<item><link>$base$f</link></item>")
        .mkString("<rss><channel>", "", "</channel></rss>")))

    import spark.implicits._
    val asOf = java.time.Instant.parse("2024-06-01T00:00:00Z")
    def active(xml: org.apache.spark.sql.Dataset[String]) =
      CapPipeline.filterActive(CapPipeline.parseAlerts(xml), asOf)
    /** Both sides of one fan-out over `alerts`, read from one persisted copy. */
    def bothSides(alerts: org.apache.spark.sql.Dataset[graft.cap.CapAlert])
        : (Set[String], Set[(String, String)]) = {
      alerts.persist()
      try (CapPipeline.toFeatures(alerts).collect().map(_.id).toSet,
        CapPipeline.quarantine(alerts).collect().map(qa => (qa.identifier, qa.error)).toSet)
      finally alerts.unpersist()
    }

    val featIds = new ConcurrentLinkedQueue[String]()
    val quarantined = new ConcurrentLinkedQueue[(String, String)]()
    val ckpt = java.nio.file.Files.createTempDirectory("capfeed-quar-ckpt").toString
    val q = spark.readStream.format("capfeed")
      .option("url", s"$base/feedbad")
      .option("timeout", 5000)
      .load()
      .select("xml").as[String]
      .transform(active)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.cap.CapAlert], _: Long) =>
        val (fs, qs) = bothSides(batch)
        fs.foreach(featIds.add)
        qs.foreach(quarantined.add)
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "quarantine stream did not finish")
    q.stop()

    // batch reference over the identical source
    val xmlB = spark.read.format("capfeed").option("url", s"$base/feedbad").load()
      .select("xml").as[String]
    val (batchFeats, batchQuar) = bothSides(active(xmlB))

    assert(quarantined.asScala.toSet == batchQuar,
      s"stream quarantine diverges from batch: ${quarantined.asScala.toSet} vs $batchQuar")
    assert(quarantined.asScala.map(_._1).toSet == Set("QBAD-2026-001", "QBAD-2026-002"),
      "exactly the two planted bad alerts must quarantine")
    assert(featIds.asScala.toSet == batchFeats && batchFeats.nonEmpty,
      "healthy alerts must still emit their features through the stream")
  }

  test("cloudtak: overwrite mode works (truncate is a no-op; CloudTAK upserts by id)") {
    posts.clear()
    import spark.implicits._
    Seq("""{"id":"ow-1"}""").toDF("json").write.format("cloudtak")
      .option("url", s"$base/ingest").option("timeout", 5000)
      .mode("overwrite")
      .save()
    assert(posts.asScala.exists(_.contains("ow-1")))
  }

  test("streaming end-to-end: capfeed stream → parse → fan-out → cloudtak per batch") {
    posts.clear()
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("capfeed-e2e-ckpt").toString
    val q = spark.readStream.format("capfeed")
      .option("url", s"$base/feed")
      .option("timeout", 5000)
      .load()
      .select("xml").as[String]
      .transform(xml => CapPipeline.toFeatures(CapPipeline.filterActive(
        CapPipeline.parseAlerts(xml), java.time.Instant.parse("2024-06-01T00:00:00Z"))))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.cap.CotFeature], _: Long) =>
        batch.select("json").write.format("cloudtak")
          .option("url", s"$base/ingest").option("timeout", 5000)
          .mode("append").save()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    q.stop()
    val idRe = """"id":"([^"]+)"""".r
    val got = posts.asScala.toSeq.flatMap(b => idRe.findAllMatchIn(b).map(_.group(1))).toSet
    val expected = {
      val xml = spark.read.format("capfeed").option("url", s"$base/feed").load()
        .select("xml").as[String]
      CapPipeline.toFeatures(CapPipeline.filterActive(CapPipeline.parseAlerts(xml),
        java.time.Instant.parse("2024-06-01T00:00:00Z"))).collect().map(_.id).toSet
    }
    assert(got == expected && got.nonEmpty,
      s"streamed features must equal batch features: got=$got expected=$expected")
  }

  test("end-to-end: capfeed → parse → features → cloudtak FeatureCollection POSTs") {
    posts.clear()
    import spark.implicits._
    val xml = spark.read.format("capfeed")
      .option("url", s"$base/feed")
      .option("numPartitions", 2)
      .load()
      .select("xml").as[String]
    val feats = CapPipeline.toFeatures(CapPipeline.filterActive(
      CapPipeline.parseAlerts(xml), java.time.Instant.parse("2024-06-01T00:00:00Z")))
    val expected = feats.collect().map(_.id).toSet
    assert(expected.nonEmpty)

    feats.select("json").write.format("cloudtak")
      .option("url", s"$base/ingest")
      .option("timeout", 5000)
      .mode("append")
      .save()

    val bodies = posts.asScala.toSeq
    assert(bodies.nonEmpty && bodies.size <= 4, "one POST per non-empty partition")
    bodies.foreach { b =>
      assert(b.startsWith("""{"type":"FeatureCollection","features":["""))
      assert(b.endsWith("]}"))
    }
    // every feature id arrives exactly once across the partition POSTs
    val idRe = """"id":"([^"]+)"""".r
    val got = bodies.flatMap(b => idRe.findAllMatchIn(b).map(_.group(1)))
    assert(got.toSet == expected)
    assert(got.length == expected.size)
  }

  test("EtlConfig: reference-parity defaults, validation, and published JSON schema") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    def opts(m: Map[String, String]) = new CaseInsensitiveStringMap(m.asJava)
    // defaults mirror the reference env schema (task.ts:15-22)
    val c = EtlConfig.fromOptions(opts(Map("url" -> "http://example/feed")), "capfeed")
    assert(c.timeoutMs == 30000L && c.retries == 2 && c.headers.isEmpty)
    val full = EtlConfig.fromOptions(opts(Map(
      "url" -> "http://example", "headers" -> "A=1;B=2",
      "timeout" -> "5000", "retries" -> "4")), "capfeed")
    assert(full.headers == Map("A" -> "1", "B" -> "2"))
    assert(full.timeoutMs == 5000L && full.retries == 4)
    // malformed configs are rejected with the connector name
    val e1 = intercept[IllegalArgumentException](
      EtlConfig.fromOptions(opts(Map.empty), "capfeed"))
    assert(e1.getMessage.contains("capfeed: 'url' option is required"))
    val e2 = intercept[IllegalArgumentException](
      EtlConfig.fromOptions(opts(Map("url" -> "u", "timeout" -> "0")), "cloudtak"))
    assert(e2.getMessage.contains("timeout"))
    val e3 = intercept[IllegalArgumentException](
      EtlConfig.fromOptions(opts(Map("url" -> "u", "retries" -> "-1")), "cloudtak"))
    assert(e3.getMessage.contains("retries"))
    // published schema pins url-required and both reference defaults
    assert(EtlConfig.inputJsonSchema.contains("\"required\":[\"url\"]"))
    assert(EtlConfig.inputJsonSchema.contains("\"default\":30000"))
    assert(EtlConfig.inputJsonSchema.contains("\"default\":2"))
    assert(EtlConfig.emptyJsonSchema == """{"type":"object","properties":{}}""")
  }
}
