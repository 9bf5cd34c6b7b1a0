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

import graft.cap.CapEtl
import graft.GraftTestSession
import graft.queries.CapQueries
import graft.streaming.StreamRunner

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

  /** Every request the server answered, as "METHOD path". */
  private val requests = new ConcurrentLinkedQueue[String]()

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    requests.add(s"${ex.getRequestMethod} ${ex.getRequestURI.getPath}")
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
    // a feed of n distinct alert links at /feed/<n>
    server.createContext("/feed/", (ex: HttpExchange) =>
      respond(ex, 200, rss(distinctLinks(ex.getRequestURI.getPath.stripPrefix("/feed/").toInt))))
    // a feed over every file of fixtures/<dir>, at /fixture-feed/<dir>;
    // the alert paths contain "alert", so the link predicate keeps them
    server.createContext("/fixture-feed/", (ex: HttpExchange) => {
      val dir = ex.getRequestURI.getPath.stripPrefix("/fixture-feed/")
      respond(ex, 200, rss(fixtureFiles(dir).map(f => s"$base/alerts/$dir/$f")))
    })
    server.createContext("/alerts/", (ex: HttpExchange) => {
      val p = Paths.get("fixtures", ex.getRequestURI.getPath.stripPrefix("/alerts/"))
      if (Files.exists(p)) respond(ex, 200, Files.readString(p))
      else respond(ex, 404, "not found")
    })
    // fails twice, then succeeds — exercises retry w/ backoff
    server.createContext("/flaky", (ex: HttpExchange) => {
      if (flakyHits.incrementAndGet() <= 2) respond(ex, 503, "unavailable")
      else respond(ex, 200, "<rss><channel><item><link>" + base +
        "/alerts/cap/metservice-polygon.xml</link></item></channel></rss>")
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

  /** An RSS feed with one `<link>` item per URL. */
  private def rss(urls: Seq[String]): String =
    urls.map(u => s"<item><link>$u</link></item>").mkString("<rss><channel>", "", "</channel></rss>")

  /** `n` distinct alert links: query-string variants of the fixtures/cap
    * paths, which `/alerts/` routes by path only. */
  private def distinctLinks(n: Int): Seq[String] =
    (0 until n).map(i => s"$base/alerts/cap/${alertFiles(i % alertFiles.size)}?v=$i")

  private def fixtureFiles(dir: String): Seq[String] =
    new java.io.File("fixtures", dir).list().toSeq.sorted

  private def feedOpts(dir: String) = Map("url" -> s"$base/fixture-feed/$dir", "timeout" -> "5000")
  private def sinkOpts = Map("url" -> s"$base/ingest", "timeout" -> "5000")

  /** Runs `etl` on a cleared request log: its record, the POST bodies
    * and the sorted paths of the GETs it sent. */
  private def logged(etl: => CapEtl.RunRecord): (CapEtl.RunRecord, Seq[String], Seq[String]) = {
    posts.clear()
    requests.clear()
    val record = etl
    (record, posts.asScala.toSeq,
      requests.asScala.toSeq.filter(_.startsWith("GET ")).map(_.stripPrefix("GET ")).sorted)
  }

  /** The GETs of one run over fixtures/`dir`: the feed once, each alert once. */
  private def fetchedOnce(dir: String): Seq[String] =
    (s"/fixture-feed/$dir" +: fixtureFiles(dir).map(f => s"/alerts/$dir/$f")).sorted

  private val idRe = """"id":"([^"]+)"""".r

  private def postedIds(bodies: Seq[String]): Seq[String] =
    bodies.flatMap(b => idRe.findAllMatchIn(b).map(_.group(1))).sorted

  /** The ids of fixtures/golden/all-fixtures.json: every feature of
    * fixtures/cap at [[CapQueries.asOf]]. */
  private lazy val goldenIds: Seq[String] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("fixtures/golden/all-fixtures.json"))
      .get("features").elements().asScala.map(_.get("id").asText()).toSeq.sorted

  test("capfeed: plans one partition slice per link group and fetches all alerts") {
    // one partition per FetchWindow (8) links, at most 4
    for ((links, partitions) <- Seq(5 -> 1, 9 -> 2, 40 -> 4)) {
      val df = spark.read.format("capfeed")
        .option("url", s"$base/feed/$links")
        .option("timeout", 5000)
        .load()
      assert(df.rdd.getNumPartitions == partitions,
        s"$links links must plan $partitions partitions, got ${df.rdd.getNumPartitions}")
      val rows = df.collect()
      assert(rows.map(_.getString(0)).sorted.toSeq == distinctLinks(links).sorted,
        s"$links links must each yield one row")
      rows.foreach(r => assert(r.getString(1).contains("<alert")))
    }
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
      s"<rss><channel><item><link>$base/alerts/cap/metservice-polygon.xml</link></item>" +
        s"<item><link>$base/alerts/cap/does-not-exist.xml</link></item></channel></rss>"))
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
    val links = ((1 to 6).map(i => s"alert-$i.xml") :+ "dead-alert.xml").map(f => s"$base/slow/$f")
    server.createContext("/slowfeed", (ex: HttpExchange) => respond(ex, 200, rss(links)))

    val rows = spark.read.format("capfeed")
      .option("url", s"$base/slowfeed")
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

  /** One AvailableNow drain of a `capfeed` stream over `feedUrl` on
    * `ckpt`; returns the emitted URLs, or the query's failure. */
  private def availableNow(feedUrl: String, ckpt: String,
      extra: (String, String)*): Either[Throwable, Seq[String]] = {
    val got = new ConcurrentLinkedQueue[String]()
    val feed = spark.readStream.format("capfeed")
      .options(Map("url" -> feedUrl, "timeout" -> "5000") ++ extra).load()
    val q = StreamRunner.drain(spark, "capfeed_urls", ckpt, feed, "append", ckpt,
      (df, _) => df.collect().foreach(r => got.add(r.getString(0))))
    q.exception.toLeft(got.asScala.toSeq)
  }

  test("capfeed streaming: AvailableNow polls once; checkpoint restart emits only new links") {
    val streamAlerts = new java.util.concurrent.atomic.AtomicReference(
      Seq("metservice-polygon.xml", "geonet-circle.xml"))
    server.createContext("/streamfeed", (ex: HttpExchange) =>
      respond(ex, 200, rss(streamAlerts.get().map(f => s"$base/alerts/cap/$f"))))
    val ckpt = tempDir("capfeed-ckpt").toString

    val first = availableNow(s"$base/streamfeed", ckpt).toOption.get.toSet
    assert(first == streamAlerts.get().map(f => s"$base/alerts/cap/$f").toSet)

    // feed gains one alert; a restarted stream on the same checkpoint
    // must emit ONLY the new link (offset replay, no re-emission)
    streamAlerts.set(streamAlerts.get() :+ "nema-nogeometry.xml")
    val second = availableNow(s"$base/streamfeed", ckpt).toOption.get.toSet
    assert(second == Set(s"$base/alerts/cap/nema-nogeometry.xml"),
      s"restart must emit only the new alert, got $second")
  }

  /** A `capfeed` micro-batch stream over `feedUrl`, driven for
    * `rounds` triggers the way Spark drives it: poll, plan from the last
    * offset, commit. Each round's planned links and offset JSON. */
  private def drive(feedUrl: String, rounds: Int): Seq[(Seq[String], String)] = {
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      Map("url" -> feedUrl, "timeout" -> "5000").asJava)
    // the stream writes nothing under its checkpoint location
    val stream = new CapFeedScan(opts).toMicroBatchStream("unused")
    var start = stream.initialOffset()
    try (1 to rounds).map { _ =>
      val end = stream.latestOffset()
      val planned = stream.planInputPartitions(start, end).toSeq
        .flatMap(_.asInstanceOf[CapFeedPartition].urls)
      stream.commit(end)
      start = end
      (planned.sorted, end.json())
    } finally stream.stop()
  }

  test("capfeed streaming: a link that leaves the feed and comes back is emitted again") {
    // the offset is the last poll's links, so a returning link is new
    // again, as the reference re-submits every link on every run: the
    // same across AvailableNow restarts and within one running stream
    val Seq(a, b) = Seq("metservice-polygon.xml", "geonet-circle.xml").map(f => s"$base/alerts/cap/$f")
    val feeds = Seq(Seq(a, b), Seq(b), Seq(a, b))
    val expected = Seq(Seq(a, b).sorted, Nil, Seq(a))
    val links = new java.util.concurrent.atomic.AtomicReference(Seq.empty[String])
    server.createContext("/returnfeed", (ex: HttpExchange) => respond(ex, 200, rss(links.get())))
    val ckpt = tempDir("capfeed-return-ckpt").toString
    val restarts = feeds.map { l =>
      links.set(l)
      availableNow(s"$base/returnfeed", ckpt).map(_.sorted)
    }
    assert(restarts == expected.map(Right(_)),
      s"restarts over feeds {A,B}, {B}, {A,B} must emit [A,B], [] and [A], got $restarts")
    val polls = new AtomicInteger(0)
    server.createContext("/returnfeed-polls", (ex: HttpExchange) =>
      respond(ex, 200, rss(feeds(polls.getAndIncrement()))))
    val oneStream = drive(s"$base/returnfeed-polls", feeds.size).map(_._1)
    assert(oneStream == expected,
      s"one stream over feeds {A,B}, {B}, {A,B} must plan [A,B], [] and [A], got $oneStream")
  }

  test("capfeed streaming: the offset stays one poll's links over 1,000 batches of a sliding feed") {
    // a 20-link window that slides by one link per poll
    val polls = new AtomicInteger(0)
    def link(i: Int) = s"$base/alerts/slide/alert-$i.xml"
    server.createContext("/slidingfeed", (ex: HttpExchange) => {
      val k = polls.getAndIncrement()
      respond(ex, 200, rss((k until k + 20).map(link)))
    })
    val rounds = drive(s"$base/slidingfeed", 1000)
    assert(rounds.flatMap(_._1).sorted == (0 until 1019).map(link).sorted,
      "every link must be planned exactly once")
    val longest = rounds.map(_._2.length).max
    val window = CapFeedOffset((999 until 1019).map(link)).json().length
    assert(longest <= window, s"offset JSON grew to $longest chars, one 20-link window is $window")
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
    server.createContext("/slowstreamfeed", (ex: HttpExchange) => respond(ex, 200, rss(urls)))
    val ckpt = tempDir("capfeed-overlap-ckpt").toString

    val got = availableNow(s"$base/slowstreamfeed", ckpt)
    assert(got.map(_.sorted) == Right(urls.sorted), s"one micro-batch must emit every link once, got $got")
    assert(maxInFlight.get() > 1,
      s"micro-batch fetched one alert at a time: max in-flight ${maxInFlight.get()}")
  }

  test("capfeed streaming: a failed feed poll plans no batch; the next run emits every link once") {
    val feedUp = new java.util.concurrent.atomic.AtomicBoolean(false)
    val urls = Seq("metservice-polygon.xml", "geonet-circle.xml", "unknown-codes.xml")
      .map(f => s"$base/alerts/cap/$f")
    val feedLinks = new java.util.concurrent.atomic.AtomicReference(urls)
    server.createContext("/outagefeed", (ex: HttpExchange) =>
      if (!feedUp.get()) respond(ex, 500, "feed down")
      else respond(ex, 200, rss(feedLinks.get())))
    val ckpt = tempDir("capfeed-outage-ckpt").toString

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
    val added = s"$base/alerts/cap/nema-nogeometry.xml"
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
    val good = s"$base/alerts/cap/metservice-polygon.xml"
    server.createContext("/newlinefeed", (ex: HttpExchange) => respond(ex, 200,
      s"<rss><channel><item><link>$good</link></item>" +
        s"<item><link>$base/alerts/cap/geonet-\n\tcircle.xml</link></item></channel></rss>"))
    val ckpt = tempDir("capfeed-newline-ckpt").toString

    // the broken link is planned into the offset, its fetch fails and is skipped
    val first = availableNow(s"$base/newlinefeed", ckpt, "retries" -> "0")
    assert(first == Right(Seq(good)), s"first run must emit the good link once, got $first")
    val restart = availableNow(s"$base/newlinefeed", ckpt, "retries" -> "0")
    assert(restart == Right(Nil), s"a restart must read its offset and re-emit nothing, got $restart")
  }

  test("streaming quarantine parity: a planted bad alert through the capfeed " +
      "MicroBatchStream lands in the quarantine side-channel") {
    // cap3_quarantine gates per-alert error isolation over files; the
    // same side-channel through CapEtl over the capfeed source, batch
    // and stream: the planted bad fixtures (unparseable sent/onset)
    // quarantine, the healthy ones still deliver their features
    val (batch, batchBodies, _) =
      logged(CapEtl.run(spark, feedOpts("cap_bad"), sinkOpts, CapQueries.asOf))
    val (stream, streamBodies, _) = logged(CapEtl.stream(spark, feedOpts("cap_bad"), sinkOpts,
      CapQueries.asOf, tempDir("capfeed-quar-ckpt").toString))
    assert(stream.quarantined.toSet == batch.quarantined.toSet,
      s"stream quarantine diverges from batch: ${stream.quarantined} vs ${batch.quarantined}")
    assert(batch.quarantined.map(_.identifier).sorted == Seq("QBAD-2026-001", "QBAD-2026-002"),
      "exactly the two planted bad alerts must quarantine")
    assert(postedIds(streamBodies) == postedIds(batchBodies) && batchBodies.nonEmpty,
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
    val ckpt = tempDir("capfeed-etl-ckpt").toString
    val (record, bodies, gets) =
      logged(CapEtl.stream(spark, feedOpts("cap"), sinkOpts, CapQueries.asOf, ckpt))
    assert(postedIds(bodies) == goldenIds, "the stream must POST each golden feature once")
    assert(record.features == goldenIds.size)
    assert(gets == fetchedOnce("cap"), "each alert must be fetched once")
    // a second run from the same checkpoint has no new alert
    val (again, againBodies, againGets) =
      logged(CapEtl.stream(spark, feedOpts("cap"), sinkOpts, CapQueries.asOf, ckpt))
    assert(againBodies.isEmpty && again == CapEtl.RunRecord(0, Nil),
      s"a re-run on the checkpoint must POST nothing, got $again")
    assert(againGets == Seq("/fixture-feed/cap"), s"a re-run polls the feed only, got $againGets")
  }

  test("end-to-end: capfeed → parse → features → cloudtak FeatureCollection POSTs") {
    val (record, bodies, gets) =
      logged(CapEtl.run(spark, feedOpts("cap"), sinkOpts, CapQueries.asOf))
    assert(bodies.nonEmpty && bodies.size <= 4, "one POST per non-empty partition")
    bodies.foreach { b =>
      assert(b.startsWith("""{"type":"FeatureCollection","features":["""))
      assert(b.endsWith("]}"))
    }
    assert(postedIds(bodies) == goldenIds, "the run must POST each golden feature once")
    assert(record.features == goldenIds.size)
    assert(gets == fetchedOnce("cap"), "each alert must be fetched once")
  }

  test("CapEtl over a feed with no alert POSTs nothing, in batch and in stream") {
    server.createContext("/emptyfeed", (ex: HttpExchange) =>
      respond(ex, 200, "<rss><channel></channel></rss>"))
    val empty = Map("url" -> s"$base/emptyfeed", "timeout" -> "5000")
    val (batch, batchBodies, _) = logged(CapEtl.run(spark, empty, sinkOpts, CapQueries.asOf))
    val (stream, streamBodies, _) = logged(CapEtl.stream(spark, empty, sinkOpts,
      CapQueries.asOf, tempDir("capfeed-empty-ckpt").toString))
    assert(batch == CapEtl.RunRecord(0, Nil) && stream == CapEtl.RunRecord(0, Nil))
    assert(batchBodies.isEmpty && streamBodies.isEmpty)
  }

  test("EtlConfig: reference-parity defaults and validation") {
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
    // a header or url that java.net.http would refuse fails here, once,
    // not inside every retried request; the error never shows a value
    for ((bad, named) <- Seq(
        Map("headers" -> "Authorization") -> "no '='",
        Map("headers" -> "A=1; =2") -> "empty name",
        Map("headers" -> "Host=example") -> "'Host'",
        Map("headers" -> "A=1;Content-Length=3") -> "'Content-Length'",
        Map("headers" -> "X-Key=s3cr3t\nvalue") -> "'X-Key'",
        Map("url" -> "not a url") -> "'url'",
        Map("url" -> "file:///feed.xml") -> "'url'")) {
      val e = intercept[IllegalArgumentException](
        EtlConfig.fromOptions(opts(Map("url" -> "http://example") ++ bad), "capfeed"))
      assert(e.getMessage.startsWith("capfeed: ") && e.getMessage.contains(named) &&
        !e.getMessage.contains("s3cr3t"), s"$bad: ${e.getMessage}")
    }
  }
}
