package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.AsOfJoinStrategy

/** Guards the one-session rule: sessions come from [[GraftSession]],
  * and asking for one twice neither builds a second session nor
  * registers the extensions twice. Also guards the one-registration
  * rule: graft functions reach a session only through
  * [[graft.plans.GraftExtensions]]; the one-runtime rule: every stream
  * in the engine starts in [[graft.streaming.StreamRunner.drain]];
  * that only the entry points read environment variables; that every
  * main ends in [[GraftSession.run]]; that each CAP step spelled as
  * a literal has one home; that query builders read sf tables only
  * through [[graft.sources.Tables]]; that XML parsing has one home,
  * [[graft.cap.CapXml]]; and that connector options with a default are
  * read only in [[graft.sources.EtlConfig]].
  */
class GraftSessionSpec extends AnyFunSuite with GraftTestSession {

  // split so this file does not match itself
  private val builderCall = "SparkSession" + ".builder"
  private val registerCalls = Seq("createOrReplace" + "TempFunction", "udf" + ".register")
  private val writeStreamCall = "." + "writeStream"
  private val envRead = "sys" + ".env"
  private val linkTag = "<" + "link"
  private val envelope = "\"Feature" + "Collection\""
  private val stateShutdown = "StateBackend" + ".shutdown()"
  private val stopCall = "." + "stop()"
  private val connectorFormats = Seq("capfeed", "cloudtak").map(f => "format(\"" + f + "\")")
  private val expiryCall = "filter" + "Active("
  private val parquetRead = "read" + ".parquet("
  private val fromXml = "from_" + "xml("
  private val dsv2Options = Seq("CaseInsensitive" + "StringMap", ".options" + "()")
  private val defaultedRead = "\\.(getInt|getLong|getBoolean|getDouble|getOrDefault)\\(\"".r
  private val staxFactories = Seq("newInstance", "newFactory", "newDefaultFactory")
    .map(m => "XMLInputFactory" + "." + m)

  private lazy val sources: Seq[(Path, String)] =
    Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.map(p => p -> Files.readString(p))

  /** Count of `needle` per Scala file under src/, files without it dropped. */
  private def callSites(needle: String): Map[Path, Int] =
    sources.map { case (p, text) => p -> text.sliding(needle.length).count(_ == needle) }
      .filter(_._2 > 0).toMap

  /** Like [[callSites]], restricted to src/main. */
  private def mainCallSites(needle: String): Map[Path, Int] =
    callSites(needle).filter(_._1.startsWith(Paths.get("src/main/scala")))

  private def mainFile(name: String): Path = Paths.get(s"src/main/scala/graft/$name.scala")

  /** Files allowed to build a session, with their number of call sites:
    * GraftSession, and AsOfJoinSpec's deliberately unextended session. */
  private val allowed = Map(
    Paths.get("src/main/scala/graft/GraftSession.scala") -> 1,
    Paths.get("src/test/scala/graft/plans/AsOfJoinSpec.scala") -> 1)

  test("only GraftSession and AsOfJoinSpec's unextended case build a SparkSession") {
    val sites = callSites(builderCall)
    assert(sites.nonEmpty, "the scan found no call site at all; wrong working directory?")
    assert(sites == allowed, s"SparkSession built outside GraftSession: $sites")
  }

  test("two GraftSession calls return one session with the extensions registered once") {
    val again = GraftSession(cores = 4)
    assert(again eq spark)
    val registry = spark.sessionState.functionRegistry
    for (name <- Seq("winnow_fps", "cosine_sim", "native_dot", "lsh_bands"))
      assert(registry.listFunction().count(_ == FunctionIdentifier(name)) == 1,
        s"$name is not registered exactly once")
    assert(spark.sessionState.planner.strategies.count(_ == AsOfJoinStrategy) == 1)
    assert(spark.sql("SELECT cosine_sim(array(1d, 0d), array(1d, 0d))").head().getDouble(0) == 1.0)
  }

  test("state-store maintenance waits at most 10 s at shutdown, not the 300 s default") {
    assert(spark.conf.get("spark.sql.streaming.stateStore.maintenanceShutdownTimeout") == "10s")
  }

  test("no code registers a function at runtime; GraftExtensions is the only path") {
    for (call <- registerCalls)
      assert(callSites(call).isEmpty, s"runtime function registration found: $call")
  }

  test("in src/main only StreamRunner.drain starts a stream") {
    val sites = mainCallSites(writeStreamCall)
    assert(sites == Map(mainFile("streaming/StreamRunner") -> 1),
      s"writeStream called outside StreamRunner.drain: $sites")
  }

  test("in src/main only GraftSession, Bench and Verify read the environment") {
    val readers = mainCallSites(envRead).keySet
    assert(readers.nonEmpty, "the scan found no environment read at all; wrong working directory?")
    val outside = readers -- Seq("GraftSession", "Bench", "Verify").map(mainFile)
    assert(outside.isEmpty, s"environment read outside the entry points: $outside")
  }

  test("in src/main only GraftSession.run closes the state stores and stops the session") {
    val shutdowns = mainCallSites(stateShutdown)
    // the other two stops are a drained query's and the state store's own
    val stops = mainCallSites(stopCall)
    assert(shutdowns == Map(mainFile("GraftSession") -> 1) &&
      stops == Map(mainFile("GraftSession") -> 1,
        mainFile("streaming/StreamRunner") -> 1, mainFile("streaming/StateBackend") -> 1),
      s"StateBackend.shutdown called in $shutdowns, only GraftSession.run may; " +
        s"stop() called in $stops, only GraftSession.run, StreamRunner.drain and StateBackend may")
  }

  test("in src/main only FeedLinks spells <link and only Features the envelope") {
    val links = mainCallSites(linkTag).keySet
    val envelopes = mainCallSites(envelope).keySet
    assert(links == Set(mainFile("sources/Http")) && envelopes == Set(mainFile("cap/Features")),
      s"<link spelled in $links, only FeedLinks may; " +
        s"the FeatureCollection envelope built in $envelopes, only Features may")
  }

  test("in src/main only CapEtl names the connector formats; only CapPipeline calls filterActive") {
    val formats = connectorFormats.flatMap(f => mainCallSites(f).keySet).toSet
    val expiry = callSites(expiryCall).keySet
    assert(formats == Set(mainFile("cap/CapEtl")) && expiry == Set(mainFile("cap/CapPipeline")),
      s"capfeed/cloudtak format named in $formats, only CapEtl may; " +
        s"filterActive called in $expiry, only CapPipeline may")
  }

  test("no query builder reads parquet itself; sf tables come only through Tables") {
    val readers = mainCallSites(parquetRead).keySet.filter { p =>
      Seq("queries", "multimodal").exists(d => p.startsWith(Paths.get(s"src/main/scala/graft/$d")))
    }
    assert(readers.isEmpty, s"parquet read outside graft.sources.Tables: $readers")
    assert(mainCallSites(parquetRead).contains(mainFile("sources/Tables")),
      "the scan found no parquet read in Tables; wrong working directory?")
  }

  test("in src/main nothing calls from_xml; only CapXml creates an XMLInputFactory") {
    val fromXmlCalls = mainCallSites(fromXml).keySet
    val factories = staxFactories.flatMap(f => callSites(f).keySet).toSet
    assert(fromXmlCalls.isEmpty && factories == Set(mainFile("cap/CapXml")),
      s"from_xml called in $fromXmlCalls, CapXml.decode is the one XML parse; " +
        s"XMLInputFactory created in $factories, only CapXml may")
  }

  test("in src/main only EtlConfig reads a connector option with a default") {
    // a file that handles DSv2 options and reads one with a default
    // (getInt("k", d), getOrDefault("k", d), ...): a connector knob
    val readers = sources.collect {
      case (p, text) if p.startsWith(Paths.get("src/main/scala")) &&
          dsv2Options.exists(text.contains) && defaultedRead.findFirstIn(text).nonEmpty => p
    }.toSet
    assert(readers == Set(mainFile("sources/EtlConfig")),
      s"connector option read with a default in $readers; only EtlConfig.fromOptions may, " +
        "next to its validation")
  }
}
