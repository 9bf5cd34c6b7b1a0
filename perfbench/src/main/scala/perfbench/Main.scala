package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.{LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.BenchAccess
import org.apache.spark.sql.SparkSession

/** Engine-side driver of the benchmark: one JVM per run. It reads the
  * run's config (written by run.py), starts the session, runs one
  * workload against the program's public entry points and writes its
  * measurements to the config's `out` file as JSON.
  *
  * Usage: java -cp <classpath> perfbench.Main <config.json>
  */
object Main {
  private val mapper = new ObjectMapper()

  /** Everything a workload needs: config, session, listener, load
    * generator control channel, trace and the result being built. */
  final class Ctx(val cfg: JsonNode, val spark: SparkSession, val listener: ExecListener) {
    val result = new JMap[String, Any]()
    val layer = new JMap[String, Any]()
    val trace = new Trace
    val traced: Boolean = cfg.path("trace").asInt(0) == 1
    val seconds: Double = cfg.path("seconds").asDouble(10)
    val minPasses: Int = cfg.path("min_passes").asInt(3)
    val base: String = cfg.path("base").asText("")
    var attempted = 0L
    var failed = 0L
    val notes = new java.util.ArrayList[String]()

    private lazy val http = HttpClient.newHttpClient()

    /** GET a load-generator control endpoint; returns its JSON reply. */
    def ctl(path: String): JsonNode = {
      val res = http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      require(res.statusCode() == 200, s"control $path answered ${res.statusCode()}")
      mapper.readTree(res.body())
    }

    def drain(): Unit = BenchAccess.drainListeners(spark.sparkContext)

    def fail(n: Long, why: String): Unit = if (n > 0) {
      failed += n
      if (notes.size < 20) notes.add(why)
    }

    /** Seconds since the engine JVM started: the set-up clock. */
    def sinceJvmStart: Double =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** The plan-affecting session confs `graft.Bench` sets, at `cores`;
    * scratch state (compaction cache, shuffle files, warehouse) is kept
    * under the run's work directory. */
  def sessionConfs(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> (cores * 8).toString,
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "16000000",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.sql.streaming.numRecentProgressUpdates" -> "100000",
    "spark.graft.compact.dir" -> s"$work/compact",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val cores = cfg.path("cores").asInt(Runtime.getRuntime.availableProcessors())
    val work = cfg.path("work").asText()
    val confs = sessionConfs(cores, work)
    val spark = confs.foldLeft(SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new ExecListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(cfg, spark, listener)
    val r = ctx.result
    r.put("session_s", ctx.sinceJvmStart)
    val gc0 = gcSeconds
    try {
      cfg.path("workload").asText() match {
        case "etl_batch_cpu" => Etl.batch(ctx)
        case "etl_stream_rtt" => Etl.stream(ctx)
        case "analytics_mix" => Analytics.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      r.put("peak_rss_mb", peakRssMb)
      ctx.layer.put("jvm.gc_s", gcSeconds - gc0)
    } finally {
      val c = new JMap[String, Any]()
      confs.foreach { case (k, v) => c.put(k, v) }
      c.put("master", s"local[$cores]")
      c.put("max_heap_mb", Runtime.getRuntime.maxMemory / (1 << 20))
      r.put("confs", c)
      r.put("attempted", ctx.attempted)
      r.put("failed", ctx.failed)
      r.put("notes", ctx.notes)
      r.put("layer", ctx.layer)
      if (ctx.traced) r.put("spans", ctx.trace.json)
      mapper.writeValue(new File(cfg.path("out").asText()), r)
      spark.stop()
    }
  }
}
