package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.SharedRelation

/** Benchmark main — times every SparkEntry query on SPARK_GRAFT_SF_DIR
  * under one fresh-execution protocol ([[protocol]]):
  *   - one warmup pass over the selection in natural name order, then
  *     5 timed passes, pass p visiting the selection left-rotated by
  *     p·k/5, so each query samples 5 positions in the sweep; a sweep
  *     whose warmup pass took over 10 minutes gets one timed pass;
  *   - every run, warmup or timed, is [[run]]: release the shared
  *     relations, build a fresh DataFrame (`build_s`), execute it into
  *     Spark's no-op sink (`exec_s`). Every scan, shuffle and sort
  *     re-runs and nothing lands on the driver, at any scale factor;
  *   - stream builders run their AvailableNow drain inside the build,
  *     so their `build_s` is the stream wall;
  *   - per query: medians of `build_s`, `exec_s` and their sum.
  *
  * Output contract, in order:
  *   - one `{"q":name,...}` line per query after the timed passes;
  *   - the FULL result JSON (all queries) written to `bench_out.json` in
  *     the working directory, and archived under `bench_runs/` for an
  *     unfiltered sweep;
  *   - ONE final compact JSON line: totals plus the per-query total of
  *     the 12 headline queries (B1–B12, the BASELINE.md comparison set),
  *     sized to survive a ~1.9 KB tail window.
  */
object Bench {

  private val protocol = "fresh_noop_warmup1_rotated5_median"

  /** BASELINE.md comparison set — kept in the final compact line. */
  private val headline: Seq[String] = Seq(
    "b1_scan_filter", "b2_hash_agg", "b3_multi_join", "b4_join_filter",
    "b5_window_topn", "b6_topk", "b7_distinct", "b8_setop",
    "b9_json_extract", "b10_explode", "b11_time_window", "b12_cosine_topk")

  /** One run of a query: (build_s, exec_s). Shared relations are
    * released first, so a family query pays its shared subtree on
    * every run instead of only on the first. */
  def run(spark: SparkSession, build: (SparkSession, String) => DataFrame,
      sfDir: String): (Double, Double) = {
    SharedRelation.releaseAll(spark)
    val t0 = System.nanoTime()
    val df = build(spark, sfDir)
    val t1 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  private def jnum(v: Double): String = f"$v%.4f"

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) -1.0 else xs.sorted.apply(xs.size / 2)

  /** (load-1min, load-15min, running-java-process count) — the box-
    * contention evidence stamped into every bench artifact. Linux-only
    * reads (/proc); any failure degrades to (-1,-1,-1) rather than
    * killing the sweep. */
  private def boxState(): (Double, Double, Int) =
    try {
      val la = new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
        StandardCharsets.UTF_8).trim.split("\\s+")
      // try/finally: Files.list holds a directory fd until closed
      val stream = Files.list(Paths.get("/proc"))
      var n = 0
      try {
        val jp = stream.iterator()
        while (jp.hasNext) {
          val p = jp.next()
          if (p.getFileName.toString.forall(_.isDigit)) {
            try {
              val comm = new String(Files.readAllBytes(p.resolve("comm")),
                StandardCharsets.UTF_8).trim
              if (comm == "java") n += 1
            } catch { case _: Throwable => }
          }
        }
      } finally stream.close()
      (la(0).toDouble, la(2).toDouble, n)
    } catch { case _: Throwable => (-1.0, -1.0, -1) }

  def main(args: Array[String]): Unit = {
    val boxPre = boxState()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.localCores
    // SPARK_GRAFT_ONLY: optional regex narrowing the sweep to matching
    // query names, taken in natural order (SparkEntry.select)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    GraftSession.run(cpus) { spark =>
      val selected = SparkEntry.select(only.map(_.r))
      val k = selected.size

      // a query that fails once is reported as -1 and skipped afterwards
      val failed = mutable.Set.empty[String]
      val times = mutable.Map.empty[String, List[(Double, Double)]].withDefaultValue(Nil)
      def pass(label: String, rotation: Int, timed: Boolean): Double = {
        val t0 = System.nanoTime()
        (0 until k).foreach { i =>
          val (name, build) = selected((rotation + i) % k)
          if (!failed(name))
            try {
              val t = run(spark, build, sfDir)
              if (timed) times(name) ::= t
            } catch {
              case e: Throwable =>
                failed += name
                System.err.println(s"[bench] $name failed: ${e.getMessage}")
            }
        }
        val s = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] $label pass: $s%.1f s")
        s
      }
      val warmupS = pass("warmup", 0, timed = false)
      val passes = if (warmupS > 600) 1 else 5
      (0 until passes).foreach(p => pass(s"timed ${p + 1}/$passes", p * k / 5, timed = true))

      // per query: (build_s, exec_s, total) medians; -1 when it failed
      val results: Seq[(String, (Double, Double, Double))] = selected.map {
        case (name, _) =>
          val ts = if (failed(name)) Nil else times(name)
          val m = (median(ts.map(_._1)), median(ts.map(_._2)),
            median(ts.map(t => t._1 + t._2)))
          println(s"""{"q":"$name","build_s":${jnum(m._1)},"exec_s":${jnum(m._2)},"sec":${jnum(m._3)}}""")
          name -> m
      }
      val total = results.map(_._2._3).filter(_ >= 0).sum
      val headSum = results.collect {
        case (n, (_, _, v)) if headline.contains(n) && v >= 0 => v }.sum

      // A SPARK_GRAFT_ONLY-filtered sweep has partial totals — stamp the
      // filter so a tail capture can never mistake it for a full sweep.
      val filteredTag = only
        .map(re => s""","filtered":true,"filter":${new ObjectMapper().writeValueAsString(re)}""")
        .getOrElse("")
      // tables Tables.maybeCompact rewrote: the sweep measured the
      // compacted copy, not the producer file (empty = no rewrite fired)
      import scala.jdk.CollectionConverters._
      val compactedTag =
        s""","compacted":${graft.sources.Tables.compactedTables.asScala.toSeq.sorted
          .map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      // load averages + running-java count at sweep start and end: an
      // idle-box sweep reads ~(this JVM's own load, 1–2 java procs)
      val boxPost = boxState()
      val stamps =
        s""","protocol":"$protocol","passes":$passes,"warmup_s":${jnum(warmupS)}""" +
          filteredTag + compactedTag +
          s""","box":{"load1":[${jnum(boxPre._1)},${jnum(boxPost._1)}],""" +
          s""""load15":[${jnum(boxPre._2)},${jnum(boxPost._2)}],""" +
          s""""java_procs":[${boxPre._3},${boxPost._3}]}""" +
          // requested width AND the session's effective parallelism, so
          // the SPARK_GRAFT_CPUS contract is checkable from the artifact
          s""","cpus":$cpus,"default_parallelism":${spark.sparkContext.defaultParallelism}"""
      val head =
        s"""{"metric":"total","value":${jnum(total)},"unit":"sec",""" +
          s""""headline_b1_b12":${jnum(headSum)},"n_queries":${results.size},"queries":"""

      val fullJson = head + results.map { case (n, (b, e, t)) =>
        s""""$n":{"build_s":${jnum(b)},"exec_s":${jnum(e)},"sec":${jnum(t)}}"""
      }.mkString("{", ",", "}") + stamps + s""","sf":"$sfDir"}"""
      Files.write(Paths.get("bench_out.json"), fullJson.getBytes(StandardCharsets.UTF_8))
      // bench_out.json is clobbered by every sweep: archive each FULL
      // sweep under bench_runs/ (filtered probes are partial by design)
      if (only.isEmpty) {
        val runsDir = Paths.get("bench_runs")
        Files.createDirectories(runsDir)
        Files.write(runsDir.resolve(s"bench_${System.currentTimeMillis / 1000}.json"),
          fullJson.getBytes(StandardCharsets.UTF_8))
      }

      println(head + results.collect { case (n, (_, _, t)) if headline.contains(n) =>
        s""""$n":${jnum(t)}""" }.mkString("{", ",", "}") +
        stamps + s""","full":"bench_out.json","sf":"$sfDir"}""")
    }
  }
}
