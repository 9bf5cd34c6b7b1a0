package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Benchmark main — runs every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * full `collect()` so projections are actually computed (a bare
  * `count()` lets Catalyst prune the work). Protocols: headline B1–B12
  * run as one position-balanced ROTATED block (3 warmup passes + 12
  * timed passes, block left-rotated each pass, per-query median — see
  * the block comment in main); everything else runs per-query
  * 1 warmup + median-of-5, upgraded to 3 warmups + median-of-7 when
  * the first median lands under 100 ms.
  *
  * Output contract, in order:
  *   - one `{"q":name,"sec":t}` line per query as the sweep progresses
  *     (so a stdout tail capture still shows recent per-query numbers);
  *   - the FULL result JSON (all queries) written to `bench_out.json` in
  *     the working directory — the durable artifact, immune to tail
  *     truncation;
  *   - ONE final compact JSON line for the driver: headline totals plus
  *     the 12 headline queries (B1–B12, the BASELINE.md comparison set),
  *     sized to survive a ~1.9 KB tail window intact, with a pointer to
  *     `bench_out.json` for the full sweep.
  */
object Bench {

  /** BASELINE.md comparison set — kept in the final compact line. */
  private val headline: Seq[String] = Seq(
    "b1_scan_filter", "b2_hash_agg", "b3_multi_join", "b4_join_filter",
    "b5_window_topn", "b6_topk", "b7_distinct", "b8_setop",
    "b9_json_extract", "b10_explode", "b11_time_window", "b12_cosine_topk")

  /** Additions-only (r18) extension of the compact line's per-query
    * set: the top-cost NON-headline paths — where optimization rounds
    * actually move time (the r17 dedup-family −40% was invisible to a
    * compact line carrying only 19–52 ms overhead-bound headline
    * queries) — plus the scaling-credible parallel queries
    * (m6/d6/d7/s1 measured 1.7–2.1× slower at 8 cores in the r17
    * sweep), so a cross-core-count comparison sees ratios ≫1 on
    * queries that genuinely use the width instead of flagging the
    * harness as CPUS-blind. Headline membership, totals, and protocols
    * are untouched; these names only ADD entries to the compact
    * `queries` map. */
  private val compactExtra: Seq[String] = Seq(
    "b16_approx_distinct", "b17_sessionize", "b34_range_frame",
    "b60_asof_broadcast", "d2_minhash_lsh", "d3_simhash", "d6_crossmodal",
    "d7_dup_clusters", "d10_incremental_neardup", "d10b_bucketed_base",
    "d11_substring_spans", "m6_video_neardup", "s1_ann_lsh")

  /** Queries whose builder RUNS an AvailableNow stream during DataFrame
    * construction: their sweep medians time only the memory-sink read,
    * so the real micro-batch wall-time (builder start → stream
    * termination) is measured separately and reported as stream_wall. */
  private val streaming: Seq[String] = Seq(
    "b43_stream_parity", "b44_stream_segment", "b45_stream_sessions",
    "b46_stream_interval_join", "b47_stream_dedup", "b51_stream_tws",
    "b53_stream_mapstate", "b54_stream_warmstart", "b57_stream_timers",
    "cap4_stream_lifecycle", "cap5_stream_transitions")

  private def jnum(v: Double): String = f"$v%.4f"

  /** (load-1min, load-15min, running-java-process count) — the box-
    * contention evidence stamped into every bench artifact. The r15
    * stream walls swung 2–5× vs r14 on unchanged code, and the only
    * contention record was a prose note that ×1000 probes ran
    * concurrently; with the stamp, every cross-round diff carries its
    * own idle-or-not evidence. Linux-only reads (/proc); any failure
    * degrades to (-1,-1,-1) rather than killing the sweep.
    */
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
    val spark = GraftSession(cpus)

    // SPARK_GRAFT_ONLY: optional regex narrowing the sweep to matching
    // query names — for probing one query's wall/stream cost at a big
    // synthetic SF without paying the full all-query sweep.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    // NATURAL (numeric-aware) name order: d2 sorts before d10, so the
    // dedup family's shared MinHash pair relation (persisted once per
    // session+sfDir — Dedup.sharedPairs) is paid by d2, its canonical
    // owner, instead of by whichever name happens to sort first
    // lexicographically (the r13 ×1000 probe billed the whole shared
    // subtree to d10). Pure name-order change: per-query timings keep
    // their meaning, only cache attribution moves.
    def naturalKey(n: String): String =
      "\\d+".r.replaceAllIn(n, m => f"${m.matched.toInt}%06d")
    val selected = SparkEntry.queries.toSeq.sortBy(t => naturalKey(t._1))
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }

    // Names measured under an upgraded protocol (headline: rotated
    // block; sub-100 ms non-headline: extra-warmup median-of-7) vs the
    // default median-of-5 — stamped into the artifacts so per-query
    // numbers are comparable across rounds knowing which protocol
    // produced them.
    val remeasured = scala.collection.mutable.TreeSet.empty[String]

    // SPARK_GRAFT_EXEC=noop swaps the timed `collect()` for a full
    // execution into Spark's no-op DSv2 sink. The default collect is
    // the BASELINE.md methodology and stays the graded path — but it
    // materializes every result row as driver JVM objects, which is
    // exactly the anti-pattern the engine itself avoids (playbook
    // shape 4), and at probe scale it becomes the harness's own OOM:
    // b17's 28.6M session rows at ×300 filled the shared 8 GB heap
    // while the final sort's 32 tasks were still allocating pages. On
    // a real cluster output-proportional results go to a sink, so the
    // noop mode is the honest at-scale measurement: every scan,
    // shuffle, sort and projection still executes, nothing lands on
    // the driver. Stamped as "exec":"noop" in both artifacts.
    val execMode = sys.env.getOrElse("SPARK_GRAFT_EXEC", "collect")
    require(execMode == "collect" || execMode == "noop",
      s"SPARK_GRAFT_EXEC must be 'collect' or 'noop', got '$execMode'")
    def execute(df: org.apache.spark.sql.DataFrame): Unit =
      if (execMode == "noop") df.write.format("noop").mode("overwrite").save()
      else df.collect()

    // SPARK_GRAFT_RUNS=<n>: override every query to exactly n timed
    // runs (1 warmup, no protocol upgrades) — for big-synthetic-SF
    // probes where a ×1000 query costs minutes per run and the point
    // is OOM/linearity evidence, not a publishable median. Stamped as
    // "runs_override" in both artifacts so a probe can never be read
    // as a protocol sweep.
    val runsOverride = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt)
    runsOverride.foreach(n => require(n >= 1, s"SPARK_GRAFT_RUNS must be >= 1, got $n"))

    // Headline B1–B12 measured as one ROTATED block (r14 verdict task
    // 2): the r14/r13 diff proved per-query medians at these sub-100 ms
    // scales are dominated by POSITION in sweep order (+136%/−54%
    // anticorrelated swings on unchanged code, totals within 1.3%) —
    // whichever query runs first absorbs residual JIT/GC cost that
    // per-query warmups don't amortize. The block protocol removes the
    // position bias structurally: build all selected headline DataFrames
    // once, run 3 warmup PASSES over the whole block, then 12 timed
    // passes where pass p executes the block left-rotated by p — every
    // query occupies every position exactly once — and report each
    // query's median across its 12 position-balanced times. Suppressed
    // under SPARK_GRAFT_RUNS (probe protocol), where headline queries
    // fall through to the plain per-query path below.
    val headlineSel = selected.filter { case (n, _) => headline.contains(n) }
    val rotated: Map[String, Double] =
      if (runsOverride.isDefined || headlineSel.isEmpty) Map.empty
      else try {
        val dfs = headlineSel.map { case (n, fn) => n -> fn(spark, sfDir) }
        (1 to 3).foreach(_ => dfs.foreach { case (_, df) => execute(df) })
        val times = scala.collection.mutable.Map.empty[String, List[Double]]
          .withDefaultValue(Nil)
        val k = dfs.size
        // 12 passes always: with the full 12-query headline set each
        // query occupies each position exactly once; under a filter
        // (k < 12) every query still gets 12 position-rotated samples
        (0 until 12).foreach { p =>
          (0 until k).foreach { i =>
            val (n, df) = dfs((p + i) % k)
            val t0 = System.nanoTime()
            execute(df)
            times(n) ::= (System.nanoTime() - t0) / 1e9
          }
        }
        dfs.map { case (n, _) =>
          val sorted = times(n).sorted
          n -> sorted(sorted.length / 2)
        }.toMap
      } catch {
        // a failing headline builder/run must not kill the sweep: drop
        // the block and let every headline query take the per-query
        // path below, where its failure is caught and reported as -1
        case e: Throwable =>
          System.err.println(s"[bench] rotated headline block failed, " +
            s"falling back to per-query protocol: ${e.getMessage}")
          Map.empty
      }

    // Baseline methodology (BASELINE.md): build the DataFrame once,
    // 1 warmup run, then median of timed runs.
    val results: Seq[(String, Double)] = selected.map {
      case (name, fn) =>
        val t =
          try {
            if (rotated.contains(name)) {
              remeasured += name
              rotated(name)
            } else {
            val df = fn(spark, sfDir)
            // warmup: scan/codegen/broadcast caches. Under the probe
            // protocol (SPARK_GRAFT_RUNS) the warmup wall is PRINTED:
            // family queries build shared persisted relations during
            // their first execution, so at probe SFs the warmup is
            // where the real subtree cost lands (the r15 ×1000 sweep's
            // d2 showed 0.48 s timed after a multi-minute unrecorded
            // warmup) — a probe reader needs both numbers.
            val w0 = System.nanoTime()
            execute(df)
            if (runsOverride.isDefined)
              println(s"""{"q":"$name","warmup_sec":${jnum((System.nanoTime() - w0) / 1e9)}}""")
            def median(n: Int): Double = {
              val runs = Seq.fill(n) {
                val t0 = System.nanoTime()
                execute(df)
                (System.nanoTime() - t0) / 1e9
              }.sorted
              runs(runs.length / 2)
            }
            if (runsOverride.isDefined) median(runsOverride.get)
            else {
              // non-headline: median-of-5 (BASELINE.md methodology);
              // sub-100 ms medians get the same 2 extra warmups +
              // median-of-7 upgrade (r10 saw identical-plan b11 medians
              // 83 vs 174 ms across sweeps under a single warmup)
              val m5 = median(5)
              if (m5 < 0.1) {
                remeasured += name
                execute(df); execute(df); median(7)
              } else m5
            }
            }
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              -1.0
          }
        println(s"""{"q":"$name","sec":${jnum(t)}}""")
        name -> t
    }

    val total = results.map(_._2).filter(_ >= 0).sum
    val headSum = results.collect { case (k, v) if headline.contains(k) && v >= 0 => v }.sum

    // Honest streaming latency: each builder call is a COMPLETE fresh
    // AvailableNow run (sink+checkpoint wiped, source re-drained,
    // start→awaitTermination inside the builder) — the number the sweep
    // medians above deliberately exclude. Every timed run still pays
    // the full per-run architecture cost: RocksDB open/commit,
    // changelog checkpoint, file sink, read-back.
    //
    // Protocol (pinned r16, mirroring the headline block): the r15
    // artifact measured these 1-warmup median-of-3 in fixed sweep
    // order, and its walls swung 2–5× vs r14 on UNCHANGED streaming
    // code — the same position/box-drift bias the headline set was
    // cured of in r15 (plus the sweep itself ran concurrently with
    // ×1000 probes that round). Now position-balanced: one warmup
    // drain per query, then 5 timed PASSES over the whole stream set,
    // pass p visiting the set left-rotated by p (every query samples
    // 5 distinct positions in time), per-query median. Under
    // SPARK_GRAFT_RUNS the probe protocol (per-query, runs_override
    // drains) applies instead, exactly as on the batch side.
    val streamSel: IndexedSeq[String] = streaming
      .filter(SparkEntry.queries.contains)
      .filter(name => only.forall(_.findFirstIn(name).isDefined))
      .toIndexedSeq
    val streamWall: Seq[(String, Double)] =
      if (streamSel.isEmpty) Seq.empty
      else if (runsOverride.isDefined) streamSel.map { name =>
        val t =
          try {
            SparkEntry.queries(name)(spark, sfDir) // warmup run
            val runs = Seq.fill(runsOverride.get) {
              val t0 = System.nanoTime()
              SparkEntry.queries(name)(spark, sfDir)
              (System.nanoTime() - t0) / 1e9
            }.sorted
            runs(runs.length / 2)
          } catch { case _: Throwable => -1.0 }
        println(s"""{"stream_q":"$name","wall_sec":${jnum(t)}}""")
        name -> t
      }
      else {
        val failed = scala.collection.mutable.Set.empty[String]
        def drain(name: String): Double =
          try {
            val t0 = System.nanoTime()
            SparkEntry.queries(name)(spark, sfDir)
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              if (failed.add(name))
                System.err.println(s"[bench] stream $name failed: ${e.getMessage}")
              -1.0
          }
        streamSel.foreach(drain) // one warmup drain per query
        val times = scala.collection.mutable.Map.empty[String, List[Double]]
          .withDefaultValue(Nil)
        val k = streamSel.size
        (0 until 5).foreach { p =>
          (0 until k).foreach { i =>
            val name = streamSel((p + i) % k)
            if (!failed(name)) times(name) ::= drain(name)
          }
        }
        streamSel.map { name =>
          val runs = times(name).filter(_ >= 0).sorted
          val t = if (runs.isEmpty) -1.0 else runs(runs.length / 2)
          println(s"""{"stream_q":"$name","wall_sec":${jnum(t)}}""")
          name -> t
        }
      }

    def queriesJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + jnum(v) }.mkString("{", ",", "}")

    // A SPARK_GRAFT_ONLY-filtered sweep has silently partial totals —
    // stamp the filter into both artifacts so a tail capture can never
    // mistake it for a full sweep.
    val filteredTag = sys.env.get("SPARK_GRAFT_ONLY")
      .map(re => s""","filtered":true,"filter":"${re.replace("\\", "\\\\").replace("\"", "\\\"")}"""")
      .getOrElse("")

    // A sweep whose inputs were layout-rewritten by Tables.maybeCompact
    // measures the compacted copy, not the producer file — stamp which
    // tables were rewritten so raw vs compacted runs are
    // distinguishable in the artifact (empty = no rewrite fired).
    import scala.jdk.CollectionConverters._
    val compactedTag =
      s""","compacted":${graft.sources.Tables.compactedTables.asScala.toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")}"""

    // Which queries were re-measured under the median-of-7 protocol
    // (sub-100 ms medians get 2 extra warmups + median-of-7; the rest
    // are plain median-of-5) — per-query methodology provenance.
    val remeasuredTag =
      s""","remeasured_mo7":${remeasured.toSeq
        .map("\"" + _ + "\"").mkString("[", ",", "]")}"""

    // Non-default execution path is a different methodology — stamp it
    // so a noop-mode probe can never be read as a collect-mode sweep.
    val execTag =
      (if (execMode == "noop") s""","exec":"noop"""" else "") +
        runsOverride.map(n => s""","runs_override":$n""").getOrElse("")

    // Box-contention stamp: load averages + running-java count at sweep
    // start and end. An idle-box sweep reads ~(this JVM's own load, 1–2
    // java procs); anything larger marks the artifact as contended and
    // its walls as conservative.
    val boxPost = boxState()
    val boxTag =
      s""","box":{"load1":[${jnum(boxPre._1)},${jnum(boxPost._1)}],""" +
        s""""load15":[${jnum(boxPre._2)},${jnum(boxPost._2)}],""" +
        s""""java_procs":[${boxPre._3},${boxPost._3}]}"""

    // Session-width stamp (r17 verdict item 2): the bench HONORS
    // $SPARK_GRAFT_CPUS (master/local, shuffle partitions, AQE initial
    // fan-out all derive from it — GraftSession.confs), but at sf0.1 most
    // headline queries are task-overhead-bound, so an 8-vs-32-core
    // comparison over them reads ≈1 and looks like the env var is
    // ignored. Stamping the requested width AND the session's effective
    // defaultParallelism makes the contract checkable from the artifact
    // itself rather than inferred from timing ratios.
    val widthTag =
      s""","cpus":$cpus,"default_parallelism":${spark.sparkContext.defaultParallelism}"""

    // Durable full artifact — every query, plus totals. The full
    // remeasured list lives only here; the compact driver line carries
    // just its size (the list can be ~100 names — tail-window poison).
    val protocolTag =
      (if (runsOverride.isEmpty)
        s""","headline_protocol":"block_warmup3_rotated12_median"""" +
          s""","stream_protocol":"block_warmup1_rotated5_median""""
      else "") + boxTag
    val fullJson =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","headline_b1_b12":${jnum(headSum)},""" +
        s""""n_queries":${results.size},"queries":${queriesJson(results)},""" +
        s""""stream_wall":${queriesJson(streamWall)}$filteredTag$compactedTag$remeasuredTag$execTag$protocolTag$widthTag,"sf":"$sfDir"}"""
    Files.write(Paths.get("bench_out.json"), fullJson.getBytes(StandardCharsets.UTF_8))
    // bench_out.json is clobbered by every sweep (including filtered
    // probes), which has already destroyed two rounds' full per-query
    // tables — archive each FULL sweep under bench_runs/ so the round
    // commit preserves it (filtered probes are partial by design and
    // would only bury the real artifacts).
    if (only.isEmpty) {
      val runsDir = Paths.get("bench_runs")
      Files.createDirectories(runsDir)
      Files.write(runsDir.resolve(s"bench_${System.currentTimeMillis / 1000}.json"),
        fullJson.getBytes(StandardCharsets.UTF_8))
    }

    // Final compact driver line — must survive a ~1.9 KB stdout tail.
    // `queries` carries the headline set (unchanged names/protocol)
    // PLUS the compactExtra optimization/scaling targets — ~25 entries
    // ≈ 1.6 KB total line, still inside the tail window.
    val headQueries = results.filter { case (k, _) =>
      headline.contains(k) || compactExtra.contains(k) }
    println(
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","headline_b1_b12":${jnum(headSum)},""" +
        s""""n_queries":${results.size},"queries":${queriesJson(headQueries)},""" +
        s""""stream_wall":${queriesJson(streamWall)}$filteredTag$compactedTag$execTag""" +
        // per-query protocol provenance for the compact line: every
        // headline query above is measured by the position-balanced
        // rotated block (3 warmup passes + 12 timed passes, block
        // left-rotated each pass so every query sees every position
        // once, per-query median) — the r14 verdict's de-bias protocol.
        // The full remeasured list, incl. sub-100 ms non-headline
        // upgrades, lives in bench_out.json; suppressed under
        // SPARK_GRAFT_RUNS, where runs_override IS the protocol
        protocolTag + widthTag +
        s""","remeasured_n":${remeasured.size},"full":"bench_out.json","sf":"$sfDir"}""")
    // close RocksDB natives before the shutdown hook deletes their
    // working dirs (see StateBackend.shutdown scaladoc)
    graft.streaming.StateBackend.shutdown()
    spark.stop()
  }
}
