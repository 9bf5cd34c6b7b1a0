package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Many-batch streaming soak — the cross-batch depth evidence the
  * 2-file `maxFilesPerTrigger=1` specs and kill/resume fixtures don't
  * give (r15 verdict task 3): drain the stateful family (b47 dedup,
  * b51 transformWithState ValueState, b53 MapState, b57 event-time
  * timers) through 50–100 RocksDB micro-batches, record per-batch wall
  * and state-row counts, prove state stays flat/bounded, and kill one
  * query mid-soak to prove the long checkpoint lineage resumes.
  *
  * Arrival model: the events table is cut into `nSlices` contiguous
  * TIME slices (ntile over ts), written as one file per slice with
  * strictly increasing modification times, replayed one file per
  * micro-batch. Time-ordered arrival is the semantics-bearing choice —
  * each batch advances the watermark, so bounded-state eviction (b47's
  * seen-key store, b57's fired timers) actually exercises per batch
  * instead of only at the final watermark jump. For b47 each slice
  * holds every event TWICE (within-slice duplicates are always inside
  * the watermark), so the dedup operator's drop path runs in every
  * batch and output parity against the raw table stays exact.
  *
  * Parity gates (value evidence, not just liveness):
  *  - b47: committed output == the events table exactly;
  *  - b51/b53: per-key LAST update across all batches == the batch
  *    GROUP BY aggregate (update mode re-emits a key per touching
  *    batch; the last one must be the converged value);
  *  - b57: for every user the single-batch oracle expects closed
  *    (last_ms + gap <= final watermark), the LAST close emitted is
  *    exactly last_ms + gap. Mid-soak closes for users that later
  *    reappear are legitimate streaming behavior (the inactivity gap
  *    genuinely elapsed mid-corpus) and are counted, not failed.
  *
  * The building blocks (slicing, the drained run with optional
  * mid-soak kill, the per-key last-update read-back, the batch oracles
  * and the parity count) are exposed so `SoakSpec` gates a compact
  * version of the same path in `sbt test`; this main is the full-depth
  * probe.
  *
  * Usage: runMain graft.streaming.StreamSoak [sfDir] [nSlices] [workDir]
  * Output: one JSON line per query + one for the kill/resume leg.
  */
object StreamSoak {

  private def jnum(v: Double): String = f"$v%.3f"

  /** One drained run: total wall plus per-batch
    * (batchId, inputRows, triggerMs, stateRowsTotal). `finished` is
    * true only for a full un-killed drain; `killed` reports whether
    * the mid-soak kill fired (it does not when the drain ends before
    * batch `killAfter`). */
  final case class SoakRun(wall: Double,
      progress: Seq[(Long, Long, Long, Long)], finished: Boolean,
      killed: Boolean = false)

  /** Cut the events table of `sfDir` into `nSlices` contiguous time
    * slices under `root`/arrivals (and a doubled copy under
    * `root`/arrivals_dup for the dedup surface), one file per slice
    * with strictly increasing modification times. Returns
    * (arrivalsDir, doubledDir, eventsSchemaSource). */
  def writeTimeSlices(spark: SparkSession, sfDir: String, nSlices: Int,
      root: String): (java.io.File, java.io.File, DataFrame) = {
    val fsRoot = new java.io.File(root)
    if (fsRoot.exists()) org.apache.commons.io.FileUtils.deleteDirectory(fsRoot)
    val arrivals = new java.io.File(fsRoot, "arrivals")
    val arrivalsDup = new java.io.File(fsRoot, "arrivals_dup")
    arrivals.mkdirs(); arrivalsDup.mkdirs()
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // ntile needs a global order — one-partition window over ~1M rows
    // is fine for a probe-prep step (never part of the timed drain)
    val sliced = ev.withColumn("slice",
        ntile(nSlices).over(Window.orderBy(col("ts"), col("event_id"))))
      .persist()
    (1 to nSlices).foreach { i =>
      def writeOne(df: DataFrame, dir: java.io.File): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory(s"soak_s$i").toString
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val src = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(dir, f"s$i%03d.parquet")
        java.nio.file.Files.copy(src.toPath, dst.toPath)
        dst.setLastModified(System.currentTimeMillis() + i * 2000L)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
      val slice = sliced.filter(col("slice") === i).drop("slice")
      writeOne(slice, arrivals)
      writeOne(slice.unionAll(slice), arrivalsDup) // b47's doubled stream
    }
    sliced.unpersist()
    (arrivals, arrivalsDup, ev)
  }

  /** One-file-per-batch stream over a slice directory. */
  def readArrivals(spark: SparkSession, dir: java.io.File,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)

  /** Drain `df` through [[StreamRunner.drain]] into an
    * [[IdempotentSink]] at `out`, checkpoint at `ckpt`; with
    * `killAfter > 0` the sink dies once that many batches committed —
    * modeling an executor loss / restart mid-drain — and `finished`
    * reports false. The kill lands between batches: batch `killAfter`
    * fails before it writes anything, so every batch before it is both
    * committed and in `recentProgress`, and the resumed run re-plans it
    * from the offset log. The state-row counts are exact only on a
    * session with `trackTotalNumberOfRows` on (see [[main]]). */
  def drive(spark: SparkSession, name: String, df: DataFrame, mode: String,
      ckpt: String, out: String, statePath: String,
      killAfter: Int = -1): SoakRun = {
    // set on the stream thread, read by this thread after the drain —
    // AtomicBoolean for the cross-thread visibility a plain var does
    // not guarantee
    val killed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sink = IdempotentSink.parquetSink(out)
    val t0 = System.nanoTime()
    val q = StreamRunner.drain(spark, name, statePath, df, mode, ckpt,
      (batch, batchId) => {
        if (killAfter > 0 && batchId >= killAfter) {
          killed.set(true)
          throw new IllegalStateException(s"$name: soak kill at batch $batchId")
        }
        sink(batch, batchId)
      })
    val wall = (System.nanoTime() - t0) / 1e9
    val prog = q.recentProgress.toIndexedSeq.map { p =>
      val st = p.stateOperators.map(_.numRowsTotal).sum
      (p.batchId, p.numInputRows, p.durationMs.getOrDefault("triggerExecution", -1L).toLong, st)
    }
    SoakRun(wall, prog, q.exception.isEmpty && !killed.get(), killed.get())
  }

  /** Per-key LAST update across all committed batches — the read-back
    * an update-mode stream's converged value lives in (the batch_id
    * partition column orders the re-emissions). */
  def lastUpdate(spark: SparkSession, out: String, keys: Seq[String]): DataFrame = {
    val all = spark.read.option("basePath", out)
      .parquet(IdempotentSink.batchDirs(spark, out).toIndexedSeq: _*)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("batch_id").desc)
    all.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn", "batch_id")
  }

  /** Rows whose multiplicity across `got` and `want` is not exactly 2:
    * zero when the two duplicate-free results hold the same rows. */
  def asymmetricRows(got: DataFrame, want: DataFrame): Long =
    got.unionAll(want).groupBy(got.columns.map(col).toIndexedSeq: _*)
      .count().filter(col("count") =!= 2).count()

  // The batch oracles, each computed from the raw events table `ev`.

  /** b47: the sorted event ids of `df`; the deduped doubled stream's
    * committed ids must equal those of the raw table. */
  def eventIds(df: DataFrame): Seq[Long] = {
    import df.sparkSession.implicits._
    df.select("event_id").as[Long].collect().sorted.toSeq
  }

  /** b51: the batch GROUP BY the converged per-user state must equal. */
  def b51Oracle(ev: DataFrame): DataFrame = ev.groupBy("user_id").agg(
    count(lit(1)).as("n_events"), max(col("value")).as("max_value"),
    min(unix_micros(col("ts"))).as("first_ts_us"),
    max(unix_micros(col("ts"))).as("last_ts_us"))

  /** b45: the batch twin (sessionAgg is batch/stream agnostic)
    * restricted to sessions the FINAL watermark closed: wm_ms =
    * floor(max_us/1000) - 2h, emit when sess_end_us <= wm_ms*1000 (the
    * same ms truncation the engine applies — the b57 oracle lesson). */
  def b45Oracle(ev: DataFrame): DataFrame =
    EventStream.sessionAgg(ev)
      .crossJoin(ev.agg(
        ((floor(max(unix_micros(col("ts"))) / 1000) - 7200000L) * 1000).as("wm_us")))
      .filter(col("sess_end_us") <= col("wm_us"))
      .drop("wm_us")

  /** b46: the batch interval self-join. */
  def b46Oracle(ev: DataFrame): DataFrame = EventStream.clickErrorJoin(ev, ev)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nSlices = args.lift(1).map(_.toInt).getOrElse(64)
    val work = args.lift(2).getOrElse(
      sys.props("java.io.tmpdir") + "/graft_soak")
    // keep every batch's progress for the per-batch record (default
    // retention is 100 — enough for 64 data batches + timer batches,
    // but pin it explicitly so a larger nSlices doesn't silently
    // truncate the evidence). The bounded-state and eviction figures
    // read EXACT numRowsTotal (state plateaus at the key space; session
    // state shrinks after watermark eviction), so the soak opts back
    // into the RocksDB row-count tracking the session definition turns
    // off for the per-write GET it costs.
    graft.GraftSession.run(overrides = Map(
      "spark.sql.streaming.numRecentProgressUpdates" -> "256",
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "true"))(
      soak(_, sfDir, nSlices, work))
  }

  private def soak(spark: SparkSession, sfDir: String, nSlices: Int, work: String): Unit = {
    val (arrivals, arrivalsDup, ev) =
      writeTimeSlices(spark, sfDir, nSlices, work)
    val evSchema = ev.schema
    def arr(dir: java.io.File): DataFrame = readArrivals(spark, dir, evSchema)
    val statePath = arrivals.getAbsolutePath

    def report(name: String, runs: Seq[SoakRun], parity: String,
        extra: String = ""): Unit = {
      val prog = runs.flatMap(_.progress)
      val data = prog.filter(_._2 > 0)
      val walls = data.map(_._3).sorted
      val stRows = prog.map(_._4)
      println(
        s"""{"soak":"$name","runs":${runs.size},"batches":${prog.size}""" +
          s""","data_batches":${data.size},"rows":${data.map(_._2).sum}""" +
          s""","wall_sec":${jnum(runs.map(_.wall).sum)}""" +
          s""","batch_ms":{"p50":${if (walls.isEmpty) -1 else walls(walls.size / 2)}""" +
          s""","max":${if (walls.isEmpty) -1 else walls.last}}""" +
          s""","state_rows":{"max":${if (stRows.isEmpty) -1 else stRows.max}""" +
          s""","final":${if (stRows.isEmpty) -1 else stRows.last}}""" +
          s""","parity":"$parity"$extra}""")
    }

    // batch-side oracles computed once from the raw table
    val evB = ev.persist()
    evB.count()

    // ---- b47: watermarked dedup over the doubled slice stream ----
    locally {
      val out = s"$work/b47/out"; val ckpt = s"$work/b47/ckpt"
      val r = drive(spark, "soak_b47",
        EventStream.dedupedEvents(arr(arrivalsDup)), "append", ckpt, out, statePath)
      val got = eventIds(IdempotentSink.readBack(spark, out))
      val want = eventIds(evB)
      val parity = if (got == want) "ok"
        else s"FAIL got=${got.size} want=${want.size}"
      report("b47_dedup", Seq(r), parity)
    }

    // ---- b51: ValueState activity aggregate, killed + resumed mid-soak ----
    locally {
      val out = s"$work/b51/out"; val ckpt = s"$work/b51/ckpt"
      def df = EventStream.userActivity(arr(arrivals))
      val half = drive(spark, "soak_b51", df, "update", ckpt, out, statePath,
        killAfter = nSlices / 2)
      val rest = drive(spark, "soak_b51_resume", df, "update", ckpt, out, statePath)
      val diff = asymmetricRows(lastUpdate(spark, out, Seq("user_id")), b51Oracle(evB))
      val parity = if (diff == 0) "ok" else s"FAIL $diff asymmetric rows"
      val kb = half.progress.count(_._2 > 0)
      report("b51_tws_killresume", Seq(half, rest), parity,
        s""","killed_after_data_batches":$kb,"resumed_batches":${rest.progress.size}""")
    }

    // ---- b53: MapState histogram ----
    locally {
      val out = s"$work/b53/out"; val ckpt = s"$work/b53/ckpt"
      val r = drive(spark, "soak_b53",
        EventStream.typeHistogram(arr(arrivals)), "update", ckpt, out, statePath)
      val diff = asymmetricRows(lastUpdate(spark, out, Seq("user_id", "event_type")),
        evB.groupBy("user_id", "event_type").agg(count(lit(1)).as("n_events")))
      report("b53_mapstate", Seq(r), if (diff == 0) "ok" else s"FAIL $diff")
    }

    // ---- b45: native session windows, killed + resumed mid-soak ----
    // The hardest agg-state encoding the r16 soak skipped: session
    // state MERGES across batches (open sessions absorb later events)
    // and append mode only emits once the watermark passes a session's
    // end, so the drain exercises merge + emit + evict in every batch.
    locally {
      val out = s"$work/b45/out"; val ckpt = s"$work/b45/ckpt"
      def df = EventStream.sessionAgg(arr(arrivals))
      val half = drive(spark, "soak_b45", df, "append", ckpt, out, statePath,
        killAfter = nSlices / 2)
      val rest = drive(spark, "soak_b45_resume", df, "append", ckpt, out, statePath)
      val got = IdempotentSink.readBack(spark, out)
      val want = b45Oracle(evB)
      val nGot = got.count(); val nWant = want.count()
      val diff = asymmetricRows(got, want)
      val parity = if (diff == 0) "ok"
        else s"FAIL $diff asymmetric rows (got=$nGot want=$nWant)"
      val kb = half.progress.count(_._2 > 0)
      report("b45_sessions_killresume", Seq(half, rest), parity,
        s""","killed":${half.killed},"killed_after_data_batches":$kb""" +
          s""","emitted_sessions":$nGot,"open_at_eof":${
            EventStream.sessionAgg(evB).count() - nWant}""")
    }

    // ---- b46: stream-stream interval join, killed + resumed mid-soak ----
    // The symmetric join-buffer encoding: BOTH sides buffer rows in
    // RocksDB until the watermark clears them; with time-ordered
    // arrivals every error still finds its ≤30-min-old clicks (they
    // cannot be evicted before the error's slice arrives), so the
    // inner join's committed union equals the batch join exactly.
    locally {
      val out = s"$work/b46/out"; val ckpt = s"$work/b46/ckpt"
      // streaming SELF-join: both sides the same source, b46's shape
      def df = { val ev = arr(arrivals); EventStream.clickErrorJoin(ev, ev) }
      val half = drive(spark, "soak_b46", df, "append", ckpt, out, statePath,
        killAfter = nSlices / 2)
      val rest = drive(spark, "soak_b46_resume", df, "append", ckpt, out, statePath)
      val got = IdempotentSink.readBack(spark, out)
      val want = b46Oracle(evB)
      val nGot = got.count(); val nWant = want.count()
      val diff = asymmetricRows(got, want)
      val parity = if (diff == 0) "ok"
        else s"FAIL $diff asymmetric rows (got=$nGot want=$nWant)"
      val kb = half.progress.count(_._2 > 0)
      report("b46_interval_join_killresume", Seq(half, rest), parity,
        s""","killed":${half.killed},"killed_after_data_batches":$kb""" +
          s""","joined_rows":$nGot""")
    }

    // ---- b57: event-time timers ----
    locally {
      val gapMs = 30L * 60 * 1000
      val out = s"$work/b57/out"; val ckpt = s"$work/b57/ckpt"
      val r = drive(spark, "soak_b57",
        EventStream.inactivityCloses(arr(arrivals), gapMs),
        "update", ckpt, out, statePath)
      val closes = lastUpdate(spark, out, Seq("user_id")) // last close per user
      val allCloses = IdempotentSink.readBack(spark, out).count()
      // floor() on BOTH sides: the processor truncates micros to ms
      // with integer division, so the oracle must too — un-truncated
      // double division can flip an event with sub-ms residue sitting
      // exactly at the watermark boundary
      val expected = evB.groupBy("user_id")
        .agg(max(unix_micros(col("ts"))).as("last_us"))
        .crossJoin(evB.agg((floor(max(unix_micros(col("ts"))) / 1000) - 1000).as("wm_ms")))
        .filter(floor(col("last_us") / 1000) + gapMs <= col("wm_ms"))
        .select(col("user_id"),
          ((floor(col("last_us") / 1000) + gapMs) * 1000).as("close_ts_us"))
      val diffExp = expected.join(closes,
          expected("user_id") === closes("user_id") &&
            expected("close_ts_us") === closes("close_ts_us"))
        .count()
      val nExp = expected.count()
      val parity = if (diffExp == nExp) "ok"
        else s"FAIL matched=$diffExp of $nExp expected closes"
      report("b57_timers", Seq(r), parity,
        s""","total_closes":$allCloses,"expected_final_closes":$nExp""")
    }

    evB.unpersist()
  }
}
