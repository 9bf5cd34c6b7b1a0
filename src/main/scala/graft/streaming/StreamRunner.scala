package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The ONE way a streaming query surfaces a result in this engine:
  * RocksDB state, exactly-once file sink ([[IdempotentSink]]), explicit
  * checkpoint under the sink root, `Trigger.AvailableNow`, blocking
  * until the source drains, then a read-back scan of the committed
  * files. File-backed on purpose — a memory sink holds the whole result
  * as driver-resident rows which then re-enter downstream plans as
  * parallelized-collection tasks; across the streaming surfaces at the
  * ×100 probe that accumulation OOMed an 8 GB heap. The sink write is
  * per-partition parallel parquet and the read-back is an ordinary
  * scan, so the result never lives on the driver — the same shape a
  * real deployment uses (stream → files → consumers). Every caller
  * (b43–b47, cap4, cap5) goes through here, so the RocksDB provider
  * assertion and the no-driver-resident-results rule hold uniformly.
  */
object StreamRunner {

  private def sinkDir(sink: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_stream_sink/$sink"

  /** Opt-in per-phase wall attribution (SPARK_GRAFT_STREAM_PHASES=1):
    * one JSON line per run splitting the builder wall into cleanup /
    * query-planning+start / micro-batch execution / read-back, plus the
    * engine's own per-batch durationMs. Exists because a stream builder's
    * bench `build_s` is a single opaque number — when it regresses, this
    * is the breakdown that says which fixed cost (RocksDB open,
    * changelog commit, sink write, checkpoint delete) moved. */
  private val phasesOn = sys.env.contains("SPARK_GRAFT_STREAM_PHASES")

  /** Run `df` through the micro-batch engine and read the committed
    * result back.
    *
    * @param mode `complete` (read back the LAST batch — each holds the
    *             full result), `append` or `update` (union of batches).
    * @param statePath source path whose volume sizes the state width
    *                  (see [[StateBackend.statePartitions]]).
    * @param requireSingleDataBatch update-mode golden oracles assume
    *        one update row per key, which holds only while the source
    *        fits one data micro-batch — assert it loudly instead of
    *        silently diverging if a maxFilesPerTrigger default or
    *        grown fixture set ever splits it.
    */
  def run(s: SparkSession, sink: String, statePath: String, df: DataFrame,
      mode: String, requireSingleDataBatch: Boolean = false): DataFrame = {
    def now() = System.nanoTime()
    val t0 = now()
    val out = sinkDir(sink)
    val p = new org.apache.hadoop.fs.Path(out)
    // one cleanup covers sink AND checkpoint: the checkpoint lives
    // under the sink root (below), so no temp-checkpoint create/"best
    // effort" delete churn in /tmp per run. A previous run's RocksDB
    // checkpoint is hundreds of small SST/changelog files — deleting it
    // inline costs ~0.8 s of wall, so it is atomically renamed aside
    // and reaped by a daemon thread instead (rename is O(1); a failed
    // rename falls back to the synchronous delete).
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // anything to reap: this run's renamed-aside sink, plus any stale
    // `*.trash-*` siblings a previous JVM's best-effort daemon never
    // got to delete before exit (otherwise they accumulate in tmpdir
    // forever — nothing else ever looks at them)
    val stale: Array[org.apache.hadoop.fs.Path] =
      try {
        val parent = p.getParent
        if (parent != null && fs.exists(parent))
          fs.listStatus(parent).map(_.getPath)
            .filter(_.getName.contains(".trash-"))
        else Array.empty
      } catch { case _: Throwable => Array.empty }
    val renamed: Option[org.apache.hadoop.fs.Path] =
      if (fs.exists(p)) {
        val trash = new org.apache.hadoop.fs.Path(s"$out.trash-${System.nanoTime()}")
        if (fs.rename(p, trash)) Some(trash)
        else { fs.delete(p, true); None }
      } else None
    val toReap = stale ++ renamed
    if (toReap.nonEmpty) {
      val t = new Thread(() => toReap.foreach { d =>
        try fs.delete(d, true) catch { case _: Throwable => () }
      }, s"graft-sink-gc-$sink")
      t.setDaemon(true)
      t.start()
    }
    StateBackend.enableRocksDb(s)
    val tClean = now()
    var tStart = 0L
    val q = StateBackend.withStatePartitions(s, statePath) {
      val q = df.writeStream
        // name the query after its sink so progress/state artifacts
        // ("state_q" rows, Spark logs) attribute to the bench surface
        // instead of "null" — one active query at a time, so unique
        .queryName(sink)
        .foreachBatch(IdempotentSink.parquetSink(s"$out/data"))
        .option("checkpointLocation", s"$out/checkpoint")
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      tStart = now()
      try q.awaitTermination()
      finally q.stop()
      q
    }
    val tRun = now()
    StateBackend.assertRocksDb(q)
    StateBackend.reportState(q)
    if (requireSingleDataBatch) {
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 1,
        s"$sink: expected exactly 1 data micro-batch (update-mode golden " +
          s"premise), saw $dataBatches — source split across batches?")
    }
    // complete mode: each batch directory holds the FULL result — read
    // the last; append/update: batches partition the emitted rows — union
    val res =
      if (mode == "complete") IdempotentSink.readBackLast(s, s"$out/data")
      else IdempotentSink.readBack(s, s"$out/data")
    if (phasesOn) {
      def ms(a: Long, b: Long) = (b - a) / 1e6
      val batches = q.recentProgress.map { pr =>
        val dm = pr.durationMs
        s"""{"batch":${pr.batchId},"rows":${pr.numInputRows}""" +
          s""","addBatch":${dm.getOrDefault("addBatch", -1L)}""" +
          s""","commitOffsets":${dm.getOrDefault("commitOffsets", -1L)}""" +
          s""","getBatch":${dm.getOrDefault("getBatch", -1L)}""" +
          s""","latestOffset":${dm.getOrDefault("latestOffset", -1L)}""" +
          s""","queryPlanning":${dm.getOrDefault("queryPlanning", -1L)}""" +
          s""","walCommit":${dm.getOrDefault("walCommit", -1L)}""" +
          s""","trigger":${dm.getOrDefault("triggerExecution", -1L)}}"""
      }.mkString("[", ",", "]")
      println(
        f"""{"stream_phases":"$sink","cleanup_ms":${ms(t0, tClean)}%.1f""" +
          f""","plan_start_ms":${ms(tClean, tStart)}%.1f""" +
          f""","run_ms":${ms(tStart, tRun)}%.1f""" +
          f""","readback_ms":${ms(tRun, now())}%.1f,"batches":$batches}""")
    }
    res
  }
}
