package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

/** The ONE way a streaming query runs in this engine: [[drain]] is the
  * only `writeStream` call in the engine's sources. RocksDB state (the
  * provider is part of [[graft.GraftSession]]'s definition), a
  * `foreachBatch` sink, an explicit checkpoint, `Trigger.AvailableNow`,
  * blocking until the source drains, then [[StateBackend.assertRocksDb]]
  * when the executed plan holds a stateful operator.
  *
  * [[run]] is the query surface (b43–b47, b51/b53/b54/b57, cap4, cap5):
  * it drains into the exactly-once file sink ([[IdempotentSink]]) and
  * reads the committed files back. File-backed on purpose — a memory
  * sink holds the whole result as driver-resident rows which then
  * re-enter downstream plans as parallelized-collection tasks; across
  * the streaming surfaces at the ×100 probe that accumulation OOMed an
  * 8 GB heap. The sink write is per-partition parallel parquet and the
  * read-back is an ordinary scan, so the result never lives on the
  * driver — the same shape a real deployment uses (stream → files →
  * consumers). [[StreamSoak]] drains through the same recipe with its
  * own sink. Per-batch phase durations, input rows and state metrics
  * are in each returned query's `recentProgress`.
  */
object StreamRunner {

  private def sinkDir(sink: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_stream_sink/$sink"

  /** Drain `df` to completion: query `name`, state width sized to
    * `statePath` ([[StateBackend.withStatePartitions]]), each micro-batch
    * into `sink`, checkpoint at `checkpoint`, AvailableNow. Returns the
    * stopped query; a failed drain keeps its error in `q.exception`.
    * The RocksDB assertion runs when the last executed micro-batch plan
    * holds a stateful operator: a stateless stream (the CAP job) has no
    * state store to fingerprint, and neither has a drain that failed
    * before its first batch reported progress. */
  def drain(s: SparkSession, name: String, statePath: String, df: DataFrame,
      mode: String, checkpoint: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = StateBackend.withStatePartitions(s, statePath) {
      val q = df.writeStream
        // name the query after its sink so progress and Spark logs
        // attribute to the surface instead of "null" — one active query
        // at a time, so unique
        .queryName(name)
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      catch { case _: StreamingQueryException => () }
      finally q.stop()
      q
    }
    if (q.recentProgress.nonEmpty && stateful(q)) StateBackend.assertRocksDb(q)
    q
  }

  private def stateful(q: StreamingQuery): Boolean =
    Option(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution)
      .exists(_.executedPlan.exists(_.isInstanceOf[StatefulOperator]))

  /** Run `df` through the micro-batch engine and read the committed
    * result back.
    *
    * @param mode `complete` (read back the LAST batch — each holds the
    *             full result), `append` or `update` (union of batches).
    *             Update-mode golden oracles assume one update row per
    *             key, which holds only while the source fits one data
    *             micro-batch, so an update-mode run asserts that loudly
    *             instead of silently diverging if a maxFilesPerTrigger
    *             default or grown fixture set ever splits it.
    * @param statePath source path whose volume sizes the state width
    *                  (see [[StateBackend.statePartitions]]).
    */
  def run(s: SparkSession, sink: String, statePath: String, df: DataFrame,
      mode: String): DataFrame = {
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
    val q = drain(s, sink, statePath, df, mode, s"$out/checkpoint",
      IdempotentSink.parquetSink(s"$out/data"))
    q.exception.foreach(e => throw e)
    if (mode == "update") {
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 1,
        s"$sink: expected exactly 1 data micro-batch (update-mode golden " +
          s"premise), saw $dataBatches — source split across batches?")
    }
    // complete mode: each batch directory holds the FULL result — read
    // the last; append/update: batches partition the emitted rows — union
    if (mode == "complete") IdempotentSink.readBackLast(s, s"$out/data")
    else IdempotentSink.readBack(s, s"$out/data")
  }
}
