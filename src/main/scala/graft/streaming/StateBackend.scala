package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** RocksDB state store checks and state sizing for every stateful
  * streaming path.
  *
  * The provider itself is part of the session definition
  * ([[graft.GraftSession]] sets it with changelog checkpointing and
  * row-count tracking off), so every stateful query on a graft session
  * keeps its state off-heap in RocksDB rather than in per-partition
  * heap maps that grow with state cardinality. Every drained query
  * surface (b43–b47, b51/b53/b54/b57, cap4, cap5 and the soak) runs
  * through [[StreamRunner.drain]], which calls [[assertRocksDb]] after
  * termination whenever the executed plan holds a stateful operator, so
  * the oracle gate itself executes on RocksDB and a silent fallback to
  * the heap provider fails the run loudly.
  */
object StateBackend {

  /** Built-in provider, shipped in spark-sql + rocksdbjni. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Size the STATE partition count to the source volume instead of
    * inheriting the batch shuffle width. The number of state stores a
    * stateful query maintains is `shuffle.partitions × state operators`
    * — fixed at the first checkpoint and paid as per-partition store
    * open/commit/changelog cost on EVERY micro-batch. A 2 MB bench
    * source under the session's 32 batch partitions opens 32 RocksDB
    * instances per operator to hold a few thousand keys; ~8 MB of
    * source per state partition (floor 4, ceiling = the session's
    * batch width so a big corpus still fans out) keeps small runs
    * cheap and large runs parallel. Real-cluster translation: pick
    * state width from expected state volume, not from the batch
    * shuffle default — it cannot be changed later without a state
    * rebuild. */
  def statePartitions(s: SparkSession, sourcePath: String): Int = {
    val ceiling = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(sourcePath)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      } catch { case _: Throwable => return ceiling }
    math.max(4, math.min(ceiling, (bytes / (8L << 20)).toInt))
  }

  /** Run `f` (a streaming start/awaitTermination) with the shuffle
    * width sized to `sourcePath`, restoring the session's batch width
    * after — the conf is consulted at query planning, so this scopes
    * the state width to exactly the queries started inside.
    *
    * SINGLE-THREADED BY CONTRACT: this mutates the session-global
    * `spark.sql.shuffle.partitions` for the duration of `f`, so any
    * query planned CONCURRENTLY on the same session would silently
    * inherit the narrowed width (and an exception in `f` restores the
    * width on this thread only). Verify/Bench run queries strictly
    * sequentially, which is the regime this engine's entry points
    * guarantee; a future parallel driver must plan concurrent batch
    * work on `s.newSession()` (separate conf view, shared context)
    * instead of sharing this session. */
  def withStatePartitions[T](s: SparkSession, sourcePath: String)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions", "32")
    s.conf.set("spark.sql.shuffle.partitions", statePartitions(s, sourcePath).toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Assert the finished query executed its stateful operators on
    * RocksDB: the provider publishes `rocksdb*`-prefixed custom metrics
    * per state operator, the heap provider publishes
    * `loadedMapCache*`/`stateOnCurrentVersion*` instead — so the metric
    * namespace IS the provider fingerprint. Only progress rows that
    * report state operators count (state metrics are present on every
    * batch once the operator exists). */
  def assertRocksDb(q: StreamingQuery): Unit = {
    val ps = q.recentProgress.filter(_.stateOperators.nonEmpty)
    require(ps.nonEmpty,
      s"${q.name}: no state-operator progress reported — cannot confirm " +
        "the state store provider for a supposedly stateful query")
    val bad = ps.last.stateOperators.filterNot(op =>
      op.customMetrics.keySet().asScala.exists(_.startsWith("rocksdb")))
    require(bad.isEmpty,
      s"${q.name}: state operator(s) ${bad.map(_.operatorName).mkString(",")} " +
        "ran WITHOUT RocksDB metrics — provider conf not applied?")
  }

  /** Close every cached state-store provider and stop the maintenance
    * task. Loaded providers outlive their (terminated) query by design —
    * the cache serves a restart of the same checkpoint — and RocksDB
    * providers own NATIVE background threads (flush/compaction) plus an
    * open working dir under the Spark local tmp. If the JVM exits while
    * one is still flushing, the shutdown hook deletes the working dir
    * out from under the native thread: at best a spurious
    * `ERROR RocksDB ... background flush error: IO error` in the
    * process tail (seen on the ×300 stream probe), at worst a SIGSEGV
    * in the JNI logger callback racing teardown. Every main ends in
    * [[graft.GraftSession.run]], which calls this right before it stops
    * the session; the store's stop is idempotent and a later stream in
    * the same JVM lazily restarts the maintenance task. */
  def shutdown(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
}
