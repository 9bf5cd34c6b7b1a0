package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions
import graft.streaming.StateBackend

/** The one session configuration and the one main harness. Every spec
  * gets its SparkSession here, and every main runs its work inside
  * [[run]], so specs check the plans the bench runs, every stateful
  * stream runs on the state store this definition names (RocksDB;
  * nothing sets the state-store confs at runtime), and every main ends
  * the same way. Callers pass only the confs they must change. A second
  * call returns the running session (`getOrCreate`) with the runtime
  * confs re-applied and the extensions not applied again.
  *
  * Usage: `GraftSession.run() { spark => ... }` in a main;
  * `GraftSession()` for a `local[localCores]` session,
  * `GraftSession(4, Map(key -> value))` to pin the width and override.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` if set, otherwise every available processor. */
  def localCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The plan-affecting confs of a `local[cores]` session. */
  private def confs(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    // split multi-row-group files across cores: the probe tables are
    // single 50-400 MB files, and the 128 MB default put their whole
    // scan-side work on one task (8 MB ~ the probes' row-group size)
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.sql.adaptive.enabled" -> "true",
    // decouple shuffle width from core count: AQE fans every exchange
    // out to 8×cores map-output partitions and coalesces back to the
    // 64 MB advisory target at runtime, so per-task sort/agg volume
    // stays bounded as data grows (at the ×100 probe, 32-wide SMJ
    // sorts meant ~500 MB/task whose spill-merge read-ahead buffers
    // alone exceeded the 250 MB/core heap share) while small stages
    // still coalesce to a handful of tasks. Streaming state width is
    // pinned separately (StateBackend.withStatePartitions) and does
    // not inherit this.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> (cores * 8).toString,
    // typed-Aggregator (ObjectHashAggregate) ops fall back to
    // SORT-based aggregation after 128 distinct groups per partition
    // by default — for the nearest-centroid argmax that re-creates
    // the |n|·K-row sort the aggregator exists to avoid. Group
    // buffers are ~16 bytes; 16M of them is ~1 GB worst-case and the
    // real count per task is the scan slice's distinct keys (~10^4).
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "16000000",
    // let AQE re-plan reads of persisted relations: a cached plan
    // otherwise pins its final exchange's full initialPartitionNum
    // fan-out (8×cores), so every read of the 256-row shared d2 pair
    // cache launched 256 near-empty tasks (~760 ms of pure task
    // overhead; ~100 ms with the conf, which AQE-coalesces to the
    // 64 MB advisory target — a corpus-sized cache keeps its width)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // every stateful stream keeps its state in RocksDB: the default
    // HDFS-backed provider holds each partition's whole state map on
    // the executor heap, so memory grows with state cardinality (at the
    // ×100 probe, 1M events, it was already the dominant stream cost);
    // RocksDB keeps it off-heap with spill to disk. StreamRunner.drain
    // asserts the provider on every drained query.
    "spark.sql.streaming.stateStore.providerClass" -> StateBackend.RocksDbProvider,
    // changelog checkpointing: each micro-batch commit uploads only the
    // batch's state delta, not a full SST snapshot, so commit cost is
    // O(changed keys) rather than O(total state) on a long-running query
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    // row-count tracking off (r18, measured): exact `numRowsTotal` costs
    // one extra GET per state put/delete. An interleaved A/B at a ×10
    // source volume (BENCH_NOTES r18, medians of 3, two legs each)
    // measured turning it off at −14% to −30% on the state-write-bound
    // walls (b45 5.69→3.99 s, b46 9.18→6.61 s, b54 4.05→3.49 s). The
    // `rocksdb*` metrics assertRocksDb reads are unaffected; the
    // provider reports numRowsTotal = -1. The soak's exact-row gates
    // opt back in through their own scoped confs.
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false",
    // at shutdown wait 10 s, not 300 s, for state-store maintenance: a
    // task hung on a closed RocksDB store held a finished Bench 300 s at
    // exit; maintenance only deletes old state files, which a later run redoes
    "spark.sql.streaming.stateStore.maintenanceShutdownTimeout" -> "10s",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def apply(cores: Int = localCores,
      overrides: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config(confs(cores) ++ overrides)
      // full engine extensions: native functions, DotRewrite, and the
      // graft_asof whole-operator rule/strategy (AsOfJoin.scala). Set
      // on the builder, not through the static `spark.sql.extensions`
      // conf, which would stick to the SparkContext and extend every
      // later session on it.
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A main's whole life: build the session, run `body`, and then,
    * also when `body` throws, close the RocksDB state stores
    * ([[StateBackend.shutdown]]) before stopping the session, so no
    * native flush outlives the working dirs the JVM's shutdown hook
    * deletes. */
  def run[T](cores: Int = localCores, overrides: Map[String, String] = Map.empty)
      (body: SparkSession => T): T = {
    val spark = apply(cores, overrides)
    try body(spark)
    finally {
      StateBackend.shutdown()
      spark.stop()
    }
  }
}
