package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_SHUFFLE decouples the shuffle-partition count from
    // the thread count for hostile-parallelism invariance sweeps (r16
    // verdict task 2): the determinism recipe promises identical
    // results under ANY (threads, partitions) pairing, and the sweep
    // measures that promise instead of assuming it. Under AQE the
    // exchanges start at initialPartitionNum, so both are set.
    val spark = GraftSession(overrides = sys.env.get("SPARK_GRAFT_SHUFFLE")
      .map(n => Map("spark.sql.shuffle.partitions" -> n,
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> n))
      .getOrElse(Map.empty))
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY: optional regex narrowing the dump to matching
    // query names — scale probes over table-subset corpora (ScaleGen
    // tablesRe) run just the family the corpus carries. Same contract
    // as Bench's filter; the driver never sets it, so driver rounds
    // always dump the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // close RocksDB natives before the shutdown hook deletes their
    // working dirs (see StateBackend.shutdown scaladoc)
    graft.streaming.StateBackend.shutdown()
    spark.stop()
  }
}
