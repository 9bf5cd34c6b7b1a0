package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Correctness dump: each SparkEntry query result → parquet under
  * `<outDir>/<name>`, in natural name order, plus `oracle_sql.json`,
  * for the DuckDB compare (`scripts/check.py`).
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir>`
  */
object Verify {

  /** `oracle_sql.json`: one JSON object of query name → oracle SQL, keys
    * sorted. Jackson escapes every control character, so a tab or CR in
    * an oracle's SQL cannot break the compare's `json.load`. */
  def oracleJson(sql: Map[String, String]): String =
    new ObjectMapper().writeValueAsString(new java.util.TreeMap(sql.asJava))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_SHUFFLE decouples the shuffle-partition count from
    // the thread count for hostile-parallelism invariance sweeps (r16
    // verdict task 2): the determinism recipe promises identical
    // results under ANY (threads, partitions) pairing, and the sweep
    // measures that promise instead of assuming it. Under AQE the
    // exchanges start at initialPartitionNum, so both are set.
    val overrides = sys.env.get("SPARK_GRAFT_SHUFFLE")
      .map(n => Map("spark.sql.shuffle.partitions" -> n,
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> n))
      .getOrElse(Map.empty[String, String])
    // SPARK_GRAFT_ONLY: optional regex narrowing the dump to matching
    // query names — scale probes over table-subset corpora (ScaleGen
    // tablesRe) run just the family the corpus carries. Same contract
    // as Bench's filter; the driver never sets it, so driver rounds
    // always dump the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    GraftSession.run(overrides = overrides) { spark =>
      new java.io.File(outDir).mkdirs()
      SparkEntry.select(only).foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    }
  }
}
