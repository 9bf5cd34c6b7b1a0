package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame

/** Regenerates the golden expected-output parquet files backing the
  * cap1/cap2 DuckDB oracles (under fixtures/golden). Run ONLY after
  * an intended semantic change to the CAP pipeline, then re-verify the
  * byte-locked JSON goldens (CapPipelineSpec/FeaturesSpec) still pass —
  * they are the independent check that keeps this from being a
  * self-fulfilling oracle: the parquet golden pins cross-run/driver
  * parity, the hand-derived JSON goldens pin reference parity.
  *
  * Usage: sbt "runMain graft.GoldenGen"
  */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()

    /** Single-file parquet at `out` (Spark writes a directory; the
      * oracle wants one file DuckDB can open by path). */
    def write(df: DataFrame, out: String): Unit = {
      val tmp = Files.createTempDirectory("graft-golden").toFile
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.createDirectories(Paths.get(out).getParent)
      Files.copy(part.toPath, Paths.get(out), StandardCopyOption.REPLACE_EXISTING)
      // count the WRITTEN file, not df — df.count() would re-run the
      // whole pipeline and could diverge from what landed on disk
      println(s"golden written: $out (${spark.read.parquet(out).count()} rows)")
    }

    write(SparkEntry.queries("cap1_features")(spark, ""),
      "fixtures/golden/cap1_features.parquet")
    write(SparkEntry.queries("cap2_feed_links")(spark, ""),
      "fixtures/golden/cap2_feed_links.parquet")
    write(SparkEntry.queries("cap3_quarantine")(spark, ""),
      "fixtures/golden/cap3_quarantine.parquet")
    write(SparkEntry.queries("cap4_stream_lifecycle")(spark, ""),
      "fixtures/golden/cap4_lifecycle.parquet")
    write(SparkEntry.queries("cap5_stream_transitions")(spark, ""),
      "fixtures/golden/cap5_transitions.parquet")
    spark.stop()
  }
}
