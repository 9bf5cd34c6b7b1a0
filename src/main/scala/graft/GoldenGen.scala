package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.queries.CapQueries

/** Regenerates the golden expected-output parquet files backing the
  * cap1–cap5 DuckDB oracles: for each entry of [[CapQueries.goldens]]
  * it runs the query and writes its output to the file that query's
  * oracle reads (fixtures/golden of the checkout in use). Run ONLY
  * after an intended semantic change to the CAP pipeline, then
  * re-verify the byte-locked JSON goldens (CapPipelineSpec/FeaturesSpec)
  * still pass — they are the independent check that keeps this from
  * being a self-fulfilling oracle: the parquet golden pins cross-run
  * parity, the hand-derived JSON goldens pin reference parity.
  *
  * Usage: sbt "runMain graft.GoldenGen"
  */
object GoldenGen {
  def main(args: Array[String]): Unit = GraftSession.run() { spark =>
    // single-file parquet at `out` (Spark writes a directory; the
    // oracle wants one file DuckDB can open by path)
    CapQueries.goldens.foreach { case (name, out) =>
      val tmp = Files.createTempDirectory("graft-golden").toFile
      SparkEntry.queries(name)(spark, "").coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.createDirectories(Paths.get(out).getParent)
      Files.copy(part.toPath, Paths.get(out), StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      // count the WRITTEN file, not the query — a second run of the
      // whole pipeline could diverge from what landed on disk
      println(s"golden written: $out (${spark.read.parquet(out).count()} rows)")
    }
  }
}
