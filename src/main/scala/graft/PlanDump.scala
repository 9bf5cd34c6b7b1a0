package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Optimization-round measurement harness: dump `.explain("formatted")`
  * for every SparkEntry query to `<outDir>/<name>_<tag>.txt` under
  * Bench-identical session confs, so plan-shape claims (Exchange count,
  * join strategy, PushedFilters/ReadSchema, codegen spans) are checkable
  * files, not prose. `runMain graft.PlanDump <outDir> <tag> [sfDir] [nameRegex]`.
  *
  * Each query is executed first (a `collect()`, driving the DataFrame's
  * own QueryExecution — a noop-sink write would plan a separate write
  * QueryExecution and leave this one unexecuted) and its plan dumped
  * afterwards, so AQE sections show the FINAL runtime plan
  * (`isFinalPlan=true`: runtime join strategy, coalesced reads, and
  * exchange/stage reuse) instead of the static initial plan — static
  * `.explain` under AQE shows zero ReusedExchange even where the runtime
  * stage cache collapses every repeated subtree. A full dump therefore
  * costs about one Bench pass.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val only = if (args.length > 3) Some(args(3).r) else None
    GraftSession.run() { spark =>
      Files.createDirectories(Paths.get(outDir))
      SparkEntry.select(only).foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          df.collect()
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
            plan.getBytes(StandardCharsets.UTF_8))
          println(s"[plandump] $name ok")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    }
  }
}
