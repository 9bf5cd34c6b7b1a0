package graft

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's fresh-execution protocol: the per-run function
  * `Bench.main` times must re-execute the whole plan on every call.
  * Re-collecting one built DataFrame under AQE re-runs only the final
  * stage (1 stage, 1 task) once the shuffle stages exist. */
class BenchSpec extends AnyFunSuite with GraftTestSession {

  /** Executed stages and their tasks, per job group. Touched only from
    * the listener bus thread and read after [[ListenerDrain]]. */
  private final class StageCounts extends SparkListener {
    private val groupOf = mutable.HashMap.empty[Int, String]
    val stages, tasks = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => e.stageIds.foreach(groupOf(_) = g))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      groupOf.get(e.stageInfo.stageId).foreach { g =>
        stages(g) += 1
        tasks(g) += e.stageInfo.numTasks
      }
  }

  test("every Bench.run of b2 re-executes at least the stages and tasks of the first") {
    val sc = spark.sparkContext
    val counts = new StageCounts
    sc.addSparkListener(counts)
    val runs = try (1 to 3).map { i =>
      val g = s"bench-spec-run$i"
      sc.setJobGroup(g, g)
      val (buildS, execS) =
        try Bench.run(spark, SparkEntry.queries("b2_hash_agg"), "/root/testdata/sf0.001")
        finally sc.clearJobGroup()
      assert(buildS >= 0 && execS > 0)
      ListenerDrain(sc)
      (counts.stages(g), counts.tasks(g))
    } finally sc.removeSparkListener(counts)

    info(s"(stages, tasks) per run: ${runs.mkString(", ")}")
    val (stages1, tasks1) = runs.head
    runs.zipWithIndex.foreach { case ((stages, tasks), i) =>
      assert(stages > 1, s"run ${i + 1} executed $stages stage(s): a re-collect, not a fresh run")
      assert(stages >= stages1 && tasks >= tasks1,
        s"run ${i + 1} executed $stages stages / $tasks tasks, " +
          s"fewer than the first run's $stages1 / $tasks1")
    }
  }
}
