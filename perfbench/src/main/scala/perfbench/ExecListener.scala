package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Benchmark-owned listener: per job group, the jobs, executed stages,
  * tasks and task metrics Spark reports, plus each job's end time.
  * Jobs without a group (streaming micro-batches) count under "".
  * All state is touched only from the listener bus thread and read
  * after [[org.apache.spark.BenchAccess.drainListeners]]. */
final class ExecListener extends SparkListener {
  final class Counts {
    var jobs, stages, tasks = 0L
    var runMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    var lastJobEndMs = 0L
  }

  private val byGroup = mutable.HashMap.empty[String, Counts]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]

  private def of(g: String): Counts = byGroup.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = g
    e.stageIds.foreach(s => stageGroup(s) = g)
    of(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val c = of(jobGroup.getOrElse(e.jobId, ""))
    c.lastJobEndMs = math.max(c.lastJobEndMs, e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Snapshot of one group's counters (zeros when it ran nothing). */
  def group(g: String): Counts = synchronized {
    val c = byGroup.getOrElse(g, new Counts)
    val s = new Counts
    s.jobs = c.jobs; s.stages = c.stages; s.tasks = c.tasks; s.runMs = c.runMs
    s.gcMs = c.gcMs; s.shuffleRead = c.shuffleRead; s.shuffleWrite = c.shuffleWrite
    s.spill = c.spill; s.lastJobEndMs = c.lastJobEndMs
    s
  }

  /** Sum over the groups `keep` accepts. */
  def total(keep: String => Boolean): Counts = synchronized {
    val s = new Counts
    byGroup.foreach { case (g, c) if keep(g) =>
      s.jobs += c.jobs; s.stages += c.stages; s.tasks += c.tasks; s.runMs += c.runMs
      s.gcMs += c.gcMs; s.shuffleRead += c.shuffleRead; s.shuffleWrite += c.shuffleWrite
      s.spill += c.spill; s.lastJobEndMs = math.max(s.lastJobEndMs, c.lastJobEndMs)
    case _ =>
    }
    s
  }
}
