package perfbench

import java.util.{LinkedHashMap => JMap}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Catalyst phase times (`QueryPlanningTracker`) of every query the
  * session runs, kept with their start times so only phases inside the
  * traced windows are reported. */
final class Phases extends QueryExecutionListener {
  private val seen = ArrayBuffer.empty[(String, Long, Long)]
  private val windows = ArrayBuffer.empty[(Long, Long)]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (n, p) => seen += ((n, p.startTimeMs, p.durationMs)) }
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def window(startMs: Long, endMs: Long): Unit = synchronized { windows += ((startMs, endMs)) }

  /** Seconds of `phase` inside the windows, per window. */
  def perWindow(phase: String): Double = synchronized {
    seen.collect { case (n, s, d) if n == phase &&
      windows.exists { case (a, b) => s >= a && s <= b } => d }.sum / 1e3 /
      math.max(1, windows.size)
  }

  def layer(l: JMap[String, Any]): Unit = {
    l.put("query.analysis_s", perWindow("analysis"))
    l.put("query.optimization_s", perWindow("optimization"))
    l.put("query.planning_s", perWindow("planning"))
  }
}

object Phases {
  def register(spark: SparkSession): Phases = {
    val p = new Phases
    spark.listenerManager.register(p)
    p
  }
}

/** The load generator's per-pass counters as capfeed / cloudtak layer
  * metrics. */
object Server {
  def layer(l: JMap[String, Any], passes: Seq[JsonNode]): Unit = {
    def tot(k: String) = passes.map(_.path(k).asDouble(0)).sum
    val n = math.max(1, passes.size)
    l.put("capfeed.feed_gets", tot("feed_gets") / n)
    l.put("capfeed.alert_gets_per_alert", tot("alert_gets") / math.max(1.0, tot("alerts")))
    l.put("capfeed.inflight_mean", tot("inflight_mean") / n)
    l.put("cloudtak.posts", tot("posts") / n)
    l.put("cloudtak.post_bytes_max", passes.map(_.path("post_bytes_max").asDouble(0)).max)
    l.put("cloudtak.post_bytes_total", tot("post_bytes_total") / n)
    l.put("cloudtak.duplicate_features", tot("duplicates"))
  }
}

/** Stage-execution metrics from the benchmark's listener, per pass. */
object Exec {
  def layer(ctx: Main.Ctx, passes: Int, keep: String => Boolean, tails: Seq[Double]): Unit = {
    ctx.drain()
    val c = ctx.listener.total(keep)
    val n = math.max(1, passes).toDouble
    val l = ctx.layer
    l.put("exec.jobs", c.jobs / n)
    l.put("exec.stages", c.stages / n)
    l.put("exec.tasks", c.tasks / n)
    l.put("exec.task_run_s", c.runMs / 1e3 / n)
    l.put("exec.shuffle_read_bytes", c.shuffleRead / n)
    l.put("exec.shuffle_write_bytes", c.shuffleWrite / n)
    l.put("exec.spill_bytes", c.spill / n)
    l.put("exec.gc_s", c.gcMs / 1e3 / n)
    l.put("exec.driver_tail_s", Main.median(tails))
  }
}
