package graft

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SharedRelation
import graft.streaming.StreamQueries

/** Contracts over every batch builder of [[SparkEntry.queries]]: calling
  * a builder only builds a DataFrame, and a builder whose plan ends in a
  * global sort returns its rows in that order. */
class BuildersSpec extends AnyFunSuite with GraftTestSession {

  /** Builders that drain their stream inside the builder, by design. */
  private val streams = StreamQueries.queries.map(_._1) ++
    Seq("cap4_stream_lifecycle", "cap5_stream_transitions")

  /** Builders that start Spark jobs while they are called, and why. */
  private val eager: Map[String, String] =
    streams.map(_ -> "drains its stream inside the builder (StreamRunner.drain)").toMap ++ Map(
      "d7_dup_clusters" ->
        "label-propagation loop: localCheckpoint and isEmpty every round",
      "d10b_bucketed_base" ->
        "writes its bucketed standing band table with saveAsTable",
      "b48_transitive_closure" ->
        "pointer-jumping closure: localCheckpoint and a pending count every round",
      "d5_embedding_neardup" -> "PlanGate counts the embeddings to pick the band geometry",
      "d8b_scaled_codebook" -> "PlanGate counts the centroid sample to pick the assignment regime",
      "s12_semantic_decontam" -> "PlanGate counts the bench vectors to pick join or kernel",
      "t12_boilerplate" ->
        "localCheckpoint(false) of the shingle df still executes its adaptive plan",
      "t15_seq_pack" -> "PrefixScan collects its per-partition totals (operator metadata)")

  /** Jobs started per job group. Touched only from the listener bus
    * thread and read after [[ListenerDrain]]. */
  private final class JobsByGroup extends SparkListener {
    val jobs = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => jobs(g) += 1)
  }

  test("no builder starts a Spark job while it is called, outside the allow-list") {
    val sf = "/root/testdata/sf0.001"
    val sc = spark.sparkContext
    val counts = new JobsByGroup
    sc.addSparkListener(counts)
    try SparkEntry.select(None).foreach { case (name, build) =>
      sc.setJobGroup(s"build/$name", name)
      try build(spark, sf)
      finally sc.clearJobGroup()
    } finally {
      ListenerDrain(sc)
      sc.removeSparkListener(counts)
      SharedRelation.releaseAll(spark)
    }
    val started = SparkEntry.queries.keys.map(n => n -> counts.jobs(s"build/$n")).toMap
    val unexpected = started.filter { case (n, j) => j > 0 && !eager.contains(n) }
    assert(unexpected.isEmpty, s"builders started jobs while called: $unexpected")
    assert(eager.keySet.subsetOf(SparkEntry.queries.keySet),
      s"allow-list names no builder: ${eager.keySet -- SparkEntry.queries.keySet}")
    val idle = eager.keySet.filter(started(_) == 0)
    assert(idle.isEmpty, s"allow-listed builders started no job; drop them from the list: $idle")
  }

  test("every builder whose root is a global sort returns its rows in that order") {
    val sf = "/root/testdata/sf0.01"
    val batch = SparkEntry.select(None).filterNot { case (name, _) => streams.contains(name) }
    val sorted = batch.filter { case (name, build) =>
      val df = build(spark, sf)
      try df.queryExecution.optimizedPlan match {
        case Sort(order, true, child, _) =>
          val ordering = new InterpretedOrdering(order, child.output)
          val rows = df.queryExecution.toRdd.map(_.copy()).collect()
          val resorted = rows.sorted(ordering)
          val firstOff = rows.indices.find(i => ordering.compare(rows(i), resorted(i)) != 0)
          assert(firstOff.isEmpty,
            s"$name: row ${firstOff.getOrElse(-1)} of ${rows.length} is out of its sort order")
          true
        case _ => false
      } finally SharedRelation.releaseAll(spark)
    }
    info(s"${sorted.size} of ${batch.size} batch builders end in a global sort")
    assert(sorted.size > 50, s"expected most builders to end in a global sort, got ${sorted.map(_._1)}")
  }
}
