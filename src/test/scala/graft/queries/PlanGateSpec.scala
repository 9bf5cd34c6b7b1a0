package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession

/** The single harness for every cardinality-chosen plan switch
  * ([[PlanGate]]): boundary arithmetic for each switch's cutoffs,
  * Scala↔oracle gate agreement for the switches the oracle SQL
  * replicates (d5's geometry, d8b's flat/two-level), and value
  * equality AT the boundary cardinality for the switches whose
  * branches are exact twins (s12's join/kernel; t1's kernel vs the
  * retained window form). The recall/corner coverage of each family
  * stays in its own spec (SimilaritySpec, TextStatsSpec) — this file
  * owns the SWITCH, so a future cap change has one place that fails.
  */
class PlanGateSpec extends AnyFunSuite with GraftTestSession {

  test("regime arithmetic: inclusive upper bounds, first-match, ascending require") {
    assert(PlanGate.regime(0, 10) == 0)
    assert(PlanGate.regime(10, 10) == 0) // AT a cutoff stays below
    assert(PlanGate.regime(11, 10) == 1)
    assert(PlanGate.regime(10, 10, 100) == 0)
    assert(PlanGate.regime(100, 10, 100) == 1)
    assert(PlanGate.regime(101, 10, 100) == 2)
    intercept[IllegalArgumentException](PlanGate.regime(5, 10, 10))
    intercept[IllegalArgumentException](PlanGate.regime(5, 100, 10))
    intercept[IllegalArgumentException](PlanGate.regime(5))
  }

  test("every switch boundary sits on the shared gate") {
    // d5: narrow at the cutoff, wide one past it
    assert(!Similarity.d5WideFor(Similarity.D5WideCutoff))
    assert(Similarity.d5WideFor(Similarity.D5WideCutoff + 1))
    // d8b: three regimes, both boundaries inclusive-below
    assert(Similarity.d8bPlanFor(Similarity.D8bFlatCutoff) == "flat")
    assert(Similarity.d8bPlanFor(Similarity.D8bFlatCutoff + 1) == "kernel")
    assert(Similarity.d8bPlanFor(Similarity.D8bKernelCap) == "kernel")
    assert(Similarity.d8bPlanFor(Similarity.D8bKernelCap + 1) == "join")
    // s12: join at the cutoff, kernel one past it
    assert(PlanGate.regime(Similarity.S12KernelCutoff, Similarity.S12KernelCutoff) == 0)
    assert(PlanGate.regime(Similarity.S12KernelCutoff + 1, Similarity.S12KernelCutoff) == 1)
  }

  test("oracle SQL gates route with the same cutoff and <= direction as the Scala gates") {
    // the cutoff VALUES are interpolated (can't drift); the comparison
    // DIRECTION is hand-written on both sides — the exact drift that
    // would hash-mismatch only at n == cutoff, pinned here
    assert(Similarity.d5Sql.contains(s"<= ${Similarity.D5WideCutoff}"),
      "d5Sql must route the narrow geometry at n == cutoff (<=)")
    assert(Similarity.d5Sql.contains(s"> ${Similarity.D5WideCutoff}"),
      "d5Sql must route the wide geometry strictly above the cutoff (>)")
    assert(Similarity.d8bSql.contains(s"<= ${Similarity.D8bFlatCutoff}"),
      "d8bSql must gate the flat branch at k == cutoff (<=)")
    assert(Similarity.d8bSql.contains(s"> ${Similarity.D8bFlatCutoff}"),
      "d8bSql must gate the two-level branch strictly above the cutoff (>)")
  }

  test("s12: join and kernel forms are value-equal at the boundary cardinality") {
    import spark.implicits._
    def h(i: Int, j: Int): Double = {
      val x = (i * 73856093) ^ (j * 19349663)
      ((x % 1000003 + 1000003) % 1000003) / 1000003.0 - 0.5
    }
    // bench membership is vec_id % 97 == 0: k bench rows + a fixed
    // non-bench tail, so the DECIDING cardinality is exactly k
    def corpus(k: Int) = {
      val bench = (1 to k).map(i => (i * 97L, i % 5, Array.tabulate(16)(j => h(i, j))))
      val rest = (1 to 40).map(i => (i * 97L + 1, i % 5, Array.tabulate(16)(j => h(i + 7, j))))
      (bench ++ rest).toDF("vec_id", "label", "e")
        .select(col("vec_id"), col("label"), col("e"))
    }
    for (k <- Seq(Similarity.S12KernelCutoff.toInt, Similarity.S12KernelCutoff.toInt + 1)) {
      val e = corpus(k)
      assert(PlanGate.cardinality(e.filter(col("vec_id") % 97 === 0), "vec_id") == k)
      val join = Similarity.s12MaxSimJoin(e).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue()) -> r.getDouble(2)).toMap
      val kern = Similarity.s12MaxSimKernel(e).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(kern.keySet == join.keySet, s"k=$k: row-set divergence")
      kern.foreach { case (key, v) =>
        assert(java.lang.Double.doubleToLongBits(v) ==
          java.lang.Double.doubleToLongBits(join(key)),
          s"k=$k: max_sim divergence at $key")
      }
    }
  }

  test("t1: per-row kernel and window form are value-equal on a real corpus") {
    val sf = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long)] =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val kernel = rows(TextStats.t1LangId(spark, sf))
    val window = rows(T1WindowForm(spark, sf))
    assert(kernel == window,
      s"t1 kernel/window divergence: ${(kernel diff window).take(3)} vs ${(window diff kernel).take(3)}")
    SharedRelation.releaseAll(spark)
  }
}
