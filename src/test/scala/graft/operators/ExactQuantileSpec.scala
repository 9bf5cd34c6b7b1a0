package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession

/** ExactQuantile's whole claim is BIT-identity with the built-in
  * `percentile` aggregate (so swapping it into b18/b37 can never move
  * an oracle hash) while replacing the built-in's buffer-everything
  * memory shape. These specs compare raw doubles with `==` — no
  * tolerance — across awkward shapes: interpolated and exact-hit
  * ranks, duplicate-heavy values (degenerate buckets), single-element
  * and two-element groups, and partitioning changes.
  */
class ExactQuantileSpec extends AnyFunSuite with GraftTestSession {

  /** (group, value) rows → Map((g, q) -> builtin percentile). */
  private def builtin(df: org.apache.spark.sql.DataFrame,
      qs: Seq[Double]): Map[(String, Double), Double] = {
    val aggs = qs.map(q => expr(s"percentile(v, $q)").as(s"q$q"))
    df.groupBy("g").agg(aggs.head, aggs.tail: _*).collect().flatMap { r =>
      qs.zipWithIndex.map { case (q, i) => (r.getString(0), q) -> r.getDouble(i + 1) }
    }.toMap
  }

  private def ours(df: org.apache.spark.sql.DataFrame,
      qs: Seq[Double]): Map[(String, Double), Double] =
    ExactQuantile.groupQuantiles(df, "g", "v", qs).collect()
      .map(r => (r.getString(0), r.getDouble(2)) -> r.getDouble(3)).toMap

  test("bit-identical to the built-in on a mixed deterministic corpus") {
    import spark.implicits._
    // three groups with different sizes/shapes: linear ramp, squares
    // (non-uniform spacing), and a duplicate-heavy group where 90% of
    // values are identical (degenerate-bucket path)
    val rows =
      (0 until 1001).map(i => ("ramp", i * 0.5 - 17.25)) ++
        (0 until 333).map(i => ("sq", (i * i).toDouble / 7.0)) ++
        (0 until 2000).map(i => ("dup", if (i % 10 == 0) i.toDouble else 42.0))
    val df = rows.toDF("g", "v").repartition(7)
    val qs = Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0)
    val b = builtin(df, qs)
    val o = ours(df, qs)
    assert(o.keySet == b.keySet)
    for (k <- b.keySet)
      assert(o(k) == b(k), s"mismatch at $k: ours=${o(k)} builtin=${b(k)}")
  }

  test("exact-hit ranks (integral positions) take the lower-value branch") {
    import spark.implicits._
    // 5 values: q=0.25 → pos=1.0 exactly; q=0.5 → pos=2.0 exactly
    val df = Seq(("a", 10.0), ("a", 20.0), ("a", 30.0), ("a", 40.0), ("a", 50.0))
      .toDF("g", "v")
    val qs = Seq(0.25, 0.5, 0.75)
    val o = ours(df, qs)
    assert(o(("a", 0.25)) == 20.0 && o(("a", 0.5)) == 30.0 && o(("a", 0.75)) == 40.0)
    assert(o == builtin(df, qs))
  }

  test("tiny groups: single-element and two-element") {
    import spark.implicits._
    val df = Seq(("one", 3.25), ("two", 1.0), ("two", 2.0)).toDF("g", "v")
    val qs = Seq(0.0, 0.5, 1.0)
    val b = builtin(df, qs)
    val o = ours(df, qs)
    for (k <- b.keySet) assert(o(k) == b(k), s"mismatch at $k")
    assert(o(("one", 0.5)) == 3.25 && o(("two", 0.5)) == 1.5)
  }

  test("partitioning-independent: 1 vs 13 input partitions agree bitwise") {
    import spark.implicits._
    val rows = (0 until 4096).map(i => ("g" + (i % 3), math.sin(i) * 1000.0))
    val qs = Seq(0.1, 0.5, 0.999)
    val a = ours(rows.toDF("g", "v").coalesce(1), qs)
    val c = ours(rows.toDF("g", "v").repartition(13), qs)
    assert(a == c)
  }

  test("n is the group's non-null value count") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(2.0)), ("b", Some(5.0)))
      .toDF("g", "v")
    val n = ExactQuantile.groupQuantiles(df, "g", "v", Seq(0.5))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n == Map("a" -> 2L, "b" -> 1L))
  }
}
