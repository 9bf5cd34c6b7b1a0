package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.GraftTestSession

/** Invariants for the grouping-sets / semi-anti / as-of / approx
  * operators (B13–B16); cross-engine value parity for B13–B15 is the
  * DuckDB oracle's job.
  */
class RelationalExtSpec extends AnyFunSuite with GraftTestSession {

  private val sf = "/root/testdata/sf0.001"

  test("b13: rollup grand total equals the sum of leaf rows") {
    val rows = Relational.b13Rollup(spark, sf).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    val leaf = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    assert(leaf.map(_.getAs[Long]("n_orders")).sum == grand(0).getAs[Long]("n_orders"))
    // per-nation subtotal rows exist and are consistent
    val nationTotals = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    assert(nationTotals.map(_.getAs[Long]("n_orders")).sum == grand(0).getAs[Long]("n_orders"))
  }

  test("b14: semi + anti counts partition each nation's customers") {
    val byNation = Relational.b14SemiAnti(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_with_orders") + r.getAs[Long]("n_without_orders")))
      .toMap
    val expected = Tables.customer(spark, sf)
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").count().collect()
      .map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    assert(byNation == expected)
  }

  test("b15: every error's matched click precedes it for the same user") {
    val rows = Relational.b15AsofJoin(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("gap_us") >= 0, s"click after error: $r")
    }
    // spot-check one pair against the raw table
    val r0 = rows.head
    val types = Tables.events(spark, sf)
      .filter(col("event_id").isin(r0.getLong(0), r0.getLong(2)))
      .select("event_id", "event_type", "user_id").collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(types(r0.getLong(0))._1 == "error")
    assert(types(r0.getLong(2))._1 == "click")
    assert(types(r0.getLong(0))._2 == types(r0.getLong(2))._2)
  }

  test("b16: approx distinct within the 5% bound and consistent with direct counts") {
    val r = Relational.b16ApproxDistinct(spark, sf).collect()(0)
    assert(r.getAs[Boolean]("parts_within_5pct"), "HLL++ partkey estimate out of bound")
    assert(r.getAs[Boolean]("supps_within_5pct"), "HLL++ suppkey estimate out of bound")
    val exact = Tables.lineitem(spark, sf)
      .agg(countDistinct(col("l_partkey")), countDistinct(col("l_suppkey"))).collect()(0)
    assert(r.getAs[Long]("exact_parts") == exact.getLong(0))
    assert(r.getAs[Long]("exact_supps") == exact.getLong(1))
  }

  test("b20: cube contains all four grouping sets and they agree on the total") {
    val rows = Relational.b20Cube(spark, sf).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    val total = grand(0).getAs[Long]("n")
    // each one-dimension slice must sum back to the grand total
    val byFlag = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    val byStatus = rows.filter(r => r.isNullAt(0) && !r.isNullAt(1))
    val leaves = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    assert(byFlag.map(_.getAs[Long]("n")).sum == total)
    assert(byStatus.map(_.getAs[Long]("n")).sum == total)
    assert(leaves.map(_.getAs[Long]("n")).sum == total)
  }

  test("b21: quantity bands partition lineitem exactly (no drops, no double-counts)") {
    val rows = Relational.b21RangeJoin(spark, sf).collect()
    val total = Tables.lineitem(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total,
      "band intervals must cover every row exactly once")
    assert(rows.map(_.getAs[Long]("band_id")).toSeq == rows.map(_.getAs[Long]("band_id")).toSeq.sorted)
  }

  test("b22: pivoted daily counts sum to the per-day event totals") {
    val rows = Relational.b22Pivot(spark, sf).collect()
    val expected = Tables.events(spark, sf)
      .groupBy(date_trunc("day", col("ts")).as("day")).count().collect()
      .map(_.getAs[Long]("count")).sorted.toSeq
    val got = rows.map(r =>
      Seq("click", "error", "purchase", "signup", "view").map(c => r.getAs[Long](c)).sum)
      .sorted.toSeq
    assert(got == expected)
  }

  test("b23: unpivot emits exactly one (flag, metric) row per wide cell") {
    val rows = Relational.b23Unpivot(spark, sf).collect()
    val flags = Tables.lineitem(spark, sf).select("l_returnflag").distinct().count()
    assert(rows.length == flags * 3)
    assert(rows.map(_.getAs[String]("metric")).distinct.sorted.toSeq == Seq("disc", "price", "qty"))
  }

  test("b25: the peak moving average is bounded by the user's max event value") {
    val peaks = Relational.b25MovingAvg(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("peak_mavg")).toMap
    val maxes = Tables.events(spark, sf).groupBy("user_id")
      .agg(max(col("value")).as("mx"), min(col("value")).as("mn")).collect()
      .map(r => r.getAs[Long]("user_id") -> (r.getAs[Double]("mn"), r.getAs[Double]("mx"))).toMap
    assert(peaks.keySet == maxes.keySet)
    peaks.foreach { case (u, p) =>
      val (mn, mx) = maxes(u)
      assert(p >= mn - 1e-6 && p <= mx + 1e-6, s"user $u peak $p outside [$mn,$mx]")
    }
  }

  test("b26: intersect equals the set-intersection of the two key sets") {
    val got = Relational.b26Intersect(spark, sf).collect()
      .map(_.getAs[Number]("nationkey").longValue).toSet
    val c = Tables.customer(spark, sf).select("c_nationkey").collect()
      .map(_.getAs[Number](0).longValue).toSet
    val su = Tables.supplier(spark, sf).select("s_nationkey").collect()
      .map(_.getAs[Number](0).longValue).toSet
    assert(got == c.intersect(su))
  }

  test("b29: funnel stages are monotonically non-increasing") {
    val r = Relational.b29Funnel(spark, sf).collect()(0)
    val (n, v, vc, full) = (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_view"),
      r.getAs[Long]("n_view_click"), r.getAs[Long]("n_full_funnel"))
    assert(n >= v && v >= vc && vc >= full && full >= 0)
    assert(v > 0, "no sessions with views at all — funnel vacuous")
  }

  test("b27: rank family is internally consistent per nation") {
    val rows = Relational.b27RankFamily(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("nationkey")).foreach { case (_, rs) =>
      val dranks = rs.map(_.getAs[Long]("drank"))
      assert(dranks.min == 1 && dranks.max <= 3)
      rs.foreach { r =>
        val p = r.getAs[Double]("prank")
        assert(p >= 0.0 && p <= 1.0)
        val q = r.getAs[Long]("quartile")
        assert(q >= 1 && q <= 4)
        // top-3 by balance sits in the first quartile for any partition >= 12 rows
      }
    }
  }

  test("b24: salted shuffle join result is identical to the plain broadcast join") {
    import spark.implicits._
    val salted = Relational.b24SkewJoin(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Double]("wsum"), r.getAs[Long]("n")))
    val dim = Seq(("A", 1.1), ("N", 2.2), ("R", 3.3)).toDF("flag", "weight")
    val plain = Tables.lineitem(spark, sf)
      .join(broadcast(dim), col("l_returnflag") === col("flag"))
      .groupBy("l_returnflag")
      .agg(
        round(sum((col("l_quantity") * col("weight"))
          .cast(org.apache.spark.sql.types.DecimalType(30, 6))), 2).cast("double").as("wsum"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getAs[Double]("wsum"), r.getAs[Long]("n")))
    assert(salted.toSeq == plain.toSeq)
  }

  test("b32: decorrelated subquery equals the explicit aggregate-join form") {
    import org.apache.spark.sql.types.DecimalType
    val viaSubquery = Relational.b32CorrSubquery(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_above")).toMap
    val o = Tables.orders(spark, sf)
    val perCust = o.groupBy(col("o_custkey").as("ck"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast(DecimalType(30, 6))).as("tot"))
    val expected = o.join(perCust, col("o_custkey") === col("ck"))
      .filter(col("o_totalprice").cast(DecimalType(30, 6)) * col("cnt") >
        col("tot") * lit(new java.math.BigDecimal("1.5")))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(viaSubquery == expected, "Catalyst decorrelation diverged from manual join")
  }

  test("b32: the plan is decorrelated (no per-row subquery execution)") {
    val p = Relational.b32CorrSubquery(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Subquery"), s"subquery survived decorrelation:\n$p")
  }

  test("b34: RANGE frame counts exactly the trailing-hour events per user") {
    val rows = Relational.b34RangeFrame(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("n_last_hour") >= 1, "frame includes current row"))
    // brute-force re-count for the busiest user
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    val (_, urows) = byUser.maxBy(_._2.length)
    val ts = urows.map(_.getAs[Long]("tsus")).sorted
    urows.foreach { r =>
      val t = r.getAs[Long]("tsus")
      val want = ts.count(x => x >= t - 3599999999L && x <= t)
      assert(r.getAs[Long]("n_last_hour") == want,
        s"frame count mismatch at t=$t: got ${r.getAs[Long]("n_last_hour")}, want $want")
    }
  }

  test("b33: positional explode accounting matches value-only counts") {
    val rows = Relational.b33Posexplode(spark, sf).collect()
    val directCounts = Tables.documents(spark, sf)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") === "spark")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    assert(rows.map(r => r.getString(0) -> r.getAs[Long]("n_occ")).toMap == directCounts)
    rows.foreach { r =>
      assert(r.getAs[Long]("min_pos") >= 1, "positions are 1-based")
      assert(r.getAs[Long]("n_docs") <= r.getAs[Long]("n_occ"))
      assert(r.getAs[Double]("avg_pos") >= r.getAs[Long]("min_pos"))
    }
  }

  test("b35: gap and last-order accounting tie out to the orders table") {
    val rows = Relational.b35LagLead(spark, sf).collect()
    val nOrders = Tables.orders(spark, sf).count()
    val nCustomers = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    // each customer contributes (orders − 1) gaps and exactly 1 last order
    assert(rows.map(_.getAs[Long]("n_gaps")).sum == nOrders - nCustomers)
    assert(rows.map(_.getAs[Long]("n_last")).sum == nCustomers)
    rows.foreach { r =>
      assert(r.getAs[Long]("max_gap_us") >= 0, "ordered lag gaps are non-negative")
      assert(r.getAs[Double]("avg_gap_us") <= r.getAs[Long]("max_gap_us").toDouble)
    }
  }

  test("b37: the GK sketch lands inside the 5% gate and the exact side ties to b18") {
    val rows = Relational.b37ApproxQuantile(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_bound"),
        s"approx percentile left the 5% envelope for ${r.getString(0)}")
      assert(r.getAs[Double]("p50_exact") <= r.getAs[Double]("p95_exact"))
    }
    val p50ByFlag = Relational.b18Percentiles(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("p50")).toMap
    rows.foreach(r =>
      assert(r.getAs[Double]("p50_exact") == p50ByFlag(r.getString(0)),
        "b37's exact median must equal b18's"))
  }

  test("b38: the NULL bucket matches only under null-safe equality") {
    val rows = Relational.b38NullSafeJoin(spark, sf).collect()
    val byLabel = rows.map(r => r.getString(0) -> r).toMap
    // b0 is the planted NULL bucket: <=> keeps it, plain = would not
    assert(byLabel.contains("b0"), "null bucket must join via <=>")
    assert(byLabel("b0").getAs[Long]("n") > 0)
    assert(byLabel("b0").getAs[Long]("n_eq_matched") == 0,
      "plain equality would have matched none of the NULL-key rows")
    rows.filter(_.getString(0) != "b0").foreach(r =>
      assert(r.getAs[Long]("n_eq_matched") == r.getAs[Long]("n"),
        "non-null buckets match identically under = and <=>"))
    // the null-safe join loses no rows: every event lands in a bucket
    assert(rows.map(_.getAs[Long]("n")).sum ==
      Tables.events(spark, sf).count())
  }

  test("b36: rosters are sorted, distinct, and customer counts tie out") {
    val rows = Relational.b36StringAgg(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_customers")).sum ==
      Tables.customer(spark, sf).count())
    rows.foreach { r =>
      val segs = r.getAs[String]("segments").split('|').toSeq
      assert(segs == segs.sorted, "aggregate order must be canonical")
      assert(segs == segs.distinct, "roster must be distinct")
    }
  }

  test("b40: cumulative uniques end at the true per-type distinct count, monotone") {
    val rows = Relational.b40CumDistinct(spark, sf).collect()
    val truth = Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("u"))
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("u")).toMap
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    assert(byType.keySet == truth.keySet)
    byType.foreach { case (t, rs) =>
      val days = rs.sortBy(_.getAs[java.sql.Date]("day").toString)
      // running sum is strictly increasing and first-touch attribution
      // makes the final value the exact COUNT(DISTINCT user_id)
      val cums = days.map(_.getAs[Long]("cum_users"))
      assert(cums.zip(cums.tail).forall { case (a, b) => b > a })
      assert(cums.last == truth(t))
      assert(days.map(_.getAs[Long]("n_new_users")).sum == truth(t))
    }
  }

  test("b42: shares are a partition of unity within each region") {
    val rows = Relational.b42ShareOfTotal(spark, sf).collect()
    assert(rows.length == 25, "all 25 nations must report")
    rows.foreach { r =>
      val s = r.getAs[Double]("share")
      assert(s > 0.0 && s <= 1.0)
      assert(r.getAs[Double]("revenue") > 0.0)
    }
    rows.groupBy(_.getAs[Long]("regionkey")).foreach { case (rk, rs) =>
      val total = rs.map(_.getAs[Double]("share")).sum
      // rounded 6-decimal shares: reconstruction error ≤ 5e-7 per row
      assert(math.abs(total - 1.0) < 1e-5, s"region $rk shares sum to $total")
    }
  }

  test("b41: the spine is contiguous hourly, conserves events, and flags real gaps") {
    val rows = Relational.b41GapFill(spark, sf).collect()
    val epochs = rows.map(_.getAs[Long]("hour_epoch"))
    // generated spine: strictly consecutive hours, no holes in the AXIS
    assert(epochs.zip(epochs.tail).forall { case (a, b) => b - a == 3600L })
    // conservation: dense series redistributes, never invents, events
    assert(rows.map(_.getAs[Long]("n_events")).sum ==
      Tables.events(spark, sf).count())
    rows.foreach { r =>
      assert((r.getAs[Long]("is_gap") == 1L) == (r.getAs[Long]("n_events") == 0L))
    }
    // sf0.001 is sparse enough to contain real outage hours — the
    // gap-filling must actually fill something
    assert(rows.map(_.getAs[Long]("is_gap")).sum > 0)
  }

  test("b39: argmax aggregates equal the window latest-record idiom they replace") {
    val rows = Relational.b39Argmax(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("event_id").desc)
    val latest = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("user_id") < 20)
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[String]("event_type"), r.getAs[Double]("value"), r.getAs[Long]("event_id")))
      .toMap
    rows.foreach { r =>
      val (lt, lv, lid) = latest(r.getAs[Long]("user_id"))
      assert(r.getAs[String]("last_type") == lt)
      assert(r.getAs[Double]("last_value") == lv)
      assert(r.getAs[Long]("last_event_id") == lid)
    }
  }

  test("b48: depth histogram conserves users, roots once, and matches a " +
      "sequential walk of the same parent function") {
    val rows = Relational.b48TransitiveClosure(spark, sf).collect()
    val users = Tables.events(spark, sf).select("user_id").distinct().collect()
      .map(_.getLong(0)).sorted
    // conservation: every user appears at exactly one depth
    assert(rows.map(_.getAs[Long]("n_users")).sum == users.length)
    // exactly one root (rank 0 = the smallest user), at depth 0
    val d0 = rows.filter(_.getAs[Long]("depth") == 0L)
    assert(d0.length == 1 && d0.head.getAs[Long]("n_users") == 1L &&
      d0.head.getAs[Long]("min_user") == users.head)
    // cross-check the pointer-doubling result against a plain
    // sequential walk of the identical parent function on the driver
    val md = java.security.MessageDigest.getInstance("MD5")
    def hash48(s: String): Long = {
      md.reset()
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(12), 16)
    }
    def depthOf(r: Long): Long = {
      var cur = r; var d = 0L
      while (cur >= 1) { cur = hash48(s"rk:$cur") % cur; d += 1 }
      d
    }
    val expected = users.indices.map(r => depthOf(r.toLong))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = rows.map(r => r.getAs[Long]("depth") -> r.getAs[Long]("n_users")).toMap
    assert(got == expected, s"depth histogram diverged: $got vs $expected")
  }

  test("b50: lateral top-3 equals the window-rank idiom and decorrelates " +
      "to a group-limit plan, not per-outer-row re-execution") {
    val df = Relational.b50LateralTopk(spark, sf)
    val rows = df.collect()
    // reference: the windowed top-3 per event type
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("n").desc, col("user_id"))
    val expected = Tables.events(spark, sf)
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("event_type", "user_id", "n").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      == expected)
    // decorrelation shape: Catalyst must plan the lateral as a
    // group-limit (WindowGroupLimit) + join-back, never a correlated
    // re-execution per outer row (no such node exists — the tell would
    // be a cartesian/nested-loop join)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("b52: SCD2 merge versions partition the dimension and chain validity") {
    val df = Relational.b52Scd2Merge(spark, sf)
    val rows = df.collect()
    val byKey = rows.groupBy(_.getAs[Long]("custkey"))
    val nCustomers = Tables.customer(spark, sf).count()
    assert(byKey.size == nCustomers, "every dimension key appears")
    byKey.foreach { case (k, vs) =>
      if (k % 10 == 0) {
        assert(vs.length == 2, s"updated key $k must carry two versions")
        val v1 = vs.find(_.getAs[Long]("version") == 1L).get
        val v2 = vs.find(_.getAs[Long]("version") == 2L).get
        // closed version ends exactly where the new one begins
        assert(v1.getAs[Long]("valid_to_us") == v2.getAs[Long]("valid_from_us"))
        assert(v2.isNullAt(v2.fieldIndex("valid_to_us")), "latest version stays open")
        assert(v2.getAs[String]("segment") == "NEW_" + v1.getAs[String]("segment"))
      } else {
        assert(vs.length == 1 && vs.head.getAs[Long]("version") == 1L &&
          vs.head.isNullAt(vs.head.fieldIndex("valid_to_us")),
          s"untouched key $k must keep one open version")
      }
    }
    // merge stays a join + union: no nested-loop/cartesian anywhere,
    // and AQE reuses one broadcast stage across both branches (the
    // remaining duplication is a pushdown-pruned file re-scan)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
