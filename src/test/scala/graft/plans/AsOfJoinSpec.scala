package graft.plans

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession
import graft.queries.{Relational, Similarity, TextStats}
import graft.sources.Tables

/** Gates for the native as-of join (AsOfJoin.scala): value parity with
  * a driver-side reference walk, physical-plan shape, the
  * unextended-session guard, and the rule's analysis-time rejections.
  * Every test runs on the shared, extended session except the
  * unextended-session guard, which builds its own.
  */
class AsOfJoinSpec extends AnyFunSuite with GraftTestSession {

  private val sf = "/root/testdata/sf0.001"

  test("b49 values equal a driver-side reference walk of the same semantics") {
    val s = spark
    val ev = Tables.events(s, sf)
    val clicksByUser = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("tsu"))
      .agg(max("event_id").as("click_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tsu"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = errors.flatMap { case (eid, uid, tsu) =>
      clicksByUser.getOrElse(uid, Array.empty[(Long, Long)])
        .takeWhile(_._1 <= tsu).lastOption
        .map { case (cts, cid) => (eid, uid, cid, tsu - cts) }
    }.toSet
    assert(expected.nonEmpty, "fixture must produce at least one match")
    val got = Relational.b49AsofNative(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
  }

  test("b49 plans through AsOfJoinExec — never the fallback cartesian") {
    val s = spark
    val df = Relational.b49AsofNative(s, sf)
    df.collect() // finalize any adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("an unextended session fails loudly instead of planning the cross join") {
    // the one session built outside GraftSession: a fresh one on the
    // shared SparkContext, without the extensions, after which the
    // shared session is the default again
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder().master("local[4]").getOrCreate()
      val e = intercept[IllegalStateException](Relational.b49AsofNative(s, sf))
      assert(e.getMessage.contains("graft_asof"))
      // the native functions exist only through the extensions too: a
      // query that calls one fails at DataFrame construction
      val lsh = intercept[AnalysisException](Similarity.s1AnnLsh(s, sf))
      assert(lsh.getMessage.contains("lsh_bands"), lsh.getMessage)
      val winnow = intercept[AnalysisException](TextStats.t4Fingerprint(s, sf))
      assert(winnow.getMessage.contains("winnow_fps"), winnow.getMessage)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("null keys and null times never match (inner semantics)") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (Some(1L), Some(100L), "a"),
      (None: Option[Long], Some(100L), "b"),
      (Some(1L), None: Option[Long], "c"),
      (Some(2L), Some(50L), "d"))
      .toDF("k", "t", "tag")
    val right = Seq(
      (Some(1L), Some(100L), "r1"), // tie at t=100: backward-inclusive
      (Some(1L), Some(40L), "r0"),
      (None: Option[Long], Some(1L), "rn"),
      (Some(2L), Some(60L), "r2"))  // after left d's t=50: no match
      .toDF("rk", "rt", "rtag")
    val out = left.crossJoin(right).hint("graft_asof", "k", "t", "rk", "rt")
      .select("tag", "rtag").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("a", "r1")))
  }

  test("left_outer keeps unmatched and null-key left rows with a null-filled right side") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (Some(1L), Some(100L), "a"),  // matches r1 (tie, backward-inclusive)
      (Some(2L), Some(50L), "d"),   // right side only has t=60 for k=2: unmatched
      (None: Option[Long], Some(9L), "n"), // null key: unmatched but RETAINED
      (Some(3L), Some(5L), "x"))    // no right rows for k=3 at all
      .toDF("k", "t", "tag")
    val right = Seq(
      (1L, 100L, "r1"),
      (1L, 40L, "r0"),
      (2L, 60L, "r2"))
      .toDF("rk", "rt", "rtag")
    val j = left.crossJoin(right)
      .hint("graft_asof", "k", "t", "rk", "rt", "left_outer")
    val out = j.select("tag", "rtag").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(out == Set(
      ("a", Some("r1")), ("d", None), ("n", None), ("x", None)))
    // plan is still the native operator, not a fallback outer join
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("b55 values equal b49's on matched rows plus every unmatched error null-filled") {
    val s = spark
    val inner = Relational.b49AsofNative(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val outer = Relational.b55AsofOuter(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val matched = outer.collect { case (e, u, c, Some(g)) => (e, u, c, g) }.toSet
    assert(matched == inner, "outer's matched subset must equal the inner join")
    val unmatched = outer.collect { case (e, _, c, None) => (e, c) }
    assert(unmatched.nonEmpty, "fixture must contain errors with no prior click")
    assert(unmatched.forall(_._2 == -1L), "unmatched rows carry the -1 sentinel click_id")
    assert(outer.length > inner.size)
  }

  test("buffer-backed (string) keys survive the right-side row-buffer reuse of a spill reader") {
    // Regression for the candKey aliasing defect: the exec's one-row
    // lookahead evaluates the key from an UNCOPIED right row; a sort
    // spill reader (UnsafeSorterSpillReader) reuses the same byte
    // buffer for every record, so an aliased UTF8String candKey would
    // be silently rewritten by the next advanceRight(). TestScanExec
    // reproduces that memory discipline exactly — one UnsafeProjection
    // whose reused result row backs every emitted row — and drives
    // AsOfJoinExec directly (children pre-sorted, single partition, so
    // the exec's distribution/ordering requirements hold by
    // construction). With the aliasing bug the "b" right row overwrites
    // candKey's bytes after the last "a" candidate is buffered and the
    // key guard drops the match; the fix re-evaluates candKey from the
    // copied candidate row.
    val s = spark
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{LongType, StringType}
    val lOut = Seq(
      AttributeReference("k", StringType, nullable = true)(),
      AttributeReference("t", LongType, nullable = true)())
    val rOut = Seq(
      AttributeReference("rk", StringType, nullable = true)(),
      AttributeReference("rt", LongType, nullable = true)(),
      AttributeReference("rtag", StringType, nullable = true)())
    val leftScan = TestScanExec(s, lOut, Seq(Seq("a", 30L)))
    val rightScan = TestScanExec(s, rOut, Seq(
      Seq("a", 10L, "ra1"), Seq("a", 20L, "ra2"), Seq("b", 5L, "rb")))
    val exec = AsOfJoinExec(
      Seq(lOut.head), lOut(1), Seq(rOut.head), rOut(1), isLeftOuter = false,
      isForward = false, tolUs = None, leftScan, rightScan)
    val rows = exec.execute().collect()
    assert(rows.length == 1,
      s"expected exactly the (a, ra2) match, got ${rows.length} rows")
    val out = rows.head
    assert(out.getUTF8String(0).toString == "a")
    assert(out.getLong(1) == 30L)
    assert(out.getUTF8String(2).toString == "a")
    assert(out.getLong(3) == 20L)
    assert(out.getUTF8String(4).toString == "ra2")
  }

  test("forward direction matches the first right row at-or-after each left time") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, 100L, "tie"),     // tie at rt=100: forward-inclusive
      (1L, 101L, "after"),   // next is rt=150
      (1L, 200L, "none"),    // no later right row for k=1
      (2L, 10L, "first"))    // k=2's first right row is rt=60
      .toDF("k", "t", "tag")
    val right = Seq(
      (1L, 40L, "r40"),
      (1L, 100L, "r100"),
      (1L, 150L, "r150"),
      (2L, 60L, "r60"))
      .toDF("rk", "rt", "rtag")
    val inner = left.crossJoin(right)
      .hint("graft_asof", "k", "t", "rk", "rt", "forward")
      .select("tag", "rtag").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(inner == Set(("tie", "r100"), ("after", "r150"), ("first", "r60")))
    // forward + left_outer composes: the unmatched row null-fills
    val outer = left.crossJoin(right)
      .hint("graft_asof", "k", "t", "rk", "rt", "forward", "left_outer")
      .select("tag", "rtag").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(outer == Set(("tie", Some("r100")), ("after", Some("r150")),
      ("none", None), ("first", Some("r60"))))
  }

  test("b58 forward values equal a driver-side reference walk") {
    val s = spark
    val ev = Tables.events(s, sf)
    val clicksByUser = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("tsu"))
      .agg(max("event_id").as("click_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tsu"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = errors.flatMap { case (eid, uid, tsu) =>
      clicksByUser.getOrElse(uid, Array.empty[(Long, Long)])
        .dropWhile(_._1 < tsu).headOption
        .map { case (cts, cid) => (eid, uid, cid, cts - tsu) }
    }.toSet
    assert(expected.nonEmpty, "fixture must produce at least one forward match")
    val got = Relational.b58AsofForward(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
  }

  test("tolerance bounds the backward match gap; outer null-fills instead of post-filtering") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, 100L, "close"),   // nearest right is t=95: gap 5, within tol 10
      (1L, 200L, "far"),     // nearest right is t=95: gap 105, OUT of tol
      (2L, 50L, "exact"))    // nearest right is t=40: gap 10 == tol, inclusive
      .toDF("k", "t", "tag")
    val right = Seq(
      (1L, 95L, "r95"),
      (2L, 40L, "r40"))
      .toDF("rk", "rt", "rtag")
    val inner = left.crossJoin(right)
      .hint("graft_asof", "k", "t", "rk", "rt", "tol_us=10")
      .select("tag", "rtag").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(inner == Set(("close", "r95"), ("exact", "r40")))
    // OUTER + tolerance is the not-post-filterable case: "far"'s
    // nearest match exists but is out of tolerance — the row must be
    // RETAINED null-filled, which no filter over the unbounded outer
    // join can express (that join matches "far" to r95)
    val outer = left.crossJoin(right)
      .hint("graft_asof", "k", "t", "rk", "rt", "left_outer", "tol_us=10")
      .select("tag", "rtag").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(outer == Set(
      ("close", Some("r95")), ("far", None), ("exact", Some("r40"))))
  }

  test("tolerance bounds the forward match gap symmetrically") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, 100L, "close"),   // next right is t=105: gap 5, within
      (1L, 10L, "far"))      // next right is t=105: gap 95, out
      .toDF("k", "t", "tag")
    val right = Seq((1L, 105L, "r105")).toDF("rk", "rt", "rtag")
    val inner = left.crossJoin(right)
      .hint("graft_asof", "k", "t", "rk", "rt", "forward", "tol_us=10")
      .select("tag", "rtag").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(inner == Set(("close", "r105")))
    val outer = left.crossJoin(right)
      .hint("graft_asof", "k", "t", "rk", "rt", "forward", "left_outer", "tol_us=10")
      .select("tag", "rtag").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(outer == Set(("close", Some("r105")), ("far", None)))
  }

  test("b59 values equal a driver-side tolerance-bounded reference walk") {
    val s = spark
    val tolUs = 43_200_000_000L
    val ev = Tables.events(s, sf)
    val clicksByUser = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("tsu"))
      .agg(max("event_id").as("click_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tsu"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = errors.flatMap { case (eid, uid, tsu) =>
      clicksByUser.getOrElse(uid, Array.empty[(Long, Long)])
        .takeWhile(_._1 <= tsu).lastOption
        .filter { case (cts, _) => tsu - cts <= tolUs } // tolerance gate
        .map { case (cts, cid) => (eid, uid, cid, tsu - cts) }
    }.toSet
    assert(expected.nonEmpty, "fixture must produce at least one in-tolerance match")
    assert(expected.size < errors.length,
      "fixture must also contain out-of-tolerance nearest matches")
    val got = Relational.b59AsofTolerance(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
  }

  test("SQL front door: SELECT /*+ graft_asof */ over CROSS JOIN plans the native operator") {
    val s = spark
    val ev = Tables.events(s, sf)
    ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
      .createOrReplaceTempView("asof_errors_v")
    ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user_id"), col("ts").as("c_ts"))
      .agg(max(col("event_id")).as("click_id"))
      .createOrReplaceTempView("asof_clicks_v")
    val df = s.sql(
      """SELECT /*+ graft_asof('user_id', 'ts', 'c_user_id', 'c_ts') */
        |       event_id, user_id, click_id,
        |       unix_micros(ts) - unix_micros(c_ts) AS gap_us
        |FROM asof_errors_v CROSS JOIN asof_clicks_v""".stripMargin)
    df.collect() // finalize any adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // value parity with the DataFrame builder (same semantics, two doors)
    val viaSql = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val viaDf = Relational.b49AsofNative(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(viaSql == viaDf)
    // flags ride through SQL text the same way: outer + tolerance
    val outer = s.sql(
      """SELECT /*+ graft_asof('user_id', 'ts', 'c_user_id', 'c_ts',
        |                      'left_outer', 'tol_us=43200000000') */
        |       event_id, click_id
        |FROM asof_errors_v CROSS JOIN asof_clicks_v""".stripMargin).collect()
    assert(outer.length > viaSql.size, "outer must retain unmatched errors")
    assert(outer.exists(_.isNullAt(1)), "out-of-tolerance rows must null-fill")
    // misplaced SQL hint (no join under the SELECT) still fails loudly
    val bad = intercept[Exception] {
      s.sql(
        """SELECT /*+ graft_asof('user_id', 'ts', 'user_id', 'ts') */ event_id
          |FROM asof_errors_v""".stripMargin).queryExecution.analyzed
    }
    assert(bad.getMessage.contains("graft_asof"), bad.getMessage)
  }

  test("SQL front door left_outer under a spine honors right-side nullability (no garbage reads)") {
    val s = spark
    import s.implicits._
    // NON-nullable inputs: primitive-tuple toDF gives nullable=false
    // columns, so any spine node that keeps a stale nullable=false on a
    // right-side attribute would let codegen elide null checks and read
    // the null-slot's backing bits (0L) instead of NULL.
    val left = Seq((1L, 100L, 10L), (2L, 50L, 20L), (3L, 5L, 30L))
      .toDF("k", "t", "lv")
    val right = Seq((1L, 40L, 777L)).toDF("rk", "rt", "rv")
    left.createOrReplaceTempView("asof_nn_left")
    right.createOrReplaceTempView("asof_nn_right")
    // the hint sits ABOVE a Project(expr over right side) + Filter spine
    val df = s.sql(
      """SELECT /*+ graft_asof('k', 't', 'rk', 'rt', 'left_outer') */
        |       k, rv, rv + 1 AS rv1
        |FROM asof_nn_left CROSS JOIN asof_nn_right
        |WHERE t >= 0""".stripMargin)
    assert(df.schema("rv").nullable, df.schema.treeString)
    assert(df.schema("rv1").nullable, df.schema.treeString)
    val rows = df.collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(rows == Set(
      (1L, Some(777L), Some(778L)),
      (2L, None, None),
      (3L, None, None)), rows.toString)

    // nullability-SEMANTIC expressions: the optimizer folds IS NULL to
    // false and coalesce(x, d) to x when x is (stale-)non-nullable, so
    // these detect any plan where the spine kept nullable=false
    val folded = s.sql(
      """SELECT /*+ graft_asof('k', 't', 'rk', 'rt', 'left_outer') */
        |       k, rv IS NULL AS rv_null, coalesce(rv, -1L) AS rv_c
        |FROM asof_nn_left CROSS JOIN asof_nn_right
        |WHERE t >= 0""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSet
    assert(folded == Set(
      (1L, false, 777L), (2L, true, -1L), (3L, true, -1L)), folded.toString)

    // aggregate spine over right-side columns: null-fills must be
    // ignored by count/max, not read as 0
    val agg = s.sql(
      """SELECT /*+ graft_asof('k', 't', 'rk', 'rt', 'left_outer') */
        |       count(rv) AS n_rv, count(*) AS n_all, max(rv) AS max_rv
        |FROM asof_nn_left CROSS JOIN asof_nn_right""".stripMargin).collect()
    assert(agg.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((1L, 3L, 777L)), agg.mkString(","))
  }

  test("dim-sized right side plans the broadcast as-of variant, value-equal to sort-merge") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (Some(1L), Some(100L), "a"), (Some(1L), Some(50L), "e"),
      (Some(2L), Some(50L), "d"), (Some(3L), Some(7L), "x"),
      (None: Option[Long], Some(5L), "n"), (Some(1L), None: Option[Long], "m"))
      .toDF("k", "t", "tag")
    val right = Seq(
      (Some(1L), Some(95L), "r95"), (Some(1L), Some(40L), "r40"),
      (Some(2L), Some(60L), "r60"), (None: Option[Long], Some(1L), "rn"),
      (Some(2L), None: Option[Long], "rm"))
      .toDF("rk", "rt", "rtag")
    def run(flags: String*) = {
      val j = left.crossJoin(right)
        .hint("graft_asof", Seq("k", "t", "rk", "rt") ++ flags: _*)
      j.select("tag", "rtag").collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).sorted.toSeq ->
        j.queryExecution.executedPlan.toString
    }
    val combos = Seq(
      Seq.empty[String], Seq("left_outer"), Seq("forward"),
      Seq("forward", "left_outer"), Seq("tol_us=10"),
      Seq("left_outer", "tol_us=10"), Seq("forward", "tol_us=10"),
      Seq("forward", "left_outer", "tol_us=10"))
    // default threshold: the tiny local right side sits far under it →
    // the planner must pick the broadcast variant (fact side untouched)
    val viaBroadcast = combos.map { f =>
      val (rows, plan) = run(f: _*)
      assert(plan.contains("BroadcastAsOfJoin"),
        s"flags $f did not plan the broadcast variant:\n$plan")
      rows
    }
    // threshold -1 (the standard Spark disable knob) restores the
    // co-partitioned sort-merge exec
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val viaSortMerge = try combos.map { f =>
      val (rows, plan) = run(f: _*)
      assert(plan.contains("AsOfJoin") && !plan.contains("BroadcastAsOfJoin"),
        s"flags $f did not fall back to sort-merge:\n$plan")
      rows
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // the two physical plans are the SAME operator: value parity on
    // every direction/outer/tolerance combination, including null
    // keys/times on both sides
    combos.indices.foreach { i =>
      assert(viaBroadcast(i) == viaSortMerge(i),
        s"broadcast vs sort-merge divergence for flags ${combos(i)}: " +
          s"${viaBroadcast(i)} vs ${viaSortMerge(i)}")
    }
    // spot-check one semantic against first principles: backward
    // inner with tol 10 — 'a' matches r95 (gap 5), 'e' has nearest
    // r40 (gap 10, inclusive), 'd' nearest is r60 but 60 > 50 so no
    // backward match, nulls never match
    assert(viaBroadcast(4) ==
      Seq[(String, Option[String])](("a", Some("r95")), ("e", Some("r40"))).sorted)
  }

  test("broadcast as-of builds its index ONCE per executor, not per task") {
    val s = spark
    import s.implicits._
    // many-partition fact side: without memoization every one of the
    // 64 tasks would rebuild the per-key sorted index from the
    // broadcast (the repeated K log K work the r14 verdict flagged)
    val left = s.range(0, 10000)
      .select((col("id") % 50).as("k"), (col("id") % 997).as("t"), col("id").as("lv"))
      .repartition(64)
    val right = s.range(0, 50)
      .select(col("id").as("rk"), (col("id") * 3 % 500).as("rt"), (col("id") + 7000).as("rv"))
    val j = left.crossJoin(right)
      .hint("graft_asof", "k", "t", "rk", "rt", "left_outer")
    val before = BroadcastAsOfJoinExec.buildCount.get()
    val rows = j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastAsOfJoin"), plan)
    val builds = BroadcastAsOfJoinExec.buildCount.get() - before
    assert(builds == 1L,
      s"expected exactly 1 index build across 64 tasks, got $builds")
    assert(rows.length == 10000)
    // a RE-execution of the same plan reuses the cached index too
    // (same broadcast id + plan id)
    j.collect()
    assert(BroadcastAsOfJoinExec.buildCount.get() - before == 1L,
      "re-execution of the same plan must hit the cache")
    // value parity with the sort-merge exec on the same data — the
    // memoized index must not change semantics
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val smj = try j.collect() finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(rows.map(_.toString).sorted.sameElements(smj.map(_.toString).sorted))
  }

  test("b60: explicit broadcast hint forces the broadcast pick; fact side unshuffled and unsorted") {
    val s = spark
    // plain (non-adaptive) plan tree so the left subtree is directly
    // inspectable; restore afterwards
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Relational.b60AsofBroadcastDim(s, sf)
      val plan = df.queryExecution.executedPlan
      val b = plan.collectFirst { case x: BroadcastAsOfJoinExec => x }
      assert(b.isDefined, s"expected BroadcastAsOfJoinExec:\n$plan")
      // the fact (left) subtree must contain NO shuffle and NO sort —
      // the whole point of the broadcast variant
      val offenders = b.get.left.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.nodeName
        case st: org.apache.spark.sql.execution.SortExec => st.nodeName
      }
      assert(offenders.isEmpty,
        s"fact side was shuffled/sorted: $offenders\n${b.get.left}")
      // the hint WINS over threshold -1 (mirroring BroadcastHashJoin:
      // an explicit user hint is not subject to the stats gate)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val viaHint = Relational.b60AsofBroadcastDim(s, sf)
      assert(viaHint.queryExecution.executedPlan
        .collectFirst { case x: BroadcastAsOfJoinExec => x }.isDefined)
      val hintRows = viaHint.collect().map(_.toString).sorted
      // value parity with the sort-merge form of the same query
      // (no broadcast hint + threshold -1 → AsOfJoinExec)
      val ev = graft.sources.Tables.events(s, sf)
      val policy = ev.groupBy(col("event_type").as("p_type"),
          date_trunc("hour", col("ts")).as("p_ts"))
        .agg(max(col("event_id")).as("policy_id"))
      val smjDf = ev.select(col("event_id"), col("event_type"), col("ts"))
        .crossJoin(policy)
        .hint("graft_asof", "event_type", "ts", "p_type", "p_ts")
        .select(col("event_id"), col("event_type"), col("policy_id"),
          (unix_micros(col("ts")) - unix_micros(col("p_ts"))).as("gap_us"))
        .orderBy("event_id")
      assert(smjDf.queryExecution.executedPlan
        .collectFirst { case x: AsOfJoinExec => x }.isDefined,
        smjDf.queryExecution.executedPlan.toString)
      val smjRows = smjDf.collect().map(_.toString).sorted
      assert(hintRows.sameElements(smjRows),
        "broadcast vs sort-merge divergence on b60")
    } finally {
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      s.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("b49 under the broadcast-eligible threshold keeps its values (oracle unchanged)") {
    val s = spark
    // the sf0.001 clicks aggregate is small; whatever the stats
    // estimate decides, the two physical plans must agree with the
    // reference values — run b49 with broadcast enabled wide open and
    // with it disabled, and require identical results
    val wide = Relational.b49AsofNative(s, sf).collect().map(_.toString).sorted
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val smj = try Relational.b49AsofNative(s, sf).collect().map(_.toString).sorted
    finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(wide.sameElements(smj), "b49 values depend on the physical as-of plan")
  }

  test("AQE picks the same as-of physical plans and produces identical values") {
    // r14 verdict task 5: the scaladoc claims AQE-compatibility via
    // EnsureRequirements; this pins it. Under adaptive execution the
    // children become shuffle query stages and CoalesceShufflePartitions
    // may re-plan their partition counts — the exec's
    // requiredChildDistribution must keep the two sides CO-partitioned
    // (a divergence fails doExecute's partition-count require, so value
    // parity here is also a co-partitioning proof), and the planner's
    // pick (sort-merge vs broadcast) must be the same one the static
    // planner makes, with bit-identical output either way.
    val s = spark
    def finalPlan(df: DataFrame): String = {
      df.collect() // finalize the adaptive plan
      df.queryExecution.executedPlan.toString
    }
    def sortedRows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // synthetic shape big enough that AQE genuinely re-plans: 16-wide
    // shuffles on both sides (under AQE the width is initialPartitionNum),
    // tiny per-partition bytes → coalescing fires
    def fact = s.range(0, 20000)
      .select((col("id") % 100).as("k"), (col("id") % 1009).as("t"), col("id").as("lv"))
    def dim = s.range(0, 15000)
      .select((col("id") % 100).as("rk"), ((col("id") * 7) % 1009).as("rt"),
        (col("id") + 900000).as("rv"))
    def asof = fact.crossJoin(dim).hint("graft_asof", "k", "t", "rk", "rt", "left_outer")
    // 1) sort-merge exec under AQE (threshold -1 disables broadcast)
    val (aqeSmjRows, aqeSmjPlan) = withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "16") {
      val df = asof
      (sortedRows(df), finalPlan(df))
    }
    assert(aqeSmjPlan.contains("AdaptiveSparkPlan"), aqeSmjPlan)
    assert(aqeSmjPlan.contains("isFinalPlan=true"), aqeSmjPlan)
    assert(aqeSmjPlan.contains("AsOfJoin") && !aqeSmjPlan.contains("BroadcastAsOfJoin"),
      s"AQE did not keep the sort-merge as-of pick:\n$aqeSmjPlan")
    val offSmjRows = withConfs(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "16")(sortedRows(asof))
    assert(aqeSmjRows == offSmjRows, "AQE on/off divergence through AsOfJoinExec")

    // 2) broadcast exec under AQE (default threshold, dim-sized right)
    val smallDim = dim.filter(col("rk") < 10).groupBy("rk")
      .agg(max(col("rt")).as("rt"), max(col("rv")).as("rv"))
    def basof = fact.crossJoin(smallDim).hint("graft_asof", "k", "t", "rk", "rt")
    val (aqeBcRows, aqeBcPlan) = withConfs(
      "spark.sql.adaptive.enabled" -> "true") {
      val df = basof
      (sortedRows(df), finalPlan(df))
    }
    assert(aqeBcPlan.contains("AdaptiveSparkPlan"), aqeBcPlan)
    assert(aqeBcPlan.contains("BroadcastAsOfJoin"),
      s"AQE did not keep the broadcast as-of pick:\n$aqeBcPlan")
    val offBcRows = withConfs(
      "spark.sql.adaptive.enabled" -> "false")(sortedRows(basof))
    assert(aqeBcRows == offBcRows, "AQE on/off divergence through BroadcastAsOfJoinExec")

    // 3) the oracled queries themselves: hash-equal rows AQE on vs off
    for ((name, bld) <- Seq(
        "b49" -> (() => Relational.b49AsofNative(s, sf)),
        "b60" -> (() => Relational.b60AsofBroadcastDim(s, sf)))) {
      val on = withConfs("spark.sql.adaptive.enabled" -> "true")(sortedRows(bld()))
      val off = withConfs("spark.sql.adaptive.enabled" -> "false")(sortedRows(bld()))
      assert(on == off, s"$name: AQE on/off value divergence")
    }
  }

  test("composite keys: N-column as-of equals the fused-single-key run on both physical plans") {
    // r14 verdict task 7: (symbol, venue)-style keys. Ground truth by
    // equivalence — fusing the two key columns into one string key is
    // semantically identical (concat nulls out when any component is
    // null, matching the per-component null rule), so every flag combo
    // must produce the same rows through: composite sort-merge,
    // composite broadcast, fused sort-merge.
    val s = spark
    import s.implicits._
    val left = Seq(
      (Some(1L), Some("x"), Some(100L), "a"), // matches (1,x,95)
      (Some(1L), Some("y"), Some(100L), "b"), // same k1, other venue → (1,y,60)
      (Some(1L), Some("z"), Some(100L), "c"), // venue with no right rows
      (Some(2L), Some("x"), Some(50L), "d"), // right (2,x) rows are later → no backward match
      (None: Option[Long], Some("x"), Some(100L), "n1"), // null first component
      (Some(1L), None: Option[String], Some(100L), "n2"), // null second component
      (Some(1L), Some("x"), None: Option[Long], "n3")) // null time
      .toDF("k1", "k2", "t", "tag")
    val right = Seq(
      (Some(1L), Some("x"), Some(95L), "r1x95"), (Some(1L), Some("x"), Some(40L), "r1x40"),
      (Some(1L), Some("y"), Some(60L), "r1y60"), (Some(2L), Some("x"), Some(70L), "r2x70"),
      (None: Option[Long], Some("x"), Some(1L), "rn1"), (Some(1L), None: Option[String], Some(1L), "rn2"),
      (Some(1L), Some("x"), None: Option[Long], "rnt"))
      .toDF("rk1", "rk2", "rt", "rtag")
    val fuse = (k1: org.apache.spark.sql.Column, k2: org.apache.spark.sql.Column) =>
      concat(k1.cast("string"), lit("|"), k2)
    val lf = left.withColumn("fk", fuse(col("k1"), col("k2")))
    val rf = right.withColumn("rfk", fuse(col("rk1"), col("rk2")))
    def rows(df: DataFrame): Seq[(String, Option[String])] =
      df.select("tag", "rtag").collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).sorted.toSeq
    val combos = Seq(
      Seq.empty[String], Seq("left_outer"), Seq("forward"),
      Seq("forward", "left_outer"), Seq("tol_us=20"),
      Seq("left_outer", "tol_us=20"), Seq("forward", "tol_us=20"),
      Seq("forward", "left_outer", "tol_us=20"))
    combos.foreach { f =>
      def composite = left.crossJoin(right)
        .hint("graft_asof", Seq("k1,k2", "t", "rk1,rk2", "rt") ++ f: _*)
      val fused = rows(lf.crossJoin(rf)
        .hint("graft_asof", Seq("fk", "t", "rfk", "rt") ++ f: _*))
      // default threshold: tiny right → broadcast pick
      val viaBc = composite
      val bcRows = rows(viaBc)
      assert(viaBc.queryExecution.executedPlan.toString.contains("BroadcastAsOfJoin"),
        s"flags $f: composite did not plan the broadcast variant")
      assert(bcRows == fused, s"flags $f: composite broadcast != fused reference")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val viaSmj = composite
        val smjRows = rows(viaSmj)
        val plan = viaSmj.queryExecution.executedPlan.toString
        assert(plan.contains("AsOfJoin") && !plan.contains("BroadcastAsOfJoin"),
          s"flags $f: composite did not fall back to sort-merge")
        assert(smjRows == fused, s"flags $f: composite sort-merge != fused reference")
      } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    // first-principles spot check, backward inner: 'a'→r1x95, 'b'→r1y60,
    // 'c'/'d' unmatched, null components never match
    def backward = left.crossJoin(right)
      .hint("graft_asof", "k1,k2", "t", "rk1,rk2", "rt")
    assert(rows(backward) == Seq[(String, Option[String])](
      ("a", Some("r1x95")), ("b", Some("r1y60"))).sorted)
    // and the sort-merge plan clusters on BOTH key columns
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = backward.queryExecution.executedPlan.toString
      assert(plan.contains("hashpartitioning(k1") && plan.contains("k2"),
        s"composite sort-merge must shuffle on the full key set:\n$plan")
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("composite key lists are validated at analysis: length, empties, duplicates, types") {
    val s = spark
    import s.implicits._
    val l = Seq((1L, "x", 10L)).toDF("k1", "k2", "t")
    val r = Seq((1L, "x", 5L)).toDF("rk1", "rk2", "rt")
    def hint(lk: String, rk: String) =
      l.crossJoin(r).hint("graft_asof", lk, "t", rk, "rt").queryExecution.analyzed
    val mismatch = intercept[IllegalArgumentException](hint("k1,k2", "rk1"))
    assert(mismatch.getMessage.contains("differ in length"), mismatch.getMessage)
    val empty = intercept[IllegalArgumentException](hint("k1,,k2", "rk1,rk2,rk1"))
    assert(empty.getMessage.contains("empty component"), empty.getMessage)
    val dup = intercept[IllegalArgumentException](hint("k1,k1", "rk1,rk2"))
    assert(dup.getMessage.contains("twice"), dup.getMessage)
    // positional type check applies to every pair: (k1:long, k2:string)
    // against (rk2:string, rk1:long) must fail on the FIRST pair
    val types = intercept[IllegalArgumentException](hint("k1,k2", "rk2,rk1"))
    assert(types.getMessage.contains("key types differ"), types.getMessage)
    // ambiguity rejection applies per component
    val lAmb = Seq((1L, 2L, 10L)).toDF("k1", "k1", "t")
    val amb = intercept[IllegalArgumentException] {
      lAmb.crossJoin(r).hint("graft_asof", "k1,t", "t", "rk1,rk2", "rt")
        .queryExecution.analyzed
    }
    assert(amb.getMessage.contains("resolved to 2"), amb.getMessage)
  }

  test("tolerance flag parse and type errors fail at analysis") {
    val s = spark
    import s.implicits._
    val l = Seq((1L, 10L)).toDF("k", "t")
    val r = Seq((1L, 5L)).toDF("rk", "rt")
    val dup = intercept[Exception] {
      l.crossJoin(r).hint("graft_asof", "k", "t", "rk", "rt", "tol_us=1", "tol_us=2")
        .queryExecution.analyzed
    }
    assert(dup.getMessage.contains("conflicting"), dup.getMessage)
    val neg = intercept[Exception] {
      l.crossJoin(r).hint("graft_asof", "k", "t", "rk", "rt", "tol_us=-5")
        .queryExecution.analyzed
    }
    assert(neg.getMessage.contains(">= 0"), neg.getMessage)
    val nan = intercept[Exception] {
      l.crossJoin(r).hint("graft_asof", "k", "t", "rk", "rt", "tol_us=abc")
        .queryExecution.analyzed
    }
    assert(nan.getMessage.contains("not a long integer"), nan.getMessage)
    // tolerance needs an integral-represented time type; string times
    // are orderable (plain as-of works) but have no difference
    val lStr = Seq((1L, "b")).toDF("k", "t")
    val rStr = Seq((1L, "a")).toDF("rk", "rt")
    val str = intercept[Exception] {
      lStr.crossJoin(rStr).hint("graft_asof", "k", "t", "rk", "rt", "tol_us=1")
        .queryExecution.analyzed
    }
    assert(str.getMessage.contains("integral"), str.getMessage)
  }

  test("a misplaced graft_asof hint fails at analysis instead of silently degrading") {
    val s = spark
    import s.implicits._
    val l = Seq((1L, 10L)).toDF("k", "t")
    val r = Seq((1L, 5L)).toDF("rk", "rt")
    // over a CONDITIONED join: the inner-join-with-condition shape is
    // not the operator's contract — must throw, not run a plain join
    val conditioned = intercept[Exception] {
      l.join(r, l("k") === r("rk")).hint("graft_asof", "k", "t", "rk", "rt")
        .queryExecution.analyzed
    }
    assert(conditioned.getMessage.contains("graft_asof"), conditioned.getMessage)
    // over a non-join child
    val nonJoin = intercept[Exception] {
      l.hint("graft_asof", "k", "t", "rk", "rt").queryExecution.analyzed
    }
    assert(nonJoin.getMessage.contains("graft_asof"), nonJoin.getMessage)
    // unknown flag parameter
    val badType = intercept[Exception] {
      l.crossJoin(r).hint("graft_asof", "k", "t", "rk", "rt", "full_outer")
        .queryExecution.analyzed
    }
    assert(badType.getMessage.contains("unknown flag"), badType.getMessage)
    // conflicting flags
    val dup = intercept[Exception] {
      l.crossJoin(r).hint("graft_asof", "k", "t", "rk", "rt", "forward", "backward")
        .queryExecution.analyzed
    }
    assert(dup.getMessage.contains("conflicting"), dup.getMessage)
  }

  test("the rule rejects ambiguous and type-mismatched hint columns at analysis") {
    val s = spark
    import s.implicits._
    val l = Seq((1L, 10L)).toDF("k", "t")
    val rStr = Seq(("1", 10L)).toDF("rk", "rt")
    val mism = intercept[IllegalArgumentException] {
      l.crossJoin(rStr).hint("graft_asof", "k", "t", "rk", "rt")
        .queryExecution.analyzed
    }
    assert(mism.getMessage.contains("key types differ"))
    val missing = intercept[IllegalArgumentException] {
      l.crossJoin(Seq((1L, 10L)).toDF("rk", "rt"))
        .hint("graft_asof", "nope", "t", "rk", "rt")
        .queryExecution.analyzed
    }
    assert(missing.getMessage.contains("resolved to 0"))
  }
}

/** Single-partition leaf scan whose rows all share ONE UnsafeProjection
  * result buffer — the same memory discipline as a sort spill reader
  * (each next() overwrites the previous row's bytes). Used to drive
  * AsOfJoinExec directly with pre-sorted children and prove the merge
  * never holds an uncopied reference across an advance.
  */
case class TestScanExec(
    @transient ss: org.apache.spark.sql.SparkSession,
    output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
    rows: Seq[Seq[Any]])
  extends org.apache.spark.sql.execution.LeafExecNode {

  protected override def doExecute()
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.unsafe.types.UTF8String
    val types = output.map(_.dataType).toArray
    val data = rows
    ss.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val proj = UnsafeProjection.create(types)
      data.iterator.map { vals =>
        val conv = vals.map {
          case s: String => UTF8String.fromString(s)
          case o => o
        }
        // proj's result row is REUSED across calls — intentional
        proj(InternalRow.fromSeq(conv))
      }
    }
  }
}
