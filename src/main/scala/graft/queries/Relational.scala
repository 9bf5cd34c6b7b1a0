package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

import graft.sources.Tables

/** Relational bench surface B1–B12 (SURVEY.md §2.8, BASELINE.md).
  *
  * Every query exists twice: as a Spark DataFrame program (`apply`-style
  * builders below) and as ANSI SQL for the DuckDB oracle (`oracle`).
  * Cross-engine hash parity rules:
  *
  *  - Floating-point SUM/AVG is order-dependent (parallel partial
  *    aggregation), so any aggregated double goes through an exact
  *    decimal accumulator: `CAST(x AS DECIMAL(30,6))` → SUM → ROUND →
  *    CAST back to DOUBLE. Decimal addition is associative, so the
  *    result is bit-identical regardless of partitioning — this is the
  *    property that survives a 1000-executor shuffle, not just local[32].
  *  - Per-row double arithmetic (products, comparisons) is IEEE-exact and
  *    deterministic across engines, so it needs no special handling.
  *  - Column names are aliased identically on both sides (driver compare
  *    sorts columns by name).
  *  - Every query has a total deterministic ORDER BY before any LIMIT.
  */
object Relational {

  /** Exact-decimal sum of a double column, rounded and returned as double. */
  private def dsum(c: Column, scale: Int = 2): Column =
    round(sum(c.cast(DecimalType(30, 6))), scale).cast("double")

  /** Exact-decimal average of a double column.
    *
    * Known theoretical asymmetry (documented, accepted): Spark divides
    * decimal/long exactly and rounds the decimal quotient; DuckDB's
    * DECIMAL/BIGINT division runs in DOUBLE. The two can differ only
    * when the exact quotient sits within one double-ulp of a 0.5e-scale
    * rounding boundary — a measure-zero event never observed across
    * all SFs/rounds. Forcing double division on the Spark side would
    * not remove the hazard (DuckDB's int128-decimal→double conversion
    * is itself not guaranteed correctly rounded), so the empirically
    * validated exact-decimal path stays. */
  private def davg(c: Column, scale: Int = 6): Column =
    round(sum(c.cast(DecimalType(30, 6))) / count(lit(1)), scale).cast("double")

  // -------------------------------------------------------------------
  // B1: scan + filter + project — predicate pushdown showcase.
  // Plan check: both filters appear in PushedFilters; ReadSchema is just
  // the 3 referenced columns.
  // -------------------------------------------------------------------
  def b1ScanFilter(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1998-01-01").cast("timestamp") &&
              col("l_discount") > 0.05)
      .agg(
        dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_rows"))

  val b1Sql: String =
    """SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01'
      |  AND l_discount > 0.05""".stripMargin

  // -------------------------------------------------------------------
  // B2: TPC-H Q1-style hash aggregation. Partial (map-side) + final agg
  // is planned by Catalyst automatically; the decimal accumulator keeps
  // it deterministic.
  // -------------------------------------------------------------------
  def b2HashAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val b2Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_qty,
      |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_base_price,
      |       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_disc_price,
      |       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_charge,
      |       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,6))) / COUNT(*), 6) AS DOUBLE) AS avg_qty,
      |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) / COUNT(*), 6) AS DOUBLE) AS avg_price,
      |       CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(30,6))) / COUNT(*), 6) AS DOUBLE) AS avg_disc,
      |       COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // -------------------------------------------------------------------
  // B3: multi-way join region⋈nation⋈customer⋈orders + agg.
  // region/nation/customer are dims → explicit broadcast() so the big
  // fact (orders) never shuffles for the join; only the final 5-group
  // agg shuffles. At 100 TB the same shape holds as long as dims fit
  // the broadcast threshold.
  // -------------------------------------------------------------------
  def b3MultiJoin(s: SparkSession, d: String): DataFrame = {
    val region = Tables.region(s, d)
    val nation = Tables.nation(s, d)
    val customer = Tables.customer(s, d)
    val orders = Tables.orders(s, d)
    orders
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("r_name"))
  }

  val b3Sql: String =
    """SELECT r_name,
      |       COUNT(*) AS n_orders,
      |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_price
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  // -------------------------------------------------------------------
  // B4: fact⋈dim join with a dim-side filter + agg. The p_type filter is
  // applied before the broadcast, shrinking the build side; lineitem
  // filter-free scan stays shuffle-free.
  // -------------------------------------------------------------------
  def b4JoinFilter(s: SparkSession, d: String): DataFrame = {
    val part = Tables.part(s, d).filter(col("p_type") === "PROMO")
    val li = Tables.lineitem(s, d)
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("p_brand"))
  }

  val b4Sql: String =
    """SELECT p_brand,
      |       COUNT(*) AS n_items,
      |       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_type = 'PROMO'
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // -------------------------------------------------------------------
  // B5: window top-N per group. row_number with a total order
  // (totalprice DESC, orderkey ASC) so ranks are deterministic.
  // -------------------------------------------------------------------
  def b5WindowTopn(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_orderpriority"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  val b5Sql: String =
    """SELECT o_orderpriority, rn, o_orderkey, o_totalprice
      |FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_orderpriority, rn""".stripMargin

  // -------------------------------------------------------------------
  // B6: global top-k — Spark plans TakeOrderedAndProject (per-partition
  // top-k then driver merge; no full sort, no shuffle of the full table).
  // -------------------------------------------------------------------
  def b6Topk(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(10)

  val b6Sql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
      |LIMIT 10""".stripMargin

  // -------------------------------------------------------------------
  // B7: distinct / count-distinct. Exact distincts here (oracle-
  // comparable); the scale path at 100 TB is approx_count_distinct (HLL),
  // exposed separately in the ops surface.
  //
  // Deliberately NOT a single multi-distinct agg: two countDistincts on
  // different columns make Catalyst plan an Expand (one padded row copy
  // per distinct group → 3× the fact rows through the shuffle) with a
  // combined (gid, partkey, suppkey) dedup map — the plan that OOMed
  // the ×100 probe at 32-way concurrency in 8 GB. Per-column two-phase
  // distincts (map-side partial dedup → one narrow int column each)
  // hold bounded spillable state and joined 1-row results cost nothing.
  // -------------------------------------------------------------------
  def b7Distinct(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // isNotNull before distinct: COUNT(DISTINCT c) ignores NULLs, but a
    // distinct()+count(*) would count NULL as one extra value — free on
    // non-null TPC-H keys, semantics-preserving if nulls ever appear
    def nd(c: String, as: String): DataFrame =
      li.select(col(c)).filter(col(c).isNotNull)
        .distinct().agg(count(lit(1)).as(as))
    nd("l_partkey", "n_parts")
      .crossJoin(nd("l_suppkey", "n_supps"))
      .crossJoin(li.agg(count(lit(1)).as("n_rows")))
  }

  val b7Sql: String =
    """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
      |       COUNT(DISTINCT l_suppkey) AS n_supps,
      |       COUNT(*) AS n_rows
      |FROM lineitem""".stripMargin

  // -------------------------------------------------------------------
  // B8: set operation — nations that have customers but no suppliers.
  // -------------------------------------------------------------------
  def b8Setop(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .filter(col("c_acctbal") < -500)
      .select(col("c_nationkey").as("nationkey"))
    val su = Tables.supplier(s, d)
      .filter(col("s_acctbal") < -500)
      .select(col("s_nationkey").as("nationkey"))
    c.except(su).orderBy(col("nationkey"))
  }

  val b8Sql: String =
    """SELECT nationkey FROM (
      |  SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal < -500
      |  EXCEPT
      |  SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal < -500) t
      |ORDER BY nationkey""".stripMargin

  // -------------------------------------------------------------------
  // B9: JSON/string extraction over events.props ({"k": <int>}).
  // get_json_object on the Spark side (codegen'd JSON path), regexp on
  // the DuckDB side — both yield the integer payload.
  // -------------------------------------------------------------------
  def b9JsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .agg(
        sum(col("k")).as("sum_k"),
        count(lit(1)).as("n_purchases"))

  val b9Sql: String =
    """SELECT CAST(SUM(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
      |       COUNT(*) AS n_purchases
      |FROM events
      |WHERE event_type = 'purchase'""".stripMargin

  // -------------------------------------------------------------------
  // B10: split + explode + distinct over document text.
  // -------------------------------------------------------------------
  def b10Explode(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("token")).as("n_distinct"))

  val b10Sql: String =
    """SELECT COUNT(*) AS n_tokens, COUNT(DISTINCT token) AS n_distinct
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t""".stripMargin

  // -------------------------------------------------------------------
  // B11: tumbling time-window aggregation on events (hourly).
  // Timestamps are emitted as epoch seconds so both engines serialize
  // identically.
  // -------------------------------------------------------------------
  def b11TimeWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      // window() (not date_trunc) so the bucket boundary is an absolute
      // epoch-aligned instant: date_trunc truncates in the SESSION time
      // zone and would only match the oracle (and the streaming twin in
      // EventStream.hourlyAgg) when the session is pinned UTC; window()
      // matches in any zone, including non-whole-hour offsets like
      // Pacific/Chatham (+12:45).
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("hour_epoch"),
        col("n_events"), col("sum_value"))
      .orderBy(col("hour_epoch"))

  val b11Sql: String =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
      |       COUNT(*) AS n_events,
      |       CAST(ROUND(SUM(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // B12: brute-force cosine top-k over 64-dim embeddings, higher-order
  // array functions only (zip_with + aggregate → whole-stage codegen;
  // no UDF). Query vector broadcast as a 1-row cross join. Both engines
  // fold the 64 elements left-to-right in doubles, so the raw sims are
  // bit-identical; rounding to 6 decimals before ORDER BY removes any
  // residual risk at the LIMIT boundary.
  // -------------------------------------------------------------------
  def b12CosineTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .withColumn("e", col("embedding").cast("array<double>"))
    val q = emb.filter(col("vec_id") === 0).select(col("e").as("qv"))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    emb.crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        round(dot(col("e"), col("qv")) /
          (sqrt(dot(col("e"), col("e"))) * sqrt(dot(col("qv"), col("qv")))), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
  }

  val b12Sql: String =
    """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |ex AS (SELECT e.vec_id,
      |              CAST(unnest(e.embedding) AS DOUBLE) AS x,
      |              CAST(unnest(q.qv) AS DOUBLE) AS y
      |       FROM embeddings e CROSS JOIN q),
      |sums AS (SELECT vec_id, SUM(x*y) AS dot, SUM(x*x) AS nx, SUM(y*y) AS ny
      |         FROM ex GROUP BY vec_id)
      |SELECT vec_id, CAST(ROUND(dot / (sqrt(nx) * sqrt(ny)), 6) AS DOUBLE) AS sim
      |FROM sums
      |ORDER BY sim DESC, vec_id ASC
      |LIMIT 10""".stripMargin

  // -------------------------------------------------------------------
  // B13: ROLLUP aggregation (grouping-sets class). Catalyst plans one
  // Expand + hash aggregate — a single shuffle regardless of the number
  // of grouping sets. NULLS FIRST pinned on both engines (Spark default
  // asc is nulls-first, DuckDB's is nulls-last).
  // -------------------------------------------------------------------
  def b13Rollup(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name"), col("o_orderpriority"))
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy(col("n_name").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  val b13Sql: String =
    """SELECT n_name, o_orderpriority,
      |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |            JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP(n_name, o_orderpriority)
      |ORDER BY n_name ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // B14: left-semi + left-anti joins — per-nation counts of customers
  // with and without orders. The distinct custkey build side shuffles
  // once and is reused; at scale both joins hash on c_custkey and AQE
  // can pick broadcast when the build side shrinks.
  // -------------------------------------------------------------------
  def b14SemiAnti(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val n = Tables.nation(s, d)
    val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_with_orders"))
    val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("ank")).agg(count(lit(1)).as("n_without_orders"))
    semi.join(anti, col("c_nationkey") === col("ank"), "full_outer")
      .join(broadcast(n), coalesce(col("c_nationkey"), col("ank")) === col("n_nationkey"))
      .select(col("n_name"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
      .orderBy("n_name")
  }

  val b14Sql: String =
    """WITH oc AS (SELECT DISTINCT o_custkey FROM orders)
      |SELECT n_name,
      |       CAST(SUM(CASE WHEN oc.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
      |       CAST(SUM(CASE WHEN oc.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_without_orders
      |FROM customer JOIN nation ON n_nationkey = c_nationkey
      |LEFT JOIN oc ON oc.o_custkey = c_custkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // -------------------------------------------------------------------
  // B15: as-of join — for every error event, the most recent click by
  // the same user at or before it. Implemented as the single-shuffle
  // windowed pattern (partition by user, order by time, last-ignoring-
  // nulls), NOT a range join: one shuffle on user_id, no pair blowup,
  // survives any scale where a per-user timeline fits a partition
  // group. Gap reported in exact integer microseconds.
  // -------------------------------------------------------------------
  def b15AsofJoin(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("last_click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_click_ts",
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error" && col("last_click_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("last_click_id"),
        (unix_micros(col("ts")) - unix_micros(col("last_click_ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  val b15Sql: String =
    """WITH w AS (
      |  SELECT event_id, user_id, event_type, ts,
      |         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id,
      |         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
      |  FROM events)
      |SELECT event_id, user_id, last_click_id,
      |       epoch_us(ts) - epoch_us(last_click_ts) AS gap_us
      |FROM w WHERE event_type = 'error' AND last_click_id IS NOT NULL
      |ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // B16: approx_count_distinct (HLL++) next to the exact count — the
  // scale path for B7-style cardinality at 100 TB. Sketch internals
  // differ by engine, so the RAW estimate can't be oracled; instead the
  // query emits the exact counts plus the HLL++ error bound as a
  // boolean (|approx-exact|/exact ≤ 5% at rsd 0.02), which the DuckDB
  // oracle reproduces as TRUE — the sketch is still computed and still
  // gated, now by a hash-checkable row.
  // -------------------------------------------------------------------
  def b16ApproxDistinct(s: SparkSession, d: String): DataFrame = {
    // Per-column two-phase distinct, same rationale as b7: the
    // multi-distinct Expand plan OOMed the ×100 probe in 8 GB. The HLL
    // sketch is built over the deduped values — identical estimate
    // (HLL of a set == HLL of the multiset) at a fraction of the
    // update cost, and the exact count rides the same 1-row agg.
    //
    // ONE scan, not one per column (r18, guide §6): the r17 form
    // scanned lineitem twice (a full pass per key column). The
    // tag-explode form reads both key columns in a single pass, fans
    // each row into (tag, value) pairs, and runs ONE two-phase
    // distinct keyed (tag, value) — map-side partial dedup still
    // collapses to the same per-column distinct sets before the
    // exchange (no Expand anywhere, plan-pinned in PlanShapeSpec), the
    // HLL sketches see identical value sets per tag, and the per-tag
    // exact + approx counts pivot back to the same single row. Shuffle
    // bytes are unchanged (distinct values + a 4-byte tag); scan
    // passes halve.
    val li = Tables.lineitem(s, d)
    // isNotNull before distinct: COUNT(DISTINCT c) semantics (see b7)
    val tagged = li.select(explode(array(
        struct(lit(0).as("t"), col("l_partkey").as("v")),
        struct(lit(1).as("t"), col("l_suppkey").as("v")))).as("tv"))
      .select(col("tv.t").as("t"), col("tv.v").as("v"))
      .filter(col("v").isNotNull)
      .distinct()
    val per = tagged.groupBy("t").agg(
      count(lit(1)).as("exact"),
      approx_count_distinct(col("v"), 0.02).as("approx"))
    val one = per.agg(
      max(when(col("t") === 0, col("exact"))).as("exact_parts"),
      max(when(col("t") === 0, col("approx"))).as("approx_parts"),
      max(when(col("t") === 1, col("exact"))).as("exact_supps"),
      max(when(col("t") === 1, col("approx"))).as("approx_supps"))
    def within(n: String): Column =
      (abs(col(s"approx_$n") - col(s"exact_$n")) <=
        col(s"exact_$n") * lit(0.05))
    one.select(
      col("exact_parts"), col("exact_supps"),
      within("parts").as("parts_within_5pct"),
      within("supps").as("supps_within_5pct"))
  }

  val b16Sql: String =
    """SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
      |       COUNT(DISTINCT l_suppkey) AS exact_supps,
      |       TRUE AS parts_within_5pct,
      |       TRUE AS supps_within_5pct
      |FROM lineitem""".stripMargin

  // -------------------------------------------------------------------
  // B17: sessionization — split each user's event timeline into
  // sessions at >30-minute gaps: lag → gap flag → running sum (the
  // session id) → per-session stats. Two window passes over ONE
  // shuffle on user_id; the standard log-sessionization shape that
  // scales to any corpus where one user's timeline fits a partition
  // group. Exact integer/none-float outputs.
  // -------------------------------------------------------------------
  /** Events with a 30-minute-gap session id per user — one shuffle on
    * user_id; shared by B17 (session stats) and B29 (funnel). */
  private def sessionized(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wAll = Window.partitionBy("user_id")
      .orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 30L * 60 * 1000000, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(wAll))
  }

  def b17Sessionize(s: SparkSession, d: String): DataFrame =
    sessionized(s, d)
      .groupBy(col("user_id"), col("sess_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("duration_us"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"))
      .orderBy("user_id", "sess_id")

  val b17Sql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts, event_type,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, ts, event_type,
      |         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM g)
      |SELECT user_id, sess_id, COUNT(*) AS n_events,
      |       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
      |       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks
      |FROM sess GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_id""".stripMargin

  // -------------------------------------------------------------------
  // B18: percentiles — exact interpolated quantiles of l_extendedprice
  // per return flag, bit-identical to Spark `percentile` and DuckDB
  // `quantile_cont` (same interpolation on the same order statistics).
  // NOT the built-in aggregate: `percentile` buffers every value of a
  // group in its aggregation buffer, and with 3 return flags that is a
  // third of the corpus per final task (~5 min/run at the ×300 probe,
  // the first OOM on a real cluster). ExactQuantile instead brackets
  // the needed ranks with a groups×8192 bucket histogram and re-scans
  // only the bracketing buckets — bounded memory at any corpus size,
  // exact answer, no sketch.
  // -------------------------------------------------------------------
  def b18Percentiles(s: SparkSession, d: String): DataFrame = {
    val lq = graft.operators.ExactQuantile.groupQuantiles(
      Tables.lineitem(s, d), "l_returnflag", "l_extendedprice",
      Seq(0.25, 0.5, 0.9, 0.99))
    def p(q: Double): Column = max(when(col("q") === q, col("qv")))
    lq.groupBy(col("g").as("l_returnflag"))
      .agg(
        max(col("n")).as("n"),
        round(p(0.25), 6).as("p25"),
        round(p(0.5), 6).as("p50"),
        round(p(0.9), 6).as("p90"),
        round(p(0.99), 6).as("p99"))
      .orderBy("l_returnflag")
  }

  val b18Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |       CAST(ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS DOUBLE) AS p25,
      |       CAST(ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS DOUBLE) AS p50,
      |       CAST(ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS DOUBLE) AS p90,
      |       CAST(ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS DOUBLE) AS p99
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // B19: schema-on-read JSON — from_json with an explicit struct schema
  // over events.props (B9 covers the regexp path; this is the typed
  // path Catalyst can prune into). Codegen-friendly: no UDF, the JSON
  // parse sits inside the WholeStageCodegen span.
  // -------------------------------------------------------------------
  def b19FromJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("p", from_json(col("props"), StructType(Seq(StructField("k", LongType)))))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("p.k")).as("sum_k"),
        sum(when(col("p.k").isNull, 1L).otherwise(0L)).as("n_missing"))
      .orderBy("event_type")

  val b19Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |       CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // B20: CUBE aggregation — all four grouping sets of (returnflag,
  // linestatus) in one Expand + one shuffle, same plan shape as B13's
  // rollup. NULLS FIRST pinned on both engines.
  // -------------------------------------------------------------------
  def b20Cube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val b20Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_qty,
      |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_price,
      |       COUNT(*) AS n
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // B21: range (band) join — every lineitem matched to its quantity
  // band via an inequality predicate. The band table is 5 rows, so the
  // right plan is a BroadcastNestedLoopJoin: each row tests ≤5
  // intervals, no shuffle of the fact side at any scale. (For two
  // large range sides the scale path is interval bucketing — overlap a
  // bucket key on both sides and equi-join on it — but a dim this
  // small must broadcast.)
  // -------------------------------------------------------------------
  def b21RangeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      (1L, 0.0, 10.0), (2L, 10.0, 20.0), (3L, 20.0, 30.0),
      (4L, 30.0, 40.0), (5L, 40.0, 51.0)).toDF("band_id", "lo", "hi")
    Tables.lineitem(s, d)
      .join(broadcast(bands), col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy("band_id")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("band_id")
  }

  val b21Sql: String =
    """SELECT CAST(band_id AS BIGINT) AS band_id, COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_price
      |FROM lineitem
      |JOIN (VALUES (1, 0.0, 10.0), (2, 10.0, 20.0), (3, 20.0, 30.0),
      |             (4, 30.0, 40.0), (5, 40.0, 51.0)) AS b(band_id, lo, hi)
      |  ON l_quantity >= lo AND l_quantity < hi
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // B22: pivot — daily event counts, one column per event type. The
  // value list is pinned (never inferred) so the schema is static and
  // the plan is a single hash aggregate with conditional counts — no
  // extra pass to discover distinct values, which at 100 TB would be a
  // full scan before the real one.
  // -------------------------------------------------------------------
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  def b22Pivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      // window() (not date_trunc) for the same reason as B11: the day
      // boundary is an absolute epoch-aligned instant in any session
      // time zone, not a truncation in the session zone.
      .groupBy(window(col("ts"), "1 day").as("w"))
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, eventTypes)
      .select(unix_timestamp(col("w.start")).as("day_epoch") +:
        eventTypes.map(col): _*)
      .orderBy("day_epoch")

  val b22Sql: String =
    """SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
      |       COUNT(*) FILTER (WHERE event_type = 'click') AS "click",
      |       COUNT(*) FILTER (WHERE event_type = 'error') AS "error",
      |       COUNT(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
      |       COUNT(*) FILTER (WHERE event_type = 'signup') AS "signup",
      |       COUNT(*) FILTER (WHERE event_type = 'view') AS "view"
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // B23: unpivot (melt) — wide per-flag aggregates back to long
  // (metric, value) rows. Unpivot is a narrow Expand: no shuffle
  // beyond the aggregation that produced the wide row.
  // -------------------------------------------------------------------
  def b23Unpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        dsum(col("l_quantity")).as("qty"),
        dsum(col("l_extendedprice")).as("price"),
        dsum(col("l_discount")).as("disc"))
      .unpivot(Array(col("l_returnflag")), Array(col("qty"), col("price"), col("disc")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")

  val b23Sql: String =
    """WITH w AS (
      |  SELECT l_returnflag,
      |         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,6))), 2) AS DOUBLE) AS qty,
      |         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS price,
      |         CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(30,6))), 2) AS DOUBLE) AS disc
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, 'qty' AS metric, qty AS value FROM w
      |UNION ALL SELECT l_returnflag, 'price', price FROM w
      |UNION ALL SELECT l_returnflag, 'disc', disc FROM w
      |ORDER BY l_returnflag, metric""".stripMargin

  // -------------------------------------------------------------------
  // B24: salted skew join — lineitem joined to a per-returnflag dim on
  // a 3-value (maximally skewed) key. The salt spreads each hot key
  // over 16 shuffle partitions: big side gets salt = orderkey mod 16,
  // the dim is exploded ×16, and the join key becomes (flag, salt).
  // The result is provably identical to the unsalted join (the oracle
  // IS the unsalted join). A dim this small would normally broadcast —
  // the SHUFFLE_HASH hint forces the shuffle path so the salting is
  // actually exercised; the pattern is for skewed mid-size build sides
  // that exceed the broadcast threshold.
  // -------------------------------------------------------------------
  def b24SkewJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val salts = 16
    val dim = Seq(("A", 1.1), ("N", 2.2), ("R", 3.3)).toDF("flag", "weight")
      .withColumn("dsalt", explode(sequence(lit(0L), lit(salts - 1L))))
    Tables.lineitem(s, d)
      .withColumn("salt", pmod(col("l_orderkey"), lit(salts.toLong)))
      .join(dim.hint("SHUFFLE_HASH"),
        col("l_returnflag") === col("flag") && col("salt") === col("dsalt"))
      .groupBy("l_returnflag")
      .agg(
        dsum(col("l_quantity") * col("weight")).as("wsum"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  val b24Sql: String =
    """SELECT l_returnflag,
      |       CAST(ROUND(SUM(CAST(l_quantity * weight AS DECIMAL(30,6))), 2) AS DOUBLE) AS wsum,
      |       COUNT(*) AS n
      |FROM lineitem
      |JOIN (VALUES ('A', 1.1), ('N', 2.2), ('R', 3.3)) AS d(flag, weight)
      |  ON l_returnflag = flag
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // B25: window frames — 4-row moving average of event value per user,
  // then the per-user peak. The frame sum rides the DECIMAL(30,6)
  // accumulator because windowed double-sums are evaluation-order-
  // dependent across engines (DuckDB's segment tree vs Spark's running
  // accumulator); decimal addition is associative so both agree
  // bit-exactly. One shuffle on user_id for both the window and the
  // final aggregate.
  // -------------------------------------------------------------------
  def b25MovingAvg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    Tables.events(s, d)
      .withColumn("mavg",
        sum(col("value").cast(DecimalType(30, 6))).over(w).cast("double") /
          count(lit(1)).over(w))
      .groupBy("user_id")
      .agg(
        round(max(col("mavg")), 6).cast("double").as("peak_mavg"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  val b25Sql: String =
    """WITH m AS (
      |  SELECT user_id,
      |         CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) / COUNT(*) OVER w AS mavg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))
      |SELECT user_id, CAST(ROUND(MAX(mavg), 6) AS DOUBLE) AS peak_mavg,
      |       COUNT(*) AS n_events
      |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // B26: INTERSECT — nations present on both the customer and supplier
  // side (B8 covers EXCEPT). Spark plans a left-semi over distinct
  // inputs; both sides are key-only projections so the shuffle carries
  // one bigint column.
  // -------------------------------------------------------------------
  def b26Intersect(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
    val su = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))
    c.intersect(su)
      .join(broadcast(Tables.nation(s, d)), col("nationkey") === col("n_nationkey"))
      .select(col("nationkey"), col("n_name"))
      .orderBy("nationkey")
  }

  val b26Sql: String =
    """WITH both_sides AS (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  INTERSECT
      |  SELECT s_nationkey FROM supplier)
      |SELECT nationkey, n_name
      |FROM both_sides JOIN nation ON nationkey = n_nationkey
      |ORDER BY nationkey""".stripMargin

  // -------------------------------------------------------------------
  // B27: the remaining window-rank family — dense_rank, percent_rank,
  // ntile — top-3 customers per nation by account balance. percent_rank
  // is (rank-1)/(n-1): per-row double division, IEEE-exact on both
  // engines; ranks and ntile are integers; the order key is total
  // (acctbal desc, custkey) so every rank is deterministic. Same
  // single-shuffle shape as B5.
  // -------------------------------------------------------------------
  def b27RankFamily(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(s, d)
      .withColumn("drank", dense_rank().over(w).cast("long"))
      .withColumn("prank", round(percent_rank().over(w), 6))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .filter(col("drank") <= 3)
      .select(col("c_nationkey").cast("long").as("nationkey"), col("c_custkey"),
        col("drank"), col("prank"), col("quartile"))
      .orderBy("nationkey", "drank", "c_custkey")
  }

  val b27Sql: String =
    """SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_custkey,
      |       CAST(dense_rank() OVER w AS BIGINT) AS drank,
      |       ROUND(percent_rank() OVER w, 6) AS prank,
      |       CAST(ntile(4) OVER w AS BIGINT) AS quartile
      |FROM customer
      |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
      |QUALIFY dense_rank() OVER w <= 3
      |ORDER BY nationkey, drank, c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // B28: map functions — per-user event-type histogram built as a real
  // MapType column (collect_list → sort_array → map_from_entries, the
  // sort making the map's entry order deterministic), then read back
  // with element_at. The oracle sees only the scalar lookups, so the
  // comparison is on semantics, not map serialization. Two shuffles
  // ((user,type) then user) with partial aggregation on both.
  // -------------------------------------------------------------------
  def b28MapFuncs(s: SparkSession, d: String): DataFrame = {
    val perType = Tables.events(s, d)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
    perType
      .groupBy("user_id")
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("event_type"), col("c"))))).as("m"))
      .select(col("user_id"),
        coalesce(element_at(col("m"), "click"), lit(0L)).as("n_click"),
        coalesce(element_at(col("m"), "purchase"), lit(0L)).as("n_purchase"),
        size(col("m")).cast("long").as("n_types"))
      .orderBy("user_id")
  }

  val b28Sql: String =
    """SELECT user_id,
      |       COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
      |       COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
      |       COUNT(DISTINCT event_type) AS n_types
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // B29: ordered funnel over sessions — view → click (at or after the
  // first view) → purchase (at or after that click), counted per
  // session. Stage timestamps are stacked window-mins over the session
  // partition (each conditioned on the previous stage's time), so the
  // whole funnel is ONE scan of events and two shuffles (user_id for
  // sessionization, then the session key) — a first formulation that
  // joined per-stage aggregates back to the event stream planned 4
  // separate scans of the fact table, which is 4× the I/O at 100 TB.
  // Ties (same-timestamp stages) count, matching >= on both engines.
  // -------------------------------------------------------------------
  def b29Funnel(s: SparkSession, d: String): DataFrame = {
    val wS = Window.partitionBy("user_id", "sess_id")
    sessionized(s, d).select("user_id", "sess_id", "ts", "event_type")
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts"))).over(wS))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("ts") >= col("t_view"),
          col("ts"))).over(wS))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("ts") >= col("t_click"),
          col("ts"))).over(wS))
      .groupBy("user_id", "sess_id")
      .agg(max(col("t_view")).as("tv"), max(col("t_click")).as("tc"),
        max(col("t_purchase")).as("tp"))
      .agg(
        count(lit(1)).as("n_sessions"),
        count(col("tv")).as("n_view"),
        count(col("tc")).as("n_view_click"),
        count(col("tp")).as("n_full_funnel"))
  }

  val b29Sql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts, event_type,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts, event_type,
      |         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM g),
      |views AS (SELECT user_id, sess_id, MIN(ts) AS t_view FROM sess
      |          WHERE event_type = 'view' GROUP BY 1, 2),
      |clicks AS (SELECT s.user_id, s.sess_id, MIN(s.ts) AS t_click
      |           FROM sess s JOIN views v ON v.user_id = s.user_id AND v.sess_id = s.sess_id
      |           WHERE s.event_type = 'click' AND s.ts >= v.t_view GROUP BY 1, 2),
      |purchases AS (SELECT s.user_id, s.sess_id, MIN(s.ts) AS t_purchase
      |              FROM sess s JOIN clicks c ON c.user_id = s.user_id AND c.sess_id = s.sess_id
      |              WHERE s.event_type = 'purchase' AND s.ts >= c.t_click GROUP BY 1, 2)
      |SELECT (SELECT COUNT(*) FROM (SELECT DISTINCT user_id, sess_id FROM sess) q) AS n_sessions,
      |       (SELECT COUNT(*) FROM views) AS n_view,
      |       (SELECT COUNT(*) FROM clicks) AS n_view_click,
      |       (SELECT COUNT(*) FROM purchases) AS n_full_funnel""".stripMargin

  // -------------------------------------------------------------------
  // B30: date arithmetic — order age in whole days against a fixed
  // reference date, bucketed into 365-day years. Integer day diffs are
  // engine-exact (B11 covers truncation/windowing; this covers the
  // datediff/bucketing surface); one scan + one shuffle on the tiny
  // bucket key.
  // -------------------------------------------------------------------
  def b30DateArith(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("age_days",
        datediff(lit("1998-12-01").cast("date"), col("o_orderdate").cast("date")).cast("long"))
      .groupBy((col("age_days") / 365).cast("long").as("age_years"))
      .agg(
        count(lit(1)).as("n_orders"),
        min(col("age_days")).as("min_days"),
        max(col("age_days")).as("max_days"),
        dsum(col("o_totalprice")).as("revenue"))
      .orderBy("age_years")

  val b30Sql: String =
    """WITH aged AS (
      |  SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01') AS BIGINT) AS age_days,
      |         o_totalprice
      |  FROM orders)
      |SELECT CAST(age_days // 365 AS BIGINT) AS age_years,
      |       COUNT(*) AS n_orders,
      |       MIN(age_days) AS min_days,
      |       MAX(age_days) AS max_days,
      |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
      |FROM aged GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // B31: scalar string-function depth beyond B9's regex path — key
  // normalization with replace/upper/lower/lpad/substring, all
  // codegen-resident and engine-portable. lpad gives the size a
  // fixed-width key whose lexicographic MIN/MAX equals the numeric
  // one.
  // -------------------------------------------------------------------
  def b31StringFuncs(s: SparkSession, d: String): DataFrame =
    // min/max run on the NUMERIC p_size and are lpad-formatted after
    // the aggregate: a string-typed aggregation buffer is immutable in
    // UnsafeRow, so min/max over the padded string planned
    // SortAggregate at every level of the countDistinct rewrite — a
    // full sort of `part` by brand_key (guide §5: hash over sort agg).
    // Zero-padded fixed-width strings order exactly like the
    // non-negative integers beneath them (p_size ∈ [1,50] by the TPC-H
    // column contract), so lpad(min) ≡ min(lpad) row-for-row.
    Tables.part(s, d)
      .select(
        upper(regexp_replace(col("p_brand"), "#", "_")).as("brand_key"),
        col("p_size"),
        lower(substring(col("p_type"), 1, 6)).as("type_prefix"))
      .groupBy("brand_key")
      .agg(
        count(lit(1)).as("n_parts"),
        min(col("p_size")).as("min_size"),
        max(col("p_size")).as("max_size"),
        countDistinct(col("type_prefix")).as("n_type_prefixes"))
      .select(col("brand_key"), col("n_parts"),
        lpad(col("min_size").cast("string"), 3, "0").as("min_size_key"),
        lpad(col("max_size").cast("string"), 3, "0").as("max_size_key"),
        col("n_type_prefixes"))
      .orderBy("brand_key")

  val b31Sql: String =
    """SELECT UPPER(REPLACE(p_brand, '#', '_')) AS brand_key,
      |       COUNT(*) AS n_parts,
      |       MIN(LPAD(CAST(p_size AS VARCHAR), 3, '0')) AS min_size_key,
      |       MAX(LPAD(CAST(p_size AS VARCHAR), 3, '0')) AS max_size_key,
      |       COUNT(DISTINCT LOWER(SUBSTR(p_type, 1, 6))) AS n_type_prefixes
      |FROM part GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // B32: correlated scalar subqueries — orders beating 1.5× their own
  // customer's average order value. Expressed through the SQL front
  // door on purpose: Catalyst decorrelates both subqueries into
  // aggregate-then-join (RewriteCorrelatedScalarSubquery), which is
  // the scale-correct plan — per-customer aggregates + equi-joins
  // back to orders, no per-row re-execution. (Each scalar subquery
  // decorrelates to its own aggregate branch — the COUNT and SUM
  // branches are not merged — so the table is scanned three times;
  // the single-scan form is B4's explicit groupBy+join. This query
  // exists to pin the decorrelation semantics.) The threshold compares
  // price·count > 1.5·sum in exact DECIMAL so no engine ever divides:
  // boundary rows cannot flip on floating-point averaging order.
  // -------------------------------------------------------------------
  // One SQL template, two table bindings: the DuckDB oracle reads the
  // parquet-backed `orders`; the Spark side registers the same relation
  // under a graft-prefixed temp-view name so building the query never
  // clobbers (or reads) a generic `orders` view in the shared session
  // catalog.
  private def b32SqlFor(t: String): String =
    s"""SELECT o_orderpriority,
      |       COUNT(*) AS n_above,
      |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_price
      |FROM $t o
      |WHERE CAST(o_totalprice AS DECIMAL(30,6))
      |        * (SELECT COUNT(*) FROM $t o2 WHERE o2.o_custkey = o.o_custkey)
      |      > 1.5 * (SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(30,6)))
      |               FROM $t o2 WHERE o2.o_custkey = o.o_custkey)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val b32Sql: String = b32SqlFor("orders")

  def b32CorrSubquery(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_b32_orders")
    s.sql(b32SqlFor("graft_b32_orders"))
  }

  // -------------------------------------------------------------------
  // B33: lateral positional explode — posexplode carries each token's
  // ordinal through the pipeline (B10 covers value-only explode).
  // Narrow generate, then one shuffle on the 20-value source key; the
  // filter lands before the aggregate so only matching tokens shuffle.
  // Positions are 1-based on both engines (Spark's 0-based pos +1).
  // -------------------------------------------------------------------
  def b33Posexplode(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("pos0", "word")))
      .filter(col("word") === "spark")
      .select(col("doc_id"), col("source"), (col("pos0") + 1).cast("long").as("pos"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("pos")).as("min_pos"),
        round(sum(col("pos").cast(DecimalType(30, 6))) / count(lit(1)), 6)
          .cast("double").as("avg_pos"))
      .orderBy("source")

  val b33Sql: String =
    """WITH ws AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |pos AS (SELECT doc_id, source, CAST(i AS BIGINT) AS pos, w[i] AS word
      |        FROM ws, UNNEST(range(1, len(w) + 1)) AS t(i))
      |SELECT source,
      |       COUNT(*) AS n_occ,
      |       COUNT(DISTINCT doc_id) AS n_docs,
      |       MIN(pos) AS min_pos,
      |       CAST(ROUND(SUM(CAST(pos AS DECIMAL(30,6))) / COUNT(*), 6) AS DOUBLE) AS avg_pos
      |FROM pos WHERE word = 'spark'
      |GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // B34: RANGE window frame — trailing 1-hour per-user running
  // count/sum, framed by the ORDER-BY VALUE (microseconds), not row
  // position (B25 is the ROWS-frame path; the two frame types differ
  // whenever event spacing is irregular, i.e. always in real data).
  // One shuffle on user_id, frame bounds inclusive on both engines,
  // peers (equal timestamps) aggregate identically by definition of
  // RANGE. The decimal accumulator keeps the windowed double-sum
  // engine- and partitioning-exact.
  //
  // Computed as PREFIX SUMS, not a sliding frame (r18, guide §2.3/§5):
  // Spark has no inverse aggregate, so a sliding RANGE frame
  // re-accumulates its whole buffer every time the lower bound moves —
  // O(rows × frame size) per partition, and one hot key (a user whose
  // event density explodes) turns it quadratic. Both replacement
  // frames GROW monotonically ([unbounded, 0] and [unbounded,
  // −3600000000]): their processors only ever ADD rows, O(rows) per
  // partition regardless of density, and the per-row difference of the
  // two prefixes is exactly the frame aggregate. Same single exchange
  // + sort (plan-checked), so the rewrite costs nothing structurally.
  // Equality: frame = {tsus_i − 3599999999 ≤ tsus ≤ tsus_i}, and with
  // integer microseconds that lower bound is exactly "NOT ≤ tsus_i −
  // 3600000000", so count = ccnt − pcnt; the decimal prefix sums
  // subtract exactly (no FP drift); SUM-over-empty/all-null-frame
  // returns NULL, reproduced by the non-null-count guard. Oracle SQL
  // unchanged — DuckDB still evaluates the literal sliding frame, so
  // hash equality re-proves the rewrite every round.
  // -------------------------------------------------------------------
  def b34RangeFrame(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("tsus"),
      col("value").cast(DecimalType(30, 6)).as("dval"))
    val wCur = Window.partitionBy("user_id").orderBy(col("tsus"))
      .rangeBetween(Window.unboundedPreceding, 0L)
    val wPre = Window.partitionBy("user_id").orderBy(col("tsus"))
      .rangeBetween(Window.unboundedPreceding, -3600000000L)
    e.select(col("event_id"), col("user_id"), col("tsus"),
        (count(lit(1)).over(wCur) - count(lit(1)).over(wPre)).as("n_last_hour"),
        when(count(col("dval")).over(wCur) - count(col("dval")).over(wPre) > 0,
          round(sum(col("dval")).over(wCur) -
            coalesce(sum(col("dval")).over(wPre),
              lit(0).cast(DecimalType(38, 6))), 2).cast("double"))
          .as("sum_last_hour"))
      .orderBy("event_id")
  }

  val b34Sql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsus, value FROM events)
      |SELECT event_id, user_id, tsus,
      |       COUNT(*) OVER w AS n_last_hour,
      |       CAST(ROUND(SUM(CAST(value AS DECIMAL(30,6))) OVER w, 2) AS DOUBLE) AS sum_last_hour
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY tsus
      |             RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // B35: lag/lead navigation — per-customer inter-order gaps. The
  // remaining window-function family member (B25 covers ROWS frames,
  // B27 ranks, B34 RANGE frames): offset functions over a keyed
  // ordering. One shuffle on o_custkey; ties on order date are broken
  // by o_orderkey so the lag/lead pairing is total and deterministic
  // on both engines. Gaps stay in exact integer microseconds; the final
  // average is computed as an exact integer round-half-up at 3 decimals
  // — floor((2000*sum + n) / (2n)) — then divided by 1000.0 once, so
  // both engines convert the SAME integer to double. (A naive
  // ROUND(SUM(DECIMAL)/COUNT, 3) diverges: DuckDB demotes DECIMAL /
  // BIGINT to double division, and at 1e13 magnitude the quotient is
  // off by more than the 3-decimal rounding step before ROUND runs.)
  // -------------------------------------------------------------------
  def b35LagLead(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("odus"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
        // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC, so the cast is
        // the identity wall-clock mapping DuckDB's epoch_us applies.
        unix_micros(col("o_orderdate").cast("timestamp")).as("odus"))
      .select(col("o_orderpriority"),
        (col("odus") - lag(col("odus"), 1).over(w)).as("gap_us"),
        lead(col("odus"), 1).over(w).isNull.as("is_last"))
      .groupBy("o_orderpriority")
      .agg(
        count(col("gap_us")).as("n_gaps"),
        max(col("gap_us")).as("max_gap_us"),
        // decimal accumulator: the long sum overflows at ×30 scale
        // (micros gaps ~1e13 × millions of rows > Long.Max), where the
        // oracle's HUGEINT sum sails on — sum wide, narrow at the end
        sum(col("gap_us").cast(DecimalType(38, 0))).as("sum_gap_us"),
        sum(when(col("is_last"), 1L).otherwise(0L)).as("n_last"))
      .select(col("o_orderpriority"), col("n_gaps"), col("max_gap_us"),
        (expr("(sum_gap_us * 2000 + n_gaps) div (2 * n_gaps)")
          / lit(1000.0)).as("avg_gap_us"),
        col("n_last"))
      .orderBy("o_orderpriority")
  }

  val b35Sql: String =
    """WITH o AS (SELECT o_custkey, o_orderkey, o_orderpriority,
      |                  epoch_us(o_orderdate) AS odus FROM orders),
      |g AS (SELECT o_orderpriority,
      |             odus - LAG(odus) OVER w AS gap_us,
      |             (LEAD(odus) OVER w IS NULL) AS is_last
      |      FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY odus, o_orderkey))
      |SELECT o_orderpriority,
      |       COUNT(gap_us) AS n_gaps,
      |       MAX(gap_us) AS max_gap_us,
      |       CAST((2000 * CAST(SUM(gap_us) AS HUGEINT) + COUNT(gap_us))
      |            // (2 * COUNT(gap_us)) AS BIGINT) / 1000.0 AS avg_gap_us,
      |       CAST(SUM(CASE WHEN is_last THEN 1 ELSE 0 END) AS BIGINT) AS n_last
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // B36: string aggregation (listagg) — per-nation roster of distinct
  // market segments, sorted inside the aggregate so the concatenation
  // order is deterministic under any partitioning (collect_set order is
  // not; array_sort makes it canonical — the same reason DuckDB's side
  // needs string_agg(DISTINCT ... ORDER BY ...)). Broadcast the 25-row
  // nation dim; one shuffle on the nation key. The 5-value segment
  // domain keeps the aggregated strings tiny; at 100 TB the pattern
  // holds for any bounded-cardinality roster (listagg over an unbounded
  // value set is an anti-pattern at any scale — that's what collect-to-
  // array sinks are for).
  // -------------------------------------------------------------------
  def b36StringAgg(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("n_customers"),
        array_join(array_sort(collect_set(col("c_mktsegment"))), "|").as("segments"))
      .orderBy("n_name")

  val b36Sql: String =
    """SELECT n_name,
      |       COUNT(*) AS n_customers,
      |       string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment) AS segments
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // B37: approximate percentiles with an in-query error gate — the
  // sketch companion to B18's exact percentiles, the same
  // pattern as B16's HLL gate: Spark computes BOTH the exact
  // percentile and the GK-sketch percentile_approx (rank error ≤
  // n/1000) and emits a boolean asserting the sketch landed within
  // 5% of the exact value; the oracle reproduces the exact side and
  // the gate must read TRUE on both engines. At 100 TB the sketch is
  // the only viable path (constant memory, one pass, mergeable
  // partials) — this query keeps it honest against the exact answer
  // while the data is small enough to afford one.
  //
  // Sketch sizing (×1000 probe finding): percentile_approx's per-row
  // cost is dominated by the GK compress pass, whose summary width —
  // and with it the compress cost amortized over every insert — scales
  // with the accuracy parameter times log n. At 600M rows the old
  // shape (TWO scalar sketches at accuracy 10000) measured 920 s
  // against a 6 s scan; ONE array-quantile sketch (both fractions
  // share a single summary) at accuracy 1000 measures 103 s for the
  // same answer, and the in-query 5% VALUE gate still holds with 50×
  // headroom (rank error n/1000 ⇒ value error ≪ 5% on any
  // non-degenerate distribution, asserted by the gate itself on both
  // engines at every SF).
  // -------------------------------------------------------------------
  def b37ApproxQuantile(s: SparkSession, d: String): DataFrame = {
    // exact side via the bounded-memory histogram bracketing (B18's
    // operator — the built-in `percentile` buffers a third of the
    // corpus per final task here); the GK sketch side stays the
    // constant-memory one-pass aggregate it is
    val lq = graft.operators.ExactQuantile.groupQuantiles(
      Tables.lineitem(s, d), "l_returnflag", "l_extendedprice",
      Seq(0.5, 0.95))
    def p(q: Double): Column = max(when(col("q") === q, col("qv")))
    val exact = lq.groupBy(col("g").as("l_returnflag"))
      .agg(max(col("n")).as("n"), p(0.5).as("p50e"), p(0.95).as("p95e"))
    val approx = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(expr("percentile_approx(l_extendedprice, array(0.5, 0.95), 1000)").as("pa"))
      .select(col("l_returnflag"),
        col("pa").getItem(0).as("p50a"), col("pa").getItem(1).as("p95a"))
    exact.join(broadcast(approx), "l_returnflag")
      .select(
        col("l_returnflag"), col("n"),
        round(col("p50e"), 6).as("p50_exact"),
        round(col("p95e"), 6).as("p95_exact"),
        (abs(col("p50a") - col("p50e")) <= col("p50e") * 0.05 &&
          abs(col("p95a") - col("p95e")) <= col("p95e") * 0.05)
          .as("within_bound"))
      .orderBy("l_returnflag")
  }

  val b37Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |       CAST(ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS DOUBLE) AS p50_exact,
      |       CAST(ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS DOUBLE) AS p95_exact,
      |       TRUE AS within_bound
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // B38: null-safe equality join — `<=>` (IS NOT DISTINCT FROM), the
  // null-handling semantics class: a NULL join key matches the dim's
  // NULL row under null-safe equality where plain `=` silently drops
  // it. The corpus has no natural NULLs, so the bucket derivation
  // plants one deterministically (k ≡ 0 mod 7 → NULL); n_eq_matched
  // counts what a plain equality join would have kept, making the
  // difference auditable per label. Catalyst plans `<=>` as an
  // EqualNullSafe hash-join key (broadcast here), NOT a nested loop —
  // null-safe joins shuffle/broadcast exactly like equi-joins at scale.
  // -------------------------------------------------------------------
  def b38NullSafeJoin(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .withColumn("bucket",
        when(col("k") % 7 === 0, lit(null).cast("long")).otherwise(col("k") % 7))
    val dim = s.range(0, 7).select(
      when(col("id") === 0, lit(null).cast("long")).otherwise(col("id")).as("bucket"),
      concat(lit("b"), col("id")).as("label"))
    e.join(broadcast(dim), e("bucket") <=> dim("bucket"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        sum(when(e("bucket").isNotNull, 1L).otherwise(0L)).as("n_eq_matched"),
        sum(col("k")).as("sum_k"))
      .orderBy("label")
  }

  val b38Sql: String =
    """WITH e AS (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events),
      |eb AS (SELECT k, CASE WHEN k % 7 = 0 THEN NULL ELSE k % 7 END AS bucket FROM e),
      |dim AS (SELECT CASE WHEN i = 0 THEN NULL ELSE i END AS bucket,
      |               'b' || CAST(i AS VARCHAR) AS label
      |        FROM UNNEST(range(0, 7)) t(i)),
      |j AS (SELECT eb.k, eb.bucket, d.label
      |      FROM eb JOIN dim d ON eb.bucket IS NOT DISTINCT FROM d.bucket)
      |SELECT label, COUNT(*) AS n,
      |       CAST(SUM(CASE WHEN bucket IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_eq_matched,
      |       CAST(SUM(k) AS BIGINT) AS sum_k
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // B39: argmax/argmin aggregates — the CDC "latest version wins"
  // pattern: one aggregation replaces the window-rank + filter idiom
  // for latest-record dedup, with map-side partial aggregation the
  // window form cannot do. The ordering key is event_id (unique,
  // monotone = arrival order), so every argmax is deterministic —
  // ordering by a tieable column (ts, value) is the classic
  // nondeterminism bug this query's shape avoids by construction. One
  // shuffle on user_id, partial agg on both sides.
  //
  // The STRING-valued argmin/argmax run as typed Aggregators
  // (graft.functions.ArgMinStrAgg/ArgMaxStrAgg) instead of the
  // built-in min_by/max_by: a string agg BUFFER is immutable in
  // UnsafeRow, so the built-in form planned the board's last
  // SortAggregate — a per-partition sort of the full events corpus to
  // pick two strings per user (guide §5: hash over sort aggregation).
  // The typed form rides ObjectHashAggregate (object-row buffers hold
  // strings, map-side partials preserved); `min_by`'s exact semantics
  // are reproduced for b39's unique non-null ordering key (see the
  // Aggregator scaladocs), and the oracle re-proves row-equality every
  // round. max_by(value, event_id) has a mutable (double, long) buffer
  // and stays declarative.
  // -------------------------------------------------------------------
  def b39Argmax(s: SparkSession, d: String): DataFrame = {
    val firstType = udaf(graft.functions.ArgMinStrAgg)
    val lastType = udaf(graft.functions.ArgMaxStrAgg)
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(
        firstType(col("event_id"), col("event_type")).as("first_type"),
        lastType(col("event_id"), col("event_type")).as("last_type"),
        max_by(col("value"), col("event_id")).as("last_value"),
        max(col("event_id")).as("last_event_id"),
        count(lit(1)).as("n_events"))
      .filter(col("user_id") < 20)
      .orderBy("user_id")
  }

  val b39Sql: String =
    """SELECT user_id,
      |       arg_min(event_type, event_id) AS first_type,
      |       arg_max(event_type, event_id) AS last_type,
      |       arg_max(value, event_id) AS last_value,
      |       MAX(event_id) AS last_event_id,
      |       COUNT(*) AS n_events
      |FROM events GROUP BY user_id
      |HAVING user_id < 20 ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // B40: cumulative distinct accounting — "unique users to date" per
  // event type, the incremental-distinct pattern behind every DAU/
  // retention dashboard. COUNT(DISTINCT) over a cumulative window is
  // unsupported (and would be quadratic anyway); the scalable rewrite
  // is first-touch attribution (min day per user — one shuffle, then
  // the corpus is REDUCED to |users| rows), a per-day new-user count,
  // and a running sum over the tiny (type, day) relation. The window
  // partitions by event_type, so there is no global-sort wall and no
  // unpartitioned-window warning. All integers.
  // -------------------------------------------------------------------
  def b40CumDistinct(s: SparkSession, d: String): DataFrame = {
    val firstTouch = Tables.events(s, d)
      // to_date is session-timezone-dependent; like b30's date casts,
      // this builder requires the repo-wide UTC session pin to match
      // the naive-timestamp oracle (day buckets inherently need a zone)
      .select(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "user_id")
      .agg(min(col("day")).as("first_day"))
    val daily = firstTouch.groupBy(col("event_type"), col("first_day").as("day"))
      .agg(count(lit(1)).as("n_new_users"))
    daily.withColumn("cum_users",
        sum(col("n_new_users")).over(Window.partitionBy("event_type")
          .orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("event_type", "day", "n_new_users", "cum_users")
      .orderBy("event_type", "day")
  }

  val b40Sql: String =
    """WITH ft AS (SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS first_day
      |            FROM events GROUP BY 1, 2),
      |daily AS (SELECT event_type, first_day AS day, COUNT(*) AS n_new_users
      |          FROM ft GROUP BY 1, 2)
      |SELECT event_type, day, n_new_users,
      |       CAST(SUM(n_new_users) OVER (PARTITION BY event_type ORDER BY day
      |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
      |FROM daily ORDER BY event_type, day""".stripMargin

  // -------------------------------------------------------------------
  // B41: calendar-spine gap filling — the dense time series every
  // dashboard and forecasting job needs from sparse event data: an
  // hourly spine generated from the observed [min, max] range
  // (sequence() — no table has the missing hours, so they must be
  // GENERATED), left-joined to the hourly rollup, gaps filled with
  // zero. The spine is |hours| rows — trivially broadcast — and the
  // rollup is B11's single shuffle, so the dense-ification costs
  // nothing extra at any scale. Gap accounting (is_gap) rides along so
  // the query also audits sensor/ingest outages. All integers.
  // -------------------------------------------------------------------
  def b41GapFill(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // hour buckets via window(), not date_trunc: window boundaries are
    // epoch-aligned and session-timezone-independent (the B11 rule), so
    // the oracle match holds in ANY session zone; sequence() then just
    // adds whole hours to epoch instants, equally zone-free
    val hourly = ev.groupBy(window(col("ts"), "1 hour").getField("start").as("hour"))
      .agg(count(lit(1)).as("n"))
    val range = hourly.agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
    val spine = range.select(explode(expr(
      "sequence(lo, hi, interval 1 hour)")).as("hour"))
    spine.join(hourly, Seq("hour"), "left")
      .select(
        unix_timestamp(col("hour")).as("hour_epoch"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        col("n").isNull.cast("int").cast("long").as("is_gap"))
      .orderBy("hour_epoch")
  }

  val b41Sql: String =
    """WITH h AS (SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n
      |           FROM events GROUP BY 1),
      |r AS (SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
      |      FROM events),
      |spine AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM r)
      |SELECT CAST(epoch(spine.hour) AS BIGINT) AS hour_epoch,
      |       COALESCE(h.n, 0) AS n_events,
      |       CAST(CASE WHEN h.n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
      |FROM spine LEFT JOIN h ON h.hour = spine.hour
      |ORDER BY hour_epoch""".stripMargin

  // -------------------------------------------------------------------
  // B42: percent-of-total (ratio_to_report) — each nation's share of
  // its region's order revenue. The share denominator is a window sum
  // over the ALREADY-AGGREGATED 25-row nation relation, so the window
  // is free at any scale; the only real work is the one revenue
  // aggregation (broadcast dims, single shuffle on nationkey). Revenue
  // sums go through the exact DECIMAL accumulator; the share is one
  // per-row double division rounded to 6 — deterministic everywhere.
  // -------------------------------------------------------------------
  def b42ShareOfTotal(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_regionkey").cast("long").as("regionkey"),
        col("n_nationkey").cast("long").as("nationkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(30, 6))).as("rev"))
    rev
      .withColumn("region_rev", sum(col("rev")).over(
        Window.partitionBy("regionkey")))
      .select(col("regionkey"), col("nationkey"),
        round(col("rev"), 2).cast("double").as("revenue"),
        // divide as doubles: decimal÷decimal result scale rules differ
        // across engines, double division is IEEE-identical
        round(col("rev").cast("double") / col("region_rev").cast("double"), 6).as("share"))
      .orderBy("regionkey", "nationkey")
  }

  val b42Sql: String =
    """WITH rev AS (
      |  SELECT CAST(n.n_regionkey AS BIGINT) AS regionkey,
      |         CAST(n.n_nationkey AS BIGINT) AS nationkey,
      |         SUM(CAST(o.o_totalprice AS DECIMAL(30,6))) AS rev
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1, 2)
      |SELECT regionkey, nationkey,
      |       CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
      |       ROUND(CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER (PARTITION BY regionkey) AS DOUBLE), 6) AS share
      |FROM rev ORDER BY regionkey, nationkey""".stripMargin

  // -------------------------------------------------------------------
  // B48: recursive query (WITH RECURSIVE class) — ancestry depth over a
  // derived functional graph, the one relational class Spark has no
  // native operator for. The graph: distinct users are compacted to
  // contiguous ranks 0..n-1 (so the node set is closed under parents),
  // and rank r>0 gets parent hash48("rk:"||r) % r — deterministic,
  // strictly decreasing, hence an acyclic forest rooted at rank 0 with
  // expected depth ~ln n. The engine answers "how many steps from each
  // user to the root" the way a distributed engine must: POINTER
  // DOUBLING (each round composes the jump table with itself, so a
  // depth-d chain resolves in ceil(log2 d) self-join rounds, not d) —
  // the same O(log) trick as d7's label propagation, here in its
  // path-length-preserving form. Scale shape: every round is one
  // co-partitioned self-join + localCheckpoint on an n-row relation;
  // convergence is a counted filter, rounds capped with a loud throw.
  // Rank compaction is the scalable global-index idiom (range
  // repartition + in-partition sort + zipWithIndex), never a
  // single-partition window. Oracle: DuckDB WITH RECURSIVE walking the
  // identical parent function.
  // -------------------------------------------------------------------
  /** Distinct users with a contiguous 0-based rank in user_id order.
    * zipWithIndex stamps per-partition offsets with one extra count
    * job over the globally range-sorted relation — O(n/p) memory per
    * partition, no driver-side data, no 1-partition window funnel. */
  private def rankedUsers(s: SparkSession, d: String): DataFrame = {
    val sorted = Tables.events(s, d).select(col("user_id")).distinct()
      .repartitionByRange(col("user_id"))
      .sortWithinPartitions("user_id")
    val ranked = sorted.select(col("user_id")).rdd
      .map(_.getLong(0)).zipWithIndex()
    s.createDataFrame(ranked).toDF("user_id", "r")
  }

  def b48TransitiveClosure(s: SparkSession, d: String): DataFrame = {
    val ranked = rankedUsers(s, d).localCheckpoint()
    // jump state: ancestor `ptr` is `d` steps above `v`; terminal rows
    // have reached the root (ptr == 0 carries the final depth in d)
    val parent = Dedup.hash48(concat(lit("rk:"), col("r").cast("string"))) % col("r")
    var jump = ranked.select(
      col("r").as("v"),
      when(col("r") === 0, lit(0L)).otherwise(parent).as("ptr"),
      when(col("r") === 0, lit(0L)).otherwise(lit(1L)).as("d"))
      .localCheckpoint()
    // ceil(log2 depth) rounds; 40 covers chains of ~2^40 — any more is
    // a broken parent function, so throw instead of shipping wrong
    // depths (same guard shape as Dedup.connectedComponents)
    val maxRounds = 40
    var iter = 0
    var pending = jump.filter(col("ptr") =!= 0).count()
    while (pending > 0 && iter < maxRounds) {
      val nonTerminal = jump.filter(col("ptr") =!= 0)
      val terminal = jump.filter(col("ptr") === 0)
      // compose the jump table with itself: both sides are n-row
      // checkpointed relations without stats — SMJ-pinned so no round
      // builds a corpus-sized broadcast
      val hopped = nonTerminal.as("a")
        .join(jump.as("b").hint("merge"), col("a.ptr") === col("b.v"))
        .select(col("a.v").as("v"), col("b.ptr").as("ptr"),
          (col("a.d") + col("b.d")).as("d"))
      val next = terminal.unionByName(hopped).localCheckpoint()
      pending = next.filter(col("ptr") =!= 0).count()
      jump = next
      iter += 1
    }
    if (pending > 0)
      throw new IllegalStateException(
        s"pointer doubling did not converge within $maxRounds rounds")
    jump.join(ranked.hint("merge"), jump("v") === ranked("r"))
      .select(col("d").as("depth"), col("user_id"))
      .groupBy("depth")
      .agg(count(lit(1)).as("n_users"),
        min(col("user_id")).as("min_user"),
        max(col("user_id")).as("max_user"))
      .orderBy("depth")
  }

  val b48Sql: String = {
    val h = Dedup.duckHash48("'rk:' || CAST(cur AS VARCHAR)")
    s"""WITH RECURSIVE nodes AS (
       |  SELECT DISTINCT user_id FROM events
       |), ranked AS (
       |  SELECT user_id, CAST(row_number() OVER (ORDER BY user_id) - 1 AS BIGINT) AS r
       |  FROM nodes
       |), walk AS (
       |  SELECT r AS v, r AS cur, CAST(0 AS BIGINT) AS depth FROM ranked
       |  UNION ALL
       |  SELECT v, $h % cur AS cur, depth + 1 AS depth
       |  FROM walk WHERE cur >= 1
       |)
       |SELECT w.depth, count(*) AS n_users,
       |       min(rk.user_id) AS min_user, max(rk.user_id) AS max_user
       |FROM walk w JOIN ranked rk ON w.v = rk.r
       |WHERE w.cur = 0
       |GROUP BY w.depth ORDER BY w.depth""".stripMargin
  }

  // -------------------------------------------------------------------
  // B52: SCD type-2 merge (CDC upsert) — apply a change batch to a
  // dimension snapshot, closing superseded versions and opening new
  // ones with validity intervals: the MERGE INTO shape expressed
  // Spark-first as ONE left join + a two-branch projection (no table
  // format required). The derived change batch is deterministic
  // (custkey % 10 == 0 gets a renamed segment at a fixed effective
  // time). Scale shape: the dimension outer-joins the delta on the
  // merge key — one shuffle each side when the delta is corpus-scaled
  // (here AQE broadcasts it at runtime and reuses the broadcast stage
  // across both branches; nothing assumes it fits). The closed-version
  // branch re-filters the same join; with plain file scans that is a
  // second pushdown-pruned scan of ONE table — scan-bound and cheap —
  // and a pipeline whose merge input is an expensive derivation would
  // persist the joined relation once (the d2 shared-relation pattern).
  // Versions-per-key is data, not state — the 100 TB story is
  // "join + union", never a per-key loop. Output ordered
  // (custkey, version).
  // -------------------------------------------------------------------
  def b52Scd2Merge(s: SparkSession, d: String): DataFrame = {
    val T = 883612800000000L // 1998-01-01 00:00:00 UTC in micros
    val base = Tables.customer(s, d)
      .select(col("c_custkey").as("custkey"), col("c_mktsegment").as("segment"))
    val updates = base.filter(col("custkey") % 10 === 0)
      .select(col("custkey"), concat(lit("NEW_"), col("segment")).as("new_segment"))
    val j = base.join(updates, Seq("custkey"), "left")
    val open = j.select(
      col("custkey"),
      coalesce(col("new_segment"), col("segment")).as("segment"),
      when(col("new_segment").isNotNull, 2L).otherwise(1L).as("version"),
      when(col("new_segment").isNotNull, lit(T)).otherwise(lit(0L)).as("valid_from_us"),
      lit(null).cast("long").as("valid_to_us"))
    val closed = j.filter(col("new_segment").isNotNull).select(
      col("custkey"), col("segment"), lit(1L).as("version"),
      lit(0L).as("valid_from_us"), lit(T).cast("long").as("valid_to_us"))
    open.unionByName(closed).orderBy("custkey", "version")
  }

  val b52Sql: String =
    """WITH base AS (SELECT c_custkey AS custkey, c_mktsegment AS segment FROM customer),
      |upd AS (SELECT custkey, 'NEW_' || segment AS new_segment FROM base WHERE custkey % 10 = 0),
      |j AS (SELECT b.custkey, b.segment, u.new_segment
      |      FROM base b LEFT JOIN upd u ON b.custkey = u.custkey)
      |SELECT custkey,
      |       COALESCE(new_segment, segment) AS segment,
      |       CAST(CASE WHEN new_segment IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS version,
      |       CAST(CASE WHEN new_segment IS NOT NULL THEN 883612800000000 ELSE 0 END AS BIGINT) AS valid_from_us,
      |       CAST(NULL AS BIGINT) AS valid_to_us
      |FROM j
      |UNION ALL
      |SELECT custkey, segment, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
      |       CAST(883612800000000 AS BIGINT)
      |FROM j WHERE new_segment IS NOT NULL
      |ORDER BY custkey, version""".stripMargin

  // -------------------------------------------------------------------
  // B50: lateral join (correlated table subquery) — top-3 most active
  // users per event type through the SQL front door's LATERAL clause
  // (b32 covers correlated SCALAR subqueries; this is the table-valued
  // form with GROUP BY + ORDER BY + LIMIT inside the lateral body).
  // Catalyst decorrelates it into the scalable shape — plan-checked:
  // partial/final WindowGroupLimit per event_type (rank never
  // materializes beyond k per group per partition) broadcast-joined
  // back to the distinct-keys relation; one shuffle on (event_type,
  // user_id), no per-outer-row re-execution. DuckDB runs the IDENTICAL
  // text (its lateral is also decorrelating), so the oracle doubles as
  // a cross-engine LATERAL-semantics check. Count n stays BIGINT on
  // both engines; ordering is total via (n DESC, user_id).
  // -------------------------------------------------------------------
  private def b50SqlFor(tbl: String): String =
    s"""SELECT t.event_type, l.user_id, l.n
       |FROM (SELECT DISTINCT event_type FROM $tbl) t,
       |LATERAL (SELECT user_id, count(*) AS n FROM $tbl e
       |         WHERE e.event_type = t.event_type
       |         GROUP BY user_id ORDER BY n DESC, user_id LIMIT 3) l
       |ORDER BY t.event_type, l.n DESC, l.user_id""".stripMargin

  def b50LateralTopk(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).createOrReplaceTempView("graft_b50_events")
    s.sql(b50SqlFor("graft_b50_events"))
  }

  val b50Sql: String = b50SqlFor("events")

  /** `left` as-of joined to `right` through the `graft_asof` hint
    * (parameters as in graft.plans.AsOfJoin: left keys, left time,
    * right keys, right time, then optional flags). Refuses a session
    * without GraftExtensions: an unrewritten hint would silently plan
    * the underlying CROSS join. */
  private def asofJoin(left: DataFrame, right: DataFrame, params: String*): DataFrame = {
    val j = left.crossJoin(right).hint("graft_asof", params: _*)
    if (!j.queryExecution.analyzed.exists(_.isInstanceOf[graft.plans.AsOfJoinPlan]))
      throw new IllegalStateException(
        "graft_asof hint was not rewritten to AsOfJoinPlan — build the " +
          "session with spark.sql.extensions=graft.plans.GraftExtensions " +
          "(refusing to run the fallback cartesian join)")
    j
  }

  // -------------------------------------------------------------------
  // B49: native as-of join — the same error→latest-click matching as
  // b15, through the whole-operator extension point instead of the
  // window composition: graft.plans.AsOfJoinPlan / AsOfJoinExec via the
  // public `crossJoin(...).hint("graft_asof", ...)` surface (see
  // AsOfJoin.scala for the operator's 100 TB argument vs the window
  // form). The right side is pre-collapsed to one row per (user_id, ts)
  // — max event_id — so the backward match is deterministic in both
  // engines. Oracle: DuckDB's native ASOF JOIN, which implements
  // exactly this semantic. Like every as-of query here, it goes through
  // asofJoin, which refuses a session without GraftExtensions.
  // -------------------------------------------------------------------
  def b49AsofNative(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // repartition on the JOIN key first: hash(user_id) satisfies the
    // (user_id, ts) grouping's clustering AND the as-of join's
    // distribution, so the dedup aggregate and the join share ONE
    // exchange instead of shuffling on (user_id, ts) and again on
    // user_id — one less corpus-wide shuffle of the right side
    val clicks = ev.filter(col("event_type") === "click")
      .repartition(col("user_id"))
      .groupBy(col("user_id").as("c_user_id"), col("ts").as("c_ts"))
      .agg(max(col("event_id")).as("click_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    asofJoin(errors, clicks, "user_id", "ts", "c_user_id", "c_ts")
      .select(col("event_id"), col("user_id"), col("click_id"),
        (unix_micros(col("ts")) - unix_micros(col("c_ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  val b49Sql: String =
    """WITH clicks AS (
      |  SELECT user_id AS c_user_id, ts AS c_ts, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |), errors AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
      |)
      |SELECT e.event_id, e.user_id, c.click_id,
      |       CAST(epoch_us(e.ts) - epoch_us(c.c_ts) AS BIGINT) AS gap_us
      |FROM errors e ASOF JOIN clicks c
      |  ON e.user_id = c.c_user_id AND e.ts >= c.c_ts
      |ORDER BY e.event_id""".stripMargin

  // -------------------------------------------------------------------
  // B55: LEFT OUTER native as-of join — b49's matching with unmatched
  // errors RETAINED (click_id/gap_us null): the shape real as-of
  // consumers want ("latest price at trade time, null if no prior
  // price"). Same AsOfJoinExec operator, outer flag via the hint's 5th
  // parameter; the merge emits a null-filled right side instead of
  // dropping the left row, so the cost profile is identical to inner
  // (one co-partitioned sort-merge pass, O(1) extra state). Oracle:
  // DuckDB ASOF LEFT JOIN. The COALESCE(-1) on click_id keeps the
  // matched/unmatched distinction inside the hashed values while
  // keeping the column type stable across both engines.
  // -------------------------------------------------------------------
  def b55AsofOuter(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .repartition(col("user_id"))
      .groupBy(col("user_id").as("c_user_id"), col("ts").as("c_ts"))
      .agg(max(col("event_id")).as("click_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    asofJoin(errors, clicks, "user_id", "ts", "c_user_id", "c_ts", "left_outer")
      .select(col("event_id"), col("user_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        (unix_micros(col("ts")) - unix_micros(col("c_ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  val b55Sql: String =
    """WITH clicks AS (
      |  SELECT user_id AS c_user_id, ts AS c_ts, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |), errors AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
      |)
      |SELECT e.event_id, e.user_id,
      |       COALESCE(c.click_id, -1) AS click_id,
      |       CAST(epoch_us(e.ts) - epoch_us(c.c_ts) AS BIGINT) AS gap_us
      |FROM errors e ASOF LEFT JOIN clicks c
      |  ON e.user_id = c.c_user_id AND e.ts >= c.c_ts
      |ORDER BY e.event_id""".stripMargin

  // -------------------------------------------------------------------
  // B56: SQL front door for EXISTS / NOT IN decorrelation — b14 covers
  // semi/anti through the DataFrame API ops; this pins Catalyst's
  // RewritePredicateSubquery on raw SQL text, including the classic
  // correctness trap: NOT IN is NOT an anti join — it is a null-aware
  // anti join (if the subquery ever yields NULL the whole predicate is
  // UNKNOWN and every row drops). Spark plans it as a broadcast hash
  // join with NullAwareAntiJoin build semantics; the EXISTS becomes a
  // plain left-semi hash join. IDENTICAL text runs on DuckDB (its
  // unnesting pipeline makes the same rewrite), so the oracle doubles
  // as a cross-engine three-valued-logic check. PlanShapeSpec asserts
  // hash semi/anti joins, no nested loop. Scale: customer shuffles
  // once against broadcast orders-keys; nation is a broadcast dim.
  // -------------------------------------------------------------------
  private def b56SqlFor(cust: String, ord: String, nat: String): String =
    s"""SELECT c.c_custkey, c.c_name, c.c_acctbal
       |FROM $cust c
       |WHERE EXISTS (SELECT 1 FROM $ord o
       |              WHERE o.o_custkey = c.c_custkey
       |                AND o.o_totalprice > 150000)
       |  AND c.c_nationkey NOT IN (SELECT n.n_nationkey FROM $nat n
       |                            WHERE n.n_name LIKE '%2')
       |ORDER BY c.c_custkey""".stripMargin

  def b56ExistsNotIn(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("graft_b56_customer")
    Tables.orders(s, d).createOrReplaceTempView("graft_b56_orders")
    Tables.nation(s, d).createOrReplaceTempView("graft_b56_nation")
    s.sql(b56SqlFor("graft_b56_customer", "graft_b56_orders", "graft_b56_nation"))
  }

  val b56Sql: String = b56SqlFor("customer", "orders", "nation")

  // -------------------------------------------------------------------
  // B58: FORWARD native as-of join — for every error, the NEXT click of
  // the same user at-or-after the error (the "what did the user do
  // about it" attribution shape, where b49/b55 answer "what led to
  // it"). Same AsOfJoinExec, direction flag 'forward': both sides
  // ascend, so the match is the first un-consumed right row — zero
  // buffered state, strictly cheaper than backward. Oracle: DuckDB
  // ASOF JOIN with the inequality flipped (e.ts <= c.c_ts selects the
  // smallest c_ts at-or-after each error). Inner: errors after the
  // user's last click drop.
  // -------------------------------------------------------------------
  def b58AsofForward(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .repartition(col("user_id"))
      .groupBy(col("user_id").as("c_user_id"), col("ts").as("c_ts"))
      .agg(max(col("event_id")).as("click_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    asofJoin(errors, clicks, "user_id", "ts", "c_user_id", "c_ts", "forward")
      .select(col("event_id"), col("user_id"), col("click_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  val b58Sql: String =
    """WITH clicks AS (
      |  SELECT user_id AS c_user_id, ts AS c_ts, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |), errors AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
      |)
      |SELECT e.event_id, e.user_id, c.click_id,
      |       CAST(epoch_us(c.c_ts) - epoch_us(e.ts) AS BIGINT) AS gap_us
      |FROM errors e ASOF JOIN clicks c
      |  ON e.user_id = c.c_user_id AND e.ts <= c.c_ts
      |ORDER BY e.event_id""".stripMargin

  // -------------------------------------------------------------------
  // B59: native as-of join with a TOLERANCE bound — b49's backward
  // matching restricted to "only within the last 12 hours" (pandas
  // merge_asof(tolerance=...) / kdb wj window semantics), via the
  // hint's 'tol_us=N' flag. For the INNER direction the semantics ARE
  // post-filterable (the nearest prior match either is or isn't within
  // the window), which is what makes this query DuckDB-expressible:
  // the oracle is b49's ASOF JOIN wrapped in WHERE gap_us <= tol. The
  // OUTER composition is NOT post-filterable (an out-of-tolerance
  // nearest match must become a null-fill, not drop the row) — that
  // surface is gated by AsOfJoinSpec's reference-walk cases instead.
  // Cost profile identical to b49: same co-partitioned sort-merge, the
  // tolerance is one long comparison per candidate.
  // -------------------------------------------------------------------
  private val B59TolUs = 43_200_000_000L // 12 hours

  def b59AsofTolerance(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .repartition(col("user_id"))
      .groupBy(col("user_id").as("c_user_id"), col("ts").as("c_ts"))
      .agg(max(col("event_id")).as("click_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    asofJoin(errors, clicks, "user_id", "ts", "c_user_id", "c_ts", s"tol_us=$B59TolUs")
      .select(col("event_id"), col("user_id"), col("click_id"),
        (unix_micros(col("ts")) - unix_micros(col("c_ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  val b59Sql: String =
    s"""WITH clicks AS (
      |  SELECT user_id AS c_user_id, ts AS c_ts, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |), errors AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
      |), m AS (
      |  SELECT e.event_id, e.user_id, c.click_id,
      |         CAST(epoch_us(e.ts) - epoch_us(c.c_ts) AS BIGINT) AS gap_us
      |  FROM errors e ASOF JOIN clicks c
      |    ON e.user_id = c.c_user_id AND e.ts >= c.c_ts
      |)
      |SELECT event_id, user_id, click_id, gap_us FROM m
      |WHERE gap_us <= $B59TolUs
      |ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // B60: BROADCAST as-of join — the "petabyte fact × megabyte dim"
  // shape the broadcast physical variant exists for: every event is
  // stamped with the policy row in force at its event time, where the
  // policy table is the per-(event_type, hour) change log — a few
  // hundred rows at any SF. The explicit broadcast(dim) hint forces
  // BroadcastAsOfJoinExec (an aggregated dim's stats estimate inherits
  // the pre-aggregation scan size, so the stats path can't see how
  // small it really is): the dim ships once per executor, each task
  // does one binary search per fact row, and the fact side is NEVER
  // shuffled or sorted — plan-asserted in AsOfJoinSpec. The sort-merge
  // form of the same query would shuffle AND sort every fact row.
  // Oracle: DuckDB ASOF JOIN (plan-independent semantics).
  // -------------------------------------------------------------------
  def b60AsofBroadcastDim(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val policy = ev
      .groupBy(col("event_type").as("p_type"),
        date_trunc("hour", col("ts")).as("p_ts"))
      .agg(max(col("event_id")).as("policy_id"))
    val fact = ev.select(col("event_id"), col("event_type"), col("ts"))
    asofJoin(fact, broadcast(policy), "event_type", "ts", "p_type", "p_ts")
      .select(col("event_id"), col("event_type"), col("policy_id"),
        (unix_micros(col("ts")) - unix_micros(col("p_ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  val b60Sql: String =
    """WITH policy AS (
      |  SELECT event_type AS p_type, date_trunc('hour', ts) AS p_ts,
      |         max(event_id) AS policy_id
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT e.event_id, e.event_type, p.policy_id,
      |       CAST(epoch_us(e.ts) - epoch_us(p.p_ts) AS BIGINT) AS gap_us
      |FROM events e ASOF JOIN policy p
      |  ON e.event_type = p.p_type AND e.ts >= p.p_ts
      |ORDER BY e.event_id""".stripMargin

  // -------------------------------------------------------------------
  // B61: COMPOSITE-KEY as-of join — real as-of consumers key on
  // (symbol, venue)-style tuples, here (user_id, value band): each
  // error is matched to the same user's latest prior click IN THE SAME
  // band. The hint's comma-separated key lists produce one
  // AsOfJoinPlan over both columns; the sort-merge form hash-clusters
  // on the FULL key set — one exchange per side on (user_id, band),
  // shared with the right side's dedup aggregate via the explicit
  // repartition, exactly the b49 single-exchange layout at N keys.
  // Null handling is per component (a null band never matches, SQL
  // three-valued logic). Oracle: DuckDB ASOF JOIN with a multi-column
  // equality ON — plan-independent semantics.
  // -------------------------------------------------------------------
  def b61AsofComposite(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val band = when(col("value") >= lit(0.5), lit("hi")).otherwise(lit("lo"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), band.as("c_band"),
        col("ts").as("c_ts"), col("event_id"))
      .repartition(col("c_user_id"), col("c_band"))
      .groupBy(col("c_user_id"), col("c_band"), col("c_ts"))
      .agg(max(col("event_id")).as("click_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), band.as("band"), col("ts"))
    asofJoin(errors, clicks, "user_id,band", "ts", "c_user_id,c_band", "c_ts")
      .select(col("event_id"), col("user_id"), col("band"), col("click_id"),
        (unix_micros(col("ts")) - unix_micros(col("c_ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  val b61Sql: String =
    """WITH clicks AS (
      |  SELECT user_id AS c_user_id,
      |         CASE WHEN value >= 0.5 THEN 'hi' ELSE 'lo' END AS c_band,
      |         ts AS c_ts, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2, 3
      |), errors AS (
      |  SELECT event_id, user_id,
      |         CASE WHEN value >= 0.5 THEN 'hi' ELSE 'lo' END AS band, ts
      |  FROM events WHERE event_type = 'error'
      |)
      |SELECT e.event_id, e.user_id, e.band, c.click_id,
      |       CAST(epoch_us(e.ts) - epoch_us(c.c_ts) AS BIGINT) AS gap_us
      |FROM errors e ASOF JOIN clicks c
      |  ON e.user_id = c.c_user_id AND e.band = c.c_band AND e.ts >= c.c_ts
      |ORDER BY e.event_id""".stripMargin

  /** name → (builder, oracle SQL) */
  val queries: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("b1_scan_filter", b1ScanFilter _, b1Sql),
    ("b2_hash_agg", b2HashAgg _, b2Sql),
    ("b3_multi_join", b3MultiJoin _, b3Sql),
    ("b4_join_filter", b4JoinFilter _, b4Sql),
    ("b5_window_topn", b5WindowTopn _, b5Sql),
    ("b6_topk", b6Topk _, b6Sql),
    ("b7_distinct", b7Distinct _, b7Sql),
    ("b8_setop", b8Setop _, b8Sql),
    ("b9_json_extract", b9JsonExtract _, b9Sql),
    ("b10_explode", b10Explode _, b10Sql),
    ("b11_time_window", b11TimeWindow _, b11Sql),
    ("b12_cosine_topk", b12CosineTopk _, b12Sql),
    ("b13_rollup", b13Rollup _, b13Sql),
    ("b14_semi_anti", b14SemiAnti _, b14Sql),
    ("b15_asof_join", b15AsofJoin _, b15Sql),
    ("b16_approx_distinct", b16ApproxDistinct _, b16Sql),
    ("b17_sessionize", b17Sessionize _, b17Sql),
    ("b18_percentiles", b18Percentiles _, b18Sql),
    ("b19_from_json", b19FromJson _, b19Sql),
    ("b20_cube", b20Cube _, b20Sql),
    ("b21_range_join", b21RangeJoin _, b21Sql),
    ("b22_pivot", b22Pivot _, b22Sql),
    ("b23_unpivot", b23Unpivot _, b23Sql),
    ("b24_skew_join", b24SkewJoin _, b24Sql),
    ("b25_moving_avg", b25MovingAvg _, b25Sql),
    ("b26_intersect", b26Intersect _, b26Sql),
    ("b27_rank_family", b27RankFamily _, b27Sql),
    ("b28_map_funcs", b28MapFuncs _, b28Sql),
    ("b29_funnel", b29Funnel _, b29Sql),
    ("b30_date_arith", b30DateArith _, b30Sql),
    ("b31_string_funcs", b31StringFuncs _, b31Sql),
    ("b32_corr_subquery", b32CorrSubquery _, b32Sql),
    ("b33_posexplode", b33Posexplode _, b33Sql),
    ("b34_range_frame", b34RangeFrame _, b34Sql),
    ("b35_lag_lead", b35LagLead _, b35Sql),
    ("b36_string_agg", b36StringAgg _, b36Sql),
    ("b37_approx_quantile", b37ApproxQuantile _, b37Sql),
    ("b38_nullsafe_join", b38NullSafeJoin _, b38Sql),
    ("b39_argmax", b39Argmax _, b39Sql),
    ("b40_cum_distinct", b40CumDistinct _, b40Sql),
    ("b41_gap_fill", b41GapFill _, b41Sql),
    ("b42_share_of_total", b42ShareOfTotal _, b42Sql),
    ("b48_transitive_closure", b48TransitiveClosure _, b48Sql),
    ("b49_asof_native", b49AsofNative _, b49Sql),
    ("b50_lateral_topk", b50LateralTopk _, b50Sql),
    ("b52_scd2_merge", b52Scd2Merge _, b52Sql),
    ("b55_asof_outer", b55AsofOuter _, b55Sql),
    ("b56_exists_not_in", b56ExistsNotIn _, b56Sql),
    ("b58_asof_forward", b58AsofForward _, b58Sql),
    ("b59_asof_tolerance", b59AsofTolerance _, b59Sql),
    ("b60_asof_broadcast", b60AsofBroadcastDim _, b60Sql),
    ("b61_asof_composite", b61AsofComposite _, b61Sql))
}
