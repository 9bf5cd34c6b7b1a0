package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession
import graft.sources.Tables

/** The engine's SQL front door: the same ANSI text shipped to the
  * DuckDB oracle runs through `spark.sql` over temp views and matches
  * the DataFrame builders row for row — one query text, three engines
  * (Spark DataFrame, Spark SQL, DuckDB) agreeing.
  */
class SqlSurfaceSpec extends AnyFunSuite with GraftTestSession {

  private lazy val views: Unit = Tables.all.foreach(t =>
    Tables.table(spark, sf, t).createOrReplaceTempView(t))

  private val sf = "/root/testdata/sf0.001"

  // oracle texts that are portable ANSI (no DuckDB-only functions like
  // list_reduce/string_split/QUALIFY/epoch_us)
  private val portable = Seq(
    "b1_scan_filter", "b2_hash_agg", "b3_multi_join", "b4_join_filter",
    "b6_topk", "b7_distinct", "b8_setop", "b13_rollup", "b14_semi_anti",
    "b16_approx_distinct", "b19_from_json", "b20_cube", "b23_unpivot",
    "b26_intersect", "b40_cum_distinct", "b42_share_of_total")

  for (name <- portable) {
    test(s"$name: spark.sql(oracle text) == DataFrame builder") {
      val sql = graft.SparkEntry.oracleSql(name)
        // Spark's JSON accessor differs from DuckDB's by name only
        .replace("json_extract_string(props, '$.k')", "get_json_object(props, '$.k')")
      views
      val viaSql = spark.sql(sql).collect().map(_.toString).sorted
      val viaDf = graft.SparkEntry.queries(name)(spark, sf)
        .collect().map(_.toString).sorted
      assert(viaSql.sameElements(viaDf), s"SQL/DataFrame divergence in $name")
    }
  }
}
