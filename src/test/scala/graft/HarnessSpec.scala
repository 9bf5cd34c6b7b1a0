package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The mains' shared harness: the one query selection
  * ([[SparkEntry.select]]) and Verify's Jackson-written
  * `oracle_sql.json`. Neither needs a session. */
class HarnessSpec extends AnyFunSuite {

  test("SparkEntry.select: natural order, a regex keeps only its matches, None keeps all 116") {
    val all = SparkEntry.select(None).map(_._1)
    assert(all.size == 116 && all.toSet == SparkEntry.queries.keySet)
    assert(all.indexOf("b2_hash_agg") < all.indexOf("b10_explode"))
    assert(all.indexOf("d10_incremental_neardup") < all.indexOf("d10b_bucketed_base"))
    assert(SparkEntry.select(Some("^b([1-9]|1[0-2])_".r)).map(_._1) == Seq(
      "b1_scan_filter", "b2_hash_agg", "b3_multi_join", "b4_join_filter",
      "b5_window_topn", "b6_topk", "b7_distinct", "b8_setop",
      "b9_json_extract", "b10_explode", "b11_time_window", "b12_cosine_topk"))
    assert(SparkEntry.select(Some("^cap".r)).map(_._1) == Seq("cap1_features",
      "cap2_feed_links", "cap3_quarantine", "cap4_stream_lifecycle",
      "cap5_stream_transitions"))
    assert(SparkEntry.select(Some("no such query".r)).isEmpty)
  }

  test("Verify's oracle_sql.json round-trips every oracle SQL through Jackson, control characters included") {
    val sql = SparkEntry.oracleSql + ("ctl" -> "SELECT 'a\tb\u0001c'")
    val json = Verify.oracleJson(sql)
    assert(!json.exists(_ < ' '), "a raw control character reached oracle_sql.json")
    val back = new ObjectMapper().readValue(json, classOf[java.util.Map[String, String]])
    assert(back.asScala.toMap == sql)
    assert(SparkEntry.oracleSql.nonEmpty)
  }
}
