package graft.streaming

import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession

/** Pins the RocksDB state-backend wiring itself: [[StateBackend]] must
  * route a stateful query to RocksDB (fingerprinted via the provider's
  * `rocksdb*` custom metrics in query progress), and the assertion must
  * FAIL on a heap-provider run — i.e. a silent conf regression cannot
  * pass the oracle gate with the wrong backend.
  */
class StateBackendSpec extends AnyFunSuite with GraftTestSession {

  private val sf = "/root/testdata/sf0.001"
  private val key = "spark.sql.streaming.stateStore.providerClass"

  /** Run the hourly aggregation (stateful: stateStoreSave) to
    * completion under whatever provider the session conf names. */
  private def runHourly(sink: String): StreamingQuery = {
    spark.catalog.dropTempView(sink)
    val q = EventStream.hourlyAgg(EventStream.readEvents(spark, sf))
      .writeStream.format("memory").queryName(sink)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "stream did not finish within 120s")
    finally q.stop()
    q
  }

  test("enableRocksDb routes state to RocksDB; assertRocksDb rejects a heap-provider run") {
    val prev = spark.conf.getOption(key)
    try {
      StateBackend.enableRocksDb(spark)
      StateBackend.assertRocksDb(runHourly("sb_rocks")) // must not throw

      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      val heap = runHourly("sb_heap")
      intercept[IllegalArgumentException](StateBackend.assertRocksDb(heap))

      // and the two backends agree on the result
      val a = spark.table("sb_rocks").collect().map(_.toString).sorted.toSeq
      val b = spark.table("sb_heap").collect().map(_.toString).sorted.toSeq
      assert(a == b && a.nonEmpty, "providers disagree on the hourly aggregation")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
