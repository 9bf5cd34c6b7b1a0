package graft.streaming

import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession

/** Pins the RocksDB state-backend wiring itself: the session definition
  * ([[graft.GraftSession]]) alone must route a stateful query to RocksDB
  * (fingerprinted via the provider's `rocksdb*` custom metrics in query
  * progress), and [[StateBackend.assertRocksDb]] must FAIL on a
  * heap-provider run — i.e. a silent conf regression cannot pass the
  * oracle gate with the wrong backend. [[StreamRunner.drain]] asserts
  * it exactly when the executed plan holds a stateful operator.
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

  private val heapProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  test("stateful streams run on RocksDB from the session definition alone") {
    // as if an earlier suite had left the heap provider set: asking for
    // the session again must restore RocksDB, with no helper call
    withConfs(key -> heapProvider) {
      assert(GraftTestSession.session() eq spark)
      assert(spark.conf.get(key) == StateBackend.RocksDbProvider)
      StateBackend.assertRocksDb(runHourly("sb_session"))
    }
  }

  test("assertRocksDb accepts RocksDB, rejects a heap-provider run") {
    StateBackend.assertRocksDb(runHourly("sb_rocks")) // must not throw
    val heap = withConfs(key -> heapProvider)(runHourly("sb_heap"))
    intercept[IllegalArgumentException](StateBackend.assertRocksDb(heap))

    // and the two backends agree on the result
    val a = spark.table("sb_rocks").collect().map(_.toString).sorted.toSeq
    val b = spark.table("sb_heap").collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty, "providers disagree on the hourly aggregation")
  }

  test("drain checks RocksDB only when the executed plan holds a stateful operator") {
    // stateless: no state operator to fingerprint, the drain passes
    val stateless = StreamRunner.drain(spark, "sb_stateless", sf,
      EventStream.readEvents(spark, sf).filter("value > 0"), "append",
      tempDir("sb-stateless").toString, (batch, _) => batch.collect())
    assert(stateless.exception.isEmpty && stateless.recentProgress.nonEmpty)
    assert(stateless.recentProgress.forall(_.stateOperators.isEmpty))
    // stateful on the heap provider: the plan decides, the drain fails
    withConfs(key -> heapProvider) {
      intercept[IllegalArgumentException](StreamRunner.drain(spark, "sb_heap_drain", sf,
        EventStream.hourlyAgg(EventStream.readEvents(spark, sf)), "complete",
        tempDir("sb-heap").toString, (batch, _) => batch.collect()))
    }
  }
}
