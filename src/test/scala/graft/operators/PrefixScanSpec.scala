package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession

class PrefixScanSpec extends AnyFunSuite with GraftTestSession {

  // odd, to force group-spanning range boundaries; under AQE coalescing
  // the operator reads initialPartitionNum, so both are set
  override protected def suiteConfs = Map(
    "spark.sql.shuffle.partitions" -> "7",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "7")

  test("runningLongSum equals the window running sum on every row") {
    import spark.implicits._
    // 3 groups × 2000 rows with non-uniform values; ids shuffled so the
    // input order is NOT the scan order
    val rows = scala.util.Random.shuffle(
      (for (g <- Seq("a", "b", "c"); i <- 1 to 2000)
        yield (g, i.toLong, ((i * 37) % 101 + 1).toLong)).toList)
    val df = rows.toDF("grp", "id", "v")
    val scanned = PrefixScan.runningLongSum(df, "grp", Seq("id"), "v", "cum")
    val w = Window.partitionBy("grp").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = df.withColumn("cum", sum(col("v")).over(w))
    assert(scanned.count() == 6000)
    val diff = scanned.as("s").join(windowed.as("w"), Seq("grp", "id"))
      .filter(col("s.cum") =!= col("w.cum"))
    assert(diff.isEmpty, s"prefix scan disagrees with the window form")
  }

  test("the scan parallelizes: no partition holds a whole group") {
    import spark.implicits._
    val df = (for (g <- Seq("x", "y"); i <- 1 to 5000)
      yield (g, i.toLong, 1L)).toDF("grp", "id", "v")
    val scanned = PrefixScan.runningLongSum(df, "grp", Seq("id"), "v", "cum")
    // with 7 range partitions over 2 groups of 5000, each group MUST
    // span several partitions — the property the window form lacks.
    // Assert through the result (max cum = group size proves the scan
    // crossed every boundary correctly).
    val m = scanned.groupBy("grp").agg(max("cum").as("m")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("x" -> 5000L, "y" -> 5000L))
  }

  test("a group entirely inside one partition and empty partitions are handled") {
    import spark.implicits._
    // tiny input, 7 partitions: most partitions empty, groups one-sided
    val df = Seq(("a", 1L, 5L), ("a", 2L, 7L), ("b", 1L, 11L))
      .toDF("grp", "id", "v")
    val out = PrefixScan.runningLongSum(df, "grp", Seq("id"), "v", "cum")
      .orderBy("grp", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(out.toSeq == Seq(("a", 1L, 5L), ("a", 2L, 12L), ("b", 1L, 11L)))
  }

  test("a high-cardinality group key trips the metadata-collect guard") {
    import spark.implicits._
    // ~2×MaxGroupsPerPartition distinct groups per range partition, at
    // the width the operator reads (7 here): every partition exceeds
    // the per-partition ceiling, so the contract violation must surface
    // as a descriptive failure instead of a partitions×groups driver
    // collect
    val parts = spark.sessionState.conf.numShufflePartitions
    val n = parts.toLong * PrefixScan.MaxGroupsPerPartition * 2
    val df = spark.range(0, n)
      .select(concat(lit("g"), col("id")).as("grp"), col("id"), lit(1L).as("v"))
    val e = intercept[Exception] {
      PrefixScan.runningLongSum(df, "grp", Seq("id"), "v", "cum")
    }
    // the root cause propagates wrapped in SparkException
    def chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t =>
      Option(t.getMessage).exists(_.contains("LOW-cardinality"))),
      s"expected the guard's message in the failure chain, got: ${e.getMessage}")
  }

  test("non-long value column is rejected loudly") {
    import spark.implicits._
    val df = Seq(("a", 1L, 1.5)).toDF("grp", "id", "v")
    val e = intercept[IllegalArgumentException] {
      PrefixScan.runningLongSum(df, "grp", Seq("id"), "v", "cum")
    }
    assert(e.getMessage.contains("LongType"))
  }
}
