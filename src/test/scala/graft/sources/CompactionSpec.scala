package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession

/** Scan-layout compaction: a parquet row group is the unit of scan
  * parallelism, so a table file written as ONE giant row group caps
  * every scan at one task regardless of `maxPartitionBytes`. Tables
  * rewrites such files once into a multi-file local copy and serves
  * scans from it (read-side Delta-OPTIMIZE). These specs pin: the
  * rewrite triggers only above the threshold, the copy is
  * content-identical and actually scan-parallel, and the cache is
  * reused.
  */
class CompactionSpec extends AnyFunSuite with GraftTestSession {

  override protected def suiteConfs = Map("spark.sql.files.maxPartitionBytes" -> "64k")

  /** An sf-style dir holding a single-FILE, single-ROW-GROUP lineitem.
    * `priceFactor` varies the VALUES (not the row count), so two calls
    * with different factors yield same-shaped files with different
    * content — same length in the common case (plain-encoded doubles),
    * which is exactly what the footer-fingerprint test needs. */
  private def writeSingleRowGroup(rows: Long, priceFactor: Double = 1.01,
      compression: String = "snappy"): String = {
    val dir = tempDir("compact-spec-").toFile
    val out = new java.io.File(dir, "lineitem.parquet")
    val tmp = new java.io.File(dir, "_tmp")
    spark.range(0, rows)
      .select(col("id").as("l_orderkey"), (col("id") % 7).as("l_linenumber"),
        (col("id") * priceFactor).as("l_extendedprice"))
      .coalesce(1).write.mode("overwrite").option("compression", compression)
      .parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, out.toPath)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
    dir.getAbsolutePath
  }

  test("a big single-row-group file is rewritten into a scan-parallel copy with identical content") {
    val dir = writeSingleRowGroup(60000) // ~700 KB, one row group
    withConfs("spark.graft.compact.minBytes" -> "100000") {
      val src = s"$dir/lineitem.parquet"
      val resolved = Tables.maybeCompact(spark, src)
      assert(resolved != src, "above-threshold single-row-group file must compact")
      val df = Tables.lineitem(spark, dir)
      val nFiles = df.select(input_file_name()).distinct().count()
      assert(nFiles > 1, s"compacted copy must be multi-file, got $nFiles")
      // content-identical to the original (as a multiset)
      val a = spark.read.parquet(src).orderBy("l_orderkey").collect().toSeq
      val b = df.orderBy("l_orderkey").collect().toSeq
      assert(a == b)
    }
  }

  test("below-threshold and already-multi-row-group layouts are served as-is") {
    val dir = writeSingleRowGroup(60000)
    val src = s"$dir/lineitem.parquet"
    // default 4 MB threshold: a ~700 KB file is left untouched
    assert(Tables.maybeCompact(spark, src) == src)
    // a directory-form table (ScaleGen probe layout) is never rewritten
    val multi = tempDir("compact-multi-").toFile
    val mPath = new java.io.File(multi, "lineitem.parquet").getAbsolutePath
    spark.range(0, 1000).select(col("id").as("l_orderkey"))
      .repartition(3).write.mode("overwrite").parquet(mPath)
    withConfs("spark.graft.compact.minBytes" -> "10") {
      assert(Tables.maybeCompact(spark, mPath) == mPath)
    }
  }

  test("the compacted copy is cached by (path, size, mtime) and reused") {
    val dir = writeSingleRowGroup(60000)
    withConfs("spark.graft.compact.minBytes" -> "100000") {
      val src = s"$dir/lineitem.parquet"
      val first = Tables.maybeCompact(spark, src)
      val marker = new java.io.File(first, "_SUCCESS")
      assert(marker.isFile)
      val stamp = marker.lastModified()
      val second = Tables.maybeCompact(spark, src)
      assert(second == first, "same source must resolve to the same cache entry")
      assert(marker.lastModified() == stamp, "cache hit must not rewrite")
    }
  }

  test("the cache key includes a footer fingerprint: same size+mtime, different content → different entry") {
    // uncompressed: plain-encoded doubles make the length a function of
    // the row count alone, so different values ⇒ same length
    val dir = writeSingleRowGroup(60000, compression = "none")
    withConfs("spark.graft.compact.minBytes" -> "100000") {
      val src = new java.io.File(s"$dir/lineitem.parquet")
      val origMtime = src.lastModified()
      val origLen = src.length()
      val first = Tables.maybeCompact(spark, src.getAbsolutePath)
      // regenerate the same SHAPE (rows, schema, encoding) with
      // different VALUES — the footer's column min/max stats differ, so
      // the fingerprint must change even when length and mtime collide
      val dir2 = writeSingleRowGroup(60000, priceFactor = 2.17, compression = "none")
      val src2 = new java.io.File(s"$dir2/lineitem.parquet")
      assert(!java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(src.toPath),
        java.nio.file.Files.readAllBytes(src2.toPath)),
        "different priceFactor must change the file bytes")
      // overwrite src in place and pin back the ORIGINAL mtime: a
      // (path,size,mtime)-only key would now serve the stale copy
      java.nio.file.Files.copy(src2.toPath, src.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(src.setLastModified(origMtime))
      if (src.length() != origLen)
        cancel("regenerated file length differs — size alone would change " +
          "the key, so this run can't isolate the fingerprint")
      val second = Tables.maybeCompact(spark, src.getAbsolutePath)
      assert(second != first,
        "same size+mtime but different content must yield a new cache entry")
      assert(new java.io.File(second, "_SUCCESS").isFile)
    }
  }

  test("eviction removes cache entries whose recorded source no longer exists") {
    val root = tempDir("compact-evict-root-").toFile
    withConfs("spark.graft.compact.dir" -> root.getAbsolutePath) {
      withConfs("spark.graft.compact.minBytes" -> "100000") {
        val dir = writeSingleRowGroup(60000)
        val src = new java.io.File(s"$dir/lineitem.parquet")
        val entry = new java.io.File(Tables.maybeCompact(spark, src.getAbsolutePath))
        assert(entry.isDirectory && new java.io.File(entry, "_SOURCE").isFile)
        // source disappears (driver regenerated testdata elsewhere)
        assert(src.delete())
        // eviction sweeps once per JVM per root; simulate the next
        // process via the test-only sweep reset (a path alias can't do
        // it — File.getAbsolutePath normalizes any alias back to the
        // same dedup key), then touch the root again to re-trigger
        Tables.resetEvictionSweepForTests()
        val other = writeSingleRowGroup(60000)
        Tables.maybeCompact(spark, s"$other/lineitem.parquet")
        assert(!entry.exists(),
          "entry with a deleted _SOURCE must be evicted on the next sweep")
      }
    }
  }

  test("compacted table names are recorded for the bench artifact tag") {
    val dir = writeSingleRowGroup(60000)
    withConfs("spark.graft.compact.minBytes" -> "100000") {
      Tables.maybeCompact(spark, s"$dir/lineitem.parquet")
      assert(Tables.compactedTables.contains("lineitem"))
    }
  }
}
