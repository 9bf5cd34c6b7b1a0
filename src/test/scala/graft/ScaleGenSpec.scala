package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates the sf1-synth generator's invariants ([[ScaleGen]]) on a tiny
  * 3× tiling of sf0.001, so the scale-probe corpus itself can't rot:
  * FK self-consistency per tile, single-copy global dims, per-tile
  * content uniqueness, planted dup decades, and norm-preserving
  * embedding rotation are what make the probe MEASURE corpus growth
  * instead of cluster-size growth.
  */
class ScaleGenSpec extends AnyFunSuite with GraftTestSession {

  private val src = "/root/testdata/sf0.001"
  private val tiles = 3

  private lazy val out: String = {
    val dir = tempDir("scalegen").toString
    ScaleGen.generate(spark, src, dir, tiles)
    dir
  }

  private def srcDf(t: String) = spark.read.parquet(s"$src/$t.parquet")
  private def outDf(t: String) = spark.read.parquet(s"$out/$t.parquet")

  test("tiled entity tables grow by exactly the tile factor; global dims stay single-copy") {
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem", "events",
        "documents", "embeddings"))
      assert(outDf(t).count() === srcDf(t).count() * tiles, t)
    for (t <- Seq("region", "nation"))
      assert(outDf(t).count() === srcDf(t).count(), t)
  }

  test("foreign keys stay self-consistent within every tile") {
    val orphanOrders = outDf("orders").join(outDf("customer"),
      col("o_custkey") === col("c_custkey"), "left_anti").count()
    assert(orphanOrders === 0L)
    val orphanLines = outDf("lineitem").join(outDf("orders"),
      col("l_orderkey") === col("o_orderkey"), "left_anti").count()
    assert(orphanLines === 0L)
    // and the offset really partitions keys by tile: no key collisions
    assert(outDf("orders").select("o_orderkey").distinct().count()
      === srcDf("orders").count() * tiles)
  }

  test("tiled documents are unique per tile except the planted doc_id%100 decades") {
    val texts = outDf("documents")
      .groupBy((col("doc_id") % 10000000L).as("src_id"))
      .agg(countDistinct(md5(col("text"))).as("variants"),
        count(lit(1)).as("copies"))
    assert(texts.filter(col("copies") =!= tiles).count() === 0L)
    // planted clusters: one shared text across all tiles
    assert(texts.filter(col("src_id") % 100 === 0 && col("variants") =!= 1).count() === 0L)
    // everything else: a distinct text per tile
    assert(texts.filter(col("src_id") % 100 =!= 0 && col("variants") =!= tiles).count() === 0L)
    // the n_chars metadata column survives the suffixing
    assert(outDf("documents").filter(col("n_chars") =!= length(col("text"))).count() === 0L)
  }

  test("tiled embeddings are rotations (same component multiset) with planted verbatim decades") {
    val e = outDf("embeddings").select(
      (col("vec_id") % 10000000L).as("src_id"),
      (col("vec_id") / 10000000L).cast("long").as("tile"),
      col("embedding"))
    val bySrc = e.groupBy("src_id").agg(
      countDistinct(array_sort(col("embedding")).cast("string")).as("multisets"),
      countDistinct(col("embedding").cast("string")).as("verbatims"))
    // rotation preserves the exact component multiset for every copy
    assert(bySrc.filter(col("multisets") =!= 1).count() === 0L)
    // planted decades are verbatim; everything else differs per tile
    assert(bySrc.filter(col("src_id") % 100 === 0 && col("verbatims") =!= 1).count() === 0L)
    assert(bySrc.filter(col("src_id") % 100 =!= 0 && col("verbatims") =!= tiles).count() === 0L)
    // tile-0 rows are byte-identical to the source corpus
    val t0 = e.filter(col("tile") === 0)
      .select(col("src_id").as("vec_id"), col("embedding").cast("string").as("em"))
    val s0 = srcDf("embeddings")
      .select(col("vec_id"), col("embedding").cast("string").as("em_src"))
    assert(t0.join(s0, "vec_id").filter(col("em") =!= col("em_src")).count() === 0L)
  }

  test("beyond 64 tiles, sign-flip groups keep every copy distinct and |component|-preserving") {
    val bigTiles = 66 // crosses the 64-rotation boundary into group 1
    val dir = tempDir("scalegen-flip").toString
    ScaleGen.generate(spark, src, dir, bigTiles)
    val e = spark.read.parquet(s"$dir/embeddings.parquet").select(
      (col("vec_id") % 10000000L).as("src_id"),
      col("embedding"))
    val bySrc = e.groupBy("src_id").agg(
      countDistinct(array_sort(transform(col("embedding"), x => abs(x))).cast("string"))
        .as("abs_multisets"),
      countDistinct(col("embedding").cast("string")).as("verbatims"))
    // rotation + sign flip both preserve the |component| multiset (and
    // therefore the norm) exactly, for every copy in every group
    assert(bySrc.filter(col("abs_multisets") =!= 1).count() === 0L)
    // every non-planted tile copy is distinct content — tile 64 (group 1,
    // rotation 0) must NOT collapse onto tile 0, nor 65 onto 1
    assert(bySrc.filter(col("src_id") % 100 =!= 0 && col("verbatims") =!= bigTiles).count() === 0L)
    // planted decades stay verbatim across all 66 copies
    assert(bySrc.filter(col("src_id") % 100 === 0 && col("verbatims") =!= 1).count() === 0L)
  }

  test("part counts are size-aware: KB-scale dimension tables stay single-part") {
    // 5-row region / 25-row nation must not fan out into dozens of
    // mostly-empty part files whatever the tile count
    for (t <- Seq("region", "nation")) {
      val parts = new java.io.File(s"$out/$t.parquet")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts === 1, s"$t should be one part file, got $parts")
    }
  }

  test("the tables filter generates exactly the matching tables") {
    val dir = tempDir("scalegen-filter").toString
    ScaleGen.generate(spark, src, dir, 2, "documents|embeddings|events")
    val written = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(written === Set("documents.parquet", "embeddings.parquet", "events.parquet"))
    // the filtered gen is the same gen: tiling invariants hold
    assert(spark.read.parquet(s"$dir/documents.parquet").count() ===
      srcDf("documents").count() * 2)
  }

  test("tile counts past the birthday-bounded ceiling are rejected loudly") {
    val dir = tempDir("scalegen-reject").toString
    val err = intercept[IllegalArgumentException] {
      ScaleGen.generate(spark, src, dir, 16385)
    }
    assert(err.getMessage.contains("16384"))
  }

  test("tiles past the old dims² boundary stay distinct: group 64+ patterns don't repeat") {
    // 4100 tiles crosses grp = 64 (the first group the pre-r15 cap
    // excluded); murmur3 parity patterns are keyed by grp, so tile
    // 4096 (grp 64, rot 0) must not collapse onto tile 0, 64, or any
    // other rot-0 tile — distinctness is the invariant that keeps the
    // d8b design-point corpus (×5000) measuring corpus growth.
    val bigTiles = 4100
    val dir = tempDir("scalegen-grp64").toString
    ScaleGen.generate(spark, src, dir, bigTiles, "embeddings")
    val e = spark.read.parquet(s"$dir/embeddings.parquet").select(
      (col("vec_id") % 10000000L).as("src_id"),
      col("embedding"))
    val bySrc = e.groupBy("src_id").agg(
      countDistinct(array_sort(transform(col("embedding"), x => abs(x))).cast("string"))
        .as("abs_multisets"),
      countDistinct(col("embedding").cast("string")).as("verbatims"))
    assert(bySrc.filter(col("abs_multisets") =!= 1).count() === 0L)
    assert(bySrc.filter(col("src_id") % 100 =!= 0 && col("verbatims") =!= bigTiles).count() === 0L)
    assert(bySrc.filter(col("src_id") % 100 === 0 && col("verbatims") =!= 1).count() === 0L)
  }
}
