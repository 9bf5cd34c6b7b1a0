package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.GraftTestSession

/** ANN semantics: LSH/IVF results must be exact cosines of real
  * candidates (no fabricated sims), ranked correctly, and achieve
  * nonzero recall against the brute-force ground truth. The corpus is
  * near-orthogonal random vectors (max pairwise cosine 0.479), so
  * absolute recall bars are set by measurement, not theory — the point
  * is that candidates are genuinely pruned yet the true neighbor list
  * is partially recovered, deterministically.
  */
class SimilaritySpec extends AnyFunSuite with GraftTestSession {

  private val sf = "/root/testdata/sf0.001"

  /** Brute-force top-5 per query (qid < 10), same rounding/tie rules. */
  private lazy val truth: Map[(Long, Long), Long] = {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("e").as("qv"))
    q.crossJoin(emb).filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("e"), col("qv")) /
          (sqrt(dot(col("e"), col("e"))) * sqrt(dot(col("qv"), col("qv")))), 6).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id").asc)))
      .filter(col("rank") <= 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank").toLong) -> r.getAs[Long]("vec_id"))
      .toMap
  }

  private def checkShape(rows: Array[org.apache.spark.sql.Row]): Unit = {
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (_, rs) =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted
      assert(ranks.sameElements(1 to ranks.length), "ranks must be 1..k dense")
      val sims = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.sameElements(sims.sortBy(-_)), "sims must be non-increasing in rank")
    }
  }

  private def recallAt5(rows: Array[org.apache.spark.sql.Row]): Double = {
    val found = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val truthPairs = truth.map { case ((q, _), v) => (q, v) }.toSet
    truthPairs.count(found).toDouble / truthPairs.size
  }

  test("s4: kNN graph is well-formed, covers most vectors, and respects k=3") {
    val rows = Similarity.s4KnnGraph(spark, sf).collect()
    checkShape(rows)
    rows.foreach(r => assert(r.getAs[Long]("rank") <= 3))
    // no self-edges
    rows.foreach(r => assert(r.getAs[Long]("qid") != r.getAs[Long]("vec_id")))
    // with 2 bands × 8 bits over this corpus most vectors should find
    // at least one bucket-mate
    val total = Tables.embeddings(spark, sf).count()
    val covered = rows.map(_.getAs[Long]("qid")).distinct.length
    assert(covered >= total / 2, s"kNN graph covers only $covered of $total vectors")
    // the approximate part of s4 is candidate SELECTION (8-bit bands on
    // a corpus with no cluster structure select near-randomly — recall
    // floors belong to s1/s2's wide-probe geometry, not here); what s4
    // does guarantee is that every emitted (qid, neighbor, sim) carries
    // the EXACT cosine — verify against a direct recomputation
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    rows.take(200).foreach { r =>
      val want = cosine(emb(r.getAs[Long]("qid")), emb(r.getAs[Long]("vec_id")))
      // sim is rounded to 6 decimals in the query; 2e-6 absorbs the
      // rounding plus fold-order float fuzz
      assert(math.abs(r.getAs[Double]("sim") - want) < 2e-6,
        s"re-ranked sim is not the exact cosine: $r vs $want")
    }
  }

  test("s1: LSH top-k is well-formed and recalls part of the true top-5") {
    val rows = Similarity.s1AnnLsh(spark, sf).collect()
    checkShape(rows)
    val r = recallAt5(rows)
    assert(r >= 0.2, s"LSH recall@5 collapsed: $r")
    // and it genuinely pruned: no query may have scanned the whole corpus
    assert(rows.length <= 50)
  }

  test("s2: IVF top-k is well-formed and recalls part of the true top-5") {
    val rows = Similarity.s2AnnIvf(spark, sf).collect()
    checkShape(rows)
    val r = recallAt5(rows)
    assert(r >= 0.1, s"IVF recall@5 collapsed: $r")
  }

  test("s1/s2: every reported sim equals the brute-force cosine for that pair") {
    // spot-check: reported (qid, vec_id, sim) that appear in the truth
    // top-5 must carry the identical rounded sim (no approximation in
    // the re-rank, only in candidate selection).
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val byId = emb.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getAs[scala.collection.Seq[Double]]("e").toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    (Similarity.s1AnnLsh(spark, sf).collect() ++ Similarity.s2AnnIvf(spark, sf).collect())
      .foreach { r =>
        val expect = cos(byId(r.getAs[Long]("qid")), byId(r.getAs[Long]("vec_id")))
        assert(math.abs(r.getAs[Double]("sim") - expect) < 1e-9,
          s"sim mismatch for (${r.get(0)}, ${r.get(1)})")
      }
  }

  test("d5: candidate pairs are a strict subset of all pairs; thresholds consistent") {
    val r = Similarity.d5EmbeddingNeardup(spark, sf).collect()(0)
    val n = Tables.embeddings(spark, sf).count()
    val allPairs = n * (n - 1) / 2
    assert(r.getAs[Long]("n_cand_pairs") > 0)
    assert(r.getAs[Long]("n_cand_pairs") < allPairs, "LSH bucketing must prune the pair space")
    assert(r.getAs[Long]("n_ge95") <= r.getAs[Long]("n_ge50"))
    assert(r.getAs[Long]("n_ge50") <= r.getAs[Long]("n_ge45"))
    assert(r.getAs[Double]("max_sim") <= 1.0)
  }

  test("d5: wide band geometry (the above-cutoff plan) keeps planted dups and prunes harder") {
    import spark.implicits._
    // hash-mixed near-orthogonal corpus (same recipe as the d8b
    // fixture) + planted exact-duplicate groups: identical vectors
    // collide on EVERY band in ANY geometry, so both branches must
    // recover every planted pair, while the wide 6×24-bit branch must
    // admit no MORE random candidates than the narrow 4×16-bit one —
    // the whole point of the r15 width switch (narrow bands at ×1000
    // generated ~4n²/65536 random pairs and filled the disk).
    def h(i: Int, j: Int): Float = {
      val x = (i * 73856093) ^ (j * 19349663)
      ((x % 1000003 + 1000003) % 1000003) / 1000003.0f - 0.5f
    }
    val distinct = (0 until 4096).map { i =>
      (i.toLong, Array.tabulate(64)(j => h(i, j)))
    }
    val planted = distinct.filter(_._1 % 160 == 0).flatMap { case (id, v) =>
      (1 to 4).map(k => (200000L + id * 8 + k, v))
    }
    val emb = (distinct ++ planted).toDF("vec_id", "embedding")
    val wantPairs = distinct.map(_._1).filter(_ % 160 == 0).flatMap { base =>
      val ids = (base +: (1 to 4).map(k => 200000L + base * 8 + k)).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide = pairs(Similarity.d5CandidatesGeo(spark, emb, wide = true))
    val narrow = pairs(Similarity.d5CandidatesGeo(spark, emb, wide = false))
    assert(wantPairs.subsetOf(wide),
      s"wide branch lost planted pairs: ${(wantPairs -- wide).take(5)}")
    assert(wantPairs.subsetOf(narrow),
      s"narrow branch lost planted pairs: ${(wantPairs -- narrow).take(5)}")
    assert(wide.size <= narrow.size,
      s"wider bands admitted MORE candidates: ${wide.size} vs ${narrow.size}")
    // the plan switch picks the narrow geometry below the cutoff
    assert(pairs(Similarity.d5Candidates(spark, emb)) == narrow,
      "below the cutoff d5Candidates must be the narrow plan")
  }

  test("s5: range search returns exactly the brute-force pairs above the floor") {
    val got = Similarity.s5RangeSearch(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"), r.getAs[Double]("sim")))
    // brute force with the same rounding rules
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val expected = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("e").as("qv"))
      .crossJoin(emb).filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("e"), col("qv")) /
          (sqrt(dot(col("e"), col("e"))) * sqrt(dot(col("qv"), col("qv")))), 6).as("sim"))
      .filter(col("sim") >= 0.25).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"), r.getAs[Double]("sim")))
    assert(got.toSet == expected.toSet, "range search must be exact")
    assert(got.nonEmpty)
  }

  test("s6: quantization covers the corpus, saturates [0,255], never exceeds scale/2 error") {
    val rows = Similarity.s6Quantize(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == Tables.embeddings(spark, sf).count(),
      "every vector gets a quantization row")
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_bound"),
        s"reconstruction error above scale/2 for label ${r.get(0)}")
      // min/max scaling always pins both endpoints
      assert(r.getAs[Long]("q_min") == 0L && r.getAs[Long]("q_max") == 255L)
      assert(r.getAs[Double]("max_abs_err") > 0.0, "int8 quantization is lossy")
    }
  }

  test("d8: pairs are within-cluster, ordered, above threshold, with exact cosines") {
    val rows = Similarity.d8SemanticDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    // exact-cosine check for every reported pair
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      val na = math.sqrt(a.zip(a).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y })
      val nb = math.sqrt(b.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y })
      BigDecimal(d / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    rows.foreach { r =>
      val (da, db) = (r.getAs[Long]("da"), r.getAs[Long]("db"))
      assert(da < db, "pairs are canonicalized da < db")
      val sim = r.getAs[Double]("sim")
      assert(sim >= 0.4)
      assert(math.abs(sim - cos(vecs(da), vecs(db))) < 1e-6,
        s"reported sim must be the exact cosine for ($da,$db)")
    }
    // cluster scoping: both members of every pair share a nearest centroid
    val cids = rows.map(_.getAs[Long]("cid")).distinct
    assert(cids.forall(c => c >= 100 && c < 132), "cluster ids are the seed centroids")
  }

  test("d8b: the fraction codebook scales K with n and keeps verifying where d8 loses recall") {
    import spark.implicits._
    // the 10×-probe failure mode in miniature: 4096 DISTINCT vectors
    // (d8's fixed 32 seeds → ~128 per cell, over the 64 cap) plus 26
    // planted exact-duplicate decades (base id ≡ 0 mod 160, 9 extra
    // copies each at ids ≥ 100_000 chosen ∉ the codebook). d8b's 5%
    // codebook (~205 centroids) keeps cells ~20–30 and must recover
    // EVERY planted pair; d8's saturated cells must lose some.
    // NOT sin(a·i + b·j): any f(aᵢ + bⱼ) sinusoid corpus is rank-2, so
    // unrelated vectors hit cosine ≈ 1 — hash-mix instead for a
    // genuinely spread (near-orthogonal) corpus
    def h(i: Int, j: Int): Float = {
      val x = (i * 73856093) ^ (j * 19349663)
      ((x % 1000003 + 1000003) % 1000003) / 1000003.0f - 0.5f
    }
    val distinct = (0 until 4096).map { i =>
      (i.toLong, Array.tabulate(64)(j => h(i, j)))
    }
    val planted = distinct.filter(_._1 % 160 == 0).flatMap { case (id, v) =>
      (1 to 9).map(k => (100000L + id * 16 + k, v)) // 100000+16id+k ≢ 10 (mod 20) for k ∈ 1..9
    }
    val sfDir = tempDir("d8bsf").toString
    (distinct ++ planted).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$sfDir/embeddings.parquet")

    def plantedPairs(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      rows.collect {
        case r if r.getAs[Double]("sim") == 1.0 =>
          (r.getAs[Long]("da"), r.getAs[Long]("db"))
      }.toSet
    val wantPairs = distinct.map(_._1).filter(_ % 160 == 0).flatMap { base =>
      val ids = (base +: (1 to 9).map(k => 100000L + base * 16 + k)).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    assert(wantPairs.size == 26 * 45, s"fixture arithmetic: ${wantPairs.size}")

    val d8Found = plantedPairs(Similarity.d8SemanticDedup(spark, sfDir).collect())
    val d8bFound = plantedPairs(Similarity.d8bScaledCodebook(spark, sfDir).collect())
    assert(d8bFound == wantPairs,
      s"fraction codebook must recover every planted pair (got ${d8bFound.size}/${wantPairs.size})")
    assert(d8Found.size < wantPairs.size,
      s"fixed codebook should lose planted pairs to cap saturation at this n (found all ${d8Found.size})")
    // below the flat↔two-level cutoff (K = 205 <= 512 here) the query
    // takes the exhaustive flat branch, so recall parity with the flat
    // reference is exact by construction — the two-level plan's own
    // parity contract is gated by the tests below
    val flatFound = plantedPairs(Similarity.d8bScaledCodebookFlat(spark, sfDir).collect())
    assert(flatFound == wantPairs, "flat reference lost planted pairs — fixture broke")
    assert(d8bFound == flatFound,
      "below the cutoff d8b must BE the flat assignment")
  }

  test("d8b plan switch: flat below the codebook cutoff, two-level above it") {
    import spark.implicits._
    def h(i: Int, j: Int): Float = {
      val x = (i * 73856093) ^ (j * 19349663)
      ((x % 1000003 + 1000003) % 1000003) / 1000003.0f - 0.5f
    }
    def corpus(nDistinct: Int): org.apache.spark.sql.DataFrame =
      (0 until nDistinct).map(i => (i.toLong, Array.tabulate(64)(j => h(i, j))))
        .toDF("vec_id", "embedding")
    // K = n/20: below the 512 cutoff at n=4096 (K=205), above at
    // n=16384 (K=820)
    val small = corpus(4096)
    val big = corpus(16384)
    def assigns(df: org.apache.spark.sql.DataFrame) = Seq(
      Similarity.d8bAssign(df),
      Similarity.flatAssign(df, col("vec_id") % 20 === 10),
      Similarity.twoLevelAssign(df, col("vec_id") % 20 === 10,
        col("vec_id") >= 100 && col("vec_id") < 132))
      .map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val Seq(smallSel, smallFlat, smallTwo) = assigns(small)
    assert(smallSel == smallFlat, "below the cutoff d8bAssign must be the flat plan")
    val Seq(bigSel, bigFlat, bigTwo) = assigns(big)
    assert(bigSel == bigTwo, "above the cutoff d8bAssign must be the two-level plan")
    // the switch is observable: on a near-orthogonal corpus the two
    // assignments genuinely differ, so the equalities above pin WHICH
    // plan ran, not a vacuous coincidence
    assert(smallFlat != smallTwo && bigFlat != bigTwo,
      "fixture degenerated: flat and two-level coincide, switch untestable")
  }

  test("d8b two-level recall losses are capping, never planted-pair scatter") {
    import spark.implicits._
    // The two-level contract on TRUE duplicates: identical vectors
    // coarse- and fine-assign identically (same cosines, same
    // tie-breaks), so a planted decade is never SPLIT across cells by
    // the two-level walk — any planted pair it loses vs the flat
    // reference must be a whole decade dropped by the 64-member cell
    // cap (the same failure mode the flat form has, just at different
    // cells), never a scattered decade.
    def h(i: Int, j: Int): Float = {
      val x = (i * 73856093) ^ (j * 19349663)
      ((x % 1000003 + 1000003) % 1000003) / 1000003.0f - 0.5f
    }
    val distinct = (0 until 4096).map { i =>
      (i.toLong, Array.tabulate(64)(j => h(i, j)))
    }
    val dist = distinct.toMap
    val planted = distinct.filter(_._1 % 160 == 0).flatMap { case (id, v) =>
      (1 to 9).map(k => (100000L + id * 16 + k, v))
    }
    val emb = (distinct ++ planted).toDF("vec_id", "embedding")
    val two = Similarity.twoLevelAssign(emb, col("vec_id") % 20 === 10,
        col("vec_id") >= 100 && col("vec_id") < 132).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fams = distinct.map(_._1).filter(_ % 160 == 0).map { base =>
      base +: (1 to 9).map(k => 100000L + base * 16 + k)
    }
    // never scattered: every decade sits in AT MOST one two-level cell
    // (zero only for the centroid-free-coarse-cell drop, same for all
    // ten identical members)
    fams.foreach { fam =>
      val cells = fam.flatMap(two.get).distinct
      assert(cells.size <= 1,
        s"planted decade at ${fam.head} scattered across cells $cells")
      assert(fam.flatMap(two.get).size % fam.size == 0,
        s"planted decade at ${fam.head} only partially assigned")
    }
    // capping is the ONLY loss mode: a decade is recovered by the
    // two-level candidates iff it is assigned and its cell is within
    // the cap
    val cellSizes = two.values.groupBy(identity).view.mapValues(_.size).toMap
    val expect = fams.filter(f => two.contains(f.head) && cellSizes(two(f.head)) <= 64)
      .flatMap(f => for (a <- f; b <- f if a < b) yield (a, b)).toSet
    val cand = Similarity.d8bCandidatesTwoLevel(emb).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    val plantedCand = cand.filter { case (a, b) =>
      val va = if (a >= 100000L) dist(((a - 100000L) / 16)) else dist(a)
      val vb = if (b >= 100000L) dist(((b - 100000L) / 16)) else dist(b)
      va.sameElements(vb)
    }
    assert(plantedCand == expect,
      s"capping attribution failed: ${plantedCand.size} planted candidate " +
        s"pairs vs ${expect.size} under-cap expected")
  }

  test("d8b two-level assignment equals the flat assignment exactly on the coarse-faithful subset") {
    // The nprobe=1 contract, as an exact invariant rather than a
    // recall estimate: a vector's two-level assignment differs from
    // its flat (global-argmax) assignment IF AND ONLY IF its flat
    // nearest centroid coarse-assigns to a DIFFERENT seed cell than
    // the vector itself. On the faithful subset the assignments must
    // be bit-identical — any divergence there is a bug in the
    // two-level plumbing (wrong join, wrong tie-break), not the known
    // recall trade. Driver-SF embeddings are near-orthogonal noise, so
    // the faithful fraction is small here (~15–20%) while real
    // clustered corpora sit near 1 — the planted-corpus test above
    // covers that regime.
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val emb = graft.sources.Tables.embeddings(spark, d)
      val seedPred = col("vec_id") >= 100 && col("vec_id") < 132
      val centPred = col("vec_id") % 20 === 10
      val flat = Similarity.flatAssign(emb, centPred).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val two = Similarity.twoLevelAssign(emb, centPred, seedPred).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val vCoarse = Similarity.seedCoarseAssign(emb, lit(true), seedPred).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val cCoarse = Similarity.seedCoarseAssign(emb, centPred, seedPred).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val faithful = flat.keySet.filter(v => cCoarse(flat(v)) == vCoarse(v))
      assert(faithful.nonEmpty, s"$d: degenerate fixture — no faithful vectors")
      faithful.foreach { v =>
        assert(two.get(v).contains(flat(v)),
          s"$d: vec $v is coarse-faithful but two-level gave ${two.get(v)} " +
            s"!= flat ${flat(v)}")
      }
      // and the converse: agreement ONLY happens through faithfulness
      // (an unfaithful vector's flat centroid is outside its cell, so
      // the within-cell argmax cannot return it)
      flat.keySet.filterNot(faithful).foreach { v =>
        assert(!two.get(v).contains(flat(v)),
          s"$d: vec $v agrees with flat despite an unfaithful coarse cell")
      }
    }
  }

  test("kernel round6 is bit-identical to Spark's round(col, 6)") {
    import spark.implicits._
    // adversarial set: HALF_UP boundaries (positive and negative),
    // signed zeros, non-finites, magnitudes where ulp rivals the
    // rounding step, subnormals — plus seeded uniform noise in the
    // cosine range, where the kernel actually runs
    val adversarial = Seq(
      0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      0.0000005, -0.0000005, 0.0000015, -0.0000015, 0.1234565, -0.1234565,
      0.12345649999999, 0.12345650000001, 1.0000005, -1.0000005,
      0.9999995, -0.9999995, 0.49999949999, 4.9E-7, 5.1E-7,
      Double.MinPositiveValue, -Double.MinPositiveValue,
      1.0E10 + 0.1234567, -1.0E10 - 0.1234567, 123456.1234565,
      Double.MaxValue, -Double.MaxValue, 1.0E-300, -1.0E-300)
    val rnd = new scala.util.Random(20260816L)
    val noise = Seq.fill(100000)(rnd.nextDouble() * 3.0 - 1.5)
    val vals = (adversarial ++ noise).toArray
    val viaColumn = vals.toSeq.toDF("x")
      .select(round(col("x"), 6).as("r")).collect().map(_.getDouble(0))
    vals.zip(viaColumn).foreach { case (x, expect) =>
      assert(java.lang.Double.doubleToLongBits(Similarity.round6(x)) ==
        java.lang.Double.doubleToLongBits(expect),
        s"round6($x): kernel ${Similarity.round6(x)} != Column $expect")
    }
  }

  test("argmaxRound6 equals round-everything-then-argmax on near-tie fuzz") {
    // reference: the aggregator's exact order (rounded value DESC via
    // Double.compare, id ASC) applied after rounding EVERY candidate
    def reference(xs: Array[Double], ids: Array[Long], n: Int): Int = {
      if (n == 0) return -1
      var best = 0
      var i = 1
      while (i < n) {
        // ArgMaxAgg.better verbatim, on pre-rounded values
        val c = java.lang.Double.compare(
          Similarity.round6(xs(i)), Similarity.round6(xs(best)))
        if (c > 0 || (c == 0 && ids(i) < ids(best))) best = i
        i += 1
      }
      best
    }
    val rnd = new scala.util.Random(42L)
    assert(Similarity.argmaxRound6(Array.empty, Array.empty, 0) == -1)
    (0 until 20000).foreach { trial =>
      val n = 1 + rnd.nextInt(24)
      val base = rnd.nextDouble() * 2.0 - 1.0
      val xs = Array.fill(n) {
        rnd.nextInt(4) match {
          case 0 => base // exact duplicates
          case 1 => base + (rnd.nextInt(9) - 4) * 1.0E-7 // near-ties at rounding scale
          case 2 if rnd.nextInt(10) == 0 => Double.NaN
          case _ => rnd.nextDouble() * 2.0 - 1.0
        }
      }
      // duplicate ids never occur in the corpus; keep ids unique
      val ids = rnd.shuffle((0 until n).toList).map(_.toLong).toArray
      val got = Similarity.argmaxRound6(xs, ids, n)
      val want = reference(xs, ids, n)
      assert(got == want,
        s"trial $trial: argmaxRound6 -> $got (${xs(got)}, ${ids(got)}), " +
          s"reference -> $want (${xs(want)}, ${ids(want)}); xs=${xs.mkString(",")}")
    }
  }

  test("d8b kernel assignment is bit-identical to the two-level join form") {
    import spark.implicits._
    def h(i: Int, j: Int): Float = {
      val x = (i * 73856093) ^ (j * 19349663)
      ((x % 1000003 + 1000003) % 1000003) / 1000003.0f - 0.5f
    }
    val centPred = col("vec_id") % 20 === 10
    val seedPred = col("vec_id") >= 100 && col("vec_id") < 132
    def parity(emb: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val join = Similarity.twoLevelAssign(emb, centPred, seedPred).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val kern = Similarity.twoLevelAssignKernel(emb, centPred, seedPred).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(kern == join, s"$tag: kernel/join divergence — " +
        s"${(kern.toSet diff join.toSet).take(5)} vs ${(join.toSet diff kern.toSet).take(5)}")
    }
    // above-cutoff scale fixture (K=820): the d8bAssign regime the
    // kernel owns, on a corpus where flat and two-level provably differ
    parity((0 until 16384).map(i => (i.toLong, Array.tabulate(64)(j => h(i, j))))
      .toDF("vec_id", "embedding"), "K=820 near-orthogonal")
    // corners in one corpus: planted identical decades (exact cosine
    // ties broken by cid), a ZERO corpus vector (every cosine NaN —
    // NaN-greatest coarse pick, NaN fine pick), and a ZERO centroid
    // (NaN attracts its whole cell)
    val distinct = (0 until 2048).map(i => (i.toLong, Array.tabulate(64)(j => h(i, j))))
    val planted = distinct.filter(_._1 % 160 == 0).flatMap { case (id, v) =>
      (1 to 9).map(k => (100000L + id * 16 + k, v))
    }
    val zeros = Seq((99001L, Array.fill(64)(0.0f)), // plain vector: id ≡ 1 (mod 20)
      (99010L, Array.fill(64)(0.0f))) // centroid: id ≡ 10 (mod 20)
    parity((distinct ++ planted ++ zeros).toDF("vec_id", "embedding"),
      "ties/NaN corners")
    // empty coarse cells: 3 centroids across 32 seeds leave most cells
    // centroid-free, so most vectors DROP — both forms must drop the
    // same ones (direct kernel call; d8bAssign would route this K to flat)
    parity(distinct.toDF("vec_id", "embedding")
      .filter(col("vec_id") % 20 =!= 10 || col("vec_id").isin(10L, 30L, 50L)),
      "sparse codebook / empty cells")
    // degenerate inputs: no seeds / no centroids ⇒ both forms are empty
    val noSeeds = distinct.filter { case (id, _) => id < 100 || id >= 132 }
      .toDF("vec_id", "embedding")
    assert(Similarity.twoLevelAssignKernel(noSeeds, centPred, seedPred).count() == 0)
    val noCents = distinct.filter(_._1 % 20 != 10).toDF("vec_id", "embedding")
    assert(Similarity.twoLevelAssignKernel(noCents, centPred, seedPred).count() == 0)
  }

  test("d8b plan regimes: flat / broadcast kernel / distributed join by codebook size") {
    import spark.implicits._
    assert(Similarity.d8bPlanFor(512) == "flat")
    assert(Similarity.d8bPlanFor(513) == "kernel")
    assert(Similarity.d8bPlanFor(500000) == "kernel") // the ×1000 design point
    assert(Similarity.d8bPlanFor(1000000) == "kernel")
    assert(Similarity.d8bPlanFor(1000001) == "join")
    // and the picked plan is OBSERVABLE in the logical plan: above the
    // flat cutoff d8bAssign's assignment is the shuffle-free kernel
    // (MapPartitions, no Join anywhere); below it the flat argmax's
    // broadcast cross join
    def h(i: Int, j: Int): Float = {
      val x = (i * 73856093) ^ (j * 19349663)
      ((x % 1000003 + 1000003) % 1000003) / 1000003.0f - 0.5f
    }
    def corpus(n: Int) = (0 until n)
      .map(i => (i.toLong, Array.tabulate(64)(j => h(i, j)))).toDF("vec_id", "embedding")
    val big = Similarity.d8bAssign(corpus(16384)).queryExecution.analyzed
    assert(big.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty,
      "above the cutoff the kernel assignment must contain NO join")
    assert(big.collect {
      case m: org.apache.spark.sql.catalyst.plans.logical.MapPartitions => m
    }.nonEmpty, "above the cutoff the assignment must be the mapPartitions kernel")
    val small = Similarity.d8bAssign(corpus(4096)).queryExecution.analyzed
    assert(small.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.nonEmpty,
      "below the cutoff the flat broadcast-join argmax must remain")
  }

  test("s12 max-cosine kernel is bit-identical to the broadcast-product form") {
    import spark.implicits._
    def h(i: Int, j: Int): Float = {
      val x = (i * 73856093) ^ (j * 19349663)
      ((x % 1000003 + 1000003) % 1000003) / 1000003.0f - 0.5f
    }
    def parity(e: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val join = Similarity.s12MaxSimJoin(e).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue()) -> r.getDouble(2)).toMap
      val kern = Similarity.s12MaxSimKernel(e).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(kern.keySet == join.keySet, s"$tag: row-set divergence")
      kern.foreach { case (k, v) =>
        assert(java.lang.Double.doubleToLongBits(v) ==
          java.lang.Double.doubleToLongBits(join(k)),
          s"$tag: max_sim divergence at $k — kernel $v vs join ${join(k)}")
      }
    }
    // real corpora (driver SFs run the join plan in production; here
    // both FUNCTIONS are compared directly)
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val e = Tables.embeddings(spark, d)
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))
      parity(e, d)
    }
    // corners: planted ×2 bench sources (round-6 sim exactly 1.0), a
    // ZERO vector (every cosine NaN — NaN-greatest max, rounds to NaN,
    // and Spark SQL's NaN >= 0.999 is TRUE in the rollup either way)
    val rows = (0 until 2000).map(i => (i.toLong, i % 10, Array.tabulate(64)(j => h(i, j)))) :+
      ((90001L, 3, Array.fill(64)(0.0f)))
    parity(rows.toDF("vec_id", "label", "embedding")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e")),
      "planted/NaN corners")
    // empty bench: no vec_id % 97 == 0 rows ⇒ both forms are EMPTY
    val noBench = rows.filter(_._1 % 97 != 0).toDF("vec_id", "label", "embedding")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))
    assert(Similarity.s12MaxSimKernel(noBench).count() == 0)
    assert(Similarity.s12MaxSimJoin(noBench).count() == 0)
  }

  test("s12 plan switch: broadcast-product below the bench cutoff, row-free kernel above") {
    import spark.implicits._
    def h(i: Int, j: Int): Float = {
      val x = (i * 73856093) ^ (j * 19349663)
      ((x % 1000003 + 1000003) % 1000003) / 1000003.0f - 0.5f
    }
    def writeCorpus(n: Int): String = {
      val dir = tempDir(s"s12plan$n").toString
      (0 until n).map(i => (i.toLong, i % 10, Array.tabulate(64)(j => h(i, j))))
        .toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    // 52k vectors ⇒ bench = n/97 ≈ 537 > 512 ⇒ kernel (no Join in the
    // assignment subtree); 2k ⇒ bench 21 ⇒ broadcast-product plan
    val bigDir = writeCorpus(52000)
    val big = Similarity.s12SemanticDecontam(spark, bigDir)
    val bigPlan = big.queryExecution.analyzed
    assert(bigPlan.collect {
      case m: org.apache.spark.sql.catalyst.plans.logical.MapPartitions => m
    }.nonEmpty, "above the cutoff s12 must run the mapPartitions kernel")
    assert(bigPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "above the cutoff s12 must contain NO join")
    val smallPlan = Similarity.s12SemanticDecontam(spark, writeCorpus(2000))
      .queryExecution.analyzed
    assert(smallPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.nonEmpty, "below the cutoff the broadcast-product plan must remain")
    // and the rolled-up VALUES above the cutoff equal the join form's
    val e = spark.read.parquet(s"$bigDir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))
    def rollup(maxSim: org.apache.spark.sql.DataFrame) = maxSim
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum((col("max_sim") >= 0.999).cast("int")).as("n_contaminated"),
        max(col("max_sim")).as("max_sim"))
      .orderBy("label").collect().map(_.toString).toSeq
    assert(rollup(Similarity.s12MaxSimKernel(e)) == rollup(Similarity.s12MaxSimJoin(e)),
      "kernel rollup diverges from the broadcast-product rollup at scale")
    assert(big.collect().map(_.toString).toSeq == rollup(Similarity.s12MaxSimJoin(e)),
      "the production query above the cutoff diverges from the join-form rollup")
  }

  test("s6: a constant vector quantizes to q=0 with zero error, not NaN") {
    // hi == lo makes the naive scale division 0/0; the guard must pin
    // q = 0 so the reconstruction is exact and the label aggregates
    // stay NaN-free.
    import spark.implicits._
    val dir = tempDir("s6const").toString
    Seq(
      (1L, Array.fill(64)(0.25f), 7),
      (2L, Array.tabulate(64)(i => i * 0.01f), 7))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = Similarity.s6Quantize(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[Long]("n_vecs") == 2L)
    val err = r.getAs[Double]("max_abs_err")
    assert(!err.isNaN, "constant vector leaked NaN into max_abs_err")
    assert(r.getAs[Boolean]("within_bound"), "error bound must hold with the guard")
    assert(r.getAs[Long]("q_min") == 0L)
  }

  test("s7: PQ profile is well-formed and codebook vectors quantize to themselves") {
    val rows = Similarity.s7ProductQuant(spark, sf).collect()
    assert(rows.length == 8, "one profile row per subspace")
    val n = Tables.embeddings(spark, sf).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vecs") == n, "every vector is assigned in every subspace")
      val codes = r.getAs[Long]("n_codes")
      assert(codes >= 1 && codes <= 16)
      assert(r.getAs[Long]("top_code_n") <= n)
      assert(r.getAs[Double]("avg_sq_err") >= 0.0)
    }
    // a corpus that IS the codebook must quantize losslessly: each seed
    // subvector's nearest code is itself at distance 0
    val dir = tempDir("s7seed").toString
    Tables.embeddings(spark, sf)
      .filter(col("vec_id") >= 200 && col("vec_id") < 216)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val seeds = Similarity.s7ProductQuant(spark, dir).collect()
    assert(seeds.length == 8)
    seeds.foreach { r =>
      assert(r.getAs[Long]("n_vecs") == 16L)
      assert(r.getAs[Long]("n_codes") == 16L, "16 seed vectors → 16 distinct codes")
      assert(r.getAs[Long]("top_code_n") == 1L)
      assert(r.getAs[Double]("avg_sq_err") == 0.0, "codebook must self-quantize exactly")
    }
  }

  test("native cosine_sim is bit-identical to the declarative fold it replaced") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 40)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val pairs = e.select(col("vec_id").as("va"), col("e").as("ea"))
      .join(e.select(col("vec_id").as("vb"), col("e").as("eb")), col("va") < col("vb"))
    def fold(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val rows = pairs.select(
      call_function("cosine_sim", col("ea"), col("eb")).as("native"),
      (fold(col("ea"), col("eb")) /
        (sqrt(fold(col("ea"), col("ea"))) * sqrt(fold(col("eb"), col("eb"))))).as("declarative"))
      .collect()
    assert(rows.length > 100)
    rows.foreach { r =>
      // bit-level equality, not approximate: the kernel claims the
      // exact same left-to-right IEEE fold
      assert(java.lang.Double.doubleToLongBits(r.getAs[Double]("native")) ==
        java.lang.Double.doubleToLongBits(r.getAs[Double]("declarative")))
    }
    // null semantics on length mismatch, matching zip_with's null-pad
    val mismatch = spark.sql(
      "SELECT cosine_sim(array(1.0d, 2.0d), array(1.0d)) AS c").collect()(0)
    assert(mismatch.isNullAt(0), "length mismatch must yield null")
  }

  test("s10: JL projection is unbiased and preserves a real fraction of distances") {
    val r = Similarity.s10JlProjection(spark, sf).collect()(0)
    val n = r.getAs[Long]("n_pairs")
    assert(n == 435L, "30-vector sample → C(30,2) audited pairs")
    // with the exact E[w²] normalization the estimator is unbiased —
    // the mean ratio must sit near 1, not near E[w²]/1e6 ≈ 0.334 (the
    // value an unnormalized ±1000-integer projection silently yields)
    val avg = r.getAs[Double]("avg_ratio")
    assert(avg > 0.85 && avg < 1.15, s"biased projection: mean ratio $avg")
    assert(r.getAs[Double]("min_ratio") > 0.0)
    assert(r.getAs[Double]("min_ratio") <= avg && avg <= r.getAs[Double]("max_ratio"))
    // k=16 is far under the JL bound for ε=0.25, so preservation is
    // partial by design — but it must be substantial, not degenerate
    val within = r.getAs[Long]("n_within_25pct")
    assert(within > n / 4 && within < n, s"implausible preservation: $within/$n")
  }

  test("s9: recall evaluation is exact, bounded, and measures a working index") {
    val rows = Similarity.s9RecallEval(spark, sf).collect()
    assert(rows.length == 10, "one row per query vector")
    rows.foreach { r =>
      val h = r.getAs[Long]("n_hits")
      assert(h >= 0 && h <= 5)
      assert(r.getAs[Double]("recall_at_5") == h.toDouble / 5.0)
    }
    // the index must beat random guessing: random top-5 from n vectors
    // recalls 5/n per query (<2% here); the bucket-geometry ceiling on
    // this corpus is ~0.5, so anything ≥ 0.2 mean proves the index works
    val mean = rows.map(_.getAs[Long]("n_hits")).sum.toDouble / (5.0 * rows.length)
    assert(mean >= 0.2, s"LSH recall collapsed to $mean")
  }

  test("s8: k-means partitions the corpus; inertia positive; deterministic") {
    val rows = Similarity.s8Kmeans(spark, sf).collect()
    val total = Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_members")).sum == total,
      "every vector must be assigned to exactly one cluster")
    assert(rows.map(_.getAs[Long]("cl")).forall(c => c >= 0 && c < 8))
    rows.foreach(r => assert(r.getAs[Double]("inertia") > 0.0))
    // near-orthogonal corpus → no empty clusters and no one-cluster collapse
    assert(rows.length > 1)
    // bit-determinism across runs (fresh plan, same result)
    val again = Similarity.s8Kmeans(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("s11: IVF-PQ ADC search equals the brute-force recompute of the whole pipeline") {
    def round6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // coarse: round-6 cosine argmax over the 32 seed centroids (the
    // kernel's left-to-right fold), top-2 probe for the queries
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      round6(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
    val cids = (100L until 132L).filter(emb.contains)
    def rankedCells(v: Array[Double]): Seq[Long] =
      cids.sortBy(c => (-cos(v, emb(c)), c))
    val assign = emb.map { case (id, v) => id -> rankedCells(v).head }
    // PQ: per (vec, sub) argmin round-6 subspace L2² over the 16 codes
    def subErr(v: Array[Double], codeVec: Array[Double], sub: Int): Double =
      round6((0 until 8).map(k => { val dx = v(sub * 8 + k) - codeVec(sub * 8 + k); dx * dx }).sum)
    val codeVecs = (0 until 16).map(c => emb(200L + c))
    def codesOf(v: Array[Double]): Array[Int] =
      (0 until 8).map(sub => (0 until 16).minBy(c => (subErr(v, codeVecs(c), sub), c))).toArray
    // ADC in exact micro-units (the engine sums DECIMAL(30,6) entries)
    val want = (0L until 10L).filter(emb.contains).flatMap { qid =>
      val lut = Array.tabulate(8, 16)((sub, c) =>
        math.round(subErr(emb(qid), codeVecs(c), sub) * 1e6))
      val cells = rankedCells(emb(qid)).take(2).toSet
      val cand = assign.collect {
        case (id, cell) if cells(cell) && id != qid => id
      }
      val scored = cand.map { id =>
        val ks = codesOf(emb(id))
        id -> (0 until 8).map(sub => lut(sub)(ks(sub))).sum
      }.toSeq.sortBy { case (id, adc) => (adc, id) }.take(5)
      scored.zipWithIndex.map { case ((id, adcMicro), i) =>
        (qid, i + 1L) -> (id, adcMicro)
      }
    }.toMap
    val got = Similarity.s11IvfPq(spark, sf).collect().map { r =>
      (r.getAs[Long]("qid"), r.getAs[Int]("rank").toLong) ->
        (r.getAs[Long]("vec_id"), math.round(r.getAs[Double]("adc") * 1e6))
    }.toMap
    assert(got == want, s"ADC search diverges from brute force")
    // and the search is genuinely pruned: candidates came from 2 of 32
    // cells, so each query returns at most 5 of a strict corpus subset
    assert(got.keys.map(_._1).toSet.forall(q => got.count(_._1._1 == q) <= 5))
  }

  test("s12: flags exactly the planted benchmark leaks, nothing else") {
    val rows = Similarity.s12SemanticDecontam(spark, sf).collect()
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    // ground truth: the %97 vectors are the benchmark sources — their
    // scaled copies score cosine 1.0 against themselves (scale
    // invariance), everything else stays far below the 0.999 bar
    val plantedByLabel = emb.filter(_._1 % 97 == 0)
      .groupBy(_._2.toLong).view.mapValues(_.length.toLong).toMap
    val gotContam = rows.map(r =>
      r.getAs[Long]("label") -> r.getAs[Long]("n_contaminated"))
      .filter(_._2 > 0).toMap
    assert(gotContam == plantedByLabel,
      s"flagged set diverges from the planted leaks: $gotContam vs $plantedByLabel")
    // accounting covers the whole corpus
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == emb.length)
    // clean margin: every unflagged label's max similarity is far from
    // the threshold (a near-miss would make the gate fragile)
    rows.filter(_.getAs[Long]("n_contaminated") == 0).foreach { r =>
      assert(r.getAs[Double]("max_sim") < 0.9, r.toString)
    }
  }
}
