package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.GraftTestSession

/** Dedup suite over the sf0.001 corpus. The DuckDB oracle (driver t2)
  * checks cross-engine hash parity; these specs check the *semantics*:
  * LSH recall against an in-Spark all-pairs ground truth, stat
  * consistency, and threshold invariants.
  */
class DedupSpec extends AnyFunSuite with GraftTestSession {

  private val sf = "/root/testdata/sf0.001"

  private def triple(r: org.apache.spark.sql.Row): (Long, Long, Double) =
    (r.getLong(0), r.getLong(1), r.getDouble(2))

  test("d1: stats add up against the raw table") {
    val r = Dedup.d1ExactDedup(spark, sf).collect()(0)
    val nDocs = Tables.documents(spark, sf).count()
    assert(r.getAs[Long]("n_docs") == nDocs)
    assert(r.getAs[Long]("n_unique") + r.getAs[Long]("n_dup_docs") == nDocs)
    assert(r.getAs[Long]("n_dup_groups") <= r.getAs[Long]("n_dup_docs") ||
      r.getAs[Long]("n_dup_docs") == 0)
  }

  test("d2: MinHash-LSH finds exactly the ground-truth pairs >= 0.5 (full recall)") {
    // Brute-force all-pairs ground truth — affordable at sf0.001 only.
    val docs = Tables.documents(spark, sf)
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val sh = toks.select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(0), size(col("t")) - 3),
          i => concat_ws(" ", slice(col("t"), i + 1, lit(3)))))).as("shingle"))
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .agg(count(lit(1)).as("c"))
    val truth = inter
      .join(counts.as("ca"), col("ca.doc_id") === col("da"))
      .join(counts.as("cb"), col("cb.doc_id") === col("db"))
      .filter(col("c") / (col("ca.n") + col("cb.n") - col("c")) >= 0.5)
      .select(col("da"), col("db"), round(col("c") / (col("ca.n") + col("cb.n") - col("c")), 6))
      .collect().map(triple).toSet

    val lsh = Dedup.d2MinhashLsh(spark, sf).collect().map(triple).toSet
    assert(lsh == truth, s"LSH=$lsh truth=$truth")
    assert(truth.nonEmpty, "corpus should contain injected near-dups")
  }

  test("d3: simhash banding is COMPLETE for hamming <= 3 (pigeonhole) and matches brute force") {
    // 4 bands of 15 bits: <=3 differing bits leave >=1 band untouched,
    // so the band join cannot miss a qualifying pair — verify against
    // the all-pairs ground truth over the full signatures.
    val rows = Dedup.d3Simhash(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(2) >= 0 && r.getInt(2) <= 3)
      assert(r.getLong(0) < r.getLong(1))
    }
    // brute-force ground truth: recompute the signatures with the same
    // definition and do the all-pairs hamming join (affordable at sf0.001)
    val docs = Tables.documents(spark, sf)
    val th = docs.select(col("doc_id"), explode(
        when(size(split(col("text"), " ")) >= 3,
          transform(sequence(lit(0), size(split(col("text"), " ")) - 3),
            i => concat_ws(" ", slice(split(col("text"), " "), i + 1, lit(3)))))
          .otherwise(array().cast("array<string>"))).as("sh"))
      .select(col("doc_id"),
        conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long").as("h"))
    val bitAggs = (0 until 60).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b"))
    val sig = th.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("sim"))
    val truth = sig.as("a").join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        expr("bit_count(a.sim ^ b.sim)").as("hd"))
      .filter(col("hd") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth, s"banding must be lossless: got=$got truth=$truth")
  }

  test("d4: length-band blocking is lossless vs brute-force 5-gram Jaccard ground truth") {
    val rows = Dedup.d4NgramJaccard(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val j = r.getDouble(2)
      assert(j >= 0.5 && j <= 1.0, s"jacc out of range: $j")
    }

    val docs = Tables.documents(spark, sf)
    val ng = docs.select(col("doc_id"), explode(array_distinct(
        when(length(col("text")) >= 5,
          transform(sequence(lit(1), length(col("text")) - 4),
            i => col("text").substr(i, lit(5))))
          .otherwise(array().cast("array<string>")))).as("ng"))
    val counts = ng.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = ng.as("x").join(ng.as("y"),
        col("x.ng") === col("y.ng") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .agg(count(lit(1)).as("c"))
    val truth = inter
      .join(counts.as("ca"), col("ca.doc_id") === col("da"))
      .join(counts.as("cb"), col("cb.doc_id") === col("db"))
      .filter(col("c") / (col("ca.n") + col("cb.n") - col("c")) >= 0.5)
      .select(col("da"), col("db"), round(col("c") / (col("ca.n") + col("cb.n") - col("c")), 6))
      .collect().map(triple).toSet
    val got = rows.map(triple).toSet
    assert(got == truth, s"blocking dropped true pairs: missing=${truth.diff(got)}")
  }

  test("d4: documents with no 5-gram or no shared 5-gram pair with nothing, without error") {
    // every pair here lands in one length bucket, but no two sets share
    // a 5-gram: docs 1 and 2 are under 5 characters and doc 5 has no
    // text, so their sets are empty and (1,2), (1,5), (2,5) would
    // compute 0/0, which ANSI mode raises; docs 3 and 4 are a disjoint
    // pair (c = 0 over a non-empty union)
    import spark.implicits._
    val docs = Seq[(Long, String, Long)]((1L, "abc", 3L), (2L, "wxyz", 4L),
        (3L, "aaaaaaa", 7L), (4L, "bbbbbbb", 7L), (5L, null, 0L))
      .toDF("doc_id", "text", "n_chars")
    val dir = tempDir("d4empty").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Dedup.d4Candidates(Tables.documents(spark, dir)).count() == 10,
      "every pair must reach the verify")
    val got = Dedup.d4NgramJaccard(spark, dir).collect()
    assert(got.isEmpty, s"pairs without a shared 5-gram emitted: ${got.toSeq}")
  }

  test("d7: clusters are the connected components of the verified pair graph") {
    val pairs = Dedup.d2MinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.d7DupClusters(spark, sf).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("n_docs"), r.getAs[Long]("n_removed")))

    // union-find ground truth on the driver
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.groupBy(find).map { case (root, ms) =>
      val all = ms.toSet + root
      (all.min, all.size.toLong)
    }.toSet
    assert(clusters.map(c => (c._1, c._2)).toSet == truth)
    // representative is the cluster id itself; n_removed counts the rest
    clusters.foreach { case (_, n, removed) => assert(removed == n - 1 && n >= 2) }
  }

  test("connectedComponents matches union-find on adversarial graphs (chain, rings, random)") {
    import spark.implicits._
    def truthOf(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    def check(pairs: Seq[(Long, Long)], name: String): Unit = {
      val got = Dedup.connectedComponents(pairs.toDF("da", "db")).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("label")).toMap
      assert(got == truthOf(pairs), s"$name: components differ")
    }
    // 120-node chain: diameter 119 — pure edge-pull propagation would
    // need 119 rounds; the pointer jump must close it within the cap
    check((0L until 119L).map(i => (i, i + 1)), "chain-120")
    // two rings joined by one bridge, labels descending against the walk
    val ring1 = (0L until 30L).map(i => (i, (i + 1) % 30))
    val ring2 = (100L until 130L).map(i => (i, 100L + (i - 99L) % 30))
    check(ring1 ++ ring2 :+ (29L -> 115L), "bridged-rings")
    // deterministic pseudo-random sparse graph
    val rnd = new scala.util.Random(42)
    val rand = Seq.fill(200)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    check(rand, "random-80")
  }

  test("d10: incremental pairs equal d2 restricted to boundary-crossing pairs") {
    import org.apache.spark.sql.functions._
    val base = Tables.documents(spark, sf)
      .select(col("doc_id"),
        (pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10).cast("long"),
          lit(100L)) < 80).as("is_base"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("da"), r.getAs[Long]("db"), r.getAs[Double]("jacc"))
    val full = Dedup.d2MinhashLsh(spark, sf).collect()
    val want = full.filter(r => base(r.getAs[Long]("da")) != base(r.getAs[Long]("db")))
      .map(key).toSet
    val got = Dedup.d10IncrementalNeardup(spark, sf).collect().map(key).toSet
    // the incremental (delta×base-only) formulation must lose nothing
    // and invent nothing vs the full self-join filtered after the fact
    assert(got == want, s"incremental/full divergence: only-inc=${got -- want}, only-full=${want -- got}")
    assert(got.nonEmpty || full.isEmpty)
  }

  test("d9: bloom decontamination — no false negatives, exact FP accounting") {
    val r = Dedup.d9BloomDecontam(spark, sf).collect()(0)
    val (nTrain, nTest) = (r.getAs[Long]("n_train"), r.getAs[Long]("n_test"))
    val bits = r.getAs[Long]("n_bits_set")
    val (flagged, exact, fp) = (r.getAs[Long]("n_flagged"),
      r.getAs[Long]("n_exact_dup"), r.getAs[Long]("n_false_pos"))
    assert(nTrain > 0 && nTest > 0)
    // the filter sets at most k=3 bits per test doc, inside the 256-bit space
    assert(bits <= (nTest * 3).min(256L))
    assert(bits > 0)
    // Bloom superset property: an exact duplicate's bits are all set, so
    // exact ⊆ flagged and the FP count is the literal difference
    assert(flagged >= exact, "bloom filter produced a false negative")
    assert(fp == flagged - exact)
    assert(flagged <= nTrain)
  }

  test("d11: interval-union coverage on pinned overlap/adjacency/internal-repeat corners") {
    // Pins the r15 rewrite (min!=max dup predicate + sorted interval
    // union instead of explode+countDistinct) on shapes the sf corpus
    // may not contain: overlapping dup windows (a shared 20-word span
    // = 5 overlapping W=16 windows, union 20 not 80), two DISJOINT
    // shared spans in one doc, and a span repeated only WITHIN one doc
    // (min==max — must not count as duplicated).
    import spark.implicits._
    val W = 16
    def words(tag: String, n: Int): Seq[String] = (0 until n).map(i => s"$tag$i")
    val shared = words("s", 20) // 20-word shared span: 5 windows, union 20
    val shared2 = words("u", W) // second shared span: 1 window, union 16
    val selfRep = words("r", W) // repeated twice inside doc 4 only
    val docs = Seq(
      (1L, (words("a", 8) ++ shared ++ words("b", 8) ++ shared2).mkString(" ")),
      (2L, (shared ++ words("c", 10)).mkString(" ")),
      (3L, (words("d", 5) ++ shared2).mkString(" ")),
      (4L, (selfRep ++ words("e", 4) ++ selfRep).mkString(" ")))
      .toDF("doc_id", "text")
    val dir = tempDir("d11fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.d11SubstringSpans(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_dup_windows"), r.getAs[Long]("covered_tokens"))).toMap
    // doc 1: 5 overlapping windows from `shared` (cover 20) + 1 from
    // `shared2` (cover 16) = 6 windows, 36 covered; doc 2: 5 windows /
    // 20 covered; doc 3: 1 window / 16 covered; doc 4: absent — its
    // repeat never leaves the doc
    assert(got == Map(1L -> (6L, 36L), 2L -> (5L, 20L), 3L -> (1L, 16L)),
      s"pinned interval-union corners diverged: $got")
  }

  test("d11: span coverage equals the brute-force rolling-window ground truth") {
    val W = 16
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    // ground truth: every W-word window string → set of docs containing it
    val occ = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    for ((id, ws) <- texts; p <- 0 to ws.length - W)
      occ.getOrElseUpdate(ws.slice(p, p + W).mkString(" "),
        scala.collection.mutable.Set.empty) += id
    val dupWins = occ.filter(_._2.size >= 2).keySet
    val want = texts.flatMap { case (id, ws) =>
      val dupPos = (0 to ws.length - W)
        .filter(p => dupWins(ws.slice(p, p + W).mkString(" ")))
      if (dupPos.isEmpty) None
      else Some(id -> (dupPos.size.toLong,
        dupPos.flatMap(p => p until p + W).distinct.size.toLong))
    }
    val got = Dedup.d11SubstringSpans(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_dup_windows"), r.getAs[Long]("covered_tokens"))).toMap
    assert(got == want.toMap,
      s"span dedup diverges from brute force: got=$got want=${want.toMap}")
    // coverage can never exceed the doc and a duplicated window implies
    // at least W covered tokens
    Dedup.d11SubstringSpans(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("covered_tokens") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("covered_tokens") >= W)
    }
  }
}
