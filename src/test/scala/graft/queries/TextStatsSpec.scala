package graft.queries

import org.apache.spark.sql.functions.{col, countDistinct, explode, max, size, split}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.GraftTestSession

/** Semantic checks for the text-analysis surface (cross-engine hash
  * parity is the DuckDB oracle's job; these pin the invariants).
  */
class TextStatsSpec extends AnyFunSuite with GraftTestSession {

  private val sf = "/root/testdata/sf0.001"

  test("t1: confusion matrix partitions the corpus (every doc classified exactly once)") {
    val conf = TextStats.t1LangId(spark, sf).collect()
    val total = conf.map(_.getAs[Long]("n")).sum
    val nDocs = Tables.documents(spark, sf).count()
    assert(total == nDocs)
    val langs = Tables.documents(spark, sf).select("lang").distinct().count()
    // predictions stay within the label set
    conf.foreach { r =>
      assert(r.getAs[String]("pred_lang").nonEmpty)
    }
    assert(conf.map(_.getAs[String]("true_lang")).distinct.length == langs)
  }

  test("t1: per-row kernel equals the window form on a unicode-hostile corpus") {
    // The kernel re-implements substr()'s code-point stepping and
    // Spark's UTF-8 binary string sort in JVM code; this fixture is
    // built to catch every divergence the rewrite could introduce:
    // supplementary characters (UTF-16 surrogate pairs, where
    // code-unit stepping and String.compareTo both disagree with
    // Spark), count ties broken only by gram order, >100 distinct
    // grams (cap engaged), <3-char and empty docs (must drop), and
    // repeated grams spanning doc boundaries.
    import spark.implicits._
    val sup = new String(Array(0x10000, 0x10001, 0xFFFF, 0x10000, 0x10001, 0xFFFF), 0, 6)
    val longTail = (0 until 130).map(i => f"x$i%03d").mkString("") // >100 distinct grams
    val rows = Seq(
      (1L, "abcabcabc" + sup * 3, "aa", "s1", 0L),
      (2L, sup * 10 + "abc", "bb", "s1", 0L),
      (3L, "tietietie" + "eittie", "aa", "s1", 0L),
      (4L, longTail, "bb", "s1", 0L),
      (5L, "ab", "aa", "s1", 0L), // too short: must vanish from the matrix
      (6L, "", "bb", "s1", 0L),
      (7L, "the quick brown fox jumps over the lazy dog the end", "cc", "s1", 0L),
      (8L, "zzz" + new String(Array(0x10FFFF, 0x10FFFF, 0x10FFFF), 0, 3), "cc", "s1", 0L))
    val dir = tempDir("t1diff").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kernel = TextStats.t1LangId(spark, dir).collect().map(_.toSeq).toSeq
    val window = T1WindowForm(spark, dir).collect().map(_.toSeq).toSeq
    assert(kernel == window)
    // the two short docs dropped from both
    assert(kernel.map(_(2).asInstanceOf[Long]).sum == 6L)
  }

  test("t1: t1Top100 matches the SQL-form ranking rules directly") {
    // ties: counts equal -> gram ascending in UTF-8 byte order; the
    // supplementary char U+10000 must rank ABOVE (sort after) U+FFFF
    // even though java.lang.String.compareTo says the opposite.
    val hi = new String(Character.toChars(0x10000))
    val lo = "￿"
    val text = (lo + lo + lo) + (hi + hi + hi) // grams: lo*3 once... build explicit repeats
    val prof = TextStats.t1Top100(text)
    // 4 grams of length 3 over 6 code points: positions 1..4
    assert(prof.length == 4)
    // all counts are 1 -> pure byte-order ranking; first is the
    // UTF-8-smallest gram
    val byRank = prof.sortBy(_.drank).map(_.ng)
    val utf8 = (s: String) => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    byRank.sliding(2).foreach { case Array(a, b) =>
      assert(java.util.Arrays.compareUnsigned(utf8(a), utf8(b)) < 0)
    }
    // counting: a repeated gram outranks byte-smaller singletons
    val p2 = TextStats.t1Top100("aaaab")
    assert(p2.head.ng == "aaa" && p2.head.drank == 1) // count 2 beats "aab"
    assert(TextStats.t1Top100("ab").isEmpty && TextStats.t1Top100(null).isEmpty)
    // cap: 150 distinct grams -> exactly 100 survive
    val many = (0 until 150).map(i => f"y$i%03d").mkString("")
    assert(TextStats.t1Top100(many).length == 100)
  }

  test("t2: one row per source; ratios and score bounded") {
    val rows = TextStats.t2Quality(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).select("source").distinct().count())
    rows.foreach { r =>
      val q = r.getAs[Double]("avg_quality")
      val stop = r.getAs[Double]("avg_stop_ratio")
      val dup = r.getAs[Double]("avg_dup_ratio")
      assert(q > 0.0 && q <= 1.0, s"quality out of range: $q")
      assert(stop >= 0.0 && stop <= 1.0)
      assert(dup >= 0.0 && dup <= 1.0)
      assert(r.getAs[Long]("n_low_quality") <= r.getAs[Long]("n_docs"))
    }
  }

  test("t3: token accounting is self-consistent") {
    val r = TextStats.t3TokenStats(spark, sf).collect()(0)
    val nWs = r.getAs[Long]("n_ws_tokens")
    val nDistinct = r.getAs[Long]("n_distinct_tokens")
    assert(nWs > 0 && nDistinct > 0 && nDistinct <= nWs)
    // the regex tokenizer splits at least as fine as whitespace
    assert(r.getAs[Long]("n_re_tokens") >= nWs)
    val ttr = r.getAs[Double]("ttr")
    assert(ttr > 0.0 && ttr <= 1.0)
  }

  test("t5: vocabulary is dense-ranked, frequency-sorted, and counts are exact") {
    val rows = TextStats.t5Vocab(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val ranks = rows.map(_.getAs[Long]("rank"))
    assert(ranks.sameElements(1 to rows.length))
    val cnts = rows.map(_.getAs[Long]("cnt"))
    assert(cnts.sameElements(cnts.sortBy(-_)), "counts must be non-increasing")
    // spot-check the top token's count against a direct aggregation
    val top = rows.head
    val direct = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("tok"))
      .filter(col("tok") === top.getAs[String]("tok")).count()
    assert(direct == top.getAs[Long]("cnt"))
  }

  test("t4: winnowing pairs are ordered, bounded, and consistent with MinHash near-dups") {
    val rows = TextStats.t4Fingerprint(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val ov = r.getDouble(2)
      assert(ov >= 0.5 && ov <= 1.0, s"overlap out of range: $ov")
    }
    // high-Jaccard pairs (>=0.9 on 3-gram shingles) must also share
    // fingerprint windows — winnowing guarantees verbatim shared
    // substrings >= 28 chars produce shared fingerprints, and near-dup
    // texts share long verbatim runs.
    val strong = Dedup.d2MinhashLsh(spark, sf).collect()
      .filter(_.getDouble(2) >= 0.9).map(r => (r.getLong(0), r.getLong(1))).toSet
    val fpPairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong.subsetOf(fpPairs),
      s"missing winnowing pairs for strong near-dups: ${strong.diff(fpPairs)}")
  }

  test("t7: contaminated test docs include every cross-split t4 near-dup pair") {
    val rows = TextStats.t7Contamination(spark, sf).collect()
    val flagged = rows.map(_.getAs[Long]("test_doc_id")).toSet
    // split assignment replicated driver-side
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0))
    def bucket(id: Long): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md5.map("%02x".format(_)).mkString.take(12)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    val split = docs.map(id => id ->
      (if (bucket(id) < 80) "train" else if (bucket(id) < 90) "val" else "test")).toMap
    // every flagged doc really is in the test split
    flagged.foreach(idd => assert(split(idd) == "test", s"$idd not a test doc"))
    // t4 pairs have fingerprint overlap >= 0.5, so any train/test pair
    // must be flagged
    val t4pairs = TextStats.t4Fingerprint(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    t4pairs.foreach { case (a, b) =>
      if (split(a) == "train" && split(b) == "test") assert(flagged(b), s"missed $b (pair $a)")
      if (split(b) == "train" && split(a) == "test") assert(flagged(a), s"missed $a (pair $b)")
    }
  }

  test("t8: mixing shares are positive and sum to 1 within rounding") {
    val rows = TextStats.t8MixWeights(spark, sf).collect()
    assert(rows.length > 1)
    val shares = rows.map(_.getAs[Double]("share"))
    shares.foreach(sh => assert(sh > 0 && sh < 1))
    assert(math.abs(shares.sum - 1.0) < 1e-4, s"shares sum to ${shares.sum}")
  }

  test("t6: hash split partitions the corpus 80/10/10 and is stable across runs") {
    val rows = TextStats.t6Split(spark, sf).collect()
    val total = graft.sources.Tables.documents(spark, sf).count()
    val byName = rows.map(r => r.getString(0) -> r.getAs[Long]("n_docs")).toMap
    assert(byName.values.sum == total, "splits must partition the corpus")
    assert(byName.keySet == Set("train", "val", "test"))
    // md5-uniform buckets: generous bounds at this corpus size
    val trainShare = byName("train").toDouble / total
    assert(trainShare > 0.7 && trainShare < 0.9, s"train share off: $trainShare")
    // determinism: identical result on re-run (no RNG, no time)
    val again = TextStats.t6Split(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_docs")).toMap
    assert(again == byName)
  }

  test("t9: repetition accounting is bounded and covers every >=3-word doc") {
    val rows = TextStats.t9Repetition(spark, sf).collect()
    val eligible = graft.sources.Tables.documents(spark, sf)
      .filter(size(split(col("text"), " ")) >= 3).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == eligible,
      "every doc with >=3 words gets a repetition score")
    rows.foreach { r =>
      val tri = r.getAs[Long]("total_tri")
      val dup = r.getAs[Long]("total_dup")
      assert(dup >= 0 && dup <= tri)
      val frac = r.getAs[Double]("dup_frac")
      assert(frac >= 0.0 && frac <= 1.0)
      assert(r.getAs[Long]("n_flagged") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("max_doc_dup") <= tri)
    }
  }

  test("t9: a planted fully-repetitive doc is flagged") {
    // 30 copies of the same word -> 28 trigrams, 1 distinct, dup frac ~0.96
    import spark.implicits._
    val w = Seq.fill(30)("spam").mkString(" ")
    val dir = tempDir("t9-planted").toString
    graft.sources.Tables.documents(spark, sf)
      .unionByName(Seq((100000L, w, "en", "srcPLANT", w.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = TextStats.t9Repetition(spark, dir).collect()
      .filter(_.getString(0) == "srcPLANT")
    assert(planted.length == 1)
    assert(planted(0).getAs[Long]("n_flagged") == 1L)
    assert(planted(0).getAs[Double]("dup_frac") > 0.9)
  }

  test("t11: CMS never underestimates, visibly collides at w=16, and the exact side is true") {
    val rows = TextStats.t11CmsTopk(spark, sf).collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getAs[Boolean]("never_underestimates")),
      "count-min must never underestimate")
    assert(rows.exists(r => r.getAs[Long]("est_n") > r.getAs[Long]("exact_n")),
      "the deliberately tiny width must produce at least one collision overestimate")
    val direct = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    rows.foreach(r =>
      assert(r.getAs[Long]("exact_n") == direct(r.getString(0)),
        s"exact side wrong for ${r.getString(0)}"))
  }

  test("t10: sample is exactly min(15, stratum size), within range, and stable") {
    val rows = TextStats.t10StratifiedSample(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      assert(r.getAs[Long]("n_sampled") == math.min(15L, n))
      assert(r.getAs[Long]("min_sampled_doc") <= r.getAs[Long]("max_sampled_doc"))
    }
    val again = TextStats.t10StratifiedSample(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "hash-ranked sample must be deterministic")
  }

  test("t12: shared fractions are bounded and a planted duplicate pair is majority-boilerplate") {
    val rows = TextStats.t12Boilerplate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_shared") <= r.getAs[Long]("n_shingles"))
      assert(r.getAs[Long]("n_boilerplate_docs") <= r.getAs[Long]("n_docs"))
      val frac = r.getAs[Double]("shared_frac")
      assert(frac >= 0.0 && frac <= 1.0)
    }
    // planted corpus: two identical docs share every shingle; the third
    // shares none — exactly 2 majority-boilerplate docs
    import spark.implicits._
    val dir = tempDir("t12dup").toString
    val same = "alpha beta gamma delta epsilon zeta eta theta"
    Seq(
      (1L, same, "en", "srcA", same.length.toLong),
      (2L, same, "en", "srcA", same.length.toLong),
      (3L, "one two three four five six seven eight", "en", "srcA", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = TextStats.t12Boilerplate(spark, dir).collect()
    assert(planted.length == 1)
    assert(planted(0).getAs[Long]("n_docs") == 3L)
    assert(planted(0).getAs[Long]("n_boilerplate_docs") == 2L)
    assert(planted(0).getAs[Long]("n_shared") == 8L, "4 shared shingles × 2 docs")
  }

  test("t13: novelty accounting is bounded and consistent with the t6 split") {
    val rows = TextStats.t13Novelty(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_novel") <= r.getAs[Long]("n_tri"))
      assert(r.getAs[Long]("n_distinct_novel") <= r.getAs[Long]("n_novel"))
      val f = r.getAs[Double]("novel_frac")
      assert(f >= 0.0 && f <= 1.0)
    }
    // scored docs are exactly the ≥3-word docs of the t6 test split
    val testDocs = TextStats.t6Split(spark, sf).collect()
      .find(_.getString(0) == "test").get.getAs[Long]("n_docs")
    assert(rows.map(_.getAs[Long]("n_test_docs")).sum <= testDocs)
    assert(rows.map(_.getAs[Long]("n_test_docs")).sum > 0)
    // novelty must be non-degenerate on the synthetic corpus: some
    // trigrams novel, some seen (else the metric measures nothing)
    assert(rows.map(_.getAs[Long]("n_novel")).sum > 0)
    assert(rows.exists(r => r.getAs[Long]("n_novel") < r.getAs[Long]("n_tri")))
  }

  test("t14: every planted PII item is detected and redaction is lossy-by-exactly-that") {
    val rows = TextStats.t14PiiRedact(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      // each doc plants exactly one email/ip/card/phone; the detectors
      // must find all of them and nothing in the PII-free base text
      assert(r.getAs[Long]("n_email") == n, "email detector missed a planted address")
      assert(r.getAs[Long]("n_ip") == n)
      assert(r.getAs[Long]("n_card") == n)
      assert(r.getAs[Long]("n_phone") == n)
      // redaction replaces every item with a shorter token → strictly lossy
      assert(r.getAs[Long]("chars_redacted") > 0)
      assert(r.getAs[Long]("redact_checksum") > 0)
    }
  }

  test("t15: packing accounting — sequences cover tokens, crossings bounded") {
    val rows = TextStats.t15SeqPack(spark, sf).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("test", "train", "val"))
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val tok = r.getAs[Long]("total_tokens")
      val seqs = r.getAs[Long]("n_sequences")
      // n_sequences = ceil(total / 256) exactly
      assert(seqs == (tok + 255) / 256, s"sequence count wrong: $tok tokens → $seqs")
      // every doc is ≤ 256 tokens here, so a doc crosses at most one
      // boundary and there are only n_sequences - 1 boundaries
      assert(r.getAs[Long]("n_crossing_docs") <= seqs)
      assert(r.getAs[Long]("max_docs_started_in_seq") >= 1)
      assert(r.getAs[Long]("max_docs_started_in_seq") <= r.getAs[Long]("n_docs"))
    }
  }

  test("t17: rarity floors at 1e6, hapax and doc counts tie out") {
    val rows = TextStats.t17Rarity(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.foreach { r =>
      // rarity = N*1e6 div df with df ≤ N, so every token scores ≥ 1e6
      // and a hapax scores exactly N*1e6
      assert(r.getAs[Double]("avg_rarity") >= 1000000.0)
      assert(r.getAs[Long]("max_rarity") <= nDocs * 1000000L)
      assert(r.getAs[Long]("n_hapax") >= 0)
      if (r.getAs[Long]("n_hapax") > 0)
        assert(r.getAs[Long]("max_rarity") == nDocs * 1000000L,
          "a source with a hapax must see the max rarity score")
    }
  }

  test("t18: curation report ties out to the t6 split and d1 accounting") {
    val rows = TextStats.t18CurationReport(spark, sf).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("test", "train", "val"))
    val splitSizes = TextStats.t6Split(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_docs")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") == splitSizes(r.getString(0)),
        "curation volumes must equal the t6 split sizes")
      assert(r.getAs[Long]("n_exact_dups") ==
        r.getAs[Long]("n_docs") - r.getAs[Long]("n_unique"))
      val q = r.getAs[Double]("avg_quality")
      assert(q > 0.0 && q <= 1.0)
      assert(r.getAs[Long]("n_low_quality") <= r.getAs[Long]("n_docs"))
    }
  }

  test("t16: top-3 terms per doc, integer score consistent with tf/df") {
    val docs = Tables.documents(spark, sf).count()
    val rows = TextStats.t16Tfidf(spark, sf).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.nonEmpty && byDoc.keySet.forall(_ < 20))
    byDoc.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to rs.length))
      assert(rs.length <= 3)
      // score must be exactly the integer-scaled tf-idf and non-increasing in rank
      rs.foreach { r =>
        assert(r.getAs[Long]("score") ==
          r.getAs[Long]("tf") * 1000000L * docs / r.getAs[Long]("df"))
      }
      val byRank = rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("score"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // rare terms must outrank stopwords: every top-1 term's df is
    // STRICTLY below the corpus-wide max df, computed independently
    // over the full documents table (the "the"-class words never win —
    // comparing against the returned rows' own max would be vacuous)
    val corpusMaxDf = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(countDistinct(col("doc_id")).as("df"))
      .agg(max(col("df"))).head().getLong(0)
    val top1Df = byDoc.values.map(_.minBy(_.getAs[Int]("rnk")).getAs[Long]("df"))
    assert(top1Df.forall(_ < corpusMaxDf),
      s"a stopword-class term (df=$corpusMaxDf) won a doc's top-1 slot")
  }

  test("t19: per-doc scores equal the brute-force bigram LM; the model is a proper conditional") {
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // corpus model, driver-side
    val cnt = scala.collection.mutable.Map.empty[String, Long]
    for ((_, t) <- texts; i <- 0 until t.length - 1)
      cnt.updateWith(t.substring(i, i + 2))(c => Some(c.getOrElse(0L) + 1))
    val pre = cnt.groupMapReduce(_._1.substring(0, 1))(_._2)(_ + _)
    // P(·|c1) sums to 1 for every prefix — an MLE conditional by construction
    for ((c1, tot) <- pre) {
      val s = cnt.collect { case (bg, c) if bg.startsWith(c1) => c.toDouble / tot }.sum
      assert(math.abs(s - 1.0) < 1e-9, s"P(.|$c1) sums to $s")
    }
    val got = TextStats.t19BigramLm(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_cond_p"))).toMap
    assert(got.keySet == texts.filter(_._2.length >= 2).keySet)
    for ((id, t) <- texts if t.length >= 2) {
      val ppm = (0 until t.length - 1).map { i =>
        val bg = t.substring(i, i + 2)
        math.floor(cnt(bg).toDouble / pre(bg.substring(0, 1)) * 1000000.0).toLong
      }
      val (nb, score) = got(id)
      assert(nb == ppm.length)
      // the engine takes the exact-integer route (floor to ppm, integer
      // round-half-up mean, one final division) — so equality is EXACT
      val wantPpm = (2 * ppm.sum + nb) / (2 * nb)
      assert(score == wantPpm.toDouble / 1000000.0,
        s"doc $id: engine=$score brute=${wantPpm.toDouble / 1000000.0}")
      assert(score > 0.0 && score < 1.0)
      // and the integer route stays within one ppm of the true mean
      val trueMean = ppm.map(_.toDouble / 1e6).sum / nb
      assert(math.abs(score - trueMean) <= 1e-6)
    }
  }
}
