package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession
import graft.sources.Tables

/** Executable evidence for the 100 TB design points that small-SF
  * correctness runs don't exercise: bucketed co-located joins (no
  * exchange), salted skew-join equivalence, and partition-count
  * independence of every oracled result.
  */
class ScaleSpec extends AnyFunSuite with GraftTestSession {

  private val sf = "/root/testdata/sf0.001"

  /** saveAsTable location survives session/catalog mismatches across
    * suite runs — drop both the catalog entry and the directory. */
  private def resetTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    if (loc.exists()) rm(loc)
  }

  test("bucketed tables join without any shuffle exchange") {
    // the co-location recipe for a repeatedly-joined 100 TB fact table:
    // bucket both sides on the join key at write time, then every
    // subsequent join is exchange-free.
    resetTable("li_bucketed")
    resetTable("ord_bucketed")
    Tables.lineitem(spark, sf).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    Tables.orders(spark, sf).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("ord_bucketed")

    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed join must not shuffle the fact side:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle the dim side:\n$plan")

    // same result as the plain shuffled join
    val expected = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("salted aggregation equals direct aggregation (skew recipe)") {
    // two-phase salted aggregation for a skewed group key: explode the
    // hot key over S salts, partially aggregate on (key, salt), then
    // collapse. Counts/sums are associative so the rewrite is exact.
    val S = 8
    val li = Tables.lineitem(spark, sf)
    val direct = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("decimal(30,6)")).as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet

    val salted = li
      .withColumn("salt", pmod(col("l_orderkey"), lit(S)))
      .groupBy("l_returnflag", "salt")
      .agg(count(lit(1)).as("pn"), sum(col("l_quantity").cast("decimal(30,6)")).as("pq"))
      .groupBy("l_returnflag")
      .agg(sum("pn").cast("long").as("n"), sum("pq").cast("decimal(30,6)").as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    assert(salted == direct)
  }

  test("planted 1000-doc near-dup cluster: d2 band cap bounds candidates (no O(k²) blowup)") {
    import spark.implicits._
    // 1000 near-duplicates (shared 60-token base, unique tail token) —
    // NOT exact dups, so pre-collapse can't help; the bucket cap must.
    val base = (1 to 60).map(i => "tok" + i).mkString(" ")
    val planted = (0 until 1000).map(i => (200000L + i, s"$base tail$i"))
    val organic = (0 until 200).map(i =>
      (300000L + i, (1 to 30).map(j => s"w${i}_$j").mkString(" ")))
    val docs = (planted ++ organic).toDF("doc_id", "text")
    val nCand = Dedup.d2Candidates(docs).count()
    // uncapped, the cluster's shared band signatures alone would emit
    // ~k²/2 ≈ 500k candidate pairs; capped buckets keep it O(n·cap)
    assert(nCand < 100000, s"candidates not bucket-bounded: $nCand")
  }

  test("1000 exact duplicates enter d2's LSH once and expand to the k² output pairs") {
    import spark.implicits._
    val docs = (0 until 1000).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    // one representative → nothing to pair in the LSH join
    assert(Dedup.d2Candidates(docs).count() == 0)
    // ...but the full pair listing still reports every duplicate pair
    val pairs = Dedup.d2Pairs(docs)
    assert(pairs.count() == 1000L * 999 / 2)
    val r = pairs.filter(col("da") === 0L && col("db") === 1L).collect()
    assert(r.length == 1 && r(0).getDouble(2) == 1.0)
  }

  test("d3: exact dups collapse before simhash; saturated near-dup buckets drop") {
    import spark.implicits._
    // 500 identical texts → ONE representative → nothing to band-join
    val exact = (0 until 500).map(i => (400000L + i, "shared boilerplate text " +
      (1 to 40).map(j => "word" + j).mkString(" "))).toDF("doc_id", "text")
    assert(Dedup.d3Candidates(exact).count() == 0,
      "byte-identical duplicates must collapse to one signature")
    // ...but the pair listing still reports them all at hd = 0
    assert(Dedup.d3Pairs(exact).count() == 500L * 499 / 2)
    // 1000 NEAR-identical texts (unique tail) → distinct reps whose
    // shared band values saturate the 64-cap → dropped, candidates
    // bounded instead of ~k²/2 ≈ 500k
    val base = (1 to 60).map(i => "tok" + i).mkString(" ")
    val near = (0 until 1000).map(i => (450000L + i, s"$base tail$i"))
      .toDF("doc_id", "text")
    val nCand = Dedup.d3Candidates(near).count()
    assert(nCand < 100000, s"near-dup cluster candidates not bucket-bounded: $nCand")
  }

  test("d4 length-band cap drops a mass-duplicated length band, keeps cool bands") {
    import spark.implicits._
    val hot = (0 until 800).map(i => (500000L + i, 100L))
    val cool = (0 until 40).map(i => (600000L + i, 2000L + i))
    val docs = (hot ++ cool).toDF("doc_id", "n_chars")
    val cand = Dedup.d4Candidates(docs).collect()
    assert(!cand.exists(r => r.getLong(0) < 600000L || r.getLong(1) < 600000L),
      "the saturated length band must contribute no candidates")
    assert(cand.nonEmpty, "small length bands must still pair up")
  }

  test("d8: a degenerate centroid cluster is cap-dropped, cool clusters survive") {
    // 200 exact copies of centroid 100's vector all assign to cluster
    // 100 (csim = 1), blowing it past the 64 cap — the whole cluster
    // must drop from candidate generation instead of emitting ~20k
    // within-cluster pairs; the organic clusters keep pairing.
    val emb = Tables.embeddings(spark, sf)
    val v100 = emb.filter(col("vec_id") === 100)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    import spark.implicits._
    val planted = (0 until 200).map(i => (700000L + i, v100)).toDF("vec_id", "embedding")
    val cand = Similarity.d8Candidates(
      emb.select("vec_id", "embedding").unionByName(planted))
    assert(cand.filter(col("cid") === 100L).count() == 0,
      "saturated cluster must contribute no candidate pairs")
    val n = cand.count()
    assert(n > 0, "cool clusters must still pair up")
    assert(n < 32L * 64 * 64 / 2 + 1, s"candidates not cluster-bounded: $n")
  }

  test("boilerplate fingerprints are df-capped out of the t4/t7 join") {
    import spark.implicits._
    // 500 docs: one long shared boilerplate block + a unique numbered
    // tail. Every boilerplate 25-gram has df=500 > FpDfCap → excluded
    // from the join; only the (near-unique) tail grams can match.
    val boiler = "this exact boilerplate header is shared verbatim by every " +
      "single document in the planted cluster and runs well past the gram width"
    val docs = (0 until 500).map(i =>
      (700000L + i, s"$boiler unique tail content for document number $i"))
      .toDF("doc_id", "text")
    val nCand = TextStats.t4Candidates(TextStats.winnowFps(docs)).count()
    // uncapped, the shared block alone would pair all docs: ~125k pairs
    assert(nCand < 10000, s"fingerprint join not df-bounded: $nCand")
  }

  test("t12 stays linear under a planted mega-hot boilerplate shingle") {
    // unlike the pair-emitting dedup joins, t12's join back is against
    // the one-row-per-shingle df table, so its output is exactly the
    // distinct (doc, shingle) relation — structurally linear in the
    // corpus even when ONE shingle occurs in every document. Plant that
    // worst case and assert the result stays per-doc bounded (a
    // quadratic regression — e.g. joining sh to sh instead of sh to df —
    // would blow the shared counts past n_shingles).
    import spark.implicits._
    val boiler = "shared header words alpha beta"
    val docs = (0 until 1000).map(i =>
      (800000L + i, s"$boiler unique$i tail$i words$i here$i", "en", "srcZ", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("t12hot").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextStats.t12Boilerplate(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[Long]("n_docs") == 1000L)
    // 9 words/doc → 5 shingles/doc; only the leading all-boilerplate
    // shingle is shared, and it is counted once per DOC (linear), never
    // once per doc-pair
    assert(r.getAs[Long]("n_shingles") == 5000L)
    assert(r.getAs[Long]("n_shared") == 1000L,
      "the hot shingle must contribute exactly one shared count per doc")
  }

  test("t12/t16 join-back: AQE splits the planted hot-shingle partition (OptimizeSkewedJoin fires)") {
    // The t12 scaladoc claims its join-back on the shingle key is
    // "exactly the shape AQE skew-join splits at runtime". This
    // executes that claim on the REAL query builder: plant ONE shingle
    // into every document so its join-key partition dwarfs the rest,
    // shrink the skew thresholds so the test corpus qualifies, and
    // assert the FINAL adaptive plan actually split the skewed
    // partition (SortMergeJoin(skew=true)). Fails if a future rewrite
    // (a count-window instead of groupBy+join, a fused pre-aggregate,
    // or losing the df-side lineage cut) stops being skew-splittable.
    // t16 is asserted for the opposite, equally load-bearing property:
    // its join-back CANNOT skew, because the doc_id output filter
    // pushes into the tf-side scan (probe side = a handful of docs)
    // and the df side has unique word keys after aggregation.
    import spark.implicits._
    val boiler = "omega kappa sigma theta lambda"
    // ids start at 0 so t16's doc_id < 20 output filter keeps rows
    val docs = (0 until 4000).map(i =>
      (i.toLong, s"$boiler unq$i tail$i word$i here$i more$i", "en", "srcS", 64L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("skewshingle").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // both queries' downstream re-partitions on doc_id (groupBy /
      // window), so the split adds no extra shuffle; force only guards
      // against the planner's conservative veto on borderline stats
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      // the vocab-sized df side must not broadcast, or there is no
      // shuffle join to split
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val t12 = TextStats.t12Boilerplate(spark, dir)
      assert(t12.collect().length == 1)
      val p12 = t12.queryExecution.executedPlan.toString
      assert(p12.contains("isFinalPlan=true"))
      assert(p12.contains("skew=true"),
        s"t12's shingle join-back was not skew-split:\n$p12")

      val t16 = TextStats.t16Tfidf(spark, dir)
      assert(t16.collect().nonEmpty)
      val p16 = t16.queryExecution.executedPlan.toString
      assert(p16.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,20)]"),
        s"t16's probe-side pruning regressed — skew immunity depends on it:\n$p16")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("d7 reads the checkpointed pair graph, not parquet, in its final plan") {
    // connectedComponents localCheckpoints the d2 pair relation, so the
    // expensive LSH+verify subtree runs exactly once per d7 invocation;
    // the cluster aggregation must plan over the checkpoint, not rescan.
    val df = Dedup.d7DupClusters(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet"),
      s"d7's final plan must not rescan the documents parquet:\n$plan")
  }

  test("b3 survives the large-large regime: sort-merge fallback equals broadcast plan") {
    // at 100 TB a "dimension" can outgrow the broadcast threshold; the
    // engine must not depend on broadcastability for correctness. Run the
    // same un-hinted query once per join strategy and assert both the
    // plan shapes and the row sets: broadcast under default config,
    // sort-merge with the thresholds at -1. (b3's explicit broadcast()
    // hint would survive the threshold flip, so the comparison uses the
    // un-hinted equivalent on both sides.)
    def unhinted() = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(30,6)")).as("q"))
      .orderBy("c_mktsegment")
    val bcastDf = unhinted()
    val bcastRows = bcastDf.collect().map(_.toString).toSeq
    val bcastPlan = bcastDf.queryExecution.executedPlan.toString
    assert(bcastPlan.contains("BroadcastHashJoin"),
      s"default config should broadcast the dims at this SF:\n$bcastPlan")
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeBcast = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val smjDf = unhinted()
      val smjRows = smjDf.collect().map(_.toString).toSeq
      val p = smjDf.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected sort-merge fallback:\n$p")
      assert(!p.contains("BroadcastHashJoin"), s"broadcast must be disabled:\n$p")
      assert(smjRows.nonEmpty)
      assert(smjRows == bcastRows,
        "sort-merge and broadcast plans disagree on the same query")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      aqeBcast match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("AQE splits a skewed shuffle partition at runtime (skew-join recipe #2)") {
    // b24 shows the manual salting recipe; this pins the zero-code
    // alternative — AQE detecting and splitting the hot partition at
    // runtime. Thresholds are shrunk so the test corpus qualifies as
    // "skewed"; at 100 TB the defaults fire on genuinely hot keys.
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      // the downstream groupBy consumes the join's partitioning, which
      // normally vetoes the split (it would re-shuffle); force it so
      // the split itself is observable
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // one hot key carrying 50k rows vs 100 cool keys with 50 each
      val hot = spark.range(50000).select(lit(0L).as("k"), col("id").as("v"))
      val cool = spark.range(5000).select((col("id") % 100 + 1).as("k"), col("id").as("v"))
      val left = hot.union(cool)
      val right = spark.range(101).select(col("id").as("k"), (col("id") * 10).as("w"))
      val joined = left.join(right, "k").groupBy("k")
        .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
      val rows = joined.collect()
      assert(rows.length == 101)
      assert(rows.find(_.getLong(0) == 0L).get.getAs[Long]("n") == 50000L)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"))
      assert(p.contains("skew="), s"AQE skew handling not engaged:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partitioned writes prune at read time (PartitionFilters, not a full scan)") {
    // the write-side layout recipe for 100 TB fact tables: partition by
    // a low-cardinality predicate column so readers touch one
    // directory, not the corpus. Asserts the pruning actually shows in
    // the plan — a regression here silently rescans everything.
    val dir = tempDir("graft-partitioned").toString
    Tables.events(spark, sf)
      .withColumn("etype", col("event_type"))
      .write.mode("overwrite").partitionBy("etype").parquet(dir)
    val clicks = spark.read.parquet(dir).filter(col("etype") === "click")
    val n = clicks.count()
    val want = Tables.events(spark, sf).filter(col("event_type") === "click").count()
    assert(n == want, "partitioned round-trip changed the row set")
    val p = clicks.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(etype"),
      s"partition filter not applied:\n$p")
  }

  test("oracled queries are partition-count independent (1 vs 32 shuffle partitions)") {
    // determinism recipe's load-bearing claim: results identical under
    // radically different parallelism. Sample one query per family.
    val names = Seq("b2_hash_agg", "d2_minhash_lsh", "t1_lang_id", "s1_ann_lsh",
      "m1_media_features", "b29_funnel", "d7_dup_clusters", "t8_mix_weights",
      "b32_corr_subquery", "t10_stratified_sample", "d8_semantic_dedup",
      "s8_kmeans", "t15_seq_pack", "d9_bloom_decontam")
    // under AQE coalescing the exchanges start at initialPartitionNum,
    // not shuffle.partitions, so each run sets both
    def width[T](n: Int)(body: => T): T = withConfs(
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> n.toString) {
      assert(spark.sessionState.conf.numShufflePartitions == n)
      body
    }
    val wide = width(32)(SampleRunner.run(spark, sf, names, "32"))
    val serial = width(1)(SampleRunner.run(spark, sf, names, "1"))
    assert(wide == serial, "results must not depend on partitioning")
  }
}

private object SampleRunner {
  def run(spark: SparkSession, sf: String, names: Seq[String], tag: String): Map[String, Seq[String]] =
    names.map { n =>
      val df = graft.SparkEntry.queries(n)(spark, sf)
      n -> df.collect().map(_.toString).toSeq.sorted
    }.toMap
}
