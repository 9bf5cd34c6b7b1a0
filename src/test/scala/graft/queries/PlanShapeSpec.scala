package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession

/** Plan-shape contracts the docs claim — asserted so a regression in
  * filter pushdown, column pruning, broadcast selection, or top-k
  * planning fails the build rather than silently costing a full scan
  * at 100 TB.
  */
class PlanShapeSpec extends AnyFunSuite with GraftTestSession {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  test("b56: SQL EXISTS plans a hash semi join; NOT IN a null-aware hash anti — no nested loop") {
    val p = plan("b56_exists_not_in")
    assert(p.contains("LeftSemi"), s"EXISTS must decorrelate to a semi join:\n$p")
    // NOT IN is the null-aware anti join; with the tiny nation dim it
    // must take the broadcast HASH path (BHJ supports NullAwareAnti),
    // never the quadratic BroadcastNestedLoopJoin fallback
    assert(p.contains("LeftAnti"), s"NOT IN must decorrelate to an anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"null-aware anti join fell back to a nested loop:\n$p")
  }

  test("b1: filters reach the parquet scan and the schema is pruned") {
    val p = plan("b1_scan_filter")
    // (the PushedFilters list is truncated in toString — assert the
    // prefix that proves both filter columns reached the scan)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), GreaterThanOrEqual(l_shipdate"),
      s"filters not pushed to the scan:\n$p")
    // projection needs only 3 columns; schema must not include e.g. l_comment
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("b3: dimension tables join via broadcast, not shuffle") {
    val p = plan("b3_multi_join")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
  }

  test("b6: top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("b6_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("b2: aggregation is partial (map-side) before the exchange") {
    val p = plan("b2_hash_agg")
    assert(p.contains("partial_"), s"expected partial aggregation:\n$p")
    assert(p.contains("Exchange hashpartitioning(l_returnflag"),
      s"final agg must shuffle on the group keys:\n$p")
  }

  test("b7/b16: multi-column distincts never plan an Expand") {
    // two countDistincts on different columns in ONE aggregate make
    // Catalyst plan an Expand — one padded row copy per distinct group
    // (3× the fact rows through the shuffle) feeding a combined
    // (gid, col…) dedup map. That exact plan OOMed the ×100 probe at
    // 32-way concurrency in an 8 GB heap; the per-column two-phase
    // rewrite holds one narrow spillable column per distinct instead.
    // Pin the shape so a convenience rewrite can't bring Expand back.
    for (q <- Seq("b7_distinct", "b16_approx_distinct")) {
      val p = plan(q)
      assert(!p.contains("Expand"),
        s"$q re-plans the multi-distinct Expand (the ×100 OOM shape):\n$p")
      assert(p.contains("partial_"), s"$q lost map-side partial dedup:\n$p")
    }
    // r18: b16's per-column distincts ride ONE tag-exploded scan — the
    // fact table must never be read once per column again (guide §6)
    val p16 = plan("b16_approx_distinct")
    assert(p16.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"b16 must scan lineitem exactly once:\n$p16")
  }

  test("d2/d4: corpus-scaled candidate joins plan sort-merge, never broadcast") {
    // every relation in the candidate-verify subtree (banded pairs, the
    // per-doc item sets, the per-doc counts) scales WITH the corpus;
    // size underestimates on post-shuffle/post-explode relations planned
    // driver-side broadcast builds that OOMed the ×30 probe at 8 GB.
    // The merge hints must hold even at toy scale, where the optimizer
    // would otherwise happily broadcast everything.
    for (q <- Seq("d2_minhash_lsh", "d3_simhash", "d4_ngram_jaccard",
        "d10_incremental_neardup")) {
      val p = plan(q)
      assert(!p.contains("BroadcastHashJoin"),
        s"$q broadcasts a corpus-scaled relation (the ×30 OOM shape):\n$p")
      assert(p.contains("SortMergeJoin"), s"$q lost the SMJ pin:\n$p")
    }
    SharedRelation.releaseAll(spark)
  }

  test("d4: the verify reads per-document sets; the only Generate is the length-bucket emit") {
    // the Jaccard verify intersects each candidate's two n-gram arrays
    // (size(array_intersect)); an n-gram explode joined per item
    // (154.8M rows out of the first join at sf0.1) must not come back.
    // The pre-AQE plan repeats the emit under both self-join sides and
    // both cap inputs, so Generates are compared with expression ids
    // stripped: one distinct generator must remain.
    val p = plan("d4_ngram_jaccard")
    val gens = p.linesIterator.collect {
      case l if l.contains("Generate ") =>
        l.substring(l.indexOf("Generate ")).replaceAll("#\\d+L?", "")
          .split(", (\\[|false)")(0)
    }.toSet
    assert(gens == Set("Generate explode(array(FLOOR((cast(n_chars as double) / 16.0)), " +
        "(FLOOR((cast(n_chars as double) / 16.0)) + 1)))"),
      s"d4 must plan exactly one Generate, the length-bucket emit, got $gens:\n$p")
    assert(p.contains("array_intersect"), s"d4 lost the set-intersection verify:\n$p")
  }

  test("d11: single corpus pass — one scan, no joins of any kind") {
    // the r18 rewrite: the dup-window membership runs as a min/max
    // window over the (h1, h2) exchange and the totals ride the
    // explode, so the corpus is scanned (and the per-window md5
    // computed) exactly ONCE, and no join — broadcastable or otherwise
    // — exists to mis-plan. The r17 shape built the window relation 3×
    // plus a 4th scan for totals; pin the collapse.
    val p = plan("d11_substring_spans")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"d11 must scan documents exactly once:\n$p")
    for (j <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!p.contains(j), s"d11 reintroduced a join ($j):\n$p")
    assert(p.contains("Window"), s"d11 lost the window dup-membership pass:\n$p")
  }

  test("dedup front door, b31 and b39 aggregate by hash, never by sort") {
    // the r17 optimization round moved the rep collapse (d2Reps) off
    // `first(text)` — a string aggregation BUFFER is immutable in
    // UnsafeRow, so that form planned SortAggregate: a full
    // per-partition sort of the corpus by the 32-char hex hash in
    // front of every dedup-family query. Same for b31's min/max over
    // the lpad-formatted string, and (r18) for b39's string-valued
    // min_by/max_by, now typed Aggregators on ObjectHashAggregate.
    // Pin the hash path — across the WHOLE dedup family per ADVICE
    // r17 (d2/d6/d10b's before-plans carried the most SortAggregates)
    // — so a convenience rewrite can't quietly reintroduce the corpus
    // sort.
    for (q <- Seq("d2_minhash_lsh", "d3_simhash", "d6_crossmodal",
        "d10_incremental_neardup", "d10b_bucketed_base",
        "b31_string_funcs", "b39_argmax")) {
      val p = plan(q)
      assert(!p.contains("SortAggregate"),
        s"$q re-plans a sort-based aggregate (string agg buffer?):\n$p")
      assert(p.contains("HashAggregate"), s"$q lost hash aggregation:\n$p")
    }
    val p39 = plan("b39_argmax")
    assert(p39.contains("ObjectHashAggregate"),
      s"b39's typed string argmin/argmax must ride ObjectHashAggregate:\n$p39")
    SharedRelation.releaseAll(spark)
  }

  test("d8b/s2/s7: centroid assignment is a hash aggregate, never a sorted window") {
    // the corpus×codebook product must stream through ObjectHashAggregate
    // (map-side partial argmax buffers) — a Window, or a sort-based agg
    // fallback, sorts |n|·K product rows and is the shape that OOMed the
    // ×100 probe. The probe/top-k windows downstream of tiny filtered
    // inputs are fine; what must never appear is a Window PARTITION BY
    // vec_id over the unfiltered product, which in every one of these
    // plans would manifest as a Window directly above the product join.
    for (q <- Seq("d8b_scaled_codebook", "s7_product_quant")) {
      val p = plan(q)
      assert(p.contains("ObjectHashAggregate"),
        s"$q lost the hash-argmax assignment:\n$p")
      assert(!p.contains("Window"), s"$q ranks the product in a window:\n$p")
    }
    // s2 keeps one legitimate window (the 10-query top-2 probe); assert
    // the assignment aggregate is present rather than window-free-ness
    val p2 = plan("s2_ann_ivf")
    assert(p2.contains("ObjectHashAggregate"),
      s"s2 lost the hash-argmax assignment:\n$p2")
  }

  test("t10: the stratified sample is a two-phase WindowGroupLimit, not a corpus sort") {
    // rank-then-FILTER lets InferWindowGroupLimit keep ≤15 rows per
    // source on the map side; the flag-column form fed the whole
    // corpus through |sources| window partitions (≈3 reducers at any
    // cluster size). Same property as b5, pinned for the same reason.
    val p = plan("t10_stratified_sample")
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      s"t10 lost the two-phase group-limit pushdown:\n$p")
  }

  test("t15: the packing scan plans no Window at all") {
    // the running token offset goes through PrefixScan (range-sort +
    // per-partition offsets) — a sum().over(partitionBy(split)) window
    // would funnel the corpus through 3 reducers. Nothing in t15's
    // plan should be a window operator.
    val p = plan("t15_seq_pack")
    assert(!p.contains("Window"), s"t15 reintroduced a window scan:\n$p")
  }

  test("b21: the 5-row band table joins via broadcast nested loop, no fact shuffle") {
    val p = plan("b21_range_join")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"range join against a tiny dim must broadcast:\n$p")
  }

  test("b24: the salted join actually takes the shuffle-hash path") {
    val p = plan("b24_skew_join")
    assert(p.contains("ShuffledHashJoin"),
      s"SHUFFLE_HASH hint must force the shuffle path (salting is exercised):\n$p")
  }

  test("b22: pinned pivot values plan a single scan (no distinct-discovery pass)") {
    val p = plan("b22_pivot")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"pivot must not rescan to discover values:\n$p")
  }

  test("b29: the whole funnel reads events exactly once") {
    val p = plan("b29_funnel")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"funnel must not rescan the fact table per stage:\n$p")
  }

  test("candidate generation never plans an all-pairs join") {
    // the dedup/fingerprint/contamination pipelines claim equi-join
    // LSH/blocking candidate generation — an all-pairs (cartesian or
    // non-broadcast nested-loop) join anywhere in those plans would be
    // the O(n²) plan that dies at scale. (b12/s1/s2 intentionally
    // broadcast a tiny build side via crossJoin and are excluded.)
    for (q <- Seq("d2_minhash_lsh", "d3_simhash", "d4_ngram_jaccard",
        "d7_dup_clusters", "d11_substring_spans", "t4_fingerprint",
        "t7_contamination", "s4_knn_graph", "t12_boilerplate")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join:\n$p")
    }
  }

  test("b5: rank filter pushes down as two-phase WindowGroupLimit") {
    // Spark 4's InferWindowGroupLimit turns rank()<=k into a map-side
    // partial group-limit + final group-limit, so each partition ships
    // at most k rows per key instead of materializing whole partitions
    // before the window — THE property that keeps per-key top-n alive
    // at 100 TB. Pin it so a query rewrite can't silently lose it.
    val p = plan("b5_window_topn")
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      s"two-phase WindowGroupLimit pushdown missing:\n$p")
  }

  test("cosine_sim stays inside whole-stage codegen (ANN hot loop fused)") {
    // the native kernel's whole reason to exist: the declarative
    // aggregate(zip_with(..)) form it replaced is an interpreted
    // HigherOrderFunction that fences off codegen in the re-rank /
    // verify projections. A '*'-prefixed (codegen'd) plan line
    // containing cosine_sim proves the fused loop is inside the span.
    val df = graft.SparkEntry.queries("s5_range_search")(spark, sf)
    df.collect() // materialize so AQE's final plan carries codegen markers
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("cosine_sim"))
    assert(line.nonEmpty, s"native cosine missing from the s5 plan:\n$p")
    assert(line.get.contains("*("),
      s"cosine_sim fell out of whole-stage codegen: ${line.get}")
  }

  test("d9: the bloom probe is a broadcast hash join; no cartesian anywhere") {
    // the candidate path (train positions vs test bit-set) must be an
    // equi-join with the constant-size bits side broadcast — that is
    // the whole point of a Bloom filter at 100 TB. The 1-row summary
    // crossJoins at the top are BNLJ by construction and fine.
    val p = plan("d9_bloom_decontam")
    assert(!p.contains("CartesianProduct"), s"d9 plans a cartesian product:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"d9's bit-set probe must broadcast the filter side:\n$p")
  }

  test("t12: the shingle distinct subtree is computed once (shared cache, no second corpus scan)") {
    // the distinct (doc, shingle) relation feeds both the document-
    // frequency aggregate and the join back through one persisted
    // relation; the outer plan must read that cache on its probe side
    // and take the df side from the lineage-cut checkpoint scan — NOT
    // scan + explode the corpus twice. AQE materializes the shape in
    // the FINAL plan only, so execute before inspecting.
    val df = graft.SparkEntry.queries("t12_boilerplate")(spark, sf)
    // assert on the optimized LOGICAL plan, where the persisted shingle
    // relation is an InMemoryRelation leaf and the checkpointed df side
    // a LogicalRDD leaf — the cached build plan (which owns the single
    // legitimate corpus scan) is not traversed
    val opt = df.queryExecution.optimizedPlan
    assert(opt.collectFirst {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    }.isDefined, s"t12's probe side should read the shared shingle cache:\n$opt")
    assert(opt.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    }.isDefined, s"t12's df side should be the lineage-cut checkpoint scan:\n$opt")
    val docScans = opt.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation] => l
    }
    assert(docScans.isEmpty,
      s"t12's outer plan must not re-scan documents.parquet, saw ${docScans.length} scans:\n$opt")
  }

  test("t1: the profile kernel and vocabulary groupBy are each planned once (shared caches)") {
    // t1LangId consumes each of its two corpus-derived relations from
    // TWO subtrees (per-doc profiles: gram explode + base projection;
    // language profiles: distance join + candidate distinct); all four
    // consumers must read the shared persisted relations — if any fell
    // back to a fresh build, the per-row top-100 kernel or the
    // vocabulary groupBy would run twice per query. The corpus scans
    // live inside the cached build plans (not traversed here), so the
    // OUTER plan must contain no parquet scan of documents at all.
    val df = graft.SparkEntry.queries("t1_lang_id")(spark, sf)
    val opt = df.queryExecution.optimizedPlan
    val caches = opt.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    }
    assert(caches.length == 4,
      s"t1's four consumer subtrees should each read a shared cache, " +
        s"saw ${caches.length} InMemoryRelation leaves:\n$opt")
    val docScans = opt.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation] => l
    }
    assert(docScans.isEmpty,
      s"t1's outer plan must not re-scan documents.parquet (both corpus " +
        s"passes live inside the cached builds), saw ${docScans.length}:\n$opt")
    SharedRelation.releaseAll(spark)
  }

  test("s7: the PQ codebook joins via broadcast; no all-pairs scoring") {
    val p = plan("s7_product_quant")
    assert(p.contains("BroadcastHashJoin"),
      s"the 1024-row codebook must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"s7 plans a cartesian product:\n$p")
  }

  test("t19: the bigram LM model joins back via broadcast; scoring is never all-pairs") {
    // the model is ≤|alphabet|² rows by construction — the join back
    // onto the per-position bigram stream must broadcast it, keeping
    // the scoring side shuffle-free until the doc-keyed agg
    val p = plan("t19_bigram_lm")
    assert(p.contains("BroadcastHashJoin"),
      s"the bigram model must broadcast onto the scoring stream:\n$p")
    assert(!p.contains("CartesianProduct"), s"t19 plans a cartesian product:\n$p")
  }

  test("b36: the nation dim joins via broadcast") {
    val p = plan("b36_string_agg")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("b38: null-safe equality plans as a hash join key, not a nested loop") {
    val p = plan("b38_nullsafe_join")
    assert(p.contains("BroadcastHashJoin"),
      s"<=> must hash-join like an equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"null-safe equality must not degrade to a nested loop:\n$p")
  }

  test("d10b: the standing base band table is scanned bucketed, zero Exchange above it") {
    // AQE off for this build so the physical tree is directly walkable
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = graft.queries.Dedup.d10BucketedBase(spark, sf)
        .queryExecution.executedPlan
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      // the candidate join: the LOWEST SMJ with the bucketed base scan
      // on one side (no nested join below that side)
      val smjSides = exec.collect { case j: SortMergeJoinExec => j }
        .flatMap(j => Seq(j.left, j.right))
      val baseSides = smjSides.filter { side =>
        side.collectFirst { case f: FileSourceScanExec if f.bucketedScan => f }.isDefined &&
          side.collectFirst { case jj: SortMergeJoinExec => jj }.isEmpty
      }
      assert(baseSides.nonEmpty,
        s"no SMJ reads the bucketed base band table directly:\n$exec")
      baseSides.foreach { side =>
        val shuffles = side.collect { case e: ShuffleExchangeExec => e }
        assert(shuffles.isEmpty,
          s"the standing base side must shuffle ZERO bytes, found Exchange:\n$side")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("d6 consumes d2's shared pair relation — the MinHash subtree is planned once") {
    // materialize d2 first: builds + persists the shared pair relation
    assert(graft.queries.Dedup.d2MinhashLsh(spark, sf).count() >= 0)
    try {
      // assert on the OPTIMIZED LOGICAL plan: InMemoryRelation is a leaf
      // there, so its stored build plan (which legitimately scanned
      // documents once) is not traversed — any documents relation found
      // means the shingle→minhash→band subtree was planned a SECOND time
      val opt = graft.queries.Similarity.d6CrossModal(spark, sf)
        .queryExecution.optimizedPlan
      val cacheReads = opt.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
      }
      assert(cacheReads.nonEmpty,
        s"d6 must read the cached shared pair relation:\n$opt")
      def scansDocuments(rel: org.apache.spark.sql.sources.BaseRelation): Boolean =
        rel match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.mkString(",").contains("documents")
          case _ => false
        }
      val docScans = opt.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation
            if scansDocuments(l.relation) => l
      }
      assert(docScans.isEmpty,
        s"d6 re-planned the MinHash subtree (${docScans.length} documents scans):\n$opt")
    } finally SharedRelation.releaseAll(spark)
  }

  test("s7/s11: the PQ argmin re-aligns on (vec_id, sub) before aggregating — never fused into the distance agg's stage") {
    // Without the re-alignment exchange the argmin's PARTIAL
    // ObjectHashAggregate runs inside the distance table's final-agg
    // stage, holding ~one pair buffer per (v,s,c) input row — the ×300
    // OOM. Pin the load-bearing plan shape: an Exchange on exactly
    // (vec_id, sub) sits between the ArgMaxPairAgg aggregate and the
    // (vec_id, sub, code) distance aggregate below it.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (q <- Seq("s7_product_quant", "s11_ivfpq")) {
        val exec = graft.SparkEntry.queries(q)(spark, sf)
          .queryExecution.executedPlan
        import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
        // every ObjectHashAggregate grouping on exactly (vec_id, sub)
        // must have the re-alignment exchange below it, BEFORE any
        // other aggregate appears
        val argmins = exec.collect {
          case a: ObjectHashAggregateExec
              if a.groupingExpressions.map(_.name).toSet == Set("vec_id", "sub") => a
        }
        assert(argmins.nonEmpty, s"$q: no (vec_id, sub) argmin aggregate found:\n$exec")
        argmins.foreach { a =>
          val aligned = a.child.collectFirst {
            case e: ShuffleExchangeExec => e.outputPartitioning match {
              case h: HashPartitioning =>
                h.expressions.flatMap(_.references.map(_.name)).toSet == Set("vec_id", "sub")
              case _ => false
            }
          }
          assert(aligned.contains(true),
            s"$q: the argmin's nearest exchange is not on (vec_id, sub) — " +
              s"its partial pass would fuse into the distance-agg stage:\n$a")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("reads of the persisted pair relation are AQE-coalesced, not pinned at the exchange fan-out") {
    // A cached plan is exempt from AQE re-planning unless
    // canChangeCachedPlanOutputPartitioning is set, in which case the
    // cache read keeps the final exchange's FULL initialPartitionNum
    // fan-out — in the Bench session that was 256 near-empty tasks per
    // collect of a 256-row result (~760 ms of pure task overhead).
    // Recreate the Bench conf shape and pin the coalesce.
    val keyA = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val keyC = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val prevA = spark.conf.getOption(keyA)
    val prevC = spark.conf.getOption(keyC)
    SharedRelation.releaseAll(spark)
    try {
      spark.conf.set(keyA, "64")
      spark.conf.set(keyC, "true") // must be set BEFORE the cache is built
      val d2 = graft.queries.Dedup.d2MinhashLsh(spark, sf)
      d2.count() // materialize the cache
      val parts = d2.rdd.getNumPartitions
      assert(parts < 8,
        s"cache read kept $parts partitions for a tiny result — AQE did " +
          "not re-plan the cached output (canChangeCachedPlanOutputPartitioning regression)")
    } finally {
      SharedRelation.releaseAll(spark)
      Seq((keyA, prevA), (keyC, prevC)).foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** The final AQE plan of `name` at sf0.01, after one collect (the
    * initial plan printed below it left out). */
  private def finalPlan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
    df.collect()
    SharedRelation.releaseAll(spark)
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("b2/b3/b11: a small final sort reads one single-partition exchange, no range sampling") {
    for (q <- Seq("b2_hash_agg", "b3_multi_join", "b11_time_window")) {
      val p = finalPlan(q)
      val sort = p.linesIterator.indexWhere(_.contains("Sort ["))
      val below = p.linesIterator.drop(sort + 1).find(_.contains("Exchange")).getOrElse("")
      assert(sort >= 0 && below.contains("Exchange SinglePartition"),
        s"$q: the final sort does not read a single-partition exchange:\n$p")
      assert(!p.contains("rangepartitioning"), s"$q kept a range exchange:\n$p")
    }
  }

  test("b2: above the advisory partition size the final sort keeps its range exchange") {
    val p = withConfs("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64") {
      finalPlan("b2_hash_agg")
    }
    assert(p.contains("Exchange rangepartitioning"),
      s"a sort over more than the advisory size must stay a range sort:\n$p")
  }
}
