package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline quality surface: language identification,
  * quality scoring, tokenization statistics, and winnowing document
  * fingerprints.
  *
  * Determinism rules (shared with [[Relational]] / [[Dedup]]):
  *  - classifier scores and ranks are INTEGERS (Cavnar-Trenkle
  *    out-of-place distance), so argmax/argmin ties and sums are exact
  *    on every engine and partitioning;
  *  - aggregated doubles go through the exact DECIMAL(30,6) accumulator
  *    (associative → partitioning-independent);
  *  - per-row double arithmetic is IEEE-exact and needs no handling;
  *  - every output has a total ORDER BY.
  */
/** One ranked 3-gram of a T1 per-doc profile (rank 1 = most frequent,
  * ties by unsigned UTF-8 byte order — see [[TextStats.t1Top100]]). */
final case class T1GramRank(ng: String, drank: Int)

/** A document's T1 language-ID profile, computed per-row. */
final case class T1DocProf(doc_id: Long, true_lang: String, prof: Array[T1GramRank])

object TextStats {

  private val P = 1000000007L

  /** T1's two corpus-derived relations — the per-doc profiles and the
    * 5×100 language profiles — built once per (session, sfDir) and
    * persisted. Each is consumed by TWO subtrees of t1LangId
    * (profiles: the gram explode AND the base/true_lang projection;
    * language profiles: the broadcast distance join AND the
    * candidate-language distinct); without persistence Catalyst plans
    * each pair as two independent corpus scans — the per-row top-100
    * kernel (the dominant per-row cost) and the vocabulary groupBy
    * would both run twice per query. Lifecycle (weak session keys,
    * eager [[SharedRelation.releaseAll]]) lives in the one shared idiom,
    * [[SharedRelation]]. At
    * 100 TB the equivalent is writing both tables once and reading
    * them from every consumer.
    *
    * The cached profile relation is FLAT — (doc_id, true_lang, np,
    * ng, drank), the typed kernel's array EXPLODED before the cache —
    * not the array-of-struct row the kernel emits. Spark's columnar
    * cache builds each 10k-row batch in heap ByteBuffers per column;
    * a corpus-scaled array<struct> column goes through
    * ComplexColumnBuilder whose doubling buffers OOMed the default
    * 8 GB heap at ×1000 (32 concurrent tasks × multi-MB complex
    * buffers, in BOTH MEMORY_AND_DISK and DISK_ONLY — the batch build
    * precedes the store either way). Flat scalar columns take the
    * Basic builders — the exact shape t12's bigger (750M-row) shingle
    * cache survives ×1000 with. The base projection recovers its
    * one-row-per-doc form from the flat cache via `drank = 1` (exactly
    * one rank-1 gram per profiled doc) — a filter, not a shuffle.
    */
  private def t1Shared(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val profs = SharedRelation(s, "t1.profs", d) {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
        .map { case (id, lang, text) => T1DocProf(id, lang, t1Top100(text)) }
        .filter(_.prof.nonEmpty)
        .toDF()
        .select(col("doc_id"), col("true_lang"),
          size(col("prof")).as("np"), explode(col("prof")).as("g"))
        .select(col("doc_id"), col("true_lang"), col("np"),
          col("g.ng").as("ng"), col("g.drank").as("drank"))
    }
    // Language profiles stay declarative: groupBy(lang, ng) partial-
    // aggregates map-side down to the (5 langs × vocab) key space, so
    // the shuffle is vocabulary-sized whatever the corpus size.
    val langProf = SharedRelation(s, "t1.langprof", d) {
      val ng = Tables.documents(s, d).select(col("doc_id"), col("lang"), explode(
          when(length(col("text")) >= 3,
            transform(sequence(lit(1), length(col("text")) - 2),
              i => col("text").substr(i, lit(3))))
            .otherwise(array().cast("array<string>"))).as("ng"))
      ng.groupBy("lang", "ng").agg(count(lit(1)).as("c"))
        .withColumn("lrank", row_number().over(
          Window.partitionBy("lang").orderBy(col("c").desc, col("ng").asc)))
        .filter(col("lrank") <= 100)
        .select(col("lang").as("cand"), col("ng").as("lng"), col("lrank"))
    }
    (profs, langProf)
  }

  // -------------------------------------------------------------------
  // T1: language identification — Cavnar-Trenkle character-3-gram rank
  // profiles, self-trained on the labeled corpus. Per-language and
  // per-document profiles are the top-100 3-grams by frequency (ties
  // broken by 3-gram text); a document's distance to a language is the
  // sum of rank displacements (penalty 100 when absent); prediction is
  // the argmin (tie → language asc). Output is the 5×5 confusion
  // matrix. All-integer scoring makes the classifier bit-deterministic
  // across engines. The language profile is 5×100 rows → broadcast
  // join against per-doc profiles; at 100 TB the profile side stays
  // constant-size, so the plan is a single scan + shuffle on doc_id.
  // -------------------------------------------------------------------
  def t1LangId(s: SparkSession, d: String): DataFrame = {
    // Per-doc profiles as a ONE-SCAN per-row kernel (see [[t1Shared]]):
    // every document's 3-grams originate in its own text cell, so
    // counting them and ranking the top 100 never needs the corpus-wide
    // groupBy(doc_id, ng) shuffle + per-doc window sort the exploded
    // form pays (the r15 ×1000 probe attributed 96 of t1's 180 s at
    // ×300 to exactly that subtree: ~1.5B counted gram rows shuffled,
    // then sorted per doc for row_number). Semantics are BIT-equal to
    // the window form — code-point gram stepping matches substr(),
    // UTF-8 byte tie order matches Spark's string sort — pinned by a
    // differential spec on unicode-heavy fixtures plus the DuckDB
    // oracle (t1Sql keeps the declarative description).
    val (profs, langProf) = t1Shared(s, d)
    // Rank-displacement distance in MATCHED-JOIN form:
    //   dist(doc, lang) = Σ_grams coalesce(|drank − lrank|, 100)
    //                   = 100·|prof| + Σ_matched (|drank − lrank| − 100)
    // so only grams PRESENT in a language profile ever join (a
    // BroadcastHashJoin against the ≤ 5×100-row profile — a real hash
    // lookup inside whole-stage codegen), and the absent-gram penalty
    // is the closed-form base term. The first cut of this kernel
    // folded the profiles into a map column and summed with
    // element_at per gram — but Spark's MapData is array-backed, so
    // each lookup LINEARLY scans ~100 keys: ~150 s of the ×300 wall
    // for what the hash join does in a fraction. Integer algebra is
    // exact, so this is value-identical to the coalesce form.
    val pg = profs.select(col("doc_id"), col("ng"),
      col("drank").cast("long").as("drank"))
    val adj = pg.join(broadcast(langProf), col("lng") === col("ng"))
      .groupBy(col("doc_id"), col("cand"))
      .agg(sum(abs(col("drank") - col("lrank").cast("long")) - lit(100L)).as("adj"))
    val langs = langProf.select(col("cand")).distinct()
    // one row per profiled doc: exactly one rank-1 gram exists, so
    // `drank = 1` is a filter on the flat cache, never a shuffle
    val dist = profs.filter(col("drank") === 1)
      .select(col("doc_id"), col("true_lang"),
        (col("np").cast("long") * 100L).as("base"))
      .crossJoin(broadcast(langs))
      .join(adj, Seq("doc_id", "cand"), "left")
      .select(col("doc_id"), col("true_lang"), col("cand"),
        (col("base") + coalesce(col("adj"), lit(0L))).as("dist"))
    val pred = dist.withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("dist").asc, col("cand").asc)))
      .filter(col("rn") === 1)
      .select(col("true_lang"), col("cand").as("pred_lang"))
    pred.groupBy("true_lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("true_lang", "pred_lang")
  }

  /** T1's per-row top-100 3-gram profile, replicating the exploded
    * form's semantics EXACTLY:
    *  - grams step by Unicode CODE POINT (what `length()` counts and
    *    `substr()` slices — a String's UTF-16 code units would drift
    *    on supplementary characters);
    *  - ranks order by (count desc, gram asc) with the gram compared
    *    as unsigned UTF-8 BYTES — Spark sorts strings by UTF8String
    *    binary order, which DISAGREES with java.lang.String.compareTo
    *    on supplementary-vs-BMP pairs (U+10000 sorts above U+FFFF in
    *    UTF-8, below it in UTF-16).
    */
  private[queries] def t1Top100(text: String): Array[T1GramRank] = {
    if (text == null) return Array.empty
    val cp = text.codePoints().toArray
    if (cp.length < 3) return Array.empty
    val counts = new java.util.HashMap[String, Long]()
    var i = 0
    while (i <= cp.length - 3) {
      counts.merge(new String(cp, i, 3), 1L, java.lang.Long.sum _)
      i += 1
    }
    val entries = new Array[(String, Long, Array[Byte])](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      entries(j) = (e.getKey, e.getValue, e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      j += 1
    }
    java.util.Arrays.sort(entries, new java.util.Comparator[(String, Long, Array[Byte])] {
      override def compare(a: (String, Long, Array[Byte]), b: (String, Long, Array[Byte])): Int = {
        val c = java.lang.Long.compare(b._2, a._2)
        if (c != 0) c else java.util.Arrays.compareUnsigned(a._3, b._3)
      }
    })
    val k = math.min(100, entries.length)
    val out = new Array[T1GramRank](k)
    var r = 0
    while (r < k) { out(r) = T1GramRank(entries(r)._1, r + 1); r += 1 }
    out
  }

  val t1Sql: String =
    """WITH ng AS (SELECT doc_id, lang, substr(text, CAST(i AS INT), 3) AS ng
      |            FROM documents, UNNEST(range(1, GREATEST(length(text)-1, 1))) AS u(i)),
      |lp AS (SELECT lang AS cand, ng AS lng, row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, ng ASC) AS lrank
      |       FROM ng GROUP BY lang, ng QUALIFY lrank <= 100),
      |dp AS (SELECT doc_id, ng, row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, ng ASC) AS drank
      |       FROM ng GROUP BY doc_id, ng QUALIFY drank <= 100),
      |langs AS (SELECT DISTINCT cand FROM lp),
      |dist AS (SELECT dp.doc_id, langs.cand, SUM(COALESCE(ABS(dp.drank - lp.lrank), 100)) AS dist
      |         FROM dp CROSS JOIN langs
      |         LEFT JOIN lp ON lp.lng = dp.ng AND lp.cand = langs.cand
      |         GROUP BY dp.doc_id, langs.cand),
      |pred AS (SELECT doc_id, cand AS pred_lang,
      |                row_number() OVER (PARTITION BY doc_id ORDER BY dist ASC, cand ASC) AS rn
      |         FROM dist QUALIFY rn = 1)
      |SELECT d.lang AS true_lang, p.pred_lang, count(*) AS n
      |FROM documents d JOIN pred p USING (doc_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // T2: per-source quality scoring — stopword ratio, short-token ratio,
  // duplicate-token ratio folded into a composite score; per-row math
  // is IEEE doubles (deterministic), per-source averages go through the
  // decimal accumulator. One scan, one shuffle on `source`.
  // -------------------------------------------------------------------
  def t2Quality(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("double")
    val stopR = size(filter(toks, t => t === "a" || t === "the")).cast("double") / nTok
    val shortR = size(filter(toks, t => length(t) <= 2)).cast("double") / nTok
    val dupR = lit(1.0) - size(array_distinct(toks)).cast("double") / nTok
    val score = qualityScore(col("text"))
    def davg(c: org.apache.spark.sql.Column) =
      round(sum(c.cast(DecimalType(30, 6))) / count(lit(1)), 6).cast("double")
    docs.select(col("source"), stopR.as("stop_r"), shortR.as("short_r"),
        dupR.as("dup_r"), score.as("score"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        davg(col("score")).as("avg_quality"),
        davg(col("stop_r")).as("avg_stop_ratio"),
        davg(col("dup_r")).as("avg_dup_ratio"),
        sum(when(col("score") < 0.7, 1).otherwise(0)).as("n_low_quality"))
      .orderBy("source")
  }

  val t2Sql: String =
    """WITH q AS (
      |  SELECT source,
      |         CAST(len(list_filter(t, x -> x = 'a' OR x = 'the')) AS DOUBLE) / len(t) AS stop_r,
      |         CAST(len(list_filter(t, x -> length(x) <= 2)) AS DOUBLE) / len(t) AS short_r,
      |         1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS dup_r
      |  FROM (SELECT source, string_split(text, ' ') AS t FROM documents))
      |SELECT source, COUNT(*) AS n_docs,
      |       CAST(ROUND(SUM(CAST(1.0 - 0.5*stop_r - 0.3*short_r - 0.2*dup_r AS DECIMAL(30,6)))/COUNT(*), 6) AS DOUBLE) AS avg_quality,
      |       CAST(ROUND(SUM(CAST(stop_r AS DECIMAL(30,6)))/COUNT(*), 6) AS DOUBLE) AS avg_stop_ratio,
      |       CAST(ROUND(SUM(CAST(dup_r AS DECIMAL(30,6)))/COUNT(*), 6) AS DOUBLE) AS avg_dup_ratio,
      |       CAST(SUM(CASE WHEN 1.0 - 0.5*stop_r - 0.3*short_r - 0.2*dup_r < 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality
      |FROM q GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // T3: corpus tokenization statistics — whitespace tokens vs a BPE-ish
  // regex tokenizer (word / number / other-symbol classes), exact
  // distinct-token count, type-token ratio. countDistinct is exact here
  // (correctness gate); the scale path swaps in approx_count_distinct
  // (see Relational b13+ / HLL note).
  // -------------------------------------------------------------------
  private val tokPat = "[a-z]+|[0-9]+|[^a-z0-9 ]+"

  def t3TokenStats(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val a = toks.agg(
      count(lit(1)).as("n_ws_tokens"),
      countDistinct(col("tok")).as("n_distinct_tokens"))
    val b = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(regexp_extract_all(col("text"), lit(tokPat), lit(0)))).as("n_re_tokens"))
    a.crossJoin(b).select(
      col("n_docs"), col("n_ws_tokens"), col("n_distinct_tokens"), col("n_re_tokens"),
      round(col("n_ws_tokens") / col("n_docs"), 6).as("avg_tokens_per_doc"),
      round(col("n_distinct_tokens") / col("n_ws_tokens"), 6).as("ttr"))
  }

  val t3Sql: String =
    s"""WITH toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
      |a AS (SELECT COUNT(*) AS n_ws_tokens, COUNT(DISTINCT tok) AS n_distinct_tokens FROM toks),
      |b AS (SELECT COUNT(*) AS n_docs,
      |             CAST(SUM(len(regexp_extract_all(text, '$tokPat'))) AS BIGINT) AS n_re_tokens
      |      FROM documents)
      |SELECT n_docs, n_ws_tokens, n_distinct_tokens, n_re_tokens,
      |       ROUND(CAST(n_ws_tokens AS DOUBLE) / n_docs, 6) AS avg_tokens_per_doc,
      |       ROUND(CAST(n_distinct_tokens AS DOUBLE) / n_ws_tokens, 6) AS ttr
      |FROM a CROSS JOIN b""".stripMargin

  // -------------------------------------------------------------------
  // T4: winnowing document fingerprints (MOSS-style): polynomial
  // rolling hash (B=257 mod 1e9+7) over char-25-grams, window-4 minimum
  // (winnowing guarantees any verbatim match ≥ 28 chars shares a
  // fingerprint), distinct fingerprints per doc, then near-dup pairs by
  // overlap coefficient ≥ 0.5 via an equi-join on fingerprint —
  // candidate generation is join-based, never O(n²). Two hot-key
  // defenses keep the join near-linear at any corpus size:
  //  - 25-char grams (round 3 used 8): short grams saturate — their
  //    document frequency grows linearly with the corpus (measured max
  //    3813 at sf0.1), so at scale every fingerprint is boilerplate;
  //    25-gram df tops out at 14 there and stays flat, because a
  //    shared fingerprint now requires a verbatim 25-char overlap;
  //  - an explicit document-frequency cap (FpDfCap) on the JOIN side:
  //    a fingerprint shared by more than FpDfCap documents carries no
  //    pair-discriminating signal (boilerplate headers, licenses) and
  //    would contribute O(df²) candidates. It is excluded from
  //    matching but still counts in the per-doc totals, so overlap
  //    scores can only drop — boilerplate can't vouch for a pair.
  // -------------------------------------------------------------------
  /** Document-frequency cap for the t4/t7 fingerprint joins — the
    * MOSS "ignore matches that appear in too many documents" rule.
    * Candidates are bounded by sum(df²) over df ≤ cap ≤ n_fps·cap =
    * O(n·cap). Measured max df at sf0.1 is 14, so the cap is invisible
    * at the correctness SFs. */
  private[queries] val FpDfCap = 64

  /** Distinct winnowing fingerprints (poly-hash 25-grams, window-4 min)
    * per document — shared by T4 (intra-corpus pairs) and T7
    * (cross-split contamination). Computed by the native O(n)
    * rolling-hash expression [[graft.plans.WinnowFingerprints]]
    * (bit-identical to the declarative per-position formulation the
    * DuckDB oracle uses — the matching oracle hashes ARE the
    * equivalence proof): one codegen pass per document, no
    * position×row explode through the shuffle. */
  private[queries] def winnowFps(docs: DataFrame): DataFrame = {
    docs.filter(length(col("text")) >= 28)
      .select(col("doc_id"), explode(expr("winnow_fps(text)")).as("fp"))
  }

  /** The join-side fingerprint relation: df-capped (see FpDfCap). */
  private[queries] def cappedFps(fps: DataFrame): DataFrame = {
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= FpDfCap).select("fp")
    fps.join(keep, "fp")
  }

  /** Capped fingerprint-join candidate pairs with shared-fp counts —
    * exposed for ScaleSpec's planted-boilerplate bound. */
  private[queries] def t4Candidates(fps: DataFrame): DataFrame = {
    val fpj = cappedFps(fps)
    fpj.as("x").join(fpj.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .agg(count(lit(1)).as("c"))
  }

  def t4Fingerprint(s: SparkSession, d: String): DataFrame = {
    val fps = winnowFps(Tables.documents(s, d))
    val counts = fps.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = t4Candidates(fps)
    val ov = col("c") / least(col("ca.n"), col("cb.n"))
    inter
      .join(counts.as("ca"), col("ca.doc_id") === col("da"))
      .join(counts.as("cb"), col("cb.doc_id") === col("db"))
      .filter(ov >= 0.5)
      .select(col("da"), col("db"), round(ov, 6).as("overlap"))
      .orderBy("da", "db")
  }

  /** Shared DuckDB CTE chain ending in `fps(doc_id, fp)` (all
    * fingerprints, the denominator side) and `fpj(doc_id, fp)` (the
    * df-capped join side) — used by both t4 and t7 oracles. K = 25,
    * window 4; mirrors WinnowKernel. */
  private val duckFpsSql: String =
    s"""pos AS (SELECT doc_id, text, length(text) AS len, CAST(i AS INT) AS i
      |             FROM documents, UNNEST(range(1, length(text)-23)) AS u(i)
      |             WHERE length(text) >= 28),
      |kh AS (SELECT doc_id, len, i,
      |         list_reduce(list_transform(range(0,25), j -> CAST(unicode(substr(text, CAST(i+j AS INT), 1)) AS BIGINT)),
      |                     (h,c) -> (h*257+c) % $P) AS h
      |       FROM pos),
      |win AS (SELECT doc_id, i, len,
      |          MIN(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |        FROM kh),
      |fps AS (SELECT DISTINCT doc_id, fp FROM win WHERE i <= len - 27),
      |fkeep AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= $FpDfCap),
      |fpj AS (SELECT f.doc_id, f.fp FROM fps f JOIN fkeep USING (fp))""".stripMargin

  val t4Sql: String =
    s"""WITH $duckFpsSql,
      |counts AS (SELECT doc_id, count(*) AS n FROM fps GROUP BY 1),
      |inter AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS c
      |          FROM fpj x JOIN fpj y ON x.fp = y.fp AND x.doc_id < y.doc_id
      |          GROUP BY 1, 2)
      |SELECT da, db, ROUND(CAST(c AS DOUBLE)/LEAST(ca.n, cb.n), 6) AS overlap
      |FROM inter JOIN counts ca ON ca.doc_id = da JOIN counts cb ON cb.doc_id = db
      |WHERE CAST(c AS DOUBLE)/LEAST(ca.n, cb.n) >= 0.5
      |ORDER BY da, db""".stripMargin

  // -------------------------------------------------------------------
  // T5: vocabulary construction — corpus top-50 tokens by frequency
  // (ties → token asc) with ranks and coverage share. The first step of
  // any tokenizer build; one explode + one shuffle + TakeOrdered.
  // Coverage is per-row double division (IEEE-exact).
  // -------------------------------------------------------------------
  def t5Vocab(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    // total derived from the (vocab-sized) counts, not a second pass
    // over the exploded tokens
    val total = counts.agg(sum(col("cnt")).as("total"))
    // top-k via orderBy+limit (TakeOrderedAndProject: per-partition
    // heaps, no single-partition global sort of the whole vocabulary);
    // ranks come from sort_array + posexplode over the 50 survivors —
    // an aggregate, not a global window, so the bench log stays free of
    // `WindowExec: No Partition Defined` and a REAL unpartitioned
    // window elsewhere would still stand out. (-cnt, tok) sorts
    // ascending = frequency desc with token-asc ties.
    counts
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(50)
      .agg(sort_array(collect_list(struct((-col("cnt")).as("negcnt"), col("tok")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .crossJoin(total)
      .select(
        (col("pos") + 1).cast("long").as("rank"),
        col("s.tok").as("tok"),
        (-col("s.negcnt")).as("cnt"),
        round(-col("s.negcnt") / col("total"), 6).as("share"))
      .orderBy("rank")
  }

  // -------------------------------------------------------------------
  // T6: deterministic train/val/test split — every document lands in a
  // bucket 0..99 by a content-independent stable hash of its id
  // (md5 of the decimal string, folded to 48 bits, mod 100), split
  // 80/10/10. Hash-based assignment is the scale-correct way to split:
  // no global sort, no sampling pass, reproducible across runs and
  // engines, and stable under corpus growth (a doc's split never
  // changes when other docs are added). One narrow projection + one
  // shuffle on the 3-value split key.
  // -------------------------------------------------------------------
  /** The stable 0..99 bucket and 80/10/10 split assignment shared by
    * T6/T7/T13/T15/T18 here and D9/D10 in [[Dedup]]; the hash is
    * Dedup.hash48 so there is exactly one Spark/DuckDB fold invariant —
    * the split is a LOAD-BEARING cross-query contract (contamination
    * scans and incremental dedup are only meaningful against the split
    * they claim to audit), so every consumer must go through these two
    * columns, never re-derive the thresholds. */
  private[queries] def bucketCol: org.apache.spark.sql.Column =
    pmod(Dedup.hash48(col("doc_id").cast("string")), lit(100L))

  private[queries] def splitCol: org.apache.spark.sql.Column =
    when(bucketCol < 80, "train").when(bucketCol < 90, "val").otherwise("test")

  /** The base-corpus predicate of the same contract (D9/D10's delta =
    * everything outside the t6 train bucket). */
  private[queries] def isBaseCol: org.apache.spark.sql.Column = bucketCol < 80

  /** T2's composite quality score over whitespace tokens — shared with
    * T18's curation report so the weights/stopword list can never
    * drift between the quality surface and the report that cites it. */
  private[queries] def qualityScore(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val toks = split(text, " ")
    val nTok = size(toks).cast("double")
    val stopR = size(filter(toks, t => t === "a" || t === "the")).cast("double") / nTok
    val shortR = size(filter(toks, t => length(t) <= 2)).cast("double") / nTok
    val dupR = lit(1.0) - size(array_distinct(toks)).cast("double") / nTok
    lit(1.0) - lit(0.5) * stopR - lit(0.3) * shortR - lit(0.2) * dupR
  }

  def t6Split(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .withColumn("bucket", bucketCol)
      .withColumn("split", splitCol)
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("n_chars").cast(DecimalType(30, 6))) / count(lit(1)), 6)
          .cast("double").as("avg_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy("split")
  }


  /** DuckDB CTE `sp(doc_id, n_chars, split)` — the t6 split assignment
    * (thresholds live ONLY in Dedup.duckDocBucket/duckSplitCase). */
  private val duckSplitSql: String =
    s"""b AS (SELECT doc_id, n_chars, ${Dedup.duckDocBucket} AS bucket FROM documents),
      |sp AS (SELECT doc_id, n_chars, ${Dedup.duckSplitCase} AS split
      |       FROM b)""".stripMargin

  val t6Sql: String =
    s"""WITH $duckSplitSql
      |SELECT split, COUNT(*) AS n_docs,
      |       CAST(ROUND(SUM(CAST(n_chars AS DECIMAL(30,6))) / COUNT(*), 6) AS DOUBLE) AS avg_chars,
      |       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
      |FROM sp GROUP BY split ORDER BY split""".stripMargin

  // -------------------------------------------------------------------
  // T7: train/test contamination scan — test-split documents that share
  // a winnowing fingerprint (t4 machinery: any verbatim common
  // substring ≥ 28 chars leaves a shared fingerprint) with any
  // train-split document. THE eval-integrity check for a training
  // corpus. Matching is an equi-join on fingerprint between the two
  // split projections — never a cross join — over the df-capped
  // fingerprint relation (t4's boilerplate rule: a fingerprint in more
  // than FpDfCap documents indicts nothing), and the split assignment
  // is the same stable hash as T6, so the scan is reproducible on any
  // engine or partitioning.
  // -------------------------------------------------------------------
  def t7Contamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val splits = docs.select(col("doc_id"), splitCol.as("split"))
    val fpSplit = cappedFps(winnowFps(docs)).join(splits, "doc_id")
    val train = fpSplit.filter(col("split") === "train")
      .select(col("fp"), col("doc_id").as("train_doc"))
    val test = fpSplit.filter(col("split") === "test")
      .select(col("fp"), col("doc_id").as("test_doc"))
    test.join(train, "fp")
      .groupBy(col("test_doc").as("test_doc_id"))
      .agg(
        countDistinct(col("fp")).as("n_shared_fps"),
        countDistinct(col("train_doc")).as("n_train_docs"),
        min(col("train_doc")).as("first_train_doc"))
      .orderBy("test_doc_id")
  }

  val t7Sql: String =
    s"""WITH $duckFpsSql,
      |$duckSplitSql,
      |fs AS (SELECT f.doc_id, f.fp, s.split FROM fpj f JOIN sp s ON s.doc_id = f.doc_id),
      |tr AS (SELECT fp, doc_id AS train_doc FROM fs WHERE split = 'train'),
      |te AS (SELECT fp, doc_id AS test_doc FROM fs WHERE split = 'test')
      |SELECT te.test_doc AS test_doc_id,
      |       COUNT(DISTINCT te.fp) AS n_shared_fps,
      |       COUNT(DISTINCT train_doc) AS n_train_docs,
      |       MIN(train_doc) AS first_train_doc
      |FROM te JOIN tr ON tr.fp = te.fp
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val t5Sql: String =
    """WITH toks AS (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
      |t AS (SELECT SUM(cnt) AS total FROM c),
      |r AS (SELECT tok, cnt, ROUND(CAST(cnt AS DOUBLE) / total, 6) AS share,
      |             row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank
      |      FROM c CROSS JOIN t QUALIFY rank <= 50)
      |SELECT rank, tok, cnt, share FROM r ORDER BY rank""".stripMargin

  // -------------------------------------------------------------------
  // T8: domain-mixing weights — per-source sampling shares ∝
  // sqrt(total chars), the sublinear reweighting used to keep large
  // domains from swamping a training mix. sqrt (not pow) because IEEE
  // requires sqrt to be correctly rounded — bit-identical on every
  // engine — while pow may differ in the last ulp; the per-source
  // weight is rounded to a DECIMAL(30,6) so the normalizing sum is
  // exact and associative. One tiny aggregation: sources ≪ corpus.
  // -------------------------------------------------------------------
  def t8MixWeights(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .withColumn("w", round(sqrt(col("n_chars")), 6).cast(DecimalType(30, 6)))
    val total = per.agg(sum(col("w")).as("tw"))
    per.crossJoin(total)
      .select(col("source"), col("n_docs"), col("n_chars"),
        round(col("w").cast("double") / col("tw").cast("double"), 6).as("share"))
      .orderBy("source")
  }

  val t8Sql: String =
    """WITH per AS (
      |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |         CAST(ROUND(SQRT(SUM(n_chars)), 6) AS DECIMAL(30,6)) AS w
      |  FROM documents GROUP BY source),
      |t AS (SELECT SUM(w) AS tw FROM per)
      |SELECT source, n_docs, n_chars,
      |       ROUND(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS share
      |FROM per CROSS JOIN t ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // T9: intra-document repetition (Gopher-style duplicate-n-gram
  // signal) — the fraction of a document's word-trigrams that are
  // repeats of an earlier trigram in the SAME document. Trigrams are
  // built by a narrow array transform (no self-join, no window): one
  // scan, one shuffle on doc_id for the distinct count, one on the
  // 20-value source key. Everything except the final ratio is exact
  // integer arithmetic; the flag predicate is the integer comparison
  // (n_tri − n_distinct)·100 > n_tri (i.e. >1% dup trigrams), so no
  // boundary row can flip on floating-point averaging order. Documents
  // under 3 words have no trigrams and drop out on both engines.
  // -------------------------------------------------------------------
  def t9Repetition(s: SparkSession, d: String): DataFrame = {
    val tris = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"),
        explode(expr(
          """CASE WHEN size(w) >= 3
            |     THEN transform(sequence(0, size(w) - 3),
            |                    i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
            |     ELSE array() END""".stripMargin)).as("tri"))
    val perDoc = tris.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tri"), countDistinct(col("tri")).as("n_distinct"))
    perDoc.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tri")).as("total_tri"),
        sum(col("n_tri") - col("n_distinct")).as("total_dup"),
        max(col("n_tri") - col("n_distinct")).as("max_doc_dup"),
        sum(when((col("n_tri") - col("n_distinct")) * 100 > col("n_tri"), 1L)
          .otherwise(0L)).as("n_flagged"))
      .withColumn("dup_frac",
        round(col("total_dup").cast("double") / col("total_tri"), 6))
      .orderBy("source")
  }

  val t9Sql: String =
    """WITH ws AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |tg AS (SELECT doc_id, source,
      |              UNNEST(list_transform(range(1, GREATEST(len(w) - 1, 1)),
      |                                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tri
      |       FROM ws),
      |per AS (SELECT doc_id, source, COUNT(*) AS n_tri, COUNT(DISTINCT tri) AS n_distinct
      |        FROM tg GROUP BY 1, 2)
      |SELECT source,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(n_tri) AS BIGINT) AS total_tri,
      |       CAST(SUM(n_tri - n_distinct) AS BIGINT) AS total_dup,
      |       CAST(MAX(n_tri - n_distinct) AS BIGINT) AS max_doc_dup,
      |       CAST(SUM(CASE WHEN (n_tri - n_distinct) * 100 > n_tri THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |       CAST(ROUND(CAST(SUM(n_tri - n_distinct) AS DOUBLE) / SUM(n_tri), 6) AS DOUBLE) AS dup_frac
      |FROM per GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // T10: fixed-size stratified sampling — exactly min(15, |stratum|)
  // documents per source, chosen as the 15 smallest values of a stable
  // md5-derived hash (salted 'strat' so T6's split hash stays
  // independent). Rank-by-stable-hash is the scale path for fixed-size
  // uniform samples: no global sort, no sampling pass, reproducible on
  // any engine/partitioning, and the per-stratum window sorts only
  // within each source partition. Same single hash invariant as
  // T6/D1 ([[Dedup.hash48]]).
  // -------------------------------------------------------------------
  def t10StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val h = Dedup.hash48(concat(lit("strat"), col("doc_id").cast("string")))
    // rank-THEN-FILTER, not rank-into-flags: `filter(rn <= 15)` right
    // after the window is the shape InferWindowGroupLimit rewrites into
    // a two-phase group limit — each map task keeps only its own top-15
    // per source, so the per-source window never sorts the corpus in
    // |sources| giant partitions (the flag-column form computed rn for
    // EVERY row and fed the whole table through the window; with a
    // handful of sources that serializes the corpus onto a handful of
    // reducers at scale). The stratum totals come from a plain
    // hash-aggregate instead — plan-asserted in PlanShapeSpec.
    val docs = Tables.documents(s, d)
    val sampled = docs
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(h.asc, col("doc_id").asc)))
      .filter(col("rn") <= 15)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("min_sampled_doc"),
        max(col("doc_id")).as("max_sampled_doc"),
        round(
          sum(col("n_chars").cast(DecimalType(30, 6))) / count(lit(1)), 6)
          .cast("double").as("avg_chars_sampled"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(sampled, "source")
      .select(col("source"), col("n_docs"), col("n_sampled"),
        col("min_sampled_doc"), col("max_sampled_doc"), col("avg_chars_sampled"))
      .orderBy("source")
  }

  val t10Sql: String = {
    val h = Dedup.duckHash48("'strat' || CAST(doc_id AS VARCHAR)")
    s"""WITH rn AS (
      |  SELECT doc_id, source, n_chars,
      |         row_number() OVER (PARTITION BY source ORDER BY $h ASC, doc_id ASC) AS rn
      |  FROM documents),
      |flagged AS (SELECT *, rn <= 15 AS in_sample FROM rn)
      |SELECT source,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      |       MIN(CASE WHEN in_sample THEN doc_id END) AS min_sampled_doc,
      |       MAX(CASE WHEN in_sample THEN doc_id END) AS max_sampled_doc,
      |       CAST(ROUND(SUM(CASE WHEN in_sample THEN CAST(n_chars AS DECIMAL(30,6)) ELSE CAST(0 AS DECIMAL(30,6)) END)
      |                  / SUM(CASE WHEN in_sample THEN 1 ELSE 0 END), 6) AS DOUBLE) AS avg_chars_sampled
      |FROM flagged GROUP BY source ORDER BY source""".stripMargin
  }

  // -------------------------------------------------------------------
  // T11: count-min-sketch heavy hitters — the bounded-state streaming
  // answer to "top tokens" that T5 answers exactly. The sketch is
  // d=4 × w=16 integer counters keyed by md5-derived bucket hashes:
  // counting shuffles on the (j, bucket) key — at most d·w = 64
  // groups REGARDLESS of vocabulary size, where T5's exact groupBy
  // state grows with the vocabulary (the reason CMS exists at 100 TB).
  // Counters are exact integer sums, so unlike most sketches this one
  // is bit-reproducible in DuckDB and fully hash-oracled. w is
  // deliberately tiny so the defining CMS property is visible in the
  // output: collisions overestimate (est_n > exact_n for some tokens)
  // but NEVER underestimate — gated in-query per row, b16-style.
  // Production sizing is w ≈ ⌈e/ε⌉ for ε-relative error.
  // -------------------------------------------------------------------
  private val CmsD = 4
  private val CmsW = 16L

  /** The d per-row (j, bucket) assignments for a token column — ONE
    * hash invariant with the DuckDB rendering in t11Sql. */
  private def cmsBuckets(tok: org.apache.spark.sql.Column) =
    array((0 until CmsD).map(j =>
      struct(lit(j).as("j"),
        pmod(Dedup.hash48(concat(lit(s"cms${j}_"), tok)), lit(CmsW)).as("b"))): _*)

  def t11CmsTopk(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
    // sketch side: one narrow explode to d rows per token, then the
    // constant-width (j, bucket) count — never a vocab-sized shuffle
    val cms = toks.select(explode(cmsBuckets(col("tok"))).as("h"))
      .groupBy(col("h.j").as("j"), col("h.b").as("b"))
      .agg(count(lit(1)).as("c"))
    // ground-truth side (the in-query oracle of the sketch, like b16's
    // exact countDistinct next to the HLL estimate)
    val top = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(10)
    top.select(col("tok"), col("cnt"), explode(cmsBuckets(col("tok"))).as("h"))
      .join(cms, col("h.j") === col("j") && col("h.b") === col("b"))
      .groupBy("tok", "cnt")
      .agg(min(col("c")).as("est"))
      .select(col("tok"), col("cnt").as("exact_n"), col("est").as("est_n"),
        (col("est") >= col("cnt")).as("never_underestimates"))
      .orderBy(col("exact_n").desc, col("tok").asc)
  }

  val t11Sql: String = {
    def h(x: String) = Dedup.duckHash48(x)
    s"""WITH toks AS (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents),
      |h AS (SELECT tok, r.j, ${h("'cms' || CAST(r.j AS VARCHAR) || '_' || tok")} % $CmsW AS b
      |      FROM toks, UNNEST(range(0, $CmsD)) AS r(j)),
      |cms AS (SELECT j, b, COUNT(*) AS c FROM h GROUP BY 1, 2),
      |counts AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1),
      |top AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok ASC LIMIT 10),
      |tb AS (SELECT t.tok, t.cnt, r.j,
      |              ${h("'cms' || CAST(r.j AS VARCHAR) || '_' || t.tok")} % $CmsW AS b
      |       FROM top t, UNNEST(range(0, $CmsD)) AS r(j)),
      |est AS (SELECT tb.tok, tb.cnt, MIN(c.c) AS est
      |        FROM tb JOIN cms c ON c.j = tb.j AND c.b = tb.b GROUP BY 1, 2)
      |SELECT tok, cnt AS exact_n, CAST(est AS BIGINT) AS est_n,
      |       est >= cnt AS never_underestimates
      |FROM est ORDER BY exact_n DESC, tok ASC""".stripMargin
  }

  // -------------------------------------------------------------------
  // T12: cross-document boilerplate profile — the shingle-document-
  // frequency pass behind boilerplate stripping in web-corpus pipelines
  // (CCNet/RefinedWeb-style): how much of each document is made of
  // 5-gram shingles that also occur in OTHER documents, and how many
  // documents are majority-boilerplate. Distinct per-doc shingles →
  // document frequency per shingle (one linear shuffle on the shingle
  // key) → joined back to score each document. The distinct() subtree
  // feeds both branches of the self-join through a shared persisted
  // relation (asserted in PlanShapeSpec) — the corpus is scanned and
  // exploded once. The join back on the shingle key inherits the
  // shingle-frequency skew (a mega-boilerplate shingle = one hot key),
  // and is deliberately shaped so AQE's OptimizeSkewedJoin CAN split
  // it at runtime (see the lineage-cut note below; executed-plan-
  // asserted in ScaleSpec); the groupBy+join form is chosen over a
  // count-window for that reason — a window over the hot key could
  // never be split.
  // -------------------------------------------------------------------
  private val T12ShingleK = 5

  def t12Boilerplate(s: SparkSession, d: String): DataFrame = {
    val k = T12ShingleK
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= k) // guard: sequence(1, n) descends when n < 1
      .select(col("doc_id"), col("source"),
        explode(expr(
          s"transform(sequence(1, size(ws) - ${k - 1}), i -> array_join(slice(ws, i, $k), ' '))"))
          .as("shingle"))
      .distinct()
    // The localCheckpoint cuts the df relation's lineage so it enters
    // the join as a plain scan. It is not lazy even with eager = false:
    // checkpointing takes the plan's RDD, and under AQE that executes
    // the adaptive plan, so the builder starts one job while it is
    // called (BuildersSpec allow-lists it). OptimizeSkewedJoin only matches
    // a sort-merge join whose BOTH children are bare shuffle stages,
    // and without the cut the final HashAggregate sits directly under
    // the join and silently blocks the split — a hot boilerplate
    // shingle's partition could then never be divided, no matter the
    // AQE settings. (A same-key repartition can't stage it either:
    // EnsureRequirements.optimizeOutRepartition strips user shuffles
    // on the join keys.) Executed-plan-asserted in ScaleSpec against a
    // planted mega-hot shingle. The persist keeps the one-corpus-scan
    // property the ReusedExchange used to provide (the cut would
    // otherwise re-scan the corpus for the df build); CacheManager
    // dedupes the entry across repeated calls, so the builder stays
    // idempotent. Cost: caching the shingle relation (disk-backed,
    // the same trade d7 makes for its pair graph) plus one row per
    // distinct shingle for the checkpoint — what buys a splittable
    // hot-key join-back at 100 TB.
    val shShared = sh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = shShared.groupBy("shingle").agg(count(lit(1)).as("df"))
      .localCheckpoint(false)
    shShared.join(df, "shingle")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_sh")).as("n_shingles"),
        sum(col("n_dup")).as("n_shared"),
        round(sum(col("n_dup").cast(DecimalType(30, 6))) / sum(col("n_sh")), 6)
          .cast("double").as("shared_frac"),
        sum(when(col("n_dup") * 2 > col("n_sh"), 1L).otherwise(0L))
          .as("n_boilerplate_docs"))
      .orderBy("source")
  }

  val t12Sql: String =
    """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, source,
      |              ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS shingle
      |       FROM w, UNNEST(range(1, len(ws) - 3)) AS t(i)),
      |df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
      |doc AS (SELECT sh.doc_id, sh.source, COUNT(*) AS n_sh,
      |               SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS n_dup
      |        FROM sh JOIN df USING (shingle) GROUP BY 1, 2)
      |SELECT source,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
      |       CAST(SUM(n_dup) AS BIGINT) AS n_shared,
      |       CAST(ROUND(SUM(CAST(n_dup AS DECIMAL(30,6))) / SUM(n_sh), 6) AS DOUBLE) AS shared_frac,
      |       CAST(SUM(CASE WHEN n_dup * 2 > n_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate_docs
      |FROM doc GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // T13: train/test n-gram novelty scan — what fraction of the test
  // split's trigram instances never occur in the train split. The
  // complement of T7's contamination check: T7 finds verbatim overlap
  // (eval leakage), T13 measures how NOVEL the held-out text is — the
  // memorization-vs-generalization accounting an eval pipeline reports.
  // Split assignment is T6's stable hash, so the scan is reproducible
  // under any partitioning. Two linear passes over the corpus (train
  // vocabulary build + test scoring) joined on the trigram key — a
  // shuffle equi-join that broadcasts when the vocabulary is small and
  // degrades to a linear shuffle join, never quadratic; at cluster
  // scale persist the token relation to trade the second scan for
  // cache I/O.
  // -------------------------------------------------------------------
  def t13Novelty(s: SparkSession, d: String): DataFrame = {
    val tris = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), splitCol.as("split"),
        split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"), col("split"),
        explode(expr(
          """CASE WHEN size(w) >= 3
            |     THEN transform(sequence(0, size(w) - 3),
            |                    i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
            |     ELSE array() END""".stripMargin)).as("tri"))
    val seen = tris.filter(col("split") === "train").select("tri").distinct()
      .withColumn("in_train", lit(true))
    tris.filter(col("split") === "test")
      .join(seen, Seq("tri"), "left")
      .groupBy("source")
      .agg(
        countDistinct(col("doc_id")).as("n_test_docs"),
        count(lit(1)).as("n_tri"),
        sum(when(col("in_train").isNull, 1L).otherwise(0L)).as("n_novel"),
        round(sum(when(col("in_train").isNull, 1L).otherwise(0L)).cast(DecimalType(30, 6))
          / count(lit(1)), 6).cast("double").as("novel_frac"),
        countDistinct(when(col("in_train").isNull, col("tri"))).as("n_distinct_novel"))
      .orderBy("source")
  }

  val t13Sql: String =
    s"""WITH b AS (SELECT doc_id, source, text, ${Dedup.duckDocBucket} AS bucket FROM documents),
      |sp2 AS (SELECT doc_id, source, text, ${Dedup.duckSplitCase} AS split FROM b),
      |ws AS (SELECT doc_id, source, split, string_split(text, ' ') AS w FROM sp2),
      |tg AS (SELECT doc_id, source, split,
      |              UNNEST(list_transform(range(1, GREATEST(len(w) - 1, 1)),
      |                                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tri
      |       FROM ws),
      |seen AS (SELECT DISTINCT tri FROM tg WHERE split = 'train'),
      |te AS (SELECT t.doc_id, t.source, t.tri, (s.tri IS NOT NULL) AS in_train
      |       FROM tg t LEFT JOIN seen s ON s.tri = t.tri WHERE t.split = 'test')
      |SELECT source,
      |       COUNT(DISTINCT doc_id) AS n_test_docs,
      |       COUNT(*) AS n_tri,
      |       CAST(SUM(CASE WHEN NOT in_train THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |       CAST(ROUND(SUM(CAST(CASE WHEN NOT in_train THEN 1 ELSE 0 END AS DECIMAL(30,6))) / COUNT(*), 6) AS DOUBLE) AS novel_frac,
      |       COUNT(DISTINCT CASE WHEN NOT in_train THEN tri END) AS n_distinct_novel
      |FROM te GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // T14: PII detection + redaction. The corpus text is synthetic word
  // soup with no natural PII, so — following the repo's planted-pattern
  // convention (planted NULL keys, planted hot shingles) — each doc is
  // AUGMENTED with a deterministic doc_id-derived contact block (email,
  // IPv4, 16-digit card, NZ phone), then the four detector regexes and
  // the redaction pass run against the augmented text for real. The
  // redacted-text checksum (hash48 mod a prime, summed) proves the
  // redaction output is byte-identical across engines, not just the
  // counts. Per-row regex work is narrow (one scan, one shuffle on
  // `source`); the regexes are RE2-safe so the same patterns run on
  // DuckDB, Java, and any RE2-based scanner at 100 TB.
  // -------------------------------------------------------------------
  private val emailPat = """[a-z0-9]+@[a-z]+\.[a-z]+"""
  private val ipPat = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  private val cardPat = """\b4\d{15}\b"""
  private val phonePat = """\+64-\d{2}-\d{6}"""

  def t14PiiRedact(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val aug = concat(col("text"),
      lit(" contact user"), id.cast("string"), lit("@mail.example from 10."),
      (id % 200).cast("string"), lit("."), ((id / 7).cast("long") % 250).cast("string"),
      lit("."), (id % 250).cast("string"),
      lit(" card 4"), lpad((id % 1000000000L).cast("string"), 15, "0"),
      lit(" ph +64-21-"), lpad((id % 1000000L).cast("string"), 6, "0"))
    val red = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(aug, phonePat, "<PHONE>"),
          cardPat, "<CARD>"),
        emailPat, "<EMAIL>"),
      ipPat, "<IP>")
    Tables.documents(s, d)
      .select(col("source"),
        size(regexp_extract_all(aug, lit(emailPat), lit(0))).as("ne"),
        size(regexp_extract_all(aug, lit(ipPat), lit(0))).as("ni"),
        size(regexp_extract_all(aug, lit(cardPat), lit(0))).as("nc"),
        size(regexp_extract_all(aug, lit(phonePat), lit(0))).as("np"),
        (length(aug) - length(red)).cast("long").as("cut"),
        (Dedup.hash48(red) % 1000003L).as("ck"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ne")).cast("long").as("n_email"),
        sum(col("ni")).cast("long").as("n_ip"),
        sum(col("nc")).cast("long").as("n_card"),
        sum(col("np")).cast("long").as("n_phone"),
        sum(col("cut")).as("chars_redacted"),
        sum(col("ck")).as("redact_checksum"))
      .orderBy("source")
  }

  val t14Sql: String = {
    val aug = "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example from 10.' || " +
      "CAST(doc_id % 200 AS VARCHAR) || '.' || CAST((doc_id // 7) % 250 AS VARCHAR) || '.' || " +
      "CAST(doc_id % 250 AS VARCHAR) || ' card 4' || lpad(CAST(doc_id % 1000000000 AS VARCHAR), 15, '0') || " +
      "' ph +64-21-' || lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0')"
    s"""WITH a AS (SELECT source, $aug AS aug FROM documents),
      |r AS (SELECT source, aug,
      |             regexp_replace(regexp_replace(regexp_replace(regexp_replace(aug,
      |               '\\+64-\\d{2}-\\d{6}', '<PHONE>', 'g'),
      |               '\\b4\\d{15}\\b', '<CARD>', 'g'),
      |               '[a-z0-9]+@[a-z]+\\.[a-z]+', '<EMAIL>', 'g'),
      |               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS red
      |      FROM a)
      |SELECT source, COUNT(*) AS n_docs,
      |       CAST(SUM(len(regexp_extract_all(aug, '[a-z0-9]+@[a-z]+\\.[a-z]+'))) AS BIGINT) AS n_email,
      |       CAST(SUM(len(regexp_extract_all(aug, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))) AS BIGINT) AS n_ip,
      |       CAST(SUM(len(regexp_extract_all(aug, '\\b4\\d{15}\\b'))) AS BIGINT) AS n_card,
      |       CAST(SUM(len(regexp_extract_all(aug, '\\+64-\\d{2}-\\d{6}'))) AS BIGINT) AS n_phone,
      |       CAST(SUM(len(aug) - len(red)) AS BIGINT) AS chars_redacted,
      |       CAST(SUM(${Dedup.duckHash48("red")} % 1000003) AS BIGINT) AS redact_checksum
      |FROM r GROUP BY source ORDER BY source""".stripMargin
  }

  // -------------------------------------------------------------------
  // T15: sequence packing — GPT-style concatenate-and-chunk. Per split,
  // documents are laid end-to-end in doc_id order and cut into fixed
  // 256-token training sequences; the audit reports how many sequences
  // the split yields and how many documents straddle a sequence
  // boundary (the packing-quality number a pretraining pipeline
  // watches). max_docs_started_in_seq counts documents whose FIRST
  // token lands in the sequence — a doc spilling in from the previous
  // sequence is deliberately not attributed to this one. All arithmetic is integer (token counts, cumulative
  // offsets, integer division by the capacity), so the result is exact
  // on any engine. Scale shape: ONE range-partitioned sort per split
  // (the window's sort shuffle) and two skinny aggregations — at 100 TB
  // the sort is the unavoidable cost of a deterministic layout, and
  // everything after it is linear.
  // -------------------------------------------------------------------
  private val seqCap = 256

  def t15SeqPack(s: SparkSession, d: String): DataFrame = {
    // the running token offset is a PREFIX SCAN, not a window: with
    // only 3 split values, `sum().over(partitionBy(split))` would hash
    // each split's whole extent to one reducer — the corpus through 3
    // tasks at any cluster size. PrefixScan.runningLongSum is the
    // two-phase distributed scan (range-sort, per-partition totals,
    // broadcast offsets), exact integer arithmetic, identical values.
    val docs = graft.operators.PrefixScan.runningLongSum(
      Tables.documents(s, d)
        .select(col("doc_id"), splitCol.as("split"),
          size(split(col("text"), " ")).cast("long").as("tok")),
      "split", Seq("doc_id"), "tok", "cum")
      .withColumn("first_seq", expr(s"(cum - tok) div $seqCap"))
      .withColumn("crossing", (expr(s"(cum - 1) div $seqCap") =!= col("first_seq")).cast("long"))
    val perSeq = docs.groupBy("split", "first_seq").agg(count(lit(1)).as("n_started"))
      .groupBy("split").agg(max(col("n_started")).as("max_docs_started_in_seq"))
    docs.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("total_tokens"),
        expr(s"(sum(tok) + ${seqCap - 1}) div $seqCap").as("n_sequences"),
        sum(col("crossing")).as("n_crossing_docs"))
      .join(perSeq, "split")
      .select("split", "n_docs", "total_tokens", "n_sequences",
        "n_crossing_docs", "max_docs_started_in_seq")
      .orderBy("split")
  }

  val t15Sql: String =
    s"""WITH $duckSplitSql,
      |dt AS (SELECT sp.doc_id, sp.split, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS tok
      |       FROM sp JOIN documents d USING (doc_id)),
      |cu AS (SELECT doc_id, split, tok,
      |              SUM(tok) OVER (PARTITION BY split ORDER BY doc_id
      |                             ROWS UNBOUNDED PRECEDING) AS cum
      |       FROM dt),
      |fs AS (SELECT split, tok, cum, (cum - tok) // $seqCap AS first_seq,
      |              CASE WHEN (cum - 1) // $seqCap <> (cum - tok) // $seqCap THEN 1 ELSE 0 END AS crossing
      |       FROM cu),
      |ps AS (SELECT split, MAX(n_started) AS max_docs_started_in_seq
      |       FROM (SELECT split, first_seq, COUNT(*) AS n_started FROM fs GROUP BY 1, 2)
      |       GROUP BY 1)
      |SELECT fs.split, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS total_tokens,
      |       CAST((SUM(tok) + ${seqCap - 1}) // $seqCap AS BIGINT) AS n_sequences,
      |       CAST(SUM(crossing) AS BIGINT) AS n_crossing_docs, ps.max_docs_started_in_seq
      |FROM fs JOIN ps ON ps.split = fs.split
      |GROUP BY fs.split, ps.max_docs_started_in_seq ORDER BY fs.split""".stripMargin

  // -------------------------------------------------------------------
  // T16: TF-IDF top terms. Term frequency per (doc, word), document
  // frequency per word over the WHOLE corpus, and an integer-scaled
  // score tf * 1e6 * N / df (BIGINT div — no floating log, so the
  // ranking is bit-deterministic on every engine). Top-3 terms for the
  // first 20 docs keeps the output small while the df/N statistics
  // exercise the full corpus. Scale shape: the join-back on the word
  // key is structurally skew-IMMUNE — the doc_id < 20 output filter
  // pushes below the window and the join into the tf-side scan
  // (partition-key pushdown, plan-asserted in ScaleSpec), so the probe
  // side is a handful of docs, and the corpus-sized df side has UNIQUE
  // word keys after its aggregate, so no hot partition can exist on
  // either input; the per-doc ranking window partitions by doc_id, so
  // no global sort anywhere. (t12 is the query whose join-back really
  // inherits corpus skew — see its AQE skew-split recipe.)
  // -------------------------------------------------------------------
  def t16Tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = words.groupBy("word").agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.select(countDistinct(col("doc_id")).as("n"))
    tf.join(df, "word").crossJoin(broadcast(n))
      .withColumn("score", expr("(tf * 1000000 * n) div df"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("word").asc)))
      .filter(col("rnk") <= 3 && col("doc_id") < 20)
      .select("doc_id", "rnk", "word", "tf", "df", "score")
      .orderBy("doc_id", "rnk")
  }

  val t16Sql: String =
    """WITH w AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
      |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM w),
      |sc AS (SELECT tf.doc_id, tf.word, tf.tf, df.df, (tf.tf * 1000000 * n.n) // df.df AS score,
      |              row_number() OVER (PARTITION BY tf.doc_id
      |                                 ORDER BY (tf.tf * 1000000 * n.n) // df.df DESC, tf.word ASC) AS rnk
      |       FROM tf JOIN df USING (word) CROSS JOIN n)
      |SELECT doc_id, rnk, word, tf, df, score
      |FROM sc WHERE rnk <= 3 AND doc_id < 20
      |ORDER BY doc_id, rnk""".stripMargin

  // -------------------------------------------------------------------
  // T17: lexical rarity scoring — the df-rank complement to t2's
  // surface heuristics and t16's per-term ranking: a document whose
  // tokens are all corpus-common is boilerplate-ish; one dense in
  // hapax legomena is either novel or noise. Per-token rarity is the
  // integer-scaled inverse document frequency (N·1e6 div df — same
  // no-floating-log trick as t16); per-doc mean goes through the
  // DECIMAL accumulator, per-source mean-of-means likewise. Hapax
  // accounting (df = 1) rides the same join. Scale shape: one
  // vocab-sized df aggregate joined back on the word key (AQE-
  // splittable stopword skew), then two skinny grouping shuffles.
  // -------------------------------------------------------------------
  def t17Rarity(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val words = docs.select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("word"))
    val df = words.groupBy("word").agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.select(countDistinct(col("doc_id")).as("n"))
    // Both mean levels ride the exact integer round-half-up route in
    // micro-units (the b35 recipe): ROUND(SUM(DECIMAL)/COUNT, 6) is a
    // DuckDB double division, and at rarity magnitudes (~n·1e6) a mean
    // eventually lands within an ulp of a .5 rounding boundary — it
    // did at sf0.1. Only the final avg divides (the SAME integer) by
    // 1e6 in double, so both engines emit identical bits.
    val perDoc = words.join(df, "word").crossJoin(broadcast(n))
      .withColumn("rarity", expr("(n * 1000000) div df"))
      .groupBy("doc_id", "source")
      .agg(
        expr("(2000000 * cast(sum(rarity) as decimal(38,0)) + count(1)) div (2 * count(1))")
          .as("doc_r1e6"),
        max(col("rarity")).as("max_rarity"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_hapax"))
    perDoc.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        (expr("(2 * cast(sum(doc_r1e6) as decimal(38,0)) + count(1)) div (2 * count(1))")
          / lit(1000000.0)).as("avg_rarity"),
        max(col("max_rarity")).as("max_rarity"),
        sum(col("n_hapax")).as("n_hapax"))
      .orderBy("source")
  }

  val t17Sql: String =
    """WITH w AS (SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS word FROM documents),
      |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM w),
      |pd AS (SELECT w.doc_id, w.source,
      |              (2000000 * CAST(SUM((n.n * 1000000) // df.df) AS HUGEINT) + COUNT(*))
      |                // (2 * COUNT(*)) AS doc_r1e6,
      |              MAX((n.n * 1000000) // df.df) AS max_rarity,
      |              CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      |       FROM w JOIN df USING (word) CROSS JOIN n
      |       GROUP BY 1, 2)
      |SELECT source, COUNT(*) AS n_docs,
      |       CAST((2 * CAST(SUM(doc_r1e6) AS HUGEINT) + COUNT(*))
      |            // (2 * COUNT(*)) AS BIGINT) / 1000000.0 AS avg_rarity,
      |       MAX(max_rarity) AS max_rarity,
      |       CAST(SUM(n_hapax) AS BIGINT) AS n_hapax
      |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // T18: curation report — the one-table summary a dataset release
  // ships with, composed from the pipeline's own invariants per split:
  // volume (docs/tokens), exact-duplicate load (d1's md5 group within
  // the split), and quality (t2's composite score, low-quality count).
  // Everything is a single scan + one shuffle on the split key; the
  // exact countDistinct is the correctness gate, with b16's sketch as
  // the documented 100 TB swap-in.
  // -------------------------------------------------------------------
  def t18CurationReport(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(splitCol.as("split"), md5(col("text")).as("th"),
        qualityScore(col("text")).as("score"),
        size(split(col("text"), " ")).cast("long").as("tok"))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("th")).as("n_unique"),
        (count(lit(1)) - countDistinct(col("th"))).as("n_exact_dups"),
        sum(col("tok")).as("total_tokens"),
        round(sum(col("score").cast(DecimalType(30, 6))) / count(lit(1)), 6)
          .cast("double").as("avg_quality"),
        sum(when(col("score") < 0.7, 1L).otherwise(0L)).as("n_low_quality"))
      .orderBy("split")
  }

  val t18Sql: String =
    s"""WITH b AS (SELECT doc_id, text, ${Dedup.duckDocBucket} AS bucket FROM documents),
      |sp3 AS (SELECT text, ${Dedup.duckSplitCase} AS split FROM b),
      |q AS (SELECT split, md5(text) AS th, CAST(len(t) AS BIGINT) AS tok,
      |             1.0 - 0.5*(CAST(len(list_filter(t, x -> x = 'a' OR x = 'the')) AS DOUBLE) / len(t))
      |                 - 0.3*(CAST(len(list_filter(t, x -> length(x) <= 2)) AS DOUBLE) / len(t))
      |                 - 0.2*(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t)) AS score
      |      FROM (SELECT split, text, string_split(text, ' ') AS t FROM sp3))
      |SELECT split, COUNT(*) AS n_docs,
      |       COUNT(DISTINCT th) AS n_unique,
      |       CAST(COUNT(*) - COUNT(DISTINCT th) AS BIGINT) AS n_exact_dups,
      |       CAST(SUM(tok) AS BIGINT) AS total_tokens,
      |       CAST(ROUND(SUM(CAST(score AS DECIMAL(30,6)))/COUNT(*), 6) AS DOUBLE) AS avg_quality,
      |       CAST(SUM(CASE WHEN score < 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality
      |FROM q GROUP BY split ORDER BY split""".stripMargin

  // -------------------------------------------------------------------
  // T19: character-bigram LM fluency score — the CCNet-style statistical
  // LM quality filter (Wenzek et al. 2020 score corpora with a KenLM
  // n-gram model; the engine-native form trains the model ON the corpus
  // in the same job). Model: MLE conditional probability
  // P(c2|c1) = cnt(c1c2)/cnt(c1·) over all character bigrams. Score:
  // per-doc arithmetic mean of its bigrams' conditional probabilities —
  // a gibberish doc full of corpus-rare transitions scores low. No
  // logarithms anywhere: log() is not bit-reproducible across engines,
  // while cnt/cnt is a single IEEE division of exact integers and is.
  // The mean takes the exact-integer route (the b35/t17 recipe): each
  // probability is floored to integer ppm (FLOOR of an identical double
  // is identical), summed as BIGINT, and the mean rounds half-up in
  // integer space — (2·Σ + n) div (2n) — with ONE final division by
  // 1e6. A DECIMAL(30,6) accumulator divided by COUNT(*) looks
  // equivalent but DuckDB demotes that division to DOUBLE, and at 5,000
  // docs a rounding-boundary hit materialized at sf0.1 (doc 276,
  // ±1e-6). Scale shape: the bigram explode is
  // narrow and linear in corpus chars; the model agg is one shuffle
  // with map-side combine onto ≤|alphabet|² keys; the model is then a
  // BROADCAST join back onto the bigram stream (asserted tiny), and the
  // per-doc agg is one doc-keyed shuffle. Nothing is quadratic and no
  // state exceeds the alphabet.
  // -------------------------------------------------------------------
  def t19BigramLm(s: SparkSession, d: String): DataFrame = {
    val bi = Tables.documents(s, d)
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 1)).as("i"))
      .select(col("doc_id"), expr("substr(text, i, 2)").as("bg"))
    val m = bi.groupBy("bg").agg(count(lit(1)).as("cnt"))
    val pre = m.groupBy(expr("substr(bg, 1, 1)").as("c1"))
      .agg(sum(col("cnt")).as("pcnt"))
    val p = m.join(pre, expr("substr(bg, 1, 1)") === pre("c1"))
      .select(col("bg"),
        floor(col("cnt").cast("double") / col("pcnt") * lit(1000000.0))
          .as("ppm"))
    bi.join(broadcast(p), "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("ppm")).as("sppm"))
      .select(col("doc_id"), col("n_bigrams"),
        (expr("(2 * sppm + n_bigrams) DIV (2 * n_bigrams)").cast("double")
          / lit(1000000.0)).as("avg_cond_p"))
      .orderBy("doc_id")
  }

  val t19Sql: String =
    """WITH bi AS (SELECT doc_id, substr(text, i, 2) AS bg
      |            FROM (SELECT doc_id, text, unnest(generate_series(1, len(text) - 1)) AS i
      |                  FROM documents WHERE len(text) >= 2)),
      |m AS (SELECT bg, COUNT(*) AS cnt FROM bi GROUP BY bg),
      |pre AS (SELECT substr(bg, 1, 1) AS c1, CAST(SUM(cnt) AS BIGINT) AS pcnt FROM m GROUP BY 1),
      |p AS (SELECT m.bg, CAST(FLOOR(CAST(m.cnt AS DOUBLE) / pre.pcnt * 1000000.0) AS BIGINT) AS ppm
      |      FROM m JOIN pre ON substr(m.bg, 1, 1) = pre.c1),
      |sc AS (SELECT doc_id, COUNT(*) AS nb, CAST(SUM(ppm) AS BIGINT) AS sppm
      |       FROM bi JOIN p USING (bg) GROUP BY doc_id)
      |SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams,
      |       CAST((2 * sppm + nb) // (2 * nb) AS DOUBLE) / 1000000.0 AS avg_cond_p
      |FROM sc ORDER BY doc_id""".stripMargin

  val queries: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("t1_lang_id", t1LangId _, t1Sql),
    ("t2_quality", t2Quality _, t2Sql),
    ("t3_token_stats", t3TokenStats _, t3Sql),
    ("t4_fingerprint", t4Fingerprint _, t4Sql),
    ("t5_vocab", t5Vocab _, t5Sql),
    ("t6_split", t6Split _, t6Sql),
    ("t7_contamination", t7Contamination _, t7Sql),
    ("t8_mix_weights", t8MixWeights _, t8Sql),
    ("t9_repetition", t9Repetition _, t9Sql),
    ("t10_stratified_sample", t10StratifiedSample _, t10Sql),
    ("t11_cms_topk", t11CmsTopk _, t11Sql),
    ("t12_boilerplate", t12Boilerplate _, t12Sql),
    ("t13_novelty", t13Novelty _, t13Sql),
    ("t14_pii_redact", t14PiiRedact _, t14Sql),
    ("t15_seq_pack", t15SeqPack _, t15Sql),
    ("t16_tfidf", t16Tfidf _, t16Sql),
    ("t17_rarity", t17Rarity _, t17Sql),
    ("t18_curation_report", t18CurationReport _, t18Sql),
    ("t19_bigram_lm", t19BigramLm _, t19Sql))
}
