package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim float vectors). [[Relational.b12CosineTopk]] is the exact
  * brute-force baseline; these are the scale paths:
  *
  *  - S1: sign-random-projection LSH (16 md5-derived integer
  *    hyperplanes, 4 bands × 4 bits) — candidates from a bucket
  *    equi-join, exact cosine re-rank of candidates only;
  *  - S2: IVF (inverted-file) — deterministic seed centroids, nearest-
  *    centroid assignment, queries probe the top-2 cells;
  *  - D5: embedding near-dup summary over LSH-bucket candidate pairs.
  *
  * Determinism: hyperplane weights are integers derived from md5 (same
  * trick as [[Dedup]]), projections are summed through the exact
  * DECIMAL accumulator before the sign test, cosines reuse the b12
  * left-to-right double fold + round(6), and every ranking breaks ties
  * on vec_id. So signatures, buckets, candidates, and final top-k are
  * bit-identical across engines and partitionings.
  *
  * Scale notes: candidate generation is bucket-bounded with an explicit
  * false-positive dial — the expected candidate fraction of the pair
  * space is nBands/2^bandBits (measured: ~23% with s1's 4-bit probe
  * bands, ~1.5e-5 with d5's 16-bit near-dup bands), so band width is
  * chosen per task: wide bands for near-dup pruning, narrow bands for
  * recall-hungry top-k probing. The plane/centroid side of every join
  * is a constant-size broadcast (≤128×64 resp. 32 rows); re-ranking
  * touches only candidates. On the test corpus the vectors are
  * near-orthogonal (max pairwise cosine 0.479, no cluster structure),
  * which bounds achievable recall for ANY pruning index — the spec
  * measures recall against brute force and the bucket geometry, not
  * against an absolute bar the data cannot support.
  */
object Similarity {

  /** (vec_id, d, x): one row per vector component, d 0-based, x double. */
  private def ex(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      posexplode(col("embedding").cast("array<double>"))).toDF("vec_id", "d", "x")

  /** nPlanes×64 integer hyperplane weights in [-1000, 1000],
    * md5-derived. One range + div/mod, not a crossJoin of two ranges —
    * the crossJoin planned a (tiny but guard-tripping)
    * BroadcastNestedLoopJoin in every similarity query. */
  private def planes(s: SparkSession, nPlanes: Int): DataFrame =
    s.range(nPlanes.toLong * 64).select(
      expr("id div 64").as("p"),
      (col("id") % 64).as("d"))
      .select(col("p"), col("d"),
        (conv(substring(md5(concat(lit("plane"), col("p"), lit("_"), col("d"))), 1, 12), 16, 10)
          .cast("long") % 2001 - 1000).as("w"))

  private def duckPlanes(nPlanes: Int): String = duckPlanes(nPlanes, "")

  /** `sfx` suffixes every CTE name so two plane sets (e.g. d5's
    * narrow/wide branch geometries) can coexist in one oracle query. */
  private def duckPlanes(nPlanes: Int, sfx: String) =
    s"""planes$sfx AS (SELECT p, d,
      |    list_reduce(list_transform(string_split(substr(md5('plane' || p || '_' || d),1,12),''),
      |      c -> CAST(strpos('0123456789abcdef',c)-1 AS BIGINT)), (h,c) -> h*16+c) % 2001 - 1000 AS w
      |  FROM range(0,$nPlanes) t1(p), range(0,64) t2(d))""".stripMargin

  /** (vec_id, band, bval): `bandBits`-bit LSH band values per vector.
    * The (nPlanes, bandBits) pair is the candidate-rate dial: random
    * near-orthogonal pairs collide on a band with probability ≈
    * 2^-bandBits, so expected candidates ≈ nBands · n²/2^bandBits —
    * size the bands to the corpus (16-bit bands → 1.5e-5 of the pair
    * space for the near-dup path; 4-bit bands → generous ~23% probe
    * sets for the recall-hungry top-k path).
    *
    * Shape: one codegen-resident kernel call per vector
    * ([[graft.plans.LshBandsKernel]] — all nPlanes projections folded
    * in place, exact DECIMAL(30,12) term semantics, bit-identical to
    * the former explode+join+groupBy pipeline), then one posexplode to
    * the (vec_id, band, bval) relation. The former join form
    * materialized |corpus|·64·nPlanes rows into a partial aggregate
    * whose (vec_id, plane) group cardinality (86M at the ×300
    * wide-geometry probe) blew the hash-agg budget and sort-spilled
    * 5.5B rows — >20 min and tens of GB of disk for what is a
    * per-row map (found-and-fixed at the r15 ×300 probe; this shape
    * is seconds). No join, no aggregate, no shuffle. */
  private def bands(emb: DataFrame, nPlanes: Int, bandBits: Int): DataFrame = {
    emb.select(col("vec_id"),
        call_function("lsh_bands", col("embedding").cast("array<double>"),
          lit(nPlanes), lit(bandBits)).as("bvals"))
      .select(col("vec_id"), posexplode(col("bvals")))
      .select(col("vec_id"), col("pos").cast("long").as("band"), col("col").as("bval"))
  }

  /** The projection is computed as a per-(vector, plane) 64-element
    * list dot rather than the naive `ex JOIN planes GROUP BY` — the
    * join shape materializes |corpus|·64·nPlanes rows before the
    * aggregate (2.46B at the 10× scale probe, which OOMed DuckDB);
    * the list shape is bit-identical because every term is cast to
    * DECIMAL(30,12) first, making the sum exactly order-independent. */
  private def duckBands(bandBits: Int): String = duckBands(bandBits, "", "embeddings")

  /** `sfx` suffixes every CTE name and `src` is the (possibly gated)
    * embeddings source — the d8b-style branch-gating hook: a branch
    * whose `src` CTE is empty computes nothing. */
  private def duckBands(bandBits: Int, sfx: String, src: String) = {
    val weights = (0 until bandBits).map(b => 1L << b).mkString("[", ",", "]")
    s"""ex$sfx AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS d, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      |       FROM $src, UNNEST(range(1, 65)) AS u(i)),
      |plv$sfx AS (SELECT p, list(w ORDER BY d) AS wv FROM planes$sfx GROUP BY p),
      |dots$sfx AS (SELECT vec_id, p,
      |         list_sum(list_transform(range(1, 65), i ->
      |           CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * wv[CAST(i AS INT)] AS DECIMAL(30,12)))) AS proj
      |         FROM $src CROSS JOIN plv$sfx),
      |bits$sfx AS (SELECT vec_id, p, CASE WHEN proj >= 0 THEN 1 ELSE 0 END AS bit FROM dots$sfx),
      |bands$sfx AS (SELECT vec_id, p // $bandBits AS band,
      |                 SUM(bit * ($weights)[(p % $bandBits) + 1]) AS bval
      |          FROM bits$sfx GROUP BY 1, 2)""".stripMargin
  }

  /** b12-parity cosine: left-to-right double fold, both engines. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** round-6 cosine via the native codegen kernel
    * ([[graft.plans.CosineKernel]] — bit-identical to the declarative
    * `dot/(sqrt·sqrt)` fold it replaced, but stays inside whole-stage
    * codegen instead of three interpreted HigherOrderFunctions). */
  private def cosine(a: Column, b: Column): Column =
    round(call_function("cosine_sim", a, b), 6)

  /** Exact re-rank of (qid, vec_id) candidates → top-k per query. */
  private def rerank(emb: DataFrame, cand: DataFrame, k: Int = 5): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val sims = cand
      .join(e.select(col("vec_id").as("qid"), col("e").as("qv")), "qid")
      .join(e, "vec_id")
      .select(col("qid"), col("vec_id"), cosine(col("e"), col("qv")).as("sim"))
    sims.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "sim", "rank")
      .orderBy("qid", "rank")
  }

  private def duckRerankK(k: Int) =
    s"""sims AS (
      |  SELECT c.qid, c.vec_id,
      |         CAST(ROUND(SUM(a.x * b.x) / (SQRT(SUM(a.x * a.x)) * SQRT(SUM(b.x * b.x))), 6) AS DOUBLE) AS sim
      |  FROM cand c JOIN ex a ON a.vec_id = c.qid JOIN ex b ON b.vec_id = c.vec_id AND b.d = a.d
      |  GROUP BY 1, 2),
      |ranked AS (SELECT qid, vec_id, sim,
      |                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
      |           FROM sims QUALIFY rank <= $k)
      |SELECT qid, vec_id, sim, rank FROM ranked ORDER BY qid, rank""".stripMargin

  private val duckRerank = duckRerankK(5)

  // -------------------------------------------------------------------
  // S1: SRP-LSH top-5 for queries vec_id < 10. Bucket equi-join on
  // (band, bval) generates candidates; exact cosine re-ranks them.
  // -------------------------------------------------------------------
  def s1AnnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val b = bands(emb, 16, 4)
    val qb = b.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("band"), col("bval"))
    val cand = qb.join(b, Seq("band", "bval"))
      .filter(col("qid") =!= col("vec_id"))
      .select("qid", "vec_id").distinct()
    rerank(emb, cand)
  }

  val s1Sql: String =
    s"""WITH ${duckPlanes(16)},
      |${duckBands(4)},
      |cand AS (SELECT DISTINCT q.vec_id AS qid, b.vec_id
      |         FROM bands q JOIN bands b ON q.band = b.band AND q.bval = b.bval
      |         WHERE q.vec_id < 10 AND q.vec_id <> b.vec_id),
      |$duckRerank""".stripMargin

  // -------------------------------------------------------------------
  // S2: IVF top-5 for queries vec_id < 10. Seed centroids are a FIXED
  // 32-vector set (ids 100..131 — constant regardless of corpus size,
  // unlike an every-Nth rule whose centroid count and assignment cost
  // would grow as n²/N); vectors assign to their nearest centroid
  // (broadcast argmin, n×32 cosines = linear); queries probe the
  // top-2 cells and re-rank only their members. Real deployments
  // k-means the seeds; the probe/assign machinery is identical.
  // -------------------------------------------------------------------
  def s2AnnIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val cents = e.filter(col("vec_id") >= 100 && col("vec_id") < 132)
      .select(col("vec_id").as("cid"), col("e").as("cv"))
    val asgSims = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"), cosine(col("e"), col("cv")).as("csim"))
    // full-corpus assignment as the hash argmax (see cellCandidates /
    // ArgMaxAgg: the row_number form ships the n×K product through a
    // shuffle into sorts); the top-2 probe window only ever sees the 10
    // query vectors' rows, filtered BEFORE the window, so it stays a
    // toy sort at any SF
    val nearest = org.apache.spark.sql.functions.udaf(graft.functions.ArgMaxAgg)
    val assign = asgSims.groupBy("vec_id")
      .agg(nearest(col("csim"), col("cid")).as("cid"))
    val rn = row_number().over(
      Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cid").asc))
    val probes = asgSims.filter(col("vec_id") < 10)
      .withColumn("rn", rn).filter(col("rn") <= 2)
      .select(col("vec_id").as("qid"), col("cid"))
    val cand = probes.join(assign, "cid")
      .filter(col("qid") =!= col("vec_id"))
      .select("qid", "vec_id").distinct()
    rerank(emb, cand)
  }

  val s2Sql: String =
    """WITH ex AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS d, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      |            FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
      |cents AS (SELECT vec_id AS cid, d AS cd, x AS cx FROM ex WHERE vec_id >= 100 AND vec_id < 132),
      |asg_sims AS (
      |  SELECT e.vec_id, c.cid,
      |         CAST(ROUND(SUM(e.x * c.cx) / (SQRT(SUM(e.x * e.x)) * SQRT(SUM(c.cx * c.cx))), 6) AS DOUBLE) AS csim
      |  FROM ex e JOIN cents c ON c.cd = e.d GROUP BY 1, 2),
      |ranked_asg AS (SELECT vec_id, cid, csim,
      |                      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
      |               FROM asg_sims),
      |assign AS (SELECT vec_id, cid FROM ranked_asg WHERE rn = 1),
      |probes AS (SELECT vec_id AS qid, cid FROM ranked_asg WHERE vec_id < 10 AND rn <= 2),
      |cand AS (SELECT DISTINCT p.qid, a.vec_id FROM probes p JOIN assign a ON a.cid = p.cid
      |         WHERE p.qid <> a.vec_id),
      |sims AS (
      |  SELECT c.qid, c.vec_id,
      |         CAST(ROUND(SUM(a.x * b.x) / (SQRT(SUM(a.x * a.x)) * SQRT(SUM(b.x * b.x))), 6) AS DOUBLE) AS sim
      |  FROM cand c JOIN ex a ON a.vec_id = c.qid JOIN ex b ON b.vec_id = c.vec_id AND b.d = a.d
      |  GROUP BY 1, 2),
      |ranked AS (SELECT qid, vec_id, sim,
      |                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
      |           FROM sims QUALIFY rank <= 5)
      |SELECT qid, vec_id, sim, rank FROM ranked ORDER BY qid, rank""".stripMargin

  // -------------------------------------------------------------------
  // D5: embedding-cosine near-dup summary. Band geometry is
  // PLAN-SWITCHED on corpus size (the d8b recipe), because a FIXED
  // band width is quadratic in n once random collisions dominate:
  // random near-orthogonal pairs collide on a w-bit band with prob ≈
  // 2^-w, so expected candidates ≈ nBands·n²/2^w — negligible at the
  // driver SFs (≈ 8 pairs at n=500 with 16-bit bands) but 4n²/65536 ≈
  // 240M pairs at the ×1000 probe's n=2M, each verify-join row
  // carrying two 64-dim vectors (~0.5 TB of shuffle: the r15 probe
  // filled the disk — found-and-fixed in the b37/ScaleGen style). The
  // bucket cap does NOT bound this regime: at n=2M the mean 16-bit
  // bucket holds ~30 < 64 members, so nothing is dropped while the
  // pair count grows as n². Fix: above [[D5WideCutoff]] the bands
  // widen 4×16 → 6×24 bits (64 → 144 planes), putting expected random
  // candidates at 6n²/2^24 (≈ 1.4M at n=2M, ≈ 36M at n=10M) while a
  // true near-dup (cos ≥ 0.95, per-bit agreement ≈ 0.94) still
  // collides on ≥ 1 of the 6 wide bands with ≈ 78% probability (vs
  // ≈ 84% for the narrow set — the standard LSH precision/recall
  // dial, and identical vectors collide on EVERY band in both
  // geometries). The oracle SQL carries BOTH geometries behind the
  // same corpus-count scalar gate, applied to each branch's INPUT CTE
  // so the gated-off branch computes nothing on any evaluation
  // strategy. Buckets above 64 members are still DROPPED before the
  // self-join (the family-wide hot-bucket rule, same as d2/d3/d8/s1):
  // a saturated sign-bucket means mass-duplicated embeddings, so
  // candidates stay ≤ nBuckets·C(64,2) under ANY adversarial corpus,
  // at the documented cost of dropping near-dups inside saturated
  // buckets (measured under 10× mass duplication). All surviving
  // same-bucket pairs (da < db) are exact-verified; output is the
  // corpus near-dup profile at thresholds 0.95 / 0.5 / 0.45 plus max
  // similarity. On the driver corpora every bucket is far below the
  // cap and n_ge95 is 0 by construction (max cosine 0.479).
  // -------------------------------------------------------------------
  private val D5BucketCap = 64

  /** Narrow→wide band switchover: below this corpus size the 16-bit
    * bands hold ≲3 vectors per bucket on average and the exhaustive
    * narrow geometry is the right plan (higher recall, trivial
    * candidate count); above it random 16-bit collisions dominate the
    * candidate set (n²-shaped) and the 24-bit geometry takes over. */
  private[queries] val D5WideCutoff = 200000L

  /** The d5 gate as a pure function — spec hook pinning the boundary
    * (`n == cutoff` stays narrow, matching d5Sql's `<=` routing). */
  private[queries] def d5WideFor(n: Long): Boolean =
    PlanGate.regime(n, D5WideCutoff) == 1

  /** Capped candidate pairs (qid < vec_id), shared by
    * [[d5EmbeddingNeardup]] and SimilaritySpec. Geometry picked by the shared plan-time
    * cardinality gate ([[PlanGate]] — one column-pruned count, same
    * trade as d8bAssign). */
  private[queries] def d5Candidates(s: SparkSession, emb: DataFrame): DataFrame =
    d5CandidatesGeo(s, emb, wide = d5WideFor(PlanGate.cardinality(emb, "vec_id")))

  /** Geometry-pinned candidates (spec hook: exercises the wide branch
    * on fixtures of any size). Pair generation is a capped SELF-JOIN
    * over the band relation PERSISTED once (flat scalar columns —
    * cache-safe), not a bucket-collect: the r15 collect_list form
    * computed the band signature once but built its buckets in an
    * ObjectHashAggregate, whose in-memory map holds one entry per
    * DISTINCT (band, bval) group per task up to the session's
    * sort-fallback threshold — raised to 16M for the tiny-buffer
    * centroid argmax — and at ×3000 (6M vecs, 36M wide-geometry band
    * rows, near-distinct bvals) those list-buffer entries OOMed the
    * 8 GB heap on the probe's second execution. The count gate below
    * is a codegen HashAggregate (partial map-side, spill-safe at any
    * group count), and the join sides read the persisted relation, so
    * the plane-projection compute still runs once; CacheManager
    * dedupes the cache entry across repeated builds (same idempotence
    * note as t12's shingle cache). Same ≤cap semantics, same pair
    * set, d2/d4's proven shape.
    */
  private[queries] def d5CandidatesGeo(s: SparkSession, emb: DataFrame,
      wide: Boolean): DataFrame = {
    val (nPlanes, bits) = if (wide) (144, 24) else (64, 16)
    // the persisted band relation goes through the one shared-cache
    // idiom ([[SharedRelation]], r16 verdict task 6) — keyed by the
    // input's canonicalized plan + geometry so distinct corpora get
    // distinct entries, with SharedRelation.releaseAll as the eager
    // hygiene hook the anonymous persist() lacked
    val b = SharedRelation(s, "d5.bands",
      (emb.queryExecution.logical.canonicalized, nPlanes))(
      bands(emb, nPlanes, bits))
    val keep = b.groupBy("band", "bval").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= D5BucketCap && col("bn") >= 2)
      .select("band", "bval")
    // all three relations scale with the corpus — SMJ-pinned (see the
    // Dedup scaladoc) so no side is ever built on the driver
    val capped = b.join(keep.hint("merge"), Seq("band", "bval"))
    capped.as("a").join(capped.as("b").hint("merge"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("vec_id"))
      .distinct()
  }

  def d5EmbeddingNeardup(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cand = d5Candidates(s, emb)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val sims = cand
      .join(e.select(col("vec_id").as("qid"), col("e").as("qv")), "qid")
      .join(e, "vec_id")
      .select(cosine(col("e"), col("qv")).as("sim"))
    sims.agg(
      count(lit(1)).as("n_cand_pairs"),
      sum(when(col("sim") >= 0.95, 1L).otherwise(0L)).as("n_ge95"),
      sum(when(col("sim") >= 0.5, 1L).otherwise(0L)).as("n_ge50"),
      sum(when(col("sim") >= 0.45, 1L).otherwise(0L)).as("n_ge45"),
      max(col("sim")).as("max_sim"))
  }

  val d5Sql: String =
    s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
      |emb_nr AS (SELECT * FROM embeddings WHERE (SELECT n FROM nn) <= $D5WideCutoff),
      |emb_wd AS (SELECT * FROM embeddings WHERE (SELECT n FROM nn) > $D5WideCutoff),
      |${duckPlanes(64, "_nr")},
      |${duckPlanes(144, "_wd")},
      |${duckBands(16, "_nr", "emb_nr")},
      |${duckBands(24, "_wd", "emb_wd")},
      |bands AS (SELECT * FROM bands_nr UNION ALL SELECT * FROM bands_wd),
      |capped AS (SELECT b.* FROM bands b
      |           JOIN (SELECT band, bval FROM bands GROUP BY 1, 2
      |                 HAVING COUNT(*) <= $D5BucketCap) ok USING (band, bval)),
      |cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id
      |         FROM capped a JOIN capped b ON a.band = b.band AND a.bval = b.bval
      |         WHERE a.vec_id < b.vec_id),
      |ex AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS d, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      |       FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
      |sims AS (
      |  SELECT c.qid, c.vec_id,
      |         CAST(ROUND(SUM(a.x * b.x) / (SQRT(SUM(a.x * a.x)) * SQRT(SUM(b.x * b.x))), 6) AS DOUBLE) AS sim
      |  FROM cand c JOIN ex a ON a.vec_id = c.qid JOIN ex b ON b.vec_id = c.vec_id AND b.d = a.d
      |  GROUP BY 1, 2)
      |SELECT COUNT(*) AS n_cand_pairs,
      |       CAST(SUM(CASE WHEN sim >= 0.95 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge95,
      |       CAST(SUM(CASE WHEN sim >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge50,
      |       CAST(SUM(CASE WHEN sim >= 0.45 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge45,
      |       MAX(sim) AS max_sim
      |FROM sims""".stripMargin

  // -------------------------------------------------------------------
  // S3: per-label embedding norm statistics — the sanity profile every
  // embedding corpus gets before indexing (degenerate/zero vectors,
  // norm drift between labels). Per-row norms are IEEE-exact left-to-
  // right folds; label averages ride the decimal accumulator.
  // -------------------------------------------------------------------
  def s3NormStats(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("label"), col("embedding").cast("array<double>").as("e"))
    val norm = round(sqrt(dot(col("e"), col("e"))), 6)
    emb.select(col("label"), norm.as("norm"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(sum(col("norm").cast(DecimalType(30, 12))) / count(lit(1)), 6)
          .cast("double").as("avg_norm"),
        min(col("norm")).as("min_norm"),
        max(col("norm")).as("max_norm"))
      .orderBy("label")
  }

  val s3Sql: String =
    """WITH ex AS (SELECT vec_id, label, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      |            FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
      |norms AS (SELECT vec_id, label, CAST(ROUND(SQRT(SUM(x*x)), 6) AS DOUBLE) AS norm
      |          FROM ex GROUP BY vec_id, label)
      |SELECT label, COUNT(*) AS n_vecs,
      |       CAST(ROUND(SUM(CAST(norm AS DECIMAL(30,12)))/COUNT(*), 6) AS DOUBLE) AS avg_norm,
      |       MIN(norm) AS min_norm, MAX(norm) AS max_norm
      |FROM norms GROUP BY label ORDER BY label""".stripMargin

  // -------------------------------------------------------------------
  // D6: cross-modal consistency — MinHash near-dup TEXT pairs joined
  // with the cosine of the same documents' EMBEDDINGS (doc_id ≡
  // vec_id where both exist). The standard audit before near-dup
  // filtering a multimodal corpus: text-duplicates whose embeddings
  // disagree flag an embedding-pipeline defect. Composes the Dedup and
  // Similarity surfaces in one plan (inner join drops pairs without an
  // embedding, deterministic). Consumes Dedup's SHARED persisted pair
  // relation: in a session that also ran d2 (or d7), the MinHash
  // subtree is not planned twice — this side reads the cached pairs
  // (InMemoryTableScan, plan-asserted in PlanShapeSpec) and joins only
  // the embeddings table.
  // -------------------------------------------------------------------
  def d6CrossModal(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.d2MinhashLsh(s, d)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    pairs
      .join(e.select(col("vec_id").as("da"), col("e").as("ea")), "da")
      .join(e.select(col("vec_id").as("db"), col("e").as("eb")), "db")
      .select(col("da"), col("db"), col("jacc"),
        cosine(col("ea"), col("eb")).as("emb_cos"))
      .orderBy("da", "db")
  }

  val d6Sql: String =
    s"""WITH pairs AS (${Dedup.d2Sql}),
      |ex2 AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS d, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      |        FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
      |cos AS (
      |  SELECT p.da, p.db, p.jacc,
      |         CAST(ROUND(SUM(a.x * b.x) / (SQRT(SUM(a.x * a.x)) * SQRT(SUM(b.x * b.x))), 6) AS DOUBLE) AS emb_cos
      |  FROM pairs p JOIN ex2 a ON a.vec_id = p.da JOIN ex2 b ON b.vec_id = p.db AND b.d = a.d
      |  GROUP BY 1, 2, 3)
      |SELECT da, db, jacc, emb_cos FROM cos ORDER BY da, db""".stripMargin

  // -------------------------------------------------------------------
  // S4: bulk kNN graph — approximate top-3 neighbors for EVERY vector
  // (not just a query set), the all-pairs ANN pattern behind
  // embedding-level corpus dedup and diversity sampling. Candidates
  // come from a band self-join with 8-bit bands (2 bands from 16
  // planes) CAPPED at 64 vectors per bucket: buckets above the cap are
  // dropped entirely (the classic LSH bucket-cap — an overfull bucket
  // means the band carries no discriminating information for its
  // members). The cap is what bounds the join: candidates ≤
  // nBuckets·C² ≤ nBands·n·C = O(n), NOT a constant fraction of the n²
  // pair space — without it a fixed band width makes the self-join
  // Θ(n²) at any corpus size. Vectors whose buckets are all empty or
  // overfull emit no rows (a valid kNN-graph answer for a pruning
  // index; the spec measures coverage and recall on a query sample).
  // -------------------------------------------------------------------
  private val S4BucketCap = 64

  def s4KnnGraph(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val b = bands(emb, 16, 8)
    val small = b.groupBy("band", "bval")
      .agg(count(lit(1)).as("bn")).filter(col("bn") <= S4BucketCap)
      .select("band", "bval")
    val bounded = b.join(small, Seq("band", "bval"))
    val cand = bounded.as("a").join(bounded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("vec_id"))
      .distinct()
    rerank(emb, cand, k = 3)
  }

  val s4Sql: String =
    s"""WITH ${duckPlanes(16)},
      |${duckBands(8)},
      |small AS (SELECT band, bval FROM bands GROUP BY band, bval
      |          HAVING COUNT(*) <= $S4BucketCap),
      |bounded AS (SELECT b.vec_id, b.band, b.bval
      |            FROM bands b JOIN small USING (band, bval)),
      |cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id
      |         FROM bounded a JOIN bounded b ON a.band = b.band AND a.bval = b.bval
      |         WHERE a.vec_id <> b.vec_id),
      |${duckRerankK(3)}""".stripMargin

  // -------------------------------------------------------------------
  // S5: cosine range search — ALL neighbors of each query above a
  // similarity floor, the thresholded companion to S1/S2's top-k (a
  // dedup sweep wants "everything ≥ τ", not "the best 5"). The query
  // set is a 5-row broadcast against one linear scan of the corpus —
  // the b12 brute-force pattern, exact by construction; for corpus-×-
  // corpus range search at scale the LSH/IVF candidate generation of
  // S1/S2/D8 replaces the scan.
  // -------------------------------------------------------------------
  def s5RangeSearch(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("e").as("qv"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cosine(col("e"), col("qv")).as("sim"))
      .filter(col("sim") >= 0.25)
      .orderBy("qid", "vec_id")
  }

  val s5Sql: String =
    """WITH ex AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS d, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      |            FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
      |sims AS (SELECT q.vec_id AS qid, b.vec_id,
      |                CAST(ROUND(SUM(q.x * b.x) / (SQRT(SUM(q.x * q.x)) * SQRT(SUM(b.x * b.x))), 6) AS DOUBLE) AS sim
      |         FROM ex q JOIN ex b ON b.d = q.d AND q.vec_id < 5 AND b.vec_id <> q.vec_id
      |         GROUP BY 1, 2)
      |SELECT qid, vec_id, sim FROM sims WHERE sim >= 0.25
      |ORDER BY qid, vec_id""".stripMargin

  // -------------------------------------------------------------------
  // D8: cluster-scoped semantic dedup — partition the corpus by
  // nearest seed centroid (S2's IVF assignment: one broadcast argmin,
  // linear in n), then exact-verify only WITHIN-cluster pairs. The
  // cluster partition bounds the verify join the way LSH bands bound
  // D5: pairs ≈ n·avg_cluster/2 instead of n²/2, and the S4-style cap
  // drops clusters above 64 members (a degenerate centroid attracting
  // a constant corpus fraction would otherwise re-create the n² join).
  // Cross-cluster near-dups are invisible by design — the standard
  // IVF-dedup recall trade, bought back in practice by probing 2+
  // cells (S2) or re-running on cluster medoids.
  // -------------------------------------------------------------------
  private val D8ClusterCap = 64

  /** FLAT nearest-centroid assignment (vec_id → cid) against a
    * broadcast codebook, as a one-pass HASH argmax, not a window: the
    * corpus×codebook product is |n|·K rows (2B at the ×100 probe with
    * d8b's fraction codebook). A row_number window ships all of it
    * through a shuffle into per-partition sorts, and max_by over a
    * struct ordering key falls back to SORT-based aggregation — both
    * OOMed 8 GB at 32-way concurrency sorting rows where the answer
    * needs |n| 16-byte buffers. The typed argmax aggregator (see
    * [[graft.functions.ArgMaxAgg]]) runs on ObjectHashAggregate with
    * map-side partials, so the product streams inside the scan stage
    * and only |n| buffers shuffle; the oracle's `ORDER BY csim DESC,
    * cid ASC` tie-break is the aggregator's own total order. */
  private[queries] def flatAssign(emb: DataFrame, centPred: Column): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val cents = e.filter(centPred)
      .select(col("vec_id").as("cid"), col("e").as("cv"))
    val nearest = org.apache.spark.sql.functions.udaf(graft.functions.ArgMaxAgg)
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"), cosine(col("e"), col("cv")).as("csim"))
      .groupBy("vec_id")
      .agg(nearest(col("csim"), col("cid")).as("cid"))
      .select("vec_id", "cid")
  }

  /** Cap-bounded within-cell pairs (cid, da, db), da < db, from any
    * (vec_id, cid) assignment. */
  private def boundedPairs(assign: DataFrame): DataFrame = {
    val small = assign.groupBy("cid")
      .agg(count(lit(1)).as("cn")).filter(col("cn") <= D8ClusterCap)
      .select("cid")
    val bounded = assign.join(broadcast(small), "cid")
    bounded.as("a").join(bounded.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cid").as("cid"),
        col("a.vec_id").as("da"), col("b.vec_id").as("db"))
  }

  /** (cid, da, db): capped within-cluster candidate pairs, da < db,
    * for any centroid-selection predicate over vec_id (flat assignment;
    * ScaleSpec drives this directly). */
  private def cellCandidates(emb: DataFrame, centPred: Column): DataFrame =
    boundedPairs(flatAssign(emb, centPred))

  private[queries] def d8Candidates(emb: DataFrame): DataFrame =
    cellCandidates(emb, col("vec_id") >= 100 && col("vec_id") < 132)

  /** d8's 32 fixed seed centroids, reused as d8b's COARSE quantizer. */
  private val d8SeedPred: Column = col("vec_id") >= 100 && col("vec_id") < 132

  /** D8b's codebook predicate: a fixed corpus FRACTION (5%) instead of
    * d8's fixed 32 seeds, so K grows with n and expected cell size
    * stays ~20 at every SF — the scale recipe the d8 scaladoc
    * prescribes, as code. (At the 10× probe d8's fixed codebook puts
    * ~640 members in every cell, all above the 64 cap, and correctly
    * verifies nothing; d8b keeps verifying.) Planted dup decades can
    * never be centroids (id ≡ 10 mod 20 excludes id ≡ 0 mod 100), and
    * identical vectors always share a cell (identical csim + cid
    * tie-break). */
  private val d8bCentPred: Column = col("vec_id") % 20 === 10

  /** The FLAT assignment form of d8b — n·K cosines against a broadcast
    * of the whole fraction codebook. Quadratic by design once K = 5%·n
    * (O(n²·0.05) compute, O(n) broadcast: 5×10¹² cosines and a 256 MB
    * broadcast at the ×1000 probe), so the query only uses it BELOW
    * [[D8bFlatCutoff]], where n·K is linear in n and exhaustive recall
    * is free; also the exact-recall reference the SimilaritySpec
    * parity gates compare the two-level plan against. */
  private[queries] def d8bCandidatesFlat(emb: DataFrame): DataFrame =
    cellCandidates(emb, d8bCentPred)

  /** Two-level (coarse-then-cell) assignment for a codebook that GROWS
    * with the corpus — the scale-safe replacement for the flat
    * crossJoin(broadcast(codebook)) argmin:
    *
    *  1. coarse-assign the K=5%·n centroids to d8's 32 FIXED seeds
    *     (K×32 cosines, one tiny broadcast);
    *  2. coarse-assign every vector the same way (n×32 cosines);
    *  3. fine-assign each vector by argmax ONLY among its coarse
    *     cell's ~K/32 centroids, via an equi-join on the cell id —
    *     n·(32 + K/32) cosines total and no corpus-sized broadcast,
    *     vs the flat form's n·K.
    *
    * The centroid/vector arrays ride through the coarse argmax as
    * first() (values are group-constant), so the fine stage needs no
    * join-back to the corpus: one corpus-wide shuffle for the coarse
    * aggregate, one 32-key shuffle for the cell join. The standard
    * IVF nprobe=1 recall trade applies: a vector whose true-nearest
    * centroid coarse-assigns to a DIFFERENT seed cell gets its
    * within-cell best instead (and a vector in a centroid-free cell
    * drops) — bit-identical on both engines because the oracle SQL
    * makes the same two-level walk, and pair-recall parity with the
    * flat form at the driver SFs is spec-gated. Identical vectors
    * still always share a cell (identical ss/csim, same tie-breaks),
    * so planted near-dup recall survives by construction. */
  private[queries] def twoLevelAssign(emb: DataFrame, centPred: Column,
      seedPred: Column): DataFrame = {
    val nearest = org.apache.spark.sql.functions.udaf(graft.functions.ArgMaxAgg)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val seeds = e.filter(seedPred)
      .select(col("vec_id").as("sid"), col("e").as("sv"))
    val cents = e.filter(centPred)
      .select(col("vec_id").as("cid"), col("e").as("cv"))
    val centCoarse = cents.crossJoin(broadcast(seeds))
      .select(col("cid"), col("cv"), col("sid"), cosine(col("cv"), col("sv")).as("ss"))
      .groupBy("cid")
      .agg(nearest(col("ss"), col("sid")).as("sid"), first(col("cv")).as("cv"))
    val vecCoarse = e.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("e"), col("sid"), cosine(col("e"), col("sv")).as("ss"))
      .groupBy("vec_id")
      .agg(nearest(col("ss"), col("sid")).as("sid"), first(col("e")).as("e"))
    vecCoarse.join(centCoarse, "sid")
      .select(col("vec_id"), col("cid"), cosine(col("e"), col("cv")).as("csim"))
      .groupBy("vec_id")
      .agg(nearest(col("csim"), col("cid")).as("cid"))
      .select("vec_id", "cid")
  }

  /** Spark's `round(col, 6)` for DoubleType, replicated exactly
    * (shortest-decimal-repr BigDecimal, HALF_UP, NaN/±Inf pass
    * through) so the assignment kernel below rounds THE SAME double to
    * THE SAME double as the Column layer and the DuckDB oracle.
    * Differentially gated against the real `round` Column in
    * SimilaritySpec over boundary/adversarial values. */
  private[queries] def round6(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else new java.math.BigDecimal(java.lang.Double.toString(d))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Index of `ORDER BY round6(x) DESC, id ASC LIMIT 1` over the first
    * `n` slots — the exact [[graft.functions.ArgMaxAgg]] order
    * (java.lang.Double.compare: NaN greatest, ties to the smaller id)
    * applied to ROUNDED values, without rounding every candidate.
    * Rounding is monotone, so max(round6(x_i)) == round6(max(x_i)):
    * one unrounded max pass finds the winning ROUNDED value v*, and
    * only candidates within one rounding step of the max (|x − xmax| ≤
    * 1e-6 plus ulp slop — everything else provably rounds below v*)
    * pay a BigDecimal rounding in the tie-break pass. That turns the
    * kernel's rounding cost from one per cosine (1.56e11 at the ×1000
    * design point) into ~one per argmax. Returns -1 iff n == 0. */
  private[queries] def argmaxRound6(xs: Array[Double], ids: Array[Long], n: Int): Int = {
    if (n == 0) return -1
    var xmax = xs(0)
    var i = 1
    while (i < n) {
      if (java.lang.Double.compare(xs(i), xmax) > 0) xmax = xs(i)
      i += 1
    }
    val vstar = round6(xmax)
    var best = -1
    var bestId = Long.MaxValue
    i = 0
    if (java.lang.Double.isNaN(vstar)) {
      // NaN rounds to NaN and outranks every number — ties among the
      // NaN candidates go to the smallest id, same as the aggregator
      while (i < n) {
        if (java.lang.Double.isNaN(xs(i)) && ids(i) < bestId) { best = i; bestId = ids(i) }
        i += 1
      }
    } else {
      // an eligible candidate has round6(x) == v*, which pins x within
      // 0.5e-6 (+ half-ulp of the decimal repr) of v* and hence within
      // 1e-6 (+ ulp slop) of xmax; the ulp term keeps the bound valid
      // for magnitudes where ulp(x) rivals 1e-6
      val thresh = xmax - (1e-6 + 4 * Math.ulp(Math.max(Math.abs(xmax), 1.0)))
      while (i < n) {
        val x = xs(i)
        if (x >= thresh && ids(i) < bestId &&
            java.lang.Double.compare(round6(x), vstar) == 0) { best = i; bestId = ids(i) }
        i += 1
      }
    }
    best
  }

  /** Broadcast two-level IVF index: seeds plus, per seed, the coarse
    * cell's centroids — ids, flattened row-major vector grid, and
    * precomputed sqrt(‖v‖²) (the norm fold is independent of the other
    * operand, so precomputing it is bit-identical to
    * [[graft.plans.CosineKernel]]'s fused recomputation per pair). */
  private[queries] final case class IvfIndex(
      dims: Int,
      seedIds: Array[Long], seedGrid: Array[Double], seedSqrt: Array[Double],
      cellIds: Array[Array[Long]], cellGrid: Array[Array[Double]],
      cellSqrt: Array[Array[Double]])

  private def sqrtNorm(v: Array[Double]): Double = {
    var na = 0.0
    var i = 0
    while (i < v.length) { val x = v(i); na += x * x; i += 1 }
    Math.sqrt(na)
  }

  // dot(a, grid[row]) — same left-to-right IEEE fold as CosineKernel
  private def dotRow(a: Array[Double], grid: Array[Double], row: Int, dims: Int): Double = {
    var dot = 0.0
    val off = row * dims
    var i = 0
    while (i < dims) { dot += a(i) * grid(off + i); i += 1 }
    dot
  }

  /** [[twoLevelAssign]] as a broadcast-codebook PARTITION-LOCAL kernel —
    * bit-identical output (spec-gated on fixtures where flat and
    * two-level provably differ, plus NaN / planted-duplicate / empty-
    * cell corners), chosen by [[d8bAssign]] between the flat cutoff and
    * [[D8bKernelCap]].
    *
    * Why it exists: the join form's fine stage materializes a
    * corpus×cell JOIN — n·K/32 rows each carrying two 64-dim arrays
    * through codegen cosine + hash-argmax. Fine below ~10⁸ product
    * rows (the ×30 probe), but at the verdict's 10M-vector / 500k-
    * codebook design point that is 1.56×10¹¹ join rows (≈ hours of
    * pure row plumbing for 10⁷ argmaxes) — superlinear cost in ROW
    * MACHINERY, not flops. The kernel replaces it with the shape a
    * production IVF assigner has: ship the codebook once (grouped by
    * coarse cell, ~70 MB per 10⁶ centroids), scan the corpus ONCE with
    * zero shuffles, and do 32 + K/32 fused dot products per vector in
    * primitive arrays. The corpus never leaves its scan partitions;
    * the output is one (vec_id, cid) pair per row.
    *
    * Scale ceiling: the broadcast holds the WHOLE codebook, so the
    * kernel is gated to K ≤ [[D8bKernelCap]]; beyond that (multi-GB
    * codebooks) [[d8bAssign]] falls back to the join form, which keeps
    * the codebook distributed — the regime where the right answer is a
    * deeper coarse hierarchy, documented there.
    *
    * Preconditions (both hold for every embeddings corpus incl.
    * ScaleGen tiles): vec_id and embedding non-null, elements non-null.
    */
  private[queries] def twoLevelAssignKernel(emb: DataFrame, centPred: Column,
      seedPred: Column): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val seedRows = e.filter(seedPred).toDF("_1", "_2")
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val centRows = e.filter(centPred).toDF("_1", "_2")
      .as[(Long, Array[Double])].collect()
    if (seedRows.isEmpty || centRows.isEmpty)
      // join-form equivalence: no seeds ⇒ vecCoarse is empty; no
      // centroids ⇒ the fine join matches nothing
      return s.emptyDataset[(Long, Long)].toDF("vec_id", "cid")
    val dims = seedRows.head._2.length
    val nSeeds = seedRows.length
    val seedIds = seedRows.map(_._1)
    val seedGrid = new Array[Double](nSeeds * dims)
    seedRows.zipWithIndex.foreach { case ((_, v), i) =>
      System.arraycopy(v, 0, seedGrid, i * dims, dims)
    }
    val seedSqrt = seedRows.map(r => sqrtNorm(r._2))
    // coarse-assign every centroid on the driver (K × nSeeds cosines —
    // seconds at K=10⁶, and exactly centCoarse's argmax/tie order)
    val cells = Array.fill(nSeeds)(scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])])
    val sims = new Array[Double](nSeeds)
    centRows.foreach { case (cid, cv) =>
      val sq = sqrtNorm(cv)
      var si = 0
      while (si < nSeeds) {
        sims(si) = dotRow(cv, seedGrid, si, dims) / (sq * seedSqrt(si))
        si += 1
      }
      val w = argmaxRound6(sims, seedIds, nSeeds)
      cells(w).append((cid, cv))
    }
    // per-cell grids sorted by cid: argmaxRound6 is order-insensitive,
    // but a deterministic layout keeps the broadcast bytes reproducible
    val cellSorted = cells.map(_.sortBy(_._1).toArray)
    val index = IvfIndex(dims, seedIds, seedGrid, seedSqrt,
      cellSorted.map(_.map(_._1)),
      cellSorted.map { cs =>
        val g = new Array[Double](cs.length * dims)
        cs.zipWithIndex.foreach { case ((_, v), i) => System.arraycopy(v, 0, g, i * dims, dims) }
        g
      },
      cellSorted.map(_.map(c => sqrtNorm(c._2))))
    val bc = s.sparkContext.broadcast(index)
    e.toDF("_1", "_2").as[(Long, Array[Double])].mapPartitions { it =>
      val ix = bc.value
      val d = ix.dims
      val ns = ix.seedIds.length
      val coarse = new Array[Double](ns)
      var fine = new Array[Double](64)
      it.flatMap { case (vecId, v) =>
        val sq = sqrtNorm(v)
        var si = 0
        while (si < ns) {
          coarse(si) = dotRow(v, ix.seedGrid, si, d) / (sq * ix.seedSqrt(si))
          si += 1
        }
        val w = argmaxRound6(coarse, ix.seedIds, ns)
        val ids = ix.cellIds(w)
        if (ids.isEmpty) Iterator.empty // centroid-free cell: vector drops
        else {
          if (fine.length < ids.length) fine = new Array[Double](ids.length)
          val grid = ix.cellGrid(w)
          val sqc = ix.cellSqrt(w)
          var ci = 0
          while (ci < ids.length) {
            fine(ci) = dotRow(v, grid, ci, d) / (sq * sqc(ci))
            ci += 1
          }
          Iterator.single((vecId, ids(argmaxRound6(fine, ids, ids.length))))
        }
      }
    }.toDF("vec_id", "cid")
  }

  /** Coarse (seed-cell) assignment of every `pred` vector — exposed for
    * the SimilaritySpec faithfulness gate, same argmax/tie-break as the
    * stages inside [[twoLevelAssign]]. */
  private[queries] def seedCoarseAssign(emb: DataFrame, pred: Column,
      seedPred: Column): DataFrame = {
    val nearest = org.apache.spark.sql.functions.udaf(graft.functions.ArgMaxAgg)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val seeds = e.filter(seedPred)
      .select(col("vec_id").as("sid"), col("e").as("sv"))
    e.filter(pred).crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("sid"), cosine(col("e"), col("sv")).as("ss"))
      .groupBy("vec_id")
      .agg(nearest(col("ss"), col("sid")).as("sid"))
      .select("vec_id", "sid")
  }

  /** Flat↔two-level switchover: below this codebook size the FLAT
    * assignment is the right plan (n·K compute is LINEAR in n for
    * bounded K, the broadcast is KBs, and exhaustive argmax has exact
    * recall); above it the fraction codebook has outgrown both the
    * broadcast and the compute budget and the two-level walk takes
    * over (its coarse cells then hold K/32 > 16 centroids each, so
    * the small-K cell-skew that bloats fine cells past the 64 cap —
    * the defect the SimilaritySpec planted fixture would catch — has
    * concentrated away). Same shape as every production IVF index:
    * brute force under a cutoff, inverted lists above it. */
  private[queries] val D8bFlatCutoff = 512L

  /** Kernel↔join switchover for the two-level plan: up to this
    * codebook size the whole codebook broadcasts (≤ ~0.5 GB of vector
    * grid at 64 dims) and [[twoLevelAssignKernel]] assigns with zero
    * shuffles; above it the codebook itself is no longer dim-sized and
    * [[twoLevelAssign]]'s join form keeps it distributed — at which
    * point the honest scale answer is a deeper coarse hierarchy
    * (n·(c₁ + K/c₁) re-minimized per level), not a bigger broadcast. */
  private[queries] val D8bKernelCap = 1000000L

  /** Which d8b assignment plan runs for a codebook of size k — the
    * selection logic as a pure function (over the shared [[PlanGate]]
    * regime arithmetic) so the spec can pin all three regimes without
    * building a 10⁶-centroid fixture. */
  private[queries] def d8bPlanFor(k: Long): String =
    Seq("flat", "kernel", "join")(
      PlanGate.regime(k, D8bFlatCutoff, D8bKernelCap))

  /** d8b's assignment, plan-selected by codebook size. The count() is
    * a plan-time scalar over one column-pruned scan (the codebook
    * predicate on vec_id) — the cardinality that DECIDES the plan
    * shape, not a data collect; at ×1000 it is a ~1 s metadata-light
    * pass before a multi-minute assignment. Above the flat cutoff the
    * two-level walk runs as the broadcast KERNEL (bit-identical to the
    * join form — spec-gated — so the oracle SQL's two_assign branch
    * describes both); the join form remains the K > [[D8bKernelCap]]
    * fallback where the codebook outgrows a broadcast. */
  private[queries] def d8bAssign(emb: DataFrame): DataFrame = {
    val k = PlanGate.cardinality(emb.filter(d8bCentPred), "vec_id")
    d8bPlanFor(k) match {
      case "flat" => flatAssign(emb, d8bCentPred)
      case "kernel" => twoLevelAssignKernel(emb, d8bCentPred, d8SeedPred)
      case _ => twoLevelAssign(emb, d8bCentPred, d8SeedPred)
    }
  }

  private[queries] def d8bCandidates(emb: DataFrame): DataFrame =
    boundedPairs(d8bAssign(emb))

  /** Two-level candidates unconditionally (spec-only: exercises the
    * above-cutoff plan on fixtures of any size). */
  private[queries] def d8bCandidatesTwoLevel(emb: DataFrame): DataFrame =
    boundedPairs(twoLevelAssign(emb, d8bCentPred, d8SeedPred))

  private def cellVerify(s: SparkSession, d: String,
      cand: DataFrame => DataFrame): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    cand(emb)
      .join(e.select(col("vec_id").as("da"), col("e").as("ea")), "da")
      .join(e.select(col("vec_id").as("db"), col("e").as("eb")), "db")
      .select(col("cid"), col("da"), col("db"), cosine(col("ea"), col("eb")).as("sim"))
      .filter(col("sim") >= 0.4)
      .orderBy("da", "db")
  }

  def d8SemanticDedup(s: SparkSession, d: String): DataFrame =
    cellVerify(s, d, d8Candidates)

  def d8bScaledCodebook(s: SparkSession, d: String): DataFrame =
    cellVerify(s, d, d8bCandidates)

  /** Flat-assignment d8b, spec-only: the recall-parity reference for
    * [[d8bScaledCodebook]]'s two-level plan (see SimilaritySpec). */
  private[queries] def d8bScaledCodebookFlat(s: SparkSession, d: String): DataFrame =
    cellVerify(s, d, d8bCandidatesFlat)

  val d8Sql: String =
    s"""WITH ex AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS d, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      |            FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
      |cents AS (SELECT vec_id AS cid, d AS cd, x AS cx FROM ex WHERE vec_id >= 100 AND vec_id < 132),
      |asg_sims AS (
      |  SELECT e.vec_id, c.cid,
      |         CAST(ROUND(SUM(e.x * c.cx) / (SQRT(SUM(e.x * e.x)) * SQRT(SUM(c.cx * c.cx))), 6) AS DOUBLE) AS csim
      |  FROM ex e JOIN cents c ON c.cd = e.d GROUP BY 1, 2),
      |assign AS (SELECT vec_id, cid FROM (
      |             SELECT vec_id, cid,
      |                    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
      |             FROM asg_sims) WHERE rn = 1),
      |small AS (SELECT cid FROM assign GROUP BY cid HAVING COUNT(*) <= $D8ClusterCap),
      |bounded AS (SELECT a.vec_id, a.cid FROM assign a JOIN small USING (cid)),
      |pairs AS (SELECT a.cid, a.vec_id AS da, b.vec_id AS db
      |          FROM bounded a JOIN bounded b ON a.cid = b.cid AND a.vec_id < b.vec_id),
      |sims AS (SELECT p.cid, p.da, p.db,
      |                CAST(ROUND(SUM(x1.x * x2.x) / (SQRT(SUM(x1.x * x1.x)) * SQRT(SUM(x2.x * x2.x))), 6) AS DOUBLE) AS sim
      |         FROM pairs p JOIN ex x1 ON x1.vec_id = p.da JOIN ex x2 ON x2.vec_id = p.db AND x2.d = x1.d
      |         GROUP BY 1, 2, 3)
      |SELECT cid, da, db, sim FROM sims WHERE sim >= 0.4
      |ORDER BY da, db""".stripMargin

  /** d8Sql with the fraction codebook and the SAME plan switch as the
    * engine, in the list form throughout: both branches are in the
    * text, each gated by the codebook-cardinality scalar, so whichever
    * branch the engine picks the oracle picks too. Below the cutoff
    * the flat branch runs (the two-level CTEs evaluate against a
    * false gate and stay empty); above it the flat cross join is the
    * gated-off one — the quadratic |vecs|·K product never
    * materializes on either engine at scale. The gate is applied to
    * the cross join's INPUT CTE (`cents_flat` / `seeds_two`), not as
    * a WHERE on the joined output: an oracle engine that evaluates
    * the constant scalar-subquery predicate per-row instead of
    * short-circuiting it would otherwise still expand the vecs×cents
    * product before discarding it (correctness unaffected,
    * runtime/OOM risk at scale). Gating the input makes the gated-off
    * branch's join input EMPTY on any evaluation strategy. */
  val d8bSql: String =
    s"""WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |             FROM embeddings),
      |seeds AS (SELECT vec_id AS sid, v AS sv FROM vecs WHERE vec_id >= 100 AND vec_id < 132),
      |cents AS (SELECT vec_id AS cid, v AS cv FROM vecs WHERE vec_id % 20 = 10),
      |kk AS (SELECT count(*) AS k FROM cents),
      |cents_flat AS (SELECT * FROM cents WHERE (SELECT k FROM kk) <= $D8bFlatCutoff),
      |seeds_two AS (SELECT * FROM seeds WHERE (SELECT k FROM kk) > $D8bFlatCutoff),
      |flat_sims AS (
      |  SELECT e.vec_id, c.cid,
      |         CAST(ROUND(list_sum(list_transform(range(1, 65), i -> e.v[i] * c.cv[i]))
      |                    / (SQRT(list_sum(list_transform(e.v, x -> x * x)))
      |                       * SQRT(list_sum(list_transform(c.cv, x -> x * x)))), 6) AS DOUBLE) AS csim
      |  FROM vecs e CROSS JOIN cents_flat c),
      |flat_assign AS (SELECT vec_id, cid FROM (
      |             SELECT vec_id, cid,
      |                    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
      |             FROM flat_sims) WHERE rn = 1),
      |vc_sims AS (
      |  SELECT e.vec_id, s.sid,
      |         CAST(ROUND(list_sum(list_transform(range(1, 65), i -> e.v[i] * s.sv[i]))
      |                    / (SQRT(list_sum(list_transform(e.v, x -> x * x)))
      |                       * SQRT(list_sum(list_transform(s.sv, x -> x * x)))), 6) AS DOUBLE) AS ss
      |  FROM vecs e CROSS JOIN seeds_two s),
      |vcoarse AS (SELECT vec_id, sid FROM (
      |              SELECT vec_id, sid,
      |                     row_number() OVER (PARTITION BY vec_id ORDER BY ss DESC, sid ASC) AS rn
      |              FROM vc_sims) WHERE rn = 1),
      |cc_sims AS (
      |  SELECT c.cid, s.sid,
      |         CAST(ROUND(list_sum(list_transform(range(1, 65), i -> c.cv[i] * s.sv[i]))
      |                    / (SQRT(list_sum(list_transform(c.cv, x -> x * x)))
      |                       * SQRT(list_sum(list_transform(s.sv, x -> x * x)))), 6) AS DOUBLE) AS ss
      |  FROM cents c CROSS JOIN seeds_two s),
      |ccoarse AS (SELECT cid, sid FROM (
      |              SELECT cid, sid,
      |                     row_number() OVER (PARTITION BY cid ORDER BY ss DESC, sid ASC) AS rn
      |              FROM cc_sims) WHERE rn = 1),
      |two_sims AS (
      |  SELECT e.vec_id, c.cid,
      |         CAST(ROUND(list_sum(list_transform(range(1, 65), i -> e.v[i] * c.cv[i]))
      |                    / (SQRT(list_sum(list_transform(e.v, x -> x * x)))
      |                       * SQRT(list_sum(list_transform(c.cv, x -> x * x)))), 6) AS DOUBLE) AS csim
      |  FROM vecs e JOIN vcoarse vc ON vc.vec_id = e.vec_id
      |       JOIN ccoarse cc ON cc.sid = vc.sid
      |       JOIN cents c ON c.cid = cc.cid),
      |two_assign AS (SELECT vec_id, cid FROM (
      |             SELECT vec_id, cid,
      |                    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
      |             FROM two_sims) WHERE rn = 1),
      |assign AS (SELECT vec_id, cid FROM flat_assign
      |           UNION ALL SELECT vec_id, cid FROM two_assign),
      |small AS (SELECT cid FROM assign GROUP BY cid HAVING COUNT(*) <= $D8ClusterCap),
      |bounded AS (SELECT a.vec_id, a.cid FROM assign a JOIN small USING (cid)),
      |pairs AS (SELECT a.cid, a.vec_id AS da, b.vec_id AS db
      |          FROM bounded a JOIN bounded b ON a.cid = b.cid AND a.vec_id < b.vec_id),
      |sims AS (SELECT p.cid, p.da, p.db,
      |                CAST(ROUND(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
      |                           / (SQRT(list_sum(list_transform(a.v, x -> x * x)))
      |                              * SQRT(list_sum(list_transform(b.v, x -> x * x)))), 6) AS DOUBLE) AS sim
      |         FROM pairs p JOIN vecs a ON a.vec_id = p.da JOIN vecs b ON b.vec_id = p.db)
      |SELECT cid, da, db, sim FROM sims WHERE sim >= 0.4
      |ORDER BY da, db""".stripMargin

  // -------------------------------------------------------------------
  // S6: int8 scalar quantization profile — the storage-scale op every
  // vector corpus gets before indexing (4× smaller than float32, 8×
  // smaller than the float64 compute form). Per-vector min/max scaling
  // to q ∈ [0, 255], then the reconstruction-error bound |x − x̂| ≤
  // scale/2 is verified IN-QUERY per vector and aggregated per label
  // (b16-style gate). Everything is per-row IEEE arithmetic plus
  // integer q values — bit-identical across engines — and the whole
  // query is one explode + two narrow grouping shuffles on vec_id,
  // then the 10-value label key.
  // -------------------------------------------------------------------
  def s6Quantize(s: SparkSession, d: String): DataFrame = {
    val ex = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding").cast("array<double>")))
      .toDF("vec_id", "label", "d", "x")
    val mm = ex.groupBy("vec_id", "label")
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val qe = ex.join(mm, Seq("vec_id", "label"))
      .withColumn("scale", (col("hi") - col("lo")) / 255)
      // constant vector ⇒ scale 0: quantize to q=0 (reconstruction lo = x
      // exactly, err 0) instead of the 0/0 NaN that would otherwise poison
      // the per-label aggregates. Mirrored by the CASE in s6Sql.
      .withColumn("q", when(col("scale") === 0, lit(0.0))
        .otherwise(round((col("x") - col("lo")) / col("scale"), 0)))
    val perVec = qe.groupBy("vec_id", "label")
      .agg(
        max(abs(col("x") - (col("lo") + col("q") * col("scale")))).as("max_err"),
        max(col("scale")).as("scale"),
        min(col("q")).cast("long").as("qmin"),
        max(col("q")).cast("long").as("qmax"))
    perVec.groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(max(col("max_err")), 9).cast("double").as("max_abs_err"),
        min(col("qmin")).as("q_min"),
        max(col("qmax")).as("q_max"),
        bool_and(col("max_err") <= col("scale") / 2 + 1e-12).as("within_bound"))
      .orderBy("label")
  }

  val s6Sql: String =
    """WITH ex AS (SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS d, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      |            FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
      |mm AS (SELECT vec_id, label, MIN(x) AS lo, MAX(x) AS hi FROM ex GROUP BY 1, 2),
      |qe AS (SELECT e.vec_id, e.label, e.x, m.lo, (m.hi - m.lo) / 255 AS scale,
      |              CASE WHEN m.hi = m.lo THEN 0
      |                   ELSE ROUND((e.x - m.lo) / ((m.hi - m.lo) / 255)) END AS q
      |       FROM ex e JOIN mm m ON m.vec_id = e.vec_id AND m.label = e.label),
      |err AS (SELECT vec_id, label, MAX(ABS(x - (lo + q * scale))) AS max_err,
      |               MAX(scale) AS scale,
      |               CAST(MIN(q) AS BIGINT) AS qmin, CAST(MAX(q) AS BIGINT) AS qmax
      |        FROM qe GROUP BY 1, 2)
      |SELECT label, COUNT(*) AS n_vecs,
      |       CAST(ROUND(MAX(max_err), 9) AS DOUBLE) AS max_abs_err,
      |       MIN(qmin) AS q_min, MAX(qmax) AS q_max,
      |       BOOL_AND(max_err <= scale / 2 + 1e-12) AS within_bound
      |FROM err GROUP BY label ORDER BY label""".stripMargin

  // -------------------------------------------------------------------
  // S7: product quantization (PQ) profile — the codebook compression
  // behind IVF-PQ indexes: the 64-dim space splits into 8 subspaces of
  // 8 dims, each quantized independently against a 16-entry codebook
  // (seed subvectors of vec_ids 200..215, the same deterministic-seed
  // trick as S2/D8), so a vector stores as 8 single-byte codes — 32×
  // smaller than float32. Per subspace the profile reports codebook
  // utilization (codes used, hottest code) and the quantization error.
  // Plan shape: the codebook side of the distance join is a constant
  // 1024-row broadcast (8 subs × 16 codes × 8 dims), so candidate
  // scoring is a narrow fan-out of 16 rows per (vector, subspace) —
  // linear in the corpus with no shuffle until the grouping aggregates.
  // Determinism: distances go through the d8 recipe (per-row IEEE
  // products, ROUND(…,6), row_number ties broken on code), then exact
  // decimal error sums.
  // -------------------------------------------------------------------
  def s7ProductQuant(s: SparkSession, d: String): DataFrame = {
    val ex = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")))
      .toDF("vec_id", "dpos", "x")
      .select(col("vec_id"), floor(col("dpos") / 8).cast("long").as("sub"),
        (col("dpos") % 8).cast("long").as("dim"), col("x"))
    val cents = ex.filter(col("vec_id") >= 200 && col("vec_id") < 216)
      .select((col("vec_id") - 200).as("code"), col("sub"), col("dim"),
        col("x").as("cx"))
    val dist = ex.join(broadcast(cents), Seq("sub", "dim"))
      .groupBy(col("vec_id"), col("sub"), col("code"))
      .agg(round(sum((col("x") - col("cx")) * (col("x") - col("cx"))), 6).as("sqerr"))
    // argmin(sqerr, tie: min code) per (vector, subspace) as the hash
    // argmax over negated error (exact: sign-bit flip) — the window
    // form sorts the n×8×16 distance relation (see ArgMaxAgg).
    // The re-alignment shuffle before the argmin is load-bearing:
    // without it the argmin's PARTIAL ObjectHashAggregate fuses into
    // dist's final-agg stage, holding ~one pair buffer per (v,s,c)
    // input row next to dist's hash map — at the ×300 probe that was
    // ~1.4M object buffers × 32 concurrent tasks and OOMed the 8 GB
    // heap. Aligned on (vec_id, sub), Catalyst plans ONE full
    // aggregate whose per-task group count is |v,s|/parts (~94k at
    // ×300, ~15 MB of buffers); the shuffled relation is the compact
    // n×8×16 distance table, linear in corpus size.
    val pick = org.apache.spark.sql.functions.udaf(graft.functions.ArgMaxPairAgg)
    dist.repartition(col("vec_id"), col("sub"))
      .groupBy("vec_id", "sub")
      .agg(pick(-col("sqerr"), col("code")).as("p"))
      .select(col("vec_id"), col("sub"), col("p.id").as("code"),
        (-col("p.v")).as("sqerr"))
      .groupBy("sub", "code")
      .agg(count(lit(1)).as("cnt"), sum(col("sqerr").cast(DecimalType(30, 6))).as("serr"))
      .groupBy("sub")
      .agg(
        sum(col("cnt")).as("n_vecs"),
        count(lit(1)).as("n_codes"),
        max(col("cnt")).as("top_code_n"),
        round(sum(col("serr")) / sum(col("cnt")), 6).cast("double").as("avg_sq_err"))
      .orderBy("sub")
  }

  val s7Sql: String =
    """WITH ex AS (SELECT vec_id, CAST((i - 1) // 8 AS BIGINT) AS sub,
      |                   CAST((i - 1) % 8 AS BIGINT) AS dim,
      |                   CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      |            FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
      |cents AS (SELECT vec_id - 200 AS code, sub, dim, x AS cx
      |          FROM ex WHERE vec_id >= 200 AND vec_id < 216),
      |dist AS (SELECT e.vec_id, e.sub, c.code,
      |                ROUND(SUM((e.x - c.cx) * (e.x - c.cx)), 6) AS sqerr
      |         FROM ex e JOIN cents c ON c.sub = e.sub AND c.dim = e.dim
      |         GROUP BY 1, 2, 3),
      |asg AS (SELECT vec_id, sub, code, sqerr FROM (
      |          SELECT vec_id, sub, code, sqerr,
      |                 row_number() OVER (PARTITION BY vec_id, sub ORDER BY sqerr, code) AS rn
      |          FROM dist) WHERE rn = 1),
      |pc AS (SELECT sub, code, COUNT(*) AS cnt, SUM(CAST(sqerr AS DECIMAL(30,6))) AS serr
      |       FROM asg GROUP BY 1, 2)
      |SELECT sub, CAST(SUM(cnt) AS BIGINT) AS n_vecs, COUNT(*) AS n_codes,
      |       CAST(MAX(cnt) AS BIGINT) AS top_code_n,
      |       CAST(ROUND(SUM(serr) / SUM(cnt), 6) AS DOUBLE) AS avg_sq_err
      |FROM pc GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // S8: k-means clustering (2 Lloyd iterations, K=8, L2²) — the
  // embedding-space partitioner a training pipeline uses for semantic
  // sharding / diversity sampling; also exactly the structure behind
  // s2's IVF index. Spark-first shape: centroids are packed into ONE
  // array-of-structs row and broadcast, so assignment is a fully NARROW
  // per-row argmin over the 8-element array — no shuffle, no explode;
  // the only shuffles are the two centroid-recompute aggregations
  // (constant-size output: K×64 rows), which is the same plan MLlib's
  // KMeans executes per iteration at any scale. Determinism: init is
  // the 8 lowest vec_ids; each squared-difference term is an exact
  // IEEE double (float inputs, one subtract + one multiply) cast to
  // DECIMAL(30,12) and summed exactly, so the per-(vector, centroid)
  // distance is bit-identical on every engine and partitioning and the
  // argmin (tie → cluster asc) never wobbles; recomputed centroid
  // components go through the DECIMAL(30,10) mean + round(6) so
  // iteration 2 starts from identical centroids on both engines.
  // -------------------------------------------------------------------
  private val KmDec = DecimalType(30, 12)

  def s8Kmeans(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
    val c0 = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cl"), col("x").as("cent"))
    def packed(c: DataFrame): DataFrame =
      c.groupBy().agg(array_sort(collect_list(struct(col("cl"), col("cent")))).as("cs"))
    def assign(c: DataFrame): DataFrame =
      emb.crossJoin(broadcast(packed(c)))
        .withColumn("best", element_at(array_sort(transform(col("cs"), cc =>
          struct(
            aggregate(
              zip_with(col("x"), cc.getField("cent"), (a, b) => (a - b) * (a - b)),
              lit(BigDecimal(0)).cast(KmDec),
              (acc, t) => (acc + t.cast(KmDec)).cast(KmDec)).as("dist"),
            cc.getField("cl").as("cl")))), 1))
        .select(col("vec_id"), col("x"),
          col("best").getField("cl").as("cl"), col("best").getField("dist").as("dist"))
    val a1 = assign(c0)
    val c1 = a1.select(col("cl"), posexplode(col("x"))).toDF("cl", "pos", "v")
      .groupBy("cl", "pos")
      .agg(round(sum(col("v").cast(DecimalType(30, 10))) / count(lit(1)), 6)
        .cast("double").as("cv"))
      .groupBy("cl")
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pc"))
      .select(col("cl"), transform(col("pc"), p => p.getField("cv")).as("cent"))
    assign(c1).groupBy("cl")
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("dist")), 6).cast("double").as("inertia"))
      .orderBy("cl")
  }

  val s8Sql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      |           FROM embeddings),
      |c0 AS (SELECT vec_id AS cl, x AS cent FROM e WHERE vec_id < 8),
      |a1 AS (SELECT vec_id, cl, dist FROM (
      |         SELECT e.vec_id, c.cl,
      |                SUM(CAST((e.x[u.i] - c.cent[u.i]) * (e.x[u.i] - c.cent[u.i])
      |                         AS DECIMAL(30,12))) AS dist
      |         FROM e, c0 c, UNNEST(range(1, 65)) AS u(i)
      |         GROUP BY 1, 2)
      |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cl ASC) = 1),
      |c1 AS (SELECT a1.cl, u.i AS pos,
      |              CAST(ROUND(SUM(CAST(e.x[u.i] AS DECIMAL(30,10))) / COUNT(*), 6) AS DOUBLE) AS cv
      |       FROM a1 JOIN e USING (vec_id), UNNEST(range(1, 65)) AS u(i)
      |       GROUP BY 1, 2),
      |a2 AS (SELECT vec_id, cl, dist FROM (
      |         SELECT e.vec_id, c.cl,
      |                SUM(CAST((e.x[c.pos] - c.cv) * (e.x[c.pos] - c.cv)
      |                         AS DECIMAL(30,12))) AS dist
      |         FROM e, c1 c
      |         GROUP BY 1, 2)
      |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cl ASC) = 1)
      |SELECT cl, COUNT(*) AS n_members,
      |       CAST(ROUND(SUM(dist), 6) AS DOUBLE) AS inertia
      |FROM a2 GROUP BY cl ORDER BY cl""".stripMargin

  // -------------------------------------------------------------------
  // S9: index-quality evaluation AS A QUERY — recall@5 of the s1
  // SRP-LSH index against exact brute force, per query vector. An ANN
  // index without a measured recall number is not a deliverable, and
  // at 100 TB the evaluation itself must be a distributed query (take
  // a query sample, brute-force only that sample — linear in the
  // corpus — and join against the index's answer), not a notebook
  // afterthought. Ground truth reuses the b12 pattern: 10 query
  // vectors broadcast against one corpus scan. Both rankings round
  // cosines to 6 and break ties on vec_id, so the two top-5 sets are
  // bit-deterministic and the recall is exact on every engine. (The
  // measured number on the near-orthogonal validation corpus is the
  // bucket-geometry ceiling documented in the file header — the metric
  // judges the index, the spec only pins determinism and bounds.)
  // -------------------------------------------------------------------
  def s9RecallEval(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("qid"), col("e").as("qv"))
    val truth = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cosine(col("e"), col("qv")).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id").asc)))
      .filter(col("rank") <= 5)
      .select("qid", "vec_id")
    val lsh = s1AnnLsh(s, d).select(col("qid"), col("vec_id"), lit(1L).as("hit"))
    truth.join(lsh, Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("qid"), col("n_hits"),
        (col("n_hits").cast("double") / 5.0).as("recall_at_5"))
      .orderBy("qid")
  }

  val s9Sql: String =
    s"""WITH ${duckPlanes(16)},
      |${duckBands(4)},
      |cand AS (SELECT DISTINCT q.vec_id AS qid, b.vec_id
      |         FROM bands q JOIN bands b ON q.band = b.band AND q.bval = b.bval
      |         WHERE q.vec_id < 10 AND q.vec_id <> b.vec_id),
      |csims AS (
      |  SELECT c.qid, c.vec_id,
      |         CAST(ROUND(SUM(a.x * b.x) / (SQRT(SUM(a.x * a.x)) * SQRT(SUM(b.x * b.x))), 6) AS DOUBLE) AS sim
      |  FROM cand c JOIN ex a ON a.vec_id = c.qid JOIN ex b ON b.vec_id = c.vec_id AND b.d = a.d
      |  GROUP BY 1, 2),
      |lsh AS (SELECT qid, vec_id FROM (
      |          SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
      |          FROM csims) WHERE rn <= 5),
      |bsims AS (
      |  SELECT a.vec_id AS qid, b.vec_id,
      |         CAST(ROUND(SUM(a.x * b.x) / (SQRT(SUM(a.x * a.x)) * SQRT(SUM(b.x * b.x))), 6) AS DOUBLE) AS sim
      |  FROM ex a JOIN ex b ON b.d = a.d AND b.vec_id <> a.vec_id
      |  WHERE a.vec_id < 10
      |  GROUP BY 1, 2),
      |truth AS (SELECT qid, vec_id FROM (
      |            SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
      |            FROM bsims) WHERE rn <= 5)
      |SELECT t.qid,
      |       CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      |       CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5.0 AS recall_at_5
      |FROM truth t LEFT JOIN lsh l ON l.qid = t.qid AND l.vec_id = t.vec_id
      |GROUP BY t.qid ORDER BY t.qid""".stripMargin

  // -------------------------------------------------------------------
  // S10: Johnson-Lindenstrauss random projection — 64-d → 16-d with the
  // md5-derived integer hyperplanes (same construction as the LSH
  // planes, here used as a ±1000-integer Achlioptas-style projection),
  // plus the distance-preservation audit that justifies using the
  // compressed vectors downstream: pairwise squared-distance ratios
  // ||ya−yb||²/||xa−xb||² over a 30-vector sample, reported as
  // min/max/mean and the fraction within ±25%. Projections and
  // squared distances are summed through DECIMAL(30,12) (exact,
  // order-independent), the per-pair ratio is one double division +
  // round(6). Scale shape: the projection is one broadcast join +
  // groupBy per vector (linear, 16 outputs/vector — 4× smaller
  // storage); only the AUDIT touches pairs, and only over the fixed
  // sample. k=16 is deliberately far below the JL bound for ε=0.25 on
  // 435 pairs — the audit MEASURES what 4× compression actually costs
  // on this corpus rather than assuming the asymptotic guarantee.
  // -------------------------------------------------------------------
  def s10JlProjection(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 30)
    val exx = ex(emb)
    val proj = exx.join(broadcast(planes(s, 16)), "d")
      .groupBy(col("vec_id"), col("p"))
      .agg(sum((col("x") * col("w")).cast(DecimalType(30, 12))).as("proj"))
      .select(col("vec_id"), col("p"), col("proj").cast("double").as("y"))
    def sqdist(df: DataFrame, axis: String, v: String, out: String): DataFrame =
      df.as("a").join(df.as("b"),
          col(s"a.$axis") === col(s"b.$axis") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
          ((col(s"a.$v") - col(s"b.$v")) * (col(s"a.$v") - col(s"b.$v")))
            .cast(DecimalType(30, 12)).as("t"))
        .groupBy("va", "vb").agg(sum(col("t")).as(out))
    val dy = sqdist(proj, "p", "y", "sdy")
    val dx = sqdist(exx, "d", "x", "sdx")
    // unbiased normalization: E[w²] over the ±1000 integer weights is
    // exactly 1001000/3, so the projected squared distance scales by
    // k·E[w²] = 16·1001000/3 relative to the original — divide it out
    // so a perfectly preserved pair reads ratio = 1
    dy.join(dx, Seq("va", "vb"))
      .select(round(col("sdy").cast("double") / col("sdx").cast("double")
        * (3.0 / 16016000.0), 6).as("ratio"))
      .agg(
        count(lit(1)).as("n_pairs"),
        min(col("ratio")).as("min_ratio"),
        max(col("ratio")).as("max_ratio"),
        round(sum(col("ratio").cast(DecimalType(30, 6))) / count(lit(1)), 6)
          .cast("double").as("avg_ratio"),
        sum(when(abs(col("ratio") - 1.0) <= 0.25, 1L).otherwise(0L)).as("n_within_25pct"))
  }

  val s10Sql: String =
    s"""WITH ${duckPlanes(16)},
      |e AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS d, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      |      FROM embeddings, UNNEST(range(1, 65)) AS u(i)
      |      WHERE vec_id < 30),
      |proj AS (SELECT vec_id, p, CAST(SUM(CAST(x * w AS DECIMAL(30,12))) AS DOUBLE) AS y
      |         FROM e JOIN planes USING (d) GROUP BY 1, 2),
      |dys AS (SELECT a.vec_id AS va, b.vec_id AS vb,
      |               SUM(CAST((a.y - b.y) * (a.y - b.y) AS DECIMAL(30,12))) AS sdy
      |        FROM proj a JOIN proj b ON a.p = b.p AND a.vec_id < b.vec_id GROUP BY 1, 2),
      |dxs AS (SELECT a.vec_id AS va, b.vec_id AS vb,
      |               SUM(CAST((a.x - b.x) * (a.x - b.x) AS DECIMAL(30,12))) AS sdx
      |        FROM e a JOIN e b ON a.d = b.d AND a.vec_id < b.vec_id GROUP BY 1, 2),
      |r AS (SELECT ROUND(CAST(sdy AS DOUBLE) / CAST(sdx AS DOUBLE) * (3.0 / 16016000.0), 6) AS ratio
      |      FROM dys JOIN dxs USING (va, vb))
      |SELECT COUNT(*) AS n_pairs, MIN(ratio) AS min_ratio, MAX(ratio) AS max_ratio,
      |       CAST(ROUND(SUM(CAST(ratio AS DECIMAL(30,6))) / COUNT(*), 6) AS DOUBLE) AS avg_ratio,
      |       CAST(SUM(CASE WHEN ABS(ratio - 1) <= 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_25pct
      |FROM r""".stripMargin

  // -------------------------------------------------------------------
  // S11: IVF-PQ search with asymmetric distance (ADC) — s2's coarse
  // quantizer composed with s7's product codebook into the structure
  // FAISS calls IVFADC (Jégou et al. 2011, "Product Quantization for
  // Nearest Neighbor Search"; non-residual variant). The scale story is
  // the whole point: the searched relation is the CODES table (8 small
  // ints per vector — the compressed index), never the full-precision
  // embeddings; per query, only the top-2 probed cells' codes are
  // scanned, and distances come from a per-query 8×16 lookup table of
  // subspace distances (tiny by construction, broadcast), so a query
  // costs |probed codes| lookup-joins + one agg — no full-precision
  // vector is touched anywhere in the search path. Determinism: each
  // LUT entry is s7's round-6 subspace distance cast DECIMAL(30,6);
  // the ADC sum is exact decimal addition of 8 such entries, so the
  // (adc, vec_id) ranking never wobbles across engines/partitionings.
  // -------------------------------------------------------------------
  def s11IvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // coarse: s2's 32 seed centroids, cosine argmax, top-2 probe
    val cents = e.filter(col("vec_id") >= 100 && col("vec_id") < 132)
      .select(col("vec_id").as("cid"), col("e").as("cv"))
    val asgSims = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"), cosine(col("e"), col("cv")).as("csim"))
    // full-corpus assignment as the hash argmax (see cellCandidates /
    // ArgMaxAgg: the row_number form ships the n×K product through a
    // shuffle into sorts); the top-2 probe window only ever sees the 10
    // query vectors' rows, filtered BEFORE the window, so it stays a
    // toy sort at any SF
    val nearest = org.apache.spark.sql.functions.udaf(graft.functions.ArgMaxAgg)
    val assign = asgSims.groupBy("vec_id")
      .agg(nearest(col("csim"), col("cid")).as("cid"))
    val rn = row_number().over(
      Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cid").asc))
    val probes = asgSims.filter(col("vec_id") < 10)
      .withColumn("rn", rn).filter(col("rn") <= 2)
      .select(col("vec_id").as("qid"), col("cid"))
    // PQ: s7's 8 subspaces × 16 seed codes; sub-distance per (vec, sub, code)
    val ex = emb.select(col("vec_id"), posexplode(col("embedding").cast("array<double>")))
      .toDF("vec_id", "dpos", "x")
      .select(col("vec_id"), floor(col("dpos") / 8).cast("long").as("sub"),
        (col("dpos") % 8).cast("long").as("dim"), col("x"))
    val pqCents = ex.filter(col("vec_id") >= 200 && col("vec_id") < 216)
      .select((col("vec_id") - 200).as("code"), col("sub"), col("dim"),
        col("x").as("cx"))
    val dist = ex.join(broadcast(pqCents), Seq("sub", "dim"))
      .groupBy(col("vec_id"), col("sub"), col("code"))
      .agg(round(sum((col("x") - col("cx")) * (col("x") - col("cx"))), 6).as("sqerr"))
    // hash argmin per (vector, subspace) — same rationale (and same
    // load-bearing pre-argmin re-alignment shuffle: the fused partial
    // ObjectHashAggregate OOMed the ×300 probe) as s7
    val pick = org.apache.spark.sql.functions.udaf(graft.functions.ArgMaxPairAgg)
    val codes = dist.repartition(col("vec_id"), col("sub"))
      .groupBy("vec_id", "sub")
      .agg(pick(-col("sqerr"), col("code")).as("p"))
      .select(col("vec_id"), col("sub"), col("p.id").as("code"))
    // per-query ADC lookup table: distance from each query sub-vector to
    // every codebook entry — 8×16 rows per query, broadcast
    val lut = dist.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("sub"), col("code"),
        col("sqerr").cast(DecimalType(30, 6)).as("qerr"))
    val cand = probes.join(assign, "cid")
      .filter(col("qid") =!= col("vec_id"))
      .select("qid", "vec_id").distinct()
    val adc = cand.join(codes, "vec_id")
      .join(broadcast(lut), Seq("qid", "sub", "code"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("qerr")).as("adcd"))
    val wTop = Window.partitionBy("qid").orderBy(col("adcd").asc, col("vec_id").asc)
    adc.withColumn("rank", row_number().over(wTop)).filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id"), col("adcd").cast("double").as("adc"),
        col("rank"))
      .orderBy("qid", "rank")
  }

  val s11Sql: String =
    """WITH exd AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS d, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      |            FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
      |cents AS (SELECT vec_id AS cid, d AS cd, x AS cx FROM exd WHERE vec_id >= 100 AND vec_id < 132),
      |asg_sims AS (
      |  SELECT e.vec_id, c.cid,
      |         CAST(ROUND(SUM(e.x * c.cx) / (SQRT(SUM(e.x * e.x)) * SQRT(SUM(c.cx * c.cx))), 6) AS DOUBLE) AS csim
      |  FROM exd e JOIN cents c ON c.cd = e.d GROUP BY 1, 2),
      |ranked_asg AS (SELECT vec_id, cid,
      |                      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
      |               FROM asg_sims),
      |assign AS (SELECT vec_id, cid FROM ranked_asg WHERE rn = 1),
      |probes AS (SELECT vec_id AS qid, cid FROM ranked_asg WHERE vec_id < 10 AND rn <= 2),
      |exs AS (SELECT vec_id, CAST((i - 1) // 8 AS BIGINT) AS sub,
      |               CAST((i - 1) % 8 AS BIGINT) AS dim,
      |               CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      |        FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
      |pqc AS (SELECT vec_id - 200 AS code, sub, dim, x AS cx
      |        FROM exs WHERE vec_id >= 200 AND vec_id < 216),
      |dist AS (SELECT e.vec_id, e.sub, c.code,
      |                ROUND(SUM((e.x - c.cx) * (e.x - c.cx)), 6) AS sqerr
      |         FROM exs e JOIN pqc c ON c.sub = e.sub AND c.dim = e.dim
      |         GROUP BY 1, 2, 3),
      |codes AS (SELECT vec_id, sub, code FROM (
      |            SELECT vec_id, sub, code,
      |                   row_number() OVER (PARTITION BY vec_id, sub ORDER BY sqerr, code) AS rn
      |            FROM dist) WHERE rn = 1),
      |lut AS (SELECT vec_id AS qid, sub, code, CAST(sqerr AS DECIMAL(30,6)) AS qerr
      |        FROM dist WHERE vec_id < 10),
      |cand AS (SELECT DISTINCT p.qid, a.vec_id FROM probes p JOIN assign a ON a.cid = p.cid
      |         WHERE p.qid <> a.vec_id),
      |adc AS (SELECT c.qid, c.vec_id, SUM(l.qerr) AS adcd
      |        FROM cand c JOIN codes k ON k.vec_id = c.vec_id
      |                    JOIN lut l ON l.qid = c.qid AND l.sub = k.sub AND l.code = k.code
      |        GROUP BY 1, 2),
      |ranked AS (SELECT qid, vec_id, CAST(adcd AS DOUBLE) AS adc,
      |                  row_number() OVER (PARTITION BY qid ORDER BY adcd ASC, vec_id ASC) AS rank
      |           FROM adc QUALIFY rank <= 5)
      |SELECT qid, vec_id, adc, rank FROM ranked ORDER BY qid, rank""".stripMargin

  // -------------------------------------------------------------------
  // S12: semantic benchmark decontamination — d9's decontamination in
  // embedding space: flag every training vector whose max cosine to
  // any benchmark vector crosses the leak threshold, report per label.
  // The derived benchmark plants the ground truth deterministically:
  // every 97th vector, SCALED ×2 — cosine is scale-invariant and the
  // ×2 is IEEE-exact (doubling is lossless, numerator and denominator
  // double together), so each planted source scores round-6 sim 1.0
  // by construction and everything else sits far below the 0.999 bar
  // (this corpus's cross-vector cosines top out ~0.32). Scale shape:
  // a real benchmark set is fixed-size (an external eval suite) —
  // broadcast it and scan the corpus ONCE with the codegen cosine
  // kernel, one shuffle on vec_id for the per-vector max and one on
  // the label rollup; a benchmark too large to broadcast takes d5's
  // SRP-LSH banded path instead. The same mechanics as s5's range
  // search, pointed at the decontamination contract: an argmax flag
  // with per-label accounting, not a pair list.
  // -------------------------------------------------------------------
  private val S12BenchPred: Column = col("vec_id") % 97 === 0

  /** Bench-size cutoff for s12's plan switch: at or below it the
    * crossJoin(broadcast(bench)) + hash-max plan runs (every driver SF
    * sits here, so driver hashes never depend on the kernel); above it
    * the row-free kernel takes over — the ×1000 probe's derived
    * benchmark (n/97 ≈ 103k rows) made the product 1.03×10¹² codegen
    * JOIN ROWS, ~an hour of row machinery for 10M per-vector maxes. */
  private[queries] val S12KernelCutoff = 512L

  /** (vec_id, label, max_sim) via the declarative broadcast-product
    * plan — exact, the reference form the kernel is spec-gated
    * against. */
  private[queries] def s12MaxSimJoin(e: DataFrame): DataFrame =
    e.crossJoin(broadcast(
        e.filter(S12BenchPred).select(transform(col("e"), x => x * 2.0).as("bv"))))
      .select(col("vec_id"), col("label"), cosine(col("e"), col("bv")).as("sim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(col("sim")).as("max_sim"))

  /** (vec_id, label, max_sim) as a broadcast-grid PARTITION-LOCAL
    * kernel — one corpus scan, zero shuffles below the rollup, no
    * per-pair rows. Bit-identical to [[s12MaxSimJoin]]: rounding is
    * monotone, so max(round6(cos_i)) == round6(max(cos_i)) — the
    * kernel maxes UNROUNDED cosines under the same java.lang.Double
    * .compare order Spark's Max agg sorts by (NaN greatest) and rounds
    * once at the end; the dot/norm folds replicate CosineKernel
    * exactly (precomputed norms are independent left-to-right folds).
    * Preconditions as [[twoLevelAssignKernel]] (non-null ids/vectors/
    * elements — true for every embeddings corpus incl. ScaleGen). */
  private[queries] def s12MaxSimKernel(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val bench = e.filter(S12BenchPred)
      .select(transform(col("e"), x => x * 2.0).as("bv"))
      .as[Array[Double]].collect()
    if (bench.isEmpty)
      // crossJoin-form equivalence: empty bench ⇒ no per-vector rows
      return s.emptyDataset[(Long, Long, Double)].toDF("vec_id", "label", "max_sim")
    val dims = bench.head.length
    val grid = new Array[Double](bench.length * dims)
    bench.zipWithIndex.foreach { case (v, i) => System.arraycopy(v, 0, grid, i * dims, dims) }
    val sqrts = bench.map(sqrtNorm)
    val bc = s.sparkContext.broadcast((grid, sqrts))
    e.select(col("vec_id"), col("label").cast("long").as("label"), col("e"))
      .as[(Long, Long, Array[Double])].mapPartitions { it =>
        val (g, sq) = bc.value
        val nB = sq.length
        it.map { case (vecId, label, v) =>
          val sn = sqrtNorm(v)
          var best = Double.NegativeInfinity
          var i = 0
          while (i < nB) {
            val c = dotRow(v, g, i, dims) / (sn * sq(i))
            if (java.lang.Double.compare(c, best) > 0) best = c
            i += 1
          }
          (vecId, label, round6(best))
        }
      }.toDF("vec_id", "label", "max_sim")
  }

  def s12SemanticDecontam(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
    // plan switch on BENCH size (the shared PlanGate — one
    // column-pruned count, like d8b): the broadcast-product plan
    // streams |n|·|bench| joined rows — linear for a real (fixed-size)
    // benchmark suite, quadratic under this query's derived n/97
    // benchmark — so above the cutoff the kernel does the same max
    // with zero product rows. Exact either way; oracle SQL is
    // plan-independent.
    val maxSim = PlanGate.pick(e.filter(S12BenchPred), "vec_id", S12KernelCutoff)(
      s12MaxSimJoin(e), s12MaxSimKernel(e))
    maxSim
      .groupBy(col("label").cast("long").as("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum((col("max_sim") >= 0.999).cast("int")).as("n_contaminated"),
        max(col("max_sim")).as("max_sim"))
      .orderBy("label")
  }

  val s12Sql: String =
    """WITH ex AS (SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS d,
      |                   CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      |            FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
      |bench AS (SELECT vec_id AS bid, d, x * 2.0 AS bx FROM ex WHERE vec_id % 97 = 0),
      |sims AS (SELECT e.vec_id, e.label, b.bid,
      |                CAST(ROUND(SUM(e.x * b.bx) / (SQRT(SUM(e.x * e.x)) * SQRT(SUM(b.bx * b.bx))), 6) AS DOUBLE) AS sim
      |         FROM ex e JOIN bench b ON b.d = e.d GROUP BY 1, 2, 3),
      |mx AS (SELECT vec_id, label, MAX(sim) AS max_sim FROM sims GROUP BY 1, 2)
      |SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_vecs,
      |       CAST(SUM(CASE WHEN max_sim >= 0.999 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
      |       MAX(max_sim) AS max_sim
      |FROM mx GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("s1_ann_lsh", s1AnnLsh _, s1Sql),
    ("s2_ann_ivf", s2AnnIvf _, s2Sql),
    ("s3_norm_stats", s3NormStats _, s3Sql),
    ("s4_knn_graph", s4KnnGraph _, s4Sql),
    ("s5_range_search", s5RangeSearch _, s5Sql),
    ("s6_quantize", s6Quantize _, s6Sql),
    ("s7_product_quant", s7ProductQuant _, s7Sql),
    ("d5_embedding_neardup", d5EmbeddingNeardup _, d5Sql),
    ("d6_crossmodal", d6CrossModal _, d6Sql),
    ("d8_semantic_dedup", d8SemanticDedup _, d8Sql),
    ("d8b_scaled_codebook", d8bScaledCodebook _, d8bSql),
    ("s8_kmeans", s8Kmeans _, s8Sql),
    ("s9_recall_eval", s9RecallEval _, s9Sql),
    ("s10_jl_projection", s10JlProjection _, s10Sql),
    ("s11_ivfpq", s11IvfPq _, s11Sql),
    ("s12_semantic_decontam", s12SemanticDecontam _, s12Sql))
}
