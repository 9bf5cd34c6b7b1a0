package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator: tiles an sf directory N× with rekeyed
  * ids into a new sf directory, for empirical scaling runs above the
  * largest driver-provided SF (the "sf1-synth" probe).
  *
  * Design constraints, in order:
  *  - JOIN STRUCTURE PRESERVED: every entity key (custkey, orderkey,
  *    partkey, suppkey, event/user id, doc/vec id) is offset by
  *    tile*10M, so each tile is a self-consistent copy and the foreign
  *    keys never cross tiles; nation/region stay single-copy (25/5-row
  *    dimensions are global, and the nationkey FKs still resolve).
  *  - MOSTLY-UNIQUE CONTENT: tiled documents get a per-tile token
  *    appended (distinct shingle sets, distinct md5) and tiled
  *    embeddings are component-ROTATED by the tile index (near-zero
  *    cosine to the original, same norm) — a 10× corpus of copies
  *    would otherwise turn every near-dup family into one giant
  *    cluster and measure cluster-size growth, not corpus growth.
  *  - PLANTED DUP CLUSTERS: doc_id % 100 == 0 rows keep their text and
  *    embedding verbatim in EVERY tile — known 10-copy exact/near-dup
  *    clusters the dedup family must find, bounded in number so
  *    candidate counts stay linear in the corpus.
  *
  * Usage: runMain graft.ScaleGen [srcSfDir] [outDir] [tiles] [tablesRe]
  *
  * `tablesRe` (default `.*`) restricts generation to matching table
  * names — the big-decade probes scale the document/event families an
  * order of magnitude beyond the relational tables (a ×1000 documents
  * corpus is ~1 GB where ×1000 lineitem is ~15 GB), and generating 15 GB
  * nobody scans is disk and wall the probe doesn't have.
  */
object ScaleGen {

  /** Per-tile key offset — far above every key in any driver SF, far
    * below integer overflow even ×10 tiles. */
  private val K = 10_000_000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "scaledata/sf1-synth"
    val tiles = if (args.length > 2) args(2).toInt else 10
    val tablesRe = if (args.length > 3) args(3) else ".*"
    GraftSession.run()(generate(_, src, out, tiles, tablesRe))
  }

  def generate(s: SparkSession, src: String, out: String, tiles: Int,
      tablesRe: String = ".*"): Unit = {
    // anchored full-name match: "part" must not also select "parquet"
    // paths or accidentally glob "partsupp"-style future tables
    val onTable: String => Boolean = t => t.matches(tablesRe)
    // the embedding variation composes a cyclic rotation (tile % dims)
    // with a per-group murmur3 sign-flip parity pattern keyed by
    // grp = tile / dims — tile → (rotation, group) is a bijection, and
    // two GROUPS only share a transform if their 64-component hash
    // parity patterns collide exactly (≈ G²/2⁶⁵ for G groups), so the
    // honest ceiling is birthday-bounded, not dims². 16384 tiles is
    // 256 groups (collision odds ~2⁻⁴⁹) and covers the 10M-vector
    // d8b design-point corpus (×5000); fail loudly past it rather
    // than silently stretch the bound's margin.
    require(tiles >= 1 && tiles <= 16384,
      s"tiles must be in [1, 16384] (64 rotations x birthday-bounded " +
        s"murmur3 sign-flip groups), got $tiles")
    def read(t: String): DataFrame =
      // events goes through the footer probe/shim (ns/NTZ/us → session-TZ
      // timestamp), so the synth corpus is written with a MODERN footer
      // whatever the source generation shipped
      if (t == "events") graft.sources.Tables.table(s, src, t)
      else s.read.parquet(s"$src/$t.parquet")
    // MULTI-file tables (a `<t>.parquet/` directory of part files) —
    // the layout a real deployment has at any scale, and what lets a
    // scan hand distinct files to distinct tasks. The probes' original
    // single-file layout put each table's whole map-side work on ONE
    // core (the r9 finding: the 30x documents table compressed to
    // 4 MB / 1 row group, so every shingle/regex stage ran serially
    // regardless of spark.sql.files.maxPartitionBytes). Spark's batch
    // and streaming readers and DuckDB (via a part glob in
    // scripts/check.py) all open the directory form.
    def srcBytes(t: String): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$src/$t.parquet")
      p.getFileSystem(s.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
    }
    // Size-aware partition count: target ~8 MB of (estimated) output
    // bytes per part file — source bytes × copy factor, since tiling
    // compresses about like the source. Big tables fan out to 32 parts;
    // the KB-scale dimension tables stay ONE part instead of 32
    // mostly-empty files. Clamped to `tiles` because the fan-out below
    // partitions BY TILE.
    def parts(t: String, copies: Int): Int = math.max(1, math.min(tiles,
      math.min(32, (srcBytes(t) * copies / (8L * 1024 * 1024)).toInt)))

    // tile() broadcasts the WHOLE source table (the shuffle-free fan-out
    // depends on it); driver SFs are MBs–100 MB, well under any broadcast
    // ceiling, but a source that outgrows the assumption must fail
    // LOUDLY here rather than OOM the driver mid-generation. At real
    // deployment sizes the tile loop moves into the scan (mapPartitions
    // with a modulo-assigned tile slice) — see tile()'s scaladoc.
    val broadcastCeiling = 1L << 30
    def readChecked(t: String): DataFrame = {
      val b = srcBytes(t)
      require(b <= broadcastCeiling,
        s"ScaleGen.tile broadcasts the whole source: $t is $b bytes " +
          s"(> ${broadcastCeiling} ceiling) — the broadcast-cross generator " +
          "only holds for probe-sized sources; switch to a mapPartitions " +
          "tile slice for sources this large")
      read(t)
    }

    def write(df: DataFrame, t: String): Unit = {
      if (!onTable(t)) return // df is lazy — skipping costs nothing
      df.write.mode("overwrite")
        .option("parquet.block.size", (8 * 1024 * 1024).toString)
        .parquet(s"$out/$t.parquet")
    }

    /** Fan each row out into `tiles` copies, offsetting `keys` by
      * tile*K (original column types preserved), SHUFFLE-FREE: the
      * tile ids are born range-partitioned into `nParts` tasks and the
      * whole source rides along as a broadcast under a cross join, so
      * each task streams its tiles × source directly into its own
      * output file. The previous shape (per-row explode + repartition
      * for file count) shuffled the ENTIRE tiled corpus — at ×1000
      * lineitem that is ~600M rows / ~45 GB of map spill, which
      * overran the probe box's disk for nothing but output layout.
      * Every driver SF source is MBs–100 MB, far under the broadcast
      * ceiling; at a real deployment's source sizes the tile loop
      * would move INTO the scan (mapPartitions over the source with a
      * modulo-assigned tile slice), but the broadcast form keeps the
      * probe generator one declarative plan. */
    def tile(df: DataFrame, keys: Seq[String], nParts: Int): DataFrame = {
      val tilesDf = s.range(0, tiles, 1, nParts).toDF("tile")
      val crossed = tilesDf.crossJoin(broadcast(df))
      keys.foldLeft(crossed) { (d, k) =>
        val dt = df.schema(k).dataType
        d.withColumn(k, (col(k) + col("tile") * K).cast(dt))
      }
    }

    // single-copy global dimensions
    write(read("region"), "region")
    write(read("nation"), "nation")

    // tiled relational entities — FKs offset in lockstep
    write(tile(readChecked("customer"), Seq("c_custkey"), parts("customer", tiles))
      .drop("tile"), "customer")
    write(tile(readChecked("supplier"), Seq("s_suppkey"), parts("supplier", tiles))
      .drop("tile"), "supplier")
    write(tile(readChecked("part"), Seq("p_partkey"), parts("part", tiles))
      .drop("tile"), "part")
    write(tile(readChecked("orders"), Seq("o_orderkey", "o_custkey"), parts("orders", tiles))
      .drop("tile"), "orders")
    write(tile(readChecked("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey"),
      parts("lineitem", tiles)).drop("tile"), "lineitem")
    write(tile(readChecked("events"), Seq("event_id", "user_id"), parts("events", tiles))
      .drop("tile"), "events")

    // documents: tiled text is unique per tile EXCEPT the planted
    // doc_id % 100 == 0 clusters (10 exact copies each); n_chars is
    // recomputed so the length invariant survives the suffix
    val docs = tile(readChecked("documents"), Seq.empty, parts("documents", tiles))
      .withColumn("text",
        when(col("tile") === 0 || col("doc_id") % 100 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" tile"), col("tile"))))
      .withColumn("n_chars", length(col("text")).cast(read("documents").schema("n_chars").dataType))
      .withColumn("doc_id",
        (col("doc_id") + col("tile") * K).cast(read("documents").schema("doc_id").dataType))
      .drop("tile")
    write(docs, "documents")

    // embeddings: tiled vectors are ROTATED by tile % dims and, for
    // tiles beyond the dimensionality, SIGN-FLIPPED by a deterministic
    // per-group murmur3 parity pattern (tile / dims) — both transforms
    // preserve the norm exactly while pushing cross-tile cosine to
    // ~zero, so every tile is distinct content up to the birthday-
    // bounded group ceiling (see the tiles require above).
    // Planted vec_id % 100 == 0 near-dup clusters stay verbatim;
    // vec_id offsets mirror doc_id so the doc↔vec alignment d6 uses
    // survives tiling. Groups ≤ 64 tiles reduce to the pure rotation,
    // keeping earlier probe corpora bit-reproducible.
    if (onTable("embeddings")) {
    val dims = read("embeddings").selectExpr("size(embedding)").first().getInt(0)
    // The 16384-tile ceiling above is birthday-justified against the
    // 64-dim sign-flip pattern space (2^65); a lower-dim corpus
    // shrinks that space to 2^dims and makes silent transform
    // collisions likely (dims=16 at 16384 tiles is near-certain),
    // quietly inflating planted near-dup families. Sign-flip groups
    // only exist past tiles > dims (grp 0 is pure rotation), so a
    // small-dim corpus may still tile up to `dims` — beyond that,
    // fail loudly like the tile-ceiling require does.
    require(tiles <= dims || dims >= 64,
      s"sign-flip tiling needs dims >= 64 for the birthday bound " +
        s"(measured dims=$dims, tiles=$tiles; tiles <= dims stays " +
        s"within the rotation-only regime and is always safe)")
    val rot = (col("tile") % dims).cast("int")
    val grp = (col("tile") / dims).cast("int")
    val rotated = concat(
      slice(col("embedding"), rot + lit(1), lit(dims) - rot),
      slice(col("embedding"), lit(1), rot))
    val flipped = when(grp === 0, rotated).otherwise(
      transform(rotated, (x, i) =>
        when(pmod(hash(i, grp), lit(2)) === 1, -x).otherwise(x)))
    val emb = tile(readChecked("embeddings"), Seq.empty, parts("embeddings", tiles))
      .withColumn("embedding",
        when(col("tile") === 0 || col("vec_id") % 100 === 0, col("embedding"))
          .otherwise(flipped))
      .withColumn("vec_id",
        (col("vec_id") + col("tile") * K).cast(read("embeddings").schema("vec_id").dataType))
      .drop("tile")
    write(emb, "embeddings")
    }

    println(s"""{"scalegen":"$out","tiles":$tiles,"src":"$src","tables":"$tablesRe","layout":"tile-contiguous-v2","note":"since r13: shuffle-free broadcast-cross fan-out writes tile-contiguous files with tight per-file key min/max (row-group pruning differs from the pre-r13 shuffled layout; key-selective probe timings are not comparable across that boundary)"}""")
  }
}
