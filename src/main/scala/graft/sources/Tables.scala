package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All tables are plain parquet scans — Catalyst pushes filters and prunes
  * columns into the scan, so callers should express predicates on the
  * returned DataFrame and let pushdown do its job (verified via
  * `.explain("formatted")` → `PushedFilters`/`ReadSchema`).
  *
  * Every read passes its schema (`spark.read.schema(s).parquet(…)`), so
  * building a DataFrame starts no Spark job. `spark.read.parquet` alone
  * would infer the schema with a footer-reading job on every call
  * (about 0.1 s each), and a query over four tables paid four of them
  * before it ran. The schema comes from the table's parquet footer,
  * read on the driver once per (file, length, mtime) and converted by
  * Spark's own `ParquetToSparkSchemaConverter` with the session's conf,
  * so it is the schema inference would give. File listing still happens
  * on every read, so a rewritten file is read again. The same footer
  * gives [[maybeCompact]] its row-group count.
  *
  * The only special case is `events`: its `ts` column has shipped with
  * two different parquet footers across driver data generations —
  * `timestamp[ns]`, which Spark 4 rejects (`PARQUET_TYPE_ILLEGAL`)
  * unless `spark.sql.legacy.parquet.nanosAsLong=true` is set and then
  * surfaces as a raw nanosecond long, and `timestamp[us]`
  * (isAdjustedToUTC=false), which surfaces as TIMESTAMP_NTZ. The same
  * footer read decides which ([[schema]]), and both are normalized to
  * a session-TZ TimestampType here (all entry points run with
  * `spark.sql.session.timeZone=UTC`, so the NTZ wall time and the raw
  * epoch nanos agree on the same instant).
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** A table's parquet footer: `file` is the footer's file, `single`
    * false for a directory of part files (its first data file's
    * footer), `meta` its schema and key-value metadata. */
  private final case class Footer(file: FileStatus, single: Boolean,
      meta: FileMetaData, rowGroups: Int)

  /** Footers already read, by (file, length, mtime). */
  private val footers = new ConcurrentHashMap[(String, Long, Long), (FileMetaData, Int)]()

  /** The footer of the table at `p`: a single parquet file, or a
    * directory of part files. None for anything else (a missing path,
    * a directory without data files, a file that is not parquet); the
    * caller then leaves the read to Spark. Only a non-fatal failure is
    * None: an interrupt or a fatal error propagates. */
  private def footer(spark: SparkSession, p: String): Option[Footer] = {
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val st = fs.getFileStatus(path)
      val file =
        if (!st.isDirectory) Some(st)
        else fs.listStatus(path).filter { e =>
          val n = e.getPath.getName
          e.isFile && !n.startsWith("_") && !n.startsWith(".")
        }.sortBy(_.getPath.getName).headOption
      file.map { f =>
        val (meta, rowGroups) = footers.computeIfAbsent(
          (f.getPath.toString, f.getLen, f.getModificationTime), _ => {
            val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
            try (r.getFooter.getFileMetaData, r.getRowGroups.size) finally r.close()
          })
        Footer(f, !st.isDirectory, meta, rowGroups)
      }
    } catch { case NonFatal(_) => None }
  }

  /** The schema `spark.read.parquet(p)` would infer, without its job
    * (every field nullable, as a file scan reports it).
    * A `TIMESTAMP(NANOS)` column turns the legacy nanosAsLong conf on
    * (the column then reads as raw epoch nanos, a LongType), on every
    * read: the scan consults the conf lazily at execution, so it must
    * stay set for the DataFrame the caller holds. A modern footer
    * leaves it untouched, so an unrelated ns-parquet read elsewhere in
    * the session still fails loudly instead of yielding raw longs. */
  def schema(spark: SparkSession, p: String): StructType =
    footer(spark, p) match {
      case Some(f) =>
        val nanos = f.meta.getSchema.getColumns.asScala.exists { c =>
          c.getPrimitiveType.getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
            case _ => false
          }
        }
        if (nanos) spark.conf.set(NanosKey, "true")
        ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(f.file.getPath,
            new ParquetMetadata(f.meta, java.util.Collections.emptyList())),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)).toNullable
      case None => spark.read.parquet(p).schema // Spark's own error or layout
    }

  /** Normalize a raw-footer `ts` column to a session-TZ TimestampType
    * (all entry points run with session TZ = UTC, so the NTZ wall time
    * and the raw epoch nanos agree on the same instant). */
  def normalizeTs(df: DataFrame, rawType: DataType): DataFrame = rawType match {
    case LongType => // ns footer: raw epoch nanos under the legacy conf
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => // us footer, isAdjustedToUTC=false
      df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df // already a session-TZ timestamp
  }

  // -------------------------------------------------------------------
  // Scan-layout compaction (auto-OPTIMIZE for pathological inputs).
  //
  // A parquet row group is the unit of scan parallelism: a 10 MB file
  // written as ONE row group is decoded by ONE task no matter how low
  // `maxPartitionBytes` goes, so every full-table query pays a
  // single-threaded scan floor. Real deployments fix this at the
  // storage layer (Delta OPTIMIZE / Iceberg rewriteDataFiles); this is
  // the same idea as a read-side safety net — on first touch of a
  // file whose average row group exceeds `spark.graft.compact.minBytes`
  // (default 4 MB), rewrite it once into a local multi-file copy
  // (~1.5 MB/part) keyed by (path, length, mtime) and serve every
  // subsequent scan from that. Content-identical, order-insensitive
  // (every consumer either sorts or is a set/agg semantics query — the
  // determinism recipe is proven across partition-count changes, see
  // BENCH_NOTES determinism runs).
  //
  // `events` is deliberately NOT compacted: the streaming readers
  // replay it as a micro-batch source, and physical row order there
  // decides watermark lateness — a rewrite must not change stream
  // semantics. At sf0.1 it is far below the threshold anyway.
  // -------------------------------------------------------------------

  private def conf(spark: SparkSession, key: String, dflt: String): String =
    spark.conf.getOption(key).getOrElse(dflt)

  /** Source table basenames (e.g. "lineitem") that resolved to a
    * compacted copy in this JVM — Bench stamps this into its artifacts
    * (`"compacted":[…]`) so a sweep on a rewritten layout is
    * distinguishable from one on the raw producer layout post-hoc. */
  val compactedTables: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Cheap content fingerprint: SHA-1 of the file's LAST 64 KB — the
    * parquet footer (schema, per-row-group offsets and column min/max
    * stats), so a regenerated file with coincidentally identical size
    * and a coarse (second-resolution) mtime still changes the cache key.
    * Footer-only by design: no data pages are read. */
  private def footerFingerprint(spark: SparkSession, p: String, len: Long): String = {
    val hPath = new org.apache.hadoop.fs.Path(p)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val n = math.min(len, 64L << 10).toInt
    val buf = new Array[Byte](n)
    val in = fs.open(hPath)
    try in.readFully(len - n, buf) finally in.close()
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(buf).map("%02x".format(_)).mkString
  }

  /** Local cache root for compacted copies (conf > default).
    * Deliberately NOT java.io.tmpdir by default: tmp reapers on long
    * benches can delete a resolved copy between path resolution and
    * scan execution. */
  private def cacheRootDir(spark: SparkSession): java.io.File =
    new java.io.File(conf(spark, "spark.graft.compact.dir",
      s"${System.getProperty("user.home")}/.cache/graft-compact"))

  /** One sweep per JVM per cache root: drop entries whose recorded
    * source no longer exists (each driver data regeneration would
    * otherwise leave a dead multi-MB copy behind forever), entries
    * predating the `_SOURCE` marker (orphaned by cache-key format
    * changes), and `.tmp-<pid>` debris of dead writer processes. */
  private val evictedRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Test-only: forget which roots were swept so a spec can observe a
    * second sweep in the same JVM (production runs sweep once per root). */
  private[sources] def resetEvictionSweepForTests(): Unit = evictedRoots.clear()

  private def evictStale(root: java.io.File): Unit =
    if (evictedRoots.add(root.getAbsolutePath)) {
      Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.isDirectory).foreach { d =>
          val tmpOf = ".*\\.tmp-(\\d+)$".r
          val dead = try d.getName match {
            case tmpOf(pid) => // writer debris: gone unless its pid is alive
              !ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false)
            case _ =>
              val srcFile = new java.io.File(d, "_SOURCE")
              if (!srcFile.isFile) true // pre-_SOURCE format: unreachable key
              else {
                val src = new String(java.nio.file.Files.readAllBytes(srcFile.toPath),
                  "UTF-8").trim
                // only local paths are cheaply checkable; keep remote-keyed entries
                src.startsWith("/") && !new java.io.File(src).exists()
              }
          } catch {
            // cross-process race: another JVM's sweep removed the entry
            // between the isFile check and the read — skip, don't fail
            // the first query of the run over someone else's cleanup
            case _: java.io.IOException => false
          }
          if (dead) org.apache.hadoop.fs.FileUtil.fullyDelete(d)
        }
    }

  /** Resolve a table path to its compacted copy, rewriting on first
    * touch. Returns the original path when the layout is already
    * scan-parallel. The copy is keyed by (path, size, mtime, footer
    * fingerprint) and re-verified via its
    * `_SUCCESS` marker on every resolution, so a deleted or
    * half-written cache entry is rebuilt instead of served. */
  def maybeCompact(spark: SparkSession, p: String): String = {
    val minBytes = conf(spark, "spark.graft.compact.minBytes", (4L << 20).toString).toLong
    footer(spark, p) match {
      case Some(f) if f.single && f.file.getLen > minBytes &&
          f.file.getLen / math.max(f.rowGroups, 1) > minBytes =>
        val bytes = f.file.getLen
        val mtime = f.file.getModificationTime
        val cacheRoot = cacheRootDir(spark)
        evictStale(cacheRoot)
        val fp = footerFingerprint(spark, p, bytes)
        val key = java.security.MessageDigest.getInstance("SHA-1")
          .digest(s"$p|$bytes|$mtime|$fp".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(16)
        val dst = new java.io.File(cacheRoot, key)
        compactLock.synchronized {
          if (!new java.io.File(dst, "_SUCCESS").isFile) {
            // ~1.5 MB/part: enough scan tasks to fill the cores on a
            // 10-20 MB table without drowning in task overhead
            val parts = math.max(2, math.min(64, (bytes / (1500L << 10)).toInt))
            val tmp = new java.io.File(cacheRoot, s"$key.tmp-${ProcessHandle.current.pid}")
            spark.read.parquet(p).repartition(parts)
              .write.mode("overwrite").parquet(tmp.getAbsolutePath)
            java.nio.file.Files.write(new java.io.File(tmp, "_SOURCE").toPath,
              p.getBytes("UTF-8"))
            if (!tmp.renameTo(dst)) { // lost a cross-process race: theirs is fine
              org.apache.hadoop.fs.FileUtil.fullyDelete(tmp)
            }
          }
        }
        compactedTables.add(
          new org.apache.hadoop.fs.Path(p).getName.stripSuffix(".parquet"))
        dst.getAbsolutePath
      case _ => p
    }
  }

  private val compactLock = new Object

  /** Read one table from an sf directory, applying per-table shims. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = s"$sfDir/$name.parquet"
    val s = schema(spark, p)
    name match {
      case "events" => normalizeTs(spark.read.schema(s).parquet(p), s("ts").dataType)
      case _ => spark.read.schema(s).parquet(maybeCompact(spark, p))
    }
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
