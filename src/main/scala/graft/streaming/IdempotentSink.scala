package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

/** Exactly-once file output from an at-least-once micro-batch stream.
  *
  * Structured Streaming's `foreachBatch` delivers every micro-batch AT
  * LEAST once: after a failure the engine replays the batch with the
  * SAME `batchId`. A sink is exactly-once iff replaying a (batchId,
  * data) pair is a no-op — which a batchId-keyed overwrite gives for
  * free: the retry replaces its own (possibly partial) output instead
  * of appending a duplicate. This is the recipe the checkpointed file
  * sink uses internally, exposed for arbitrary `foreachBatch`
  * destinations (a JDBC MERGE keyed on batchId is the same move).
  *
  * Scale notes: the write is per-partition parallel parquet, no
  * driver-side collection; one directory per micro-batch keeps the
  * overwrite scoped to the replayed batch (never the whole sink), so
  * a retry re-writes one micro-batch of data regardless of how much
  * history the sink holds.
  */
object IdempotentSink {

  /** A `foreachBatch` function writing each micro-batch to a
    * `batch_id=<id>` directory with overwrite semantics. Safe to call
    * twice with the same id (failure replay): the second write
    * replaces the first bit-for-bit instead of duplicating it. */
  def parquetSink(outDir: String): (Dataset[Row], Long) => Unit =
    (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** Everything the sink has committed, across all micro-batches; the
    * batch_id partition column is dropped so the read-back schema is
    * the stream's own. Batch directories are enumerated explicitly
    * rather than passed as a `batch_id=*` glob: `FileStreamSink
    * .hasMetadata` stats the literal glob string, and the resulting
    * FileNotFoundException — though swallowed — is WARN-logged with a
    * full stack that pollutes the bench stdout tail. */
  def readBack(s: SparkSession, outDir: String): DataFrame = {
    val dirs = batchDirs(s, outDir)
    require(dirs.nonEmpty,
      s"$outDir: the stream committed zero micro-batches — empty source, " +
        "or foreachBatch never ran; nothing to read back")
    s.read.option("basePath", outDir).parquet(dirs.toIndexedSeq: _*)
      .drop("batch_id")
  }

  private[streaming] def batchDirs(s: SparkSession, outDir: String): Array[String] = {
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("batch_id=")).sorted.map(n => s"$outDir/$n")
    else Array.empty[String]
  }

  /** The LAST committed micro-batch only — the correct read-back for a
    * COMPLETE-mode stream, where every batch directory holds the full
    * updated result and earlier directories are superseded history
    * (unioning them, as [[readBack]] does for append mode, would
    * duplicate rows once the source spans several micro-batches). */
  def readBackLast(s: SparkSession, outDir: String): DataFrame = {
    val ids = batchDirs(s, outDir)
      .map(_.split("=").last.toLong)
    require(ids.nonEmpty,
      s"$outDir: the stream committed zero micro-batches — empty source, " +
        "or foreachBatch never ran; nothing to read back")
    s.read.parquet(s"$outDir/batch_id=${ids.max}")
  }
}
