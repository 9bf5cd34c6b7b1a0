package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("capfeed")` — DSv2 batch source for a CAP feed
  * (S1-S3). Planning (driver): fetch the RSS/Atom feed once, extract
  * alert links (P1-P3). Execution (executors): each partition fetches
  * its slice of alert URLs with reference-parity retry/backoff and
  * yields `(url, xml)` rows. The reference fetches the N alerts
  * serially (task.ts:626) — here wall-clock ≈ ceil(N / parallelism) ×
  * fetch, the engine's headline scalability win for the ETL path.
  *
  * Options: `url` (required), `headers` ("K=V;K=V"), `timeout` (ms,
  * default 30000), `retries` (default 2), `numPartitions` (default 4) —
  * timeout/retries defaults mirror the reference env schema
  * (task.ts:15-22). Engine-only, parsed by [[EtlConfig.fromOptions]]:
  * `fetchConcurrency` (default 1, in-flight alert fetches per partition)
  * and `failFast` (default false: a failed alert is logged and skipped
  * like the reference; true fails the read).
  */
class CapFeedDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "capfeed"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CapFeedDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CapFeedTable(new CaseInsensitiveStringMap(properties))
}

object CapFeedDataSource {
  val schema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("xml", StringType, nullable = false)))

  /** Round-robin link slices → input partitions (shared by the batch
    * scan and the micro-batch stream). */
  def slice(links: Seq[String], numPartitions: Int, c: EtlConfig): Array[InputPartition] = {
    if (links.isEmpty) return Array.empty
    val n = math.max(1, math.min(numPartitions, links.size))
    links.zipWithIndex.groupBy(_._2 % n).toSeq.sortBy(_._1)
      .map { case (_, ls) => CapFeedPartition(ls.map(_._1), c): InputPartition }
      .toArray
  }
}

private class CapFeedTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"capfeed(${options.get("url")})"
  override def schema(): StructType = CapFeedDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new CapFeedScan(o)
}

private class CapFeedScan(options: CaseInsensitiveStringMap)
    extends ScanBuilder with Scan with Batch {
  override def build(): Scan = this
  override def readSchema(): StructType = CapFeedDataSource.schema
  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new CapFeedMicroBatchStream(options)

  // planInputPartitions may be invoked more than once per query (e.g.
  // partition-count probes); the feed must be fetched exactly once.
  private lazy val partitions: Array[InputPartition] = {
    val c = EtlConfig.fromOptions(options, "capfeed")
    // driver-side: one feed fetch + link extraction (mirrors control()'s
    // prologue, task.ts:606-612)
    val feed = Http.fetchWithRetry(c.url, c.headers, c.timeoutMs, c.retries)
    CapFeedDataSource.slice(FeedLinks.extract(feed), options.getInt("numPartitions", 4), c)
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    new CapFeedReaderFactory
}

private case class CapFeedPartition(urls: Seq[String], conf: EtlConfig)
    extends InputPartition

private class CapFeedReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CapFeedPartition]
    if (p.conf.fetchConcurrency > 1) new ConcurrentCapFeedReader(p)
    else new SerialCapFeedReader(p)
  }
}

/** Reference parity: each alert fetch sits inside the per-alert
  * try/catch (task.ts:626-878) — a dead link is logged and skipped
  * after retries, it does not fail the run. failFast=true opts into
  * strict propagation instead.
  */
private class SerialCapFeedReader(p: CapFeedPartition)
    extends PartitionReader[InternalRow] {
  private val it = p.urls.iterator
  private var current: InternalRow = _
  override def next(): Boolean = {
    while (it.hasNext) {
      val url = it.next()
      try {
        val xml = Http.fetchWithRetry(url, p.conf.headers, p.conf.timeoutMs, p.conf.retries)
        current = new GenericInternalRow(Array[Any](
          UTF8String.fromString(url), UTF8String.fromString(xml)))
        return true
      } catch {
        // NonFatal only — cancellation interrupts and VM errors
        // must fail the task, not read as "skipped URL"
        case scala.util.control.NonFatal(e) if !p.conf.failFast =>
          System.err.println(s"[capfeed] skipping $url: ${e.getMessage}")
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** `fetchConcurrency > 1`: up to that many alert fetches of THIS
  * partition's slice run simultaneously on a private pool — I/O-bound
  * latency hiding on top of the partition-level parallelism, where the
  * reference is strictly serial (task.ts:626). Rows surface in fetch-
  * COMPLETION order; downstream CAP semantics are per-alert, so intra-
  * partition order carries no meaning (the order-preserving link dedup
  * already happened at planning). Error semantics match the serial
  * reader: log-and-skip per URL, or first failure propagates under
  * failFast.
  *
  * Submission is throttled: at most `fetchConcurrency` URLs are ever
  * in the pool at once, and the next URL is submitted only when a
  * completed fetch is CONSUMED — so completed XML payloads never
  * accumulate unbounded in the completion queue when the consumer
  * drains slower than the pool fetches. Retained memory is bounded by
  * fetchConcurrency payloads, independent of the partition's URL count.
  */
private class ConcurrentCapFeedReader(p: CapFeedPartition)
    extends PartitionReader[InternalRow] {
  import java.util.concurrent.{Callable, ExecutorCompletionService, Executors, TimeUnit}

  // Either[(url, failure), (url, xml)] — the URL travels with the
  // failure so the skip log can name it (a bare ExecutionException
  // loses it once the Callable throws).
  private type Fetched = Either[(String, Throwable), (String, String)]

  private val pool = Executors.newFixedThreadPool(
    math.min(p.conf.fetchConcurrency, math.max(1, p.urls.size)),
    r => { val t = new Thread(r, "capfeed-fetch"); t.setDaemon(true); t })
  private val completion = new ExecutorCompletionService[Fetched](pool)
  private val pending = p.urls.iterator
  private var inFlight = 0

  private def submitNext(): Unit = if (pending.hasNext) {
    val url = pending.next()
    completion.submit(new Callable[Fetched] {
      override def call(): Fetched =
        try Right(url -> Http.fetchWithRetry(url, p.conf.headers, p.conf.timeoutMs, p.conf.retries))
        catch { case scala.util.control.NonFatal(e) => Left(url -> e) }
    })
    inFlight += 1
  }
  // prime the pool: at most fetchConcurrency ahead of consumption
  (1 to math.min(p.conf.fetchConcurrency, p.urls.size)).foreach(_ => submitNext())

  private var current: InternalRow = _

  override def next(): Boolean = {
    while (inFlight > 0) {
      val f = completion.take(); inFlight -= 1
      submitNext() // one consumed → one submitted: bounded retention
      try {
        f.get() match {
          case Right((url, xml)) =>
            current = new GenericInternalRow(Array[Any](
              UTF8String.fromString(url), UTF8String.fromString(xml)))
            return true
          case Left((url, e)) if !p.conf.failFast =>
            System.err.println(s"[capfeed] skipping $url: ${e.getMessage}")
          case Left((_, e)) =>
            close()
            throw e
        }
      } catch {
        case e: java.util.concurrent.ExecutionException =>
          // only fatal (non-NonFatal) Callable errors reach here
          close()
          throw e.getCause
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = {
    pool.shutdownNow()
    pool.awaitTermination(5, TimeUnit.SECONDS)
  }
}

/** Streaming offset = the set of alert URLs already emitted, JSON-
  * serialized so a restart from checkpoint resumes exactly where the
  * last run stopped. CAP feeds are small (tens of entries), so the
  * offset stays cheap; a high-churn feed would swap the URL set for a
  * (bounded) rolling window + dedup downstream.
  */
private case class CapFeedOffset(seen: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    seen.sorted.map(u => "\"" + u.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
}

private object CapFeedOffset {
  def fromJson(json: String): CapFeedOffset = {
    // offsets only ever contain strings we serialized above
    val items = "\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(json)
      .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
      .toSeq
    CapFeedOffset(items)
  }
}

/** `spark.readStream.format("capfeed")` — the reference's scheduled
  * whole-feed re-fetch (task.ts:66) as a real incremental source: each
  * micro-batch polls the feed once, and only links not covered by the
  * previous offset become input partitions. With Trigger.AvailableNow
  * this is exactly one poll; with a processing-time trigger it is the
  * Lambda schedule without the redundant re-emission of old alerts.
  */
private class CapFeedMicroBatchStream(options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {

  private val c = EtlConfig.fromOptions(options, "capfeed")
  private val feedUrl = c.url
  private val numPartitions = options.getInt("numPartitions", 4)

  // Monotone accumulator of every URL known to any offset this stream
  // has touched. Folding deserialized (checkpointed) offsets in is what
  // keeps offsets GROWING across restarts and transiently-truncated
  // feed reads — a URL that leaves the feed and later reappears must
  // not be re-emitted as new.
  @volatile private var known: Set[String] = Set.empty

  private def absorb(o: CapFeedOffset): CapFeedOffset = {
    known = known ++ o.seen
    o
  }

  override def initialOffset():
      org.apache.spark.sql.connector.read.streaming.Offset = CapFeedOffset(Seq.empty)

  override def latestOffset():
      org.apache.spark.sql.connector.read.streaming.Offset = {
    val feed = Http.fetchWithRetry(feedUrl, c.headers, c.timeoutMs, c.retries)
    absorb(CapFeedOffset((known ++ FeedLinks.extract(feed)).toSeq))
  }

  override def planInputPartitions(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      end: org.apache.spark.sql.connector.read.streaming.Offset): Array[InputPartition] = {
    val seen = absorb(start.asInstanceOf[CapFeedOffset]).seen.toSet
    val fresh = end.asInstanceOf[CapFeedOffset].seen.filterNot(seen).sorted
    CapFeedDataSource.slice(fresh, numPartitions, c)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CapFeedReaderFactory

  override def deserializeOffset(json: String):
      org.apache.spark.sql.connector.read.streaming.Offset =
    absorb(CapFeedOffset.fromJson(json))

  override def commit(end: org.apache.spark.sql.connector.read.streaming.Offset): Unit =
    absorb(end.asInstanceOf[CapFeedOffset])

  override def stop(): Unit = ()
}
