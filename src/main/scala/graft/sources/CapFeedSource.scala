package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `capfeed`, the DSv2 batch and micro-batch source for a CAP feed
  * (S1-S3). Planning (driver): fetch the RSS/Atom feed once, extract
  * alert links (P1-P3). Execution (executors): each partition fetches
  * its slice of alert URLs with reference-parity retry/backoff, up to
  * [[CapFeedDataSource.FetchWindow]] (8) at a time, and yields
  * `(url, xml)` rows. The reference fetches the N alerts serially
  * (task.ts:626) — here wall-clock ≈ ceil(N / (partitions × 8)) ×
  * fetch, the engine's headline scalability win for the ETL path.
  *
  * Options are [[EtlConfig]]'s and nothing else: `url` (required),
  * `headers` ("K=V;K=V"), `timeout` (ms, default 30000), `retries`
  * (default 2) — defaults mirror the reference env schema
  * (task.ts:15-22). A failed alert fetch is logged and skipped like the
  * reference's per-alert try/catch; that is the one failure path.
  *
  * Two rules fix the source's shape, for the batch scan and for every
  * micro-batch alike:
  *  - width: the links of a read spread over
  *    min([[CapFeedDataSource.MaxPartitions]], ceil(links / 8))
  *    partitions ([[CapFeedDataSource.slice]]), so a read sends at most
  *    4 × 8 = 32 alert GETs to the feed host at once, and a micro-batch
  *    of up to 8 new links is one task and one sink POST, like the
  *    reference's one `submit(fc)` per run (task.ts:882);
  *  - offset: a stream's offset is the link set of the poll it came
  *    from ([[CapFeedOffset]]), and a micro-batch emits the links of its
  *    end offset that its start offset lacks. A link that leaves the
  *    feed and comes back is emitted again, as the reference re-submits
  *    it on every run; CloudTAK upserts by feature id.
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
  /** Alert fetches in flight per partition, and the links per
    * partition [[slice]] plans for: a micro-batch of up to 8 new links
    * is one task that fetches them in one round trip. */
  val FetchWindow: Int = 8

  val schema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("xml", StringType, nullable = false)))

  /** Most partitions one read plans: 4 × [[FetchWindow]] = 32 alert
    * GETs in flight at once. */
  val MaxPartitions: Int = 4

  /** Round-robin link slices → input partitions, one per [[FetchWindow]]
    * links and at most [[MaxPartitions]] (shared by the batch scan and
    * the micro-batch stream). */
  def slice(links: Seq[String], c: EtlConfig): Array[InputPartition] = {
    val n = math.min(MaxPartitions, (links.size + FetchWindow - 1) / FetchWindow)
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

  private lazy val c = EtlConfig.fromOptions(options, "capfeed")

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CapFeedMicroBatchStream(c)

  // planInputPartitions may be invoked more than once per query (e.g.
  // partition-count probes); the feed must be fetched exactly once.
  private lazy val partitions: Array[InputPartition] = {
    // driver-side: one feed fetch + link extraction (mirrors control()'s
    // prologue, task.ts:606-612)
    val feed = Http.fetchWithRetry(c.url, c.headers, c.timeoutMs, c.retries)
    CapFeedDataSource.slice(FeedLinks.extract(feed), c)
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    new CapFeedReaderFactory
}

private case class CapFeedPartition(urls: Seq[String], conf: EtlConfig)
    extends InputPartition

private class CapFeedReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CapFeedReader(partition.asInstanceOf[CapFeedPartition])
}

/** The one `capfeed` partition reader, batch and micro-batch: up to
  * [[CapFeedDataSource.FetchWindow]] alert fetches of THIS partition's
  * slice run simultaneously on a private pool — I/O-bound latency
  * hiding on top of the partition-level parallelism, where the
  * reference is strictly serial (task.ts:626). Rows surface in
  * fetch-COMPLETION order; downstream CAP semantics are per-alert, so
  * intra-partition order carries no meaning (the order-preserving link
  * dedup already happened at planning).
  *
  * Reference parity: each alert fetch sits inside the per-alert
  * try/catch (task.ts:626-878) — a dead link is logged and skipped
  * after retries, it does not fail the run. Interrupts and fatal
  * errors propagate.
  *
  * Submission is throttled: at most `FetchWindow` URLs are ever
  * in the pool at once, and the next URL is submitted only when a
  * completed fetch is CONSUMED — so completed XML payloads never
  * accumulate unbounded in the completion queue when the consumer
  * drains slower than the pool fetches. Retained memory is bounded by
  * `FetchWindow` payloads, independent of the partition's URL count.
  */
private class CapFeedReader(p: CapFeedPartition)
    extends PartitionReader[InternalRow] {
  import java.util.concurrent.{Callable, ExecutorCompletionService, Executors, TimeUnit}

  // Either[(url, failure), (url, xml)] — the URL travels with the
  // failure so the skip log can name it (a bare ExecutionException
  // loses it once the Callable throws).
  private type Fetched = Either[(String, Throwable), (String, String)]

  private val pool = Executors.newFixedThreadPool(
    math.min(CapFeedDataSource.FetchWindow, math.max(1, p.urls.size)),
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
  // prime the pool: at most FetchWindow ahead of consumption
  (1 to math.min(CapFeedDataSource.FetchWindow, p.urls.size)).foreach(_ => submitNext())

  private var current: InternalRow = _

  override def next(): Boolean = {
    while (inFlight > 0) {
      val fetched = try completion.take().get() catch {
        // only fatal (non-NonFatal) Callable errors reach here
        case e: java.util.concurrent.ExecutionException =>
          close()
          throw e.getCause
      }
      inFlight -= 1
      submitNext() // one consumed → one submitted: bounded retention
      fetched match {
        case Right((url, xml)) =>
          current = new GenericInternalRow(Array[Any](
            UTF8String.fromString(url), UTF8String.fromString(xml)))
          return true
        case Left((url, e)) =>
          System.err.println(s"[capfeed] skipping $url: ${e.getMessage}")
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

/** Streaming offset = the alert links of one feed poll, as a sorted
  * JSON array of strings. It is bounded by the feed: it holds the
  * links of the poll it came from and no earlier ones, so a restart
  * from checkpoint, like the next trigger, emits the links the feed
  * gained since that poll. Jackson writes it, so every control
  * character in a link is escaped and the offset stays on the one line
  * Spark's offset log gives it.
  */
private case class CapFeedOffset(links: Seq[String]) extends Offset {
  override def json(): String = CapFeedOffset.mapper.writeValueAsString(links.sorted.toArray)
}

private object CapFeedOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def fromJson(json: String): CapFeedOffset =
    CapFeedOffset(mapper.readValue(json, classOf[Array[String]]).toSeq)
}

/** `capfeed` as a stream source: the reference's scheduled
  * whole-feed re-fetch (task.ts:66) as an incremental source that keeps
  * no state of its own. Each trigger polls the feed once; the poll's
  * links are the offset, and a micro-batch plans the links of its end
  * offset that its start offset lacks. A link that leaves the feed and
  * comes back is emitted again, as the reference re-submits it; the
  * upserting sink makes that harmless. With Trigger.AvailableNow this
  * is exactly one poll.
  */
private class CapFeedMicroBatchStream(c: EtlConfig) extends MicroBatchStream {

  override def initialOffset(): Offset = CapFeedOffset(Seq.empty)

  override def latestOffset(): Offset =
    try CapFeedOffset(FeedLinks.extract(Http.fetchWithRetry(c.url, c.headers, c.timeoutMs, c.retries)))
    catch {
      // like a failed scheduled run of the reference (task.ts:66): no
      // new batch this trigger, the next trigger polls again. Null is
      // Spark's "no new offset", which keeps the committed one.
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[capfeed] feed poll failed, no new batch: ${c.url}: ${e.getMessage}")
        null
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val before = start.asInstanceOf[CapFeedOffset].links.toSet
    CapFeedDataSource.slice(end.asInstanceOf[CapFeedOffset].links.filterNot(before).sorted, c)
  }

  override def createReaderFactory(): PartitionReaderFactory = new CapFeedReaderFactory

  override def deserializeOffset(json: String): Offset = CapFeedOffset.fromJson(json)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
