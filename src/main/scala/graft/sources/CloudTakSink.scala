package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.cap.Features

/** `cloudtak`, the DSv2 batch sink (S4). Input: one
  * STRING column of GeoJSON Feature documents (`CotFeature.json`). Each
  * partition copies its features' UTF-8 bytes into one envelope buffer
  * as they arrive and POSTs that ONE FeatureCollection on task commit,
  * with reference-parity retry/backoff — the
  * distributed analog of the reference's single `submit(fc)`
  * (task.ts:615-623, 882): the same envelope bytes as
  * [[graft.cap.Features.featureCollectionJson]], one request per
  * partition instead of per run, identity/upsert by feature id making
  * the partitioned submission idempotent downstream.
  *
  * Options: `url` (required), `headers`, `timeout`, `retries` — same
  * semantics as [[CapFeedDataSource]].
  */
class CloudTakDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cloudtak"

  // write-only: schema comes from the DataFrame being written —
  // supportsExternalMetadata makes Spark hand it to getTable.
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CloudTakTable(schema, new CaseInsensitiveStringMap(properties))
}

private class CloudTakTable(writeSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsWrite {
  override def name(): String = s"cloudtak(${options.get("url")})"
  override def schema(): StructType = writeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(info.schema().fields.length == 1 &&
      info.schema().fields(0).dataType.typeName == "string",
      s"cloudtak sink expects exactly one STRING column of Feature JSON, got ${info.schema()}")
    val c = EtlConfig.fromOptions(info.options(), "cloudtak")
    // SupportsTruncate backs the advertised TRUNCATE capability:
    // truncate is a no-op because CloudTAK upserts by feature id, so
    // overwrite == append semantically. Without this, overwrite mode
    // would pass analysis and then fail at execution.
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new CloudTakBatchWrite(c)
      }
    }
  }
}

private class CloudTakBatchWrite(conf: EtlConfig)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new CloudTakWriterFactory(conf)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private class CloudTakWriterFactory(conf: EtlConfig)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CloudTakWriter(conf)
}

private case class CloudTakCommit(nFeatures: Int) extends WriterCommitMessage

private class CloudTakWriter(conf: EtlConfig)
    extends DataWriter[InternalRow] {
  import CloudTakWriter._

  // the envelope's bytes, each record's UTF-8 bytes copied in as it
  // arrives; the envelope is only materialized at the sink, and empty
  // partitions submit nothing
  private val body = new ByteArrayOutputStream(1 << 16)
  private var features = 0

  override def write(record: InternalRow): Unit = {
    body.write(if (features == 0) Open else Comma)
    record.getUTF8String(0).writeTo(body)
    features += 1
  }

  override def commit(): WriterCommitMessage = {
    if (features > 0) {
      body.write(Close)
      Http.fetchWithRetry(conf.url, conf.headers ++ Map("Content-Type" -> "application/json"),
        conf.timeoutMs, conf.retries, method = "POST", body = Some(body.toByteArray))
    }
    CloudTakCommit(features)
  }

  override def abort(): Unit = { body.reset(); features = 0 }
  override def close(): Unit = ()
}

private object CloudTakWriter {
  private val Open = Features.EnvelopeOpen.getBytes(StandardCharsets.UTF_8)
  private val Comma = Array[Byte](',')
  private val Close = Features.EnvelopeClose.getBytes(StandardCharsets.UTF_8)
}
