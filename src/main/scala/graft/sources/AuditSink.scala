package graft.sources

import java.util
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 SINK (the write half of the connector tier;
  * [[SyntheticDocs]] is the read half): an in-memory audit table
  * implementing the two-phase commit protocol both for batch and
  * Structured Streaming epochs.
  *
  * The protocol is the point — it is how every exactly-once Spark sink
  * works, and what [[graft.covid.BatchSink.idempotentParquet]] emulates
  * with directory overwrites:
  *
  *  1. each task's [[DataWriter]] STAGES its rows and returns them inside
  *     its [[WriterCommitMessage]] — nothing is visible yet; a failed or
  *     speculative task's staged rows are simply dropped (`abort`);
  *  2. the DRIVER publishes atomically in `commit(messages)` (batch) or
  *     `commit(epochId, messages)` (streaming) — a replayed epoch
  *     overwrites its slot instead of appending, making retries
  *     idempotent.
  *
  * In-memory because the env has no external store; a real sink swaps the
  * publish step for a transactional target. Values are extracted to plain
  * JVM objects at the writer (no InternalRow crosses the task boundary).
  */
class AuditSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType() // write-only: schema comes from the query

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AuditTable(properties.getOrDefault("name", "default"), schema,
      Option(properties.get("clusterBy")),
      Option(properties.get("sortBy")))
}

/** Driver-side published state: (table, epoch) → rows. Batch writes use
  * epoch -1. */
object AuditSinkStore {
  private val store =
    mutable.Map.empty[(String, Long), Seq[Seq[Any]]]

  def publish(table: String, epoch: Long, rows: Seq[Seq[Any]]): Unit =
    synchronized { store((table, epoch)) = rows }

  def rows(table: String): Seq[Seq[Any]] = synchronized {
    store.toSeq.filter(_._1._1 == table).sortBy(_._1._2).flatMap(_._2)
  }

  def epochs(table: String): Seq[Long] = synchronized {
    store.keys.toSeq.filter(_._1 == table).map(_._2).sorted
  }

  def byEpoch(table: String): Seq[(Long, Seq[Seq[Any]])] = synchronized {
    store.toSeq.filter(_._1._1 == table).map { case ((_, e), r) => (e, r) }
      .sortBy(_._1)
  }

  def clear(table: String): Unit = synchronized {
    store.keys.filter(_._1 == table).toSeq.foreach(store.remove)
  }
}

private[sources] class AuditTable(name: String, schema: StructType,
    clusterBy: Option[String], sortBy: Option[String])
    extends Table with SupportsWrite {
  override def name(): String = s"audit_sink($name)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new AuditWrite(name, info.schema(), clusterBy, sortBy)
    }
}

/** Staged rows travel inside the commit message — plain values only. */
private[sources] case class StagedRows(rows: Seq[Seq[Any]])
    extends WriterCommitMessage

/** The write, optionally demanding a data layout from the PLANNER
  * (`RequiresDistributionAndOrdering`): with `option("clusterBy", "k")`
  * Spark inserts a hash exchange on k before the writers run, and with
  * `option("sortBy", "k")` a per-partition sort — the sink-driven
  * distribution contract real table formats use (one output file per
  * cluster key, sorted runs for index building) instead of trusting every
  * caller to repartition correctly. Distribution is advisory here
  * (`distributionStrictlyRequired` default) and unspecified when no option
  * is set, so existing writes plan exactly as before. */
private[sources] class AuditWrite(table: String, schema: StructType,
    clusterBy: Option[String] = None, sortBy: Option[String] = None)
    extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

  /** Parse + validate a comma-list option against the write schema NOW
    * (write-build time) — an empty entry or unknown column would otherwise
    * surface as an opaque planner error (or a silent no-op distribution)
    * deep inside query planning instead of naming the bad option. */
  private def parseCols(option: String, cols: String): Array[String] = {
    val names = cols.split(",", -1).map(_.trim)
    names.foreach { c =>
      if (c.isEmpty)
        throw new IllegalArgumentException(
          s"audit sink option '$option': empty column name in '$cols'")
      if (!schema.fieldNames.contains(c))
        throw new IllegalArgumentException(
          s"audit sink option '$option': column '$c' not in write schema " +
            schema.fieldNames.mkString("[", ", ", "]"))
    }
    names
  }

  override def requiredDistribution(): Distribution =
    clusterBy match {
      case Some(cols) => Distributions.clustered(
        parseCols("clusterBy", cols).map(c =>
          Expressions.column(c): org.apache.spark.sql.connector.expressions.Expression))
      case None => Distributions.unspecified()
    }

  override def requiredOrdering(): Array[SortOrder] =
    sortBy.toArray.flatMap(cols => parseCols("sortBy", cols).map(c =>
      Expressions.sort(Expressions.column(c),
        SortDirection.ASCENDING)))

  private def gather(messages: Array[WriterCommitMessage]): Seq[Seq[Any]] =
    messages.toSeq.collect { case StagedRows(rows) => rows }.flatten

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo)
        : DataWriterFactory = new AuditWriterFactory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      AuditSinkStore.publish(table, -1L, gather(messages))
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(info: PhysicalWriteInfo)
        : StreamingDataWriterFactory = new AuditWriterFactory(schema)
    // idempotent by construction: a replayed epoch overwrites its slot
    override def commit(epochId: Long,
        messages: Array[WriterCommitMessage]): Unit =
      AuditSinkStore.publish(table, epochId, gather(messages))
    override def abort(epochId: Long,
        messages: Array[WriterCommitMessage]): Unit = ()
  }
}

private[sources] class AuditWriterFactory(schema: StructType)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = writer()

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = writer()

  private def writer(): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val staged = mutable.ArrayBuffer.empty[Seq[Any]]
      override def write(row: InternalRow): Unit =
        staged += schema.fields.zipWithIndex.map { case (f, i) =>
          val v = row.get(i, f.dataType)
          v match {
            case s: org.apache.spark.unsafe.types.UTF8String => s.toString
            case other => other
          }
        }.toSeq
      override def commit(): WriterCommitMessage = StagedRows(staged.toSeq)
      override def abort(): Unit = staged.clear() // staged rows vanish
      override def close(): Unit = ()
    }
}
