package graft.sources

import java.util
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector (the source-extension tier, §2.1 beyond the
  * built-ins): a deterministic synthetic `documents`-shaped table generated
  * on the executors — the pattern for any custom source (a proprietary
  * format, a service API, a synthetic load generator) done Spark-natively:
  *
  *  - **column pruning** (`SupportsPushDownRequiredColumns`): the reader
  *    materializes ONLY requested fields — `select(lang)` never builds a
  *    text string;
  *  - **filter pushdown** (`SupportsPushDownFilters`): `doc_id` range
  *    predicates prune entire input partitions at PLANNING time (the
  *    in-memory analogue of parquet row-group/partition pruning); pushed
  *    filters are also returned as post-scan filters so Spark re-applies
  *    them row-level — pruning is an optimization, never a correctness
  *    dependency;
  *  - **partitioned parallel read**: `rows` split over `partitions`
  *    independent generators, no driver materialization at any size.
  *
  * Usage: `spark.read.format("graft.sources.SyntheticDocs")
  * .option("rows", 10000).option("partitions", 8).load()`.
  */
class SyntheticDocs extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SyntheticDocs.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new DocsTable(
      properties.getOrDefault("rows", "1000").toLong,
      properties.getOrDefault("partitions", "4").toInt)
}

object SyntheticDocs {
  val schema: StructType = new StructType()
    .add("doc_id", LongType, nullable = false)
    .add("lang", StringType, nullable = false)
    .add("n_chars", IntegerType, nullable = false)
    .add("text", StringType, nullable = false)

  private val langs = Array("en", "de", "fr", "es")

  /** Pure function of doc_id — same row on every executor, every retry. */
  def row(id: Long, fields: Array[String]): InternalRow = {
    lazy val text = {
      val sb = new java.lang.StringBuilder
      var w = 0
      val n = 5 + (id % 11).toInt
      while (w < n) {
        if (w > 0) sb.append(' ')
        sb.append("w").append((id + w * 7) % 97)
        w += 1
      }
      sb.toString
    }
    InternalRow.fromSeq(fields.toSeq.map {
      case "doc_id" => id
      case "lang" => UTF8String.fromString(langs((id % langs.length).toInt))
      case "n_chars" => text.length
      case "text" => UTF8String.fromString(text)
    })
  }
}

private[sources] class DocsTable(rows: Long, partitions: Int)
    extends Table with SupportsRead {
  override def name(): String = s"synthetic_docs($rows)"
  override def schema(): StructType = SyntheticDocs.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DocsScanBuilder(rows, partitions)
}

private[sources] class DocsScanBuilder(rows: Long, partitions: Int)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private var required: StructType = SyntheticDocs.schema
  private var lo: Long = 0L
  private var hi: Long = rows // exclusive
  private var pushed: Array[Filter] = Array.empty
  private var agg: Option[Array[String]] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Aggregate pushdown (`SupportsPushDownAggregates`): ungrouped
    * COUNT(*) / MIN(doc_id) / MAX(doc_id) are answered from partition
    * METADATA — each reader emits one row of partials derived from its id
    * range, no row generation at all (the in-source analogue of parquet
    * footer statistics). Partial, not complete, pushdown
    * (`supportCompletePushDown` stays false): Spark still runs the final
    * merge (SUM of counts, MIN of mins, MAX of maxes), which keeps the
    * contract trivially correct under any partitioning. Catalyst only
    * plans this when no post-scan Filter remains between the Aggregate and
    * the relation, and this source re-applies every filter post-scan — so
    * a filtered count never silently skips the row-level predicate. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    def isDocId(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case f: NamedReference => f.fieldNames.sameElements(Array("doc_id"))
        case _ => false
      }
    if (aggregation.groupByExpressions.nonEmpty) false
    else {
      val toks = aggregation.aggregateExpressions.flatMap {
        case _: CountStar => Some("count")
        case m: Min if isDocId(m.column) => Some("min")
        case m: Max if isDocId(m.column) => Some("max")
        case _ => None
      }
      if (toks.length != aggregation.aggregateExpressions.length) false
      else { agg = Some(toks); true }
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val accepted = ArrayBuffer.empty[Filter]
    filters.foreach {
      case f @ GreaterThan("doc_id", v: Long) =>
        lo = math.max(lo, v + 1); accepted += f
      case f @ GreaterThanOrEqual("doc_id", v: Long) =>
        lo = math.max(lo, v); accepted += f
      case f @ LessThan("doc_id", v: Long) =>
        hi = math.min(hi, v); accepted += f
      case f @ LessThanOrEqual("doc_id", v: Long) =>
        hi = math.min(hi, v + 1); accepted += f
      case f @ EqualTo("doc_id", v: Long) =>
        lo = math.max(lo, v); hi = math.min(hi, v + 1); accepted += f
      case _ => ()
    }
    pushed = accepted.toArray
    // return EVERYTHING as post-scan filters: pruning is best-effort, Spark
    // re-applies the predicates row-level
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new DocsScan(rows, partitions, required, lo, hi, agg)
}

private[sources] class DocsScan(rows: Long, partitions: Int,
    required: StructType, lo: Long, hi: Long,
    agg: Option[Array[String]] = None) extends Scan with Batch {

  override def readSchema(): StructType = agg match {
    case Some(toks) =>
      StructType(toks.zipWithIndex.map { case (t, i) =>
        org.apache.spark.sql.types.StructField(s"${t}_$i", LongType,
          nullable = false)
      })
    case None => required
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"SyntheticDocs rows=$rows bounds=[$lo,$hi) cols=${required.fieldNames.mkString(",")}" +
      agg.map(t => s" pushedAggregates=[${t.mkString(",")}]").getOrElse("")

  override def planInputPartitions(): Array[InputPartition] = {
    val per = math.max(1L, (rows + partitions - 1) / partitions)
    (0L until rows by per).map { start =>
      (start, math.min(start + per, rows))
    }.collect {
      // planning-time pruning: drop ranges fully outside the pushed bounds
      case (s, e) if e > lo && s < hi =>
        DocsPartition(math.max(s, lo), math.min(e, hi))
          .asInstanceOf[InputPartition]
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = agg match {
    case Some(toks) => new DocsAggReaderFactory(toks)
    case None => new DocsReaderFactory(required.fieldNames)
  }

  /** Micro-batch streaming read: the offset is simply the next unread
    * doc_id, advancing by `rows` per trigger up to... the source is
    * unbounded in streaming mode — ids keep growing — so `rows` doubles as
    * the per-trigger rate limit (the `maxOffsetsPerTrigger` role). Offsets
    * are committed through the checkpoint: a restarted query resumes at
    * the committed id with no duplicates and no gaps (the test proves
    * it). */
  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = new DocsMicroBatchStream(rows, partitions, required)
}

private[sources] case class DocsOffset(next: Long) extends Offset {
  override def json(): String = next.toString
}

private[sources] class DocsMicroBatchStream(ratePerBatch: Long,
    partitions: Int, required: StructType)
    extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): Offset = DocsOffset(0L)

  /** NEVER use the zero-argument form for an unbounded source: a fresh
    * instance after restart has no idea where the checkpoint stands, and
    * the engine trusts whatever it returns — a stale answer moves the end
    * offset BACKWARDS and the next batch re-reads committed ranges under
    * new epoch ids (observed as duplicated ids before this was ported to
    * SupportsAdmissionControl). With admission control the engine hands us
    * the start offset, so advancement is monotone by construction — the
    * same API Kafka's maxOffsetsPerTrigger rides on. */
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the only supported form")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    DocsOffset(start.asInstanceOf[DocsOffset].next + ratePerBatch)

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(ratePerBatch)

  override def deserializeOffset(json: String): Offset =
    DocsOffset(json.toLong)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[DocsOffset].next
    val e = end.asInstanceOf[DocsOffset].next
    if (e <= s) Array.empty
    else {
      val per = math.max(1L, (e - s + partitions - 1) / partitions)
      (s until e by per).map(lo =>
        DocsPartition(lo, math.min(lo + per, e))
          .asInstanceOf[InputPartition]).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DocsReaderFactory(required.fieldNames)

  override def commit(end: Offset): Unit = () // checkpoint holds the state

  override def stop(): Unit = ()
}

private[sources] case class DocsPartition(start: Long, end: Long)
    extends InputPartition

/** One metadata-derived partial-aggregate row per partition: the id range
  * [start, end) IS the statistics — count = end-start, min = start,
  * max = end-1. No document is ever materialized. */
private[sources] class DocsAggReaderFactory(toks: Array[String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val dp = p.asInstanceOf[DocsPartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = !emitted && { emitted = true; true }
      override def get(): InternalRow = InternalRow.fromSeq(toks.toSeq.map {
        case "count" => dp.end - dp.start
        case "min" => dp.start
        case "max" => dp.end - 1
      })
      override def close(): Unit = ()
    }
  }
}

private[sources] class DocsReaderFactory(fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val dp = p.asInstanceOf[DocsPartition]
    new PartitionReader[InternalRow] {
      private var id = dp.start - 1
      override def next(): Boolean = { id += 1; id < dp.end }
      override def get(): InternalRow = SyntheticDocs.row(id, fields)
      override def close(): Unit = ()
    }
  }
}
