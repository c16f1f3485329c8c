package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** A document arriving on the ingest stream. */
final case class Doc(doc_id: Long, text: String)

/** Streaming incremental near-duplicate detection: every micro-batch of
  * incoming documents is probed one-sidedly against a STATIC base-corpus
  * LSH index ([[graft.operators.Dedup.incrementalMatches]], the q72
  * operator) inside `foreachBatch` — the production ingest topology, where
  * the corpus index is rebuilt offline (daily) and the stream only pays
  * for its own batch.
  *
  * Why `foreachBatch` and not a stream-static join: the probe is a
  * multi-step DAG (signature → band join → Jaccard verify → per-doc best
  * match with a window), and windows over a streaming Dataset in append
  * mode are unsupported — inside `foreachBatch` the batch is a plain
  * DataFrame, so the WHOLE batch operator library applies unchanged. This
  * is exactly the reference's posture (SURVEY §2.9: all analytics inside
  * `foreachBatch`), applied to the dedup extension tier.
  *
  * State story at scale: NO streaming state at all — the index is static
  * per run, each batch is independent, and exactly-once lands on the sink's
  * idempotence per epoch (the same contract as
  * [[graft.sources.AuditSink]]). Restarts re-run at most the uncommitted
  * batch.
  */
object StreamingDedup {

  /** Starts the probe query. `publish` receives (matches, epochId) per
    * micro-batch — matches carry (doc_id, matched_id, jaccard), one row
    * per matched new document. */
  def start(newDocs: DataFrame, baseDocs: DataFrame, checkpoint: String)(
      publish: (DataFrame, Long) => Unit): StreamingQuery =
    newDocs.writeStream
      .foreachBatch { (batch: Dataset[Row], epochId: Long) =>
        publish(Dedup.incrementalMatches(batch.toDF(), baseDocs), epochId)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Incremental-index variant (round-7 verdict item 5): each micro-batch
    * probes the PERSISTED band/shingle index built from the base corpus
    * plus every PRIOR batch, then appends its own bands and shingles — so
    * a new document also matches documents that arrived on the stream
    * after the offline index build, not only the daily base.
    *
    * Index layout under `indexDir`: `bands/epoch=N/` and
    * `shingles/epoch=N/` parquet, written by [[EpochState.start]] (the
    * base corpus is seeded once as `epoch=-1`, [[EpochState.seedOnce]]).
    * At 100 TB this is the production shape — the index is a partitioned
    * table appended per ingest window, compacted offline; the
    * capped-bucket window is applied at probe time
    * ([[Dedup.incrementalMatchesPre]]), which makes the appended index
    * equal a from-scratch rebuild row for row (StreamingDedupSpec proves
    * it after N batches).
    *
    * `publish` must MATERIALIZE its matches (write/collect) before
    * returning — it runs before the batch's own bands are appended, which
    * keeps the probe one-sided (a batch never matches itself; in-batch
    * duplicates are the batch dedup operators' job). */
  def startIncremental(newDocs: DataFrame, baseDocs: DataFrame,
      indexDir: String, checkpoint: String)(
      publish: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = baseDocs.sparkSession
    val bandsRoot = s"$indexDir/bands"
    val shRoot = s"$indexDir/shingles"
    def tables(docs: DataFrame) = Seq(
      bandsRoot -> Dedup.minhashBandsOf(docs),
      shRoot -> Dedup.shingleSetsOf(docs))
    EpochState.seedOnce(spark, indexDir)(tables(baseDocs))
    EpochState.start(newDocs, indexDir, shRoot, checkpoint) { (batch, e) =>
      val b = e.pin(batch) // probe + two index appends all scan the batch
      // every epoch but this one (the base `epoch=-1` included): a
      // replayed batch must not match its own rows
      def prior(root: String) =
        Compaction.priorEpochs(spark, root, e.id).get.drop("epoch")
      publish(Dedup.incrementalMatchesPre(b, prior(bandsRoot),
        prior(shRoot)), e.id)
      tables(b)
    }
  }

  /** Offline index maintenance: fold every per-epoch partition of the
    * incremental index into ONE compacted generation — the compaction a
    * production table needs once thousands of micro-batch partitions
    * accumulate (small-files problem). The fold is `distinct` on the
    * crash-safe [[Compaction]] protocol, whose generation is numbered
    * below every existing epoch, so replayed epochs never collide with
    * it. Run this while the stream is stopped (same contract as any
    * table compaction). */
  def compactIndex(spark: SparkSession, indexDir: String): Unit =
    Seq("bands", "shingles").foreach(t =>
      Compaction.compactTable(spark, s"$indexDir/$t", _.distinct()))
}
