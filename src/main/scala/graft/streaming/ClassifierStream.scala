package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming quality-classifier scorer — the ingest-path twin of the
  * model-based quality stage ([[graft.operators.Classify]], q128/q157/
  * q158): the hashed-bag-of-words model is trained ONCE at stream start
  * from the labeled training slice (the FineWeb-Edu posture — the
  * quality classifier is an offline artifact, frozen while the crawl
  * streams past it), every arriving micro-batch is labeled, split, and
  * scored statelessly against the frozen score table, and the
  * per-document results accumulate in an epoch-partitioned table behind
  * the id gate. The calibration bins and threshold sweep derive AT READ
  * TIME from the accumulated table through the SAME rollups the batch
  * queries use ([[graft.operators.Classify.calBins]] / `sweepOf`), so
  * they always equal the batch q157/q158 over everything ingested so
  * far (ClassifierStreamSpec proves both, through overlapping batches,
  * fresh-lineage redelivery, and compaction).
  *
  * Why this streams exactly: labeling is a pure function of (doc_id,
  * text) and scoring is per-document pure given the frozen model (same
  * doc, same score_pt, any epoch, any delivery), so at-least-once
  * replay can only produce value-identical rows, and the id gate keeps
  * even those out; bins and sweep are functions of the accumulated row
  * multiset, which the epoch-partitioned table preserves.
  *
  * Shape at scale: the model is ≤ 256 longs riding the per-batch plan
  * as an array literal — scoring is a narrow per-row fold, no join, no
  * shuffle; the state table is one narrow row per document and the
  * read-time rollups collapse to ≤ splits × bins (or × thresholds) rows
  * behind map-side partial aggregation. Nothing is O(corpus) except the
  * id gate (O(ids)) and the score table itself; text is never re-read
  * after its ingest batch. (Reference scope: covid_streaming.py has no
  * model surface; this is the LLM-pipeline extension tier.) */
object ClassifierStream {
  import graft.operators.Classify.{labeledDocs, trainModel, scoredDocs,
    calBins, sweepOf}

  /** Starts the scorer over a stream of document rows (doc_id, text),
    * with the model trained from `trainDocs` (a batch table of raw
    * document rows — its q53 'train' split is the training slice, so
    * the frozen model equals the batch queries' model when `trainDocs`
    * is the same corpus). `publish` receives (epoch, n_new_docs) after
    * commit. */
  def start(docs: DataFrame, trainDocs: DataFrame, stateDir: String,
      checkpoint: String)(
      publish: (Long, Long) => Unit = (_, _) => ()): StreamingQuery = {
    // train once; the frozen ≤256-long score table is the whole model
    val model = trainModel(
      labeledDocs(trainDocs).filter(col("split") === "train"))
    EpochState.startGated(docs, stateDir, checkpoint, publish)(
      fresh => Seq("scores" -> scoredDocs(labeledDocs(fresh), model)))
  }

  /** The accumulated per-document score table (doc_id, split,
    * label_good, score_pt) — row-identical to the batch
    * [[graft.operators.Classify.scoredDocs]] over everything ingested. */
  def scores(spark: SparkSession, stateDir: String): DataFrame =
    Compaction.readTable(spark, s"$stateDir/scores")
      .select(col("doc_id"), col("split"), col("label_good"),
        col("score_pt"))

  /** Current reliability bins over everything ingested — the batch q157
    * view of the streamed corpus. */
  def calibration(spark: SparkSession, stateDir: String): DataFrame =
    calBins(scores(spark, stateDir))

  /** Current threshold operating points over everything ingested — the
    * batch q158 view of the streamed corpus. */
  def sweep(spark: SparkSession, stateDir: String): DataFrame =
    sweepOf(scores(spark, stateDir))

  /** Folds the epoch partitions into one generation (crash-safe via the
    * shared [[Compaction]] marker protocol). Score rows fold by doc_id
    * dedup — value-identical by the frozen-model argument, so dedup is
    * a no-op on healthy state and repairs duplicates if a gate-bypassing
    * writer ever produced any. */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    Compaction.compactTable(spark, s"$stateDir/scores",
      df => df.dropDuplicates("doc_id"))
    Compaction.compactTable(spark, s"$stateDir/seen",
      df => df.select(col("doc_id")).distinct())
  }
}
