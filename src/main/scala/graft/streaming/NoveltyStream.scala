package graft.streaming

import graft.operators.Mirror
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Streaming n-gram novelty — the ingest-path twin of the batch
  * contribution score ([[graft.operators.Corpus.q105NgramNovelty]]): each
  * micro-batch of documents is scored for the fraction of its distinct
  * 3-shingles never seen on the stream before, then the batch's NEW
  * shingles are appended to a persisted seen-shingle index. The live
  * "is this source mined out" signal a curation pipeline watches during
  * ingest, rather than recomputing corpus-wide novelty offline.
  *
  * Semantics match the batch operator exactly: within a batch, a shingle
  * shared by several documents is credited to the min doc_id (the batch
  * query's owner rule), and earlier epochs have first claim — so feeding
  * a corpus through in doc_id order, batch by batch, reproduces q105's
  * output row for row (NoveltyStreamSpec proves it, 3 batches deep).
  *
  * Index + state story at scale: NO streaming state — the seen-shingle
  * set is a parquet table partitioned by epoch under `indexDir/seen`,
  * written by [[EpochState.start]] (which carries the replay and lineage
  * argument). Only distinct-new shingles are appended
  * (the index grows sublinearly as the stream saturates — the novelty
  * signal and the index growth rate are the same curve). At 100 TB the
  * index column would be the 60-bit shingle hash ([[Mirror.hash60]],
  * accepting collision-rate undercount) and compaction would fold epochs
  * through [[Compaction]] like [[StreamingDedup.compactIndex]]; here it
  * stays the exact string so the stream is bit-equal to the batch
  * oracle. */
object NoveltyStream {

  /** Starts the scoring query. `publish` receives per micro-batch a
    * DataFrame with q105's schema — (doc_id, n_shingles, n_novel,
    * novelty_frac) — and the epoch id; it must materialize before
    * returning (it runs before the batch's shingles are appended). */
  def start(newDocs: DataFrame, indexDir: String, checkpoint: String)(
      publish: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = newDocs.sparkSession
    val root = s"$indexDir/seen"
    EpochState.start(newDocs, indexDir, root, checkpoint) { (batch, e) =>
      // scoring + the index append both scan the batch
      val ws = e.pin(batch).select(col("doc_id"),
        Mirror.shingles3(col("text")).as("sg"))
      val owners = ws
        .select(col("doc_id"), explode(col("sg")).as("s"))
        .groupBy(col("s")).agg(min(col("doc_id")).as("owner"))
      val novelOwners = e.pin(Compaction.priorEpochs(spark, root, e.id)
        .map(idx => owners.join(idx.select(col("s")), Seq("s"),
          "left_anti"))
        .getOrElse(owners))
      val nov = novelOwners.groupBy(col("owner").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      val out = ws.join(nov, Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(col("sg")).cast(LongType).as("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          when(size(col("sg")) > 0,
            coalesce(col("n_novel"), lit(0L)).cast(DoubleType) /
              size(col("sg")).cast(DoubleType)).as("novelty_frac"))
      publish(out, e.id)
      Seq(root -> novelOwners.select(col("s")))
    }
  }
}
