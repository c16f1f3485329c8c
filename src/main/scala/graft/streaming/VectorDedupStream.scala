package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming semantic near-dup detection for EMBEDDINGS — the vector
  * analog of [[StreamingDedup.startIncremental]]: each micro-batch of
  * arriving vectors probes a persisted banded-LSH signature index of
  * everything ingested before it, publishes exact-cosine matches above
  * `tau`, then appends its own entries to the index. The ingest-time
  * "have we already got this content" check a training pipeline runs on
  * embedded documents before they reach the corpus, without retraining
  * anything (hyperplane signatures are fixed, unlike the trained k-means
  * cells of the batch semantic dedup q73). (Reference scope: dedup there
  * is per-batch exact dropDuplicates only,
  * /root/reference/spark/covid_streaming.py:153 — no cross-batch or
  * similarity-based path.)
  *
  * Probe semantics are ONE-SIDED: a batch matches only EARLIER epochs —
  * in-batch duplicates are the batch dedup operators' job, and the spec's
  * batch twin (all cross-epoch banded pairs) reproduces the streamed
  * matches exactly.
  *
  * Index + replay story at scale: NO streaming state — the index is
  * parquet partitioned by epoch under `indexDir/sigs`, written by
  * [[EpochState.start]] (which carries the replay and lineage
  * argument). Entries carry
  * (vec_id, embedding, nrm, band_hi, band_lo): only (band, id) rows fan
  * out in the candidate join, and the stored embedding serves the exact
  * verification — at 100 TB the embedding column would be a PQ code
  * (q68's layout) with exact re-rank against the raw store.
  */
object VectorDedupStream {

  /** Starts the probe. `publish` receives per micro-batch the matches —
    * (probe_id, index_id, score), score = exact cosine ≥ tau — and the
    * epoch id; it must materialize before returning (it runs before the
    * batch's own entries are appended). */
  def start(newVecs: DataFrame, indexDir: String, checkpoint: String,
      tau: Double)(publish: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = newVecs.sparkSession
    val root = s"$indexDir/sigs"
    EpochState.start(newVecs, indexDir, root, checkpoint) { (batch, e) =>
      // probe + index append both scan the batch's entries
      val entries = e.pin(Similarity.bandedEntries(batch))
      val idx = Compaction.priorEpochs(spark, root, e.id)
        .map(_.drop("epoch")).getOrElse(entries.limit(0))
      publish(Similarity.bandedMatches(entries, idx, tau), e.id)
      Seq(root -> entries)
    }
  }

  /** Offline small-files maintenance: fold the per-epoch signature
    * partitions into one compacted generation ([[Compaction]], distinct
    * fold — run while the stream is stopped). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit =
    Compaction.compactTable(spark, s"$indexDir/sigs", _.distinct())
}
