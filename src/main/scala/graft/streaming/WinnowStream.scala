package graft.streaming

import graft.operators.Recipe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming overlap/clone detection — the ingest-path twin of the batch
  * winnowing query (q120, [[graft.operators.Recipe.winnowEntries]]): each
  * micro-batch of arriving documents probes a persisted window-min
  * fingerprint index of everything ingested before it, publishes pairs
  * sharing ≥ 2 fingerprints, then appends its own sketch entries. Because
  * winnowing GUARANTEES a fingerprint in every 4-shingle window, any
  * arriving document sharing a sufficiently long run of text with an
  * already-ingested one is DETECTED at ingest, not probably-detected —
  * the property MinHash banding ([[StreamingDedup]]) cannot give.
  * (Reference scope: the reference's only dedup is per-batch exact
  * dropDuplicates, /root/reference/spark/covid_streaming.py:153.)
  *
  * Probe semantics are ONE-SIDED: a batch matches only EARLIER epochs
  * (in-batch duplicates are the batch operators' job), with the index
  * side bucket-capped per fingerprint at probe time ordered by doc_id
  * ([[Recipe.winnowMatches]]) — so the appended index equals a
  * from-scratch rebuild, row for row.
  *
  * Index + replay story at scale: NO streaming state — the sketch is
  * parquet partitioned by epoch under `indexDir/fps`, written by
  * [[EpochState.start]] (which carries the replay and lineage
  * argument). Sketch density is ~1/W of shingles — the index is a
  * fraction of corpus size, ids + 60-bit hashes only, never text. */
object WinnowStream {

  /** Starts the probe. `publish` receives per micro-batch the matches —
    * (doc_id, matched_id, shared_fps, nfp_a, nfp_b) — and the epoch id;
    * it must materialize before returning (it runs before the batch's
    * own entries are appended). */
  def start(newDocs: DataFrame, indexDir: String, checkpoint: String)(
      publish: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = newDocs.sparkSession
    val root = s"$indexDir/fps"
    EpochState.start(newDocs, indexDir, root, checkpoint) { (batch, e) =>
      // probe + index append both scan the batch's entries
      val entries = e.pin(Recipe.winnowEntries(batch))
      val idx = Compaction.priorEpochs(spark, root, e.id)
        .map(_.drop("epoch")).getOrElse(entries.limit(0))
      publish(Recipe.winnowMatches(entries, idx), e.id)
      Seq(root -> entries)
    }
  }

  /** Offline small-files maintenance ([[Compaction]], distinct fold —
    * run while the stream is stopped). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit =
    Compaction.compactTable(spark, s"$indexDir/fps", _.distinct())
}
