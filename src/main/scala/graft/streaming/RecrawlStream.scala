package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming recrawl monitor — the ingest-time form of the batch snapshot
  * diff (q126, [[graft.operators.Lifecycle]]): each micro-batch of arriving
  * documents is classified against a persisted (doc_id → fingerprint) index
  * of everything crawled before it — `added` (id never seen), `changed`
  * (seen with a DIFFERENT latest fingerprint — a recrawled page whose
  * content moved), `unchanged` (seen with the same one) — so re-crawl churn
  * is measured as pages arrive, not at the next full snapshot diff.
  * `removed` has no per-batch meaning (absence is unobservable in a
  * stream); the batch q126 owns that class. (Reference scope: the
  * reference re-reads its whole topic through one checkpoint and has no
  * delta concept — covid_streaming.py:200-226.)
  *
  * Latest-fingerprint semantics: the index keeps every (doc_id, fp,
  * seen_epoch) observation; the probe compares against the fingerprint
  * with the HIGHEST seen_epoch per doc_id — so a page that changed in
  * epoch 1 and arrives identical to that change in epoch 2 is `unchanged`
  * (vs its latest state), not `changed` (vs its first sighting).
  *
  * Index + replay story at scale: NO streaming state — parquet
  * partitioned by epoch under `indexDir/fps`, written by
  * [[EpochState.start]] (which carries the replay and lineage
  * argument). `seen_epoch` rides every row as a DATA column, which
  * makes the distinct fold of its [[Compaction]] lossless for the
  * latest-per-id resolution. The probe join is keyed on the primary key
  * (no skew); only (doc_id, source, 32-byte fp) rows move — never
  * document text (the q126 shuffle discipline).
  */
object RecrawlStream {

  /** Starts the monitor over a stream of documents with columns
    * (doc_id, source, text). `publish` receives per micro-batch the
    * per-source report (source, n_added, n_changed, n_unchanged) and the
    * epoch id; it must materialize before returning (it runs before the
    * batch's own fingerprints are appended). */
  def start(newDocs: DataFrame, indexDir: String, checkpoint: String)(
      publish: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = newDocs.sparkSession
    val root = s"$indexDir/fps"
    EpochState.start(newDocs, indexDir, root, checkpoint) { (batch, e) =>
      // probe + index append both scan the batch's entries
      val entries = e.pin(batch.select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("fp"),
        lit(e.id).as("seen_epoch")))
      val latest = Compaction.priorEpochs(spark, root, e.id)
        .map(_.groupBy(col("doc_id"))
          .agg(max(struct(col("seen_epoch"), col("fp"))).as("s"))
          .select(col("doc_id"), col("s.fp").as("old_fp")))
        .getOrElse(
          entries.limit(0).select(col("doc_id"), col("fp").as("old_fp")))
      val report = entries.join(latest, Seq("doc_id"), "left_outer")
        .select(col("source"),
          when(col("old_fp").isNull, "added")
            .when(col("old_fp") =!= col("fp"), "changed")
            .otherwise("unchanged").as("change"))
        .groupBy(col("source"))
        .agg(
          sum(when(col("change") === "added", 1L).otherwise(0L))
            .as("n_added"),
          sum(when(col("change") === "changed", 1L).otherwise(0L))
            .as("n_changed"),
          sum(when(col("change") === "unchanged", 1L).otherwise(0L))
            .as("n_unchanged"))
      publish(report, e.id)
      Seq(root -> entries)
    }
  }

  /** Offline small-files maintenance ([[Compaction]], distinct fold —
    * run while the stream is stopped; `seen_epoch` survives as a data
    * column, so latest-per-id resolution is unaffected). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit =
    Compaction.compactTable(spark, s"$indexDir/fps", _.distinct())
}
