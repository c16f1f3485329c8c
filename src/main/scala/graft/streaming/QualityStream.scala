package graft.streaming

import graft.operators.Quality
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming corpus-quality monitor — the ingest-path twin of the batch
  * quality funnel ([[graft.operators.Quality.q112QualityFunnel]]): every
  * micro-batch of arriving documents is rolled up into the same
  * per-source, per-rule drop-attribution report and appended to a
  * persisted report table partitioned by epoch. The live "did a crawler
  * start shipping garbage" signal a curation pipeline watches during
  * ingest, instead of discovering a quality cliff in the next offline
  * audit. (Reference scope: its only per-batch data quality step is the
  * sentinel-string cleanup in process_batch,
  * /root/reference/spark/covid_streaming.py:119-130 — no corpus QA.)
  *
  * Semantics match the batch operator exactly: the funnel rules are the
  * same `Quality.funnelReport` expressions, and because every funnel
  * column is an exact integer count charged to the FIRST failed rule,
  * per-epoch reports SUM to the whole-corpus report — `epoch` is just
  * another grouping key (QualityStreamSpec proves both properties, 3
  * batches deep).
  *
  * Report-table story at scale: NO streaming state — the table is
  * written by [[EpochState.start]], so a replay under the same
  * checkpoint stays exactly-once, while a fresh checkpoint that
  * re-delivers documents already ingested adds them again; readers
  * aggregate across epoch partitions (tiny: sources × epochs rows).
  * Reading the whole report table back therefore needs no dedup pass. */
object QualityStream {

  /** Starts the monitor. The report under `reportDir/epoch=N` has q112's
    * schema (source, docs, drop_len, drop_word_len, drop_repetition,
    * drop_stopword, kept, kept_tokens). */
  def start(newDocs: DataFrame, reportDir: String, checkpoint: String)
      : StreamingQuery =
    EpochState.start(newDocs, reportDir, reportDir, checkpoint) { (batch, _) =>
      Seq(reportDir -> Quality.funnelReport(Quality.funnelMetrics(batch)))
    }

  /** The cumulative cross-epoch view of the report table — identical in
    * shape and (by the sum property) in values to running the batch
    * funnel over everything ingested so far. */
  def totals(spark: SparkSession, reportDir: String): DataFrame =
    spark.read.parquet(reportDir)
      .groupBy(col("source"))
      .agg(
        sum(col("docs")).as("docs"),
        sum(col("drop_len")).as("drop_len"),
        sum(col("drop_word_len")).as("drop_word_len"),
        sum(col("drop_repetition")).as("drop_repetition"),
        sum(col("drop_stopword")).as("drop_stopword"),
        sum(col("kept")).as("kept"),
        sum(col("kept_tokens")).as("kept_tokens"))
      .orderBy(col("source"))
}
