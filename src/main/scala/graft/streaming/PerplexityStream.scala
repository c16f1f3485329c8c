package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming perplexity filter — the ingest-path twin of the CCNet
  * bucket operator ([[graft.operators.Quality.q153PerplexityBuckets]]):
  * the reference bigram LM is trained ONCE at stream start (the CCNet
  * posture — the reference model is an offline artifact, frozen while
  * the crawl streams past it), every arriving micro-batch is scored
  * statelessly against those counts, and the per-document scores
  * accumulate in an epoch-partitioned table behind the id gate.
  * Head/middle/tail thresholds are derived AT READ TIME from the
  * accumulated (source × ppm score) histogram, so they always reflect
  * everything ingested so far — exactly the batch operator's buckets
  * over the same documents (PerplexityStreamSpec proves both halves:
  * scores row-identical, buckets row-identical, through overlapping
  * batches, fresh-lineage redelivery, and compaction).
  *
  * Why this decomposition streams exactly: scoring is per-document
  * pure (frozen counts → same doc, same score, any epoch, any
  * delivery), so at-least-once replay can only produce value-identical
  * rows, and the id gate keeps even those out; bucketing is a function
  * of the score MULTISET, which the epoch-partitioned table preserves.
  *
  * Shape at scale: the per-batch delta joins one narrow batch against
  * the vocabulary-sized count tables (AQE broadcasts them at runtime)
  * and writes one row per arriving doc; the read-time histogram is
  * ≤ 10⁶ rows per source by ppm quantization ([[graft.operators
  * .Quality.lmBuckets]]), never per-document global state. Nothing is
  * O(corpus) except the id gate (O(ids)) and the score table itself —
  * the operator's product, one narrow row per document.
  * (Reference scope: covid_streaming.py has no quality surface; this
  * is the LLM-pipeline extension tier.) */
object PerplexityStream {
  import graft.operators.Quality.{lmCounts, lmScores, lmBuckets}

  /** Starts the filter over a stream of document rows (doc_id, source,
    * text), with the reference model trained from `refDocs` (a batch
    * table — in production the curated reference corpus). `publish`
    * receives (epoch, n_new_docs) after commit. */
  def start(docs: DataFrame, refDocs: DataFrame, stateDir: String,
      checkpoint: String)(
      publish: (Long, Long) => Unit = (_, _) => ()): StreamingQuery = {
    // train once; persist so every micro-batch reuses the same
    // materialized counts instead of re-aggregating the reference
    val (c2, c1, v) = lmCounts(refDocs)
    c2.persist()
    c1.persist()
    EpochState.startGated(docs, stateDir, checkpoint, publish)(
      fresh => Seq("scores" -> lmScores(fresh, c2, c1, v)))
  }

  /** The accumulated per-document score table (doc_id, source,
    * n_bigrams, score_ppm) — row-identical to the batch
    * [[graft.operators.Quality.lmScores]] over everything ingested. */
  def scores(spark: SparkSession, stateDir: String): DataFrame =
    Compaction.readTable(spark, s"$stateDir/scores")
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        col("score_ppm"))

  /** Current head/middle/tail assignment over everything ingested so
    * far — scores joined to thresholds from the accumulated histogram,
    * the batch q153 view of the streamed corpus. */
  def buckets(spark: SparkSession, stateDir: String): DataFrame = {
    val sp = scores(spark, stateDir)
    sp.join(lmBuckets(sp), Seq("source", "score_ppm"))
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        col("score_ppm"), col("bucket"))
  }

  /** Folds the epoch partitions into one generation (crash-safe via the
    * shared [[Compaction]] marker protocol). Scores fold by doc_id
    * dedup — rows are value-identical by the frozen-model argument, so
    * dedup is a no-op on healthy state and repairs duplicate rows if a
    * gate-bypassing writer ever produced any. */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    Compaction.compactTable(spark, s"$stateDir/scores",
      df => df.dropDuplicates("doc_id"))
    Compaction.compactTable(spark, s"$stateDir/seen",
      df => df.select(col("doc_id")).distinct())
  }
}
