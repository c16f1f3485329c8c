package graft.streaming

import graft.operators.Mirror
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming incremental token-frequency index — the ingest-path feed for
  * every vocabulary-shaped batch operator (q14/q58 term stats, q86/q95 BPE
  * pair counting, q103/q108 tokenizer application): each micro-batch of
  * arriving documents collapses to per-word (occurrences, containing-docs)
  * counts and lands in an epoch-partitioned parquet index, so "train a
  * vocab on everything ingested so far" is a read of sources×words rows —
  * never a re-scan of the raw corpus. (Reference scope: the reference
  * re-aggregates its full table every 30 s trigger,
  * /root/reference/spark/covid_streaming.py:139-156 — the shape this index
  * exists to avoid at 100 TB.)
  *
  * Exactly-once story: NO streaming state; the index is written by
  * [[EpochState.start]], so a replay under the same checkpoint stays
  * exactly-once; a fresh checkpoint that re-delivers documents already
  * ingested adds them again. Counts are additive and each document is
  * ingested in exactly one epoch, so cross-epoch SUMS equal the
  * from-scratch batch aggregation row for row (TokenStatsStreamSpec
  * proves it 3 epochs deep).
  *
  * Compaction is the shared [[Compaction]] protocol with a distinct
  * fold: rows carry their origin epoch as a STORED column (`epoch_orig`),
  * which makes every row unique by (epoch_orig, source, word) — so the
  * fold is lossless for counts too. [[totals]] reads through the same
  * protocol's marker, so a compaction crashed at any point still counts
  * every row once, and the next [[compact]] completes it.
  */
object TokenStatsStream {

  /** Starts the indexer. Batches must carry (doc_id, text, source);
    * the index row schema is (epoch_orig, source, word, occurrences,
    * docs). */
  def start(newDocs: DataFrame, indexDir: String, checkpoint: String)
      : StreamingQuery =
    EpochState.start(newDocs, indexDir, indexDir, checkpoint) { (batch, e) =>
      Seq(indexDir -> batchStats(batch).withColumn("epoch_orig", lit(e.id)))
    }

  /** One batch's contribution: per-(source, word) occurrence and
    * containing-doc counts. Map-side partial aggregation collapses each
    * task's token explosion before the shuffle — the only exchange is
    * words×sources sized. Shared by the stream and the spec's batch
    * oracle, so equivalence is of plans feeding identical expressions. */
  def batchStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        explode(Mirror.words(col("text"))).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col("doc_id")).as("docs"))

  /** Cross-epoch cumulative term statistics — row-identical to running
    * [[batchStats]] over everything ingested so far (each doc lives in
    * exactly one epoch, so docs-counts add exactly like occurrences). */
  def totals(spark: SparkSession, indexDir: String): DataFrame =
    Compaction.readTable(spark, indexDir)
      .groupBy(col("source"), col("word"))
      .agg(sum(col("occurrences")).as("occurrences"),
        sum(col("docs")).as("docs"))

  /** Top-`k` vocabulary over the ingested corpus so far, deterministic
    * tie-break (count desc, word asc). orderBy+limit plans
    * TakeOrderedAndProject: per-partition top-k then a k-row merge —
    * never a global sort, at any index size. */
  def vocab(spark: SparkSession, indexDir: String, k: Int): DataFrame =
    totals(spark, indexDir)
      .groupBy(col("word"))
      .agg(sum(col("occurrences")).as("occurrences"))
      .orderBy(col("occurrences").desc, col("word"))
      .limit(k)

  /** Folds the per-epoch partitions into one generation (offline
    * maintenance; see class doc for the crash contract). */
  def compact(spark: SparkSession, indexDir: String): Unit =
    Compaction.compactTable(spark, indexDir, _.distinct())
}
