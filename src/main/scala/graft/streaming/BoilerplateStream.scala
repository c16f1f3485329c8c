package graft.streaming

import graft.operators.Mirror
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming shingle document-frequency index — the ingest-path feed for
  * boilerplate detection ([[graft.operators.Recipe.q124Boilerplate]]):
  * each micro-batch of arriving documents collapses to per-(source,
  * shingle) document-frequency counts plus per-source doc counts in an
  * epoch-partitioned parquet index, so "which n-grams are becoming
  * boilerplate" is a read of the index — never a re-scan of the raw
  * corpus. The live signal that a source started shipping templated
  * chrome (headers/footers/navigation) DURING a crawl, while per-doc
  * quality rules ([[QualityStream]]) still look clean. (Reference scope:
  * the reference re-aggregates its whole table per 30 s trigger,
  * /root/reference/spark/covid_streaming.py:139-156.)
  *
  * Exactly-once story: NO streaming state; the index is written by
  * [[EpochState.start]], so a replay under the same checkpoint stays
  * exactly-once, while a fresh checkpoint that re-delivers documents
  * already ingested adds them again. Shingles are counted
  * DISTINCT-per-doc and every document is ingested in exactly one
  * epoch, so cross-epoch SUMS equal the from-scratch document frequency
  * row for row (the [[TokenStatsStream]] additivity argument; spec
  * proves df totals ≡ q124's batch df relation 3 epochs deep). Rows
  * carry their origin epoch as a stored column, keeping the distinct
  * fold of its [[Compaction]] lossless for counts, and the report reads
  * through the same protocol, so a crashed fold never counts twice. */
object BoilerplateStream {

  /** Starts the indexer. Batches must carry (doc_id, text, source); the
    * index row schema is (epoch_orig, source, sh, df) under `dfs/` plus
    * (epoch_orig, source, docs) under `docs/`. */
  def start(newDocs: DataFrame, indexDir: String, checkpoint: String)
      : StreamingQuery =
    EpochState.start(newDocs, indexDir, s"$indexDir/docs", checkpoint) {
      (batch, e) =>
        val b = e.pin(batch) // both index tables scan the batch
        Seq(
          s"$indexDir/dfs" -> batchDf(b),
          s"$indexDir/docs" -> b.groupBy(col("source"))
            .agg(countDistinct(col("doc_id")).as("docs")))
          .map { case (root, df) =>
            root -> df.withColumn("epoch_orig", lit(e.id)) }
    }

  /** One batch's contribution: per-(source, shingle) document frequency
    * over per-doc DISTINCT shingles (the q124 relation). */
  def batchDf(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("doc_id"),
        explode(Mirror.shingles3(col("text"))).as("sh"))
      .groupBy(col("source"), col("sh"))
      .agg(count(lit(1)).as("df"))

  /** Cross-epoch boilerplate report: shingles whose cumulative document
    * frequency reaches `tenths`/10 of the source's cumulative doc count
    * — q124's threshold over everything ingested so far, computed from
    * the index alone. */
  def report(spark: SparkSession, indexDir: String, tenths: Long = 3L)
      : DataFrame = {
    val df = Compaction.readTable(spark, s"$indexDir/dfs")
      .groupBy(col("source"), col("sh")).agg(sum(col("df")).as("df"))
    val nd = Compaction.readTable(spark, s"$indexDir/docs")
      .groupBy(col("source")).agg(sum(col("docs")).as("n_docs"))
    df.join(nd, Seq("source"))
      .filter(col("df") * 10 >= col("n_docs") * tenths)
      .select(col("source"), col("sh"), col("df"), col("n_docs"))
      .orderBy(col("source"), col("df").desc, col("sh"))
  }

  /** Offline small-files maintenance ([[Compaction]], distinct fold;
    * run while the stream is stopped). */
  def compact(spark: SparkSession, indexDir: String): Unit =
    Seq("dfs", "docs").foreach(t =>
      Compaction.compactTable(spark, s"$indexDir/$t", _.distinct()))
}
