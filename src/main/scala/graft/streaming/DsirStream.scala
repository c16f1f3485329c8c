package graft.streaming

import graft.operators.Recipe
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming DSIR importance scoring — the ingest-path twin of the batch
  * q119 ([[graft.operators.Recipe.dsirModel]]): the score model is
  * trained OFFLINE from a reference corpus (512 integer bucket scores,
  * bounded model state), frozen into the stream as an array literal, and
  * every arriving micro-batch scores its documents with a NARROW fold —
  * no join, no streaming state, no shuffle before the tiny per-epoch
  * report rollup. The live "is this source drifting away from the target
  * distribution" signal, scored the instant documents arrive instead of
  * in the next offline pass. (Reference scope: the reference has no
  * scoring/selection surface at all — its per-batch analytics are fixed
  * aggregates, /root/reference/spark/covid_streaming.py:139-198.)
  *
  * Report semantics match q119 exactly: per (source, lang) — docs,
  * integer sum/min/max of per-token importance, target-like count. All
  * columns are counts or exact integer sums, so per-epoch reports SUM to
  * the whole-corpus report (the [[QualityStream]] property; the spec
  * proves both stream ≡ batch and replay idempotence). The report is
  * written by [[EpochState.start]], so a replay under the same
  * checkpoint stays exactly-once with zero state; a fresh checkpoint
  * that re-delivers documents already scored adds them again.
  *
  * Model-freshness posture at scale: the frozen model is the DSIR
  * deployment shape (score with a trained importance model; retrain
  * offline, redeploy). A drifting reference corpus means retraining —
  * restart the stream with the new model; the epoch partitions before
  * and after the swap record which generation scored them. */
object DsirStream {

  /** Starts the scorer. Batches must carry (doc_id, text, source, lang);
    * report rows have q119's schema per epoch partition. */
  def start(newDocs: DataFrame, model: Array[Long], reportDir: String,
      checkpoint: String): StreamingQuery = {
    val impPt = Recipe.dsirImpPt(model)
    EpochState.start(newDocs, reportDir, reportDir, checkpoint) { (batch, _) =>
      Seq(reportDir -> Recipe.dsirReport(batch.withColumn("imp_pt", impPt)))
    }
  }

  /** Cross-epoch cumulative report — identical in shape and (by the
    * integer-sum property) in values to batch-scoring everything
    * ingested so far with the same model. min/max fold with MIN/MAX,
    * which are order-safe. */
  def totals(spark: SparkSession, reportDir: String): DataFrame =
    spark.read.parquet(reportDir)
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("docs")).as("docs"),
        sum(col("sum_imp_pt")).as("sum_imp_pt"),
        min(col("min_imp_pt")).as("min_imp_pt"),
        max(col("max_imp_pt")).as("max_imp_pt"),
        sum(col("target_like")).as("target_like"))
      .orderBy(col("source"), col("lang"))
}
