package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming right-to-be-forgotten processor — the incremental twin of the
  * batch purge audit (q136, [[graft.operators.Dedup.q136PurgeAudit]]).
  * Deletion requests arrive continuously (GDPR art. 17 requests, opt-out
  * feeds, DMCA notices); the corpus owner must keep a running, auditable
  * account of what the accumulated request set purges — per source, how
  * many documents and tokens — and how far it cascades into DERIVED
  * artifacts: every verified near-dup pair with a purged endpoint must be
  * re-examined, because its surviving side may have been dropped as "the
  * duplicate" of a now-deleted document. PurgeSpec proves the accumulated
  * stream report ≡ the batch audit over the same request set.
  *
  * Input: a stream of request rows carrying `doc_id`. Requests for
  * unknown ids resolve to nothing (dropped — nothing to purge); duplicate
  * requests (within a batch, across batches, or via at-least-once
  * redelivery) purge once, exactly like the batch set-semantics.
  *
  * State layout at scale: NO streaming state store — two
  * epoch-partitioned parquet tables under `stateDir`, written by
  * [[EpochState.start]]: `purged/` (doc_id, source, toks — the
  * resolved, deduplicated request set) and `affected/` (doc_a, doc_b,
  * source — cascade pairs already counted, keyed exactly like the batch
  * audit's per-source attribution). Per-batch cost is O(batch + state +
  * the pair artifact), never O(corpus): the batch resolves against the
  * slim (doc_id, source, toks) corpus index with a keyed PK join, the
  * new-request filter is one anti-join against `purged`, and the cascade
  * joins the O(near-dup pairs) artifact against the batch's newly purged
  * ids — tiny and broadcastable — then anti-joins `affected` so a pair
  * whose two endpoints are purged in DIFFERENT epochs still counts once
  * per source (the batch DISTINCT, incrementally).
  *
  * Exactly-once accounting under at-least-once foreachBatch: state reads
  * exclude the CURRENT epoch partition, so a replayed batch recomputes
  * the identical delta and overwrites its own partition
  * ([[EpochState]]). `publish` fires after the state commit
  * (at-least-once; consumers key by epoch). */
object PurgeStream {

  /** The slim corpus index requests resolve against: (doc_id, source,
    * toks) — same token definition as the batch audit (q136). One narrow
    * corpus scan; at 100 TB this is the manifest-grade table a purge
    * pipeline maintains anyway, not a per-request scan. */
  def corpusIndex(spark: SparkSession, dir: String): DataFrame =
    graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(graft.operators.Mirror.words(col("text"))).cast("long")
          .as("toks"))

  /** Starts the purge processor. `requests` streams rows with `doc_id`;
    * `corpus` is [[corpusIndex]] (or an equivalent slim index); `pairs`
    * is the verified near-dup pair artifact (doc_a, doc_b — e.g. the
    * q19/[[graft.operators.PairCache]] table). `publish` receives
    * (epoch, n_purged_delta, tokens_purged_delta, pairs_affected_delta)
    * AFTER the epoch's state is committed. */
  def start(requests: DataFrame, corpus: DataFrame, pairs: DataFrame,
      stateDir: String, checkpoint: String)(
      publish: (Long, Long, Long, Long) => Unit = (_, _, _, _) => ())
      : StreamingQuery = {
    val spark = requests.sparkSession
    val purgedRoot = s"$stateDir/purged"
    val affectedRoot = s"$stateDir/affected"
    EpochState.start(requests, stateDir, affectedRoot, checkpoint) {
      (batch, e) =>
        def state(root: String, cols: Seq[String]): DataFrame =
          Compaction.priorEpochs(spark, root, e.id)
            .getOrElse(empty(spark)).select(cols.map(col): _*)
        // resolve + dedupe: set semantics over the accumulated requests
        val resolved = corpus
          .join(broadcast(batch.select(col("doc_id")).distinct()),
            Seq("doc_id"))
        val newPurged = e.pin(resolved
          .join(state(purgedRoot, Seq("doc_id")), Seq("doc_id"),
            "left_anti")
          .select(col("doc_id"), col("source"), col("toks")))
        // cascade into the pair artifact, attributed per purged
        // endpoint's source (a pair purged from two sources counts in
        // both audits — the batch UNION ALL + DISTINCT, incrementally)
        val ids = newPurged.select(col("doc_id"), col("source"))
        val touched = pairs
          .join(broadcast(ids.withColumnRenamed("doc_id", "doc_a")),
            Seq("doc_a"))
          .select(col("doc_a"), col("doc_b"), col("source"))
          .unionByName(pairs
            .join(broadcast(ids.withColumnRenamed("doc_id", "doc_b")),
              Seq("doc_b"))
            .select(col("doc_a"), col("doc_b"), col("source")))
          .distinct()
        val newAffected = touched
          .join(state(affectedRoot, Seq("doc_a", "doc_b", "source")),
            Seq("doc_a", "doc_b", "source"), "left_anti")
        val delta = newPurged.agg(
          count(lit(1)), coalesce(sum(col("toks")), lit(0L))).collect()(0)
        val nAffected = newAffected.count()
        e.afterWrite(publish(e.id, delta.getLong(0), delta.getLong(1),
          nAffected))
        Seq(purgedRoot -> newPurged, affectedRoot -> newAffected)
    }
  }

  /** The accumulated audit in the batch report's exact shape (q136):
    * per source — docs/tokens the accumulated request set purges, docs
    * retained, and the distinct cascade pairs attributed to it. Equal to
    * running the batch audit over the union of every delivered request
    * (PurgeSpec). One corpus-index rollup + two tiny state rollups. */
  def report(spark: SparkSession, corpus: DataFrame, stateDir: String)
      : DataFrame = {
    val totals = corpus.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"), sum(col("toks")).as("all_tokens"))
    val purged = read(spark, s"$stateDir/purged",
      Seq("doc_id", "source", "toks"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_purged"),
        sum(col("toks")).as("tokens_purged"))
    val affected = read(spark, s"$stateDir/affected",
      Seq("doc_a", "doc_b", "source"))
      .groupBy(col("source")).agg(count(lit(1)).as("pairs_affected"))
    totals
      .join(purged, Seq("source"), "left_outer")
      .join(affected, Seq("source"), "left_outer")
      .select(col("source"),
        coalesce(col("n_purged"), lit(0L)).as("n_purged"),
        (col("n_docs") - coalesce(col("n_purged"), lit(0L)))
          .as("n_retained"),
        coalesce(col("tokens_purged"), lit(0L)).as("tokens_purged"),
        coalesce(col("pairs_affected"), lit(0L)).as("pairs_affected"))
      .orderBy(col("source"))
  }

  // distinct: a fresh-lineage redelivery lands duplicates in a fresh
  // partition (EpochState contract) — the fold absorbs them
  private def read(spark: SparkSession, root: String,
      cols: Seq[String]): DataFrame =
    Compaction.readIfAny(spark, root).getOrElse(empty(spark))
      .select(cols.map(col): _*).distinct()

  /** Zero rows with every state column of both tables. */
  private def empty(spark: SparkSession): DataFrame =
    spark.range(0).select(
      lit(0L).as("doc_a"), lit(0L).as("doc_b"), lit("").as("source"),
      lit(0L).as("doc_id"), lit(0L).as("toks"))

  /** Offline small-files maintenance (run while the stream is stopped):
    * fold all epoch partitions of each table into one generation on the
    * shared [[Compaction]] protocol, dropping the duplicates a
    * fresh-lineage redelivery may have landed. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    Seq("purged" -> Seq("doc_id", "source", "toks"),
      "affected" -> Seq("doc_a", "doc_b", "source")).foreach {
      case (t, cols) => Compaction.compactTable(spark, s"$stateDir/$t",
        _.select(cols.map(col): _*).distinct())
    }
}
