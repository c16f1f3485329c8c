package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming blocklist filter — the ingest-path twin of the
  * multi-pattern banned-phrase operators
  * ([[graft.operators.Quality.q155Blocklist]] /
  * [[graft.operators.Quality.q156BlocklistKeep]]): the Aho–Corasick
  * automaton is compiled from the FROZEN pattern set (a blocklist is an
  * offline policy artifact — it changes by deliberate redeploy, never
  * mid-stream), every arriving micro-batch pays one automaton pass per
  * document, and the per-document per-pattern counts accumulate in an
  * epoch-partitioned table behind the id gate. The per-pattern hit
  * report and the per-source keep/drop verdict derive AT READ TIME from
  * the accumulated table via the SAME rollups the batch queries use
  * ([[graft.operators.Quality.blockReport]] / `blockVerdict`), so they
  * always equal the batch operators over everything ingested so far
  * (BlocklistStreamSpec proves both, through overlapping batches,
  * fresh-lineage redelivery, and compaction).
  *
  * Why this streams exactly: scoring is per-document pure (frozen
  * automaton → same doc, same counts, any epoch, any delivery), so
  * at-least-once replay can only produce value-identical rows, and the
  * id gate keeps even those out; both reports are functions of the
  * accumulated row multiset, which the epoch-partitioned table
  * preserves.
  *
  * Shape at scale: the automaton (O(total pattern chars) state) rides
  * the serialized per-batch plan exactly like a broadcast model — no
  * join, no shuffle on the scoring path; the state table is one narrow
  * row per document (the operator's product) and the read-time rollups
  * collapse to ≤ patterns/sources rows behind map-side partial
  * aggregation. Nothing is O(corpus) except the id gate (O(ids)) and
  * the hit table itself; text is never re-scanned after its ingest
  * batch. (Reference scope: covid_streaming.py has no text filtering;
  * this is the LLM-pipeline extension tier.) */
object BlocklistStream {
  import graft.operators.Quality.{blockHits, blockReport, blockVerdict}

  /** Starts the filter over a stream of document rows (doc_id, source,
    * n_chars, text). `publish` receives (epoch, n_new_docs) after
    * commit. */
  def start(docs: DataFrame, stateDir: String, checkpoint: String)(
      publish: (Long, Long) => Unit = (_, _) => ()): StreamingQuery =
    EpochState.startGated(docs, stateDir, checkpoint, publish)(
      fresh => Seq("hits" -> blockHits(fresh)))

  /** The accumulated per-document hit table (doc_id, source, n_chars,
    * counts) — row-identical to the batch
    * [[graft.operators.Quality.blockHits]] over everything ingested. */
  def hits(spark: SparkSession, stateDir: String): DataFrame =
    Compaction.readTable(spark, s"$stateDir/hits")
      .select(col("doc_id"), col("source"), col("n_chars"), col("counts"))

  /** Current per-pattern hit report over everything ingested — the
    * batch q155 view of the streamed corpus. */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    blockReport(hits(spark, stateDir))

  /** Current per-source keep/drop verdict over everything ingested —
    * the batch q156 view of the streamed corpus. */
  def verdict(spark: SparkSession, stateDir: String): DataFrame =
    blockVerdict(hits(spark, stateDir))

  /** Folds the epoch partitions into one generation (crash-safe via the
    * shared [[Compaction]] marker protocol). Hit rows fold by doc_id
    * dedup — value-identical by the frozen-automaton argument, so dedup
    * is a no-op on healthy state and repairs duplicates if a
    * gate-bypassing writer ever produced any. */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    Compaction.compactTable(spark, s"$stateDir/hits",
      df => df.dropDuplicates("doc_id"))
    Compaction.compactTable(spark, s"$stateDir/seen",
      df => df.select(col("doc_id")).distinct())
  }
}
