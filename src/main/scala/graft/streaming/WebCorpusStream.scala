package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming URL canonicalization — the ingest-path twin of the q159/q160
  * web-corpus stage-0 operators ([[graft.operators.WebCorpus]]): every
  * arriving document batch pays ONE [[graft.functions.UrlCanon]] pass
  * (narrow, in whole-stage codegen — the canonicalizer is a frozen pure
  * function, the blocklist-automaton argument exactly), and the
  * per-document canonical-URL table accumulates epoch-partitioned behind
  * the id gate. The per-host rollup (q159) and the per-host cap verdict
  * (q160) derive AT READ TIME from the accumulated table via the SAME
  * bodies the batch queries use, so they always equal the batch operators
  * over everything ingested so far (WebCorpusStreamSpec proves both,
  * through overlapping batches, fresh-lineage redelivery, and
  * compaction).
  *
  * Why the CAP must be read-time derived rather than streamed-forward:
  * q160 keeps the top-k docs per host by (n_chars DESC, doc_id) — a
  * function of the accumulated ROW SET. A longer document arriving later
  * legitimately evicts an earlier keep, so any forwarded per-epoch keep
  * decision would be wrong the moment a better doc lands; the stream
  * therefore accumulates DOCS (pure, append-only, replay-safe) and
  * derives the verdict when asked — the same reasoning as
  * [[BlocklistStream]]'s read-time reports, sharpened by an operator
  * whose per-row verdict is genuinely non-local.
  *
  * Shape at scale: scoring path has no join and no shuffle (two native
  * expression evaluations per row); the state table is one narrow row
  * per document; the read-time rollup is one hash aggregation keyed by
  * host and the cap one host-partitioned ranking — the batch plans,
  * unchanged. Raw text/URLs are never re-canonicalized after their
  * ingest batch. */
object WebCorpusStream {
  import graft.operators.WebCorpus.{canonicalized, hostCap, hostRollup}

  /** Starts canonicalizing ingest over a stream of document rows
    * (doc_id, source, n_chars). `publish` receives (epoch, n_new_docs)
    * after commit. */
  def start(docs: DataFrame, stateDir: String, checkpoint: String)(
      publish: (Long, Long) => Unit = (_, _) => ()): StreamingQuery =
    EpochState.startGated(docs, stateDir, checkpoint, publish)(
      fresh => Seq("urls" -> canonicalized(fresh)))

  /** The accumulated canonical-URL table (doc_id, source, n_chars,
    * raw_url, url, host) — row-identical to the batch
    * [[graft.operators.WebCorpus.canonicalized]] over everything
    * ingested. */
  def urls(spark: SparkSession, stateDir: String): DataFrame =
    Compaction.readTable(spark, s"$stateDir/urls")
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("raw_url"), col("url"), col("host"))

  /** Current per-host rollup over everything ingested — the batch q159
    * view of the streamed corpus. */
  def rollup(spark: SparkSession, stateDir: String): DataFrame =
    hostRollup(urls(spark, stateDir))

  /** Current per-host cap verdict over everything ingested — the batch
    * q160 view of the streamed corpus. */
  def cap(spark: SparkSession, stateDir: String): DataFrame =
    hostCap(urls(spark, stateDir))

  /** Folds the epoch partitions into one generation (crash-safe via the
    * shared [[Compaction]] marker protocol). URL rows fold by doc_id
    * dedup — value-identical by the frozen-canonicalizer argument. */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    Compaction.compactTable(spark, s"$stateDir/urls",
      df => df.dropDuplicates("doc_id"))
    Compaction.compactTable(spark, s"$stateDir/seen",
      df => df.select(col("doc_id")).distinct())
  }
}
