package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming exact-substring span maintenance — the incremental twin of
  * q143 (the Lee et al. 2022 suffix-array dedup): documents arrive as a
  * stream and the processor maintains the POSITIONED SHINGLE INDEX
  * (doc_id, pos, sh) from which the maximal repeated-span table derives,
  * so document text is tokenized and shingled exactly ONCE, at ingest.
  * [[spans]] over the accumulated index equals batch q143 over the same
  * documents row for row (SpanStreamSpec).
  *
  * Occurrence counting must be exactly-once (a duplicated (doc, pos, sh)
  * row inflates a shingle's global count and can flip positions into
  * spans), so arrivals pass the [[SketchStream]] doc_id gate: state keeps
  * a `seen/epoch=E` id set, each batch anti-joins it (ids only), and the
  * index delta covers genuinely-new documents alone. Same-lineage replay
  * overwrites its own epoch partitions; fresh-lineage redelivery is
  * emptied by the gate; epoch numbers are collision-free across lineages
  * ([[EpochState.start]]). Compaction and its crash safety are the
  * shared [[Compaction]] marker protocol — occurrence counts are
  * SUM-shaped, so the both-generations-on-disk crash would double-count
  * without it.
  *
  * The incremental signal a 100 TB maintenance job actually wants is
  * [[affectedDocs]]: after epoch E, only documents sharing a shingle
  * with E's arrivals can have a changed span set — everything else's
  * spans are byte-identical by construction (counts of their shingles
  * did not move). The spec proves both halves: affected-doc spans equal
  * a full recompute, and unaffected docs' spans equal their pre-epoch
  * value.
  *
  * Scale shape: the per-batch delta is one narrow shingle pass over the
  * batch; the index is O(corpus token positions) — inherent to
  * substring-level dedup (it IS the suffix-array's footprint) — stored
  * as compact (long, long, long) rows, epoch-partitioned, never
  * re-derived; span resolution shuffles only those compact rows. */
object SpanStream {
  import graft.operators.Corpus

  /** Starts the index maintainer over a stream of document rows
    * (doc_id, text, …). `publish` receives (epoch, n_new_docs). */
  def start(docs: DataFrame, stateDir: String, checkpoint: String)(
      publish: (Long, Long) => Unit = (_, _) => ()): StreamingQuery =
    EpochState.startGated(docs, stateDir, checkpoint, publish)(
      fresh => Seq("occ" -> Corpus.positionedShingles(fresh)))

  /** The accumulated positioned-shingle index (doc_id, pos, sh). */
  def index(spark: SparkSession, stateDir: String): DataFrame =
    Compaction.readTable(spark, s"$stateDir/occ")
      .select(col("doc_id"), col("pos"), col("sh"))

  /** The maximal repeated-span table over everything ingested — equal to
    * batch q143 over the same documents (SpanStreamSpec). */
  def spans(spark: SparkSession, stateDir: String): DataFrame =
    Corpus.mergedSpans(index(spark, stateDir))

  /** Documents whose span set MAY have changed due to `epoch`'s arrivals:
    * every holder of a shingle that epoch added occurrences of (including
    * the new documents themselves). Complete by construction — a document
    * sharing no shingle with the epoch has every one of its shingles'
    * global counts unchanged, so no position's duplicated status (and no
    * span) can move. The recompute set a span-maintenance job feeds to
    * [[Corpus.mergedSpans]] instead of touching the whole corpus. */
  def affectedDocs(spark: SparkSession, stateDir: String,
      epoch: Long): DataFrame = {
    val occ = Compaction.readTable(spark, s"$stateDir/occ")
    val epochSh = occ.filter(col("epoch") === lit(epoch))
      .select(col("sh")).distinct()
    occ.join(epochSh, "sh").select(col("doc_id")).distinct()
  }

  /** Offline small-files maintenance (run while the stream is stopped),
    * on the shared crash-safe [[Compaction]] protocol. The index fold is
    * distinct() — rows are unique per (doc, pos) under the id gate, and
    * distinct also scrubs any duplicates a gate-bypassing operational
    * mistake could have landed. */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    Compaction.compactTable(spark, s"$stateDir/occ",
      df => df.select(col("doc_id"), col("pos"), col("sh")).distinct())
    Compaction.compactTable(spark, s"$stateDir/seen",
      df => df.select(col("doc_id")).distinct())
  }
}
