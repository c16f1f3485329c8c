package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming decontamination-filter maintenance — the incremental twin
  * of q142's filter build ([[graft.operators.Bloom]]): benchmark
  * releases arrive as a stream of eval documents and the Bloom filter
  * extends continuously, so the corpus-side pre-filter probe always
  * runs against the CURRENT eval surface.
  *
  * This is the third idempotence class among the streaming sketch
  * twins, and the simplest: bitwise OR is idempotent (a|a = a), so —
  * unlike [[SketchStream]]'s sum-merged counters, which need a doc_id
  * gate — duplicate deliveries, overlapping batches, same-lineage
  * replays AND fresh-lineage redeliveries all fold away in the merge
  * itself. State is per-epoch slice filters under `stateDir/words`,
  * written by [[EpochState.start]] (lineage-safe numbering — collisions
  * would not corrupt OR-state, but keeping every epoch's slice intact
  * preserves the at-least-once audit trail); resolve() is one ≤ 32 K-row
  * bit_or rollup. BloomStreamSpec proves streamed filter ≡ batch
  * filter with NO gate under aggressive duplication, and that probing
  * with the streamed filter reproduces q142's candidate set.
  *
  * Shape at scale: the per-batch delta touches only the batch (one
  * shingle pass collapsing to ≤ 32 K rows map-side); the corpus probe
  * ([[graft.operators.Bloom.candidates]]) broadcasts the resolved
  * filter. Nothing is ever O(corpus). */
object BloomFilterStream {

  /** Starts filter maintenance over a stream of eval document rows
    * (doc_id, source, text). `publish` receives (epoch, wordsTouched)
    * after the epoch's slice is committed. */
  def start(evalDocs: DataFrame, stateDir: String, checkpoint: String)(
      publish: (Long, Long) => Unit = (_, _) => ()): StreamingQuery = {
    val wordsRoot = s"$stateDir/words"
    EpochState.start(evalDocs, stateDir, wordsRoot, checkpoint) { (batch, e) =>
      val slice = e.pin(graft.operators.Bloom.filterWords(
        batch.select(
          explode(graft.operators.Mirror.shingle5Gen(col("text")))
            .as("sh")).distinct()))
      val n = slice.count()
      e.afterWrite(publish(e.id, n))
      Seq(wordsRoot -> slice)
    }
  }

  /** The current filter — per-word bitwise OR over every epoch slice.
    * Equal to the batch filter over the union of all delivered eval
    * docs, duplicates and replays included (OR-idempotence). */
  def filter(spark: SparkSession, stateDir: String): DataFrame =
    orFold(Compaction.readTable(spark, s"$stateDir/words"))

  private def orFold(df: DataFrame): DataFrame =
    df.groupBy(col("word")).agg(expr("bit_or(bits)").as("bits"))

  /** Pre-filter a corpus relation (doc_id, source, text) against the
    * CURRENT streamed filter — q142's candidate stage, continuously
    * maintained. */
  def probe(spark: SparkSession, stateDir: String,
      corpus: DataFrame): DataFrame =
    graft.operators.Bloom.candidates(corpus, filter(spark, stateDir))

  /** Offline small-files maintenance (run while the stream is
    * stopped): OR-fold every epoch slice into one generation numbered
    * below every existing epoch on the shared [[Compaction]] protocol
    * — the fold IS the resolve operation, so probe-after-compact ≡
    * probe-before-compact. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    Compaction.compactTable(spark, s"$stateDir/words", orFold)
}
