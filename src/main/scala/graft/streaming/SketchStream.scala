package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming corpus profiler — the incremental twin of the sketch triple
  * (q138 HLL registers, q139 Count-Min counters, q149 KMV sketches):
  * documents arrive as a stream and the profiler maintains EXACTLY the
  * state the batch operators compute from cold parquet, because every
  * sketch is mergeable by construction — registers by per-(source,
  * bucket) MAX, counters by per-(row, bucket) SUM, KMV by per-source
  * min-union ([[graft.operators.Stats.kmvSketchOf]] applied to the
  * union IS the merge). The associativity properties are proven batch-
  * side in StatsSketchSpec; SketchStreamSpec proves the streamed state
  * is equal, row for row, to the batch helpers over the same documents.
  *
  * Exactly-once counting under at-least-once delivery: MAX-merge is
  * naturally idempotent, but SUM-merge double-counts a redelivered
  * document — so arrivals pass a doc_id gate first (the [[PurgeStream]]
  * discipline): state keeps a `seen/epoch=E` id set, each batch
  * anti-joins it (ids only, never text), and sketch deltas are computed
  * over genuinely-new documents alone. Replay of an epoch overwrites its
  * own partitions (state reads self-mask the current epoch); a
  * fresh-lineage redelivery lands in a fresh partition but its delta is
  * empty by the gate. Epoch numbers are collision-free across lineages
  * ([[EpochState.start]]).
  *
  * Shape at scale: the per-batch delta is one shingle pass over the
  * batch (partial-aggregated to ≤ m rows/source + d·w cells before
  * anything shuffles); folds at read time touch O(epochs · state) tiny
  * rows, and [[compactState]] folds epochs into one generation offline.
  * Nothing is ever O(corpus) except the id gate, which is O(ids). */
object SketchStream {
  import graft.operators.Stats.{hllRegistersOf, hllShingles, cmsCounters,
    kmvSketchOf, kmvValues}

  /** Starts the profiler over a stream of document rows (doc_id, source,
    * text). `publish` receives (epoch, n_new_docs) after commit. */
  def start(docs: DataFrame, stateDir: String, checkpoint: String)(
      publish: (Long, Long) => Unit = (_, _) => ()): StreamingQuery =
    EpochState.startGated(docs, stateDir, checkpoint, publish)(fresh => Seq(
      "regs" -> hllRegistersOf(hllShingles(fresh)),
      "counters" -> cmsCounters(fresh
        .select(explode(graft.operators.Mirror.shingleGen(col("text")))
          .as("sh"))),
      "kmv" -> kmvSketchOf(kmvValues(fresh))))

  /** The accumulated HLL register table — per-(source, bucket) MAX over
    * every epoch's slice registers. Equal to the batch registers over
    * the same documents (SketchStreamSpec). */
  def registers(spark: SparkSession, stateDir: String): DataFrame =
    Compaction.readTable(spark, s"$stateDir/regs")
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("rho")).as("rho"))

  /** The accumulated Count-Min counter table — per-(row, bucket) SUM
    * over every epoch's slice counters. Equal to the batch counters
    * over the same documents (SketchStreamSpec). */
  def counters(spark: SparkSession, stateDir: String): DataFrame =
    Compaction.readTable(spark, s"$stateDir/counters")
      .groupBy(col("i"), col("bucket"))
      .agg(sum(col("c")).as("c"))

  /** The accumulated per-source KMV sketch — k smallest distinct hashes
    * over every epoch's slice sketches (the merge IS [[kmvSketchOf]]:
    * min-union over sets, associative/commutative and naturally
    * idempotent, so like the MAX-merged registers it needs no dedup
    * gate of its own — a redelivered document contributes the same hash
    * values, which the distinct inside the fold collapses). Equal to
    * the batch sketch over the same documents (SketchStreamSpec). */
  def kmv(spark: SparkSession, stateDir: String): DataFrame =
    kmvSketchOf(Compaction.readTable(spark, s"$stateDir/kmv"))

  /** Offline small-files maintenance (run while the stream is stopped):
    * fold each table's epochs into one generation numbered below every
    * existing epoch. The folds are the tables' own merge operations, so
    * resolve-after-compact ≡ resolve-before-compact — and the
    * [[Compaction]] marker protocol makes that equality hold across a
    * crash at ANY point of the compaction, which matters here because
    * the counters table is SUM-merged (a crash leaving both generations
    * on disk would otherwise double-count forever — the round-12
    * advice finding; SketchStreamSpec's crash-replay tests drive every
    * crash point). */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    val folds: Seq[(String, DataFrame => DataFrame)] = Seq(
      "regs" -> (df => df.groupBy(col("source"), col("bucket"))
        .agg(max(col("rho")).as("rho"))),
      "counters" -> (df => df.groupBy(col("i"), col("bucket"))
        .agg(sum(col("c")).as("c"))),
      "kmv" -> (df => kmvSketchOf(df)),
      "seen" -> (df => df.select(col("doc_id")).distinct()))
    folds.foreach { case (t, fold) =>
      Compaction.compactTable(spark, s"$stateDir/$t", fold)
    }
  }
}
