package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming SCD2 maintenance — the incremental form of the batch history
  * build (q130, [[graft.operators.Lifecycle.scd2Segments]]): each
  * micro-batch carries crawl-epoch observations (doc_id, source, fp), and
  * the maintained state is the slowly-changing-dimension segment table
  * {doc_id, source, fp, valid_from, valid_to}. An arriving observation
  * EXTENDS the doc's latest open segment when the fingerprint is unchanged
  * and the snapshots are contiguous, and OPENS a new segment when the
  * content changed or the doc skipped a snapshot (the q130 gap rule — a doc
  * that left and came back must not fuse across the hole). Fingerprinting
  * is the caller's concern (pass md5(text) or any stable digest):
  * maintenance is independent of how content is summarized. (Reference
  * scope: the reference has no versioned state at all — each run overwrites
  * the previous aggregate, covid_streaming.py:200-226.)
  *
  * State layout at scale (the [[StreamingDedup]] discipline): NO streaming
  * state store — segments live as parquet partitioned by writer epoch under
  * `stateDir/segments`. A segment that keeps extending is re-asserted each
  * snapshot as a superseding row with the same `valid_from` and a larger
  * `valid_to`; [[resolve]] folds supersessions with one groupBy
  * (max(valid_to) per (doc_id, valid_from)) — so writes are append-shaped
  * (no read-modify-write of old partitions, the only layout that scales on
  * an object store) and the fold is a primary-key aggregation. Every
  * join/agg here keys on doc_id (even hash distribution, bounded per-key
  * work); rows carry ids + 32-byte fps only, never text.
  *
  * Per-batch probe cost is O(batch + open set), NOT O(history): the open-
  * segment probe filters `valid_to = snap - 1` — a closed or gapped segment
  * influences the merge identically to an absent one (both "open new"), so
  * only last-snapshot assertions need to be read, and the pushed filter
  * prunes older epoch partitions at the parquet row-group level (each
  * partition's valid_to max is its own epoch). The same row-level predicate
  * is the replay guard: a redelivered batch's own rows carry
  * `valid_to = snap` and are invisible to the probe NO MATTER which
  * partition they sit in — in particular after [[compactState]] folded them
  * into the compacted generation — so the epoch's overwrite stays
  * exactly-once under at-least-once foreachBatch.
  *
  * Snapshot clock: by default the raw micro-batch id IS the crawl-
  * snapshot number (one checkpoint lineage = one snapshot clock, exactly
  * like the batch build's `s` column). That default is only sound when the
  * trigger delivers exactly one snapshot per micro-batch: a spurious EMPTY
  * batch still advances the batch id and gap-breaks every open segment
  * at the next delivery (a conservative split, never a wrong fuse — and the
  * empty batch itself is skipped without writing a partition). When the
  * observations carry their own snapshot number, pass it as `snapCol` and
  * the clock fragility disappears: contiguity is judged on the data itself
  * (the batch id becomes only part of the idempotent partition name),
  * empty batches are harmless, a snapshot split across micro-batches keeps
  * its number, and a batch spanning several snapshots is processed in
  * ascending snapshot order with intra-batch visibility.
  *
  * The epoch loop, lineage base and clock regression guard (`_snap_clock`)
  * are [[EpochState.start]]'s and [[EpochState.snapshotClock]]'s; a
  * fresh-lineage redelivery lands as duplicate rows, which the `valid_to`
  * probe guard hides from the merge, [[resolve]]'s supersession fold
  * collapses and the next [[compactState]]'s `.distinct()` removes.
  */
object Scd2Stream {

  /** Starts maintenance over a stream with columns (doc_id, source, fp)
    * plus, when `snapCol` is set, the snapshot-number column it names, and,
    * when `deleteCol` is set, a boolean column marking TOMBSTONE rows
    * (doc absent from that snapshot's manifest — the
    * [[ManifestReconcileStream.tombstones]] feed; `fp` is ignored on
    * them): these close the doc's life at snap-1 in `closures/` instead
    * of entering the segment merge.
    * `publish` (optional hook) receives per epoch the maintenance report
    * (n_extended, n_opened) AFTER the epoch's rows are committed; like the
    * state write it is at-least-once — a crash between the parquet commit
    * and the checkpoint commit re-fires it, so consumers must key reports
    * by the epoch id (the state table itself stays exactly-once). */
  def start(observations: DataFrame, stateDir: String, checkpoint: String,
      snapCol: Option[String] = None, deleteCol: Option[String] = None)(
      publish: (Long, Long, Long) => Unit = (_, _, _) => ()): StreamingQuery = {
    val spark = observations.sparkSession
    val root = s"$stateDir/segments"
    val clock = new Path(stateDir, "_snap_clock")
    // segments is written last, so it carries the lineage base
    EpochState.start(observations, stateDir, root, checkpoint) { (batch, e) =>
      val raw = e.pin(batch.select(col("doc_id"), col("source"), col("fp"),
        snapCol.map(c => col(c).cast("long")).getOrElse(lit(e.batchId))
          .as("snap"),
        deleteCol.map(c => coalesce(col(c), lit(false)))
          .getOrElse(lit(false)).as("del")))
      // End-of-life close branch (round-11 verdict item 5): rows marked
      // by `deleteCol` are TOMBSTONES — the doc was absent from this
      // snapshot's crawl (e.g. [[ManifestReconcileStream.tombstones]]).
      // A tombstoned doc's open segment is already maximal at snap-1
      // (absence never extended it), so closing is purely a RECORD: the
      // (doc_id, source, snap) row lands in `closures/`, letting
      // [[resolveLive]] distinguish a terminally-closed doc from one
      // that merely hasn't been re-crawled yet. The merge below never
      // sees tombstone rows, so [[resolve]]'s equality with the batch
      // build on the observed rows is untouched; a reappearance after a
      // closure opens a new segment through the ordinary gap rule —
      // with the hole now explicit in `closures`.
      val entries = e.pin(raw.filter(!col("del")).drop("del"))
      val deletes = raw.filter(col("del"))
        .select(col("doc_id"), col("source"), col("snap"))
      // Tombstones participate in the clock — a snapshot whose delivery
      // is ALL tombstones still advances it.
      EpochState.snapshotClock(raw, e, clock, "snapshot") { (snaps, _) =>
        val stored = Compaction.readIfAny(spark, root)
          .getOrElse(entries.limit(0).select(col("doc_id"), col("fp"),
            lit(0L).as("valid_from"), lit(0L).as("valid_to")))
          .select(col("doc_id"), col("fp"), col("valid_from"),
            col("valid_to"))
        // Fold snapshots in order; earlier snapshots' output rows are
        // visible to later ones (acc), so a split/merged delivery
        // derives the same segments as one-batch-per-snapshot.
        var acc = entries.limit(0).select(col("doc_id"), col("source"),
          col("fp"), lit(0L).as("valid_from"), lit(0L).as("valid_to"))
        var (ext, opened) = (0L, 0L)
        snaps.foreach { snap =>
          // Latest open segment per doc: ONLY rows asserted at snap-1
          // matter (closed/gapped segments merge identically to absent
          // ones), which both bounds the scan to the open set and
          // hides a replayed epoch's own rows (valid_to = snap). The
          // supersession fold is kept for defense; post-filter it sees
          // at most one row per doc.
          val open = stored.unionByName(
              acc.select(col("doc_id"), col("fp"),
                col("valid_from"), col("valid_to")))
            .filter(col("valid_to") === lit(snap - 1))
            .groupBy(col("doc_id"))
            .agg(max(struct(col("valid_from"), col("valid_to"),
              col("fp"))).as("t"))
            .select(col("doc_id"), col("t.valid_from").as("o_vf"),
              col("t.valid_to").as("o_vt"), col("t.fp").as("o_fp"))
          // report + union + state write all scan it
          val merged = e.pin(entries.filter(col("snap") === lit(snap))
            .join(open, Seq("doc_id"), "left_outer")
            .withColumn("extends",
              col("o_fp").isNotNull && col("o_fp") === col("fp"))
            .select(col("doc_id"), col("source"), col("fp"),
              when(col("extends"), col("o_vf")).otherwise(lit(snap))
                .as("valid_from"),
              lit(snap).as("valid_to"),
              col("extends")))
          val counts = merged.groupBy()
            .agg(sum(when(col("extends"), 1L).otherwise(0L)),
              sum(when(col("extends"), 0L).otherwise(1L)))
            .collect()
          if (counts.nonEmpty && !counts.head.isNullAt(0)) {
            ext += counts.head.getLong(0)
            opened += counts.head.getLong(1)
          }
          acc = acc.unionByName(merged.drop("extends"))
        }
        e.afterWrite(publish(e.id, ext, opened)) // at-least-once
        // deterministic: a replay rewrites equal closure rows
        (if (deletes.isEmpty) Nil
        else Seq(s"$stateDir/closures" -> deletes)) :+ (root -> acc)
      }
    }
  }

  /** The maintained SCD2 table: one row per (doc_id, valid_from) segment
    * with its final extent — supersessions folded, equal to what the batch
    * build (q130's [[graft.operators.Lifecycle.scd2Segments]]) derives from
    * the same observations. */
  def resolve(spark: SparkSession, stateDir: String): DataFrame =
    Compaction.readTable(spark, s"$stateDir/segments")
      .groupBy(col("doc_id"), col("valid_from"))
      .agg(max(struct(col("valid_to"), col("source"), col("fp"))).as("s"))
      .select(col("doc_id"), col("s.source").as("source"),
        col("s.fp").as("fp"), col("valid_from"),
        col("s.valid_to").as("valid_to"))

  /** Recorded end-of-life closures: (doc_id, source, snap) — the doc was
    * tombstoned at `snap` (absent from that snapshot's crawl); its open
    * segment ended at snap-1. Empty (with schema) when no tombstone has
    * ever been delivered. Duplicate rows from a fresh-lineage redelivery
    * fold away (byte-identical under the redelivery contract). */
  def closures(spark: SparkSession, stateDir: String): DataFrame =
    Compaction.readIfAny(spark, s"$stateDir/closures")
      .getOrElse(spark.range(0).select(col("id").as("doc_id"),
        lit("").as("source"), col("id").as("snap")))
      .select(col("doc_id"), col("source"), col("snap")).distinct()

  /** Each doc's LATEST segment, restricted to docs still alive — i.e. not
    * closed by a tombstone after that segment ended. A closure at snap c
    * kills segments with valid_to <= c-1; a post-closure reappearance
    * opens a fresh segment with valid_to >= c, which survives the filter
    * until a LATER closure. This answers "what is live right now" without
    * knowing the current crawl clock — the question [[resolve]] alone
    * cannot answer, because an open segment and a dead one look identical
    * (both just stop extending). */
  def resolveLive(spark: SparkSession, stateDir: String): DataFrame = {
    val segs = resolve(spark, stateDir)
    val latest = segs.groupBy(col("doc_id"))
      .agg(max(struct(col("valid_to"), col("valid_from"), col("source"),
        col("fp"))).as("t"))
      .select(col("doc_id"), col("t.source").as("source"),
        col("t.fp").as("fp"), col("t.valid_from").as("valid_from"),
        col("t.valid_to").as("valid_to"))
    val lastClose = closures(spark, stateDir)
      .groupBy(col("doc_id")).agg(max(col("snap")).as("closed_at"))
    latest.join(lastClose, Seq("doc_id"), "left_outer")
      .filter(col("closed_at").isNull ||
        col("valid_to") >= col("closed_at"))
      .drop("closed_at")
  }

  /** Offline small-files maintenance ([[Compaction]], distinct fold).
    * Superseded segment rows are distinct rows and survive compaction;
    * [[resolve]]'s fold is unaffected — the probe and the resolved table
    * read identically across a compaction boundary, and the open-segment
    * probe's row-level `valid_to` guard keeps a replayed epoch correct
    * even when compaction already folded its rows into the compacted
    * generation. Closure rows are plain distinct rows too. */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    Compaction.compactTable(spark, s"$stateDir/segments", _.distinct())
    Compaction.compactTable(spark, s"$stateDir/closures", _.distinct())
  }
}
