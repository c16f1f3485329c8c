package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming `removed` reconciliation — the lifecycle class a pure ingest
  * stream cannot observe ([[RecrawlStream]]'s Scaladoc: absence is
  * unobservable in a stream of arrivals). Crawlers solve it by delivering
  * per-snapshot MANIFESTS — the complete doc_id set of each crawl — and
  * reconciling: a doc present in the previous manifest but absent from the
  * delivered one is emitted as a TOMBSTONE at that snapshot. This stream
  * is that reconciler, the incremental twin of the batch snapshot diff's
  * `removed`/`added` classes (q126,
  * [[graft.operators.Lifecycle.q126SnapshotDiff]] —
  * ManifestReconcileSpec proves stream ≡ batch anti-join per epoch).
  *
  * Input: a stream of manifest rows (doc_id, source) — one row per doc
  * per crawl snapshot; with `snapCol`, rows carry their snapshot number
  * (empty batches harmless, split/merged deliveries fold in ascending
  * order — the [[Scd2Stream]] clock discipline), else the raw
  * micro-batch id is the snapshot clock (one lineage = one clock).
  *
  * State layout at scale (the [[StreamingDedup]] discipline): NO streaming
  * state store — two append-shaped epoch-partitioned parquet tables under
  * `stateDir`, each `epoch=E/snap=S/` (snap is a PARTITION column at every
  * generation, the compacted one included): `presence/` (each manifest as
  * delivered) and `tombstones/` (docs removed AT snap). Per-batch cost is
  * O(batch + previous manifest), never O(history): the previous manifest
  * is read with a `snap = prev` PARTITION filter (directory-pruned), and
  * the reconcile is one left-anti join each way keyed on doc_id (primary
  * key — even distribution, no skew); rows carry ids + source only, never
  * text. The epoch loop, lineage base and snapshot clock
  * (`_manifest_clock`) are [[EpochState.start]]'s and
  * [[EpochState.snapshotClock]]'s: a replay of the LAST batch re-reads the
  * SAME prev manifest the clock recorded and overwrites its own epoch
  * partitions; any other snapshot at or below the clock fails fast.
  *
  * Reappearance: a doc tombstoned at s and present again in manifest s'
  * simply re-enters presence at s' — downstream consumers (e.g. the SCD2
  * close branch) see close-then-reopen with an explicit hole.
  */
object ManifestReconcileStream {

  /** Starts reconciliation over a stream of manifest rows (doc_id,
    * source [, snapCol]). `publish` receives per processed snapshot
    * (snap, n_added, n_removed, n_carried) AFTER the epoch's state is
    * committed (at-least-once; key consumption by snap). */
  def start(manifests: DataFrame, stateDir: String, checkpoint: String,
      snapCol: Option[String] = None)(
      publish: (Long, Long, Long, Long) => Unit = (_, _, _, _) => ())
      : StreamingQuery = {
    val spark = manifests.sparkSession
    val presenceRoot = s"$stateDir/presence"
    val clock = new Path(stateDir, "_manifest_clock")
    // presence is written last, so it carries the lineage base
    EpochState.start(manifests, stateDir, presenceRoot, checkpoint,
      partitionBy = Seq("snap")) { (batch, e) =>
      val entries = e.pin(batch.select(col("doc_id"), col("source"),
        snapCol.map(c => col(c).cast("long")).getOrElse(lit(e.batchId))
          .as("snap")))
      EpochState.snapshotClock(entries, e, clock, "manifest") {
        (snaps, firstPrev) =>
          // Fold snapshots ascending with intra-batch visibility; write
          // once per table at the end (one epoch partition per batch).
          var prevManifest = Compaction.readIfAny(spark, presenceRoot)
            .map(_.filter(col("snap") === lit(firstPrev)) // partition-pruned
              .select(col("doc_id"), col("source")).distinct())
            .getOrElse(entries.limit(0).select(col("doc_id"), col("source")))
          var presAcc = entries.limit(0)
          var tombAcc = entries.limit(0)
          val reports = snaps.map { snap =>
            val manifest = e.pin(entries.filter(col("snap") === lit(snap))
              .select(col("doc_id"), col("source")).distinct())
            val tombs = prevManifest
              .join(manifest.select(col("doc_id")), Seq("doc_id"),
                "left_anti")
              .select(col("doc_id"), col("source"), lit(snap).as("snap"))
            val nAdded = manifest
              .join(prevManifest.select(col("doc_id")), Seq("doc_id"),
                "left_anti").count()
            val nRemoved = tombs.count()
            presAcc = presAcc.unionByName(
              manifest.select(col("doc_id"), col("source"),
                lit(snap).as("snap")))
            tombAcc = tombAcc.unionByName(tombs)
            prevManifest = manifest
            (snap, nAdded, nRemoved, manifest.count() - nAdded)
          }
          e.afterWrite(reports.foreach { case (s, a, r, c) =>
            publish(s, a, r, c) })
          Seq(s"$stateDir/tombstones" -> tombAcc, presenceRoot -> presAcc)
      }
    }
  }

  /** All tombstones reconciled so far: (doc_id, source, snap) — the doc
    * was present in the snapshot before `snap` and absent from `snap`'s
    * manifest. Duplicate rows from a fresh-lineage redelivery are folded
    * by distinct (byte-identical under the redelivery contract). */
  def tombstones(spark: SparkSession, stateDir: String): DataFrame =
    Compaction.readTable(spark, s"$stateDir/tombstones")
      .select(col("doc_id"), col("source"),
        col("snap").cast("long").as("snap"))
      .distinct()

  /** The live doc set as of the LAST reconciled manifest. */
  def live(spark: SparkSession, stateDir: String): DataFrame = {
    val fs = EpochState.fs(spark, stateDir)
    val cur = EpochState.readSmall(fs, new Path(stateDir, "_manifest_clock"))
      .map(_.split(",")(1).toLong)
    cur match {
      case None => // typed empty (like closures()/PurgeStream.read): callers
        // selecting doc_id/source must get zero rows, not AnalysisException
        spark.range(0).select(col("id").as("doc_id"),
          lit("").as("source")).limit(0)
      case Some(mx) =>
        Compaction.readTable(spark, s"$stateDir/presence")
          .filter(col("snap") === lit(mx))
          .select(col("doc_id"), col("source")).distinct()
    }
  }

  /** Offline small-files maintenance ([[Compaction]], distinct fold).
    * `snap` stays a partition column of the folded generation, so the
    * snap-keyed partition pruning is identical across a compaction
    * boundary. Run while the stream is stopped. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    Seq("presence", "tombstones").foreach { t =>
      Compaction.compactTable(spark, s"$stateDir/$t",
        _.select(col("doc_id"), col("source"),
          col("snap").cast("long").as("snap")).distinct(),
        partitionBy = Seq("snap"))
    }
}
