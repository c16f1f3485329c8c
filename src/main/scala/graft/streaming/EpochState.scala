package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable.ArrayBuffer

/** The one epoch loop of this package, plus its plumbing: tiny control
  * files and the per-checkpoint-lineage epoch base. Every
  * epoch-partitioned stream runs on [[start]]; [[startGated]] is its
  * id-gated case, and [[snapshotClock]] its guard for streams whose rows
  * carry a crawl-snapshot number ([[Scd2Stream]],
  * [[ManifestReconcileStream]]). No stream keeps its own `foreachBatch`
  * loop or writes its own `epoch=` partitions (EpochWritersSpec scans
  * for both).
  *
  * Exactly-once: a micro-batch writes each of its tables to
  * `<root>/epoch=<base + batch id>` with overwrite, so a replay of the
  * same batch id (same checkpoint) overwrites its own partitions instead
  * of duplicating rows, and a probe that reads every epoch but its own
  * ([[Compaction.priorEpochs]]) never sees its earlier attempt.
  *
  * Lineage base: foreachBatch's batch id restarts at 0 under a fresh
  * checkpoint, so partition names derived from it alone collide across
  * lineages — the recovery pattern "restart with a new checkpoint" would
  * clobber a live `epoch=0` partition. Each lineage therefore writes at
  * `epoch = base + batch id`, where base is assigned ONCE per lineage
  * (one more than every existing epoch and every epoch a compaction
  * folded away, [[Compaction.foldedUpTo]]; persisted in a
  * `_lineage_<md5(checkpoint)>` marker so same-lineage restarts reuse it
  * and replayed epochs still overwrite their own partition). A
  * redelivery under a fresh lineage lands in a FRESH partition as
  * duplicate rows — the consumer's fold and replay guards must absorb
  * duplicates (they do: the seen gate, supersession folds, row-level
  * clock predicates, OR/distinct folds), except for the additive report
  * tables, which count a re-delivered document again.
  *
  * Everything goes through the Hadoop `FileSystem` API so the same code
  * runs on local disk, HDFS, or an object store; control-file writes are
  * single-object PUTs (atomic on every store Hadoop targets). */
private[streaming] object EpochState {

  def fs(spark: SparkSession, dir: String): FileSystem =
    FileSystem.get(new java.net.URI(dir), spark.sessionState.newHadoopConf())

  def readSmall(fs: FileSystem, p: Path): Option[String] =
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val bytes = new Array[Byte](
            math.min(fs.getFileStatus(p).getLen, 4096L).toInt)
          in.readFully(0L, bytes)
          Some(new String(bytes, "UTF-8").trim)
        } finally in.close()
      }
    } catch { case _: Throwable => None }

  def writeSmall(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true) // single-object PUT; last writer wins
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** The epoch numbers of `root`'s `epoch=` partitions (none while
    * `root` does not exist). */
  def epochs(fs: FileSystem, root: String): Seq[Long] = {
    val p = new Path(root)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("epoch=")).map(_.stripPrefix("epoch=").toLong)
  }

  /** The epoch-number base for this checkpoint lineage over the
    * epoch-partitioned table at `root` (marker files live in `stateDir`,
    * out of compaction's way): reused from the lineage's marker when
    * present, else one more than every existing epoch and every epoch a
    * compaction folded away ([[Compaction.foldedUpTo]]) — collision-free
    * with every prior lineage, also where an epoch number is stored as
    * data (a row's origin or sighting epoch, a Layout pointer's covered
    * epochs) and survives the deletion of its directory. */
  private def lineageBase(fs: FileSystem, stateDir: String, root: String,
      checkpoint: String): Long = {
    val marker = new Path(stateDir,
      "_lineage_" + graft.operators.ArtifactStore.md5Hex(checkpoint).take(16))
    readSmall(fs, marker).map(_.toLong).getOrElse {
      val base = (epochs(fs, root) :+ Compaction.foldedUpTo(fs, root)).max + 1
      fs.mkdirs(new Path(stateDir))
      writeSmall(fs, marker, base.toString)
      base
    }
  }

  /** One micro-batch of [[start]]: its epoch number in this lineage
    * (`id`), its raw micro-batch id (`batchId`, which restarts at 0 under
    * a fresh checkpoint), the DataFrames its step pins for the epoch's
    * writes, and the actions it defers until every table of the epoch is
    * on disk. */
  final class Epoch private[EpochState] (val id: Long, val batchId: Long) {
    private[EpochState] val pinned = ArrayBuffer.empty[DataFrame]
    private[EpochState] val deferred = ArrayBuffer.empty[() => Unit]

    /** Persists `df` until the epoch's tables are written. */
    def pin(df: DataFrame): DataFrame = { pinned += df.persist(); df }

    /** Runs `f` after the epoch's last table is written (in call order). */
    def afterWrite(f: => Unit): Unit = deferred += (() => f)
  }

  /** Starts the epoch step over `rows`: the lineage base comes from
    * `last`, the root of the table every micro-batch writes last; then
    * each micro-batch runs `step`, writes each returned (root, table) to
    * `<root>/epoch=<epoch>` in order (partitioned by `partitionBy`), runs
    * the step's deferred actions and unpersists what it pinned. Probes
    * publish inside `step` and must materialize before returning, so a
    * batch never sees its own rows.
    *
    * Taking the base from the root written last makes a fresh-lineage
    * restart after a crash between two writes reuse the crashed epoch's
    * number and overwrite its partial state. */
  def start(rows: DataFrame, stateDir: String, last: String,
      checkpoint: String, partitionBy: Seq[String] = Nil)(
      step: (DataFrame, Epoch) => Seq[(String, DataFrame)]): StreamingQuery = {
    val base = lineageBase(fs(rows.sparkSession, stateDir), stateDir, last,
      checkpoint)
    rows.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val e = new Epoch(base + batchId, batchId)
        try {
          step(batch.toDF(), e).foreach { case (root, df) =>
            writeEpoch(root, e.id, df, partitionBy)
          }
          e.deferred.foreach(_())
        } finally e.pinned.foreach(_.unpersist())
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** Overwrites `<root>/epoch=<epoch>` with `df`, partitioned by
    * `partitionBy` — the one writer of `epoch=` partitions ([[start]],
    * [[seedOnce]], [[Compaction.compactTable]]). */
  def writeEpoch(root: String, epoch: Long, df: DataFrame,
      partitionBy: Seq[String] = Nil): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionBy: _*)
      .parquet(s"$root/epoch=$epoch")

  /** The snapshot clock of a stream whose rows carry a crawl-snapshot
    * number `snap`, run inside a [[start]] step over the batch's `rows`.
    * An empty batch returns no tables and leaves the clock alone. Else
    * the clock file `clock` — the last batch's (min, max) snapshot range
    * and the snapshot before it — admits the batch iff it is strictly
    * newer (`min > stored max`) or the EXACT redelivery of the stored
    * range: the at-least-once replay, whose offsets were fixed at
    * checkpoint time and whose content must be byte-identical. Anything
    * else fails fast, before any write, with a "`what` clock regression"
    * — a snapshot at or below the clock would be processed as new. `step`
    * receives the batch's sorted distinct snapshots and the snapshot
    * before the first (-1 when none; a replay gets the original one),
    * and the clock advances in [[Epoch.afterWrite]], once every table is
    * on disk: a crash in between leaves it one batch stale, which the
    * replay case admits. The guard is O(1) — one small file, never a
    * history scan. */
  def snapshotClock(rows: DataFrame, e: Epoch, clock: Path, what: String)(
      step: (Seq[Long], Long) => Seq[(String, DataFrame)])
      : Seq[(String, DataFrame)] = {
    val snaps = rows.select(col("snap")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    if (snaps.isEmpty) Nil
    else {
      val fs = this.fs(rows.sparkSession, clock.toString)
      val stored = readSmall(fs, clock).map(_.split(",").map(_.toLong))
      val replay = stored.exists(a => a(0) == snaps.head && a(1) == snaps.last)
      stored.foreach(a => require(replay || snaps.head > a(1),
        s"$what clock regression: batch carries snapshot ${snaps.head} " +
          s"but $clock already records ${a(1)} — only the last processed " +
          "batch may be redelivered"))
      val prev = stored.fold(-1L)(a =>
        if (replay) a.lift(2).getOrElse(-1L) else a(1))
      e.afterWrite(writeSmall(fs, clock, s"${snaps.head},${snaps.last},$prev"))
      step(snaps, prev)
    }
  }

  /** Writes `tables` as the base generation `<root>/epoch=-1`, then the
    * `_seeded` control file in `stateDir` — unless that file exists.
    * Compaction folds `epoch=-1` away but never touches the control file,
    * so a restart after a compaction does not seed twice. */
  def seedOnce(spark: SparkSession, stateDir: String)(
      tables: => Seq[(String, DataFrame)]): Unit = {
    val done = new Path(stateDir, "_seeded")
    val fs = this.fs(spark, stateDir)
    if (readSmall(fs, done).isEmpty) {
      tables.foreach { case (root, df) => writeEpoch(root, -1L, df) }
      writeSmall(fs, done, "-1")
    }
  }

  /** The id-gated case of [[start]] over a stream of rows keyed by
    * `doc_id`: each micro-batch drops the ids already recorded in
    * `$stateDir/seen` by any OTHER epoch ([[Compaction.priorEpochs]], so
    * a replay never gates itself out), persists the new rows, writes
    * `tables(fresh)` to `$stateDir/<name>/epoch=<epoch>` in order, then
    * the batch's ids to `seen`, then runs `commit(epoch)` and finally
    * `publish(epoch, n_new_docs)`. `seenView` narrows the gate's view of
    * `seen` (it receives the prior epochs with their `epoch` column).
    *
    * `seen` is the table written last, so it carries the lineage base,
    * and an epoch whose ids are gated out has all of its state on disk. */
  def startGated(docs: DataFrame, stateDir: String, checkpoint: String,
      publish: (Long, Long) => Unit,
      seenView: DataFrame => DataFrame = identity,
      commit: Long => Unit = _ => ())(
      tables: DataFrame => Seq[(String, DataFrame)]): StreamingQuery = {
    val spark = docs.sparkSession
    val seenRoot = s"$stateDir/seen"
    start(docs, stateDir, seenRoot, checkpoint) { (batch, e) =>
      val seen = Compaction.priorEpochs(spark, seenRoot, e.id)
        .map(seenView(_).select(col("doc_id")))
        .getOrElse(batch.limit(0).select(col("doc_id")))
      val fresh = e.pin(batch.dropDuplicates("doc_id")
        .join(seen, Seq("doc_id"), "left_anti"))
      val n = fresh.count()
      e.afterWrite { commit(e.id); publish(e.id, n) }
      (tables(fresh) :+ ("seen" -> fresh.select(col("doc_id"))))
        .map { case (name, df) => s"$stateDir/$name" -> df }
    }
  }
}
