package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** Shared plumbing for epoch-partitioned streaming state directories:
  * tiny control files, the per-checkpoint-lineage epoch base (used by
  * every lineage-numbered stream — [[Scd2Stream]],
  * [[ManifestReconcileStream]], [[LayoutStream]], [[PurgeStream]],
  * [[BloomFilterStream]] and the gated streams below), and the one
  * id-gated epoch step [[startGated]] that [[BlocklistStream]],
  * [[ClassifierStream]], [[WebCorpusStream]], [[SpanStream]],
  * [[PerplexityStream]], [[SketchStream]] and [[ManifestStream]] run on.
  *
  * Lineage base: foreachBatch's epochId restarts at 0 under a fresh
  * checkpoint, so partition names derived from it alone collide across
  * lineages — the recovery pattern "restart with a new checkpoint" would
  * clobber a live `epoch=0` partition. Each lineage therefore writes at
  * `epoch = base + epochId`, where base is assigned ONCE per lineage
  * (max existing epoch + 1, persisted in a `_lineage_<md5(checkpoint)>`
  * marker so same-lineage restarts reuse it and replayed epochs still
  * overwrite their own partition). A redelivery under a fresh lineage
  * lands in a FRESH partition as duplicate rows — the consumer's fold
  * and replay guards must absorb duplicates (they do: supersession folds
  * and row-level clock predicates), and compaction's `.distinct()`
  * physically removes them.
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

  /** The epoch-number base for this checkpoint lineage over the
    * epoch-partitioned table at `root` (marker files live in its parent
    * `stateDir`, out of compaction's way): reused from the lineage's
    * marker when present, else max(max existing epoch, `floor`) + 1 —
    * collision-free with every prior lineage AND with compacted
    * generations.
    *
    * `floor` exists because on-disk epoch directories are NOT a durable
    * high-water mark: a consumer whose maintenance sweep deletes covered
    * epoch dirs (LayoutStream's vacuum) could otherwise hand a fresh
    * lineage base 0 while durable state (pointer files) still records
    * covered epochs up to N — silently masking every new row until the
    * counter passed N (round-13 advice). Callers with such durable state
    * pass its high-water epoch as `floor`; the marker then persists the
    * floored base, so same-lineage restarts stay stable even if the
    * durable state advances later. */
  def lineageBase(fs: FileSystem, stateDir: String, root: String,
      checkpoint: String, floor: Long = -1L): Long = {
    val marker = new Path(stateDir,
      "_lineage_" + graft.operators.ArtifactStore.md5Hex(checkpoint).take(16))
    readSmall(fs, marker).map(_.toLong).getOrElse {
      val rootPath = new Path(root)
      val maxEpoch =
        if (!fs.exists(rootPath)) -1L
        else fs.listStatus(rootPath).toSeq
          .map(_.getPath.getName)
          .filter(_.startsWith("epoch="))
          .map(_.stripPrefix("epoch=").toLong)
          .foldLeft(-1L)(math.max)
      val base = math.max(maxEpoch, floor) + 1
      fs.mkdirs(new Path(stateDir))
      writeSmall(fs, marker, base.toString)
      base
    }
  }

  /** Starts the id-gated epoch step over a stream of rows keyed by
    * `doc_id`: each micro-batch drops the ids already recorded in
    * `$stateDir/seen` by any OTHER epoch ([[Compaction.priorEpochs]], so
    * a replay never gates itself out), persists the new rows, writes
    * `tables(fresh)` to `$stateDir/<name>/epoch=<epoch>` in order, then
    * the batch's ids to `seen`, then runs `commit(epoch)` and finally
    * `publish(epoch, n_new_docs)`. `seenView` narrows the gate's view of
    * `seen` (it receives the prior epochs with their `epoch` column).
    *
    * Two orderings carry the exactly-once argument. The lineage base is
    * derived from the `seen` root, so a fresh-lineage restart after a
    * crash between the state write and the `seen` write reuses the
    * crashed epoch's number and overwrites its partial state. And `seen`
    * is written after every state table, so an epoch whose ids are gated
    * out has all of its state on disk. */
  def startGated(docs: DataFrame, stateDir: String, checkpoint: String,
      publish: (Long, Long) => Unit,
      seenView: DataFrame => DataFrame = identity,
      commit: Long => Unit = _ => ())(
      tables: DataFrame => Seq[(String, DataFrame)]): StreamingQuery = {
    val spark = docs.sparkSession
    val seenRoot = s"$stateDir/seen"
    val base = lineageBase(fs(spark, stateDir), stateDir, seenRoot,
      checkpoint)
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], epochId: Long) =>
        val epoch = base + epochId
        val seen = Compaction.priorEpochs(spark, seenRoot, epoch)
          .map(seenView(_).select(col("doc_id")))
          .getOrElse(batch.limit(0).select(col("doc_id")))
        val fresh = batch.toDF()
          .dropDuplicates("doc_id")
          .join(seen, Seq("doc_id"), "left_anti")
        fresh.persist()
        try {
          val n = fresh.count()
          (tables(fresh) :+ ("seen" -> fresh.select(col("doc_id"))))
            .foreach { case (name, df) =>
              df.write.mode("overwrite")
                .parquet(s"$stateDir/$name/epoch=$epoch")
            }
          commit(epoch)
          publish(epoch, n)
        } finally { fresh.unpersist(); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
