package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable.ArrayBuffer

/** The one epoch step every epoch-partitioned stream in this package
  * runs on, plus its plumbing: tiny control files and the
  * per-checkpoint-lineage epoch base. [[start]] is the ungated step
  * ([[StreamingDedup.startIncremental]], [[WinnowStream]],
  * [[VectorDedupStream]], [[RecrawlStream]], [[NoveltyStream]],
  * [[TokenStatsStream]], [[BoilerplateStream]], [[DsirStream]],
  * [[QualityStream]], [[BloomFilterStream]], [[PurgeStream]]);
  * [[startGated]] is its id-gated case ([[BlocklistStream]],
  * [[ClassifierStream]], [[WebCorpusStream]], [[SpanStream]],
  * [[PerplexityStream]], [[SketchStream]], [[ManifestStream]]).
  * [[Scd2Stream]], [[ManifestReconcileStream]] and [[LayoutStream]] keep
  * their own loops over [[lineageBase]].
  *
  * Exactly-once: a micro-batch writes each of its tables to
  * `<root>/epoch=<base + epochId>` with overwrite, so a replay of the
  * same epoch id (same checkpoint) overwrites its own partitions instead
  * of duplicating rows, and a probe that reads every epoch but its own
  * ([[Compaction.priorEpochs]]) never sees its earlier attempt.
  *
  * Lineage base: foreachBatch's epochId restarts at 0 under a fresh
  * checkpoint, so partition names derived from it alone collide across
  * lineages — the recovery pattern "restart with a new checkpoint" would
  * clobber a live `epoch=0` partition. Each lineage therefore writes at
  * `epoch = base + epochId`, where base is assigned ONCE per lineage
  * (one more than every existing or folded epoch, persisted in a
  * `_lineage_<md5(checkpoint)>` marker so same-lineage restarts reuse
  * it and replayed epochs still overwrite their own partition). A
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

  /** The epoch-number base for this checkpoint lineage over the
    * epoch-partitioned table at `root` (marker files live in `stateDir`,
    * out of compaction's way): reused from the lineage's marker when
    * present, else one more than the highest of every existing epoch,
    * every epoch a compaction folded away ([[Compaction.foldedUpTo]])
    * and `floor` — collision-free with every prior lineage, also where
    * an epoch number is stored as data (a row's origin or sighting
    * epoch) and survives in a compacted generation.
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
      val epochs =
        if (!fs.exists(rootPath)) Nil
        else fs.listStatus(rootPath).toSeq
          .map(_.getPath.getName)
          .filter(_.startsWith("epoch="))
          .map(_.stripPrefix("epoch=").toLong)
      val base = (epochs :+ Compaction.foldedUpTo(fs, root) :+ floor).max + 1
      fs.mkdirs(new Path(stateDir))
      writeSmall(fs, marker, base.toString)
      base
    }
  }

  /** One micro-batch of [[start]]: its epoch number in this lineage, the
    * DataFrames its step pins for the epoch's writes, and the actions it
    * defers until every table of the epoch is on disk. */
  final class Epoch private[EpochState] (val id: Long) {
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
    * `<root>/epoch=<epoch>` in order, runs the step's deferred actions
    * and unpersists what it pinned. Probes publish inside `step` and must
    * materialize before returning, so a batch never sees its own rows.
    *
    * Taking the base from the root written last makes a fresh-lineage
    * restart after a crash between two writes reuse the crashed epoch's
    * number and overwrite its partial state. */
  def start(rows: DataFrame, stateDir: String, last: String,
      checkpoint: String)(
      step: (DataFrame, Epoch) => Seq[(String, DataFrame)]): StreamingQuery = {
    val base = lineageBase(fs(rows.sparkSession, stateDir), stateDir, last,
      checkpoint)
    rows.writeStream
      .foreachBatch { (batch: Dataset[Row], epochId: Long) =>
        val e = new Epoch(base + epochId)
        try {
          step(batch.toDF(), e).foreach(write(e.id))
          e.deferred.foreach(_())
        } finally e.pinned.foreach(_.unpersist())
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  private def write(epoch: Long)(table: (String, DataFrame)): Unit =
    table._2.write.mode("overwrite").parquet(s"${table._1}/epoch=$epoch")

  /** Writes `tables` as the base generation `<root>/epoch=-1`, then the
    * `_seeded` control file in `stateDir` — unless that file exists.
    * Compaction folds `epoch=-1` away but never touches the control file,
    * so a restart after a compaction does not seed twice. */
  def seedOnce(spark: SparkSession, stateDir: String)(
      tables: => Seq[(String, DataFrame)]): Unit = {
    val done = new Path(stateDir, "_seeded")
    val fs = this.fs(spark, stateDir)
    if (readSmall(fs, done).isEmpty) {
      tables.foreach(write(-1L))
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
