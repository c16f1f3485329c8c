package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one crash-safe compaction protocol for epoch-partitioned streaming
  * state tables, and the marker-aware reads that go with it. Every
  * epoch-folded table folds through [[compactTable]] with its own fold,
  * and every stream on [[EpochState.start]] reads its folded tables
  * through [[readTable]], [[readIfAny]] or [[priorEpochs]]; no stream
  * keeps its own compaction. [[LayoutStream]]'s per-zp pointer
  * generations are not epoch folds: they record their high-water epoch
  * in the same `_folded_upto` file.
  *
  * MAX/distinct-merged tables are idempotent under a crashed compaction,
  * but SUM- and occurrence-counted tables are not: a crash between
  * writing the folded generation and deleting the originals would leave
  * BOTH on disk and every read would double-count permanently (the
  * round-12 advice finding). So a compaction commits through a
  * single-object marker (`_compacting`, underscore-prefixed — invisible
  * to partition discovery; a one-key PUT is atomic on every store Hadoop
  * targets) naming the folded generation and the epochs it covers, and
  * reads resolve the marker:
  *  - no marker                        → all epoch dirs authoritative;
  *  - marker, folded gen NOT committed → fold crashed mid-write: ignore
  *    the partial folded gen (readable only once its `_SUCCESS`
  *    job-commit file lands), originals authoritative;
  *  - marker, folded gen committed     → folded gen authoritative, the
  *    covered epochs (deleted or not) excluded.
  * Every crash point therefore reads exactly once. Exclusion filters hit
  * the `epoch` PARTITION column, so superseded dirs are pruned, never
  * scanned. [[compactTable]] first COMPLETES any interrupted compaction,
  * making a re-run the repair path. SketchStreamSpec drives the crash
  * points against this shared code. */
private[streaming] object Compaction {

  def marker(root: String) = new Path(root, "_compacting")

  private case class Pending(next: Long, covers: Set[Long])

  private def readPending(fs: FileSystem, root: String): Option[Pending] =
    try {
      val p = marker(root)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val parts = text.trim.split(";")
        Some(Pending(parts(0).toLong,
          parts.drop(1).filter(_.nonEmpty).map(_.toLong).toSet))
      }
    } catch { case _: Throwable => None }

  private def foldedCommitted(fs: FileSystem, root: String,
      next: Long): Boolean =
    try fs.exists(new Path(s"$root/epoch=$next/_SUCCESS"))
    catch { case _: Throwable => false }

  /** The highest epoch a compaction of `root` has folded away, or -1: a
    * control file that outlives the folded directories, so a new lineage
    * ([[EpochState.start]]) still numbers after them. */
  def foldedUpTo(fs: FileSystem, root: String): Long =
    EpochState.readSmall(fs, new Path(root, "_folded_upto"))
      .map(_.toLong).getOrElse(-1L)

  /** Epoch partitions a reader must EXCLUDE right now (marker-resolved). */
  def excludedEpochs(fs: FileSystem, root: String): Set[Long] =
    readPending(fs, root) match {
      case Some(p) if foldedCommitted(fs, root, p.next) => p.covers
      case Some(p) => Set(p.next) // partial fold: originals authoritative
      case None => Set.empty
    }

  /** Marker-aware read of an epoch-partitioned table. */
  def readTable(spark: SparkSession, root: String): DataFrame = {
    val excluded = excludedEpochs(EpochState.fs(spark, root), root)
    val df = spark.read.parquet(root)
    if (excluded.isEmpty) df
    else df.filter(!col("epoch").isin(excluded.toSeq: _*)) // partition-pruned
  }

  /** [[readTable]] of `root`, or None while `root` holds no partition. */
  def readIfAny(spark: SparkSession, root: String): Option[DataFrame] = {
    val fs = EpochState.fs(spark, root)
    val p = new Path(root)
    if (fs.exists(p) && fs.listStatus(p).nonEmpty)
      Some(readTable(spark, root))
    else None
  }

  /** `root`'s epochs other than `epoch` (with their `epoch` column), or
    * None while `root` holds no partition: the state a micro-batch may
    * probe. A replayed epoch overwrites its own partition, so it must
    * never see its earlier attempt's rows. */
  def priorEpochs(spark: SparkSession, root: String,
      epoch: Long): Option[DataFrame] =
    readIfAny(spark, root)
      .map(_.filter(col("epoch") =!= lit(epoch))) // replay-safe self-mask

  /** Finish an interrupted compaction: committed fold → delete the covered
    * dirs; uncommitted fold → delete the partial folded dir. Then clear
    * the marker. Idempotent. */
  private def completePending(spark: SparkSession, root: String): Unit = {
    val fs = EpochState.fs(spark, root)
    readPending(fs, root).foreach { p =>
      if (foldedCommitted(fs, root, p.next))
        p.covers.foreach { e =>
          try { fs.delete(new Path(s"$root/epoch=$e"), true); () }
          catch { case _: Throwable => () }
        }
      else {
        try { fs.delete(new Path(s"$root/epoch=${p.next}"), true); () }
        catch { case _: Throwable => () }
      }
      fs.delete(marker(root), false)
    }
  }

  /** Fold all of `root`'s epoch partitions into one generation numbered
    * below every existing epoch (partitioned by `partitionBy`, like the
    * epochs it folds), committing through the marker protocol above.
    * `fold` must be the table's own merge operation, so resolve-after ≡
    * resolve-before at every crash point. */
  def compactTable(spark: SparkSession, root: String,
      fold: DataFrame => DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    val fs = EpochState.fs(spark, root)
    val rootPath = new Path(root)
    if (fs.exists(rootPath)) {
      completePending(spark, root) // repair any interrupted compaction
      val nums = EpochState.epochs(fs, root)
      if (nums.length > 1) {
        val next = nums.min - 1
        EpochState.writeSmall(fs, new Path(root, "_folded_upto"),
          (nums :+ foldedUpTo(fs, root)).max.toString)
        // marker before the fold: until the folded gen's _SUCCESS lands,
        // readers resolve the marker to "ignore epoch=next" — a crash
        // mid-fold leaves the originals authoritative, never both
        // generations
        val out = fs.create(marker(root), true)
        try out.write(s"$next;${nums.mkString(";")}".getBytes("UTF-8"))
        finally out.close()
        val folded = fold(spark.read.parquet(root)
          .filter(col("epoch") =!= lit(next)).drop("epoch"))
        EpochState.writeEpoch(root, next, folded, partitionBy)
        // _SUCCESS is on disk → folded gen authoritative from here on
        nums.foreach(e => fs.delete(new Path(s"$root/epoch=$e"), true))
        fs.delete(marker(root), false)
      }
    }
  }
}
