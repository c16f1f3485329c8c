package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType

/** Streaming Z-order layout maintenance — the incremental twin of q141
  * and the lakehouse OPTIMIZE job: arriving documents are routed into
  * their Z-order partition on write, and partitions whose small-file
  * count crosses a bound are selectively rewritten (compacted), so the
  * box/band partition pruning q141 plans — and LayoutSpec proves on
  * batch-written files — SURVIVES continuous ingest instead of drowning
  * in per-epoch file fragments.
  *
  * Table layout (all Hadoop-`FileSystem`, local/HDFS/S3A alike):
  * {{{
  *   <table>/delta/epoch=E/zp=X/part-*.parquet   per-batch appends
  *   <table>/base/zp=X/gen=G/part-*.parquet      compacted tier
  *   <table>/base/zp=X/_gen                      pointer: "G;e1,e2,…"
  * }}}
  * The per-zp pointer file IS the table manifest: it names the committed
  * base generation and the delta epochs folded into it. Compaction
  * commits by writing the new generation into a fresh `gen=` directory
  * and then flipping the pointer with ONE single-object PUT (atomic on
  * every store Hadoop targets — the [[graft.operators.ArtifactStore]]
  * protocol): a crash before the flip leaves the old pointer naming the
  * old generation while reads still see the not-yet-covered delta
  * slices — every crash point reads each row exactly once. Superseded
  * generations and covered delta slices become unreferenced garbage a
  * maintenance sweep can delete at leisure; correctness never depends on
  * the deletes.
  *
  * Exactly-once rows under at-least-once delivery: the epoch loop and
  * lineage base are [[EpochState.start]]'s, so a same-lineage replay
  * overwrites its own `epoch=E` directory; a fresh-lineage redelivery is
  * emptied by the id gate — arrivals anti-join the table's OWN doc_id set
  * (self-masking the current epoch, so an interrupted epoch's partial
  * delta never suppresses its own rewrite).
  *
  * Epoch high-water mark: every compaction writes
  * `<table>/delta/_folded_upto` (≥ every epoch it covers and its
  * generation) BEFORE it flips a pointer, and a new lineage numbers above
  * it. The on-disk epoch directories are no such mark — [[vacuum]]
  * deletes covered slices — and [[read]]'s `epoch <= max(covered)`
  * exclusion would otherwise silently drop a fresh lineage's rows in
  * every compacted zp until its counter passed the covered epochs.
  *
  * Scale shape: routing is a narrow projection (hash + integer math, the
  * q141 key); the append shuffles nothing; the compaction decision reads
  * ≤ 256 pointer files plus a per-epoch directory listing (the state the
  * manifest holds — never data); a compaction rewrites exactly ONE zp's
  * rows. Reads keep `zp` as a partition column in BOTH tiers, so a box
  * predicate prunes to one directory per tier (LayoutStreamSpec asserts
  * this in scanned-file counts across ≥3 epochs). */
object LayoutStream {
  import graft.operators.Layout

  /** Compact a zp once more than this many uncovered delta slices
    * (epoch-level file fragments) have accumulated for it — the
    * small-file-skew bound of the OPTIMIZE trigger. */
  val MaxDeltaSlices = 2

  private val DataCols =
    Seq("doc_id", "source", "n_chars", "da", "db", "zkey")

  /** (gen, covered epochs) per zp, from the pointer files. */
  private def pointers(fs: FileSystem,
      baseRoot: String): Map[Long, (Long, Set[Long])] = {
    val root = new Path(baseRoot)
    if (!fs.exists(root)) return Map.empty
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("zp="))
      .flatMap { d =>
        val zp = d.getPath.getName.stripPrefix("zp=").toLong
        EpochState.readSmall(fs, new Path(d.getPath, "_gen")).map { t =>
          val parts = t.split(";")
          zp -> (parts(0).toLong,
            parts.drop(1).filter(_.nonEmpty).map(_.toLong).toSet)
        }
      }.toMap
  }

  private def typedEmpty(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("doc_id"), lit("").as("source"),
      col("id").as("n_chars"), col("id").as("da"), col("id").as("db"),
      col("id").as("zkey"), col("id").as("zp")).limit(0)

  /** The maintained table: live delta slices (covered (zp, epoch) pairs
    * excluded) plus the committed base generation of every zp. `maskEpoch`
    * excludes that delta epoch entirely — the id gate passes the epoch
    * being (re)written so its own partial output can't gate itself.
    *
    * Both exclusions are expressed as PREDICATES over partition columns
    * only — never joins — so they prune at file-listing time and a read
    * NEVER OPENS a superseded generation or a covered delta slice
    * (LayoutStreamSpec asserts this in scanned-file counts). The delta
    * exclusion leans on epoch monotonicity: a compaction folds every
    * on-disk slice of its zp, and epoch numbers never decrease (same
    * lineage: Structured Streaming; across lineages: the `_folded_upto`
    * mark above), so "covered" is exactly `epoch <= max(covered)` — one
    * bounded term per compacted zp (≤ 256), regardless of stream
    * lifetime. */
  def read(spark: SparkSession, tableDir: String,
      maskEpoch: Option[Long] = None): DataFrame = {
    val fs = EpochState.fs(spark, tableDir)
    val ptr = pointers(fs, s"$tableDir/base")
    val deltaRoot = new Path(s"$tableDir/delta")
    // "has delta" = at least one epoch dir with a zp slice inside — an
    // all-empty-dirs state (every slice vacuumed) must not reach schema
    // inference
    val hasDelta = fs.exists(deltaRoot) && fs.listStatus(deltaRoot)
      .exists(e => e.isDirectory &&
        (try fs.listStatus(e.getPath).exists(_.isDirectory)
        catch { case _: Throwable => false }))
    val delta: DataFrame =
      if (hasDelta) {
        val all = spark.read.parquet(deltaRoot.toString)
        val masked = maskEpoch.fold(all)(e => all.filter(col("epoch") =!= e))
        val live = ptr.foldLeft(masked) { case (df, (zp, (_, es))) =>
          df.filter(!(col("zp") === zp && col("epoch") <= es.max))
        }
        live.select((DataCols.map(col) :+
          col("zp").cast(LongType).as("zp")): _*)
      } else typedEmpty(spark)
    val base: DataFrame =
      if (ptr.isEmpty) typedEmpty(spark)
      else {
        val committed = ptr.toSeq
          .map { case (zp, (g, _)) => col("zp") === zp && col("gen") === g }
          .reduce(_ || _)
        spark.read.parquet(s"$tableDir/base")
          .filter(committed)
          .select((DataCols.map(col) :+
            col("zp").cast(LongType).as("zp")): _*)
      }
    delta.unionByName(base)
  }

  /** The q141 audit over the maintained table — per zp partition, row
    * count and the (constant) 16-band bounds of each dimension. Equal to
    * the batch q141 rollup over the same documents (LayoutStreamSpec). */
  def audit(spark: SparkSession, tableDir: String): DataFrame =
    read(spark, tableDir)
      .groupBy(col("zp"))
      .agg(count(lit(1)).as("n_docs"),
        expr("min(da) div 16").cast(LongType).as("da_hi_min"),
        expr("max(da) div 16").cast(LongType).as("da_hi_max"),
        expr("min(db) div 16").cast(LongType).as("db_hi_min"),
        expr("max(db) div 16").cast(LongType).as("db_hi_max"))
      .orderBy(col("zp"))

  /** Starts layout maintenance over a stream of document rows (doc_id,
    * source, n_chars). `publish` receives (epoch, n_new_docs,
    * n_compacted_zps) after the epoch commits. */
  def start(docs: DataFrame, tableDir: String, checkpoint: String)(
      publish: (Long, Long, Long) => Unit = (_, _, _) => ()): StreamingQuery = {
    val spark = docs.sparkSession
    val (da, db) = Layout.docDims
    EpochState.start(docs, tableDir, s"$tableDir/delta", checkpoint,
      partitionBy = Seq("zp")) { (batch, e) =>
      // id gate against the table itself (self-masking this epoch)
      val seen = read(spark, tableDir, maskEpoch = Some(e.id))
        .select(col("doc_id"))
      val fresh = e.pin(batch.dropDuplicates("doc_id")
        .join(seen, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_chars"),
          da.as("da"), db.as("db"))
        .withColumn("zkey", Layout.zKey2(col("da"), col("db")))
        .withColumn("zp", expr("zkey div 256")))
      val n = fresh.count()
      e.afterWrite(publish(e.id, n, compactSkewed(spark, tableDir, e.id)))
      // routed into Z-order partitions; a replay rewrites the same dir
      Seq(s"$tableDir/delta" -> fresh)
    }
  }

  /** Offline garbage sweep — deletes what compaction left unreferenced:
    * superseded base generations (any `gen=` dir a pointer no longer
    * names) and covered delta slices (folded into a committed
    * generation), plus delta epoch dirs emptied by the sweep. Reads never
    * depend on these deletes (they resolve pointers), so vacuum can run
    * any time; the [[graft.operators.ArtifactStore.pruneGraceMs]] window
    * protects concurrent readers that planned against the old pointer.
    * Returns (#generations, #slices) deleted. */
  def vacuum(spark: SparkSession, tableDir: String): (Long, Long) = {
    val fs = EpochState.fs(spark, tableDir)
    val cutoff = System.currentTimeMillis() -
      graft.operators.ArtifactStore.pruneGraceMs
    val ptr = pointers(fs, s"$tableDir/base")
    var gens = 0L
    var slices = 0L
    ptr.foreach { case (zp, (g, _)) =>
      val zpDir = new Path(s"$tableDir/base/zp=$zp")
      try fs.listStatus(zpDir).foreach { e =>
        if (e.isDirectory && e.getPath.getName.startsWith("gen=") &&
          e.getPath.getName != s"gen=$g" && e.getModificationTime < cutoff) {
          if (try fs.delete(e.getPath, true)
              catch { case _: Throwable => false }) gens += 1
        }
      } catch { case _: Throwable => () }
    }
    EpochState.epochs(fs, s"$tableDir/delta").foreach { epoch =>
      val dir = new Path(s"$tableDir/delta/epoch=$epoch")
      try {
        val mtime = fs.getFileStatus(dir).getModificationTime
        fs.listStatus(dir).foreach { z =>
          if (z.isDirectory && z.getPath.getName.startsWith("zp=") &&
            z.getModificationTime < cutoff) {
            val zp = z.getPath.getName.stripPrefix("zp=").toLong
            if (ptr.get(zp).exists(_._2.contains(epoch)) &&
              (try fs.delete(z.getPath, true)
              catch { case _: Throwable => false })) slices += 1
          }
        }
        // an epoch dir emptied by the sweep would poison schema
        // inference on the delta read — remove it too
        if (fs.listStatus(dir).forall(_.getPath.getName.startsWith("_")) &&
          mtime < cutoff) {
          fs.delete(dir, true); ()
        }
      } catch { case _: Throwable => () }
    }
    (gens, slices)
  }

  /** Uncovered delta slices per zp: (zp, epoch) pairs present on disk and
    * not folded into any base generation. */
  private def uncoveredSlices(fs: FileSystem, tableDir: String,
      ptr: Map[Long, (Long, Set[Long])]): Map[Long, Seq[Long]] = {
    val pairs = for {
      epoch <- EpochState.epochs(fs, s"$tableDir/delta")
      z <- fs.listStatus(new Path(s"$tableDir/delta/epoch=$epoch")).toSeq
        if z.isDirectory && z.getPath.getName.startsWith("zp=")
      zp = z.getPath.getName.stripPrefix("zp=").toLong
      if !ptr.get(zp).exists(_._2.contains(epoch))
    } yield (zp, epoch)
    pairs.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
  }

  /** The OPTIMIZE pass: rewrite every zp with more than [[MaxDeltaSlices]]
    * uncovered delta slices into a fresh base generation, committing each
    * via its pointer flip. Returns the number of zps compacted. */
  private def compactSkewed(spark: SparkSession, tableDir: String,
      gen: Long): Long = {
    val fs = EpochState.fs(spark, tableDir)
    val ptr = pointers(fs, s"$tableDir/base")
    val skewed = uncoveredSlices(fs, tableDir, ptr)
      .filter(_._2.size > MaxDeltaSlices)
    skewed.foreach { case (zp, epochs) =>
      val slices = epochs.map(e =>
        s"$tableDir/delta/epoch=$e/zp=$zp")
      val deltaRows = spark.read.parquet(slices: _*).select(DataCols.map(col): _*)
      val baseRows = ptr.get(zp) match {
        case Some((g, _)) =>
          spark.read.parquet(s"$tableDir/base/zp=$zp/gen=$g")
            .select(DataCols.map(col): _*)
        case None => deltaRows.limit(0)
      }
      // the small-file rewrite: one output file per generation at test
      // scale (production sizes this to the target file size instead)
      baseRows.unionByName(deltaRows).coalesce(1)
        .write.mode("overwrite")
        .parquet(s"$tableDir/base/zp=$zp/gen=$gen")
      val covered = ptr.get(zp).map(_._2).getOrElse(Set.empty) ++ epochs
      // the epoch high-water mark lands BEFORE the flip (Scaladoc above):
      // a pointer never covers an epoch a new lineage could reuse
      EpochState.writeSmall(fs, new Path(s"$tableDir/delta/_folded_upto"),
        (covered + gen).max.toString)
      // commit point: one atomic pointer PUT flips the zp to the new
      // generation AND marks its inputs covered, in the same object
      EpochState.writeSmall(fs, new Path(s"$tableDir/base/zp=$zp/_gen"),
        s"$gen;${covered.toSeq.sorted.mkString(";")}")
    }
    skewed.size.toLong
  }
}
