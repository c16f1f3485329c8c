package graft.streaming

import graft.operators.{ArtifactStore, Artifacts}
import graft.operators.ArtifactStore.Store
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructType}

/** Gate-visible replays of the streaming twins (round-17 verdict item
  * 6): feed an SF dir's inputs through a twin micro-batch by micro-batch
  * — a real `writeStream` run over a file source, one staged file per
  * epoch — into parquet state tables, then freeze the READ-SIDE relation
  * each twin maintains. [[graft.operators.ReplayedStreams]] registers
  * those relations as `SparkEntry` queries whose DuckDB oracles are the
  * corresponding BATCH bodies' SQL (q161 / q130 / a q72 extension), so
  * the stream ≡ batch property the specs prove in ScalaTest becomes a
  * per-round hash-checked CORRECTNESS row.
  *
  * Replay determinism: batch membership is a pure function of the input
  * (`doc_id % k`, snapshot number), and delivery ORDER is forced by
  * staging each batch as one parquet file with strictly increasing
  * modification times — Spark's file stream source admits files
  * oldest-first (`fileSortOrder` on the entry timestamp), and
  * `maxFilesPerTrigger = 1` makes each file its own micro-batch. The
  * twins' own idempotence machinery (seen gate / snapshot clock / epoch
  * partitions) is exercised for real: the replay is an ordinary stream
  * lineage, not a simulation.
  *
  * Cost posture (the [[graft.operators.ManifestCache]] discipline): a
  * replay is a multi-epoch streaming job — expensive to repeat per bench
  * iteration, and a 100 TB pipeline's stream state is a STANDING table,
  * not something rebuilt per audit. Each twin's replayed state is
  * therefore an [[ArtifactStore]] artifact, one store per twin under
  * `<replaycache>/<kind>`, built straight into its attempt directory (a
  * fresh inline replay when the store fails closed), and the registered
  * queries read the artifact — still hash-gated end-to-end, so a stale or
  * corrupted replay fails the round. `spark.graft.replaycache=false`
  * forces a fresh un-pointered replay per call (ReplaySpec's path). */
object Replay {

  /** How many micro-batches each replay splits its input into. Small
    * fixed constants: enough epochs to exercise cross-batch state, few
    * enough that the q170 oracle's per-probe-batch index stays a ×3
    * blowup of id+hash rows (never text). */
  private[graft] val ManifestBatches = 3
  private[graft] val DedupBatches = 3

  /** Stages each part as ONE parquet data file under `stageDir`, with
    * strictly increasing (minutes-apart) modification times — the file
    * stream source then delivers part i as micro-batch i. */
  private[streaming] def stage(spark: SparkSession, parts: Seq[DataFrame],
      stageDir: String): StructType = {
    val fs = ArtifactStore.fileSystem(spark, new Path(stageDir))
    fs.mkdirs(new Path(stageDir))
    val t0 = System.currentTimeMillis() - 24L * 3600 * 1000
    parts.zipWithIndex.foreach { case (df, i) =>
      val tmp = new Path(stageDir, s"_tmp_$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
      val dest = new Path(stageDir, f"batch-$i%03d.parquet")
      if (!fs.rename(part, dest))
        throw new IllegalStateException(s"stage rename to $dest failed")
      fs.delete(tmp, true)
      fs.setTimes(dest, t0 + i * 60000L, -1)
    }
    parts.head.schema
  }

  private[streaming] def fileStream(spark: SparkSession, stageDir: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir)

  /** Runs the staged files to exhaustion (each its own micro-batch),
    * then stops — the AvailableNow shape on a default trigger. */
  private def drain(q: StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  // ---------------------------------------------------------------- //

  /** ManifestStream replay: documents in [[ManifestBatches]] epochs by
    * `doc_id % k` (the funnel is split-invariant — ManifestStreamSpec),
    * then the read-time flags table frozen from the accumulated state
    * (the heavy LM/classifier/CC derivation, computed once per replay
    * exactly like a corpus snapshot's audit pass). */
  private def buildManifest(spark: SparkSession, dir: String,
      att: Path): Unit = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
    val parts = (0 until ManifestBatches).map(i =>
      docs.filter(col("doc_id") % ManifestBatches === i))
    val schema = stage(spark, parts, new Path(att, "stage").toString)
    val state = new Path(att, "state").toString
    drain(ManifestStream.start(
      fileStream(spark, new Path(att, "stage").toString, schema),
      state, new Path(att, "ckpt").toString)())
    ManifestStream.flags(spark, state).write.mode("overwrite")
      .parquet(new Path(att, "flags").toString)
  }

  /** Scd2Stream replay: the q130 simulation's observations delivered
    * snapshot by snapshot (4 epochs, `snapCol = "s"` — the snapshot
    * clock advances exactly as a crawl's would). */
  private def buildScd2(spark: SparkSession, dir: String,
      att: Path): Unit = {
    val obs = graft.operators.Lifecycle.scd2Observations(spark, dir)
    val parts = (0 to 3).map(s => obs.filter(col("s") === s))
    val schema = stage(spark, parts, new Path(att, "stage").toString)
    drain(Scd2Stream.start(
      fileStream(spark, new Path(att, "stage").toString, schema),
      new Path(att, "state").toString,
      new Path(att, "ckpt").toString, snapCol = Some("s"))())
  }

  /** StreamingDedup.startIncremental replay: q72's base split (bucket
    * < 90) seeds the persisted index; the new side arrives in
    * [[DedupBatches]] epochs by `doc_id % k`, each probing base + every
    * EARLIER epoch (the appended index), each epoch's matches frozen
    * under `matches/epoch=N` before its own bands are appended. */
  private def buildDedup(spark: SparkSession, dir: String,
      att: Path): Unit = {
    import graft.operators.Mirror.hash60
    val withBucket = graft.Tables(spark, dir, "documents")
      .withColumn("bucket", hash60(col("doc_id").cast(StringType)) % 100)
    val base = withBucket.filter(col("bucket") < 90)
      .select(col("doc_id"), col("text"))
    val fresh = withBucket.filter(col("bucket") >= 90)
      .select(col("doc_id"), col("text"))
    val parts = (0 until DedupBatches).map(i =>
      fresh.filter(col("doc_id") % DedupBatches === i))
    val schema = stage(spark, parts, new Path(att, "stage").toString)
    val matchesRoot = new Path(att, "matches").toString
    drain(StreamingDedup.startIncremental(
      fileStream(spark, new Path(att, "stage").toString, schema),
      base, new Path(att, "index").toString,
      new Path(att, "ckpt").toString) { (m, epoch) =>
      m.write.mode("overwrite").parquet(s"$matchesRoot/epoch=$epoch")
    })
  }

  // ---------------------------------------------------------------- //

  private class ReplayStore(kind: String,
      replayed: (SparkSession, String) => DataFrame)
      extends Store("replaycache", Some(kind)) {
    def warm(spark: SparkSession, dir: String): Any =
      replayed(spark, dir).count()
  }

  private val ManifestStore = new ReplayStore("manifest", manifestFlags)
  private val Scd2Store = new ReplayStore("scd2", scd2Segments)
  private val DedupStore = new ReplayStore("dedup", dedupMatches)

  /** One store per replayed twin; warming one runs its replay. */
  private[graft] val stores: Seq[Store] =
    Seq(ManifestStore, Scd2Store, DedupStore)

  /** Resolve-or-replay `store`'s artifact for `dir`: the replay builds
    * straight into the attempt directory; a store that is off or fails
    * closed replays into a fresh temporary directory instead. */
  private def artifact(spark: SparkSession, dir: String, store: Store)(
      build: Path => Unit): Path =
    Artifacts.overTable[() => Path](spark, store, dir, "documents.parquet")(
      () => {
        val tmp = new Path(sys.props("java.io.tmpdir"),
          "graft-replay-" + java.util.UUID.randomUUID().toString)
        build(tmp)
        tmp
      })((_, att) => build(att), att => () => att)()

  /** The replayed manifest maintainer's frozen read-side flags table
    * (doc_id, n_tokens, t_ex, f1..f8) — q168's input. */
  def manifestFlags(spark: SparkSession, dir: String): DataFrame = {
    val att = artifact(spark, dir, ManifestStore)(
      buildManifest(spark, dir, _))
    graft.Tables.parquet(spark, new Path(att, "flags").toString)
  }

  /** The replayed SCD2 maintainer's resolved segment table — q169's
    * input. */
  def scd2Segments(spark: SparkSession, dir: String): DataFrame = {
    val att = artifact(spark, dir, Scd2Store)(buildScd2(spark, dir, _))
    Scd2Stream.resolve(spark, new Path(att, "state").toString)
  }

  /** The replayed incremental-dedup probe's per-epoch match tables,
    * unioned — q170's input. */
  def dedupMatches(spark: SparkSession, dir: String): DataFrame = {
    val att = artifact(spark, dir, DedupStore)(buildDedup(spark, dir, _))
    graft.Tables.parquet(spark, new Path(att, "matches").toString).drop("epoch")
  }
}
