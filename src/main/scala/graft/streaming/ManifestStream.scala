package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StringType

/** Streaming corpus-build manifest maintenance — the incremental twin of
  * q161 ([[graft.operators.CorpusBuild]]): documents arrive as a stream,
  * each micro-batch's TEXT is read exactly once at ingest, and
  * [[funnel]] over the accumulated state equals batch q161 over the same
  * documents row for row (ManifestStreamSpec, through overlapping
  * redelivery and compaction).
  *
  * What must stream and what must wait: of the funnel's eight verdicts,
  * three are per-doc pure (quality rules, gopher repetition, blocklist —
  * frozen at ingest into `docsig`), and five are functions of the WHOLE
  * corpus so far (the reference LM and its per-source percentile buckets
  * move with every arrival; the classifier retrains on the growing train
  * split; span excision counts global shingle occurrences; near-dup
  * survivorship re-clusters; decontamination matches against the growing
  * held-out side). The maintainer therefore persists the TOKEN-LEVEL
  * state those five derive from — positioned shingles (`occ`, the
  * [[SpanStream]] index, shared by excision AND both decontamination
  * sides), per-doc bigram hashes (`bg`), per-doc classifier token
  * buckets (`tok`), and the LSH band/shingle-set index (`bands`/
  * `shingles`, [[StreamingDedup.startIncremental]]'s layout) — and
  * derives the verdicts AT READ TIME (the [[WebCorpusStream]] cap
  * discipline), through the batch operators' OWN shared bodies
  * ([[graft.operators.Quality.lmScoresFromBigrams]],
  * [[graft.operators.Classify.trainModelTok]]/`scoreFromTok`,
  * [[graft.operators.Dedup.nearDupPairsPre]],
  * [[graft.operators.CorpusBuild.exPerOf]]/`contamOf`/`flagsSelect`/
  * `funnelOf`), so stream ≡ batch is structural, not coincidental.
  *
  * Exactly-once is the [[SpanStream]] discipline: a `seen` id set gates
  * arrivals (duplicate token-level rows would corrupt counts), each
  * batch writes only its genuinely-new docs' state, same-lineage replay
  * overwrites its own epoch partitions, fresh-lineage redelivery is
  * emptied by the gate, and epoch numbers are collision-free across
  * checkpoint lineages ([[EpochState.start]]). On top of that, an
  * epoch only becomes VISIBLE through a commit marker written after its
  * last state file (`commits/epoch=N`, one atomic PUT): the seen gate
  * and every read-time table scan filter to marked epochs, so a crash
  * anywhere inside an epoch's multi-table write — followed by EITHER
  * same-lineage replay (self-masked overwrite, as before) OR
  * fresh-lineage re-ingest (the partial epoch is invisible to the gate,
  * its docs re-enter whole; the orphan partitions are never read and
  * [[compactState]] deletes them) — yields exactly-once state, and an
  * audit read concurrent with an in-flight batch sees only whole
  * epochs, never docsig-without-occ ([[flags]] additionally snapshots
  * ONE marker set across all its table reads). Compaction uses the
  * shared [[Compaction]] marker protocol; the occurrence-shaped tables
  * (`bg`, `tok`) fold by IDENTITY — their duplicates are real
  * multiplicities — which is safe exactly because the marker protocol
  * guarantees no double-read across a crashed compaction (the folded
  * generation inherits a commit marker once its fold commits).
  *
  * Shape at scale: per-batch cost is a few narrow passes over the BATCH
  * (tokenize once, hash three ways) plus per-epoch appends — never a
  * corpus rescan; read-time derivation joins id-keyed compact state
  * (ids, hashes, booleans — text never leaves its ingest batch) and ends
  * in [[graft.operators.CorpusBuild.funnelOf]]'s single global
  * aggregate. The heavy read-time stages are exactly the batch
  * operators' plans over the same compact relations, with their caps and
  * bounds intact. At 100 TB the state tables are the pipeline's standing
  * indexes (the token-position index IS substring dedup's footprint);
  * the funnel is a report over them, refreshed per audit, not per batch.
  * (Reference scope: covid_streaming.py has no curation surface; this is
  * the LLM-pipeline extension tier's capstone, streamed.) */
object ManifestStream {
  import graft.operators.{Classify, Corpus, CorpusBuild, Dedup, Quality}
  import graft.operators.Mirror.hash60

  /** Epoch commit markers: `commits/epoch=N` is one empty object PUT
    * after the epoch's LAST state file; an epoch without it is invisible
    * to the gate and to every reader. */
  private def commitsRoot(stateDir: String) = s"$stateDir/commits"

  private def markCommitted(fs: org.apache.hadoop.fs.FileSystem,
      stateDir: String, epoch: Long): Unit = {
    fs.mkdirs(new Path(commitsRoot(stateDir)))
    fs.create(new Path(commitsRoot(stateDir), s"epoch=$epoch"), true)
      .close()
  }

  private[streaming] def committedEpochs(
      fs: org.apache.hadoop.fs.FileSystem,
      stateDir: String): Set[Long] =
    EpochState.epochs(fs, commitsRoot(stateDir)).toSet

  /** Marker-filtered read of one state table: only committed epochs are
    * visible (the caller supplies one snapshot of the marker set so a
    * multi-table read is consistent). */
  private def committedOnly(df: DataFrame, keep: Set[Long]): DataFrame =
    if (keep.isEmpty) df.filter(lit(false))
    else df.filter(col("epoch").isin(keep.toSeq: _*)) // partition-pruned

  /** Starts the maintainer over a stream of document rows (doc_id,
    * source, text, n_chars). `publish` receives (epoch, n_new_docs) after the
    * epoch's state is committed. */
  def start(docs: DataFrame, stateDir: String, checkpoint: String)(
      publish: (Long, Long) => Unit = (_, _) => ()): StreamingQuery = {
    val fs = EpochState.fs(docs.sparkSession, stateDir)
    EpochState.startGated(docs, stateDir, checkpoint, publish,
      // the gate sees committed epochs only: a crashed epoch's docs
      // re-enter whole on any lineage
      seenView = committedOnly(_, committedEpochs(fs, stateDir)),
      // the epoch becomes visible ONLY here — one atomic PUT after the
      // last state file, so every earlier crash point leaves an
      // invisible partial epoch
      commit = markCommitted(fs, stateDir, _)) { fresh =>
      // per-doc pure verdicts + labels, frozen at ingest: the narrow
      // trio (n_tokens/f1/f3) in one scan — the batch docFlags
      // discipline; only the gopher verdict (its own native per-row
      // pass) and the label view remain joins
      val sig = Quality.narrowVerdicts(fresh)
        .join(Quality.gopherProfile(fresh)
          .select(col("doc_id"), col("gopher_keep").as("f2")),
          Seq("doc_id"), "left")
        .join(Classify.labeledDocs(fresh)
          .select(col("doc_id"), col("split"), col("label_good")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("f1"), col("f2"), col("f3"),
          col("split"), col("label_good"))
      Seq("docsig" -> sig,
        // token-level state the corpus-global verdicts derive from
        "occ" -> Corpus.positionedShingles(fresh),
        "bg" -> Quality.bigramHashes(fresh, Seq("doc_id", "source")),
        "tok" -> Classify.tokenBuckets(fresh),
        "bands" -> Dedup.minhashBandsOf(fresh),
        "shingles" -> Dedup.shingleSetsOf(fresh))
    }
  }

  private def table(spark: SparkSession, stateDir: String, name: String,
      keep: Set[Long], cols: String*): DataFrame =
    committedOnly(Compaction.readTable(spark, s"$stateDir/$name"), keep)
      .select(cols.map(col): _*)

  /** The per-doc flags table over everything ingested — equal to
    * [[graft.operators.CorpusBuild.docFlags]] over the same documents
    * (every stage derives through the batch operators' shared bodies).
    * All six table reads share ONE snapshot of the commit-marker set, so
    * a read concurrent with an in-flight batch sees every epoch either
    * whole or not at all — docsig can never be visible for an epoch
    * whose occ/bands haven't landed. */
  def flags(spark: SparkSession, stateDir: String): DataFrame = {
    val keep = committedEpochs(EpochState.fs(spark, stateDir), stateDir)
    val sig = table(spark, stateDir, "docsig", keep,
      "doc_id", "source", "n_tokens", "f1", "f2", "f3", "split",
      "label_good")
    val pos = table(spark, stateDir, "occ", keep, "doc_id", "pos", "sh")
      .withColumn("bucket", hash60(col("doc_id").cast(StringType)) % 100)
    // the reference LM: bigrams of quality-passing docs so far
    val bg = table(spark, stateDir, "bg", keep, "doc_id", "source", "h2", "h1")
    val (c2, c1, v) = Quality.lmCountsFromBigrams(
      bg.join(sig.filter(col("f1")).select(col("doc_id")), "doc_id")
        .select(col("h2"), col("h1")))
    val scored = Quality.lmScoresFromBigrams(bg, c2, c1, v)
    val kPpl = scored
      .join(Quality.lmBuckets(scored), Seq("source", "score_ppm"))
      .select(col("doc_id"), (col("bucket") =!= "tail").as("f4"))
    // the classifier: retrained on the accumulated train split
    val tok = table(spark, stateDir, "tok", keep, "doc_id", "b")
    val model = Classify.trainModelTok(
      tok.join(sig.filter(col("split") === "train")
          .select(col("doc_id"), col("label_good")), "doc_id")
        .select(col("label_good"), col("b")))
    val kCls = Classify.scoreFromTok(tok, model)
      .select(col("doc_id"), (col("score_pt") > 0).as("f5"))
    // near-dup survivorship: the symmetric pair pipeline over the
    // accumulated band/shingle index, closed transitively
    val comp = Corpus.connectedComponents(
        Dedup.nearDupPairsPre(
          table(spark, stateDir, "bands", keep, "doc_id", "band_idx",
            "band_hash"),
          table(spark, stateDir, "shingles", keep, "doc_id", "sh")),
        "doc_a", "doc_b")
      .select(col("v").as("doc_id"), col("component"))
    CorpusBuild.flagsSelect(
      sig.select(col("doc_id"), col("n_tokens"), col("f1"), col("f2"),
          col("f3"))
        .join(kPpl, Seq("doc_id"), "left")
        .join(kCls, Seq("doc_id"), "left"),
      CorpusBuild.exPerOf(pos), comp, CorpusBuild.contamOf(pos))
  }

  /** The 9-stage attrition funnel over everything ingested — row-for-row
    * equal to batch q161 over the same documents (ManifestStreamSpec). */
  def funnel(spark: SparkSession, stateDir: String): DataFrame =
    CorpusBuild.funnelOf(flags(spark, stateDir))

  /** Offline small-files maintenance (run while the stream is stopped),
    * on the shared crash-safe [[Compaction]] protocol. Identity folds
    * for the occurrence-shaped tables (`bg`, `tok`) — their duplicate
    * rows are real multiplicities; dedup folds for the uniquely-keyed
    * ones. */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    val fs = EpochState.fs(spark, stateDir)
    val keep = committedEpochs(fs, stateDir)
    // repair first: partitions of epochs that never reached their commit
    // marker are invisible garbage from a mid-epoch crash — delete them
    // BEFORE folding, so an identity fold can never bake orphan
    // multiplicities into the compacted generation
    for (name <- Tables; e <- EpochState.epochs(fs, s"$stateDir/$name")
        if !keep(e))
      try { fs.delete(new Path(s"$stateDir/$name/epoch=$e"), true); () }
      catch { case _: Throwable => () }
    // PRE-mark each root's would-be folded generation (min epoch - 1,
    // [[Compaction.compactTable]]'s numbering) as committed BEFORE the
    // fold can delete the covered originals — a crash after the fold but
    // before a post-hoc marking would otherwise leave the whole table
    // invisible and the seen gate re-ingesting everything. A pre-mark
    // for a fold that never happens is pruned below; readers require
    // marker AND partition, so a dangling marker is inert.
    def compactMarked(name: String)(fold: DataFrame => DataFrame): Unit = {
      val nums = EpochState.epochs(fs, s"$stateDir/$name")
      if (nums.length > 1) markCommitted(fs, stateDir, nums.min - 1)
      Compaction.compactTable(spark, s"$stateDir/$name", fold)
    }
    compactMarked("docsig")(df => df.dropDuplicates("doc_id"))
    compactMarked("occ")(
      df => df.select(col("doc_id"), col("pos"), col("sh")).distinct())
    compactMarked("bg")(
      df => df.select(col("doc_id"), col("source"), col("h2"), col("h1")))
    compactMarked("tok")(df => df.select(col("doc_id"), col("b")))
    compactMarked("bands")(df => df.dropDuplicates("doc_id", "band_idx"))
    compactMarked("shingles")(df => df.dropDuplicates("doc_id"))
    compactMarked("seen")(df => df.select(col("doc_id")).distinct())
    // prune markers no live partition carries anymore, so the marker set
    // stays one entry per live generation
    val live = Tables.flatMap(name =>
      EpochState.epochs(fs, s"$stateDir/$name")).toSet
    (committedEpochs(fs, stateDir) -- live).foreach { e =>
      try { fs.delete(new Path(commitsRoot(stateDir), s"epoch=$e"), false)
        () } catch { case _: Throwable => () }
    }
  }

  /** The seven epoch-partitioned state roots under a manifest state
    * dir. */
  private val Tables = Seq("docsig", "occ", "bg", "tok", "bands",
    "shingles", "seen")
}
