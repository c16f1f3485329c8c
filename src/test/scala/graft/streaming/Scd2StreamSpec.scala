package graft.streaming

import graft.covid.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

final case class Scd2Obs(doc_id: Long, source: String, fp: String)
final case class Scd2SnapObs(doc_id: Long, source: String, fp: String,
    snap: Long)

/** Streaming SCD2 maintenance ([[Scd2Stream]]): equivalence with the
  * batch collapse AND an independent imperative model over the same
  * observations, segment semantics (extend / edit-break / gap-break),
  * replay idempotence, and compaction transparency. */
class Scd2StreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private type Seg = (Long, String, Long, Long) // doc, fp, from, to

  /** Deterministic 150-doc, 4-epoch fixture: presence has holes
    * ((id+s)%5 != 0), content edits at s>=1 when (id*7+s)%3 == 0, fp is
    * the version chain label. Covers extension, edit-break, gap-break,
    * gap-then-same-fp, late adds, and absent-forever docs. */
  private val Epochs = 4
  private def present(id: Long, s: Int): Boolean = (id + s) % 5 != 0
  private def version(id: Long, s: Int): Int =
    (1 to s).count(t => (id * 7 + t) % 3 == 0)
  private def fp(id: Long, s: Int): String = s"fp-$id-v${version(id, s)}"

  private def batches: Seq[Seq[Scd2Obs]] =
    (0 until Epochs).map(s => (0L until 150L).filter(present(_, s))
      .map(id => Scd2Obs(id, s"src${id % 3}", fp(id, s))))

  /** Independent imperative derivation of the expected segments. */
  private def expectedSegs: Set[Seg] = {
    val out = ArrayBuffer.empty[Seg]
    (0L until 150L).foreach { id =>
      var open: Option[(String, Int, Int)] = None
      (0 until Epochs).foreach { s =>
        if (present(id, s)) {
          open match {
            case Some((f, vf, vt)) if f == fp(id, s) && vt == s - 1 =>
              open = Some((f, vf, s))
            case other =>
              other.foreach { case (f, vf, vt) => out += ((id, f, vf, vt)) }
              open = Some((fp(id, s), s, s))
          }
        }
      }
      open.foreach { case (f, vf, vt) => out += ((id, f, vf, vt)) }
    }
    out.toSet
  }

  private def run(dir: java.nio.file.Path, ckpt: String,
      bs: Seq[Seq[Scd2Obs]]): Seq[(Long, Long, Long)] = {
    val stream = MemoryStream[Scd2Obs](spark)
    val reports = ArrayBuffer.empty[(Long, Long, Long)]
    val q = Scd2Stream.start(stream.toDF(),
      dir.resolve("state").toString, dir.resolve(ckpt).toString) {
      (epoch, ext, opened) => reports += ((epoch, ext, opened))
    }
    try bs.foreach { b =>
      stream.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    reports.toSeq
  }

  private def resolved(dir: java.nio.file.Path): Set[Seg] =
    Scd2Stream.resolve(spark, dir.resolve("state").toString)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"),
        r.getAs[Long]("valid_from"), r.getAs[Long]("valid_to"))).toSet

  test("incremental maintenance over 4 epochs equals the batch collapse " +
    "AND the imperative model; all break kinds exercised") {
    val dir = java.nio.file.Files.createTempDirectory("scd2s")
    val reports = run(dir, "ckpt", batches)
    val got = resolved(dir)

    val exp = expectedSegs
    assert(got == exp,
      s"stream!=model: extra=${got -- exp} missing=${exp -- got}")

    // batch collapse over the identical observations (the q130 engine)
    val obs = batches.zipWithIndex.flatMap { case (b, s) =>
      b.map(o => (o.doc_id, o.source, s.toLong, o.fp)) }
      .toDF("doc_id", "source", "s", "fp")
    val batchSegs = graft.operators.Lifecycle.collapse(obs)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"),
        r.getAs[Long]("valid_from"), r.getAs[Long]("valid_to"))).toSet
    assert(got == batchSegs, "stream != batch collapse")

    // fixture must exercise every structural case or the test is weak:
    // multi-segment docs, gap-break with UNCHANGED fp, and extensions
    assert(exp.groupBy(_._1).exists(_._2.size > 1))
    val gapSameFp = exp.groupBy(x => (x._1, x._2))
      .exists(_._2.size > 1) // same doc+fp in 2 segments => gap-break
    assert(gapSameFp, "no gap-with-unchanged-fp case in fixture")
    assert(exp.exists(s => s._4 > s._3), "no extended segment in fixture")
    // maintenance reports account for every observation exactly once
    val nObs = batches.map(_.size.toLong).sum
    assert(reports.map(r => r._2 + r._3).sum == nObs)
  }

  test("replaying an epoch under a fresh checkpoint is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("scd2s-replay")
    val one = Seq(Seq(Scd2Obs(1, "s", "a"), Scd2Obs(2, "s", "b")))
    run(dir, "ckpt1", one)
    val before = resolved(dir)
    run(dir, "ckpt2", one) // same batch re-delivered as epoch 0
    assert(resolved(dir) == before)
    // The fresh lineage gets its own epoch base (max existing + 1), so the
    // redelivery lands as DUPLICATE rows in a fresh partition — never a
    // clobber of ckpt1's state. resolve()'s fold absorbs the duplicates;
    // compaction's distinct() physically removes them.
    val segRoot = dir.resolve("state").toString + "/segments"
    assert(spark.read.parquet(segRoot).count() == 4)
    Scd2Stream.compactState(spark, dir.resolve("state").toString)
    assert(spark.read.parquet(segRoot).count() == 2)
    assert(resolved(dir) == before)
  }

  test("fresh-lineage restart with NEW data continues the table without " +
    "clobbering prior lineages' partitions (no compaction in between)") {
    // The round-11 advice scenario: before the lineage base, a fresh
    // checkpoint restarted epochId at 0 and its first batch OVERWROTE the
    // live epoch=0 partition, silently losing segments unless compaction
    // had renumbered them first. snapCol mode carries the snapshot clock
    // in the data, so a continuation under a new checkpoint is in
    // contract — and must preserve every prior-lineage partition.
    val dir = java.nio.file.Files.createTempDirectory("scd2s-lineage")
    val bs = snapBatches
    runSnap(dir, "ckpt1", Seq(bs(0), bs(1)))
    val segRoot = dir.resolve("state").toString + "/segments"
    val afterFirst = spark.read.parquet(segRoot).count()
    runSnap(dir, "ckpt2", Seq(bs(2), bs(3))) // NO compactState first
    assert(resolved(dir) == expectedSegs,
      "fresh-lineage continuation diverged from the imperative model")
    // ckpt1's rows all survive: the new lineage only ADDED partitions
    assert(spark.read.parquet(segRoot).count() > afterFirst)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(segRoot), spark.sessionState.newHadoopConf())
    val epochs = fs.listStatus(new org.apache.hadoop.fs.Path(segRoot))
      .map(_.getPath.getName).filter(_.startsWith("epoch="))
      .map(_.stripPrefix("epoch=").toLong).sorted.toSeq
    assert(epochs == Seq(0L, 1L, 2L, 3L),
      s"lineage bases must tile without collision, got $epochs")
  }

  test("a batch carrying a snapshot BELOW the stored clock fails fast " +
    "instead of asserting overlapping segments") {
    val dir = java.nio.file.Files.createTempDirectory("scd2s-regress")
    val bs = snapBatches
    runSnap(dir, "ckpt1", Seq(bs(0), bs(1), bs(2)))
    val before = resolved(dir)
    // snapshot 1 redelivered LATE (clock is at 2): out of the replay
    // contract — only the last processed snapshot may be redelivered
    val stream = MemoryStream[Scd2SnapObs](spark)
    val q = Scd2Stream.start(stream.toDF(),
      dir.resolve("state").toString, dir.resolve("ckpt2").toString,
      snapCol = Some("snap"))()
    try {
      stream.addData(bs(1).toIndexedSeq: _*)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("snapshot clock regression")), ex)
    } finally q.stop()
    assert(resolved(dir) == before, "failed batch must not mutate state")
  }

  test("compaction preserves the resolved table and future extension") {
    val dir = java.nio.file.Files.createTempDirectory("scd2s-compact")
    run(dir, "ckpt1", batches.take(3))
    val before = resolved(dir)
    Scd2Stream.compactState(spark, dir.resolve("state").toString)
    assert(resolved(dir) == before, "compaction changed the table")
    // NOTE: a fresh checkpoint restarts epochs at 0, so epoch-3 delivery
    // is not expressible post-compaction in this harness; what matters is
    // the fold over the compacted generation stayed identical.
  }

  // ---- snapCol mode: the clock lives in the data, not the trigger ----

  private def runSnap(dir: java.nio.file.Path, ckpt: String,
      bs: Seq[Seq[Scd2SnapObs]]): Unit = {
    val stream = MemoryStream[Scd2SnapObs](spark)
    val q = Scd2Stream.start(stream.toDF(),
      dir.resolve("state").toString, dir.resolve(ckpt).toString,
      snapCol = Some("snap"))()
    try bs.foreach { b =>
      stream.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
  }

  private def snapBatches: Seq[Seq[Scd2SnapObs]] =
    batches.zipWithIndex.map { case (b, s) =>
      b.map(o => Scd2SnapObs(o.doc_id, o.source, o.fp, s.toLong)) }

  test("snapCol: one batch per snapshot equals the imperative model, and " +
    "an injected EMPTY batch does not gap-break open segments") {
    val dir = java.nio.file.Files.createTempDirectory("scd2s-snap")
    val bs = snapBatches
    // empty delivery between snapshots 1 and 2: shifts the epoch clock,
    // must not shift the snapshot clock
    runSnap(dir, "ckpt", Seq(bs(0), bs(1), Seq.empty, bs(2), bs(3)))
    assert(resolved(dir) == expectedSegs,
      "empty micro-batch broke snapshot contiguity")
  }

  test("snapCol: a backlog batch carrying TWO snapshots derives the same " +
    "segments (intra-batch visibility, ascending order)") {
    val dir = java.nio.file.Files.createTempDirectory("scd2s-multi")
    val bs = snapBatches
    runSnap(dir, "ckpt", Seq(bs(0), bs(1) ++ bs(2), bs(3)))
    assert(resolved(dir) == expectedSegs,
      "merged snapshot delivery diverged from one-per-batch")
  }

  // ---- end-of-life close branch (deleteCol / manifest tombstones) ----

  test("close-then-reappear yields two segments with an explicit hole, " +
    "equal to the batch build on the same observations; resolveLive " +
    "tracks liveness through the closure") {
    val dir = java.nio.file.Files.createTempDirectory("scd2s-close")
    val stateDir = dir.resolve("state").toString
    // doc 1: seen at 0,1 (fp a), tombstoned at 2, back at 3 with SAME fp
    // doc 2: seen at 0..3 throughout (fp b) — must be untouched
    // doc 3: seen at 0, tombstoned at 1, never returns — dead
    val obs = Seq(
      Seq((1L, "a", 0L, false), (2L, "b", 0L, false), (3L, "c", 0L, false)),
      Seq((1L, "a", 1L, false), (2L, "b", 1L, false), (3L, "c", 1L, true)),
      Seq((1L, "a", 2L, true), (2L, "b", 2L, false)),
      Seq((1L, "a", 3L, false), (2L, "b", 3L, false)))
    val stream = MemoryStream[(Long, String, Long, Boolean)](spark)
    val q = Scd2Stream.start(
      stream.toDF().toDF("doc_id", "fp", "snap", "del")
        .withColumn("source", lit("s")),
      stateDir, dir.resolve("ckpt").toString,
      snapCol = Some("snap"), deleteCol = Some("del"))()
    try obs.foreach { b =>
      stream.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    val got = resolved(dir)
    // the hole at snap 2 splits doc 1 into two segments via the gap rule;
    // the batch build over the OBSERVED (non-tombstone) rows agrees
    val observedRows = obs.flatten.filterNot(_._4)
      .map { case (id, f, s, _) => (id, "s", s, f) }
      .toDF("doc_id", "source", "s", "fp")
    val batchSegs = graft.operators.Lifecycle.collapse(observedRows)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"),
        r.getAs[Long]("valid_from"), r.getAs[Long]("valid_to"))).toSet
    assert(got == batchSegs, "stream-with-closures != batch collapse")
    assert(got == Set((1L, "a", 0L, 1L), (1L, "a", 3L, 3L),
      (2L, "b", 0L, 3L), (3L, "c", 0L, 0L)))

    // the closure records make the holes explicit
    val cls = Scd2Stream.closures(spark, stateDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("snap"))).toSet
    assert(cls == Set((1L, 2L), (3L, 1L)))

    // liveness: doc 1 reappeared after its closure (live), doc 2 never
    // closed (live), doc 3 closed and never returned (dead) — knowable
    // WITHOUT the current clock, which resolve() alone cannot answer
    val live = Scd2Stream.resolveLive(spark, stateDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("valid_from"),
        r.getAs[Long]("valid_to"))).toSet
    assert(live == Set((1L, 3L, 3L), (2L, 0L, 3L)))

    // compaction folds closures too and preserves both views
    Scd2Stream.compactState(spark, stateDir)
    assert(resolved(dir) == got)
    assert(Scd2Stream.resolveLive(spark, stateDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("valid_from"),
        r.getAs[Long]("valid_to"))).toSet == live)
  }

  test("manifest tombstones feed the close branch end-to-end: " +
    "ManifestReconcileStream output closes SCD2 segments") {
    val dir = java.nio.file.Files.createTempDirectory("scd2s-manifest")
    // Crawl world: 3 snapshots, docs 10/20/30; doc 20 vanishes at snap 1,
    // doc 30 vanishes at snap 2.
    val presence: Map[Long, Seq[Long]] =
      Map(0L -> Seq(10, 20, 30), 1L -> Seq(10, 30), 2L -> Seq(10))
    // 1) reconcile manifests → tombstones
    val mStream = MemoryStream[ManifestRow](spark)
    val mq = ManifestReconcileStream.start(mStream.toDF(),
      dir.resolve("mstate").toString, dir.resolve("mckpt").toString,
      snapCol = Some("snap"))()
    try (0L to 2L).foreach { s =>
      mStream.addData(presence(s).map(ManifestRow(_, "s", s)): _*)
      mq.processAllAvailable()
    } finally mq.stop()
    val tombs = ManifestReconcileStream.tombstones(spark,
      dir.resolve("mstate").toString)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("snap")))
    assert(tombs.toSet == Set((20L, 1L), (30L, 2L)))

    // 2) union crawl observations + tombstones into one SCD2 feed
    val feed = (0L to 2L).map { s =>
      presence(s).map(id => (id, s"fp-$id", s, false)) ++
        tombs.filter(_._2 == s).map { case (id, _) => (id, "", s, true) }
    }
    val sStream = MemoryStream[(Long, String, Long, Boolean)](spark)
    val sq = Scd2Stream.start(
      sStream.toDF().toDF("doc_id", "fp", "snap", "del")
        .withColumn("source", lit("s")),
      dir.resolve("sstate").toString, dir.resolve("sckpt").toString,
      snapCol = Some("snap"), deleteCol = Some("del"))()
    try feed.foreach { b =>
      sStream.addData(b.toIndexedSeq: _*)
      sq.processAllAvailable()
    } finally sq.stop()

    val live = Scd2Stream.resolveLive(spark, dir.resolve("sstate").toString)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(live == Set(10L), s"only doc 10 survives all manifests: $live")
    val segs = Scd2Stream.resolve(spark, dir.resolve("sstate").toString)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("valid_from"), r.getAs[Long]("valid_to"))).toSet
    assert(segs == Set((10L, 0L, 2L), (20L, 0L, 0L), (30L, 0L, 1L)))
  }

  test("snapCol: redelivery AFTER compaction folded the uncommitted " +
    "epoch is idempotent (row-level replay guard)") {
    // The round-10 advice scenario: the last epoch's parquet committed but
    // the checkpoint didn't, offline compaction folded those rows into the
    // compacted generation, then the batch is redelivered. The epoch-
    // partition filter alone would see the batch's own rows as prior state
    // (valid_to == snap fails contiguity) and open duplicate overlapping
    // segments; the valid_to < snap probe guard must hide them.
    val dir = java.nio.file.Files.createTempDirectory("scd2s-compact-replay")
    val bs = snapBatches
    runSnap(dir, "ckpt1", Seq(bs(0), bs(1), bs(2)))
    val before = resolved(dir)
    Scd2Stream.compactState(spark, dir.resolve("state").toString)
    runSnap(dir, "ckpt2", Seq(bs(2))) // redelivered under a fresh lineage
    assert(resolved(dir) == before,
      "post-compaction redelivery changed the resolved table")
    // and the table can still extend correctly afterwards
    runSnap(dir, "ckpt3", Seq(bs(3)))
    assert(resolved(dir) == expectedSegs)
  }

  // ---- same-checkpoint replay (ForcedReplay) ----

  /** Four snapshots with tombstones; the last carries an edit AND a
    * closure, so its replay rewrites both `segments` and `closures`. */
  private val closeFeed = Seq(
    Seq((1L, "a", 0L, false), (2L, "b", 0L, false), (3L, "c", 0L, false)),
    Seq((1L, "a", 1L, false), (2L, "b", 1L, false), (3L, "c", 1L, true)),
    Seq((1L, "a", 2L, true), (2L, "b", 2L, false)),
    Seq((1L, "a2", 3L, false), (2L, "b", 3L, true)))

  /** Runs `closeFeed` one snapshot per batch, on the `snap` column's clock
    * or (without `snapCol`) on the raw batch id, which equals it here;
    * with `replay`, the last batch then runs again under the same
    * checkpoint. Returns the resolved segments, the closures and the
    * published epochs. */
  private def runCloseFeed(snapCol: Boolean, replay: Boolean)
      : (Set[Seg], Set[(Long, Long)], Seq[Long]) = {
    val dir = java.nio.file.Files.createTempDirectory("scd2s-forced")
    val state = dir.resolve("state").toString
    val ckpt = dir.resolve("ckpt").toString
    val stream = MemoryStream[(Long, String, Long, Boolean)](spark)
    val epochs = ArrayBuffer.empty[Long]
    def start() = Scd2Stream.start(
      stream.toDF().toDF("doc_id", "fp", "snap", "del")
        .withColumn("source", lit("s")),
      state, ckpt, snapCol = Some("snap").filter(_ => snapCol),
      deleteCol = Some("del")) { (e, _, _) => epochs += e }
    val q = start()
    try closeFeed.foreach { b =>
      stream.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    if (replay) ForcedReplay(q, ckpt)(start())
    (resolved(dir), Scd2Stream.closures(spark, state).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("snap"))).toSet,
      epochs.toSeq)
  }

  Seq(false -> "the raw batch-id clock", true -> "snapCol").foreach {
    case (snapCol, clock) =>
      test(s"a forced same-checkpoint replay of the last batch ($clock) " +
        "leaves resolve and closures equal to a clean run") {
        val (segs, cls, epochs) = runCloseFeed(snapCol, replay = false)
        assert(cls == Set((3L, 1L), (1L, 2L), (2L, 3L)))
        val (segs2, cls2, epochs2) = runCloseFeed(snapCol, replay = true)
        assert(epochs2 == epochs :+ epochs.last,
          s"the last batch must run again: $epochs2")
        assert(segs2 == segs, "replay changed the resolved segments")
        assert(cls2 == cls, "replay changed the closures")
      }
  }
}
