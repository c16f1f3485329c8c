package graft.streaming

import graft.covid.SparkTestSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

final case class ManifestRow(doc_id: Long, source: String, snap: Long)

/** Manifest reconciliation ([[ManifestReconcileStream]]): the streaming
  * `removed` class must equal the batch anti-join diff of consecutive
  * manifests (the q126 `removed`/`added` semantics) across ≥3 epochs,
  * stay idempotent under redelivery, fail fast on clock regression, and
  * survive compaction. */
class ManifestReconcileSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  /** 120-doc, 4-snapshot fixture with churn in both directions:
    * presence(id, s) = (id + s) % 5 != 0 — every snapshot removes ~24
    * docs present in the previous one and adds ~24 absent from it. */
  private val Snaps = 4
  private def present(id: Long, s: Int): Boolean = (id + s) % 5 != 0
  private def manifest(s: Int): Seq[ManifestRow] =
    (0L until 120L).filter(present(_, s))
      .map(id => ManifestRow(id, s"src${id % 3}", s.toLong))

  /** Imperative ground truth: tombstones at s = present(s-1) \ present(s). */
  private def expectedTombs: Set[(Long, Long)] =
    (1 until Snaps).flatMap(s => (0L until 120L)
      .filter(id => present(id, s - 1) && !present(id, s))
      .map(id => (id, s.toLong))).toSet

  private def expectedAdds(s: Int): Set[Long] =
    if (s == 0) (0L until 120L).filter(present(_, 0)).toSet
    else (0L until 120L)
      .filter(id => !present(id, s - 1) && present(id, s)).toSet

  private def run(dir: java.nio.file.Path, ckpt: String,
      bs: Seq[Seq[ManifestRow]]): Seq[(Long, Long, Long, Long)] = {
    val stream = MemoryStream[ManifestRow](spark)
    val reports = ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = ManifestReconcileStream.start(stream.toDF(),
      dir.resolve("state").toString, dir.resolve(ckpt).toString,
      snapCol = Some("snap")) {
      (snap, a, r, c) => reports += ((snap, a, r, c))
    }
    try bs.foreach { b =>
      stream.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    reports.toSeq
  }

  private def tombSet(dir: java.nio.file.Path): Set[(Long, Long)] =
    ManifestReconcileStream.tombstones(spark, dir.resolve("state").toString)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("snap")))
      .toSet

  private def liveSet(dir: java.nio.file.Path): Set[Long] =
    ManifestReconcileStream.live(spark, dir.resolve("state").toString)
      .collect().map(_.getAs[Long]("doc_id")).toSet

  test("stream removed/added classes equal the batch anti-join diff of " +
    "consecutive manifests across 4 epochs (the q126 semantics)") {
    val dir = java.nio.file.Files.createTempDirectory("manrec")
    val reports = run(dir, "ckpt", (0 until Snaps).map(manifest))

    assert(tombSet(dir) == expectedTombs, "stream tombstones != model")
    assert(liveSet(dir) ==
      (0L until 120L).filter(present(_, Snaps - 1)).toSet)

    // per-epoch reports match BOTH the imperative model and a batch
    // full-outer diff (the q126 classification) over the same manifests
    (0 until Snaps).foreach { s =>
      val (_, a, r, c) = reports(s)
      assert(a == expectedAdds(s).size, s"n_added snap $s")
      val expRemoved =
        if (s == 0) 0 else expectedTombs.count(_._2 == s.toLong)
      assert(r == expRemoved, s"n_removed snap $s")
      if (s > 0) {
        val old = manifest(s - 1).toDF().select(col("doc_id"),
          lit(1).as("o"))
        val nw = manifest(s).toDF().select(col("doc_id"), lit(1).as("n"))
        val classes = old.join(nw, Seq("doc_id"), "full_outer")
          .select(when(col("o").isNull, "added")
            .when(col("n").isNull, "removed")
            .otherwise("carried").as("change"))
          .groupBy(col("change")).count()
          .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
        assert(classes.getOrElse("removed", 0L) == r, s"q126-twin snap $s")
        assert(classes.getOrElse("added", 0L) == a)
        assert(classes.getOrElse("carried", 0L) == c)
      }
    }
    // fixture sanity: churn in both directions at every step
    assert((1 until Snaps).forall(s => expectedAdds(s).nonEmpty))
    assert((1 until Snaps).forall(s => expectedTombs.exists(_._2 == s)))
  }

  test("redelivering the last manifest under a fresh checkpoint is " +
    "idempotent (same stored prev, duplicate rows fold away)") {
    val dir = java.nio.file.Files.createTempDirectory("manrec-replay")
    run(dir, "ckpt1", (0 until 3).map(manifest))
    val (tombs, live) = (tombSet(dir), liveSet(dir))
    run(dir, "ckpt2", Seq(manifest(2))) // exact redelivery, new lineage
    assert(tombSet(dir) == tombs, "replay changed tombstones")
    assert(liveSet(dir) == live, "replay changed the live set")
    // and the table still reconciles forward afterwards
    run(dir, "ckpt3", Seq(manifest(3)))
    assert(tombSet(dir) == expectedTombs)
  }

  test("a backlog batch merging TWO manifests reconciles both in order " +
    "(intra-batch visibility)") {
    val dir = java.nio.file.Files.createTempDirectory("manrec-merge")
    val ms = (0 until Snaps).map(manifest)
    run(dir, "ckpt", Seq(ms(0), ms(1) ++ ms(2), ms(3)))
    assert(tombSet(dir) == expectedTombs)
    assert(liveSet(dir) ==
      (0L until 120L).filter(present(_, Snaps - 1)).toSet)
  }

  test("a manifest below the stored clock fails fast without mutating " +
    "state") {
    val dir = java.nio.file.Files.createTempDirectory("manrec-regress")
    run(dir, "ckpt1", (0 until 3).map(manifest))
    val (tombs, live) = (tombSet(dir), liveSet(dir))
    val stream = MemoryStream[ManifestRow](spark)
    val q = ManifestReconcileStream.start(stream.toDF(),
      dir.resolve("state").toString, dir.resolve("ckpt2").toString,
      snapCol = Some("snap"))()
    try {
      stream.addData(manifest(1).toIndexedSeq: _*) // late, NOT the last
      val ex = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("manifest clock regression")), ex)
    } finally q.stop()
    assert(tombSet(dir) == tombs)
    assert(liveSet(dir) == live)
  }

  test("compaction preserves tombstones, live set, and forward " +
    "reconciliation") {
    val dir = java.nio.file.Files.createTempDirectory("manrec-compact")
    run(dir, "ckpt1", (0 until 3).map(manifest))
    val (tombs, live) = (tombSet(dir), liveSet(dir))
    ManifestReconcileStream.compactState(spark, dir.resolve("state").toString)
    assert(tombSet(dir) == tombs, "compaction changed tombstones")
    assert(liveSet(dir) == live, "compaction changed the live set")
    run(dir, "ckpt2", Seq(manifest(3)))
    assert(tombSet(dir) == expectedTombs)
  }

  /** Runs the four manifests one per batch, on the `snap` column's clock
    * or (without `snapCol`) on the raw batch id, which equals it here;
    * with `replay`, the last batch then runs again under the same
    * checkpoint. Returns the tombstones, the live set and the published
    * snapshots. */
  private def runForced(snapCol: Boolean, replay: Boolean)
      : (Set[(Long, Long)], Set[Long], Seq[Long]) = {
    val dir = java.nio.file.Files.createTempDirectory("manrec-forced")
    val ckpt = dir.resolve("ckpt").toString
    val stream = MemoryStream[ManifestRow](spark)
    val snaps = ArrayBuffer.empty[Long]
    def start() = ManifestReconcileStream.start(stream.toDF(),
      dir.resolve("state").toString, ckpt,
      snapCol = Some("snap").filter(_ => snapCol)) {
      (snap, _, _, _) => snaps += snap
    }
    val q = start()
    try (0 until Snaps).foreach { s =>
      stream.addData(manifest(s).toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    if (replay) ForcedReplay(q, ckpt)(start())
    (tombSet(dir), liveSet(dir), snaps.toSeq)
  }

  Seq(false -> "the raw batch-id clock", true -> "snapCol").foreach {
    case (snapCol, clock) =>
      test(s"a forced same-checkpoint replay of the last manifest ($clock) " +
        "leaves tombstones and the live set equal to a clean run") {
        val (tombs, live, snaps) = runForced(snapCol, replay = false)
        assert(tombs == expectedTombs)
        val (tombs2, live2, snaps2) = runForced(snapCol, replay = true)
        assert(snaps2 == snaps :+ snaps.last,
          s"the last batch must run again: $snaps2")
        assert(tombs2 == tombs, "replay changed tombstones")
        assert(live2 == live, "replay changed the live set")
      }
  }
}
