package graft.streaming

import graft.covid.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

final case class LayoutDoc(doc_id: Long, source: String, n_chars: Long)

/** Streaming Z-order layout maintenance ([[LayoutStream]]): the audit of
  * the continuously-ingested, selectively-compacted table must equal the
  * batch q141 audit over the same documents; the id gate must absorb
  * redelivery; and — the point of the operator — partition pruning and
  * superseded-file skipping must hold in SCANNED-FILE COUNTS across ≥3
  * epochs of ingest plus compaction, not plan prose. */
class LayoutStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def docRows: Seq[LayoutDoc] =
    graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars")).collect()
      .map(r => LayoutDoc(r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq

  private def run(dir: java.nio.file.Path, ckpt: String,
      bs: Seq[Seq[LayoutDoc]]): Seq[(Long, Long, Long)] = {
    val stream = MemoryStream[LayoutDoc](spark)
    val reports = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = LayoutStream.start(stream.toDF(),
      dir.resolve("table").toString, dir.resolve(ckpt).toString) {
      (e, n, c) => reports += ((e, n, c))
    }
    try bs.foreach { b =>
      stream.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    reports.toSeq
  }

  /** Sum of numFiles over every file scan in the EXECUTED plan — unlike
    * LayoutSpec's single-scan case, read()'s union+join plan wraps in
    * AdaptiveSparkPlanExec whose executed subtree (and its query stages)
    * TreeNode.collect does not descend into. */
  private def scannedFiles(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
  }

  private def auditRows(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5))).toSeq

  test("streamed table audit == batch q141 across 4 epochs with " +
    "compaction; redelivery gates to zero; pruning + superseded-file " +
    "skipping hold by scanned-file count") {
    val dir = java.nio.file.Files.createTempDirectory("zstream")
    val rows = docRows
    val bs = rows.grouped((rows.length + 3) / 4).toSeq
    assert(bs.length == 4)
    val reports = run(dir, "ckpt1", bs)
    val table = dir.resolve("table").toString

    // every doc landed exactly once; the OPTIMIZE trigger fired
    assert(reports.map(_._2).sum == rows.length)
    assert(reports.map(_._3).sum >= 1,
      s"no zp was compacted across 4 epochs: $reports")

    // stream ≡ batch: the maintained table's audit equals q141 on the
    // same documents — across the delta/base split and the pointer flips
    val got = auditRows(LayoutStream.audit(spark, table))
    val want = auditRows(graft.operators.Layout.q141ZorderLayout
      .fn(spark, sfDir))
    assert(got == want, s"audit drift: got ${got.size}, want ${want.size}")

    // fresh-lineage redelivery: the id gate empties every batch
    val rep = run(dir, "ckpt2", Seq(bs.head))
    assert(rep.map(_._2) == Seq(0L), s"redelivery must gate to zero: $rep")
    assert(auditRows(LayoutStream.audit(spark, table)) == want)

    // ---- file-count proofs ----
    val fs = EpochState.fs(spark, table)
    val hotZp = got.maxBy(_._2)._1
    val ptrTxt = EpochState.readSmall(fs,
      new org.apache.hadoop.fs.Path(s"$table/base/zp=$hotZp/_gen"))
    assert(ptrTxt.isDefined, s"hot zp $hotZp must have been compacted")
    val gen = ptrTxt.get.split(";")(0).toLong
    val covered = ptrTxt.get.split(";").drop(1).map(_.toLong).toSet

    def parquetFiles(p: String): Long = {
      val path = new org.apache.hadoop.fs.Path(p)
      if (!fs.exists(path)) 0L
      else fs.listStatus(path).count(s => s.isFile &&
        s.getPath.getName.endsWith(".parquet")).toLong
    }
    val epochs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$table/delta"))
      .map(_.getPath.getName).filter(_.startsWith("epoch="))
      .map(_.stripPrefix("epoch=").toLong).toSeq
    val liveFiles = parquetFiles(s"$table/base/zp=$hotZp/gen=$gen") +
      epochs.filterNot(covered)
        .map(e => parquetFiles(s"$table/delta/epoch=$e/zp=$hotZp")).sum
    val allFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$table/base/zp=$hotZp"))
      .filter(s => s.isDirectory)
      .map(g => parquetFiles(g.getPath.toString)).sum +
      epochs.map(e => parquetFiles(s"$table/delta/epoch=$e/zp=$hotZp")).sum

    // box predicate on the hot zp: reads exactly the LIVE files of that
    // zp (current generation + uncovered slices) — superseded
    // generations and covered delta slices are never opened
    val box = LayoutStream.read(spark, table).filter(col("zp") === hotZp)
    val boxFiles = scannedFiles(box)
    assert(boxFiles == liveFiles,
      s"box must read the live files only: $boxFiles vs live $liveFiles " +
        s"(on disk for zp=$hotZp: $allFiles)")
    assert(liveFiles < allFiles,
      "compaction must leave superseded files that reads skip " +
        s"($liveFiles live of $allFiles on disk)")

    // and the box prunes against the whole table scan
    val totalFiles = scannedFiles(LayoutStream.read(spark, table))
    assert(boxFiles < totalFiles,
      s"box must prune: $boxFiles vs $totalFiles")
    // pruned read returns the same rows as the audit's count for that zp
    assert(box.count() == got.find(_._1 == hotZp).get._2)

    // ---- vacuum: deletes only unreferenced garbage ----
    sys.props("graft.artifact.prune.grace.ms") = "-60000"
    try {
      val (gens, slices) = LayoutStream.vacuum(spark, table)
      assert(gens + slices >= 1,
        s"compaction left garbage vacuum must collect: $gens/$slices")
      assert(auditRows(LayoutStream.audit(spark, table)) == want,
        "vacuum must not change the table")
      val afterAll = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$table/base/zp=$hotZp"))
        .filter(_.isDirectory)
        .map(g => parquetFiles(g.getPath.toString)).sum +
        epochs.map(e => parquetFiles(s"$table/delta/epoch=$e/zp=$hotZp")).sum
      assert(afterAll == liveFiles,
        s"after vacuum only live files remain: $afterAll vs $liveFiles")
    } finally sys.props.remove("graft.artifact.prune.grace.ms")
  }

  test("restart with a fresh checkpoint AFTER vacuum of a fully-covered " +
    "table must not mask new rows (epoch counter re-seeds from pointers)") {
    val dir = java.nio.file.Files.createTempDirectory("zrecover")
    val table = dir.resolve("table").toString
    // identical (source, n_chars) → every doc routes to ONE zp, so 6
    // epochs of 10 docs trigger compaction twice (slices 0-2 at epoch 2,
    // 3-5 at epoch 5) and leave EVERY delta slice covered
    def mk(ids: Range) = ids.map(i => LayoutDoc(i.toLong, "websrc", 1000L))
    val reports = run(dir, "ckptA",
      (0 until 6).map(k => mk(k * 10 until k * 10 + 10)))
    assert(reports.map(_._2).sum == 60L)
    assert(reports.map(_._3).sum >= 2, s"expected two compactions: $reports")

    // vacuum with a negative grace: all covered slices (and their emptied
    // epoch dirs) go — the on-disk epoch directories no longer witness
    // the high-water epoch, only the pointer files do
    val fs = EpochState.fs(spark, table)
    sys.props("graft.artifact.prune.grace.ms") = "-60000"
    try { LayoutStream.vacuum(spark, table); () }
    finally sys.props.remove("graft.artifact.prune.grace.ms")
    val deltaRoot = new org.apache.hadoop.fs.Path(s"$table/delta")
    val epochDirs =
      if (!fs.exists(deltaRoot)) 0
      else fs.listStatus(deltaRoot)
        .count(e => e.isDirectory && e.getPath.getName.startsWith("epoch="))
    assert(epochDirs == 0,
      s"scenario needs a fully-swept delta tier, found $epochDirs dirs")
    assert(LayoutStream.read(spark, table).count() == 60L)

    // the documented recovery pattern: restart under a NEW checkpoint.
    // Without pointer-seeded lineage bases the fresh lineage restarts at
    // epoch 0 and read()'s `epoch <= max(covered)` exclusion silently
    // drops every new row in the compacted zp.
    val rep2 = run(dir, "ckptB", Seq(mk(100 until 110)))
    assert(rep2.map(_._2) == Seq(10L), s"new docs must land: $rep2")
    assert(LayoutStream.read(spark, table).count() == 70L,
      "rows ingested after the vacuum+restart must be readable")
  }

  test("a forced same-checkpoint replay of a compacting batch leaves the " +
    "audit and the row count equal to a clean run") {
    // two sources, three batches: every zp's third slice trips the
    // OPTIMIZE trigger in the last batch, whose replay then meets its
    // own rows in the compacted generation
    def mk(ids: Range) = ids.map(i =>
      LayoutDoc(i.toLong, if (i % 2 == 0) "websrc" else "news", 1000L))
    def runForced(replay: Boolean) = {
      val dir = java.nio.file.Files.createTempDirectory("zforced")
      val table = dir.resolve("table").toString
      val ckpt = dir.resolve("ckpt").toString
      val stream = MemoryStream[LayoutDoc](spark)
      val reports =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      def start() = LayoutStream.start(stream.toDF(), table, ckpt) {
        (e, n, c) => reports += ((e, n, c))
      }
      val q = start()
      try (0 until 3).foreach { k =>
        stream.addData(mk(k * 10 until k * 10 + 10): _*)
        q.processAllAvailable()
      } finally q.stop()
      if (replay) ForcedReplay(q, ckpt)(start())
      (auditRows(LayoutStream.audit(spark, table)),
        LayoutStream.read(spark, table).count(), reports.toSeq)
    }
    val (audit, n, reports) = runForced(replay = false)
    assert(n == 30L)
    assert(reports.last._3 >= 1, s"the last batch must compact: $reports")
    val (audit2, n2, reports2) = runForced(replay = true)
    assert(reports2.map(_._1) == reports.map(_._1) :+ reports.last._1,
      s"the last batch must run again: $reports2")
    assert(n2 == n, "replay changed the row count")
    assert(audit2 == audit, "replay changed the audit")
  }
}
