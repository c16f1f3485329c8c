package graft.streaming

import graft.covid.SparkTestSession
import graft.operators.Quality
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

final case class BlockDoc(doc_id: Long, source: String, n_chars: Long,
    text: String)

/** Streaming blocklist filter ([[BlocklistStream]]): with the pattern
  * automaton frozen at compile time, the accumulated hit table must be
  * row-identical to the batch per-doc pass over everything ingested,
  * and the read-time report/verdict must equal the batch q155/q156
  * outputs over the same corpus — under overlapping batch splits,
  * fresh-lineage redelivery, and compaction. */
class BlocklistStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def docRows: Seq[BlockDoc] =
    graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
      .collect()
      .map(r => BlockDoc(r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3)))
      .toSeq

  private def hitsOf(df: DataFrame) = df.collect()
    .map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[String]("source"), r.getAs[Long]("n_chars"),
        r.getAs[scala.collection.Seq[Long]]("counts").toList)).toMap

  private def rowsOf(df: DataFrame) =
    df.collect().map(_.toString).toList

  private def run(dir: java.nio.file.Path, ckpt: String,
      bs: Seq[Seq[BlockDoc]]): Seq[(Long, Long)] = {
    val stream = MemoryStream[BlockDoc](spark)
    val reports = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = BlocklistStream.start(stream.toDF(),
      dir.resolve("state").toString, dir.resolve(ckpt).toString) {
      (e, n) => reports += ((e, n))
    }
    try bs.foreach { b =>
      stream.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    reports.toSeq
  }

  test("streamed report and verdict equal batch q155/q156 over the same " +
    "corpus, under overlapping batch splits; fresh-lineage redelivery " +
    "gates to zero and compaction changes nothing") {
    val dir = java.nio.file.Files.createTempDirectory("blockstream")
    val rows = docRows
    val (b1, rest) = rows.splitAt(rows.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    // batch 2 redelivers the tail of batch 1 — the id gate must absorb it
    run(dir, "ckpt", Seq(b1, b1.takeRight(15) ++ b2, b3))
    val state = dir.resolve("state").toString

    val wantHits = hitsOf(
      Quality.blockHits(graft.Tables(spark, sfDir, "documents")))
    val wantReport = rowsOf(Quality.q155Blocklist.fn(spark, sfDir))
    val wantVerdict = rowsOf(Quality.q156BlocklistKeep.fn(spark, sfDir))
    assert(hitsOf(BlocklistStream.hits(spark, state)) == wantHits,
      "streamed hit table != batch per-doc pass")
    assert(rowsOf(BlocklistStream.report(spark, state)) == wantReport,
      "streamed report != batch q155")
    assert(rowsOf(BlocklistStream.verdict(spark, state)) == wantVerdict,
      "streamed verdict != batch q156")

    // fresh-lineage redelivery of batch 1: the id gate yields an empty
    // delta under a NEW checkpoint; state is unchanged
    val rep = run(dir, "ckpt2", Seq(b1))
    assert(rep.map(_._2) == Seq(0L), s"redelivery must gate to zero: $rep")
    assert(hitsOf(BlocklistStream.hits(spark, state)) == wantHits)

    BlocklistStream.compactState(spark, state)
    assert(hitsOf(BlocklistStream.hits(spark, state)) == wantHits,
      "compaction changed the hit table")
    assert(rowsOf(BlocklistStream.report(spark, state)) == wantReport,
      "compaction changed the report")
    assert(rowsOf(BlocklistStream.verdict(spark, state)) == wantVerdict,
      "compaction changed the verdict")
  }

  test("frozen-automaton purity: an early epoch's partition holds exactly " +
    "its batch's docs, scored identically to the batch pass despite later " +
    "corpus growth") {
    val dir = java.nio.file.Files.createTempDirectory("blockfrozen")
    val rows = docRows
    val (b1, b2) = rows.splitAt(20) // tiny first epoch
    run(dir, "ckpt", Seq(b1, b2))
    val state = dir.resolve("state").toString
    val e0 = spark.read.parquet(s"$state/hits/epoch=0")
    assert(e0.count() == b1.length.toLong)
    val want = hitsOf(Quality.blockHits(
      graft.Tables(spark, sfDir, "documents")
        .filter(col("doc_id").isin(b1.map(_.doc_id): _*))))
    assert(hitsOf(e0.select(col("doc_id"), col("source"), col("n_chars"),
      col("counts"))) == want)
  }

  test("a crash between the hit write and the seen write: redelivery " +
    "under a fresh checkpoint equals a clean run") {
    val rows = docRows
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val clean = java.nio.file.Files.createTempDirectory("blockclean")
    run(clean, "ckpt", Seq(b1, b2))
    val cleanState = clean.resolve("state").toString

    val dir = java.nio.file.Files.createTempDirectory("blockcrash")
    val state = dir.resolve("state").toString
    run(dir, "ckpt1", Seq(b1))
    run(dir, "ckpt2", Seq(b2))
    // on disk this is a crash after b2's hits landed and before its seen
    // partition did
    val seen = new java.io.File(s"$state/seen")
    val last = seen.listFiles().map(_.getName)
      .filter(_.startsWith("epoch=")).maxBy(_.stripPrefix("epoch=").toLong)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(seen, last))
    run(dir, "ckpt3", Seq(b2))
    assert(BlocklistStream.hits(spark, state).count() ==
      BlocklistStream.hits(spark, cleanState).count(),
      "redelivery after the crash must not duplicate hit rows")
    assert(rowsOf(BlocklistStream.report(spark, state)) ==
      rowsOf(BlocklistStream.report(spark, cleanState)))
  }
}
