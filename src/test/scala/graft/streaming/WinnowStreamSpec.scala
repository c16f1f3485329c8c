package graft.streaming

import graft.covid.SparkTestSession
import graft.operators.Recipe
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WinnowStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def asSet(rows: Seq[Row]): Set[(Long, Long, Long)] =
    rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("matched_id"),
      r.getAs[Long]("shared_fps"))).toSet

  private val shared = (1 to 12).map(i => s"tok$i").mkString(" ")

  test("streamed winnow probe equals the cross-epoch batch pairs and " +
    "guarantees detection of a long shared run across epochs") {
    // epoch 0: original; epoch 1: unrelated; epoch 2: clone of the run
    val epochs = Seq(
      Seq(Doc(1L, s"alpha beta $shared gamma delta"),
        Doc(2L, "totally unrelated words here with nothing shared qq ww")),
      Seq(Doc(3L, "another disjoint document full of its own words zz yy")),
      Seq(Doc(4L, s"prefix words $shared suffix words"),
        Doc(5L, s"in batch twin $shared also here")))
    val dir = java.nio.file.Files.createTempDirectory("winnow-stream")
    val indexDir = dir.resolve("index").toString
    val stream = MemoryStream[Doc](spark)
    val published = scala.collection.mutable.ArrayBuffer[Row]()
    val q = WinnowStream.start(stream.toDF(), indexDir,
      dir.resolve("ckpt").toString) { (m, _) =>
      published ++= m.collect()
    }
    try {
      epochs.foreach { e =>
        stream.addData(e: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // guarantee: the epoch-2 clones match doc 1 from epoch 0; the
    // one-sided probe must NOT pair docs 4 and 5 (same batch)
    val got = asSet(published.toSeq)
    assert(got.exists { case (a, b, _) => a == 4L && b == 1L }, got)
    assert(got.exists { case (a, b, _) => a == 5L && b == 1L }, got)
    assert(!got.exists { case (a, b, _) =>
      Set(a, b) == Set(4L, 5L) }, "in-batch pair leaked")
    // batch twin: every (later epoch) x (earlier epochs) probe, computed
    // offline from the same entries, must equal the published stream
    val all = epochs.zipWithIndex.flatMap { case (e, i) =>
      e.map(d => (d.doc_id, d.text, i))
    }.toDF("doc_id", "text", "epoch")
    val entries = Recipe.winnowEntries(all.drop("epoch"))
      .join(all.select(col("doc_id"), col("epoch")), "doc_id")
    val expected = (1 until epochs.size).flatMap { i =>
      Recipe.winnowMatches(
        entries.filter(col("epoch") === i).drop("epoch"),
        entries.filter(col("epoch") < i).drop("epoch")).collect()
    }
    assert(got == asSet(expected), "stream != batch twin")
  }

  test("a replayed epoch overwrites its index partition and re-publishes " +
    "identical matches") {
    val dir = java.nio.file.Files.createTempDirectory("winnow-replay")
    val indexDir = dir.resolve("index").toString
    val ckpt = dir.resolve("ckpt").toString
    val stream = MemoryStream[Doc](spark)
    val published = scala.collection.mutable.ArrayBuffer[Row]()
    def start() = WinnowStream.start(stream.toDF(), indexDir, ckpt) {
      (m, _) => published ++= m.collect()
    }
    val q = start()
    stream.addData(Doc(1L, s"aa bb $shared cc"), Doc(2L, "unrelated x y"))
    try q.processAllAvailable() finally q.stop()
    val first = asSet(published.toSeq)
    assert(first.isEmpty, "first epoch has no earlier index to match")
    // a forced replay runs epoch 0 again: the epoch filter must keep it
    // from matching its own replayed rows
    published.clear()
    ForcedReplay(q, ckpt)(start())
    val second = asSet(published.toSeq)
    assert(second.isEmpty, "replay matched its own epoch partition")
    val idx = spark.read.parquet(s"$indexDir/fps")
    assert(idx.select("epoch").distinct().count() == 1)
    assert(idx.groupBy("doc_id", "fp").count()
      .filter(col("count") > 1).isEmpty, "replay duplicated index rows")
  }
}
