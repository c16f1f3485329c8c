package graft.streaming

import graft.covid.SparkTestSession
import graft.operators.Corpus
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

class NoveltyStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("streamed novelty over doc_id-ordered batches equals batch q105 " +
    "on the full corpus") {
    val docs = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text").as[Doc].collect().sortBy(_.doc_id)
    val batches = docs.grouped(math.max(1, docs.length / 3 + 1)).toSeq
    val stream = MemoryStream[Doc](spark)
    val got = ArrayBuffer.empty[(Long, Long, Long, Option[Double])]
    val dir = java.nio.file.Files.createTempDirectory("novelty")
    val query = NoveltyStream.start(stream.toDF(),
      dir.resolve("index").toString, dir.resolve("ckpt").toString) {
      (out, _) =>
        got ++= out.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    }
    try {
      batches.foreach { bt =>
        stream.addData(bt.toIndexedSeq: _*)
        query.processAllAvailable() // one epoch per chunk
      }
      val expected = Corpus.q105NgramNovelty.fn(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
      assert(got.size == docs.length, "one score row per document")
      assert(got.toSet == expected,
        "stream scores must equal the batch operator row for row")
    } finally query.stop()
  }

  test("a replayed epoch does not see its own shingles as already seen") {
    val stream = MemoryStream[Doc](spark)
    val got = ArrayBuffer.empty[(Long, Long, Double)]
    val dir = java.nio.file.Files.createTempDirectory("novelty-replay")
    val indexDir = dir.resolve("index").toString
    val text = "one two three four five"
    val ckpt = dir.resolve("ckpt").toString
    def run() = NoveltyStream.start(stream.toDF(), indexDir, ckpt) {
      (out, epoch) =>
        got ++= out.collect().map(r => (epoch, r.getLong(2), r.getDouble(3)))
    }
    val q1 = run()
    try {
      stream.addData(Doc(1L, text))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(got.toSeq == Seq((0L, 3L, 1.0)), "first sight: fully novel")
    // a forced replay runs epoch 0 again against an index that already
    // holds epoch 0's shingles; the epoch filter must keep the replay's
    // verdict identical, not report zero novelty
    got.clear()
    ForcedReplay(q1, ckpt)(run())
    assert(got.toSeq == Seq((0L, 3L, 1.0)),
      "replayed epoch must not count its own prior attempt as seen")
  }
}
