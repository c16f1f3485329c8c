package graft.streaming

import graft.covid.SparkTestSession
import graft.operators.Quality
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

final case class QDoc(doc_id: Long, text: String, source: String)

class QualityStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def asMap(rows: Array[Row]): Map[String, Seq[Long]] =
    rows.map { r =>
      r.getString(0) -> (1 until r.length).map(r.getLong(_))
    }.toMap

  test("cumulative streamed funnel equals the batch q112 report") {
    val docs = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "source").as[QDoc].collect().sortBy(_.doc_id)
    val batches = docs.grouped(math.max(1, docs.length / 3 + 1)).toSeq
    val stream = MemoryStream[QDoc](spark)
    val dir = java.nio.file.Files.createTempDirectory("quality-stream")
    val reportDir = dir.resolve("report").toString
    val query = QualityStream.start(stream.toDF(), reportDir,
      dir.resolve("ckpt").toString)
    try {
      batches.foreach { bt =>
        stream.addData(bt.toIndexedSeq: _*)
        query.processAllAvailable() // one epoch per chunk
      }
    } finally query.stop()
    // epoch is a partition column => one report per epoch really landed
    val perEpoch = spark.read.parquet(reportDir)
    assert(perEpoch.select("epoch").distinct().count() == batches.size)
    val got = asMap(QualityStream.totals(spark, reportDir).collect())
    val expected = asMap(Quality.q112QualityFunnel.fn(spark, sfDir).collect())
    assert(got == expected,
      "summed per-epoch funnel reports must equal the batch report")
  }

  test("a replayed epoch overwrites its partition instead of double-counting") {
    val docs = Seq(
      QDoc(1L, "the fast key and the slow key of the and to in is it table", "s"),
      QDoc(2L, "tiny", "s"))
    val dir = java.nio.file.Files.createTempDirectory("quality-replay")
    val reportDir = dir.resolve("report").toString
    val ckpt = dir.resolve("ckpt").toString
    val stream = MemoryStream[QDoc](spark)
    def start() = QualityStream.start(stream.toDF(), reportDir, ckpt)
    val q = start()
    stream.addData(docs: _*)
    try q.processAllAvailable() finally q.stop()
    val first = asMap(QualityStream.totals(spark, reportDir).collect())
    // a forced replay runs epoch 0 again with the SAME data — the epoch
    // partition must be overwritten, leaving totals identical
    ForcedReplay(q, ckpt)(start())
    val second = asMap(QualityStream.totals(spark, reportDir).collect())
    assert(first == second, "at-least-once replay must stay exactly-once")
    assert(first("s").head == 2L, "both docs counted exactly once")
  }
}
