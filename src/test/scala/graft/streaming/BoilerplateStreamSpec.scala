package graft.streaming

import graft.covid.SparkTestSession
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class BoilerplateStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def dfMap(rows: Array[Row]): Map[(String, String), Long] =
    rows.map(r => (r.getAs[String]("source"), r.getAs[String]("sh")) ->
      r.getAs[Long]("df")).toMap

  test("cumulative streamed document frequencies equal the batch q124 " +
    "relation, and the report applies the threshold over all epochs") {
    val docs = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "source").as[QDoc].collect().sortBy(_.doc_id)
    val batches = docs.grouped(math.max(1, docs.length / 3 + 1)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("bp-stream")
    val indexDir = dir.resolve("index").toString
    val stream = MemoryStream[QDoc](spark)
    val q = BoilerplateStream.start(stream.toDF(), indexDir,
      dir.resolve("ckpt").toString)
    try {
      batches.foreach { bt =>
        stream.addData(bt.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = dfMap(spark.read.parquet(s"$indexDir/dfs")
      .groupBy("source", "sh")
      .agg(org.apache.spark.sql.functions.sum("df").as("df")).collect())
    val expected = dfMap(BoilerplateStream.batchDf(
      graft.Tables(spark, sfDir, "documents")).collect())
    assert(got == expected, "summed per-epoch dfs != batch dfs")
  }

  test("detects boilerplate that only crosses the threshold across " +
    "epochs, and a replayed epoch does not double-count") {
    val header = "subscribe to our newsletter today"
    // 2 header docs of 4 total arrive in DIFFERENT epochs: no single
    // epoch crosses 30%, the cumulative index does
    val e0 = Seq(QDoc(1L, s"$header w1a w1b w1c", "s"),
      QDoc(2L, "w2a w2b w2c w2d w2e", "s"))
    val e1 = Seq(QDoc(3L, s"$header w3a w3b w3c", "s"),
      QDoc(4L, "w4a w4b w4c w4d w4e", "s"))
    val dir = java.nio.file.Files.createTempDirectory("bp-epochs")
    val indexDir = dir.resolve("index").toString
    val ckpt = dir.resolve("ckpt").toString
    val stream = MemoryStream[QDoc](spark)
    def start() = BoilerplateStream.start(stream.toDF(), indexDir, ckpt)
    val q = start()
    try Seq(e0, e1).foreach { e =>
      stream.addData(e: _*); q.processAllAvailable()
    } finally q.stop()
    val rep = BoilerplateStream.report(spark, indexDir).collect()
    val headerShingles = rep.filter(_.getAs[String]("sh")
      .forall(c => !c.isDigit))
    assert(headerShingles.exists(_.getAs[String]("sh")
      == "subscribe to our"), rep.mkString(";"))
    headerShingles.foreach { r =>
      assert(r.getAs[Long]("df") == 2L)
      assert(r.getAs[Long]("n_docs") == 4L)
    }
    // a forced replay runs the last epoch again: its partitions
    // overwrite, report unchanged
    ForcedReplay(q, ckpt)(start())
    val rep2 = BoilerplateStream.report(spark, indexDir).collect()
    assert(rep.map(_.toString).toSeq == rep2.map(_.toString).toSeq,
      "replay changed the report")
  }
}
