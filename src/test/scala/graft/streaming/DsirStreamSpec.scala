package graft.streaming

import graft.covid.SparkTestSession
import graft.operators.Recipe
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

final case class LDoc(doc_id: Long, text: String, source: String,
    lang: String)

class DsirStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def asMap(rows: Array[Row])
      : Map[(String, String), Seq[Long]] =
    rows.map { r =>
      (r.getAs[String]("source"), r.getAs[String]("lang")) ->
        Seq(r.getAs[Long]("docs"), r.getAs[Long]("sum_imp_pt"),
          r.getAs[Long]("min_imp_pt"), r.getAs[Long]("max_imp_pt"),
          r.getAs[Long]("target_like"))
    }.toMap

  test("streamed DSIR reports sum to the batch q119 report when the " +
    "stream scores the same corpus the model was trained on") {
    val corpus = graft.Tables(spark, sfDir, "documents")
    val model = Recipe.dsirModel(corpus)
    val docs = corpus.select("doc_id", "text", "source", "lang")
      .as[LDoc].collect().sortBy(_.doc_id)
    val batches = docs.grouped(math.max(1, docs.length / 3 + 1)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("dsir-stream")
    val reportDir = dir.resolve("report").toString
    val stream = MemoryStream[LDoc](spark)
    val q = DsirStream.start(stream.toDF(), model, reportDir,
      dir.resolve("ckpt").toString)
    try {
      batches.foreach { bt =>
        stream.addData(bt.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(spark.read.parquet(reportDir)
      .select("epoch").distinct().count() == batches.size)
    val got = asMap(DsirStream.totals(spark, reportDir).collect())
    val expected = asMap(Recipe.q119DsirImportance.fn(spark, sfDir).collect())
    assert(got == expected, "summed epoch reports != batch q119")
  }

  test("a replayed epoch overwrites its report partition") {
    val model = Recipe.dsirModel(graft.Tables(spark, sfDir, "documents"))
    val docs = Seq(
      LDoc(1L, "the fast table and the slow key", "s", "en"),
      LDoc(2L, "der und die das", "s", "de"))
    val dir = java.nio.file.Files.createTempDirectory("dsir-replay")
    val reportDir = dir.resolve("report").toString
    val ckpt = dir.resolve("ckpt").toString
    val stream = MemoryStream[LDoc](spark)
    def start() = DsirStream.start(stream.toDF(), model, reportDir, ckpt)
    val q = start()
    stream.addData(docs: _*)
    try q.processAllAvailable() finally q.stop()
    val first = asMap(DsirStream.totals(spark, reportDir).collect())
    ForcedReplay(q, ckpt)(start()) // epoch 0 runs again, same rows
    val second = asMap(DsirStream.totals(spark, reportDir).collect())
    assert(first == second, "at-least-once replay must stay exactly-once")
    assert(first(("s", "en")).head == 1L)
    assert(first(("s", "de")).head == 1L)
  }
}
