package graft.streaming

import graft.covid.SparkTestSession
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class TokenStatsStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def asMap(rows: Array[Row]): Map[(String, String), (Long, Long)] =
    rows.map { r =>
      (r.getAs[String]("source"), r.getAs[String]("word")) ->
        ((r.getAs[Long]("occurrences"), r.getAs[Long]("docs")))
    }.toMap

  test("cumulative streamed token stats equal the from-scratch batch " +
    "aggregation, and survive compaction") {
    val docs = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "source").as[QDoc].collect().sortBy(_.doc_id)
    val batches = docs.grouped(math.max(1, docs.length / 3 + 1)).toSeq
    val stream = MemoryStream[QDoc](spark)
    val dir = java.nio.file.Files.createTempDirectory("token-stats")
    val indexDir = dir.resolve("index").toString
    val query = TokenStatsStream.start(stream.toDF(), indexDir,
      dir.resolve("ckpt").toString)
    try {
      batches.foreach { bt =>
        stream.addData(bt.toIndexedSeq: _*)
        query.processAllAvailable()
      }
    } finally query.stop()
    val perEpoch = spark.read.parquet(indexDir)
    assert(perEpoch.select("epoch").distinct().count() == batches.size)
    val expected = asMap(TokenStatsStream.batchStats(
      graft.Tables(spark, sfDir, "documents")).collect())
    val got = asMap(TokenStatsStream.totals(spark, indexDir).collect())
    assert(got == expected,
      "summed per-epoch stats must equal the batch aggregation")
    // vocab is a pure consumer of totals: spot-check determinism + order
    val v = TokenStatsStream.vocab(spark, indexDir, 5).collect()
    assert(v.length == 5)
    assert(v.map(_.getAs[Long]("occurrences")).toSeq
      .sliding(2).forall(p => p.head >= p.last), "vocab not count-desc")
    // compaction folds epochs without changing totals
    TokenStatsStream.compact(spark, indexDir)
    val folded = spark.read.parquet(indexDir)
    assert(folded.select("epoch").distinct().count() == 1)
    assert(asMap(TokenStatsStream.totals(spark, indexDir).collect())
      == expected, "compaction changed totals")
  }

  test("a replayed epoch overwrites its partition instead of " +
    "double-counting") {
    val docs = Seq(
      QDoc(1L, "alpha beta alpha", "s"),
      QDoc(2L, "beta gamma", "s"))
    val dir = java.nio.file.Files.createTempDirectory("token-replay")
    val indexDir = dir.resolve("index").toString
    val ckpt = dir.resolve("ckpt").toString
    val stream = MemoryStream[QDoc](spark)
    def start() = TokenStatsStream.start(stream.toDF(), indexDir, ckpt)
    val q = start()
    stream.addData(docs: _*)
    try q.processAllAvailable() finally q.stop()
    val first = asMap(TokenStatsStream.totals(spark, indexDir).collect())
    ForcedReplay(q, ckpt)(start()) // epoch 0 runs again, same rows
    val second = asMap(TokenStatsStream.totals(spark, indexDir).collect())
    assert(first == second, "at-least-once replay must stay exactly-once")
    assert(first(("s", "alpha")) == ((2L, 1L)))
    assert(first(("s", "beta")) == ((2L, 2L)))
  }

  /** Runs each of `batches` as one epoch of a new query on `dir/ckpt`. */
  private def ingest(dir: java.nio.file.Path, ckpt: String,
      batches: Seq[QDoc]*): Unit = {
    val stream = MemoryStream[QDoc](spark)
    val q = TokenStatsStream.start(stream.toDF(),
      dir.resolve("index").toString, dir.resolve(ckpt).toString)
    try batches.foreach { b =>
      stream.addData(b: _*)
      q.processAllAvailable()
    } finally q.stop()
  }

  test("a restart under a fresh checkpoint keeps the previous " +
    "lineage's epochs") {
    val a = Seq(QDoc(1L, "alpha beta alpha", "s"))
    val b = Seq(QDoc(2L, "beta gamma", "s"))
    val dir = java.nio.file.Files.createTempDirectory("token-lineage")
    ingest(dir, "c1", a)
    ingest(dir, "c2", b)
    assert(asMap(TokenStatsStream.totals(spark, dir.resolve("index")
      .toString).collect()) ==
      asMap(TokenStatsStream.batchStats((a ++ b).toDF()).collect()),
      "the second lineage overwrote the first one's epoch")
  }

  test("a lineage started after a compaction keeps its counts through " +
    "the next compaction") {
    val a0 = Seq(QDoc(1L, "alpha", "s"))
    val a1 = Seq(QDoc(3L, "beta", "s"))
    val b = Seq(QDoc(2L, "alpha", "s")) // same stats row as a0
    val dir = java.nio.file.Files.createTempDirectory("token-refold")
    val indexDir = dir.resolve("index").toString
    ingest(dir, "c1", a0, a1)
    TokenStatsStream.compact(spark, indexDir)
    ingest(dir, "c2", b)
    TokenStatsStream.compact(spark, indexDir)
    assert(asMap(TokenStatsStream.totals(spark, indexDir).collect()) ==
      asMap(TokenStatsStream.batchStats((a0 ++ a1 ++ b).toDF()).collect()),
      "the fold merged rows of two lineages that share an origin epoch")
  }

  test("a compaction crashed after its fold committed does not " +
    "double-count totals, and compact repairs it") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{col, lit}
    val docs = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "source").as[QDoc].collect().sortBy(_.doc_id)
    val dir = java.nio.file.Files.createTempDirectory("token-crash")
    val indexDir = dir.resolve("index").toString
    val stream = MemoryStream[QDoc](spark)
    val q = TokenStatsStream.start(stream.toDF(), indexDir,
      dir.resolve("ckpt").toString)
    try docs.grouped(docs.length / 2 + 1).foreach { bt =>
      stream.addData(bt.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val t0 = asMap(TokenStatsStream.totals(spark, indexDir).collect())
    val fs = EpochState.fs(spark, indexDir)
    val epochs = fs.listStatus(new Path(indexDir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("epoch="))
      .map(_.stripPrefix("epoch=").toLong)
    assert(epochs.length >= 2, s"need multiple epochs, got $epochs")
    val next = epochs.min - 1
    // crash point: marker PUT, folded generation fully committed (its
    // _SUCCESS on disk), the covered epoch dirs NOT deleted
    val out = fs.create(new Path(indexDir, "_compacting"), true)
    try out.write(s"$next;${epochs.mkString(";")}".getBytes("UTF-8"))
    finally out.close()
    spark.read.parquet(indexDir).filter(col("epoch") =!= lit(next))
      .drop("epoch").distinct()
      .write.mode("overwrite").parquet(s"$indexDir/epoch=$next")
    assert(fs.exists(new Path(s"$indexDir/epoch=$next/_SUCCESS")))
    assert(asMap(TokenStatsStream.totals(spark, indexDir).collect()) == t0,
      "fold-committed crash: both generations on disk must read ONCE")
    TokenStatsStream.compact(spark, indexDir)
    assert(!fs.exists(new Path(indexDir, "_compacting")),
      "repair must clear the marker")
    val after = fs.listStatus(new Path(indexDir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("epoch="))
    assert(after == Seq(s"epoch=$next"),
      s"repair must leave only the folded generation, got $after")
    assert(asMap(TokenStatsStream.totals(spark, indexDir).collect()) == t0)
  }
}
