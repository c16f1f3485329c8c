package graft.streaming

import graft.covid.SparkTestSession
import graft.operators.Similarity
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

final case class Vec(vec_id: Long, embedding: Array[Float])

class VectorDedupStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private val tau = 0.9

  test("streamed cross-epoch matches equal the batch banded-pair twin") {
    val vecs = graft.Tables(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").as[Vec].collect().sortBy(_.vec_id)
    // plant an exact duplicate of an epoch-0 vector into epoch 2 so the
    // equality check always has at least one guaranteed hit
    val dupId = 100000L
    val chunk = math.max(1, vecs.length / 3 + 1)
    val raw = vecs.grouped(chunk).map(_.toSeq).toSeq
    val batches =
      if (raw.size < 2) raw
      else raw.init :+ (raw.last :+ Vec(dupId, raw.head.head.embedding))
    val stream = MemoryStream[Vec](spark)
    val got = ArrayBuffer.empty[(Long, Long, Long)]
    val dir = java.nio.file.Files.createTempDirectory("vec-dedup")
    val query = VectorDedupStream.start(stream.toDF(),
      dir.resolve("index").toString, dir.resolve("ckpt").toString, tau) {
      (out, epoch) =>
        got ++= out.collect().map(r => (epoch, r.getLong(0), r.getLong(1)))
    }
    try {
      batches.foreach { bt =>
        stream.addData(bt.toIndexedSeq: _*)
        query.processAllAvailable() // one epoch per chunk
      }
    } finally query.stop()
    assert(got.exists { case (_, p, _) => p == dupId },
      "the planted duplicate must be caught")
    // batch twin: banded pairs across DIFFERENT epochs, earlier -> later
    val epochOf = batches.zipWithIndex
      .flatMap { case (bt, e) => bt.map(v => v.vec_id -> e.toLong) }.toMap
    val all = batches.flatten
    val entries = Similarity.bandedEntries(
      all.toSeq.toDF("vec_id", "embedding"))
    val expected = Similarity.bandedMatches(entries, entries, tau)
      .filter(col("probe_id") =!= col("index_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (p, i) => epochOf(i) < epochOf(p) }
      .map { case (p, i) => (epochOf(p), p, i) }.toSet
    assert(got.toSet == expected,
      "streamed matches must equal the cross-epoch batch pairs")
    assert(got.nonEmpty)
  }

  test("a replayed epoch does not match against its own index rows") {
    val dir = java.nio.file.Files.createTempDirectory("vec-replay")
    val indexDir = dir.resolve("index").toString
    val v = Vec(7L, Array.fill(64)(0.5f))
    val ckpt = dir.resolve("ckpt").toString
    val stream = MemoryStream[Vec](spark)
    val got = ArrayBuffer.empty[(Long, Long)]
    def start() = VectorDedupStream.start(stream.toDF(), indexDir, ckpt,
      tau) { (out, _) =>
      got ++= out.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val q = start()
    stream.addData(v)
    try q.processAllAvailable() finally q.stop()
    assert(got.isEmpty, "first sight: nothing to match")
    // a forced replay runs epoch 0 again against an index that already
    // holds epoch 0 — the epoch filter must keep the replay from
    // matching itself
    ForcedReplay(q, ckpt)(start())
    assert(got.isEmpty, "replay must not self-match")
  }

  test("compaction folds epoch partitions without changing probe results") {
    val dir = java.nio.file.Files.createTempDirectory("vec-compact")
    val indexDir = dir.resolve("index").toString
    def ingest(ckpt: String, vs: Seq[Vec]): Unit = {
      val stream = MemoryStream[Vec](spark)
      val q = VectorDedupStream.start(stream.toDF(), indexDir,
        dir.resolve(ckpt).toString, tau) { (out, _) => out.collect(); () }
      vs.foreach { v => stream.addData(v); q.processAllAvailable() }
      q.stop()
    }
    val base = Array.tabulate(64)(i => (i + 1).toFloat)
    ingest("c1", Seq(Vec(1L, base), Vec(2L, base.map(_ * 2f))))
    val before = spark.read.parquet(s"$indexDir/sigs").drop("epoch")
      .collect().map(_.getLong(0)).sorted.toSeq
    VectorDedupStream.compactIndex(spark, indexDir)
    val sigs = spark.read.parquet(s"$indexDir/sigs")
    assert(sigs.select("epoch").distinct().count() == 1,
      "all epochs folded into one generation")
    assert(sigs.drop("epoch").collect().map(_.getLong(0)).sorted.toSeq
      == before, "compaction preserves the index rows")
    // a duplicate arriving after compaction still matches the old content
    val got = ArrayBuffer.empty[Long]
    val stream = MemoryStream[Vec](spark)
    val q = VectorDedupStream.start(stream.toDF(), indexDir,
      dir.resolve("c2").toString, tau) { (out, _) =>
      got ++= out.collect().map(_.getLong(1))
    }
    stream.addData(Vec(9L, base))
    try q.processAllAvailable() finally q.stop()
    assert(got.contains(1L), "post-compaction probe still finds the dup")
  }
}
