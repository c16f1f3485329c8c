package graft.streaming

import graft.covid.SparkTestSession
import graft.operators.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

class StreamingDedupSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  // 20-word base docs: long enough that a one-word edit keeps shingle
  // Jaccard ≈ 0.9, comfortably over the 0.5 near-dup threshold
  private val baseText1 =
    (1 to 20).map(i => s"alpha$i").mkString(" ")
  private val baseText2 =
    (1 to 20).map(i => s"beta$i").mkString(" ")

  test("micro-batch probe equals the batch operator, batch by batch") {
    val base = Seq((1L, baseText1), (2L, baseText2)).toDF("doc_id", "text")
    val stream = MemoryStream[Doc](spark)
    val got = ArrayBuffer.empty[(Long, Long, Long, Double)] // (epoch, ...)
    val ckpt = java.nio.file.Files
      .createTempDirectory("sdedup").toString
    val query = StreamingDedup.start(stream.toDF(), base, ckpt) {
      (matches, epoch) =>
        got ++= matches.collect().map(r =>
          (epoch, r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    try {
      // batch 1: exact copy of base 1, near-dup of base 2 (last word
      // changed), and a completely novel doc
      val b1 = Seq(
        Doc(101L, baseText1),
        Doc(102L, baseText2.replace("beta20", "gamma")),
        Doc(103L, (1 to 20).map(i => s"nova$i").mkString(" ")))
      stream.addData(b1: _*)
      query.processAllAvailable()
      val expected1 = Dedup
        .incrementalMatches(b1.toDF(), base).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(expected1.exists(_._1 == 101L)) // exact dup must be caught
      assert(!expected1.exists(_._1 == 103L)) // novel doc must not match
      assert(got.map(t => (t._2, t._3, t._4)).toSet == expected1)

      // batch 2: another near-dup — results accumulate, prior batch intact
      val b2 = Seq(Doc(201L, baseText1.replace("alpha1 ", "omega ")))
      stream.addData(b2: _*)
      query.processAllAvailable()
      val expected2 = Dedup
        .incrementalMatches(b2.toDF(), base).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.count(_._1 == 1) == expected2.size)
      assert(got.filter(_._1 == 1).map(t => (t._2, t._3, t._4)).toSet
        == expected2)
    } finally query.stop()
  }

  test("incremental index: stream-arrived docs become matchable, and the " +
    "appended index equals a from-scratch rebuild after N batches") {
    import org.apache.spark.sql.functions.col
    val base = Seq((1L, baseText1), (2L, baseText2)).toDF("doc_id", "text")
    val stream = MemoryStream[Doc](spark)
    val got = ArrayBuffer.empty[(Long, Long, Long, Double)]
    val dir = java.nio.file.Files.createTempDirectory("sdedup-idx")
    val indexDir = dir.resolve("index").toString
    val ckpt = dir.resolve("ckpt").toString
    val novel = (1 to 20).map(i => s"nova$i").mkString(" ")
    val query = StreamingDedup.startIncremental(
      stream.toDF(), base, indexDir, ckpt) { (matches, epoch) =>
      got ++= matches.collect().map(r =>
        (epoch, r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    try {
      // batch 1: a near-dup of base 1 plus a NOVEL doc (matches nothing)
      val b1 = Seq(
        Doc(101L, baseText1.replace("alpha20", "omega")),
        Doc(103L, novel))
      stream.addData(b1: _*)
      query.processAllAvailable()
      assert(got.map(_._2).toSet == Set(101L))

      // batch 2: a near-dup of batch 1's NOVEL doc — only an index that
      // absorbed batch 1 can catch it (the static-index probe cannot)
      val b2 = Seq(Doc(201L, novel.replace("nova1 ", "prime ")))
      stream.addData(b2: _*)
      query.processAllAvailable()
      val m201 = got.filter(_._2 == 201L)
      assert(m201.map(_._3).toSet == Set(103L),
        s"stream-arrived doc must be matchable, got $m201")

      // batch-by-batch equivalence with the batch operator over
      // base ∪ prior arrivals (the from-scratch index at that instant)
      val expected2 = Dedup.incrementalMatches(b2.toDF(),
          base.union(b1.toDF())).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.filter(_._1 == 1).map(t => (t._2, t._3, t._4)).toSet
        == expected2)

      // the PERSISTED index equals a from-scratch rebuild row for row
      val allDocs = base.union(b1.toDF()).union(b2.toDF())
      val storedBands = spark.read.parquet(s"$indexDir/bands")
        .drop("epoch").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val rebuiltBands = Dedup.minhashBandsOf(allDocs).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(storedBands == rebuiltBands)
      val storedSh = spark.read.parquet(s"$indexDir/shingles")
        .drop("epoch").collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toSet)).toMap
      val rebuiltSh = Dedup.shingleSetsOf(allDocs).collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toSet)).toMap
      assert(storedSh == rebuiltSh)

      // compaction folds the per-epoch partitions into one generation
      // with identical content (probe-visible rows unchanged)
      query.stop()
      StreamingDedup.compactIndex(spark, indexDir)
      def epochDirs(t: String) = new java.io.File(s"$indexDir/$t")
        .listFiles().filter(_.getName.startsWith("epoch=")).toSeq
      assert(epochDirs("bands").size == 1 && epochDirs("shingles").size == 1)
      val compacted = spark.read.parquet(s"$indexDir/bands")
        .drop("epoch").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(compacted == rebuiltBands)
      // and the compacted index still probes identically
      val probe = Dedup.incrementalMatchesPre(
          Seq(Doc(301L, novel.replace("nova2 ", "zeta "))).toDF(),
          spark.read.parquet(s"$indexDir/bands").drop("epoch"),
          spark.read.parquet(s"$indexDir/shingles").drop("epoch"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(probe == Set((301L, 103L)))
    } finally query.stop()
  }

  test("a replayed epoch does not match against its own index rows") {
    val base = Seq((1L, baseText1), (2L, baseText2)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("sdedup-replay")
    val indexDir = dir.resolve("index").toString
    val novel = Doc(103L, (1 to 20).map(i => s"nova$i").mkString(" "))
    val ckpt = dir.resolve("ckpt1").toString
    val stream1 = MemoryStream[Doc](spark)
    val got1 = ArrayBuffer.empty[(Long, Long)]
    def start() = StreamingDedup.startIncremental(stream1.toDF(), base,
      indexDir, ckpt) { (out, _) =>
      got1 ++= out.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val q1 = start()
    stream1.addData(novel)
    try q1.processAllAvailable() finally q1.stop()
    assert(got1.isEmpty, "first sight: nothing to match")
    // a forced replay runs the SAME doc again as epoch 0 against an index
    // that already holds epoch 0 — the probe must skip its own epoch and
    // still see the base corpus at epoch=-1
    ForcedReplay(q1, ckpt)(start())
    assert(got1.isEmpty, "replay must not self-match")
    val near = Doc(104L, baseText1.replace("alpha20", "omega"))
    val stream = MemoryStream[Doc](spark)
    val got = ArrayBuffer.empty[Long]
    val q = StreamingDedup.startIncremental(stream.toDF(), base, indexDir,
      dir.resolve("ckpt3").toString) { (out, _) =>
      got ++= out.collect().map(_.getLong(1))
    }
    stream.addData(near)
    try q.processAllAvailable() finally q.stop()
    assert(got == Seq(1L), s"base corpus must stay probe-visible: $got")
  }

  /** Runs `docs` through `startIncremental` as one batch under a new
    * query on checkpoint `dir/ckpt`, discarding its matches. */
  private def ingest(base: org.apache.spark.sql.DataFrame,
      dir: java.nio.file.Path, ckpt: String, docs: Doc*): Unit = {
    val stream = MemoryStream[Doc](spark)
    val q = StreamingDedup.startIncremental(stream.toDF(), base,
      dir.resolve("index").toString, dir.resolve(ckpt).toString) {
      (out, _) => out.collect(); ()
    }
    stream.addData(docs: _*)
    try q.processAllAvailable() finally q.stop()
  }

  test("a restart under a fresh checkpoint keeps the previous lineage's " +
    "index rows") {
    val base = Seq((1L, baseText1), (2L, baseText2)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("sdedup-lineage")
    ingest(base, dir, "c1", Doc(103L, "gamma delta epsilon zeta eta theta"))
    ingest(base, dir, "c2", Doc(104L, "iota kappa lambda mu nu xi omicron"))
    val ids = spark.read.parquet(dir.resolve("index/bands").toString)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 103L, 104L), s"index lost rows: $ids")
  }

  test("compaction and a restart do not seed the base corpus twice") {
    import org.apache.spark.sql.functions.col
    val base = Seq((1L, baseText1)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("sdedup-seed")
    def baseBandRows() = spark.read.parquet(dir.resolve("index/bands")
      .toString).filter(col("doc_id") === 1L).count()
    ingest(base, dir, "c1", Doc(103L, "gamma delta epsilon zeta eta theta"))
    val seeded = baseBandRows()
    StreamingDedup.compactIndex(spark, dir.resolve("index").toString)
    ingest(base, dir, "c2", Doc(104L, "iota kappa lambda mu nu xi omicron"))
    assert(baseBandRows() == seeded, "the base corpus was seeded again")
  }
}
