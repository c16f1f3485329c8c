package graft.operators

import java.io.{DataOutputStream, File, FileOutputStream}

import graft.Tables
import graft.covid.SparkTestSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The trained-quantizer disk tier: a cold session (simulated by dropping
  * the per-JVM memo) must serve the PERSISTED model bit-exactly instead of
  * retraining, and the kill switch must restore plain training. Runs
  * against a scheme-qualified `file:` store root (Hadoop FileSystem API
  * surface, as PairCacheSpec). */
class ModelCacheSpec extends AnyFunSuite with SparkTestSession
    with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private val localRoot =
    new File(sys.props("java.io.tmpdir"), "graft-modelcache-spec")

  override def beforeAll(): Unit = {
    deleteRec(localRoot)
    sys.props("graft.modelcache.dir") = "file:" + localRoot.getAbsolutePath
    super.beforeAll()
  }

  override def afterAll(): Unit = {
    sys.props.remove("graft.modelcache.dir")
    deleteRec(localRoot)
    // entries memoized against the spec-local store are still valid models;
    // drop them anyway so later suites repopulate against the default root
    Similarity.clearModelMemoForTest()
    super.afterAll()
  }

  private def deleteRec(f: File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(deleteRec)
    f.delete(); ()
  }

  private def emb =
    Tables(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))

  private def sameModel(a: Array[(Long, Array[Double])],
      b: Array[(Long, Array[Double])]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((c1, v1), (c2, v2)) =>
      c1 == c2 && java.util.Arrays.equals(v1, v2) // bit-exact doubles
    }

  /** The committed centroids.bin files currently in the store. */
  private def payloadFiles: Seq[File] =
    Option(localRoot.listFiles()).getOrElse(Array.empty[File]).toSeq
      .flatMap { fp =>
        val ptr = new File(fp, "_COMMITTED")
        if (!ptr.exists()) Nil
        else {
          val att = java.nio.file.Files.readString(ptr.toPath).trim
          val bin = new File(new File(fp, att), "centroids.bin")
          if (bin.exists()) Seq(bin) else Nil
        }
      }

  test("cold session reuses the persisted model bit-exactly; kill switch " +
    "restores training") {
    Similarity.clearModelMemoForTest()
    val trained = Similarity.lloydCentroids(emb, Similarity.KmeansIters)
    assert(payloadFiles.nonEmpty, "training must persist the model")

    // cold session: memo dropped, disk artifact present → reload, bit-exact
    Similarity.clearModelMemoForTest()
    val reloaded = Similarity.lloydCentroids(emb, Similarity.KmeansIters)
    assert(sameModel(trained, reloaded))

    // PROOF the reload came from disk, not retraining: poison the
    // persisted payload with a sentinel model and observe it served
    val sentinel = trained.map { case (c, v) => (c + 1000L, v.map(_ + 1.0)) }
    payloadFiles.foreach { bin =>
      // drop the Hadoop local-FS checksum sibling: the poison write below
      // bypasses the FileSystem API, and a stale .crc would make the read
      // fail checksum → self-heal by retraining (masking what we test)
      new File(bin.getParentFile, "." + bin.getName + ".crc").delete()
      val out = new DataOutputStream(new FileOutputStream(bin))
      try {
        out.writeInt(sentinel.length)
        sentinel.foreach { case (cell, vec) =>
          out.writeLong(cell)
          out.writeInt(vec.length)
          vec.foreach(d =>
            out.writeLong(java.lang.Double.doubleToLongBits(d)))
        }
      } finally out.close()
    }
    Similarity.clearModelMemoForTest()
    val poisoned = Similarity.lloydCentroids(emb, Similarity.KmeansIters)
    assert(sameModel(poisoned, sentinel),
      "a cold session must serve the DISK model (memo bypassed)")

    // kill switch: disk tier off → trains fresh, ignores the poisoned file
    Similarity.clearModelMemoForTest()
    try {
      spark.conf.set("spark.graft.modelcache", "false")
      val fresh = Similarity.lloydCentroids(emb, Similarity.KmeansIters)
      assert(sameModel(fresh, trained),
        "kill switch must retrain (deterministic ≡ original), not read disk")
    } finally spark.conf.unset("spark.graft.modelcache")

    // repair the store for any later consumer of this root
    deleteRec(localRoot)
    Similarity.clearModelMemoForTest()
  }

  test("publish prunes a superseded generation with the same stable input " +
    "tag, and sweeps legacy self-tagged dirs (the round-12 prune no-op)") {
    deleteRec(localRoot)
    Similarity.clearModelMemoForTest()
    val trained = Similarity.lloydCentroids(emb, Similarity.KmeansIters)
    val dirs = Option(localRoot.listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory)
    assert(dirs.length == 1, "training must publish exactly one artifact")
    val genuine = dirs.head
    val tag = java.nio.file.Files
      .readString(new File(genuine, "_graft_input").toPath).trim
    assert(tag != genuine.getName,
      "payload must be tagged with the stable input identity, not its own " +
        "fingerprint — self-tagging made pruneSuperseded provably a no-op")

    // a superseded generation: SAME stable tag, different fingerprint name
    // (what a rebuild or data regeneration leaves behind)
    val superseded = new File(localRoot, "0" * 32)
    superseded.mkdirs()
    java.nio.file.Files.writeString(
      new File(superseded, "_graft_input").toPath, tag)
    // a legacy self-tagged leak (the round-12 bug's on-disk shape)
    val legacy = new File(localRoot, "f" * 32)
    legacy.mkdirs()
    java.nio.file.Files.writeString(
      new File(legacy, "_graft_input").toPath, legacy.getName)

    // negative grace → the prune cutoff is in the future, so the dirs just
    // created are eligible (pruneGraceMs is re-read per call)
    sys.props("graft.artifact.prune.grace.ms") = "-60000"
    try {
      // force a republish: genuine artifact dropped + memo cleared → the
      // publish path runs pruneSuperseded(stable tag) + the legacy sweep
      deleteRec(genuine)
      Similarity.clearModelMemoForTest()
      val retrained = Similarity.lloydCentroids(emb, Similarity.KmeansIters)
      assert(sameModel(retrained, trained))
      assert(!superseded.exists(),
        "publish must prune the superseded same-tag generation")
      assert(!legacy.exists(),
        "publish must sweep legacy self-tagged dirs")
      val now = Option(localRoot.listFiles()).getOrElse(Array.empty[File])
        .filter(_.isDirectory)
      assert(now.map(_.getName).toSeq == Seq(genuine.getName),
        "only the live fingerprint may remain")
    } finally sys.props.remove("graft.artifact.prune.grace.ms")
    deleteRec(localRoot)
    Similarity.clearModelMemoForTest()
  }

  test("a failing training runs once and its exception propagates") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val err = intercept[IllegalStateException] {
      ModelCache.loadOrTrain(spark, "failing-" + java.util.UUID.randomUUID(),
        "failing")(() => {
        calls.incrementAndGet()
        throw new IllegalStateException("training failed")
      })
    }
    assert(err.getMessage == "training failed")
    assert(calls.get == 1, s"training ran ${calls.get} times")
  }
}
