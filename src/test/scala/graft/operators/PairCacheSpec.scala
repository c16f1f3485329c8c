package graft.operators

import java.io.File

import graft.covid.SparkTestSession
import org.apache.hadoop.fs.Path
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The materialized near-dup pair artifact must be a pure cache: every
  * consumer reads EXACTLY what the uncached pipeline computes — same rows,
  * same doubles, bit for bit — and disabling the conf restores the
  * pre-artifact compute path. The suite runs the store against a
  * scheme-qualified `file:` URI so every operation exercises the Hadoop
  * `FileSystem` API surface (the HDFS/S3A portability contract from the
  * round-7 verdict), not `java.io.File`. */
class PairCacheSpec extends AnyFunSuite with SparkTestSession
    with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  /** Local backing dir of the scheme-qualified store root. */
  private val localRoot =
    new File(sys.props("java.io.tmpdir"), "graft-paircache-spec")

  override def beforeAll(): Unit = {
    deleteRec(localRoot)
    sys.props("graft.paircache.dir") = "file:" + localRoot.getAbsolutePath
    super.beforeAll()
  }

  override def afterAll(): Unit = {
    sys.props.remove("graft.paircache.dir")
    deleteRec(localRoot)
    super.afterAll()
  }

  private def deleteRec(f: File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(deleteRec)
    f.delete(); ()
  }

  private def withCache[A](on: Boolean)(body: => A): A =
    try {
      spark.conf.set("spark.graft.paircache", on.toString)
      body
    } finally spark.conf.unset("spark.graft.paircache")

  /** Committed fingerprint dirs in the store tagged with `input`. */
  private def entriesFor(input: String): Seq[File] =
    Option(localRoot.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter { e =>
        val t = new File(e, "_graft_input")
        t.exists() &&
          (try java.nio.file.Files.readString(t.toPath) == input
          catch { case _: Throwable => false })
      }

  private def qualifiedInput: String = {
    val p = new Path(sfDir, "documents.parquet")
    ArtifactStore.fileSystem(spark, p).makeQualified(p).toString
  }

  test("q19 pairs: cached artifact identical to the computed pipeline") {
    val computed = withCache(on = false) {
      Dedup.nearDupPairs(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val cached = withCache(on = true) {
      Dedup.nearDupPairs(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    assert(computed.nonEmpty, "fixture must contain near-dup pairs")
    // exact double equality: the artifact stores the verified stats, not
    // re-derived approximations — jaccard must match bit for bit
    assert(cached == computed)
    // second read must come from the published artifact and still agree
    val again = withCache(on = true) {
      Dedup.nearDupPairs(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    assert(again == computed)
  }

  test("publishing prunes aged superseded artifacts, keeps recent ones") {
    val want = qualifiedInput
    withCache(on = true)(Dedup.nearDupPairs(spark, sfDir).count())
    assert(entriesFor(want).nonEmpty)

    // plant two stale siblings claiming the same input: one aged past the
    // prune grace window, one fresh (a concurrent JVM could still be
    // scanning it — must survive the sweep)
    def plant(name: String, ageMs: Long): File = {
      val d = new File(localRoot, name)
      d.mkdirs()
      java.nio.file.Files.writeString(
        new File(d, "_graft_input").toPath, want)
      java.nio.file.Files.writeString(new File(d, "_COMMITTED").toPath, "x")
      d.setLastModified(System.currentTimeMillis() - ageMs)
      d
    }
    val aged = plant("deadbeef-stale-aged", ageMs = 60L * 60 * 1000)
    val fresh = plant("deadbeef-stale-fresh", ageMs = 0L)

    // force a fresh publish (remove the real artifact) — publishing must
    // sweep the aged sibling but spare the fresh one (grace period)
    entriesFor(want).filterNot(e => e == aged || e == fresh)
      .foreach(deleteRec)
    withCache(on = true)(Dedup.nearDupPairs(spark, sfDir).count())
    assert(!aged.exists(), "aged stale artifact must be pruned at publish")
    assert(fresh.exists(),
      "fresh artifact must survive the sweep (prune grace period)")
    assert(entriesFor(want).size >= 2) // the fresh plant + the republished
    deleteRec(fresh)
  }

  test("lost pointer (killed writer) recovers by republishing") {
    val want = qualifiedInput
    withCache(on = true)(Dedup.nearDupPairs(spark, sfDir).count())
    val real = entriesFor(want)
      .filter(e => new File(e, "_COMMITTED").exists())
    assert(real.nonEmpty)
    // simulate a writer killed between payload and pointer: pointer gone
    real.foreach(e => new File(e, "_COMMITTED").delete())
    val rows = withCache(on = true) {
      Dedup.nearDupPairs(spark, sfDir).count()
    }
    assert(rows > 0)
    assert(real.exists(e => new File(e, "_COMMITTED").exists()),
      "a fresh attempt must have been committed under the same fingerprint")
  }

  test("q83 containment: cached artifact identical to the computed pipeline") {
    def run() = Dedup.q83Containment.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val computed = withCache(on = false)(run())
    val cached = withCache(on = true)(run())
    assert(computed.nonEmpty)
    assert(cached == computed)
  }

  test("content stamp: same-length same-mtime regeneration changes the " +
    "fingerprint input; missing paths and classes fail closed") {
    val fs = ArtifactStore.fileSystem(spark, new Path(localRoot.getPath))
    val f = new File(localRoot, "stamp-probe.bin")
    localRoot.mkdirs()
    java.nio.file.Files.write(f.toPath, Array.fill[Byte](256)(0x41))
    val mtime = 1700000000000L
    f.setLastModified(mtime)
    val s1 = ArtifactStore.contentStamp(fs, new Path(f.getPath))
    // regenerate: same length, same forced mtime, different bytes
    java.nio.file.Files.write(f.toPath, Array.fill[Byte](256)(0x42))
    f.setLastModified(mtime)
    val s2 = ArtifactStore.contentStamp(fs, new Path(f.getPath))
    assert(s1.isDefined && s2.isDefined && s1 != s2,
      "content stamp must see through same-size same-mtime regeneration")
    assert(ArtifactStore
      .contentStamp(fs, new Path(localRoot.getPath, "absent")).isEmpty)
    assert(ArtifactStore.engineStampOf(
      new File(localRoot, "absent-classes").toURI).isEmpty,
      "an unresolvable code source must fail closed, not stamp 0")
    f.delete()
  }
}
