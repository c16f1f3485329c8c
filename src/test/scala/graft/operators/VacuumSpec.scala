package graft.operators

import graft.covid.SparkTestSession
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.Vacuum]] / [[ArtifactStore.vacuumStore]]: the unified sweep
  * removes exactly the four garbage classes and NOTHING a reader could
  * still resolve — committed artifacts survive byte-identical. */
class VacuumSpec extends AnyFunSuite with SparkTestSession {

  private def write(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  test("vacuumStore: uncommitted dirs, loser attempts, self-tagged " +
    "legacy dirs, and superseded same-input dirs go; committed " +
    "artifacts stay resolvable and intact") {
    val root = new Path(
      java.nio.file.Files.createTempDirectory("vac").toString)
    val fs = ArtifactStore.fileSystem(spark, root)

    // committed artifact fp1 (tag T1) + a benign-race loser attempt
    val fp1 = new Path(root, "fp1")
    ArtifactStore.publish(fs, fp1, "T1") { att =>
      write(fs, new Path(att, "payload.bin"), "live-payload")
    }
    val winner = ArtifactStore.resolve(fs, fp1).get
    fs.mkdirs(new Path(fp1, "attempt-loser"))
    write(fs, new Path(fp1, "attempt-loser/junk.bin"), "loser")

    // uncommitted fp2: payload + tag, crash before the pointer PUT
    val fp2 = new Path(root, "fp2")
    fs.mkdirs(new Path(fp2, "attempt-crashed"))
    write(fs, new Path(fp2, "attempt-crashed/partial.bin"), "partial")
    write(fs, new Path(fp2, "_graft_input"), "T2")

    // legacy self-tagged fp3 (tag == its own dir name)
    val fp3 = new Path(root, "fp3")
    ArtifactStore.publish(fs, fp3, "fp3") { att =>
      write(fs, new Path(att, "old.bin"), "legacy")
    }

    // superseded pair: fp4 (older) and fp5 (newer) share tag S
    val fp4 = new Path(root, "fp4")
    ArtifactStore.publish(fs, fp4, "S") { att =>
      write(fs, new Path(att, "v1.bin"), "old-code-stamp")
    }
    val fp5 = new Path(root, "fp5")
    ArtifactStore.publish(fs, fp5, "S") { att =>
      write(fs, new Path(att, "v2.bin"), "new-code-stamp")
    }
    fs.setTimes(fp4, System.currentTimeMillis() - 3600_000L, -1)

    sys.props("graft.artifact.prune.grace.ms") = "-60000"
    try {
      val (dirs, bytes) = ArtifactStore.vacuumStore(fs, root)
      assert(dirs == 4, s"expected 4 deletions, got $dirs") // loser, fp2,
      assert(bytes > 0) //                                     fp3, fp4

      // survivors: fp1 resolves to the SAME winner with intact payload
      assert(ArtifactStore.resolve(fs, fp1).contains(winner))
      val in = fs.open(new Path(winner, "payload.bin"))
      val buf = new Array[Byte]("live-payload".length)
      try in.readFully(0L, buf) finally in.close()
      assert(new String(buf, "UTF-8") == "live-payload")
      assert(ArtifactStore.resolve(fs, fp5).isDefined)
      // garbage gone
      assert(!fs.exists(new Path(fp1, "attempt-loser")))
      assert(!fs.exists(fp2) && !fs.exists(fp3) && !fs.exists(fp4))

      // idempotent: a second sweep finds nothing
      assert(ArtifactStore.vacuumStore(fs, root) == ((0L, 0L)))
    } finally sys.props.remove("graft.artifact.prune.grace.ms")
  }

  test("grace window protects fresh entries: default grace deletes " +
    "nothing just-written") {
    val root = new Path(
      java.nio.file.Files.createTempDirectory("vacg").toString)
    val fs = ArtifactStore.fileSystem(spark, root)
    val fp = new Path(root, "fresh")
    fs.mkdirs(new Path(fp, "attempt-racing"))
    write(fs, new Path(fp, "_graft_input"), "T") // no pointer yet: racing
    assert(ArtifactStore.vacuumStore(fs, root) == ((0L, 0L)),
      "a publish inside the grace window must survive the sweep")
    assert(fs.exists(fp))
  }

  test("Vacuum.run sweeps every store root under prop overrides") {
    val tmp = java.nio.file.Files.createTempDirectory("vacall")
    val stores = Artifacts.stores
    stores.map(_.name).distinct.foreach { n =>
      sys.props(s"graft.$n.dir") = tmp.resolve(n).toString
    }
    // one uncommitted garbage dir per store
    stores.foreach { s =>
      val fs = ArtifactStore.fileSystem(spark, new Path(s.root))
      fs.mkdirs(new Path(s.root, "fpx/attempt-dead"))
    }
    // a committed replay artifact: its kind dir and the artifact survive
    val replay = stores.find(_.name == "replaycache").get
    val fs = ArtifactStore.fileSystem(spark, new Path(replay.root))
    val live = new Path(replay.root, "fplive")
    ArtifactStore.publish(fs, live, "T") { att =>
      write(fs, new Path(att, "state.bin"), "replayed")
    }
    sys.props("graft.artifact.prune.grace.ms") = "-60000"
    try {
      val rows = graft.Vacuum.run(spark)
      assert(rows.map(_._1) ==
        stores.map(_.label) :+ "retained:manifest-shingles")
      assert(stores.count(_.name == "replaycache") == 3)
      assert(rows.filter(_._1 != "retained:manifest-shingles")
        .forall(_._2 == 1L),
        s"each store had exactly one garbage dir: $rows")
      assert(stores.forall(s => !fs.exists(new Path(s.root, "fpx"))))
      assert(ArtifactStore.resolve(fs, live).isDefined,
        "a committed replay artifact must survive the sweep")
    } finally {
      sys.props.remove("graft.artifact.prune.grace.ms")
      stores.map(_.name).distinct
        .foreach(n => sys.props.remove(s"graft.$n.dir"))
    }
  }

  test("Vacuum releases the manifest build's retained shingle cache") {
    // a manifest build retains ONE persisted positioned-shingle table
    // between invocations; the sweep must release it so a long-lived
    // session doesn't pin O(corpus tokens) of cached blocks
    Seq("manifestcache", "cccache", "lmcache", "paircache")
      .foreach(c => spark.conf.set(s"spark.graft.$c", "false"))
    try {
      CorpusBuild.q161CorpusManifest.fn(spark,
        "/root/testdata/sf0.001").collect()
      val persistedBefore = spark.sparkContext.getPersistentRDDs.size
      assert(persistedBefore > 0, "the build should retain its shingles")
      graft.Vacuum.run(spark)
      assert(spark.sparkContext.getPersistentRDDs.size < persistedBefore,
        "Vacuum must unpersist the retained shingle table")
      // idempotent: a second sweep has nothing retained to release
      assert(!CorpusBuild.releaseRetained())
    } finally Seq("manifestcache", "cccache", "lmcache", "paircache")
      .foreach(c => spark.conf.unset(s"spark.graft.$c"))
  }
}
