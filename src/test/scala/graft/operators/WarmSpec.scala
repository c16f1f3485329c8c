package graft.operators

import java.io.File

import graft.covid.SparkTestSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The managed cold-start contract ([[graft.Warm]], round-13 item 1):
  * against an EMPTY artifact store one run publishes every artifact; a
  * second run — even with the per-JVM model memo dropped, simulating a
  * fresh session — resolves everything from disk and publishes NOTHING.
  * This is the property that keeps one-time republish cost out of timed
  * bench iterations. */
class WarmSpec extends AnyFunSuite with SparkTestSession
    with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  /** Every registered store redirected to a spec-local root, so the cold
    * run neither reads nor writes the shared default stores. */
  private val roots = Artifacts.stores.map(_.name).distinct.map { n =>
    s"graft.$n.dir" -> new File(sys.props("java.io.tmpdir"),
      "graft-warmspec-" + n)
  }

  override def beforeAll(): Unit = {
    roots.foreach { case (prop, dir) =>
      deleteRec(dir)
      sys.props(prop) = "file:" + dir.getAbsolutePath
    }
    super.beforeAll()
  }

  override def afterAll(): Unit = {
    roots.foreach { case (prop, dir) =>
      sys.props.remove(prop)
      deleteRec(dir)
    }
    Similarity.clearModelMemoForTest()
    super.afterAll()
  }

  private def deleteRec(f: File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(deleteRec)
    f.delete(); ()
  }

  test("cold store: Warm publishes every artifact once; a fresh-session " +
    "re-run resolves from disk and publishes zero") {
    Similarity.clearModelMemoForTest()
    val (published1, secs1) = graft.Warm.run(spark, sfDir)
    assert(published1 >= Artifacts.stores.size,
      s"cold Warm must publish every store: $published1 in ${secs1}s")
    Artifacts.stores.foreach { s =>
      val root = new File(s.root.stripPrefix("file:"))
      val committed = Option(root.listFiles()).getOrElse(Array.empty[File])
        .filter(fp => new File(fp, "_COMMITTED").exists())
      assert(committed.nonEmpty, s"${s.label} holds no committed artifact")
    }
    // fresh session simulated: memo dropped, disk store intact
    Similarity.clearModelMemoForTest()
    val (published2, _) = graft.Warm.run(spark, sfDir)
    assert(published2 == 0,
      s"warm store must resolve everything: republished $published2")
  }
}
