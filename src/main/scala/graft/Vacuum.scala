package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.operators.ArtifactStore

/** Unified store vacuum — ONE entry point sweeping every artifact store
  * the engine maintains ([[graft.operators.Artifacts.stores]]: pair /
  * simpair / cc / sem / bpe / unigram / lm / wp / manifest, the three
  * replay stores and the model store) plus any
  * [[graft.streaming.LayoutStream]] tables passed as arguments, all under
  * the one shared grace rule ([[ArtifactStore.pruneGraceMs]]). Without
  * it, each store sweeps only at its own publish time (`pruneSuperseded`)
  * — crashed publishes, benign-race loser attempts, and stores that simply
  * stopped being written leak forever.
  *
  * Deletes ONLY unreferenced garbage (VacuumSpec proves the committed,
  * resolvable artifacts survive byte-identical): uncommitted fingerprint
  * dirs, pointer-abandoned attempts, legacy self-tagged dirs, superseded
  * same-input fingerprints, superseded layout generations and covered
  * delta slices. Correctness never depends on the deletes — readers
  * resolve pointers — so it can run any time; the grace window protects
  * concurrent JVMs mid-plan.
  *
  * Usage: `sbt "runMain graft.Vacuum [layoutTableDir ...]"`. Prints one
  * report line per store: name, dirs removed, bytes reclaimed. */
object Vacuum {

  /** (store label, root) of every artifact store. A replay store's root
    * is its `<replaycache>/<kind>` subdirectory: the replay root itself
    * holds only those kind directories, which a sweep would take for
    * pointerless fingerprint dirs. */
  def storeRoots: Seq[(String, String)] =
    graft.operators.Artifacts.stores.map(s => s.label -> s.root)

  /** Sweep everything; returns (store, dirs_removed, bytes_reclaimed)
    * per store plus one row per layout table. */
  def run(spark: SparkSession,
      layoutTables: Seq[String] = Seq.empty): Seq[(String, Long, Long)] = {
    val storeRows = storeRoots.map { case (name, dir) =>
      val p = new Path(dir)
      val fs = ArtifactStore.fileSystem(spark, p)
      val (d, b) = ArtifactStore.vacuumStore(fs, p)
      (name, d, b)
    }
    val layoutRows = layoutTables.map { t =>
      val (gens, slices) = graft.streaming.LayoutStream.vacuum(spark, t)
      (s"layout:$t", gens + slices, -1L) // LayoutStream counts dirs only
    }
    // in-session retained caches (not on-disk stores): the manifest
    // build's positioned-shingle table
    val retainedRows = Seq(("retained:manifest-shingles",
      if (graft.operators.CorpusBuild.releaseRetained()) 1L else 0L, -1L))
    storeRows ++ layoutRows ++ retainedRows
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, args.toSeq).foreach { case (store, d, b) =>
      println(f"[vacuum] $store%-24s dirs_removed=$d%-6d bytes=$b")
    }
    spark.stop()
  }
}
