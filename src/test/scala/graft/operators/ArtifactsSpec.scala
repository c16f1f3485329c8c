package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import graft.covid.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** The artifact fingerprint's code identity: one engine stamp over every
  * engine class, so no store can be served across a change to a class
  * its bytes depend on, and a code source that yields no engine class
  * fails closed. */
class ArtifactsSpec extends AnyFunSuite with SparkTestSession {

  test("the engine stamp covers the classes hand-kept stamp lists missed") {
    val source = ArtifactStore.codeSource
    assert(source.isDefined, "the engine's classpath entry must resolve")
    val classes = ArtifactStore.engineClasses(source.get)
    // MinHashSig/OverlapPairs feed cc, sem and manifest; TopK feeds the
    // pair table's plans; CappedCollect feeds simpair's capped buckets
    Seq("graft/functions/MinHashSig", "graft/functions/OverlapPairs",
      "graft/plans/TopK", "graft/functions/CappedCollect",
      "graft/operators/Dedup$").foreach { prefix =>
      assert(classes.exists(c => c.startsWith(prefix) && c.endsWith(".class")),
        s"no $prefix* class in the engine stamp")
    }
    assert(classes == classes.sorted, "stamp order must be deterministic")
    assert(ArtifactStore.engineStamp.isDefined)
    assert(ArtifactStore.engineStamp == ArtifactStore.engineStampOf(source.get))
  }

  test("the engine stamp is the same for a class directory and its jar") {
    val tmp = java.nio.file.Files.createTempDirectory("engine-pack")
    val classes = Seq("graft/a/A.class" -> "a", "graft/B$.class" -> "b")
    val dir = tmp.resolve("classes")
    val jar = tmp.resolve("engine.jar")
    val out = new java.util.jar.JarOutputStream(
      java.nio.file.Files.newOutputStream(jar))
    try classes.foreach { case (name, body) =>
      val f = dir.resolve(name)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.write(f, body.getBytes("UTF-8"))
      out.putNextEntry(new java.util.jar.JarEntry(name))
      out.write(body.getBytes("UTF-8"))
      out.closeEntry()
    } finally out.close()
    val names = classes.map(_._1).sorted
    assert(ArtifactStore.engineClasses(dir.toUri) == names)
    assert(ArtifactStore.engineClasses(jar.toUri) == names)
    val stamp = ArtifactStore.engineStampOf(dir.toUri)
    assert(stamp.isDefined && stamp == ArtifactStore.engineStampOf(jar.toUri))
  }

  test("a different engine stamp rotates every registered store's " +
    "fingerprint") {
    val stores = Artifacts.stores
    assert(stores.map(_.label).distinct.size == stores.size)
    val key = "file:/data/documents.parquet|0123abcd"
    stores.foreach { s =>
      assert(ArtifactStore.fingerprint(s, key, "engine-a") !=
        ArtifactStore.fingerprint(s, key, "engine-b"),
        s"${s.label} must rotate with the engine stamp")
    }
    assert(stores.map(ArtifactStore.fingerprint(_, key, "e")).distinct.size ==
      stores.size, "stores sharing a key must not share a fingerprint")
  }

  test("a code source with no engine class fails closed") {
    val empty = java.nio.file.Files.createTempDirectory("no-engine")
    val other = java.nio.file.Files.createDirectories(empty.resolve("lib"))
    java.nio.file.Files.write(other.resolve("X.class"), Array[Byte](1, 2))
    assert(ArtifactStore.engineClasses(empty.toUri).isEmpty)
    assert(ArtifactStore.engineStampOf(empty.toUri).isEmpty,
      "an enumerable-nothing code source must not stamp")

    // no stamp → the core computes inline and never touches the store
    val root = empty.resolve("store")
    val store = new ArtifactStore.Store("specstore") {
      def warm(spark: org.apache.spark.sql.SparkSession, dir: String) = ()
    }
    sys.props("graft.specstore.dir") = root.toString
    try {
      val calls = new AtomicInteger(0)
      val before = ArtifactStore.published.get()
      val v = ArtifactStore.cached(spark, store, None, "tag")(
        calls.incrementAndGet())((_, _) => (), _ => -1)
      assert(v == 1 && calls.get == 1)
      assert(ArtifactStore.published.get() == before)
      assert(!java.nio.file.Files.exists(root))
    } finally { sys.props.remove("graft.specstore.dir"); () }
  }
}
