package graft.operators

import java.net.URI
import java.nio.file.{FileSystems, Files, Paths, Path => NioPath}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Fingerprinted on-disk artifact directories with a rename-free commit
  * protocol, expressed entirely through the Hadoop `FileSystem` API so the
  * same code publishes to local disk, HDFS, or an object store (s3a://)
  * unchanged. Every persisted artifact ([[Artifacts]], the streaming-twin
  * replays) goes through the one resolve-or-publish [[cached]].
  *
  * Layout per artifact:
  * {{{
  *   <root>/<fingerprint>/attempt-<uuid>/ ...payload...
  *   <root>/<fingerprint>/_graft_input      (canonical input id, for prune)
  *   <root>/<fingerprint>/_COMMITTED        (pointer naming the attempt)
  * }}}
  *
  * Commit = write the payload into a fresh attempt directory, then PUT the
  * single-object pointer file naming that attempt. No rename anywhere:
  * object stores have no atomic directory rename (S3A "rename" is a
  * copy-then-delete that readers can observe half-done), but a single-key
  * PUT is atomic on every store Hadoop targets — a reader sees the old
  * pointer, no pointer, or the new pointer, never a torn payload.
  * Concurrent writers race benignly: the payload is a deterministic
  * function of the fingerprint, so last-pointer-wins still names a valid,
  * identical artifact, and the loser's attempt directory is garbage swept
  * by the grace-period prune.
  *
  * Staleness safety:
  *  - input identity is CONTENT-hashed (length + first/last 64 KiB of every
  *    data file), not mtime — a same-size regeneration within filesystem
  *    timestamp granularity changes the fingerprint;
  *  - the code identity is the [[engineStamp]], one hash over every engine
  *    class, so no artifact can miss a class its bytes depend on; when the
  *    engine's classes can't be enumerated every cache FAILS CLOSED
  *    (computes inline) instead of degrading to a constant stamp;
  *  - pruning skips directories modified within [[pruneGraceMs]], so a
  *    concurrent JVM (or a lazy DataFrame created just before an input
  *    regeneration) keeps its artifact readable for the grace window.
  */
private[graft] object ArtifactStore {

  /** One artifact store. Its name derives every setting: the kill switch
    * `spark.graft.<name>` and the root `graft.<name>.dir`, else
    * `SPARK_GRAFT_<NAME>_DIR`, else `<java.io.tmpdir>/graft-<name>`; a
    * `kind` puts the store in that subdirectory of the root. `warm`
    * resolves-or-publishes the store's artifacts for an SF dir
    * ([[graft.Warm]]). */
  abstract class Store(val name: String, val kind: Option[String] = None) {
    def warm(spark: SparkSession, dir: String): Any

    def label: String = name + kind.fold("")("/" + _)

    def enabled(spark: SparkSession): Boolean =
      spark.conf.getOption(s"spark.graft.$name").forall(_.toBoolean)

    def root: String =
      sys.props.get(s"graft.$name.dir")
        .orElse(sys.env.get(s"SPARK_GRAFT_${name.toUpperCase}_DIR"))
        .getOrElse(sys.props("java.io.tmpdir") + s"/graft-$name") +
        kind.fold("")("/" + _)
  }

  /** Count of artifact publishes in this JVM — observability for
    * [[graft.Warm]]/[[graft.Bench]]: a bench run that had to publish
    * (train/build) artifacts is cold, and its JSON self-labels with the
    * count instead of masquerading as a regression. */
  val published = new java.util.concurrent.atomic.AtomicLong(0)

  private val BlockBytes = 64 * 1024

  /** Don't prune artifact dirs modified within this window: another JVM
    * (QBench/Bench run directly) or an already-planned DataFrame in this
    * one may still be scanning them. Overridable for tests only. */
  def pruneGraceMs: Long =
    sys.props.get("graft.artifact.prune.grace.ms").map(_.toLong)
      .getOrElse(10L * 60 * 1000)

  def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def hex(digest: Array[Byte]): String =
    digest.map("%02x".format(_)).mkString

  def md5Hex(s: String): String =
    hex(MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))

  /** Content identity of an input file or one-level directory: per data
    * file, its name, length, and an MD5 over the first and last 64 KiB.
    * Strictly stronger than mtime+length (catches same-size regeneration);
    * reads at most 128 KiB per file — footer-cheap even on object stores.
    * None when the path is missing or unreadable → caller fails closed. */
  def contentStamp(fs: FileSystem, p: Path): Option[String] =
    try {
      if (!fs.exists(p)) return None
      val st = fs.getFileStatus(p)
      val files =
        if (st.isDirectory)
          fs.listStatus(p).filter { s =>
            val n = s.getPath.getName
            s.isFile && !n.startsWith("_") && !n.startsWith(".")
          }.sortBy(_.getPath.getName).toSeq
        else Seq(st)
      val md = MessageDigest.getInstance("MD5")
      files.foreach { s =>
        md.update(s"${s.getPath.getName}:${s.getLen}:".getBytes("UTF-8"))
        val in = fs.open(s.getPath)
        try {
          val head = new Array[Byte](math.min(s.getLen, BlockBytes.toLong).toInt)
          in.readFully(0L, head)
          md.update(head)
          if (s.getLen > BlockBytes) {
            val tail = new Array[Byte](BlockBytes)
            in.readFully(s.getLen - BlockBytes, tail)
            md.update(tail)
          }
        } finally in.close()
      }
      Some(hex(md.digest()))
    } catch { case _: Throwable => None }

  /** The classpath entry (directory or jar) the engine was loaded from. */
  private[operators] def codeSource: Option[URI] =
    try Option(getClass.getProtectionDomain.getCodeSource)
      .map(_.getLocation.toURI)
    catch { case NonFatal(_) => None }

  /** Runs `f` on the root of the classpath entry at `source`: the
    * directory itself, or the jar opened as a zip file system. */
  private def onEntry[A](source: URI)(f: NioPath => A): A = {
    val p = Paths.get(source)
    if (Files.isDirectory(p)) f(p)
    else {
      val jar = FileSystems.newFileSystem(p)
      try f(jar.getPath("/")) finally jar.close()
    }
  }

  /** Every `.class` file under `root`'s `graft/` directory, by entry
    * name, in name order. */
  private def engineFiles(root: NioPath): Seq[(String, NioPath)] = {
    val base = root.resolve("graft")
    if (!Files.isDirectory(base)) return Nil
    val walk = Files.walk(base)
    try walk.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".class"))
      .map(p => root.relativize(p).toString -> p)
      .toVector.sortBy(_._1)
    finally walk.close()
  }

  /** The engine class entries of the classpath entry at `source` (e.g.
    * `graft/operators/Dedup$.class`); empty when it can't be
    * enumerated. */
  private[operators] def engineClasses(source: URI): Seq[String] =
    try onEntry(source)(engineFiles(_).map(_._1))
    catch { case NonFatal(_) => Nil }

  /** One MD5 over the names and BYTES of every engine class at `source` —
    * bytes, not timestamps, so launchers that repackage the classpath per
    * run (sbt's bg-job jar, an überjar rebuilt by CI) keep the stamp while
    * any real code change rotates it. None when the entry can't be
    * enumerated or holds no engine class: the caches then fail closed. */
  private[operators] def engineStampOf(source: URI): Option[String] =
    try onEntry(source) { root =>
      val files = engineFiles(root)
      if (files.isEmpty) None
      else {
        val md = MessageDigest.getInstance("MD5")
        files.foreach { case (name, p) =>
          md.update(name.getBytes("UTF-8"))
          md.update(Files.readAllBytes(p))
        }
        Some(hex(md.digest()))
      }
    } catch { case NonFatal(_) => None }

  /** The code identity of every artifact: [[engineStampOf]] the engine's
    * own classpath entry, hashed once per JVM. Any edit to the engine
    * republishes every artifact once ([[graft.Warm]] labels that cost);
    * in exchange no artifact can be served across a change to a class its
    * bytes depend on. */
  lazy val engineStamp: Option[String] = codeSource.flatMap(engineStampOf)

  /** The directory name of `store`'s artifact for `key` under the engine
    * stamp `engine`. */
  private[operators] def fingerprint(store: Store, key: String,
      engine: String): String =
    md5Hex(Seq(store.label, key, engine).mkString("|"))

  /** One lock per fingerprint directory: unrelated artifacts never queue
    * behind each other. */
  private val locks = new ConcurrentHashMap[String, Object]()

  /** Resolve-or-publish `store`'s artifact for `key`: read the committed
    * payload back with `read`, or on a miss `compute` the value, `write` it
    * into a fresh attempt, commit, and serve the read-back. `tag` is the
    * artifact's stable input identity; a publish prunes aged artifacts of
    * the same tag under another fingerprint.
    *
    *  - Store switched off, or `key` / [[engineStamp]] unavailable →
    *    `compute` inline (fail closed).
    *  - Store faults (NonFatal, in fingerprint, resolve, write or
    *    read-back) never fail the call: an unreadable hit recomputes and
    *    republishes; a failed write serves the computed value.
    *  - `compute` runs at most once per call and its failures propagate.
    *    For a lazy value (a DataFrame plan, a replay thunk) the work runs
    *    in `write`; if that fails, the served value runs it again when
    *    used, so a deterministic failure still surfaces to the caller.
    *  - Compute and publish run inside the fingerprint's lock, so
    *    concurrent first use in one JVM publishes exactly once. Computing
    *    one artifact may resolve another (cc reads pair); the artifact
    *    graph is acyclic, so the nested locks cannot deadlock. */
  def cached[T](spark: SparkSession, store: Store, key: => Option[String],
      tag: => String)(compute: => T)(write: (T, Path) => Unit,
      read: Path => T): T = {
    if (!store.enabled(spark)) return compute
    val site =
      try {
        val root = new Path(store.root)
        for (k <- key; engine <- engineStamp)
          yield (fileSystem(spark, root), root, fingerprint(store, k, engine),
            tag)
      } catch { case NonFatal(_) => None }
    site match {
      case None => compute
      case Some((fs, root, fp, inputTag)) =>
        val fpDir = new Path(root, fp)
        locks.computeIfAbsent(fpDir.toString, _ => new Object).synchronized {
          val hit =
            try resolve(fs, fpDir).map(read)
            catch { case NonFatal(_) => None }
          hit.getOrElse {
            val value = compute
            val served =
              try {
                val p = publish(fs, fpDir, inputTag)(write(value, _))
                pruneSuperseded(fs, root, inputTag, keep = fp)
                p.map(read)
              } catch { case NonFatal(_) => None }
            served.getOrElse(value)
          }
        }
    }
  }

  private def readSmall(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](
          math.min(fs.getFileStatus(p).getLen, 64L * 1024).toInt)
        in.readFully(0L, bytes)
        Some(new String(bytes, "UTF-8"))
      } finally in.close()
    } catch { case _: Throwable => None }

  private def writeSmall(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true) // single-object PUT; last writer wins
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** The committed payload directory under `fpDir`, or None. A resolved
    * attempt exists and was fully written before its pointer (commit
    * order), so readers never see a partial payload. */
  def resolve(fs: FileSystem, fpDir: Path): Option[Path] =
    readSmall(fs, new Path(fpDir, "_COMMITTED")).flatMap { name =>
      val att = new Path(fpDir, name.trim)
      if (try fs.exists(att) catch { case _: Throwable => false }) Some(att)
      else None
    }

  /** Publish a payload for `fpDir`: payload → input tag → pointer. The
    * `write` callback fills a fresh attempt directory (e.g. a parquet
    * write); only after it returns does the pointer PUT make the artifact
    * visible. Returns the committed payload dir (re-resolved, so a lost
    * benign race still returns the winner's valid attempt). */
  def publish(fs: FileSystem, fpDir: Path, inputTag: String)(
      write: Path => Unit): Option[Path] = {
    val attempt = new Path(fpDir,
      "attempt-" + java.util.UUID.randomUUID().toString)
    fs.mkdirs(attempt)
    write(attempt)
    writeSmall(fs, new Path(fpDir, "_graft_input"), inputTag)
    writeSmall(fs, new Path(fpDir, "_COMMITTED"), attempt.getName)
    published.incrementAndGet()
    resolve(fs, fpDir)
  }

  /** Delete artifacts under `root` tagged with the same input but a
    * different (superseded) fingerprint — older build, regenerated data —
    * and legacy self-tagged dirs (`_graft_input` naming the dir itself,
    * which an early model store wrote and no same-tag prune can match).
    * Grace-period guarded: entries modified within [[pruneGraceMs]] are
    * skipped, so concurrent readers (other JVMs, lazily-planned
    * DataFrames) don't lose their files mid-scan; the next publish sweeps
    * them once they age out. */
  def pruneSuperseded(fs: FileSystem, root: Path, inputTag: String,
      keep: String): Unit = {
    val cutoff = System.currentTimeMillis() - pruneGraceMs
    val entries =
      try fs.listStatus(root) catch { case _: Throwable => return }
    entries.foreach { e =>
      val name = e.getPath.getName
      if (e.isDirectory && name != keep && e.getModificationTime < cutoff &&
        readSmall(fs, new Path(e.getPath, "_graft_input"))
          .exists(t => t == inputTag || t == name)) {
        try { fs.delete(e.getPath, true); () }
        catch { case _: Throwable => () }
      }
    }
  }

  /** Full garbage sweep of one artifact store root — what the publish-time
    * prunes can't reach, unified behind the one grace rule
    * ([[pruneGraceMs]]) for `graft.Vacuum`:
    *
    *  1. UNCOMMITTED fingerprint dirs (no `_COMMITTED` pointer — a crashed
    *     or still-racing publish; grace protects the racer);
    *  2. LOSER ATTEMPTS inside committed dirs (`attempt-*` not named by
    *     the pointer — the benign-race leftovers the commit protocol
    *     deliberately abandons);
    *  3. legacy SELF-TAGGED dirs (see [[pruneSuperseded]]);
    *  4. SUPERSEDED same-input dirs: several committed fingerprints
    *     carrying one `_graft_input` tag can only be code-stamp rotations
    *     of the same artifact — keep the newest-modified, sweep the rest
    *     (the publish-time [[pruneSuperseded]] applied store-wide, and
    *     strictly more conservative: it never deletes the newest).
    *
    * Never touches a committed payload a reader could still resolve:
    * deletion targets are pointerless, pointer-abandoned, or pointer-
    * superseded, and all of it grace-guarded. Returns (dirs deleted,
    * bytes reclaimed). */
  def vacuumStore(fs: FileSystem, root: Path): (Long, Long) = {
    val cutoff = System.currentTimeMillis() - pruneGraceMs
    var dirs = 0L
    var bytes = 0L
    def del(p: Path): Unit = {
      val b = try fs.getContentSummary(p).getLength
        catch { case _: Throwable => 0L }
      try if (fs.delete(p, true)) { dirs += 1; bytes += b }
      catch { case _: Throwable => () }
    }
    val entries =
      try fs.listStatus(root).filter(_.isDirectory)
      catch { case _: Throwable => return (0L, 0L) }
    entries.foreach { e =>
      if (e.getModificationTime < cutoff) resolve(fs, e.getPath) match {
        case None => del(e.getPath) // rule 1
        case Some(att) => // rule 2
          try fs.listStatus(e.getPath).foreach { a =>
            if (a.isDirectory && a.getPath.getName.startsWith("attempt-") &&
              a.getPath.getName != att.getName &&
              a.getModificationTime < cutoff) del(a.getPath)
          } catch { case _: Throwable => () }
      }
    }
    val live =
      try fs.listStatus(root).filter(_.isDirectory)
      catch { case _: Throwable => return (dirs, bytes) }
    val tagged = live.flatMap { e =>
      readSmall(fs, new Path(e.getPath, "_graft_input"))
        .map(t => (e, t.trim))
    }
    tagged.foreach { case (e, t) => // rule 3
      if (t == e.getPath.getName && e.getModificationTime < cutoff)
        del(e.getPath)
    }
    tagged.groupBy(_._2).foreach { case (_, group) => // rule 4
      val committed = group.filter { case (e, t) =>
        t != e.getPath.getName && resolve(fs, e.getPath).isDefined
      }
      if (committed.size > 1) {
        val keep = committed.maxBy(_._1.getModificationTime)._1.getPath
        committed.foreach { case (e, _) =>
          if (e.getPath != keep && e.getModificationTime < cutoff)
            del(e.getPath)
        }
      }
    }
    (dirs, bytes)
  }
}
