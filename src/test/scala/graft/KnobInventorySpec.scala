package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Source scan of `src/main/scala`: every setting the engine reads — a
  * `spark.graft.*`/`graft.*` conf key or system property, or an
  * environment variable — is on the committed list below, and lineage
  * truncation is decided in one place, [[graft.operators.Mirror]]'s
  * `truncated`. A new knob fails here until the list names it. */
class KnobInventorySpec extends AnyFunSuite {

  /** The committed settings. An interpolated segment reads `<store>`:
    * the artifact store's name derives its kill switch, its directory
    * property and its directory variable. */
  private val confKeys = Set(
    "graft.<store>.dir",
    "graft.artifact.prune.grace.ms",
    "spark.graft.<store>",
    "spark.graft.cap.bounded",
    "spark.graft.cap.bounded.minBytes",
    "spark.graft.cc.checkpointDir",
    "spark.graft.cc.maxRounds",
    "spark.graft.centroids.exact",
    "spark.graft.contam.exactmax",
    "spark.graft.lm.broadcastMaxRows",
    "spark.graft.pagerank.ckptEvery",
    "spark.graft.topk.maxKeysPerPartition",
    "spark.graft.topk.partial",
    "spark.graft.topk.partial.maxKeys",
    "spark.graft.topk.partial.minBytes",
    "spark.graft.topk.rewrite")

  private val envVars = Set(
    "SPARK_GRAFT_<store>_DIR",
    "SPARK_GRAFT_BENCH_FLOOR",
    "SPARK_GRAFT_BENCH_ITERS",
    "SPARK_GRAFT_BENCH_OUT",
    "SPARK_GRAFT_BENCH_SHUFFLE",
    "SPARK_GRAFT_CONF",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_EXPLAIN_CONF",
    "SPARK_GRAFT_EXPLAIN_DIR",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_VERIFY_WIDE_OUT")

  /** (file name, code with every comment removed) per source file. */
  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
      .map((p: Path) => p.getFileName.toString ->
        stripComments(new String(Files.readAllBytes(p), "UTF-8")))
  }

  /** `src` without `//` and `/* */` comments; string and character
    * literals pass through whole, so a `//` inside a URL stays code. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def literalEnd(q: String): Int = {
      var j = i + q.length
      while (j < src.length && !src.startsWith(q, j))
        j += (if (q == "\"" && src(j) == '\\') 2 else 1)
      math.min(j + q.length, src.length)
    }
    while (i < src.length) {
      val next =
        if (src.startsWith("\"\"\"", i)) literalEnd("\"\"\"")
        else if (src(i) == '"') literalEnd("\"")
        else if (src.startsWith("'\\", i)) src.indexOf('\'', i + 2) + 1
        else if (src.startsWith("'", i) && src.startsWith("'", i + 2)) i + 3
        else -1
      if (next > i) { out.append(src.substring(i, next)); i = next }
      else if (src.startsWith("//", i)) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        val e = src.indexOf("*/", i + 2)
        i = if (e < 0) src.length else e + 2
      } else { out.append(src(i)); i += 1 }
    }
    out.toString
  }

  /** The first string argument of every call matched by `call`, its
    * interpolations written `<store>`. */
  private def reads(call: String): Set[String] = {
    val re = (call + """\(\s*s?"([^"]*)"""").r
    sources.flatMap { case (_, code) =>
      re.findAllMatchIn(code).map(m =>
        m.group(1).replaceAll("""\$\{[^}]*\}|\$\w+""", "<store>"))
    }.toSet
  }

  test("src/main reads exactly the committed conf keys and env variables") {
    val keys = reads("""\.(?:get|getOption|getOrElse|getConfString)""")
      .filter(k => k.startsWith("graft.") || k.startsWith("spark.graft."))
    val env = reads("""(?:sys\.env(?:\.get|\.getOrElse|\.contains)?""" +
      """|System\.getenv)""")
    assert(keys.diff(confKeys).isEmpty,
      s"conf keys read but not listed: ${keys.diff(confKeys)}")
    assert(confKeys.diff(keys).isEmpty,
      s"listed conf keys no longer read: ${confKeys.diff(keys)}")
    assert(env.diff(envVars).isEmpty,
      s"environment variables read but not listed: ${env.diff(envVars)}")
    assert(envVars.diff(env).isEmpty,
      s"listed environment variables no longer read: ${envVars.diff(env)}")
  }

  test("only Mirror.truncated checkpoints or sets the checkpoint " +
    "directory") {
    val re: Regex =
      """\.(?:localCheckpoint|checkpoint|setCheckpointDir)\s*\(""".r
    val found = sources.flatMap { case (file, code) =>
      re.findAllMatchIn(code).map { m =>
        val enclosing = """\bdef\s+(\w+)""".r
          .findAllMatchIn(code.substring(0, m.start)).toSeq
          .lastOption.fold("")(_.group(1))
        (file, enclosing)
      }
    }
    assert(found.nonEmpty &&
      found.forall(_ == ("Mirror.scala", "truncated")),
      s"checkpoint calls outside Mirror.truncated: $found")
  }
}
