package graft.streaming

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Source scan of `src/main/scala/graft/streaming`: the epoch loop and
  * the `epoch=` partition layout are written once, in [[EpochState]] and
  * [[Compaction]]. A stream that opens its own `foreachBatch` loop or
  * names an `epoch=` path in a `parquet(...)` call fails here. */
class EpochWritersSpec extends AnyFunSuite {

  /** (file name, code with every comment removed) per source file. */
  private lazy val sources: Seq[(String, String)] = {
    val dir = Paths.get("src/main/scala/graft/streaming")
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
      .map { p =>
        p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8")
          .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
      }
  }

  /** (file, enclosing def, matched text) of every match of `re`. */
  private def sites(re: Regex): Seq[(String, String, String)] =
    sources.flatMap { case (file, code) =>
      re.findAllMatchIn(code).map { m =>
        val enclosing = """\bdef\s+(\w+)""".r
          .findAllMatchIn(code.substring(0, m.start)).toSeq
          .lastOption.fold("")(_.group(1))
        (file, enclosing, m.matched)
      }
    }

  test("only EpochState.start and StreamingDedup.start's stateless probe " +
    "call foreachBatch") {
    val found = sites("""\.foreachBatch\b""".r)
      .map { case (file, fn, _) => (file, fn) }
    assert(found.toSet ==
      Set("EpochState.scala" -> "start", "StreamingDedup.scala" -> "start"),
      s"foreachBatch outside the one epoch loop: $found")
    assert(found.size == 2, found)
  }

  test("only EpochState and Compaction write epoch= paths, besides " +
    "Replay's q170 match sink") {
    val found = sites("""parquet\(\s*s"[^"]*epoch=""".r)
    val stray = found.filterNot {
      case ("EpochState.scala" | "Compaction.scala", _, _) => true
      case ("Replay.scala", "buildDedup", m) => m.endsWith("$matchesRoot/epoch=")
      case _ => false
    }
    assert(stray.isEmpty, s"epoch= paths outside EpochState: $stray")
    // the scan must see the writer it protects, or it proves nothing
    assert(found.exists(_._1 == "EpochState.scala"), found)
    assert(found.exists(_._1 == "Replay.scala"), found)
  }
}
