package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.streaming.StreamingQuery

/** Forces a real replay of a stream's last micro-batch: stops `q`,
  * deletes that batch's commit-log entry `<checkpoint>/commits/<n>` and
  * its `.crc` checksum (a checksum left behind fails the restart), then
  * restarts through `restart` on the same source and checkpoint and
  * processes. Batch `n` runs again with the same epoch id and the same
  * rows — the at-least-once redelivery a crash between the sink write
  * and the commit-log write causes. Returns the replayed batch id. */
object ForcedReplay {

  def apply(q: StreamingQuery, checkpoint: String)(
      restart: => StreamingQuery): Long = {
    q.stop()
    val commits = Paths.get(checkpoint, "commits")
    val n = commits.toFile.list().filter(_.forall(_.isDigit))
      .map(_.toLong).max
    assert(Files.deleteIfExists(commits.resolve(n.toString)))
    Files.deleteIfExists(commits.resolve(s".$n.crc"))
    val again = restart
    try {
      again.processAllAvailable()
      assert(again.recentProgress.exists(p =>
        p.batchId == n && p.numInputRows > 0), s"batch $n did not run again")
    } finally again.stop()
    n
  }
}
