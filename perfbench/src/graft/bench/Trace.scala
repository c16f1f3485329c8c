package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call the benchmark made into a layer of the program. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Span recorder for the traced run. Spans stay in memory until [[write]];
  * the parent is the innermost open span on the calling thread. When
  * tracing is off, [[span]] is a plain call. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val bookkeepingNs = new AtomicLong(0)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      bookkeepingNs.addAndGet(t0 - b0)
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), layer, name,
          t0, t1))
        bookkeepingNs.addAndGet(System.nanoTime() - t1)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Own time of each layer: span time minus the time of child spans. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val childNs = ss.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.durNs).sum }
    ss.groupBy(_.layer).map { case (layer, ls) =>
      layer -> ls.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e6
    }
  }

  /** Time spent recording spans, in ms. */
  def overheadMs: Double = bookkeepingNs.get() / 1e6

  /** Spans as JSON lines, written once at the end of the run. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${Json.esc(s.name)}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Cumulative executor-side counters read from Spark's own listener. */
final case class TaskTotals(jobs: Long = 0, stages: Long = 0,
    tasks: Long = 0, runMs: Long = 0, cpuMs: Double = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, fetchWaitMs: Long = 0,
    spill: Long = 0, bytesRead: Long = 0, recordsRead: Long = 0) {
  def -(o: TaskTotals): TaskTotals = TaskTotals(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, runMs - o.runMs, cpuMs - o.cpuMs,
    gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, fetchWaitMs - o.fetchWaitMs,
    spill - o.spill, bytesRead - o.bytesRead, recordsRead - o.recordsRead)
}

/** SparkListener that keeps [[TaskTotals]] and job intervals. */
final class TaskListener extends SparkListener {
  private var totals = TaskTotals()
  private var streamJobCount = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def snapshot: TaskTotals = synchronized(totals)

  /** Jobs run by a streaming query's micro-batches. */
  def streamJobs: Long = synchronized(streamJobCount)

  /** Job [start, end) intervals in epoch ms that overlap [from, to). */
  def jobsBetween(from: Long, to: Long): Seq[(Long, Long)] = synchronized {
    jobIntervals.filter { case (s, e) => e > from && s < to }.toSeq
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    totals = totals.copy(jobs = totals.jobs + 1)
    if (e.properties != null &&
      e.properties.getProperty("sql.streaming.queryId") != null)
      streamJobCount += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { totals = totals.copy(stages = totals.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      totals = totals.copy(
        tasks = totals.tasks + 1,
        runMs = totals.runMs + m.executorRunTime,
        cpuMs = totals.cpuMs + m.executorCpuTime / 1e6,
        gcMs = totals.gcMs + m.jvmGCTime,
        shuffleWrite = totals.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = totals.shuffleRead + sr.localBytesRead +
          sr.remoteBytesRead,
        fetchWaitMs = totals.fetchWaitMs + sr.fetchWaitTime,
        spill = totals.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        bytesRead = totals.bytesRead + m.inputMetrics.bytesRead,
        recordsRead = totals.recordsRead + m.inputMetrics.recordsRead)
    }
  }
}

/** Wall time of [from, to) not covered by any job interval: the time a
  * query spends on the driver alone (analysis, planning, codegen, result
  * handling). */
object DriverTime {
  def ms(from: Long, to: Long, jobs: Seq[(Long, Long)]): Long = {
    val clipped = jobs.map { case (s, e) => (math.max(s, from),
      math.min(e, to)) }.filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (to - from) - covered
  }
}

/** Minimal JSON string escaping for the benchmark's own output. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString
}
