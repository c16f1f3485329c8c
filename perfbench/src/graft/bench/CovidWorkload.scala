package graft.bench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.covid.{Aggregates, BatchSink, Clean, Predict, Stream}

/** One sink write as the benchmark saw it. */
final case class SinkWrite(epoch: Long, table: String, startNs: Long,
    endNs: Long)

/** `BatchSink.idempotentParquet` with each write timed from outside. The
  * stream calls it on the driver only. */
final class TimedSink(dir: String, @transient tr: Tracer) extends BatchSink {
  @transient private val inner = BatchSink.idempotentParquet(dir)
  @transient val writes = new ConcurrentLinkedQueue[SinkWrite]()

  def write(df: DataFrame, table: String, epochId: Long): Unit = {
    val t0 = System.nanoTime()
    tr.span("sink", s"write:$table")(inner.write(df, table, epochId))
    writes.add(SinkWrite(epochId, table, t0, System.nanoTime()))
  }

  /** End of the last write of each epoch: when its rows became visible. */
  def commitNs: Map[Long, Long] =
    writes.asScala.groupBy(_.epoch).map { case (e, ws) => e -> ws.map(_.endNs).max }

  def epochsWith(table: String): Set[Long] =
    writes.asScala.filter(_.table == table).map(_.epoch).toSet
}

/** The paper's pipeline: `Stream.decode` → `Stream.run` → `processBatch` →
  * `BatchSink.idempotentParquet`, over a replayable JSON-lines file source.
  * Catch-up drains a preloaded backlog one file (one fixed-size batch) per
  * micro-batch; live restarts the same query on an as-soon-as-possible
  * trigger while an open-loop generator writes a file per tick and one
  * closed-loop dashboard client reads the sink. */
object CovidWorkload {
  val Locations = 150
  val DaysPerBatch = 30
  val BatchRecords: Int = Locations * DaysPerBatch
  val BacklogBatches = 3
  /** Records of the one untimed warm-up batch. */
  val WarmRecords = 1500
  /** Live feed rate in records/s and the generator's tick. The rate is
    * about half the catch-up throughput: on a 4-core host the untraced
    * catch-up drain read 1296 records/s (median of ten seeds, 13,500
    * records in 10.4 s). It stays a constant, so that every commit is
    * measured under the same load. */
  val LiveRate = 650
  /** The generator flushes the records created in each tick as one file. */
  val TickMs = 100
  /** Seconds of the live feed before its records are sampled. */
  val WarmUpS = 8
  val Realtime = "covid_realtime_stats"
  val SinkTables = Seq(Realtime, "covid_predictions",
    "continent_covid_stats", "covid_hotspots")

  def run(spark: SparkSession, a: Args, tr: Tracer, out: Outcome): Unit = {
    val root = a.runDir.resolve("covid")
    val locs = Feed.locations(a.seed, Locations)

    // --- set-up: a warm-up drain in its own dirs, then the backlog
    val warm = root.resolve("warm")
    Feed.writeFile(a.seed + 1, locs, 0, WarmRecords, warm.resolve("feed"),
      warm.resolve("stage"), "warm-0000.json", new Feed.Injected)
    drain(spark, warm, new TimedSink(warm.resolve("sink").toString,
      new Tracer(false))).foreach(e => out.fail(s"warm-up drain: $e"))
    new Dashboard(spark, warm.resolve("sink"), new Tracer(false)).readNow()
      .error.foreach(e => out.fail(s"warm-up dashboard read: $e"))

    Main.phase("warm-up drained")
    val feed = root.resolve("feed")
    val stage = root.resolve("stage")
    val injected = new Feed.Injected
    val expects = ArrayBuffer.empty[Feed.Expect]
    (0 until BacklogBatches).foreach { b =>
      Feed.writeFile(a.seed, locs, b.toLong * BatchRecords,
        (b + 1).toLong * BatchRecords, feed, stage, f"backlog-$b%04d.json",
        injected).foreach(_.expect.foreach(expects += _))
    }
    val backlogLines = injected.lines
    val sink = new TimedSink(root.resolve("sink").toString, tr)
    val ckpt = root.resolve("ckpt").toString
    val setupS = Main.sinceStartS

    Main.phase("setup done")
    // --- catch-up: timed drain of the backlog
    val probe = if (a.trace) Some(new Probe(spark)) else None
    val c0 = System.nanoTime()
    val catchup = tr.span("stream", "catchup") {
      def drained(): StreamingQuery = {
        val q = runQuery(spark, feed, ckpt, sink, catchUp = true)
        q.awaitTermination()
        q
      }
      probe.fold(drained())(_.measure(drained()))
    }
    val catchupS = (System.nanoTime() - c0) / 1e9
    catchup.exception.foreach(e => out.fail(s"catch-up query: $e"))
    val catchupProgress = catchup.recentProgress.filter(_.numInputRows > 0)
    if (catchupProgress.length != BacklogBatches)
      out.fail(s"catch-up ran ${catchupProgress.length} epochs for " +
        s"$BacklogBatches backlog files")

    Main.phase("catch-up done")
    // --- live: generator + dashboard client beside the restarted query
    val live = runQuery(spark, feed, ckpt, sink, catchUp = false)
    val dash = new Dashboard(spark, root.resolve("sink"), tr)
    dash.start()
    val liveFrom = BacklogBatches.toLong * BatchRecords
    val gen = new Feed.Generator(a.seed, locs, feed, stage, liveFrom,
      LiveRate, TickMs, injected)
    gen.start()
    def liveData = live.recentProgress.filter(_.numInputRows > 0)
    // waits until the next live epoch with input commits
    def nextCommit(): Boolean = {
      val n0 = liveData.length
      val until = System.nanoTime() + 30L * 1000000000L
      while (liveData.length == n0 && live.isActive &&
        System.nanoTime() < until) Thread.sleep(5)
      liveData.length > n0
    }
    // untimed warm-up under load: the restarted query's first epoch, which
    // carries its one-time start cost, and the slower first loaded epochs
    // fall in it; it ends as an epoch commits, so sampling starts at an
    // epoch boundary
    Thread.sleep(WarmUpS * 1000L)
    if (!nextCommit()) out.fail("live phase: no epoch committed in the warm-up")
    val firstLive = liveData.map(_.batchId).foldLeft(-1L)(_ max _) + 1
    probe.foreach(_.drain())
    val streamJobs0 = probe.map(_.tasks.streamJobs)
    val sampleFromNs = System.nanoTime()
    Thread.sleep(a.seconds * 1000L)
    // the feed stops as an epoch commits, so the last epoch holds the ticks
    // of one whole epoch like every other one, whatever the phase
    nextCommit()
    Main.phase("live feed stops")
    gen.requestStop()
    gen.join()
    // drained once a trigger that started after the last file was
    // published has finished: live triggers take every file listed
    val genDone = java.time.Instant.now()
    val deadline = System.nanoTime() + 60L * 1000000000L
    def drained = live.recentProgress.exists(p =>
      java.time.Instant.parse(p.timestamp).isAfter(genDone))
    while (!drained && live.isActive && System.nanoTime() < deadline)
      Thread.sleep(20)
    Main.phase("live drained")
    dash.requestStop()
    dash.join()
    live.stop()
    probe.foreach(_.drain())
    val liveJobs = probe.zip(streamJobs0).map { case (p, j0) =>
      p.tasks.streamJobs - j0 }
    live.exception.foreach(e => out.fail(s"live query: $e"))
    gen.failure.foreach(e => out.fail(s"generator: $e"))
    if (!drained) out.fail("live phase: generated files not drained in 60 s")
    val liveProgress = liveData.filter(_.batchId >= firstLive)
    expects ++= gen.expects

    Main.phase("live stopped")
    // --- epochs: each with input must have written the two tables that
    // are never empty for non-empty input (processBatch logs and skips a
    // failed batch, so a missing write is how a failure shows here)
    val required = Seq(Realtime, "continent_covid_stats")
      .map(t => t -> sink.epochsWith(t))
    (catchupProgress ++ liveData).foreach { p =>
      val missing = required.collect { case (t, es) if !es(p.batchId) => t }
      if (missing.isEmpty) out.ok()
      else out.fail(s"epoch ${p.batchId}: no ${missing.mkString(", ")} " +
        s"write for ${p.numInputRows} input rows")
    }
    dash.results.foreach(r => if (r.error.isEmpty) out.ok()
      else out.fail(s"dashboard read: ${r.error.get}"))

    // --- output checks over the final sink
    val sinkRows = spark.read.parquet(root.resolve("sink").resolve(Realtime)
      .toString).select("uuid", "location", "date", "epoch", "total_cases",
        "new_cases").collect()
    checkSink(sinkRows, expects.toSeq, out)
    checkDashboard(spark, root.resolve("sink"), dash, out)

    Main.phase("checks done")
    // --- freshness of every sampled live record (created after the
    // warm-up): its creation time → the commit that made it visible
    val commit = sink.commitNs
    val fresh = sinkRows.filter(r => !r.isNullAt(0) && epoch(r) >= firstLive)
      .flatMap { r =>
        val created = gen.createdNs(Feed.seqOf(r.getString(0)))
        if (created < sampleFromNs) None
        else commit.get(epoch(r)).map(c => (c - created) / 1e6)
      }.toSeq

    out.metric("setup_s", setupS, "s")
    out.metric("pass_s", catchupS, "s")
    if (fresh.nonEmpty) {
      out.metric("p50_ms", Stats.median(fresh), "ms")
      val (tp, tv) = Stats.tail(fresh)
      out.metric("tail_ms", tv, "ms")
      out.note("tail", s"p$tp of ${fresh.size} live records")
    } else out.fail("freshness: no live record reached the sink")
    val dashLat = dash.results.filter(_.error.isEmpty).map(_.ms).toSeq
    out.note("catchup_rps", f"${backlogLines / catchupS}%.1f")
    out.note("catchup_epochs", catchupProgress.length)
    out.note("live_epochs", liveProgress.map(p =>
      s"${p.numInputRows}r/${p.durationMs.get("triggerExecution")}ms")
      .mkString(" "))
    out.note("live_rate_rps", LiveRate)
    out.note("live_records", gen.seqUntil - liveFrom)
    out.note("dashboard_reads", dashLat.size)
    if (dashLat.nonEmpty) {
      out.note("dashboard_p50_ms", f"${Stats.median(dashLat)}%.1f")
      out.note("dashboard_tail", {
        val (p, v) = Stats.tail(dashLat); f"p$p $v%.1f ms" })
    }
    injected.shares.foreach { case (k, v) => out.note(s"injected_$k", f"$v%.4f") }
    out.note("gen_late_max_ms", f"${(0.0 +: gen.lateMs.toSeq).max}%.1f")

    if (a.trace) {
      probe.foreach { p =>
        p.ops = math.max(1L, catchupProgress.length.toLong)
        p.perOp.foreach { case (k, v, u) => out.metric(k, v, u) }
      }
      out.metric("stream.catchup_rps", backlogLines / catchupS, "records/s")
      streamLayer(liveProgress.toSeq, liveData.filter(_.batchId < firstLive)
        .map(_.numInputRows).sum, gen, out)
      liveJobs.foreach(j => out.metric("stream.jobs_per_epoch",
        j.toDouble / math.max(1, liveProgress.length), "count"))
      sinkLayer(sink, root.resolve("sink"), dash, firstLive, out)
      covidLayer(spark, feed.resolve("backlog-0000.json"), tr, out)
      if (dashLat.nonEmpty) {
        out.metric("sink.dashboard_p50_ms", Stats.median(dashLat), "ms")
        out.metric("sink.dashboard_tail_ms", Stats.tail(dashLat)._2, "ms")
      }
      out.metric("stream.catchup_rps_local1", local1CatchupRps(a, locs),
        "records/s")
    }
  }

  /** The sink's `epoch` partition column of a collected row. */
  private def epoch(r: Row): Long = r.getAs[Number](3).longValue

  /** The program's pipeline over the feed directory. Catch-up reads one
    * backlog file per micro-batch and stops when drained. */
  def runQuery(spark: SparkSession, feed: Path, ckpt: String,
      sink: BatchSink, catchUp: Boolean): StreamingQuery = {
    val reader = spark.readStream.format("text")
    val raw = (if (catchUp) reader.option("maxFilesPerTrigger", "1")
      else reader).load(feed.toString)
    Stream.run(Stream.decode(raw), sink, ckpt,
      if (catchUp) Trigger.AvailableNow() else Trigger.ProcessingTime(0L))
  }

  /** Drains `dir/feed` into `sink` with a catch-up query. */
  private def drain(spark: SparkSession, dir: Path,
      sink: BatchSink): Option[Throwable] = {
    val q = runQuery(spark, dir.resolve("feed"), dir.resolve("ckpt").toString,
      sink, catchUp = true)
    q.awaitTermination()
    q.exception
  }

  /** Every well-formed record lands exactly once per epoch with its
    * cleaned values; nothing else lands. */
  private def checkSink(rows: Array[Row], expects: Seq[Feed.Expect],
      out: Outcome): Unit = {
    val wellFormed = rows.filter(!_.isNullAt(0))
    val dups = rows.groupBy(r => (epoch(r), Option(r.getString(1)),
      Option(r.get(2)).map(String.valueOf))).count(_._2.length > 1)
    if (dups == 0) out.ok()
    else out.fail(s"check sink: $dups (location, date) keys repeated " +
      "within an epoch")
    val byUuid = wellFormed.groupBy(_.getString(0))
    val want = expects.map(e => e.uuid -> e).toMap
    val missing = want.keySet.diff(byUuid.keySet)
    val extra = byUuid.keySet.diff(want.keySet)
    if (missing.isEmpty && extra.isEmpty) out.ok()
    else out.fail(s"check sink: ${missing.size} generated records missing " +
      s"(e.g. ${missing.take(3).mkString(",")}), ${extra.size} unexpected")
    def d(r: Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val wrong = byUuid.count { case (u, rs) => want.get(u).exists { e =>
      rs.exists(r => r.getString(1) != e.location ||
        String.valueOf(r.get(2)) != e.date || d(r, 4) != e.totalCases ||
        d(r, 5) != e.newCases)
    } }
    if (wrong == 0) out.ok()
    else out.fail(s"check sink: $wrong records with wrong cleaned values")
  }

  /** Dashboard views read by the client equal `Aggregates.*` computed in
    * batch over the same sink state: the final state, and the epoch set
    * of the client's last live read. */
  private def checkDashboard(spark: SparkSession, sinkDir: Path,
      dash: Dashboard, out: Outcome): Unit = {
    val table = sinkDir.resolve(Realtime).toString
    val batch = Dashboard.views(spark.read.parquet(table))
    val client = dash.readNow()
    if (Dashboard.same(batch, client.views)) out.ok()
    else out.fail("check dashboard: client views differ from batch " +
      "Aggregates over the final sink")
    dash.results.filter(_.error.isEmpty).lastOption.foreach { last =>
      val again = Dashboard.views(Dashboard.read(spark, sinkDir, last.epochs))
      if (Dashboard.same(again, last.views)) out.ok()
      else out.fail("check dashboard: last live read differs from batch " +
        s"Aggregates over its ${last.epochs.size} epochs")
    }
  }

  /** Live epochs after the warm-up; `readBefore` rows were read by the
    * warm-up epochs. */
  private def streamLayer(ps: Seq[org.apache.spark.sql.streaming
      .StreamingQueryProgress], readBefore: Long, gen: Feed.Generator,
      out: Outcome): Unit = {
    val n = math.max(1, ps.size).toDouble
    def mean(k: String) = ps.map(p => Option(p.durationMs.get(k))
      .map(_.toDouble).getOrElse(0.0)).sum / n
    out.metric("stream.epochs", ps.size.toDouble, "count")
    out.metric("stream.rows_per_epoch", ps.map(_.numInputRows).sum / n,
      "count")
    out.metric("stream.add_batch_ms", mean("addBatch"), "ms")
    out.metric("stream.latest_offset_ms", mean("latestOffset"), "ms")
    out.metric("stream.wal_commit_ms", mean("walCommit"), "ms")
    out.metric("stream.query_planning_ms", mean("queryPlanning"), "ms")
    out.metric("stream.trigger_ms", mean("triggerExecution"), "ms")
    // rows generated but not yet read when each epoch started
    val perTick = gen.perTick
    val started = ps.map(p => java.time.Instant.parse(p.timestamp)
      .toEpochMilli)
    val t0 = if (gen.dueNs.isEmpty) 0L else gen.dueNs.head
    val wallAtT0 = System.currentTimeMillis() -
      (System.nanoTime() - t0) / 1000000L
    var read = readBefore
    val backlog = ps.zip(started).map { case (p, s) =>
      val ticks = gen.dueNs.count(d => wallAtT0 + (d - t0) / 1000000L <= s)
      val b = math.max(0L, ticks.toLong * perTick - read)
      read += p.numInputRows
      b.toDouble
    }
    out.metric("stream.backlog_rows",
      if (backlog.isEmpty) 0.0 else backlog.sum / backlog.size, "count")
    out.metric("stream.gen_late_ms", (0.0 +: gen.lateMs.toSeq).max, "ms")
  }

  private def sinkLayer(sink: TimedSink, sinkDir: Path, dash: Dashboard,
      firstLive: Long, out: Outcome): Unit = {
    val ws = sink.writes.asScala.toSeq
    SinkTables.foreach { t =>
      val tw = ws.filter(w => w.table == t && w.epoch >= firstLive)
      out.metric(s"sink.$t.write_ms", if (tw.isEmpty) 0.0
        else tw.map(w => (w.endNs - w.startNs) / 1e6).sum / tw.size, "ms")
    }
    val files = Files.walk(sinkDir).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toSeq
    out.metric("sink.files_written", files.size.toDouble, "count")
    out.metric("sink.bytes_written", files.map(Files.size).sum.toDouble,
      "bytes")
    val reads = dash.results.filter(_.error.isEmpty)
    out.metric("sink.files_read_per_dashboard", if (reads.isEmpty) 0.0
      else reads.map(_.files).sum.toDouble / reads.size, "count")
  }

  /** Traced only: each covid stage on one recorded catch-up batch, timed
    * to its full result over a cached cleaned input. */
  private def covidLayer(spark: SparkSession, batchFile: Path, tr: Tracer,
      out: Outcome): Unit = {
    val raw = spark.read.text(batchFile.toString).persist()
    val decoded = tr.span("stream", "decode")(Stream.decode(raw)).persist()
    val rowsIn = decoded.count()
    def best(name: String, df: => DataFrame): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      tr.span("covid", name)(Main.materialize(df))
      (System.nanoTime() - t0) / 1e6
    }.min
    try {
      out.metric("covid.clean_ms", best("clean", Clean.clean(decoded)), "ms")
      val cleaned = Clean.clean(decoded).persist()
      val realtime = cleaned.dropDuplicates(Seq("location", "date")).persist()
      try {
        out.metric("covid.predict_ms",
          best("predict", Predict.predictFutureTrends(realtime)), "ms")
        out.metric("covid.continent_ms",
          best("continent", Aggregates.continentStats(cleaned)), "ms")
        out.metric("covid.hotspots_ms",
          best("hotspots", Aggregates.hotspots(cleaned)), "ms")
        out.metric("covid.rows_in", rowsIn.toDouble, "count")
        out.metric("covid.rows_nulled_by_decode",
          decoded.where(col("uuid").isNull && col("location").isNull &&
            col("date").isNull).count().toDouble, "count")
        out.metric("covid.dedup_keep_ratio",
          realtime.count().toDouble / math.max(1L, rowsIn), "ratio")
        out.metric("covid.hotspot_rows",
          Aggregates.hotspots(cleaned).count().toDouble, "count")
      } finally { cleaned.unpersist(); realtime.unpersist() }
    } finally { decoded.unpersist(); raw.unpersist() }
  }

  /** Traced only: the same backlog drained on `local[1]`, in a fresh
    * session after the main one stops. */
  private def local1CatchupRps(a: Args, locs: IndexedSeq[Feed.Loc]): Double = {
    SparkSession.active.stop()
    val dir = a.runDir.resolve("covid-local1")
    val spark = Main.session(dir, 1)
    val warm = dir.resolve("warm")
    Feed.writeFile(a.seed + 1, locs, 0, WarmRecords, warm.resolve("feed"),
      warm.resolve("stage"), "warm-0000.json", new Feed.Injected)
    drain(spark, warm, new TimedSink(warm.resolve("sink").toString,
      new Tracer(false)))
    val injected = new Feed.Injected
    (0 until BacklogBatches).foreach { b =>
      Feed.writeFile(a.seed, locs, b.toLong * BatchRecords,
        (b + 1).toLong * BatchRecords, dir.resolve("feed"),
        dir.resolve("stage"), f"backlog-$b%04d.json", injected)
    }
    val t0 = System.nanoTime()
    drain(spark, dir, new TimedSink(dir.resolve("sink").toString,
      new Tracer(false)))
    injected.lines / ((System.nanoTime() - t0) / 1e9)
  }
}

/** One dashboard refresh: the three serving views, the epochs it saw. */
final case class DashRead(ms: Double, epochs: Seq[String], files: Int,
    views: Seq[Seq[String]], error: Option[String])

/** Closed-loop dashboard client over the sink's realtime table: each
  * refresh lists the committed epochs, reads them, and collects
  * `Aggregates.dashboardSummary`, `topAffected` and `countryRankings`;
  * the next refresh starts one think time after the previous one ends. */
final class Dashboard(spark: SparkSession, sinkDir: Path, tr: Tracer)
    extends Thread("bench-dashboard") {
  setDaemon(true)
  @volatile private var stopping = false
  private val queue = new ConcurrentLinkedQueue[DashRead]()

  def requestStop(): Unit = stopping = true

  /** Reads completed by the client thread, in order. */
  def results: Seq[DashRead] = queue.asScala.toSeq

  override def run(): Unit = while (!stopping) {
    if (Dashboard.committed(sinkDir).isEmpty) Thread.sleep(20)
    else {
      queue.add(readNow())
      Thread.sleep(Dashboard.ThinkMs)
    }
  }

  def readNow(): DashRead = {
    val t0 = System.nanoTime()
    val epochs = Dashboard.committed(sinkDir)
    Try(tr.span("sink", "dashboard") {
      Dashboard.views(Dashboard.read(spark, sinkDir, epochs))
    }) match {
      case Success(v) => DashRead((System.nanoTime() - t0) / 1e6, epochs,
        Dashboard.files(sinkDir, epochs), v, None)
      case Failure(e) => DashRead((System.nanoTime() - t0) / 1e6, epochs, 0,
        Nil, Some(e.toString.take(300)))
    }
  }
}

object Dashboard {
  /** Pause between refreshes, as a dashboard that refreshes on a cadence
    * rather than back to back. */
  val ThinkMs = 1000L

  private def table(sinkDir: Path) = sinkDir.resolve(CovidWorkload.Realtime)

  /** Epoch directories whose write has committed (`_SUCCESS` present). */
  def committed(sinkDir: Path): Seq[String] = {
    val t = table(sinkDir)
    if (!Files.isDirectory(t)) Nil
    else Files.list(t).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("epoch=") &&
        Files.exists(p.resolve("_SUCCESS")))
      .map(_.getFileName.toString).toSeq.sorted
  }

  def files(sinkDir: Path, epochs: Seq[String]): Int =
    epochs.map(e => Files.list(table(sinkDir).resolve(e)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))).sum

  def read(spark: SparkSession, sinkDir: Path, epochs: Seq[String]): DataFrame =
    spark.read.option("basePath", table(sinkDir).toString)
      .parquet(epochs.map(e => table(sinkDir).resolve(e).toString): _*)

  /** The three views, each collected in full and rendered row by row. */
  def views(rt: DataFrame): Seq[Seq[String]] =
    Seq(Aggregates.dashboardSummary(rt), Aggregates.topAffected(rt),
      Aggregates.countryRankings(rt)).map { v =>
      v.collect().toSeq.map(_.toSeq.map(render).mkString("|"))
    }

  private def render(v: Any): String = v match {
    case d: Double => f"$d%.9g"
    case null => "null"
    case o => o.toString
  }

  /** Same rows per view, in any order. */
  def same(a: Seq[Seq[String]], b: Seq[Seq[String]]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => x.sorted == y.sorted }
}
