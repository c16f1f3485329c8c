package graft.bench

import java.nio.file.{Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Arguments of one benchmark process (see `perfbench/run.py`). */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, runDir: Path, dataDir: String, traceOut: Option[Path])

/** What a workload hands back: operation counts, named failures, and the
  * metrics for the mode it ran in. */
final class Outcome {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]

  def ok(): Unit = synchronized { attempted += 1 }
  def fail(what: String): Unit = synchronized {
    attempted += 1
    failures += what
    System.err.println(s"[bench] FAILED $what")
  }
  def metric(name: String, value: Double, unit: String): Unit =
    synchronized { metrics(name) = (value, unit) }
  def note(name: String, value: Any): Unit =
    synchronized { notes(name) = value.toString }
}

/** Benchmark process entry: one workload, one JVM, `local[4]`. Prints a
  * detail line and then one result line of JSON on stdout. */
object Main {
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = new Outcome
    val tracer = new Tracer(a.trace)
    val spark = session(a.runDir, Cores)
    phase("session ready")
    try {
      a.workload match {
        case "covid_stream" => CovidWorkload.run(spark, a, tracer, out)
        case "batch" => BatchWorkload.run(spark, a, tracer, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      try SparkSession.active.stop() catch { case _: Throwable => () }
    }
    out.metric("peak_rss_mb", peakRssMb, "MB")
    if (a.trace) {
      tracer.selfMsByLayer.foreach { case (layer, ms) =>
        out.metric(s"$layer.self_ms", ms, "ms") }
      out.metric("trace.spans", tracer.all.size.toDouble, "count")
      out.metric("trace.bookkeeping_ms", tracer.overheadMs, "ms")
      a.traceOut.foreach(tracer.write)
    }
    println(detailLine(a, out))
    println(resultLine(out))
    System.out.flush()
    sys.exit(0)
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", Paths.get(m("run-dir")).toAbsolutePath,
      m("data"), m.get("trace-out").map(Paths.get(_)))
  }

  /** The session every workload runs in: the program's SQL extensions,
    * its scratch dirs inside the run directory, and the same confs the
    * repo's own bench uses. */
  def session(runDir: Path, cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir",
        runDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.stopTimeout", "30000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.noDataProgressEventInterval", "50")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()

  /** Full-result timing of a query: a noop write, never count(). */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def nowMs: Long = System.currentTimeMillis()

  /** Marks a phase boundary on stderr, with seconds since JVM start. */
  def phase(name: String): Unit =
    System.err.println(f"[bench] ${sinceStartS}%.2f s $name")

  /** Process memory high-water mark (VmHWM) in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Seconds from JVM start to now. */
  def sinceStartS: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    ) / 1000.0

  def detailLine(a: Args, o: Outcome): String = {
    val notes = o.notes.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }
    val fails = o.failures.take(50).map(Json.str)
    s"""{"detail":{"workload":${Json.str(a.workload)},"seed":${a.seed},""" +
      s""""trace":${a.trace},"failures":${fails.mkString("[", ",", "]")},""" +
      s""""notes":${notes.mkString("{", ",", "}")}}}"""
  }

  def resultLine(o: Outcome): String = {
    val ms = o.metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{${"\"value\""}:${Json.num(v)},${"\"unit\""}:${Json.str(u)}}"
    }
    s"""{"correct":${o.failures.isEmpty},"attempted":${math.max(1L, o.attempted)},""" +
      s""""failed":${o.failures.size},"metrics":${ms.mkString("{", ",", "}")}}"""
  }
}
