package graft.bench

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = scala.util.Try(cond).getOrElse(false)
    if (!ok) failures += 1
    println(s"${if (ok) "PASS" else "FAIL"} $name")
  }

  def main(argv: Array[String]): Unit = {
    val runDir = java.nio.file.Paths.get(argv(0)).toAbsolutePath

    // --- generator: same seed, same feed
    val locs = Feed.locations(7L, 50)
    def lines(seed: Long) = (0L until 5000L).flatMap(i =>
      Feed.record(seed, Feed.locations(seed, 50), i).lines)
    check("generator output is identical for the same seed")(
      lines(7L) == lines(7L) && Feed.locations(7L, 50) == locs)
    check("generator output differs for another seed")(lines(7L) != lines(8L))
    def genFiles(tag: String): Seq[Array[Byte]] = {
      val d = runDir.resolve(tag)
      val g = new Feed.Generator(7L, locs, d.resolve("feed"),
        d.resolve("stage"), 1000L, 500, 20, new Feed.Injected)
      g.start()
      while (g.ticks < 3) Thread.sleep(5)
      g.requestStop(); g.join()
      (0 until 3).map(k => Files.readAllBytes(
        d.resolve("feed").resolve(f"live-$k%06d.json")))
    }
    check("generator thread writes the same ticks for the same seed")(
      genFiles("g1").zip(genFiles("g2")).forall { case (x, y) =>
        java.util.Arrays.equals(x, y) })
    val inj = new Feed.Injected
    (0L until 20000L).foreach(i => inj.add(Feed.record(3L, locs, i)))
    val shares = inj.shares.toMap
    check("generator injects every kind of dirt")(
      Seq("malformed", "duplicate", "sentinel_field", "padded_field",
        "null_field").forall(k => shares(k) > 0.0))
    check("uuid carries the record sequence number")(
      Feed.seqOf(Feed.uuid(5L, 123456L)) == 123456L)

    // --- percentile helper
    check("tail percentile keeps >= 10 samples beyond it")(
      Stats.tailPct(100).contains(90.0) && Stats.tailPct(99).contains(89.0) &&
        Stats.tailPct(1000).contains(99.0) &&
        Stats.tailPct(10000).contains(99.9) &&
        Stats.tailPct(9999).contains(99.0) &&
        Stats.tailPct(40).contains(75.0) && Stats.tailPct(39).contains(74.0) &&
        Stats.tailPct(30).contains(66.0) &&
        Stats.tailPct(20).contains(50.0) && Stats.tailPct(19).isEmpty)
    check("tail percentile picks the highest qualifying rank")(
      (10 to 20000 by 7).forall { n =>
        Stats.tailPct(n).forall { p =>
          Stats.samplesBeyond(n, p) >= 10 && Stats.Ladder.filter(_ > p)
            .forall(q => Stats.samplesBeyond(n, q) < 10) } })
    val xs = (1 to 100).map(_.toDouble)
    check("nearest-rank percentile and median")(
      Stats.pct(xs, 90) == 90.0 && Stats.median(xs) == 50.5 &&
        Stats.tail(xs) == (90.0, 90.0))

    // --- timing materializes the full result
    val spark = Main.session(runDir.resolve("spark"), 2)
    try {
      val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
      spark.listenerManager.register(new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          seen.add(f -> qe)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
      val df = spark.range(1000).select((col("id") * 7 % 101).as("x"))
        .orderBy(col("x").desc)
      Main.materialize(df)
      org.apache.spark.benchshim.Bus.drain(spark)
      val runs = seen.asScala.toSeq
      val plan = runs.headOption.map(r => Probe.nodes(r._2.executedPlan)
        .map(_.nodeName)).getOrElse(Nil)
      check("batch timing is a noop write, not count()")(
        runs.size == 1 && runs.head._1 != "count" &&
          runs.head._2.logical.toString.toLowerCase.contains("noop"))
      check("the timed write keeps the sort a count() would prune")(
        plan.exists(_.startsWith("Sort")))
      val d1 = Digest.check(df)
      val d2 = Digest.check(df.repartition(3))
      check("result digest ignores row order")(d1 == d2 && d1.rows == 1000)
      check("result digest sees a changed value")(
        Digest.check(df.limit(999)) != d1)
    } finally spark.stop()

    println(if (failures == 0) "selftest: all passed"
      else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
