package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Dev-only: time a comma-separated list of queries (args(0)) at a given
  * SF dir (args(1), default sf0.1), N iterations (args(2), default 3).
  * Each iteration runs every listed query once, round-robin, so the
  * queries of one call are A/B'd in one JVM under the same host drift
  * (list a query and its variant side by side); every run is printed,
  * then each query's min and median. Each run is timed to the query's
  * full result (a noop write): under `count()` the optimizer prunes every
  * column the count does not need, and with them a query's costliest
  * aggregates.
  */
object QBench {
  private def toFullResult(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: QBench <q1[,q2,...]> [sfDir=/root/testdata/sf0.1] [iters=3]")
      sys.exit(2)
    }
    val names = args(0).split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(",")}\n" +
        s"valid: ${SparkEntry.queries.keys.toSeq.sorted.mkString(",")}")
      sys.exit(2)
    }
    val sfDir =
      if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // per-run Spark JOB count — the trainer-loop budget diagnostic
    // (a loop that schedules per-round actions shows up here long before
    // it shows up in wall-clock at test SFs)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      })
    names.foreach { n =>
      // warmup at smallest SF
      try toFullResult(SparkEntry.queries(n)(spark, "/root/testdata/sf0.001"))
      catch { case t: Throwable => println(s"warmup $n: ${t.getMessage}") }
    }
    val times = names.map(_ -> Vector.newBuilder[Double]).toMap
    (1 to iters).foreach { it =>
      names.foreach { n =>
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        toFullResult(SparkEntry.queries(n)(spark, sfDir))
        val s = (System.nanoTime() - t0) / 1e9
        times(n) += s
        println(f"QBENCH $n: iter=$it time=$s%.3f jobs=${jobs.get() - j0}")
      }
    }
    names.foreach { n =>
      val all = times(n).result()
      val ts = all.sorted
      val median =
        if (ts.size % 2 == 1) ts(ts.size / 2)
        else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2
      println(f"QBENCH $n: min=${ts.head}%.3f median=$median%.3f" +
        " all=" + all.map(t => f"$t%.3f").mkString(","))
    }
    spark.stop()
  }
}
