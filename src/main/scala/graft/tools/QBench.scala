package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Dev-only: time a comma-separated list of queries (args(0)) at a given
  * SF dir (args(1), default sf0.1), N iterations (args(2), default 3),
  * printing every iteration — for isolating regressions the min-of-3
  * headline hides. Each run is timed to the query's full result (a noop
  * write): under `count()` the optimizer prunes every column the count
  * does not need, and with them a query's costliest aggregates.
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
    // per-iteration Spark JOB count — the trainer-loop budget diagnostic
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
      val fn = SparkEntry.queries(n)
      // warmup at smallest SF
      try toFullResult(fn(spark, "/root/testdata/sf0.001"))
      catch { case t: Throwable => println(s"warmup $n: ${t.getMessage}") }
      val runs = (1 to iters).map { _ =>
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        toFullResult(fn(spark, sfDir))
        ((System.nanoTime() - t0) / 1e9, jobs.get() - j0)
      }
      val times = runs.map(_._1)
      println(f"QBENCH $n: min=${times.min}%.3f jobs=${runs.last._2}" +
        " all=" + times.map(t => f"$t%.3f").mkString(","))
    }
    spark.stop()
  }
}
