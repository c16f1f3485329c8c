package graft.covid

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end streaming replication of SURVEY §3-E1 without Kafka:
  * MemoryStream[String] → decode → foreachBatch routing → parquet sinks. */
class StreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("micro-batches route every branch to its sink table") {
    val input = MemoryStream[String](spark)
    val outDir = Files.createTempDirectory("covid-sink").toString
    val ckpt = Files.createTempDirectory("covid-ckpt").toString
    val query = Stream.run(Stream.decode(input.toDF()),
      BatchSink.parquet(outDir), ckpt)
    try {
      // batch 1: two locations, one duplicated (location, date) pair, one
      // hotspot
      input.addData(
        Fixture.record("uuid" -> "1", "location" -> "Egypt",
          "new_cases" -> "20000"),
        Fixture.record("uuid" -> "2", "location" -> "Egypt"), // dup key
        Fixture.record("uuid" -> "3", "location" -> "Kenya",
          "iso_code" -> "KEN"))
      query.processAllAvailable()
      // batch 2: next day for Egypt
      input.addData(
        Fixture.record("uuid" -> "4", "location" -> "Egypt",
          "date" -> "2021-03-02", "timestamp" -> "2021-03-02 12:00:00"))
      query.processAllAvailable()
    } finally query.stop()

    val realtime = spark.read.parquet(s"$outDir/covid_realtime_stats")
    // batch 1 dedups (Egypt, 2021-03-01); batch 2 appends the next day
    assert(realtime.count() == 3)
    val preds = spark.read.parquet(s"$outDir/covid_predictions")
    assert(preds.count() == 3)
    assert(preds.columns.contains("trend_direction"))
    val hot = spark.read.parquet(s"$outDir/covid_hotspots")
    assert(hot.count() == 1)
    val cont = spark.read.parquet(s"$outDir/continent_covid_stats")
    assert(cont.count() >= 1)
  }

  test("empty batches write nothing") {
    val input = MemoryStream[String](spark)
    val outDir = Files.createTempDirectory("covid-sink-empty").toString
    val ckpt = Files.createTempDirectory("covid-ckpt-empty").toString
    val query = Stream.run(Stream.decode(input.toDF()),
      BatchSink.parquet(outDir), ckpt)
    try query.processAllAvailable()
    finally query.stop()
    assert(!new java.io.File(s"$outDir/covid_realtime_stats").exists())
  }

  test("K3 producer payload is decode's exact inverse") {
    val src = Seq(Fixture.record("uuid" -> "1", "location" -> "Egypt"),
      Fixture.record("uuid" -> "2", "location" -> "Kenya",
        "total_cases" -> null))
    val df = Stream.decode(src.toDF("value"))
    val back = Stream.decode(Produce.kafkaPayload(df))
    assert(back.columns.toSeq == df.columns.toSeq)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
  }

  test("a poisoned batch is swallowed and the query survives") {
    val input = MemoryStream[String](spark)
    val ckpt = Files.createTempDirectory("covid-ckpt-bomb").toString
    // the branches call the sink from several threads at once
    val attempts = new AtomicInteger()
    val bomb: BatchSink = (_, _, _) => {
      attempts.incrementAndGet(); throw new RuntimeException("sink down")
    }
    val query = Stream.run(Stream.decode(input.toDF()), bomb, ckpt)
    try {
      input.addData(Fixture.record("uuid" -> "1"))
      query.processAllAvailable()
      input.addData(Fixture.record("uuid" -> "2", "date" -> "2021-03-02"))
      query.processAllAvailable()
      // both batches were attempted; neither error killed the query
      assert(attempts.get >= 2)
      assert(query.isActive)
    } finally query.stop()
  }

  test("a failing branch does not stop the other three branches") {
    val input = MemoryStream[String](spark)
    val outDir = Files.createTempDirectory("covid-sink-branch").toString
    val ckpt = Files.createTempDirectory("covid-ckpt-branch").toString
    val parquet = BatchSink.parquet(outDir)
    val flaky: BatchSink = (df, table, epochId) =>
      if (table == "covid_predictions")
        throw new RuntimeException("predictions sink down")
      else parquet.write(df, table, epochId)
    val query = Stream.run(Stream.decode(input.toDF()), flaky, ckpt,
      Trigger.ProcessingTime("100 milliseconds"))
    try {
      input.addData(
        Fixture.record("uuid" -> "1", "location" -> "Egypt",
          "new_cases" -> "20000"), // hotspot
        Fixture.record("uuid" -> "2", "location" -> "Kenya",
          "iso_code" -> "KEN"))
      query.processAllAvailable()
      assert(query.isActive)
    } finally query.stop()

    def rows(table: String) = spark.read.parquet(s"$outDir/$table").count()
    assert(rows("covid_realtime_stats") == 2)
    assert(rows("continent_covid_stats") >= 1)
    assert(rows("covid_hotspots") == 1)
    assert(!new java.io.File(s"$outDir/covid_predictions").exists())
  }

  test("every job of a micro-batch carries its query's id and job group") {
    // jobs between two marker jobs of this thread, in listener-bus order
    val marker = "graft.test.marker"
    val jobs = new ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.properties)
    }
    def mark(name: String): Unit = {
      spark.sparkContext.setLocalProperty(marker, name)
      try spark.range(1).collect()
      finally spark.sparkContext.setLocalProperty(marker, null)
      val until = System.nanoTime() + 30L * 1000000000L
      while (!jobs.asScala.exists(p => p.getProperty(marker) == name) &&
        System.nanoTime() < until) Thread.sleep(10)
    }
    val input = MemoryStream[String](spark)
    val outDir = Files.createTempDirectory("covid-sink-props").toString
    val ckpt = Files.createTempDirectory("covid-ckpt-props").toString
    spark.sparkContext.addSparkListener(listener)
    val query = Stream.run(Stream.decode(input.toDF()),
      BatchSink.parquet(outDir), ckpt,
      Trigger.ProcessingTime("100 milliseconds"))
    try {
      mark("start")
      input.addData(
        Fixture.record("uuid" -> "1", "location" -> "Egypt",
          "new_cases" -> "20000"),
        Fixture.record("uuid" -> "2", "location" -> "Kenya",
          "iso_code" -> "KEN"))
      query.processAllAvailable()
      mark("end")
    } finally {
      query.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
    val batchJobs = jobs.asScala.toSeq
      .dropWhile(_.getProperty(marker) != "start").drop(1)
      .takeWhile(_.getProperty(marker) != "end")
    // the job that builds the cleaned cache, and a write per branch
    assert(batchJobs.size >= 5, batchJobs.size)
    batchJobs.foreach { p =>
      assert(p.getProperty("sql.streaming.queryId") == query.id.toString)
      assert(p.getProperty("spark.jobGroup.id") == query.runId.toString)
    }
    assert(spark.read.parquet(s"$outDir/covid_hotspots").count() == 1)
  }

  test("rate limiting (T7): maxFilesPerTrigger=1 yields one file per batch") {
    import org.apache.spark.sql.DataFrame
    val dir = Files.createTempDirectory("csv-rate").toString
    val ckpt = Files.createTempDirectory("csv-rate-ckpt").toString
    val header = Schema.rawFieldNames.mkString(",")
    def row(u: String) = Seq(u, "Asia", "Egypt", "EGY", "2021-03-01",
      "2021-03-01 12:00:00", "1000", "100", "10", "1", "500", "1000000",
      "x", "x", "x", "x", "x", "x", "false").mkString(",")
    (1 to 3).foreach { i =>
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(dir, s"f$i.csv"), s"$header\n${row(s"u$i")}\n")
    }
    // batch twin reads all rows at once
    assert(Stream.csvSource(spark, dir).count() == 3)
    @volatile var batchSizes = List.empty[Long]
    val stream = spark.readStream
      .option("header", "true")
      .option("maxFilesPerTrigger", "1") // the file-source twin of Kafka's maxOffsetsPerTrigger
      .schema(Schema.raw)
      .csv(dir)
    val q = stream.writeStream
      .foreachBatch((df: DataFrame, _: Long) => {
        batchSizes = df.count() :: batchSizes; ()
      })
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(batchSizes.length == 3, s"expected 3 rate-limited batches, got $batchSizes")
    assert(batchSizes.forall(_ == 1L))
  }

  test("idempotent sink: replaying an epoch does not duplicate rows") {
    val outDir = Files.createTempDirectory("covid-sink-idem").toString
    val sink = BatchSink.idempotentParquet(outDir)
    val batch = Stream.decode(Seq(
      Fixture.record("uuid" -> "1", "location" -> "Egypt"),
      Fixture.record("uuid" -> "2", "location" -> "Kenya", "iso_code" -> "KEN"))
      .toDF("value"))
    // epoch 7 delivered twice (foreachBatch replay after a crash between
    // sink write and offset commit), then epoch 8 once
    Stream.processBatch(batch, 7L, sink)
    Stream.processBatch(batch, 7L, sink)
    Stream.processBatch(batch, 8L, sink)
    val rt = spark.read.parquet(s"$outDir/covid_realtime_stats")
    assert(rt.count() == 4) // 2 rows x 2 DISTINCT epochs, not x3 deliveries
    assert(rt.select("epoch").distinct().count() == 2)
  }

  test("corrupt JSON records survive decode as all-null rows, not failures") {
    // from_json is PERMISSIVE by default: a malformed payload yields a null
    // struct -> all-null columns after the flatten; the batch keeps flowing
    // (the reference's never-fail posture), and downstream dedup/cleaning
    // treats the row as empty rather than poisoning the query.
    val decoded = Stream.decode(Seq(
      Fixture.record("uuid" -> "ok"),
      """{"uuid": "half", "continent": }""", // malformed
      "not json at all").toDF("value"))
    val rows = decoded.collect()
    assert(rows.length == 3)
    assert(rows.count(r => r.getAs[String]("uuid") == null) == 2)
    assert(rows.exists(r => r.getAs[String]("uuid") == "ok"))
  }

  test("watermarked streaming continent aggregation emits closed windows") {
    val input = MemoryStream[String](spark)
    val agg = Stream.continentStatsStreaming(Stream.decode(input.toDF()))
    val query = agg.writeStream.format("memory")
      .queryName("continent_stream").outputMode("append").start()
    try {
      input.addData(
        Fixture.record("uuid" -> "1", "timestamp" -> "2021-03-01 12:01:00"),
        Fixture.record("uuid" -> "2", "timestamp" -> "2021-03-01 12:03:00"))
      query.processAllAvailable()
      // advance event time far beyond watermark so the 12:00 window closes
      input.addData(
        Fixture.record("uuid" -> "3", "timestamp" -> "2021-03-01 13:00:00"))
      query.processAllAvailable()
      input.addData(
        Fixture.record("uuid" -> "4", "timestamp" -> "2021-03-01 14:00:00"))
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT * FROM continent_stream ORDER BY continent_window_start")
        .collect()
      assert(rows.nonEmpty)
      assert(rows.head.getAs[java.sql.Timestamp]("continent_window_start")
        .toString.startsWith("2021-03-01 12:00:00"))
      assert(rows.head.getAs[Double]("continent_new_cases") == 200.0)
    } finally query.stop()
  }
}
