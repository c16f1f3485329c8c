package graft

import java.nio.file.Files

import graft.covid.SparkTestSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-matrix coverage for `Tables`' timestamp normalization.
  *
  * The driver has shipped `events.ts` under three distinct parquet
  * annotations across rounds — TIMESTAMP(NANOS) (read as epoch-nanos long
  * under `nanosAsLong`), TIMESTAMP_LTZ, and TIMESTAMP_NTZ(micros). Round 9
  * proved that a shape missing from this matrix rots silently: the NTZ
  * drift broke three queries while `sbt test` stayed green. Every shape now
  * has an explicit fixture asserting that `Tables` yields session-TZ
  * TIMESTAMP with identical values.
  */
class TablesSpec extends AnyFunSuite with SparkTestSession {

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("tables-spec").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  // one reference instant, expressed as epoch micros (UTC session tz)
  private val micros = 1700000000123456L

  test("driver testdata events.ts loads as TIMESTAMP regardless of annotation") {
    val df = Tables(spark, "/root/testdata/sf0.001", "events")
    assert(df.schema("ts").dataType == TimestampType)
    // and the analysis paths that broke under NTZ now resolve
    df.select(unix_micros(col("ts"))).limit(1).collect()
    df.select(col("ts").cast(LongType)).limit(1).collect()
  }

  test("TIMESTAMP_NTZ events.ts normalizes to TIMESTAMP, values preserved") {
    val dir = tmpDir()
    import spark.implicits._
    Seq(micros).toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"),
        lit("d").as("device_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // precondition: the raw file really reads back NTZ
    assert(spark.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType == TimestampNTZType)
    val df = Tables(spark, dir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(unix_micros(col("ts"))).head().getLong(0) == micros)
  }

  test("TIMESTAMP_LTZ events.ts passes through unchanged") {
    val dir = tmpDir()
    import spark.implicits._
    Seq(micros).toDF("us")
      .select(timestamp_micros(col("us")).as("ts"), lit("d").as("device_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = Tables(spark, dir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(unix_micros(col("ts"))).head().getLong(0) == micros)
  }

  test("every query's analysis survives the LTZ and nanos-long events shapes") {
    // The driver testdata currently ships ONE shape (NTZ as of round 10),
    // so the ordinary suite no longer exercises the others. Rebuild the
    // events table in each alternate annotation inside a scratch dir —
    // all other tables symlinked to the real sf0.001 — and require every
    // QueryDef to still construct (analysis is where the round-9 breakage
    // surfaced; events-reading queries resolve ts-dependent expressions
    // here).
    import spark.implicits._
    val real = java.nio.file.Paths.get("/root/testdata/sf0.001")
    def scratchWith(writeEvents: String => Unit): String = {
      val dir = Files.createTempDirectory("shape-matrix")
      Tables.names.filterNot(_ == "events").foreach { n =>
        Files.createSymbolicLink(
          dir.resolve(s"$n.parquet"), real.resolve(s"$n.parquet"))
      }
      writeEvents(dir.toString)
      dir.toString
    }
    val base = Tables(spark, real.toString, "events").limit(50)
    val ltzDir = scratchWith { d =>
      base.write.parquet(s"$d/events.parquet") // TimestampType => LTZ
    }
    val longDir = scratchWith { d =>
      base.withColumn("ts", unix_micros(col("ts")) * 1000L)
        .write.parquet(s"$d/events.parquet") // the nanosAsLong read shape
    }
    for (dir <- Seq(ltzDir, longDir); (name, fn) <- graft.SparkEntry.queries)
      withClue(s"$name on $dir: ") { fn(spark, dir).schema }
  }

  test("metaCount distributed branch (>64 files) equals count()") {
    val dir = tmpDir()
    import spark.implicits._
    (0L until 5000L).toDF("doc_id")
      .repartition(100)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val n = Tables.metaCount(spark, dir, "documents", distributeAbove = 64)
    assert(n == 5000L)
    // and the driver-side branch agrees on the same table
    assert(Tables.metaCount(spark, dir, "documents",
      distributeAbove = 1000) == 5000L)
  }

  test("epoch-nanos long events.ts (the nanosAsLong read shape) truncates to micros") {
    // A real TIMESTAMP(NANOS) file reads as LongType epoch-nanos under
    // spark.sql.legacy.parquet.nanosAsLong=true; a plain long column is
    // byte-identical to that read, so it exercises the same branch.
    val dir = tmpDir()
    import spark.implicits._
    Seq(micros * 1000L + 789L).toDF("ts") // extra sub-micro nanos truncate
      .withColumn("device_id", lit("d"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = Tables(spark, dir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(unix_micros(col("ts"))).head().getLong(0) == micros)
  }

  /** The events fixtures above, by annotation: NTZ, LTZ and the
    * epoch-nanos long of the nanosAsLong read shape. */
  private def eventsFixtures(): Seq[String] = {
    import spark.implicits._
    val us = Seq(micros).toDF("us")
    Seq(
      timestamp_micros(col("us")).cast(TimestampNTZType),
      timestamp_micros(col("us")),
      col("us") * 1000L + 789L).map { ts =>
      val dir = tmpDir()
      us.select(ts.as("ts"), lit("d").as("device_id"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      s"$dir/events.parquet"
    }
  }

  /** A Spark-written table of 3 part files over nested, decimal, both
    * timestamp and char columns. Its schema comes from Spark's row
    * metadata; the sf0.001 tables carry none, so they take the converter
    * path. */
  private def wideTable(): String = {
    val dir = tmpDir() + "/wide"
    spark.sql(s"""CREATE TABLE tables_spec_wide (id BIGINT, s STRING,
      a ARRAY<INT>, m MAP<STRING, INT>, st STRUCT<x: INT, y: STRING>,
      d DECIMAL(20, 3), ts TIMESTAMP, tn TIMESTAMP_NTZ, c CHAR(5))
      USING parquet LOCATION '$dir'""")
    try spark.sql("""INSERT INTO tables_spec_wide
      SELECT /*+ REPARTITION(3) */ id, CAST(id AS STRING),
        array(CAST(id AS INT)), map('k', CAST(id AS INT)),
        named_struct('x', CAST(id AS INT), 'y', 'v'),
        CAST(id / 7 AS DECIMAL(20, 3)), timestamp_micros(id),
        CAST(timestamp_micros(id) AS TIMESTAMP_NTZ), 'ab'
      FROM range(30)""")
    finally spark.sql("DROP TABLE tables_spec_wide")
    dir
  }

  test("Tables.parquet reads the schema spark.read.parquet infers") {
    val wide = wideTable()
    assert(new java.io.File(wide).listFiles()
      .count(_.getName.startsWith("part-")) == 3)
    val paths = Tables.names.map(n => s"/root/testdata/sf0.001/$n.parquet") ++
      eventsFixtures() :+ wide
    for (p <- paths) withClue(s"$p: ") {
      val (df, jobs) = jobsOf(Tables.parquet(spark, p))
      assert(jobs == 0, "read through the footer, not the fallback")
      assert(df.schema == spark.read.parquet(p).schema)
    }
    // precondition: the footer carries Spark's row metadata
    val part = new java.io.File(wide).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.toURI),
        new org.apache.hadoop.conf.Configuration()))
    try assert(r.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.sql.parquet.row.metadata"))
    finally r.close()
  }

  /** `body`'s value and the Spark jobs started while it ran, counted up
    * to a fence job the listener bus delivers after every job `body`
    * started. */
  private def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("tables.spec.fence") != null)
          fenced.countDown()
        else { jobs.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val out = body
      sc.setLocalProperty("tables.spec.fence", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("tables.spec.fence", null)
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get())
    } finally sc.removeSparkListener(l)
  }

  test("a table read and an artifact hit build their DataFrame without a job") {
    val sf = "/root/testdata/sf0.001"
    assert(jobsOf(Tables(spark, sf, "lineitem"))._2 == 0)
    val store = tmpDir()
    sys.props("graft.paircache.dir") = store
    try {
      graft.operators.PairCache.pairStats(spark, sf) // computes, publishes
      assert(jobsOf(graft.operators.PairCache.pairStats(spark, sf))._2 == 0)
    } finally sys.props.remove("graft.paircache.dir")
  }

  test("Tables.parquet raises spark.read.parquet's error on a missing path " +
    "and an empty directory") {
    import org.apache.spark.sql.AnalysisException
    for (p <- Seq(tmpDir() + "/missing.parquet", tmpDir())) withClue(s"$p: ") {
      val want = intercept[AnalysisException](spark.read.parquet(p))
      val got = intercept[AnalysisException](Tables.parquet(spark, p))
      assert(got.getCondition == want.getCondition)
      assert(got.getMessage == want.getMessage)
    }
  }
}
