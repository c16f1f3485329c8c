package graft.covid

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** BatchSink.jdbc against a REAL JDBC database: embedded Derby (in-memory,
  * in-process — shipped with Spark, no network), standing in for the
  * reference's MySQL sink (covid_streaming.py:51-61, init-db/init.sql:9-90).
  * The parquet twins prove routing; this proves the actual JDBC write path:
  * Spark's dialect mapping, table auto-creation, append semantics, and
  * read-back fidelity through java.sql end to end. */
class JdbcSinkSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("streaming pipeline appends all four sink tables through real JDBC") {
    // keep derby.log out of the repo root
    System.setProperty("derby.system.home",
      Files.createTempDirectory("derby-home").toString)
    val url = "jdbc:derby:memory:graft_sink;create=true"
    val input = MemoryStream[String](spark)
    val ckpt = Files.createTempDirectory("covid-ckpt-jdbc").toString
    val query = Stream.run(Stream.decode(input.toDF()),
      BatchSink.jdbc(url, Map.empty), ckpt)
    try {
      // same fixture as the parquet-twin test: a dup key, a hotspot row,
      // then a second batch appending the next day (exercises JDBC append
      // into an EXISTING table, not just auto-creation)
      input.addData(
        Fixture.record("uuid" -> "1", "location" -> "Egypt",
          "new_cases" -> "20000"),
        Fixture.record("uuid" -> "2", "location" -> "Egypt"), // dup key
        Fixture.record("uuid" -> "3", "location" -> "Kenya",
          "iso_code" -> "KEN"))
      query.processAllAvailable()
      input.addData(
        Fixture.record("uuid" -> "4", "location" -> "Egypt",
          "date" -> "2021-03-02", "timestamp" -> "2021-03-02 12:00:00"))
      query.processAllAvailable()
    } finally query.stop()

    def table(name: String) =
      spark.read.format("jdbc").option("url", url)
        .option("dbtable", name).load()
    val realtime = table("covid_realtime_stats")
    assert(realtime.count() == 3) // batch-1 dedup + batch-2 append
    // values survive the dialect round-trip (string→CLOB→string etc.)
    assert(realtime.select("location").collect().map(_.getString(0)).toSet ==
      Set("Egypt", "Kenya"))
    val preds = table("covid_predictions")
    assert(preds.count() == 3)
    assert(preds.columns.contains("trend_direction"))
    val hot = table("covid_hotspots")
    assert(hot.count() == 1)
    assert(table("continent_covid_stats").count() >= 1)
  }

  test("idempotentJdbc: at-least-once redelivery converges to exactly " +
    "one copy per epoch — the keyed-upsert exactly-once path") {
    System.setProperty("derby.system.home",
      Files.createTempDirectory("derby-home-idem").toString)
    val url = "jdbc:derby:memory:graft_idem;create=true"
    val sink = BatchSink.idempotentJdbc(url, Map.empty)
    def table() =
      spark.read.format("jdbc").option("url", url)
        .option("dbtable", "t_idem").load()

    val batch0 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    sink.write(batch0, "t_idem", 0L)
    assert(table().count() == 2)
    // redelivery of the SAME epoch (foreachBatch replay after a failure
    // between write and offset commit): plain append would duplicate —
    // the keyed upsert must converge, not grow
    sink.write(batch0, "t_idem", 0L)
    assert(table().count() == 2, "epoch-0 replay duplicated rows")
    // a replay may even carry DIFFERENT rows (source re-read after
    // compaction): the epoch's content is replaced wholesale
    sink.write(Seq((9L, "z")).toDF("id", "s"), "t_idem", 0L)
    val after = table().collect().map(r => (r.getLong(0), r.getString(1)))
    assert(after.toSet == Set((9L, "z")), s"epoch-0 not replaced: " +
      after.mkString(","))
    // a NEW epoch appends next to the old one
    sink.write(Seq((3L, "c")).toDF("id", "s"), "t_idem", 1L)
    assert(table().count() == 2)
    assert(table().select("epoch").collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L))
    // staging tables are cleaned up
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "T_IDEM_STAGE_%", null)
      try assert(!rs.next(), "staging table left behind") finally rs.close()
    } finally conn.close()
  }

  test("idempotentJdbc: four tables of one epoch written at once, as " +
    "processBatch's branches do, each converge to exactly their rows") {
    System.setProperty("derby.system.home",
      Files.createTempDirectory("derby-home-conc").toString)
    val url = "jdbc:derby:memory:graft_conc;create=true"
    val sink = BatchSink.idempotentJdbc(url, Map.empty)
    val tables = Seq("covid_realtime_stats", "covid_predictions",
      "continent_covid_stats", "covid_hotspots")
    def rowsOf(i: Int) = (0 to i).map(j => (i * 10L + j, tables(i)))
    def writeAllAtOnce(): Unit = {
      val start = new java.util.concurrent.CountDownLatch(1)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = tables.indices.map { i =>
        val t = new Thread(() =>
          try {
            start.await()
            sink.write(rowsOf(i).toDF("id", "s"), tables(i), 5L)
          } catch { case e: Throwable => failures.add(e) })
        t.start()
        t
      }
      start.countDown()
      threads.foreach(_.join())
      assert(failures.isEmpty, failures)
    }
    // first delivery creates the four targets concurrently; the
    // redelivery replaces each epoch through the exists=true path
    writeAllAtOnce()
    writeAllAtOnce()
    tables.indices.foreach { i =>
      val got = spark.read.format("jdbc").option("url", url)
        .option("dbtable", tables(i)).load()
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(got.toSet == rowsOf(i).map { case (id, s) => (id, s, 5L) }.toSet
        && got.length == i + 1, s"${tables(i)}: ${got.mkString(",")}")
    }
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%STAGE%", null)
      try assert(!rs.next(), "staging table left behind") finally rs.close()
    } finally conn.close()
  }

  test("idempotentJdbc PROPAGATES failures (no silent loss) — the " +
    "posture difference from the swallow-and-log reference sink") {
    val sink = BatchSink.idempotentJdbc(
      "jdbc:derby:/nonexistent/path/db", Map.empty)
    intercept[Exception] {
      sink.write(Seq((1L, "x")).toDF("id", "s"), "t", 0L)
    }
  }

  test("jdbc sink keeps the reference's swallow-and-log posture on failure") {
    import spark.implicits._
    // unreachable database: the write must log and return, never throw
    // (covid_streaming.py:57-61 catches per-table exceptions)
    val sink = BatchSink.jdbc("jdbc:derby:/nonexistent/path/db", Map.empty)
    sink.write(Seq((1L, "x")).toDF("id", "s"), "t", 0L) // must not throw
  }

  test("idempotentJdbc dialect split: MySQL-family URLs get LIKE + " +
    "backticks, everything else ANSI WITH NO DATA + double quotes") {
    assert(BatchSink.mysqlUrl("jdbc:mysql://db:3306/covid"))
    assert(BatchSink.mysqlUrl("JDBC:MariaDB://db/covid"))
    assert(!BatchSink.mysqlUrl("jdbc:derby:memory:x"))
    assert(!BatchSink.mysqlUrl("jdbc:postgresql://db/covid"))

    val my = BatchSink.idempotentJdbcSql("t", "t_stage_7", 7L,
      mysql = true)
    // MySQL default sql_mode: no ANSI_QUOTES, no WITH NO DATA — the
    // clone must be CREATE TABLE ... LIKE and the predicate backticked
    assert(my.create == "CREATE TABLE t LIKE t_stage_7")
    assert(my.delete == "DELETE FROM t WHERE `epoch` = 7")
    assert(!my.create.contains("WITH NO DATA"))
    assert(!my.delete.contains("\""))

    val ansi = BatchSink.idempotentJdbcSql("t", "t_stage_7", 7L,
      mysql = false)
    assert(ansi.create ==
      "CREATE TABLE t AS SELECT * FROM t_stage_7 WITH NO DATA")
    assert(ansi.delete == "DELETE FROM t WHERE \"epoch\" = 7")
    // shared, dialect-free statements
    Seq(my, ansi).foreach { s =>
      assert(s.probe == "SELECT 1 FROM t WHERE 1=0")
      assert(s.insert == "INSERT INTO t SELECT * FROM t_stage_7")
      assert(s.drop == "DROP TABLE t_stage_7")
    }
  }

  test("idempotentJdbc exists probe is identifier-folding agnostic: " +
    "replay against a pre-created MIXED-case target on Derby") {
    import spark.implicits._
    // Derby folds unquoted identifiers UPPER; the old getTables(upper)
    // lookup worked only by that accident (Postgres folds lower). The
    // probe must see the table regardless, so replay takes the
    // exists=true path instead of failing a duplicate CREATE.
    val dbDir = java.nio.file.Files.createTempDirectory("derbyprobe")
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val sink = BatchSink.idempotentJdbc(url, Map.empty)
    sink.write(Seq((1L, "a")).toDF("id", "s"), "t_probe", 0L)
    // redelivery of the SAME epoch with different rows: converges to
    // the last delivery through the exists=true path
    sink.write(Seq((2L, "b")).toDF("id", "s"), "t_probe", 0L)
    val got = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "t_probe").load()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((2L, "b")), got)
  }
}
