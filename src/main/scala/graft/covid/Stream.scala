package graft.covid

import java.util.concurrent.{CompletableFuture, ExecutionException,
  ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Per-batch sink abstraction. The reference appends each branch to MySQL
  * over JDBC (covid_streaming.py:51-61); this build environment has neither
  * Kafka nor MySQL, so sinks are pluggable: JDBC in production, parquet in
  * tests — the routing logic is identical (SURVEY §7 hard parts).
  *
  * `write` may be called concurrently: [[Stream.processBatch]] runs its four
  * branches at the same time, so one epoch's tables are written from four
  * threads at once (never the same table twice at once). The built-ins are
  * stateless, and [[BatchSink.idempotentJdbc]] opens its own connection per
  * call.
  */
trait BatchSink extends Serializable {

  /** Append one branch's batch output to the named table. */
  def write(df: DataFrame, table: String, epochId: Long): Unit
}

object BatchSink {

  /** Production sink: JDBC append, mirroring write_to_mysql
    * (covid_streaming.py:51-61) including its swallow-and-log error posture
    * (a failed table write never fails the batch; SURVEY §3-E2). */
  def jdbc(url: String, options: Map[String, String]): BatchSink =
    (df, table, epochId) =>
      try
        df.write.mode(SaveMode.Append).format("jdbc")
          .option("url", url).options(options).option("dbtable", table)
          .save()
      catch {
        case e: Exception =>
          System.err.println(
            s"[covid-stream] batch $epochId sink $table failed: $e")
      }

  /** Test/dev sink: per-table parquet append under a directory. */
  def parquet(dir: String): BatchSink =
    (df, table, _) =>
      df.write.mode(SaveMode.Append).parquet(s"$dir/$table")

  /** Exactly-once sink: per-(table, epoch) directory OVERWRITE. foreachBatch
    * is at-least-once — after a failure between the write and the offset
    * commit, the same epochId is replayed. Plain append then duplicates the
    * batch (the reference's posture, K1); writing each epoch to its own
    * partition directory with overwrite makes the replay idempotent —
    * effective exactly-once end to end without any sink-side transaction.
    * Readers take `parquet(dir/table)` and see epoch as a partition column.
    * The same pattern works for any overwrite-capable store (JDBC:
    * DELETE WHERE epoch = ? + insert, in one transaction). */
  def idempotentParquet(dir: String): BatchSink =
    (df, table, epochId) =>
      df.write.mode(SaveMode.Overwrite)
        .parquet(s"$dir/$table/epoch=$epochId")

  /** The dialect-dependent statements of [[idempotentJdbc]], isolated so
    * both shapes are testable without the matching server on hand. */
  private[covid] final case class IdempotentSql(probe: String,
      create: String, delete: String, insert: String, drop: String)

  /** MySQL-family URL (`jdbc:mysql`, `jdbc:mariadb`) → backtick
    * identifiers + `CREATE TABLE … LIKE`; anything else speaks ANSI. */
  private[covid] def mysqlUrl(url: String): Boolean = {
    val u = url.toLowerCase(java.util.Locale.ROOT)
    u.startsWith("jdbc:mysql:") || u.startsWith("jdbc:mariadb:")
  }

  private[covid] def idempotentJdbcSql(table: String, stage: String,
      epochId: Long, mysql: Boolean): IdempotentSql = {
    // Spark's JDBC writer creates QUOTED (case-exact) columns, so the
    // epoch predicate must quote too — with the dialect's own quoting
    val epochCol = if (mysql) "`epoch`" else "\"epoch\""
    IdempotentSql(
      probe = s"SELECT 1 FROM $table WHERE 1=0",
      create =
        if (mysql) s"CREATE TABLE $table LIKE $stage"
        else s"CREATE TABLE $table AS SELECT * FROM $stage WITH NO DATA",
      delete = s"DELETE FROM $table WHERE $epochCol = $epochId",
      insert = s"INSERT INTO $table SELECT * FROM $stage",
      drop = s"DROP TABLE $stage")
  }

  /** Exactly-once JDBC sink — the keyed-upsert twin of
    * [[idempotentParquet]] for stores with transactions but no
    * per-partition overwrite. Per batch: (1) the rows land in a staging
    * table (`<table>_stage_<epoch>`, Spark JDBC overwrite — a replay
    * re-stages over its own leftovers), tagged with an `epoch` column;
    * (2) ONE sink-side transaction deletes the target's rows for that
    * epoch and inserts the staged rows. An at-least-once foreachBatch
    * replay of any epoch therefore converges to exactly the rows of its
    * last delivery — no duplicates, no partial batches (the transaction
    * is all-or-nothing).
    *
    * Dialect handling (the three statements that differ are isolated in
    * [[idempotentJdbcSql]]): the target-exists probe is DB-agnostic
    * (`SELECT 1 … WHERE 1=0` on the autocommit connection, before the
    * transaction opens — a metadata lookup would be identifier-folding
    * dependent: Derby folds unquoted names upper, Postgres lower);
    * table cloning and the epoch predicate switch on the JDBC URL —
    * `jdbc:mysql`/`jdbc:mariadb` get `CREATE TABLE … LIKE` + backticked
    * identifiers (MySQL's default sql_mode has no ANSI_QUOTES and no
    * `WITH NO DATA`; the reference's actual sink is MySQL,
    * init-db/init.sql:9), everything else gets ANSI `CREATE TABLE … AS
    * SELECT … WITH NO DATA` + double-quoted identifiers
    * (Derby/Postgres). On MySQL the CREATE DDL implicitly commits — the
    * delete+insert pair still runs in one transaction, so replay
    * convergence is unaffected (a created-then-crashed empty table is
    * just the exists=true path next time).
    *
    * Posture difference from [[jdbc]], deliberate: failures PROPAGATE.
    * The swallow-and-log sink mirrors the reference's at-least-once
    * fire-and-forget (covid_streaming.py:57-61); an exactly-once sink
    * that swallowed a failed write would commit the stream's offsets
    * past data that never landed — silent LOSS, strictly worse than the
    * duplicates it was bought to prevent. Let the batch fail and replay.
    *
    * `table` must not already carry an `epoch` column; identifiers are
    * trusted (they name the caller's own sink tables, as in the
    * reference's hardcoded table list). */
  def idempotentJdbc(url: String, options: Map[String, String]): BatchSink =
    (df, table, epochId) => {
      val stage = s"${table}_stage_$epochId"
      df.withColumn("epoch", org.apache.spark.sql.functions.lit(epochId))
        .write.mode(SaveMode.Overwrite).format("jdbc")
        .option("url", url).options(options).option("dbtable", stage)
        .save()
      val sql = idempotentJdbcSql(table, stage, epochId, mysqlUrl(url))
      val props = new java.util.Properties()
      options.foreach { case (k, v) => props.put(k, v) }
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        // DB-agnostic exists probe, on the AUTOCOMMIT connection: a
        // failed statement inside the upcoming transaction would abort
        // it on Postgres; out here it is just a boolean
        val exists = {
          val st = conn.createStatement()
          try {
            val rs = st.executeQuery(sql.probe)
            try true finally rs.close()
          } catch { case _: java.sql.SQLException => false }
          finally st.close()
        }
        try {
        conn.setAutoCommit(false)
        val st = conn.createStatement()
        try {
          if (!exists) st.executeUpdate(sql.create)
          st.executeUpdate(sql.delete)
          st.executeUpdate(sql.insert)
          conn.commit()
        } finally st.close()
        // best-effort staging cleanup OUTSIDE the transaction: a leftover
        // staging table is re-overwritten by the next replay, never read
        val st2 = conn.createStatement()
        try { st2.executeUpdate(sql.drop); conn.commit() }
        catch {
          case _: Exception =>
            try conn.rollback() catch { case _: Exception => () }
        } finally st2.close()
        } catch {
          // roll back the open transaction so close() doesn't mask the
          // real failure with "transaction still active" — the ORIGINAL
          // exception is what the replaying batch needs to see
          case e: Throwable =>
            try conn.rollback() catch { case _: Exception => () }
            throw e
        }
      } finally conn.close()
    }
}

/** Streaming wiring (covid_streaming.py:200-226): source → JSON decode →
  * foreachBatch(process) → sinks, with trigger + checkpoint. */
object Stream {

  /** Kafka streaming source declaration (covid_streaming.py:206-212).
    * Plan-only: nothing connects until the query starts.
    *
    * @param maxOffsetsPerTrigger rate limit (SURVEY §2.9-T7): caps records
    *   per micro-batch so a backlogged topic can't produce an unboundedly
    *   large first batch after downtime. The file-source twin is
    *   `maxFilesPerTrigger` (exercised in StreamSpec — no broker in env). */
  def kafkaSource(spark: SparkSession, bootstrapServers: String,
      topic: String, maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    val base = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("failOnDataLoss", "false")
    maxOffsetsPerTrigger.fold(base)(n =>
      base.option("maxOffsetsPerTrigger", n.toString)).load()
  }

  /** CSV file source with the reference's ingestion schema (S2,
    * covid_producer.py:26-31): header-skipping, all-string schema-on-read —
    * the batch twin of what the reference's producer reads before pushing
    * rows to Kafka. Use `spark.readStream.schema(Schema.raw).csv(dir)` for
    * the streaming variant (same schema object). */
  def csvSource(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(Schema.raw)
      .csv(path)

  /** JSON decode (S3, covid_streaming.py:214-217): value bytes → string →
    * struct → 19 flat columns. Works on any DataFrame with a `value`
    * column (Kafka binary or MemoryStream string alike). */
  def decode(raw: DataFrame): DataFrame =
    raw.selectExpr("CAST(value AS STRING) AS json")
      .select(from_json(col("json"), Schema.raw).as("data"))
      .select(col("data.*"))

  /** The per-batch DAG (process_batch, covid_streaming.py:111-198): clean →
    * {realtime dedup, predictions, continent stats, hotspots} → sink.
    *
    * Differences from the reference, all deliberate (SURVEY §4):
    *  - the cleaned batch is persisted once instead of recomputed for every
    *    one of the ~10 downstream actions, and built in full by the one job
    *    that also answers the emptiness guard;
    *  - emptiness guards use `df.isEmpty` (a lazy limit-1 probe), not
    *    `df.rdd.isEmpty()` which forces an RDD job per call;
    *  - the four branches run at the same time, one pool thread each, over
    *    the shared cleaned batch; a batch is mostly small single-task jobs,
    *    so run one after another they would leave all but one core idle.
    *    Each branch's jobs carry the micro-batch's local properties and SQL
    *    conf (query id, the job group `query.stop()` cancels, execution id).
    *    The batch ends when every branch has ended.
    */
  def processBatch(batch: DataFrame, epochId: Long, sink: BatchSink): Unit =
    // Swallow-and-log mirroring the reference's try/excepts
    // (covid_streaming.py:60-61, 107-109, 197-198): a failed branch logs and
    // the other branches still write; a failed batch logs and is skipped;
    // the streaming query never dies. NonFatal only — an OOM,
    // ControlThrowable or the interrupt of a stopping query still
    // propagates.
    try {
      val session = batch.sparkSession.asInstanceOf[classic.SparkSession]
      // builds `out` and writes it to `table`, unless `probe` finds it empty
      def branch(table: String, probe: Boolean)(out: => DataFrame) =
        SQLExecution.withThreadLocalCaptured(session, branchPool) {
          try {
            val df = out
            if (!probe || !df.isEmpty) sink.write(df, table, epochId)
          } catch {
            case NonFatal(e) => System.err.println(
              s"[covid-stream] batch $epochId branch $table failed: $e")
          }
        }
      val cleaned = Clean.clean(batch).persist()
      try {
        if (!materializedEmpty(cleaned)) {
          val realtime = cleaned.dropDuplicates(Seq("location", "date"))
          awaitAll(Seq(
            branch("covid_realtime_stats", probe = false)(realtime),
            branch("covid_predictions", probe = true)(
              Predict.predictFutureTrends(realtime)
                .dropDuplicates(Seq("location", "prediction_date"))),
            branch("continent_covid_stats", probe = true)(
              Aggregates.continentStats(cleaned)),
            branch("covid_hotspots", probe = true)(
              Aggregates.hotspots(cleaned))))
        }
      } finally cleaned.unpersist()
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[covid-stream] batch $epochId failed: $e")
    }

  /** Threads of the branch pool: one per [[processBatch]] branch. */
  private val BranchThreads = 4

  private lazy val branchPool: ExecutorService = {
    val n = new AtomicInteger()
    Executors.newFixedThreadPool(BranchThreads, (r: Runnable) => {
      val t = new Thread(r, s"covid-branch-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  /** Builds every partition of the persisted `df` in one job and says
    * whether it holds no row, so the branches only ever read the cache. */
  private def materializedEmpty(df: DataFrame): Boolean =
    df.queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(rows.hasNext))
      .collect().forall(!_)

  /** Waits for every branch. A branch's fatal error is rethrown; an
    * interrupt (the query is stopping) still waits for the branches, whose
    * jobs the stop cancels, and is then rethrown. */
  private def awaitAll(branches: Seq[CompletableFuture[Unit]]): Unit = {
    val all = CompletableFuture.allOf(branches: _*)
    try all.get()
    catch { case e: ExecutionException => throw e.getCause }
    finally all.exceptionally(_ => null).join()
  }

  /** Start the full pipeline on a decoded (19-column) streaming DataFrame.
    * Faithful trigger/checkpoint/outputMode wiring
    * (covid_streaming.py:219-224); tests pass Trigger.AvailableNow. */
  def run(parsed: DataFrame, sink: BatchSink, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds"))
      : StreamingQuery =
    parsed.writeStream
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id, sink))
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** The idiomatic streaming upgrade of the continent aggregation (SURVEY
    * §2.9-T4): a REAL watermark + windowed aggregation on the unbounded
    * stream — cross-batch state in the state store, late data beyond 10
    * minutes dropped — instead of the reference's per-batch no-op watermark.
    * Caller writes it with outputMode("append") once windows close. */
  def continentStatsStreaming(parsed: DataFrame): DataFrame =
    Clean.clean(parsed)
      .withWatermark("timestamp", "10 minutes")
      .groupBy(window(col("timestamp"), "5 minutes"), col("continent"))
      .agg(
        sum(col("new_cases")).as("continent_new_cases"),
        sum(col("new_deaths")).as("continent_new_deaths"),
        avg(col("death_rate")).as("continent_avg_death_rate"),
        approx_count_distinct(col("location")).as("countries_count"),
        sum(col("total_cases")).as("continent_total_cases"))
      .select(
        col("window.start").as("continent_window_start"),
        col("window.end").as("continent_window_end"),
        col("continent"), col("continent_new_cases"),
        col("continent_new_deaths"), col("continent_avg_death_rate"),
        col("countries_count"), col("continent_total_cases"))
}
