package graft.operators

import graft.covid.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Covers the operators the DuckDB gate can't: sketch accuracy and CSV
  * source round-trip (SURVEY §2.1 S2). */
class ExtendedSpec extends AnyFunSuite with SparkTestSession {

  private val sfDir = "/root/testdata/sf0.001"

  test("q71: salted join result is identical to the plain unsalted join") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val salted = Extended.q71SaltedSkewJoin.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val li = graft.Tables(spark, sfDir, "lineitem")
    val sup = graft.Tables(spark, sfDir, "supplier")
    val nat = graft.Tables(spark, sfDir, "nation")
    val plain = li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(nat, col("n_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice")
          .cast(org.apache.spark.sql.types.DecimalType(30, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("revenue"))
      .orderBy(col("n_name")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("q39: within_bound true on real data and the HLL estimate really " +
    "is error-bounded within 5% of exact") {
    import org.apache.spark.sql.functions._
    val exact = graft.Tables(spark, sfDir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = Extended.q39ApproxDistinct.fn(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSet == exact.keySet)
    rows.foreach { r =>
      assert(r.getLong(2) == exact(r.getString(0)),
        s"group ${r.getString(0)} exact_users")
      assert(r.getBoolean(3), s"group ${r.getString(0)} out of bound")
    }
    // direct numeric assertion on the sketch q39 runs (the query hashes
    // only the boolean verdict; this pins the estimate itself)
    val approx = graft.Tables(spark, sfDir, "events")
      .groupBy(col("event_type"))
      .agg(Extended.userSketch(col("user_id")).as("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= math.max(1L, (n * 0.05).toLong),
        s"group $k: approx ${approx(k)} vs exact $n")
    }
  }

  test("q39's sketch stays within 3% of exact at 100k distinct per group") {
    import org.apache.spark.sql.functions._
    // DataSketches hashes with a fixed seed: the estimate is deterministic
    val est = spark.range(0, 300000)
      .groupBy((col("id") % 3).as("g"))
      .agg(Extended.userSketch(col("id")).as("a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.keySet == Set(0L, 1L, 2L))
    est.foreach { case (g, a) =>
      assert(math.abs(a - 100000L) <= 3000L, s"group $g: approx $a vs 100000")
    }
  }

  test("q39: no aggregate's buffer is wider than spark.sql.codegen.maxFields") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val df = Extended.q39ApproxDistinct.fn(spark, sfDir)
    df.collect() // settles the adaptive plan on its final stages
    val maxFields = spark.sessionState.conf.wholeStageMaxNumFields
    // the helper walks into AdaptiveSparkPlanExec's final plan and its
    // query stages, which a plain TreeNode walk stops at
    val widths = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) {
        case a: BaseAggregateExec => a.aggregateExpressions.map { e =>
          e.aggregateFunction.prettyName ->
            e.aggregateFunction.aggBufferAttributes.size
        }
      }.flatten
    assert(widths.nonEmpty, "no aggregate found in q39's plan")
    val wide = widths.filter(_._2 > maxFields)
    assert(wide.isEmpty, s"aggregation buffers wider than $maxFields fields: " +
      wide.distinct.map { case (f, n) => s"$f=$n" }.mkString(", "))
  }

  test("CSV source round-trips the events table with an explicit schema") {
    import org.apache.spark.sql.functions._
    val events = graft.Tables(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    val dir = java.nio.file.Files.createTempDirectory("csv-src").toString
    events.write.mode("overwrite").option("header", true).csv(dir)
    val back = spark.read
      .option("header", true)
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .csv(dir)
    assert(back.count() == events.count())
    val a = events.orderBy("event_id").collect()
    val b = back.orderBy("event_id").collect()
    assert(a.sameElements(b))
  }

  test("ORC source round-trips the events table") {
    import org.apache.spark.sql.functions._
    val events = graft.Tables(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    val dir = java.nio.file.Files.createTempDirectory("orc-src").toString
    events.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == events.schema) // ORC is self-describing incl. timestamps
    assert(back.orderBy("event_id").collect()
      .sameElements(events.orderBy("event_id").collect()))
  }

  test("JSON-lines source reads with an explicit schema (no inference scan)") {
    import org.apache.spark.sql.functions._
    val events = graft.Tables(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    val dir = java.nio.file.Files.createTempDirectory("json-src").toString
    events.write.mode("overwrite").json(dir)
    // explicit schema: a schema-less read would cost a full inference pass
    // over the data before the real scan — never acceptable at 100 TB
    val back = spark.read
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .json(dir)
    assert(back.orderBy("event_id").collect()
      .sameElements(events.orderBy("event_id").collect()))
  }
}
