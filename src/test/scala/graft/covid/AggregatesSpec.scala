package graft.covid

import org.scalatest.funsuite.AnyFunSuite

class AggregatesSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def cleaned(jsons: Seq[String]) =
    Clean.clean(Stream.decode(jsons.toDF("value")))

  test("continent stats bucket timestamps into 5-minute windows") {
    val js = Seq(
      Fixture.record("uuid" -> "1", "location" -> "Egypt",
        "timestamp" -> "2021-03-01 12:01:00", "new_cases" -> "10"),
      Fixture.record("uuid" -> "2", "location" -> "Kenya",
        "timestamp" -> "2021-03-01 12:03:00", "new_cases" -> "20"),
      Fixture.record("uuid" -> "3", "location" -> "Egypt",
        "timestamp" -> "2021-03-01 12:07:00", "new_cases" -> "40"))
    val out = Aggregates.continentStats(cleaned(js))
      .orderBy("continent_window_start").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("countries_count") == 2L)
    assert(out(0).getAs[Double]("continent_new_cases") == 30.0)
    assert(out(1).getAs[Double]("continent_new_cases") == 40.0)
    assert(out(0).getAs[java.sql.Timestamp]("continent_window_start")
      .toString.startsWith("2021-03-01 12:00:00"))
    // the groupBy keys alone make (window start, continent) a key
    val keys = out.map(r => (r.getAs[java.sql.Timestamp](
      "continent_window_start"), r.getAs[String]("continent")))
    assert(keys.distinct.length == keys.length)
  }

  test("hotspot predicate matches any of the three conditions") {
    val js = Seq(
      Fixture.record("uuid" -> "1", "location" -> "L1",
        "new_cases" -> "10001"), // cases branch
      Fixture.record("uuid" -> "2", "location" -> "L2",
        "total_cases" -> "1000", "total_deaths" -> "60"), // death_rate 0.06
      Fixture.record("uuid" -> "3", "location" -> "L3",
        "is_hotspot" -> "true"), // flag branch
      Fixture.record("uuid" -> "4", "location" -> "L4",
        "new_cases" -> "10000", "total_deaths" -> "0")) // none
    val out = Aggregates.hotspots(cleaned(js)).collect()
    assert(out.map(_.getAs[String]("location")).sorted.toSeq ==
      Seq("L1", "L2", "L3"))
  }

  test("hotspots dedup to first per (location, detected day)") {
    val js = Seq(
      Fixture.record("uuid" -> "1", "location" -> "L1",
        "is_hotspot" -> "true", "timestamp" -> "2021-03-01 10:00:00"),
      Fixture.record("uuid" -> "2", "location" -> "L1",
        "is_hotspot" -> "true", "timestamp" -> "2021-03-01 11:00:00"),
      Fixture.record("uuid" -> "3", "location" -> "L1",
        "is_hotspot" -> "true", "timestamp" -> "2021-03-02 10:00:00"))
    assert(Aggregates.hotspots(cleaned(js)).count() == 2)
  }

  test("dashboard summary aggregates per report date") {
    val js = Seq(
      Fixture.record("uuid" -> "1", "location" -> "L1",
        "total_cases" -> "100", "new_cases" -> "10",
        "is_hotspot" -> "true"),
      Fixture.record("uuid" -> "2", "location" -> "L2",
        "total_cases" -> "200", "new_cases" -> "20",
        "is_hotspot" -> "false"),
      Fixture.record("uuid" -> "3", "location" -> "L3",
        "timestamp" -> "2021-03-02 12:00:00", "total_cases" -> "7"))
    val out = Aggregates.dashboardSummary(cleaned(js))
      .orderBy("report_date").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("countries_count") == 2L)
    assert(out(0).getAs[Double]("global_total_cases") == 300.0)
    assert(out(0).getAs[Long]("hotspot_count") == 1L)
  }

  test("top affected keeps k rows by max total_cases") {
    val js = (1 to 5).map(i => Fixture.record(
      "uuid" -> s"$i", "location" -> s"L$i", "iso_code" -> s"I$i",
      "total_cases" -> (i * 100).toString))
    val out = Aggregates.topAffected(cleaned(js), 3).collect()
    assert(out.map(_.getAs[String]("location")).toSeq ==
      Seq("L5", "L4", "L3"))
  }

  test("country rankings assign rank by max cases") {
    val js = Seq(
      Fixture.record("uuid" -> "1", "location" -> "L1",
        "total_cases" -> "300"),
      Fixture.record("uuid" -> "2", "location" -> "L2",
        "total_cases" -> "500"),
      Fixture.record("uuid" -> "3", "location" -> "L2",
        "date" -> "2021-03-02", "total_cases" -> "100"))
    val out = Aggregates.countryRankings(cleaned(js))
      .orderBy("ranking_position").collect()
    assert(out(0).getAs[String]("location") == "L2")
    assert(out(0).getAs[Double]("max_cases_country") == 500.0)
    assert(out(0).getAs[Int]("ranking_position") == 1)
    assert(out(1).getAs[String]("location") == "L1")
  }
}
