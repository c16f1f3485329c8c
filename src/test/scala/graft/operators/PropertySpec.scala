package graft.operators

import graft.covid.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants over randomized inputs (ScalaCheck generators
  * with fixed seeds — deterministic CI, fresh structure every property).
  * Each property pits a distributed operator against an independent
  * driver-side model implementation. */
class PropertySpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("cappedPairs equals brute-force pairs whenever buckets fit the cap") {
    val gen = Gen.listOfN(120,
      Gen.zip(Gen.choose(0, 8), Gen.choose(0L, 60L)))
    (1 to 5).foreach { i =>
      val rows = sample(gen, 100 + i).map { case (b, id) => (s"b$b", id) }
      val df = rows.toDF("b", "id")
      // random input has duplicate (bucket, id) rows — opt into the
      // distinct-items contract (pipeline callers guarantee uniqueness
      // upstream instead)
      val got = Buckets.cappedPairs(df, Seq("b"), "id", s"prop_cap_$i",
          distinctItems = true)
        .select(col("p.a"), col("p.b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // driver-side model: distinct ids per bucket, cap to the MaxBucket
      // smallest, all ascending pairs
      val want = rows.groupBy(_._1).values.flatMap { members =>
        val ids = members.map(_._2).distinct.sorted.take(Buckets.MaxBucket)
        for {
          a <- ids; b <- ids if a < b
        } yield (a, b)
      }.toSet
      assert(got == want, s"case $i")
    }
  }

  test("let1 is semantically transparent: binding never changes values, " +
    "including nested HOF references") {
    val gen = Gen.listOfN(60, Gen.listOf(Gen.choose(-50L, 50L)))
    (1 to 5).foreach { i =>
      val rows = sample(gen, 300 + i).zipWithIndex
        .map { case (xs, id) => (id.toLong, xs) }
      val df = rows.toDF("id", "xs")
      // body references the bound array three times, once inside a
      // nested lambda — the pattern let1 exists for (q120's window-min)
      def body(a: org.apache.spark.sql.Column) =
        when(size(a) > 0,
          transform(a, x => x * size(a)).getItem(0) + element_at(a, -1))
          .otherwise(lit(-999L))
      val bound = df.select(col("id"),
          Mirror.let1(col("xs"))(body).as("v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val direct = df.select(col("id"), body(col("xs")).as("v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bound == direct, s"case $i")
    }
  }

  test("connectedComponents equals driver-side union-find on random graphs") {
    val gen = Gen.listOfN(80,
      Gen.zip(Gen.choose(0L, 49L), Gen.choose(0L, 49L)))
    (1 to 5).foreach { i =>
      val raw = sample(gen, 200 + i).collect {
        case (a, b) if a != b => (math.min(a, b), math.max(a, b))
      }.distinct
      if (raw.nonEmpty) {
        // driver-side model: union-find, component = min member id
        val want = CcModel.components(raw)
        val edges = raw.toDF("a", "b")
        // the default bound finishes these graphs on the driver; bound 0
        // sends them through the label rounds and the quotient finish
        assert(CcModel.collect(Corpus.connectedComponents(edges, "a", "b"))
          == want, s"case $i")
        assert(CcModel.collect(
          Corpus.connectedComponents(edges, "a", "b", 0L)) == want,
          s"case $i, bound 0")
      }
    }
  }

  test("decimal-partial sums are bit-identical under any repartitioning") {
    val gen = Gen.listOfN(400,
      Gen.zip(Gen.choose(0, 4),
        Gen.choose(-99999999L, 99999999L).map(_ / 100.0)))
    (1 to 3).foreach { i =>
      val rows = sample(gen, 300 + i).map { case (k, v) => (s"k$k", v) }
      val df = rows.toDF("k", "v")
      def agg(d: org.apache.spark.sql.DataFrame) =
        d.groupBy(col("k")).agg(Exact.dsum(col("v")).as("s"))
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val base = agg(df)
      assert(agg(df.repartition(17)) == base, s"case $i repartition(17)")
      assert(agg(df.repartition(1)) == base, s"case $i repartition(1)")
      assert(agg(df.repartition(64, col("v"))) == base, s"case $i by-value")
    }
  }

  test("url_canon never throws and is idempotent on arbitrary byte soup, " +
    "and url_host is always a substring of a parseable canon") {
    // crawl-shaped garbage: random printable soup, plus soup grafted onto
    // URL-ish skeletons so the parser's every branch sees hostile input
    val soup = Gen.listOf(Gen.frequency(
      (8, Gen.alphaNumChar),
      (4, Gen.oneOf(':', '/', '?', '#', '@', '&', '=', '%', '.', '~')),
      (1, Gen.choose(' ', 'ÿ')))).map(_.mkString)
    val urlish = for {
      scheme <- Gen.oneOf("http", "HTTPS", "ftp", "x", "", "1h")
      body <- soup
    } yield s"$scheme://$body"
    val gen = Gen.listOfN(200, Gen.oneOf(soup, urlish))
    (1 to 5).foreach { i =>
      sample(gen, 500 + i).foreach { s =>
        val c = graft.functions.UrlCanonUtil.canonString(s) // must not throw
        assert(graft.functions.UrlCanonUtil.canonString(c) == c,
          s"not idempotent on '$s' -> '$c'")
        val h = graft.functions.UrlCanonUtil.hostString(s)
        if (h.nonEmpty) assert(c.contains(h),
          s"host '$h' must appear in canon '$c' of '$s'")
        else assert(c == s,
          s"unparseable input must pass through unchanged: '$s' -> '$c'")
        // the §6.2.2 opt-in form: same never-throw + idempotence bars,
        // over the same hostile domain ('%' is in the soup alphabet, so
        // truncated/malformed escapes are well covered)
        val cp = graft.functions.UrlCanonUtil.canonString(s, pctNorm = true)
        assert(graft.functions.UrlCanonUtil.canonString(cp, pctNorm = true)
          == cp, s"pct-canon not idempotent on '$s' -> '$cp'")
        val pn = graft.functions.UrlCanonUtil.pctNormalize(s)
        assert(graft.functions.UrlCanonUtil.pctNormalize(pn) == pn,
          s"pctNormalize not idempotent on '$s' -> '$pn'")
      }
    }
  }
}
