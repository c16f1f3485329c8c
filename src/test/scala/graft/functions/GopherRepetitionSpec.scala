package graft.functions

import graft.covid.SparkTestSession
import graft.operators.{Quality, RelationalGopher}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Native [[GopherRepetition]] (one pass per document) vs its executable
  * relational spec ([[RelationalGopher.profile]]: gram counts, a window
  * ranking, a running-max islands union and a prefix-sum join): value
  * equality of q151's whole profile over a randomized small-vocabulary
  * corpus, hand-computed islands / code-point / empty-token cases, null
  * handling, and whole-stage codegen. */
class GopherRepetitionSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val tops = Quality.TopNgramPct.map(_._1)
  private val dups = Quality.DupNgramPct.map(_._1)

  /** The nine numerators of one text, `tops ++ dups` order. */
  private def numerators(text: String): List[Long] =
    Seq(text).toDF("t")
      .select(GopherRepetition(col("t"), tops, dups).as("p"))
      .collect().head.getAs[scala.collection.Seq[Long]]("p").toList

  private def profiles(docs: Seq[(Long, String)]) = {
    val df = docs.toDF("doc_id", "text").repartition(4)
    (Quality.gopherProfile(df).orderBy("doc_id").collect().toSeq,
      RelationalGopher.profile(df).orderBy("doc_id").collect().toSeq)
  }

  test("randomized stress: 640 small-vocabulary docs profile exactly as " +
    "the relational spec (repeats, abutting islands, empty tokens, " +
    "non-BMP words)") {
    // empty words give leading, trailing and doubled spaces; "𝔸" is one
    // code point but two UTF-16 units
    val pool = Vector("a", "b", "cc", "dé", "𝔸x", "", "q", "longer")
    val rnd = new scala.util.Random(151)
    val docs = (0 until 640).map { id =>
      val vocab = rnd.shuffle(pool).take(2 + rnd.nextInt(6))
      id.toLong -> Seq.fill(1 + rnd.nextInt(60))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val (native, spec) = profiles(docs)
    assert(native.size == spec.size && native.size > 600)
    val bad = native.zip(spec).filter { case (a, b) => a != b }
    assert(bad.isEmpty, s"${bad.size} mismatches, first: ${bad.headOption}")
    // non-vacuous: the corpus exercises both verdicts and real coverage
    val keeps = native.map(_.getAs[Boolean]("gopher_keep"))
    assert(keeps.contains(true) && keeps.contains(false))
    assert(native.exists(_.getAs[Double]("dup10_frac") > 0.0))
  }

  test("abutting duplicated occurrences are two islands: " +
    "'p q r s t p q r s t' covers 18 chars at width 5, not 19") {
    val p = numerators("p q r s t p q r s t")
    assert(p(tops.size + dups.indexOf(5)) == 18L, p)
    // width 6+ grams are all unique here
    assert(p.drop(tops.size + 1).forall(_ == 0L), p)
    val (native, spec) = profiles(Seq(1L -> "p q r s t p q r s t"))
    assert(native == spec)
    assert(native.head.getAs[Double]("dup5_frac") == 18.0 / 19.0)
  }

  test("characters are code points: a non-BMP character counts once") {
    // top2: "𝔸 b" twice, 3 code points (4 UTF-16 units) -> 6, not 8
    val p = numerators("𝔸 b 𝔸 b")
    assert(p(tops.indexOf(2)) == 6L, p)
    val (native, spec) = profiles(Seq(1L -> "𝔸 b 𝔸 b"))
    assert(native == spec)
    assert(native.head.getAs[Long]("n_chars") == 7L)
  }

  test("leading and doubled spaces keep their empty tokens") {
    // words "", "a", "", "a": top2 gram " a" occurs twice (2 chars) -> 4;
    // top3 grams " a " and "a  a" tie at one occurrence, so the smaller
    // 60-bit md5 picks the width
    val p = numerators(" a  a")
    assert(p(tops.indexOf(2)) == 4L, p)
    val win = Seq(" a ", "a  a")
      .minBy(g => HashUtil.md5Hash60(UTF8String.fromString(g)))
    assert(p(tops.indexOf(3)) == win.length.toLong, p)
    // the one 4-gram is the whole text, leading space included
    assert(p(tops.indexOf(4)) == 5L, p)
    val docs = Seq(1L -> " a  a", 2L -> "x  y  x  y", 3L -> "  ",
      4L -> "a b")
    val (native, spec) = profiles(docs)
    assert(native == spec)
  }

  test("a width longer than the document gives 0; null text gives null") {
    // one bigram, "a b" (3 chars); no gram of width 3 or more
    assert(numerators("a b") == 3L :: List.fill(tops.size + dups.size - 1)(0L))
    assert(numerators("z").forall(_ == 0L))
    val r = Seq[Option[String]](None).toDF("t")
      .select(GopherRepetition(col("t"), tops, dups).as("p")).collect()
    assert(r.head.isNullAt(0))
  }

  test("expression participates in whole-stage codegen") {
    // repartition defeats ConvertToLocalRelation so a real stage is planned
    val df = Seq.tabulate(10)(i => s"doc $i doc $i doc").toDF("t")
      .repartition(2)
      .select(GopherRepetition(col("t"), tops, dups).as("p"))
    assert(df.collect().length == 10) // finalize the adaptive plan first
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[gopher_repetition.*"),
      plan)
  }

  test("gopherProfile evaluates the kernel once per document, not once " +
    "per profile column") {
    // 9 fractions + the keep verdict read the numerators: a collapsed
    // projection would re-run the kernel for each of those references
    val df = Quality.gopherProfile(Seq.tabulate(10)(i =>
      (i.toLong, s"doc $i doc $i doc")).toDF("doc_id", "text").repartition(2))
    assert(df.collect().length == 10)
    // the adaptive plan prints its final plan before the initial one
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("gopher_repetition\\(".r.findAllIn(plan).size == 1, plan)
  }
}
