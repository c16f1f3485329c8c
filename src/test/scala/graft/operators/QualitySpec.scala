package graft.operators

import java.nio.file.Files

import graft.covid.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics + plan checks for the corpus-QA module (q112–q116) beyond the
  * DuckDB oracle gate: funnel attribution must partition the corpus,
  * fraction columns must be consistent with their integer numerators, and
  * q115 must actually detect an injected cross-split duplicate (the
  * sf* fixtures are leak-free, so the oracle only ever checks the
  * zero case there).
  */
class QualitySpec extends AnyFunSuite with SparkTestSession {

  private val sfDir = "/root/testdata/sf0.001"

  test("q112: rule drops partition the corpus (docs = drops + kept)") {
    val rows = Quality.q112QualityFunnel.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val docs = r.getAs[Long]("docs")
      val parts = Seq("drop_len", "drop_word_len", "drop_repetition",
        "drop_stopword", "kept").map(r.getAs[Long](_))
      assert(parts.sum == docs, s"source ${r.getString(0)}")
      assert(parts.forall(_ >= 0))
      assert(r.getAs[Long]("kept_tokens") >= r.getAs[Long]("kept"),
        "a kept doc has >= 10 tokens by rule R1")
    }
  }

  test("q153/q154 truncated score table honors Mirror.truncated's " +
    "narrow-per-doc contract (row width bound)") {
    // The per-doc score relation is checkpointed (one row per document)
    // — legal under the amended Mirror.truncated contract ONLY while it
    // stays a handful of fixed-width fields (never text/sets/vectors).
    // Pin the exact schema so a widened column fails here, not at scale.
    import org.apache.spark.sql.types._
    val (c2, c1, vDf) = Quality.lmRefCountsLazy(spark, sfDir)
    val sp = Quality.lmScoresV(
      graft.Tables(spark, sfDir, "documents"), c2, c1, vDf)
    val widths = sp.schema.fields.map { f =>
      f.dataType match {
        case LongType | IntegerType | DoubleType => 8
        case StringType => 64 // source labels: short enum-like strings
        case t => fail(s"score table carries non-narrow field " +
          s"${f.name}: ${t.catalogString} — Mirror.truncated's " +
          "narrow-per-doc contract forbids per-doc payloads")
      }
    }
    assert(sp.schema.fields.length <= 5 && widths.sum <= 128,
      s"score table row width grew: ${sp.schema.catalogString}")
  }

  test("q113: per-source fractions sum to 1 and drift ratio is consistent") {
    val rows = Quality.q113LengthDrift.fn(spark, sfDir).collect()
    val bySource = rows.groupBy(_.getString(0))
    bySource.foreach { case (src, rs) =>
      val fracSum = rs.map(_.getAs[Double]("src_frac")).sum
      assert(math.abs(fracSum - 1.0) < 1e-9, s"source $src")
    }
    rows.foreach { r =>
      val expect = r.getAs[Double]("src_frac") / r.getAs[Double]("corpus_frac")
      assert(r.getAs[Double]("drift_ratio") == expect)
    }
  }

  test("q114: norm stats ordered, dim constant on the fixture") {
    val rows = Quality.q114EmbeddingQa.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("dim_min") == r.getAs[Long]("dim_max"))
      val (lo, med, hi) = (r.getAs[Double]("norm_min"),
        r.getAs[Double]("norm_median"), r.getAs[Double]("norm_max"))
      assert(lo <= med && med <= hi)
      assert(r.getAs[Long]("zero_vecs") == 0)
    }
  }

  test("q115: detects an injected cross-split duplicate; clean pairs stay 0") {
    // Build a corpus where two doc_ids landing in DIFFERENT q53 splits
    // share identical text; everything else is unique.
    val dir = Files.createTempDirectory("quality-spec").toFile.getAbsolutePath
    import spark.implicits._
    val withSplit = (0L until 200L).toDF("doc_id")
      .withColumn("bucket",
        Mirror.hash60(col("doc_id").cast("string")) % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "valid").otherwise("test"))
      .collect().map(r => r.getLong(0) -> r.getString(2))
    val train = withSplit.collectFirst { case (id, "train") => id }.get
    val test_ = withSplit.collectFirst { case (id, "test") => id }.get
    withSplit.toSeq.toDF("doc_id", "split")
      .select(col("doc_id"),
        when(col("doc_id").isin(train, test_), lit("the same leaked text"))
          .otherwise(concat(lit("unique text "), col("doc_id"))).as("text"),
        lit("en").as("lang"), lit("src0").as("source"),
        lit(20).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Quality.q115SplitLeakage.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("leaked_fps"), r.getAs[Long]("docs_a"),
          r.getAs[Long]("docs_b"))).toMap
    assert(rows.size == 3, "every split pair reported, zeros explicit")
    assert(rows(("test", "train")) == ((1L, 1L, 1L)))
    assert(rows(("test", "valid")) == ((0L, 0L, 0L)))
    assert(rows(("train", "valid")) == ((0L, 0L, 0L)))
  }

  test("q115 plan: no cartesian product, leak join keyed on fingerprint") {
    val plan = Quality.q115SplitLeakage.fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "row-level pair enumeration must never appear")
  }

  test("q155/q156 plan: ONE corpus pass each — no join anywhere, exactly " +
    "one hash exchange (the tiny rollup), automaton inline in the scan " +
    "stage") {
    // the blocklist queries' whole point at 100 TB: the pattern set rides
    // the plan as a reference object, so the corpus pays one narrow pass
    // and one ≤patterns/sources-row shuffle — any Join or second hash
    // exchange means the shape regressed to per-pattern scanning
    Seq(Quality.q155Blocklist, Quality.q156BlocklistKeep).foreach { q =>
      val df = q.fn(spark, sfDir)
      df.collect() // finalize the adaptive plan
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("Join"), s"${q.name}: join-free expected\n$plan")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(hashEx == 1,
        s"${q.name}: one rollup exchange expected, got $hashEx\n$plan")
      assert(plan.contains("multi_match"), s"${q.name}\n$plan")
    }
  }

  test("q116: confusion matrix covers every doc exactly once") {
    val rows = Quality.q116LangidConfusion.fn(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("docs")).sum
    val nDocs = graft.Tables(spark, sfDir, "documents").count()
    assert(total == nDocs)
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val share = rs.map(_.getAs[Double]("lang_share")).sum
      assert(math.abs(share - 1.0) < 1e-9, s"lang $lang")
    }
  }

  /** Plain-Scala replica of q151's per-document profile: (n_chars,
    * top-mass per n, dup-coverage per n, keep). The interval union is an
    * independent formulation (a covered-position bitset, not islands). */
  private def gopherBrute(text: String)
      : (Long, Map[Int, Long], Map[Int, Long], Boolean) = {
    import org.apache.spark.unsafe.types.UTF8String
    // characters are code points, as in q151 (a non-BMP character is
    // one character, not two UTF-16 units)
    def chars(s: String): Long = s.codePointCount(0, s.length).toLong
    val w = text.split(" ", -1)
    val nChars = chars(text)
    val top = Quality.TopNgramPct.map { case (n, _) =>
      val gs =
        if (w.length >= n) w.sliding(n).map(_.mkString(" ")).toVector
        else Vector.empty[String]
      if (gs.isEmpty) n -> 0L
      else {
        val counts = gs.groupBy(identity).map { case (g, o) =>
          g -> o.size.toLong
        }
        val (g, c) = counts.minBy { case (g, c) =>
          (-c, graft.functions.HashUtil.md5Hash60(UTF8String.fromString(g)))
        }
        n -> c * chars(g)
      }
    }.toMap
    val dup = Quality.DupNgramPct.map { case (n, _) =>
      val gs =
        if (w.length >= n) w.sliding(n).map(_.mkString(" ")).toVector
        else Vector.empty[String]
      val counts = gs.groupBy(identity).map { case (g, o) => g -> o.size }
      // token p (1-based) is covered when a duplicated occurrence holds
      // it; the separator after token p only when ONE duplicated
      // occurrence holds both p and p + 1, so two abutting occurrences
      // stay two islands and the space between them is uncovered
      val covered = scala.collection.mutable.Set.empty[Int]
      val seps = scala.collection.mutable.Set.empty[Int]
      gs.zipWithIndex.foreach { case (g, i0) =>
        if (counts(g) >= 2) {
          (i0 + 1 to i0 + n).foreach(covered += _)
          (i0 + 1 until i0 + n).foreach(seps += _)
        }
      }
      n -> (covered.toSeq.map(p => chars(w(p - 1))).sum + seps.size)
    }.toMap
    val keep = Quality.TopNgramPct.forall { case (n, pct) =>
      top(n) * 100 <= pct * nChars
    } && Quality.DupNgramPct.forall { case (n, pct) =>
      dup(n) * 100 <= pct * nChars
    }
    (nChars, top, dup, keep)
  }

  private def q151Rows(dir: String) =
    Quality.q151GopherRepetition.fn(spark, dir).collect().map { r =>
      r.getLong(0) -> r
    }.toMap

  test("q151: crafted cases — overlapping duplicated n-gram occurrences " +
    "never double-count coverage, degenerate docs profile to zero, and a " +
    "pathological repeater is rejected") {
    import spark.implicits._
    val docs = Seq(
      // overlapping dup-5: "a a a a a" at pos 1 AND 2 -> union is tokens
      // 1..6 = 6 chars + 5 separators = 11, NOT 2 x 9 = 18
      (1L, "a a a a a a b1 c1 d1 e1 f1 g1 h1 i1 j1"),
      // pathological bigram repeater: top2 mass 3 x len("x y") = 9 of 13
      (2L, "x y x y x y z"),
      // clean: every gram unique, dup coverage 0 everywhere (long enough
      // that one top-4-gram occurrence sits under the 16% char bar)
      (3L, (1 to 100).map(i => s"u$i").mkString(" ")),
      // too short for any gram width
      (4L, "q"),
      // abutting duplicated 5-grams: two islands of 9 chars, the space
      // between them uncovered -> 18, not 19
      (5L, "p q r s t p q r s t"),
      // a non-BMP character is one character: n_chars 7, top2 mass
      // 2 x len("𝔸 b") = 6
      (6L, "𝔸 b 𝔸 b")
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("gopher").toFile
    tmp.deleteOnExit()
    docs.write.mode("overwrite")
      .parquet(new java.io.File(tmp, "documents.parquet").getPath)
    val rows = q151Rows(tmp.getPath)
    assert(rows.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))

    val d1 = rows(1L)
    val n1 = d1.getAs[Long]("n_chars").toDouble
    assert(d1.getAs[Double]("dup5_frac") == 11.0 / n1,
      s"overlap union must be 11 chars, frac ${d1.getAs[Double]("dup5_frac")}")
    val d2 = rows(2L)
    assert(d2.getAs[Double]("top2_frac") == 9.0 / 13.0)
    assert(!d2.getAs[Boolean]("gopher_keep"), "repeater must be rejected")
    val d3 = rows(3L)
    Quality.DupNgramPct.foreach { case (n, _) =>
      assert(d3.getAs[Double](s"dup${n}_frac") == 0.0, s"clean dup$n")
    }
    assert(d3.getAs[Boolean]("gopher_keep"))
    val d4 = rows(4L)
    assert(d4.getAs[Long]("n_chars") == 1L)
    Quality.TopNgramPct.foreach { case (n, _) =>
      assert(d4.getAs[Double](s"top${n}_frac") == 0.0, s"short top$n")
    }
    assert(d4.getAs[Boolean]("gopher_keep"))
    // the driver-side recount reads the same as q151 on both edge cases
    val (n5, _, dup5, _) = gopherBrute("p q r s t p q r s t")
    assert(dup5(5) == 18L && n5 == 19L, s"recount dup5 ${dup5(5)}")
    assert(rows(5L).getAs[Double]("dup5_frac") == 18.0 / 19.0)
    val (n6, top6, _, _) = gopherBrute("𝔸 b 𝔸 b")
    assert(n6 == 7L && top6(2) == 6L, s"recount n_chars $n6 top2 ${top6(2)}")
    assert(rows(6L).getAs[Long]("n_chars") == 7L)
    assert(rows(6L).getAs[Double]("top2_frac") == 6.0 / 7.0)
  }

  test("q151: every profile column equals an independent driver-side " +
    "recount over the full sf0.001 corpus (bitset coverage vs islands)") {
    val texts = graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val rows = q151Rows(sfDir)
    assert(rows.size == texts.length)
    texts.foreach { case (id, t) =>
      val (nChars, top, dup, keep) = gopherBrute(t)
      val r = rows(id)
      assert(r.getAs[Long]("n_chars") == nChars, s"doc $id n_chars")
      Quality.TopNgramPct.foreach { case (n, _) =>
        assert(r.getAs[Double](s"top${n}_frac") ==
          top(n).toDouble / nChars.toDouble, s"doc $id top$n")
      }
      Quality.DupNgramPct.foreach { case (n, _) =>
        assert(r.getAs[Double](s"dup${n}_frac") ==
          dup(n).toDouble / nChars.toDouble, s"doc $id dup$n")
      }
      assert(r.getAs[Boolean]("gopher_keep") == keep, s"doc $id keep")
    }
    // non-vacuous: the corpus must exercise BOTH verdicts
    val keeps = rows.values.map(_.getAs[Boolean]("gopher_keep")).toSeq
    assert(keeps.contains(true) && keeps.contains(false),
      "fixture must contain both kept and rejected documents")
  }

  test("q153: scores equal an independent driver-side LM replay (reference " +
    "slice from the q112 rules, add-one smoothing, integer ppm), buckets " +
    "follow the score-class thresholds, and thirds are ordered") {
    val docs = graft.Tables(spark, sfDir, "documents")
    val refIds = Quality.funnelMetrics(docs).filter(Quality.keepAll)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val texts = docs.select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // driver-side reference LM: bigram + prefix counts over ref docs only
    val c2 = scala.collection.mutable.Map.empty[String, Long]
    val c1 = scala.collection.mutable.Map.empty[String, Long]
    texts.filter(t => refIds.contains(t._1)).foreach { case (_, _, t) =>
      val w = t.split(" ", -1)
      if (w.length >= 2) w.sliding(2).foreach { bg =>
        c2(bg.mkString(" ")) = c2.getOrElse(bg.mkString(" "), 0L) + 1
        c1(bg(0)) = c1.getOrElse(bg(0), 0L) + 1
      }
    }
    val v = c1.size.toLong
    val wantScore = texts.flatMap { case (id, src, t) =>
      val w = t.split(" ", -1)
      if (w.length < 2) None
      else {
        val ppbs = w.sliding(2).map { bg =>
          (c2.getOrElse(bg.mkString(" "), 0L) + 1L) * 1000000000L /
            (c1.getOrElse(bg(0), 0L) + v)
        }.toSeq
        Some(id -> (src, ppbs.length.toLong,
          ppbs.sum / (ppbs.length * 1000L)))
      }
    }.toMap
    val rows = Quality.q153PerplexityBuckets.fn(spark, sfDir).collect()
    assert(rows.length == wantScore.size)
    rows.foreach { r =>
      val id = r.getLong(0)
      val (src, nb, ppm) = wantScore(id)
      assert(r.getString(1) == src, s"doc $id source")
      assert(r.getAs[Long]("n_bigrams") == nb, s"doc $id n_bigrams")
      assert(r.getAs[Long]("score_ppm") == ppm, s"doc $id score")
    }
    // bucket assignment replay: per source, score classes descending
    rows.groupBy(_.getString(1)).foreach { case (src, rs) =>
      val n = rs.length.toLong
      val byScore = rs.groupBy(_.getAs[Long]("score_ppm")).toSeq
        .sortBy(-_._1)
      var cum = 0L
      byScore.foreach { case (score, members) =>
        val c = members.length.toLong
        cum += c
        val want =
          if (cum * 3 <= n) "head"
          else if ((cum - c) * 3 >= 2 * n) "tail"
          else "middle"
        members.foreach(m => assert(m.getString(4) == want,
          s"source $src score $score: ${m.getString(4)} != $want"))
      }
      // thirds are ordered and every bucket is populated at this SF
      def scoresOf(b: String) =
        rs.filter(_.getString(4) == b).map(_.getAs[Long]("score_ppm"))
      val (h, m, t) = (scoresOf("head"), scoresOf("middle"), scoresOf("tail"))
      assert(h.nonEmpty && m.nonEmpty && t.nonEmpty, s"source $src buckets")
      assert(h.min >= m.max && m.min >= t.max, s"source $src ordering")
    }
    // the reference slice is a strict, non-trivial subset (the filter
    // actually filters — otherwise this is q69 with extra steps)
    assert(refIds.nonEmpty && refIds.size < texts.length)
  }

  test("narrowVerdicts equals the join-based verdict computation") {
    // the fused one-scan block must be row-identical to the original
    // three-join form on every doc, including rule-edge docs (too-short,
    // all-stopword, blocklisted)
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val got = Quality.narrowVerdicts(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))
      .toMap
    val base = docs.select(col("doc_id"), col("source"),
      org.apache.spark.sql.functions.size(
        graft.operators.Mirror.words(col("text"))).cast("long")
        .as("n_tokens"))
    val want = base
      .join(Quality.funnelMetrics(docs)
        .select(col("doc_id"), Quality.keepAll.as("f1")), Seq("doc_id"))
      .join(Quality.blockHits(docs)
        .select(col("doc_id"),
          (aggregate(col("counts"), lit(0L), (a, x) => a + x) === 0L)
            .as("f3")), Seq("doc_id"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))
      .toMap
    assert(got.size == want.size && got == want)
    // both verdicts are non-vacuous on the fixture (each flag fires
    // somewhere, each passes somewhere)
    assert(got.values.exists(_._3) && got.values.exists(!_._3))
    assert(got.values.exists(_._4) && got.values.exists(!_._4))
  }
}
