package graft.operators

import graft.covid.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-management operators: properties the DuckDB hash-compare can't
  * express — graph-shape cases for connected components, packing
  * invariants, metric ranges, sample determinism, scrub completeness. */
class CorpusSpec extends AnyFunSuite with SparkTestSession {

  private val sfDir = "/root/testdata/sf0.001"
  private val sf01Dir = "/root/testdata/sf0.01"

  test("connectedComponents: chains collapse to min label (multi-iteration)") {
    import spark.implicits._
    // diameter-4 chain (forces >= 3 propagation rounds), a triangle with a
    // bridge, and a disjoint pair — min-label must win across the whole
    // component, not just direct neighbors
    val edges = Seq(
      (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), // chain 2-…-6
      (20L, 21L), (21L, 22L), (20L, 22L), (22L, 30L), // triangle + bridge
      (40L, 41L)).toDF("a", "b")
    val comp = Corpus.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(2L, 3L, 4L, 5L, 6L).forall(comp(_) == 2L), comp)
    assert(Seq(20L, 21L, 22L, 30L).forall(comp(_) == 20L), comp)
    assert(comp(40L) == 40L && comp(41L) == 40L, comp)
    assert(comp.size == 11)
  }

  /** Every `rdd-*` checkpoint directory under `dir`. */
  private def rddDirs(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten.filter(_.isDirectory).flatMap(c =>
      if (c.getName.startsWith("rdd-")) Seq(c) else rddDirs(c))

  test("connectedComponents: reliable-checkpoint mode matches local mode") {
    import spark.implicits._
    val edges = Seq(
      (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (40L, 41L)).toDF("a", "b")
    val base = CcModel.collect(Corpus.connectedComponents(edges, "a", "b"))
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ck").toFile
    spark.conf.set("spark.graft.cc.checkpointDir", dir.toString)
    try {
      val rel = CcModel.collect(Corpus.connectedComponents(edges, "a", "b"))
      assert(rel == base)
      // the pair truncation wrote a reliable checkpoint into the directory
      // (cluster fault tolerance: lineage recoverable from storage, not
      // from lost executor blocks)
      assert(rddDirs(dir).nonEmpty, s"no checkpoints in $dir")
      // at bound 0 the label rounds (and the quotient's star finish)
      // truncate through the same store: one checkpoint per truncation —
      // the pairs, the initial labels, each round and each star step
      val before = rddDirs(dir).size
      val run = CcModel.run(Corpus.connectedComponents(edges, "a", "b", 0L))
      assert(run.comp == base)
      assert(run.labelRounds > 0, run)
      assert(rddDirs(dir).size - before ==
        2 + run.labelRounds + run.starTruncations, run)
    } finally spark.conf.unset("spark.graft.cc.checkpointDir")
  }

  test("one checkpoint subdirectory for a CC run and a rank query") {
    import spark.implicits._
    val edges = (1L until 20L).map(i => (i, i + 1)).toDF("a", "b")
    val dir = java.nio.file.Files.createTempDirectory("graft-ck-once").toFile
    spark.conf.set("spark.graft.cc.checkpointDir", dir.toString)
    try {
      val run = CcModel.run(Corpus.connectedComponents(edges, "a", "b", 0L))
      assert(run.comp.values.forall(_ == 1L), run)
      Graph.q132Pagerank.fn(spark, sfDir).collect()
      val subdirs = Option(dir.listFiles).toSeq.flatten.filter(_.isDirectory)
      assert(subdirs.size == 1, subdirs.map(_.getName))
      assert(rddDirs(dir).size > 2, "the truncations wrote elsewhere")
    } finally spark.conf.unset("spark.graft.cc.checkpointDir")
  }

  test("connectedComponents: max-rounds guard fails loudly, not silently") {
    import spark.implicits._
    // diameter-5 chain needs ~4 propagation rounds. With a 1-round budget
    // the label loop hands off a still-deep quotient; the DEFAULT bound
    // solves it exactly with the bounded driver union-find (no unbounded
    // looping possible), while the forced-distributed path (bound 0)
    // must abort with a diagnosable error instead of looping or
    // truncating.
    val chain = Seq((2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
      .toDF("a", "b")
    spark.conf.set("spark.graft.cc.maxRounds", "1")
    try {
      val comp = CcModel.collect(Corpus.connectedComponents(chain, "a", "b"))
      assert((2L to 7L).forall(comp(_) == 2L), comp.toSeq.sorted)
      val e = intercept[IllegalStateException] {
        Corpus.connectedComponents(chain, "a", "b", 0L).count()
      }
      assert(e.getMessage.contains("maxRounds"), e.getMessage)
    } finally spark.conf.unset("spark.graft.cc.maxRounds")
  }

  test("cc: driver finish, quotient star finish and star contraction agree") {
    import spark.implicits._
    // chain deeper than AutoLabelBudget, a triangle with a bridge, a
    // disjoint pair, and a hub star — the shapes where a contraction bug
    // would diverge from plain propagation
    val list = Seq(
      (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L),
      (8L, 9L), (9L, 10L),
      (20L, 21L), (21L, 22L), (20L, 22L), (22L, 30L),
      (40L, 41L),
      (50L, 51L), (50L, 52L), (50L, 53L), (50L, 54L))
    val edges = list.toDF("a", "b")
    val want = CcModel.components(list)
    assert(Seq(2L, 5L, 8L, 10L).forall(want(_) == 2L))
    val level0 = CcModel.run(Corpus.connectedComponents(edges, "a", "b"))
    assert(level0.tier == CcModel.Level0Driver && level0.comp == want)
    val deep = CcModel.run(Corpus.connectedComponents(edges, "a", "b", 0L))
    assert(deep.tier == CcModel.QuotientStar && deep.comp == want, deep)
    assert(CcModel.collect(Corpus.starComponents(edges, "a", "b")) == want)
  }

  test("cc: at bound 0 a shallow graph converges inside the label budget") {
    import spark.implicits._
    // every vertex within two hops of its component min: two label rounds
    // settle it and the third sees no change
    val list = Seq(
      (2L, 3L), (3L, 4L),
      (20L, 21L), (21L, 22L), (20L, 22L), (22L, 30L),
      (40L, 41L),
      (50L, 51L), (50L, 52L), (50L, 53L), (50L, 54L))
    val edges = list.toDF("a", "b")
    val want = CcModel.components(list)
    val run = CcModel.run(Corpus.connectedComponents(edges, "a", "b", 0L))
    assert(run.tier == CcModel.LabelConverged && run.comp == want, run)
    assert(CcModel.collect(Corpus.starComponents(edges, "a", "b")) == want)
  }

  test("cc: a deep chain's quotient under the bound finishes on the driver") {
    import spark.implicits._
    // 80 pairs: a 31-vertex chain and ten 5-leaf stars. Four label rounds
    // collapse every star and shorten the chain to a 26-edge quotient, so
    // a bound of 40 skips the level-0 finish (80 > 40) and takes the
    // quotient's (26 <= 40)
    val chain = (100L until 130L).map(i => (i, i + 1))
    val stars = for (h <- 0 until 10; l <- 1 to 5)
      yield (1000L + 10L * h, 1000L + 10L * h + l)
    val list = chain ++ stars
    val edges = list.toDF("a", "b")
    val want = CcModel.components(list)
    val run = CcModel.run(Corpus.connectedComponents(edges, "a", "b", 40L))
    assert(run.tier == CcModel.QuotientDriver && run.comp == want, run)
    assert(run.labelRounds == 4, run)
    assert(CcModel.collect(Corpus.starComponents(edges, "a", "b")) == want)
  }

  test("cc: a quotient star finish closes a chain the label budget cannot") {
    import spark.implicits._
    // depth-120 chain: label propagation needs 119 rounds (one per hop);
    // star contraction roughly halves chain length per cycle, so a
    // 12-cycle budget is ample for 4 label rounds + star on the quotient
    // — the round-count asymmetry that matters on a 1000-executor
    // cluster where every round is a scheduled stage
    val list = (1L until 120L).map(i => (i, i + 1))
    val chain = list.toDF("a", "b")
    val want = CcModel.components(list)
    assert(want.size == 120 && want.values.forall(_ == 1L))
    spark.conf.set("spark.graft.cc.maxRounds", "12")
    try {
      assert(CcModel.collect(Corpus.connectedComponents(chain, "a", "b")) ==
        want)
      val run = CcModel.run(Corpus.connectedComponents(chain, "a", "b", 0L))
      assert(run.tier == CcModel.QuotientStar && run.comp == want, run)
      assert(CcModel.collect(Corpus.starComponents(chain, "a", "b")) == want)
    } finally spark.conf.unset("spark.graft.cc.maxRounds")
  }

  test("q59: partitions the corpus; survivors are component minima") {
    val rows = Corpus.q59DedupComponents.fn(spark, sfDir).collect()
    val n = graft.Tables(spark, sfDir, "documents").count()
    assert(rows.length == n) // every doc appears exactly once
    val byComp = rows.groupBy(_.getLong(1))
    byComp.foreach { case (comp, members) =>
      assert(members.map(_.getLong(0)).min == comp) // component = min doc_id
      assert(members.count(_.getBoolean(3)) == 1) // exactly one survivor
      assert(members.forall(_.getLong(2) == members.length)) // comp_size
    }
  }

  test("q60: packing is shard-local, contiguous, and budget-aligned") {
    val rows = Corpus.q60PackSequences.fn(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))) // source, doc, n_tok, cum, seq, off
    rows.groupBy(_._1).foreach { case (_, docs) =>
      val sorted = docs.sortBy(_._2)
      // running sum consistency and first-doc anchoring
      var cum = 0L
      sorted.foreach { case (_, _, nTok, cumTok, seqId, off) =>
        assert(cumTok == cum + nTok)
        assert(seqId == cum / 256 && off == cum - seqId * 256)
        assert(off >= 0 && off < 256)
        cum = cumTok
      }
      // seq ids start at 0 and never decrease within a shard
      assert(sorted.head._5 == 0L)
      assert(sorted.map(_._5).sliding(2).forall(s =>
        s.length < 2 || s(0) <= s(1)))
    }
  }

  test("q61: fractions in range, keep matches thresholds, both classes occur") {
    val rows = Corpus.q61RepetitionMetrics.fn(spark, sf01Dir).collect()
    rows.foreach { r =>
      val (dw, tw, ds) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(dw > 0 && dw <= 1.0 && tw > 0 && tw <= 1.0 && ds >= 0 && ds < 1.0)
      assert(tw >= 1.0 / r.getLong(1)) // top word occurs at least once
      assert(r.getBoolean(5) == (tw <= 0.12 && ds <= 0.05))
    }
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)),
      "thresholds must be non-vacuous on the fixture")
  }

  test("q62: contaminated docs are train-split members with bounded overlap") {
    val rows = Corpus.q62Contamination.fn(spark, sf01Dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // n_shared <= n_sh
      assert(r.getDouble(3) >= 0.5 && r.getDouble(3) <= 1.0)
    }
  }

  test("q63: exactly min(k, stratum) rows per stratum, rerun-stable") {
    val once = Corpus.q63StratifiedSample.fn(spark, sfDir).collect()
    val strata = graft.Tables(spark, sfDir, "documents")
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    once.groupBy(_.getString(1)).foreach { case (lang, rs) =>
      assert(rs.length == math.min(20L, strata(lang)), lang)
    }
    val again = Corpus.q63StratifiedSample.fn(spark, sfDir).collect()
    assert(once.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("q65: scrubbed output carries no digits; counts are non-vacuous") {
    val rows = Corpus.q65PiiScrub.fn(spark, sfDir).collect()
    rows.foreach { r =>
      assert(!r.getString(4).exists(_.isDigit), r.getString(4))
    }
    assert(rows.map(_.getLong(3)).sum > 0) // digit runs were found+counted
  }

  test("q66: copy counts bounded by the weight range, both tails occur") {
    val rows = Corpus.q66MixtureResample.fn(spark, sf01Dir).collect()
    val perDoc = rows.groupBy(_.getLong(0))
    perDoc.foreach { case (_, copies) =>
      val n = copies.head.getLong(2)
      assert(n >= 1 && n <= 3) // weights are 0.5x-2.5x => 0..3 copies
      assert(copies.map(_.getLong(3)).sorted.toSeq == (1L to n)) // 1..n ids
    }
    val nDocs = graft.Tables(spark, sf01Dir, "documents").count()
    assert(perDoc.size < nDocs, "some docs must be dropped (weight < 1)")
    assert(rows.length > nDocs.toInt / 2, "resample keeps a real fraction")
    assert(perDoc.values.exists(_.length >= 2), "some docs must replicate")
  }

  test("q67: order statistics match a brute-force sort per group") {
    val got = Corpus.q67ExactPercentiles.fn(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val vals = graft.Tables(spark, sfDir, "events")
      .select(col("event_type"), col("value"), col("event_id")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .groupBy(_._1)
    vals.foreach { case (et, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3)).map(_._2)
      val n = sorted.length.toLong
      def pick(num: Long, den: Long) =
        sorted(((n * num + den - 1) / den).toInt - 1)
      val (gn, p50, p90, p99) = got(et)
      assert(gn == n)
      assert(p50 == pick(1, 2) && p90 == pick(9, 10) && p99 == pick(99, 100))
      assert(p50 <= p90 && p90 <= p99)
    }
  }

  test("q69: per-doc bigram count and LM score are consistent and in range") {
    val docs = graft.Tables(spark, sf01Dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("nw"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Corpus.q69BigramLm.fn(spark, sf01Dir).collect()
    assert(rows.length == docs.count(_._2 >= 2))
    rows.foreach { r =>
      val (id, nBi, avgP) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(nBi == docs(id) - 1, s"doc $id: $nBi bigrams for ${docs(id)} words")
      // each term is c2/c1 with c2 <= c1 (a bigram occurs at most as often
      // as its prefix), so the mean sits in (0, 1]
      assert(avgP > 0.0 && avgP <= 1.0, s"doc $id: avg_p $avgP")
    }
    // corpus text is natural-ish, not uniform: scores must spread
    val ps = rows.map(_.getDouble(2))
    assert(ps.max > ps.min)
  }

  test("q72: incremental matches are true cross-split near-dups") {
    val bucketOf = graft.Tables(spark, sf01Dir, "documents")
      .select(col("doc_id"),
        (Mirror.hash60(col("doc_id").cast(
          org.apache.spark.sql.types.StringType)) % 100).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = Dedup.q72IncrementalDedup.fn(spark, sf01Dir)
      .collect()
    assert(out.nonEmpty) // fixture has cross-split duplicate chains
    out.foreach { r =>
      val (newId, baseId, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(bucketOf(newId) >= 90, s"new $newId not in the new batch")
      assert(bucketOf(baseId) < 90, s"match $baseId not in the base corpus")
      assert(j >= 0.5 && j <= 1.0, s"jaccard $j out of range")
    }
    // one row per matched new doc (best-match selection is exact)
    assert(out.map(_.getLong(0)).distinct.length == out.length)
  }

  test("q73: semantic clusters partition the corpus with min-id survivors") {
    val rows = Dedup.q73SemanticDedup.fn(spark, sf01Dir).collect()
    val n = graft.Tables(spark, sf01Dir, "embeddings").count()
    assert(rows.length == n) // every vector classified exactly once
    val byComp = rows.groupBy(_.getLong(2))
    byComp.foreach { case (comp, members) =>
      assert(members.map(_.getLong(0)).min == comp) // component = min vec_id
      assert(members.count(_.getBoolean(3)) == 1) // exactly one survivor
    }
    // the fixture contains semantic duplicates — the operator must find some
    assert(rows.count(r => !r.getBoolean(3)) > 0)
  }

  test("q78: gate verdicts are consistent with the standalone queries") {
    val rows = Corpus.q78TrainCorpus.fn(spark, sf01Dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getString(5), r.getBoolean(6)))
    assert(rows.length ==
      graft.Tables(spark, sf01Dir, "documents").count())
    rows.foreach { case (id, bucket, surv, repKeep, contam, reason, keep) =>
      assert(keep == (reason == "kept"), s"doc $id")
      val expected =
        if (bucket >= 80) "holdout"
        else if (!surv) "duplicate"
        else if (!repKeep) "repetitive"
        else if (contam) "contaminated"
        else "kept"
      assert(reason == expected, s"doc $id")
    }
    // cross-check each gate against its standalone query
    val nonSurv = Corpus.q59DedupComponents.fn(spark, sf01Dir).collect()
      .filter(!_.getBoolean(3)).map(_.getLong(0)).toSet
    assert(rows.filter(r => !r._3).map(_._1).toSet == nonSurv)
    val repDrop = Corpus.q61RepetitionMetrics.fn(spark, sf01Dir).collect()
      .filter(!_.getBoolean(5)).map(_.getLong(0)).toSet
    assert(rows.filter(r => !r._4).map(_._1).toSet == repDrop)
    val contamIds = Corpus.q62Contamination.fn(spark, sf01Dir).collect()
      .map(_.getLong(0)).toSet
    assert(rows.filter(_._5).map(_._1).toSet == contamIds)
    // every reason occurs in the fixture — each gate is exercised
    assert(rows.map(_._6).toSet ==
      Set("kept", "holdout", "repetitive", "duplicate", "contaminated"))
  }

  test("q82: span counts match a driver-side recount; short docs drop out") {
    val texts = graft.Tables(spark, sf01Dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def spans(t: String): Seq[String] = {
      val w = t.split(" ", -1)
      if (w.length >= 8) w.sliding(8).map(_.mkString(" ")).toSeq
      else Seq.empty
    }
    val perDoc = texts.map { case (id, t) => id -> spans(t) }
    val docFreq = perDoc
      .flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.length).toMap
    val want = perDoc.collect { case (id, ss) if ss.nonEmpty =>
      id -> ((ss.length.toLong,
        ss.count(s => docFreq(s) >= 2).toLong))
    }.toMap
    val got = Corpus.q82SpanDedup.fn(spark, sf01Dir).collect()
    assert(got.length == want.size)
    got.foreach { r =>
      val (id, n, dup, frac) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert((n, dup) == want(id), s"doc $id: got ($n,$dup)")
      assert(frac == dup.toDouble / n.toDouble && frac >= 0.0 && frac <= 1.0)
    }
    // fixture contains real copied spans — the metric must be non-vacuous
    assert(got.exists(_.getLong(2) > 0) && got.exists(_.getLong(2) == 0))
  }

  test("q143: maximal repeated-substring spans equal a brute-force merge — " +
    "crafted cross-doc/within-doc cases, then the full sf0.001 corpus") {
    import spark.implicits._
    // crafted (SpanN = 8): d1/d2 share a 10-token run, d3 repeats its own
    // 8-token run at two positions, d4 is clean, d5 is too short to shingle
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val rep = (1 to 8).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 a5 $shared b1 b2 b3 b4 b5"),
      (2L, s"c1 c2 c3 c4 c5 c6 c7 $shared e1 e2 e3"),
      (3L, s"$rep f1 f2 f3 f4 $rep"),
      (4L, (1 to 20).map(i => s"u$i").mkString(" ")),
      (5L, (1 to 7).map(i => s"v$i").mkString(" "))
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("subspan").toFile
    tmp.deleteOnExit()
    docs.write.mode("overwrite")
      .parquet(new java.io.File(tmp, "documents.parquet").getPath)
    val crafted = Corpus.q143SubstringSpans.fn(spark, tmp.getPath).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(crafted == Seq(
      (1L, 6L, 15L, 10L), // the shared run, exactly, in d1…
      (2L, 8L, 17L, 10L), // …and at its shifted position in d2
      (3L, 1L, 8L, 8L), (3L, 13L, 20L, 8L)), // within-doc repeat: two spans
      s"crafted spans: ${crafted.mkString(";")}")

    // brute force over the real corpus: count EVERY 8-gram occurrence
    // corpus-wide, mark positions with count >= 2, merge adjacent runs
    val texts = graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    def grams(t: String): Array[String] = {
      val w = t.split(" ", -1)
      if (w.length >= 8) w.sliding(8).map(_.mkString(" ")).toArray
      else Array.empty[String]
    }
    val perDoc = texts.map { case (id, t) => id -> grams(t) }
    val occ = scala.collection.mutable.Map.empty[String, Int]
    perDoc.foreach(_._2.foreach(g => occ(g) = occ.getOrElse(g, 0) + 1))
    val want = perDoc.flatMap { case (id, gs) =>
      val dupPos = gs.zipWithIndex.collect {
        case (g, i) if occ(g) >= 2 => (i + 1).toLong
      }
      // merge consecutive positions into maximal runs
      dupPos.foldLeft(List.empty[(Long, Long)]) {
        case ((a, b) :: tail, p) if p == b + 1 => (a, p) :: tail
        case (acc, p) => (p, p) :: acc
      }.reverse.map { case (a, b) => (id, a, b + 7L, b + 8L - a) }
    }
    val got = Corpus.q143SubstringSpans.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want.sortBy(t => (t._1, t._2)),
      s"got ${got.size} spans, want ${want.size}")
    // non-vacuous: the fixture contains real copied text
    assert(got.nonEmpty && got.exists(_._4 > 8L),
      "fixture must yield merged (>8-token) repeated spans")
  }

  test("pii regexes agree between Java and the oracle on crafted cases") {
    import spark.implicits._
    val cases = Seq(
      "reach me at a.b+c@ex-ample.org or 10.0.0.1",
      "no pii here", "1.2.3.4.5", "v1.2 costs 30",
      "x@y.zz 999.999.999.999").toDF("props")
    val got = cases.select(
      regexp_replace(regexp_replace(regexp_replace(col("props"),
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
        "[0-9]+", "<NUM>").as("s")).as[String].collect()
    assert(got(0) == "reach me at <EMAIL> or <IP>")
    assert(got(1) == "no pii here")
    // 1.2.3.4.5: \b…\b still matches the leading 4 octets (RE2 and Java
    // agree: '.' is not a word char, so the boundary sits before '5')
    assert(got(2) == "<IP>.<NUM>")
    assert(got(3) == "v<NUM>.<NUM> costs <NUM>")
    assert(got(4) == "<EMAIL> <IP>")
  }

  test("q140: components never straddle splits, the naive policy " +
    "provably leaks, and the split accounting closes") {
    val rows = Corpus.q140LeakageSplit.fn(spark, sfDir).collect()
    assert(rows.map(_.getAs[String]("split")).sorted.toSeq ==
      Seq("test", "train", "val"))
    // leakage-free by construction; the naive contrast is non-vacuous
    rows.foreach(r => assert(r.getAs[Long]("leak_pairs") == 0L))
    assert(rows.map(_.getAs[Long]("naive_leak_pairs")).sum > 0,
      "fixture: naive split must tear at least one near-dup pair")
    // accounting: split doc counts partition the corpus
    val total = graft.Tables(spark, sfDir, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    // independent check: every duplicate component lands in ONE split
    val comp = Corpus.connectedComponents(
      Dedup.nearDupPairs(spark, sfDir), "doc_a", "doc_b")
      .collect().map(r => r.getAs[Long]("v") -> r.getAs[Long]("component"))
    val md = java.security.MessageDigest.getInstance("MD5")
    def splitOf(key: Long): Long = {
      val hex = md.digest(key.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 10
    }
    // members inherit the COMPONENT's hash bucket, so unanimity within a
    // cluster holds by construction; what needs evidence is that the
    // corpus contains a multi-doc component whose members' PER-DOC
    // buckets differ — the exact situation the naive policy tears apart
    assert(comp.groupBy(_._2).exists { case (_, members) =>
      members.length > 1 &&
        members.map(m => splitOf(m._1)).distinct.length > 1
    }, "fixture: no multi-doc component with differing per-doc buckets")
  }

  test("q152: contamination spans match a crafted cross-split copy and a " +
    "brute-force recount over sf0.001 (train-side coverage of held-out " +
    "8-grams, islands merged)") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    def bucket(id: Long): Long = {
      val h = graft.functions.HashUtil.md5Hash60(
        UTF8String.fromString(id.toString))
      ((h % 100) + 100) % 100
    }
    // crafted: a train doc copies a 10-token phrase from an eval doc;
    // pick ids by their actual hash buckets so the split is the operator's
    val trainId = (1L to 500L).find(bucket(_) < 80).get
    val evalId = (1L to 500L).find(bucket(_) >= 90).get
    val cleanId = (1L to 500L).filter(bucket(_) < 80)(1)
    val phrase = (1 to 10).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (trainId, s"t1 t2 t3 $phrase t4 t5"),
      (evalId, s"e1 e2 $phrase e3"),
      (cleanId, (1 to 20).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("contamspan").toFile
    tmp.deleteOnExit()
    docs.write.mode("overwrite")
      .parquet(new java.io.File(tmp, "documents.parquet").getPath)
    val crafted = Corpus.q152ContamSpans.fn(spark, tmp.getPath).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the copied phrase spans train positions 4..13: its 8-gram starts are
    // 4,5,6 -> one merged island (4, 13, 10). The eval doc itself must NOT
    // be reported (only train-side rows are scanned for coverage).
    assert(crafted.toSeq == Seq((trainId, 4L, 13L, 10L)),
      s"crafted: ${crafted.mkString(";")} (train=$trainId eval=$evalId)")

    // brute force over the real corpus
    val texts = graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def grams(t: String): Array[String] = {
      val w = t.split(" ", -1)
      if (w.length >= 8) w.sliding(8).map(_.mkString(" ")).toArray
      else Array.empty[String]
    }
    val evalSet = texts.filter { case (id, _) => bucket(id) >= 90 }
      .flatMap { case (_, t) => grams(t) }.toSet
    val want = texts.filter { case (id, _) => bucket(id) < 80 }
      .flatMap { case (id, t) =>
        val dupPos = grams(t).zipWithIndex.collect {
          case (g, i) if evalSet.contains(g) => (i + 1).toLong
        }
        dupPos.foldLeft(List.empty[(Long, Long)]) {
          case ((a, b) :: tail, p) if p == b + 1 => (a, p) :: tail
          case (acc, p) => (p, p) :: acc
        }.reverse.map { case (a, b) => (id, a, b + 7L, b + 8L - a) }
      }.sortBy(t => (t._1, t._2)).toSeq
    val got = Corpus.q152ContamSpans.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want, s"got ${got.size} spans, want ${want.size}")
    assert(got.nonEmpty, "fixture must contain cross-split copied spans")
  }
}
