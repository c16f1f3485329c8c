package graft.operators

import graft.covid.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** q161 corpus-build manifest ([[CorpusBuild]]): funnel algebra must
  * telescope exactly, the stage verdicts must agree with the SOURCE
  * queries they chain, the plan must read artifacts instead of
  * re-iterating, and document text must be scanned a bounded number of
  * times — no per-stage re-tokenization. */
class BuildManifestSpec extends AnyFunSuite with SparkTestSession {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val manifest =
    CorpusBuild.q161CorpusManifest.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .sortBy(_._1)

  test("funnel telescopes: 9 ordered stages, monotone non-increasing, " +
    "drops balance exactly, every doc-dropping stage bites") {
    assert(manifest.map(_._1).toSeq == (0L to 8L).toSeq)
    assert(manifest.head._2 == "ingest")
    val nDocs = graft.Tables(spark, sfDir, "documents").count()
    assert(manifest.head._3 == nDocs)
    manifest.toSeq.sliding(2).foreach { case Seq(prev, cur) =>
      assert(cur._3 <= prev._3 && cur._4 <= prev._4,
        s"stage ${cur._2} must not grow the corpus")
      assert(cur._5 == prev._3 - cur._3,
        s"stage ${cur._2}: docs_dropped must telescope")
      assert(cur._6 == prev._4 - cur._4,
        s"stage ${cur._2}: tokens_dropped must telescope")
    }
    // the funnel is real at this fixture: quality, blocklist, classifier,
    // excision, and dedup all drop something
    Seq("quality_rules", "blocklist", "classifier", "span_excision",
      "neardup_dedup").foreach { s =>
      assert(manifest.find(_._2 == s).get._5 > 0 ||
        manifest.find(_._2 == s).get._6 > 0, s"stage $s must bite")
    }
  }

  test("stage verdicts equal the source queries: q112 keeps bound stage " +
    "1, q156 totals bound stage 3, q59 survivors bound stage 7") {
    val docs = graft.Tables(spark, sfDir, "documents")
    // stage 1 docs_out IS q112's keep count (first stage: no prior gate)
    val q112Kept = Quality.funnelMetrics(docs)
      .filter(Quality.keepAll).count()
    assert(manifest.find(_._2 == "quality_rules").get._3 == q112Kept)
    // later stages are conditioned on the prior gates, so the source
    // query's standalone count is an UPPER bound on the stage drop
    val blockDropped = Quality.blockVerdict(Quality.blockHits(docs))
      .collect().map(_.getAs[Long]("docs_dropped")).sum
    assert(manifest.find(_._2 == "blocklist").get._5 <= blockDropped)
    val q59NonSurvivors = Corpus.q59DedupComponents.fn(spark, sfDir)
      .filter(!org.apache.spark.sql.functions.col("is_survivor")).count()
    assert(manifest.find(_._2 == "neardup_dedup").get._5 <= q59NonSurvivors)
  }

  private def scanPaths(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
  }

  test("compute path: document text is scanned a BOUNDED number of " +
    "times (the per-signal budget, not per-stage), and the LM + CC " +
    "labels come from artifacts, not retraining") {
    // warm both artifact stores first so the measured plan is the
    // steady-state one (first call may train-and-publish)
    CcCache.components(spark, sfDir).count()
    LmCache.counts(spark, sfDir)._1.count()
    val df = CorpusBuild.docFlags(spark, sfDir)
    val paths = scanPaths(df)
    val docScans = paths.count(_.contains("documents.parquet"))
    // the budget, 4 measured: 1 narrow-verdict scan (quality rules,
    // blocklist and classifier score ride one pass) + 1 gopher (the
    // native per-document profile) + 1 LM scoring + 1 shared
    // positioned-shingle pass (persisted: it serves the excision spans
    // AND both decontamination sides — its repeated uses appear as
    // in-memory scans, not file scans); the bound pins that the funnel
    // STAGES add zero scans — 9 stages over 8 signal families stay 4
    // scans whether the funnel has 2 stages or 20
    assert(docScans >= 1 && docScans <= 4,
      s"documents scanned $docScans times — per-stage rescans crept in?")
    // artifact reuse: the executed plan READS the cc/lm artifact stores
    assert(paths.exists(_.contains("graft-cccache")),
      s"CC labels must come from the CcCache artifact\n$paths")
    assert(paths.exists(_.contains("graft-lmcache")),
      s"the reference LM must come from the LmCache artifact\n$paths")
    // and never re-runs the iterative CC loop: a fresh-compute plan would
    // carry no cccache scan and many more exchanges
  }

  test("q161's own plan reads the ManifestCache signal artifact and " +
    "never rescans document text") {
    ManifestCache.flags(spark, sfDir).count() // warm (publishes on miss)
    val df = CorpusBuild.q161CorpusManifest.fn(spark, sfDir)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains("graft-manifestcache")),
      s"q161 must read the per-doc signal artifact\n$paths")
    assert(paths.count(_.contains("documents.parquet")) == 0,
      s"steady-state q161 must not rescan text\n$paths")
  }
}
