package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** q161: the end-to-end corpus-build manifest — the integration query of
  * the whole LLM-data tier. Chains the suite's curation stages into ONE
  * audited funnel over `documents` and emits per-stage document/token
  * attrition, the table a data lead reads before signing off a training
  * corpus (and the shape of every published pipeline's "data card"
  * funnel: Gopher table 2, RefinedWeb figure 2, Dolma's per-stage
  * attrition):
  *
  *   0 ingest            — every document, whitespace tokens
  *   1 quality_rules     — q112's R1-R4 conjunction ([[Quality.keepAll]])
  *   2 gopher_repetition — q151's repetition verdict (gopher_keep)
  *   3 blocklist         — q155/q156's Aho–Corasick pass: zero hits
  *   4 perplexity        — q153's CCNet buckets: head+middle kept
  *   5 classifier        — q128's frozen model at its score_pt > 0 point
  *   6 span_excision     — q143/q147's maximal duplicated spans CUT:
  *                         tokens drop, docs survive unless emptied
  *   7 neardup_dedup     — q59's cluster labels: min-doc_id survivor
  *   8 decontamination   — q152's held-out-split spans: flagged docs drop
  *
  * Stage SIGNALS are computed once over the full corpus — exactly the
  * semantics of each source query, so the Spark side REUSES their shared
  * bodies ([[Quality.funnelMetrics]]/[[Quality.gopherProfile]]/
  * [[Quality.blockHits]]/[[Quality.lmScores]]/[[Classify.scorePt]]/
  * [[Corpus.mergedSpans]]) and READS the persisted artifacts instead of
  * retraining: the LM via [[LmCache]], the cluster labels via [[CcCache]]
  * (whose compute path itself reads [[PairCache]]) — the artifact-reuse
  * proof at suite level. The funnel then applies the per-doc verdicts
  * SEQUENTIALLY (docs dropped at stage k passed stages 1..k-1), so drops
  * sum telescopically and the stage order is auditable. Documents too
  * short to score (< 2 words for the LM) pass the perplexity stage — a
  * reference model cannot judge what it cannot read.
  *
  * Mixture weighting and sequence packing over the surviving rows are the
  * q66/q121/q137 surface and stay out of this funnel (they re-shape
  * rather than drop).
  *
  * Exactness: every emitted value is a BIGINT count or token sum; token
  * masses after excision are `n_tokens − dup_tokens` with the spans
  * maximal and disjoint by construction (q147's guarantee).
  *
  * Shape at 100 TB: the per-doc signal tables all key by doc_id, so the
  * funnel is doc_id-partitioned equi-joins ending in ONE global aggregate
  * row (map-side combined) that unpivots to 9 rows — no stage rescans
  * text (BuildManifestSpec pins the scan count), no per-stage shuffle of
  * the corpus, and the iterative/trained inputs arrive as artifacts.
  *
  * The oracle replays every stage as a self-contained CTE chain (stage
  * prefixes gp_/pp_/ex_/ct_ keep the namespaces apart; the near-dup chain
  * reuses [[Dedup.sqlNearDupBody]] verbatim). Where its SQL restates a
  * source query's spec, the restatement is SELF-VERIFYING: the Spark side
  * runs the source query's own implementation, so any drift between this
  * oracle and the source semantics fails the hash gate.
  *
  * Reference scope: file:line n/a — the reference has no curation surface;
  * this is the LLM-pipeline extension tier's capstone. */
object CorpusBuild {

  import Mirror._

  private val SpanN = Corpus.SpanN

  private def sqlGopherChain: String = {
    val topNs = Quality.TopNgramPct.map(_._1).mkString("[", ", ", "]")
    val dupNs = Quality.DupNgramPct.map(_._1).mkString("[", ", ", "]")
    s"""gp_d AS (SELECT doc_id, $sqlWords AS w FROM documents
       |  WHERE length(text) >= 1),
       |gp_tg AS (SELECT doc_id, n, array_to_string(w[i:i+n-1], ' ') AS gram
       |  FROM (SELECT doc_id, n, w, unnest(range(1, len(w) - n + 2)) AS i
       |        FROM gp_d CROSS JOIN (SELECT unnest($topNs) AS n))),
       |gp_tc AS (SELECT doc_id, n, ${sqlHash60("gram")} AS gsh,
       |    CAST(COUNT(*) AS BIGINT) AS cnt,
       |    CAST(MAX(length(gram)) AS BIGINT) AS glen
       |  FROM gp_tg GROUP BY doc_id, n, ${sqlHash60("gram")}),
       |gp_topn AS (SELECT doc_id, n, cnt * glen AS num FROM (
       |    SELECT doc_id, n, cnt, glen, row_number() OVER (
       |        PARTITION BY doc_id, n ORDER BY cnt DESC, gsh) AS rn
       |    FROM gp_tc) WHERE rn = 1),
       |gp_dgr AS (SELECT doc_id, n, i AS pos,
       |    array_to_string(w[i:i+n-1], ' ') AS gram
       |  FROM (SELECT doc_id, n, w, unnest(range(1, len(w) - n + 2)) AS i
       |        FROM gp_d CROSS JOIN (SELECT unnest($dupNs) AS n))),
       |gp_dh AS (SELECT doc_id, n, pos, ${sqlHash60("gram")} AS gsh
       |  FROM gp_dgr),
       |gp_dc AS (SELECT doc_id, n, gsh FROM gp_dh
       |  GROUP BY doc_id, n, gsh HAVING COUNT(*) >= 2),
       |gp_dup AS (SELECT h.doc_id, h.n, h.pos, h.pos + h.n - 1 AS e
       |  FROM gp_dh h JOIN gp_dc USING (doc_id, n, gsh)),
       |gp_gi AS (SELECT doc_id, n, pos, e,
       |    SUM(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id, n ORDER BY pos
       |        ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM (SELECT doc_id, n, pos, e,
       |      MAX(e) OVER (PARTITION BY doc_id, n ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |    FROM gp_dup)),
       |gp_iv AS (SELECT doc_id, n, MIN(pos) AS a, MAX(e) AS b
       |  FROM gp_gi GROUP BY doc_id, n, grp),
       |gp_c AS (SELECT doc_id, p, SUM(wl) OVER (PARTITION BY doc_id
       |      ORDER BY p ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM (SELECT doc_id, i AS p, length(w[i]) AS wl
       |    FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i
       |          FROM gp_d))),
       |gp_dupn AS (SELECT doc_id, n, CAST(SUM(chars) AS BIGINT) AS num
       |  FROM (SELECT iv.doc_id, iv.n,
       |      cb.cum - COALESCE(ca.cum, 0) + (iv.b - iv.a) AS chars
       |    FROM gp_iv iv
       |    JOIN gp_c cb ON cb.doc_id = iv.doc_id AND cb.p = iv.b
       |    LEFT JOIN gp_c ca ON ca.doc_id = iv.doc_id AND ca.p = iv.a - 1)
       |  GROUP BY doc_id, n),
       |gp_base AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
       |  FROM documents WHERE length(text) >= 1),
       |gp_tp AS (SELECT doc_id,
       |${Quality.TopNgramPct.map { case (n, _) =>
        s"    MAX(CASE WHEN n = $n THEN num END) AS t$n"
      }.mkString(",\n")}
       |  FROM gp_topn GROUP BY doc_id),
       |gp_dp AS (SELECT doc_id,
       |${Quality.DupNgramPct.map { case (n, _) =>
        s"    MAX(CASE WHEN n = $n THEN num END) AS d$n"
      }.mkString(",\n")}
       |  FROM gp_dupn GROUP BY doc_id),
       |kg AS (SELECT b.doc_id,
       |  (${(Quality.TopNgramPct.map { case (n, pct) =>
        s"COALESCE(t$n, 0) * 100 <= $pct * b.n_chars"
      } ++ Quality.DupNgramPct.map { case (n, pct) =>
        s"COALESCE(d$n, 0) * 100 <= $pct * b.n_chars"
      }).mkString("\n    AND ")}) AS k
       |  FROM gp_base b
       |  LEFT JOIN gp_tp USING (doc_id)
       |  LEFT JOIN gp_dp USING (doc_id))""".stripMargin
  }

  private def sqlLmChain: String =
    s"""pp_ref AS (SELECT d.doc_id, d.text FROM documents d
       |  JOIN m ON m.doc_id = d.doc_id WHERE ${Quality.sqlKeepExpr}),
       |pp_rb AS (SELECT array_to_string(w[i:i+1], ' ') AS bg, w[i] AS pw
       |  FROM (SELECT w, unnest(range(1, len(w))) AS i
       |        FROM (SELECT string_split(text, ' ') AS w FROM pp_ref
       |              WHERE len(string_split(text, ' ')) >= 2))),
       |pp_rh AS (SELECT ${sqlHash60("bg")} AS h2, ${sqlHash60("pw")} AS h1
       |  FROM pp_rb),
       |pp_c2 AS (SELECT h2, CAST(COUNT(*) AS BIGINT) AS n2 FROM pp_rh
       |  GROUP BY h2),
       |pp_c1 AS (SELECT h1, CAST(COUNT(*) AS BIGINT) AS n1 FROM pp_rh
       |  GROUP BY h1),
       |pp_vv AS (SELECT CAST(COUNT(DISTINCT h1) AS BIGINT) AS v FROM pp_rh),
       |pp_ab AS (SELECT doc_id, source,
       |    array_to_string(w[i:i+1], ' ') AS bg, w[i] AS pw
       |  FROM (SELECT doc_id, source, w, unnest(range(1, len(w))) AS i
       |        FROM (SELECT doc_id, source, $sqlWords AS w FROM documents
       |              WHERE len($sqlWords) >= 2))),
       |pp_ah AS (SELECT doc_id, source, ${sqlHash60("bg")} AS h2,
       |    ${sqlHash60("pw")} AS h1 FROM pp_ab),
       |pp_sc AS (SELECT doc_id, source,
       |    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM((COALESCE(n2, 0) + 1) * ${Quality.Ppb}
       |      // (COALESCE(n1, 0) + v)) AS BIGINT) AS sum_ppb
       |  FROM pp_ah
       |  LEFT JOIN pp_c2 USING (h2)
       |  LEFT JOIN pp_c1 USING (h1)
       |  CROSS JOIN pp_vv
       |  GROUP BY doc_id, source),
       |pp_sp AS (SELECT doc_id, source, n_bigrams,
       |    sum_ppb // (n_bigrams * 1000) AS score_ppm FROM pp_sc),
       |pp_hist AS (SELECT source, score_ppm, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM pp_sp GROUP BY source, score_ppm),
       |pp_cum AS (SELECT source, score_ppm, c,
       |    CAST(SUM(c) OVER (PARTITION BY source ORDER BY score_ppm DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |    CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n
       |  FROM pp_hist),
       |pp_bkt AS (SELECT source, score_ppm,
       |    CASE WHEN cum * 3 <= n THEN 'head'
       |         WHEN (cum - c) * 3 >= 2 * n THEN 'tail'
       |         ELSE 'middle' END AS bucket
       |  FROM pp_cum),
       |kp AS (SELECT sp.doc_id, (b.bucket <> 'tail') AS k
       |  FROM pp_sp sp JOIN pp_bkt b
       |    ON b.source = sp.source AND b.score_ppm = sp.score_ppm)"""
      .stripMargin

  private def sqlClassifierChain: String = {
    val buckets = Classify.ClsBuckets
    val scale = Classify.ClsScale
    s"""cl_l2 AS (
       |  SELECT doc_id, text,
       |    CASE WHEN ${sqlHash60("CAST(doc_id AS VARCHAR)")} % 100 < 80
       |         THEN 'train'
       |         WHEN ${sqlHash60("CAST(doc_id AS VARCHAR)")} % 100 < 90
       |         THEN 'valid' ELSE 'test' END AS split,
       |    (CAST(len($sqlWords) AS BIGINT) >= 20
       |     AND ${TextAnalysis.sqlCountIn(TextAnalysis.stopEn)} * 20
       |         >= CAST(len($sqlWords) AS BIGINT)
       |     AND ${TextAnalysis.sqlCountIn(TextAnalysis.stopEn)} * 2
       |         <= CAST(len($sqlWords) AS BIGINT)) AS label_good
       |  FROM documents),
       |cl_tok AS (
       |  SELECT doc_id, split, label_good,
       |    ${sqlHash60("w")} % $buckets AS b
       |  FROM (SELECT doc_id, split, label_good,
       |          unnest(string_split(text, ' ')) AS w
       |        FROM cl_l2)),
       |cl_tr AS (
       |  SELECT b,
       |    CAST(SUM(CASE WHEN label_good THEN 1 ELSE 0 END) AS BIGINT)
       |      AS cg,
       |    CAST(SUM(CASE WHEN label_good THEN 0 ELSE 1 END) AS BIGINT)
       |      AS cb
       |  FROM cl_tok WHERE split = 'train' GROUP BY b),
       |cl_tot AS (
       |  SELECT GREATEST(CAST(SUM(cg) AS BIGINT), 1) AS tg,
       |         GREATEST(CAST(SUM(cb) AS BIGINT), 1) AS tb
       |  FROM cl_tr),
       |cl_s AS (
       |  SELECT b, (cg * $scale) // tg - (cb * $scale) // tb AS score
       |  FROM cl_tr, cl_tot),
       |cl_d AS (
       |  SELECT t.doc_id,
       |    CAST(SUM(COALESCE(s.score, 0)) AS BIGINT) AS imp,
       |    COUNT(*) AS n
       |  FROM cl_tok t LEFT JOIN cl_s s USING (b)
       |  GROUP BY t.doc_id),
       |kc AS (
       |  SELECT doc_id,
       |    ((imp + n * $scale) // n - $scale > 0) AS k
       |  FROM cl_d)""".stripMargin
  }

  private def sqlExcisionChain: String =
    s"""ex_d AS (SELECT doc_id, $sqlWords AS w FROM documents
       |  WHERE len($sqlWords) >= $SpanN),
       |ex_g AS (SELECT doc_id, i AS pos,
       |    array_to_string(w[i:i+${SpanN - 1}], ' ') AS span
       |  FROM (SELECT doc_id, w,
       |        unnest(range(1, len(w) - ${SpanN - 2})) AS i FROM ex_d)),
       |ex_h AS (SELECT doc_id, pos, ${sqlHash60("span")} AS esh FROM ex_g),
       |ex_f AS (SELECT esh, COUNT(*) AS cnt FROM ex_h GROUP BY esh),
       |ex_dup AS (SELECT doc_id, pos FROM ex_h JOIN ex_f USING (esh)
       |  WHERE cnt >= 2),
       |ex_isl AS (SELECT doc_id, pos, pos - row_number()
       |    OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM ex_dup),
       |ex_sp AS (SELECT doc_id, MIN(pos) AS a, MAX(pos) AS b
       |  FROM ex_isl GROUP BY doc_id, isl),
       |ex_per AS (SELECT doc_id,
       |    CAST(SUM(b + $SpanN - a) AS BIGINT) AS dup_tokens
       |  FROM ex_sp GROUP BY doc_id)""".stripMargin

  private def sqlContamChain: String =
    s"""ct_bk AS (SELECT doc_id, $sqlWords AS w,
       |    ${sqlHash60("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
       |  FROM documents),
       |ct_d AS (SELECT doc_id, w FROM ct_bk
       |  WHERE bucket < 80 AND len(w) >= $SpanN),
       |ct_g AS (SELECT doc_id,
       |    array_to_string(w[i:i+${SpanN - 1}], ' ') AS span
       |  FROM (SELECT doc_id, w,
       |        unnest(range(1, len(w) - ${SpanN - 2})) AS i FROM ct_d)),
       |ct_h AS (SELECT doc_id, ${sqlHash60("span")} AS csh FROM ct_g),
       |ct_e AS (SELECT doc_id, w FROM ct_bk
       |  WHERE bucket >= 90 AND len(w) >= $SpanN),
       |ct_eg AS (SELECT array_to_string(w[i:i+${SpanN - 1}], ' ') AS span
       |  FROM (SELECT w, unnest(range(1, len(w) - ${SpanN - 2})) AS i
       |        FROM ct_e)),
       |ct_ev AS (SELECT DISTINCT ${sqlHash60("span")} AS csh FROM ct_eg),
       |ct_hit AS (SELECT DISTINCT h.doc_id
       |  FROM ct_h h JOIN ct_ev USING (csh))""".stripMargin

  private val StageNames = Seq("ingest", "quality_rules",
    "gopher_repetition", "blocklist", "perplexity", "classifier",
    "span_excision", "neardup_dedup", "decontamination")

  /** The previous invocation's persisted shingle table. Each q161 build
    * releases it before persisting its own, so (a) repeated executions
    * (bench min-of-3) never silently serve iteration 1's cache as
    * iteration 2's "work", and (b) cached copies never accumulate. One
    * copy lives between calls — positioned shingles are O(corpus
    * tokens) rows of (long, long, long, long), tiny at test scale and
    * spilled by MEMORY_AND_DISK beyond it. */
  private var lastPos: Option[DataFrame] = None

  /** Releases the retained positioned-shingle cache ([[lastPos]]):
    * between-builds retention is an optimization, not state a session
    * must carry — the unified [[graft.Vacuum]] calls this so a
    * long-lived session doesn't pin O(corpus tokens) cached blocks after
    * its last manifest build. Returns whether anything was held. */
  def releaseRetained(): Boolean = synchronized {
    val held = lastPos.isDefined
    lastPos.foreach(_.unpersist(false))
    lastPos = None
    held
  }

  /** The per-doc stage-signal table (doc_id, n_tokens, t_ex, f1..f8)
    * computed INLINE — each signal is the SOURCE query's own shared
    * body, with the trained/iterative inputs arriving as artifacts (LM
    * via [[LmCache]], cluster labels via [[CcCache]]). This is
    * [[ManifestCache]]'s compute path; q161 reads the cached table.
    * Every signal stays fresh-gated through its source query (q112,
    * q151, q155/q156, q153, q128, q143/q147, q59, q152), so caching the
    * composition never hides a semantics change the gate would catch. */
  private[operators] def docFlags(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // the narrow verdict trio (n_tokens, quality keep, blocklist clean)
    // plus the classifier score ride ONE text scan
    // ([[Quality.narrowVerdicts]]); the gopher profile (its own native
    // per-row pass) and the perplexity bucket remain joins
    val kGopher = Quality.gopherProfile(docs)
      .select(col("doc_id"), col("gopher_keep").as("f2"))
    val (c2, c1, v) = LmCache.counts(spark, dir) // artifact, not retrain
    val scored = Quality.lmScores(docs, c2, c1, v)
    val kPpl = scored
      .join(Quality.lmBuckets(scored), Seq("source", "score_ppm"))
      .select(col("doc_id"), (col("bucket") =!= "tail").as("f4"))
    val model = Classify.trainModel(
      Classify.labeledDocs(docs).filter(col("split") === "train"))
    val narrow = Quality.narrowVerdicts(docs, Seq("text"))
      .select(col("doc_id"), col("n_tokens"), col("f1"), col("f3"),
        (Classify.scorePt(model) > 0).as("f5"))
    // ONE positioned-shingle pass serves THREE consumers: the excision
    // spans and both decontamination sides (train shingles, held-out
    // shingle set) are bucket-filters of the same table — cutting the
    // corpus tokenize-and-hash from 3 scans to 1 (q161's heaviest
    // signal). The bucket is doc_id-derived, so it attaches to the
    // shingle rows without touching text again.
    val pos = Corpus.positionedShingles(docs)
      .withColumn("bucket",
        hash60(col("doc_id").cast(StringType)) % 100)
    synchronized {
      lastPos.foreach(_.unpersist(false))
      lastPos = Some(pos.persist())
    }
    val exPer = exPerOf(pos)
    val comp = CcCache.components(spark, dir) // artifact, not re-iterate
      .select(col("v").as("doc_id"), col("component"))
    val contam = contamOf(pos)

    flagsSelect(narrow
      .join(kGopher, Seq("doc_id"), "left")
      .join(kPpl, Seq("doc_id"), "left"), exPer, comp, contam)
  }

  /** The final flags projection over the joined per-doc verdicts — the
    * null-default algebra (absent quality/gopher/blocklist/classifier
    * verdicts fail, absent perplexity passes — a reference model cannot
    * judge what it cannot read, absent spans excise nothing, absent
    * component label means singleton survivor, absent contamination hit
    * means clean). Shared verbatim with the streaming maintainer.
    * `joined` must carry (doc_id, n_tokens, f1..f5). */
  private[graft] def flagsSelect(joined: DataFrame, exPer: DataFrame,
      comp: DataFrame, contam: DataFrame): DataFrame =
    joined
      .join(exPer, Seq("doc_id"), "left")
      .join(comp, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        greatest(col("n_tokens") - coalesce(col("dup_tokens"), lit(0L)),
          lit(0L)).as("t_ex"),
        coalesce(col("f1"), lit(false)).as("f1"),
        coalesce(col("f2"), lit(false)).as("f2"),
        coalesce(col("f3"), lit(false)).as("f3"),
        coalesce(col("f4"), lit(true)).as("f4"), // unscoreable docs pass
        coalesce(col("f5"), lit(false)).as("f5"),
        (col("n_tokens") - coalesce(col("dup_tokens"), lit(0L)) > 0)
          .as("f6"),
        (col("doc_id") === coalesce(col("component"), col("doc_id")))
          .as("f7"),
        coalesce(col("hasct"), lit(false)).unary_!.as("f8"))

  /** Per-doc excised-duplicate token mass from a BUCKETED positioned-
    * shingle table (doc_id, pos, sh, bucket) — shared by the batch flags
    * and the streaming manifest maintainer's read-time derivation. */
  private[graft] def exPerOf(pos: DataFrame): DataFrame =
    Corpus.mergedSpans(pos.select(col("doc_id"), col("pos"), col("sh")))
      .groupBy(col("doc_id"))
      .agg(sum(col("span_tokens")).as("dup_tokens"))

  /** Contaminated train-side doc ids (doc_id, hasct=true) from the same
    * bucketed positioned-shingle table — both decontamination sides are
    * bucket filters of it, never a rescan of text. */
  private[graft] def contamOf(pos: DataFrame): DataFrame =
    pos.filter(col("bucket") < 80)
      .join(pos.filter(col("bucket") >= 90)
        .select(col("sh")).distinct(), "sh")
      .select(col("doc_id")).distinct()
      .withColumn("hasct", lit(true))

  val q161CorpusManifest = QueryDef(
    "q161_corpus_manifest",
    s"""WITH RECURSIVE
       |bse AS (SELECT doc_id,
       |    CAST(len($sqlWords) AS BIGINT) AS n_tokens FROM documents),
       |${Quality.sqlFunnelMetrics},
       |kq AS (SELECT doc_id, (${Quality.sqlKeepExpr}) AS k FROM m),
       |$sqlGopherChain,
       |blp(pattern) AS (VALUES ${Quality.blockPatterns
        .map(p => s"('$p')").mkString(", ")}),
       |kb AS (SELECT d.doc_id,
       |    (CAST(SUM((length(d.text) - length(replace(d.text, p.pattern,
       |      ''))) // length(p.pattern)) AS BIGINT) = 0) AS k
       |  FROM documents d CROSS JOIN blp p GROUP BY d.doc_id),
       |$sqlLmChain,
       |$sqlClassifierChain,
       |$sqlExcisionChain,
       |${Dedup.sqlNearDupBody},
       |pairs AS (${Dedup.sqlNearDupPairs}),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(v, r) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.v = e.b),
       |comp AS (SELECT v AS doc_id, MIN(r) AS component
       |  FROM reach GROUP BY v),
       |$sqlContamChain,
       |flags AS (
       |  SELECT b.doc_id, b.n_tokens,
       |    GREATEST(b.n_tokens - COALESCE(ex.dup_tokens, 0), 0) AS t_ex,
       |    COALESCE(kq.k, false) AS f1,
       |    COALESCE(kg.k, false) AS f2,
       |    COALESCE(kb.k, false) AS f3,
       |    COALESCE(kp.k, true) AS f4,
       |    COALESCE(kc.k, false) AS f5,
       |    (b.n_tokens - COALESCE(ex.dup_tokens, 0)) > 0 AS f6,
       |    (b.doc_id = COALESCE(cc.component, b.doc_id)) AS f7,
       |    (ct.doc_id IS NULL) AS f8
       |  FROM bse b
       |  LEFT JOIN kq USING (doc_id)
       |  LEFT JOIN kg USING (doc_id)
       |  LEFT JOIN kb USING (doc_id)
       |  LEFT JOIN kp USING (doc_id)
       |  LEFT JOIN kc USING (doc_id)
       |  LEFT JOIN ex_per ex USING (doc_id)
       |  LEFT JOIN comp cc USING (doc_id)
       |  LEFT JOIN ct_hit ct USING (doc_id)),
       |sgs AS (SELECT *,
       |    f1 AS s1, (f1 AND f2) AS s2, (f1 AND f2 AND f3) AS s3,
       |    (f1 AND f2 AND f3 AND f4) AS s4,
       |    (f1 AND f2 AND f3 AND f4 AND f5) AS s5,
       |    (f1 AND f2 AND f3 AND f4 AND f5 AND f6) AS s6,
       |    (f1 AND f2 AND f3 AND f4 AND f5 AND f6 AND f7) AS s7,
       |    (f1 AND f2 AND f3 AND f4 AND f5 AND f6 AND f7 AND f8) AS s8
       |  FROM flags),
       |agg AS (SELECT
       |    CAST(COUNT(*) AS BIGINT) AS d0,
       |    CAST(SUM(n_tokens) AS BIGINT) AS t0,
       |${(1 to 8).map { i =>
        val tok = if (i >= 6) "t_ex" else "n_tokens"
        s"    CAST(SUM(CASE WHEN s$i THEN 1 ELSE 0 END) AS BIGINT) AS d$i," +
          s"\n    CAST(SUM(CASE WHEN s$i THEN $tok ELSE 0 END) AS BIGINT)" +
          s" AS t$i"
      }.mkString(",\n")}
       |  FROM sgs)
       |SELECT * FROM (
       |  SELECT CAST(0 AS BIGINT) AS ord, 'ingest' AS stage,
       |    d0 AS docs_out, t0 AS tokens_out,
       |    CAST(0 AS BIGINT) AS docs_dropped,
       |    CAST(0 AS BIGINT) AS tokens_dropped
       |  FROM agg
       |${(1 to 8).map { i =>
        s"  UNION ALL SELECT CAST($i AS BIGINT), '${StageNames(i)}', " +
          s"d$i, t$i, d${i - 1} - d$i, t${i - 1} - t$i FROM agg"
      }.mkString("\n")}
       |) ORDER BY ord""".stripMargin) { (spark, dir) =>
    // the per-doc signal table arrives as an artifact — a 100 TB build
    // computes its stage signals once per corpus snapshot and every
    // audit/report over them is a read + one global aggregate; the
    // funnel algebra below is that aggregate (still hash-gated, so a
    // stale artifact fails the round's correctness gate)
    funnelOf(ManifestCache.flags(spark, dir))
  }

  /** The funnel algebra over any per-doc flags table (doc_id, n_tokens,
    * t_ex, f1..f8): sequential stage conjunctions, ONE global map-side-
    * combined aggregate row, unpivoted to the 9 audited stages. Shared
    * verbatim by q161 and the streaming maintainer's read-time funnel
    * ([[graft.streaming.ManifestStream.funnel]]), so stream ≡ batch is a
    * property of the FLAGS alone. */
  private[graft] def funnelOf(flags: DataFrame): DataFrame = {
    val cums = (1 to 8).map { i =>
      (1 to i).map(j => col(s"f$j")).reduce(_ && _).as(s"s$i")
    }
    val staged = flags.select(
      col("n_tokens") +: col("t_ex") +: cums: _*)
    val aggCols =
      count(lit(1)).cast(LongType).as("d0") +:
        sum(col("n_tokens")).as("t0") +:
        (1 to 8).flatMap { i =>
          val tok = if (i >= 6) col("t_ex") else col("n_tokens")
          Seq(sum(when(col(s"s$i"), 1L).otherwise(0L)).as(s"d$i"),
            sum(when(col(s"s$i"), tok).otherwise(0L)).as(s"t$i"))
        }
    val one = staged.agg(aggCols.head, aggCols.tail: _*)
    val rows = (0 to 8).map { i =>
      val (dd, td) =
        if (i == 0) ("0L", "0L") else (s"d${i - 1} - d$i", s"t${i - 1} - t$i")
      s"${i}L, '${StageNames(i)}', d$i, t$i, $dd, $td"
    }.mkString(", ")
    one.select(expr(s"stack(9, $rows) AS " +
        "(ord, stage, docs_out, tokens_out, docs_dropped, tokens_dropped)"))
      .orderBy(col("ord"))
  }

  val all: Seq[QueryDef] = Seq(q161CorpusManifest)
}
