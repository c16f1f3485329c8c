package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Bloom-filter pre-filtering for benchmark decontamination — the fourth
  * mergeable summary structure next to q138's HLL (max-merge), q139's
  * Count-Min (sum-merge) and q141's layout stats: Bloom words merge by
  * bitwise OR. The production shape it models: the EVAL side (benchmark
  * suites) is small and changes rarely, so its shingle set compiles into
  * a few KB of bits shipped to every executor; the 100 TB corpus side is
  * then pre-filtered by a join-free bit probe, and only the surviving
  * candidates pay for exact verification (the q62 inverted-index join).
  * No false negatives, by construction — a document sharing an eval
  * shingle ALWAYS survives the pre-filter — so the cascade loses nothing;
  * false positives only cost verification work, and q142 reports them.
  *
  * Engine-exactness: bits live in 32-bit words of a BIGINT column
  * (shift amounts ≤ 31 — DuckDB range-checks `1 << 63` while Spark
  * wraps, so 62+ bit positions are NOT cross-engine-safe), positions are
  * `hash60/hash60b mod M` (non-negative mod), the filter is built by the
  * `bit_or` aggregate both engines define identically, and the probe is
  * `(bits & mask) = mask`. All compared outputs are integer counts. */
object Bloom {

  /** Filter geometry: M = 2^20 bits in 32-bit words (≤ 32 K BIGINTs —
    * 256 KiB broadcast), k = 2 probes per shingle (the two independent
    * digest windows). At the test scales the eval 5-gram load keeps the
    * fill low enough that doc-level flagging doesn't saturate on false
    * positives (the failure mode of an undersized filter + short
    * shingles, observed with m = 2^11 over 3-grams: 95 % of the corpus
    * flagged); production re-derives m from n·(m/n ≈ 10) per eval
    * release. */
  private val BloomBits = 1048576L
  private val WordBits = 32L

  /** Eval-set membership: ~2 % of docs, keyed on the SECOND digest
    * window so the split is independent of every other hash-derived
    * assignment in the suite (q53 buckets, q125 rolls use hash60). */
  private[graft] def isEval(doc: Column): Column =
    pmod(graft.operators.Mirror.hash60b(doc.cast(StringType)), lit(50L)) === 0

  /** The (word, bits) filter table over a shingle set — ≤ 32 K rows.
    * OR-MERGEABLE: the filter of a union of shingle slices is the
    * per-word bitwise OR of each slice's words (BloomSpec), and OR is
    * IDEMPOTENT (a|a = a), so unlike Count-Min's sum-merge this state
    * absorbs duplicate deliveries with no id gate at all
    * ([[graft.streaming.BloomFilterStream]] leans on exactly that). */
  private[graft] def filterWords(sh: DataFrame): DataFrame = {
    import Mirror.{hash60, hash60b, intDiv, shiftL}
    sh.select(explode(array(pmod(hash60(col("sh")), lit(BloomBits)),
      pmod(hash60b(col("sh")), lit(BloomBits)))).as("b"))
      .select(intDiv(col("b"), lit(WordBits)).as("word"),
        shiftL(lit(1L), pmod(col("b"), lit(WordBits))).as("mask"))
      .groupBy(col("word")).agg(expr("bit_or(mask)").as("bits"))
  }

  /** The candidate (doc_id, source, sh) rows whose BOTH probe bits are
    * set in `filter` — q142's pre-filter stage over any (doc_id,
    * source, text) relation; the filter side is broadcast. */
  private[graft] def candidates(corpus: DataFrame,
      filter: DataFrame): DataFrame = {
    import Mirror.{hash60, hash60b, intDiv, shiftL, shingle5Gen}
    corpus
      .select(col("doc_id"), col("source"),
        explode(shingle5Gen(col("text"))).as("sh")).distinct()
      .select(col("doc_id"), col("source"), col("sh"),
        explode(array(pmod(hash60(col("sh")), lit(BloomBits)),
          pmod(hash60b(col("sh")), lit(BloomBits)))).as("b"))
      .select(col("doc_id"), col("source"), col("sh"),
        intDiv(col("b"), lit(WordBits)).as("word"),
        shiftL(lit(1L), pmod(col("b"), lit(WordBits))).as("mask"))
      .join(broadcast(filter), Seq("word"), "left_outer")
      .select(col("doc_id"), col("source"), col("sh"),
        when(col("bits").isNull, 0L)
          .when(col("bits").bitwiseAND(col("mask")) === col("mask"), 1L)
          .otherwise(0L).as("h"))
      .groupBy(col("doc_id"), col("source"), col("sh"))
      .agg(min(col("h")).as("hmin")).filter(col("hmin") === 1)
      .select(col("doc_id"), col("source"), col("sh"))
  }
  private val sqlIsEval =
    s"${Mirror.sqlHash60b("CAST(doc_id AS VARCHAR)")} % 50 = 0"

  /** q142: Bloom decontamination cascade — per source, how many corpus
    * (non-eval) documents the pre-filter flags as possibly sharing a
    * shingle with the eval set, how many REALLY do (exact verification
    * of the flagged candidates only — sound because the filter has no
    * false negatives), and the false-positive cost the verification
    * stage absorbs.
    *
    * Shape at scale: the filter build touches only the tiny eval slice
    * and collapses to ≤ 32 K (word, bits) rows; the corpus probe is one
    * shingle pass joined BROADCAST against those rows (no corpus-keyed
    * shuffle; the per-(doc, shingle) rollup of the 2 probe rows is
    * map-side); exact verification joins eval shingles against the
    * candidates alone. One probe feeds both counts: the candidates are
    * left-joined once to the eval shingles, tagged, rolled up per
    * (doc, source) with the tag's max, and counted (flagged_bloom) and
    * summed (flagged_exact) per source — the candidate pipeline is
    * planned once, not once per count. The all-corpus exact join this
    * replaces is the q62 shape — still linear, but it shuffles every
    * corpus shingle; the cascade shuffles only candidates. */
  val q142BloomContam = QueryDef(
    "q142_bloom_contam",
    s"""WITH ev AS (SELECT DISTINCT unnest(${Mirror.sqlShingle5Gen}) AS sh
       |  FROM documents WHERE $sqlIsEval),
       |evh AS (SELECT sh, ${Mirror.sqlHash60("sh")} % $BloomBits AS b1,
       |    ${Mirror.sqlHash60b("sh")} % $BloomBits AS b2 FROM ev),
       |bloom AS (SELECT b // $WordBits AS word,
       |    CAST(bit_or(CAST(1 AS BIGINT) << CAST(b % $WordBits AS INTEGER))
       |      AS BIGINT) AS bits
       |  FROM (SELECT b1 AS b FROM evh UNION ALL SELECT b2 FROM evh)
       |  GROUP BY b // $WordBits),
       |corpus AS (SELECT doc_id, source, text FROM documents
       |  WHERE NOT ($sqlIsEval)),
       |ps AS (SELECT DISTINCT doc_id, source, sh FROM (
       |  SELECT doc_id, source, unnest(${Mirror.sqlShingle5Gen}) AS sh
       |  FROM corpus)),
       |pr AS (SELECT doc_id, source, sh,
       |    ${Mirror.sqlHash60("sh")} % $BloomBits AS b1,
       |    ${Mirror.sqlHash60b("sh")} % $BloomBits AS b2 FROM ps),
       |px AS (SELECT doc_id, source, sh, b FROM (
       |  SELECT doc_id, source, sh, b1 AS b FROM pr
       |  UNION ALL SELECT doc_id, source, sh, b2 FROM pr)),
       |hit AS (SELECT px.doc_id, px.source, px.sh,
       |    CASE WHEN bloom.bits IS NULL THEN 0
       |         WHEN (bloom.bits &
       |           (CAST(1 AS BIGINT) << CAST(px.b % $WordBits AS INTEGER)))
       |           = (CAST(1 AS BIGINT) << CAST(px.b % $WordBits AS INTEGER))
       |         THEN 1 ELSE 0 END AS h
       |  FROM px LEFT JOIN bloom ON bloom.word = px.b // $WordBits),
       |cand AS (SELECT doc_id, source, sh FROM hit
       |  GROUP BY doc_id, source, sh HAVING MIN(h) = 1),
       |flag_b AS (SELECT DISTINCT doc_id, source FROM cand),
       |flag_x AS (SELECT DISTINCT c.doc_id, c.source FROM cand c
       |  JOIN ev ON ev.sh = c.sh),
       |per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM corpus GROUP BY source),
       |fb AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS flagged_bloom
       |  FROM flag_b GROUP BY source),
       |fx AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS flagged_exact
       |  FROM flag_x GROUP BY source)
       |SELECT per.source, per.n_docs,
       |  COALESCE(fb.flagged_bloom, CAST(0 AS BIGINT)) AS flagged_bloom,
       |  COALESCE(fx.flagged_exact, CAST(0 AS BIGINT)) AS flagged_exact,
       |  COALESCE(fb.flagged_bloom, CAST(0 AS BIGINT))
       |    - COALESCE(fx.flagged_exact, CAST(0 AS BIGINT)) AS false_pos
       |FROM per
       |LEFT JOIN fb ON fb.source = per.source
       |LEFT JOIN fx ON fx.source = per.source
       |ORDER BY per.source""".stripMargin) { (spark, dir) =>
    import Mirror.shingle5Gen
    val docs = Tables(spark, dir, "documents")
    val ev = docs.filter(isEval(col("doc_id")))
      .select(explode(shingle5Gen(col("text"))).as("sh")).distinct()
    val corpus = docs.filter(!isEval(col("doc_id")))
    // one candidate probe feeds both counts: a flagged doc counts for
    // flagged_bloom, and for flagged_exact iff one of its candidate
    // shingles really is an eval shingle (ev is distinct, so the tag
    // join adds no rows)
    val flags = candidates(corpus, filterWords(ev))
      .join(ev.withColumn("x", lit(1L)), Seq("sh"), "left_outer")
      .groupBy(col("doc_id"), col("source"))
      .agg(max(coalesce(col("x"), lit(0L))).as("x"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("flagged_bloom"),
        sum(col("x")).as("flagged_exact"))
    corpus.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(flags, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"),
        coalesce(col("flagged_bloom"), lit(0L)).as("flagged_bloom"),
        coalesce(col("flagged_exact"), lit(0L)).as("flagged_exact"),
        (coalesce(col("flagged_bloom"), lit(0L))
          - coalesce(col("flagged_exact"), lit(0L))).as("false_pos"))
      .orderBy(col("source"))
  }

  val all: Seq[QueryDef] = Seq(q142BloomContam)
}
