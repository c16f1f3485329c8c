package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis operators for a large-scale training-data pipeline, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * Everything here is a narrow projection over the scan — no shuffle except
  * the verification ORDER BY — so it scales linearly with input splits: at
  * 100 TB each task tokenizes its own partition and nothing else.
  *
  * All tokenization/scoring is built from [[Mirror]] primitives so every
  * query has a bit-exact DuckDB oracle.
  */
object TextAnalysis {
  import Mirror._

  /** Stopword markers per language for the langid heuristic and quality
    * scoring. Tiny on purpose: a real deployment broadcasts a bigger
    * dictionary, the operator shape is identical. */
  val stopEn = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  val stopDe = Seq("der", "die", "das", "und", "ist")
  val stopFr = Seq("le", "la", "et", "est", "les")
  val stopEs = Seq("el", "los", "y", "es", "las")

  private def sqlInList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  private[operators] def countIn(w: Column, ws: Seq[String]): Column =
    size(filter(w, x => x.isInCollection(ws))).cast(LongType)

  private[operators] def sqlCountIn(ws: Seq[String]): String =
    s"CAST(len(list_filter($sqlWords, w -> w IN ${sqlInList(ws)})) AS BIGINT)"

  /** Token counting (whitespace + a BPE-ish regex segmentation) + per-doc
    * length stats. Reference has no text ops (SURVEY §2.8) — this is the
    * training-pipeline extension surface. */
  val q14TextStats = QueryDef(
    "q14_text_stats",
    s"""SELECT doc_id,
       |  CAST(len($sqlWords) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct($sqlWords)) AS BIGINT) AS n_distinct,
       |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
       |    AS n_subtokens,
       |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |         list_transform($sqlWords, w -> CAST(strlen(w) AS BIGINT))),
       |       (a, b) -> a + b) AS DOUBLE)
       |    / CAST(len($sqlWords) AS DOUBLE) AS avg_token_len
       |FROM documents
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val w = words(col("text"))
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(w).cast(LongType).as("n_tokens"),
        size(array_distinct(w)).cast(LongType).as("n_distinct"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast(LongType)
          .as("n_subtokens"),
        (aggregate(transform(w, x => length(x).cast(LongType)), lit(0L),
          (a, b) => a + b).cast(DoubleType) /
          size(w).cast(DoubleType)).as("avg_token_len"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: stopword ratio, alphabetic-character ratio, and a
    * bucketed quality label — the length/punct/stopword heuristics an LLM
    * data pipeline runs before training. Ratios are int/int double divisions
    * (exact in both engines). */
  val q15TextQuality = QueryDef(
    "q15_text_quality",
    s"""SELECT doc_id, n_tokens, stop_ratio, alpha_ratio,
       |  CASE WHEN n_tokens >= 20 AND stop_ratio >= 0.05 AND stop_ratio <= 0.5
       |       THEN 'good'
       |       WHEN n_tokens >= 5 THEN 'fair'
       |       ELSE 'low' END AS quality
       |FROM (
       |  SELECT doc_id,
       |    CAST(len($sqlWords) AS BIGINT) AS n_tokens,
       |    CAST(${sqlCountIn(stopEn)} AS DOUBLE)
       |      / CAST(len($sqlWords) AS DOUBLE) AS stop_ratio,
       |    CASE WHEN strlen(text) > 0
       |      THEN CAST(strlen(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
       |        / CAST(strlen(text) AS DOUBLE)
       |      ELSE 0.0 END AS alpha_ratio
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val w = words(col("text"))
    val nTokens = size(w).cast(LongType)
    val stopRatio = countIn(w, stopEn).cast(DoubleType) /
      size(w).cast(DoubleType)
    // guarded: on empty text Spark's 0/0 is NULL but DuckDB's is NaN
    val alphaRatio = when(length(col("text")) > 0,
      length(regexp_replace(col("text"), "[^a-z]", "")).cast(DoubleType) /
        length(col("text")).cast(DoubleType)).otherwise(0.0)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), nTokens.as("n_tokens"),
        stopRatio.as("stop_ratio"), alphaRatio.as("alpha_ratio"))
      .withColumn("quality",
        when(col("n_tokens") >= 20 &&
          col("stop_ratio") >= 0.05 && col("stop_ratio") <= 0.5, "good")
          .when(col("n_tokens") >= 5, "fair")
          .otherwise("low"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID heuristic: per-language marker-stopword counts with a fixed
    * argmax precedence (en > de > fr > es). */
  val q16TextLangid = QueryDef(
    "q16_text_langid",
    s"""SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
       |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |       WHEN s_fr >= s_es THEN 'fr'
       |       ELSE 'es' END AS predicted_lang
       |FROM (
       |  SELECT doc_id, lang,
       |    ${sqlCountIn(stopEn)} AS s_en,
       |    ${sqlCountIn(stopDe)} AS s_de,
       |    ${sqlCountIn(stopFr)} AS s_fr,
       |    ${sqlCountIn(stopEs)} AS s_es
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val w = words(col("text"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        countIn(w, stopEn).as("s_en"), countIn(w, stopDe).as("s_de"),
        countIn(w, stopFr).as("s_fr"), countIn(w, stopEs).as("s_es"))
      .withColumn("predicted_lang",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
          col("s_en") >= col("s_es"), "en")
          .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprinting: whole-text md5 over whitespace-normalized text
    * plus a rolling polynomial hash over md5-derived word hashes (the
    * incremental-dedup fingerprint shape). */
  val q17TextFingerprint = QueryDef(
    "q17_text_fingerprint",
    s"""SELECT doc_id,
       |  md5(trim(regexp_replace(text, '[ ]+', ' ', 'g'))) AS fp_md5,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform($sqlWords, w -> ${sqlHash60("w")})),
       |    (acc, h) -> (acc * 31 + h) % 2147483647) AS fp_roll
       |FROM documents
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val w = words(col("text"))
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        md5(trim(regexp_replace(col("text"), "[ ]+", " "))).as("fp_md5"),
        aggregate(transform(w, x => hash60(x)), lit(0L),
          (acc, h) => (acc * 31 + h) % 2147483647L).as("fp_roll"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF-style salient terms: top-3 terms per document by
    * rarity-weighted frequency. The weight is the RATIONAL form
    * `tf · (N+1)/(df+1)` rather than `tf · ln(N/df)`: the ranking it
    * induces per document is identical (x ↦ ln is monotone in N/df), and
    * integer-exact division keeps the gate bit-exact where `ln` would ride
    * on libm rounding differences between engines. Shape at scale: one
    * narrow tokenize, a (doc, term) count aggregation, a term-level df
    * aggregation joined back on the term key, and a per-doc top-k window —
    * the canonical two-aggregation TF-IDF dataflow. */
  val q58TfSalient = QueryDef(
    "q58_tf_salient_terms",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |s AS (SELECT t.doc_id, t.w AS term, t.tf, d.df,
      |    CAST(t.tf * (n.n + 1) AS DOUBLE) / CAST(d.df + 1 AS DOUBLE)
      |      AS score
      |  FROM tf t JOIN dfreq d ON t.w = d.w CROSS JOIN n)
      |SELECT doc_id, term, tf, df, score, CAST(rn AS BIGINT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |        ORDER BY score DESC, term) AS rn FROM s)
      |WHERE rn <= 3
      |ORDER BY doc_id, rank""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "w").crossJoin(broadcast(n))
      .select(col("doc_id"), col("w").as("term"), col("tf"), col("df"),
        ((col("tf") * (col("n") + 1)).cast(DoubleType)
          / (col("df") + 1).cast(DoubleType)).as("score"))
    val win = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(win).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val MinPairDocs = 3
  private val CoocTopK = 100

  /** Word co-occurrence with lift scoring — the collocation-mining pass
    * (which terms appear in the same documents far more often than chance)
    * a corpus-analysis pipeline runs for phrase discovery and tokenizer
    * vocabulary work. `lift = P(a,b) / (P(a)·P(b))` computed on document
    * frequencies as `n_ab·N / (df_a·df_b)` — all-integer products (exact
    * under 2^53) divided once in double, so scores are engine-identical
    * with NO log/PMI float math. Pair enumeration is the in-row
    * [[Mirror.pairs]] expansion over each doc's sorted DISTINCT words —
    * O(words²) per row, zero shuffle (the oracle's equivalent self-join
    * shape would re-shuffle the exploded corpus twice); doc-frequency
    * joins carry only (word, count) rows, and AQE broadcasts the
    * vocabulary side at runtime — no explicit hint. The `n_ab >=
    * $MinPairDocs` support cut and top-k keep the result (and the final
    * TakeOrdered) bounded at any corpus size. */
  val q79WordCooccurrence = QueryDef(
    "q79_word_cooccurrence",
    s"""WITH d AS (SELECT doc_id,
       |    list_sort(list_distinct($sqlWords)) AS w FROM documents),
       |e AS (SELECT doc_id, unnest(w) AS word FROM d),
       |dfw AS (SELECT word, COUNT(*) AS dfw FROM e GROUP BY word),
       |pr AS (SELECT a.word AS wa, b.word AS wb
       |  FROM e a JOIN e b ON a.doc_id = b.doc_id AND a.word < b.word),
       |dfp AS (SELECT wa, wb, COUNT(*) AS n_ab FROM pr GROUP BY wa, wb),
       |n AS (SELECT COUNT(*) AS n FROM documents)
       |SELECT wa, wb, n_ab,
       |  CAST(n_ab * n AS DOUBLE) / CAST(fa.dfw * fb.dfw AS DOUBLE) AS lift
       |FROM dfp
       |JOIN dfw fa ON fa.word = wa
       |JOIN dfw fb ON fb.word = wb
       |CROSS JOIN n
       |WHERE n_ab >= $MinPairDocs
       |ORDER BY lift DESC, wa, wb
       |LIMIT $CoocTopK""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents")
    val d = docs.select(col("doc_id"),
      array_sort(array_distinct(words(col("text")))).as("w"))
    val dfp = d
      .select(explode(pairs(col("w"))).as("p"))
      .select(col("p.a").as("wa"), col("p.b").as("wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("n_ab"))
    val dfw = d.select(explode(col("w")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("dfw"))
    val n = docs.agg(count(lit(1)).as("n"))
    dfp
      .join(dfw.select(col("word").as("wa"), col("dfw").as("df_a")), "wa")
      .join(dfw.select(col("word").as("wb"), col("dfw").as("df_b")), "wb")
      .crossJoin(broadcast(n))
      .filter(col("n_ab") >= MinPairDocs)
      .select(col("wa"), col("wb"), col("n_ab"),
        ((col("n_ab") * col("n")).cast(DoubleType)
          / (col("df_a") * col("df_b")).cast(DoubleType)).as("lift"))
      .orderBy(col("lift").desc, col("wa"), col("wb"))
      .limit(CoocTopK)
  }

  private val BpeTopK = 20

  /** First BPE merge round of tokenizer training: the corpus-weighted
    * frequency of every adjacent character pair, top-[[BpeTopK]] merge
    * candidates. (Full BPE iterates merge→recount on the driver; the
    * per-round count — the expensive distributed step — is this query.)
    *
    * Scale shape: the corpus FIRST collapses to the distinct-word
    * vocabulary with frequencies (one shuffle, output bounded by |vocab|,
    * not corpus size), and the quadratic-ish character-pair expansion runs
    * over that vocabulary only, weighted by the word counts — on a 100 TB
    * corpus the pair stage touches millions of vocab rows, not trillions
    * of tokens. Top-k via orderBy+limit plans TakeOrderedAndProject (no
    * global sort materialization). */
  val q86BpePairCounts = QueryDef(
    "q86_bpe_pair_counts",
    s"""WITH t AS (SELECT unnest($sqlWords) AS w FROM documents),
       |v AS (SELECT w, COUNT(*) AS freq FROM t WHERE len(w) >= 1
       |    GROUP BY w),
       |p AS (SELECT unnest(list_transform(range(1, len(w)),
       |        i -> substr(w, i, 2))) AS pair, freq
       |    FROM v),
       |c AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
       |    FROM p GROUP BY pair)
       |SELECT pair, cnt FROM c
       |ORDER BY cnt DESC, pair
       |LIMIT $BpeTopK""".stripMargin) { (spark, dir) =>
    val vocab = Tables(spark, dir, "documents")
      .select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    vocab
      .filter(length(col("w")) >= 2)
      .select(col("freq"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(BpeTopK)
  }

  private val BpeMerges = 4

  /** One BPE merge round as a DuckDB CTE chain `x$r` → … → `v${r+1}`:
    * pair counts over the current symbolization, the argmax pair (count
    * desc, then lexicographic — fully deterministic), and the greedy
    * left-to-right re-segmentation, all relational. Mirrors the Spark
    * round in [[q95BpeMerges]] bit for bit. */
  private def sqlBpeRound(r: Int): String =
    s"""x$r AS (SELECT w, freq,
       |    CAST(generate_subscripts(syms, 1) AS BIGINT) AS pos,
       |    unnest(syms) AS s FROM v$r),
       |p$r AS (SELECT w, freq, pos, s,
       |    lead(s) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM x$r),
       |c$r AS (SELECT s AS a, nxt AS b, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM p$r WHERE nxt IS NOT NULL GROUP BY s, nxt),
       |bp$r AS (SELECT a, b, cnt FROM c$r ORDER BY cnt DESC, a, b LIMIT 1),
       |m$r AS (SELECT p.w, p.freq, p.pos, p.s, p.nxt, bp.a, bp.b,
       |    SUM(CASE WHEN p.s = bp.a THEN 0 ELSE 1 END) OVER
       |      (PARTITION BY p.w ORDER BY p.pos
       |       ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM p$r p LEFT JOIN bp$r bp ON TRUE),
       |n$r AS (SELECT *, MIN(CASE WHEN s = a THEN pos END) OVER
       |      (PARTITION BY w, grp) AS run0 FROM m$r),
       |g$r AS (SELECT *, (s = a AND nxt IS NOT NULL AND nxt = b
       |      AND (a <> b OR (pos - run0) % 2 = 0)) AS mstart FROM n$r),
       |h$r AS (SELECT *, COALESCE(lag(mstart) OVER
       |      (PARTITION BY w ORDER BY pos), FALSE) AS skip FROM g$r),
       |o$r AS (SELECT w, freq, pos,
       |    CASE WHEN mstart THEN s || nxt ELSE s END AS out
       |  FROM h$r WHERE NOT skip),
       |v${r + 1} AS (SELECT w, freq, list(out ORDER BY pos) AS syms
       |  FROM o$r GROUP BY w, freq)""".stripMargin

  /** Full BPE tokenizer-training merge loop — [[BpeMerges]] rounds of
    * count→argmax→re-segment (q86 is exactly round 1's count stage; this
    * closes the loop the round-6 verdict asked for). Output is the learned
    * merge TABLE (round, pair, merged symbol, corpus-weighted count) — the
    * model a tokenizer trainer persists.
    *
    * Greedy left-to-right merge semantics, relationally: for a chosen pair
    * (a,b) with a ≠ b, adjacent matches can never overlap (a second match
    * at pos+1 would need s[pos+1] = a AND = b), so ALL matches merge
    * simultaneously; for a = b (a run of identical symbols), greedy takes
    * every EVEN offset within each maximal run — recovered with a
    * run-grouping prefix sum + min-pos-per-run window, no sequential scan.
    * InvariantSpec pins both cases against a driver-side reference merge.
    *
    * Scale shape: the corpus collapses to the distinct-word vocabulary
    * (one corpus-scale shuffle, shared with q86), and every merge round
    * runs over |vocab| rows — bounded by the language, not the corpus, so
    * the loop costs the same at 100 TB as at 100 GB. Driver state is one
    * (pair, count) row per round (the model, not data — the Lloyd-loop
    * pattern); each generation is persisted and the previous one released,
    * so round r never re-derives rounds 1..r-1. */
  /** The q95/q135 oracle: the full training CTE chain emitting the merge
    * table — shared verbatim so the cached (q95) and cache-bypassing
    * (q135) paths are held to the IDENTICAL ground truth. */
  private def sqlBpeMergesOracle: String =
    s"""WITH v0 AS (SELECT w, freq,
       |    list_transform(range(1, len(w) + 1), i -> substr(w, i, 1))
       |      AS syms
       |  FROM (SELECT w, COUNT(*) AS freq FROM
       |      (SELECT unnest($sqlWords) AS w FROM documents)
       |    WHERE len(w) >= 1 GROUP BY w)),
       |${(0 until BpeMerges).map(sqlBpeRound).mkString(",\n")}
       |SELECT * FROM (
       |${(0 until BpeMerges)
        .map(r => s"SELECT CAST(${r + 1} AS INTEGER) AS rnd, a AS sym_a, " +
          s"b AS sym_b, a || b AS merged, cnt FROM bp$r")
        .mkString("\nUNION ALL\n")})
       |ORDER BY rnd""".stripMargin

  private def mergesDf(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    import spark.implicits._
    merges.toDF("rnd", "sym_a", "sym_b", "cnt")
      .select(col("rnd"), col("sym_a"), col("sym_b"),
        concat(col("sym_a"), col("sym_b")).as("merged"), col("cnt"))
      .orderBy(col("rnd"))
  }

  val q95BpeMerges = QueryDef(
    "q95_bpe_merges", sqlBpeMergesOracle) { (spark, dir) =>
    val (vocab, merges) = BpeCache.trained(spark, dir)
    vocab.unpersist(false) // q95 emits only the merge table (no-op when cached)
    mergesDf(spark, merges)
  }

  /** q95's training computed FRESH every run — [[BpeCache]] bypassed by
    * construction (calls [[bpeTrain]] directly). Semantically identical to
    * q95 (same oracle); exists so the merge-loop pipeline — which the
    * artifact cache otherwise reduces to a parquet read in q95/q103/q108 —
    * stays VISIBLE to the bench regression gate and oracle-gated every
    * round (the q102 pattern: a regression in the training itself must
    * trip the gate, not hide behind the cache). */
  val q135BpeTrainPipeline = QueryDef(
    "q135_bpe_train_pipeline", sqlBpeMergesOracle) { (spark, dir) =>
    mergesDf(spark, bpeTrainMerges(Tables(spark, dir, "documents")))
  }

  /** The full [[BpeMerges]]-round training loop over `docs`' vocabulary:
    * returns the FINAL segmented vocabulary (still persisted — callers
    * that only need the merge table unpersist it; q103 scans it) and the
    * learned merge list. Factored from q95 so tokenizer APPLICATION
    * (q103) reuses the identical generations — the final vocabulary IS
    * the trained tokenizer's segmentation of every corpus word. */
  private[operators] def bpeTrain(docs: DataFrame)
      : (DataFrame, Seq[(Int, String, String, Long)]) =
    bpeTrainImpl(docs, buildFinal = true)

  /** [[bpeTrain]]'s merge list alone — skips BUILDING the final
    * generation entirely (the round-N argmax never reads it), saving one
    * full re-segmentation job for merge-table-only callers (q135). */
  private[operators] def bpeTrainMerges(
      docs: DataFrame): Seq[(Int, String, String, Long)] =
    bpeTrainImpl(docs, buildFinal = false)._2

  private def bpeTrainImpl(docs: DataFrame, buildFinal: Boolean)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    import org.apache.spark.storage.StorageLevel
    var vocab = bpeVocab(docs).persist(StorageLevel.MEMORY_AND_DISK)
    // materialize ONCE at full width (the only corpus-scale pass), then
    // run the merge rounds under the loop profile sized to the cached
    // vocabulary — the per-round argmax + re-segment actions shuffle
    // word-level rows, and under the session's width/adaptivity their
    // fixed per-stage scheduling dominates at small SF (LoopConf)
    val nWords = vocab.count()
    LoopConf.pinned(docs.sparkSession,
      LoopConf.parts(docs.sparkSession, nWords)) {
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    // One action per round: the round-r argmax is the FIRST action over
    // the round-(r-1) merge result, so it materializes that generation's
    // persist as a side effect — no eager count() per round. The parent
    // generation must stay cached until its child has materialized
    // (releasing it earlier would force the child's first action to
    // recompute the whole generation chain), hence the one-round
    // unpersist lag.
    var parent: Option[DataFrame] = None
    var r = 1
    var exhausted = false
    while (r <= BpeMerges && !exhausted) {
      bpeTopPair(vocab) match {
        case None =>
          // degenerate corpus: no adjacent pair left to merge. The
          // oracle's empty bp$r CTE leaves every later generation
          // unchanged (LEFT JOIN), so stopping here keeps output parity.
          exhausted = true
        case Some((a, b, cnt)) =>
          merges += ((r, a, b, cnt))
          if (r < BpeMerges || buildFinal) {
            parent.foreach(_.unpersist(false))
            parent = Some(vocab)
            vocab =
              bpeMerge(vocab, a, b).persist(StorageLevel.MEMORY_AND_DISK)
          }
          r += 1
      }
    }
    if (buildFinal) {
      // The final generation is still lazy here; materialize it inside
      // the pinned window (callers scan it: q103's encode join, the
      // BpeCache publish) before releasing its parent.
      vocab.count()
      parent.foreach(_.unpersist(false))
    } else {
      // merges-only: the last argmax already materialized what `vocab`
      // points at; release everything.
      parent.foreach(_.unpersist(false))
      vocab.unpersist(false)
    }
    (vocab, merges.result())
    }
  }

  /** Tokenizer APPLICATION: per-document token counts under the trained
    * BPE merges — the "how many tokens is my corpus under this tokenizer"
    * question every training-data budget starts from (q80 samples by
    * whitespace tokens; this is the learned-subword refinement). The
    * trained segmentation comes free: after [[bpeTrain]]'s rounds the
    * vocabulary rows ARE every word's subword split, so application is a
    * broadcast-sized join word → subword count, then a per-doc sum —
    * no per-document re-segmentation, no UDF.
    *
    * Scale shape: the corpus collapses to the distinct-word vocabulary
    * once (q86/q95's only corpus-scale shuffle); the doc-side explode is
    * narrow; the vocab join broadcasts (|vocab| ≪ corpus); the per-doc
    * agg is map-side combinable. The merge loop's driver rows are model
    * state (Lloyd-loop pattern). Oracle chains the identical generation
    * CTEs and mirrors the join/sum. */
  val q103BpeEncode = QueryDef(
    "q103_bpe_encode",
    s"""WITH v0 AS (SELECT w, freq,
       |    list_transform(range(1, len(w) + 1), i -> substr(w, i, 1))
       |      AS syms
       |  FROM (SELECT w, COUNT(*) AS freq FROM
       |      (SELECT unnest($sqlWords) AS w FROM documents)
       |    WHERE len(w) >= 1 GROUP BY w)),
       |${(0 until BpeMerges).map(sqlBpeRound).mkString(",\n")},
       |wt AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub
       |  FROM v$BpeMerges),
       |dw AS (SELECT doc_id, w FROM
       |    (SELECT doc_id, unnest($sqlWords) AS w FROM documents)
       |  WHERE len(w) >= 1)
       |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(t.n_sub) AS BIGINT) AS bpe_tokens
       |FROM dw d JOIN wt t ON t.w = d.w
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents")
    // trained segmentation from the persisted artifact (BpeCache) — a
    // broadcast-sized parquet read; first-ever use trains + publishes
    val (vocab, _) = BpeCache.trained(spark, dir)
    val wt = vocab.select(col("w"),
      size(col("syms")).cast(LongType).as("n_sub"))
    docs
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .join(wt, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer FERTILITY datasheet — per source, how efficiently the
    * trained BPE (q95's merges) encodes that provider's text: words,
    * subword tokens, characters, fertility = tokens/word, and
    * chars-per-token. The per-source compression report a tokenizer/data
    * team reads before fixing a token budget (a source with outlier
    * fertility is mis-tokenized or not natural language) — the source
    * rollup of q103's per-doc counts.
    *
    * Shape at scale: identical to q103 (the trained vocabulary IS the
    * segmentation — broadcast-sized join, per-source agg map-side
    * combinable), and the trained generation is SHARED with q95/q103
    * through the [[BpeCache]] artifact, so the merge loop trains once per
    * corpus — across JVMs, not just in-session. All sums are
    * integers (exact in any order); each ratio is one division. */
  val q108BpeFertility = QueryDef(
    "q108_bpe_fertility",
    s"""WITH v0 AS (SELECT w, freq,
       |    list_transform(range(1, len(w) + 1), i -> substr(w, i, 1))
       |      AS syms
       |  FROM (SELECT w, COUNT(*) AS freq FROM
       |      (SELECT unnest($sqlWords) AS w FROM documents)
       |    WHERE len(w) >= 1 GROUP BY w)),
       |${(0 until BpeMerges).map(sqlBpeRound).mkString(",\n")},
       |wt AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub
       |  FROM v$BpeMerges),
       |dw AS (SELECT source, w FROM
       |    (SELECT source, unnest($sqlWords) AS w FROM documents)
       |  WHERE len(w) >= 1)
       |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(t.n_sub) AS BIGINT) AS bpe_tokens,
       |  CAST(SUM(strlen(d.w)) AS BIGINT) AS n_chars,
       |  CAST(SUM(t.n_sub) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS fertility,
       |  CAST(SUM(strlen(d.w)) AS DOUBLE) / CAST(SUM(t.n_sub) AS DOUBLE)
       |    AS chars_per_token
       |FROM dw d JOIN wt t ON t.w = d.w
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents")
    val (vocab, _) = BpeCache.trained(spark, dir)
    val wt = vocab.select(col("w"),
      size(col("syms")).cast(LongType).as("n_sub"))
    docs
      .select(col("source"), explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .join(wt, "w")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("bpe_tokens"),
        sum(length(col("w")).cast(LongType)).as("n_chars"))
      .select(col("source"), col("n_words"), col("bpe_tokens"),
        col("n_chars"),
        (col("bpe_tokens").cast(DoubleType) /
          col("n_words").cast(DoubleType)).as("fertility"),
        (col("n_chars").cast(DoubleType) /
          col("bpe_tokens").cast(DoubleType)).as("chars_per_token"))
      .orderBy(col("source"))
  }

  /** (w, freq, syms = characters) vocabulary of any (text) relation — the
    * BPE training state's generation 0. */
  private[operators] def bpeVocab(docs: DataFrame): DataFrame =
    docs
      .select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("syms"))

  /** (freq, s, nxt) rows derived IN-ROW from each word's symbol array —
    * each position paired with its successor (NULL at the last position,
    * so one pass carries both pair counts and total symbol occurrences).
    * Replaces the posexplode + lead() form, whose per-word window
    * SHUFFLED the full position-level table every trainer round; the
    * in-row transform is narrow, and the only exchange left in a round
    * is the map-side-combined (s, nxt) count aggregation. */
  private def bpePairRows(vocab: DataFrame): DataFrame =
    vocab
      .select(col("freq"),
        explode(transform(col("syms"), (s, i) =>
          struct(s.as("s"), get(col("syms"), i + lit(1)).as("nxt"))))
          .as("p"))
      .select(col("freq"), col("p.s").as("s"), col("p.nxt").as("nxt"))

  /** Corpus-weighted argmax adjacent pair (count desc, then lexicographic
    * — fully deterministic), or None when no adjacent pair exists (every
    * word already a single symbol). One tiny driver row per round: the
    * MODEL. */
  private[operators] def bpeTopPair(
      vocab: DataFrame): Option[(String, String, Long)] =
    bpePairRows(vocab).filter(col("nxt").isNotNull)
      .groupBy(col("s"), col("nxt")).agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("s"), col("nxt"))
      .limit(1).collect().headOption
      .map(t => (t.getString(0), t.getString(1), t.getLong(2)))

  /** Greedy left-to-right merge of pair (a,b) across every vocabulary
    * word — one narrow in-row pass via the native
    * [[graft.functions.BpeMergeStep]] expression (the pair is model
    * state, compiled into the serialized expression). InvariantSpec pins
    * the semantics — including the a = b even-offset-within-run rule —
    * against a driver-side sequential reference merge. */
  private[operators] def bpeMerge(vocab: DataFrame, a: String,
      b: String): DataFrame =
    vocab.select(col("w"), col("freq"),
      graft.functions.BpeMergeStep.merged(col("syms"), a, b).as("syms"))

  private val CurationK = 5

  /** Per-source curation shortlist: the [[CurationK]] highest-stop-ratio
    * (most natural-language-like) documents of every source — the "pick
    * the best docs per provider" step of corpus curation.
    *
    * Deliberately written in the `row_number() <= k` window shape:
    * with [[graft.functions.GraftExtensions]] registered (the Verify and
    * Bench sessions), the [[graft.plans.TopKRewrite]] optimizer rule
    * replaces the full per-source sort with the native bounded-heap
    * [[graft.plans.TopKPerKey]] operator — each partition keeps k rows
    * per source instead of sorting every document, the difference between
    * O(n) + k·log k and O(n log n) per source at corpus scale. Score is a
    * single int/int IEEE division (bit-exact cross-engine); doc_id breaks
    * ties deterministically. */
  val q91TopQualityPerSource = QueryDef(
    "q91_top_quality_per_source",
    s"""WITH s AS (SELECT source, doc_id,
       |    CAST(${sqlCountIn(stopEn)} AS DOUBLE)
       |      / CAST(len($sqlWords) AS DOUBLE) AS score
       |  FROM documents),
       |r AS (SELECT source, doc_id, score,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY score DESC, doc_id) AS INTEGER) AS rn
       |  FROM s)
       |SELECT source, doc_id, score, rn FROM r
       |WHERE rn <= $CurationK
       |ORDER BY source, rn""".stripMargin) { (spark, dir) =>
    val w = words(col("text"))
    val score = countIn(w, stopEn).cast(DoubleType) /
      size(w).cast(DoubleType)
    val win = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
    Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"), score.as("score"))
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") <= CurationK)
      .orderBy(col("source"), col("rn"))
  }

  // ------------------------------------------------------------------
  // q144/q145: unigram-LM tokenizer (SentencePiece-style EM pruning)
  // ------------------------------------------------------------------

  /** Max candidate piece length. 4 keeps the candidate space (and the
    * oracle's prefix-join fan-out) bounded while capturing the corpus's
    * productive subwords; real deployments raise it with the same shape. */
  private[operators] val UniMaxPieceLen = 4

  /** Seed inventory size (multi-char pieces) and the per-round keep sizes:
    * 256 → 192 → 128 is SentencePiece's 0.75 shrink factor applied twice. */
  private[operators] val UniSeedK = 256
  private[operators] val UniKeepK = Seq(192, 128)

  /** Corpus word vocabulary with frequencies — the unit the trainer
    * iterates over (one corpus-scale shuffle, then everything below is
    * vocabulary-sized: bounded by the language, not the corpus). */
  private def uniWordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** One greedy leftmost-longest-match segmentation of the vocabulary
    * under `pieces`, returning corpus-weighted usage per piece.
    *
    * The piece inventory is MODEL state (≤ [[UniSeedK]] + alphabet rows),
    * compiled into the native [[graft.functions.UniSegment]] expression —
    * ONE narrow pass over the word table emits each word's piece array
    * in-line (no remainder loop, no prefix joins), one vocabulary-sized
    * shuffle collapses usage per piece, and the driver folds the ≤
    * |pieces| result rows (the Lloyd-loop pattern: driver holds the
    * model, not data). ONE scheduled job per segmentation — the round-16
    * step-loop paid one job per consumed-piece step (≈ longest-word/avg-
    * piece-len of them) per pass, and per-job scheduling, not data, was
    * the fresh-train floor at bench SF. Single-char pieces cover every
    * position by construction, so the match never fails on the training
    * vocabulary. */
  private def uniSegmentUsage(wf: DataFrame,
      pieces: Seq[(String, Int)]): Map[String, Long] =
    uniSegment(wf, pieces, withVocab = false)._1

  /** As [[uniSegmentUsage]]; with `withVocab` additionally returns the
    * segmented vocabulary (w, n_pieces) — a word's piece count is the
    * size of its emitted piece array, truncated ([[Mirror.truncated]],
    * as every loop table is) so the returned table never
    * re-derives the word-frequency shuffle after the trainer releases
    * its cache. The application table the tokenizer family serializes
    * (BPE's `syms` analog), consumed by q146. */
  private def uniSegment(wf: DataFrame, pieces: Seq[(String, Int)],
      withVocab: Boolean): (Map[String, Long], Option[DataFrame]) = {
    val seged = wf.select(col("w"), col("freq"),
      graft.functions.UniSegment.pieces(col("w"), pieces.map(_._1))
        .as("pieces"))
    val usage = seged
      .select(explode(col("pieces")).as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocab =
      if (!withVocab) None
      else Some(truncated(seged
        .filter(size(col("pieces")) > 0)
        .select(col("w"), size(col("pieces")).cast("long").as("n_pieces"))))
    (usage, vocab)
  }

  /** Unigram-LM tokenizer training — the SentencePiece (Kudo 2018) family
    * member next to BPE, as an INTEGER-EXACT hard-EM surrogate so DuckDB
    * reproduces every round bit-for-bit: Viterbi segmentation under
    * uniform piece cost is replaced by deterministic leftmost-longest
    * match (WordPiece's MaxMatch — the greedy specialization of Viterbi),
    * the likelihood-loss prune score by corpus-weighted usage counts
    * (integer sums, exact in any engine), and the EM loop by
    * seed → segment → count → keep-top-K rounds with the 0.75 shrink
    * factor ([[UniKeepK]]). What survives of the real algorithm: the
    * substring-seeded candidate inventory, re-segmentation between prune
    * rounds (usage redistributes onto survivors — the E-step), rank-based
    * pruning that never drops single characters (coverage guarantee),
    * and a final piece table (piece, length, usage) — exactly what
    * sentencepiece serializes.
    *
    * Scale shape: ONE corpus-scale shuffle (the word-frequency collapse,
    * shared shape with q86/q95); the candidate enumeration explodes ≤
    * 4·len substrings per DISTINCT word (vocabulary-sized); seed/prune
    * selection is orderBy+limit (TakeOrdered per-partition heaps, no
    * single-partition window); segmentation is broadcast-joined and
    * vocabulary-sized; the model lives on the driver between rounds. */
  private[operators] def unigramTrainFull(docs: DataFrame)
      : (DataFrame, DataFrame) = {
    val (pieces, vocab) = unigramTrainImpl(docs, withVocab = true)
    (pieces, vocab.get)
  }

  private def unigramTrainImpl(docs: DataFrame, withVocab: Boolean)
      : (DataFrame, Option[DataFrame]) = {
    import org.apache.spark.storage.StorageLevel
    val spark = docs.sparkSession
    import spark.implicits._
    val wf = uniWordFreq(docs).persist(StorageLevel.MEMORY_AND_DISK)
    // the ONE corpus-scale action (word-frequency collapse) runs under
    // the session's full width + AQE; everything after iterates over the
    // cached vocabulary-sized table, so the whole remainder of training
    // — seed enumeration included — runs in ONE pinned window sized to
    // it (LoopConf: loop-sized shuffle width, AQE off so each action is
    // exactly one scheduled job; TrainerLoopSpec pins the budget)
    val nWords = wf.count()
    val (fin, vocab) = LoopConf.pinned(spark,
      LoopConf.parts(spark, nWords)) {
    val sub = wf
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("freq"), col("i"),
        explode(sequence(lit(1), lit(UniMaxPieceLen))).as("k"))
      .filter(col("i") + col("k") <= length(col("w")) + 1)
      .select(col("w").substr(col("i"), col("k")).as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("freq"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // chars (every length-1 candidate) and the multi-char seed shortlist
    // in ONE action: the branches are disjoint by length and each side's
    // order is reconstructed driver-side from the collected (piece, freq)
    // rows, so fusing the two collects drops a job without touching the
    // selection semantics (the seed side is still TakeOrdered by
    // freq desc, piece — the limit runs inside the union's right branch).
    val inv = sub.filter(length(col("piece")) === 1)
      .unionAll(sub.filter(length(col("piece")) >= 2)
        .orderBy(col("freq").desc, col("piece")) // TakeOrdered, ties by piece
        .limit(UniSeedK))
      .collect()
    sub.unpersist(false)
    val chars: Seq[(String, Int)] = inv
      .collect { case r if r.getString(0).length == 1 => r.getString(0) }
      .sorted.map(p => (p, 1)).toSeq
    val seed: Seq[(String, Int)] = inv
      .collect { case r if r.getString(0).length >= 2 =>
        (r.getString(0), r.getLong(1)) }
      .sortBy { case (p, f) => (-f, p) }
      .map { case (p, _) => (p, p.length) }.toSeq
    var pieces = chars ++ seed
    UniKeepK.foreach { keep =>
      val u = uniSegmentUsage(wf, pieces)
      val kept = u.toSeq.filter(_._1.length >= 2)
        .sortBy { case (p, c) => (-c, p) }.take(keep)
      pieces = chars ++ kept.map { case (p, _) => (p, p.length) }
    }
    uniSegment(wf, pieces, withVocab)
    }
    wf.unpersist(false)
    val pieceTable = fin.toSeq.sortBy { case (p, c) => (-c, p) }
      .map { case (p, c) => (p, p.length.toLong, c) }
      .toDF("piece", "plen", "usage")
      .orderBy(col("usage").desc, col("piece"))
    (pieceTable, vocab)
  }

  /** [[unigramTrainFull]]'s piece table alone (q145's output shape) —
    * trained with `withVocab = false`, so the final segmentation skips
    * the per-step truncation banking of surviving word sets (one
    * eager job per step that only the q146 fertility consumer needs). */
  private[operators] def unigramTrain(docs: DataFrame): DataFrame =
    unigramTrainImpl(docs, withVocab = false)._1

  /** One greedy-segmentation pass of the oracle as a recursive CTE:
    * leftmost-longest match via 4 prefix LEFT JOINs (longest wins through
    * COALESCE — no correlated subquery), one recursion level per emitted
    * piece, terminating when the remainder empties. `pieceTbl` must carry
    * (piece, plen); `uwf` is the word-frequency CTE. */
  private def sqlUniSeg(tag: String, pieceTbl: String): String = {
    val joins = (UniMaxPieceLen to 1 by -1).map(k =>
      s"  LEFT JOIN $pieceTbl q$k ON q$k.plen = $k " +
        s"AND q$k.piece = substr(s.rem, 1, $k)").mkString("\n")
    val lens = (UniMaxPieceLen to 1 by -1).map(k => s"q$k.plen")
      .mkString(", ")
    val ps = (UniMaxPieceLen to 1 by -1).map(k => s"q$k.piece")
      .mkString(", ")
    s"""seg$tag AS (
       |  SELECT w, freq, w AS rem, CAST(NULL AS VARCHAR) AS piece FROM uwf
       |  UNION ALL
       |  SELECT s.w, s.freq, substr(s.rem, 1 + COALESCE($lens)),
       |    COALESCE($ps)
       |  FROM seg$tag s
       |$joins
       |  WHERE len(s.rem) > 0),
       |c$tag AS (SELECT piece, SUM(freq) AS usage FROM seg$tag
       |  WHERE piece IS NOT NULL GROUP BY piece)""".stripMargin
  }

  private def sqlUniPrune(from: String, keep: Int): String =
    s"""(SELECT piece, len(piece) AS plen FROM (
       |  SELECT piece, usage, row_number()
       |      OVER (ORDER BY usage DESC, piece) AS rn
       |  FROM $from WHERE len(piece) >= 2) WHERE rn <= $keep
       |UNION ALL SELECT piece, plen FROM uchars)""".stripMargin

  /** The full training loop as one recursive-CTE chain (terminal tables:
    * `seg2` = the final segmentation's per-piece emissions, `c2` = final
    * usage counts) — shared verbatim by every unigram oracle so the
    * cached, bypass, and application paths are held to the identical
    * ground truth (the q95/q135 discipline). */
  private def sqlUnigramChain: String =
    s"""uwf AS (SELECT w, COUNT(*) AS freq FROM
       |    (SELECT unnest($sqlWords) AS w FROM documents)
       |  WHERE len(w) >= 1 GROUP BY w),
       |us1 AS (SELECT w, freq, unnest(range(1, len(w) + 1)) AS i FROM uwf),
       |us2 AS (SELECT w, freq, i,
       |    unnest(range(1, ${UniMaxPieceLen + 1})) AS k FROM us1),
       |usub AS (SELECT substr(w, CAST(i AS INTEGER), CAST(k AS INTEGER))
       |      AS piece, SUM(freq) AS freq
       |  FROM us2 WHERE i + k <= len(w) + 1 GROUP BY 1),
       |uchars AS (SELECT piece, 1 AS plen FROM usub WHERE len(piece) = 1),
       |p0 AS (SELECT piece, len(piece) AS plen FROM (
       |    SELECT piece, freq, row_number()
       |        OVER (ORDER BY freq DESC, piece) AS rn
       |    FROM usub WHERE len(piece) >= 2) WHERE rn <= $UniSeedK
       |  UNION ALL SELECT piece, plen FROM uchars),
       |${sqlUniSeg("0", "p0")},
       |p1 AS ${sqlUniPrune("c0", UniKeepK.head)},
       |${sqlUniSeg("1", "p1")},
       |p2 AS ${sqlUniPrune("c1", UniKeepK(1))},
       |${sqlUniSeg("2", "p2")}""".stripMargin

  private def sqlUnigramOracle: String =
    s"""WITH RECURSIVE
       |$sqlUnigramChain
       |SELECT piece, CAST(len(piece) AS BIGINT) AS plen,
       |  CAST(usage AS BIGINT) AS usage
       |FROM c2
       |ORDER BY usage DESC, piece""".stripMargin

  /** The trained unigram piece table, served from the [[UnigramCache]]
    * artifact (training + publishing on first use) — the q95 pattern:
    * downstream consumers read the persisted tokenizer, they never
    * retrain. */
  val q144UnigramPieces = QueryDef(
    "q144_unigram_pieces", sqlUnigramOracle) { (spark, dir) =>
    UnigramCache.pieces(spark, dir)
      .orderBy(col("usage").desc, col("piece"))
  }

  /** q144's training computed FRESH every run — [[UnigramCache]] bypassed
    * by construction, same oracle, so the EM-prune pipeline stays visible
    * to the bench regression gate (the q135/q102 pattern). */
  val q145UnigramTrainPipeline = QueryDef(
    "q145_unigram_train_pipeline", sqlUnigramOracle) { (spark, dir) =>
    unigramTrain(Tables(spark, dir, "documents"))
  }

  /** Tokenizer FERTILITY under the trained unigram pieces — q108's
    * per-source compression report for the tokenizer family's second
    * member, and the application-side consumer that makes the
    * [[UnigramCache]] artifact a multi-reader table like BPE's: the
    * segmented vocabulary (w → n_pieces) comes back as a broadcast-sized
    * parquet read, so application is one word join + a map-side
    * combinable per-source sum — no re-segmentation, ever. The oracle
    * derives n_pieces from the shared chain's `seg2` emissions (one row
    * per greedy step), pinning the Spark-side vocabulary payload to the
    * same ground truth as training itself. */
  val q146UnigramFertility = QueryDef(
    "q146_unigram_fertility",
    s"""WITH RECURSIVE
       |$sqlUnigramChain,
       |wt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_sub FROM seg2
       |  WHERE piece IS NOT NULL GROUP BY w),
       |dw AS (SELECT source, w FROM
       |    (SELECT source, unnest($sqlWords) AS w FROM documents)
       |  WHERE len(w) >= 1)
       |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(t.n_sub) AS BIGINT) AS uni_tokens,
       |  CAST(SUM(t.n_sub) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS fertility
       |FROM dw d JOIN wt t ON t.w = d.w
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin) { (spark, dir) =>
    val wt = UnigramCache.vocab(spark, dir)
      .select(col("w"), col("n_pieces").as("n_sub"))
    Tables(spark, dir, "documents")
      .select(col("source"), explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .join(wt, "w")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("uni_tokens"))
      .select(col("source"), col("n_words"), col("uni_tokens"),
        (col("uni_tokens").cast(DoubleType) /
          col("n_words").cast(DoubleType)).as("fertility"))
      .orderBy(col("source"))
  }

  // ------------------------------------------------------------------
  // q162/q163: WordPiece tokenizer (Schuster & Nakajima 2012; BERT's
  // trainer) — completes the tokenizer triple next to BPE (q95 family)
  // and unigram-LM (q144 family). Identical loop skeleton to BPE with
  // ONE semantic change: the merge argmax maximizes the LIKELIHOOD GAIN
  // score count(ab) / (count(a)·count(b)) — "merge what co-occurs more
  // than its parts predict" — instead of raw pair frequency. Symbol
  // counts are corpus-weighted occurrence totals under the CURRENT
  // segmentation, so the score re-normalizes every round.
  // ------------------------------------------------------------------

  private val WpMerges = 4

  /** Round-r WordPiece merge tuple: (round, a, b, pair count, count(a),
    * count(b)). The score is derived, never stored: (cnt/ca)/cb with
    * BOTH divisions in double — an int64 product ca·cb would silently
    * wrap past ~9.2e18 (reachable at ~1e13 per-symbol occurrences, i.e.
    * the documented 100 TB scale) where Spark wraps and DuckDB raises;
    * two IEEE divisions are deterministic and identical in both
    * engines at every magnitude. */
  private type WpMerge = (Int, String, String, Long, Long, Long)

  /** Corpus-weighted WordPiece argmax: the adjacent pair maximizing
    * cnt(ab)/(cnt(a)·cnt(b)), ties lexicographic. ONE corpus-scale pass
    * per round: [[bpePairRows]] emits a (s, successor-or-NULL) row per
    * symbol occurrence, so the same (s, nxt) count aggregation carries
    * both the pair candidates (nxt non-null) and, summed over nxt per s,
    * the total symbol occurrences — ca(s) = Σ_nxt cnt(s, nxt), because
    * every occurrence has exactly one successor row. The two consumers
    * share an identical aggregation subtree, so ReuseExchange serves both
    * from one shuffle write; the symbol-count side is then a
    * pair-inventory-sized re-aggregation (model-state width). The old
    * form ran a SECOND corpus-scale explode+agg for the symbol counts.
    * shuffle_hash, NOT broadcast, on the count joins: a BroadcastExchange
    * is its own scheduled job (one per join side, each recomputing the
    * aggregate to collect it), which triples the loop's per-round job
    * count. Inside the pinned loop window the relations are loop-width
    * — the shuffle is a couple of tasks in the SAME action. */
  private[operators] def wpTopPair(vocab: DataFrame): Option[WpMerge] = {
    val pairs = bpePairRows(vocab)
      .groupBy(col("s"), col("nxt")).agg(sum(col("freq")).as("cnt"))
    val sc = pairs.groupBy(col("s")).agg(sum(col("cnt")).as("c"))
    pairs.filter(col("nxt").isNotNull)
      .join(sc.select(col("s"), col("c").as("ca")).hint("shuffle_hash"),
        "s")
      .join(sc.select(col("s").as("nxt"), col("c").as("cb"))
        .hint("shuffle_hash"), "nxt")
      .orderBy((col("cnt").cast(DoubleType) / col("ca").cast(DoubleType)
          / col("cb").cast(DoubleType)).desc,
        col("s"), col("nxt"))
      .limit(1).collect().headOption
      .map(t => (0, t.getAs[String]("s"), t.getAs[String]("nxt"),
        t.getAs[Long]("cnt"), t.getAs[Long]("ca"), t.getAs[Long]("cb")))
  }

  /** The [[WpMerges]]-round WordPiece training loop: argmax by
    * likelihood score, re-segment with the SAME greedy merge as BPE
    * ([[bpeMerge]] — InvariantSpec's pinned semantics carry over
    * verbatim). Returns (final segmented vocabulary, merge list). */
  private[operators] def wpTrain(docs: DataFrame)
      : (DataFrame, Seq[WpMerge]) =
    wpTrainImpl(docs, buildFinal = true)

  /** [[wpTrain]]'s merge list alone — skips building the final
    * generation (the [[bpeTrainMerges]] saving, for q163). */
  private[operators] def wpTrainMerges(docs: DataFrame): Seq[WpMerge] =
    wpTrainImpl(docs, buildFinal = false)._2

  private def wpTrainImpl(docs: DataFrame, buildFinal: Boolean)
      : (DataFrame, Seq[WpMerge]) = {
    import org.apache.spark.storage.StorageLevel
    var vocab = bpeVocab(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val nWords = vocab.count() // materialize full-width, pin the rounds
    LoopConf.pinned(docs.sparkSession,
      LoopConf.parts(docs.sparkSession, nWords)) {
    val merges = Seq.newBuilder[WpMerge]
    // One action per round with a one-round unpersist lag — the same
    // argmax-materializes-the-persist discipline as [[bpeTrain]].
    var parent: Option[DataFrame] = None
    var r = 1
    var exhausted = false
    while (r <= WpMerges && !exhausted) {
      wpTopPair(vocab) match {
        case None => exhausted = true
        case Some((_, a, b, cnt, ca, cb)) =>
          merges += ((r, a, b, cnt, ca, cb))
          if (r < WpMerges || buildFinal) {
            parent.foreach(_.unpersist(false))
            parent = Some(vocab)
            vocab =
              bpeMerge(vocab, a, b).persist(StorageLevel.MEMORY_AND_DISK)
          }
          r += 1
      }
    }
    if (buildFinal) {
      // Materialize the final generation inside the pinned window (the
      // WpCache publish and q164's fertility join scan it) before
      // releasing its parent.
      vocab.count()
      parent.foreach(_.unpersist(false))
    } else {
      parent.foreach(_.unpersist(false))
      vocab.unpersist(false)
    }
    (vocab, merges.result())
    }
  }

  /** One WordPiece round as a DuckDB CTE chain `wx$r` → … → `wv${r+1}` —
    * [[sqlBpeRound]] with the argmax swapped for the likelihood score
    * (and per-round symbol counts `wsc$r` feeding it). */
  private def sqlWpRound(r: Int): String =
    s"""wx$r AS (SELECT w, freq,
       |    CAST(generate_subscripts(syms, 1) AS BIGINT) AS pos,
       |    unnest(syms) AS s FROM wv$r),
       |wp$r AS (SELECT w, freq, pos, s,
       |    lead(s) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM wx$r),
       |wsc$r AS (SELECT s, CAST(SUM(freq) AS BIGINT) AS c FROM wx$r
       |  GROUP BY s),
       |wc$r AS (SELECT s AS a, nxt AS b, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM wp$r WHERE nxt IS NOT NULL GROUP BY s, nxt),
       |wbp$r AS (SELECT a, b, cnt, ca, cb FROM (
       |    SELECT c.a, c.b, c.cnt, sa.c AS ca, sb.c AS cb
       |    FROM wc$r c
       |    JOIN wsc$r sa ON sa.s = c.a
       |    JOIN wsc$r sb ON sb.s = c.b)
       |  ORDER BY CAST(cnt AS DOUBLE) / CAST(ca AS DOUBLE)
       |    / CAST(cb AS DOUBLE) DESC, a, b
       |  LIMIT 1),
       |wm$r AS (SELECT p.w, p.freq, p.pos, p.s, p.nxt, bp.a, bp.b,
       |    SUM(CASE WHEN p.s = bp.a THEN 0 ELSE 1 END) OVER
       |      (PARTITION BY p.w ORDER BY p.pos
       |       ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM wp$r p LEFT JOIN wbp$r bp ON TRUE),
       |wn$r AS (SELECT *, MIN(CASE WHEN s = a THEN pos END) OVER
       |      (PARTITION BY w, grp) AS run0 FROM wm$r),
       |wg$r AS (SELECT *, (s = a AND nxt IS NOT NULL AND nxt = b
       |      AND (a <> b OR (pos - run0) % 2 = 0)) AS mstart FROM wn$r),
       |wh$r AS (SELECT *, COALESCE(lag(mstart) OVER
       |      (PARTITION BY w ORDER BY pos), FALSE) AS skip FROM wg$r),
       |wo$r AS (SELECT w, freq, pos,
       |    CASE WHEN mstart THEN s || nxt ELSE s END AS out
       |  FROM wh$r WHERE NOT skip),
       |wv${r + 1} AS (SELECT w, freq, list(out ORDER BY pos) AS syms
       |  FROM wo$r GROUP BY w, freq)""".stripMargin

  /** The q162/q163 oracle: the full WordPiece chain emitting the merge
    * table with the score derived in the projection — shared verbatim by
    * the cached and bypass paths (the q95/q135 discipline). */
  private def sqlWpMergesOracle: String =
    s"""WITH wv0 AS (SELECT w, freq,
       |    list_transform(range(1, len(w) + 1), i -> substr(w, i, 1))
       |      AS syms
       |  FROM (SELECT w, COUNT(*) AS freq FROM
       |      (SELECT unnest($sqlWords) AS w FROM documents)
       |    WHERE len(w) >= 1 GROUP BY w)),
       |${(0 until WpMerges).map(sqlWpRound).mkString(",\n")}
       |SELECT * FROM (
       |${(0 until WpMerges)
        .map(r => s"SELECT CAST(${r + 1} AS INTEGER) AS rnd, a AS sym_a, " +
          s"b AS sym_b, a || b AS merged, cnt, ca, cb, " +
          "CAST(cnt AS DOUBLE) / CAST(ca AS DOUBLE) / CAST(cb AS DOUBLE)" +
          " AS score " +
          s"FROM wbp$r")
        .mkString("\nUNION ALL\n")})
       |ORDER BY rnd""".stripMargin

  private def wpMergesDf(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[WpMerge]): DataFrame = {
    import spark.implicits._
    merges.toDF("rnd", "sym_a", "sym_b", "cnt", "ca", "cb")
      .select(col("rnd"), col("sym_a"), col("sym_b"),
        concat(col("sym_a"), col("sym_b")).as("merged"),
        col("cnt"), col("ca"), col("cb"),
        (col("cnt").cast(DoubleType) / col("ca").cast(DoubleType)
          / col("cb").cast(DoubleType)).as("score"))
      .orderBy(col("rnd"))
  }

  /** The trained WordPiece merge table, served from the [[WpCache]]
    * artifact (training + publishing on first use). */
  val q162WordpieceMerges = QueryDef(
    "q162_wordpiece_merges", sqlWpMergesOracle) { (spark, dir) =>
    val (vocab, merges) = WpCache.trained(spark, dir)
    vocab.unpersist(false)
    wpMergesDf(spark, merges)
  }

  /** q162's training computed FRESH every run — [[WpCache]] bypassed by
    * construction, same oracle, so the likelihood-argmax loop stays
    * visible to the bench regression gate (the q135/q145 pattern). */
  val q163WordpieceTrainPipeline = QueryDef(
    "q163_wordpiece_train_pipeline", sqlWpMergesOracle) { (spark, dir) =>
    wpMergesDf(spark, wpTrainMerges(Tables(spark, dir, "documents")))
  }

  /** Tokenizer FERTILITY under the trained WordPiece merges — the
    * application-side consumer that makes [[WpCache]] a multi-reader
    * artifact like its BPE (q108) and unigram (q146) siblings: the final
    * segmented vocabulary comes back as a broadcast-sized parquet read,
    * so application is one word join + a map-side combinable per-source
    * sum — never a re-segmentation. Completes the per-source fertility
    * comparison across all THREE trained tokenizers on identical
    * output shapes. */
  val q164WordpieceFertility = QueryDef(
    "q164_wordpiece_fertility",
    s"""WITH wv0 AS (SELECT w, freq,
       |    list_transform(range(1, len(w) + 1), i -> substr(w, i, 1))
       |      AS syms
       |  FROM (SELECT w, COUNT(*) AS freq FROM
       |      (SELECT unnest($sqlWords) AS w FROM documents)
       |    WHERE len(w) >= 1 GROUP BY w)),
       |${(0 until WpMerges).map(sqlWpRound).mkString(",\n")},
       |wt AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub
       |  FROM wv$WpMerges),
       |dw AS (SELECT source, w FROM
       |    (SELECT source, unnest($sqlWords) AS w FROM documents)
       |  WHERE len(w) >= 1)
       |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(t.n_sub) AS BIGINT) AS wp_tokens,
       |  CAST(SUM(t.n_sub) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS fertility
       |FROM dw d JOIN wt t ON t.w = d.w
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin) { (spark, dir) =>
    val (vocab, _) = WpCache.trained(spark, dir)
    val wt = vocab.select(col("w"),
      size(col("syms")).cast(LongType).as("n_sub"))
    Tables(spark, dir, "documents")
      .select(col("source"), explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .join(wt, "w")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("wp_tokens"))
      .select(col("source"), col("n_words"), col("wp_tokens"),
        (col("wp_tokens").cast(DoubleType) /
          col("n_words").cast(DoubleType)).as("fertility"))
      .orderBy(col("source"))
  }

  val all: Seq[QueryDef] =
    Seq(q14TextStats, q15TextQuality, q16TextLangid, q17TextFingerprint,
      q58TfSalient, q79WordCooccurrence, q86BpePairCounts,
      q91TopQualityPerSource, q95BpeMerges, q103BpeEncode,
      q108BpeFertility, q135BpeTrainPipeline, q144UnigramPieces,
      q145UnigramTrainPipeline, q146UnigramFertility,
      q162WordpieceMerges, q163WordpieceTrainPipeline,
      q164WordpieceFertility)
}
