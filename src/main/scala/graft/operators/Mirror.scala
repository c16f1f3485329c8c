package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Cross-engine deterministic primitives, each with a Spark `Column` form and
  * a mirrored DuckDB SQL fragment, so oracle comparison is bit-exact.
  *
  * Determinism strategy:
  *  - hashing goes through md5 (identical bytes→hex in every engine) and a
  *    60-bit hex prefix (fits a signed int64 in both engines, no overflow);
  *  - float reductions are sequential left folds in double over an explicit
  *    element order (array index or a sort key), never engine-order
  *    aggregation — IEEE ops on identical operand sequences are
  *    bit-identical everywhere;
  *  - no round() on compared doubles (half-boundary rounding modes differ).
  *
  * These folds stay per-row (inside higher-order functions), so they
  * parallelize embarrassingly at cluster scale — determinism costs no
  * shuffle and no ordering guarantee beyond what the query already has.
  */
object Mirror {

  /** Lineage-truncate a relation — the engine's one local-or-reliable
    * checkpoint decision. Loops (CC, PageRank) truncate each round
    * through it, and plans with several consumers of one expensive
    * subtree materialize it once (AQE reuses no exchange across sibling
    * subtrees, so each consumer would re-run the upstream, scans
    * included). Executor-local by default; `spark.graft.cc.checkpointDir`
    * switches to a reliable store (on a cluster an executor loss makes a
    * local checkpoint unrecoverable). The context's checkpoint directory
    * is set only when not already under that path — each
    * `setCheckpointDir` mints a fresh `<path>/<uuid>`, and a run keeps
    * all its truncations in one.
    *
    * Size contract (amended r19, VERDICT r18 item 4): call this only on
    * relations that are either (a) BOUNDED by a model/query/histogram
    * cardinality, or (b) NARROW-PER-DOCUMENT — one row per document of
    * a few fixed-width fields with the row width DOCUMENTED at the call
    * site and asserted in a spec (the q153/q154 per-doc score table:
    * 5 fields ≈ 40 B/row, QualitySpec pins the schema width), where the
    * checkpoint trades a fixed small multiple of the doc COUNT against
    * re-running a full corpus TEXT scan. Never on relations carrying
    * per-document payloads (text, shingle/hash sets, embeddings) — the
    * reasoning that rejected truncating q102's shingle relation. The CC
    * and PageRank loop tables (id pairs, (id, label) and (id, rank) rows)
    * are case (b). */
  def truncated(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val ckDir = spark.conf.get("spark.graft.cc.checkpointDir", "")
    if (ckDir.isEmpty) df.localCheckpoint()
    else {
      val sc = spark.sparkContext
      val root = new org.apache.hadoop.fs.Path(ckDir)
      val qualified =
        root.getFileSystem(sc.hadoopConfiguration).makeQualified(root)
      if (!sc.getCheckpointDir.exists(cur =>
          new org.apache.hadoop.fs.Path(cur).getParent == qualified))
        sc.setCheckpointDir(ckDir)
      df.checkpoint()
    }
  }

  /** Materialize a BOUNDED (model/report-sized) relation as a driver-
    * local table so every downstream consumer — including broadcast
    * builds — reads it without scheduling a job: a LocalTableScan's
    * executeCollect returns rows in-process, where a [[truncated]] copy
    * costs ~2 scheduled jobs to write and one more per re-read.
    * `maxRows` is the caller's PROOF OBLIGATION (the construction bound:
    * a top-k table, a source-pair matrix); if the relation unexpectedly
    * exceeds it, fall back to [[truncated]] — correct at any size —
    * rather than holding unbounded data on the driver (the
    * Lloyd-pattern collect discipline). */
  def localized(df: org.apache.spark.sql.DataFrame, maxRows: Int)
      : org.apache.spark.sql.DataFrame = {
    val rows = df.take(maxRows + 1)
    if (rows.length > maxRows) truncated(df)
    else df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** 60-bit hash of a string expression via md5 hex prefix — the native
    * digest-to-long expression ([[graft.functions.Md5Hash60]]),
    * value-identical to `conv(substring(md5(c), 1, 15), 16, 10)`. */
  def hash60(c: Column): Column = graft.functions.Md5Hash60.front(c)

  /** The declarative built-in form of [[hash60]] (kept as the executable
    * specification the native expression is tested against). */
  def hash60Spec(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** DuckDB fragment mirroring [[hash60]]. */
  def sqlHash60(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  /** Second independent 60-bit hash from the SAME md5 digest (hex chars
    * 16..30). */
  def hash60b(c: Column): Column = graft.functions.Md5Hash60.back(c)

  /** Declarative specification of [[hash60b]]. */
  def hash60bSpec(c: Column): Column =
    conv(substring(md5(c), 16, 15), 16, 10).cast(LongType)

  /** DuckDB fragment mirroring [[hash60b]]. */
  def sqlHash60b(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 16, 15)) AS BIGINT)"

  /** Sequential left-fold sum (double) over an array column — order-exact. */
  def foldSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, v) => acc + v)

  /** DuckDB fragment mirroring [[foldSum]] (same left fold, same 0.0 init). */
  def sqlFoldSum(arrExpr: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $arrExpr), (acc, v) -> acc + v)"

  /** Dot product of two float-array columns in double, order-exact. */
  def dotD(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)))

  /** DuckDB fragment mirroring [[dotD]]. */
  def sqlDotD(a: String, b: String): String =
    sqlFoldSum(
      s"list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))")

  /** Cosine similarity in double, bit-exact across engines (IEEE sqrt/div of
    * identical fold results). */
  def cosineD(a: Column, b: Column): Column =
    dotD(a, b) / (sqrt(dotD(a, a)) * sqrt(dotD(b, b)))

  /** DuckDB fragment mirroring [[cosineD]]. */
  def sqlCosineD(a: String, b: String): String =
    s"${sqlDotD(a, b)} / (sqrt(${sqlDotD(a, a)}) * sqrt(${sqlDotD(b, b)}))"

  /** Euclidean norm of a float-array column, for precomputing each side's
    * denominator once per row before a pairwise join (cosine = dot/(na*nb) is
    * the same IEEE ops as the inline form, so values stay bit-identical). */
  def normD(v: Column): Column = sqrt(dotD(v, v))

  /** DuckDB fragment mirroring [[normD]]. */
  def sqlNormD(v: String): String = s"sqrt(${sqlDotD(v, v)})"

  /** All unordered (a<b) pairs from a pre-sorted array column, as structs —
    * the shuffle-free way to enumerate candidate pairs inside an LSH bucket
    * (vs a bucket self-join, which re-executes the whole upstream plan for
    * the second side). Bucket sizes are bounded by band width at scale, so
    * the quadratic stays local and small. Native expression
    * ([[graft.functions.PairGen]]): the declarative form below evaluates
    * two nested interpreted lambdas plus a `slice` copy per element, and
    * the expansion is the hot inner step of q79 (up to n²/2 structs per
    * doc) and the capped LSH bucket enumeration. */
  def pairs(ids: Column): Column = graft.functions.PairGen(ids)

  /** Declarative specification of [[pairs]] (the executable spec the
    * native expression is tested against). */
  def pairsSpec(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(x.as("a"), y.as("b")))))

  /** Let-binding for an expensive expression referenced several times in
    * one projection: evaluates `bound` ONCE per row and passes it to
    * `body` as a lambda VARIABLE, so every reference inside `body` —
    * including inside nested higher-order-function lambdas — is a
    * variable lookup, not a re-evaluation.
    *
    * Why this exists: CollapseProject inlines a projected alias into
    * every downstream reference, and interpreted HOF lambdas re-evaluate
    * captured subexpressions per ELEMENT — q120's window-min originally
    * re-ran the whole shingle+md5 pipeline once per sliding window (9
    * inlined copies in the optimized plan, 4 s at sf0.001 for 500 docs;
    * 40× off). Wrapping the array in a single-element `transform` makes
    * the binding explicit to the evaluator at zero shuffle/plan cost. */
  def let1(bound: Column)(body: Column => Column): Column =
    element_at(transform(array(bound), body), 1)

  /** Integral division as a Column (Spark's `div` operator — truncating;
    * use only where the numerator is non-negative, where truncation =
    * DuckDB's flooring `//`). Usable inside HOF lambdas, where `expr()`
    * strings cannot reference lambda variables. */
  def intDiv(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshim.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graftshim.Bridge.expression(a),
        org.apache.spark.sql.graftshim.Bridge.expression(b),
        evalMode = org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY))

  /** Left shift by a COLUMN amount (the `shiftleft` builtin only takes a
    * literal shift). Exact integer op — the engine-safe way to build
    * 2^k terms (`1L << k` then cast, never `pow(2.0, k)`, whose
    * correct rounding on exact powers is libm's promise, not IEEE's).
    * Usable inside HOF lambdas, like [[intDiv]]. */
  def shiftL(a: Column, bits: Column): Column =
    org.apache.spark.sql.graftshim.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.ShiftLeft(
        org.apache.spark.sql.graftshim.Bridge.expression(a),
        org.apache.spark.sql.graftshim.Bridge.expression(
          bits.cast(org.apache.spark.sql.types.IntegerType))))

  /** Whitespace tokens. Single-space split, trailing empties kept — matches
    * DuckDB string_split semantics exactly. */
  def words(text: Column): Column = split(text, " ")

  val sqlWords: String = "string_split(text, ' ')"

  /** All 3-word shingles in order, duplicates kept (docs shorter than 3
    * words shingle to the whole text). Native expression
    * ([[graft.functions.ShingleGen]]): the declarative form below evaluates
    * an interpreted `transform` lambda + three `element_at` probes per
    * shingle, and as the first operation of both signature pipelines it was
    * their measured floor (q19 hash stage 3.4 s → 0.2 s, q19 total
    * 4.4 s → 1.3 s at sf0.1). */
  def shingleGen(text: Column): Column = graft.functions.ShingleGen(text)

  /** Declarative specification of [[shingleGen]] (the executable spec the
    * native expression is tested against). */
  def shingleGenSpec(text: Column): Column = {
    val w = words(text)
    when(size(w) >= 3,
      transform(sequence(lit(1), size(w) - 2),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1),
          element_at(w, i + 2))))
      .otherwise(array(text))
  }

  /** Distinct 3-word shingles as a set-valued column. Same 1-based slicing
    * as the DuckDB mirror. */
  def shingles3(text: Column): Column = array_distinct(shingleGen(text))

  /** All word bigrams in order, duplicates kept (native
    * [[graft.functions.BigramGen]]; texts under 2 words yield []). The
    * bigram's prefix word is recoverable as
    * `substring_index(bg, ' ', 1)` — split tokens never contain the
    * separator. */
  def bigramGen(text: Column): Column = graft.functions.BigramGen(text)

  /** Declarative specification of [[bigramGen]] (the executable spec the
    * native expression is tested against). */
  def bigramGenSpec(text: Column): Column = {
    val w = words(text)
    when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1))))
      .otherwise(array().cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)))
  }

  /** DuckDB fragment mirroring [[shingleGen]] (all shingles, duplicates
    * kept — the multiset the repetition metrics need). */
  val sqlShingleGen: String =
    s"""CASE WHEN len($sqlWords) >= 3
       | THEN list_transform(range(1, len($sqlWords) - 1),
       |                     i -> array_to_string(($sqlWords)[i:i+2], ' '))
       | ELSE [text] END""".stripMargin.replace("\n", "")

  val sqlShingles3: String = s"list_distinct($sqlShingleGen)"

  /** All 5-word shingles in order (docs shorter than 5 words shingle to
    * the whole text) — the longer contamination unit q142 probes with:
    * 3-grams collide on common phrases, 5-grams only on genuinely
    * copied spans (real decontamination pipelines use 8-13). Declarative
    * (interpreted lambda) — acceptable for its single consumer; the
    * native-expression escalation path is [[shingleGen]]'s. */
  def shingle5Gen(text: Column): Column = {
    val w = words(text)
    org.apache.spark.sql.functions.when(
      org.apache.spark.sql.functions.size(w) >= 5,
      transform(
        sequence(lit(1), org.apache.spark.sql.functions.size(w) - 4),
        i => concat_ws(" ", slice(w, i, lit(5)))))
      .otherwise(array(text))
  }

  /** DuckDB fragment mirroring [[shingle5Gen]]. */
  val sqlShingle5Gen: String =
    s"""CASE WHEN len($sqlWords) >= 5
       | THEN list_transform(range(1, len($sqlWords) - 3),
       |                     i -> array_to_string(($sqlWords)[i:i+4], ' '))
       | ELSE [text] END""".stripMargin.replace("\n", "")

  /** Executable specification of [[graft.functions.MultiMatch]]: the
    * per-pattern `replace` count (leftmost non-overlapping occurrences,
    * each pattern counted independently over the ORIGINAL text), aligned
    * with the pattern order. One full `replace` scan per pattern — the
    * automaton collapses all of them into a single pass. */
  def multiMatchSpec(text: Column, patterns: Seq[String]): Column =
    array(patterns.map { p =>
      ((length(text) - length(replace(text, lit(p), lit(""))))
        / lit(p.length)).cast(LongType)
    }: _*)
}
