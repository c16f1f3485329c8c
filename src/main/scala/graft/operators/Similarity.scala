package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (vec_id, embedding float[64], label).
  *
  * Scale design:
  *  - Brute force: the query set is tiny and explicitly `broadcast()`, so
  *    the corpus scan never shuffles — each task scores its own partition
  *    and a TakeOrdered-style window keeps top-k per query. At 100 TB the
  *    corpus side stays a single pass.
  *  - LSH: 8 random-hyperplane sign bits (deterministic md5-derived
  *    hyperplanes, inlined as literals in both engines) bucket the corpus;
  *    only same-bucket candidates are scored. The bucket join is an
  *    equi-join on an 8-bit key — broadcastable queries, no cross product.
  *    More tables/probes = union of the same plan; an IVF variant swaps the
  *    signature for an argmin-over-centroids bucket id.
  *
  * Cosine math follows [[Mirror]] fold order, so scores (and therefore
  * ranks) are bit-identical to the DuckDB oracle.
  */
object Similarity {
  import Mirror._

  private val NumQueries = 16
  private val TopK = 10

  /** Banded-LSH index entries for a vector table: per vector its norm and
    * the two 4-bit halves of the 8-bit hyperplane signature (q24's
    * candidate-generation keys). Shared by the batch index query (q24)
    * and the streaming ingest probe
    * ([[graft.streaming.VectorDedupStream]]). One narrow map — no
    * shuffle; the embedding rides along because the index must support
    * exact-cosine verification of its candidates. */
  def bandedEntries(vecs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = vecs
    .select(col("vec_id"), col("embedding"),
      graft.functions.FloatVector.norm(col("embedding")).as("nrm"),
      sigCol(col("embedding")).as("sig"))
    .select(col("vec_id"), col("embedding"), col("nrm"),
      expr("sig div 16").as("band_hi"), (col("sig") % 16).as("band_lo"))

  /** Candidate near-dup pairs between a probe side and an index side:
    * vectors sharing EITHER band, deduped on the id pair, scored by
    * exact cosine. Both sides carry [[bandedEntries]] columns; output is
    * (probe_id, index_id, score). Each band is its own equi-join —
    * hash-joinable at scale — and only (band, id) rows fan out. */
  def bandedMatches(probe: org.apache.spark.sql.DataFrame,
      index: org.apache.spark.sql.DataFrame, tau: Double)
      : org.apache.spark.sql.DataFrame = {
    val p = probe.select(col("vec_id").as("probe_id"),
      col("embedding").as("p_emb"), col("nrm").as("p_nrm"),
      col("band_hi").as("p_hi"), col("band_lo").as("p_lo"))
    val i = index.select(col("vec_id").as("index_id"),
      col("embedding").as("i_emb"), col("nrm").as("i_nrm"),
      col("band_hi").as("i_hi"), col("band_lo").as("i_lo"))
    def side(cond: Column) = p.join(i, cond)
      .select(col("probe_id"), col("index_id"), col("p_emb"), col("i_emb"),
        col("p_nrm"), col("i_nrm"))
    side(col("p_hi") === col("i_hi"))
      .union(side(col("p_lo") === col("i_lo")))
      .distinct()
      .select(col("probe_id"), col("index_id"),
        (graft.functions.FloatVector.dot(col("p_emb"), col("i_emb"))
          / (col("p_nrm") * col("i_nrm"))).as("score"))
      .filter(col("score") >= tau)
  }

  /** Brute-force cosine top-k per query vector (the exactness baseline).
    * Norms are precomputed per row, so each candidate pair costs one dot. */
  val q23AnnBruteforce = QueryDef(
    "q23_ann_bruteforce",
    s"""WITH n AS (SELECT vec_id, embedding, ${sqlNormD("embedding")} AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |    ${sqlDotD("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS score
       |  FROM n q, n c
       |  WHERE q.vec_id < $NumQueries AND c.vec_id <> q.vec_id)
       |SELECT q_id, vec_id, score, CAST(rnk AS BIGINT) AS rnk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY score DESC, vec_id) AS rnk FROM scored)
       |WHERE rnk <= $TopK
       |ORDER BY q_id, rnk""".stripMargin) { (spark, dir) =>
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        graft.functions.FloatVector.norm(col("embedding")).as("nrm"))
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    val scored = emb
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (graft.functions.FloatVector.dot(col("qv"), col("embedding"))
          / (col("qn") * col("nrm"))).as("score"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= TopK)
      .orderBy(col("q_id"), col("rnk"))
  }

  private val Dim = 64
  private val SigBits = 8

  /** Deterministic ±1 hyperplane components from md5 parity — identical
    * constants are inlined into the Spark plan and the oracle SQL. */
  private def planeSign(j: Int, d: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane:$j:$d".getBytes("UTF-8"))
    if ((digest(0) & 1) == 1) 1.0 else -1.0
  }

  private def planeArr(j: Int): Column =
    array((0 until Dim).map(d => lit(planeSign(j, d))): _*)

  private def sqlPlaneArr(j: Int): String =
    (0 until Dim).map(d => planeSign(j, d).toString)
      .mkString("[", ", ", "]")

  /** 8-bit random-hyperplane signature of an embedding column. */
  private def sigCol(v: Column): Column =
    (0 until SigBits).map { j =>
      when(foldSum(zip_with(v, planeArr(j),
        (x, s) => x.cast(DoubleType) * s)) > 0.0, lit(1L << j))
        .otherwise(0L)
    }.reduce(_ + _)

  private def sqlSigCol(v: String): String =
    (0 until SigBits).map { j =>
      val dot = sqlFoldSum(
        s"list_transform(list_zip($v, ${sqlPlaneArr(j)}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))")
      s"(CASE WHEN $dot > 0.0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")

  /** LSH-bucketed ANN, banded: candidates share EITHER 4-bit half of the
    * query's 8-bit hyperplane signature (the OR-of-bands construction),
    * top-5 per query by exact cosine among them.
    *
    * Was exact-8-bit-signature blocking until q117 put a number on it:
    * mean recall@10 0.013 at sf0.01 (buckets of 1-2 candidates) vs 0.256
    * for this banded relaxation with full candidate sets — the
    * precision/recall dial every production LSH turns via band count.
    * Each band is its own equi-join (hash-joinable at 100 TB; an OR join
    * condition would force a nested loop), unioned and deduped on the
    * candidate pair before scoring. */
  val q24AnnLsh = QueryDef(
    "q24_ann_lsh",
    s"""WITH sig AS (
       |  SELECT vec_id, embedding, ${sqlNormD("embedding")} AS nrm,
       |    ${sqlSigCol("embedding")} AS sig
       |  FROM embeddings),
       |scored AS (
       |  SELECT DISTINCT q_id, vec_id, score FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |      ${sqlDotD("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
       |        AS score
       |    FROM sig q JOIN sig c ON q.sig // 16 = c.sig // 16
       |      AND c.vec_id <> q.vec_id
       |    WHERE q.vec_id < $NumQueries
       |    UNION ALL
       |    SELECT q.vec_id, c.vec_id,
       |      ${sqlDotD("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
       |    FROM sig q JOIN sig c ON q.sig % 16 = c.sig % 16
       |      AND c.vec_id <> q.vec_id
       |    WHERE q.vec_id < $NumQueries))
       |SELECT q_id, vec_id, score, CAST(rnk AS BIGINT) AS rnk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY score DESC, vec_id) AS rnk FROM scored)
       |WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin) { (spark, dir) =>
    val emb = Tables(spark, dir, "embeddings")
    val sig = emb.select(col("vec_id"), col("embedding"),
      graft.functions.FloatVector.norm(col("embedding")).as("nrm"),
      sigCol(col("embedding")).as("sig"))
    val q = sig.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("sig").as("qsig"))
    def band(cond: Column) = sig
      .join(broadcast(q), cond && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (graft.functions.FloatVector.dot(col("qv"), col("embedding"))
          / (col("qn") * col("nrm"))).as("score"))
    val scored = band(expr("sig div 16") === expr("qsig div 16"))
      .union(band(col("sig") % 16 === col("qsig") % 16))
      .distinct()
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Per-label centroids with deterministic float aggregation: values are
    * collected per (label, position), ordered by vec_id, and left-folded in
    * double — the order-exact way to average floats across a cluster. */
  val q25EmbeddingCentroid = QueryDef(
    "q25_embedding_centroid",
    s"""WITH e AS (
       |  SELECT label, vec_id,
       |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
       |    unnest(embedding) AS x
       |  FROM embeddings),
       |g AS (SELECT label, pos, list(CAST(x AS DOUBLE) ORDER BY vec_id) AS xs,
       |    COUNT(*) AS n
       |  FROM e GROUP BY label, pos)
       |SELECT label, pos,
       |  ${sqlFoldSum("xs")} / CAST(n AS DOUBLE) AS centroid
       |FROM g ORDER BY label, pos""".stripMargin) { (spark, dir) =>
    centroidByPos(spark, dir).orderBy(col("label"), col("pos"))
  }

  /** Per-(label, position) centroid with the deterministic ordered fold —
    * the single source of the centroid math shared by q25's output and
    * q40's coarse quantizer (they must stay bit-identical).
    *
    * ORACLE FORM ONLY: the per-group `collect_list` buffers every member
    * value to make the float fold order-exact against DuckDB — group state
    * grows with corpus size, which does not survive a 100× scale-up. The
    * production path is [[centroidByPosApprox]] (plain partial-aggregated
    * `avg`, O(1) state); [[SimilaritySpec]] bounds the difference at 1e-9
    * on the fixture. */
  private def centroidByPos(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
    e.groupBy(col("label"), col("pos").cast(LongType).as("pos"))
      .agg(
        sort_array(collect_list(struct(col("vec_id"), col("x")))).as("vs"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (foldSum(transform(col("vs"), v => v.getField("x").cast(DoubleType)))
          / col("n").cast(DoubleType)).as("centroid"))
  }

  /** Production centroid: plain `avg` in double — constant aggregation
    * state, map-side partials, full codegen; summation order varies with
    * partitioning so results are ~1e-12-reproducible rather than bit-exact
    * (the reason the oracle keeps the fold form above). This is the path a
    * 100 TB pipeline runs. */
  def centroidByPosApprox(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos").cast(LongType).as("pos"))
      .agg(avg(col("x").cast(DoubleType)).as("centroid"))

  /** Squared-L2 distance between a float vector and a double centroid,
    * order-exact in both engines. */
  private def sqDist(v: Column, c: Column): Column =
    foldSum(zip_with(v, c,
      (x, y) => (x.cast(DoubleType) - y) * (x.cast(DoubleType) - y)))

  private def sqlSqDist(v: String, c: String): String =
    sqlFoldSum(s"list_transform(list_zip($v, $c), " +
      "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * " +
      "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))")

  private val sqlCentroidVectors =
    s"""e AS (
       |  SELECT label, vec_id,
       |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
       |    unnest(embedding) AS x
       |  FROM embeddings),
       |g AS (SELECT label, pos, list(CAST(x AS DOUBLE) ORDER BY vec_id) AS xs,
       |    COUNT(*) AS n
       |  FROM e GROUP BY label, pos),
       |cent AS (SELECT label, pos, ${sqlFoldSum("xs")} / CAST(n AS DOUBLE)
       |    AS cx FROM g),
       |cv AS (SELECT label AS cell, list(cx ORDER BY pos) AS cvec
       |  FROM cent GROUP BY label)""".stripMargin

  /** Centroid vectors as one array per cell, from [[centroidByPos]]. */
  private def centroidVectors(spark: SparkSession, dir: String): DataFrame =
    centroidByPos(spark, dir)
      .groupBy(col("label").as("cell"))
      .agg(sort_array(collect_list(struct(col("pos"), col("centroid"))))
        .as("cs"))
      .select(col("cell"),
        transform(col("cs"), s => s.getField("centroid")).as("cvec"))

  /** IVF ANN (the centroid-bucketed scale path next to LSH q24): a coarse
    * quantizer of per-label centroids assigns every vector to its nearest
    * cell (argmin of order-exact squared L2, label tiebreak); queries probe
    * their own cell (nprobe=1) and score only co-resident candidates with
    * the native codegen dot. The K-cell centroid table is tiny and
    * broadcast; the corpus is scanned once for assignment — at 100 TB the
    * assignment is a narrow map and search cost is corpus/K per probe. */
  val q40AnnIvf = QueryDef(
    "q40_ann_ivf",
    s"""WITH $sqlCentroidVectors,
       |dists AS (
       |  SELECT m.vec_id, m.embedding, c.cell,
       |    ${sqlSqDist("m.embedding", "c.cvec")} AS d
       |  FROM embeddings m CROSS JOIN cv c),
       |assign AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY d, cell) AS rn FROM dists)
       |  WHERE rn = 1),
       |n AS (SELECT vec_id, embedding, cell, ${sqlNormD("embedding")} AS nrm
       |  FROM assign),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c2.vec_id AS vec_id,
       |    ${sqlDotD("q.embedding", "c2.embedding")} / (q.nrm * c2.nrm)
       |      AS score
       |  FROM n q JOIN n c2 ON q.cell = c2.cell AND c2.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries)
       |SELECT q_id, vec_id, score, CAST(rnk AS BIGINT) AS rnk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY score DESC, vec_id) AS rnk FROM scored)
       |WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin) { (spark, dir) =>
    import graft.functions.{FloatVector, NearestCentroid}
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // The per-label centroid table is MODEL state (K = |labels| × Dim
    // doubles, a bounded category set): collect it once and assign cells
    // with the native argmin expression — a narrow, shuffle-free map, as
    // this query's own scale note always claimed. The previous form
    // cross-joined the corpus with the K centroids and ran a row_number
    // window PARTITIONED BY vec_id to pick the min — a corpus×K-row
    // exchange keyed on corpus-cardinality ids, twice (the assigned
    // subtree was referenced by both the probe and the corpus side).
    // NearestCentroid's (d, cell) argmin tiebreak and IEEE op sequence
    // are the window form's exactly (SimilaritySpec pins it against the
    // least(struct) specification).
    val cents: Array[(Long, Array[Double])] = centroidVectors(spark, dir)
      .collect()
      .map(r => (r.get(0).asInstanceOf[Number].longValue,
        r.getAs[Seq[Double]]("cvec").toArray))
      .sortBy(_._1)
    val assigned = emb.select(col("vec_id"), col("embedding"),
      NearestCentroid(col("embedding"), cents).as("cell"),
      FloatVector.norm(col("embedding")).as("nrm"))
    val q = assigned.filter(col("vec_id") < NumQueries)
      .select(col("cell"), col("vec_id").as("q_id"),
        col("embedding").as("qv"), col("nrm").as("qn"))
    val scored = assigned
      .join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (FloatVector.dot(col("qv"), col("embedding"))
          / (col("qn") * col("nrm"))).as("score"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  // ---------------------------------------------------------------------
  // q48: IVF with a TRAINED coarse quantizer (k-means) and nprobe > 1 —
  // q40's label-as-cell quantizer upgraded to the real thing.
  // ---------------------------------------------------------------------

  private[operators] val KmeansK = 8
  private[graft] val KmeansIters = 2
  private val NProbe = 2

  /** Target cell population for the semantic-dedup blocker (q73). The
    * within-cell pair stage costs ~fill²/2 dots per cell, so the cell COUNT
    * must grow with the corpus: K = max([[KmeansK]], ceil(N /
    * [[SemTargetCell]])) keeps expected fill constant (~64) — pair work
    * stays O(N · SemTargetCell) total instead of O(N²/K) with fixed K —
    * while the floor preserves the fixed-K behavior on small corpora
    * (at the sf0.01 oracle gate, N=500 → K=8, unchanged). 64 is deliberately
    * below [[Buckets.MaxBucket]] (100): at uniform fill the per-cell cap
    * never engages; only genuinely skewed cells get cut. */
  private[operators] val SemTargetCell = 64

  /** K-vs-corpus sizing rule for the trained blocker (see [[SemTargetCell]]). */
  private[graft] def semanticK(n: Long): Int =
    math.max(KmeansK, math.ceil(n.toDouble / SemTargetCell).toInt)

  /** DuckDB mirror of [[semanticK]] as an uncorrelated scalar subquery. */
  private[operators] val sqlSemanticK: String =
    s"(SELECT GREATEST($KmeansK, CAST(CEIL(CAST(COUNT(*) AS DOUBLE) " +
      s"/ $SemTargetCell) AS BIGINT)) FROM embeddings)"

  /** Centroids as one literal array-of-structs column: `(cell, cvec)` per
    * cell, inlined into the plan. K × Dim doubles ≈ 4 KB — the
    * model-as-literal pattern that makes assignment a narrow, shuffle-free
    * map (the MLlib-style alternative to joining a centroid table). */
  private def centroidLit(cents: Array[(Long, Array[Double])]): Column =
    array(cents.sortBy(_._1).toIndexedSeq.map { case (cell, v) =>
      struct(lit(cell).as("cell"),
        array(v.toIndexedSeq.map(lit): _*).as("cvec"))
    }: _*)

  /** Per-row `(d, cell)` distance structs to every centroid — lexicographic
    * struct ordering makes `array_min`/`array_sort` the argmin with the
    * same (d, cell) tiebreak as the oracle's `ORDER BY d, cell`. HOF form:
    * interpreted lambdas per row×cell — fine for the 16-row probe side,
    * too slow for corpus-wide assignment (use [[nearestCellLit]] there). */
  private def distStructs(v: Column, centsArr: Column): Column =
    transform(centsArr, c =>
      struct(sqDist(v, c.getField("cvec")).as("d"),
        c.getField("cell").as("cell")))

  /** Codegen'd squared L2 to a LITERAL centroid: the 64 squared-diff terms
    * summed left-to-right — the identical IEEE op sequence as
    * `foldSum(zip_with(...))`/the oracle's list_reduce fold (bit-equal),
    * but fully inside whole-stage codegen instead of an interpreted lambda
    * per element. */
  private def sqDistLit(v: Column, cvec: Array[Double]): Column =
    cvec.zipWithIndex.foldLeft(lit(0.0)) { case (acc, (c, i)) =>
      val d = element_at(v, i + 1).cast(DoubleType) - lit(c)
      acc + d * d
    }

  /** Corpus-side argmin cell: `least` over K codegen'd (d, cell) structs —
    * lexicographic struct comparison gives the same (d, cell) tiebreak as
    * the oracle's `ORDER BY d, cell`. Kept as the executable SPECIFICATION
    * of [[graft.functions.NearestCentroid]] (SimilaritySpec asserts
    * equality): the expanded tree is ~3600 nodes, and whole-stage codegen
    * of an aggregate stage containing it costs ~7 s of Janino compile per
    * Lloyd iteration — the native expression generates a small loop
    * instead. */
  private[graft] def nearestCellLit(v: Column,
      cents: Array[(Long, Array[Double])]): Column =
    least(cents.sortBy(_._1).map { case (cell, cv) =>
      struct(sqDistLit(v, cv).as("d"), lit(cell).as("cell"))
    }: _*).getField("cell")

  /** True when the session wants the ORACLE-EXACT ordered-fold centroid
    * means (the default — the driver's DuckDB gate needs bit-exact
    * centroids). `spark.graft.centroids.exact=false` selects the
    * PRODUCTION mean: plain partial-aggregated `avg` with O(1) group state
    * (the [[centroidByPosApprox]] form) instead of a per-group
    * `collect_list` whose buffer grows with cell population — the switch a
    * 100 TB run flips, trading bit-reproducibility for bounded memory
    * (1e-9-equivalent on the fixture; SimilaritySpec asserts recall
    * parity). */
  private def exactMeans(df: DataFrame): Boolean =
    df.sparkSession.conf.get("spark.graft.centroids.exact", "true").toBoolean

  /** Per-key mean of `x` over `assigned` rows carrying (keys…, vec_id, x):
    * ordered fold when `exact`, plain avg otherwise — the one switch point
    * for the centroid-mean memory/exactness tradeoff. */
  private def cellMeans(assigned: DataFrame, exact: Boolean,
      keys: Seq[String]): DataFrame =
    if (exact)
      assigned.groupBy(keys.map(col): _*)
        .agg(sort_array(collect_list(struct(col("vec_id"), col("x"))))
          .as("vs"))
        .select(keys.map(col) :+
          ((foldSum(transform(col("vs"), v => v.getField("x").cast(DoubleType)))
            / size(col("vs")).cast(DoubleType)).as("cx")): _*)
    else
      assigned.groupBy(keys.map(col): _*)
        .agg(avg(col("x").cast(DoubleType)).as("cx"))

  /** Lloyd's algorithm with driver-side centroid state (how distributed
    * k-means actually runs: MLlib keeps centroids on the driver too).
    * Per iteration: one narrow assignment pass over broadcast centroid
    * literals (no join, no shuffle of the corpus), one grouped mean.
    * Deterministic end to end — md5-seeded init, (d, cell) argmin
    * tiebreak, ordered-fold means — so DuckDB reproduces every iteration
    * bit-exactly as chained CTEs. The K×Dim collect per iteration is the
    * model, not the data. Means use the oracle fold form by default;
    * `spark.graft.centroids.exact=false` swaps in the production plain
    * `avg` (1e-9-equivalent, see SimilaritySpec). `k` defaults to the
    * fixed quantizer width; the semantic-dedup blocker passes
    * [[semanticK]] so cell count scales with the corpus. */
  /** Per-JVM memo of trained centroid models, keyed by (canonicalized
    * input plan, iters, k, exactness mode). A quantizer is MODEL state:
    * a production pipeline trains it once and persists it (MLlib's
    * `model.save` shape) — retraining inside every query that probes the
    * index is the anti-pattern this cache removes. Keys use the
    * CANONICALIZED plan string, so independently-built but identical
    * inputs (the same parquet scan + projection) share one entry, while
    * different dirs / subspace projections (q68's 8 codebooks) / the
    * `spark.graft.centroids.exact` toggle keep distinct entries. Values
    * are K×Dim doubles — bounded model bytes, not data. Training is
    * deterministic, so memoization is observationally pure. */
  private val modelCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int, Boolean), Array[(Long, Array[Double])]]()

  /** Test hook: drop the per-JVM memo so specs can simulate a cold session
    * against the [[ModelCache]] disk tier. */
  private[graft] def clearModelMemoForTest(): Unit = {
    modelCache.clear()
    pqMemo.clear()
  }

  /** The input's file-scan root paths — or None when ANY leaf is not a
    * file relation. A canonicalized plan string identifies projections
    * and literals (q68's 8 subspace slices stay distinct) but NOT leaf
    * data: `LocalRelation [cols]` prints without rows and a parquet
    * `Relation` without its path, so two different datasets of the same
    * shape would collide as memo keys (e.g. the sf0.001 warmup model
    * silently serving sf0.1, or two crafted test inputs sharing one
    * model). File paths pin the data identity; anything else trains
    * uncached. */
  private def fileLeafPaths(df: DataFrame): Option[(String, String)] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val paths = leaves.flatMap {
      case lr: LogicalRelation => lr.relation match {
        case rel: HadoopFsRelation =>
          // stamp the DATA too (content-hashed, like PairCache): a file
          // regenerated at the same path mid-JVM — even same-size, within
          // fs timestamp granularity — must retrain, not serve the model
          // trained on the old bytes. Hadoop FS API: works off local disk.
          val stamps = rel.location.rootPaths.map { p =>
            ArtifactStore
              .contentStamp(ArtifactStore.fileSystem(df.sparkSession, p), p)
              .map(c => s"$p@$c")
          }
          if (stamps.forall(_.isDefined))
            Some((stamps.flatten.mkString(","),
              rel.location.rootPaths.mkString(",")))
          else None
        case _ => None
      }
      case _ => None
    }
    if (paths.length == leaves.length)
      Some((paths.map(_._1).mkString(";"), paths.map(_._2).mkString(";")))
    else None
  }

  private[graft] def lloydCentroids(emb: DataFrame, iters: Int,
      k: Int = KmeansK): Array[(Long, Array[Double])] = {
    val exact = exactMeans(emb)
    fileLeafPaths(emb) match {
      case Some((p, plainPaths)) =>
        val canonical = emb.queryExecution.analyzed.canonicalized.toString
        val key = (p + "\n" + canonical, iters, k, exact)
        // The artifact's stable input identity: leaf PATHS (no content
        // stamp) + canonical plan + training params — everything that
        // names the logical model slot, nothing that rotates with a
        // rebuild or data regeneration. pruneSuperseded matches on it.
        val stableTag = ArtifactStore.md5Hex(
          Seq(plainPaths, canonical, iters, k, exact).mkString("|"))
        // memo miss → disk tier ([[ModelCache]]): a cold JVM reloads the
        // persisted quantizer bit-exactly instead of re-paying the Lloyd
        // training scans. The memo key string IS the disk key basis (leaf
        // paths carry content stamps, so data identity is covered).
        modelCache.computeIfAbsent(key,
          _ => ModelCache.loadOrTrain(emb.sparkSession,
            Seq(key._1, iters, k, exact).mkString("|"), stableTag)(
            () => trainLloyd(emb, iters, k, exact)))
      case None =>
        // uncacheable input (crafted/local data): nothing downstream can
        // reuse the training persist either — release it, or every
        // distinct test input pins a cache entry for the JVM lifetime
        try trainLloyd(emb, iters, k, exact)
        finally { emb.unpersist(false); () }
    }
  }

  private def trainLloyd(emb: DataFrame, iters: Int, k: Int,
      exact: Boolean): Array[(Long, Array[Double])] = {
    import org.apache.spark.sql.types.StringType
    // Persist the training input across the init scan + `iters` Lloyd
    // passes (+ the caller's subsequent assignment/pair scans of the same
    // plan): iterative training over an unpersisted source re-reads the
    // parquet every round — MLlib's KMeans demands a cached input for the
    // same reason. MEMORY_AND_DISK so a corpus larger than the executor
    // cache spills instead of OOMing. No unpersist: Spark's CacheManager
    // keys entries by canonicalized plan, so repeated query invocations
    // (bench iterations) reuse ONE entry rather than accumulating, and
    // dropping it here would evict the cache before the caller's
    // assignment/pair stages run.
    emb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val init: Array[(Long, Array[Double])] = emb
      .select(col("vec_id"), col("embedding"),
        md5(col("vec_id").cast(StringType)).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(k) // TakeOrdered, no global sort
      .collect()
      .zipWithIndex.map { case (r, i) =>
        ((i + 1).toLong,
          r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
      }
    (1 to iters).foldLeft(init) { (cents, _) =>
      // cell assigned BEFORE the explode (once per vector, not per element)
      val assigned = emb.select(col("vec_id"), col("embedding"),
        graft.functions.NearestCentroid(col("embedding"), cents).as("cell"))
        .select(col("cell"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("cell"), col("vec_id"),
          col("pos").cast(LongType).as("pos"), col("x"))
      cellMeans(assigned, exact, Seq("cell", "pos"))
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("pos"), col("cx"))))
          .as("cs"))
        .select(col("cell"),
          transform(col("cs"), s => s.getField("cx")).as("cvec"))
        .collect()
        .map(r => (r.getLong(0), r.getAs[Seq[Double]]("cvec").toArray))
        .sortBy(_._1)
    }
  }

  /** One DuckDB Lloyd iteration: cells `c$i` → assignment `a$i` → ordered
    * fold means → cells `c${i+1}`. Mirrors [[lloydCentroids]] exactly.
    * `p` prefixes every CTE name and `src` the scanned relation, so the
    * same iteration chains once per PQ subspace (q68) without name
    * clashes.
    *
    * The assignment FUSES the (src × cells) distance cross join into one
    * per-vector min-struct aggregation — `min({'d', 'cell'})` compares
    * lexicographically by (d, cell), the identical tie-break to the
    * previous `row_number() ORDER BY d, cell` over a separate distance
    * CTE, on the SAME order-exact [[sqlSqDist]] doubles. Why it matters:
    * the semantic chain trains N/64 cells, so a materialized distance
    * CTE is pair-count-sized (625M rows × embedding lists at 100×
    * sf0.1 — the staged oracle harness spilled >70 GB into it and timed
    * out, round-17 verdict item 2), while the fused form's only state is
    * a vector-count hash aggregate. `first(embedding)` is sound:
    * embedding is functionally dependent on the group key. */
  private def sqlLloydIter(i: Int, p: String = "",
      src: String = "embeddings"): String =
    s"""a$p$i AS (SELECT m.vec_id, first(m.embedding) AS embedding,
       |    (min({'d': ${sqlSqDist("m.embedding", "c.cvec")},
       |          'cell': c.cell})).cell AS cell
       |  FROM $src m CROSS JOIN c$p$i c GROUP BY m.vec_id),
       |e$p$i AS (SELECT cell, vec_id,
       |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
       |    unnest(embedding) AS x FROM a$p$i),
       |g$p$i AS (SELECT cell, pos, list(CAST(x AS DOUBLE) ORDER BY vec_id)
       |    AS xs FROM e$p$i GROUP BY cell, pos),
       |cc$p$i AS (SELECT cell, pos,
       |    ${sqlFoldSum("xs")} / CAST(len(xs) AS DOUBLE) AS cx FROM g$p$i),
       |c$p${i + 1} AS (SELECT cell, list(cx ORDER BY pos) AS cvec
       |  FROM cc$p$i GROUP BY cell)""".stripMargin

  /** IVF ANN with a trained quantizer: md5-seeded K=8 init, 2 Lloyd
    * iterations, nprobe=2. Assignment and probing are narrow maps over the
    * centroid literals; only the per-cell candidate scoring joins — at
    * 100 TB, cost per query is nprobe/K of the corpus, and the training
    * passes are linear scans. */
  /** DuckDB CTE chain `seeded` → … → `rfin`/`afin`: the full trained
    * k-means quantizer (init, [[KmeansIters]] Lloyd rounds, final ranked
    * assignment with norms) — shared by q48's oracle and the semantic-dedup
    * oracle (q73), which block on the same learned cells. */
  private[operators] def sqlKmeansAssignK(kExpr: String): String =
    s"""seeded AS (SELECT vec_id, embedding,
       |    md5(CAST(vec_id AS VARCHAR)) AS h FROM embeddings),
       |c0 AS (SELECT CAST(rn AS BIGINT) AS cell,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
       |  FROM (SELECT *, row_number() OVER (ORDER BY h, vec_id) AS rn
       |        FROM seeded)
       |  WHERE rn <= $kExpr),
       |${(0 until KmeansIters).map(i => sqlLloydIter(i)).mkString(",\n")},
       |${sqlRankedTail(s"c$KmeansIters")}""".stripMargin

  /** The final ranked assignment `rfin` (rn = 1..[[RankedNProbe]]) and
    * its rn = 1 slice `afin`, as rank-chained min-struct aggregations:
    * rank r is the per-vector min {'d','cell'} strictly greater than
    * rank r−1's — each rank one more pipelined pass over the
    * (embeddings × cells) cross join, never a materialized pair-sized
    * relation or a 625M-row window sort (see [[sqlLloydIter]]'s fused
    * assignment for why). Values are the same order-exact [[sqlSqDist]]
    * doubles, so rn assignment is bit-identical to the previous
    * `row_number() ORDER BY d, cell` form. */
  private def sqlRankedTail(cells: String): String = {
    val s = s"{'d': ${sqlSqDist("m.embedding", "c.cvec")}, 'cell': c.cell}"
    val ranks = (1 to RankedNProbe).map { r =>
      if (r == 1)
        s"""t1 AS (SELECT m.vec_id, first(m.embedding) AS embedding,
           |    min($s) AS t
           |  FROM embeddings m CROSS JOIN $cells c GROUP BY m.vec_id)"""
          .stripMargin
      else
        s"""t$r AS (SELECT m.vec_id, min($s) AS t
           |  FROM embeddings m CROSS JOIN $cells c
           |  JOIN t${r - 1} p ON p.vec_id = m.vec_id
           |  WHERE $s > p.t
           |  GROUP BY m.vec_id)""".stripMargin
    }.mkString(",\n")
    val union = (2 to RankedNProbe).map { r =>
      s"""  UNION ALL SELECT t1.vec_id, t1.embedding, (t$r.t).cell,
         |    CAST($r AS BIGINT) FROM t$r JOIN t1 ON t1.vec_id = t$r.vec_id"""
        .stripMargin
    }.mkString("\n")
    s"""$ranks,
       |rfin AS (
       |  SELECT vec_id, embedding, (t).cell AS cell, CAST(1 AS BIGINT)
       |    AS rn FROM t1
       |$union),
       |afin AS (SELECT vec_id, embedding, cell,
       |    ${sqlNormD("embedding")} AS nrm FROM rfin WHERE rn = 1)"""
      .stripMargin
  }

  /** Ranks emitted by [[sqlRankedTail]] — the max `rn` any consumer
    * filters on (q48 probes ≤ [[NProbe]] = 2, semantic membership ≤
    * SemNProbe = 2, contamination probes ≤ ContamNProbe = 3). */
  private val RankedNProbe = 3

  private[operators] val sqlKmeansAssign: String =
    sqlKmeansAssignK(KmeansK.toString)

  val q48AnnKmeansIvf = QueryDef(
    "q48_ann_kmeans_ivf",
    s"""WITH $sqlKmeansAssign,
       |probes AS (SELECT vec_id AS q_id, embedding AS qv,
       |    ${sqlNormD("embedding")} AS qn, cell
       |  FROM rfin WHERE rn <= $NProbe AND vec_id < $NumQueries),
       |scored AS (SELECT p.q_id, a.vec_id,
       |    ${sqlDotD("p.qv", "a.embedding")} / (p.qn * a.nrm) AS score
       |  FROM probes p JOIN afin a
       |    ON a.cell = p.cell AND a.vec_id <> p.q_id)
       |SELECT q_id, vec_id, score, CAST(rnk AS BIGINT) AS rnk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY score DESC, vec_id) AS rnk FROM scored)
       |WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin) { (spark, dir) =>
    import graft.functions.FloatVector
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = lloydCentroids(emb, KmeansIters)
    val centsArr = centroidLit(cents)
    // final assignment: narrow map, zero shuffle, whole-stage codegen
    val assigned = emb.select(col("vec_id"), col("embedding"),
      graft.functions.NearestCentroid(col("embedding"), cents).as("cell"),
      FloatVector.norm(col("embedding")).as("nrm"))
    // nprobe nearest cells per query = prefix of the sorted (d, cell) array
    val probes = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        FloatVector.norm(col("embedding")).as("qn"),
        explode(slice(array_sort(distStructs(col("embedding"), centsArr)),
          1, NProbe)).as("pc"))
      .select(col("q_id"), col("qv"), col("qn"), col("pc.cell").as("cell"))
    val scored = assigned
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (FloatVector.dot(col("qv"), col("embedding"))
          / (col("qn") * col("nrm"))).as("score"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  // ---------------------------------------------------------------------
  // q64: scalar-quantized (int8-style) ANN — the compression scale path:
  // at 100 TB the win is 4× fewer bytes scanned per candidate, traded for
  // approximate scores.
  // ---------------------------------------------------------------------

  /** Scalar-quantized brute-force ANN. Per-dimension min/max over the
    * corpus (one explode + min/max agg — exact, order-independent) form
    * the quantization grid; each vector is encoded as 64 codes in 0..255
    * (`floor((x-mn)*255/range)`, clamped) and reconstructed at search time
    * as `mn + (c+0.5)*range/255` cast to float. Queries keep full
    * precision (asymmetric distance, the SQ/PQ convention). Scoring then
    * reuses the native codegen dot on the reconstructed float arrays —
    * same single corpus pass as q23, no shuffle of the corpus.
    *
    * The min/max table is the MODEL (one row of 2×64 doubles), broadcast
    * like q48's centroids. Every arithmetic step (IEEE sub/mul/div, floor,
    * double→float rounding) is order-fixed and mirrored in the oracle, so
    * the approximate scores — and therefore the ranks — are bit-exact
    * across engines. Recall vs exact q23 is asserted in SimilaritySpec. */
  val q64AnnInt8 = QueryDef(
    "q64_ann_int8",
    s"""WITH e AS (SELECT vec_id,
       |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
       |    unnest(embedding) AS x
       |  FROM embeddings),
       |s AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM e GROUP BY pos),
       |mm AS (SELECT list(CAST(mn AS DOUBLE) ORDER BY pos) AS mn_arr,
       |    list(CAST(mx AS DOUBLE) ORDER BY pos) AS mx_arr FROM s),
       |mr AS (SELECT mn_arr,
       |    list_transform(list_zip(mx_arr, mn_arr), p -> p[1] - p[2])
       |      AS rng_arr FROM mm),
       |enc AS (SELECT m.vec_id, mr.mn_arr, mr.rng_arr,
       |    list_transform(list_zip(m.embedding, mr.mn_arr, mr.rng_arr),
       |      p -> CASE WHEN p[3] = 0.0 THEN 0.0
       |           ELSE least(greatest(floor(
       |             ((CAST(p[1] AS DOUBLE) - p[2]) * 255.0) / p[3]),
       |             0.0), 255.0) END) AS codes
       |  FROM embeddings m CROSS JOIN mr),
       |deq AS (SELECT vec_id,
       |    list_transform(list_transform(list_zip(codes, rng_arr, mn_arr),
       |      p -> p[3] + ((p[1] + 0.5) * p[2]) / 255.0),
       |      v -> CAST(v AS REAL)) AS dv
       |  FROM enc),
       |n AS (SELECT vec_id, dv, ${sqlNormD("dv")} AS nrm FROM deq),
       |qn AS (SELECT vec_id AS q_id, embedding AS qv,
       |    ${sqlNormD("embedding")} AS qnm
       |  FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (SELECT q.q_id, c.vec_id,
       |    ${sqlDotD("q.qv", "c.dv")} / (q.qnm * c.nrm) AS score
       |  FROM qn q, n c WHERE c.vec_id <> q.q_id)
       |SELECT q_id, vec_id, score, CAST(rnk AS BIGINT) AS rnk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY score DESC, vec_id) AS rnk FROM scored)
       |WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin) { (spark, dir) =>
    import graft.functions.FloatVector
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // model: per-dimension [min, max] as one broadcast row of two arrays
    val mm = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("pos"), col("mn"), col("mx"))))
        .as("sm"))
      .select(
        transform(col("sm"), s => s.getField("mn").cast(DoubleType))
          .as("mn_arr"),
        transform(col("sm"), s => s.getField("mx").cast(DoubleType))
          .as("mx_arr"))
      .select(col("mn_arr"),
        zip_with(col("mx_arr"), col("mn_arr"), (a, b) => a - b).as("rng_arr"))
    // encode: codes in 0..255 (two zips = the oracle's one 3-way zip)
    val enc = emb.crossJoin(broadcast(mm))
      .withColumn("d",
        zip_with(col("embedding"), col("mn_arr"),
          (x, m) => x.cast(DoubleType) - m))
      .withColumn("codes",
        zip_with(col("d"), col("rng_arr"), (d, r) =>
          when(r === 0.0, lit(0.0))
            .otherwise(least(greatest(floor((d * 255.0) / r), lit(0.0)),
              lit(255.0)))))
    // reconstruct as float — scoring then runs the native codegen dot
    val deq = enc
      .withColumn("u",
        zip_with(col("codes"), col("rng_arr"),
          (c, r) => ((c + 0.5) * r) / 255.0))
      .select(col("vec_id"),
        zip_with(col("u"), col("mn_arr"), (u, m) => m + u)
          .cast(ArrayType(FloatType)).as("dv"))
      .select(col("vec_id"), col("dv"),
        FloatVector.norm(col("dv")).as("nrm"))
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        FloatVector.norm(col("embedding")).as("qnm"))
    val scored = deq.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (FloatVector.dot(col("qv"), col("dv")) / (col("qnm") * col("nrm")))
          .as("score"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  // ---------------------------------------------------------------------
  // q68: product quantization (PQ) with asymmetric distance computation —
  // the other half of the compression family next to q64's scalar
  // quantization: 64 floats (256 B) become M=4 one-byte codes.
  // ---------------------------------------------------------------------

  private[graft] val PqM = 8
  private[graft] val PqSubDim = Dim / PqM
  private val PqShortlist = 100

  /** All [[PqM]] codebooks trained in ONE pass over the corpus. Calling
    * [[lloydCentroids]] per subspace costs 2 Spark jobs each (seed
    * TakeOrdered + mean agg) — 16 jobs of fixed scheduling overhead that
    * dominated q68 (4.0 s, the round-3 bench outlier). The seeds are the
    * SAME K rows for every subspace (md5 of vec_id — slice-independent),
    * so one collect seeds all M; the Lloyd mean then tags each exploded
    * element with its subspace and aggregates by (m, cell, pos) — same
    * groups, same ordered fold, bit-identical centroids to the
    * per-subspace loop (SimilaritySpec asserts equality). */
  private[graft] def pqCodebooks(emb: DataFrame)
      : IndexedSeq[Array[(Long, Array[Double])]] = {
    import org.apache.spark.sql.types.StringType
    val seedRows = emb
      .select(col("vec_id"), col("embedding"),
        md5(col("vec_id").cast(StringType)).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(KmeansK)
      .collect()
    val inits: IndexedSeq[Array[(Long, Array[Double])]] = (0 until PqM).map {
      m =>
        seedRows.zipWithIndex.map { case (r, i) =>
          ((i + 1).toLong,
            r.getAs[Seq[Float]]("embedding")
              .slice(m * PqSubDim, (m + 1) * PqSubDim)
              .map(_.toDouble).toArray)
        }
    }
    // one Lloyd iteration for all subspaces: per row, M small native argmin
    // expressions (cell per subspace) computed BEFORE any explode
    val pieces = array((0 until PqM).map { m =>
      val sv = slice(col("embedding"), m * PqSubDim + 1, PqSubDim)
      struct(lit(m).as("m"), sv.as("sv"),
        graft.functions.NearestCentroid(sv, inits(m)).as("cell"))
    }: _*)
    val assigned = emb
      .select(col("vec_id"), explode(pieces).as("p"))
      .select(col("vec_id"), col("p.m").as("m"), col("p.cell").as("cell"),
        posexplode(col("p.sv")).as(Seq("pos", "x")))
      .select(col("m"), col("cell"), col("vec_id"),
        col("pos").cast(LongType).as("pos"), col("x"))
    val rows = cellMeans(assigned, exactMeans(emb), Seq("m", "cell", "pos"))
      .groupBy(col("m"), col("cell"))
      .agg(sort_array(collect_list(struct(col("pos"), col("cx")))).as("cs"))
      .select(col("m"), col("cell"),
        transform(col("cs"), s => s.getField("cx")).as("cvec"))
      .collect()
    val byM = rows.groupBy(_.getInt(0))
    (0 until PqM).map { m =>
      byM(m).map(r => (r.getLong(1), r.getAs[Seq[Double]]("cvec").toArray))
        .sortBy(_._1)
    }
  }

  /** Per-JVM memo + [[ModelCache]] disk tier for the PQ codebook family —
    * the [[lloydCentroids]] discipline applied to the batched trainer
    * (which bypasses the lloyd memo by design and was therefore
    * RETRAINING all 8 codebooks on every q68 invocation: two corpus
    * collects + a 64×-explode aggregation of pure fixed cost per run,
    * the round-15 tail finding). The 8 codebooks persist as ONE
    * ModelCache payload with cell ids encoded m·100+cell (cells are
    * 1..[[KmeansK]] ≤ 100 by construction); decode restores the
    * per-subspace arrays in cell order, bit-exactly. Keys and stable
    * tags follow [[lloydCentroids]] verbatim; crafted/local inputs
    * (no file leaves) train uncached. */
  private val pqMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Boolean), IndexedSeq[Array[(Long, Array[Double])]]]()

  private[graft] def pqCodebooksCached(emb: DataFrame)
      : IndexedSeq[Array[(Long, Array[Double])]] = {
    // the m·100+cell payload encoding is only injective while cells fit
    // under the stride — enforce the invariant the decode depends on
    // instead of assuming it (a future K ≥ 100 would silently
    // misattribute cell 100 of subspace m to subspace m+1 as cell 0)
    require(KmeansK < 100,
      s"pq codebook payload encodes cell ids as m*100+cell; KmeansK " +
        s"= $KmeansK breaks the stride — widen it before raising K")
    val exact = exactMeans(emb)
    fileLeafPaths(emb) match {
      case Some((p, plainPaths)) =>
        val canonical = emb.queryExecution.analyzed.canonicalized.toString
        val key = ("pq|" + p + "\n" + canonical, KmeansK, exact)
        val stableTag = ArtifactStore.md5Hex(
          Seq("pq", plainPaths, canonical, PqM, KmeansK, exact)
            .mkString("|"))
        pqMemo.computeIfAbsent(key, _ => {
          val flat = ModelCache.loadOrTrain(emb.sparkSession,
            Seq(key._1, PqM, KmeansK, exact).mkString("|"), stableTag)(() =>
            pqCodebooks(emb).zipWithIndex.flatMap { case (cb, m) =>
              cb.map { case (cell, v) => (m * 100L + cell, v) }
            }.toArray)
          (0 until PqM).map { m =>
            flat.filter(_._1 / 100 == m)
              .map { case (id, v) => (id % 100, v) }
              .sortBy(_._1)
          }
        })
      case None => pqCodebooks(emb)
    }
  }

  /** Per-subspace DuckDB training + assignment + query distance table:
    * slice, md5-seeded init, one Lloyd iteration (reusing the q48
    * iteration template under a `sub$m` prefix), final codes (argmin cell
    * per vector), and each query's distances to all cells as one ordered
    * list. */
  private def sqlPqSubspace(m: Int): String = {
    val p = s"sub$m"
    val a = m * PqSubDim + 1
    val b = (m + 1) * PqSubDim
    s"""$p AS (SELECT vec_id, embedding[$a:$b] AS embedding FROM embeddings),
       |c${p}0 AS (SELECT CAST(rn AS BIGINT) AS cell,
       |    list_transform(embedding[$a:$b], x -> CAST(x AS DOUBLE)) AS cvec
       |  FROM (SELECT *, row_number() OVER (ORDER BY h, vec_id) AS rn
       |        FROM seeded)
       |  WHERE rn <= $KmeansK),
       |${sqlLloydIter(0, p, p)},
       |df$m AS (SELECT m.vec_id, c.cell,
       |    ${sqlSqDist("m.embedding", "c.cvec")} AS d
       |  FROM $p m CROSS JOIN c${p}1 c),
       |code$m AS (SELECT vec_id, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY d, cell) AS rn FROM df$m) WHERE rn = 1),
       |qd$m AS (SELECT vec_id AS q_id, list(d ORDER BY cell) AS dt
       |  FROM df$m WHERE vec_id < $NumQueries GROUP BY vec_id)""".stripMargin
  }

  /** PQ ANN with exact re-ranking — the production two-stage retrieval
    * architecture. Stage 1 (compressed scan): each 8-dim subspace gets its
    * own md5-seeded 1-Lloyd-round codebook (K=8); a vector is stored as 8
    * one-byte cell codes. Per query, the 8×8 table of exact subspace
    * distances to every centroid is precomputed on the (tiny) query side;
    * every corpus vector is then scored with EIGHT ARRAY PROBES
    * (`element_at` — codegen, no per-pair float loop) summed into the
    * approximate squared L2, and the best [[PqShortlist]] survive. Stage 2
    * (refine): only shortlist members join back to their full vectors for
    * exact distances and the final top-5. At 100 TB this is the shape that
    * wins: the hot scan reads 8 bytes per row instead of 256, the distance
    * tables ride along broadcast, and the expensive exact math touches
    * shortlist·queries rows, not the corpus. Training reuses
    * [[lloydCentroids]] per slice; every step is order-fixed, so both
    * stages hash-match the oracle (which retrains all 8 codebooks as
    * chained CTEs). The fixture's embeddings are near-uniform noise — the
    * hardest case for lossy compression — so SimilaritySpec asserts the
    * two-stage recall vs exact L2 (the shortlist must beat its random
    * baseline by a wide margin), with the shortlist sized to the fixture
    * corpus (production sizes it to the recall target). */
  val q68AnnPq = QueryDef(
    "q68_ann_pq",
    s"""WITH seeded AS (SELECT vec_id, embedding,
       |    md5(CAST(vec_id AS VARCHAR)) AS h FROM embeddings),
       |${(0 until PqM).map(sqlPqSubspace).mkString(",\n")},
       |codes AS (SELECT c0.vec_id,
       |    ${(0 until PqM).map(m => s"c$m.cell AS k$m").mkString(", ")}
       |  FROM code0 c0
       |    ${(1 until PqM).map(m => s"JOIN code$m c$m USING (vec_id)")
             .mkString(" ")}),
       |qdt AS (SELECT q0.q_id,
       |    ${(0 until PqM).map(m => s"q$m.dt AS dt$m").mkString(", ")}
       |  FROM qd0 q0
       |    ${(1 until PqM).map(m => s"JOIN qd$m q$m USING (q_id)")
             .mkString(" ")}),
       |scored AS (SELECT q.q_id, c.vec_id,
       |    ${(0 until PqM).map(m => s"q.dt$m[CAST(c.k$m AS INTEGER)]")
             .mkString(" + ")} AS adist
       |  FROM qdt q, codes c WHERE c.vec_id <> q.q_id),
       |short AS (SELECT q_id, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY adist, vec_id) AS srn FROM scored)
       |  WHERE srn <= $PqShortlist),
       |rer AS (SELECT s.q_id, s.vec_id,
       |    ${sqlSqDist("qe.embedding", "ce.embedding")} AS dist
       |  FROM short s
       |  JOIN embeddings qe ON qe.vec_id = s.q_id
       |  JOIN embeddings ce ON ce.vec_id = s.vec_id)
       |SELECT q_id, vec_id, dist, CAST(rnk AS BIGINT) AS rnk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY dist, vec_id) AS rnk FROM rer)
       |WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin) { (spark, dir) =>
    pqAnn(spark, dir)
  }

  /** q68's body — factored so the carried-vector form can be
    * equality-pinned against its join-back spec ([[pqAnnJoinSpec]],
    * SimilaritySpec). */
  private[graft] def pqAnn(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NearestCentroid
    import org.apache.spark.sql.types.IntegerType
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    def sub(m: Int) = slice(col("embedding"), m * PqSubDim + 1, PqSubDim)
    // 8 independent codebooks trained in one batched pass (model on the
    // driver, like q48); see pqCodebooks for why not 8 lloydCentroids
    // calls, and pqCodebooksCached for the memo/ModelCache tier — a
    // production index trains its quantizer once and persists it
    val cents = pqCodebooksCached(emb)
    // encode: one narrow projection, 8 native argmin expressions. The
    // full vector rides along to the shortlist stage: this query computes
    // codes FROM the embeddings scan (no persisted codes table), so the
    // scan reads the vectors either way, and carrying them kills the
    // rerank's join-back to the corpus — the map-side TopK partial keeps
    // ≤ shortlist rows per key per partition BEFORE the exchange, so the
    // shuffled vector payload is queries × shortlist × maps, never
    // corpus-scale (guide §2.3; a production index with a persisted
    // 8-byte-code table would keep the join-back instead, streaming the
    // corpus against a broadcast shortlist — never broadcasting the
    // corpus, the r18 q153 build-side rule).
    val codes = emb.select(
      col("vec_id") +: col("embedding").as("ce") +: (0 until PqM).map(m =>
        NearestCentroid(sub(m), cents(m)).as(s"k$m")): _*)
    // per-query distance tables (cells are labelled 1..K in sorted order,
    // so the array index IS the cell id)
    val dtCols = (0 until PqM).map { m =>
      array(cents(m).sortBy(_._1).map { case (_, cv) =>
        sqDistLit(sub(m), cv)
      }: _*).as(s"dt$m")
    }
    val qdt = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id") +: dtCols: _*)
    val adist = (0 until PqM)
      .map(m => element_at(col(s"dt$m"), col(s"k$m").cast(IntegerType)))
      .reduce(_ + _)
    val shortW = Window.partitionBy(col("q_id"))
      .orderBy(col("adist"), col("vec_id"))
    val short = codes.crossJoin(broadcast(qdt))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("ce"), adist.as("adist"))
      .withColumn("srn", row_number().over(shortW))
      .filter(col("srn") <= PqShortlist)
      .select(col("q_id"), col("vec_id"), col("ce"))
    // stage 2: exact distances for shortlist members only (both casts to
    // double — the same op sequence as the oracle's sqlSqDist). The
    // candidate vectors arrived WITH the shortlist (see `codes`); only
    // the NumQueries query vectors join back, as a broadcast — the
    // pre-round-19 form joined the full embeddings table twice here
    // (one broadcast build per side: two extra corpus scans locally and
    // a corpus-sized broadcast at any real scale).
    def sqDistFF(a: Column, b: Column): Column =
      foldSum(zip_with(a, b, (x, y) =>
        (x.cast(DoubleType) - y.cast(DoubleType)) *
          (x.cast(DoubleType) - y.cast(DoubleType))))
    val qe = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val rer = short.join(broadcast(qe), "q_id")
      .select(col("q_id"), col("vec_id"),
        sqDistFF(col("qe"), col("ce")).as("dist"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dist"), col("vec_id"))
    rer
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Declarative specification of [[pqAnn]]'s rerank — the round-18 form
    * (ids-only shortlist, exact vectors re-attached by joining the full
    * embeddings table twice; Spark broadcast the corpus side at sf0.1),
    * kept as the executable spec the carried-vector form is pinned
    * against (SimilaritySpec) and as the before-side of the plans/r19
    * diff. Not on any query path. */
  private[graft] def pqAnnJoinSpec(spark: SparkSession,
      dir: String): DataFrame = {
    import graft.functions.NearestCentroid
    import org.apache.spark.sql.types.IntegerType
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    def sub(m: Int) = slice(col("embedding"), m * PqSubDim + 1, PqSubDim)
    val cents = pqCodebooksCached(emb)
    val codes = emb.select(
      col("vec_id") +: (0 until PqM).map(m =>
        NearestCentroid(sub(m), cents(m)).as(s"k$m")): _*)
    val dtCols = (0 until PqM).map { m =>
      array(cents(m).sortBy(_._1).map { case (_, cv) =>
        sqDistLit(sub(m), cv)
      }: _*).as(s"dt$m")
    }
    val qdt = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id") +: dtCols: _*)
    val adist = (0 until PqM)
      .map(m => element_at(col(s"dt$m"), col(s"k$m").cast(IntegerType)))
      .reduce(_ + _)
    val shortW = Window.partitionBy(col("q_id"))
      .orderBy(col("adist"), col("vec_id"))
    val short = codes.crossJoin(broadcast(qdt))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), adist.as("adist"))
      .withColumn("srn", row_number().over(shortW))
      .filter(col("srn") <= PqShortlist)
      .select(col("q_id"), col("vec_id"))
    def sqDistFF(a: Column, b: Column): Column =
      foldSum(zip_with(a, b, (x, y) =>
        (x.cast(DoubleType) - y.cast(DoubleType)) *
          (x.cast(DoubleType) - y.cast(DoubleType))))
    val rer = short
      .join(emb.select(col("vec_id").as("q_id"), col("embedding").as("qe")),
        "q_id")
      .join(emb.select(col("vec_id"), col("embedding").as("ce")), "vec_id")
      .select(col("q_id"), col("vec_id"),
        sqDistFF(col("qe"), col("ce")).as("dist"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dist"), col("vec_id"))
    rer
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Cosine floor above which a train vector counts as semantically
    * contaminated by the eval split (the fixture's intra-label cosines top
    * out near 0.47, so 0.35 keeps the flag non-vacuous at every SF). */
  private[graft] val ContamThreshold = 0.35

  /** Eval split floor: hash buckets >= 95 (5%) hold out the benchmark. */
  private val EvalBucket = 95

  /** Probe width of the contamination blocker — one wider than semantic
    * dedup's ([[Dedup.SemNProbe]]): decontamination is recall-critical (a
    * missed contaminated vector leaks a benchmark into training), and the
    * extra probed cell costs only +50% of an already cell-bounded join,
    * not a corpus-scale blowup. Measured on the near-uniform sf0.001
    * fixture (the hardest case for cell blocking): nearest-match recall
    * 0.43 → 0.56 going from nprobe 2 → 3, contaminated-flag recall
    * 0.77 (SimilaritySpec prints both). */
  private val ContamNProbe = 3

  /** Eval rows at or below which q81 takes the EXACT path (round-7 advice:
    * cell blocking silently missed ~24% of truly contaminated vectors on
    * the fixture — false negatives that leak benchmark data into
    * training). A benchmark eval split is normally small — thousands of
    * rows —
    * so the exact broadcast scoring (corpus × eval dot products, eval side
    * a few MB broadcast) is both affordable and recall-1.0; the blocked
    * path remains the escape hatch for an outsized eval split. The
    * decision reads the corpus row count from parquet FOOTERS
    * ([[graft.Tables.metaCount]] × the 5% split fraction) — no scan — and
    * the oracle mirrors it with `COUNT(*)`.
    * `spark.graft.contam.exactmax` overrides (tests force the blocked
    * path with 0). */
  private[graft] val ContamExactMaxEval = 10000L

  private def contamExactMax(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.contam.exactmax").map(_.toLong)
      .getOrElse(ContamExactMaxEval)

  /** True → q81 scores train×eval exactly; false → cell-blocked ANN. */
  private[graft] def contamUseExact(spark: SparkSession,
      dir: String): Boolean =
    graft.Tables.metaCount(spark, dir, "embeddings") *
      (100L - EvalBucket) <= contamExactMax(spark) * 100L

  /** Per-cell cap on the blocked path's eval index — sized for the eval
    * split (bounded, benchmark-sized) rather than [[Buckets.MaxBucket]]
    * (sized for corpus-scale hot buckets). Round-7 advice: the tight cap
    * bought nothing on an already-bounded side and cost recall in hot
    * cells; this one only guards the degenerate all-eval-in-one-cell
    * case. */
  private[graft] val ContamEvalCellCap = 10000

  /** Semantic benchmark contamination (q81): for every TRAIN vector, its
    * nearest EVAL vector by cosine, and a contamination flag — the
    * embedding-space counterpart of q62's shingle-overlap contamination
    * check (catches paraphrased benchmark leakage that exact n-gram
    * overlap misses; the decontamination pass frontier labs run before
    * training). The split reuses q53/q72's deterministic md5 buckets
    * (eval = bucket >= [[EvalBucket]]).
    *
    * ADAPTIVE path choice (round-7 advice — the pure cell-blocked form
    * silently missed ~24% of truly contaminated vectors on the fixture;
    * for a recall-critical check those are benchmark rows leaking into
    * training):
    *  - eval estimate <= [[ContamExactMaxEval]] (metadata count × 5%, no
    *    scan): EXACT scoring — every train vector against the broadcast
    *    eval split, recall 1.0 by construction. A benchmark split is
    *    normally thousands of rows, so this is the common case; the
    *    broadcast stays a few MB and the cross product is
    *    O(corpus × eval) narrow codegen work, not a shuffle.
    *  - larger eval: the BLOCKED path — both sides block through the SAME
    *    trained k-means cells as semantic dedup (q73): the eval split is
    *    indexed by its primary cell (capped at [[ContamEvalCellCap]] per
    *    cell — sized for the bounded eval side, not Buckets.MaxBucket),
    *    each train vector probes its [[ContamNProbe]] nearest cells, and
    *    scoring is an equi-join on cell: no cross join, no corpus-sized
    *    broadcast, pair work bounded at O(N · nprobe · cell fill).
    *    K scales with the corpus ([[semanticK]]) so fill stays constant.
    *
    * Both branches share the best-match assembly: map-side-combinable
    * `max(struct(sim, -eval_id))` (ties break to the smaller eval_id,
    * matching the oracle's `ORDER BY sim DESC, eval_id`); train vectors
    * with no candidate surface with NULL match and contaminated = FALSE.
    * The oracle mirrors the branch decision with a COUNT(*) scalar
    * subquery over the same UNION ALL of both branch plans, so the SQL
    * stays faithful at any SF; q101 keeps the blocked machinery
    * oracle-gated at the test SFs (where adaptive q81 is exact). */
  /** Shared CTE block of the BLOCKED contamination path (trained cells,
    * capped eval index, multi-probe candidates, per-train best) — used by
    * q81's blocked branch and verbatim by the always-blocked q101. */
  private def sqlContamBlockedCtes: String =
    s"""${sqlKmeansAssignK(sqlSemanticK)},
       |bk AS (SELECT vec_id,
       |    ${sqlHash60("CAST(vec_id AS VARCHAR)")} % 100 AS bucket
       |  FROM embeddings),
       |evi AS (SELECT eval_id, cell, ev, en FROM (
       |    SELECT a.vec_id AS eval_id, a.cell, a.embedding AS ev,
       |      a.nrm AS en,
       |      row_number() OVER (PARTITION BY a.cell
       |                         ORDER BY a.vec_id) AS crn
       |    FROM afin a JOIN bk ON bk.vec_id = a.vec_id
       |    WHERE bk.bucket >= $EvalBucket)
       |  WHERE crn <= $ContamEvalCellCap),
       |pr AS (SELECT r.vec_id, r.embedding,
       |    ${sqlNormD("r.embedding")} AS nrm, r.cell
       |  FROM rfin r JOIN bk ON bk.vec_id = r.vec_id
       |  WHERE r.rn <= $ContamNProbe AND bk.bucket < $EvalBucket),
       |sc AS (SELECT p.vec_id, e.eval_id,
       |    ${sqlDotD("p.embedding", "e.ev")} / (p.nrm * e.en) AS sim
       |  FROM pr p JOIN evi e ON e.cell = p.cell),
       |best AS (SELECT vec_id, eval_id, sim,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY sim DESC, eval_id) AS rn
       |  FROM sc)""".stripMargin

  /** Final projection over a best-match CTE `b` (rn = 1 rows). */
  private def sqlContamFinal(bestCte: String, extraPred: String = ""): String =
    s"""SELECT t.vec_id, b.eval_id AS nearest_eval_id, b.sim AS max_sim,
       |  COALESCE(b.sim >= $ContamThreshold, FALSE) AS contaminated
       |FROM bk t LEFT JOIN (SELECT * FROM $bestCte WHERE rn = 1) b
       |  ON b.vec_id = t.vec_id
       |WHERE t.bucket < $EvalBucket$extraPred""".stripMargin

  /** All eval-split rows with norms — the exact path's broadcast side. */
  private[graft] def contamEvalRows(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.StringType
    import graft.functions.FloatVector
    val bucket = hash60(col("vec_id").cast(StringType)) % 100
    emb.filter(bucket >= EvalBucket)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ev"),
        FloatVector.norm(col("embedding")).as("en"))
  }

  /** EXACT candidate scoring: every train vector against EVERY eval
    * vector, eval side broadcast (bounded — the exact path only runs when
    * the eval estimate clears [[ContamExactMaxEval]]). The intentional
    * broadcast nested loop: candidate generation by enumeration. */
  private def contamExactCand(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.StringType
    import graft.functions.FloatVector
    val bucket = hash60(col("vec_id").cast(StringType)) % 100
    emb.filter(bucket < EvalBucket)
      .select(col("vec_id"), col("embedding"),
        FloatVector.norm(col("embedding")).as("nrm"))
      .crossJoin(broadcast(contamEvalRows(emb)))
      .select(col("vec_id"), col("eval_id"),
        (FloatVector.dot(col("embedding"), col("ev"))
          / (col("nrm") * col("en"))).as("sim"))
  }

  /** BLOCKED candidate scoring: multi-probe train vectors equi-joined to
    * the capped per-cell eval index — the scale path (no cross join, no
    * corpus-sized broadcast). */
  private def contamBlockedCand(spark: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.types.StringType
    import graft.functions.FloatVector
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val (cents, evalIdx) = contamIndex(spark, dir)
    val bucket = hash60(col("vec_id").cast(StringType)) % 100
    contamProbes(emb.filter(bucket < EvalBucket), cents)
      .join(evalIdx, Seq("cell"))
      .select(col("vec_id"), col("eval_id"),
        (FloatVector.dot(col("embedding"), col("ev"))
          / (col("nrm") * col("en"))).as("sim"))
  }

  /** Best-match + flag assembly over (vec_id, eval_id, sim) candidates:
    * map-side-combinable `max(struct(sim, -eval_id))` (ties → smaller
    * eval_id, matching the oracle's ORDER BY sim DESC, eval_id), LEFT
    * join back so every train vector surfaces (NULL match → FALSE). */
  private def contamAssemble(emb: DataFrame, cand: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.StringType
    val bucket = hash60(col("vec_id").cast(StringType)) % 100
    val best = cand
      .select(col("vec_id"),
        struct(col("sim"), (-col("eval_id")).as("neg_id")).as("cand"))
      .groupBy(col("vec_id"))
      .agg(max(col("cand")).as("m"))
    emb.filter(bucket < EvalBucket).select(col("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), (-col("m.neg_id")).as("nearest_eval_id"),
        col("m.sim").as("max_sim"),
        coalesce(col("m.sim") >= ContamThreshold, lit(false))
          .as("contaminated"))
      .orderBy(col("vec_id"))
  }

  val q81SemanticContamination = QueryDef(
    "q81_semantic_contamination",
    s"""WITH $sqlContamBlockedCtes,
       |xev AS (SELECT a.vec_id AS eval_id, a.embedding AS ev,
       |    ${sqlNormD("a.embedding")} AS en
       |  FROM embeddings a JOIN bk ON bk.vec_id = a.vec_id
       |  WHERE bk.bucket >= $EvalBucket),
       |xtr AS (SELECT r.vec_id, r.embedding,
       |    ${sqlNormD("r.embedding")} AS nrm
       |  FROM embeddings r JOIN bk ON bk.vec_id = r.vec_id
       |  WHERE bk.bucket < $EvalBucket),
       |xsc AS (SELECT t.vec_id, e.eval_id,
       |    ${sqlDotD("t.embedding", "e.ev")} / (t.nrm * e.en) AS sim
       |  FROM xtr t CROSS JOIN xev e),
       |xbest AS (SELECT vec_id, eval_id, sim,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY sim DESC, eval_id) AS rn
       |  FROM xsc),
       |nrows AS (SELECT COUNT(*) AS c FROM embeddings)
       |${sqlContamFinal("xbest", extraPred = s"""
       |  AND (SELECT c FROM nrows) * ${100 - EvalBucket}
       |      <= $ContamExactMaxEval * 100""")}
       |UNION ALL
       |${sqlContamFinal("best", extraPred = s"""
       |  AND (SELECT c FROM nrows) * ${100 - EvalBucket}
       |      > $ContamExactMaxEval * 100""")}
       |ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cand =
      if (contamUseExact(spark, dir)) contamExactCand(emb)
      else contamBlockedCand(spark, dir)
    contamAssemble(emb, cand)
  }

  /** The blocked contamination path, unconditionally — q81's 100 TB branch
    * kept oracle-gated at every SF (the adaptive q81 takes the exact
    * branch on benchmark-sized eval splits, which covers all test SFs).
    * Also the batch twin of the blocked streaming scorer
    * ([[graft.streaming.ContamStream]]). */
  val q101ContamBlocked = QueryDef(
    "q101_contam_blocked",
    s"""WITH $sqlContamBlockedCtes
       |${sqlContamFinal("best")}
       |ORDER BY t.vec_id""".stripMargin) { (spark, dir) =>
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    contamAssemble(emb, contamBlockedCand(spark, dir))
  }

  /** q81's contamination model: the trained quantizer (corpus-scaled K)
    * plus the capped per-cell index of the eval split — the STATIC side a
    * decontamination pass (batch q81 or the streaming
    * [[graft.streaming.ContamStream]]) probes. Model + benchmark index,
    * both bounded; built once per (dir, conf) thanks to the centroid
    * memo. */
  private[graft] def contamIndex(spark: SparkSession,
      dir: String): (Array[(Long, Array[Double])], DataFrame) = {
    import org.apache.spark.sql.types.StringType
    import graft.functions.{FloatVector, NearestCentroid}
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = lloydCentroids(emb, KmeansIters,
      semanticK(Tables.metaCount(spark, dir, "embeddings")))
    val bucket = hash60(col("vec_id").cast(StringType)) % 100
    val evalIdx = emb.filter(bucket >= EvalBucket)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ev"),
        FloatVector.norm(col("embedding")).as("en"),
        NearestCentroid(col("embedding"), cents).as("cell"))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("eval_id"))))
      .filter(col("crn") <= ContamEvalCellCap)
      .drop("crn")
    (cents, evalIdx)
  }

  /** Multi-probe (cell, norm) expansion of any (vec_id, embedding)
    * relation against a trained quantizer — q81's probe side, shared with
    * the streaming scorer (works unchanged on a streaming DataFrame: a
    * narrow map + explode, no state). */
  private[graft] def contamProbes(vecs: DataFrame,
      cents: Array[(Long, Array[Double])]): DataFrame = {
    import graft.functions.{FloatVector, NearestCentroids}
    vecs.select(col("vec_id"), col("embedding"),
      FloatVector.norm(col("embedding")).as("nrm"),
      explode(NearestCentroids(col("embedding"), cents, ContamNProbe))
        .as("cell"))
  }

  /** q93's centroid source honoring the engine-wide exactness switch. */
  private def centroidsFor(spark: SparkSession, dir: String): DataFrame =
    if (exactMeans(Tables(spark, dir, "embeddings")))
      centroidByPos(spark, dir)
    else centroidByPosApprox(spark, dir)

  /** Embedding outlier detection for data curation: every vector's squared
    * euclidean distance to its own label's centroid, flagged when it
    * exceeds the label's 95th-percentile distance — the "find mislabeled /
    * anomalous embeddings" screening step before training on a labeled
    * corpus.
    *
    * Scale shape: centroids are MODEL state (labels × dims rows → one
    * array per label, broadcast), distances are a narrow codegen fold per
    * vector (zero shuffle), and the p95 cut is the q67 exact
    * order-statistic — a per-label window whose sort parallelizes across
    * labels; the threshold index is pure integer math (ceil(0.95·n) =
    * (19n+19) div 20, no float rounding at the cut). The outlier compare
    * is strict (> p95 value), so distance ties at the threshold resolve
    * identically in both engines. At extreme per-label cardinality swap
    * the exact percentile for approx_percentile; the exact form is kept
    * for the oracle. Centroid means use the [[centroidByPos]] ordered
    * fold (oracle-exact; production flips to the O(1)-state avg via
    * `spark.graft.centroids.exact=false` — same switch as q48). */
  val q93EmbeddingOutliers = QueryDef(
    "q93_embedding_outliers",
    s"""WITH e AS (
       |  SELECT label, vec_id,
       |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
       |    unnest(embedding) AS x
       |  FROM embeddings),
       |g AS (SELECT label, pos, list(CAST(x AS DOUBLE) ORDER BY vec_id) AS xs,
       |    COUNT(*) AS n
       |  FROM e GROUP BY label, pos),
       |c AS (SELECT label, pos, ${sqlFoldSum("xs")} / CAST(n AS DOUBLE)
       |    AS centroid FROM g),
       |ca AS (SELECT label, list(centroid ORDER BY pos) AS cvec
       |  FROM c GROUP BY label),
       |d AS (SELECT v.label, v.vec_id,
       |    ${sqlFoldSum("list_transform(list_zip(v.embedding, ca.cvec), " +
            "p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2]))")}
       |      AS dist2
       |  FROM embeddings v JOIN ca USING (label)),
       |r AS (SELECT label, vec_id, dist2,
       |    row_number() OVER (PARTITION BY label ORDER BY dist2, vec_id)
       |      AS rn,
       |    COUNT(*) OVER (PARTITION BY label) AS n
       |  FROM d),
       |t AS (SELECT label, dist2 AS thr FROM r WHERE rn = (19 * n + 19) // 20)
       |SELECT d.vec_id, d.label, d.dist2, d.dist2 > t.thr AS is_outlier
       |FROM d JOIN t USING (label)
       |ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    val centArr = centroidsFor(spark, dir)
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("pos"), col("centroid"))))
        .as("cs"))
      .select(col("label"),
        transform(col("cs"), c => c.getField("centroid")).as("cvec"))
    val dist = Tables(spark, dir, "embeddings")
      .join(broadcast(centArr), "label")
      .select(col("label"), col("vec_id"),
        sqDist(col("embedding"), col("cvec")).as("dist2"))
    // one pass: rank + count + threshold via windows over the SAME label
    // partitioning (one shuffle total) — a threshold self-join would
    // re-execute the whole centroid+distance subtree for the second branch
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dist2"), col("vec_id"))
    val lbl = Window.partitionBy(col("label"))
    dist
      .withColumn("rn", row_number().over(w).cast(LongType))
      .withColumn("n", count(lit(1)).over(lbl))
      .withColumn("thr",
        max(when(col("rn") === expr("(19 * n + 19) div 20"),
          col("dist2"))).over(lbl))
      .select(col("vec_id"), col("label"), col("dist2"),
        (col("dist2") > col("thr")).as("is_outlier"))
      .orderBy(col("vec_id"))
  }

  /** ANN quality evaluation: recall@k of two LSH index variants against
    * exact brute-force ground truth (q23) — the "measure, don't guess"
    * loop for the approximate path, run as a query so an index change
    * shows up as a recall number, not an anecdote. Variants:
    * `sig8` = exact 8-bit-signature blocking (q24's original form;
    * starved candidate sets — measured recall ≈ 0 at sf0.01, which is
    * exactly what this query exists to expose — and what moved q24
    * to bands), and `band4x2` = the
    * banded relaxation (candidates share EITHER 4-bit half — the
    * OR-of-bands construction every production LSH uses), which widens
    * the candidate set and lifts recall. Everything is deterministic
    * (fixed hyperplanes, no trained state), so the whole evaluation
    * INCLUDING the ground truth mirrors into the DuckDB oracle — unlike
    * the trained IVF/PQ variants (q40/q48/q68), whose recall is
    * spec-checked in ScalaTest instead.
    *
    * Per (variant, probe): k, candidates retrieved (capped at k), true
    * top-k hits, and recall = hits/k (one exact integer-to-double
    * division). Shape at scale: ground truth is computed only for the
    * NumQueries probe vectors — a broadcast side against the corpus
    * scan, never all pairs; each band is its own equi-join (hash-
    * joinable at 100 TB, unlike an OR-condition join) and the union
    * dedups on (q_id, vec_id) before ranking.
    */
  val q117AnnRecall = QueryDef(
    "q117_ann_recall",
    s"""WITH n AS (SELECT vec_id, embedding, ${sqlNormD("embedding")} AS nrm,
       |    ${sqlSigCol("embedding")} AS sig
       |  FROM embeddings),
       |brute AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDotD("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
       |          DESC, c.vec_id) AS rnk
       |    FROM n q, n c WHERE q.vec_id < $NumQueries AND c.vec_id <> q.vec_id)
       |  WHERE rnk <= $TopK),
       |cand AS (
       |  SELECT 'sig8' AS variant, q.vec_id AS q_id, c.vec_id AS vec_id,
       |    ${sqlDotD("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS score
       |  FROM n q JOIN n c ON q.sig = c.sig AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries
       |  UNION ALL
       |  SELECT DISTINCT 'band4x2', q_id, vec_id, score FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |      ${sqlDotD("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
       |        AS score
       |    FROM n q JOIN n c ON q.sig // 16 = c.sig // 16
       |      AND c.vec_id <> q.vec_id
       |    WHERE q.vec_id < $NumQueries
       |    UNION ALL
       |    SELECT q.vec_id, c.vec_id,
       |      ${sqlDotD("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
       |    FROM n q JOIN n c ON q.sig % 16 = c.sig % 16
       |      AND c.vec_id <> q.vec_id
       |    WHERE q.vec_id < $NumQueries)),
       |lsh AS (
       |  SELECT variant, q_id, vec_id FROM (
       |    SELECT variant, q_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY variant, q_id
       |        ORDER BY score DESC, vec_id) AS rnk
       |    FROM cand)
       |  WHERE rnk <= $TopK),
       |lr AS (SELECT variant, q_id, COUNT(*) AS retrieved
       |       FROM lsh GROUP BY variant, q_id),
       |hit AS (
       |  SELECT v.variant, b.q_id, CAST(COUNT(l.vec_id) AS BIGINT) AS hits
       |  FROM (SELECT DISTINCT variant FROM cand) v
       |  CROSS JOIN brute b
       |  LEFT JOIN lsh l ON l.variant = v.variant AND b.q_id = l.q_id
       |    AND b.vec_id = l.vec_id
       |  GROUP BY v.variant, b.q_id)
       |SELECT h.variant, h.q_id, CAST($TopK AS BIGINT) AS k,
       |  CAST(COALESCE(lr.retrieved, 0) AS BIGINT) AS retrieved, h.hits,
       |  CAST(h.hits AS DOUBLE) / CAST($TopK AS DOUBLE) AS recall
       |FROM hit h LEFT JOIN lr
       |  ON h.variant = lr.variant AND h.q_id = lr.q_id
       |ORDER BY h.variant, h.q_id""".stripMargin) { (spark, dir) =>
    val sig = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        graft.functions.FloatVector.norm(col("embedding")).as("nrm"),
        sigCol(col("embedding")).as("sig"))
    val q = sig.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("sig").as("qsig"))
    val score =
      (graft.functions.FloatVector.dot(col("qv"), col("embedding"))
        / (col("qn") * col("nrm"))).as("score")
    def cands(cond: Column): org.apache.spark.sql.DataFrame =
      sig.join(broadcast(q), cond && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), score)
    val candSig = cands(col("sig") === col("qsig"))
      .select(lit("sig8").as("variant"), col("q_id"), col("vec_id"),
        col("score"))
    // One exploded-band equi-join replaces the former UNION of two
    // whole-corpus joins (one per 4-bit half): each side emits one
    // (band, value) row per half, and the (band, value) equi-key is
    // hash-joinable exactly like each original half-join. Row multiset
    // before DISTINCT is identical — a pair sharing one half matched one
    // union branch and matches one band row here; a pair sharing both
    // halves matched both branches and matches both band rows (the
    // band ordinal in the key keeps equal-valued halves distinct).
    val bandC = sig.select(col("vec_id"), col("embedding"), col("nrm"),
      posexplode(array(expr("sig div 16"), col("sig") % 16)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
    val bandQ = q.select(col("q_id"), col("qv"), col("qn"),
      posexplode(array(expr("qsig div 16"), col("qsig") % 16)))
      .withColumnRenamed("pos", "qband").withColumnRenamed("col", "qbv")
    val candBand = bandC.join(broadcast(bandQ),
        col("band") === col("qband") && col("bv") === col("qbv") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), score)
      .distinct()
      .select(lit("band4x2").as("variant"), col("q_id"), col("vec_id"),
        col("score"))
    val cand = candSig.union(candBand)
    val w = Window.partitionBy(col("variant"), col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    // lsh is read by THREE consumers below (retrieved counts, the hit
    // join, and the variant dimension) — without a barrier AQE re-executes
    // the whole candidate union (every corpus scan + dot product) once per
    // consumer (static plan: the cand subtree appeared 3x, 10 parquet
    // scans total). lsh is ≤ variants × NumQueries × TopK rows BY
    // CONSTRUCTION — truncate it once. The variant dimension comes off
    // lsh, not cand: any variant with ≥ 1 candidate row keeps ≥ 1 top-K
    // row per populated q_id group (row_number starts at 1 ≤ TopK), so
    // DISTINCT variant over lsh ≡ DISTINCT variant over cand. The bound
    // (2 variants × NumQueries × TopK) makes it a driver-local table —
    // re-reads and broadcast builds then schedule no jobs at all.
    val lsh = Mirror.localized(
      cand.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("variant"), col("q_id"), col("vec_id")),
      2 * NumQueries * TopK)
    val wb = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    val brute = sig.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), score)
      .withColumn("rnk", row_number().over(wb))
      .filter(col("rnk") <= TopK)
      .select(col("q_id"), col("vec_id"))
    // the 2-row variant dimension is broadcast explicitly: a bare
    // crossJoin of two derived relations plans a CartesianProduct, and
    // that operator string must never appear in this tree (policy:
    // every cross join broadcasts a bounded model/scalar relation)
    val variants = broadcast(lsh.select(col("variant")).distinct())
    val lr = lsh.groupBy(col("variant"), col("q_id"))
      .agg(count(lit(1)).as("retrieved"))
    val hits = brute.crossJoin(variants)
      .join(lsh.select(col("variant").as("l_var"), col("q_id").as("l_qid"),
        col("vec_id").as("l_vid"), lit(1L).as("hit")),
        col("variant") === col("l_var") && col("q_id") === col("l_qid") &&
          col("vec_id") === col("l_vid"),
        "left")
      .groupBy(col("variant"), col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
    hits.join(lr, Seq("variant", "q_id"), "left")
      .select(col("variant"), col("q_id"), lit(TopK.toLong).as("k"),
        coalesce(col("retrieved"), lit(0L)).as("retrieved"), col("hits"),
        (col("hits").cast(DoubleType) / lit(TopK.toDouble)).as("recall"))
      .orderBy(col("variant"), col("q_id"))
  }

  val all: Seq[QueryDef] =
    Seq(q23AnnBruteforce, q24AnnLsh, q25EmbeddingCentroid, q40AnnIvf,
      q48AnnKmeansIvf, q64AnnInt8, q68AnnPq, q81SemanticContamination,
      q93EmbeddingOutliers, q101ContamBlocked, q117AnnRecall)
}
