package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Link-graph analytics for corpus curation. Web-scale training pipelines
  * rank crawl frontiers and weight sources by link authority (the
  * PageRank-family centrality signals used in CommonCrawl-derived corpus
  * work); this module adds the iterative propagate-and-aggregate operator
  * family — distinct from [[Corpus.connectedComponents]]'s min-label
  * convergence — in a form both engines compute bit-identically.
  *
  * Reference scope: the reference has no graph surface at all
  * (init-db/init.sql:9-110 — flat per-country aggregates); this is
  * 100 TB extension surface.
  *
  * Determinism strategy: ranks live in integer MICRO-units and every
  * per-edge contribution is floor((r * 17) / (outdeg * 20)) — integer
  * multiply + integral divide on non-negatives, so per-iteration sums are
  * order-independent and the engines cannot drift in ULPs the way a
  * float damping loop would. The 17/20 ratio IS the damping factor 0.85;
  * teleport mass is the exact integer 150000 = 0.15 in micro-units.
  */
object Graph {
  import Mirror._

  /** PageRank iteration count. Fixed (not convergence-driven): curation
    * wants a reproducible signal, and 5 damped rounds already separate
    * hubs from leaves; the loop shape is identical at any count. */
  private val Iters = 5

  /** Out-degree of the synthetic link graph before self-link removal. */
  private val OutLinks = 3

  /** Mid-loop rank-table truncation cadence: checkpoint `ranks` every N
    * rounds; 0 (default) chains the whole propagation into ONE linear
    * plan materialized by a single truncation at loop exit. Measured on
    * local[32] at sf0.1: each eager local truncation
    * ([[Mirror.truncated]]) costs ~2 scheduled jobs (the materializing
    * count plus the missing-partition sweep), so per-round truncation
    * pays ~10 job round-trips for a 5-round loop while the fused plan
    * pays ~2 — and inside [[withLoopConf]]'s non-adaptive pinned window
    * the fused chain runs its dozen stages in one job with no per-stage
    * re-plan.
    * The fused chain is LINEAR for q132 (each round's subtree feeds
    * only the next round — no re-execution); q134's dangling-share
    * branch adds one reduce-side re-read per round, which is why a
    * cluster run with many rounds sets a positive cadence — that path
    * reads each round's scalar off the truncation job itself
    * (observe), keeping an iteration at exactly ONE action.
    *
    * Per-query defaults (both measured at sf0.1): q132's linear chain
    * fuses cleanly → 0; q134's share branch re-executes under fusion
    * (five broadcast sub-jobs, each re-reading a round's reduce side:
    * fused 2.3 s vs observe-cadence 1.3 s at sf0.1) → 1. */
  private def ckptEvery(spark: SparkSession, default: Int): Int =
    spark.conf.get("spark.graft.pagerank.ckptEvery", default.toString)
      .toInt

  /** Loop parallelism sized to the NODE TABLE, not the session default —
    * see [[LoopConf.parts]]. */
  private def prParts(spark: SparkSession, n: Long): Int =
    LoopConf.parts(spark, n)

  /** The node table (any projection starting with doc_id),
    * hash-partitioned on doc_id [[prParts]]-wide and materialized once
    * per query: every round's rank update left-joins it on doc_id, and a
    * checkpointed LogicalRDD retains its output partitioning, so the
    * per-round join plans without re-exchanging the node side — the
    * contribs side arrives hash(dst) from its own aggregation and its
    * rename to doc_id propagates the partitioning through the projection
    * alias. The loop's links/deg/edges also derive from these
    * materialized blocks — src IS doc_id, so the derivation (explode,
    * degree count, degree join) stays partition-local end to end and the
    * source parquet is scanned exactly once per query. */
  private def prankNodes(spark: SparkSession, parts: Int,
      proj: DataFrame): DataFrame =
    truncated(proj.repartition(parts, col("doc_id")))

  /** Runs the rank loop's eager jobs under a pinned execution profile:
    * shuffle width = the loop's own [[prParts]] sizing and AQE off, both
    * restored on exit. Rationale, measured at sf0.1/local[32]: under
    * AQE every exchange of every per-round
    * checkpoint job is its own stage-job — 31 jobs for the 5-round
    * loop — and their scheduling round-trips, not executor work,
    * dominate a small graph. With the width pinned the whole round is
    * ONE job of two stages (the contribution-sum exchange is the only
    * boundary: the node/edge/rank joins all reuse the materialized
    * hash(doc_id)=hash(src) partitioning, and the degree count and
    * rank update aggregate in place). AQE's levers don't apply inside
    * the loop — keys are near-uniform hash ids (no skew to split) and
    * the width is already data-sized (nothing to coalesce). Only the
    * loop's own actions run under the pin; the returned final plan
    * executes under the caller's session settings. */
  private def withLoopConf[T](spark: SparkSession, parts: Int)(
      body: => T): T = LoopConf.pinned(spark, parts)(body)


  private def newObs(): Observation = Obs("pr_dang")

  private def obsLong(obs: Observation): Long = Obs.long(obs, "dang_sum")

  /** q132: integer PageRank over a deterministic synthetic link graph —
    * doc d links to hash60(d:link:k) mod N for k = 1..3 (self-links
    * dropped), N = corpus row count from parquet footers
    * ([[Tables.metaCount]] — no counting scan). Five damped iterations,
    * then the top-100 authorities.
    *
    * Shape at scale: the rank table is one row per node (ids + one long);
    * each iteration is the canonical distributed PageRank step — join
    * ranks to edges on src (both sides hash-partitioned by the same key
    * from the previous round's aggregations), per-edge integer
    * contribution, sum by dst — two shuffles of id+long rows per round,
    * never text. Edges are materialized once before the loop
    * ([[Mirror.truncated]]: local, or reliable under the cluster conf)
    * so the 5 rounds don't re-derive them, and so is the node table —
    * pre-hash-partitioned on doc_id ([[prankNodes]]) so every round's
    * rank update joins against it with NO exchange (checkpointed
    * LogicalRDDs retain their output partitioning; the contribs side
    * arrives hash(dst) from its own aggregation and the doc_id alias
    * propagates through the rename). An iteration is ONE action (its
    * truncation job — [[ckptEvery]] governs cadence) containing a single
    * wide exchange (the contribution sum). The final top-100 is a
    * TakeOrdered (bounded heap per partition + driver merge of 100-row
    * heads), not a global sort. Dangling nodes (all three links
    * self-directed) simply leak their mass — the standard simplification,
    * identical in both engines. */
  val q132Pagerank = QueryDef(
    "q132_pagerank", {
      val contribJoin = (prev: String) =>
        s"""SELECT e.dst, SUM((p.r * 17) // (e.outdeg * 20)) AS c
           |    FROM $prev p JOIN edges e ON p.doc_id = e.src
           |    GROUP BY e.dst""".stripMargin
      val steps = (1 to Iters).map { i =>
        s"""pr$i AS (
           |  SELECT n.doc_id, CAST(150000 + COALESCE(s.c, 0) AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN (
           |    ${contribJoin(s"pr${i - 1}")}) s
           |  ON n.doc_id = s.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH nodes AS (SELECT doc_id FROM documents),
         |nn AS (SELECT COUNT(*) AS n FROM documents),
         |links AS (
         |  SELECT d.doc_id AS src,
         |    ${sqlHash60("concat(CAST(d.doc_id AS VARCHAR), ':link:', " +
          "CAST(k.k AS VARCHAR))")} % (SELECT n FROM nn) AS dst
         |  FROM documents d
         |  CROSS JOIN (SELECT unnest(range(1, ${OutLinks + 1})) AS k) k),
         |e0 AS (SELECT src, dst FROM links WHERE src <> dst),
         |deg AS (SELECT src, COUNT(*) AS outdeg FROM e0 GROUP BY src),
         |edges AS (
         |  SELECT e.src, e.dst, g.outdeg FROM e0 e
         |  JOIN deg g ON e.src = g.src),
         |pr0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM nodes),
         |$steps
         |SELECT doc_id, r AS rank_micro FROM pr$Iters
         |ORDER BY r DESC, doc_id LIMIT 100""".stripMargin
    }) { (spark, dir) =>
    val n = Tables.metaCount(spark, dir, "documents")
    val parts = prParts(spark, n)
    withLoopConf(spark, parts) {
      val nodes = prankNodes(spark, parts,
        Tables(spark, dir, "documents").select(col("doc_id")))
      val links = nodes
        .select(col("doc_id").as("src"),
          explode(sequence(lit(1), lit(OutLinks))).as("k"))
        .select(col("src"),
          (hash60(concat(col("src").cast(StringType), lit(":link:"),
            col("k").cast(StringType))) % n).as("dst"))
        .filter(col("src") =!= col("dst"))
      val deg = links.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      // materialize once — five rounds reuse the edge table
      val edges = truncated(links.join(deg, Seq("src")))
      val every = ckptEvery(spark, 0)
      var ranks = nodes.select(col("doc_id"), lit(1000000L).as("r"))
      for (i <- 1 to Iters) {
        val contribs = edges
          .join(ranks.withColumnRenamed("doc_id", "src"), Seq("src"))
          .select(col("dst"),
            expr("(r * 17) div (outdeg * 20)").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("c"))
        val next = nodes
          .join(contribs.withColumnRenamed("dst", "doc_id"),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            (lit(150000L) + coalesce(col("c"), lit(0L))).as("r"))
        ranks = if (every > 0 && i % every == 0 && i < Iters) truncated(next)
          else next
      }
      // materialize the converged table INSIDE the pinned window, so the
      // chained loop stages execute as one non-adaptive job; the returned
      // plan is then a single narrow read + TakeOrdered
      truncated(ranks)
        .select(col("doc_id"), col("r").as("rank_micro"))
        .orderBy(col("rank_micro").desc, col("doc_id")).limit(100)
    }
  }

  /** q134: PageRank with dangling-mass redistribution — q132's loop plus
    * the standard correction q132 documents as its simplification: mass
    * arriving at nodes with no outlinks is returned to the graph instead
    * of leaking. The synthetic graph makes the term real: ~20% of docs are
    * SINKS (hash60b(d:sink) % 5 = 0 — crawl leaf pages) that receive links
    * but emit none, so every round carries substantial dangling mass.
    *
    * Per round: share = (Σ_dangling r · 17) // (20 · N) is added to every
    * node's teleport base alongside the damped in-link contributions. The
    * dangling sum costs NO extra action: the node table carries a
    * has-outlinks flag, the rank rows keep it, and each round's
    * truncation job OBSERVES Σ r over the flagged rows
    * (`Dataset.observe` — a `CollectMetrics` accumulator riding the
    * materialization, delivered to the driver with the job's completion
    * event), so round i+1 reads round i's dangling mass as a literal
    * without a second pass. An iteration is therefore exactly ONE job —
    * the same checkpoint action q132 runs — and the round-0 sum is
    * 10^6 · |dangling|, observed the same way on the node-table
    * materialization itself.
    *
    * Integer posture: ranks stay in micro-units; Σr fits a long up to
    * ~5·10^11 docs at this rank scale (9.2·10^18 / (17·10^6)) — beyond
    * that the observed sum switches to DECIMAL like q118's waterfill;
    * the per-edge and per-round floors are order-independent so both
    * engines stay bit-identical (the observed sum is an exact integer
    * sum — order-independent by construction). Mass accounting: each
    * round loses < 1 micro-unit per edge (contribution floor) + < 1 per
    * node (share floor) — GraphSpec pins the conservation bound; q132's
    * leak is the whole dangling mass instead.
    *
    * Shape at scale: identical to q132 — ONE wide exchange per round
    * (the contribution sum; node joins reuse the materialized
    * partitioning), edges and the flagged node table materialized once,
    * TakeOrdered top-100. The observe fuse needs per-round
    * materialization, so this loop always truncates every round —
    * exactly the [[ckptEvery]] default. */
  val q134PagerankDangling = QueryDef(
    "q134_pagerank_dangling", {
      val contribJoin = (prev: String) =>
        s"""SELECT e.dst, SUM((p.r * 17) // (e.outdeg * 20)) AS c
           |    FROM $prev p JOIN edges e ON p.doc_id = e.src
           |    GROUP BY e.dst""".stripMargin
      val share = (prev: String) =>
        s"""COALESCE((SELECT (CAST(SUM(p.r) AS BIGINT) * 17)
           |      // (20 * (SELECT n FROM nn))
           |    FROM $prev p JOIN dang dg ON p.doc_id = dg.doc_id), 0)""".stripMargin
      val steps = (1 to Iters).map { i =>
        s"""pr$i AS (
           |  SELECT n.doc_id,
           |    CAST(150000 + ${share(s"pr${i - 1}")}
           |      + COALESCE(s.c, 0) AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN (
           |    ${contribJoin(s"pr${i - 1}")}) s
           |  ON n.doc_id = s.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH nodes AS (SELECT doc_id FROM documents),
         |nn AS (SELECT COUNT(*) AS n FROM documents),
         |links AS (
         |  SELECT d.doc_id AS src,
         |    ${sqlHash60("concat(CAST(d.doc_id AS VARCHAR), ':link:', " +
          "CAST(k.k AS VARCHAR))")} % (SELECT n FROM nn) AS dst
         |  FROM documents d
         |  CROSS JOIN (SELECT unnest(range(1, ${OutLinks + 1})) AS k) k
         |  WHERE ${sqlHash60b("concat(CAST(d.doc_id AS VARCHAR), ':sink')")}
         |    % 5 <> 0),
         |e0 AS (SELECT src, dst FROM links WHERE src <> dst),
         |deg AS (SELECT src, COUNT(*) AS outdeg FROM e0 GROUP BY src),
         |edges AS (
         |  SELECT e.src, e.dst, g.outdeg FROM e0 e
         |  JOIN deg g ON e.src = g.src),
         |dang AS (SELECT doc_id FROM nodes
         |  WHERE doc_id NOT IN (SELECT src FROM deg)),
         |pr0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM nodes),
         |$steps
         |SELECT doc_id, r AS rank_micro FROM pr$Iters
         |ORDER BY r DESC, doc_id LIMIT 100""".stripMargin
    }) { (spark, dir) =>
    val n = Tables.metaCount(spark, dir, "documents")
    val parts = prParts(spark, n)
    withLoopConf(spark, parts) {
    val base = prankNodes(spark, parts,
      Tables(spark, dir, "documents").select(col("doc_id")))
    val links = base
      .filter(hash60b(concat(col("doc_id").cast(StringType), lit(":sink")))
        % 5 =!= 0)
      .select(col("doc_id").as("src"),
        explode(sequence(lit(1), lit(OutLinks))).as("k"))
      .select(col("src"),
        (hash60(concat(col("src").cast(StringType), lit(":link:"),
          col("k").cast(StringType))) % n).as("dst"))
      .filter(col("src") =!= col("dst"))
    val deg = links.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edges = truncated(links.join(deg, Seq("src")))
    // flagged node table: ho = has at least one outlink; materialized
    // hash(doc_id) once, its observation seeds the round-0 dangling sum
    val obs0 = newObs()
    val nodes = truncated(base
      .join(deg.select(col("src").as("doc_id"), lit(true).as("ho")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("ho"), lit(false)).as("ho"))
      .observe(obs0, coalesce(sum(when(!col("ho"), lit(1000000L))),
        lit(0L)).as("dang_sum")))
    val every = ckptEvery(spark, 1)
    var dangSum = if (every > 0) obsLong(obs0) else 0L
    var ranks = nodes.select(col("doc_id"), col("ho"),
      lit(1000000L).as("r"))
    for (i <- 1 to Iters) {
      val contribs = edges
        .join(ranks.select(col("doc_id").as("src"), col("r")), Seq("src"))
        .select(col("dst"),
          expr("(r * 17) div (outdeg * 20)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("c"))
      val joined = nodes
        .join(contribs.withColumnRenamed("dst", "doc_id"),
          Seq("doc_id"), "left")
      if (every > 0) {
        // truncation cadence: the round's ONE job — the materialization
        // carries the observed dangling sum, so round i+1 reads round
        // i's scalar off the same action
        val share = dangSum * 17L / (20L * n)
        val obs = newObs()
        ranks = truncated(joined
          .select(col("doc_id"), col("ho"),
            (lit(150000L + share) + coalesce(col("c"), lit(0L))).as("r"))
          .observe(obs, coalesce(sum(when(!col("ho"), col("r"))),
            lit(0L)).as("dang_sum")))
        if (i < Iters) dangSum = obsLong(obs)
      } else {
        // fused: the share is a ONE-ROW aggregate over the previous
        // round's flagged rows, broadcast into the update — the whole
        // loop stays one plan, materialized once at exit
        val shareDf = ranks.filter(!col("ho"))
          .agg(expr(s"(coalesce(sum(r), 0L) * 17L) div ${20L * n}L")
            .as("share"))
        ranks = joined.crossJoin(broadcast(shareDf))
          .select(col("doc_id"), col("ho"),
            (lit(150000L) + col("share") + coalesce(col("c"), lit(0L)))
              .as("r"))
      }
    }
    val fin = if (every > 0) ranks.select(col("doc_id"), col("r"))
      else truncated(ranks.select(col("doc_id"), col("r")))
    fin.select(col("doc_id"), col("r").as("rank_micro"))
      .orderBy(col("rank_micro").desc, col("doc_id")).limit(100)
    }
  }

  val all: Seq[QueryDef] = Seq(q132Pagerank, q134PagerankDangling)
}
