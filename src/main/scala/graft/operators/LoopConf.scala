package graft.operators

import org.apache.spark.sql.SparkSession

/** Pinned execution profile for iterative loops over SMALL derived tables
  * (rank tables, component labels, contracted edge sets — id+long rows,
  * tiny relative to the corpus that produced them).
  *
  * Two pins, both restored on exit:
  *
  *  - shuffle width sized to the LOOP's table ([[parts]]), not the
  *    session default — spraying a megabyte-scale label table over the
  *    corpus-sized shuffle width costs a task storm per round (the
  *    measured floor of the PageRank and CC loops at small SF);
  *  - AQE off — under AQE every exchange of every round's truncation job
  *    is its own stage-job with a planning round-trip, and AQE's levers
  *    are dead weight inside these loops (keys are near-uniform ids, the
  *    width is already data-sized).
  *
  * The pin applies only to actions EXECUTED inside `body` (the loop's
  * eager truncations); plans returned out of the window execute under
  * the caller's session settings. The CORPUS-scale stages that feed a
  * loop (LSH banding, cosine verification, parquet scans) must be
  * materialized BEFORE entering the window so they keep full
  * parallelism and adaptive planning.
  *
  * Concurrency caveat: the pin mutates SESSION runtime conf, so an
  * unrelated query planned on the same SparkSession during the window
  * would inherit it. Every graft entry point executes queries
  * sequentially per session (Verify, Bench, the SparkEntry contract);
  * a host application multiplexing one session across threads should
  * give loop-running queries their own session (`newSession()` shares
  * the ContextState but isolates runtime conf). */
private[operators] object LoopConf {

  /** Target rows per loop partition: ~1M (id, long) rows ≈ 16 MB. */
  private val RowsPerPart = 1L << 20

  /** ceil(rows / [[RowsPerPart]]) clamped to [1, session shuffle width]:
    * a 60k-row local loop runs 1-wide; a 10^11-row cluster loop
    * saturates the configured width. Partition count never affects loop
    * results — rounds reduce with exact order-independent operations
    * (integer sums, mins). */
  def parts(spark: SparkSession, rows: Long): Int = {
    val sp = spark.conf.get("spark.sql.shuffle.partitions", "200").toLong
    math.max(1L, math.min(sp, (rows + RowsPerPart - 1) / RowsPerPart))
      .toInt
  }

  def pinned[T](spark: SparkSession, nParts: Int)(body: => T): T = {
    val conf = spark.conf
    val savedSp = conf.getOption("spark.sql.shuffle.partitions")
    val savedAqe = conf.getOption("spark.sql.adaptive.enabled")
    conf.set("spark.sql.shuffle.partitions", nParts.toString)
    conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally {
      savedSp.fold(conf.unset("spark.sql.shuffle.partitions"))(
        conf.set("spark.sql.shuffle.partitions", _))
      savedAqe.fold(conf.unset("spark.sql.adaptive.enabled"))(
        conf.set("spark.sql.adaptive.enabled", _))
    }
  }
}
