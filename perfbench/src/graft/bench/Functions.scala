package graft.bench

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{BpeMergeStep, MinHashSig, NGramGen, NearestCentroid,
  OverlapPairs}

/** Traced only: cost of each `graft.functions` expression alone. Each is
  * evaluated over its own cached input and timed to its full result; a pass
  * that only reads the same input is subtracted, and the difference is
  * divided by the row count. Each input is `copies` copies of the
  * `documents` or `embeddings` table, sized so that the expression's own
  * time is at least about 350 ms on a 4-core host, well above the per-job
  * cost and jitter of a pass (30-90 ms). Inputs are built and dropped one at
  * a time. */
object Functions {
  val Reps = 3
  /** Buckets of the `OverlapPairs` input: about 40 members each. */
  val Buckets = 3000

  /** One probe: the input (a single column `c`, built from `copies`), and
    * the expression over it. */
  private final case class Case(name: String, copies: Int,
      input: Int => DataFrame, expression: Column)

  def probe(spark: SparkSession, a: Args, tr: Tracer, out: Outcome): Unit = {
    val docs = graft.Tables(spark, a.dataDir, "documents")
      .select("doc_id", "text")
    val embeddings = graft.Tables(spark, a.dataDir, "embeddings")
      .select("embedding")
    def text(copies: Int): DataFrame = spark.range(copies).crossJoin(docs)
      .select((col("id") * 1000000L + col("doc_id")).as("doc_id"),
        col("text"))
    def one(df: DataFrame, c: Column): DataFrame = df.select(c.as("c"))
    val cents: Array[(Long, Array[Double])] = embeddings.limit(16).collect()
      .zipWithIndex.map { case (r, i) =>
        i.toLong -> r.getSeq[Float](0).map(_.toDouble).toArray }
    val c = col("c")
    val cases = Seq(
      Case("MinHashSig", 50, n => one(text(n), expr("shingles3_gen(text)")),
        MinHashSig(c, 16, 4, 562949953421311L)),
      Case("OverlapPairs", 240, n => text(n)
        .select(pmod(xxhash64(col("doc_id")), lit(Buckets)).as("bucket"),
          struct(col("doc_id"), expr("sort_array(array_distinct(transform(" +
            "shingles3_gen(text), s -> md5_hash60(s))))").as("hs")).as("m"))
        .groupBy("bucket").agg(sort_array(collect_list(col("m"))).as("c"))
        .select(c), OverlapPairs(c)),
      Case("SimHash", 60, n => one(text(n), col("text")),
        expr("simhash60(c)")),
      Case("ShingleGen", 100, n => one(text(n), col("text")),
        expr("shingles3_gen(c)")),
      Case("NGramGen", 100, n => one(text(n), col("text")), NGramGen(c, 5)),
      Case("BpeMerge", 140,
        n => one(text(n), split(substring(col("text"), 1, 64), "")),
        BpeMergeStep.merged(c, "t", "h")),
      Case("NearestCentroid", 600,
        n => one(spark.range(n).crossJoin(embeddings), col("embedding")),
        NearestCentroid(c, cents)),
      Case("UrlCanon", 800, n => one(text(n),
        concat(lit("HTTP://WWW.Example"), (col("doc_id") % 97).cast("string"),
          lit(".COM:80/a//b/?utm_source=x&q="), col("doc_id").cast("string"),
          lit("#frag"))), expr("url_canon(c)")),
      Case("Phash", 2400, n => one(text(n), col("text")), expr("phash16(c)")))
    cases.foreach { k =>
      val input = k.input(k.copies).persist()
      try {
        Try {
          Main.materialize(input)
          val rows = input.count().toDouble
          def best(col: Column): Double = (1 to Reps).map { _ =>
            val t0 = System.nanoTime()
            tr.span("functions", k.name)(Main.materialize(input.select(col)))
            System.nanoTime() - t0
          }.min.toDouble
          val scan = best(c)
          val withExpr = best(k.expression)
          out.note(s"functions.${k.name}", f"${withExpr / 1e6}%.1f ms with," +
            f" ${scan / 1e6}%.1f ms without, ${rows}%.0f rows")
          out.metric(s"functions.${k.name}.ns_per_row",
            math.max(0.0, withExpr - scan) / rows, "ns")
        } match {
          case Success(_) => out.ok()
          case Failure(e) =>
            out.fail(s"functions.${k.name}: ${e.toString.take(300)}")
        }
      } finally input.unpersist(blocking = true)
    }
  }
}
