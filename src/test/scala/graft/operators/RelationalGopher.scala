package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Executable specification of [[Quality.gopherProfile]]: q151's
  * per-document repetition profile in relational form — per-width gram
  * counts ranked by a window, duplicated occurrences unioned as
  * running-max islands, and characters summed through a token prefix-sum
  * join — the form the native [[graft.functions.GopherRepetition]]
  * replaced and is tested against (GopherRepetitionSpec). Same columns,
  * same rows, same values. */
object RelationalGopher {

  import Mirror._

  def profile(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), length(col("text")).cast(LongType).as("n_chars"))
      .filter(col("n_chars") >= 1)

    // top n-gram mass: per width, per doc, the most frequent gram's
    // occurrence count x its char length (ties: smallest 60-bit hash,
    // the deterministic stand-in for lexicographic order both engines
    // replay on the same hashes)
    val topNum = Quality.TopNgramPct.map { case (n, _) =>
      docs.select(col("doc_id"),
          explode(graft.functions.NGramGen(col("text"), n)).as("gram"))
        .select(col("doc_id"), hash60(col("gram")).as("sh"),
          length(col("gram")).cast(LongType).as("glen"))
        .groupBy(col("doc_id"), col("sh"))
        .agg(count(lit(1)).as("cnt"), max(col("glen")).as("glen"))
        .withColumn("n", lit(n))
    }.reduce(_ unionByName _)
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("doc_id"), col("n"))
        .orderBy(col("cnt").desc, col("sh"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("n"), (col("cnt") * col("glen")).as("num"))

    // duplicated n-gram coverage: positioned grams -> within-doc counts
    // -> occurrences of duplicated grams as token intervals -> interval
    // union (running-max islands) -> char length via token prefix sums
    val posGrams = Quality.DupNgramPct.map { case (n, _) =>
      docs.select(col("doc_id"),
          posexplode(graft.functions.NGramGen(col("text"), n))
            .as(Seq("p0", "gram")))
        .select(col("doc_id"), lit(n).as("n"),
          (col("p0") + 1).cast(LongType).as("pos"),
          hash60(col("gram")).as("sh"))
    }.reduce(_ unionByName _)
    val dupPos = posGrams
      .join(posGrams.groupBy(col("doc_id"), col("n"), col("sh"))
          .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
          .drop("cnt"),
        Seq("doc_id", "n", "sh"))
      .select(col("doc_id"), col("n"), col("pos"),
        (col("pos") + col("n") - 1).as("e"))
    val wSeq = Window.partitionBy(col("doc_id"), col("n"))
      .orderBy(col("pos"))
    val ivs = dupPos
      .withColumn("pmax",
        max(col("e")).over(wSeq.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("grp",
        sum(when(col("pmax").isNull || col("pos") > col("pmax"), 1L)
          .otherwise(0L)).over(wSeq))
      .groupBy(col("doc_id"), col("n"), col("grp"))
      .agg(min(col("pos")).as("a"), max(col("e")).as("b"))
    val cum = docs
      .select(col("doc_id"), posexplode(words(col("text")))
        .as(Seq("p0", "wd")))
      .select(col("doc_id"), (col("p0") + 1).cast(LongType).as("p"),
        length(col("wd")).cast(LongType).as("wl"))
      .withColumn("cum", sum(col("wl")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("p"))))
      .select(col("doc_id"), col("p"), col("cum"))
    val dupNum = ivs.as("iv")
      .join(cum.as("cb"), col("iv.doc_id") === col("cb.doc_id") &&
        col("iv.b") === col("cb.p"))
      .join(cum.as("ca"), col("iv.doc_id") === col("ca.doc_id") &&
        (col("iv.a") - 1) === col("ca.p"), "left")
      .select(col("iv.doc_id").as("doc_id"), col("iv.n").as("n"),
        (col("cb.cum") - coalesce(col("ca.cum"), lit(0L)) +
          (col("iv.b") - col("iv.a"))).as("chars"))
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(col("chars")).as("num"))

    val tp = topNum.groupBy(col("doc_id")).agg(
      max(when(col("n") === Quality.TopNgramPct.head._1, col("num")))
        .as(s"t${Quality.TopNgramPct.head._1}"),
      Quality.TopNgramPct.tail.map { case (n, _) =>
        max(when(col("n") === n, col("num"))).as(s"t$n")
      }: _*)
    val dp = dupNum.groupBy(col("doc_id")).agg(
      max(when(col("n") === Quality.DupNgramPct.head._1, col("num")))
        .as(s"d${Quality.DupNgramPct.head._1}"),
      Quality.DupNgramPct.tail.map { case (n, _) =>
        max(when(col("n") === n, col("num"))).as(s"d$n")
      }: _*)

    val fracCols =
      Quality.TopNgramPct.map { case (n, _) =>
        (coalesce(col(s"t$n"), lit(0L)).cast(DoubleType) /
          col("n_chars").cast(DoubleType)).as(s"top${n}_frac")
      } ++ Quality.DupNgramPct.map { case (n, _) =>
        (coalesce(col(s"d$n"), lit(0L)).cast(DoubleType) /
          col("n_chars").cast(DoubleType)).as(s"dup${n}_frac")
      }
    val keep = (Quality.TopNgramPct.map { case (n, pct) =>
      coalesce(col(s"t$n"), lit(0L)) * 100 <= lit(pct) * col("n_chars")
    } ++ Quality.DupNgramPct.map { case (n, pct) =>
      coalesce(col(s"d$n"), lit(0L)) * 100 <= lit(pct) * col("n_chars")
    }).reduce(_ && _)

    base
      .join(tp, Seq("doc_id"), "left")
      .join(dp, Seq("doc_id"), "left")
      .select(col("doc_id") +: col("n_chars") +: fracCols :+
        keep.as("gopher_keep"): _*)
  }
}
