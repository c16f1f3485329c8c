package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only empirical scale probe (round-14 verdict item 3): generate a
  * documents/embeddings pair at sf0.1 size and at ~10× that size, run
  * the five scale-claiming families FRESH (every artifact cache
  * disabled, so each run pays the full pipeline), and report
  * runtime-vs-scale ratios plus shuffle write volume — the empirical
  * check behind the per-operator "linear at 100 TB" plan-shape claims.
  *
  * The generator mimics the driver corpus' structure (small shared
  * vocabulary → natural shingle overlap and near-dups; clustered
  * embeddings = per-label center + per-vector noise) as pure hash
  * functions of the id, so both scales draw from the SAME distribution
  * and the 10× dir is not ten copies of the 1× dir (copies would
  * manufacture quadratic duplicate structure no real corpus has).
  *
  * Usage: `runMain graft.tools.ScaleProbe [baseRows=5000] [mult=10]`.
  * Writes /tmp/graft-scale/x1 and /tmp/graft-scale/x<mult>, prints one
  * SCALE line per (family, scale) and a ratio table.
  */
object ScaleProbe {

  private val Vocab = Seq("spark", "line", "column", "part", "scan",
    "fast", "query", "agg", "table", "hash", "slow", "value", "filter",
    "customer", "stream", "key", "group", "the", "order", "window",
    "join", "small", "data", "row", "vector", "sort", "batch", "merge",
    "big", "a")

  private def gen(spark: SparkSession, dir: String, docs: Long,
      vecs: Long, files: Int): Unit = {
    val vocabSql = Vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    val d = spark.range(docs).selectExpr(
      "id AS doc_id",
      s"""array_join(transform(
         |  sequence(0, 14 + cast(pmod(hash(id), 46) AS int)),
         |  i -> element_at($vocabSql,
         |         cast(pmod(hash(id, i), ${Vocab.size}) AS int) + 1)),
         | ' ') AS text""".stripMargin,
      "element_at(array('en','de','fr','zh','es','ru')," +
        " cast(pmod(hash(id, 7), 6) AS int) + 1) AS lang",
      "concat('src', pmod(id, 10)) AS source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    d.coalesce(files).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val e = spark.range(vecs).selectExpr(
      "id AS vec_id",
      """transform(sequence(0, 63), d -> cast(
        |  (pmod(hash(pmod(hash(id, 3), 16), d), 1000) / 500.0 - 1.0) +
        |  (pmod(hash(id, d), 1000) / 5000.0 - 0.1) AS float))
        | AS embedding""".stripMargin,
      "cast(pmod(hash(id, 3), 16) AS int) AS label")
    e.coalesce(files).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
  }

  /** `pairs` mode: count the LSH candidate-pair relation at three
    * corpus sizes — the direct empirical check of the cap-saturation
    * claim (SCALE.md): pairs/doc grows through the fill² transition and
    * FLATTENS once hot buckets saturate at MaxBucket, bounding the
    * asymptote at N·Bands·MaxBucket/2. Counting the pair relation alone
    * (no verify join) isolates the stage the claim is about. */
  private def pairsProbe(spark: SparkSession, baseRows: Long,
      mults: Seq[Int]): Unit = {
    val base = "/tmp/graft-scale"
    mults.foreach { m =>
      val dir = s"$base/n${baseRows * m}"
      if (!new java.io.File(s"$dir/documents.parquet").isDirectory) {
        println(s"[scale] generating $dir (${baseRows * m} docs)")
        gen(spark, dir, baseRows * m, baseRows * m * 2 / 5,
          math.max(4, 4 * m))
      }
      val docs = graft.Tables(spark, dir, "documents")
      val t0 = System.nanoTime()
      val nPairs = graft.operators.Dedup.candidateStatsPre(
        graft.operators.Dedup.minhashBandsOf(docs),
        graft.operators.Dedup.shingleSetsOf(docs),
        s"scaleprobe_cap_x$m").count()
      val secs = (System.nanoTime() - t0) / 1e9
      val perDoc = nPairs.toDouble / (baseRows * m)
      println(f"PAIRS x$m%d docs=${baseRows * m}%d cand_pairs=$nPairs%d " +
        f"pairs_per_doc=$perDoc%.2f secs=$secs%.1f")
    }
  }

  /** `graph` mode (round-15 verdict item 5): the PageRank family
    * (q132/q134) over the synthetic corpus at 50k and 500k nodes,
    * recording wall-clock, shuffle write volume, TOTAL scheduled jobs,
    * and jobs per iteration — the per-iteration driver round-trips are
    * exactly the pattern local probes under-report, so the job count is
    * measured, not inferred from the code. Expected shape after the
    * round-16 loop rework: q132 fuses all [[graft.operators.Graph]]
    * rounds into one action (0 per-round actions), q134 runs exactly
    * one action per round (the observed truncation). */
  private def graphProbe(spark: SparkSession, baseRows: Long,
      mults: Seq[Int]): Unit = {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val shuffle = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten); ()
        }
      }
    })
    val base = "/tmp/graft-scale"
    mults.foreach { m =>
      val dir = s"$base/n${baseRows * m}"
      if (!new java.io.File(s"$dir/documents.parquet").isDirectory) {
        println(s"[scale] generating $dir (${baseRows * m} docs)")
        gen(spark, dir, baseRows * m, baseRows * m * 2 / 5,
          math.max(4, 4 * m))
      }
      Seq("q132_pagerank", "q134_pagerank_dangling").foreach { q =>
        val runs = (1 to 2).map { _ =>
          jobs.set(0L); shuffle.set(0L)
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(q)(spark, dir).count()
          val secs = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // drain straggler task-end events
          (secs, jobs.get(), shuffle.get())
        }
        val best = runs.minBy(_._1)
        println(f"GRAPH $q x$m%d nodes=${baseRows * m}%d " +
          f"secs=${best._1}%.2f jobs=${best._2}%d " +
          f"shuffleMB=${best._3 / 1e6}%.1f")
      }
    }
  }

  /** `cc` mode (round 16): the full near-dup connected-components
    * pipeline (q59's body — LSH pairs → label rounds → bounded-quotient
    * driver union-find) at 50k and 500k docs, recording wall, TOTAL
    * jobs, and shuffle volume. The claim under test: after the round-16
    * rework the JOB count is a function of propagation depth (label
    * rounds + fixed setup), NOT corpus size — the quotient solve is
    * O(quotient) driver work, and a bigger corpus only widens the
    * per-job stages. */
  private def ccProbe(spark: SparkSession, baseRows: Long,
      mults: Seq[Int]): Unit = {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val shuffle = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten); ()
        }
      }
    })
    val base = "/tmp/graft-scale"
    mults.foreach { m =>
      val dir = s"$base/n${baseRows * m}"
      if (!new java.io.File(s"$dir/documents.parquet").isDirectory) {
        println(s"[scale] generating $dir (${baseRows * m} docs)")
        gen(spark, dir, baseRows * m, baseRows * m * 2 / 5,
          math.max(4, 4 * m))
      }
      val runs = (1 to 2).map { _ =>
        jobs.set(0L); shuffle.set(0L)
        val t0 = System.nanoTime()
        graft.SparkEntry.queries("q59_dedup_components")(spark, dir)
          .count()
        val secs = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        (secs, jobs.get(), shuffle.get())
      }
      val best = runs.minBy(_._1)
      println(f"CC q59 x$m%d docs=${baseRows * m}%d secs=${best._1}%.2f " +
        f"jobs=${best._2}%d shuffleMB=${best._3 / 1e6}%.1f")
    }
  }

  /** `tokenizer` mode (round 16): the three fresh-train pipelines
    * (q135 BPE, q163 WordPiece, q145 unigram) at 50k and 500k docs,
    * recording wall, TOTAL scheduled jobs, and shuffle volume. The
    * claim under test: ONE corpus-scale pass (the word-frequency
    * collapse, map-side combined) and then vocabulary-sized rounds —
    * so the job count is a function of the round budget, not corpus
    * size, and shuffle volume stays vocabulary-bounded (the synthetic
    * corpus draws from a fixed vocabulary, so a flat shuffle line IS
    * the collapse working; a corpus-proportional line would mean word
    * rows are leaking through the combine). */
  private def tokProbe(spark: SparkSession, baseRows: Long,
      mults: Seq[Int]): Unit = {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val shuffle = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten); ()
        }
      }
    })
    val base = "/tmp/graft-scale"
    mults.foreach { m =>
      val dir = s"$base/n${baseRows * m}"
      if (!new java.io.File(s"$dir/documents.parquet").isDirectory) {
        println(s"[scale] generating $dir (${baseRows * m} docs)")
        gen(spark, dir, baseRows * m, baseRows * m * 2 / 5,
          math.max(4, 4 * m))
      }
      Seq("q135_bpe_train_pipeline", "q163_wordpiece_train_pipeline",
        "q145_unigram_train_pipeline").foreach { q =>
        val runs = (1 to 2).map { _ =>
          jobs.set(0L); shuffle.set(0L)
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(q)(spark, dir).count()
          val secs = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // drain straggler task-end events
          (secs, jobs.get(), shuffle.get())
        }
        val best = runs.minBy(_._1)
        println(f"TOK $q x$m%d docs=${baseRows * m}%d " +
          f"secs=${best._1}%.2f jobs=${best._2}%d " +
          f"shuffleMB=${best._3 / 1e6}%.1f")
      }
    }
  }

  /** `snapshot` mode (round 16): a FULL sf0.1-shaped snapshot — all
    * eight relational tables plus documents/embeddings — at `mult`×
    * the sf0.1 row counts, so the ENTIRE 167-query suite (not just the
    * document families) can be driven through `graft.Verify` and the
    * per-query oracle harness (`tools/scalecheck.py`) at 10×/100×
    * scale. Values are pure hash functions of the row id (same
    * discipline as [[gen]]): both scales draw from one distribution,
    * FK keys land uniformly in range, doubles are integer/100 (bit-
    * identical in any parquet reader), timestamps are TIMESTAMP_NTZ
    * (the driver files' annotation). Distributional REALISM is not the
    * point — the oracle compare is an equality check, and both engines
    * read the same files; what scales is row volume and join/shuffle
    * structure. */
  private def genSnapshot(spark: SparkSession, dir: String,
      m: Int): Unit = {
    import spark.implicits._
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
      "MIDDLE EAST")
    regions.zipWithIndex.map { case (r, i) => (i, r) }
      .toDF("r_regionkey", "r_name")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/region.parquet")
    (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/nation.parquet")
    val C = 15000L * m; val S = 1000L * m; val P = 20000L * m
    val O = 150000L * m; val L = 600000L * m; val E = 100000L * m
    val files = math.max(4, 4 * m)
    def w(df: org.apache.spark.sql.DataFrame, t: String): Unit =
      df.coalesce(files).write.mode("overwrite")
        .parquet(s"$dir/$t.parquet")
    w(spark.range(C).selectExpr("id AS c_custkey",
      "format_string('Customer#%09d', id) AS c_name",
      "cast(pmod(hash(id, 1), 25) AS int) AS c_nationkey",
      "cast(pmod(hash(id, 2), 1100000) AS double) / 100.0 - 999.0" +
        " AS c_acctbal",
      "element_at(array('AUTOMOBILE','BUILDING','FURNITURE'," +
        "'HOUSEHOLD','MACHINERY'), cast(pmod(hash(id, 3), 5) AS int)" +
        " + 1) AS c_mktsegment"), "customer")
    w(spark.range(S).selectExpr("id AS s_suppkey",
      "format_string('Supplier#%09d', id) AS s_name",
      "cast(pmod(hash(id, 4), 25) AS int) AS s_nationkey",
      "cast(pmod(hash(id, 5), 1100000) AS double) / 100.0 - 999.0" +
        " AS s_acctbal"), "supplier")
    w(spark.range(P).selectExpr("id AS p_partkey",
      "concat(element_at(array('large','hot','blue','small','green'," +
        "'cold'), cast(pmod(hash(id, 6), 6) AS int) + 1), ' ', " +
        "element_at(array('ring','bolt','screw','washer','nut','pin')," +
        " cast(pmod(hash(id, 7), 6) AS int) + 1)) AS p_name",
      "concat('Brand#', cast(pmod(hash(id, 8), 25) AS int)) AS p_brand",
      "element_at(array('ECONOMY','SMALL','LARGE','STANDARD','MEDIUM'," +
        "'PROMO'), cast(pmod(hash(id, 9), 6) AS int) + 1) AS p_type",
      "cast(pmod(hash(id, 10), 50) AS int) + 1 AS p_size",
      "cast(pmod(hash(id, 11), 100000) AS double) / 100.0 + 900.0" +
        " AS p_retailprice"), "part")
    w(spark.range(O).selectExpr("id AS o_orderkey",
      s"pmod(hash(id, 12), ${C}L) AS o_custkey",
      "element_at(array('O','P','F'), cast(pmod(hash(id, 13), 3)" +
        " AS int) + 1) AS o_orderstatus",
      "cast(pmod(hash(id, 14), 45000000) AS double) / 100.0" +
        " AS o_totalprice",
      "timestampadd(DAY, cast(pmod(hash(id, 15), 2404) AS int), " +
        "TIMESTAMP_NTZ '1995-01-01 00:00:00') AS o_orderdate",
      "element_at(array('1-URGENT','2-HIGH','3-MEDIUM'," +
        "'4-NOT SPECIFIED','5-LOW'), cast(pmod(hash(id, 16), 5)" +
        " AS int) + 1) AS o_orderpriority"), "orders")
    w(spark.range(L).selectExpr(
      s"pmod(hash(id, 17), ${O}L) AS l_orderkey",
      s"pmod(hash(id, 18), ${P}L) AS l_partkey",
      s"pmod(hash(id, 19), ${S}L) AS l_suppkey",
      "cast(pmod(id, 7) AS int) + 1 AS l_linenumber",
      "cast(cast(pmod(hash(id, 20), 50) AS int) + 1 AS double)" +
        " AS l_quantity",
      "cast(pmod(hash(id, 21), 10000000) AS double) / 100.0 + 1.0" +
        " AS l_extendedprice",
      "cast(pmod(hash(id, 22), 11) AS double) / 100.0 AS l_discount",
      "cast(pmod(hash(id, 23), 9) AS double) / 100.0 AS l_tax",
      "element_at(array('R','A','N'), cast(pmod(hash(id, 24), 3)" +
        " AS int) + 1) AS l_returnflag",
      "element_at(array('O','F'), cast(pmod(hash(id, 25), 2)" +
        " AS int) + 1) AS l_linestatus",
      "timestampadd(DAY, cast(pmod(hash(id, 26), 2499) AS int) + 1, " +
        "TIMESTAMP_NTZ '1995-01-01 00:00:00') AS l_shipdate"),
      "lineitem")
    w(spark.range(E).selectExpr("id AS event_id",
      "timestampadd(SECOND, cast(pmod(hash(id, 27), 2592000) AS int), " +
        "TIMESTAMP_NTZ '2024-01-01 00:00:00') AS ts",
      s"pmod(hash(id, 28), ${1500L * m}L) AS user_id",
      "element_at(array('click','error','purchase','signup','view')," +
        " cast(pmod(hash(id, 29), 5) AS int) + 1) AS event_type",
      "cast(pmod(hash(id, 30), 56021) AS double) / 100.0 AS value",
      "concat('{\"k\": ', cast(pmod(hash(id, 31), 100) AS int), '}')" +
        " AS props"), "events")
    gen(spark, dir, 5000L * m, 2000L * m, files)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("snapshot")) {
      val m = if (args.length > 1) args(1).toInt else 10
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val dir = s"/tmp/graft-scale/full_x$m"
      println(s"[scale] generating full snapshot $dir (${m}x sf0.1)")
      genSnapshot(spark, dir, m)
      println(s"[scale] done: $dir")
      spark.stop()
      return
    }
    if (args.headOption.contains("tokenizer")) {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      tokProbe(spark, 50000L, Seq(1, 10))
      spark.stop()
      return
    }
    if (args.headOption.contains("cc")) {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.graft.paircache", "false")
        .config("spark.graft.cccache", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      ccProbe(spark, 50000L, Seq(1, 10))
      spark.stop()
      return
    }
    if (args.headOption.contains("graph")) {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      graphProbe(spark, 50000L, Seq(1, 10))
      spark.stop()
      return
    }
    if (args.headOption.contains("pairs")) {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      pairsProbe(spark, 50000L, Seq(1, 10, 30))
      spark.stop()
      return
    }
    val baseRows = if (args.length > 0) args(0).toLong else 5000L
    val mult = if (args.length > 1) args(1).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // FRESH pipelines only: every artifact tier off, so both scales
    // pay identical work and the ratio measures the algorithm
    val spark = graft.operators.Artifacts.stores.map(_.name).distinct
      .foldLeft(SparkSession.builder())((b, n) =>
        b.config(s"spark.graft.$n", "false"))
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten); ()
        }
      }
    })

    val base = "/tmp/graft-scale"
    val dirs = Seq(1 -> s"$base/n$baseRows",
      mult -> s"$base/n${baseRows * mult}")
    dirs.foreach { case (m, dir) =>
      if (!new java.io.File(s"$dir/documents.parquet").isDirectory) {
        println(s"[scale] generating $dir (${baseRows * m} docs)")
        gen(spark, dir, baseRows * m, baseRows * m * 2 / 5,
          math.max(4, 4 * m))
      }
    }

    val families = Seq[(String, (SparkSession, String) => Long)](
      "q19_lsh_neardup" -> ((s, d) =>
        graft.SparkEntry.queries("q19_dedup_minhash_lsh")(s, d).count()),
      "q166_semantic_fresh" -> ((s, d) =>
        graft.SparkEntry.queries("q166_semantic_dedup_fresh")(s, d)
          .count()),
      "q143_substring_spans" -> ((s, d) =>
        graft.SparkEntry.queries("q143_substring_spans")(s, d).count()),
      "q68_ann_pq" -> ((s, d) =>
        graft.SparkEntry.queries("q68_ann_pq")(s, d).count()),
      "q161_signal_table" -> ((s, d) =>
        graft.operators.ManifestCache.flags(s, d).count()))

    val results = scala.collection.mutable.Map
      .empty[(String, Int), (Double, Long, Long)]
    dirs.foreach { case (m, dir) =>
      families.foreach { case (name, fn) =>
        // two fresh executions, keep the min (damps GC/JIT noise); the
        // per-JVM centroid memo is cleared so EVERY run trains fresh
        val runs = (1 to 2).map { _ =>
          graft.operators.Similarity.clearModelMemoForTest()
          shuffleBytes.set(0L)
          val t0 = System.nanoTime()
          val rows = fn(spark, dir)
          val secs = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // let straggler task-end events drain
          (secs, shuffleBytes.get(), rows)
        }
        val best = runs.minBy(_._1)
        results((name, m)) = best
        println(f"SCALE $name x$m%d: secs=${best._1}%.2f " +
          f"shuffleMB=${best._2 / 1e6}%.1f rows=${best._3}%d")
      }
    }
    println(s"family | x1 s | x$mult s | time ratio | x1 shMB | " +
      s"x$mult shMB | shuffle ratio")
    families.foreach { case (name, _) =>
      val a = results((name, 1)); val b = results((name, mult))
      println(f"$name | ${a._1}%.2f | ${b._1}%.2f | ${b._1 / a._1}%.1fx" +
        f" | ${a._2 / 1e6}%.1f | ${b._2 / 1e6}%.1f" +
        f" | ${b._2.toDouble / math.max(a._2, 1)}%.1fx")
    }
    spark.stop()
  }
}
