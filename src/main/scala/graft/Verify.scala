package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-list of query names — dev-only filter]
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // same extensions as Bench: the oracle gate then validates every
      // query UNDER the optimizer rewrite, not just the vanilla planner
      .withExtensions(new graft.functions.GraftExtensions)
    // SPARK_GRAFT_CONF="k=v;k=v": extra session confs, so alternate modes
    // (e.g. spark.graft.centroids.exact=false) run through the SAME gate
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k.trim, v.trim)
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Schema-drift guard: fingerprint every table's RAW physical schema
    // (pre-normalization — the annotation Tables.apply papers over is
    // exactly what we want to watch) and diff against the committed
    // baseline. Round 9 lost three queries to a silent annotation change;
    // this turns the next one into a single loud, named diagnostic
    // instead of a per-query analysis error.
    val fingerprints: Map[String, String] = Tables.names.flatMap { n =>
      try {
        val sch = Tables.parquet(spark, s"$sfDir/$n.parquet").schema
        Some(n -> sch.fields.map(f => s"${f.name}:${f.dataType.sql}")
          .mkString(","))
      } catch { case _: Throwable => None }
    }.toMap
    val drift: Map[String, String] = {
      val baselinePath = Paths.get("tools/schema_baseline.json")
      if (!Files.exists(baselinePath)) Map.empty
      else {
        // flat {"table": "col:TYPE,..."} JSON written by this same code —
        // parse with a regex rather than pulling in a JSON dependency
        val txt = Files.readString(baselinePath)
        val entry = "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r
        val baseline = entry.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2)).toMap
        fingerprints.flatMap { case (t, fp) =>
          baseline.get(t) match {
            case Some(b) if b != fp =>
              System.err.println(
                s"[verify] SCHEMA DRIFT table=$t expected=$b actual=$fp")
              Some(t -> s"expected $b, actual $fp")
            case _ => None
          }
        }
      }
    }
    // A query that fails (analysis error, runtime crash) must leave a
    // visible trace, not silently shrink the suite: errors.json records
    // every failure and the expected/covered counts, so "all present
    // entries green" can never mask "three queries vanished".
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // SPARK_GRAFT_VERIFY_WIDE_OUT=1 skips the single-file coalesce —
    // for the synthetic scale sweeps, where a per-event-sized result
    // (q51 emits one row per event) otherwise funnels the whole global
    // sort + parquet encode through ONE task (>300 s at 10M events).
    // The oracle compares read the dump with a *.parquet glob, so file
    // count is irrelevant; the driver's gate runs without the env var
    // and keeps the exact single-file layout it has always read.
    val wideOut = sys.env.get("SPARK_GRAFT_VERIFY_WIDE_OUT").contains("1")
    selected.foreach { case (name, fn) =>
      try {
        val out = fn(spark, sfDir)
        (if (wideOut) out else out.coalesce(1)).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures.map { case (k, v) =>
      s"${q(k)}: ${q(v.take(500))}" }.mkString("{", ",", "}")
    val driftJson = drift.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      s"""{"expected":${selected.size},"covered":${selected.size - failures.size},"schema_drift":$driftJson,"failures":$errJson}""")
    val fpJson = fingerprints.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/schema_fingerprint.json"), fpJson)
    spark.stop()
  }
}
