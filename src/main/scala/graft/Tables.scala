package graft

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType

/** Loader for the driver-generated test tables (TESTDATA.md).
  *
  * Always a plain parquet scan: Catalyst pushes filters/column pruning into
  * the scan, so callers should select/filter on the result rather than
  * pre-materializing. At cluster scale the same call works on a
  * directory-partitioned table unchanged.
  *
  * Every table and artifact read goes through [[parquet]], which reads the
  * schema from one footer on the driver and hands it to the reader, so
  * building a DataFrame launches no Spark job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `path` read as parquet, with its schema taken from one footer on the
    * driver.
    *
    * `spark.read.parquet(path)` infers the schema by running a one-task
    * Spark job that reads a single footer; at this engine's table sizes
    * that job costs more than the scan planning around it. This reads the
    * footer Spark's inference would pick (`ParquetUtils.inferSchema`
    * without schema merging): `_common_metadata`, else `_metadata`, else
    * the first data file by path, found with one `getFileStatus` and one
    * `listStatus` under the session's Hadoop conf. The schema is Spark's
    * own `readSchemaFromFooter` over a converter built from the same
    * session confs the inference uses (`nanosAsLong`, `binaryAsString`,
    * `int96AsTimestamp`, `inferTimestampNTZ`), so it equals the inferred
    * one, and `spark.read.schema(s).parquet(path)` plans without a job.
    *
    * It falls back to `spark.read.parquet(path)` when schema merging is
    * on, when the path holds no data file at its top level (an empty or
    * partitioned directory) or when reading the footer throws; Spark's own
    * errors and its `ignoreCorruptFiles` handling are then unchanged. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession,
      path: String): Option[StructType] = {
    val sql = spark.sessionState.conf
    if (sql.isParquetSchemaMergingEnabled) return None
    try {
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      val file: Option[Path] =
        if (!st.isDirectory) Some(st.getPath)
        else {
          val (dirs, files) = fs.listStatus(p)
            .filter(s => listed(s.getPath.getName)).partition(_.isDirectory)
          val leaves = files.map(_.getPath).sortBy(_.toString)
          def named(n: String) = leaves.find(_.getName == n)
          val data = leaves.filterNot(f => Summaries(f.getName))
          if (dirs.nonEmpty || data.isEmpty) None
          else named("_common_metadata").orElse(named("_metadata"))
            .orElse(data.headOption)
        }
      file.map { f =>
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = sql.isParquetBinaryAsString,
          assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
          inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
          nanosAsLong = sql.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation =
            sql.parquetReaderRespectUnknownTypeAnnotation)
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(f, footer(f, conf)(_.getFooter)), converter)
      }
    } catch { case NonFatal(_) => None }
  }

  private val Summaries = Set("_common_metadata", "_metadata")

  /** Whether Spark's file index lists `name`
    * (`HadoopFSUtils.shouldFilterOutPathName`): hidden and in-progress
    * names are skipped, parquet summary files are kept. */
  private def listed(name: String): Boolean =
    name.startsWith("_common_metadata") || name.startsWith("_metadata") ||
      !((name.startsWith("_") && !name.contains("=")) ||
        name.startsWith(".") || name.endsWith("._COPYING_"))

  /** Opens `file`'s parquet footer under `conf`, the one footer reader
    * behind [[parquet]] (driver) and [[metaCount]] (driver or executor). */
  private def footer[T](file: Path, conf: Configuration)(
      read: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try read(r) finally r.close()
  }

  /** Exact row count of `dir/name.parquet` from parquet FOOTER metadata —
    * the sizing path for model hyperparameters (q73/q81's corpus-scaled
    * quantizer K). A `df.count()` here would launch an extra full-corpus
    * job per invocation just to pick K; footers already carry the exact
    * row count, so this reads O(files) footers instead of O(rows) data.
    * Up to `distributeAbove` files the footers are read on the driver
    * (zero Spark jobs — the common case: one sizing call, few files); a
    * larger table fans the footer reads out as one tiny Spark job over
    * the file list (100 TB ≈ 10⁵ files — not a driver-side loop). */
  def metaCount(spark: SparkSession, dir: String, name: String,
      distributeAbove: Int = 64): Long = {
    val p = new Path(dir, s"$name.parquet")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files: Seq[String] =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter { s =>
          val n = s.getPath.getName
          s.isFile && !n.startsWith("_") && !n.startsWith(".")
        }.map(_.getPath.toString).toSeq
      else Seq(p.toString)
    if (files.length <= distributeAbove) files.map(footerRowCount).sum
    else
      spark.sparkContext
        .parallelize(files, math.max(1, files.length / 32))
        .map(footerRowCount).sum().toLong
  }

  /** Row count from one parquet footer. Runs driver- or executor-side;
    * builds a default Hadoop `Configuration` (fs.defaultFS etc. come from
    * core-site.xml on the executor classpath in a real deployment). */
  private def footerRowCount(file: String): Long =
    footer(new Path(file), new Configuration())(_.getRecordCount)

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The driver has generated events.ts under three parquet annotations
    // across rounds: TIMESTAMP(NANOS) (Spark rejects natively — read as
    // epoch-nanos long and truncate to micros), TIMESTAMP_LTZ (passes
    // through), and TIMESTAMP_NTZ(micros) (isAdjustedToUTC=false, which
    // Spark 4 loads as TimestampNTZType). Normalize every shape to
    // session-TZ TIMESTAMP here so downstream code (`unix_micros`,
    // window(), Row.getTimestamp) sees one type. The session timezone is
    // pinned UTC, so the NTZ→LTZ cast is value-preserving and matches what
    // DuckDB (the oracle) reads from the same file.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name != "events") df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          expr("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
}
