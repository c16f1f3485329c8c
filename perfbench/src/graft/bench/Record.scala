package graft.bench

import java.nio.file.{Files, Paths}

/** Writes the row count and digest of every benchmarked query:
  * `java ... graft.bench.Record <dataDir> <out.json> <runDir>`. Used to
  * refresh `perfbench/expect/batch.json` from a commit whose results the
  * DuckDB oracle has confirmed (tools/check.py). */
object Record {
  def main(argv: Array[String]): Unit = {
    val Array(dataDir, outPath, runDir) = argv
    val spark = Main.session(Paths.get(runDir), Main.Cores)
    val names = BatchWorkload.Relational ++ BatchWorkload.Corpus
    val oracle = graft.SparkEntry.oracleSql.keySet
    val entries = names.map { n =>
      val d = Digest.check(graft.SparkEntry.queries(n)(spark, dataDir))
      s"""    ${Json.str(n)}: {"rows": ${d.rows}, "digest": ${Json.str(d.digest)}, "oracle": ${oracle(n)}}"""
    }
    spark.stop()
    Files.writeString(Paths.get(outPath),
      s"""{\n  "data": ${Json.str(dataDir)},\n  "queries": {\n""" +
        entries.mkString(",\n") + "\n  }\n}\n")
  }
}
