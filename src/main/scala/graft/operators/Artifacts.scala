package graft.operators

import java.io.{DataInputStream, DataOutputStream}

import scala.util.control.NonFatal

import graft.Tables
import graft.operators.ArtifactStore.Store
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** The engine's persisted artifacts: each object below declares one
  * [[ArtifactStore]] store — what it computes, which input table keys it,
  * and its payload format — and resolves it through
  * [[ArtifactStore.cached]]. A production pipeline writes each of these
  * tables or models once (at ingest, or as an offline training job) and
  * every downstream job reads it; so does this engine.
  *
  * Shared contract (the specs prove cached ≡ computed for every store):
  *  - fingerprint = store name + the input table's qualified path and
  *    content stamp + the engine stamp; every artifact reads
  *    documents.parquet or embeddings.parquet, so a downstream artifact
  *    rotates with its upstream;
  *  - `spark.graft.<store>=false` computes inline;
  *  - the queries that bypass a store by construction (q59 for cc, q166
  *    for sem, q135/q145/q163 for the tokenizers, q154 for lm) keep each
  *    fresh pipeline oracle- and bench-visible every round. */
object Artifacts {

  /** Every store, in the order [[graft.Warm]] publishes them. */
  private[graft] val stores: Seq[Store] =
    Seq(PairCache, SimPairCache, CcCache, SemCache, BpeCache, UnigramCache,
      LmCache, WpCache, ManifestCache) ++ graft.streaming.Replay.stores :+
      ModelCache

  /** [[ArtifactStore.cached]] keyed by one input table of `dir`, which also
    * tags the artifact for pruning. */
  private[graft] def overTable[T](spark: SparkSession, store: Store,
      dir: String, table: String)(compute: => T)(write: (T, Path) => Unit,
      read: Path => T): T = {
    lazy val input = {
      val p = new Path(dir, table)
      ArtifactStore.fileSystem(spark, p).makeQualified(p)
    }
    ArtifactStore.cached(spark, store,
      ArtifactStore.contentStamp(ArtifactStore.fileSystem(spark, input), input)
        .map(s"$input|" + _),
      input.toString)(compute)(write, read)
  }

  private[operators] def parquet(att: Path, part: String): String =
    new Path(att, part).toString

  /** Reads back the parquet table `part` of the artifact at `att`. */
  private[operators] def load(spark: SparkSession, att: Path,
      part: String): DataFrame =
    Tables.parquet(spark, parquet(att, part))
}

/** A store whose artifact is one table computed from an SF dir. */
private[graft] abstract class FrameStore(name: String, input: String)
    extends Store(name) {
  protected def compute(spark: SparkSession, dir: String): DataFrame

  protected final def frame(spark: SparkSession, dir: String): DataFrame =
    Artifacts.overTable(spark, this, dir, input)(compute(spark, dir))(
      (df, att) => df.write.mode("overwrite")
        .parquet(Artifacts.parquet(att, "data")),
      att => Artifacts.load(spark, att, "data"))

  def warm(spark: SparkSession, dir: String): Any = frame(spark, dir)
}

/** The verified near-dup candidate statistics ([[Dedup.candidateStatsOf]]):
  * the LSH signature + capped-bucket + shingle-verification pipeline, the
  * suite's most expensive subtree, read by q19, q59/q94/q96, q78, q83 and
  * the q99/q100 sweeps. O(near-dup pairs), never corpus-sized. */
object PairCache extends FrameStore("paircache", "documents.parquet") {
  protected def compute(spark: SparkSession, dir: String): DataFrame =
    Dedup.candidateStatsOf(Tables(spark, dir, "documents"))

  def pairStats(spark: SparkSession, dir: String): DataFrame =
    frame(spark, dir)
}

/** The SimHash verified candidate statistics ([[Dedup.simhashStatsOf]]:
  * doc_a, doc_b, hamming, inter, tot) behind q109's calibration report;
  * q20/q21 and q102 keep the fresh pipeline gate-visible. */
object SimPairCache extends FrameStore("simpaircache", "documents.parquet") {
  protected def compute(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashStatsOf(Tables(spark, dir, "documents"))

  def stats(spark: SparkSession, dir: String): DataFrame = frame(spark, dir)
}

/** Duplicate-cluster component labels (v, component):
  * [[Corpus.connectedComponents]] over [[Dedup.nearDupPairs]], read by
  * q78, q94, q96, q98 and q140. q59 calls `connectedComponents` directly,
  * so the label-propagation loop stays oracle-gated. */
object CcCache extends FrameStore("cccache", "documents.parquet") {
  protected def compute(spark: SparkSession, dir: String): DataFrame =
    Corpus.connectedComponents(
      Dedup.nearDupPairs(spark, dir), "doc_a", "doc_b")

  def components(spark: SparkSession, dir: String): DataFrame =
    frame(spark, dir)
}

/** Semantic duplicate-cluster labels (v, component): the component loop
  * over [[Dedup.semanticPairs]] with the trained quantizer, q73's whole
  * cost. q166 recomputes it inline against the same oracle SQL. */
object SemCache extends FrameStore("semcache", "embeddings.parquet") {
  protected def compute(spark: SparkSession, dir: String): DataFrame =
    Dedup.semanticComponents(spark, dir)

  def components(spark: SparkSession, dir: String): DataFrame =
    frame(spark, dir)
}

/** q161's per-doc stage-signal table ([[CorpusBuild.docFlags]]: doc_id,
  * n_tokens, t_ex, f1..f8). Every signal keeps a fresh, oracle-gated
  * source query (q112, q151, q155/q156, q153, q128, q143/q147, q59,
  * q152). */
object ManifestCache extends FrameStore("manifestcache", "documents.parquet") {
  protected def compute(spark: SparkSession, dir: String): DataFrame =
    CorpusBuild.docFlags(spark, dir)

  def flags(spark: SparkSession, dir: String): DataFrame = frame(spark, dir)
}

/** The trained BPE tokenizer ([[TextAnalysis.bpeTrain]]): final segmented
  * vocabulary + merge list, what sentencepiece/HF tokenizers serialize.
  * O(|vocab|), bounded by the language. q135 trains inline. */
private[graft] object BpeCache extends Store("bpecache") {
  def warm(spark: SparkSession, dir: String): Any = trained(spark, dir)

  def trained(spark: SparkSession,
      dir: String): (DataFrame, Seq[(Int, String, String, Long)]) =
    Artifacts.overTable(spark, this, dir, "documents.parquet")(
      TextAnalysis.bpeTrain(Tables(spark, dir, "documents")))(
      { case ((vocab, merges), att) =>
        import spark.implicits._
        vocab.write.mode("overwrite").parquet(Artifacts.parquet(att, "vocab"))
        merges.toDF("rnd", "sym_a", "sym_b", "cnt").coalesce(1).write
          .mode("overwrite").parquet(Artifacts.parquet(att, "merges"))
        // the payload is durable: release the training's persisted vocab
        vocab.unpersist(false)
      },
      { att =>
        import spark.implicits._
        (Artifacts.load(spark, att, "vocab"),
          Artifacts.load(spark, att, "merges")
            .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq)
      })
}

/** The trained WordPiece tokenizer ([[TextAnalysis.wpTrain]], the
  * q162/q163 family): final segmented vocabulary + merge 6-tuples. q163
  * trains inline. */
private[graft] object WpCache extends Store("wpcache") {
  def warm(spark: SparkSession, dir: String): Any = trained(spark, dir)

  def trained(spark: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, String, String, Long, Long, Long)]) =
    Artifacts.overTable(spark, this, dir, "documents.parquet")(
      TextAnalysis.wpTrain(Tables(spark, dir, "documents")))(
      { case ((vocab, merges), att) =>
        import spark.implicits._
        vocab.write.mode("overwrite").parquet(Artifacts.parquet(att, "vocab"))
        merges.toDF("rnd", "sym_a", "sym_b", "cnt", "ca", "cb").coalesce(1)
          .write.mode("overwrite").parquet(Artifacts.parquet(att, "merges"))
        vocab.unpersist(false)
      },
      { att =>
        import spark.implicits._
        (Artifacts.load(spark, att, "vocab"),
          Artifacts.load(spark, att, "merges")
            .as[(Int, String, String, Long, Long, Long)].collect()
            .sortBy(_._1).toSeq)
      })
}

/** The trained unigram-LM tokenizer ([[TextAnalysis.unigramTrainFull]]):
  * piece table (piece, plen, usage) + segmented vocabulary (w, n_pieces).
  * q145 trains inline. */
private[graft] object UnigramCache extends Store("unigramcache") {
  def warm(spark: SparkSession, dir: String): Any = trained(spark, dir)

  def trained(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    Artifacts.overTable(spark, this, dir, "documents.parquet")(
      TextAnalysis.unigramTrainFull(Tables(spark, dir, "documents")))(
      { case ((pieces, vocab), att) =>
        pieces.coalesce(1).write.mode("overwrite")
          .parquet(Artifacts.parquet(att, "pieces"))
        vocab.coalesce(1).write.mode("overwrite")
          .parquet(Artifacts.parquet(att, "vocab"))
      },
      att => (Artifacts.load(spark, att, "pieces"),
        Artifacts.load(spark, att, "vocab")))

  def pieces(spark: SparkSession, dir: String): DataFrame =
    trained(spark, dir)._1

  def vocab(spark: SparkSession, dir: String): DataFrame =
    trained(spark, dir)._2
}

/** q153's reference language model ([[Quality.lmRefCounts]]): bigram
  * counts, prefix counts and the prefix-vocabulary size — CCNet's
  * reference model as two count tables and one scalar. q154 trains
  * inline. */
private[graft] object LmCache extends Store("lmcache") {
  def warm(spark: SparkSession, dir: String): Any = counts(spark, dir)

  def counts(spark: SparkSession, dir: String): (DataFrame, DataFrame, Long) =
    Artifacts.overTable(spark, this, dir, "documents.parquet")(
      Quality.lmRefCounts(spark, dir))(
      { case ((c2, c1, v), att) =>
        c2.write.mode("overwrite").parquet(Artifacts.parquet(att, "c2"))
        c1.write.mode("overwrite").parquet(Artifacts.parquet(att, "c1"))
        spark.range(1).select(lit(v).as("v")).coalesce(1).write
          .mode("overwrite").parquet(Artifacts.parquet(att, "meta"))
      },
      att => (Artifacts.load(spark, att, "c2"),
        Artifacts.load(spark, att, "c1"),
        Artifacts.load(spark, att, "meta")
          .collect().head.getAs[Long]("v")))
}

/** Trained quantizer centroid models — the disk tier under the per-JVM
  * memo in [[Similarity]], so the index q48/q73/q81 probe survives the
  * JVM. The payload is a few KiB of doubles written via
  * `doubleToLongBits`, so a reload is bit-exact. */
private[graft] object ModelCache extends Store("modelcache") {

  /** Every query whose plan trains (and so publishes) a quantizer; the
    * exact keys are (input × canonical plan × params) tuples, so running
    * the queries is the only complete enumeration. */
  private val Queries = Seq(
    "q24_ann_lsh", "q40_ann_ivf", "q48_ann_kmeans_ivf", "q64_ann_int8",
    "q68_ann_pq", "q73_semantic_dedup", "q81_semantic_contamination",
    "q93_embedding_outliers", "q101_contam_blocked", "q117_ann_recall")

  def warm(spark: SparkSession, dir: String): Any =
    Queries.foreach { q =>
      graft.SparkEntry.queries.get(q).foreach { fn =>
        try fn(spark, dir).count() catch { case NonFatal(_) => () }
      }
    }

  /** The persisted model for `memoKey` (the memo's leaf-paths-with-content-
    * stamps + canonical plan + params, so data identity is covered), or
    * `train` it and persist. `stableTag` is the memo key without the
    * volatile stamps: a publish after a rebuild or data regeneration
    * prunes the superseded model of the same slot. */
  def loadOrTrain(spark: SparkSession, memoKey: String, stableTag: String)(
      train: () => Array[(Long, Array[Double])])
      : Array[(Long, Array[Double])] =
    ArtifactStore.cached(spark, this, Some(memoKey), stableTag)(train())(
      { (m, att) =>
        val p = new Path(att, "centroids.bin")
        val out = new DataOutputStream(
          ArtifactStore.fileSystem(spark, p).create(p, true))
        try {
          out.writeInt(m.length)
          m.foreach { case (cell, vec) =>
            out.writeLong(cell)
            out.writeInt(vec.length)
            vec.foreach(d =>
              out.writeLong(java.lang.Double.doubleToLongBits(d)))
          }
        } finally out.close()
      },
      { att =>
        val p = new Path(att, "centroids.bin")
        val in = new DataInputStream(ArtifactStore.fileSystem(spark, p).open(p))
        try Array.fill(in.readInt()) {
          val cell = in.readLong()
          (cell, Array.fill(in.readInt())(
            java.lang.Double.longBitsToDouble(in.readLong())))
        } finally in.close()
      })
}
