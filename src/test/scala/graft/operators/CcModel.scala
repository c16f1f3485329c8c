package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import graft.covid.SparkTestSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Test-side model of connected components and a probe for the tier a
  * [[Corpus.connectedComponents]] run took.
  *
  * The model is a driver union-find written independently of
  * `src/main`. The probe reads the observed metrics of the run's
  * truncation jobs: every label round observes `cc_chg` (its change
  * count) and every star half-step `star_n`. No `cc_chg` means the pairs
  * finished on the driver; a last `cc_chg` of 0 means the label loop
  * converged; a non-zero one means the quotient was finished, on the
  * driver when no `star_n` follows and by star contraction when one
  * does. */
object CcModel {

  sealed trait Tier
  case object Level0Driver extends Tier
  case object LabelConverged extends Tier
  case object QuotientDriver extends Tier
  case object QuotientStar extends Tier

  /** One run: its components, the tier, the label rounds it ran and the
    * star truncations (the initial edge set plus two per cycle). */
  final case class Run(comp: Map[Long, Long], tier: Tier, labelRounds: Int,
      starTruncations: Int)

  /** component = min member id, for every vertex of `edges`. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toList.map(v => v -> find(v)).toMap
  }

  /** (v, component) rows of a long-keyed components table. */
  def collect(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The components `cc` computes, with the tier its run took. */
  def run(cc: => DataFrame): Run = {
    val (comp, seen) = observing(SparkTestSession.instance)(collect(cc))
    def values(prefix: String) =
      seen.collect { case (n, v) if n.startsWith(prefix) => v }
    val chg = values("graft_cc_chg_")
    val star = values("graft_star_n_")
    val tier =
      if (star.nonEmpty) QuotientStar
      else if (chg.isEmpty) Level0Driver
      else if (chg.last == 0L) LabelConverged
      else QuotientDriver
    Run(comp, tier, chg.size, star.size)
  }

  /** Evaluates `body` and returns it with every observed (name, first
    * long) its queries reported, in execution order. Listener events
    * arrive in order, so once a fence query's own metric is seen, every
    * earlier one has been seen too. */
  private def observing[T](spark: SparkSession)(body: => T)
      : (T, Seq[(String, Long)]) = {
    val seen = new ConcurrentLinkedQueue[(String, Long)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.observedMetrics.foreach { case (n, row) =>
          seen.add(n -> row.getLong(0))
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      val fence = s"cc_fence_${System.nanoTime}"
      spark.range(1).observe(fence, count(lit(1))).collect()
      val deadline = System.nanoTime + 60L * 1000000000L
      while (!seen.asScala.exists(_._1 == fence) &&
        System.nanoTime < deadline) Thread.sleep(10)
      val all = seen.asScala.toList
      assert(all.exists(_._1 == fence), "fence metric never arrived")
      (out, all.filterNot(_._1 == fence))
    } finally spark.listenerManager.unregister(listener)
  }
}
