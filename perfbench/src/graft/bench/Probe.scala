package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Reads Spark's own per-query instrumentation from outside the program:
  * the task listener, the executed plan's SQL metrics, the Catalyst phase
  * tracker and the codegen compile clock. Only the traced run installs
  * it. */
final class Probe(spark: SparkSession) {
  val tasks = new TaskListener
  private val qes = new ConcurrentLinkedQueue[QueryExecution]()
  spark.sparkContext.addSparkListener(tasks)
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      qes.add(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  })

  /** Per-operation accumulators: name → summed value. */
  val sums = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  var ops = 0L

  private def add(k: String, v: Double): Unit =
    sums(k) = sums.getOrElse(k, 0.0) + v

  def drain(): Unit = org.apache.spark.benchshim.Bus.drain(spark)

  /** Runs `body` as one measured operation and adds its counters. */
  def measure[T](body: => T): T = {
    drain()
    qes.clear()
    val before = tasks.snapshot
    val compile0 = codegenCompileNs
    val w0 = Main.nowMs
    val r = body
    val w1 = Main.nowMs
    drain()
    val d = tasks.snapshot - before
    ops += 1
    add("operators.jobs", d.jobs.toDouble)
    add("operators.stages", d.stages.toDouble)
    add("operators.tasks", d.tasks.toDouble)
    add("operators.executor_run_ms", d.runMs.toDouble)
    add("operators.executor_cpu_ms", d.cpuMs)
    add("operators.gc_ms", d.gcMs.toDouble)
    add("operators.shuffle_write_bytes", d.shuffleWrite.toDouble)
    add("operators.shuffle_read_bytes", d.shuffleRead.toDouble)
    add("operators.fetch_wait_ms", d.fetchWaitMs.toDouble)
    add("operators.spill_bytes", d.spill.toDouble)
    add("operators.driver_ms",
      DriverTime.ms(w0, w1, tasks.jobsBetween(w0, w1)).toDouble)
    add("tables.bytes_read", d.bytesRead.toDouble)
    add("tables.rows_read", d.recordsRead.toDouble)
    add("plans.codegen_compile_ms", (codegenCompileNs - compile0) / 1e6)
    qes.asScala.foreach { qe =>
      val ph = qe.tracker.phases
      Seq("analysis" -> "plans.analysis_ms",
        "optimization" -> "plans.optimizer_ms",
        "planning" -> "plans.planning_ms").foreach { case (p, k) =>
        add(k, ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)) }
      val nodes = Probe.nodes(qe.executedPlan)
      add("plans.topk_rewrites",
        nodes.count(_.nodeName.startsWith("TopKPerKey")).toDouble)
      add("tables.scan_ms", nodes.collect { case s: FileSourceScanExec =>
        s.metrics.get("scanTime").map(_.value.toDouble).getOrElse(0.0)
      }.sum)
      add("operators.rows_out", nodes.drop(1).find(_.metrics
        .contains("numOutputRows")).map(_.metrics("numOutputRows").value
        .toDouble).getOrElse(0.0))
    }
    r
  }

  /** Mean per measured operation of every accumulated counter. */
  def perOp: Seq[(String, Double, String)] =
    sums.toSeq.map { case (k, v) =>
      val unit = if (k.endsWith("_ms")) "ms"
        else if (k.endsWith("_bytes") || k.endsWith("bytes_read")) "bytes"
        else "count"
      (k, if (ops == 0) 0.0 else v / ops, unit)
    }

  private def codegenCompileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .compileTime
}

object Probe {
  /** Every physical node of an executed plan, through adaptive plans,
    * query stages and subqueries, root first. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries)
      .flatMap(nodes)
  }
}
