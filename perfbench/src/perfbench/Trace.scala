package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock shared by client spans and Spark's own event times: epoch
  * milliseconds as a double, derived from one nanoTime origin so spans
  * recorded here keep sub-millisecond resolution.
  */
object Clock {
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** A span of one operation: `layer` names the module the time belongs to. */
final case class Span(op: String, layer: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spans and counts recorded from the benchmark side of each layer
  * boundary, plus Spark's public listeners: `SparkListener` for jobs,
  * stages and tasks, and `QueryExecutionListener` for the planning tracker
  * (phases and per-rule times) and the executed plan's SQL metrics. Jobs
  * and query executions are tied to the benchmark operation that caused
  * them through the `perfbench.op` local property set on the client thread.
  * Everything stays in memory until the run ends.
  */
final class Tracer(spark: SparkSession, nproc: Int) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val maxima = new ConcurrentHashMap[String, AtomicLong]()
  private val execToOp = new ConcurrentHashMap[Long, String]()
  private val qes = new ConcurrentLinkedQueue[(Long, String, QueryExecution)]()
  @volatile private var t0Ms = 0.0
  @volatile private var t1Ms = 0.0

  def add(name: String, v: Long): Unit =
    counters.computeIfAbsent(name, _ => new LongAdder).add(v)
  def max(name: String, v: Long): Unit =
    maxima.computeIfAbsent(name, _ => new AtomicLong(Long.MinValue)).accumulateAndGet(v, math.max)
  def count(name: String): Long = Option(counters.get(name)).map(_.sum).getOrElse(0L)
  def maxOf(name: String): Long = Option(maxima.get(name)).map(_.get).filter(_ != Long.MinValue).getOrElse(0L)

  /** Time `body` as a span of `layer` within operation `op`. */
  def span[T](op: String, layer: String)(body: => T): T = {
    val s = Clock.nowMs
    try body finally spans.add(Span(op, layer, s, Clock.nowMs))
  }

  /** Run `body` with Spark jobs attributed to `op`. */
  def withOp[T](op: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", op)
    try body finally sc.setLocalProperty("perfbench.op", null)
  }

  private val jobStart = new ConcurrentHashMap[Int, (Double, String)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty("perfbench.op"))).getOrElse("")
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => if (op.nonEmpty) execToOp.putIfAbsent(id.toLong, op))
      jobStart.put(e.jobId, (e.time.toDouble, op))
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, op) =>
        spans.add(Span(op, "exec", s, e.time.toDouble))
        add("exec.job_us", ((e.time - s) * 1000).toLong)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("exec.stages", 1)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => ended(end.executionId)
      case _                                 => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      add("exec.tasks", 1)
      if (m != null) {
        add("exec.task_run_ms", m.executorRunTime)
        add("exec.task_cpu_ns", m.executorCpuTime)
        add("exec.gc_ms", m.jvmGCTime)
        add("exec.task_wall_ms", info.duration)
        add("exec.scheduler_delay_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.write_ns", m.shuffleWriteMetrics.writeTime)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("operators.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        max("operators.peak_mem_bytes", m.peakExecutionMemory)
      }
    }
  }

  // A QueryExecutionListener callback carries no execution id, but it is
  // driven by the SparkListenerSQLExecutionEnd event, which does and which
  // the same listener-bus thread also delivers to `sparkListener`, just
  // before or just after the callback. Each side parks what it saw until
  // the other side pairs with it.
  private var pendingQe: (String, QueryExecution) = null
  private var pendingEnd: Option[Long] = None

  private def ended(id: Long): Unit = synchronized {
    if (pendingQe != null) { qes.add((id, pendingQe._1, pendingQe._2)); pendingQe = null }
    else pendingEnd = Some(id)
  }

  private def reported(funcName: String, qe: QueryExecution): Unit = synchronized {
    pendingEnd match {
      case Some(id) => qes.add((id, funcName, qe)); pendingEnd = None
      case None     => pendingQe = (funcName, qe)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      reported(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      reported(funcName, qe)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    CodeGenerator.resetCompileTime()
    t0Ms = Clock.nowMs
  }

  /** Detach the listeners; listener-bus events still in flight are given
    * a moment to arrive first.
    */
  def stop(): Unit = {
    t1Ms = Clock.nowMs
    add("operators.codegen_ns", CodeGenerator.compileTime)
    Thread.sleep(1000)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Query executions run by action `funcName` in operations of `kind`. */
  def funcCount(kind: String, funcName: String): Double =
    qes.asScala.count { case (id, f, _) =>
      f == funcName && Option(execToOp.get(id)).exists(_.startsWith(kind + "-"))
    }.toDouble

  private object Plans extends AdaptiveSparkPlanHelper

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Sum of timing metrics named `name` in ms (Spark records some in ms,
    * some in ns).
    */
  private def timingMs(nodes: Seq[SparkPlan], name: String): Double = nodes.map { p =>
    p.metrics.get(name).map { m: SQLMetric =>
      if (m.metricType == "nsTiming") m.value / 1e6 else m.value.toDouble
    }.getOrElse(0.0)
  }.sum

  /** Fold every recorded query execution into per-layer counts. */
  private def foldQueryExecutions(): mutable.Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    qes.asScala.foreach { case (id, _, qe) =>
      val op = Option(execToOp.get(id)).getOrElse("")
      val tr = qe.tracker
      tr.phases.foreach { case (phase, ps) =>
        if (phase != "parsing") {
          out(s"plans.${phase}_ms") += ps.durationMs
          spans.add(Span(op, "plans", ps.startTimeMs.toDouble, ps.endTimeMs.toDouble))
        }
      }
      tr.rules.foreach { case (rule, rs) =>
        if (rule.startsWith("graft.")) {
          out("plans.graft_rule_ms") += rs.totalTimeNs / 1e6
          out("plans.graft_rule_invocations") += rs.numInvocations
          out("plans.graft_rule_effective") += rs.numEffectiveInvocations
        }
      }
      val plan = try Some(qe.executedPlan) catch { case _: Throwable => None }
      plan.foreach { root =>
        val nodes = Plans.collect(root) { case p => p }
        val scans = nodes.collect { case s: FileSourceScanExec => s }
        out("scan.count") += scans.size
        out("scan.rows") += scans.map(metric(_, "numOutputRows")).sum
        out("scan.bytes") += scans.map(metric(_, "filesSize")).sum
        out("scan.files") += scans.map(metric(_, "numFiles")).sum
        out("scan.time_ms") += timingMs(scans, "scanTime")
        out("scan.splits") += scans.map(s =>
          try s.inputRDD.getNumPartitions.toLong catch { case _: Throwable => 0L }).sum
        out("shuffle.exchanges") += nodes.count(_.isInstanceOf[ShuffleExchangeExec])
        out("operators.agg_build_ms") += timingMs(nodes, "aggTime")
        out("operators.join_build_ms") += timingMs(nodes, "buildTime")
        out("operators.sort_ms") += timingMs(nodes, "sortTime")
        nodes.foreach(n => n.metrics.get("peakMemory").foreach(m => max("operators.peak_mem_bytes", m.value)))
      }
    }
    out("plans.query_executions") = qes.size.toDouble
    out("trace.qe_attributed") = qes.asScala.count(q => execToOp.containsKey(q._1)).toDouble
    out
  }

  /** Share of the union of `ops` intervals that no layer span of the same
    * operation covers. `ops` are the root spans, one per operation.
    */
  private def unattributed(ops: Seq[Span], layers: Set[String]): Double = {
    val byOp = spans.asScala.filter(s => layers.contains(s.layer)).groupBy(_.op)
    var total = 0.0
    var covered = 0.0
    ops.foreach { o =>
      total += o.ms
      val ivs = byOp.getOrElse(o.op, Nil).toSeq
        .map(s => (math.max(s.startMs, o.startMs), math.min(s.endMs, o.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var end = Double.MinValue
      ivs.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
    }
    if (total <= 0) 0.0 else math.max(0.0, 1.0 - covered / total)
  }

  /** Per-layer metrics common to every workload; `ops` is the number of
    * benchmark operations, `rows` the rows they returned.
    */
  def layerMetrics(ops: Long, rows: Long, rootLayer: String, childLayers: Set[String]): Seq[Metric] = {
    val q = foldQueryExecutions()
    val per = math.max(1L, ops).toDouble
    val wallMs = math.max(1.0, t1Ms - t0Ms)
    val roots = spans.asScala.filter(_.layer == rootLayer).toSeq
    val inv = q("plans.graft_rule_invocations")
    Seq(
      Metric("plans.analysis_ms", q("plans.analysis_ms") / per, "ms"),
      Metric("plans.optimization_ms", q("plans.optimization_ms") / per, "ms"),
      Metric("plans.planning_ms", q("plans.planning_ms") / per, "ms"),
      Metric("plans.graft_rule_ms", q("plans.graft_rule_ms") / per, "ms"),
      Metric("plans.rule_effective_frac", if (inv > 0) q("plans.graft_rule_effective") / inv else 0.0, "frac"),
      Metric("plans.rule_invocations", inv, "count"),
      Metric("exec.jobs_per_op", count("exec.jobs") / per, "count"),
      Metric("exec.stages_per_op", count("exec.stages") / per, "count"),
      Metric("exec.tasks_per_op", count("exec.tasks") / per, "count"),
      Metric("exec.job_ms", count("exec.job_us") / 1000.0 / per, "ms"),
      Metric("exec.scheduler_delay_ms", count("exec.scheduler_delay_ms").toDouble / per, "ms"),
      Metric("exec.task_run_ms", count("exec.task_run_ms").toDouble / per, "ms"),
      Metric("exec.task_cpu_ms", count("exec.task_cpu_ns") / 1e6 / per, "ms"),
      Metric("exec.gc_ms", count("exec.gc_ms").toDouble / per, "ms"),
      Metric("exec.slot_busy_frac", count("exec.task_wall_ms") / (wallMs * nproc), "frac"),
      Metric("scan.bytes", q("scan.bytes") / per, "bytes"),
      Metric("scan.rows", q("scan.rows") / per, "count"),
      Metric("scan.splits", q("scan.splits") / per, "count"),
      Metric("scan.files", q("scan.files") / per, "count"),
      Metric("scan.time_ms", q("scan.time_ms") / per, "ms"),
      Metric("scan.rows_per_result_row", q("scan.rows") / math.max(1L, rows), "ratio"),
      Metric("shuffle.exchanges_per_op", q("shuffle.exchanges") / per, "count"),
      Metric("shuffle.write_bytes", count("shuffle.write_bytes") / per, "bytes"),
      Metric("shuffle.read_bytes", count("shuffle.read_bytes") / per, "bytes"),
      Metric("shuffle.write_ms", count("shuffle.write_ns") / 1e6 / per, "ms"),
      Metric("shuffle.fetch_wait_ms", count("shuffle.fetch_wait_ms") / per, "ms"),
      Metric("operators.codegen_ms", count("operators.codegen_ns") / 1e6 / per, "ms"),
      Metric("operators.agg_build_ms", q("operators.agg_build_ms") / per, "ms"),
      Metric("operators.join_build_ms", q("operators.join_build_ms") / per, "ms"),
      Metric("operators.sort_ms", q("operators.sort_ms") / per, "ms"),
      Metric("operators.spill_bytes", count("operators.spill_bytes") / per, "bytes"),
      Metric("operators.peak_mem_bytes", maxOf("operators.peak_mem_bytes").toDouble, "bytes"),
      Metric("trace.unattributed_frac", unattributed(roots, childLayers), "frac"),
      Metric("trace.spans", spans.size.toDouble, "count"),
      Metric("trace.qe_attributed_frac", q("trace.qe_attributed") / math.max(1.0, q("plans.query_executions")), "frac"))
  }
}

final case class Metric(name: String, value: Double, unit: String)
