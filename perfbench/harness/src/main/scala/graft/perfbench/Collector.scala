package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters from Spark's own instrumentation: a SparkListener
  * for jobs, stages and task metrics, a QueryExecutionListener for planning
  * time and the SQL metrics of the executed plans, and the static codegen
  * counters. [[snapshot]] reads them all; a span's counters are the
  * difference of two snapshots. */
final class Collector(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobStart = mutable.Map[Int, Long]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private var attached = false

  private def add(k: String, v: Double): Unit = sums(k) += v

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  def drain(): Unit = PerfbenchAccess.drainListenerBus(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("spark.jobs", 1)
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add("spark.stages", 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task_run_s", m.executorRunTime / 1e3)
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.task_gc_s", m.jvmGCTime / 1e3)
      add("spark.task_deser_s", m.executorDeserializeTime / 1e3)
      add("exchange.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("exchange.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("exchange.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("exchange.spill_mb", m.diskBytesSpilled / 1048576.0)
      add("task.input_mb", m.inputMetrics.bytesRead / 1048576.0)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized { execution(qe, durationNs) }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = synchronized {
    // a query that failed in planning has no executed plan to read
    try execution(qe, 0L) catch { case NonFatal(_) => () }
  }

  private def execution(qe: QueryExecution, durationNs: Long): Unit = {
    add("plans.planning_s",
      qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
    val nodes = Collector.nodes(qe.executedPlan).toSeq
    def metric(p: SparkPlan, k: String): Double =
      p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    val writes = nodes.collect { case w: DataWritingCommandExec => w }
    nodes.foreach {
      case s: FileSourceScanExec =>
        add("Tables.scan_s", metric(s, "scanTime") / 1e3)
        add("Tables.files_read", metric(s, "numFiles"))
      case _: BroadcastExchangeExec => add("exchange.broadcasts", 1)
      case _ => ()
    }
    writes.foreach { w =>
      add("Load.bytes_written", w.cmd.metrics.get("numOutputBytes")
        .map(_.value.toDouble).getOrElse(0.0))
      add("Load.files_written", w.cmd.metrics.get("numFiles")
        .map(_.value.toDouble).getOrElse(0.0))
    }
    add(if (writes.nonEmpty) "exec.write_s" else "exec.other_s", durationNs / 1e9)
  }

  /** Every counter, cumulative since the collector was created. */
  def snapshot(): Map[String, Double] = {
    val fsRead = Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get("file")).flatMap(s => Option(s.getLong("bytesRead"))).fold(0L)(_.toLong)
    synchronized(sums.toMap) ++ Map(
      "plans.codegen_compiles" ->
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "plans.codegen_ms" -> CodeGenerator.compileTime / 1e6,
      "fs.read_mb" -> fsRead / 1048576.0)
  }

  /** Length of the union of the intervals of jobs that started within
    * [t0Ms, t1Ms], in seconds. */
  def jobUnionSeconds(t0Ms: Long, t1Ms: Long): Double = synchronized {
    val in = jobIntervals.filter { case (a, _) => a >= t0Ms && a <= t1Ms }
      .sortBy(_._1)
    var total = 0L
    var curEnd = Long.MinValue
    in.foreach { case (a, b) =>
      val start = math.max(a, curEnd)
      if (b > start) total += b - start
      curEnd = math.max(curEnd, b)
    }
    total / 1e3
  }
}

object Collector {
  /** The nodes of an executed plan: through adaptive plans and query
    * stages into their final physical plans and subqueries, counting a
    * reused exchange once. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => Iterator(q) ++ nodes(q.plan)
    case _: ReusedExchangeExec => Iterator.empty
    case other => Iterator(other) ++
      (other.children.iterator ++ other.subqueries.iterator).flatMap(nodes)
  }

  def diff(after: Map[String, Double], before: Map[String, Double])
      : Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
