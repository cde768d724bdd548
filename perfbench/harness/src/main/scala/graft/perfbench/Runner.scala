package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs operations one at a time (closed loop, one client) and records
  * their latencies. A traced pass also records a span around each call
  * into the program, with the collector's counters at both ends; an
  * untraced pass only reads the clock. */
final class Runner(spark: SparkSession, fixture: String, outDir: String,
    expect: Map[String, Long]) {

  val collector = new Collector(spark)
  /** Every span of every traced pass, kept in memory until the run ends. */
  val spans = mutable.ArrayBuffer[Map[String, Any]]()

  private val ctx = StepContext(spark, fixture, outDir, expect)
  private var traced = false
  private var opSeq = 0
  private var spanSeq = 0
  private val seenRdds = mutable.Set[Int]()
  private var parents = List.empty[Int]

  /** Times `body`; when tracing, records it as a span, child of the
    * enclosing span, with the counter deltas and the union of Spark job
    * time inside it. */
  private def span[T](name: String, op: Int)(body: => T): (T, Double) = {
    if (!traced) {
      val t0 = System.nanoTime()
      val r = body
      return (r, (System.nanoTime() - t0) / 1e9)
    }
    spanSeq += 1
    val id = spanSeq
    val parent = parents.headOption
    parents = id :: parents
    collector.drain()
    val before = collector.snapshot()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var dur = 0.0
    val r = try body finally {
      dur = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      collector.drain()
      val delta = Collector.diff(collector.snapshot(), before)
        .filter(_._2 != 0.0)
      spans += Map("id" -> id, "parent" -> parent, "op" -> op,
        "name" -> name, "start_ms" -> w0, "dur_s" -> dur,
        "counters" -> (delta +
          ("jobs_union_s" -> collector.jobUnionSeconds(w0, w1))))
      parents = parents.tail
    }
    (r, dur)
  }

  /** One operation: for a query, the builder call and then its full output
    * sent to the `noop` sink, timed as separate spans; for a pipeline step,
    * the step call. With `verifyTo`, the query's output is also written
    * there as parquet, after the timed part, for the correctness check. */
  def runOp(op: Op, verifyTo: Option[String]): Map[String, Any] = {
    opSeq += 1
    val opId = opSeq
    var build = 0.0
    var action = 0.0
    var checks = Seq.empty[String]
    var error: Option[Throwable] = None
    var verified: Option[String] = None
    var verifyS = 0.0
    val t0 = System.nanoTime()
    var latency = 0.0
    try {
      op match {
        case q: QueryOp =>
          val (df, _) = span("op", opId) {
            val (df, b) = span("queries.build", opId)(q.build(spark, fixture))
            build = b
            action = span("driver.action", opId) {
              df.write.format("noop").mode("overwrite").save()
            }._2
            df
          }
          latency = (System.nanoTime() - t0) / 1e9
          verifyTo.foreach { dir =>
            val v0 = System.nanoTime()
            df.write.mode("overwrite").parquet(dir)
            verified = Some(dir)
            verifyS = (System.nanoTime() - v0) / 1e9
          }
        case s: StepOp =>
          checks = span("op", opId) {
            span(if (s.write) "pipelines.write" else "pipelines.audit", opId)(
              s.run(ctx))._1
          }._1
          latency = (System.nanoTime() - t0) / 1e9
      }
    } catch {
      case NonFatal(e) =>
        error = Some(e)
        // a failed output write leaves the timed latency as it was
        if (latency == 0.0) latency = (System.nanoTime() - t0) / 1e9
    }
    Map("op" -> opId, "id" -> op.id, "latency_s" -> latency,
      "build_s" -> build, "action_s" -> action,
      "error" -> error.map(e => Map(
        "class" -> e.getClass.getName,
        "message" -> Option(e.getMessage).getOrElse("").take(400))),
      "checks_failed" -> checks, "verified" -> verified, "verify_s" -> verifyS)
  }

  /** Bench's between-query reset: drop cached plans and sweep persisted
    * and scratch-checkpoint RDDs. Bench's `System.gc()`, which lets the
    * cleaner reap dead broadcasts, runs once per pass instead (see
    * [[runPass]]). */
  def reset(op: Int): Map[String, Double] = {
    val sc = spark.sparkContext
    val counts =
      if (!traced) Map.empty[String, Double]
      else {
        val fresh = sc.getPersistentRDDs.keySet.filterNot(seenRdds)
        seenRdds ++= fresh
        Map("Checkpoints.persisted_rdds" -> fresh.size.toDouble,
          "SharedFrames.cached_mb" -> sc.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum / 1048576.0)
      }
    val (_, sweep) = span("Checkpoints.sweep", op) {
      spark.catalog.clearCache()
      graft.operators.Checkpoints.sweepScratch(sc, blocking = true)
    }
    counts + ("Checkpoints.sweep_s" -> sweep)
  }

  /** One pass over `order`. A traced pass attaches the collector first and
    * reports its per-layer sums; an untraced pass detaches it. */
  def runPass(kind: String, order: Seq[Op], trace: Boolean,
      verifyDir: Option[String]): Map[String, Any] = {
    traced = trace
    if (trace) collector.attach() else collector.detach()
    val firstSpan = spans.size
    val before = if (trace) collector.snapshot() else Map.empty[String, Double]
    val records = mutable.ArrayBuffer[Map[String, Any]]()
    val resets = mutable.ArrayBuffer[Map[String, Double]]()
    val t0 = System.nanoTime()
    val cpu0 = Runner.processCpuSeconds()
    val steal0 = Runner.stealSeconds()
    order.foreach { op =>
      records += runOp(op, verifyDir.map(d => s"$d/${op.id}"))
      resets += reset(opSeq)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Runner.processCpuSeconds() - cpu0
    val steal = Runner.stealSeconds() - steal0
    System.gc()
    val layers =
      if (!trace) None
      else {
        collector.drain()
        val c = Collector.diff(collector.snapshot(), before)
        val passSpans = spans.drop(firstSpan)
        def spanSum(name: String, key: String): Double = passSpans
          .filter(_("name") == name).map { s =>
            if (key == "dur_s") s("dur_s").asInstanceOf[Double]
            else s("counters").asInstanceOf[Map[String, Double]].getOrElse(key, 0.0)
          }.sum
        val layer = Map(
          "queries.build_s" -> spanSum("queries.build", "dur_s"),
          "queries.eager_jobs" -> spanSum("queries.build", "spark.jobs"),
          "driver.action_s" -> spanSum("driver.action", "dur_s"),
          "driver.gap_s" -> (spanSum("op", "dur_s") - spanSum("op", "jobs_union_s")),
          "Checkpoints.persisted_rdds" ->
            resets.map(_.getOrElse("Checkpoints.persisted_rdds", 0.0)).sum,
          "Checkpoints.sweep_s" -> resets.map(_("Checkpoints.sweep_s")).sum,
          "Checkpoints.block_read_mb" ->
            math.max(0.0, c.getOrElse("task.input_mb", 0.0) - c.getOrElse("fs.read_mb", 0.0)),
          "SharedFrames.cached_mb" ->
            resets.map(_.getOrElse("SharedFrames.cached_mb", 0.0)).max,
          "Load.write_s" -> c.getOrElse("exec.write_s", 0.0),
          "pipelines.audit_s" -> (spanSum("pipelines.write", "exec.other_s") +
            spanSum("pipelines.audit", "exec.other_s")))
        val counters = Seq("plans.planning_s", "plans.codegen_compiles",
          "plans.codegen_ms", "spark.jobs", "spark.stages", "spark.tasks",
          "spark.task_run_s", "spark.task_cpu_s", "spark.task_gc_s",
          "spark.task_deser_s", "exchange.shuffle_write_mb",
          "exchange.shuffle_read_mb", "exchange.fetch_wait_s",
          "exchange.spill_mb", "exchange.broadcasts", "Tables.scan_s",
          "Tables.files_read", "Load.bytes_written", "Load.files_written")
          .map(k => k -> c.getOrElse(k, 0.0))
        Some(layer ++ counters)
      }
    Map("kind" -> kind, "traced" -> trace, "wall_s" -> wall,
      "cpu_s" -> cpu, "host_steal_s" -> steal,
      "sweep_s" -> resets.map(_("Checkpoints.sweep_s")).sum,
      "order" -> order.map(_.id), "ops" -> records, "layers" -> layers)
  }
}

object Runner {
  /** CPU time of this JVM, all threads. */
  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Time the host took this machine's CPUs away, summed over CPUs
    * (the `steal` column of /proc/stat), or 0 where it is not reported. */
  def stealSeconds(): Double =
    try {
      val cpu = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat"))).linesIterator.next()
        .split("\\s+")
      if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
    } catch { case _: java.io.IOException => 0.0 }
}
