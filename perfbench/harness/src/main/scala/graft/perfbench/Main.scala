package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.{Engine, SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

/** The measuring half of the benchmark: one JVM, one session at
  * local[nproc], one client running a workload's operations in passes.
  * It writes a JSON record of raw timings (and, traced, spans and counters);
  * `perfbench/run.py` turns the record into metrics and checks outputs.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --fixture DIR
  *      --work DIR --record FILE [--expect k=v,...]
  * Main --dump-oracle FILE
  * }}}
  *
  * A run is: nine session set-ups (the first timed from JVM start),
  * one cold pass whose query outputs are also written for the correctness
  * check, the workload's warm-up passes, then warm passes until `--seconds`
  * have passed (at least three; four when traced). Each pass runs every
  * operation once, in an order drawn from the seed. A traced run alternates
  * untraced and traced warm passes, so its own untraced passes give the
  * tracing overhead. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("dump-oracle") match {
      case Some(path) =>
        Files.writeString(Paths.get(path), Json.render(Map(
          "oracle_sql" -> SparkEntry.oracleSql,
          "workloads" -> Workloads.all.map { case (w, ops) => w -> ops.map(_.id) })))
      case None =>
        // exit explicitly: a lingering non-daemon thread must not keep a
        // finished (or failed) run's JVM alive
        val code = try { run(args); 0 } catch {
          case e: Throwable => e.printStackTrace(); 1
        }
        System.exit(code)
    }
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: java.io.IOException => "" }

  private def peakRssMb(): Double = {
    val hwm = scala.io.Source.fromFile("/proc/self/status")
    try hwm.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally hwm.close()
  }

  /** Session set-up as a user pays it: the session, then the fixture's
    * table metadata (schemas, the events timestamp unit). */
  private def setUp(cpus: Int, fixture: String): SparkSession = {
    val spark = Engine.session("graft-perfbench", cpus)
    Tables.names.foreach(t => Tables.load(spark, fixture, t).schema)
    spark
  }

  private def run(args: Map[String, String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = args("workload")
    val ops = Workloads.all.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.all.keys.mkString(", ")}"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val fixture = args("fixture")
    val work = args("work")
    val minWarm = if (trace) 4 else 3
    val expect = args.getOrElse("expect", "").split(',').filter(_.contains('='))
      .map { kv => val Array(k, v) = kv.split('='); k -> v.toLong }.toMap
    val cpus = Runtime.getRuntime.availableProcessors
    val loadBefore = loadavg()

    val setupS = scala.collection.mutable.ArrayBuffer[Double]()
    var spark = setUp(cpus, fixture)
    setupS += (System.currentTimeMillis() - jvmStartMs) / 1e3
    // the reported set-up time is the median of all nine; of three, the
    // median would be the slower of two re-set-ups, which moved by a fifth
    // between sets of runs
    for (_ <- 2 to 9) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = setUp(cpus, fixture)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    Engine.quietSweepLogging() // the between-query sweep is intentional

    val runner = new Runner(spark, fixture, s"$work/out", expect)
    // SplittableRandom mixes its seed, so neighbouring seeds give unrelated
    // orders (java.util.Random's first draws barely differ between them)
    val rng = new java.util.SplittableRandom(seed)
    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    passes += runner.runPass("cold", Workloads.order(ops, rng), trace,
      Some(s"$work/verify"))
    // the JIT is still compiling through the first warm passes: they are
    // recorded but not measured
    for (_ <- 1 to Workloads.warmupPasses(workload))
      passes += runner.runPass("warmup", Workloads.order(ops, rng), false, None)
    val windowStart = System.nanoTime()
    var warm = 0
    while (warm < minWarm || (System.nanoTime() - windowStart) / 1e9 < seconds) {
      // traced runs alternate untraced and traced passes as u t t u u t t u
      // ..., so neither side always runs earlier in the warm-up
      passes += runner.runPass("warm", Workloads.order(ops, rng),
        trace && Set(1, 2)(warm % 4), None)
      warm += 1
    }
    val window = (System.nanoTime() - windowStart) / 1e9
    runner.collector.detach()
    Files.writeString(Paths.get(args("record")), Json.render(Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "window_s" -> window, "trace" -> trace, "cpus" -> cpus,
      "fixture" -> fixture,
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
      "setup_s" -> setupS, "passes" -> passes,
      "spans" -> (setupS.map(d => Map("name" -> "Engine.session", "dur_s" -> d))
        ++ runner.spans),
      "peak_rss_mb" -> peakRssMb())))
    graft.operators.Checkpoints.sweepScratch(spark.sparkContext, blocking = true)
    spark.stop()
  }
}
