package graft.perfbench

import graft.SparkEntry
import graft.pipelines.{CorpusPipeline, MartPipelines}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a pipeline step needs: the session, the fixture, the directory its
  * output goes to, and the oracle's expected values. */
final case class StepContext(spark: SparkSession, fixture: String,
    outDir: String, expect: Map[String, Long]) {
  lazy val mart = new MartPipelines(spark, fixture, s"$outDir/mart")
}

/** One operation of a workload. `after` names the operations that must
  * have run earlier in the same pass. */
sealed trait Op {
  def id: String
  def after: Seq[String]
}

/** A builder call followed by an action that consumes its full output. */
final case class QueryOp(id: String, build: (SparkSession, String) => DataFrame)
    extends Op {
  def after: Seq[String] = Nil
}

/** One pipeline step. `write` says whether it is a load step or an audit
  * step; `run` returns a description of every failed check. */
final case class StepOp(id: String, after: Seq[String], write: Boolean,
    run: StepContext => Seq[String]) extends Op

object Workloads {

  private def queries(names: String*): Seq[Op] =
    names.map(n => QueryOp(n, SparkEntry.queries(n)))

  /* Each workload is a small set of operations, so that a run (JVM start,
   * session set-up, a cold pass with its output check, the warm-up passes
   * and three or more measured passes) takes about a minute on a 4-core
   * host. */

  /** Iterative kernels that run their rounds while the plan is built, share
    * frames through SharedFrames and are swept between queries. q136 fails
    * once its shared frame outlives a sweep; it stays in, and its failures
    * are counted. */
  val iterativeGraph: Seq[Op] = queries(
    "q124_pagerank", "q136_triangles", "q138_bfs_hops")

  private def expectEq(what: String, got: Long, want: Option[Long]): Seq[String] =
    want match {
      case Some(w) if w == got => Nil
      case w => Seq(s"$what: got $got, expected ${w.getOrElse("<no oracle>")}")
    }

  /** The paper's pipeline: dimension loads, the fact load with its fused
    * V1/V2 audit, the V3 top-10 audit over the written fact, and the corpus
    * pipeline. The fact step reads the product dimension back from disk. */
  val martEtl: Seq[Op] = Seq(
    StepOp("mart.category", Nil, write = true, c =>
      if (c.mart.runCategory()) Nil else Seq("runCategory wrote nothing")),
    StepOp("mart.product", Nil, write = true, c =>
      if (c.mart.runProduct()) Nil else Seq("runProduct wrote nothing")),
    StepOp("mart.fact", Seq("mart.product"), write = true, { c =>
      val r = c.mart.runFactObserved()
      c.expect.get("fact_rows") match {
        case Some(n) if r.ok(n) => Nil
        case n => Seq(s"fact audit $r not ok against ${n.getOrElse("<no oracle>")} rows")
      }
    }),
    StepOp("mart.audit_top10", Seq("mart.fact"), write = false, { c =>
      val rows = c.mart.auditTop10.collect().length.toLong
      expectEq("top-10 rows", rows, c.expect.get("fact_rows").map(math.min(_, 10L)))
    }),
    StepOp("corpus", Nil, write = true, { c =>
      val splits = new CorpusPipeline(c.spark, c.fixture, s"${c.outDir}/corpus").run()
      Seq("train", "val").flatMap(s =>
        expectEq(s"corpus split $s", splits.getOrElse(s, 0L),
          c.expect.get(s"split_$s"))) ++
        (splits.keySet -- Set("train", "val")).map(s => s"unexpected split $s")
    }))

  val all: Map[String, Seq[Op]] = Map(
    "iterative_graph" -> iterativeGraph,
    "mart_etl" -> martEtl)

  /** Passes run after the cold one and before measuring. The JIT keeps
    * speeding passes up for 15-20 s of warm work on a 4-core host (graph
    * passes fall from 5.7 s to 4.4 s over four passes, mart passes from
    * 4.0 s to 2.3 s over eight), and measured passes on the steep part of
    * that curve report how far compilation got rather than the program.
    * The counts are what the time budget of a run allows. */
  val warmupPasses: Map[String, Int] = Map(
    "iterative_graph" -> 2,
    "mart_etl" -> 7)

  /** A pass order drawn from `rng`: at each step, a uniformly chosen
    * operation among those whose `after` operations have run. */
  def order(ops: Seq[Op], rng: java.util.SplittableRandom): Seq[Op] = {
    val done = scala.collection.mutable.Set[String]()
    val left = scala.collection.mutable.ArrayBuffer(ops: _*)
    val out = Seq.newBuilder[Op]
    while (left.nonEmpty) {
      val ready = left.filter(_.after.forall(done))
      require(ready.nonEmpty, s"cyclic dependencies among ${left.map(_.id)}")
      val pick = ready(rng.nextInt(ready.size))
      left -= pick
      done += pick.id
      out += pick
    }
    out.result()
  }
}
