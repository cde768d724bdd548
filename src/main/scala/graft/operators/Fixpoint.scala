package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** The one round loop of the iterative kernels (PageRank, BFS, HITS, label
  * propagation, k-core, connected components, Bradley–Terry). A kernel
  * mints its materialized frames through its Fixpoint and writes one round
  * as a step function; the Fixpoint owns the rest:
  *
  *  - every frame is an eager scratch checkpoint ([[Checkpoints.scratch]]):
  *    rounds truncate lineage, so the per-round plan stays constant-size
  *    instead of doubling whenever a round reads its input twice;
  *  - a round's convergence aggregates ride that round's checkpoint job via
  *    `Dataset.observe` (a per-round counting job over the just-written
  *    blocks cost 0.02–0.07 s per round at sf0.1, r16); if the metric did
  *    not surface, the same aggregates are read back from the checkpoint;
  *  - the loop stops at the round budget or at the first round that reports
  *    the fixed point;
  *  - the frames of round r−1 are freed once round r has materialized (a
  *    checkpoint has no lineage, so freeing them before their reader ran
  *    would lose the data), and when the kernel returns, every frame it
  *    minted is freed except those read by the frames it [[keep]]s. Waiting
  *    for GC + ContextCleaner instead leaves O(rounds) dead snapshots pinned
  *    in storage memory across a long session (VERDICT r6: q58 benched 3.9×
  *    its solo time for exactly this reason).
  */
private[graft] final class Fixpoint private () {
  // minted frames not yet freed, with the round that minted them: 0 for the
  // loop's initial state, -1 outside the loop (read by every round)
  private var live = Vector.empty[(Int, RDD[_])]
  private var kept = Set.empty[Int]
  private var round = -1

  private def track(out: DataFrame): DataFrame = {
    live ++= Checkpoints.rddOf(out).map(round -> _)
    out
  }

  private def free(p: Int => Boolean): Unit = {
    val (gone, stay) = live.partition { case (r, rdd) => p(r) && !kept(rdd.id) }
    gone.foreach(_._2.unpersist(blocking = false))
    live = stay
  }

  /** Materialize `df` once. A frame that already is a bare checkpoint (the
    * caller's, e.g. q305's edge copy shared with its modularity pass) is
    * returned as is: a second copy would cost one more write and the
    * caller owns its blocks. */
  def scratch(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case lr: LogicalRDD if lr.rdd.isCheckpointed => df
    case _ => track(Checkpoints.scratch(df))
  }

  /** [[scratch]] plus the given aggregates over the same rows, computed by
    * the materializing job itself. */
  def scratchAgg(df: DataFrame, aggs: Column*): (DataFrame, Row) = {
    val name = "conv_" + java.util.UUID.randomUUID.toString.take(8)
    val observed = df.observe(name, aggs.head, aggs.tail: _*)
    val out = track(Checkpoints.scratch(observed))
    (out, observed.queryExecution.observedMetrics.getOrElse(name,
      out.agg(aggs.head, aggs.tail: _*).head()))
  }

  /** Pin every frame `df` reads: it survives round retirement and the
    * kernel's return. */
  def keep(df: DataFrame): DataFrame = {
    kept ++= Checkpoints.rddOf(df).map(_.id)
    df
  }

  /** Run rounds 1..`rounds` from the state `init` (whose frames count as
    * round 0). `step(s, r)` returns round r's state, or None when round r
    * reached the fixed point — its output equals its input, so the loop
    * stops and returns the input. */
  def loop[S](rounds: Int)(init: => S)(step: (S, Int) => Option[S]): S = {
    @annotation.tailrec def from(s: S): S =
      if (round >= rounds) s
      else {
        round += 1
        step(s, round) match {
          case Some(next) => free(_ == round - 1); from(next)
          case None => s
        }
      }
    round = 0
    try from(init) finally round = -1
  }
}

private[graft] object Fixpoint {
  /** Run one kernel against a fresh Fixpoint; on return, free every frame it
    * minted and did not keep (all of them if the kernel throws). */
  def run[A](kernel: Fixpoint => A): A = {
    val fp = new Fixpoint
    var ok = false
    try { val out = kernel(fp); ok = true; out }
    finally {
      if (!ok) fp.kept = Set.empty
      fp.free(_ => true)
    }
  }
}
