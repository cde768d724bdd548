package graft

import graft.ann.Models
import graft.operators.{Checkpoints, ConnectedComponents}
import graft.queries.{Graph, Training}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycles of materialized intermediates: each iterative kernel leaves
  * behind exactly the checkpoints its result reads, and the model/frame
  * registry rejects a build nested inside another build. */
class LifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private def sc = spark.sparkContext

  // two triangles joined by a path, plus a pendant vertex (a < b)
  private val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
    (5L, 6L), (6L, 7L), (5L, 7L), (7L, 8L))
  private def weighted: DataFrame =
    pairs.map { case (a, b) => (a, b, a + b) }.toDF("src", "dst", "wt")

  /** Run `kernel`, consume every frame it returns, and require that the
    * persisted RDDs it added are exactly the checkpoints those frames read. */
  private def leavesOnlyWhatItReturns(kernel: => Seq[DataFrame]): Unit = {
    val before = sc.getPersistentRDDs.keySet.toSet
    try {
      val out = kernel
      out.foreach(_.collect())
      val left = sc.getPersistentRDDs.keySet.toSet -- before
      val reads = out.flatMap(Checkpoints.rddOf).map(_.id).toSet
      assert(left == reads, s"left $left, the result reads $reads")
    } finally Checkpoints.sweepScratch(sc, blocking = true)
  }

  test("pageRank leaves only its edge and final-round checkpoints") {
    leavesOnlyWhatItReturns(Seq(Graph.pageRank(weighted, 5)))
    leavesOnlyWhatItReturns(Seq(Graph.pageRankSeeded(weighted, 5,
      Some(n => n % 2 === 0))))
  }

  test("bfsHops leaves only its final-round checkpoint") {
    leavesOnlyWhatItReturns(Seq(Graph.bfsHops(pairs.toDF("a", "b"), 6)))
  }

  test("hits leaves only its node catalog and final-round checkpoints") {
    leavesOnlyWhatItReturns(Seq(Graph.hits(weighted, 3)))
  }

  test("labelPropagation leaves only its final labels, and reads a bare " +
      "checkpoint input in place") {
    leavesOnlyWhatItReturns(Seq(Graph.labelPropagation(weighted, 3)))
    val edges = Checkpoints.scratch(weighted)
    val edgesId = Checkpoints.rddOf(edges).head.id
    leavesOnlyWhatItReturns {
      val lbl = Graph.labelPropagation(edges, 3)
      assert(sc.getPersistentRDDs.contains(edgesId),
        "the caller's checkpoint was freed")
      Seq(lbl)
    }
  }

  test("kCoreCensus leaves no checkpoint: its census is driver-side") {
    leavesOnlyWhatItReturns(Seq(
      Graph.kCoreCensus(spark, pairs.toDF("src", "dst"), None, 8)))
  }

  test("connected components leave only the result checkpoint, and " +
      "nothing when they do not converge") {
    val verts = (1L to 10L).toDF("id")
    val edges = pairs.toDF("src", "dst")
    leavesOnlyWhatItReturns(Seq(ConnectedComponents.run(verts, edges)))
    leavesOnlyWhatItReturns {
      intercept[IllegalArgumentException](
        ConnectedComponents.run(verts, edges, maxIters = 1))
      Nil
    }
  }

  test("bradleyTerryFit leaves only its pair and snapshot checkpoints") {
    val pp = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
      .toDF("chosen", "rejected")
    leavesOnlyWhatItReturns {
      val (np, snaps) = Training.bradleyTerryFit(pp, Seq(2, 4))
      np +: snaps.values.toSeq
    }
  }

  test("a cachedLatest build that calls cachedLatest fails every time") {
    for (i <- 0 until 32) {
      val e = intercept[IllegalStateException] {
        Models.cachedLatest[String](s"lifecycle-outer-$i", "s") {
          Models.cachedLatest[String](s"lifecycle-inner-$i", "s")("inner")
        }
      }
      assert(e.getMessage.contains(s"cachedLatest(lifecycle-inner-$i)"))
    }
    // the guard is released after a failed build
    assert(Models.cachedLatest[String]("lifecycle-flat", "s")("flat") == "flat")
  }
}
