package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class CollectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.Engine.session("collector-spec", 2)

  override def afterAll(): Unit = spark.stop()

  /** A builder that runs one eager job (an RDD count: 1 stage, 2 tasks) and
    * returns a narrow 2-partition range, whose noop write is one more job
    * (1 stage, 2 tasks). */
  private val twoJobs = QueryOp("two_jobs", (s, _) => {
    s.sparkContext.parallelize(1 to 10, 2).count()
    s.range(0, 10, 1, 2).toDF()
  })

  private def layers(pass: Map[String, Any]): Map[String, Double] =
    pass("layers").asInstanceOf[Option[Map[String, Double]]].get

  test("a traced pass counts the jobs, stages and tasks of a known 2-job query") {
    val runner = new Runner(spark, "unused", "unused", Map.empty)
    val l = layers(runner.runPass("warm", Seq(twoJobs), trace = true, None))
    assert(l("spark.jobs") == 2)
    assert(l("queries.eager_jobs") == 1)
    assert(l("spark.stages") == 2)
    assert(l("spark.tasks") == 4)
    assert(l("exchange.shuffle_write_mb") == 0)
    assert(l("queries.build_s") > 0 && l("driver.action_s") > 0)
    assert(l("driver.gap_s") >= 0)
  }

  test("spans nest the builder call and the action under their operation") {
    val runner = new Runner(spark, "unused", "unused", Map.empty)
    runner.runPass("warm", Seq(twoJobs), trace = true, None)
    val byName = runner.spans.map(s => s("name") -> s).toMap
    val op = byName("op")
    assert(op("parent") == None)
    for (child <- Seq("queries.build", "driver.action")) {
      assert(byName(child)("parent") == Some(op("id")))
      assert(byName(child)("op") == op("op"))
    }
    def jobs(name: String): Double = byName(name)("counters")
      .asInstanceOf[Map[String, Double]].getOrElse("spark.jobs", 0.0)
    assert(jobs("queries.build") == 1 && jobs("driver.action") == 1)
    assert(jobs("op") == 2)
  }

  test("an untraced pass records latencies but no spans or counters") {
    val runner = new Runner(spark, "unused", "unused", Map.empty)
    val pass = runner.runPass("warm", Seq(twoJobs), trace = false, None)
    assert(pass("layers") == None)
    assert(runner.spans.isEmpty)
    val op = pass("ops").asInstanceOf[Iterable[Map[String, Any]]].head
    assert(op("latency_s").asInstanceOf[Double] > 0)
  }

  test("a failing operation is recorded with its exception and the pass goes on") {
    val runner = new Runner(spark, "unused", "unused", Map.empty)
    val boom = QueryOp("boom", (_, _) => throw new IllegalStateException("boom"))
    val ops = runner.runPass("warm", Seq(boom, twoJobs), trace = false, None)("ops")
      .asInstanceOf[Iterable[Map[String, Any]]].toSeq
    assert(ops.map(_("id")) == Seq("boom", "two_jobs"))
    assert(ops.head("error") == Some(Map(
      "class" -> "java.lang.IllegalStateException", "message" -> "boom")))
    assert(ops(1)("error") == None)
  }
}
