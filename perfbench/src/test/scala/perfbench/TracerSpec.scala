package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[1]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("an untraced run installs no listener") {
    val before = Tracer.listenerCount(spark)
    assert(before == 0)
    assert(Tracer.attach(spark, enabled = false).isEmpty)
    spark.range(10).selectExpr("sum(id)").collect()
    assert(Tracer.listenerCount(spark) == before)
  }

  test("a traced run installs its three listeners and removes them") {
    val t = Tracer.attach(spark, enabled = true).get
    t.install()
    assert(Tracer.listenerCount(spark) == 3)
    SpanProperty.under(spark, 42L)(spark.range(10).selectExpr("sum(id)").collect())
    t.remove()
    assert(Tracer.listenerCount(spark) == 0)
    val jobs = t.linkedSpans("test").filter(_.name.startsWith("job "))
    assert(jobs.nonEmpty && jobs.forall(_.parent == 42L))
    assert(t.engine.counters("scheduler.jobs").sum() == jobs.size)
  }

  test("self time outside jobs subtracts the union of job intervals") {
    val spans = Seq(
      Span(1, 0, "action", 0, 100),
      Span(2, 1, "job 0", 10, 30),
      Span(3, 1, "job 1", 20, 50), // overlaps job 0
      Span(4, 1, "job 2", 90, 120), // runs past its parent's end
      Span(5, 0, "build", 200, 210))
    assert(Tracer.outsideJobsUs(spans, Set(1L, 5L)) == (100 - 40 - 10) + 10)
  }
}
