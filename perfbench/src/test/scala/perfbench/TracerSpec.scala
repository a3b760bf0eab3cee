package perfbench

import scala.util.chaining._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()
    .tap(_.sparkContext.setLogLevel("WARN"))

  override def afterAll(): Unit = spark.stop()

  test("a wrapped call that runs two actions records exactly two jobs") {
    val t = new Tracer(spark, enabled = true)
    val rdd = spark.sparkContext.parallelize(1 to 100, 4)
    spark.sparkContext.parallelize(1 to 10).count() // outside any span
    t.span("outer") {
      rdd.count()
      t.span("inner")(rdd.map(_ * 2).collect())
    }
    t.finish()
    val outer = t.stats(t.spansNamed("outer").head)
    val inner = t.stats(t.spansNamed("inner").head)
    assert(outer.jobs == 2)
    assert(inner.jobs == 1)
    assert(outer.stages == 2 && outer.tasks == 8)
    assert(outer.driverGapS >= 0.0 && inner.driverGapS >= 0.0)
    assert(outer.selfS >= 0.0 && outer.selfS <= outer.wallS - inner.wallS + 1e-9)
  }

  test("spans of one call share its id and record their parent") {
    val t = new Tracer(spark, enabled = true)
    t.span("a")(t.span("b")(()))
    t.span("c")(())
    t.finish()
    val Seq(a) = t.spansNamed("a")
    val Seq(b) = t.spansNamed("b")
    val Seq(c) = t.spansNamed("c")
    assert(b.parent.contains(a.id) && b.callId == a.id && a.parent.isEmpty)
    assert(c.callId == c.id && c.callId != a.callId)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(spark, enabled = false)
    assert(t.span("x")(41 + 1) == 42)
    t.finish()
    assert(t.allSpans.isEmpty)
  }

  test("interval union counts overlaps once") {
    assert(Tracer.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20L)
    assert(Tracer.unionLength(Seq.empty) == 0L)
  }
}
