package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics

/** The generated-class cache holds a warm working set. A few graft queries
  * generate more classes between them than Spark's default LRU of 100
  * entries, so with it every pass evicts the next query's classes and
  * compiles them all again. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Aeon queries whose generated classes together exceed 100. */
  val mix = Seq("s1_time_range_scan", "j2_asof_backward", "j2_asof_nearest",
    "j1_band_join", "j_star_join", "j6_interval_exclusion", "j7_set_ops",
    "a7_mode", "q1_agg", "o1_topk", "p5_homography", "p7_dedup_time")

  /** Classes compiled while every query of the mix runs once. */
  def pass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    mix.foreach { q =>
      SparkEntry.queries(q)(spark, TestSpark.sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second pass over a fixed query mix compiles no class") {
    val first = pass()
    val second = pass()
    info(s"first pass compiled $first classes, second $second")
    assert(second === 0)
  }
}
