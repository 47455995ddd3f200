package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

class SessionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the generated-class cache keeps more classes than Spark's default 100") {
    // 150 projections that differ only in an inlined literal: one distinct
    // generated class each (compiled for both the driver's and the task
    // threads' class loader). A second pass must hit the cache for all of
    // them; at Spark's default cap of 100 the first pass has evicted them.
    val n = 150
    def pass(): Unit = (1 to n).foreach { i =>
      spark.range(4).selectExpr(s"id * $i + 1")
        .write.mode("overwrite").format("noop").save()
    }
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiles
    pass()
    val c1 = compiles
    assert(c1 - c0 >= n, "each projection should compile its own class")
    pass()
    assert(compiles - c1 === 0, "warm pass recompiled evicted classes")
  }
}
