package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Spark jobs started while `body` runs (the listener bus drained). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestListenerBridge.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      TestListenerBridge.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("a second load of a table infers no schema: no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val (first, firstJobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(firstJobs === 1, "the first load infers the footer schema in one job")
    val (second, secondJobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(secondJobs === 0)
    assert(second.schema === first.schema)
    assert(second.orderBy("k").as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
  }

  test("a table rewritten with a new schema in the same session reads the new schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_rw").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("k", "v"))
    Seq((7L, 2.5, "x")).toDF("k", "w", "z").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.load(spark, dir, "t")
    assert(again.columns.toSeq === Seq("k", "w", "z"))
    assert(again.as[(Long, Double, String)].collect().toSeq === Seq((7L, 2.5, "x")))
  }

  test("a missing table still fails with Spark's path-not-found error") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_none").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](Tables.load(spark, dir, "t"))
    assert(e.getCondition === "PATH_NOT_FOUND")
  }
}
