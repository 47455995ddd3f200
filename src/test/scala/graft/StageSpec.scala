package graft

import java.nio.file.Files

import org.apache.spark.SparkException
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The staging contract: `Stage` is the only materialisation and free
  * site in `src/main`, its persists are owned, and a lost staged block
  * fails with a named error instead of returning rows.
  */
class StageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def cacheEntries: Int = org.apache.spark.sql.CacheProbe.entries(spark)

  test("no persist, checkpoint or unpersist call in src/main outside Stage.scala") {
    val Staging = """(?<!Stage\.)\b(localCheckpoint|persist\(|unpersist\(|StorageLevel|unpersistCheckpointRdds)""".r
    val hits = for {
      f <- TestSpark.mainSources
      src = TestSpark.stripComments(new String(Files.readAllBytes(f.toPath), "UTF-8"))
      (line, n) <- src.linesIterator.zipWithIndex
      m <- Staging.findFirstIn(line)
    } yield (f.getName, s"${f.getPath}:${n + 1}: $m")
    // Stage.scala itself must match, or the scan (or the comment
    // stripper) has gone blind
    assert(hits.exists(_._1 == "Stage.scala"))
    assert(hits.filter(_._1 != "Stage.scala").map(_._2) === Nil)
  }

  test("keep is a no-op on a staged or cached frame; using frees only its own persist") {
    val staged = Stage.now(spark.range(10).toDF("id")).select(col("id"))
    assert(Stage.keep(staged).storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    // a frame over a plain RDD is a LogicalRDD too, but nothing holds it
    val overRdd = spark.createDataFrame(spark.range(12).toDF("id").rdd,
      spark.range(12).toDF("id").schema).select(col("id"))
    try assert(Stage.keep(overRdd).storageLevel.useMemory) finally Stage.free(overRdd)
    val df = spark.range(11).toDF("id")
    val before = cacheEntries
    assert(intercept[IllegalStateException](Stage.using(df) { d =>
      assert(d.storageLevel.useMemory)
      throw new IllegalStateException("body failed")
    }).getMessage === "body failed")
    assert(cacheEntries === before)
    val kept = Stage.keep(df)
    try {
      Stage.using(kept)(_.count())
      assert(kept.storageLevel.useMemory, "a persist made elsewhere outlives using")
    } finally Stage.free(kept)
    Stage.free(staged)
  }

  test("an action over a staged relation whose blocks are gone fails with the named error") {
    val staged = Stage.now(spark.range(0, 100, 1, 4).toDF("id"))
    val derived = staged.select((col("id") * 2).as("x"))
    Stage.free(staged)
    var rows: Array[Row] = null
    val e = intercept[SparkException] { rows = derived.collect() }
    assert(rows === null)
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList
    assert(messages.exists(_.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")), messages.mkString("\n"))
  }

  test("cleanCorpus frees both relations it stages when its write throws") {
    // a first run fills every artifact the corpus verdict reads, so the
    // failing run can add no cache entry but its own
    val ok = Files.createTempDirectory("graft_stage_clean").toString
    Pipeline.cleanCorpus(spark, TestSpark.Sf, ok)
    val before = cacheEntries
    val file = Files.createTempFile("graft_stage_clean", ".txt").toString
    intercept[Exception](Pipeline.cleanCorpus(spark, TestSpark.Sf, s"$file/out"))
    assert(cacheEntries === before)
  }
}
