package graft

import java.nio.file.Files

import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, TokenPipeline}

/** The one query runner: a failing query costs only its own slot, names
  * are checked against the suite, a pass evicts exactly the RESULT memos,
  * and no other file in `src/main` runs a query to the noop sink.
  */
class PassesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a query that throws records -1 and the pass goes on in the given order") {
    val names = Seq("q02_revenue_by_nation", "q01_pricing_summary")
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val sink: Passes.Sink = (name, df) => {
      seen += name
      if (name == names.head) throw new IllegalStateException("sink failed")
      Passes.noop(name, df)
    }
    val ts = Passes.pass(spark, TestSpark.Sf, names, "passes-spec", sink)
    assert(seen === names)
    assert(ts.map(_.name) === names)
    assert(ts.head.secs === -1.0)
    assert(ts(1).secs >= 0.0)
    // a build that throws (no such input dir) is recorded the same way
    assert(Passes.step(spark, "/nonexistent/graft-passes-spec", "q01_pricing_summary",
      "passes-spec").secs === -1.0)
  }

  test("resolve rejects an unknown name and accepts every SparkEntry.queries key") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(Passes.resolve(all) === all)
    val e = intercept[IllegalArgumentException](
      Passes.resolve(Seq("q01_pricing_summary", "q999_nope", "q02_typo")))
    assert(e.getMessage.startsWith("unknown queries: q999_nope, q02_typo; known: "))
    assert(e.getMessage.endsWith(all.mkString(", ")))
    // a caller's own leg list narrows what counts as known
    intercept[IllegalArgumentException](
      Passes.resolve(Seq("q01_pricing_summary"), Seq("q52_dup_clusters")))
  }

  test("a pass evicts a filled RESULT artifact and keeps an INDEX one") {
    val s = spark.newSession()
    val key = GraftBridge.sessionKey(s) + "#" + TestSpark.Sf
    val value = s.range(1).toDF()
    try {
      Dedup.clusterCache(s, TestSpark.Sf)(value)
      TokenPipeline.cache(s, TestSpark.Sf)(value)
      assert(Passes.pass(s, TestSpark.Sf, Nil, "passes-spec") === Nil)
      assert(!Dedup.clusterCache.keys.contains(key))
      assert(TokenPipeline.cache.keys.contains(key))
    } finally Caches.clear(s)
  }

  test("no file in src/main outside Passes.scala writes to the noop sink") {
    val hits = for {
      f <- TestSpark.mainSources
      src = TestSpark.stripComments(new String(Files.readAllBytes(f.toPath), "UTF-8"))
      (line, n) <- src.linesIterator.zipWithIndex
      if line.contains("\"noop\"")
    } yield (f.getName, s"${f.getPath}:${n + 1}")
    // Passes.scala itself must match, or the scan has gone blind
    assert(hits.exists(_._1 == "Passes.scala"))
    assert(hits.filter(_._1 != "Passes.scala").map(_._2) === Nil)
  }
}
