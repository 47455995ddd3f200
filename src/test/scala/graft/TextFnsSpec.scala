package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFns

/** Edge cases lifted from the reference semantics (SURVEY §5.2):
  * punctuation/unicode stripping (main.go:285–297), strings.Fields
  * whitespace handling (main.go:246–247), substring counts (main.go:192),
  * root parent paths (main.go:195).
  */
class TextFnsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, input: String): Any =
    Seq(input).toDF("s").select(c.as("r")).collect()(0).get(0)

  test("cleanText strips everything outside [a-zA-Z0-9 ]") {
    assert(one(TextFns.cleanText($"s"), "¡Hola! a-b_c 42") === "Hola abc 42")
  }

  test("tokenize lowers, splits, drops empties (strings.Fields semantics)") {
    def toks(s: String): List[String] =
      one(TextFns.tokenize($"s"), s).asInstanceOf[scala.collection.Seq[String]].toList
    assert(toks("The  the THE x") === List("the", "the", "the", "x"))
    assert(toks("  ") === List())
    assert(toks("") === List())
  }

  test("tokens never contain non-alphanumerics (property over corpus rows)") {
    val bad = Tables.documents(spark, TestSpark.Sf)
      .select(explode(TextFns.tokenize($"text")).as("t"))
      .filter($"t".rlike("[^a-z0-9]"))
      .count()
    assert(bad === 0)
  }

  test("countSubstr counts non-overlapping occurrences incl. zero") {
    assert(one(TextFns.countSubstr($"s", "href=\"h"), "x href=\"h..href=\"http") === 2)
    assert(one(TextFns.countSubstr($"s", "href=\"h"), "nothing") === 0)
  }

  test("shingleArray emits n-k+1 shingles, empty below k tokens") {
    def sh(s: String): List[String] =
      one(TextFns.shingleArray(TextFns.tokenize($"s"), 3), s)
        .asInstanceOf[scala.collection.Seq[String]].toList
    assert(sh("a b c d") === List("a b c", "b c d"))
    assert(sh("a b c") === List("a b c"))
    assert(sh("a b") === List())
    assert(sh("") === List())
  }

  test("pagePath builds decimal-prefix paths; parentPath drops last segment") {
    val df = Seq(7L, 42L, 1234L).toDF("id")
      .select(TextFns.pagePath($"id").as("p"))
      .withColumn("pp", TextFns.parentPath($"p"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows(0) === ("7", ""))           // root: parent is ""
    assert(rows(1) === ("4/42", "4"))
    assert(rows(2) === ("1/12/123/1234", "1/12/123"))
  }

  test("pagePath covers the whole long range; a null id gives an empty path") {
    val ids = Seq(0L, 9L, 10L, -7L, Long.MaxValue, Long.MinValue)
    val got = (ids.map(Option(_)) :+ None).toDF("id")
      .select(TextFns.pagePath($"id")).as[String].collect().toSeq
    val want = ids.map { id =>
      val s = id.toString
      (1 to s.length).map(s.take).mkString("/")
    } :+ ""
    assert(got === want)
  }
}
