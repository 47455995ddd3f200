package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for all suites (build.sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.start("4", appName = "graft-test")
  val Sf: String = "/root/testdata/sf0.001"

  /** Drain a streaming DataFrame into a named in-memory table and return
    * it: a file-backed stream is driven to completion synchronously via
    * processAllAvailable.
    */
  def runToMemory(stream: DataFrame, name: String,
      mode: String = "complete"): DataFrame = {
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  /** Every .scala file under src/main/scala: the source scans' input. */
  def mainSources: Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main/scala"))
  }

  /** `src` without its comments; string literals are kept whole, and so
    * are the line breaks inside block comments, so line numbers hold.
    */
  def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(p: String) = src.startsWith(p, i)
    while (i < src.length) {
      if (at("//")) { while (i < src.length && src(i) != '\n') i += 1 }
      else if (at("/*")) {
        var depth = 0
        while (i < src.length && (depth > 0 || at("/*"))) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        out ++= src.substring(i, end + 3); i = end + 3
      } else if (at("\"")) {
        var j = i + 1
        while (src(j) != '"') j += (if (src(j) == '\\') 2 else 1)
        out ++= src.substring(i, j + 1); i = j + 1
      } else if (at("'\"'")) { out ++= "'\"'"; i += 3 }
      else { out += src(i); i += 1 }
    }
    out.result()
  }
}
