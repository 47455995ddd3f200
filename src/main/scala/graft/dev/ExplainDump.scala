package graft.dev

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for named queries to
  * `<outDir>/<query>_<suffix>.txt` — the per-round optimization evidence
  * (plans/r21/<query>_before.txt / _after.txt). Unlike graft.Plans (the
  * curated PLANS.md narrative), this is a mechanical before/after dumper:
  *
  *   sbt -batch "runMain graft.dev.ExplainDump plans/r21 before q103_cms_heavy_hitters ..."
  *
  * Runs at sf0.01 by default (plan SHAPE is scale-invariant; AQE numbers
  * are not part of the evidence) in the Bench session shape.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: runMain graft.dev.ExplainDump <outDir> <suffix> <query> [query...]")
    val outDir = args(0)
    val suffix = args(1)
    // every name is checked BEFORE the session starts, so a misspelt one
    // leaves no session up and no partial dump behind
    val names = graft.Passes.resolve(args.drop(2).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Sessions.start("4", logLevel = "ERROR")
    try {
      Files.createDirectories(Paths.get(outDir))
      names.foreach { name =>
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        println(s"wrote $outDir/${name}_$suffix.txt")
      }
    } finally spark.stop()
  }
}
