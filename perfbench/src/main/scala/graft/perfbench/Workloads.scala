package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}
import graft.operators._

/** The benchmark's workloads. Each names the `SparkEntry.queries` it
  * times (by qNN prefix, with the operator module that implements it),
  * the tables its setup scans, and the INDEX artifacts its setup fills so
  * the timed passes start from a complete index (`caches.fills_in_pass`
  * reads 0 when a list is complete). Why each workload exists is in
  * perfbench/README.md.
  */
object Workloads {
  type Fill = (SparkSession, String) => Unit

  final case class Workload(
      name: String,
      queries: Seq[(String, String)],
      tables: Seq[String],
      fills: Seq[(String, Fill)]) {
    /** (full query name, module) in declaration order. */
    def resolved: Seq[(String, String)] = queries.map { case (prefix, module) =>
      val full = SparkEntry.queries.keys.filter(_.startsWith(prefix + "_")).toSeq
      require(full.size == 1, s"query prefix $prefix matches ${full.mkString(",")}")
      full.head -> module
    }
  }

  /** One full read of a table through the program's loader. */
  def scan(spark: SparkSession, dir: String, table: String): Long =
    if (table == "events") Tables.events(spark, dir).count()
    else Tables.load(spark, dir, table).count()

  private val relationalTables = Seq("lineitem", "orders", "customer",
    "supplier", "part", "nation", "region", "events")

  val all: Seq[Workload] = Seq(
    Workload("etl_reference",
      (11 to 19).map(i => s"q$i" -> (if (i >= 18) "Hierarchy" else "TokenPipeline")) ++
        Seq("q47", "q48", "q51", "q101").map(_ -> "TokenPipeline"),
      Seq("documents"),
      Seq(
        "docTokenCounts" -> ((s, d) => TokenPipeline.docTokenCounts(s, d).count()),
        "tokenDictionary" -> ((s, d) => TokenPipeline.tokenDictionary(s, d).count()),
        "docAggregates" -> ((s, d) => TokenPipeline.docAggregates(s, d).count()),
        // q101's reference-scale word-list files (written once, then read)
        "wordLists" -> ((_, _) => graft.sources.WordListFixtures.ensure()))),
    Workload("relational_events",
      // scan+aggregate, join, ranking and running windows, rollup, set
      // operations; sessionization and both as-of joins over events
      Seq("q01", "q02", "q04", "q05", "q07", "q10").map(_ -> "Relational") ++
        Seq("q36", "q41", "q50", "q100").map(_ -> "Events"),
      relationalTables,
      Nil),
    Workload("dedup_replicated",
      Seq("q23", "q52", "q54", "q74", "q90", "q95", "q112").map(_ -> "Dedup") ++
        Seq("q102", "q119", "q125", "q126", "q128").map(_ -> "Sketches"),
      Seq("documents", "embeddings"),
      Seq(
        "shingles" -> ((s, d) => Dedup.shingles(s, d).count()),
        "shingleDf" -> ((s, d) => Dedup.shingleDf(s, d).count()),
        "minhashSignatures" -> ((s, d) => Dedup.minhashSignatures(s, d).count()),
        "fingerprints" -> ((s, d) => Dedup.fingerprints(s, d).count()),
        "embeddingRepMap" -> ((s, d) => Dedup.embeddingRepMap(s, d).count()),
        "hashSplit" -> ((s, d) => TextAnalysis.hashSplit(s, d).count()),
        "bloomEvalBits" -> ((s, d) => Sketches.bloomEvalBits(s, d).count()),
        "benchEvalShingles" -> ((s, d) => Sketches.benchEvalShingles(s, d).count()),
        "benchEvalBits" -> ((s, d) => Sketches.benchEvalBits(s, d).count()))),
    Workload("stored_index",
      Seq("q114" -> "Pipeline", "q116" -> "Pipeline", "q121" -> "Packing",
        "q123" -> "Packing", "q124" -> "Pipeline"),
      Seq("documents"),
      Seq(
        "storedPlacement" -> ((s, d) => Packing.storedPlacement(s, d).count()))))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (known: ${all.map(_.name).mkString(", ")})"))
}
