package graft.dev

import org.apache.spark.sql.SparkSession

/** Storage-footprint audit of every persisted relation the library keeps
  * per (session, dir) — the round-6 cache-budget check. Runs Bench's INDEX
  * fill list one step at a time, then the three queries that fill result
  * memos (q23 verified pairs, q52 cluster labels, q63 source overlap),
  * and prints each step's storage DELTA (new cached RDDs and their
  * memory/disk bytes), so each relation's cost is attributed, beside the
  * broadcasts each newly cached artifact's plan retains
  * (`Caches.retainedBroadcasts`): each pins at least one Tungsten page of
  * heap that the storage delta does not show.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.dev.CacheAudit
  */
object CacheAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark: SparkSession = graft.Sessions.start(cpus)
    import graft.operators._

    var seen = Set.empty[Int]
    var seenArtifacts = Set.empty[String]
    var totalMem = 0L
    var totalDisk = 0L
    var totalBroadcasts = 0
    def step(label: String)(f: => Long): Unit = {
      f
      val infos = spark.sparkContext.getRDDStorageInfo.filterNot(i => seen(i.id))
      seen ++= infos.map(_.id)
      val mem = infos.map(_.memSize).sum
      val disk = infos.map(_.diskSize).sum
      totalMem += mem; totalDisk += disk
      val added = graft.Caches.retainedBroadcasts(spark, sfDir)
        .filterNot { case (name, _) => seenArtifacts(name) }
      val broadcasts = added.map(_._2).sum
      seenArtifacts ++= added.map(_._1)
      totalBroadcasts += broadcasts
      println(f"CACHEAUDIT $label%-28s mem=${mem / 1024}%8d KiB disk=${disk / 1024}%6d KiB " +
        f"rdds=${infos.length}%2d broadcasts=$broadcasts%2d " +
        added.map { case (n, b) => s"$n=$b" }.mkString("[", " ", "]"))
    }

    graft.Bench.indexFills(spark, sfDir).zipWithIndex
      .foreach { case (fill, i) => step(f"index fill ${i + 1}%2d")(fill()) }
    step("pairs (via q23)")(Dedup.minhashNearDups(spark, sfDir).count())
    step("clusterLabels (via q52)")(Dedup.dupClusters(spark, sfDir).count())
    step("sourceOverlap (via q63)")(TextAnalysis.sourceOverlap(spark, sfDir).count())
    println(f"CACHEAUDIT TOTAL mem=${totalMem / 1024} KiB disk=${totalDisk / 1024} KiB " +
      s"broadcasts=$totalBroadcasts " +
      f"(storage pool ≈ ${spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1024 / 1024} MiB)")
    spark.stop()
  }
}
