package graft.dev

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Memory-squeeze proof for the global ObjectHashAggregate threshold
  * (Sessions.ObjectHashFallbackGroups = 256k): the threshold also governs
  * aggregates with UNBOUNDED per-group buffers (collect_list / string
  * postings), so the theoretical OOM window is "256k buffered groups per
  * partition under a starved heap". This probe runs the three heaviest
  * buffer/cache consumers — q15 (unbounded posting buffers), q43 (bounded
  * top-k buffers at high group count), q52 (iterative propagation +
  * checkpoint blocks) — twice in one JVM:
  *
  *   1. SQUEEZED: `spark.memory.storageFraction=0.05` (caches get almost
  *      no protected pool, so persisted relations evict under execution
  *      pressure and must recompute) — run under a small driver heap
  *      (`SPARK_DRIVER_MEM=2g`) to constrict execution memory too.
  *   2. NORMAL: the stock Sessions config.
  *
  * Each query runs through `graft.Passes.step` with a checksum sink (no
  * memo eviction between queries, so q52 reads what q15/q43 left cached).
  * It prints per-query row counts, an order-independent value checksum
  * (xor-fold of xxhash64 over the stringified row) and the step's wall
  * seconds for both sessions, then a final SQUEEZE_OK / SQUEEZE_MISMATCH
  * verdict. Survival = every step completes under (1) (a failed step
  * prints rows=-1 and forces MISMATCH); greenness = checksums equal
  * across (1) and (2).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.dev.SqueezeProbe
  */
object SqueezeProbe {
  private val Queries = Seq("q15_postings", "q43_top_terms", "q52_dup_clusters")

  private def checksum(df: DataFrame): (Long, Long) = {
    val h = df.select(
      xxhash64(df.columns.map(c => col(c).cast("string")): _*).as("h"))
    // xor-fold: order-independent and overflow-free under ANSI mode
    val row = h.agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("s")).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** One `Passes.step` per query with a checksum sink; a query that threw
    * (the step prints its `[squeeze <tag>]` line) has no checksum.
    */
  private def runAll(spark: SparkSession, sfDir: String,
      tag: String): Map[String, Option[(Long, Long)]] = {
    val sums = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val sink: graft.Passes.Sink = (name, df) => sums(name) = checksum(df)
    Queries.map { name =>
      val t = graft.Passes.step(spark, sfDir, name, s"squeeze ${tag.trim}", sink)
      val (n, s) = sums.getOrElse(name, (-1L, 0L))
      println(f"SQUEEZE $tag $name%-18s rows=$n%-8d sum=$s%-22d ${t.secs}%.3f s")
      name -> sums.get(name)
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    val squeezed = {
      val s = graft.Sessions.builder(cpus)
        .config("spark.memory.storageFraction", "0.05")
        .appName("graft-squeeze").getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      graft.plans.GraftExtensions.register(s)
      val r = runAll(s, sfDir, "squeezed")
      println(s"SQUEEZE heap max=${Runtime.getRuntime.maxMemory() / (1 << 20)} MiB")
      s.stop()
      r
    }
    graft.Caches.clearAll() // per-(session,dir) memos hold the dead session
    val normal = {
      val s = graft.Sessions.start(cpus, appName = "graft-squeeze-ref")
      val r = runAll(s, sfDir, "normal  ")
      s.stop()
      r
    }
    val ok = Queries.forall(q => squeezed(q).isDefined && squeezed(q) == normal(q))
    println(if (ok) "SQUEEZE_OK all checksums match" else "SQUEEZE_MISMATCH")
    if (!ok) sys.exit(1)
  }
}
