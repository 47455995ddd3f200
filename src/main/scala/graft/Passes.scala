package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one query runner: every loop over `SparkEntry.queries` (Bench's
  * timed passes and warmup sweep, Verify's dump, ScaleSmoke's heavy leg,
  * and this object's own probe) builds, sinks and times a query through
  * `step`, so a change to how a query is run or measured lands here.
  *
  * Probe (the 3-pass drift adjudication):
  *
  *   sbt -batch "runMain graft.Passes q23_minhash_neardups q52_dup_clusters"
  *
  * One untimed pass, then 3 timed passes of the named queries IN THE GIVEN
  * ORDER, each printed as `QPROBE <name> pass<i> <secs> s`, in Bench's
  * session shape (`SPARK_GRAFT_SF_DIR`, default sf0.1; `SPARK_GRAFT_CPUS`,
  * default 32). Each pass evicts the RESULT memos first, so a shared
  * rebuild (e.g. the verified pairs q23/q52/q54/q95 share) lands on
  * whichever query is listed first, as Bench's alphabetical pass assigns
  * it: to reproduce a Bench slot, list the alphabetically-earlier
  * queries that pre-pay its shared relations.
  */
object Passes {

  /** Where a built query's rows go; gets the query name and its frame. */
  type Sink = (String, DataFrame) => Unit

  /** Bench's sink: materializes EVERY output column with no I/O. A
    * `count()` terminal lets Catalyst prune the final projection, and
    * sometimes the whole join tree, under-pricing projection-heavy
    * queries (q82 measured 0.3 s counted vs ~2.5 s materialized).
    */
  val noop: Sink = (_, df) => df.write.mode("overwrite").format("noop").save()

  /** One query's wall seconds (-1 when it threw, so breakage never reads
    * as a speedup) and this JVM's CPU share over the same window
    * (`HostStat.selfUtilPct`).
    */
  final case class Timing(name: String, secs: Double, utilPct: Int)

  /** Build `name` over `dir`, run it through `sink` and time both. A
    * failure prints one `[tag] <name> failed: …` stderr line.
    */
  def step(spark: SparkSession, dir: String, name: String, tag: String,
      sink: Sink = noop): Timing = {
    val build = SparkEntry.queries(name)
    val j0 = HostStat.sample()
    val t0 = System.nanoTime()
    val ok = try { sink(name, build(spark, dir)); true } catch {
      case e: Throwable =>
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
        false
    }
    val secs = (System.nanoTime() - t0) / 1e9
    Timing(name, if (ok) secs else -1.0, HostStat.selfUtilPct(j0, HostStat.sample()))
  }

  /** One pass: evict the RESULT memos (every pass re-pays detection work;
    * INDEX artifacts stay warm), run the untimed prologue, then `step`
    * over `names` in the given order.
    *
    * The prologue is one memo-free noop write (a plain scan + tiny agg),
    * so pass-start work (GC after the eviction, the first noop commit)
    * does not land in whichever query runs first: BENCH_r12 charged q01,
    * a 6-row aggregate with a 0.79 s floor, 14.7 s in its first slot.
    */
  def pass(spark: SparkSession, dir: String, names: Seq[String], tag: String,
      sink: Sink = noop): Seq[Timing] = {
    Caches.clearResultMemos(spark)
    try noop("prologue", Tables.load(spark, dir, "nation").groupBy("n_regionkey").count())
    catch { case e: Throwable => System.err.println(s"[$tag] prologue failed: ${e.getMessage}") }
    names.map(step(spark, dir, _, tag, sink))
  }

  /** `names`, checked against `known` before any session starts: throws
    * IllegalArgumentException naming every unknown name and listing the
    * known ones.
    */
  def resolve(names: Seq[String],
      known: Iterable[String] = SparkEntry.queries.keys): Seq[String] = {
    val unknown = names.filterNot(known.toSet)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown queries: ${unknown.mkString(", ")}; known: ${known.toSeq.sorted.mkString(", ")}")
    names
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: runMain graft.Passes <query> [query...]")
    val names = resolve(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.start(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    try {
      // untimed: scans, codegen and INDEX fills, so the timed passes JIT
      // nothing this pass did not
      pass(spark, sfDir, names, "passes")
      (1 to 3).foreach { i =>
        pass(spark, sfDir, names, "passes").foreach { t =>
          println(f"QPROBE ${t.name} pass$i ${t.secs}%.3f s")
        }
      }
    } finally spark.stop()
  }
}
