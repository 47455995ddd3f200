package graft.dev

import org.apache.spark.sql.functions._

/** Per-bucket edge-count statistics for the q74 union-find buffer bound
  * (VERDICT r21 item 5 / ADVICE r21 item 1): the ComponentsAggregator
  * buffers one GROUP's verified edge list, so the thing to validate at a
  * duplicate-heavy scale rung is max edges per sign-LSH bucket vs the
  * buffer alarm threshold. Usage:
  *
  *   sbt -batch "runMain graft.dev.BucketStats [dir] [bits]"
  *
  * Dev-only instrument; prints bucket count, max/p99 edges per bucket,
  * and the alarm threshold.
  */
object BucketStats {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val bits = if (args.length > 1) args(1).toInt
               else graft.operators.Similarity.IvfBits
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.start(cpus)
    try {
      val per = graft.operators.Dedup.embRepPairs(spark, dir, bits)
        .groupBy("bucket").agg(count(lit(1)).as("n"))
      val row = graft.Stage.using(per)(_.agg(count(lit(1)), max("n"),
        expr("percentile(n, 0.99)"), sum("n")).head())
      println(s"[bucketstats] dir=$dir bits=$bits buckets=${row.getLong(0)} " +
        s"maxEdgesPerBucket=${row.getLong(1)} p99=${row.getDouble(2)} " +
        s"totalEdges=${row.getLong(3)} alarmAt=" +
        graft.functions.ComponentsAggregator.AlarmEdgeCount)
      ()
    } finally spark.stop()
  }
}
