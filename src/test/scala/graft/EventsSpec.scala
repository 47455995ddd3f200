package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Events, Relational}

class EventsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.Sf

  private def nsOfSec(s: Long): Long = s * 1000000000L

  test("Tables.events normalizes nanos-int64 and native-µs generations to identical instants") {
    // the two physical generations the driver has shipped (BASELINE-notes
    // "Round-10 testdata regeneration"): ts as TIMESTAMP(NANOS) int64 and
    // ts as timestamp[us] NTZ. Same logical instants — incl. pre-1970 and
    // sub-millisecond — must normalize to the same epoch-µs through
    // Tables.events' type branch. Values exercise the documented ns→µs
    // truncation sign cases (-1500 ns → -1 µs, -999 ns → 0 µs) via their
    // µs-grain images.
    val micros = Seq(-3600000001L, -1L, 0L, 1L, 999L, 179575L, 1700000000123456L)
    def base(us: Seq[Long]) = us.zipWithIndex.map { case (u, i) =>
      (i.toLong, u, 1L, "view", 1.0, "{}")
    }
    val nanosDir = java.nio.file.Files.createTempDirectory("graft_gen_ns").toString
    base(micros).map { case (e, u, uid, t, v, p) => (e, u * 1000L, uid, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$nanosDir/events.parquet")
    val usDir = java.nio.file.Files.createTempDirectory("graft_gen_us").toString
    base(micros)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts"))
        .cast(org.apache.spark.sql.types.TimestampNTZType))
      .write.mode("overwrite").parquet(s"$usDir/events.parquet")
    // confirm the fixtures really hit BOTH branches (long vs NTZ on read)
    assert(spark.read.parquet(s"$nanosDir/events.parquet").schema("ts").dataType
      === org.apache.spark.sql.types.LongType)
    assert(spark.read.parquet(s"$usDir/events.parquet").schema("ts").dataType
      === org.apache.spark.sql.types.TimestampNTZType)
    def instants(dir: String): Seq[(Long, Long)] =
      Tables.events(spark, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    val fromNanos = instants(nanosDir)
    val fromMicros = instants(usDir)
    assert(fromNanos === fromMicros)
    assert(fromNanos.map(_._2) === micros)
  }

  test("nanos branch truncates sub-µs remainders toward zero (DuckDB cast semantics)") {
    // RAW nanos with NONZERO sub-µs remainders — the generation-equivalence
    // fixtures above are all whole µs, so they never exercise `ts div 1000`
    // with a remainder. These pin the documented truncate-toward-zero claim
    // (Tables.scala): -1500 ns → -1 µs, -999 ns → 0 µs, 1500 ns → 1 µs —
    // i.e. Spark's `div` must match DuckDB 1.0's ns→µs cast on both signs.
    val nsToUs = Seq(
      -2500L -> -2L, -1500L -> -1L, -1001L -> -1L, -1000L -> -1L,
      -999L -> 0L, -1L -> 0L, 0L -> 0L, 1L -> 0L, 999L -> 0L,
      1000L -> 1L, 1500L -> 1L, 2999L -> 2L)
    val dir = java.nio.file.Files.createTempDirectory("graft_gen_ns_frac").toString
    nsToUs.zipWithIndex.map { case ((ns, _), i) =>
      (i.toLong, ns, 1L, "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
      === org.apache.spark.sql.types.LongType)
    val got = Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)].collect().toSeq.sortBy(_._1).map(_._2)
    assert(got === nsToUs.map(_._2))
  }

  test("Tables.events throws on an unrecognized ts physical type") {
    // a third generation (e.g. int32, or string) must fail loudly, not pass
    // through unnormalized (ADVICE r10)
    val dir = java.nio.file.Files.createTempDirectory("graft_gen_bad").toString
    Seq((1L, 42, 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("unrecognized physical type"))
  }

  test("trailingWindow: RANGE frame is inclusive at exactly one hour") {
    val dir = java.nio.file.Files.createTempDirectory("graft_trail").toString
    Seq(
      (1L, nsOfSec(0), 10L, 1.50),
      (2L, nsOfSec(1800), 10L, 2.25),
      (3L, nsOfSec(3600), 10L, 3.00),  // exactly 1h after e1: e1 in-frame
      (4L, nsOfSec(7201), 10L, 4.00))  // 3601s after e2: nothing else in-frame
      .toDF("event_id", "ts", "user_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Events.trailingWindow(spark, dir)
      .select("event_id", "n_1h", "sum_1h")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, 1.50), (2L, 2L, 3.75), (3L, 3L, 6.75), (4L, 1L, 4.00)))
  }

  test("sessions (q36): a gap of exactly SessionGapUs stays in-session, one µs more splits") {
    val g = Events.SessionGapUs
    val dir = java.nio.file.Files.createTempDirectory("graft_sessions").toString
    // two users interleaved in time; ts written as nanos (whole µs)
    Seq(
      (1L, 0L, 1L, 1.00),
      (2L, 1L, 2L, 10.00),
      (3L, g, 1L, 2.00),             // exactly g after event 1: same session
      (4L, g + 2, 2L, 20.00),        // g + 1 after event 2: splits
      (6L, 2 * g + 1, 1L, 0.25),     // ts tie with event 5, written first;
      (5L, 2 * g + 1, 1L, 3.00),     //   g + 1 after event 3: splits
      (7L, 2 * g + 2, 2L, 30.00))    // exactly g after event 4: same session
      .map { case (e, us, u, v) => (e, us * 1000L, u, v) }
      .toDF("event_id", "ts", "user_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Events.sessions(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSeq
    // (user_id, session_id, n_events, start_us, end_us, duration_us, sum_value)
    assert(got === Seq(
      (1L, 1L, 2L, 0L, g, g, 3.00),
      (1L, 2L, 2L, 2 * g + 1, 2 * g + 1, 0L, 3.25),
      (2L, 1L, 1L, 1L, 1L, 0L, 10.00),
      (2L, 2L, 2L, g + 2, 2 * g + 2, g, 50.00)))
  }

  test("valueMedian: exact middle for odd n, averaged middles for even n") {
    val dir = java.nio.file.Files.createTempDirectory("graft_median").toString
    Seq(
      (1L, nsOfSec(1), 1L, "A", 1.00), (2L, nsOfSec(2), 1L, "A", 3.00),
      (3L, nsOfSec(3), 1L, "A", 2.00),
      (4L, nsOfSec(4), 2L, "B", 10.00), (5L, nsOfSec(5), 2L, "B", 1.00),
      (6L, nsOfSec(6), 2L, "B", 3.00), (7L, nsOfSec(7), 2L, "B", 2.00))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Events.valueMedian(spark, dir)
      .as[(String, Long, Double)].collect().toSeq
    assert(got === Seq(("A", 3L, 2.0), ("B", 4L, 2.5)))
  }

  test("saltedRevenue equals the plain unsalted join-aggregate") {
    val plain = Tables.orders(spark, sf).select("o_custkey", "o_totalprice")
      .join(Tables.customer(spark, sf)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey")), Seq("o_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        Relational.dsum2(col("o_totalprice")).as("total_revenue"))
      .orderBy("c_nationkey")
      .as[(Long, Long, Double)].collect().toSeq
    val salted = Relational.saltedRevenue(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    assert(salted === plain)
  }

  test("funnel: strict ordering — pre-view clicks and same-ts events don't qualify") {
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel").toString
    Seq(
      // user 10: click BEFORE view, then click+purchase after → full funnel
      (1L, nsOfSec(1), 10L, "click", 1.0),
      (2L, nsOfSec(2), 10L, "view", 1.0),
      (3L, nsOfSec(3), 10L, "click", 1.0),
      (4L, nsOfSec(4), 10L, "purchase", 1.0),
      // user 20: view then purchase, no click → step 1 only
      (5L, nsOfSec(5), 20L, "view", 1.0),
      (6L, nsOfSec(6), 20L, "purchase", 1.0),
      // user 30: click, purchase, view (nothing after the view) → step 1 only
      (7L, nsOfSec(7), 30L, "click", 1.0),
      (8L, nsOfSec(8), 30L, "purchase", 1.0),
      (9L, nsOfSec(9), 30L, "view", 1.0),
      // user 40: click at the SAME instant as the view → not strictly after
      (10L, nsOfSec(10), 40L, "view", 1.0),
      (11L, nsOfSec(10), 40L, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Events.funnel(spark, dir).as[(String, Long)].collect().toSeq
    assert(got === Seq(
      ("1_view", 4L), ("2_view_click", 1L), ("3_view_click_purchase", 1L)))
  }

  test("funnel plans ONE event-grain exchange and no joins") {
    val plan = Events.funnel(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "funnel should not join")
    val eventExchanges =
      "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(eventExchanges === 1, s"expected one user_id exchange:\n$plan")
  }

  test("interarrivalMedian: hand-computed odd and even gap sets") {
    import org.apache.spark.sql.functions._
    // user 1: events at 0, 10, 30, 60 s → gaps 10, 20, 30 s → median 20 s
    // user 2: events at 0, 5 s → one gap → median 5 s
    // user 3: one event → no gap, out of domain
    val rows = Seq(
      (1L, 1L, 0L), (2L, 1L, 10L), (3L, 1L, 30L), (4L, 1L, 60L),
      (5L, 2L, 0L), (6L, 2L, 5L), (7L, 3L, 0L))
      .map { case (eid, uid, sec) => (eid, uid, sec * 1000000L) }
    val dir = java.nio.file.Files.createTempDirectory("graft_gap").toString
    rows.toDF("event_id", "user_id", "us")
      .select(col("event_id"), col("user_id"),
        (col("us") * 1000L).as("ts"), // long ts ⇒ Tables.events nanos branch
        lit("view").as("event_type"), lit(1.0).as("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Events.interarrivalMedian(spark, dir)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq((1L, 3L, 2e7), (2L, 1L, 5e6)))
  }
}
