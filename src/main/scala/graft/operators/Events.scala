package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Batch event analytics over the `events` table: tumbling windows,
  * gap-based sessionization, JSON property extraction.
  *
  * Timestamps: Tables.events normalizes either stored generation (nanos
  * int64 or native µs) to a UTC microsecond TIMESTAMP that agrees with
  * DuckDB's read of the same file, and every interval comparison is done
  * on integer epoch-micros so there is no float or timezone dependence.
  * Window boundaries surface as formatted strings.
  *
  * Money: every sum of `value` goes through Relational's integer-unit
  * kernel (dsum2 / moneyUnits + fromUnits): exact, bit-identical to a
  * DECIMAL(18,2) sum while |Σ units| < 2^53, and an ANSI overflow error
  * past ±2^63 units instead of a wrapped total.
  *
  * Scale: tumbling windows are a single hash aggregate on (window, type);
  * sessionization shuffles once on user_id and runs two narrow window
  * functions within each partition — both linear at 100 TB.
  */
object Events {

  val SessionGapUs: Long = 30L * 60 * 1000 * 1000 // 30 min

  /** Hourly tumbling-window counts/sums per event type (q35). */
  def hourlyByType(spark: SparkSession, dir: String): DataFrame =
    hourlyByType(Tables.events(spark, dir)).orderBy("hour_start", "event_type")

  /** UNSORTED q35 kernel over any events frame. A stream runs it as-is
    * once the frame carries a watermark on `ts` (StreamingSpec feeds it
    * `withWatermark("ts", "2 hours")`), which bounds the per-(window,
    * type) state; no streaming twin exists.
    */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        Relational.dsum2(col("value")).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Gap-based sessionization (30-min inactivity): lag → new-session flag →
    * running sum = session index → per-session aggregate.
    */
  def sessions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val cume = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prev_us", lag("ts_us", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_sess").over(cume))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"),
        max("ts_us").as("end_us"),
        Relational.dsum2(col("value")).as("sum_value"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
      .select("user_id", "session_id", "n_events", "start_us", "end_us",
        "duration_us", "sum_value")
      .orderBy("user_id", "session_id")
  }

  /** Sliding (overlapping) windows: 1-hour windows every 30 minutes — each
    * event lands in two windows. Spark's `window()` generator handles the
    * duplication; the oracle mirrors by unnesting the two candidate starts.
    */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n_events"))
      .orderBy("win_start", "event_type")

  /** As-of join over the event stream: each 'error' event picks up the most
    * recent 'purchase' by the same user at-or-before its timestamp
    * (AsOfJoin — union + one sort-shuffle, no range-join explosion).
    * Purchases are pre-deduplicated to one per (user, ts) so tie-breaks are
    * engine-independent.
    */
  def errorsWithLastPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("ts_us", unix_micros(col("ts")))
    val errors = ev.filter(col("event_type") === "error")
      .select("user_id", "event_id", "ts_us")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us").as("p_ts"))
      .agg(max("event_id").as("p_event_id"))
      .select("user_id", "p_ts", "p_event_id")
    AsOfJoin.asofJoin(errors, purchases, "user_id", "ts_us", "p_ts")
      .select(
        col("user_id"), col("event_id"), col("ts_us"),
        coalesce(col("asof.p_event_id"), lit(-1L)).as("last_purchase_id"),
        coalesce(col("asof.p_ts"), lit(-1L)).as("last_purchase_ts"))
      .orderBy("user_id", "event_id")
  }

  /** Same as-of semantics through the NATIVE physical operator
    * (graftx.AsOfJoinExec — LogicalPlan + Strategy + SparkPlan): one
    * exchange + sort per side, streaming merge holding a single right row.
    */
  def errorsWithLastPurchaseNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("ts_us", unix_micros(col("ts")))
    val errors = ev.filter(col("event_type") === "error")
      .select("user_id", "event_id", "ts_us")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us").as("p_ts"))
      .agg(max("event_id").as("p_event_id"))
      .select("user_id", "p_ts", "p_event_id")
    org.apache.spark.sql.graftx.AsOfJoinNative
      .asofJoin(errors, purchases, "user_id", "ts_us", "p_ts")
      .select(
        col("user_id"), col("event_id"), col("ts_us"),
        coalesce(col("r_p_event_id"), lit(-1L)).as("last_purchase_id"),
        coalesce(col("r_p_ts"), lit(-1L)).as("last_purchase_ts"))
      .orderBy("user_id", "event_id")
  }

  /** Day-cohort retention — the event-analytics staple: users grouped by
    * their first-active (UTC) date; for each (cohort, day offset) the
    * count of distinct cohort members active that day. Three hash
    * aggregates and one equi-join on user_id — integer/date-exact, no
    * windows, scales as plain shuffles.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val activity = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val cohorts = activity.groupBy("user_id").agg(min("d").as("cohort"))
    activity.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort"), datediff(col("d"), col("cohort")).as("day_offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_date"),
        col("day_offset").cast("long").as("day_offset"), col("n_users"))
      .orderBy("cohort_date", "day_offset")
  }

  /** Strict-order conversion funnel view → click → purchase: step k
    * counts users whose FIRST step-k event falls strictly after their
    * first qualifying step-(k−1) event. Comparisons are on microsecond
    * timestamps (both engines truncate the ns source identically).
    *
    * ONE shuffle on user_id: three chained whole-partition window minima
    * (t2's predicate reads the t1 column, so "first click after first
    * view" needs no join back), then a user-grain aggregate that reuses
    * the window's hash partitioning — the plan has a single Exchange over
    * event-sized data. Replaced the round-7 form's three sequential
    * per-step join+aggregate pairs; same results bit-for-bit.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("ts") > col("t1"),
          col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
          col("ts"))).over(w))
      .groupBy("user_id")
      .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
    perUser
      .agg(count("t1").as("n1"), count("t2").as("n2"), count("t3").as("n3"))
      .select(explode(array(
        struct(lit("1_view").as("step"), col("n1").as("n_users")),
        struct(lit("2_view_click").as("step"), col("n2").as("n_users")),
        struct(lit("3_view_click_purchase").as("step"), col("n3").as("n_users"))))
        .as("r"))
      .select(col("r.step").as("step"), col("r.n_users").as("n_users"))
      .orderBy("step")
  }

  /** Trailing-hour RANGE-frame window (q67): for every event, the same
    * user's event count and exact value sum over [ts − 1h, ts] — the
    * feature-engineering "activity in the last hour" column. A RANGE frame
    * on integer epoch-micros (not ROWS: peers at the same timestamp must
    * all be in-frame, which both engines define identically); the sum runs
    * in exact integer units (Relational.moneyUnits) so the frame evaluation
    * order can't wobble low bits.
    * Partitioned by user — each user's frame scan is independent, the
    * 100 TB shuffle key is user_id.
    */
  def trailingWindow(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-hourUs, 0)
    Tables.events(spark, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h",
        Relational.fromUnits(sum(Relational.moneyUnits(col("value"), 2)).over(w), 2))
      .select("user_id", "event_id", "ts_us", "n_1h", "sum_1h")
      .orderBy("user_id", "event_id")
  }

  /** Exact per-group median (q69) without an engine median() — engines
    * disagree on interpolation, so both sides CONSTRUCT it: rank by
    * (value, event_id), pick the middle row (odd n) or the two middle
    * rows (even n), average them through an exact integer-unit sum
    * (Relational.dsum2). One ranking window +
    * one aggregate, partitioned by event_type.
    */
  def valueMedian(spark: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy("event_type")
    // per-type totals come from a tiny pre-aggregate broadcast back onto
    // the stream, NOT a second whole-partition count window — the
    // unordered-frame window would buffer the full event table a second
    // time just to stamp one constant per type
    val counts = Tables.events(spark, dir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .join(broadcast(counts), Seq("event_type"))
      .withColumn("rn", row_number().over(byType.orderBy("value", "event_id")))
      .filter(col("rn") * 2 === col("n") || col("rn") * 2 === col("n") + 1 ||
        col("rn") * 2 === col("n") + 2)
      .groupBy("event_type")
      .agg(max("n").cast("long").as("n_events"),
        (Relational.dsum2(col("value")) / count(lit(1)))
          .as("median_value"))
      .orderBy("event_type")
  }

  /** Exact per-user median inter-arrival gap (q96) — the activity-rhythm
    * feature (bot traffic shows near-constant gaps, humans heavy tails).
    * Gaps are integer microseconds from the same (ts, event_id)-ordered
    * lag as sessionization; the median is CONSTRUCTED like q69 (rank the
    * gaps, keep the one or two middle rows, average them) so no engine
    * `median()` is involved and the integer sums divide exactly. Users
    * with fewer than two events have no gap and are out of domain. One
    * user-keyed exchange feeds both windows.
    */
  def interarrivalMedian(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev", lag("ts_us", 1).over(byUser))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), col("event_id"), (col("ts_us") - col("prev")).as("gap"))
    val w = Window.partitionBy("user_id")
    gaps
      .withColumn("rn", row_number().over(w.orderBy("gap", "event_id")))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("rn") * 2 === col("n") || col("rn") * 2 === col("n") + 1 ||
        col("rn") * 2 === col("n") + 2)
      .groupBy("user_id")
      .agg(max("n").cast("long").as("n_gaps"),
        (sum("gap").cast("double") / count(lit(1))).as("median_gap_us"))
      .orderBy("user_id")
  }

  /** Median time-to-convert per first-view day cohort (q100): among
    * users who complete the strict view→click→purchase funnel (q61's
    * window construction, same single user-keyed shuffle), the exact
    * median of (first purchase − first view) in integer microseconds,
    * grouped by the UTC day of the first view — the conversion-latency
    * curve growth teams read per acquisition cohort. The median is
    * CONSTRUCTED (rank + middle rows + exact integer average, the
    * q69/q96 device) so no engine median() interpolation is involved;
    * ties rank on user_id. Cohorts are day-grain, so the median window
    * partitions into ~date-range many groups of converting users —
    * bounded and balanced at 100 TB.
    */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val conv = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("us") > col("t1"),
          col("us"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("us") > col("t2"),
          col("us"))).over(w))
      .groupBy("user_id")
      .agg(max("t1").as("t1"), max("t3").as("t3"))
      .filter(col("t3").isNotNull)
      .select(col("user_id"),
        date_format(to_date(timestamp_micros(col("t1"))), "yyyy-MM-dd")
          .as("cohort_date"),
        (col("t3") - col("t1")).as("ttc_us"))
    cohortMedians(conv)
  }

  /** The q100 aggregation tail, shared with the streaming twin
    * (StreamingOps.timeToConvertStreaming): exact constructed median of
    * `ttc_us` per `cohort_date` over a (user_id, cohort_date, ttc_us)
    * conversion relation. yyyy-MM-dd strings order exactly like the
    * dates they render, so grouping on the formatted string is
    * plan-identical in semantics to grouping on the date.
    */
  def cohortMedians(conv: DataFrame): DataFrame = {
    val wc = Window.partitionBy("cohort_date")
    conv
      .withColumn("rn", row_number().over(wc.orderBy("ttc_us", "user_id")))
      .withColumn("n", count(lit(1)).over(wc))
      .filter(col("rn") * 2 === col("n") || col("rn") * 2 === col("n") + 1 ||
        col("rn") * 2 === col("n") + 2)
      .groupBy("cohort_date")
      .agg(max("n").cast("long").as("n_converted"),
        (sum("ttc_us").cast("double") / count(lit(1))).as("median_ttc_us"))
      .select(col("cohort_date"), col("n_converted"), col("median_ttc_us"))
      .orderBy("cohort_date")
  }

  /** JSON property extraction + aggregate: pull integer `$.k` out of the
    * props JSON string, sum per event type.
    */
  def jsonStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")
}
