package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming counterparts of the batch event analytics: the same
  * declarative aggregates run incrementally over an unbounded source with
  * watermarked state. The reference is strictly batch (SURVEY §2.1) — this
  * is extension surface, exercised by ScalaTest (the driver harness is
  * batch-only).
  *
  * At scale: the hourly aggregate keeps one state row per (window, type)
  * and the watermark bounds state size; sessionization keeps one state row
  * per active user and emits sessions on gap timeout.
  */
object StreamingOps {

  /** Exact Catalyst microseconds from a JVM Timestamp — the state-side twin
    * of batch `unix_micros(col)`. `getTime` is MILLISECOND-truncated, so
    * `getTime * 1000` silently dropped sub-ms precision: real
    * events.parquet timestamps carry µs (e.g. .179575 s at sf0.01), and
    * the funnel's strict `>` stage comparisons could flip for events
    * inside the same millisecond, breaking the proven batch-equality of
    * the streaming twins. Seconds come from floorDiv(getTime, 1000)
    * (floor, not truncate — exact for pre-epoch too); `getNanos` carries
    * the full fractional second.
    */
  private[streaming] def tsUs(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Stream-side PII scrub — the streaming twin of q110: the
    * scrub-before-anything stage of a corpus intake, applied per
    * micro-batch. Delegates to TextAnalysis.piiScrub, THE single
    * definition of the injection/patterns/redaction-order semantics, so
    * stream and batch can never drift apart; a pure stateless per-row
    * regex projection (no aggregate, no watermark, append-safe) and
    * BIT-IDENTICAL to batch q110 on the same rows (StreamingSpec asserts
    * exact equality).
    */
  def piiScrubStream(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.piiScrub(
      docs.select(col("doc_id").cast("long").as("doc_id"),
        col("text"), col("source")))

  /** Stream-side DSIR scoring — the streaming twin of q82's scorer with
    * the learning pass factored OUT: the 256-bucket weight table is
    * learned in batch (TextAnalysis.dsirWeightTable), collected, and
    * shipped as a literal map, exactly the deployment shape the q82
    * scaladoc prescribes for 100 TB. Scoring is then a pure per-row
    * projection — tokenize, bigram, md5-bucket, and a bucket-ascending
    * fold of n_b·w(b) — stateless, shuffle-free, append-mode safe, and
    * BIT-IDENTICAL to the batch score for any doc (same quantized
    * weights, same fold order, same double ops; StreamingSpec asserts
    * exact equality). Buckets unseen at learn time score `defaultW`
    * (new-data drift happens; batch can't produce them by construction).
    */
  def dsirScore(docs: DataFrame, weights: Map[Long, Double],
      defaultW: Double = 0.0): DataFrame = {
    // the batch scorer sums n·round(w·10⁶) in scaled 64-bit integers
    // (order-independent; TextAnalysis.dsirWeights) — quantize the
    // shipped map the same way, with BigDecimal HALF_UP matching Spark's
    // round() exactly (w is 6-decimal by construction, so the product
    // sits within an ulp of the integer and every rounding mode agrees)
    def q6(v: Double): Long =
      BigDecimal(v * 1000000.0).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val wmap = typedlit(weights.map { case (k, v) => k -> q6(v) })
    val bks = expr(
      "transform(graft_bigrams, b -> cast(conv(substring(md5(b), 1, 2), 16, 10) as bigint))")
    docs
      .withColumn("graft_bigrams",
        graft.functions.TextFns.shingleArray(
          graft.functions.TextFns.tokenize(col("text")), 2))
      .withColumn("graft_buckets", bks)
      .select(col("doc_id"),
        size(col("graft_bigrams")).cast("long").as("n_bigrams"),
        round(aggregate(array_sort(array_distinct(col("graft_buckets"))), lit(0L),
          (acc, b) => acc + size(filter(col("graft_buckets"), x => x === b)).cast("long") *
            coalesce(element_at(wmap, b), lit(q6(defaultW)))).cast("double")
          / 1000000.0, 6).as("score"))
  }

  /** Streaming CMS grid build — the streaming twin of q103's cell
    * relation (Sketches.cmsCells): each arriving document contributes its
    * DISTINCT 5-gram shingles (array_distinct per row — document
    * frequency needs no cross-row state), each mapped to its CmsDepth
    * (i, bucket) cells through the SAME shared bucket definition
    * (Sketches.cmsBucketArray), and one running groupBy-count holds the
    * constant d×w grid in complete mode. This is the sketch shape made
    * for ingest: state is 4×8192 counters no matter how many documents
    * stream past, each micro-batch merges by cell-wise sum (exactly what
    * the incremental aggregation does), and StreamingSpec pins the result
    * cell-for-cell to the batch grid over the identical corpus.
    */
  def cmsCells(docs: DataFrame): DataFrame =
    docs
      .select(explode(array_distinct(
        graft.functions.TextFns.shingleArray(
          graft.functions.TextFns.tokenize(col("text")),
          graft.operators.Dedup.ShingleSize))).as("shingle"))
      .select(posexplode(graft.operators.Sketches.cmsBucketArray)
        .as(Seq("i", "bucket")))
      .groupBy("i", "bucket").agg(count(lit(1)).as("cell"))

  /** Streaming Bloom decontamination — the streaming twin of q102's flag
    * relation in the shape continuous ingest actually deploys: the eval
    * split's bit-set is built ONCE per benchmark in batch
    * ([[graft.operators.Sketches.evalBitsHex]] — 64 KiB of hex), shipped
    * as a plan literal to every executor, and each arriving document is
    * flagged entirely per-row: its DISTINCT 5-gram shingles
    * (array_distinct == the batch relation's distinct (doc, shingle))
    * are hashed through THE shared position definition
    * (Sketches.bloomPositionOf) and a shingle counts as flagged when all
    * BloomK positions read 1 in the packed bit-set. No shuffle, no
    * watermark, no state — a stateless append-safe projection with
    * constant memory per executor — and BIT-IDENTICAL to batch q102 on
    * the same rows (StreamingSpec pins it doc-for-doc). At 100 TB this
    * is the decontamination gate on the ingest path: the filter rides
    * the task binary, the train side is touched exactly once as it
    * arrives, and re-benchmarking only ever rebuilds the 64 KiB blob.
    */
  def bloomFlagStream(docs: DataFrame, bitsHex: String): DataFrame = {
    import graft.operators.{Dedup, Sketches}
    require(bitsHex.length == Sketches.BloomBits / 4,
      s"bitsHex must be ${Sketches.BloomBits / 4} hex chars (got ${bitsHex.length})")
    // the blob decodes ONCE through THE shared packed-layout definition
    // (Sketches.hexBitWords) — producer and consumers cannot drift — and
    // each bit test is one codegen'd index+shift probe (BitSetContains)
    val bits = graft.operators.Sketches.hexBitWords(bitsHex)
    val sh = array_distinct(graft.functions.TextFns.shingleArray(
      graft.functions.TextFns.tokenize(col("text")), Dedup.ShingleSize))
    docs
      .select(col("doc_id").cast("long").as("doc_id"), sh.as("_sh"))
      .select(col("doc_id"),
        size(col("_sh")).cast("long").as("n_shingles"),
        size(filter(col("_sh"), s =>
          (0 until Sketches.BloomK)
            .map(i => graft.plans.BitSetContains(
              Sketches.bloomPositionOf(s, i), bits, "eval"))
            .reduce(_ && _))).cast("long").as("n_flagged"))
  }

  /** Multi-benchmark streaming Bloom decontamination — the q125 twin:
    * every arriving document is flagged against EVERY benchmark's packed
    * bit-set in one per-row pass (`benchBits` =
    * Sketches.benchBitsHex(...) — one blob per benchmark at ITS OWN
    * ladder-rung width, carried by the hex length (r19 per-benchmark
    * sizing), shipped as plan literals), emitting one row per
    * (doc, benchmark). Stateless,
    * shuffle-free, append-safe like [[bloomFlagStream]]; the per-doc
    * distinct shingles are hashed ONCE through the shared position
    * definition and each benchmark contributes only its own bit tests —
    * re-benchmarking rebuilds blobs, never re-reads the train stream.
    * BIT-IDENTICAL to batch q125 on the same rows (StreamingSpec pins it
    * row-for-row).
    */
  def bloomFlagMultiStream(docs: DataFrame,
      benchBits: Seq[(String, String)]): DataFrame = {
    import graft.operators.{Dedup, Sketches}
    require(benchBits.nonEmpty, "need at least one benchmark bit-set")
    val sh = array_distinct(graft.functions.TextFns.shingleArray(
      graft.functions.TextFns.tokenize(col("text")), Dedup.ShingleSize))
    docs
      .select(col("doc_id").cast("long").as("doc_id"), sh.as("_sh"))
      .select(col("doc_id"), size(col("_sh")).cast("long").as("n_shingles"),
        explode(array(benchBits.map { case (b, hex) =>
          // hexBitWords derives (and validates) each blob's width from
          // its length — the per-benchmark filters are sized individually
          // (r19), and BitSetContains masks the shared RAW positions down
          // to each filter's own rung, the same fold the batch gate uses
          val bits = Sketches.hexBitWords(hex)
          struct(lit(b).as("benchmark"),
            size(filter(col("_sh"), s =>
              (0 until Sketches.BloomK)
                .map(i => graft.plans.BitSetContains(
                  Sketches.bloomRawPositionOf(s, i), bits, b))
                .reduce(_ && _))).cast("long").as("n_flagged"))
        }: _*)).as("bf"))
      .select(col("doc_id"), col("bf.benchmark"),
        col("n_shingles"), col("bf.n_flagged"))
  }

  /** Watermarked hourly tumbling counts per event type — the streaming twin
    * of operators.Events.hourlyByType.
    */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n_events"))

  /** Watermarked stream-stream interval join — the streaming twin of the
    * as-of join family (Events.errorsWithLastPurchase / q41, q50): every
    * error event joined to the SAME user's purchases in the preceding
    * `windowUs`. Both sides carry watermarks and the join condition
    * bounds the event-time range, so each side's buffered state is
    * bounded by watermark delay + window — the engine drops rows older
    * than the watermark instead of buffering the stream forever. Unlike
    * the batch as-of (latest single purchase), the interval join emits
    * ALL in-window purchases; take the max ts downstream for as-of
    * semantics once the window closes.
    *
    * `joinType` "inner" emits only matched pairs; "left_outer" also emits
    * each error with null purchase columns — but only once the watermark
    * proves no in-window purchase can still arrive (the engine holds the
    * unmatched row until then; with no further watermark movement it
    * never emits, which is correct, not a bug).
    */
  def errorsWithRecentPurchases(errors: DataFrame, purchases: DataFrame,
      windowUs: Long, delay: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    require(windowUs > 0, "windowUs must be a positive microsecond span")
    val win = s"INTERVAL $windowUs MICROSECOND" // µs-exact, no silent truncation
    errors.withWatermark("ts", delay).alias("e")
      .join(purchases.withWatermark("ts", delay).alias("p"),
        expr(s"e.user_id = p.user_id AND p.ts >= e.ts - $win AND p.ts <= e.ts"),
        joinType)
      .select(col("e.user_id").as("user_id"),
        col("e.event_id").as("error_event_id"),
        col("e.ts").as("error_ts"),
        col("p.ts").as("purchase_ts"),
        col("p.value").as("purchase_value"))
  }

  case class Ev(user_id: Long, ts_us: Long, value: Double)
  case class SessionState(sessionId: Long, startUs: Long, lastUs: Long, n: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long)

  /** Gap-based sessionization with explicit per-user state
    * (flatMapGroupsWithState): closes and emits a session whenever the next
    * event arrives more than `gapUs` after the last one. BATCH ONLY: the
    * trailing open session is emitted at the end of the (complete) group,
    * which is correct when the group arrives at once but would re-emit a
    * still-open session every micro-batch under true streaming — use
    * sessionizeStreaming for that.
    */
  def sessionize(events: Dataset[Ev], gapUs: Long): Dataset[SessionOut] = {
    require(!events.isStreaming,
      "sessionize is batch-only (re-emits the open trailing session); " +
        "use sessionizeStreaming for incremental input")
    import events.sparkSession.implicits._
    def fn(userId: Long, evs: Iterator[Ev],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var st = state.getOption.orNull
      evs.toSeq.sortBy(e => e.ts_us).foreach { e =>
        if (st == null) {
          st = SessionState(1L, e.ts_us, e.ts_us, 1L)
        } else if (e.ts_us - st.lastUs > gapUs) {
          out += SessionOut(userId, st.sessionId, st.n, st.startUs, st.lastUs)
          st = SessionState(st.sessionId + 1, e.ts_us, e.ts_us, 1L)
        } else {
          st = st.copy(lastUs = e.ts_us, n = st.n + 1)
        }
      }
      if (st != null) {
        state.update(st)
        // Emit the trailing session too: correct for batch (the group is
        // complete); a streaming deployment would instead hold it in state
        // and flush on EventTimeTimeout to avoid re-emission.
        out += SessionOut(userId, st.sessionId, st.n, st.startUs, st.lastUs)
      }
      out.iterator
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  case class EvT(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** True incremental sessionization: state persists across micro-batches,
    * sessions are emitted EXACTLY ONCE — either closed by a later event of
    * the same user (gap exceeded) or flushed by EventTimeTimeout once the
    * watermark passes last-event + gap. The trailing open session is held
    * in state, never re-emitted per batch (the failure mode of running the
    * batch variant incrementally).
    *
    * `delay` is the watermark delay (lateness tolerance); timeout fires
    * when `watermark > last event + gap`, so a session's flush latency is
    * bounded by gap + delay + one micro-batch.
    */
  def sessionizeStreaming(events: Dataset[EvT], gapUs: Long,
      delay: String = "0 seconds"): Dataset[SessionOut] = {
    require(events.isStreaming,
      "sessionizeStreaming is streaming-only (trailing sessions flush on " +
        "EventTimeTimeout, which never fires in batch — open sessions would " +
        "be silently dropped); use sessionize for batch input")
    import events.sparkSession.implicits._
    def fn(userId: Long, evs: Iterator[EvT],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (!evs.hasNext && state.hasTimedOut) {
        val st = state.get
        // Tombstone, NOT remove(): the per-user session counter must
        // survive the flush, or the user's next event would restart at
        // session_id 1 and (user_id, session_id) would stop being unique
        // over the stream's life — diverging from batch sessionize's
        // monotonic 1..k numbering. n == 0 marks "no open session"; no
        // new timeout is armed (EventTimeTimeout clears unless re-set),
        // so the tombstone sits inert until the user's next event. The
        // honest cost of the monotonic contract: one small state row per
        // user ever seen (exactly the information batch sessionize holds).
        state.update(SessionState(
          if (st.n == 0L) st.sessionId else st.sessionId + 1, 0L, 0L, 0L))
        return if (st.n == 0L) Iterator.empty
        else Iterator.single(
          SessionOut(userId, st.sessionId, st.n, st.startUs, st.lastUs))
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var st = state.getOption.orNull
      evs.toSeq.sortBy(e => tsUs(e.ts)).foreach { e =>
        val us = tsUs(e.ts)
        if (st == null) {
          st = SessionState(1L, us, us, 1L)
        } else if (st.n == 0L) {
          // resurrect from tombstone: the carried counter numbers this one
          st = SessionState(st.sessionId, us, us, 1L)
        } else if (us - st.lastUs > gapUs) {
          out += SessionOut(userId, st.sessionId, st.n, st.startUs, st.lastUs)
          st = SessionState(st.sessionId + 1, us, us, 1L)
        } else {
          // cross-batch out-of-order events (tolerated by `delay`) may sort
          // before the stored last event: extend bounds monotonically, never
          // move lastUs backward (it drives the gap split AND the timeout)
          st = st.copy(startUs = math.min(st.startUs, us),
            lastUs = math.max(st.lastUs, us), n = st.n + 1)
        }
      }
      if (st != null && st.n > 0L) {
        state.update(st)
        // flush the open session once the watermark proves no more events
        // can extend it (setTimeoutTimestamp takes epoch-millis). Clamp
        // above the current watermark: a late event can put last+gap at or
        // below it, and setTimeoutTimestamp(<= watermark) throws, killing
        // the whole query — clamping instead flushes on the next advance.
        state.setTimeoutTimestamp(math.max(
          st.lastUs / 1000L + gapUs / 1000L,
          state.getCurrentWatermarkMs() + 1L))
      }
      out.iterator
    }
    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  case class EvFull(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      value: Double)
  /** (ts_us, event_id, value, emitted) — unemitted events plus emitted
    * events still inside some future frame's reach.
    */
  case class TrailState(buf: List[(Long, Long, Double, Boolean)])
  case class TrailOut(user_id: Long, event_id: Long, ts_us: Long,
      n_1h: Long, sum_1h: Double)

  /** True incremental trailing-window features — the streaming twin of
    * Events.trailingWindow (q67): for every event, the same user's event
    * count and exact value sum over [ts − windowUs, ts].
    *
    * Emission is WATERMARK-SEALED: an event emits only once the watermark
    * passes its timestamp, at which point every event that can fall in its
    * frame (all have ts ≤ this event's ts) has provably arrived — so the
    * emitted numbers are EXACTLY the batch RANGE-frame result under any
    * arrival order within the lateness tolerance, including equal-timestamp
    * peers and cross-batch stragglers. Emitting eagerly instead would
    * silently undercount both. The cost is flush latency bounded by
    * `delay` + one micro-batch, the same trade sessionizeStreaming makes.
    *
    * State per user is the frame buffer: unemitted events plus emitted
    * events newer than watermark − windowUs (still reachable by a future
    * frame) — bounded by the user's event rate × (window + delay). Idle
    * users' state drains via EventTimeTimeout once nothing pending or
    * reachable remains. Sums fold through BigDecimal, matching the batch
    * operator's DECIMAL device exactly.
    *
    * The seal boundary (`ts <= watermark` seals) is exactly the complement
    * of Spark's delivery boundary: FlatMapGroupsWithStateExec filters rows
    * with event time at or below the late-events watermark before they
    * reach this function (verified against Spark 4.1 — it DOES auto-drop,
    * matching aggregation semantics), so once an event seals, no row that
    * could join its frame can ever be delivered. Stragglers beyond the
    * tolerance are therefore dropped by the engine, never half-counted.
    */
  def trailingWindowStreaming(events: Dataset[EvFull], windowUs: Long,
      delay: String = "0 seconds"): Dataset[TrailOut] = {
    require(events.isStreaming,
      "trailingWindowStreaming is streaming-only (emission is sealed by " +
        "watermark passage, which never happens in batch); use " +
        "Events.trailingWindow for batch input")
    require(windowUs > 0, "windowUs must be a positive microsecond span")
    import events.sparkSession.implicits._
    def fn(userId: Long, evs: Iterator[EvFull],
        state: GroupState[TrailState]): Iterator[TrailOut] = {
      var buf = state.getOption.map(_.buf).getOrElse(Nil)
      evs.foreach(e => buf = (tsUs(e.ts), e.event_id, e.value, false) :: buf)
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val sorted = buf.sortBy(t => (t._1, t._2))
      val out = scala.collection.mutable.ArrayBuffer.empty[TrailOut]
      val next = sorted.map { case ev @ (us, id, _, emitted) =>
        if (emitted || us > wmUs) ev
        else {
          val frame = sorted.filter(t => t._1 >= us - windowUs && t._1 <= us)
          out += TrailOut(userId, id, us, frame.size.toLong,
            frame.foldLeft(BigDecimal(0))((a, t) => a + BigDecimal.valueOf(t._3))
              .toDouble)
          ev.copy(_4 = true)
        }
      }.filter(t => !t._4 || t._1 >= wmUs - windowUs)
      if (next.isEmpty) state.remove()
      else {
        state.update(TrailState(next))
        // wake when the watermark can next seal something: the oldest
        // unemitted event, else once the last support row ages out of
        // every possible frame. Clamp above the current watermark —
        // setTimeoutTimestamp at or below it throws and kills the query.
        val wakeUs = next.find(!_._4).map(_._1)
          .getOrElse(next.map(_._1).max + windowUs)
        state.setTimeoutTimestamp(math.max(wakeUs / 1000L,
          state.getCurrentWatermarkMs() + 1L))
      }
      out.iterator
    }
    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  case class ConvEv(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  /** buf: unsealed (ts_us, event_type) events; t1/t2/t3: funnel stage
    * first-times (−1 = unreached). t3 ≥ 0 is the done tombstone — the
    * conversion emitted exactly once, later events ignored.
    */
  case class ConvState(buf: List[(Long, String)], t1: Long, t2: Long, t3: Long)
  case class ConvOut(user_id: Long, cohort_date: String, ttc_us: Long)

  /** True incremental time-to-convert — the streaming twin of q100's
    * conversion relation (Events.timeToConvert before its cohort-median
    * tail): per user, the strict view→click→purchase funnel's
    * (first-view cohort day, first-qualifying-purchase − first-view)
    * in integer microseconds, emitted EXACTLY ONCE when the purchase
    * stage seals.
    *
    * Emission is WATERMARK-SEALED (the trailingWindowStreaming device):
    * an event folds into the funnel automaton only once the watermark
    * passes its timestamp, at which point every event that could precede
    * it has provably arrived — so the automaton consumes events in
    * event-time order regardless of arrival order within the lateness
    * tolerance, and its state machine (first view; first click strictly
    * after; first purchase strictly after) equals the batch min-based
    * construction: processing in time order, min(view) IS the first
    * view, min(click > t1) IS the first qualifying click, and strict
    * `>` makes equal-timestamp tie order irrelevant at every stage.
    *
    * State per user is the unsealed-event buffer (bounded by event rate
    * × delay) plus three longs; a converted user keeps only the 3-long
    * tombstone so re-emission is impossible over the stream's life. The
    * cohort median itself is NOT computed in-stream — a cohort's median
    * isn't append-monotone; run Events.cohortMedians over the emitted
    * conversions (StreamingIncrementalSpec proves the composition equals
    * batch q100 on the same corpus).
    */
  def timeToConvertStreaming(events: Dataset[ConvEv],
      delay: String = "0 seconds"): Dataset[ConvOut] = {
    require(events.isStreaming,
      "timeToConvertStreaming is streaming-only (pending events flush on " +
        "EventTimeTimeout, which never fires in batch); use " +
        "Events.timeToConvert for batch input")
    import events.sparkSession.implicits._
    def fn(userId: Long, evs: Iterator[ConvEv],
        state: GroupState[ConvState]): Iterator[ConvOut] = {
      var st = state.getOption.getOrElse(ConvState(Nil, -1L, -1L, -1L))
      if (st.t3 >= 0L) { evs.foreach(_ => ()); return Iterator.empty }
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val buf = st.buf ++ evs.map(e => (tsUs(e.ts), e.event_type))
      // seal boundary ts ≤ watermark: the engine never delivers rows at or
      // below the watermark, so no sealed event can gain an earlier peer
      val (ripe, pending) = buf.partition(_._1 <= wmUs)
      var (t1, t2, t3) = (st.t1, st.t2, st.t3)
      ripe.sortBy(_._1).foreach { case (us, tpe) =>
        if (t3 < 0L) tpe match {
          case "view" if t1 < 0L => t1 = us
          case "click" if t1 >= 0L && t2 < 0L && us > t1 => t2 = us
          case "purchase" if t2 >= 0L && us > t2 => t3 = us
          case _ => ()
        }
      }
      if (t3 >= 0L) {
        state.update(ConvState(Nil, t1, t2, t3)) // done tombstone
        // day from the exact µs value, mirroring batch
        // to_date(timestamp_micros(t1)): floor to whole seconds first so a
        // pre-epoch fractional second can't round the day up
        val day = java.time.LocalDate.ofInstant(
          java.time.Instant.ofEpochSecond(Math.floorDiv(t1, 1000000L)),
          java.time.ZoneOffset.UTC)
        Iterator.single(ConvOut(userId, day.toString, t3 - t1))
      } else {
        state.update(ConvState(pending, t1, t2, t3))
        if (pending.nonEmpty)
          // wake once the watermark can seal the earliest pending event
          // (clamped above the current watermark — setTimeoutTimestamp at
          // or below it throws and kills the query)
          state.setTimeoutTimestamp(math.max(pending.map(_._1).min / 1000L,
            state.getCurrentWatermarkMs() + 1L))
        Iterator.empty
      }
    }
    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  case class DocFp(doc_id: Long, text: String, fp: String)

  /** Restart-safety guard shared by the ingest sinks: restarting WITHOUT a
    * checkpointLocation resets batchId to 0 while batch=N directories from
    * the previous run persist; once the new run's batchId passes a stale N,
    * the old run's output silently mixes into the store as committed data.
    * Fail fast at start() instead: either pass a checkpointLocation or
    * start against empty directories.
    */
  private def requireCleanStore(spark: SparkSession,
      options: Map[String, String], dirs: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def staleData(d: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      fs.exists(p) && (
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(d, "batch=*")))
          .exists(_.nonEmpty) ||
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(d, "_compacted_*")))
          .exists(_.nonEmpty) ||
        fs.exists(new org.apache.hadoop.fs.Path(d, FoldMarker)))
    }
    // a checkpoint only protects against batch-id reuse when it actually
    // carries committed offsets: a fresh (or wiped) checkpoint restarts
    // batchId at 0 exactly like no checkpoint at all
    val resuming = options.get("checkpointLocation").exists { ckpt =>
      val off = new org.apache.hadoop.fs.Path(ckpt, "offsets")
      val fs = off.getFileSystem(conf)
      fs.exists(off) && Option(fs.listStatus(off)).exists(_.nonEmpty)
    }
    if (!resuming) dirs.foreach { d =>
      require(!staleData(d),
        s"$d already holds store data but the query is not resuming from " +
          "a committed checkpoint: batch ids would restart at 0 and " +
          "silently mix the previous run's output into the store — resume " +
          "with the original checkpointLocation or start with empty " +
          "directories")
    }
  }

  /** Continuous corpus ingestion with exact dedup: fingerprint each doc
    * (md5, the q21 contract), keep exactly one survivor per fingerprint
    * STATEFULLY across micro-batches, and append survivors to a parquet
    * corpus directory via foreachBatch — the streaming twin of exactDedup +
    * writeParquet, and the front door of the dedup ladder (the round-2
    * notes' 10× ScaleSmoke ordering: collapse verbatim copies first).
    *
    * Survivor choice is DETERMINISTIC: within a micro-batch every row of a
    * fingerprint reaches one stateful group, and the MINIMUM doc_id wins —
    * the q21 canonical-survivor rule (dropDuplicates would keep an
    * arbitrary row). Across micro-batches the first-arriving fingerprint
    * wins by design: an already-landed survivor cannot be un-written by a
    * later, lower doc_id. Input contract: (doc_id long, text string).
    *
    * State is unbounded by design here (exact dedup over a finite
    * corpus). For a truly unbounded stream, bound it with EVENT time, not
    * processing time: add a timestamp column and use
    * `dropDuplicatesWithinWatermark` (or an EventTimeTimeout state), so
    * expiry rides the watermark. A processing-time TTL was tried and
    * rejected: a pending ProcessingTimeTimeout makes the engine schedule
    * micro-batches continuously (several per second with the default
    * trigger), and every tick fires the foreachBatch sink — an empty
    * batch=N parquet dir per tick, forever.
    */
  def dedupedIngest(docs: DataFrame, path: String,
      options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    requireCleanStore(spark, options, Seq(path))
    // fail loudly rather than silently narrow: the landed corpus is
    // exactly (doc_id, text, fp) — callers carrying metadata columns must
    // project (and re-join on doc_id downstream), not lose them
    require(docs.columns.toSet == Set("doc_id", "text"),
      s"dedupedIngest lands exactly (doc_id, text, fp); project the input " +
        s"to (doc_id, text) first — got (${docs.columns.mkString(", ")})")
    val survivors = docs
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        md5(col("text")).as("fp")).as[DocFp]
      .groupByKey(_.fp)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[DocFp], seen: GroupState[Boolean]) =>
          if (seen.exists) Iterator.empty
          else { seen.update(true); Iterator.single(rows.minBy(_.doc_id)) }
      }
    survivors.toDF()
      .writeStream
      // idempotent per-batch landing: a retried micro-batch OVERWRITES its
      // own batch=N directory instead of double-appending; readers see the
      // batch id as a discovered partition column on `path`
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$path/batch=$batchId")
      }
      .outputMode("append")
      .options(options) // pass checkpointLocation here for restartable state
      .start()
  }

  case class ChunkRow(doc_id: Long, chunk_id: Long, start_pos: Long,
    n_tokens: Long, chunk_hash: String)

  /** Chunk-grain streaming dedup ingest — the q106/q107 geometry run
    * incrementally: each arriving doc explodes into its overlapping
    * fixed-width chunks STATELESSLY (the exact chunksOf projection batch
    * q106 uses, so the geometry can never drift), then one survivor per
    * chunk hash lands STATEFULLY across micro-batches — CCNet-style
    * paragraph dedup as a continuous process, the sub-document
    * complement of dedupedIngest's whole-doc fingerprint. Within a
    * micro-batch the minimum (doc_id, chunk_id) wins (the q107 keeper
    * rule); across batches the first-arriving hash wins by design — an
    * already-landed chunk cannot be un-written. State per distinct chunk
    * is one boolean keyed by the 32-char hash, sharded across executors
    * by the state store — the same bounded-by-content set a batch
    * shuffle would key on. Input contract: (doc_id long, text string).
    */
  def chunkDedupIngest(docs: DataFrame, path: String,
      options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    requireCleanStore(spark, options, Seq(path))
    require(docs.columns.toSet == Set("doc_id", "text"),
      s"chunkDedupIngest lands chunk rows derived from (doc_id, text); " +
        s"project the input first — got (${docs.columns.mkString(", ")})")
    val chunks = graft.operators.TextAnalysis.chunksOf(
      docs.select(col("doc_id").cast("long").as("doc_id"),
        graft.functions.TextFns.tokenize(col("text")).as("toks")))
      .as[ChunkRow]
    val survivors = chunks
      .groupByKey(_.chunk_hash)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[ChunkRow], seen: GroupState[Boolean]) =>
          if (seen.exists) Iterator.empty
          else {
            seen.update(true)
            Iterator.single(rows.minBy(r => (r.doc_id, r.chunk_id)))
          }
      }
    survivors.toDF()
      .writeStream
      // idempotent per-batch landing (the dedupedIngest contract): a
      // retried micro-batch overwrites its own batch=N directory
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$path/batch=$batchId")
      }
      .outputMode("append")
      .options(options) // pass checkpointLocation here for restartable state
      .start()
  }

  /** Streaming maintenance of the persisted chunk-hash index over the
    * rename-swap layout — the FALLBACK form (r15): the default streaming
    * twin is [[indexIngestBucketed]], matching the default batch path
    * (Pipeline.maintainChunkIndex → the bucketed catalog layout); use
    * this one only where no catalog can own a table and the index lives
    * on a local filesystem.
    *
    * The streaming twin of Pipeline.updateChunkIndex (q114): each micro-batch
    * of (doc_id, text) docs is tokenized stream-side (the shared TextFns
    * projection), exploded through the ONE chunksOf geometry, and its
    * content-only chunk hashes folded into the stored
    * `chunk_index.parquet` via the SAME bootstrap/incremental code path
    * the batch operator uses — write-to-sibling + atomic directory swap
    * per micro-batch, so a concurrent reader of the index never observes
    * a half-written state.
    *
    * No batch=N landing dirs and no requireCleanStore here (contrast
    * dedupedIngest): the index is a SET and the incremental path unions
    * only hashes absent from the store, so a retried or re-delivered
    * micro-batch adds exactly zero rows — replay converges to the same
    * artifact, and a PRE-EXISTING index is the normal resume case, not
    * staleness. Cross-batch memory lives in the artifact itself, not the
    * state store (no flatMapGroupsWithState) — which is what lets a daily
    * batch `updateChunkIndex` job and this continuous ingest maintain the
    * same index interchangeably. Input contract: (doc_id long, text
    * string).
    */
  def indexIngest(docs: DataFrame, indexPath: String,
      options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    require(docs.columns.toSet == Set("doc_id", "text"),
      s"indexIngest folds chunk hashes of (doc_id, text) rows; project " +
        s"the input first — got (${docs.columns.mkString(", ")})")
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.Pipeline.updateChunkIndex(spark,
          batch.select(col("doc_id").cast("long").as("doc_id"),
            graft.functions.TextFns.tokenize(col("text")).as("toks")),
          indexPath)
        ()
      }
      .outputMode("append")
      .options(options) // checkpointLocation for restartable source offsets
      .start()
  }

  /** Streaming maintenance of the INCREMENTAL PACKING index (round 17 —
    * the q121 twin): each micro-batch of (doc_id, text) rows becomes one
    * ingest batch of the stored placement map, its prefix sum seeded
    * from the committed token total (Packing.updatePackingIndex), so a
    * continuous ingest and a daily batch job extend the SAME artifact
    * interchangeably — the indexIngest posture applied to placement.
    *
    * Contracts inherited from the batch op: doc_ids are MONOTONE across
    * micro-batches (the append-only ingest-id regime; a violating batch
    * fails the query rather than corrupt placement) and one writer at a
    * time (micro-batches are inherently sequential). Unlike the chunk
    * index this artifact is NOT a set — replay safety comes from the
    * sidecar's last-batch record instead: a restart that redelivers the
    * un-checkpointed final micro-batch (same doc_id range) rewrites that
    * batch's dir from its recorded seed and re-commits identical state,
    * so replay converges doc-for-doc. Empty micro-batches are zero-I/O
    * no-ops.
    */
  def packingIngest(docs: DataFrame, path: String,
      options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    require(docs.columns.toSet == Set("doc_id", "text"),
      s"packingIngest places (doc_id, text) rows; project the input " +
        s"first — got (${docs.columns.mkString(", ")})")
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Packing.updatePackingIndex(spark,
          batch.select(col("doc_id").cast("long").as("doc_id"),
            coalesce(size(graft.functions.TextFns.tokenize(col("text"))),
              lit(0)).cast("long").as("n_toks")),
          path)
        ()
      }
      .outputMode("append")
      .options(options) // checkpointLocation for restartable source offsets
      .start()
  }

  /** Streaming maintenance of the LOADER SHARD ARTIFACT — the q124 twin
    * completing the packing arc (index twin: [[packingIngest]]): each
    * micro-batch appends its token counts to the placement index, then
    * extends the packed-window artifact for exactly that batch
    * (Pipeline.appendPackedShards — only the dirty shards rewrite, via
    * dynamic partition overwrite). Token TEXT comes from the corpus
    * store at `dir`, NOT the stream: the straddling window needs the
    * PREVIOUS batch's tail docs, which left the stream long ago — the
    * stream drives placement, the store supplies text (the same lambda
    * shape as every index twin; the ingest landing docs into the store
    * must commit before this query's micro-batch reads them, or the
    * token join comes up short). Empty micro-batches are no-ops
    * end-to-end; an exactly-redelivered one replays through the index's
    * sidecar identity check and the shard rewrite is idempotent —
    * StreamingIncrementalSpec pins convergence to the one-shot artifact.
    */
  def packedShardIngest(docs: DataFrame, dir: String, indexPath: String,
      artPath: String, options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    require(docs.columns.toSet == Set("doc_id", "text"),
      s"packedShardIngest places (doc_id, text) rows; project the input " +
        s"first — got (${docs.columns.mkString(", ")})")
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val m = graft.operators.Packing.updatePackingIndex(spark,
          batch.select(col("doc_id").cast("long").as("doc_id"),
            coalesce(size(graft.functions.TextFns.tokenize(col("text"))),
              lit(0)).cast("long").as("n_toks")),
          indexPath)
        if (m("docs_added") > 0L)
          graft.Pipeline.appendPackedShards(spark, dir, indexPath, artPath,
            m("batch"))
        ()
      }
      .outputMode("append")
      .options(options) // checkpointLocation for restartable source offsets
      .start()
  }

  /** Streaming maintenance of the BUCKETED chunk index — the DEFAULT
    * streaming index twin (r15), over the default deployment layout
    * (Pipeline.updateChunkIndexBucketed,
    * q116): each micro-batch's corpus-new hashes APPEND delta-sized
    * bucket files to the chunk_hash-bucketed catalog table through the
    * Hadoop output committer (scheme-agnostic — no rename swap, so this
    * twin is the one to run when the index lives on hdfs://s3a://). Same
    * set-semantics idempotence as indexIngest (a replayed micro-batch
    * appends zero rows and touches zero files), same single-writer
    * contract (micro-batches are inherently sequential; don't run a
    * concurrent batch updater against the same table).
    */
  def indexIngestBucketed(docs: DataFrame, table: String, path: String,
      options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    require(docs.columns.toSet == Set("doc_id", "text"),
      s"indexIngestBucketed folds chunk hashes of (doc_id, text) rows; " +
        s"project the input first — got (${docs.columns.mkString(", ")})")
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.Pipeline.updateChunkIndexBucketed(spark,
          batch.select(col("doc_id").cast("long").as("doc_id"),
            graft.functions.TextFns.tokenize(col("text")).as("toks")),
          table, path)
        ()
      }
      .outputMode("append")
      .options(options) // checkpointLocation for restartable source offsets
      .start()
  }

  /** Quality-gated ingest: the Gopher rule bundle (q75) evaluated
    * stream-side as a stateless per-row projection, feeding the stateful
    * exact-dedup landing — the streaming composition of the pipeline's
    * quality gate and dedup gate in their batch order (quality first:
    * a rejected doc must not burn a dedup-state fingerprint slot).
    * Rule semantics are the same integer cross-multiplications as the
    * batch operator, built from the shared TextFns expressions, so the
    * gate admits exactly the q75 keep-set; StreamingSpec proves it.
    */
  def qualityGatedIngest(docs: DataFrame, path: String,
      options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    dedupedIngest(gopherKeep(docs).select("doc_id", "text"), path, options)

  /** The full clean intake — the streaming counterpart of
    * Pipeline.cleanCorpus's stage ORDER: PII scrub FIRST (nothing
    * downstream — including the dedup state store — ever holds raw
    * PII), then the Gopher quality gate, then the stateful cross-batch
    * exact-dedup landing. Scrub and gate are stateless projections (the
    * shared TextAnalysis.piiRedactCol / gopherKeep definitions); only
    * the landing keeps state.
    *
    * DELIBERATE divergence from the batch composition (do not expect
    * row-identical admission): here the gate and the dedup fingerprint
    * both read the SCRUBBED text — privacy-first, so redaction-equal
    * docs dedup together and no PII ever reaches state — while batch
    * cleanCorpus filters by the q81 verdict, whose quality/dedup
    * relations are computed over the raw corpus. A doc sitting exactly
    * on a Gopher threshold can be admitted by one and rejected by the
    * other; the shared guarantees are the stage order and the scrub
    * semantics, not bit-identical keep-sets (contrast piiScrubStream,
    * whose batch equality IS exact and tested).
    */
  def cleanIngest(docs: DataFrame, path: String,
      options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    qualityGatedIngest(
      docs.select(col("doc_id"),
        graft.operators.TextAnalysis.piiRedactCol(col("text")).as("text")),
      path, options)

  /** Stream-side Gopher keep-filter (stateless; shareable with batch). */
  def gopherKeep(docs: DataFrame): DataFrame = {
    val stopList = graft.operators.TokenPipeline.StopWords
    val toks = graft.functions.TextFns.tokenize(col("text"))
    docs
      .withColumn("graft_toks", toks)
      .withColumn("graft_n", size(col("graft_toks")).cast("long"))
      .withColumn("graft_len",
        aggregate(col("graft_toks"), lit(0L), (acc, t) => acc + length(t)))
      .withColumn("graft_stop",
        size(filter(col("graft_toks"), t => t.isin(stopList: _*))).cast("long"))
      .withColumn("graft_alpha",
        size(filter(col("graft_toks"), t => t.rlike("[a-z]"))).cast("long"))
      .withColumn("graft_bg",
        graft.functions.TextFns.shingleArray(col("graft_toks"), 2))
      .filter(
        col("graft_n") >= 20 && col("graft_n") <= 100000 &&
          lit(3) * col("graft_n") <= col("graft_len") &&
          col("graft_len") <= lit(10) * col("graft_n") &&
          col("graft_stop") >= 2 &&
          lit(5) * col("graft_alpha") >= lit(4) * col("graft_n") &&
          lit(10) * (size(col("graft_bg")) - size(array_distinct(col("graft_bg")))) <=
            size(col("graft_bg")))
      .drop("graft_toks", "graft_n", "graft_len", "graft_stop", "graft_alpha", "graft_bg")
  }

  /** Streaming NEAR-dup ingestion: per micro-batch, compute MinHash band
    * buckets for incoming (doc_id, text) docs and drop any doc whose
    * bucket collides with the already-ingested corpus (or with a
    * lower-id batchmate); survivors land in `corpusDir` and their bands
    * in `bandsDir`, both as per-batch overwrite dirs so retries are
    * idempotent — and the store read filters `batch < batchId` so a
    * retried batch never sees its own earlier attempt. LSH-approximate by
    * design (candidate collision = duplicate, no Jaccard verify): the
    * streaming trade — exact verification would need the stored shingle
    * sets; run the batch verifier over the corpus periodically to audit.
    *
    * Within-batch drops are deliberately OVER-approximate: the self-join
    * runs against the bands of ALL batch docs, including ones being
    * dropped, so a doc whose only collision is with an already-dropped
    * batchmate is itself dropped even though nothing similar to it lands
    * in the corpus (band collision is not transitive). A sequential
    * one-doc-at-a-time ingest would keep such a doc; iterating the drop
    * to a fixpoint against survivors only would recover it at the cost of
    * extra join rounds per batch — for an LSH-approximate ingest the
    * single-round over-drop is the accepted trade.
    *
    * Store scale: the accumulated band store is consulted every
    * micro-batch, so it must not become an ever-growing scan of per-batch
    * small files (the corpus outlives any one batch by orders of
    * magnitude). Once ≥ `compactEvery` uncompacted batches pile up — and,
    * LSM-style, only once they also exceed half the compacted store, so
    * total fold I/O stays amortized O(rows) however long the stream
    * lives — the store folds into ONE bucketed-by-`bucket`, sorted,
    * versioned dir and the folded per-batch dirs are deleted: the
    * per-batch read touches the compacted store (whose hash partitioning
    * already satisfies the semi-join's distribution — no store-side
    * shuffle) plus a bounded set of recent per-batch dirs, and directory
    * listings stay bounded too. Coverage is tracked in a marker file, not
    * derived from the cadence, so restarts with a different `compactEvery`
    * stay correct.
    */
  def nearDupIngest(docs: DataFrame, corpusDir: String, bandsDir: String,
      options: Map[String, String] = Map.empty, compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactEvery >= 2, "compactEvery must be >= 2")
    requireCleanStore(docs.sparkSession, options, Seq(corpusDir, bandsDir))
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val bands = graft.operators.Dedup.bandBucketsFor(batch)
        // one semi-join per store part (compacted table / recent dirs):
        // joining a UNION would discard the compacted side's bucketed
        // partitioning and force a full store shuffle
        val dupVsStore = bandStoreParts(spark, bandsDir, batchId)
          .map(s => bands.join(s, Seq("band", "bucket"), "left_semi")
            .select("doc_id"))
        val dupInBatch = bands.as("x")
          .join(bands.as("y"),
            col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
              col("x.doc_id") > col("y.doc_id"))
          .select(col("x.doc_id").as("doc_id"))
        // persisted: the corpus write and the bands write are separate
        // jobs, and without this the store scan + both joins run twice
        val drop = (dupVsStore :+ dupInBatch).reduce(_.union(_)).distinct()
        graft.Stage.using(bands)(_ => graft.Stage.using(drop) { _ =>
          batch.join(drop, Seq("doc_id"), "left_anti")
            .write.mode("overwrite").parquet(s"$corpusDir/batch=$batchId")
          bands.join(drop, Seq("doc_id"), "left_anti")
            .write.mode("overwrite").parquet(s"$bandsDir/batch=$batchId")
          // fold the store (now including this batch's bands) once enough
          // uncompacted batches accumulate — geometric: also wait until
          // they rival half the compacted store, bounding total fold I/O.
          // Runs inside the batch, so a failed fold fails the batch and
          // the retry refolds idempotently
          val through = compactedThroughOf(spark, bandsDir)
          if (batchId - through >= math.max(compactEvery.toLong, (through + 1) / 2))
            compactBandStore(spark, bandsDir)
        })
      }
      .outputMode("append")
      .options(options)
      .start()
  }

  private[graft] val StoreBuckets = 64
  private[graft] val FoldMarker = "_fold_marker"

  /** Catalog name of the compacted band store for `bandsDir`: md5 of the
    * normalized path, so distinct stores can never collide on a 32-bit
    * hashCode and `dir` vs `dir/` resolve to one table. Bucket metadata
    * lives in the catalog; the data stays external under
    * `bandsDir/_compacted_<through>`, an underscore path invisible to the
    * partitioned per-batch read.
    */
  private[graft] def compactedTable(bandsDir: String): String = {
    val canonical = new org.apache.hadoop.fs.Path(bandsDir).toString
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8"))
    "graft_bands_" + d.map("%02x".format(_)).mkString
  }

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Highest batch id folded into the compacted store, from the marker
    * file — NOT derived from the compaction cadence, so restarts with a
    * different `compactEvery` (or none) read exactly the right coverage.
    * −1 = never compacted.
    */
  private[graft] def compactedThroughOf(spark: SparkSession, bandsDir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(bandsDir, FoldMarker)
    val fs = fsOf(spark, bandsDir)
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in).mkString.trim.toLong
      finally in.close()
    }
  }

  /** Fold the uncompacted per-batch band dirs plus the previous compacted
    * version into a NEW versioned bucketed+sorted dir, flip the marker,
    * then delete the folded inputs. Ordering makes every crash window
    * safe: before the marker flip the old version + dirs are intact (a
    * retry refolds the same inputs into the same target, overwrite);
    * after the flip, leftover folded inputs are excluded by the
    * `batch > through` read filter and swept on the next fold. The
    * `batch` column is kept so readers can apply the `batch < batchId`
    * retry guard.
    */
  private[graft] def compactBandStore(spark: SparkSession, bandsDir: String): Unit = {
    val fs = fsOf(spark, bandsDir)
    val dirs = Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(bandsDir, "batch=*"))).getOrElse(Array.empty)
    def batchOf(s: org.apache.hadoop.fs.FileStatus): Long =
      s.getPath.getName.stripPrefix("batch=").toLong
    val prevThrough = compactedThroughOf(spark, bandsDir)
    val freshIds = dirs.map(batchOf).filter(_ > prevThrough)
    if (freshIds.isEmpty) return
    val through = freshIds.max
    val cols = Seq("doc_id", "band", "bucket", "batch")
    val fresh = spark.read.parquet(bandsDir)
      .filter(col("batch") > prevThrough)
      .select(cols.head, cols.tail: _*)
    val folded =
      if (prevThrough < 0) fresh
      else fresh.unionByName(
        spark.read.parquet(s"$bandsDir/_compacted_$prevThrough")
          .select(cols.head, cols.tail: _*))
    graft.sources.Sources.writeBucketed(folded, compactedTable(bandsDir),
      s"$bandsDir/_compacted_$through", StoreBuckets, "bucket", Seq("bucket"))
    val out = fs.create(new org.apache.hadoop.fs.Path(bandsDir, FoldMarker), true)
    try out.write(through.toString.getBytes("UTF-8")) finally out.close()
    dirs.filter(batchOf(_) <= through).foreach(s => fs.delete(s.getPath, true))
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(bandsDir, "_compacted_*")))
      .getOrElse(Array.empty)
      .filter(_.getPath.getName != s"_compacted_$through")
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** The committed band store visible to `batchId`, as separate parts so
    * each keeps its own physical layout in the semi-join: the compacted
    * bucketed store (batches ≤ marker) plus the still-uncompacted
    * per-batch dirs, partition-pruned to `marker < batch < batchId`.
    * Duplicate (band, bucket) rows across parts are harmless — consumers
    * semi-join.
    */
  private[graft] def bandStoreParts(spark: SparkSession, bandsDir: String,
      batchId: Long): Seq[DataFrame] = {
    val through = compactedThroughOf(spark, bandsDir)
    // the per-batch store counts as present only when it holds COMMITTED
    // parquet files: a failed first write can leave the directory existing
    // but empty, and a bare-existence check would then crash-loop every
    // retry on schema inference. Beyond that, read failures (e.g. a
    // corrupt file) must surface — swallowing them would silently
    // disable cross-batch dedup forever after.
    val hasData = Option(fsOf(spark, bandsDir).globStatus(
      new org.apache.hadoop.fs.Path(bandsDir, "batch=*/*.parquet")))
      .exists(_.nonEmpty)
    val recent =
      if (!hasData) None
      else Some(spark.read.parquet(bandsDir)
        .filter(col("batch") > through && col("batch") < batchId)
        .select("band", "bucket"))
    val compacted =
      if (through < 0) None
      else {
        // a restart in a fresh session loses the in-memory catalog entry
        // while the versioned data files persist: read the path directly
        // (plain parquet — correct, just unbucketed until the next fold
        // re-registers the table)
        val tbl = compactedTable(bandsDir)
        val df =
          if (spark.catalog.tableExists(tbl)) spark.table(tbl)
          else spark.read.parquet(s"$bandsDir/_compacted_$through")
        Some(df.filter(col("batch") < batchId).select("band", "bucket"))
      }
    compacted.toSeq ++ recent.toSeq
  }

  /** The periodic audit nearDupIngest's scaladoc prescribes, as one call:
    * stage the landed corpus into a documents-table layout and run the
    * EXACT batch verifier (LSH candidates + full-set Jaccard) over it.
    * Returns the verified near-dup pairs still present — empty when the
    * LSH-approximate streaming drops kept the corpus clean. The staging
    * dir's cache entries are deliberately evicted first: its contents are
    * rewritten in place on every call, so each audit pays a fresh
    * shingle/signature build — the price of auditing a moving corpus.
    */
  def auditCorpus(spark: SparkSession, corpusDir: String,
      stagingDir: String): DataFrame = {
    spark.read.parquet(corpusDir).select("doc_id", "text")
      .write.mode("overwrite").parquet(s"$stagingDir/documents.parquet")
    // staging contents changed in place: drop that dir's cache entries only
    graft.Caches.clearDir(spark, stagingDir)
    graft.operators.Dedup.minhashNearDups(spark, stagingDir)
  }

  /** Drain a streaming DataFrame into a named in-memory table and return it
    * (test helper: parquet-backed batch drives the streaming query
    * synchronously via processAllAvailable).
    */
  def runToMemory(spark: SparkSession, stream: DataFrame, name: String,
      mode: String = "complete"): DataFrame = {
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
