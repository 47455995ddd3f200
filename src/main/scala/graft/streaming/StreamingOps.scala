package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}

import graft.functions.TextFns
import graft.operators.{Dedup, Packing, Sketches, TextAnalysis}

/** Structured Streaming forms of the batch operators. The reference is
  * strictly batch (SURVEY §2.1): this is extension surface, exercised by
  * ScalaTest only; none of the 128 queries, Verify or Bench runs it.
  *
  * One definition per operator. Where a batch kernel runs unchanged over a
  * streaming DataFrame, the stream applies the batch kernel and no twin
  * exists here: the q110 scrub (`TextAnalysis.piiScrub`), the q35 hourly
  * aggregate under a watermark (`Events.hourlyByType`), the q75 Gopher
  * gate (`TextAnalysis.gopherFlags`), the chunk geometry
  * (`TextAnalysis.chunksOf`), and the index and placement updates of
  * q114/q116/q121/q124. StreamingSpec and StreamingIncrementalSpec run
  * each over a stream.
  *
  * What stays here differs from batch for a real reason:
  *  - state: `sessionizeStreaming`, `trailingWindowStreaming`,
  *    `timeToConvertStreaming` and the first-seen landings keep per-key
  *    state across micro-batches and emit under watermark sealing or
  *    timeouts, where batch sees the whole group at once;
  *  - a stream-stream join: `errorsWithRecentPurchases`;
  *  - the band store: `nearDupIngest` checks each micro-batch against what
  *    earlier batches landed;
  *  - per-row forms: `dsirScore`, `cmsCells` and `bloomFlagMultiStream`
  *    project each arriving doc in one pass where the batch queries
  *    aggregate per doc, because an append-mode stream cannot aggregate
  *    per doc without a watermark.
  * Every hash, bucket and regex a stream evaluates over the data comes
  * from the batch objects; this file defines none of its own (the band
  * store's catalog name is the one digest here, over a path).
  *
  * The seven ingest sinks start through `startSink`, which owns the
  * (doc_id, text) input contract, the restart guard and the foreachBatch
  * tail.
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

  /** Stream-side DSIR scoring — q82's scorer with the learning pass
    * factored OUT: the 256-bucket weight table is learned in batch
    * (TextAnalysis.dsirWeightTable), collected, and shipped as a literal
    * map, exactly the deployment shape the q82 scaladoc prescribes for
    * 100 TB. Scoring is then a pure per-row projection: each bigram's
    * bucket (`TextAnalysis.dsirBucketOf`, the batch feature hash) looks up
    * its weight, and the doc's score sums them. Stateless, shuffle-free,
    * append-mode safe, and BIT-IDENTICAL to the batch score for any doc
    * (StreamingSpec asserts exact equality). Buckets unseen at learn time
    * score `defaultW` (new-data drift happens; batch can't produce them by
    * construction).
    */
  def dsirScore(docs: DataFrame, weights: Map[Long, Double],
      defaultW: Double = 0.0): DataFrame = {
    // the batch scorer sums n·round(w·10⁶) in scaled 64-bit integers
    // (order-independent; TextAnalysis.dsirWeights), so a per-bigram sum
    // of the same integers is the same total. Quantize the shipped map
    // the same way, with BigDecimal HALF_UP matching Spark's round()
    // exactly (w is 6-decimal by construction, so the product sits within
    // an ulp of the integer and every rounding mode agrees)
    def q6(v: Double): Long =
      BigDecimal(v * 1000000.0).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val wmap = typedlit(weights.map { case (k, v) => k -> q6(v) })
    docs
      .select(col("doc_id"),
        TextFns.shingleArray(TextFns.tokenize(col("text")), 2).as("bg"))
      .select(col("doc_id"),
        size(col("bg")).cast("long").as("n_bigrams"),
        round(aggregate(col("bg"), lit(0L), (acc, b) =>
          acc + coalesce(element_at(wmap, TextAnalysis.dsirBucketOf(b)),
            lit(q6(defaultW)))).cast("double") / 1000000.0, 6).as("score"))
  }

  /** Streaming CMS grid build — the per-row form of q103's cell relation
    * (Sketches.cmsCells): each arriving document contributes its
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
        TextFns.shingleArray(TextFns.tokenize(col("text")), Dedup.ShingleSize)))
        .as("shingle"))
      .select(posexplode(Sketches.cmsBucketArray).as(Seq("i", "bucket")))
      .groupBy("i", "bucket").agg(count(lit(1)).as("cell"))

  /** Streaming Bloom decontamination — the per-row form of q125 (and, with
    * one filter, of q102): every arriving document is flagged against
    * EVERY benchmark's packed bit-set in one per-row pass, emitting one
    * row per (doc, benchmark). `benchBits` = Sketches.benchBitsHex(...)
    * (one blob per benchmark at ITS OWN ladder-rung width, carried by the
    * hex length) or `Seq(name -> Sketches.evalBitsHex(...))` for the q102
    * union gate; the blobs are built once in batch and shipped as plan
    * literals. Each doc's DISTINCT 5-gram shingles (array_distinct == the
    * batch relation's distinct (doc, shingle)) are tested through the
    * batch gates' one all-k-hit predicate (Sketches.bloomHit over
    * Sketches.bloomRawPositionOf), each benchmark contributing only its
    * own bit tests. No shuffle, no watermark, no state: re-benchmarking
    * rebuilds blobs, never re-reads the train stream. BIT-IDENTICAL to
    * batch q125, and to q102 with the eval blob (StreamingSpec pins both
    * row-for-row).
    */
  def bloomFlagMultiStream(docs: DataFrame,
      benchBits: Seq[(String, String)]): DataFrame = {
    require(benchBits.nonEmpty, "need at least one benchmark bit-set")
    val sh = array_distinct(
      TextFns.shingleArray(TextFns.tokenize(col("text")), Dedup.ShingleSize))
    docs
      .select(col("doc_id").cast("long").as("doc_id"), sh.as("_sh"))
      .select(col("doc_id"), size(col("_sh")).cast("long").as("n_shingles"),
        explode(array(benchBits.map { case (b, hex) =>
          // the batch gates' own all-k-hit predicate: each blob's width
          // is its length, and the shared RAW positions fold to it
          struct(lit(b).as("benchmark"),
            size(filter(col("_sh"), s => Sketches.bloomHit(
              i => Sketches.bloomRawPositionOf(s, i), b, hex)))
              .cast("long").as("n_flagged"))
        }: _*)).as("bf"))
      .select(col("doc_id"), col("bf.benchmark"),
        col("n_shingles"), col("bf.n_flagged"))
  }

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

  case class SessionState(sessionId: Long, startUs: Long, lastUs: Long, n: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long)

  case class EvT(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** True incremental sessionization — the streaming twin of q36
    * (Events.sessions): state persists across micro-batches, and sessions
    * are emitted EXACTLY ONCE — either closed by a later event of the same
    * user (gap exceeded) or flushed by EventTimeTimeout once the watermark
    * passes last-event + gap. The trailing open session is held in state,
    * never re-emitted per batch.
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
        "be silently dropped); use Events.sessions for batch input")
    import events.sparkSession.implicits._
    def fn(userId: Long, evs: Iterator[EvT],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (!evs.hasNext && state.hasTimedOut) {
        val st = state.get
        // Tombstone, NOT remove(): the per-user session counter must
        // survive the flush, or the user's next event would restart at
        // session_id 1 and (user_id, session_id) would stop being unique
        // over the stream's life — diverging from q36's monotonic 1..k
        // numbering. n == 0 marks "no open session"; no new timeout is
        // armed (EventTimeTimeout clears unless re-set), so the tombstone
        // sits inert until the user's next event. The honest cost of the
        // monotonic contract: one small state row per user ever seen.
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

  /** Restart-safety guard shared by the sinks that land per-batch dirs:
    * restarting WITHOUT a checkpointLocation resets batchId to 0 while
    * batch=N directories from the previous run persist; once the new run's
    * batchId passes a stale N, the old run's output silently mixes into the
    * store as committed data. Fail fast at start() instead: either pass a
    * checkpointLocation or start against empty directories.
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

  /** Starts an ingest sink — the one start path of all seven. The input
    * must be exactly (doc_id, text): the sinks land or index what they
    * derive from those two columns, so a caller carrying metadata must
    * project it away (and re-join on doc_id downstream) rather than lose
    * it silently. `storeDirs` are checked by [[requireCleanStore]] (the
    * sinks that land batch=N dirs); the index sinks pass none, because a
    * pre-existing index is their normal resume case. `stream` derives the
    * streamed rows from the (doc_id long, text) input, and `land` receives
    * each micro-batch of them with its batch id. A micro-batch frame
    * belongs to the stream's cloned session, whose table cache the caller
    * never sees: the index sinks therefore write through
    * `docs.sparkSession`, so the caller's catalog reads see the appended
    * files. `options` carries the checkpointLocation for restartable
    * state and source offsets.
    */
  private def startSink(sink: String, docs: DataFrame,
      options: Map[String, String], storeDirs: Seq[String] = Nil,
      stream: DataFrame => DataFrame = identity)(
      land: (DataFrame, Long) => Unit): StreamingQuery = {
    require(docs.columns.toSet == Set("doc_id", "text"),
      s"$sink reads exactly (doc_id, text); project the input to those " +
        s"columns first — got (${docs.columns.mkString(", ")})")
    if (storeDirs.nonEmpty) requireCleanStore(docs.sparkSession, options, storeDirs)
    stream(docs.select(col("doc_id").cast("long").as("doc_id"), col("text")))
      .writeStream
      .foreachBatch(land)
      .outputMode("append")
      .options(options)
      .start()
  }

  /** The first-seen landing shared by [[dedupedIngest]] and
    * [[chunkDedupIngest]]: `rows` derives keyed rows from the input, and
    * one survivor per key lands STATEFULLY across micro-batches. Within a
    * micro-batch every row of a key reaches one stateful group and
    * `keeper` picks the survivor deterministically; across micro-batches
    * the first-arriving key wins by design — an already-landed survivor
    * cannot be un-written by a later, lower id. State per key is one
    * boolean, sharded across executors by the state store.
    *
    * State is unbounded by design here (exact dedup over a finite corpus).
    * For a truly unbounded stream, bound it with EVENT time, not
    * processing time: add a timestamp column and use
    * `dropDuplicatesWithinWatermark` (or an EventTimeTimeout state), so
    * expiry rides the watermark. A processing-time TTL was tried and
    * rejected: a pending ProcessingTimeTimeout makes the engine schedule
    * micro-batches continuously (several per second with the default
    * trigger), and every tick fires the foreachBatch sink — an empty
    * batch=N parquet dir per tick, forever.
    */
  private def firstSeenIngest[T: Encoder](sink: String, docs: DataFrame,
      path: String, options: Map[String, String])(rows: DataFrame => Dataset[T],
      key: T => String, keeper: Iterator[T] => T): StreamingQuery =
    startSink(sink, docs, options, Seq(path), stream = d =>
      rows(d).groupByKey(key)(Encoders.STRING)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (_: String, rs: Iterator[T], seen: GroupState[Boolean]) =>
            if (seen.exists) Iterator.empty
            else { seen.update(true); Iterator.single(keeper(rs)) }
        }(Encoders.scalaBoolean, implicitly[Encoder[T]]).toDF()) {
      // idempotent per-batch landing: a retried micro-batch OVERWRITES its
      // own batch=N directory instead of double-appending; readers see the
      // batch id as a discovered partition column on `path`
      (batch, batchId) => batch.write.mode("overwrite").parquet(s"$path/batch=$batchId")
    }

  case class DocFp(doc_id: Long, text: String, fp: String)

  /** Continuous corpus ingestion with exact dedup: fingerprint each doc
    * with q21's fingerprint (Dedup.fingerprintOf), keep exactly one
    * survivor per fingerprint across micro-batches, and append survivors
    * (doc_id, text, fp) to a parquet corpus directory — the streaming twin
    * of exactDedup + writeParquet, and the front door of the dedup ladder
    * (the round-2 notes' 10× ScaleSmoke ordering: collapse verbatim copies
    * first). Within a micro-batch the MINIMUM doc_id wins — the q21
    * canonical-survivor rule (dropDuplicates would keep an arbitrary row).
    */
  def dedupedIngest(docs: DataFrame, path: String,
      options: Map[String, String] = Map.empty): StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    firstSeenIngest[DocFp]("dedupedIngest", docs, path, options)(
      _.withColumn("fp", Dedup.fingerprintOf(col("text"))).as[DocFp],
      _.fp, _.minBy(_.doc_id))
  }

  case class ChunkRow(doc_id: Long, chunk_id: Long, start_pos: Long,
    n_tokens: Long, chunk_hash: String)

  /** Chunk-grain streaming dedup ingest — the q106/q107 geometry run
    * incrementally: each arriving doc explodes into its overlapping
    * fixed-width chunks STATELESSLY (the exact chunksOf projection batch
    * q106 uses, so the geometry can never drift), then one survivor per
    * chunk hash lands — CCNet-style paragraph dedup as a continuous
    * process, the sub-document complement of dedupedIngest's whole-doc
    * fingerprint. Within a micro-batch the minimum (doc_id, chunk_id)
    * wins (the q107 keeper rule).
    */
  def chunkDedupIngest(docs: DataFrame, path: String,
      options: Map[String, String] = Map.empty): StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    firstSeenIngest[ChunkRow]("chunkDedupIngest", docs, path, options)(
      d => TextAnalysis.chunksOf(TextAnalysis.tokensOf(d)).as[ChunkRow],
      _.chunk_hash, _.minBy(r => (r.doc_id, r.chunk_id)))
  }

  /** Streaming maintenance of the persisted chunk-hash index over the
    * rename-swap layout — the FALLBACK form (r15): the default streaming
    * twin is [[indexIngestBucketed]], matching the default batch path
    * (Pipeline.maintainChunkIndex → the bucketed catalog layout); use
    * this one only where no catalog can own a table and the index lives
    * on a local filesystem.
    *
    * Each micro-batch of (doc_id, text) docs runs through the batch token
    * projection (TextAnalysis.tokensOf) into Pipeline.updateChunkIndex
    * (q114) itself: the ONE chunksOf geometry and the SAME
    * bootstrap/incremental code path — write-to-sibling + atomic directory
    * swap per micro-batch, so a concurrent reader of the index never
    * observes a half-written state.
    *
    * No batch=N landing dirs and no restart guard here (contrast
    * dedupedIngest): the index is a SET and the incremental path unions
    * only hashes absent from the store, so a retried or re-delivered
    * micro-batch adds exactly zero rows — replay converges to the same
    * artifact, and a PRE-EXISTING index is the normal resume case, not
    * staleness. Cross-batch memory lives in the artifact itself, not the
    * state store (no flatMapGroupsWithState) — which is what lets a daily
    * batch `updateChunkIndex` job and this continuous ingest maintain the
    * same index interchangeably.
    */
  def indexIngest(docs: DataFrame, indexPath: String,
      options: Map[String, String] = Map.empty): StreamingQuery =
    startSink("indexIngest", docs, options) { (batch, _) =>
      graft.Pipeline.updateChunkIndex(docs.sparkSession,
        TextAnalysis.tokensOf(batch), indexPath)
      ()
    }

  /** Streaming maintenance of the INCREMENTAL PACKING index (round 17 —
    * the q121 twin): each micro-batch of (doc_id, text) rows becomes one
    * ingest batch of the stored placement map through the batch token
    * counts (Packing.tokenCountsOf) and Packing.updatePackingIndex, its
    * prefix sum seeded from the committed token total, so a continuous
    * ingest and a daily batch job extend the SAME artifact
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
      options: Map[String, String] = Map.empty): StreamingQuery =
    startSink("packingIngest", docs, options) { (batch, _) =>
      Packing.updatePackingIndex(docs.sparkSession,
        Packing.tokenCountsOf(TextAnalysis.tokensOf(batch)), path)
      ()
    }

  /** Streaming maintenance of the LOADER SHARD ARTIFACT — the q124 twin
    * completing the packing arc (index twin: [[packingIngest]]): each
    * micro-batch appends its token counts to the placement index, then
    * extends the packed-window artifact for exactly that batch
    * (Pipeline.appendPackedShards — only the dirty shards rewrite, via
    * dynamic partition overwrite). Token TEXT comes from the corpus
    * store at `dir`, NOT the stream: the straddling window needs the
    * PREVIOUS batch's tail docs, which left the stream long ago — the
    * stream drives placement, the store supplies text (the ingest landing
    * docs into the store must commit before this query's micro-batch
    * reads them, or the token join comes up short). Empty micro-batches
    * are no-ops end-to-end; an exactly-redelivered one replays through the
    * index's sidecar identity check and the shard rewrite is idempotent —
    * StreamingIncrementalSpec pins convergence to the one-shot artifact.
    */
  def packedShardIngest(docs: DataFrame, dir: String, indexPath: String,
      artPath: String, options: Map[String, String] = Map.empty): StreamingQuery =
    startSink("packedShardIngest", docs, options) { (batch, _) =>
      val spark = docs.sparkSession
      val m = Packing.updatePackingIndex(spark,
        Packing.tokenCountsOf(TextAnalysis.tokensOf(batch)), indexPath)
      if (m("docs_added") > 0L)
        graft.Pipeline.appendPackedShards(spark, dir, indexPath, artPath,
          m("batch"))
      ()
    }

  /** Streaming maintenance of the BUCKETED chunk index — the DEFAULT
    * streaming index twin (r15), over the default deployment layout
    * (Pipeline.updateChunkIndexBucketed, q116): each micro-batch's
    * corpus-new hashes APPEND delta-sized bucket files to the
    * chunk_hash-bucketed catalog table through the Hadoop output
    * committer (scheme-agnostic — no rename swap, so this twin is the one
    * to run when the index lives on hdfs://s3a://). Same set-semantics
    * idempotence as indexIngest (a replayed micro-batch appends zero rows
    * and touches zero files), same single-writer contract (micro-batches
    * are inherently sequential; don't run a concurrent batch updater
    * against the same table).
    */
  def indexIngestBucketed(docs: DataFrame, table: String, path: String,
      options: Map[String, String] = Map.empty): StreamingQuery =
    startSink("indexIngestBucketed", docs, options) { (batch, _) =>
      graft.Pipeline.updateChunkIndexBucketed(docs.sparkSession,
        TextAnalysis.tokensOf(batch), table, path)
      ()
    }

  /** Quality-gated ingest: q75's Gopher rules (TextAnalysis.gopherFlags,
    * the batch definition) evaluated over the stream as a stateless per-row
    * projection, feeding the stateful exact-dedup landing — the streaming
    * composition of the pipeline's quality gate and dedup gate in their
    * batch order (quality first: a rejected doc must not burn a dedup-state
    * fingerprint slot). The gate admits exactly the q75 keep-set;
    * StreamingSpec proves it over a file stream.
    */
  def qualityGatedIngest(docs: DataFrame, path: String,
      options: Map[String, String] = Map.empty): StreamingQuery =
    dedupedIngest(
      TextAnalysis.gopherFlags(
        docs.withColumn("toks", TextFns.tokenize(col("text"))))
        .filter(col("keep") === 1L).select("doc_id", "text"),
      path, options)

  /** The full clean intake — the streaming counterpart of
    * Pipeline.cleanCorpus's stage ORDER: PII scrub FIRST (nothing
    * downstream — including the dedup state store — ever holds raw
    * PII), then the Gopher quality gate, then the stateful cross-batch
    * exact-dedup landing. Scrub and gate are stateless projections (the
    * shared TextAnalysis.piiRedactCol / gopherFlags definitions); only
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
    * semantics, not bit-identical keep-sets (contrast q110's scrub over a
    * stream, whose batch equality IS exact and tested).
    */
  def cleanIngest(docs: DataFrame, path: String,
      options: Map[String, String] = Map.empty): StreamingQuery =
    qualityGatedIngest(
      docs.select(col("doc_id"),
        TextAnalysis.piiRedactCol(col("text")).as("text")),
      path, options)

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
      : StreamingQuery = {
    require(compactEvery >= 2, "compactEvery must be >= 2")
    startSink("nearDupIngest", docs, options, Seq(corpusDir, bandsDir)) {
      (batch, batchId) =>
        val spark = batch.sparkSession
        val bands = Dedup.bandBucketsFor(batch)
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
    Dedup.minhashNearDups(spark, stagingDir)
  }
}
