package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** True incremental streaming semantics — multiple micro-batches through
  * MemoryStream, verifying state carries across batches (not just a
  * one-shot drain of a finite source).
  */
class StreamingIncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming dropDuplicates dedups across micro-batches") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val deduped = input.toDS().toDF("id", "fp").dropDuplicates("fp")
    val q = deduped.writeStream.format("memory")
      .queryName("inc_dedup").outputMode("append").start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      assert(spark.table("inc_dedup").count() === 2)
      // batch 2 re-sends fp "b": state from batch 1 must suppress it
      input.addData((3L, "b"), (4L, "c"))
      q.processAllAvailable()
      val out = spark.table("inc_dedup").select("fp").as[String].collect().sorted
      assert(out.toSeq === Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("sessionizeStreaming: session spans batches, flushes once via timeout") {
    import spark.implicits._
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps.EvT
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val gapUs = 30L * 60 * 1000 * 1000 // 30 min
    val input = MemoryStream[EvT]
    val q = StreamingOps.sessionizeStreaming(input.toDS(), gapUs)
      .writeStream.format("memory").queryName("inc_sess")
      .outputMode("append").start()
    try {
      // batch 1: user 1 opens a session (2 events)
      input.addData(EvT(1L, t("10:00:00"), 1.0), EvT(1L, t("10:05:00"), 1.0))
      q.processAllAvailable()
      assert(spark.table("inc_sess").count() === 0, "open session must stay in state")
      // batch 2: same session continues across the batch boundary
      input.addData(EvT(1L, t("10:10:00"), 1.0))
      q.processAllAvailable()
      assert(spark.table("inc_sess").count() === 0,
        "still-open session must not be re-emitted per batch")
      // batch 3: an unrelated user pushes the watermark past 10:40
      // (last event + gap); the engine's watermark-advance micro-batch
      // fires the timeout and flushes user 1's session — exactly once,
      // closed by TIMEOUT, not by any user-1 event
      input.addData(EvT(2L, t("12:00:00"), 1.0))
      q.processAllAvailable()
      val sess = spark.table("inc_sess")
        .as[StreamingOps.SessionOut].collect()
      assert(sess.length === 1)
      assert(sess.head.user_id === 1L && sess.head.n_events === 3L)
      assert(sess.head.start_us === t("10:00:00").getTime * 1000 &&
        sess.head.end_us === t("10:10:00").getTime * 1000)
      // batch 4: nothing re-emits user 1's flushed session
      input.addData(EvT(3L, t("13:00:00"), 1.0))
      q.processAllAvailable()
      assert(spark.table("inc_sess").as[StreamingOps.SessionOut]
        .filter(_.user_id == 1L).count() === 1)
    } finally q.stop()
  }

  test("sessionizeStreaming keeps session ids monotonic across timeout flushes") {
    import spark.implicits._
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps.EvT
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val gapUs = 30L * 60 * 1000 * 1000 // 30 min
    val input = MemoryStream[EvT]
    val q = StreamingOps.sessionizeStreaming(input.toDS(), gapUs)
      .writeStream.format("memory").queryName("inc_sess_mono")
      .outputMode("append").start()
    try {
      // session 1 for user 1, flushed by timeout when user 2 moves the watermark
      input.addData(EvT(1L, t("10:00:00"), 1.0), EvT(1L, t("10:05:00"), 1.0))
      q.processAllAvailable()
      input.addData(EvT(2L, t("12:00:00"), 1.0))
      q.processAllAvailable()
      // post-flush event for the SAME user: the counter must carry over,
      // not restart at 1 (the state.remove() regression this test pins)
      input.addData(EvT(1L, t("12:30:00"), 1.0))
      q.processAllAvailable()
      input.addData(EvT(2L, t("15:00:00"), 1.0))
      q.processAllAvailable()
      val u1 = spark.table("inc_sess_mono").as[StreamingOps.SessionOut]
        .filter(_.user_id == 1L).collect().sortBy(_.session_id)
      assert(u1.map(_.session_id).toSeq === Seq(1L, 2L),
        s"expected monotonic session ids 1,2; got ${u1.mkString(", ")}")
      assert(u1(1).start_us === t("12:30:00").getTime * 1000)
    } finally q.stop()
  }

  test("dedupedIngest survivor is the minimum doc_id within a micro-batch") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_ingest_min")
      .resolve("corpus").toString
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.dedupedIngest(
      input.toDS().toDF("doc_id", "text"), out)
    try {
      // doc 5 arrives before doc 3 with the same text: q21's canonical rule
      // (min doc_id) must pick 3, not whichever row dropDuplicates saw first
      input.addData((5L, "x"), (3L, "x"), (9L, "y"))
      q.processAllAvailable()
      assert(spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
        .toSeq === Seq(3L, 9L))
      // cross-batch: first-arriving fingerprint wins BY DESIGN — a later,
      // lower doc_id cannot un-land the already-written survivor
      input.addData((1L, "x"))
      q.processAllAvailable()
      assert(spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
        .toSeq === Seq(3L, 9L))
    } finally q.stop()
  }

  test("qualityGatedIngest drops low-quality docs before they reach dedup state") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_ingest_q")
      .resolve("corpus").toString
    // passes all five Gopher rules: 20+ alpha tokens incl. stop words,
    // mean length in [3,10], varied bigrams
    val good = "the quick brown fox jumps over the lazy dog while many " +
      "other animals watch from their warm dens under bright evening skies"
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.qualityGatedIngest(
      input.toDS().toDF("doc_id", "text"), out)
    try {
      // docs 7 and 4 fail wc_ok (too few tokens) and must vanish before
      // dedup; docs 2 and 8 share text, the canonical min doc_id lands
      input.addData((7L, "too short doc"), (4L, good.toUpperCase.take(10)),
        (2L, good), (8L, good))
      q.processAllAvailable()
      assert(spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
        .toSeq === Seq(2L))
    } finally q.stop()
  }

  test("cleanIngest scrubs before dedup: redaction-equal docs land once, clean") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_ingest_c")
      .resolve("corpus").toString
    val base = "the quick brown fox jumps over the lazy dog while many " +
      "other animals watch from their warm dens under bright evening skies"
    // two docs equal ONLY after redaction (different raw emails) must
    // dedup to the min doc_id; the landed text must carry the placeholder
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.cleanIngest(
      input.toDS().toDF("doc_id", "text"), out)
    try {
      input.addData(
        (5L, base + " mail me at alice@a.example.com now"),
        (3L, base + " mail me at bob9@b.example.org now"),
        (9L, "too short to pass the gate a@b.co"))
      q.processAllAvailable()
      val landed = spark.read.parquet(out)
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
      assert(landed.map(_._1) === Seq(3L)) // min id of the redaction-dup pair
      assert(landed.head._2 === base + " mail me at <EMAIL> now")
    } finally q.stop()
  }

  test("chunkDedupIngest: q107 keeper within a batch, first-wins across batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_chunk_ingest")
      .resolve("chunks").toString
    def words(a: Int, b: Int): String = (a to b).map(i => s"c$i").mkString(" ")
    val dup = words(1, 70)      // two chunks (W=64, S=48)
    val uniq = words(200, 230)  // one chunk
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.chunkDedupIngest(
      input.toDS().toDF("doc_id", "text"), out)
    try {
      // docs 5 and 3 share text: every chunk group's keeper must be the
      // MINIMUM (doc_id, chunk_id) — the q107 rule — not arrival order
      input.addData((5L, dup), (3L, dup), (9L, uniq))
      q.processAllAvailable()
      val landed = spark.read.parquet(out)
        .select("doc_id", "chunk_id").as[(Long, Long)].collect().sorted.toSeq
      assert(landed === Seq((3L, 0L), (3L, 1L), (9L, 0L)))
      // the landed set is exactly one survivor per distinct chunk hash of
      // the corpus seen so far (the batch q106-distinct relation)
      val expectHashes = graft.operators.TextAnalysis.chunksOf(
        Seq(3L -> dup, 5L -> dup, 9L -> uniq).toDF("doc_id", "text")
          .select(col("doc_id"),
            graft.functions.TextFns.tokenize(col("text")).as("toks")))
        .select("chunk_hash").distinct().as[String].collect().sorted.toSeq
      assert(spark.read.parquet(out).select("chunk_hash").as[String]
        .collect().sorted.toSeq === expectHashes)
      // cross-batch: an already-landed chunk hash cannot be un-written by
      // a later, lower doc_id (first-arriving wins by design); genuinely
      // new chunks from the same doc still land
      input.addData((1L, dup + " " + words(300, 340)))
      q.processAllAvailable()
      val after = spark.read.parquet(out)
        .select("doc_id", "chunk_id").as[(Long, Long)].collect().sorted.toSeq
      assert(after.count(_._1 == 1L) > 0, "doc 1's novel chunks must land")
      assert(after.filter(t => t._1 == 3L || t._1 == 9L) === landed,
        "previously landed survivors must be untouched")
    } finally q.stop()
  }

  test("ingest fails fast on stale batch dirs unless resuming a real checkpoint") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_stale").toString
    assert(new java.io.File(s"$tmp/corpus/batch=0").mkdirs())
    val input = MemoryStream[(Long, String)]
    val docs = input.toDS().toDF("doc_id", "text")
    // no checkpoint: batch ids would restart at 0 over the stale dir
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingOps.dedupedIngest(docs, s"$tmp/corpus")
    }
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingOps.nearDupIngest(
        docs, s"$tmp/other", s"$tmp/corpus")
    }
    // a FRESH (or wiped) checkpoint restarts batch ids at 0 all the same —
    // equally rejected (the checkpoint-wiped-but-data-kept corruption)
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingOps.dedupedIngest(docs, s"$tmp/corpus",
        Map("checkpointLocation" -> s"$tmp/ckpt_fresh"))
    }
    // a genuine resume — checkpoint with committed offsets — is legal
    val out = s"$tmp/corpus2"
    val ck = s"$tmp/ck"
    val q1 = graft.streaming.StreamingOps.dedupedIngest(docs, out,
      Map("checkpointLocation" -> ck))
    try { input.addData((1L, "a")); q1.processAllAvailable() } finally q1.stop()
    val q2 = graft.streaming.StreamingOps.dedupedIngest(docs, out,
      Map("checkpointLocation" -> ck))
    try {
      input.addData((2L, "b")); q2.processAllAvailable()
      assert(spark.read.parquet(out).select("text").as[String].collect().sorted
        .toSeq === Seq("a", "b"))
    } finally q2.stop()
  }

  test("dedupedIngest appends only first-seen docs to the parquet corpus") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_ingest")
      .resolve("corpus").toString
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.dedupedIngest(
      input.toDS().toDF("doc_id", "text"), out)
    try {
      input.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      q.processAllAvailable()
      // batch 2 re-sends "beta" (cross-batch state) and adds "gamma"
      input.addData((4L, "beta"), (5L, "gamma"))
      q.processAllAvailable()
      val got = spark.read.parquet(out).select("text").as[String].collect().sorted
      assert(got.toSeq === Seq("alpha", "beta", "gamma"))
    } finally q.stop()
  }

  test("nearDupIngest drops LSH near-dups across and within micro-batches") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_neardup")
    val (corpus, bands) = (s"$tmp/corpus", s"$tmp/bands")
    val base = "spark table scan filter join group order sort merge hash key value row column batch stream"
    val other = "customer orders line part region nation supplier query window vector data big small slow"
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.nearDupIngest(
      input.toDS().toDF("doc_id", "text"), corpus, bands)
    try {
      // batch 1: base doc, a novel doc, and a within-batch copy of base
      input.addData((10L, base), (11L, other), (14L, base))
      q.processAllAvailable()
      // batch 2: a near-identical variant of base (cross-batch dup) + novel
      input.addData((12L, base.replace("batch", "fast")),
        (13L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      q.processAllAvailable()
      val kept = spark.read.parquet(corpus)
        .select("doc_id").as[Long].collect().sorted
      assert(kept.toSeq === Seq(10L, 11L, 13L),
        "within-batch copy (14), cross-batch near-dup (12) must be dropped")
    } finally q.stop()
  }

  test("nearDupIngest compacts the band store; reads prune to post-compaction batches") {
    import spark.implicits._
    import graft.streaming.StreamingOps
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact")
    val (corpus, bands) = (s"$tmp/corpus", s"$tmp/bands")
    val base = "spark table scan filter join group order sort merge hash key value row column batch stream"
    def uniq(i: Int) = s"wholly distinct document number id$i holding words alpha$i beta$i gamma$i delta$i epsilon$i"
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.nearDupIngest(
      input.toDS().toDF("doc_id", "text"), corpus, bands, compactEvery = 2)
    try {
      input.addData((10L, base), (11L, uniq(1))); q.processAllAvailable() // batch 0
      input.addData((12L, uniq(2))); q.processAllAvailable()             // batch 1 → compact
      input.addData((13L, uniq(3))); q.processAllAvailable()             // batch 2
      // batch 3: near-dup of batch-0's base — its bands now live ONLY in
      // the compacted store at this read (marker = 1, dirs 0–1 deleted),
      // so the drop proves the compacted path preserves cross-batch dedup
      input.addData((14L, base.replace("batch", "fast"))); q.processAllAvailable()
      // batch 4: fresh doc, no fold yet (1 uncompacted < compactEvery)
      input.addData((15L, uniq(4))); q.processAllAvailable()
      val kept = spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted
      assert(kept.toSeq === Seq(10L, 11L, 12L, 13L, 15L),
        "near-dup vs compacted store must be dropped; uniques kept")

      // the periodic batch audit the scaladoc prescribes: the landed corpus,
      // re-checked with the exact batch verifier, contains no near-dups
      assert(StreamingOps.auditCorpus(spark, corpus, s"$tmp/audit").count() === 0,
        "streamed corpus must pass the batch near-dup audit")

      val tbl = StreamingOps.compactedTable(bands)
      assert(spark.catalog.tableExists(tbl), "compaction must register the bucketed table")
      assert(StreamingOps.compactedThroughOf(spark, bands) === 3L,
        "marker records fold coverage (batches 0-3)")
      // folded per-batch dirs are deleted — listings stay bounded; only
      // the uncompacted batch 4 remains
      val remaining = new java.io.File(bands).listFiles()
        .map(_.getName).filter(_.startsWith("batch=")).sorted
      assert(remaining.toSeq === Seq("batch=4"),
        s"folded batch dirs must be swept, got ${remaining.mkString(", ")}")
      // store parts for a batch-5 read: compacted store (≤ 3) + the one
      // recent per-batch dir — the read never rescans folded history
      val parts = StreamingOps.bandStoreParts(spark, bands, 5L)
      assert(parts.size === 2)
      val bandsPerDoc = graft.operators.Dedup.MinhashBands
      assert(parts(0).count() === 4L * bandsPerDoc, "compacted: docs 10,11,12,13")
      assert(parts(1).count() === 1L * bandsPerDoc, "recent: batch 4 (doc 15) only")
      val recentPlan = parts(1).queryExecution.executedPlan.toString
      assert(recentPlan.contains("PartitionFilters"),
        s"batch pruning must be partition-level, got:\n$recentPlan")

      // the compacted table is physically bucketed on the join key: an
      // equality probe reads 1 of StoreBuckets bucket files
      val autoBefore = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      try {
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        val oneBucket = spark.table(tbl).select("bucket").as[String].head()
        val probe = spark.table(tbl).filter($"bucket" === oneBucket)
        val plan = probe.queryExecution.executedPlan.toString
        assert(plan.contains(s"SelectedBucketsCount: 1 out of ${StreamingOps.StoreBuckets}"),
          s"expected bucket-pruned store probe, got:\n$plan")
      } finally spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", autoBefore)
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS ${StreamingOps.compactedTable(bands)}")
    }
  }

  test("stream-stream interval join pairs errors with in-window purchases only") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    // (event_id, ts, user_id, value)
    val errors = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val joined = graft.streaming.StreamingOps.errorsWithRecentPurchases(
      errors.toDS().toDF("event_id", "ts", "user_id", "value"),
      purchases.toDS().toDF("event_id", "ts", "user_id", "value"),
      windowUs = 60L * 60 * 1000 * 1000) // 1 hour
    val q = joined.writeStream.format("memory").queryName("inc_ssj")
      .outputMode("append").start()
    try {
      // purchases arrive in one batch, errors in a LATER one: the join
      // must buffer stream state across batches to pair them
      purchases.addData(
        (100L, t("09:30:00"), 1L, 10.0), // in window for the 10:00 error
        (101L, t("08:30:00"), 1L, 20.0), // outside (>1h before)
        (102L, t("09:45:00"), 2L, 30.0)) // other user
      q.processAllAvailable()
      errors.addData((200L, t("10:00:00"), 1L, 0.0))
      q.processAllAvailable()
      val got = spark.table("inc_ssj")
        .select("error_event_id", "purchase_value").as[(Long, Double)]
        .collect().toSet
      assert(got === Set((200L, 10.0)),
        "only the same-user, in-window purchase may pair")
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched errors after the watermark") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val errors = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val joined = graft.streaming.StreamingOps.errorsWithRecentPurchases(
      errors.toDS().toDF("event_id", "ts", "user_id", "value"),
      purchases.toDS().toDF("event_id", "ts", "user_id", "value"),
      windowUs = 60L * 60 * 1000 * 1000, delay = "1 hour",
      joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("inc_ssj_outer")
      .outputMode("append").start()
    try {
      errors.addData((200L, t("10:00:00"), 1L, 0.0)) // no purchase will match
      q.processAllAvailable()
      assert(spark.table("inc_ssj_outer").count() === 0,
        "unmatched row must be HELD until the watermark closes its window")
      // both watermarks must advance past error_ts + delay for the engine
      // to prove no in-window purchase can still arrive
      errors.addData((201L, t("14:00:00"), 9L, 0.0))
      purchases.addData((300L, t("14:00:00"), 9L, 1.0))
      q.processAllAvailable()
      val nullRows = spark.table("inc_ssj_outer")
        .filter($"error_event_id" === 200L).collect()
      assert(nullRows.length === 1 && nullRows.head.isNullAt(
        nullRows.head.fieldIndex("purchase_value")),
        "watermark-passed unmatched error emits exactly once, null-padded")
    } finally q.stop()
  }

  test("windowed aggregation accumulates counts across micro-batches") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = input.toDS().toDF("ts", "event_type")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(date_format($"w.start", "HH:mm").as("h"), $"event_type", $"n")
    val q = agg.writeStream.format("memory")
      .queryName("inc_win").outputMode("complete").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    try {
      input.addData((t("10:05:00"), "x"), (t("10:20:00"), "x"))
      q.processAllAvailable()
      input.addData((t("10:40:00"), "x"), (t("11:10:00"), "y"))
      q.processAllAvailable()
      val rows = spark.table("inc_win")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      // the 10:00 window's count grew 2 → 3 across batches
      assert(rows === Set(("10:00", "x", 3L), ("11:00", "y", 1L)))
    } finally q.stop()
  }

  test("trailingWindowStreaming matches batch under out-of-order and ts-tie arrivals") {
    import spark.implicits._
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps.EvFull
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val hourUs = 3600L * 1000000
    // user 1: in-order events plus e5 arriving two batches late (in-tolerance);
    // user 3: equal-timestamp peers split across batches — the case eager
    // emission undercounts; user 2: watermark-advancing sentinels
    val u1 = Seq(
      EvFull(1L, 1L, t("10:00:00"), 1.50), EvFull(1L, 2L, t("10:30:00"), 2.25),
      EvFull(1L, 3L, t("11:00:00"), 3.00), EvFull(1L, 4L, t("12:01:00"), 4.00),
      EvFull(1L, 5L, t("10:45:00"), 0.25))
    val u3 = Seq(
      EvFull(3L, 10L, t("10:00:00"), 1.00), EvFull(3L, 11L, t("10:00:00"), 2.00))
    val input = MemoryStream[EvFull]
    val q = StreamingOps.trailingWindowStreaming(input.toDS(), hourUs, "1 hour")
      .writeStream.format("memory").queryName("inc_trail")
      .outputMode("append").start()
    try {
      input.addData(u1(0), u1(1), u3(0)); q.processAllAvailable()
      // ts-tie peer e11 arrives one batch later than e10, while the
      // watermark (9:30 after this batch) is still strictly below their
      // shared 10:00 timestamp — an eager implementation would already
      // have emitted e10 with n=1
      input.addData(u1(2), u3(1)); q.processAllAvailable()
      // e5 (10:45) arrives AFTER e3 (11:00), still ahead of the watermark
      input.addData(u1(4)); q.processAllAvailable()
      input.addData(u1(3)); q.processAllAvailable()
      // sentinels push the watermark past every real event
      input.addData(EvFull(2L, 100L, t("13:30:00"), 0.0)); q.processAllAvailable()
      input.addData(EvFull(2L, 101L, t("14:30:00"), 0.0)); q.processAllAvailable()
      val got = spark.table("inc_trail")
        .filter($"user_id" =!= 2L)
        .select("user_id", "event_id", "ts_us", "n_1h", "sum_1h")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      // batch oracle over the identical events
      val dir = java.nio.file.Files.createTempDirectory("graft_trail_tw").toString
      (u1 ++ u3).map(e => (e.event_id, e.ts.getTime * 1000000L, e.user_id, e.value))
        .toDF("event_id", "ts", "user_id", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val want = graft.operators.Events.trailingWindow(spark, dir)
        .select("user_id", "event_id", "ts_us", "n_1h", "sum_1h")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      assert(got === want)
      // the tie case really exercised cross-batch sealing: both peers count both
      assert(got.filter(_._1 == 3L).map(r => (r._4, r._5)) === Set((2L, 3.00)))
    } finally q.stop()
  }

  test("timeToConvertStreaming ∘ cohortMedians equals batch q100, exactly once") {
    import spark.implicits._
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps.ConvEv
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    // user 1: clean funnel; user 2: arrives REVERSED across one batch (in-
    // tolerance out-of-order); user 3: view→purchase, no click (never
    // converts); user 4: pre-view click must not count, later click does;
    // user 9: watermark-driver views only
    val all = scala.collection.mutable.ArrayBuffer.empty[ConvEv]
    def ev(u: Long, s: String, tpe: String): ConvEv =
      { val e = ConvEv(u, t(s), tpe); all += e; e }
    val input = MemoryStream[ConvEv]
    val q = StreamingOps.timeToConvertStreaming(input.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("inc_conv")
      .outputMode("append").start()
    try {
      input.addData(
        ev(1L, "10:00:00", "view"), ev(1L, "10:05:00", "click"),
        ev(1L, "10:10:00", "purchase"),
        ev(3L, "10:01:00", "view"), ev(3L, "10:02:00", "purchase"),
        ev(4L, "10:00:00", "click"))
      q.processAllAvailable()
      assert(spark.table("inc_conv").count() === 0,
        "nothing may emit before the watermark seals the purchase")
      // user 2 funnel arrives in REVERSE event-time order; user 4 completes
      input.addData(
        ev(2L, "10:20:00", "purchase"), ev(2L, "10:18:00", "click"),
        ev(2L, "10:16:00", "view"),
        ev(4L, "10:03:00", "view"), ev(4L, "10:04:00", "click"),
        ev(4L, "10:06:00", "purchase"),
        ev(9L, "10:30:00", "view"))
      q.processAllAvailable()
      // watermark-driver pushes wm past every event; stragglers for the
      // already-converted user 1 must not re-emit
      input.addData(ev(1L, "11:00:00", "purchase"), ev(9L, "13:00:00", "view"))
      q.processAllAvailable()
      val conv = spark.table("inc_conv")
      assert(conv.filter($"user_id" === 1L).count() === 1, "exactly once")
      assert(conv.filter($"user_id" === 3L || $"user_id" === 9L).count() === 0)
      val got = graft.operators.Events.cohortMedians(conv)
        .as[(String, Long, Double)].collect().toSeq
      // batch oracle: q100 end-to-end over the identical events
      val dir = java.nio.file.Files.createTempDirectory("graft_ttc_tw").toString
      all.zipWithIndex
        .map { case (e, i) =>
          (i.toLong, e.ts.getTime * 1000000L, e.user_id, e.event_type, 1.0) }
        .toSeq.toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val want = graft.operators.Events.timeToConvert(spark, dir)
        .as[(String, Long, Double)].collect().toSeq
      assert(got === want)
      // the planted shape: users 1/2/4 convert (ttc 600/240/180 s), median 240 s
      assert(got.map(r => (r._2, r._3)) === Seq((3L, 240e6)))
    } finally q.stop()
  }

  test("timeToConvertStreaming keeps sub-millisecond precision (µs twin of unix_micros)") {
    import spark.implicits._
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps.ConvEv
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    // user 7's whole funnel lives inside ONE millisecond: under the former
    // getTime*1000 grain all three stages collapsed to the same µs value,
    // the strict > comparisons rejected the funnel, and the streaming twin
    // diverged from batch on any sub-ms corpus. user 8's click TIES the
    // view at exact µs — strict > must reject that funnel in both engines.
    val all = scala.collection.mutable.ArrayBuffer.empty[ConvEv]
    def ev(u: Long, s: String, tpe: String): ConvEv =
      { val e = ConvEv(u, t(s), tpe); all += e; e }
    val input = MemoryStream[ConvEv]
    val q = StreamingOps.timeToConvertStreaming(input.toDS(), "0 seconds")
      .writeStream.format("memory").queryName("inc_conv_us")
      .outputMode("append").start()
    try {
      input.addData(
        ev(7L, "10:00:00.000100", "view"), ev(7L, "10:00:00.000200", "click"),
        ev(7L, "10:00:00.000300", "purchase"),
        ev(8L, "10:00:00.000500", "view"), ev(8L, "10:00:00.000500", "click"),
        ev(8L, "10:00:00.000600", "purchase"))
      q.processAllAvailable()
      input.addData(ev(9L, "11:00:00", "view")) // watermark driver
      q.processAllAvailable()
      val got = spark.table("inc_conv_us")
        .as[StreamingOps.ConvOut].collect().toSeq.sortBy(_.user_id)
      assert(got.map(c => (c.user_id, c.cohort_date, c.ttc_us)) ===
        Seq((7L, "2024-01-01", 200L)))
      // batch oracle over the identical events, ts in the events.parquet
      // nanosecond convention (full µs × 1000)
      val dir = java.nio.file.Files.createTempDirectory("graft_ttc_us").toString
      all.zipWithIndex.map { case (e, i) =>
        (i.toLong, e.ts.getTime / 1000L * 1000000000L + e.ts.getNanos.toLong,
          e.user_id, e.event_type, 1.0) }
        .toSeq.toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val want = graft.operators.Events.timeToConvert(spark, dir)
        .as[(String, Long, Double)].collect().toSeq
      val gotMed = graft.operators.Events.cohortMedians(
        spark.table("inc_conv_us")).as[(String, Long, Double)].collect().toSeq
      assert(gotMed === want)
      assert(want === Seq(("2024-01-01", 1L, 200.0)))
    } finally q.stop()
  }

  test("indexIngest: streaming chunk-index maintenance converges with the batch path") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft_idx_ingest")
      .resolve("chunk_index.parquet").toString
    def words(a: Int, b: Int): String = (a to b).map(i => s"w$i").mkString(" ")
    val base = words(1, 70)     // two chunks (W=64, S=48)
    val fresh = words(500, 540) // one chunk
    def stored(): Seq[String] =
      graft.Pipeline.readChunkIndex(spark, idx).as[String].collect().sorted.toSeq
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.indexIngest(
      input.toDS().toDF("doc_id", "text"), idx)
    try {
      // batch 1 bootstraps the artifact from nothing
      input.addData((1L, base))
      q.processAllAvailable()
      assert(stored().size === 2)
      // batch 2: one doc duplicates batch 1's text verbatim (its hashes are
      // already stored — set semantics), one brings a genuinely new chunk
      input.addData((2L, base), (3L, fresh))
      q.processAllAvailable()
      val afterTwo = stored()
      assert(afterTwo.size === 3)
      // re-delivery of the same payload adds exactly zero rows (the
      // idempotence the docstring promises in place of batch=N dirs)
      input.addData((4L, base), (5L, fresh))
      q.processAllAvailable()
      assert(stored() === afterTwo)
      // interchangeability: a from-scratch BATCH build over the same docs
      // yields the same stored hash set the stream converged to
      val batchIdx = java.nio.file.Files.createTempDirectory("graft_idx_batch")
        .resolve("chunk_index.parquet").toString
      graft.Pipeline.updateChunkIndex(spark,
        Seq(1L -> base, 2L -> base, 3L -> fresh).toDF("doc_id", "text")
          .select(col("doc_id"),
            graft.functions.TextFns.tokenize(col("text")).as("toks")),
        batchIdx)
      assert(graft.Pipeline.readChunkIndex(spark, batchIdx)
        .as[String].collect().sorted.toSeq === afterTwo)
    } finally q.stop()
  }

  test("indexIngestBucketed: streamed appends converge with the batch bucketed build") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_bidx_stream")
    val (table, path) = ("graft_bidx_stream_t", s"$tmp/idx")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    def words(a: Int, b: Int): String = (a to b).map(i => s"s$i").mkString(" ")
    val base = words(1, 70)     // two chunks (W=64, S=48)
    val fresh = words(500, 540) // one chunk
    def partFiles(): Set[String] =
      new java.io.File(path).listFiles.map(_.getName)
        .filter(_.startsWith("part-")).toSet
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.indexIngestBucketed(
      input.toDS().toDF("doc_id", "text"), table, path)
    try {
      // batch 1 bootstraps the bucketed table
      input.addData((1L, base))
      q.processAllAvailable()
      assert(spark.table(table).count() === 2L)
      val f1 = partFiles()
      // batch 2: verbatim re-send + one new chunk — the update must
      // APPEND (bootstrap files untouched), never rewrite
      input.addData((2L, base), (3L, fresh))
      q.processAllAvailable()
      assert(spark.table(table).count() === 3L)
      val f2 = partFiles()
      assert(f1.subsetOf(f2) && f2.size > f1.size,
        "micro-batch delta must append bucket files")
      // replayed payload: zero rows, zero file churn (set idempotence)
      input.addData((4L, base), (5L, fresh))
      q.processAllAvailable()
      assert(spark.table(table).count() === 3L)
      assert(partFiles() === f2)
      // interchangeability: a from-scratch BATCH bucketed build over the
      // same docs yields the same stored hash set
      val (bt, bp) = ("graft_bidx_stream_batch", s"$tmp/batch_idx")
      spark.sql(s"DROP TABLE IF EXISTS $bt")
      try {
        graft.Pipeline.updateChunkIndexBucketed(spark,
          Seq(1L -> base, 2L -> base, 3L -> fresh).toDF("doc_id", "text")
            .select(col("doc_id"),
              graft.functions.TextFns.tokenize(col("text")).as("toks")),
          bt, bp)
        assert(spark.table(bt).as[String].collect().sorted.toSeq ===
          spark.table(table).as[String].collect().sorted.toSeq)
      } finally spark.sql(s"DROP TABLE IF EXISTS $bt")
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("packingIngest: micro-batches extend placement; redelivery replays idempotently") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Packing
    val tmp = java.nio.file.Files.createTempDirectory("graft_pack_stream")
    val path = tmp.resolve("idx").toString
    def text(pfx: String, n: Int): String =
      (1 to n).map(i => s"$pfx$i").mkString(" ")
    def placed(): Seq[(Long, Long, Long, Long, Long, Long)] =
      Packing.readPackingIndex(spark, path)
        .select("doc_id", "n_toks", "start_tok", "first_win", "last_win",
          "n_windows")
        .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.packingIngest(
      input.toDS().toDF("doc_id", "text"), path)
    try {
      input.addData((1L, text("a", 5)), (2L, text("b", 3)))
      q.processAllAvailable()
      input.addData((3L, text("c", 7)))
      q.processAllAvailable()
      val after = placed()
      // placement continues across micro-batches with no gap or overlap
      assert(after.map(t => (t._1, t._2, t._3)) ===
        Seq((1L, 5L, 0L), (2L, 3L, 5L), (3L, 7L, 8L)))
      // restart model: the source redelivers the un-checkpointed last
      // micro-batch — same doc_id range, recognized by the sidecar's
      // last-batch record and replayed in place, not rejected, not
      // duplicated
      input.addData((3L, text("c", 7)))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"replay failed: ${q.exception}")
      assert(placed() === after)
      // batch/stream interchangeability: the daily-job form over the same
      // ingest cuts lands the identical stored relation
      val bpath = tmp.resolve("batch_idx").toString
      Packing.updatePackingIndex(spark,
        Seq((1L, 5L), (2L, 3L)).toDF("doc_id", "n_toks"), bpath)
      Packing.updatePackingIndex(spark,
        Seq((3L, 7L)).toDF("doc_id", "n_toks"), bpath)
      assert(Packing.readPackingIndex(spark, bpath)
        .select("doc_id", "n_toks", "start_tok", "first_win", "last_win",
          "n_windows")
        .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
        .toSeq === after)
    } finally q.stop()
  }

  test("packedShardIngest: the streamed artifact converges to the one-shot shards") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Packing
    val tmp = java.nio.file.Files.createTempDirectory("graft_pka_stream")
    // the corpus STORE: 40 docs x ~500 tokens -> ~10 windows -> >= 2 shards,
    // so the extension's shard arithmetic is actually exercised
    def text(d: Long): String = (1 to 500).map(i => s"w${d}x$i").mkString(" ")
    val all = (1L to 40L).map(d => d -> text(d))
    val dir = tmp.resolve("corpus").toString
    all.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val idx = tmp.resolve("idx").toString
    val art = tmp.resolve("art").toString
    def snap(p: String) = spark.read.parquet(s"$p/windows")
      .select(col("win"), col("shard").cast("long").as("shard"),
        col("n_segs"), col("n_toks"), col("tokens"),
        to_json(col("segments")).as("segjson"))
      .as[(Long, Long, Long, Long, Seq[String], String)]
      .collect().sortBy(_._1).toSeq
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.packedShardIngest(
      input.toDS().toDF("doc_id", "text"), dir, idx, art)
    try {
      // two monotone micro-batches, then an exact redelivery of the last
      input.addData(all.take(25): _*)
      q.processAllAvailable()
      input.addData(all.drop(25): _*)
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"ingest failed: ${q.exception}")
      val streamed = snap(art)
      input.addData(all.drop(25): _*) // restart-redelivery model
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"replay failed: ${q.exception}")
      assert(snap(art) === streamed)
      // convergence: the streamed artifact IS the one-shot materialization
      val idxB = tmp.resolve("idx_oneshot").toString
      val artB = tmp.resolve("art_oneshot").toString
      Packing.updatePackingIndex(spark,
        all.toDF("doc_id", "text").select(col("doc_id"),
          size(graft.functions.TextFns.tokenize(col("text")))
            .cast("long").as("n_toks")), idxB)
      graft.Pipeline.materializePackedFrom(spark, dir, idxB, artB)
      assert(streamed.nonEmpty && streamed === snap(artB))
      assert(streamed.map(_._2).distinct.size >= 2) // the >=2-shard claim
    } finally q.stop()
  }

  test("indexIngest: mid-swap crash recovered on restart, index equals batch build") {
    // VERDICT r13 #5: the two-rename swap's `.old` adoption is unit-tested
    // batch-side; this drives the SAME durability claim through the
    // streaming twin — kill the query, simulate a death between the two
    // swap renames (committed index parked at `.old`, live path missing,
    // a stale uncommitted `.next` left behind), restart from the SAME
    // checkpoint (so batch 1 is NOT re-delivered — only the adoption can
    // preserve its hashes), and prove the recovered index converges to
    // the from-scratch batch build.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx_crash")
    val idx = tmp.resolve("chunk_index.parquet").toString
    val ck = tmp.resolve("ckpt").toString
    def words(a: Int, b: Int): String = (a to b).map(i => s"k$i").mkString(" ")
    val base = words(1, 70)     // two chunks (W=64, S=48)
    val fresh = words(500, 540) // one chunk
    def stored(): Seq[String] =
      graft.Pipeline.readChunkIndex(spark, idx).as[String].collect().sorted.toSeq
    val input = MemoryStream[(Long, String)]
    val docs = input.toDS().toDF("doc_id", "text")
    val opts = Map("checkpointLocation" -> ck)
    val q1 = graft.streaming.StreamingOps.indexIngest(docs, idx, opts)
    try {
      input.addData((1L, base))
      q1.processAllAvailable()
      assert(stored().size === 2)
    } finally q1.stop()
    // crash simulation: the instant between "park old" and "promote next" —
    // the committed copy lives ONLY at .old; a stale half-written .next
    // (no _SUCCESS) must be ignored, not adopted
    java.nio.file.Files.move(java.nio.file.Paths.get(idx),
      java.nio.file.Paths.get(idx + ".old"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(idx + ".next"))
    val q2 = graft.streaming.StreamingOps.indexIngest(docs, idx, opts)
    try {
      // batch 2 (batch 1's offsets are committed in ck, so only this
      // arrives): one verbatim re-send + one genuinely new chunk
      input.addData((2L, base), (3L, fresh))
      q2.processAllAvailable()
      val got = stored()
      assert(got.size === 3,
        "recovered index must hold batch 1's adopted hashes + batch 2's new one")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(idx + ".old", "_SUCCESS")),
        "adopted .old must not linger as a committed sibling")
      // durability claim: the crashed-and-recovered streaming index equals
      // a from-scratch batch build over the same docs
      val batchIdx = tmp.resolve("batch_idx.parquet").toString
      graft.Pipeline.updateChunkIndex(spark,
        Seq(1L -> base, 2L -> base, 3L -> fresh).toDF("doc_id", "text")
          .select(col("doc_id"),
            graft.functions.TextFns.tokenize(col("text")).as("toks")),
        batchIdx)
      assert(graft.Pipeline.readChunkIndex(spark, batchIdx)
        .as[String].collect().sorted.toSeq === got)
    } finally q2.stop()
  }

  test("bloomFlagMultiStream: benchmark added mid-stream, restarted gate equals batch") {
    // verdict r18 item 5: the multi-bench gate's deployment loop on a
    // benchmark-suite CHANGE — a new eval benchmark lands, the bits
    // cache is invalidated, the blobs rebuild (the new benchmark gets
    // its own right-sized filter; existing benchmarks' blobs are
    // untouched), and the RESTARTED gate's flags over the train corpus
    // equal the batch recompute bit-for-bit.
    import spark.implicits._
    import graft.streaming.StreamingOps
    import graft.operators.{Sketches, TextAnalysis}
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("mbloom_suite")
    val dir = tmp.toString
    def doc(i: Long, src: String) = (i,
      s"alpha bravo charlie delta echo doc$i tok${i % 7} fox${i % 11} " +
        s"golf hotel india juliet", "en", src, 60L)
    // phase-1 corpus: two sources; the md5-text hash split scatters ~20%
    // of each into eval, so both become benchmarks
    val phase1 = (0L until 60L).map(i => doc(i, "benchA")) ++
      (60L until 120L).map(i => doc(i, "benchB"))
    phase1.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val bits1 = Sketches.benchBitsHex(spark, dir)
    assert(bits1.map(_._1) === Seq("benchA", "benchB"),
      "fixture must yield two benchmarks before the addition")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val trainDir = tmp.resolve("train").toString
    def stageTrain(): Unit = spark.read.parquet(s"$dir/documents.parquet")
      .join(TextAnalysis.hashSplit(spark, dir)
        .filter($"split" === "train").select("doc_id"), Seq("doc_id"),
        "left_semi")
      .write.mode("overwrite").parquet(trainDir)
    stageTrain()
    // phase 1: the gate runs with the two-benchmark blobs
    val got1 = TestSpark.runToMemory(
      StreamingOps.bloomFlagMultiStream(
        spark.readStream.schema(docSchema).parquet(trainDir), bits1),
      "mbloom_suite1", mode = "append")
    assert(got1.select("benchmark").distinct().count() === 2L)
    // a new benchmark lands: benchC documents chosen (by the SAME md5
    // split the pipeline uses) to fall entirely in the eval split, so
    // the train corpus is unchanged and existing filters must not move
    val candidates = (1000L until 1200L).map(i => doc(i, "benchC"))
    val evalC = candidates.toDF("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("bucket",
        (expr("(instr('0123456789abcdef', substring(md5(text), 1, 1)) - 1)") * 16 +
          expr("(instr('0123456789abcdef', substring(md5(text), 2, 1)) - 1)"))
          .cast("long"))
      .filter($"bucket" >= 204).drop("bucket")
      .limit(20)
    assert(evalC.count() >= 5, "need a non-trivial benchC eval set")
    spark.read.parquet(s"$dir/documents.parquet").unionByName(evalC)
      .write.mode("overwrite").parquet(s"$dir/documents2.parquet")
    // the suite changed: swap the corpus in place and INVALIDATE — the
    // per-(session, dir) caches would otherwise serve the stale suite
    val fs = new java.io.File(s"$dir/documents.parquet")
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(wipe)); f.delete(); () }
    wipe(fs)
    new java.io.File(s"$dir/documents2.parquet").renameTo(fs)
    graft.Caches.clearDir(spark, dir)
    val bits2 = Sketches.benchBitsHex(spark, dir)
    assert(bits2.map(_._1) === Seq("benchA", "benchB", "benchC"))
    // suite growth did not perturb the existing benchmarks' filters
    assert(bits2.filter(_._1 != "benchC").toMap === bits1.toMap,
      "existing benchmarks' blobs must be byte-identical across the change")
    // the restarted gate re-screens the train corpus with the new blobs
    stageTrain() // same rows (benchC is eval-only), restaged for the restart
    val got2 = TestSpark.runToMemory(
      StreamingOps.bloomFlagMultiStream(
        spark.readStream.schema(docSchema).parquet(trainDir), bits2),
      "mbloom_suite2", mode = "append")
    val want = Sketches.multiBenchDecontamination(spark, dir)
    assert(got2.count() === want.count())
    assert(got2.exceptAll(want).count() === 0)
    assert(want.exceptAll(got2).count() === 0)
    // and the old gate's rows are the new gate's minus the new benchmark
    // (same train docs, same untouched filters)
    assert(got2.filter($"benchmark" =!= "benchC").exceptAll(got1)
      .count() === 0)
  }
}
