package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Artifact

/** Context-window packing — the batch-forming step of LLM pretraining
  * (extension surface; the reference is strictly an ETL binary): documents
  * are concatenated in a deterministic corpus order (doc_id) and the token
  * stream is cut into fixed-capacity context windows — the
  * "concatenate and chunk" regime GPT-style pipelines use to waste no
  * sequence budget on padding. The per-doc placement relation (start
  * offset, first/last window, windows spanned) is exactly the map a data
  * loader needs to locate any document inside the packed stream, and the
  * boundary-crossing flag prices the attention-mask fragmentation the
  * packing introduces.
  *
  * Scale shape: everything rides a distributed EXCLUSIVE prefix sum over
  * the per-doc token counts — the same two-job idiom as [[graft.operators.Ids]]
  * (range-partitioned total sort, one tiny driver-side pass over
  * per-partition subtotals, offsets broadcast back) — so no window
  * function ever funnels the corpus through one partition. The count
  * relation is ~16 bytes/doc regardless of document size: at 100 TB of
  * text it is the token COUNTS, never the tokens, that move through the
  * sort.
  */
object Packing {

  /** Training context length (tokens per window). */
  val ContextTokens = 2048L

  /** Append an exclusive running total of `valCol` (the sum over all
    * earlier rows in `orderCols` order) as `out`.
    *
    * `sum(...).over(Window.orderBy(...).rowsBetween(unboundedPreceding,
    * -1))` is the correct one-liner but executes as ONE partition — a
    * non-starter at scale (the q05 running spend is fine because it
    * partitions by customer; a GLOBAL running total has no partition
    * key). The scale-safe idiom, mirroring Ids.withDenseId: total sort
    * (range-partitioned, stays distributed), one pass collecting the
    * per-partition subtotals (#partitions values — bounded driver
    * traffic), then a per-partition running sum seeded by the broadcast
    * offsets. `orderCols` must be a total order for deterministic
    * results; both jobs re-derive the same range partitioning from the
    * same input (the zipWithIndex determinism argument, round 2).
    */
  def withExclusivePrefixSum(df: DataFrame, valCol: String, out: String,
      orderCols: Column*): DataFrame =
    withSeededPrefixSum(df, valCol, out, 0L, orderCols: _*)

  /** [[withExclusivePrefixSum]] seeded at `seed` instead of 0 — the
    * incremental form: an append batch's running totals continue from
    * the stored corpus's committed token total, so extending the
    * placement map costs O(batch), never a re-sort of the corpus
    * (round 17, VERDICT r16 item 4).
    */
  def withSeededPrefixSum(df: DataFrame, valCol: String, out: String,
      seed: Long, orderCols: Column*): DataFrame = {
    val sorted = df.orderBy(orderCols: _*)
    val vi = sorted.schema.fieldIndex(valCol)
    require(sorted.schema(vi).dataType == LongType,
      s"$valCol must be LONG (got ${sorted.schema(vi).dataType})")
    // localCheckpoint so the two mapPartitionsWithIndex jobs below provably
    // read IDENTICAL partitions (VERDICT r17 item 7): the subtotal pass
    // materializes the sorted partitions as storage blocks and truncates
    // the lineage, so the offset-seeding pass re-reads those blocks instead
    // of re-running the range-partitioned sort — the zipWithIndex
    // determinism ARGUMENT (same input ⇒ same range bounds) becomes a
    // storage-level guarantee. Cost: caching the ~16-byte/doc count
    // relation once per call (blocks freed by the ContextCleaner when the
    // returned frame is dropped); measured at bench sf0.1 inside noise.
    val rdd0 = sorted.rdd.localCheckpoint()
    val partTotals = rdd0.mapPartitionsWithIndex { case (i, it) =>
      var s = 0L; it.foreach(r => s += r.getLong(vi)); Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partTotals.scanLeft(seed)(_ + _)
    val schema = sorted.schema.add(out, LongType, nullable = false)
    val rows = rdd0.mapPartitionsWithIndex { case (i, it) =>
      var acc = offsets(i)
      it.map { r =>
        val row = Row.fromSeq(r.toSeq :+ acc); acc += r.getLong(vi); row
      }
    }
    df.sparkSession.createDataFrame(rows, schema)
  }

  /** q120: per-document placement in the packed token stream. For a doc
    * with no tokens, first_win = last_win = the window its offset falls
    * in and n_windows = 0 (it occupies nothing). Invariants pinned by
    * PackingSpec: start_tok is the exclusive running total in doc_id
    * order; consecutive docs abut exactly; a doc spans
    * ceil((start%C + n)/C) windows.
    */
  def contextPacking(spark: SparkSession, dir: String,
      capacity: Long = ContextTokens): DataFrame =
    placementRaw(spark, dir, capacity).orderBy("doc_id")

  /** UNSORTED placement relation — building-block form (the
    * survivorsRaw convention): q120 sorts at its edge; q122 re-sorts by
    * (win, doc_id) and must not pay a discarded doc_id range exchange
    * first.
    */
  private def placementRaw(spark: SparkSession, dir: String,
      capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val placed = withExclusivePrefixSum(tokenCounts(spark, dir), "n_toks",
      "start_tok", col("doc_id"))
    windowCols(placed, capacity)
  }

  /** (doc_id, n_toks) — the 16-byte/doc relation every packing form
    * sorts; token arrays themselves never move.
    */
  private[graft] def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.rawTokens(spark, dir)
      .select(col("doc_id"),
        coalesce(size(col("toks")), lit(0)).cast("long").as("n_toks"))

  /** The window-geometry projection shared by the one-shot packing and
    * the incremental index: first/last window and span from an already-
    * placed (n_toks, start_tok) row.
    */
  private def windowCols(placed: DataFrame, capacity: Long): DataFrame =
    placed
      .select(col("doc_id"), col("n_toks"), col("start_tok"),
        expr(s"start_tok div $capacity").as("first_win"),
        when(col("n_toks") > lit(0L),
          expr(s"(start_tok + n_toks - 1) div $capacity"))
          .otherwise(expr(s"start_tok div $capacity")).as("last_win"))
      .withColumn("n_windows",
        when(col("n_toks") > lit(0L),
          col("last_win") - col("first_win") + lit(1L)).otherwise(lit(0L)))

  /** q122 — the WINDOW-grain inverse of q120's placement: one row per
    * (window, document) segment — which slice of which doc fills which
    * part of which context window, with head/tail flags. This is the
    * composition map a data loader and an attention-mask builder
    * actually consume (q120 answers "where did doc d go"; this answers
    * "what is window w made of"), and the is_head/is_tail flags price
    * the cross-document attention fragmentation per window.
    *
    * Pure map-side derivation from the placement relation: explode each
    * doc's [first_win, last_win] span (per-doc bounded — a doc
    * contributes exactly n_windows rows) and compute the segment
    * geometry with integer min/max arithmetic; empty docs occupy
    * nothing and contribute no rows. Output is Σ n_windows rows ≈
    * |docs| + |windows| — linear in the corpus, and the only exchange
    * is the edge sort. Invariants pinned by PackingSpec: per-doc
    * segment lengths re-sum to n_toks; per-window lengths sum to the
    * window capacity (except the final partial window); win_off slots
    * abut within every window.
    */
  def windowSegments(spark: SparkSession, dir: String,
      capacity: Long = ContextTokens): DataFrame =
    segmentsOf(placementRaw(spark, dir, capacity), capacity)
      .orderBy("win", "doc_id")

  /** The map-side segment explosion shared by every window-segment form
    * (one-shot q122, stored-index q123, per-batch rung): `placed` must
    * carry (doc_id, n_toks, start_tok, first_win, last_win) computed at
    * the SAME `capacity` — the window ids were fixed when the placement
    * was derived, so a mismatched capacity here would silently shear the
    * segment geometry off the stored window grid.
    */
  private[graft] def segmentsOf(placed: DataFrame, capacity: Long): DataFrame = {
    val winStart = col("win") * capacity
    val segFrom = greatest(winStart, col("start_tok"))
    val segTo = least(winStart + capacity, col("start_tok") + col("n_toks"))
    placed.filter(col("n_toks") > 0)
      .select(col("doc_id"), col("n_toks"), col("start_tok"),
        col("first_win"), col("last_win"),
        explode(sequence(col("first_win"), col("last_win"))).as("win"))
      .select(col("win"), col("doc_id"),
        (segFrom - col("start_tok")).as("doc_off"),
        (segFrom - winStart).as("win_off"),
        (segTo - segFrom).as("seg_len"),
        when(col("win") === col("first_win"), lit(1L)).otherwise(lit(0L))
          .as("is_head"),
        when(col("win") === col("last_win"), lit(1L)).otherwise(lit(0L))
          .as("is_tail"))
  }

  /** The per-(session, dir) STORED placement relation — an INDEX ARTIFACT
    * (CLAUDE.md cache taxonomy): the committed q121-layout index a
    * deployment maintains incrementally, bootstrapped here once per
    * (session, dir) at a dedicated `-stored` path (so q121's per-run
    * wipe-and-rebuild round-trip never races it) and kept resident as the
    * doc-grain placement columns. Everything a loader derives — q123's
    * window-segment map, the per-batch extension — reads THIS relation,
    * never a corpus re-sort.
    *
    * The stored artifact's window capacity is FIXED at [[ContextTokens]]
    * (advice r19): the bootstrap writes it into the sidecar, and every
    * consumer ([[windowSegmentsFromIndex]],
    * [[graft.Pipeline.materializePacked]]) derives geometry at that same
    * value — none takes a capacity parameter, because a different value
    * can never match the committed grid (requireIndexCapacity would
    * throw). A deployment that needs another capacity builds its OWN
    * index via updatePackingIndex(..., capacity) and consumes it through
    * the explicit-path forms (windowSegmentsForBatch,
    * materializePackedFrom, appendPackedShards), which thread capacity
    * and verify it against the sidecar.
    */
  private[graft] val placementCache = Artifact.relation("Packing.placementCache",
    Artifact.Index, (key, df) => { deleteStoredPlacementFor(key); Artifact.release(df) })

  def storedPlacement(spark: SparkSession, dir: String): DataFrame =
    placementCache(spark, dir) {
      val path = PackingIndexPath(spark, dir) + "-stored"
      if (readState(spark, path).isEmpty)
        updatePackingIndex(spark, tokenCounts(spark, dir), path)
      readPackingIndex(spark, path)
        .select("doc_id", "n_toks", "start_tok", "first_win", "last_win",
          "n_windows")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** q123 — the q122 window-segment map derived from the STORED q121
    * placement artifact instead of a per-run corpus re-sort (VERDICT r17
    * item 1): at 100 TB the loader's composition map must come from the
    * committed placement index — the corpus's token counts were sorted
    * once, at ingest, and every later consumer explodes the stored
    * 48-byte/doc rows map-side. Oracle: the SAME SQL as q122 (the
    * one-shot recompute), so a green hash proves stored-derived segments
    * ≡ one-shot segments through the index's storage round-trip.
    * Geometry is the stored artifact's fixed [[ContextTokens]] capacity
    * (see [[storedPlacement]]) — verified against the sidecar, never
    * parameterized (advice r19: a capacity parameter here could only
    * ever throw).
    */
  def windowSegmentsFromIndex(spark: SparkSession, dir: String): DataFrame = {
    val p = storedPlacement(spark, dir) // bootstraps the index if absent
    requireIndexCapacity(spark, PackingIndexPath(spark, dir) + "-stored",
      ContextTokens)
    segmentsOf(p, ContextTokens).orderBy("win", "doc_id")
  }

  /** Window segments of ONE stored batch — the O(batch) incremental form
    * a loader uses after an append: the read is pruned to the `batch=N`
    * dir (partition-column filter), so extending the composition map
    * costs the new batch's segment explosion, never a corpus pass
    * (ScaleSmoke's q121 rung times it flat across replications). Segments
    * are complete for every doc IN the batch: a window shared with the
    * previous batch's tail appears with the new docs' segments only —
    * the earlier segments are already in the previous batches' maps.
    */
  def windowSegmentsForBatch(spark: SparkSession, path: String, batch: Long,
      capacity: Long = ContextTokens): DataFrame = {
    requireIndexCapacity(spark, path, capacity)
    segmentsOf(readPackingIndex(spark, path).filter(col("batch") === batch),
      capacity)
      .orderBy("win", "doc_id")
  }

  /** Guard every stored-derived segment/shard form: the window grid was
    * fixed when the placement was written, so a consumer's `capacity`
    * must equal the sidecar's recorded build capacity (legacy sidecars
    * without the field skip the check — review r18).
    */
  private[graft] def requireIndexCapacity(spark: SparkSession, path: String,
      capacity: Long): Unit =
    readState(spark, path).foreach(st =>
      require(st.capacity < 0L || st.capacity == capacity,
        s"stored packing index at $path was built at capacity " +
          s"${st.capacity}, not $capacity — the segment geometry would shear"))

  // ------------------------------------------------------------------
  // The INCREMENTAL packing index (round 17, VERDICT r16 item 4): a real
  // 100 TB pipeline appends an ingest batch and extends the placement map
  // WITHOUT re-sorting the corpus — the q114/q116 stored-index posture
  // applied to packing. The stored artifact is the placement relation
  // partitioned by ingest batch (`<path>/batch=N/`) plus a tiny state
  // sidecar carrying (next batch number, committed token total, max
  // doc_id); an append sorts ONLY the new batch and seeds its prefix sum
  // from the committed total, so the work and the write are both
  // O(batch) — bootstrap linear, append flat (rung in ScaleSmoke).
  //
  // Contracts: batches are doc_id-MONOTONE (every appended doc_id >
  // every stored one — the append-only ingest-id regime packing's
  // deterministic corpus order comes from; violations throw rather than
  // silently corrupt placement) and ONE writer at a time (the chunk
  // index's rule). Crash safety: the state sidecar is written only
  // AFTER a batch's parquet commits, and a batch write is an overwrite
  // of its own `batch=N` dir — replaying a crashed append rewrites the
  // same rows and re-commits the same state, so the recovery is "run
  // the same append again" (idempotent at the job level).
  // ------------------------------------------------------------------

  /** State sidecar: "<nextBatch> <totalTokens> <maxDocId> <lastMinDoc>
    * <lastSeedTok> <lastCount> <lastTokSum> <capacity>" — fields 4–5 are the LAST
    * committed batch's min doc_id and its prefix-sum seed, which is what
    * lets an exactly-redelivered batch (a streaming restart replaying its
    * un-checkpointed micro-batch) be recognized and replayed idempotently
    * instead of rejected by the monotonicity check; fields 6–7 are that
    * batch's row count and token sum, required to MATCH before the replay
    * arm is taken (advice r17: endpoints alone would let a different batch
    * that merely shares the last batch's doc_id range — an upstream
    * dedup/filter change between attempts — silently overwrite committed
    * placement); field 8 is the window capacity the placement was BUILT
    * at — appends and every stored-derived segment/shard form must match
    * it (the window grid was fixed at write time; a mismatched capacity
    * would silently shear segment geometry — review r18). Legacy shorter
    * sidecars read with the affected guards disabled (-1 sentinels).
    */
  private val StateFile = "_graft_packing_state"

  private case class IndexState(nextBatch: Long, totalToks: Long,
      maxDoc: Long, lastMinDoc: Long, lastSeedTok: Long,
      lastCount: Long = -1L, lastTokSum: Long = -1L, capacity: Long = -1L)

  private def statePath(path: String) =
    new org.apache.hadoop.fs.Path(path, StateFile)

  private def readState(spark: SparkSession,
      path: String): Option[IndexState] = {
    val p = statePath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val parts =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.split("\\s+")
        finally in.close()
      Some(IndexState(parts(0).toLong, parts(1).toLong, parts(2).toLong,
        // legacy 3-field sidecars (pre-streaming-twin) read with the
        // replay arm disabled; legacy 5-field ones (pre-r18) with the
        // replay IDENTITY check disabled
        if (parts.length >= 5) parts(3).toLong else -1L,
        if (parts.length >= 5) parts(4).toLong else -1L,
        if (parts.length >= 7) parts(5).toLong else -1L,
        if (parts.length >= 7) parts(6).toLong else -1L,
        if (parts.length >= 8) parts(7).toLong else -1L))
    }
  }

  /** The sidecar's exact serialized form — shared by [[writeState]] and
    * the compaction staging epoch, so the epoch's freshness comparison is
    * field-for-field the replay-identity check, never a subset of it.
    */
  private def stateLine(st: IndexState): String =
    s"${st.nextBatch} ${st.totalToks} ${st.maxDoc} ${st.lastMinDoc} " +
      s"${st.lastSeedTok} ${st.lastCount} ${st.lastTokSum} ${st.capacity}"

  private def writeState(spark: SparkSession, path: String,
      st: IndexState): Unit = {
    val p = statePath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      stateLine(st).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Bootstrap-or-append one ingest batch of (doc_id, n_toks) rows into
    * the stored placement index at `path`. Returns the batch's manifest
    * counts. An EMPTY batch is a no-op (no batch dir, no state change) —
    * an idempotent replayed micro-batch costs zero index I/O.
    */
  def updatePackingIndex(spark: SparkSession, counts: DataFrame,
      path: String, capacity: Long = ContextTokens): Map[String, Long] = {
    require(capacity > 0, "capacity must be positive")
    val st = readState(spark, path)
      .getOrElse(IndexState(0L, 0L, -1L, -1L, -1L, -1L, -1L, -1L))
    require(st.capacity < 0L || st.capacity == capacity,
      s"stored packing index at $path was built at capacity " +
        s"${st.capacity}; appending at $capacity would shear the window grid")
    // one bounded aggregate decides empty/monotone/replay before any write
    val stats = counts.agg(count(lit(1)), min("doc_id"), max("doc_id"),
      coalesce(sum("n_toks"), lit(0L))).head()
    val n = stats.getLong(0)
    if (n == 0L)
      return Map("batch" -> st.nextBatch, "docs_added" -> 0L,
        "tokens_added" -> 0L, "total_tokens_after" -> st.totalToks)
    val (minDoc, maxDoc, tokSum) =
      (stats.getLong(1), stats.getLong(2), stats.getLong(3))
    // exact redelivery of the LAST committed batch (same doc_id range AND
    // same row count + token sum — advice r17: the endpoints alone would
    // accept an impostor batch whose interior rows changed) — a streaming
    // restart replaying its un-checkpointed micro-batch, or a crashed
    // append whose sidecar write was lost being rerun after the NEXT
    // reader already advanced it: rewrite that batch's dir from its
    // recorded seed and re-commit the same state. A batch sharing only the
    // endpoints, or any other non-monotone batch, is a corruption risk and
    // throws.
    val (batch, seedTok) =
      if (minDoc > st.maxDoc) (st.nextBatch, st.totalToks)
      else if (minDoc == st.lastMinDoc && maxDoc == st.maxDoc &&
          st.nextBatch > 0L) {
        if (st.lastCount >= 0L && (n != st.lastCount || tokSum != st.lastTokSum))
          throw new IllegalArgumentException(
            s"packing index replay rejected: batch [$minDoc, $maxDoc] " +
              s"matches the last committed batch's doc_id endpoints but " +
              s"not its identity (count $n vs ${st.lastCount}, tokens " +
              s"$tokSum vs ${st.lastTokSum}) — an upstream change between " +
              s"delivery attempts; repack from the previous batch instead " +
              s"of overwriting committed placement")
        (st.nextBatch - 1L, st.lastSeedTok)
      } else throw new IllegalArgumentException(
        s"packing index append must be doc_id-monotone: batch " +
          s"[$minDoc, $maxDoc] vs stored max ${st.maxDoc} (last batch " +
          s"started at ${st.lastMinDoc})")
    val placed = windowCols(
      withSeededPrefixSum(counts, "n_toks", "start_tok", seedTok,
        col("doc_id")), capacity)
    placed.write.mode("overwrite").parquet(s"$path/batch=$batch")
    writeState(spark, path,
      IndexState(batch + 1L, seedTok + tokSum, maxDoc, minDoc, seedTok,
        n, tokSum, capacity))
    Map("batch" -> batch, "docs_added" -> n, "tokens_added" -> tokSum,
      "total_tokens_after" -> (seedTok + tokSum))
  }

  /** The full stored placement relation (+ its `batch` partition column,
    * LONG). An index with no committed batches reads as an empty,
    * correctly-typed relation. Reads are gated to `batch < nextBatch`
    * (advice r17): partition discovery would otherwise surface an
    * orphaned `batch=N` dir — a crash after the parquet commit but before
    * the sidecar write, with the documented replay's overwrite possibly
    * in progress — as committed data; the sidecar's nextBatch is the
    * commit point, so uncommitted dirs stay invisible to readers (the
    * filter is a partition-column predicate — pruned at discovery, no
    * data read from the orphan).
    */
  def readPackingIndex(spark: SparkSession, path: String): DataFrame = {
    val schema = "doc_id BIGINT, n_toks BIGINT, start_tok BIGINT, " +
      "first_win BIGINT, last_win BIGINT, n_windows BIGINT"
    readState(spark, path) match {
      case None =>
        spark.read.schema(schema).parquet() // no batches committed
          .withColumn("batch", lit(0L).cast("long")).limit(0)
      case Some(st) =>
        spark.read.option("basePath", path).parquet(path)
          .withColumn("batch", col("batch").cast("long"))
          .filter(col("batch") < st.nextBatch)
    }
  }

  /** Doc-grain schema of a stored placement row (no batch column). */
  private val PlacementSchema = "doc_id BIGINT, n_toks BIGINT, " +
    "start_tok BIGINT, first_win BIGINT, last_win BIGINT, n_windows BIGINT"

  /** Fold all committed `batch=N` dirs into ONE `batch=0` dir — the
    * chunk index's compaction applied to the packing index (VERDICT r17
    * item 3): daily appends accumulate a dir per ingest day, and after N
    * days every full read lists N dirs; compaction folds them back to one
    * generation with the PLACEMENT UNCHANGED (PackingSpec proves the
    * doc-grain rows identical before/after) and the sidecar rewritten so
    * later appends chain exactly as before (the folded batch becomes "the
    * last committed batch": replay identity fields cover the whole fold).
    *
    * Contract: a MAINTENANCE-WINDOW op under the index's single-writer
    * rule. Crash safety rides a committed `.compact-staging` anchor (the
    * chunk-index convention): the full placement is staged OUT first, the
    * fold happens, the sidecar commits, and only then is staging dropped —
    * a death at any instant leaves either the original dirs intact (no
    * committed staging → restage fresh) or a committed staging copy that
    * the next compaction call RESUMES from (re-deletes, re-folds,
    * re-commits — idempotent). Readers racing a crashed fold are protected
    * by readPackingIndex's `batch < nextBatch` gate only up to the sidecar
    * commit; like the chunk-index compaction, pause readers for the
    * window.
    */
  def compactPackingIndex(spark: SparkSession, path: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(path + ".compact-staging")
    val anchored = fs.exists(
      new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))
    val epochFile = new org.apache.hadoop.fs.Path(staging,
      "_graft_staging_epoch")
    val st = readState(spark, path)
    // adjudicate a committed anchor BEFORE trusting it (review r18,
    // strengthened r19): staging records an EPOCH — the sidecar's exact
    // serialized line at stage time — and a crashed fold left the current
    // sidecar in exactly one of two states: the PRE-fold line (death
    // before the fold's sidecar commit; committed batch dirs may already
    // be partially destroyed, which is why the sidecar, not the dirs, is
    // the identity) or the POST-fold line fully derivable from the staged
    // rows (death before staging cleanup; re-folding is idempotent).
    // Anything else means the anchor is STALE — a completed fold followed
    // by real appends, or a truncate + re-append sequence; the r18 check
    // compared only (totalToks, maxDoc), which a same-endpoint re-pack
    // could spoof (advice r19) — and adopting it would silently roll the
    // index back. Stale, orphaned (no sidecar) or epoch-less (pre-r19)
    // anchors are deleted and the fold restages fresh.
    val resume = anchored && st.nonEmpty && {
      val cur = stateLine(st.get)
      val fresh = fs.exists(epochFile) && {
        val in = fs.open(epochFile)
        val epoch =
          try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
        def fp(df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)), min("doc_id"), max("doc_id"),
            coalesce(sum("n_toks"), lit(0L)),
            coalesce(sum(col("doc_id") * col("n_toks")), lit(0L)),
            coalesce(sum("start_tok"), lit(0L))).head()
        // BOTH reads are Try-wrapped: the committed read can race a crashed
        // fold's half-deleted batch dirs, and the _SUCCESS-anchored staged
        // parquet can itself be partially corrupt (advice r20) — a failed
        // read means "not fully readable" and adjudicates STALE on that
        // side, never an abort of the adjudication itself
        lazy val a = scala.util.Try(fp(spark.read.schema(PlacementSchema)
          .parquet(staging.toString)))
        lazy val c = scala.util.Try(fp(readPackingIndex(spark, path)))
        def rowsMatch = a.toOption.exists(aa => c.toOption.exists(cc =>
          (0 until 6).forall(i => aa.get(i) == cc.get(i))))
        if (epoch == cur) {
          // the pre-fold sidecar. The epoch alone cannot distinguish a
          // genuine pre-fold crash from a completed fold + truncate +
          // re-append that reproduced the exact 8-field sidecar line with
          // permuted interior rows (advice r19's spoof applied to THIS
          // arm): adjudicate by the rows when they can be read. Committed
          // dirs whose own aggregate matches the sidecar's identity
          // (totalToks, maxDoc) are FULLY READABLE — then the staged copy
          // must fingerprint-match them or it is stale (restage from the
          // committed rows, which are the newer truth). Only when the
          // committed dirs are partially destroyed (a crash mid-deletion
          // or mid-batch=0-write: the aggregate can't reproduce the
          // sidecar, or the read itself fails) is the epoch the only
          // remaining identity — exactly the case staging exists for.
          val intact = c.toOption.exists(cc => !cc.isNullAt(1) &&
            cc.getLong(3) == st.get.totalToks &&
            cc.getLong(2) == st.get.maxDoc)
          !intact || rowsMatch
        } else {
          // not the pre-fold sidecar: the only other genuine crash point
          // is AFTER the fold's sidecar commit (before staging cleanup),
          // where the committed index is the complete folded batch=0 —
          // so accept only the exact post-fold state derived from the
          // STAGED rows (all 8 fields, the same strength as the append
          // replay-identity check) AND a content-fingerprint match of
          // staged vs committed (sum(doc_id·n_toks), sum(start_tok)):
          // the sidecar cannot see interior placement, so a truncate +
          // re-append restoring every identity field with permuted
          // per-doc counts (advice r19's spoof) is caught only by
          // comparing the rows themselves
          a.toOption.exists(aa => !aa.isNullAt(1) &&
            cur == stateLine(IndexState(1L, aa.getLong(3),
              aa.getLong(2), aa.getLong(1), 0L, aa.getLong(0), aa.getLong(3),
              st.get.capacity))) && rowsMatch
        }
      }
      if (!fresh) fs.delete(staging, true)
      fresh
    }
    if (anchored && st.isEmpty) fs.delete(staging, true) // index was wiped
    if (!resume) {
      if (st.isEmpty || st.get.nextBatch <= 1L)
        return Map("batches_folded" -> st.map(_.nextBatch).getOrElse(0L),
          "docs" -> -1L, "recovered" -> 0L) // empty or single-batch: no-op
      readPackingIndex(spark, path)
        .select("doc_id", "n_toks", "start_tok", "first_win", "last_win",
          "n_windows")
        .write.mode("overwrite").parquet(staging.toString)
      // the staging epoch: the sidecar AS OF staging, written after the
      // parquet commit — a crash in between leaves an anchored-but-
      // epoch-less staging that the adjudication above treats as stale
      // (restaged fresh; only redone work, never rollback)
      val eo = fs.create(epochFile, true)
      try eo.write(stateLine(st.get)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally eo.close()
    }
    val staged = spark.read.schema(PlacementSchema).parquet(staging.toString)
    // the folded batch's identity fields, from the STAGED copy (always
    // correct on resume, whether or not the fold's sidecar write landed)
    val s = staged.agg(count(lit(1)), min("doc_id"), max("doc_id"),
      coalesce(sum("n_toks"), lit(0L))).head()
    val (n, minDoc, maxDoc, tokSum) =
      (s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3))
    val folded = st.map(_.nextBatch).getOrElse(-1L)
    fs.listStatus(p).filter(_.getPath.getName.startsWith("batch="))
      .foreach(d => fs.delete(d.getPath, true))
    staged.write.mode("overwrite").parquet(s"$path/batch=0")
    writeState(spark, path,
      IndexState(1L, tokSum, maxDoc, minDoc, 0L, n, tokSum,
        st.map(_.capacity).getOrElse(-1L)))
    fs.delete(staging, true)
    Map("batches_folded" -> folded, "docs" -> n,
      "recovered" -> (if (resume) 1L else 0L))
  }

  /** Rewind the index to its first `keepBatches` committed batches — the
    * re-pack entry point for NON-MONOTONE ingest (VERDICT r17 item 3):
    * updatePackingIndex THROWS on a late batch (doc_ids at or below the
    * stored max) rather than corrupt placement; the recovery is to
    * truncate back to the last batch that wholly precedes the late data,
    * then re-append everything from there in doc_id order:
    *
    *  1. find K = the first stored batch containing any doc_id ≥ the late
    *     batch's min (one bounded per-batch aggregate over the index);
    *  2. BEFORE truncating, MATERIALIZE the tail's token counts out of the
    *     index (batches ≥ K hold exactly (doc_id, n_toks) — no corpus
    *     re-tokenize needed): stage them to a temp path or localCheckpoint
    *     the read — truncation deletes the very dirs a lazy plan over the
    *     tail would read (the self-overwrite trap);
    *  3. truncate to K, union the late rows into the staged tail, and
    *     re-append the merged, doc_id-sorted counts; placement is then
    *     bit-identical to packing the corrected corpus one-shot
    *     (PackingSpec executes this exact procedure).
    *
    * Crash safety: the NEW sidecar commits FIRST — from that instant the
    * doomed `batch ≥ keepBatches` dirs are invisible to every reader
    * (the `batch < nextBatch` gate), so the deletions that follow are
    * cleanup, not correctness, and the next append simply overwrites
    * `batch=keepBatches` (the replay-overwrite discipline). Truncating to
    * 0 resets to the bootstrap state (sidecar removed).
    */
  def truncatePackingIndex(spark: SparkSession, path: String,
      keepBatches: Long): Map[String, Long] = {
    require(keepBatches >= 0, "keepBatches must be >= 0")
    val st = readState(spark, path).getOrElse(
      return Map("batches_kept" -> 0L, "batches_dropped" -> 0L))
    if (keepBatches >= st.nextBatch)
      return Map("batches_kept" -> st.nextBatch, "batches_dropped" -> 0L)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (keepBatches == 0L) {
      fs.delete(statePath(path), false)
    } else {
      // kept-prefix identity from the stored rows: the last kept batch's
      // seed (min start_tok), count, token sum, min/max doc — bounded
      // aggregates over the partition-pruned kept read
      val kept = spark.read.option("basePath", path).parquet(path)
        .withColumn("batch", col("batch").cast("long"))
        .filter(col("batch") < keepBatches)
      val last = kept.filter(col("batch") === keepBatches - 1L)
        .agg(count(lit(1)), min("doc_id"), min("start_tok"),
          coalesce(sum("n_toks"), lit(0L))).head()
      val (lc, lmin, lseed, lsum) =
        (last.getLong(0), last.getLong(1), last.getLong(2), last.getLong(3))
      val mx = kept.agg(max("doc_id")).head().getLong(0)
      writeState(spark, path,
        IndexState(keepBatches, lseed + lsum, mx, lmin, lseed, lc, lsum,
          st.capacity))
    }
    // cleanup: from here the dropped dirs are already invisible
    fs.listStatus(p).filter { d =>
      val nm = d.getPath.getName
      nm.startsWith("batch=") &&
        nm.stripPrefix("batch=").toLongOption.exists(_ >= keepBatches)
    }.foreach(d => fs.delete(d.getPath, true))
    Map("batches_kept" -> keepBatches,
      "batches_dropped" -> (st.nextBatch - keepBatches))
  }

  /** Where the q121 round-trip keeps its per-(session, dir) index —
    * the ChunkIndexPath convention.
    */
  def PackingIndexPath(spark: SparkSession, dir: String): String =
    org.apache.spark.sql.GraftBridge
      .sessionDirPath("graft-packing-index", spark, dir)

  /** Delete one (session, dir) `-stored` bootstrap from DISK — part of
    * [[placementCache]]'s free, called with the entry's key
    * ("<sessionKey>#<dir>"): dropping the cached read alone is not enough,
    * because the next [[storedPlacement]] call would adopt the on-disk
    * index built from the dir's OLD contents after an in-place rewrite
    * (review r18 — the clearDir contract is "must not read stale
    * entries", and the on-disk index outlives the cached read).
    */
  private[graft] def deleteStoredPlacementFor(key: String): Unit = {
    val i = key.indexOf('#')
    if (i > 0) {
      val p = new org.apache.hadoop.fs.Path(
        org.apache.spark.sql.GraftBridge.sessionDirPathFor(
          "graft-packing-index", key.substring(0, i),
          key.substring(i + 1)) + "-stored")
      val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      fs.delete(p, true)
      ()
    }
  }

  /** Wipe a stored packing index — forces the bootstrap path. */
  def deletePackingIndex(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }

  /** q121 — the incremental-packing round-trip as an oracle-checked
    * query: wipe, bootstrap the index from the first third of the doc_id
    * range, append the middle and last thirds (two O(batch) appends
    * seeded from the committed totals), then summarize the STORED
    * placement relation per batch with integer-exact digests (doc/token
    * counts, start-offset sum, window-span sum, min/max doc). The oracle
    * recomputes the summary INDEPENDENTLY from the one-shot full prefix
    * sum over the documents table — a green hash proves
    * bootstrap+append+append lands bit-identical placement to packing
    * the whole corpus at once (the batch/delta equivalence), through the
    * storage round-trip.
    */
  def packingIndexSummary(spark: SparkSession, dir: String,
      capacity: Long = ContextTokens): DataFrame = {
    val path = PackingIndexPath(spark, dir)
    deletePackingIndex(spark, path)
    val counts = tokenCounts(spark, dir)
    // bounded driver scalar (one MAX row) — same class as the manifest
    // counts; null on an empty corpus → all three batches are empty
    // no-ops and the summary is the empty relation
    val mxRow = counts.agg(max("doc_id")).head()
    val mx = if (mxRow.isNullAt(0)) -1L else mxRow.getLong(0)
    val (t1, t2) = (mx / 3, 2 * mx / 3)
    updatePackingIndex(spark, counts.filter(col("doc_id") <= t1), path, capacity)
    updatePackingIndex(spark,
      counts.filter(col("doc_id") > t1 && col("doc_id") <= t2), path, capacity)
    updatePackingIndex(spark, counts.filter(col("doc_id") > t2), path, capacity)
    readPackingIndex(spark, path)
      .groupBy("batch")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"),
        sum("n_toks").as("tok_sum"),
        sum("start_tok").as("start_sum"),
        max(col("start_tok") + col("n_toks")).as("end_max"),
        sum("n_windows").as("win_sum"))
      .orderBy("batch")
  }
}
