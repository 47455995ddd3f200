package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.start(cpus)
    // HOST-SPEED CALIBRATION PROBE (round 13): a fixed synthetic workload —
    // pure CPU over all cores, no I/O, no caches, no shuffle — timed before
    // the first pass and after every pass, emitted as "calib_cs" in the
    // JSON. On a quiet host it runs at the declared calib floor (the one
    // driftcheck.py reads); on a contended host it scales with the load the
    // timed queries also see, so driftcheck.py can divide per-query ratios
    // by a MEASURED multiplier instead of inferring one circularly from
    // the suite itself (VERDICT r12 item 1a — this round's perf verdict
    // hinged on untangling a ~3x driver-host multiplier from regression
    // with only indirect instruments).
    // min-of-2: a single sample right after a pass can absorb that pass's
    // deferred GC (a one-off pause, not host slowness — measured 0.14 s
    // pre-pass vs 0.45–0.51 s post-pass on a quiet host at 1/4 this work
    // size); sustained external contention slows BOTH runs, which is the
    // signal the probe exists to carry.
    def calibrate(): Double = Seq.fill(2) {
      val t0 = System.nanoTime()
      spark.range(0L, 2048000000L, 1L, 64)
        .selectExpr("sum(id * 2654435761L % 1000003)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    val calibs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Warmup, timed separately: materialize every shared persisted relation
    // and touch each table once, so the timed loop measures per-query work —
    // not session/scan warmup or first-touch cache fills that would
    // otherwise land on whichever query sorts first (q01 absorbed ~7 s of
    // it in round 1). Reported as "warmup_sec" in the JSON.
    val w0 = System.nanoTime()
    // a broken warmup step must not abort the bench before the JSON line:
    // the timed loop below will surface the same breakage as -1 + failures
    val warmupFailed = new java.util.concurrent.atomic.AtomicInteger(0)
    def warmupFailures = warmupFailed.get()
    def warm(f: => Long): Unit =
      try { f; () } catch { case e: Throwable =>
        warmupFailed.incrementAndGet()
        System.err.println(s"[bench] warmup step failed: ${e.getMessage}")
      }
    // A wave runs its steps CONCURRENTLY (Spark's scheduler interleaves
    // jobs from multiple threads; local[32] has the slack). Artifact fills
    // are single-flight per key, so steps may share or depend on keys in
    // any order: a step that needs an artifact another step is building
    // waits for that build.
    // per-leg durations are recorded and emitted ("warmup_waves_cs": the
    // INDEX fill, then the sweep) so a contended driver host's warmup
    // inflation is attributable per leg — BENCH_r12's warmup ran 69.5 s vs
    // 18.1–19.6 s on quiet runs and the only instrument was the
    // undifferentiated total (VERDICT r12 item 3)
    val waveDurations = scala.collection.mutable.ArrayBuffer.empty[Double]
    def wave(steps: Seq[() => Long]): Unit = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      val t0 = System.nanoTime()
      // the Await itself must honor the same invariant as warm(): a HUNG
      // warmup step (timeout) may not abort the bench before the JSON
      // line — count it and move on; the timed loop surfaces the breakage
      try Await.result(
        Future.sequence(steps.map(s => Future(warm(s())))), 15.minutes)
      catch { case e: java.util.concurrent.TimeoutException =>
        warmupFailed.incrementAndGet()
        System.err.println(s"[bench] warmup wave timed out: ${e.getMessage}")
      }
      waveDurations += (System.nanoTime() - t0) / 1e9
      ()
    }
    // The sweep (round 15) is GENERIC: it executes EVERY queries entry
    // once through the exact bench protocol (noop sink, timed passes'
    // name order), replacing rounds 10–14's per-plan pre-fill waves.
    // Those converged locally every round and then the driver host paid
    // first-touch in DIFFERENT slots each time (r13: 7 entries; r14: 14
    // entries in NEW slots, ~36 s — VERDICT r14 item 2: "the per-plan
    // prefill whack-a-mole doesn't converge on a contended host"). The
    // sweep compiles every plan the timed passes will run, by
    // construction — there is no slot it can miss. Emitted as the last
    // "warmup_waves_cs" entry; clearResultMemos below evicts
    // every detection result the sweep computed, so the timed cold pass
    // still re-pays each query's full per-query work, minus only
    // JIT/codegen/first-touch — which is exactly what warmup_sec is for.
    // Round 16: the sweep is (a) INSTRUMENTED — r15's wave 3 cost 392.8 s
    // on the driver host (~3–4× quiet) with no per-slot evidence, and that
    // unmeasured pressure window was the round's leading q102 hypothesis
    // (VERDICT r15 items 1/4) — each step's wall clock is recorded, with
    // the top-8 emitted; and (b) BOUNDED — the replaced wave() helper
    // capped a hung step at 15 minutes, the first sweep cut didn't
    // (advice r15), so one hang stalled the bench before the JSON line.
    // Per-step bound 10 min under a 30-min whole-sweep deadline (quiet
    // cost ≈ 105–130 s; the r15 driver paid 393 s).
    // Round 17 (VERDICT r16 item 3): the sweep runs at the SMALLEST
    // available scale factor, not the target dir. Its remaining job after
    // the INDEX fill is plan compilation — Spark's codegen cache keys on the
    // generated source BODY (and the compiling thread's class loader),
    // which is identical across input dirs of the same schema, so a
    // sf0.001 execution JITs the exact classes the timed sf0.1 passes run
    // — but only because Sessions.CodegenCacheEntries exceeds the suite's
    // distinct-class count; at Spark's default cap of 100 the sweep's
    // classes were evicted long before the timed passes ran. The data
    // cost collapses meanwhile (~110–120 s quiet → tiny-dir cost; r16
    // measured the top-8 steps at ~50 s of pure result recomputation that
    // clearResultMemos evicted anyway).
    // Residual cold-pass exposure — AQE picking different join physicals
    // at the tiny scale and codegen'ing a variant — is bounded and
    // visible: cold_sparse plus the index_fills_post_warmup count below.
    // Falls back to the target dir when the tiny dir is absent.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    // canonical-path compare: a trailing-slash or symlink spelling of the
    // target dir must select the SEQUENTIAL same-dir arm, whose name order
    // lands each shared-memo fill on the consumer the timed passes charge
    def canon(p: String) =
      try new java.io.File(p).getCanonicalPath catch { case _: Throwable => p }
    val sweepDir =
      if (new java.io.File(warmDir).isDirectory && canon(warmDir) != canon(sfDir))
        warmDir
      else sfDir
    // START-OF-RUN PROBE (r20): one discarded calibrate() pays the probe's
    // JIT, the second is the measurement (~1 s inside warmup_sec). Emitted
    // as warmup_probe_cs so it and calib[0] bracket the warmup window for
    // driftcheck's warmup-floor protocol.
    val startProbe: Double = { calibrate(); calibrate() }
    // SWEEP WIDTH is the constant 8 (r20, verdict r19 item 1): the "pool
    // self-contends under external load" hypothesis for the driver's
    // 141.9 s r19 warmup was A/B'd at widths 8/4/2 under burner-thread
    // contention at measured calib multipliers ~1.0×/2.3×/3.2× and
    // REFUTED: width 8 won every regime (quiet 34.6/40.2/52.1 s; 2.3×
    // 44.2/46.3/56.0; 3.2× 58.6/62.6/70.8 — the round-20 notes). Warmup
    // inflation under contention is sub-linear at full width.
    val sweepWidth = 8
    val sweepStats = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    @volatile var sweepSecs = 0.0
    def runSweep(): Unit = {
      val w3 = System.nanoTime()
      val sweepDeadline = w3 + 30L * 60 * 1000 * 1000 * 1000
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      // the sweep itself: a WORK-STEALING pool of 8 workers over the
      // alphabetical query list (r19, verdict r18 item 6) — the r18 form
      // ran grouped(8) barriers, and the handful of multi-second steps
      // (q115/q116's stored-index builds at the tiny dir) each stalled
      // their whole group: measured 59 s wall for ~16 s of critical path.
      // A queue keeps every worker busy until the list drains; a hung
      // step now blocks ONE worker (the deadline check stops the rest of
      // the queue, and the outer 35-min Await still guards a wedged
      // runtime before the JSON line). Sequential when sweeping the
      // target dir (fallback): one worker preserves the alphabetical
      // shared-memo landing the timed passes charge.
      val sweepPar = if (sweepDir != sfDir) sweepWidth else 1
      val queue = new java.util.concurrent.ConcurrentLinkedQueue[
        (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
      // longest-steps-first in the PARALLEL arm (r19): the stored-index /
      // artifact builders are the sweep's multi-second steps even at the
      // tiny dir (they wipe + rebuild on-disk state by design — measured
      // top-8 every round: q112/q114/q115/q116/q121/q124 + the ANN and
      // BPE rungs); enqueued first, the pool never ends on one straggler
      // (LPT: makespan -> max(sum/8, longest step)). Ordering is FREE
      // here — memo landing only matters in the sequential same-dir
      // fallback, which keeps pure alphabetical order via sweepPar=1 and
      // an unsorted-by-weight queue.
      Bench.sweepOrder(sweepPar).foreach(queue.add)
      val workers = (1 to sweepPar).map { _ =>
        Future {
          var step = queue.poll()
          while (step != null) {
            if (System.nanoTime() >= sweepDeadline) {
              // blown deadline: skip (and count) — the timed passes will
              // surface whatever the sweep left unfilled, and a nonzero
              // warmup_failures marks the round as warmup-degraded
              warmupFailed.incrementAndGet()
              System.err.println(
                s"[bench] warmup sweep skipped ${step._1}: deadline")
            } else {
              val (name, fn) = step
              val t0 = System.nanoTime()
              warm {
                fn(spark, sweepDir).write.mode("overwrite").format("noop")
                  .save(); 0L
              }
              val secs = (System.nanoTime() - t0) / 1e9
              sweepStats.synchronized { sweepStats += (name -> secs) }
            }
            step = queue.poll()
          }
        }
      }
      // bound the workers to the sweep deadline plus a grace period for
      // in-flight steps, so the whole runSweep worst case stays under the
      // outer 35-min wedge guard
      val workerBudget =
        ((sweepDeadline - System.nanoTime()).max(0L).nanos + 3.minutes)
          .min(30.minutes)
      try Await.result(Future.sequence(workers), workerBudget)
      catch { case e: java.util.concurrent.TimeoutException =>
        // abandoned workers keep running, so sweepStats stays lock-guarded
        // and is snapshotted before any read below
        warmupFailed.incrementAndGet()
        System.err.println(s"[bench] warmup sweep wedged: ${e.getMessage}")
      }
      sweepSecs = (System.nanoTime() - w3) / 1e9
    }
    // Round 18 (VERDICT r17 item 5): the tiny-dir sweep OVERLAPS the INDEX
    // fill instead of following it — every graft cache keys on (session,
    // dir), so the sweep's sf0.001 keys (and its /tmp index paths, which
    // carry the dir hash) are disjoint from the target dir's. Warmup wall
    // becomes max(fill, sweep) + calib, not their sum (r17: 87 s raw =
    // ~20 s waves + ~66 s sweep; overlapped ≈ the sweep leg alone). The
    // same-dir fallback arm runs after the fill, sequentially.
    val sweepFuture: Option[scala.concurrent.Future[Unit]] =
      if (sweepDir != sfDir) {
        import scala.concurrent.{ExecutionContext, Future}
        implicit val ec: ExecutionContext = ExecutionContext.global
        Some(Future(runSweep()))
      } else None
    wave(Bench.indexFills(spark, sfDir))
    sweepFuture match {
      case Some(f) =>
        // the sweep bounds itself (workers bounded by the 30-min deadline
        // + 3-min grace); this outer margin only guards a wedged runtime,
        // honoring the same may-not-abort-before-the-JSON-line invariant
        import scala.concurrent.Await
        import scala.concurrent.duration._
        try Await.result(f, 35.minutes)
        catch { case e: java.util.concurrent.TimeoutException =>
          warmupFailed.incrementAndGet()
          System.err.println(s"[bench] overlapped sweep wedged: ${e.getMessage}")
        }
      case None => runSweep()
    }
    // the sweep's own wall stays the last warmup_waves_cs entry — under the
    // overlap the entries do not sum to warmup_sec (they attribute, the
    // headline field measures)
    waveDurations += sweepSecs
    // evict the result memos the sweep just created (BPE merges, cluster
    // labels, verified pairs, kNN rungs): the timed cold pass must still
    // do each query's full per-query work
    Caches.clearResultMemos(spark)
    // the probe's own codegen/JIT is paid here, inside warmup_sec, so the
    // timed calib values below measure host speed only
    calibrate()
    val warmup = (System.nanoTime() - w0) / 1e9
    // cached-storage residency (round 16): MEMORY_AND_DISK index artifacts
    // demoted to disk during a warmup/pass pressure window STAY on disk —
    // every later read re-pays deserialization, the "did more work on
    // untouched code" signature r15's q102 showed. Two samples (post-
    // warmup, post-final-pass) make demotion visible in the JSON.
    def storageMB: Seq[Long] = {
      val inf = spark.sparkContext.getRDDStorageInfo
      Seq(inf.map(_.memSize).sum >> 20, inf.map(_.diskSize).sum >> 20)
    }
    val cachedPostWarmup = storageMB
    // warmup-completeness instrument (round 17): target-dir INDEX-cache
    // keys that exist after the passes but not here were artifacts the
    // warmup failed to prefill — the timed cold pass paid them. Emitted
    // as "index_fills_post_warmup" (0 = Bench.indexFills is complete);
    // names go to stderr for the adjudication trail.
    val idxKeys0 = Caches.indexKeys(spark, sfDir)
    // deterministic name order; a failed query reports -1 (not its wall
    // time) so breakage can never masquerade as a speedup; failure count is
    // surfaced in the JSON.
    // PROTOCOL v2 (round 12): each query materializes EVERY output column
    // through the noop sink instead of count(). A count() terminal lets
    // Catalyst prune the final projection — and sometimes the whole join
    // tree — so projection-heavy queries were priced at a fraction of
    // their real cost (q82 measured 0.3 s counted vs ~2.5 s materialized;
    // q102 0.24 vs 2.47; q79 0.16 vs 1.81 — the round-12 audit notes).
    // The noop sink consumes full rows with no I/O and no type
    // restrictions, pricing the query a consumer actually pays for. The
    // declared denominator and the driver's measurement both run this
    // same protocol, so the gate comparison stays apples-to-apples.
    // Returns (per-query seconds, per-query self-utilization %). The
    // jiffy samples (graft.HostStat) wrap the SAME window the timer
    // wraps, so each util entry measures exactly that timed slot.
    def onePass(): (Seq[(String, Double)], Seq[(String, Int)]) = {
      val rs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val j0 = HostStat.sample()
        val t0 = System.nanoTime()
        val ok = try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
        }
        val secs = (System.nanoTime() - t0) / 1e9
        val j1 = HostStat.sample()
        (name, if (ok) secs else -1.0, HostStat.selfUtilPct(j0, j1))
      }
      (rs.map(r => r._1 -> r._2), rs.map(r => r._1 -> r._3))
    }
    // STEADY-STATE protocol: run the whole suite `passes` times in ONE
    // session and report the LAST pass as the headline numbers. A single
    // cold pass conflates per-query work with JIT/codegen compilation and
    // first-touch cache fills, which made untouched queries drift up to
    // ~3× between rounds; the warm pass is reproducible run-to-run. The
    // cold pass is kept in "queries_cold" so the warm-vs-cold gap stays
    // observable.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt.max(1)
    // Locale-pinned so the decimal separator is always '.'
    def s3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // PASS PROLOGUE (round 13): one untimed sacrificial noop write before
    // each pass's timed loop, so session-wide pass-start work — GC after
    // the memo eviction above, the first noop commit, post-eviction
    // planner state — stops landing in whatever query sorts first.
    // BENCH_r12 charged q01 (a 6-row hash aggregate, floor 0.79 s) 14.7 s
    // in its first slot (VERDICT item 2: the round-1 "q01 absorbed ~7 s"
    // failure mode reappearing INSIDE the timed passes). Deliberately
    // memo-free (a plain scan + tiny agg, no graft caches): real per-query
    // detection work must stay in the timed slots.
    def prologue(): Unit =
      try Tables.load(spark, sfDir, "nation").groupBy("n_regionkey").count()
        .write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] prologue failed: ${e.getMessage}") }
    calibs += calibrate() // pre-pass-1 host-speed sample
    val all = (1 to passes).map { i =>
      // later passes re-do real per-query work (cluster labels are a
      // memoized RESULT, not an index) but keep index-like caches warm
      if (i > 1) Caches.clearResultMemos(spark)
      prologue()
      val r = onePass()
      calibs += calibrate() // post-pass-i host-speed sample
      r
    }
    val cold = all.head._1
    val results = all.last._1
    val warmUtil = all.last._2
    val cachedFinal = storageMB
    val idxFills = Caches.indexKeys(spark, sfDir).diff(idxKeys0)
    if (idxFills.nonEmpty) System.err.println(
      s"[bench] index artifacts filled AFTER warmup (extend Bench.indexFills): " +
        idxFills.toSeq.sorted.mkString(", "))
    val failures = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    val coldTotal = cold.map(_._2).filter(_ >= 0).sum
    // The driver captures only the LAST 2000 chars of output (measured from
    // BENCH_r09's "tail" field) and parses the final {"metric":...} line.
    // Rounds 1-5 recorded parsed:null (maps ahead of the metric line pushed
    // it out of the window); rounds 8-9 then lost the HEAD of the cold map
    // (BENCH_r09 starts mid-q37) because 2-decimal maps + headline ≈ 2.6 KB
    // > 2000. Structural fix: per-query values are INTEGERS with the unit in
    // the map's key — warm (the declared metric) COMPLETE in centiseconds
    // ("bench_warm_pass_cs", 10 ms resolution), cold (diagnostic only)
    // SPARSE in deciseconds ("bench_cold_sparse_ds" — see below; the
    // complete cold map hit the window again at 113 queries, r12) — keys
    // are the qNN prefix WITHOUT the redundant 'q' ("01".."113"), sorted
    // name order. A failed query stays visibly negative
    // (-1 s → -10/-100 ticks).
    def fmtShort(rs: Seq[(String, Double)], ticksPerSec: Int): String = {
      // qNN prefixes must be unique or the JSON object would silently
      // carry duplicate keys and drop a timing
      require(rs.map(_._1.takeWhile(_ != '_')).distinct.size == rs.size,
        "duplicate qNN prefix across query names — bench map would lose a timing")
      rs.map { case (k, v) =>
        "\"" + k.takeWhile(_ != '_').stripPrefix("q") + "\":" +
          math.round(v * ticksPerSec) }
        .mkString("{", ",", "}")
    }
    // The driver archives only the LAST 2000 chars of output; at 113
    // queries the three JSON lines totalled 1,976 — 24 chars of margin,
    // and the next added query would push the cold map's head out of the
    // window. The cold map is diagnostic and cold ≈ warm for most
    // queries, so emit it SPARSE: only entries whose cold is ≥ 2× warm
    // or ≥ 0.5 s above it (the first-touch/JIT signal the cold pass
    // exists to surface) plus failures. Warm — the declared metric —
    // stays complete. ~15 sparse entries ≈ 200 chars leaves room for
    // ~100 more queries before this needs revisiting.
    // Bounded on BOTH axes (review finding): the ratio test alone can
    // flag most of the suite on a contended host (cold ≥ 2× a 50 ms
    // warm is pure JIT noise), reproducing the overflow. An absolute
    // floor ANDed with the ratio, plus a hard top-16-by-gap cap
    // (24 until round 17 — tightened when the 122-query warm map left
    // the must-survive suffix [warm + metric + cold] at the window
    // boundary; BenchEmissionSpec pins the budget), bounds the line
    // regardless of host state; failures always survive the cap (they
    // sort to the top via the +inf gap).
    val warmByName = results.toMap
    val coldSparse = cold.filter { case (k, v) =>
      val w = warmByName.getOrElse(k, 0.0)
      v < 0 || w < 0 || (v >= 2 * w && v - w >= 0.5)
    }.sortBy { case (k, v) =>
      val w = warmByName.getOrElse(k, 0.0)
      if (v < 0 || w < 0) Double.NegativeInfinity else -(v - w)
    }.take(16).sortBy(_._1)
    def pctMap(entries: Seq[(String, Int)]): String = entries.sortBy(_._1)
      .map { case (k, v) =>
        "\"" + k.takeWhile(_ != '_').stripPrefix("q") + "\":" + v }
      .mkString("{", ",", "}")
    // warmup-sweep diagnostics: the 8 most expensive sweep steps' wall
    // clock — r15's 392.8 s driver wave 3 becomes attributable per slot
    // instead of one opaque total. Snapshot under the same lock the sweep
    // futures append with — a timed-out group's abandoned futures may
    // still be running here (advice r17: the unsynchronized sort raced
    // their appends)
    val sweepTop = sweepStats.synchronized(sweepStats.toList)
      .sortBy(-_._2).take(8)
    // COMPLETE warm-pass utilization map, printed FIRST of all JSON lines
    // (round 17, VERDICT r16 item 2): a quiet declaration run needs a util
    // baseline for every query, or a flagged slot's util is unreadable
    // ("q53's 59% util is unreadable without its quiet number"). ~1 KB at
    // 128 queries: the driver's 2000-char tail window truncates from the
    // HEAD, so this line is sacrificed first there — it exists for LOCAL
    // logs, which dev/floors.py folds into the committed quiet-util table
    // that driftcheck reads to label flagged slots mechanically.
    println(s"""{"bench_self_util_all_pct":${pctMap(warmUtil)}}""")
    println(s"""{"warmup_probe_cs":${math.round(startProbe * 100)},"warmup_sweep_top_cs":${fmtShort(sweepTop, 100)}}""")
    // util for the 16 most expensive warm slots, printed just before the
    // must-survive suffix: the complete map above is cut from driver
    // archives, and this ~170-char line is what driftcheck's util labels
    // read there. Chosen from the results alone, so a fresh checkout
    // emits the same line.
    val utilByName = warmUtil.toMap
    val utilTop = results.filter(_._2 >= 0).sortBy(-_._2).take(16)
      .map { case (k, _) => k -> utilByName.getOrElse(k, -1) }
    println(s"""{"bench_self_util_pct":${pctMap(utilTop)}}""")
    println(s"""{"bench_cold_sparse_ds":${fmtShort(coldSparse, 10)}}""")
    println(s"""{"bench_warm_pass_cs":${fmtShort(results, 100)}}""")
    // calib_cs = [pre-pass-1, post-pass-1, …, post-pass-N] probe times in
    // centiseconds; warmup_waves_cs = per-leg warmup durations. Both are
    // integer-valued and ~25 chars each, inside the driver's 2000-char
    // tail window budget (measured 1,147–1,206 of 2,000 at 113 queries).
    def csList(vs: Seq[Double]): String =
      vs.map(v => math.round(v * 100)).mkString("[", ",", "]")
    // "cpus" records the session's ACTUAL local[N] (round 13): the driver's
    // BENCH_rN.json carries its own "cpus":32 metadata, but Bench defaulted
    // to local[4] when SPARK_GRAFT_CPUS is unset — so whether a given run
    // measured 4 or 32 threads was invisible in the output, and a declared
    // denominator could silently be compared against a differently-sized
    // session. Now every timing line states its own parallelism.
    // (quoted if non-numeric — SPARK_GRAFT_CPUS=* is legal for local[*])
    val cpusJson = scala.util.Try(cpus.trim.toInt.toString)
      .getOrElse("\"" + cpus + "\"")
    // cached_mb = [mem, disk] MB of persisted blocks post-warmup then
    // post-final-pass: disk > 0 means index artifacts were demoted under
    // pressure and later reads re-pay deserialization (the r15 q102 tell)
    val cachedJson = (cachedPostWarmup ++ cachedFinal).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${s3(total)},"unit":"sec","failures":$failures,"warmup_sec":${s3(warmup)},"warmup_failures":$warmupFailures,"passes":$passes,"cold_total":${s3(coldTotal)},"calib_cs":${csList(calibs.toSeq)},"warmup_waves_cs":${csList(waveDurations.toSeq)},"cached_mb":$cachedJson,"index_fills_post_warmup":${idxFills.size},"cpus":$cpusJson,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** The warmup's INDEX fill: every INDEX artifact of `dir` plus one scan
    * of each table, run concurrently. Fill order is a performance detail
    * (bases first), not a correctness rule: fills are single-flight per
    * key. ArtifactSpec's INDEX-fill test checks that the list leaves no
    * INDEX artifact unfilled, so the timed cold pass pays none; its
    * exclusions say why an artifact is left out.
    */
  private[graft] def indexFills(spark: SparkSession, dir: String): Seq[() => Long] = {
    import operators._
    Seq[() => Long](
      () => Tables.events(spark, dir).count(),
      () => TokenPipeline.docTokenCounts(spark, dir).count(),
      () => Dedup.shingles(spark, dir).count(),
      () => Similarity.vectorIndex(spark, dir).count(),
      () => TokenPipeline.tokenDictionary(spark, dir).count(),
      () => TokenPipeline.docAggregates(spark, dir).count(),
      () => TextAnalysis.hashSplit(spark, dir).count(),
      () => TextAnalysis.tfidfRaw(spark, dir).count(),
      () => TextAnalysis.rawTokens(spark, dir).count(),
      () => TextAnalysis.bigramCounts(spark, dir).count(),
      () => TextAnalysis.rawTokenCounts(spark, dir).count(),
      () => TextAnalysis.sourceTokens(spark, dir).count(),
      () => TextAnalysis.dsirDocBuckets(spark, dir).count(),
      () => TextAnalysis.dsirWeightTable(spark, dir).count(),
      () => Dedup.shingleDf(spark, dir).count(),
      () => Dedup.minhashSignatures(spark, dir).count(),
      () => Dedup.fingerprints(spark, dir).count(),
      () => if (Dedup.hasVerbatimDups(spark, dir)) 1L else 0L,
      () => Dedup.embeddingRepMap(spark, dir).count(),
      () => Sketches.bloomEvalBits(spark, dir).count(),
      () => Sketches.benchEvalShingles(spark, dir).count(),
      () => Sketches.benchEvalBits(spark, dir).count(),
      () => Sketches.cmsCells(spark, dir).count(),
      () => Packing.storedPlacement(spark, dir).count()) ++
      Seq(16, 32, 64).map(bits => () => Dedup.simhashSignature(spark, dir, bits).count()) ++
      Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "documents", "embeddings").map(t => () => Tables.load(spark, dir, t).count())
  }

  /** The sweep's execution order: longest-steps-first in the parallel
    * arm (r19 LPT — the stored-index / artifact builders are the sweep's
    * multi-second steps even at the tiny dir, enqueued first so the pool
    * never ends on one straggler; makespan → max(sum/W, longest step)),
    * pure alphabetical in the sequential same-dir fallback (ordering IS
    * the shared-memo landing protection there).
    */
  private[graft] def sweepOrder(par: Int): Seq[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    val heavyFirst = Set("q112", "q114", "q115", "q116", "q121", "q124",
      "q105", "q118", "q125", "q126", "q128", "q73", "q79", "q81", "q83",
      "q84")
    val order = SparkEntry.queries.toSeq.sortBy(_._1)
    if (par > 1)
      order.sortBy { case (n, _) =>
        (!heavyFirst.contains(n.split("_").head), n) }
    else order
  }
}
