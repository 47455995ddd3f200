package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Sketches, TextAnalysis}

/** Property tests for the fixed-size sketch operators: the guarantees the
  * sketches are USED for (no false negatives, one-sided error, register
  * mergeability, estimate accuracy) rather than re-deriving the per-row
  * hashes the DuckDB oracle already pins.
  */
class SketchesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.Sf

  test("bloom decontamination never false-negatives vs the exact overlap") {
    val splits = TextAnalysis.hashSplit(spark, sf).select("doc_id", "split")
    val sh = Dedup.shingles(spark, sf)
    val trainSh = sh.join(
      splits.filter($"split" === "train").select("doc_id"), Seq("doc_id"), "left_semi")
    val evalShingles = sh.join(
      splits.filter($"split" =!= "train").select("doc_id"), Seq("doc_id"), "left_semi")
      .select("shingle").distinct()
    val exact = trainSh.join(evalShingles, Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_exact"))
    val bloom = Sketches.bloomDecontamination(spark, sf)
    // a Bloom filter can only over-flag: n_exact ≤ n_flagged ≤ n_shingles
    val falseNeg = bloom.join(exact, Seq("doc_id"), "left")
      .filter($"n_flagged" < coalesce($"n_exact", lit(0L))).count()
    assert(falseNeg === 0)
    assert(bloom.filter($"n_flagged" > $"n_shingles").count() === 0)
    // covers every train doc exactly once, including shingle-less ones
    val nTrain = splits.filter($"split" === "train").count()
    assert(bloom.count() === nTrain)
  }

  test("multi-benchmark bloom: universe, sizing ladder, and per-filter bounds") {
    val multi = Sketches.multiBenchDecontamination(spark, sf)
    val union = Sketches.bloomDecontamination(spark, sf)
    val benches = Sketches.benchBitsHex(spark, sf)
    assert(benches.nonEmpty)
    // universe: every (train doc × benchmark) exactly once
    assert(multi.count() === union.count() * benches.size)
    assert(multi.select("benchmark").distinct().count() === benches.size.toLong)
    // per-benchmark n_shingles is the doc's total (shared across rows)
    assert(multi.join(union.select($"doc_id", $"n_shingles".as("n_u")),
      Seq("doc_id")).filter($"n_shingles" =!= $"n_u").count() === 0)
    assert(multi.filter($"n_flagged" > $"n_shingles").count() === 0)
    // r19 sizing: each benchmark's serialized width is EXACTLY the ladder
    // rung of its distinct-shingle count — and the suite's benchmarks are
    // small enough that every rung sits strictly under the global union
    // m (the memory win sizing exists for)
    val counts = Sketches.benchEvalShingles(spark, sf)
      .groupBy("benchmark").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(counts.keySet === benches.map(_._1).toSet)
    benches.foreach { case (b, hex) =>
      assert(hex.length * 4 === Sketches.sizedBloomBits(counts(b)),
        s"benchmark $b")
      assert(hex.length * 4 < Sketches.BloomBits, s"benchmark $b")
    }
    // each benchmark's bit-set is its shingles' positions folded to its
    // OWN rung: the cached relation round-trips through the serialized
    // blobs exactly (pos space = [0, mbits)); its n_eval column carries
    // the sizing count the build collected (q128 reads it from here)
    val rel = Sketches.benchEvalBits(spark, sf)
      .select("benchmark", "mbits", "pos")
      .as[(String, Int, Long)].collect()
    val nEval = Sketches.benchEvalBits(spark, sf)
      .select("benchmark", "n_eval").distinct()
      .as[(String, Long)].collect().toMap
    assert(nEval === counts, "the cached n_eval must equal the live count")
    rel.groupBy(_._1).foreach { case (b, rows) =>
      val m = rows.head._2
      assert(rows.forall(_._2 == m), s"one rung per benchmark: $b")
      assert(rows.forall(r => r._3 >= 0 && r._3 < m), s"pos in [0,m): $b")
      val hex = benches.toMap.apply(b)
      val fromHex = (for {
        i <- hex.indices
        v = Integer.parseInt(hex.charAt(i).toString, 16)
        bit <- 0 until 4 if (v & (1 << bit)) != 0
      } yield (i.toLong << 2) | bit).toSet
      assert(fromHex === rows.map(_._3).toSet, s"hex round-trip: $b")
    }
  }

  test("benchEvalBits retains no broadcast while cached") {
    // the per-benchmark sizes ride as literal columns, and the union
    // bit-set reads the cached eval-shingle relation: a broadcast join in
    // a cached plan would pin a hash relation for the artifact's lifetime
    Sketches.benchEvalBits(spark, sf).count()
    Sketches.bloomEvalBits(spark, sf).count()
    val retained = Caches.retainedBroadcasts(spark, sf).toMap
    assert(retained.get("Sketches.benchBitsCache") === Some(0))
    assert(retained.get("Sketches.bitsCache") === Some(0))
  }

  test("sizedBloomBits: the power-of-two ladder with factor-16 headroom") {
    import Sketches.{sizedBloomBits, BloomMinBits, BloomMaxBits, BloomSizeFactor}
    assert(sizedBloomBits(0L) === BloomMinBits)
    assert(sizedBloomBits(1L) === BloomMinBits)
    assert(sizedBloomBits(BloomMinBits / BloomSizeFactor) === BloomMinBits)
    assert(sizedBloomBits(BloomMinBits / BloomSizeFactor + 1) === BloomMinBits * 2)
    // every rung is a power of two in range and ≥ 16n (until the clamp)
    (1L to 100000L by 997L).foreach { n =>
      val m = sizedBloomBits(n)
      assert((m & (m - 1)) === 0)
      assert(m >= BloomMinBits && m <= BloomMaxBits)
      if (m < BloomMaxBits) assert(m >= BloomSizeFactor * n)
      if (m > BloomMinBits) assert(m / 2 < BloomSizeFactor * n)
    }
    // the clamp: a benchmark too big for the ladder tops out (the 24-bit
    // raw position space is the hard ceiling, r20)
    assert(sizedBloomBits(Long.MaxValue / 32) === BloomMaxBits)
  }

  test("an oversized benchmark climbs past the global m and keeps its FP bound") {
    // the ladder's UPPER rungs never exercise on the fixture corpora
    // (every sf0.1 benchmark sizes to 2^12..2^16), so pin the saturation
    // path end-to-end on a synthetic corpus: one benchmark whose eval
    // set carries > 2^18/16 distinct shingles must size ABOVE the old
    // global m — the headroom per-benchmark sizing exists to give — and
    // its gate must still never false-negative
    import graft.operators.TextAnalysis
    val tmp = java.nio.file.Files.createTempDirectory("bloom_bigbench")
    val dir = tmp.toString
    val r = new scala.util.Random(7)
    def bigText(seed: Int) =
      (0 until 7000).map(j => s"w${seed}x${r.nextInt(1000000)}").mkString(" ")
    // candidate big docs; keep ones hashing to the eval split
    val cand = (0L until 24L).map(i => (i, bigText(i.toInt), "en", "big", 100L))
    val candDf = cand.toDF("doc_id", "text", "lang", "source", "n_chars")
    val bucket =
      (expr("(instr('0123456789abcdef', substring(md5(text), 1, 1)) - 1)") * 16 +
        expr("(instr('0123456789abcdef', substring(md5(text), 2, 1)) - 1)"))
        .cast("long")
    val evalBig = candDf.withColumn("b", bucket).filter($"b" >= 204)
      .drop("b").limit(4)
    assert(evalBig.count() >= 3, "need >= 3 big eval docs (~21k shingles)")
    // plus a small benchmark and some train docs
    val rest = (100L until 160L).map(i =>
      (i, s"alpha beta gamma delta epsilon doc$i t${i % 5} u${i % 7} " +
        s"v${i % 11} w${i % 13}", "en", "small", 60L))
    rest.toDF("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(evalBig)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val counts = Sketches.benchEvalShingles(spark, dir)
      .groupBy("benchmark").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(counts("big") > (Sketches.BloomBits / Sketches.BloomSizeFactor),
      s"fixture must saturate the old global m (got ${counts("big")})")
    val bits = Sketches.benchBitsHex(spark, dir).toMap
    assert(bits("big").length * 4 > Sketches.BloomBits,
      "the oversized benchmark must climb past the global 2^18 rung")
    assert(bits("big").length * 4 === Sketches.sizedBloomBits(counts("big")))
    bits.get("small").foreach(h =>
      assert(h.length * 4 <= Sketches.BloomBits / 4,
        "the small benchmark must not pay the big one's width"))
    // the sized gate still never false-negatives, per benchmark
    val audit = Sketches.multiBenchFpAudit(spark, dir)
    assert(audit.filter($"n_exact" > $"n_flagged").count() === 0)
    // and the big filter is NOT saturated: with m >= 16n the FP count
    // over the train side stays a small fraction of the probed shingles
    val big = audit.filter($"benchmark" === "big")
      .agg(sum("n_false_pos"), sum("n_shingles")).head()
    assert(big.getLong(0) * 50L <= big.getLong(1),
      s"FP ${big.getLong(0)} of ${big.getLong(1)} probed — filter saturated?")
  }

  test("BitSetContains: codegen and interpreted eval agree at every ladder width") {
    // the probe has TWO implementations (nullSafeEval and doGenCode) and
    // r19 added the width mask to both — pin them against each other and
    // against the reference model (bit (p mod width) of the word array)
    // at every rung the ladder can emit, including positions ABOVE the
    // width (the fold case) and at word/width boundaries
    val rnd = new scala.util.Random(41)
    for (widthBits <- Seq(64, Sketches.BloomMinBits, Sketches.BloomBits,
        Sketches.BloomMaxBits)) {
      val words = Array.fill(widthBits / 64)(rnd.nextLong())
      def model(p: Long): Boolean = {
        val i = p % widthBits
        ((words((i >>> 6).toInt) >>> (i & 63L).toInt) & 1L) == 1L
      }
      val edge = Seq(0L, 63L, 64L, widthBits - 1L, widthBits.toLong,
        widthBits * 2L - 1L, Sketches.BloomMaxBits - 1L)
      val pos = (edge ++
        Seq.fill(200)(rnd.nextLong().abs % Sketches.BloomMaxBits)).distinct
      // interpreted path (nullSafeEval, the non-codegen fallback)
      val ex = graft.plans.BitSetContains(
        org.apache.spark.sql.GraftBridge.expression(lit(0L)), words, "t")
      pos.foreach { p =>
        assert(ex.nullSafeEval(p) === model(p), s"eval width=$widthBits p=$p")
      }
      // codegen path (whole-stage over a real plan)
      val got = pos.toDF("p")
        .select(col("p"), graft.plans.BitSetContains(col("p"), words, "t")
          .as("hit"))
        .as[(Long, Boolean)].collect().toMap
      pos.foreach { p =>
        assert(got(p) === model(p), s"codegen width=$widthBits p=$p")
      }
    }
    // non-power-of-two word counts are rejected at construction
    intercept[IllegalArgumentException] {
      graft.plans.BitSetContains(
        org.apache.spark.sql.GraftBridge.expression(lit(0L)),
        new Array[Long](3), "bad")
    }
  }

  test("q125's flags probe the filters map-side — no join carries a bit-set") {
    // both gates run the one flag kernel: q125 over every benchmark's
    // filter, q102 over the single union filter
    for ((q, df) <- Seq("q125" -> Sketches.multiBenchDecontamination(spark, sf),
        "q102" -> Sketches.bloomDecontamination(spark, sf))) {
      val whole = df.queryExecution.optimizedPlan.toString
      // the memoized relation embeds the executed AQE plan, which prints a
      // Final AND an Initial copy — count joins in the FINAL section only
      val plan = whole.split("== Initial Plan ==").head
      // the probes fired as the native expression (not a fallback form)
      assert(plan.contains("graft_bitset_contains"), s"$q probe missing:\n$plan")
      // exactly the three EDGE joins (train membership semi-join, the
      // doc × benchmark universe, the stack join) — every filter rides an
      // expression, never a join relation
      val joins = "Join".r.findAllIn(plan).size
      assert(joins === 3, s"$q: expected 3 edge joins, got $joins:\n$plan")
    }
  }

  test("per-benchmark fp audit: exact ≤ flagged per benchmark, grain = q125") {
    val audit = Sketches.multiBenchFpAudit(spark, sf)
    val multi = Sketches.multiBenchDecontamination(spark, sf)
    // Bloom never false-negatives PER BENCHMARK: its own exact overlap is
    // a subset of its own flags, and the gap is the audit column
    assert(audit.filter($"n_exact" > $"n_flagged").count() === 0)
    assert(audit.filter(
      $"n_false_pos" =!= $"n_flagged" - $"n_exact").count() === 0)
    // same universe and flag counts as q125 itself
    assert(audit.count() === multi.count())
    assert(audit.select("doc_id", "benchmark", "n_shingles", "n_flagged")
      .exceptAll(multi).count() === 0)
    // per-doc exact counts SUM across benchmarks to at least the q119
    // union-grain exact count (a shingle in k benchmarks counts k times
    // here, once there)
    val unionExact = Sketches.bloomFpAudit(spark, sf)
      .select($"doc_id", $"n_exact".as("n_union"))
    val perDoc = audit.groupBy("doc_id")
      .agg(sum("n_exact").as("n_sum"))
    assert(perDoc.join(unionExact, Seq("doc_id"))
      .filter($"n_sum" < $"n_union").count() === 0)
  }

  test("fp audit: exact ≤ flagged ≤ total, false-pos is their gap, grain = q102") {
    val audit = Sketches.bloomFpAudit(spark, sf)
    assert(audit.filter($"n_exact" > $"n_flagged").count() === 0,
      "a Bloom filter can never false-negative: exact ⊆ flagged")
    assert(audit.filter($"n_flagged" > $"n_shingles").count() === 0)
    assert(audit.filter(
      $"n_false_pos" =!= $"n_flagged" - $"n_exact").count() === 0)
    // same doc universe and flag counts as q102 itself
    val bloom = Sketches.bloomDecontamination(spark, sf)
    assert(audit.select("doc_id", "n_shingles", "n_flagged")
      .exceptAll(bloom).count() === 0)
    assert(audit.count() === bloom.count())
    // n_exact agrees with an independently-built exact overlap
    val splits = TextAnalysis.hashSplit(spark, sf).select("doc_id", "split")
    val sh = Dedup.shingles(spark, sf)
    val evalShingles = sh.join(
      splits.filter($"split" =!= "train").select("doc_id"),
      Seq("doc_id"), "left_semi").select("shingle").distinct()
    val exact = sh.join(
      splits.filter($"split" === "train").select("doc_id"),
      Seq("doc_id"), "left_semi")
      .join(evalShingles, Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("e"))
    assert(audit.join(exact, Seq("doc_id"), "left")
      .filter($"n_exact" =!= coalesce($"e", lit(0L))).count() === 0)
  }

  test("cms grid is an INDEX-class cache: registered, memoized, parity-safe") {
    val key = org.apache.spark.sql.GraftBridge.sessionKey(spark) + "#" + sf
    val grid = Sketches.cmsCells(spark, sf)
    grid.count()
    assert(Sketches.cmsGridCache.keys.contains(key))
    // INDEX class (r21): survives the per-pass result-memo eviction —
    // a deployment keeps per-corpus sketch state resident — and is seen
    // by the warmup-completeness instrument (so Bench's INDEX fill must
    // fill it)
    Caches.clearResultMemos(spark)
    assert(Sketches.cmsGridCache.keys.contains(key))
    assert(Caches.indexKeys(spark, sf).contains(key))
    // the cached relation IS the d×w grid: cell-for-cell equal to a
    // fresh recompute from the shingle-df artifact
    val fresh = Dedup.shingleDf(spark, sf)
      .select(col("shingle"), col("df").as("n_exact"),
        posexplode(Sketches.cmsBucketArray).as(Seq("i", "bucket")))
      .groupBy("i", "bucket").agg(sum("n_exact").as("cell"))
      .as[(Int, Long, Long)].collect().sorted
    val cached = grid.as[(Int, Long, Long)].collect().sorted
    assert(cached === fresh)
  }

  test("cms estimates never undercount and respect the e·N/w grid bound") {
    val rows = Sketches.cmsHeavyHitters(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("overcount") >= 0L))
    // the classic CMS guarantee (loose at this scale, but it must hold):
    // estimate ≤ exact + e·N/w where N is the total sketched mass
    // (Σ document frequencies = the (doc, shingle) row count)
    val totalN = Dedup.shingles(spark, sf).count()
    val bound = math.ceil(math.E * totalN / Sketches.CmsWidth).toLong
    assert(rows.forall(_.getAs[Long]("overcount") <= bound))
    // the report is exact-descending with the shingle tie-break
    val pairs = rows.map(r => (r.getAs[Long]("n_exact"), r.getAs[String]("shingle")))
    assert(pairs.sameElements(pairs.sortBy { case (n, t) => (-n, t) }))
  }

  /** HLL estimator from a register map (missing buckets = 0), with the
    * standard small-range linear-counting correction.
    */
  private def hllEstimate(regs: Map[Long, Long]): Double = {
    val m = Sketches.HllBuckets
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val sum = (0L until m).map(b => math.pow(2.0, -regs.getOrElse(b, 0L).toDouble)).sum
    val raw = alpha * m * m / sum
    val zeros = (0L until m).count(b => regs.getOrElse(b, 0L) == 0L)
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else raw
  }

  test("hll: __all__ merges per-source registers and estimates track exact distincts") {
    val out = Sketches.hllRegisters(spark, sf).collect()
    val bySource = out.groupBy(_.getAs[String]("source")).map { case (s, rs) =>
      s -> rs.map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("register")).toMap
    }
    val all = bySource("__all__")
    // merge property: the union sketch is the cell-wise MAX of the parts
    val expected = bySource.filter(_._1 != "__all__").values
      .flatMap(_.toSeq).groupBy(_._1).map { case (b, vs) => b -> vs.map(_._2).max }
    assert(all === expected)
    // estimates: exact distinct shingles per source and globally
    val exact = Dedup.shingles(spark, sf)
      .join(Tables.documents(spark, sf).select("doc_id", "source"), Seq("doc_id"))
      .select("source", "shingle").distinct()
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("n")).toMap
    val exactAll = Dedup.shingles(spark, sf).select("shingle").distinct().count()
    // m=64 → standard error ≈ 13%, and raw HLL (no HLL++ bias table) has
    // known mid-range bias, so individual sources can land ~3σ out; the
    // honest deterministic assertion is mean error tight + per-source cap
    val errs = for ((src, n) <- exact.toSeq if n >= 50)
      yield math.abs(hllEstimate(bySource(src)) - n) / n
    assert(errs.nonEmpty)
    assert(errs.sum / errs.size <= 0.20,
      s"mean relative error ${errs.sum / errs.size} above 20%")
    assert(errs.forall(_ <= 0.60), s"a source exceeded 60% error: $errs")
    val estAll = hllEstimate(all)
    assert(math.abs(estAll - exactAll) <= 0.40 * exactAll,
      s"__all__: est $estAll vs exact $exactAll out of tolerance")
  }

  test("histogram quantiles bound the exact q89 values within one bin width") {
    // the construction guarantee: the estimate is the inclusive upper
    // edge of the bin holding q89's exact rank index, so for every
    // source and percentile 0 ≤ estimate − exact < QBinWidth
    val exact = TextAnalysis.lengthQuantiles(spark, sf)
      .select("source", "p10", "p50", "p90")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val est = Sketches.histogramQuantiles(spark, sf)
      .select("source", "est_p10", "est_p50", "est_p90")
      .as[(String, Long, Long, Long)].collect()
    assert(est.nonEmpty && est.length === exact.size)
    est.foreach { case (src, e10, e50, e90) =>
      val (_, x10, x50, x90) = exact(src)
      for (((e, x), p) <- Seq(e10 -> x10, e50 -> x50, e90 -> x90)
             .zip(Seq(10, 50, 90))) {
        assert(e >= x && e - x < Sketches.QBinWidth,
          s"$src p$p: est $e vs exact $x breaks the [0, binWidth) bound")
      }
    }
  }

  test("packBitsHex layout: bit p at hex char p>>2, bit p&3 within the nibble") {
    val hex = Sketches.packBitsHex(Array(0L, 3L, 4L, (Sketches.BloomBits - 1).toLong))
    assert(hex.length === Sketches.BloomBits / 4)
    assert(hex.charAt(0) === '9') // bits 0 and 3 → 0b1001
    assert(hex.charAt(1) === '1') // bit 4 → bit 0 of char 1
    assert(hex.charAt(hex.length - 1) === '8') // the last bit → 0b1000
    assert(hex.count(_ != '0') === 3)
    intercept[IllegalArgumentException] {
      Sketches.packBitsHex(Array(Sketches.BloomBits.toLong))
    }
    // hexBitWords is packBitsHex's exact inverse (the unboxed word array
    // BitSetContains probes: word p>>6, bit p&63)
    val words = Sketches.hexBitWords(hex)
    assert(words.length === Sketches.BloomBits / 64)
    val set = for {
      w <- words.indices
      b <- 0 until 64 if ((words(w) >>> b) & 1L) == 1L
    } yield (w * 64 + b).toLong
    assert(set === Seq(0L, 3L, 4L, (Sketches.BloomBits - 1).toLong))
  }

  test("packBitsHex/hexBitWords round-trip at the top ladder rung (2^24, r20)") {
    // no fixture corpus reaches the upper rungs, so pin the serialized
    // form's round-trip at BloomMaxBits directly: a 4 MiB hex blob,
    // positions at every word/nibble boundary plus a pseudo-random spread
    val m = Sketches.BloomMaxBits
    val rnd = new scala.util.Random(17)
    val pos = (Seq(0L, 3L, 63L, 64L, (m / 2).toLong, m - 1L) ++
      Seq.fill(500)(rnd.nextLong().abs % m)).distinct.toArray
    val hex = Sketches.packBitsHex(pos, m)
    assert(hex.length === m / 4)
    val words = Sketches.hexBitWords(hex)
    assert(words.length === m / 64)
    val set = for {
      w <- words.indices
      b <- 0 until 64 if ((words(w) >>> b) & 1L) == 1L
    } yield w.toLong * 64 + b
    assert(set.toSet === pos.toSet)
    // out-of-range still rejected at the new ceiling
    intercept[IllegalArgumentException] {
      Sketches.packBitsHex(Array(m.toLong), m)
    }
  }

  test("evalBitsHex round-trips exactly the bloomEvalBits positions") {
    val hex = Sketches.evalBitsHex(spark, sf)
    val want = Sketches.bloomEvalBits(spark, sf)
      .as[Long].collect().toSet
    val got = (for {
      i <- hex.indices
      v = Integer.parseInt(hex.charAt(i).toString, 16)
      b <- 0 until 4 if (v & (1 << b)) != 0
    } yield (i.toLong << 2) | b).toSet
    assert(got === want)
    assert(want.nonEmpty) // the fixture eval split is never shingle-less
  }

  test("histogram sketch state is bounded: at most QBins cells per source") {
    // the 100 TB claim — per-source state never exceeds the grid size
    // regardless of corpus cardinality (the mergeable-sketch property)
    val cells = TextAnalysis.rawTokens(spark, sf)
      .join(graft.Tables.documents(spark, sf).select("doc_id", "source"), Seq("doc_id"))
      .select($"source",
        expr(s"least(size(toks) div ${Sketches.QBinWidth}, ${Sketches.QBins - 1})").as("bin"))
      .groupBy("source", "bin").count()
      .groupBy("source").count()
      .as[(String, Long)].collect()
    assert(cells.nonEmpty && cells.forall(_._2 <= Sketches.QBins))
  }
}
