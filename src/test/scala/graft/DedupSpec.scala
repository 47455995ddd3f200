package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.Sf

  test("minhash candidates ⊇ verified high-jaccard pairs from exhaustive scan") {
    val lsh = Dedup.minhashNearDups(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exhaustive = Dedup.ngramJaccardDups(spark, sf)
      .filter($"inter" * 10 >= $"uni" * 9) // jaccard ≥ 0.9
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exhaustive.nonEmpty, "corpus should contain planted near-dups")
    assert(exhaustive.subsetOf(lsh),
      s"LSH missed ${exhaustive -- lsh} (banding should catch j≥0.9 pairs here)")
  }

  test("ShingleGenerator matches the composable explode(shingleArray) form") {
    import graft.functions.TextFns
    val toks = TextFns.tokenize($"text")
    val base = Tables.documents(spark, sf)
      .select($"doc_id", toks.as("toks"))
    val viaGen = base.select($"doc_id",
      graft.plans.ShingleGenerator.shingles($"toks", 5).as("shingle"))
    val viaHof = base.select($"doc_id",
      explode(TextFns.shingleArray($"toks", 5)).as("shingle"))
    assert(viaGen.exceptAll(viaHof).count() === 0)
    assert(viaHof.exceptAll(viaGen).count() === 0)
    // generator also yields zero rows for short docs
    val short = Seq((1L, "a b")).toDF("doc_id", "text")
      .select($"doc_id", TextFns.tokenize($"text").as("toks"))
      .select(graft.plans.ShingleGenerator.shingles($"toks", 3))
    assert(short.count() === 0)
  }

  test("jaccard output is symmetric-canonical (a<b) and within bounds") {
    val bad = Dedup.ngramJaccardDups(spark, sf)
      .filter($"doc_a" >= $"doc_b" || $"inter" <= 0 || $"inter" > $"uni")
      .count()
    assert(bad === 0)
  }

  test("exact dedup: identical texts share fp and get distinct ranks") {
    import spark.implicits._
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val out = df.select($"doc_id", md5($"text").as("fp"))
      .withColumn("n_copies", count(lit(1)).over(byFp))
      .withColumn("dup_rank", row_number().over(byFp.orderBy("doc_id")))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).toSet
    assert(out === Set((1L, 2L, 1), (2L, 2L, 2), (3L, 1L, 1)))
  }

  test("simhashNearPairs finds a planted hamming-1 pair, skips far pairs") {
    val sigs = Seq(
      (1L, java.lang.Long.parseLong("1010101010101010", 2)),
      (2L, java.lang.Long.parseLong("1010101010101011", 2)), // hamming 1 vs doc 1
      (3L, java.lang.Long.parseLong("0101010101010101", 2)), // hamming 16 vs doc 1
      (4L, java.lang.Long.parseLong("1011101110101011", 2))  // hamming 3 vs doc 1 (bits 0,8,12); band 1 intact
    ).toDF("doc_id", "simhash")
    val got = Dedup.simhashNearPairs(sigs)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.contains((1L, 2L, 1L)), "hamming-1 pair must be found")
    assert(got.contains((1L, 4L, 3L)), "hamming-3 pair shares band 1 — must be found")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L), "hamming-16 doc must not pair")
    // extra bands beyond the pigeonhole minimum (6 > 3+1, uneven 16/6
    // split) may only widen candidate generation — same verified output
    val got6 = Dedup.simhashNearPairs(sigs, bands = 6)
      .as[(Long, Long, Long)].collect().toSet
    assert(got6 === got, "more bands must not change the verified pairs")
  }

  test("simhashNearPairs ⊇ exact-collision groups, hamming within bound") {
    val pairs = Dedup.simhashNearDups(spark, sf)
    assert(pairs.filter($"hamming" > 3).count() === 0)
    // every doc pair inside a hamming-0 collision group (at the SAME
    // 32-bit width q53 probes at) must reappear
    val zero = Dedup.simhashBits(spark, sf, 32).as[(Long, Long)].collect()
      .groupBy(_._2).values.filter(_.length > 1)
      .flatMap(g => g.map(_._1).sorted.combinations(2).map(p => (p(0), p(1))))
      .toSet
    val got = pairs.filter($"hamming" === 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(zero.subsetOf(got))
  }

  test("verbatim collapse ≡ direct LSH on a corpus with planted exact copies") {
    // planted: doc 0 ≈ doc 1 (near-dup), docs 2..5 verbatim copies of doc 0,
    // doc 6 unrelated, doc 7 a verbatim copy of doc 6, docs 8/9 too short
    val base = "spark table scan filter join group order sort merge hash key value row column batch stream"
    val near = base.replace("batch", "fast")
    val other = "customer orders line part region nation supplier query window vector data big small slow"
    val docs = Seq(
      0L -> base, 1L -> near, 2L -> base, 3L -> base, 4L -> base, 5L -> base,
      6L -> other, 7L -> other, 8L -> "tiny doc", 9L -> "tiny doc")
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_vb").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.minhashNearDups(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    // direct (uncollapsed) reference computation: full band self-join +
    // exact Jaccard over ALL docs — the pre-collapse algorithm inlined
    val bands = Dedup.minhashBands(spark, dir)
    val cands = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val sh = Dedup.shingles(spark, dir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val want = cands
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === want)
    // sanity on the planted structure: the five copies pair with each other
    // and with the near-dup; the unrelated pair is present; shorts absent
    assert(got.exists(p => p._1 == 0L && p._2 == 2L && p._3 == p._4))
    assert(got.exists(p => p._1 == 6L && p._2 == 7L))
    assert(!got.exists(p => p._1 >= 8L || p._2 >= 8L))
  }

  test("minhashCalibration: collapse ≡ direct member-level rows on planted copies") {
    // same planted shape as the near-dup collapse test: hasVerbatimDups is
    // true, so the calibration takes its r12 rep-collapse branch; the
    // reference inlines the pre-collapse member-level computation
    val base = "spark table scan filter join group order sort merge hash key value row column batch stream"
    val near = base.replace("batch", "fast")
    val other = "customer orders line part region nation supplier query window vector data big small slow"
    val docs = Seq(
      0L -> base, 1L -> near, 2L -> base, 3L -> base, 4L -> base, 5L -> base,
      6L -> other, 7L -> other, 8L -> "tiny doc", 9L -> "tiny doc")
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_cal").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.minhashCalibration(spark, dir)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val bands = Dedup.minhashBands(spark, dir)
    val cands = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val sigs = Dedup.minhashSignatures(spark, dir)
    val agree = (0 until Dedup.MinhashHashes)
      .map(i => when(col(s"sa.h$i") === col(s"sb.h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val withAgree = cands
      .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), agree.as("n_agree"))
    val sh = Dedup.shingles(spark, dir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val want = withAgree
      .join(sh.as("ja"), col("doc_a") === col("ja.doc_id"))
      .join(sh.as("jb"),
        col("doc_b") === col("jb.doc_id") && col("ja.shingle") === col("jb.shingle"))
      .groupBy("doc_a", "doc_b", "n_agree").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .select(col("doc_a"), col("doc_b"), col("n_agree"), col("inter"), col("uni"),
        round(col("n_agree").cast("double") / Dedup.MinhashHashes -
          col("inter").cast("double") / col("uni"), 6).as("est_err"))
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(got === want)
    // the within-group rows really are the perfect-estimate degenerate:
    // copies of doc 0 pair at est_err 0 with full agreement
    assert(got.exists(p => p._1 == 2L && p._2 == 3L &&
      p._3 == Dedup.MinhashHashes.toLong && p._4 == p._5 && p._6 == 0.0))
    // shingle-less verbatim copies (8/9) produce no calibration row
    assert(!got.exists(p => p._1 >= 8L || p._2 >= 8L))
  }

  test("embeddingNearDups: planted sign-stable pairs identical at 6 and 12 bits") {
    // Orthogonal sign patterns (Hadamard-style): near-dup pairs share a
    // pattern (cosine ≈ 1, every sign agrees ⇒ same bucket at ANY width);
    // cross-pattern cosine is ≈ 0 (below threshold). Raising bits splits
    // buckets but can never separate sign-identical vectors, so the output
    // must be width-invariant on this corpus.
    val dim = 16
    val p1 = Seq.fill(dim)(1.0)
    val p2 = (0 until dim).map(i => if (i % 2 == 0) 1.0 else -1.0)
    val p3 = (0 until dim).map(i => if (i % 4 < 2) 1.0 else -1.0)
    def perturb(p: Seq[Double], f: Double): Seq[Float] =
      p.zipWithIndex.map { case (x, i) =>
        (x * (1.0 + f * (i % 3))).toFloat } // scales components, keeps signs
    val rows = Seq(
      (1L, perturb(p1, 0.0)), (2L, perturb(p1, 0.05)),
      (3L, perturb(p2, 0.0)), (4L, perturb(p2, 0.05)),
      (5L, perturb(p3, 0.0)))
    val dir = java.nio.file.Files.createTempDirectory("graft_emb").toString
    rows.toDF("vec_id", "embedding").withColumn("label", lit("t"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val at6 = Dedup.embeddingNearDups(spark, dir)
      .as[(Long, Long, Double)].collect().toSet
    val at12 = Dedup.embeddingNearDups(spark, dir, bits = 12)
      .as[(Long, Long, Double)].collect().toSet
    assert(at6.map(p => (p._1, p._2)) === Set((1L, 2L), (3L, 4L)))
    assert(at6 === at12, "raising the LSH width must not change planted pairs")
  }

  test("embeddingNearDups: rep expansion ≡ direct pair enumeration on planted dups") {
    // Round 14: q27 verifies cosine at REP grain (shared memo with q74)
    // and expands through the rep map — this test pins the expansion
    // against the pre-collapse direct enumeration, inlined, on a corpus
    // with verbatim duplicate embeddings (the case the sf corpora never
    // exercise): 1..3 verbatim p1, 4 a same-sign near-dup of p1, 5/6
    // verbatim p2, 7/8 verbatim ZERO vectors (must never pair).
    val dim = 16
    val p1 = Seq.fill(dim)(1.0f)
    val p2 = (0 until dim).map(i => if (i % 2 == 0) 1.0f else -1.0f)
    val near = p1.zipWithIndex.map { case (x, i) => x * (1.0f + 0.05f * (i % 3)) }
    val zero = Seq.fill(dim)(0.0f)
    val rows = Seq(
      (1L, p1), (2L, p1), (3L, p1), (4L, near),
      (5L, p2), (6L, p2), (7L, zero), (8L, zero))
    val dir = java.nio.file.Files.createTempDirectory("graft_embexp").toString
    rows.toDF("vec_id", "embedding").withColumn("label", lit("t"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Dedup.embeddingNearDups(spark, dir)
      .as[(Long, Long, Double)].collect().toSeq
    // direct doc-level enumeration: bucket equi-join over the FULL index,
    // per-pair cosine — the identical fold the expansion must reproduce
    // value-for-value (identical arrays ⇒ identical doubles)
    import graft.functions.VectorFns
    val b = graft.operators.Similarity.vectorIndex(spark, dir)
      .filter(col("nrm") > 0.0)
    val want = b.as("x").join(b.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        VectorFns.cosine(VectorFns.dot(col("x.emb"), col("y.emb")),
          col("x.nrm"), col("y.nrm")).as("c"))
      .filter(col("c") >= 0.25)
      .select(col("vec_a"), col("vec_b"), round(col("c"), 6).as("cos_sim"))
      .orderBy("vec_a", "vec_b").as[(Long, Long, Double)].collect().toSeq
    assert(got === want)
    // planted structure: all pairs inside {1,2,3,4}, the {5,6} pair,
    // zero vectors pair with nothing (not even their verbatim copy)
    assert(got.map(p => (p._1, p._2)).toSet === Set(
      (1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L), (3L, 4L), (5L, 6L)))
    // verbatim pairs carry the self-cosine (≈1.0 exactly after round(6))
    assert(got.filter(p => Set((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L))
      .contains((p._1, p._2))).forall(_._3 == 1.0))
  }

  test("maxShingleDf: boilerplate candidates drop, planted recall + output unchanged") {
    // every doc carries the same boilerplate tail (license-header analogue):
    // uncapped, its shingles make EVERY doc pair a candidate; capped at 3,
    // they vanish from candidate generation while verification (full sets)
    // keeps the output identical
    val bp = "copyright license reserved header standard footer legal"
    val base = ("spark table scan filter join group order sort merge hash " +
      "key value row column batch stream query plan stage task core node " +
      "disk memory cache block page index race lock queue").trim
    val near = base.replace("batch", "fast") // 1 of 30 tokens differs
    def uniq(i: Int) = s"wholly distinct document number id$i holding words " +
      s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"
    val docs = (Seq(0L -> s"$base $bp", 1L -> s"$near $bp") ++
      (2 to 12).map(i => i.toLong -> s"${uniq(i)} $bp")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_cap").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cap = Some(3L)

    val mhFull = Dedup.minhashNearDups(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    val mhCap = Dedup.minhashNearDups(spark, dir, cap)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(mhFull.exists(p => p._1 == 0L && p._2 == 1L), "planted pair uncapped")
    assert(mhCap === mhFull, "cap must not change minhash output here")

    val ngFull = Dedup.ngramJaccardDups(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    val ngCap = Dedup.ngramJaccardDups(spark, dir, cap)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(ngFull.exists(p => p._1 == 0L && p._2 == 1L), "planted pair uncapped")
    assert(ngCap === ngFull, "cap must not change ngram output here")

    // the skew claim itself: candidate pairs (shared-shingle form) collapse
    // from all-pairs to content-driven pairs once the df cap drops the
    // boilerplate shingles
    def candPairs(sh: org.apache.spark.sql.DataFrame): Long = sh.as("x")
      .join(sh.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
    val full = candPairs(Dedup.shingles(spark, dir))
    val capped = candPairs(Dedup.cappedShingles(spark, dir, 3L))
    val n = 13L
    assert(full === n * (n - 1) / 2, "boilerplate makes every pair a candidate")
    assert(capped < full / 10, s"cap must collapse the hot bucket ($capped vs $full)")
  }

  test("maxShingleDf preserves high-jaccard recall on the corpus") {
    val exhaustive = Dedup.ngramJaccardDups(spark, sf)
      .filter($"inter" * 10 >= $"uni" * 9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exhaustive.nonEmpty)
    val capped = Dedup.minhashNearDups(spark, sf, Some(50L))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exhaustive.subsetOf(capped),
      s"df cap lost planted pairs: ${exhaustive -- capped}")
  }

  test("simhash64NearPairs: planted hamming pairs found, far pairs skipped") {
    val lo = java.lang.Long.parseLong("12345678", 16)
    val hi = java.lang.Long.parseLong("9ABCDEF0", 16)
    val sigs = Seq(
      (1L, lo, hi),
      (2L, lo ^ 1L, hi),                              // hamming 1 (bit 0)
      (3L, ~lo & 0xFFFFFFFFL, ~hi & 0xFFFFFFFFL),     // hamming 64
      // hamming 3 across bits 31, 32, 48 — bands 1,2,3 differ, band 0 intact
      (4L, lo ^ (1L << 31), hi ^ 1L ^ (1L << 16)))
      .toDF("doc_id", "sh_lo", "sh_hi")
    val got = Dedup.simhash64NearPairs(sigs)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.contains((1L, 2L, 1L)), "hamming-1 pair must be found")
    assert(got.contains((1L, 4L, 3L)), "hamming-3 pair agrees on band 0 — must be found")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L), "hamming-64 doc must not pair")

    // maxHamming=4 → 5 uneven bands; band [25,38) straddles the half
    // boundary and is the only agreeing band for logical-bit diffs 5,14,40,52
    val s2 = Seq(
      (1L, lo, hi),
      (2L, lo ^ (1L << 5) ^ (1L << 14), hi ^ (1L << 8) ^ (1L << 20)))
      .toDF("doc_id", "sh_lo", "sh_hi")
    val straddle = Dedup.simhash64NearPairs(s2, maxHamming = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(straddle === Set((1L, 2L, 4L)),
      "straddling band must stitch its key from both halves")
  }

  test("simhash64 pairs equal brute-force hamming<=3 at sf (full recall)") {
    val sigs = Dedup.simhash64Bits(spark, sf)
      .as[(Long, Long, Long)].collect()
    val brute = (for {
      i <- sigs.indices.iterator; j <- (i + 1) until sigs.length
      a = sigs(i); b = sigs(j)
      h = java.lang.Long.bitCount(a._2 ^ b._2) + java.lang.Long.bitCount(a._3 ^ b._3)
      if h <= 3
    } yield if (a._1 < b._1) (a._1, b._1) else (b._1, a._1)).toSet
    val got = Dedup.simhash64NearDups(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got === brute, "pigeonhole banding + exact verify = exact hamming ball")
  }

  test("crossCorpusNearDups pairs incoming docs with corpus near-dups only") {
    val base = "spark table scan filter join group order sort merge hash key value row column batch stream"
    val other = "customer orders line part region nation supplier query window vector data big small slow"
    val corpus = Seq(1L -> base, 2L -> other).toDF("doc_id", "text")
    // incoming: a near-dup of base, a verbatim copy of other, a novel doc —
    // ids deliberately OVERLAP the corpus id space (1L), which the
    // self-join ladder cannot allow but the cross form must
    val incoming = Seq(
      1L -> base.replace("batch", "fast"),
      2L -> other,
      3L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa")
      .toDF("doc_id", "text")
    val got = Dedup.crossCorpusNearDups(incoming, corpus)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got.map(p => (p._1, p._2)) === Set((1L, 1L), (2L, 2L)),
      "near-dup and verbatim match; novel doc emits nothing")
    // verbatim pair must verify at Jaccard 1 (inter == uni)
    assert(got.exists(p => p._1 == 2L && p._3 == p._4))
  }

  test("empty corpus: dedup ladder returns empty, no NPE in the cost probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    // full documents schema: the round-12 ops also read source/n_chars
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Dedup.exactDedup(spark, dir).count() === 0)
    assert(Dedup.minhashNearDups(spark, dir).count() === 0)
    assert(Dedup.ngramJaccardDups(spark, dir).count() === 0)
    assert(Dedup.dupClusters(spark, dir).count() === 0)
    // round-12 additions are total on the empty corpus too
    assert(Dedup.clusterKeepers(spark, dir).count() === 0)
    assert(graft.operators.TextAnalysis.chunkPurge(spark, dir).count() === 0)
    assert(graft.operators.TextAnalysis
      .crossCorpusChunkPurge(spark, dir).count() === 0)
    assert(graft.operators.TextAnalysis.piiRedaction(spark, dir).count() === 0)
    // round-13: the persisted-index query bootstraps + updates an empty
    // index and summarizes zero buckets without error
    assert(graft.Pipeline.chunkIndexBuckets(spark, dir).count() === 0)
    // round-13 shared-artifact paths: the cached bigram adjacency (q70/q84)
    // and the memoized train verdict (q81/q86) are total on zero docs
    assert(graft.operators.TextAnalysis.collocations(spark, dir).count() === 0)
    assert(graft.operators.TextAnalysis.tokenPagerank(spark, dir).count() === 0)
    assert(graft.operators.TextAnalysis.trainCorpus(spark, dir).count() === 0)
    assert(graft.operators.TextAnalysis.corpusReport(spark, dir).count() === 0)
    // round-14: the bucketed-index query bootstraps a zero-row table
    // (empty bootstrap + two empty "appends" — the all-filtered-out dump
    // case: no part files, nothing to adopt) and summarizes zero buckets;
    // recall calibration over an empty vector base yields an empty grid
    assert(graft.Pipeline.chunkIndexBucketedSummary(spark, dir).count() === 0)
    Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(graft.operators.Similarity.annRecall(spark, dir).count() === 0)
    assert(Dedup.semDedupSurvivors(spark, dir).count() === 0)
  }

  test("crossCorpusParityDups matches the two-DataFrame form on the corpus") {
    val docs = graft.Tables.documents(spark, sf)
    val direct = Dedup.crossCorpusNearDups(
      docs.filter($"doc_id" % 2 === 1), docs.filter($"doc_id" % 2 === 0))
      .as[(Long, Long, Long, Long)].collect().toSet
    val parity = Dedup.crossCorpusParityDups(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(parity === direct, "shared body: parity form == free-standing form")
    assert(parity.forall(p => p._1 % 2 == 1 && p._2 % 2 == 0))
  }

  test("crossCorpusParityDups finds a planted odd-incoming/even-corpus pair") {
    val base = "batch window spark order data column join small line customer query value"
    val dir = java.nio.file.Files.createTempDirectory("graft_parity").toString
    Seq(
      1L -> base.replace("value", "merge"),  // odd: near-dup of doc 2
      2L -> base,                            // even: corpus twin
      3L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa", // odd novel
      4L -> "one two three four five six seven eight nine ten")        // even novel
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.crossCorpusParityDups(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    val (_, _, inter, uni) = got.head
    assert(2 * inter >= uni, "survived the Jaccard >= 0.5 verification")
  }

  test("simhash: near-identical docs collide, disjoint docs don't (fixture)") {
    val planted = Dedup.minhashNearDups(spark, sf)
      .filter($"inter" * 100 >= $"uni" * 97).select("doc_a", "doc_b")
      .as[(Long, Long)].collect()
    val sig = Dedup.simhash(spark, sf).as[(Long, Long)].collect().toMap
    // j≥0.97 pairs agree on ≥14 of 16 simhash bits (weighted-majority stability)
    planted.foreach { case (a, b) =>
      val ham = java.lang.Long.bitCount(sig(a) ^ sig(b))
      assert(ham <= 2, s"pair ($a,$b) hamming $ham too far for near-identical docs")
    }
  }

  test("minhashCalibration: agreement bounds hold and verified pairs are covered") {
    val cal = Dedup.minhashCalibration(spark, sf)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(cal.nonEmpty)
    cal.foreach { case (a, b, agree, inter, uni, err) =>
      assert(a < b, s"pair order ($a,$b)")
      // a band collision pins both hashes of that band → ≥2 agreements,
      // and a shared min-hash implies a shared shingle → inter ≥ 1
      assert(agree >= 2L && agree <= 8L, s"($a,$b) n_agree $agree")
      assert(inter >= 1L && uni >= inter, s"($a,$b) inter/uni $inter/$uni")
      val expected = BigDecimal(agree.toDouble / 8 - inter.toDouble / uni)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(err === expected, s"($a,$b) est_err")
    }
    // every q22-verified near-dup pair appears with the same exact Jaccard
    val byPair = cal.map(r => (r._1, r._2) -> (r._4, r._5)).toMap
    Dedup.minhashNearDups(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
      .foreach { case (a, b, inter, uni) =>
        assert(byPair.get((a, b)).contains((inter, uni)), s"verified pair ($a,$b)")
      }
  }

  test("semDedupSurvivors: component minima consistent with the q27 edge set") {
    val labels = Dedup.semDedupSurvivors(spark, sf)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(labels.size.toLong === Tables.embeddings(spark, sf).count())
    val comp = labels.map(r => r._1 -> r._2).toMap
    labels.foreach { case (v, c, kept) =>
      assert(c <= v, s"label $c above member $v: not a minimum")
      assert(kept === (c == v))
    }
    // every verified near-dup edge lands inside one component
    Dedup.embeddingNearDups(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
      .foreach { case (a, b) => assert(comp(a) === comp(b)) }
    // each component's label is attained by a member (the survivor)
    comp.values.toSet.foreach((c: Long) => assert(comp(c) === c))
  }

  test("dupGraphStats: planted triangle plus pendant edge counts exactly once") {
    // three mutual near-dups (one shared long prefix) form a triangle;
    // a fourth doc shares enough with only one of them for a pendant edge
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq(
      (1L, s"$base kilo"),
      (2L, s"$base lima"),
      (3L, s"$base mike"),
      (4L, "zulu yankee xray whiskey victor uniform tango sierra"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tri").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.dupGraphStats(spark, dir)
      .as[(Long, Long, Long)].collect().head
    // docs 1-2-3 pairwise share 6 of 8 shingles (Jaccard 0.75): 3 vertices,
    // 3 edges, 1 triangle; doc 4 shares nothing and stays out
    assert(got === ((3L, 3L, 1L)))
  }

  test("sourceDupMatrix: cells are ordered and total equals the verified pair count") {
    import org.apache.spark.sql.functions._
    val m = Dedup.sourceDupMatrix(spark, sf).persist()
    assert(m.filter(col("source_a") > col("source_b")).count() === 0)
    assert(m.agg(sum("n_pairs")).head().getLong(0) ===
      Dedup.minhashNearDups(spark, sf).count())
    m.unpersist()
    ()
  }

  test("semDedupSurvivors: rep collapse ≡ doc-level enumeration, zero vectors stay apart") {
    // planted: vecs 1..3 verbatim copies of pattern p1, vec 4 a same-sign
    // near-dup of p1 (cosine ≈ 1 ⇒ same component); vecs 5/6 verbatim
    // copies of orthogonal p2 (own component); vecs 7/8 verbatim ZERO
    // vectors — cosine NaN, so doc-level semantics keep them singletons
    // and the collapse must NOT merge them despite identical values.
    val dim = 16
    val p1 = Seq.fill(dim)(1.0f)
    val p2 = (0 until dim).map(i => if (i % 2 == 0) 1.0f else -1.0f)
    val near = p1.zipWithIndex.map { case (x, i) => x * (1.0f + 0.05f * (i % 3)) }
    val zero = Seq.fill(dim)(0.0f)
    val rows = Seq(
      (1L, p1), (2L, p1), (3L, p1), (4L, near),
      (5L, p2), (6L, p2), (7L, zero), (8L, zero))
    val dir = java.nio.file.Files.createTempDirectory("graft_sem").toString
    rows.toDF("vec_id", "embedding").withColumn("label", lit("t"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Dedup.semDedupSurvivors(spark, dir)
      .as[(Long, Long, Boolean)].collect().toSet
    // doc-level reference: q27's full pair enumeration (no collapse) +
    // the same min-label propagation + vector-grain expansion — the
    // pre-collapse algorithm inlined
    val pairs = Dedup.embeddingNearDups(spark, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val sym = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val labels = Dedup.propagateMinLabels(
      sym.select(col("doc_a").as("doc_id")), sym)
    val want = rows.toDF("vec_id", "embedding").select("vec_id")
      .join(labels.select(col("doc_id").as("vec_id"), col("component_id")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component_id"), col("vec_id")).as("component_id"),
        (coalesce(col("component_id"), col("vec_id")) === col("vec_id"))
          .as("kept"))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got === want)
    // planted structure: {1,2,3,4} one component kept by 1; {5,6} kept by
    // 5; zero vectors 7 and 8 are BOTH kept as singletons
    assert(got === Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (5L, 5L, true), (6L, 5L, false), (7L, 7L, true), (8L, 8L, true)))
  }

  test("sharedSpans: planted 7-token shared prefix yields a 3-shingle run") {
    import org.apache.spark.sql.functions.col
    // doc 1 = 7-token prefix of doc 2; shingle sets 3 vs 4, Jaccard 0.75
    // → verified near-dup; positional matches sit on diagonal 0 at
    // pa 0,1,2 → one island of 3 shingles = 7 shared tokens
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_spans").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.sharedSpans(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 3L, 7L)))
  }

  test("semDedup components: per-bucket union-find equals propagation on the sf graph") {
    // the r21 q74 component build (ONE groupBy(bucket) union-find
    // aggregate — sound because sign-LSH edges are bucket-contained)
    // against the generic iterative propagation on the SAME verified
    // pair relation — the real sf graph, whose longest component took
    // propagation 11 rounds
    val pairs = Dedup.embRepPairs(spark, sf, graft.operators.Similarity.IvfBits)
    val got = pairs.groupBy("bucket")
      .agg(graft.functions.ComponentsAggregator
        .minLabelComponents(col("vec_a"), col("vec_b")).as("ls"))
      .select(explode(col("ls")).as("l"))
      .select(col("l._1").as("doc_id"), col("l._2").as("component_id"))
      .as[(Long, Long)].collect().toSet
    val p = pairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val sym = p.union(p.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val want = Dedup.propagateMinLabels(
      sym.select(col("doc_a").as("doc_id")), sym)
      .as[(Long, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  // a 40-vertex path (diameter 39 — far beyond a log-rounds budget if the
  // pointer-doubling regressed), a 3-clique, and two isolates
  private val chainAndForest: Seq[(Long, Long)] =
    (1L to 40L).sliding(2).map(s => (s(0), s(1))).toSeq ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L))

  test("propagateMinLabels: deep chain and forest label to component minima") {
    // at 45 vertices this takes the union-find fast path; the propagation
    // loop's own test runs the same graph through the loop
    val edges = chainAndForest.toDF("doc_a", "doc_b")
    val sym = edges.union(edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val verts = sym.select(col("doc_a").as("doc_id"))
      .union(Seq(200L, 201L).toDF("doc_id"))
    val got = Dedup.propagateMinLabels(verts, sym)
      .as[(Long, Long)].collect().toSet
    val want = (1L to 40L).map(v => (v, 1L)).toSet ++
      Set((100L, 100L), (101L, 100L), (102L, 100L), (200L, 200L), (201L, 201L))
    assert(got === want)
  }

  test("propagationLoop equals union-find and frees every superseded round") {
    // the loop runs only above the 4M-edge union-find bound, so no suite
    // graph reaches it through propagateMinLabels: drive it directly over
    // the deep chain + forest and PropertySpec's ten random graphs
    val sc = spark.sparkContext
    def unionFind(verts: Seq[Long], edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
      val parent = scala.collection.mutable.Map(verts.map(v => v -> v): _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      verts.map(v => (v, find(v))).toSet
    }
    def check(verts: Seq[Long], edges: Seq[(Long, Long)], what: String): Unit = {
      val e = edges.toDF("doc_a", "doc_b")
      val sym = e.union(e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      val seed = verts.toDF("doc_id").distinct().withColumn("component_id", col("doc_id"))
      val before = sc.getPersistentRDDs.keySet
      val labels = Dedup.propagationLoop(seed, sym, verts.distinct.size.toLong)
      try {
        val finalRound = labels.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
        }.toSet
        assert(finalRound.size === 1, what)
        assert(sc.getPersistentRDDs.keySet -- before === finalRound,
          s"$what: only the final round's staged blocks remain")
        assert(labels.as[(Long, Long)].collect().toSet === unionFind(verts, edges), what)
      } finally Stage.free(labels)
    }
    check(chainAndForest.flatMap(e => Seq(e._1, e._2)).distinct ++ Seq(200L, 201L),
      chainAndForest, "deep chain and forest")
    val rnd = new scala.util.Random(7L) // PropertySpec's graphs
    (1 to 10).foreach { trial =>
      val n = 30 + rnd.nextInt(40)
      val m = rnd.nextInt(2 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      check(0L until n.toLong, edges, s"trial=$trial n=$n m=$m")
    }
  }

  test("the verified-pair memo holds only its own staged blocks") {
    // the fill stages the pairs and frees its two scratch checkpoints
    // (candidates, pruned shingles); the INDEX bases are filled first
    Dedup.minhashNearDups(spark, sf).count()
    Caches.clearResultMemos(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.minhashNearDups(spark, sf).count()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size === 1)
  }

  test("propagationLoop's round cap: a 16-vertex chain passes at cap 6, throws at cap 5") {
    // the chain converges in R = 6 rounds: the two plain rounds carry the
    // minimum two hops, the pointer-jumping rounds 3–5 reach the far end,
    // and round 6 changes no label (measured; the default cap is 50)
    val r = 6
    val e = (1L to 16L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("doc_a", "doc_b")
    val sym = e.union(e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val seed = (1L to 16L).toDF("doc_id").withColumn("component_id", col("doc_id"))
    val labels = Dedup.propagationLoop(seed, sym, 16L, maxRounds = r)
    try assert(labels.as[(Long, Long)].collect().toSet === (1L to 16L).map(v => (v, 1L)).toSet)
    finally Stage.free(labels)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val err = intercept[IllegalArgumentException](
      Dedup.propagationLoop(seed, sym, 16L, maxRounds = r - 1))
    assert(err.getMessage.contains(s"did not converge in ${r - 1} rounds"), err.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before === Set.empty,
      "a call that fails frees every round it staged")
  }

  test("dupGraphStats/sharedSpans: collapse ≡ doc-level enumeration on verbatim copies") {
    // Same planted shape as the minhashNearDups collapse test: doc 0 near-
    // dups doc 1, docs 2..5 verbatim copies of 0 (K6 component), 6/7 a
    // verbatim pair, 8/9 a verbatim group with NO shingles (must stay out
    // of the census entirely). hasVerbatimDups=true, so both operators
    // take their collapse branch; the reference runs the doc-level enum
    // over the expanded verified pair set.
    val base = "spark table scan filter join group order sort merge hash key value row column batch stream"
    val near = base.replace("batch", "fast")
    val other = "customer orders line part region nation supplier query window vector data big small slow"
    val docs = Seq(
      0L -> base, 1L -> near, 2L -> base, 3L -> base, 4L -> base, 5L -> base,
      6L -> other, 7L -> other, 8L -> "tiny doc", 9L -> "tiny doc")
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_vbg").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docPairs = Dedup.minhashNearDups(spark, dir).select("doc_a", "doc_b")

    val gotCensus = Dedup.dupGraphStats(spark, dir)
      .as[(Long, Long, Long)].collect().head
    val wantCensus = Dedup.enumGraphStats(docPairs)
      .as[(Long, Long, Long)].collect().head
    assert(gotCensus === wantCensus)
    // K6 on {0..5} (15 edges, 20 triangles) + the {6,7} pendant pair;
    // the shingle-less 8/9 group contributes nothing
    assert(gotCensus === ((8L, 16L, 20L)))

    val gotSpans = Dedup.sharedSpans(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val wantSpans = Dedup.enumSharedSpans(spark, dir, docPairs)
      .select(col("doc_a"), col("doc_b"), col("max_run"),
        (col("max_run") + lit(Dedup.ShingleSize - 1)).cast("long").as("span_tokens"))
      .orderBy("doc_a", "doc_b")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(gotSpans === wantSpans)
    // every identical pair shares its full shingle run; the (0,1)-family
    // cross pairs share the 12-token prefix up to the edited token
    assert(gotSpans.nonEmpty && gotSpans === gotSpans.sorted)
  }

  test("clusterKeepers: the LONGEST member wins, not the minimum id") {
    // doc 31 = doc 30 + one extra word → 5-gram Jaccard (n−4)/(n−3) ≥ 0.5
    // → a verified {30, 31} cluster where the HIGHER id is longer
    val base = (1 to 40).map(i => s"k$i").mkString(" ")
    val docs = Seq(
      (30L, base),
      (31L, base + " extra"),
      (32L, "unrelated words entirely disjoint from the cluster pair"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft_keepers").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.clusterKeepers(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((30L, 2L, 31L, (base + " extra").length.toLong)))
  }

  test("clusterKeepers: corpus keeper is a true argmax member of its cluster") {
    val keepers = Dedup.clusterKeepers(spark, sf)
    assert(keepers.count() > 0)
    // recompute the argmax independently (max_by over the labeled join)
    // and diff — also proves keeper_n_chars is the keeper's real n_chars
    val labeled = Dedup.dupClusters(spark, sf)
      .join(Tables.documents(spark, sf).select(col("doc_id"),
        col("n_chars").cast("long").as("n_chars")), Seq("doc_id"))
    val want = labeled.groupBy("component_id")
      .agg(count(lit(1)).as("n_members"),
        max(col("n_chars")).as("keeper_n_chars"))
    val byMax = labeled.join(want, "component_id")
      .filter(col("n_chars") === col("keeper_n_chars"))
      .groupBy("component_id", "n_members", "keeper_n_chars")
      .agg(min(col("doc_id")).as("keeper_doc_id"))
      .select("component_id", "n_members", "keeper_doc_id", "keeper_n_chars")
    assert(keepers.exceptAll(byMax).count() === 0)
    assert(byMax.exceptAll(keepers).count() === 0)
  }

  test("propagation's loop-local conf never touches the caller's session") {
    // the loop runs AQE-off at graph-sized shuffle partitions in a CLONED
    // session; the caller's conf must be byte-identical before and after
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    Caches.clear(spark) // force the propagation to actually run
    assert(Dedup.dupClusters(spark, sf).count() > 0)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqeBefore)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === partsBefore)
  }

  test("unionFindFits: the 4M-edge gate at its edges, overflow-safe far above") {
    val max = Dedup.PropagateUnionFindMaxEdges
    val noCount = () => fail("vertex count alone decides; sym.count() must not run")
    assert(Dedup.unionFindFits(0L, noCount))
    // nVerts² ≤ bound: no edge count needed
    assert(Dedup.unionFindFits(2000L, noCount))
    // between √bound and bound the edge count decides, at sum == bound
    assert(Dedup.unionFindFits(2001L, () => max - 2001L))
    assert(!Dedup.unionFindFits(2001L, () => max - 2000L))
    assert(Dedup.unionFindFits(max, () => 0L))
    assert(!Dedup.unionFindFits(max, () => 1L))
    // above the bound: never, and never counted — nVerts² and nSym + nVerts
    // used to wrap negative here and admit any large graph
    assert(!Dedup.unionFindFits(max + 1L, noCount))
    assert(!Dedup.unionFindFits(3100000000L, noCount))
    assert(!Dedup.unionFindFits(Long.MaxValue / 2, noCount))
    assert(!Dedup.unionFindFits(Long.MaxValue, noCount))
  }

  test("edgeAlarm: silent at 5,000,000 buffered edges, names the count past it") {
    import graft.functions.ComponentsAggregator.{AlarmEdgeCount, edgeAlarm}
    assert(AlarmEdgeCount === 5000000)
    assert(edgeAlarm(5000000) === None)
    val warning = edgeAlarm(5000001)
    assert(warning.exists(_.contains("buffered 5000001 edges")), warning)
  }
}
