package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Artifact, Stage, Tables}
import graft.functions.{TextFns, VectorFns}

/** Deduplication operators for a training-data pipeline, over `documents`
  * (text) and `embeddings` (vectors):
  *
  *  - exact dedup: content fingerprint (md5) + per-group rank
  *  - MinHash + LSH banding: shingle → 8 minhash values → 4 bands →
  *    bucket-join candidates → exact-Jaccard verification
  *  - SimHash: 16-bit weighted signature from per-token md5 nibbles
  *  - n-gram Jaccard: exact similarity over 3-token shingle sets, candidates
  *    restricted to pairs sharing ≥1 shingle (inverted-index join)
  *  - embedding near-dup: sign-bit LSH buckets → in-bucket cosine
  *
  * Scale posture: nothing here is all-pairs. Candidates always come from an
  * equi-join on a bucket/shingle key, so cost tracks the true near-dup
  * density, not n². Skewed buckets (a shingle shared by every doc) are the
  * risk at 100 TB — AQE skew-join handles moderate skew; beyond that pass
  * `maxShingleDf` to minhashNearDups/ngramJaccardDups: candidate
  * generation drops top-frequency shingles like stop-words
  * (cappedShingles) while verification keeps full sets.
  *
  * Hash determinism: every hash is md5 over an explicit string — identical
  * in any engine — and MinHash minima compare md5 hex strings
  * lexicographically (fixed width ⇒ string order = numeric order), so the
  * DuckDB oracles reproduce signatures bit-for-bit.
  */
object Dedup {

  val MinhashHashes = 8
  val MinhashBands = 4 // 2 hashes per band

  /** Shingle width. 5 tokens, not the textbook 3: this corpus draws from a
    * ~31-word vocabulary, so 3-gram shingle sets give *random* doc pairs
    * Jaccard ≈ 0.3 and LSH banding degenerates into ~all-pairs (measured:
    * 41 s at sf0.1). 5-grams push baseline similarity to ~0 while planted
    * near-dups (token-level j ≥ 0.9) stay far above the 0.5 threshold.
    */
  val ShingleSize = 5

  private[graft] val cache = Artifact.relation("Dedup.cache", Artifact.Index)

  /** Distinct (doc_id, shingle) where shingle = ShingleSize consecutive
    * tokens of the cleaned, lowercased text. Shorter docs drop out.
    */
  def shingles(spark: SparkSession, dir: String): DataFrame =
    cache(spark, dir) {
      shinglesOf(Tables.documents(spark, dir))
    }

  private[graft] val dfCache = Artifact.relation("Dedup.dfCache", Artifact.Index)

  /** Cached per-shingle document frequency — an INDEX ARTIFACT (a
    * per-item precomputed structure, the same cache class as the
    * signature and tf-idf weight relations: what a deployed engine
    * persists next to its shingle index). One hash aggregate over the
    * cached shingle relation; q76's span coverage and q103's
    * heavy-hitter report both read it (q103 twice — the exact ranking
    * and the CMS grid build share the lineage).
    */
  def shingleDf(spark: SparkSession, dir: String): DataFrame =
    dfCache(spark, dir) {
      shingles(spark, dir)
        .groupBy("shingle").agg(count(lit(1)).as("df"))
    }

  /** Distinct (doc_id, shingle) from a free-standing (doc_id, text)
    * relation — THE single definition of the shingle pipeline, shared by
    * the dir-cached path above and the streaming ingest, so the two can
    * never drift apart. Native Generator (plans.ShingleGenerator) — emits
    * one row per k-token window straight from the token array. (History:
    * an intermediate array column under a when() made Catalyst
    * re-evaluate the tokenize pipeline inside a transform lambda, 26 s vs
    * 2.5 s at sf0.1; the composable explode(shingleArray(...)) form is
    * kept in TextFns and differentially tested against this generator.)
    */
  def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextFns.tokenize(col("text")).as("toks"))
      .select(col("doc_id"),
        graft.plans.ShingleGenerator.shingles(col("toks"), ShingleSize).as("shingle"))
      .distinct()

  /** Shingles with document frequency capped at `maxDf` — the skew escape
    * hatch for 100 TB corpora, implemented (not just documented): a
    * boilerplate shingle shared by millions of docs (license headers,
    * navigation chrome) turns the band/posting equi-join into a quadratic
    * hot bucket; dropping it BEFORE candidate generation is the shingle
    * analogue of a stop-word list. Used for candidates only — Jaccard
    * verification still runs on FULL shingle sets — so output pairs are
    * unchanged for any pair that still shares one surviving shingle/band;
    * the deliberate trade is losing pairs whose ONLY similarity is
    * boilerplate (which is the point). One extra hash-agg + semi-join,
    * both on the already-persisted shingle relation.
    */
  private[graft] val cappedCache = Artifact.relation("Dedup.cappedCache", Artifact.Index)

  def cappedShingles(spark: SparkSession, dir: String, maxDf: Long): DataFrame =
    // persisted per (session, dir, cap): consumers reference the capped
    // relation on BOTH sides of their self-joins, and re-aliased exprIds
    // defeat exchange reuse — without the cache the df hash-agg +
    // semi-join would execute once per side
    cappedCache(spark, dir, maxDf) {
      val sh = shingles(spark, dir)
      val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("shingle")
      sh.join(rare, Seq("shingle"), "left_semi")
    }

  private[graft] val fpCache = Artifact.relation("Dedup.fpCache", Artifact.Index)

  /** Cached (doc_id, fp = md5(text)) — THE one fingerprint scan over the
    * corpus text, shared by exactDedup (q21), the collapse cost probe
    * (hasVerbatimDups) and the representative map (verbatimReps). Before
    * this was unified, the dedup ladder md5'd the full text three separate
    * times; at 100 TB each of those is a whole corpus pass, so the three
    * consumers now read one persisted (id, 32-hex) relation instead.
    */
  private[graft] def fingerprints(spark: SparkSession, dir: String): DataFrame =
    fpCache(spark, dir) {
      Tables.documents(spark, dir)
        .select(col("doc_id"), fingerprintOf(col("text")).as("fp"))
    }

  /** q21's content fingerprint of a text column — also the key of the
    * streaming exact-dedup landing (StreamingOps.dedupedIngest).
    */
  private[graft] def fingerprintOf(text: Column): Column = md5(text)

  /** Exact dedup by content hash: fingerprint, copies per group, rank of
    * this doc within its group (rank 1 = canonical survivor).
    */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val byFp = Window.partitionBy("fp")
    fingerprints(spark, dir)
      .withColumn("n_copies", count(lit(1)).over(byFp))
      .withColumn("dup_rank",
        row_number().over(byFp.orderBy("doc_id")).cast("long"))
      .orderBy("doc_id")
  }

  private[graft] val sigCache = Artifact.relation("Dedup.sigCache", Artifact.Index)

  /** Per-doc MinHash signature: h_i = min over shingles of md5("i|"+shingle),
    * i ∈ [0,8). Fixed-width hex ⇒ lexicographic min = numeric min. Persisted:
    * the LSH band self-join references it on both sides.
    */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    sigCache(spark, dir) {
      signaturesOfShingles(shingles(spark, dir))
    }

  /** MinHash signatures from a (doc_id, shingle) relation — the single
    * definition shared by the cached and streaming paths.
    */
  def signaturesOfShingles(sh: DataFrame): DataFrame = {
    val aggs = (0 until MinhashHashes).map(i =>
      min(md5(concat(lit(s"$i|"), col("shingle")))).as(s"h$i"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** (doc_id, band, bucket): bucket = md5 of the band's concatenated
    * signature pair. Docs agreeing on ANY band become candidates.
    */
  def minhashBands(spark: SparkSession, dir: String): DataFrame =
    bandsOfSignatures(minhashSignatures(spark, dir))

  private def bandsOfSignatures(sigs: DataFrame): DataFrame = {
    val buckets = (0 until MinhashBands).map(k =>
      struct(lit(k).as("band"), md5(concat(col(s"h${2 * k}"), col(s"h${2 * k + 1}"))).as("bucket")))
    sigs.select(col("doc_id"), explode(array(buckets: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Band buckets computed directly from a free-standing (doc_id, text)
    * relation — composed from the SAME shingle/signature/band definitions
    * as the cached corpus path, for callers that don't read from a table
    * dir (e.g. the streaming near-dup ingest working micro-batch by
    * micro-batch).
    */
  def bandBucketsFor(docs: DataFrame): DataFrame =
    bandsOfSignatures(signaturesOfShingles(shinglesOf(docs)))

  private[graft] val repFlagCache = Artifact.value[Boolean]("Dedup.repFlagCache", Artifact.Index)
  private[graft] val repsCache = Artifact.relation("Dedup.repsCache", Artifact.Index)

  /** Is the representative collapse worth its overhead here? The collapse
    * is a pure cost trade — identical texts have identical band sets, so
    * the un-collapsed path returns the SAME relation (they become mutual
    * candidates and verify at Jaccard 1) — so the guard is a cost model,
    * not a semantics switch: collapse iff the duplicate-induced quadratic
    * band-join work, Σ group_size² over verbatim groups, is at least 2×
    * the linear row count. One cheap cached aggregate decides it. A
    * dup-light corpus (the common case — real pipelines exact-dedup
    * first; sf0.1 has 8 dups in 5000 docs) skips the rep window, the rep
    * semi-join, and both expansion joins entirely; the 10× verbatim smoke
    * (Σ group² = 10·n) still collapses.
    */
  private[graft] def hasVerbatimDups(spark: SparkSession, dir: String): Boolean =
    repFlagCache(spark, dir) {
      val r = fingerprints(spark, dir)
        .groupBy("fp").agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum(col("cnt") * col("cnt")), lit(0L)).as("sq"),
          coalesce(sum(col("cnt")), lit(0L)).as("n"))
        .head()
      // n == 0 (empty corpus): no dups, and the coalesce keeps the empty
      // SUM from NPE-ing the probe
      r.getLong(1) > 0 && r.getLong(0) >= 2 * r.getLong(1)
    }

  /** (doc_id, rep_id): rep = min doc_id among verbatim-identical texts —
    * the exact-dedup pass (q21 shape) applied INSIDE the near-dup
    * operators. Identical texts have identical shingle sets, hence
    * identical signatures, candidates, and Jaccard values, so computing
    * candidates + verification on representatives only and expanding pairs
    * afterwards returns the EXACT same relation while collapsing the
    * worst case (a corpus full of verbatim copies) from cluster-quadratic
    * join work to representative-level work plus output expansion
    * (measured by the 10× ScaleSmoke, round-2 notes). Only built (and
    * persisted — three consumers) when hasVerbatimDups says it matters.
    *
    * groupBy + join, NOT a window over the dup group: min() gets map-side
    * partial aggregation, so a corpus with one text duplicated 10⁹×
    * reduces per-partition before the shuffle instead of dragging the
    * whole group into a single window partition. Same shape as the
    * embedding side's `embeddingRepMap`.
    */
  private def verbatimReps(spark: SparkSession, dir: String): DataFrame =
    repsCache(spark, dir) {
      val fp = fingerprints(spark, dir)
      fp.join(fp.groupBy("fp").agg(min("doc_id").as("rep_id")), Seq("fp"))
        .select("doc_id", "rep_id")
    }

  /** `rel`'s rows of verbatim representatives when `collapse` (the
    * representative-collapsed ladder), `rel` unchanged otherwise.
    */
  private def repsOnly(spark: SparkSession, dir: String, collapse: Boolean,
      rel: DataFrame): DataFrame =
    if (!collapse) rel
    else rel.join(
      verbatimReps(spark, dir)
        .filter(col("doc_id") === col("rep_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** Expand representative-level verified pairs back to all member pairs:
    * cross pairs inherit the reps' (inter, uni) verbatim; within-group
    * pairs are identical sets (inter = uni = shingle count; groups whose
    * docs have no shingles produce no pairs, matching the direct path).
    */
  private def expandVerbatim(spark: SparkSession, dir: String,
      reps: DataFrame, repPairs: DataFrame): DataFrame = {
    val m = reps.select(col("doc_id").as("m_id"), col("rep_id"))
    val cross = repPairs
      .join(m.select(col("rep_id").as("doc_a"), col("m_id").as("ma")), Seq("doc_a"))
      .join(m.select(col("rep_id").as("doc_b"), col("m_id").as("mb")), Seq("doc_b"))
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"),
        col("inter"), col("uni"))
    val sizes = shingles(spark, dir).groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val within = m.as("x")
      .join(m.as("y"),
        col("x.rep_id") === col("y.rep_id") && col("x.m_id") < col("y.m_id"))
      .join(sizes.select(col("doc_id").as("rid"), col("sz")),
        col("x.rep_id") === col("rid"))
      .select(col("x.m_id").as("doc_a"), col("y.m_id").as("doc_b"),
        col("sz").as("inter"), col("sz").as("uni"))
    cross.union(within).orderBy("doc_a", "doc_b")
  }

  /** LSH candidate pairs verified by exact Jaccard ≥ 0.5 (2·∩ ≥ ∪).
    * Output: (doc_a, doc_b, inter, uni) — integer-exact, no float compare.
    * When verbatim duplicates exist, candidates + verification run on
    * representatives only and expand back afterwards; otherwise the
    * collapse machinery vanishes from the plan entirely.
    */
  def minhashNearDups(spark: SparkSession, dir: String,
      maxShingleDf: Option[Long] = None): DataFrame =
    if (hasVerbatimDups(spark, dir))
      expandVerbatim(spark, dir, verbatimReps(spark, dir),
        repNearDupPairs(spark, dir, collapse = true, maxShingleDf))
    else
      repNearDupPairs(spark, dir, collapse = false, maxShingleDf)
        .orderBy("doc_a", "doc_b")

  /** MinHash estimator calibration — the diagnostic that justifies the
    * LSH parameters (8 hashes, 4 bands): for every band-collision
    * candidate pair, the signature-agreement estimate n_agree/8 of the
    * Jaccard similarity next to the EXACT shingle Jaccard inter/uni, and
    * their signed error. A pipeline re-runs this on a corpus sample
    * whenever the banding scheme changes; systematic positive error
    * means the band count is too permissive for the corpus's similarity
    * profile.
    *
    * Candidates come from the same distinct band-bucket self-join as the
    * dedup ladder (never all-pairs; a bucket match implies a shared
    * min-shingle, so inter ≥ 1 by construction). Signatures are the
    * cached q22 relation — both sides of the agreement join reuse it.
    * All columns are integers except the error, rounded to 6 decimals
    * (n_agree/8 is an exact eighth; inter/uni is one double divide —
    * both engines compute them identically).
    *
    * Verbatim-duplicate collapse (round 12): identical texts have
    * identical signatures AND identical shingle sets, so every member-
    * level calibration row is DERIVABLE from its rep pair — cross-group
    * pairs inherit the rep pair's (n_agree, inter, uni, est_err)
    * verbatim, within-group pairs are the degenerate perfect-estimate row
    * (all hashes agree, inter = uni = |shingles|, est_err = 0). The
    * un-collapsed path computed exactly these values per member pair; the
    * 100× replication smoke showed that form is quadratic-in-copies
    * through the pair×shingle verify join (8 GiB heap exhausted by spill-
    * reader buffers at ~27M candidate pairs × shingle expansion), so like
    * q23/q90 the exact verify now runs on representatives only and the
    * member rows are produced by expansion joins. Same relation, rep-
    * level compute; dup-free corpora skip the machinery entirely.
    */
  /** Longest shared contiguous shingle run per verified near-dup pair
    * (q90) — the positional span signal of ExactSubstr-style dedup (Lee
    * et al. 2022): set-level Jaccard (q23) says HOW MUCH two docs share;
    * this says whether it's one long verbatim block or scattered
    * phrases, which decides cut-the-span vs drop-the-doc. Position
    * matches on a shared shingle lie on diagonals (pa − pb); a run is a
    * gaps-and-islands group (pa − row_number within the diagonal), and
    * the answer is the max run, reported in shingles and tokens.
    *
    * Cost: positional joins run ONLY over verified near-dup pairs — the
    * quadratic is bounded by the dedup ladder's output, never the
    * corpus. The windows partition by (pair, diagonal), so no partition
    * exceeds one document's shingle count.
    */
  def sharedSpans(spark: SparkSession, dir: String): DataFrame = {
    val spans =
      if (!hasVerbatimDups(spark, dir))
        enumSharedSpans(spark, dir,
          repNearDupPairs(spark, dir, collapse = false).select("doc_a", "doc_b"))
      else {
        // Verbatim members share their rep's TEXT, so they share its spans:
        // enumerate positions only between REPS, then expand — cross-group
        // member pairs inherit the rep pair's run verbatim, within-group
        // pairs (identical texts) run the full positional shingle count.
        // Mirrors expandVerbatim's pair domain exactly (within-pairs exist
        // iff the rep has shingles).
        val m = verbatimReps(spark, dir).select(col("doc_id").as("m_id"), col("rep_id"))
        val repSpans = enumSharedSpans(spark, dir,
          repNearDupPairs(spark, dir, collapse = true).select("doc_a", "doc_b"))
        val cross = repSpans
          .join(m.select(col("rep_id").as("doc_a"), col("m_id").as("ma")), Seq("doc_a"))
          .join(m.select(col("rep_id").as("doc_b"), col("m_id").as("mb")), Seq("doc_b"))
          .select(least(col("ma"), col("mb")).as("doc_a"),
            greatest(col("ma"), col("mb")).as("doc_b"), col("max_run"))
        val posCount = Tables.documents(spark, dir)
          .select(col("doc_id"),
            (size(TextFns.tokenize(col("text"))) - (ShingleSize - 1)).cast("long").as("pn"))
          .filter(col("pn") >= 1)
          .join(shingles(spark, dir).select("doc_id"), Seq("doc_id"), "left_semi")
        val within = m.as("x")
          .join(m.as("y"),
            col("x.rep_id") === col("y.rep_id") && col("x.m_id") < col("y.m_id"))
          .join(posCount.select(col("doc_id").as("rid"), col("pn")),
            col("x.rep_id") === col("rid"))
          .select(col("x.m_id").as("doc_a"), col("y.m_id").as("doc_b"),
            col("pn").as("max_run"))
        cross.union(within)
      }
    spans
      .select(col("doc_a"), col("doc_b"), col("max_run"),
        (col("max_run") + lit(ShingleSize - 1)).cast("long").as("span_tokens"))
      .orderBy("doc_a", "doc_b")
  }

  /** Doc-level positional run enumeration over a given pair set (UNSORTED,
    * max_run only — sharedSpans adds the token form and the edge sort).
    */
  private[graft] def enumSharedSpans(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    // tokenize ONLY pair endpoints: the pair set is the dedup ladder's
    // output (collapse path: reps), so the positional pass touches a
    // near-dup-sized slice of the corpus, not all of it
    // staged once (r22, §5): the positional relation feeds BOTH pair-side
    // joins below, and the unstaged subtree re-ran the endpoint tokenize
    // + posexplode per reference; endpoint-sized, ContextCleaner-reclaimed
    val pos5 = Stage.now(Tables.documents(spark, dir)
      .join(pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), TextFns.tokenize(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(TextFns.shingleArray(col("toks"), ShingleSize))
          .as(Seq("pos", "shingle"))))
    val m = pairs
      .join(pos5.select(col("doc_id").as("doc_a"), col("pos").as("pa"),
        col("shingle")), Seq("doc_a"))
      .join(pos5.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
        col("shingle")), Seq("doc_b", "shingle"))
      .select(col("doc_a"), col("doc_b"), col("pa"),
        (col("pa") - col("pb")).as("diag"))
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    m.withColumn("grp", col("pa") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(count(lit(1)).as("run"))
      .groupBy("doc_a", "doc_b")
      .agg(max("run").as("max_run"))
  }

  /** Cross-source duplication matrix (q93): verified near-dup pairs
    * attributed to the (source, source) cell of their two documents —
    * the syndication map that tells a curation team WHICH feeds copy
    * which (sources ordered within the pair so each undirected edge
    * lands in one cell). Cost is two broadcast-sized joins on doc_id
    * over the already-verified pair set plus one tiny aggregate.
    */
  def sourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select("doc_id", "source")
    minhashNearDups(spark, dir)
      .select("doc_a", "doc_b")
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** Near-dup graph census (q95): vertex, edge, and triangle counts over
    * the verified pair set — the graph-shape diagnostic that says whether
    * duplication is pairwise scatter (few triangles) or dense clique
    * clusters (triangles ≈ edges·degree): cliques mean verbatim
    * replication and the rep-collapse path pays off. Triangles come from
    * the standard two-join enumeration over the ordered edge list
    * (a<b<c counted once); all joins are keyed on doc ids and bounded by
    * the dedup ladder's output.
    */
  def dupGraphStats(spark: SparkSession, dir: String): DataFrame =
    if (!hasVerbatimDups(spark, dir))
      enumGraphStats(repNearDupPairs(spark, dir, collapse = false)
        .select("doc_a", "doc_b"))
    else {
      // Verbatim cliques make doc-level triangle enumeration cubic in the
      // clique size (the 10× smoke measured 18 s); count on the REP graph
      // and expand combinatorially instead, mirroring expandVerbatim's
      // semantics exactly: rep-edge (A,B) ⇒ complete bipartite s_A×s_B,
      // multi-member group with shingles ⇒ complete within-clique.
      //   vertices  = Σ s over (edge-endpoint reps ∪ shingled multi groups)
      //   edges     = Σ s_A·s_B over rep edges + Σ C(s,2) over multi groups
      //   triangles = Σ s_A·s_B·s_C  (rep triangles)
      //             + Σ C(s_A,2)·s_B + s_A·C(s_B,2)  (rep edges)
      //             + Σ C(s,3)  (multi groups)
      // All integer arithmetic. The oracle dirs are dup-light and never
      // take this branch; DedupSpec asserts it equals the doc-level
      // enumeration on a planted verbatim-copy corpus.
      val reps = verbatimReps(spark, dir)
      val sz = reps.groupBy("rep_id").agg(count(lit(1)).as("s"))
      val multi = sz.filter(col("s") >= 2)
        .join(shingles(spark, dir).select(col("doc_id").as("rep_id")).distinct(),
          Seq("rep_id"), "left_semi")
      val rp = repNearDupPairs(spark, dir, collapse = true)
        .select("doc_a", "doc_b")
      val withSz = rp
        .join(sz.select(col("rep_id").as("doc_a"), col("s").as("sa")), Seq("doc_a"))
        .join(sz.select(col("rep_id").as("doc_b"), col("s").as("sb")), Seq("doc_b"))
      val vreps = rp.select(col("doc_a").as("rep_id"))
        .union(rp.select(col("doc_b").as("rep_id")))
        .union(multi.select("rep_id")).distinct()
        .join(sz, Seq("rep_id"))
      val triRep = rp.as("e1")
        .join(rp.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
        .join(rp.as("e3"),
          col("e1.doc_a") === col("e3.doc_a") && col("e2.doc_b") === col("e3.doc_b"))
        .select(col("e1.doc_a").as("a"), col("e1.doc_b").as("b"),
          col("e2.doc_b").as("c"))
        .join(sz.select(col("rep_id").as("a"), col("s").as("sa")), Seq("a"))
        .join(sz.select(col("rep_id").as("b"), col("s").as("sb")), Seq("b"))
        .join(sz.select(col("rep_id").as("c"), col("s").as("sc")), Seq("c"))
        .agg(coalesce(sum(col("sa") * col("sb") * col("sc")), lit(0L)).as("t3"))
      vreps.agg(coalesce(sum("s"), lit(0L)).as("n_vertices"))
        .crossJoin(withSz.agg(
          coalesce(sum(col("sa") * col("sb")), lit(0L)).as("ce"),
          coalesce(sum(expr("(sa * (sa - 1) div 2) * sb + sa * (sb * (sb - 1) div 2)")),
            lit(0L)).as("t2")))
        .crossJoin(multi.agg(
          coalesce(sum(expr("s * (s - 1) div 2")), lit(0L)).as("we"),
          coalesce(sum(expr("s * (s - 1) * (s - 2) div 6")), lit(0L)).as("t1")))
        .crossJoin(triRep)
        .select(col("n_vertices"), (col("ce") + col("we")).as("n_edges"),
          (col("t3") + col("t2") + col("t1")).as("n_triangles"))
        .orderBy("n_vertices")
    }

  /** Doc-level triangle enumeration — the dup-free path (every group is a
    * singleton, so the blow-up the collapse path avoids cannot occur).
    */
  private[graft] def enumGraphStats(e: DataFrame): DataFrame = {
    val verts = e.select(col("doc_a").as("v"))
      .union(e.select(col("doc_b").as("v"))).distinct()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
      .join(e.as("e3"),
        col("e1.doc_a") === col("e3.doc_a") && col("e2.doc_b") === col("e3.doc_b"))
      .select(col("e1.doc_a"))
    verts.agg(count(lit(1)).as("n_vertices"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
      .orderBy("n_vertices")
  }

  def minhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    val out =
      if (!hasVerbatimDups(spark, dir)) calibrationRows(spark, dir, collapse = false)
      else {
        // rep-level exact calibration, expanded back to member pairs —
        // identical texts ⇒ identical signatures and shingle sets, so
        // cross-group members inherit their rep pair's row verbatim and
        // within-group pairs are the perfect-estimate row (groups whose
        // docs have no shingles have no signature, hence no collisions —
        // the sizes join encodes that, matching the direct path)
        val m = verbatimReps(spark, dir).select(col("doc_id").as("m_id"), col("rep_id"))
        val repCal = calibrationRows(spark, dir, collapse = true)
        val cross = repCal
          .join(m.select(col("rep_id").as("doc_a"), col("m_id").as("ma")), Seq("doc_a"))
          .join(m.select(col("rep_id").as("doc_b"), col("m_id").as("mb")), Seq("doc_b"))
          .select(least(col("ma"), col("mb")).as("doc_a"),
            greatest(col("ma"), col("mb")).as("doc_b"),
            col("n_agree"), col("inter"), col("uni"), col("est_err"))
        val sizes = shingles(spark, dir).groupBy("doc_id").agg(count(lit(1)).as("sz"))
        val within = m.as("x")
          .join(m.as("y"),
            col("x.rep_id") === col("y.rep_id") && col("x.m_id") < col("y.m_id"))
          .join(sizes.select(col("doc_id").as("rid"), col("sz")),
            col("x.rep_id") === col("rid"))
          .select(col("x.m_id").as("doc_a"), col("y.m_id").as("doc_b"),
            lit(MinhashHashes.toLong).as("n_agree"),
            col("sz").as("inter"), col("sz").as("uni"), lit(0.0).as("est_err"))
        cross.union(within)
      }
    out.orderBy("doc_a", "doc_b")
  }

  /** The member-level calibration computation (candidates → signature
    * agreement → exact Jaccard) over the full corpus or, with `collapse`,
    * over verbatim representatives only (minhashCalibration expands the
    * rep rows back).
    */
  private def calibrationRows(spark: SparkSession, dir: String,
      collapse: Boolean): DataFrame = {
    val bands = repsOnly(spark, dir, collapse, minhashBands(spark, dir))
    // the same materialize-then-prune device as repNearDupPairsUncached
    // (r22, §3.2 + §5): checkpoint the pair relation once (the band
    // self-join is the expensive subtree), prune the shingle relation to
    // candidate docs, checkpoint the pruned copy (three references read
    // it). No explicit free — unlike the memoized pairs relation nothing
    // pins these frames, so the ContextCleaner reclaims the blocks once
    // the returned frame is dropped (the withSeededPrefixSum precedent).
    val cands = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val sigs = minhashSignatures(spark, dir)
    val agree = (0 until MinhashHashes)
      .map(i => when(col(s"sa.h$i") === col(s"sb.h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val withAgree = Stage.now(cands
      .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), agree.as("n_agree")))
    val candDocs = withAgree.select(col("doc_a").as("doc_id"))
      .union(withAgree.select(col("doc_b").as("doc_id")))
      .distinct()
    val sh = Stage.now(shingles(spark, dir)
      .join(candDocs, Seq("doc_id"), "left_semi"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = withAgree
      .join(sh.as("ja"), col("doc_a") === col("ja.doc_id"))
      .join(sh.as("jb"),
        col("doc_b") === col("jb.doc_id") && col("ja.shingle") === col("jb.shingle"))
      .groupBy("doc_a", "doc_b", "n_agree").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .select(col("doc_a"), col("doc_b"), col("n_agree"), col("inter"), col("uni"),
        round(col("n_agree").cast("double") / MinhashHashes -
          col("inter").cast("double") / col("uni"), 6).as("est_err"))
  }

  /** Verified near-dup pairs from the LSH band-bucket candidate join +
    * exact Jaccard; with `collapse` the join is restricted to one doc per
    * identical-text group. `maxShingleDf` reroutes banding through the
    * df-capped shingles (signatures recomputed on the capped sets; the
    * cached full-corpus signatures stay untouched for q22).
    */
  /** Memoized rep-level verified pairs: the relation feeds q23/q52/q54 and
    * the whole diagnostic family (q90/q93/q95), several of which consume
    * it more than once inside one plan — without the memo each consumer
    * re-runs the band join + Jaccard verify (the q95 rewrite measured 18 s
    * at the 10× smoke, ~5 recomputations of a ~3 s pipeline). Like the
    * cluster-label memo it is a RESULT, so Bench clears it between passes
    * (Caches.clearResultMemos) and each pass still pays for detection
    * exactly once.
    */
  private[graft] val pairsCache = Artifact.relation("Dedup.pairsCache", Artifact.Result)

  private def repNearDupPairs(spark: SparkSession, dir: String,
      collapse: Boolean, maxShingleDf: Option[Long] = None): DataFrame =
    pairsCache(spark, dir, collapse, maxShingleDf.getOrElse(-1L)) {
      repNearDupPairsUncached(spark, dir, collapse, maxShingleDf)
    }

  private def repNearDupPairsUncached(spark: SparkSession, dir: String,
      collapse: Boolean, maxShingleDf: Option[Long]): DataFrame = {
    val all = maxShingleDf match {
      case None      => minhashBands(spark, dir)
      case Some(cap) => bandsOfSignatures(
        signaturesOfShingles(cappedShingles(spark, dir, cap)))
    }
    val bands = repsOnly(spark, dir, collapse, all)
    // MATERIALIZE the band-self-join candidate relation once (r22, VERDICT
    // r21 item 1; guide §3.2 + §5): the r21 semi-join pre-filter was
    // rejected only because `cands` was an unmaterialized subtree that the
    // two extra prune references re-ran. localCheckpoint (eager) pays the
    // self-join exactly once; jaccardVerify can then prune the shingle
    // relation to candidate docs before the pair-keyed shuffles for free.
    // At 100 TB the band self-join is the most expensive subtree in the
    // dedup family — evaluating it once is the scale posture, the prune
    // cuts the verify shuffle to candidate docs' shingles only.
    val cands = Stage.now(bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct())
    // prune the shingle relation to candidate docs ONCE and materialize
    // the pruned copy too — the pruned subtree feeds three references
    // (both verify joins + the set sizes), and an unmaterialized prune
    // would re-run the semi-join per reference (the one-level-down twin
    // of the r21 cands rejection; measured r22: prune-without-checkpoint
    // read 3.35–3.49 s vs 2.64–3.06 baseline). Doc-level pruning keeps
    // every shingle of a kept doc, so sizes from the pruned copy are
    // exact.
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id")))
      .distinct()
    val shP = Stage.now(shingles(spark, dir)
      .join(candDocs, Seq("doc_id"), "left_semi"))
    // stage the verified pairs themselves, so both scratch checkpoints are
    // freed at fill time; the memo holds only the pairs' own blocks
    val pairs = Stage.now(jaccardVerify(spark, dir, cands, shingleSet = Some(shP)))
    Stage.free(cands)
    Stage.free(shP)
    pairs
  }

  /** Exact n-gram Jaccard near-dups with candidates = pairs sharing ≥1
    * shingle (posting-list self-join — the inverted index as a similarity
    * accelerator). Representative-collapsed like minhashNearDups, with the
    * same skip-when-dup-free guard.
    */
  def ngramJaccardDups(spark: SparkSession, dir: String,
      maxShingleDf: Option[Long] = None): DataFrame = {
    val collapse = hasVerbatimDups(spark, dir)
    val all = maxShingleDf.fold(shingles(spark, dir))(
      cappedShingles(spark, dir, _))
    val sh = repsOnly(spark, dir, collapse, all)
    val verified =
      if (maxShingleDf.isEmpty) {
        // Candidates and intersections fall out of the SAME posting-list
        // self-join: shingles are distinct per (doc_id, shingle), so the
        // per-pair match count IS |A∩B| — no distinct-candidates pass and
        // no re-join of the pair list against the shingle relation (the
        // two-phase form pays three extra pair-keyed shuffles for numbers
        // this one aggregate already determines). Valid because candidate
        // shingles == verification shingles here; the df-capped path
        // generates candidates on capped sets but verifies on FULL sets,
        // so it keeps the two-phase jaccardVerify.
        jaccardFinish(spark, dir,
          sh.as("x")
            .join(sh.as("y"),
              col("x.shingle") === col("y.shingle") &&
                col("x.doc_id") < col("y.doc_id"))
            .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
            .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter")))
      } else {
        val cands = sh.as("x")
          .join(sh.as("y"),
            col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .distinct()
        jaccardVerify(spark, dir, cands)
      }
    if (collapse) expandVerbatim(spark, dir, verbatimReps(spark, dir), verified)
    else verified.orderBy("doc_a", "doc_b")
  }

  /** Exact |A∩B| / |A∪B| for candidate pairs; keep Jaccard ≥ 0.5.
    * UNSORTED building block: consumers are joins (expandVerbatim,
    * dupClusterLabels' edge list) — a sort here would range-partition
    * every one of them; query edges sort for themselves.
    */
  private def jaccardVerify(spark: SparkSession, dir: String,
      cands: DataFrame, shingleSet: Option[DataFrame] = None): DataFrame = {
    // `shingleSet`: a MATERIALIZED doc-pruned shingle relation
    // (repNearDupPairsUncached's §3.2 semi-join prune). The r21 inline
    // prune was rejected because it referenced the unmaterialized
    // band-self-join twice more (QProbe 2.6–3.0 s → 3.9–4.5 s); the
    // checkpointed prune costs one tiny scan per reference, and the
    // pair-keyed verify shuffles carry candidate docs' shingles only
    // instead of the whole corpus.
    val sh = shingleSet.getOrElse(shingles(spark, dir))
    val inter = cands
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    jaccardFinish(spark, dir, inter, sizesOver = sh)
  }

  /** Shared tail of Jaccard verification: join per-doc set sizes onto a
    * per-pair intersection-count relation, derive the union, keep ≥ 0.5.
    * `sizesOver` lets a pruned caller compute the per-doc totals from the
    * candidate-doc subset (exact — pruning is doc-grained, never
    * shingle-grained); the inner joins below make non-candidate sizes
    * unreachable anyway.
    */
  private def jaccardFinish(spark: SparkSession, dir: String,
      inter: DataFrame, sizesOver: DataFrame = null): DataFrame = {
    val sizes = Option(sizesOver).getOrElse(shingles(spark, dir))
      .groupBy("doc_id").agg(count(lit(1)).as("sz"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select("doc_a", "doc_b", "inter", "uni")
  }

  /** Duplicate clusters: connected components over the verified near-dup
    * pairs (Jaccard ≥ 0.5 edges), labeled by the minimum doc_id in the
    * component — the step that turns pairwise matches into "keep one
    * canonical document per cluster".
    *
    * Distributed iterative min-label propagation (each round: every vertex
    * takes the min label among itself and its neighbors) — the standard
    * large-graph connected-components idiom; rounds needed = graph
    * diameter, and near-dup clusters are tiny cliques, so it converges in
    * 2–3 rounds. No driver-side union-find, no full edge list collected.
    */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    dupClusterLabels(spark, dir).orderBy("doc_id")

  private[graft] val clusterCache = Artifact.relation("Dedup.clusterCache", Artifact.Result)

  /** Converged (doc_id, component_id) labels, cached per (session, dir):
    * q52 and q54 both consume them, and the iterative computation is the
    * most expensive in the suite — the final relation is already
    * localCheckpoint-materialized, so caching it is free.
    */
  /** Distributed min-label propagation to a fixpoint: every vertex
    * iteratively takes the min label among itself and its neighbors —
    * connected components labeled by their minimum member id. `verts` is
    * a one-column (`doc_id`) vertex relation (deduplicated here); `sym`
    * is the symmetrized edge list (doc_a, doc_b), read once per round, so
    * callers should persist it. From round 3 each round also
    * pointer-doubles (label ← label(label)), so rounds needed =
    * O(log diameter) + 2, not diameter — the 10× verbatim-replicated
    * corpus that needed 14 neighbor-min rounds converges in ~10 with the
    * jump (measured in the round-9 notes; the jump composes
    * already-found minima, so its gain depends on where the min id sits
    * in the chain). Rounds 1–2 stay plain: the common case (tiny cliques,
    * 2-round convergence) can never profit from the jump, and the extra
    * join cost there regressed q52 by ~1 s warm at sf0.1 (round-10
    * adjudication). Shared by the shingle near-dup clusters
    * (q52) and the SemDeDup embedding clusters (q74). Returns
    * (doc_id, component_id), localCheckpoint-materialized.
    */
  /** One propagation round's pre-materialization relation
    * (doc_id, component_id, chg) — extracted from the loop so Plans can
    * dump the per-round physical plan: each round hides behind a
    * localCheckpoint, so the round's join/exchange structure appears in
    * NO final query plan and this is the only way to evidence it.
    * `jump` = the round-3+ pointer-doubling self-join (both sides share
    * the aggregate's exchange — ReusedExchange in the dump).
    */
  private[graft] def propagationRound(labels: DataFrame, sym: DataFrame,
      jump: Boolean): DataFrame = {
    // one round = ONE join (labels onto edge targets) + ONE aggregate:
    // each vertex's own label rides the union as a nbr=false row, so
    // the grouped min yields the new label, the min over nbr=false rows
    // recovers the old one, and the convergence flag falls out of their
    // comparison — no second per-round join. (Every vertex has exactly
    // one nbr=false row, so `oldc` is never null.)
    val stepped = labels
      .select(col("doc_id"), col("component_id"), lit(false).as("nbr"))
      .union(sym
        .join(labels, sym("doc_b") === labels("doc_id"))
        .select(col("doc_a").as("doc_id"), col("component_id"),
          lit(true).as("nbr")))
      .groupBy("doc_id")
      .agg(min("component_id").as("newc"),
        min(when(!col("nbr"), col("component_id"))).as("oldc"))
    if (!jump)
      stepped.select(col("doc_id"), col("newc").as("component_id"),
        (col("newc") < col("oldc")).as("chg"))
    else
      // pointer-doubling: every label value is itself a vertex id (labels
      // start as verts and each round's mins are drawn from prior label
      // values), so label(label(v)) is total via an inner self-join — the
      // path to the component min halves each round. Both join sides
      // share the aggregate's exchange, so the extra cost is one tiny
      // hash join. CHAINING A SECOND jump (label³) was measured r21 and
      // REJECTED: on q74's 11-round embedding graph the round count did
      // not drop AT ALL (convergence there is limited by the neighbor-min
      // step carrying the component min INTO a region, which no
      // composition of already-known labels can accelerate) while the
      // extra join added ~0.1–0.2 s of fixed latency per round — QProbe
      // 3.4–4.4 s → 5.4–5.6 s warm. Rounds are data-dependent; the single
      // jump stays.
      stepped.as("x")
        .join(stepped.select(col("doc_id").as("jid"), col("newc").as("jc")),
          col("x.newc") === col("jid"))
        .select(col("x.doc_id").as("doc_id"), col("jc").as("component_id"),
          (col("jc") < col("x.oldc")).as("chg"))
  }

  /** Single-buffer bound for the r22 union-find fast path: symmetrized
    * edge rows + vertex self-edges must fit one aggregation buffer
    * (~56 B/edge heap + ~20 B/edge kryo ⇒ ≲ 250 MB at the bound — one
    * task, any executor). Above it the iterative propagation loop runs
    * unchanged.
    */
  private[graft] val PropagateUnionFindMaxEdges = 4000000L

  /** Whether the union-find fast path may run: the symmetrized edge count
    * plus `nVerts` self-edges ≤ PropagateUnionFindMaxEdges. `countSym`
    * (a Spark job) runs only when the vertex count cannot decide alone:
    * a graph with nVerts² ≤ bound has at most nVerts² - nVerts
    * symmetrized edges and always fits; nVerts > bound never fits. The
    * arithmetic cannot overflow — nVerts is ≤ bound before it is squared,
    * and the edge test subtracts rather than adds.
    */
  private[graft] def unionFindFits(nVerts: Long, countSym: () => Long): Boolean = {
    val max = PropagateUnionFindMaxEdges
    if (nVerts > max) false
    else if (nVerts * nVerts <= max) true
    else countSym() <= max - nVerts
  }

  private[graft] def propagateMinLabels(verts: DataFrame, sym0: DataFrame): DataFrame = {
    val base = sym0.sparkSession
    val vertsD = org.apache.spark.sql.GraftBridge.inSession(
      verts.distinct().withColumn("component_id", col("doc_id")), base)
    val nVerts = vertsD.count()
    // r22 SMALL-GRAPH FAST PATH: below UnionFindMaxEdges the whole edge
    // list fits one aggregation buffer, so a single-group run of the
    // r21 union-find UDAF (ComponentsAggregator — labels provably equal
    // min-label propagation: union-by-min roots every component at its
    // minimum member) replaces the O(rounds) loop's 2-jobs-per-round
    // fixed latency with ONE aggregate pass. Measured r22 at sf0.1: the
    // loop cost ~1.3–1.5 s of the q112/q52 memo build for a ~2k-vertex
    // rep graph. Isolated vertices ride as self-edges so every vert is
    // labeled, exactly like the loop's union branch. Above the bound the
    // iterative loop below is unchanged — the fast path is a sized
    // optimization, not a scalability claim. Job trims: nVerts² ≤ bound
    // makes the edge count provably safe without the sym.count() job,
    // and the fast path reads the tiny vertex relation twice instead of
    // paying the loop's seed checkpoint. The fast path sets no conf, so
    // it runs in the caller's session, not the loop's clone: each cloned
    // session gets its own executor class loader, Spark's codegen cache
    // keys on that loader, and a clone per call recompiled every class
    // its jobs ran (20 per warm q112 pass at sf0.1).
    if (!unionFindFits(nVerts, () => sym0.count())) propagationLoop(vertsD, sym0, nVerts)
    else Stage.now(sym0.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .union(vertsD.select(col("doc_id").as("a"), col("doc_id").as("b")))
      .agg(graft.functions.ComponentsAggregator
        .minLabelComponents(col("a"), col("b")).as("ls"))
      .select(explode(col("ls")).as("l"))
      .select(col("l._1").as("doc_id"), col("l._2").as("component_id")))
  }

  /** The iterative min-label loop behind [[propagateMinLabels]], for graphs
    * above the union-find bound. `vertsD` is the distinct seed (doc_id,
    * component_id = doc_id) of `nVerts` rows. Each round's labels are
    * staged with `Stage.now` and the round they supersede is freed, so on
    * return only the final round's blocks remain. `maxRounds` bounds the
    * rounds (component diameter; near-dup clusters are tiny): a graph still
    * changing after that many fails the call.
    */
  private[graft] def propagationLoop(vertsD: DataFrame, sym0: DataFrame,
      nVerts: Long, maxRounds: Int = 50): DataFrame = {
    // localCheckpoint (eager) both materializes the round's labels AND
    // truncates lineage — without it each round's plan stacks on the last
    // and replanning cost compounds with the iteration count.
    //
    // The loop runs on the CONTRACTED graph (rep-collapsed vertices), whose
    // per-round relations are orders smaller than the corpus — round plans
    // are scheduler-latency-bound, not data-bound. AQE's per-exchange query
    // stages add ~3 scheduler round-trips per round for nothing at that
    // size (measured: 0.30 s/round ckpt at 2k vertices, sf0.1), so the
    // loop executes in a conf-ISOLATED cloned session (same context,
    // shared cache manager — the caller's persisted `sym` blocks are
    // visible) with AQE off and shuffle partitions sized from the
    // measured vertex count: ~500k vertices per partition, UNCAPPED
    // above — tiny graphs stop paying 32-task stages per round, and a
    // billion-vertex rep graph gets ~2000 partitions regardless of the
    // session default (a cap at the default would pin large graphs to
    // the deployment's default, e.g. 32 on local[32]). Cloning instead
    // of set/restore keeps concurrent queries on the caller's session
    // planning under their own conf.
    val base = sym0.sparkSession
    val sess = org.apache.spark.sql.GraftBridge.cloneSession(base)
    val sym = org.apache.spark.sql.GraftBridge.inSession(sym0, sess)
    val loopParts = math.max(1L, (nVerts + 499999L) / 500000L).toString
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    sess.conf.set("spark.sql.shuffle.partitions", loopParts)
    var labels = Stage.now(org.apache.spark.sql.GraftBridge.inSession(vertsD, sess))
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // The jump is GATED to round 3+: near-dup components are
      // overwhelmingly tiny cliques that converge in 2 plain rounds, where
      // the doubling join can never save a round and its cost is pure
      // overhead — q52 warm regressed 1.24 → 2.2 s steady at sf0.1 under
      // always-jump (QProbe, round 10). A graph still unconverged entering
      // round 3 has diameter ≥ 3, exactly where doubling pays (q74's 10×
      // chain graph: 14 plain rounds → ~10 with the jump); the two plain
      // head rounds keep the budget O(log d) + 2.
      //
      // ONE round per checkpoint — two-round fusion measured SLOWER
      // (negative result, round 10; RE-ADJUDICATED round 11 after the
      // loop went AQE-off with vertex-sized partitions: still strictly
      // worse, q74 4.3 → 5.9 s steady). The inner round's aggregate
      // subtree feeds the outer round's union branch AND its edge join
      // (AND the jump join), and those consumers re-shuffle it
      // differently, so ReuseExchange can NOT dedup them — even at
      // single-task stage sizes the re-executed inner exchanges cost
      // more than the one checkpoint they save. Fixed overhead per round
      // is real but its remedy isn't plan fusion.
      val next = Stage.now(propagationRound(labels, sym, jump = rounds >= 2))
      converged = !next.agg(coalesce(max(col("chg")), lit(false)))
        .head().getBoolean(0)
      // `next` is eagerly materialized above, so the PREVIOUS round's
      // checkpoint blocks can be freed now
      Stage.free(labels)
      labels = next.select("doc_id", "component_id")
      rounds += 1
    }
    // fail loudly rather than return non-minimal labels for a pathological
    // long-chain component, and leave no round's blocks behind
    if (!converged) Stage.free(labels)
    require(converged, s"label propagation did not converge in $maxRounds rounds")
    // hand the converged labels back bound to the CALLER's session — the
    // loop session (and its conf) ends with this call; the checkpointed
    // blocks are context-level and stay valid
    org.apache.spark.sql.GraftBridge.inSession(labels, base)
  }

  /** The (verts, symmetrized-edges) graph q52/q54 propagate over —
    * extracted so Plans can dump a propagation round's plan against the
    * REAL graph relations. Callers persist `sym` (it's read once per
    * round).
    */
  private[graft] def dupClusterGraph(spark: SparkSession, dir: String,
      collapse: Boolean): (DataFrame, DataFrame) = {
    val edges = repNearDupPairs(spark, dir, collapse).select("doc_a", "doc_b")
    val sym = edges.union(edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    // vertex set: edge endpoints PLUS reps of multi-member groups that
    // have shingles — their members form within-group pairs in the
    // expanded relation even when the rep has no cross-rep edge
    val endpoints = sym.select(col("doc_a").as("doc_id"))
    val verts =
      if (!collapse) endpoints
      else endpoints.union(
        verbatimReps(spark, dir)
          .groupBy("rep_id").agg(count(lit(1)).as("nm"))
          .filter(col("nm") > 1)
          .select(col("rep_id").as("doc_id"))
          .join(shingles(spark, dir).select("doc_id"), Seq("doc_id"), "left_semi"))
    (verts, sym)
  }

  private def dupClusterLabels(spark: SparkSession, dir: String): DataFrame =
    clusterCache(spark, dir) {
    // Propagate on the REPRESENTATIVE graph and expand member labels at
    // the end: identical texts are by construction in one component, and
    // the component's min doc_id IS its min rep_id (every member ≥ its
    // group's rep), so rep-level labels expanded through the membership
    // map equal doc-level labels — at a fraction of the per-round join
    // size when verbatim copies exist. Dup-free corpora skip the rep
    // machinery (vertices = edge endpoints, no final expansion join).
    val collapse = hasVerbatimDups(spark, dir)
    val (verts, sym0) = dupClusterGraph(spark, dir, collapse)
    val labels = Stage.using(sym0)(propagateMinLabels(verts, _))
    // expand rep-level labels to every member of each labeled group; once
    // the expansion is checkpointed, the loop-final rep-level checkpoint
    // can be freed (it would otherwise outlive Caches.clear, which only
    // sees the returned DataFrame). Dup-free corpora: the labels already
    // ARE doc-level — return them as-is.
    if (!collapse) labels
    else {
      val expanded = Stage.now(labels
        .join(verbatimReps(spark, dir).select(col("doc_id").as("m_id"), col("rep_id")),
          labels("doc_id") === col("rep_id"))
        .select(col("m_id").as("doc_id"), col("component_id")))
      Stage.free(labels)
      expanded
    }
  }

  /** End-to-end dedup materialization: EVERY document labeled with its
    * near-dup component and whether it is the canonical survivor (minimum
    * doc_id of its component; docs in no cluster survive trivially). This
    * is the relation a 100 TB pipeline filters on before training — and
    * the 10× ScaleSmoke (round-2 notes) shows the right ORDER at scale:
    * collapse verbatim copies with exactDedup first, then run the LSH
    * near-dup ladder on the collapsed corpus, then this.
    */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame =
    survivorsRaw(spark, dir).orderBy("doc_id")

  /** UNSORTED survivor relation — building-block form for pipeline
    * compositions (TextAnalysis.trainCorpus); q54 sorts at its edge.
    */
  private[operators] def survivorsRaw(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select("doc_id")
      .join(dupClusterLabels(spark, dir), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component_id"), col("doc_id")).as("component_id"),
        (coalesce(col("component_id"), col("doc_id")) === col("doc_id"))
          .as("kept"))

  /** Packed-key base for the q112 quality-keeper MAX; doc_id < KeeperPack
    * for any corpus this runs on (10⁹ documents per shard — the pack is
    * per-key arithmetic, so a larger deployment just widens the base).
    * key = n_chars·KeeperPack − doc_id stays ≪ 2⁵² for any real n_chars,
    * so even a double-typed fold is exact.
    */
  val KeeperPack = 1000000000L

  /** Quality-aware canonical selection (q112) — which document to KEEP in
    * each near-dup cluster. q52/q54 keep the minimum doc_id; a real
    * pipeline keeps the best member — here the LONGEST (max n_chars, the
    * standard keep-the-superset rule for near-dups, where members differ
    * by truncation/boilerplate), tie-broken by minimum doc_id. Both
    * criteria ride one packed 64-bit MAX (n_chars·B − doc_id), so the
    * aggregate is a plain numeric max in both engines — no max_by tie
    * ambiguity, no second pass.
    *
    * Scale shape: one hash aggregate over the cached cluster-label
    * relation joined to the narrow (doc_id, n_chars) projection — the
    * join key is doc_id on two co-typed child relations, the groupBy
    * shuffles one long per clustered doc, and unclustered docs never
    * enter (they keep themselves trivially, q54's coalesce).
    */
  def clusterKeepers(spark: SparkSession, dir: String): DataFrame = {
    val B = KeeperPack
    val key = col("n_chars") * B - col("doc_id")
    // ceil(key/B) recovers n_chars (0 ≤ doc_id < B ⇒ key ∈ ((n−1)B, nB]);
    // `div` is INTEGER division on longs — exact for any packed value,
    // no 2^53 double cliff (review finding: the subtract-remainder /
    // double-division idiom would silently round for n_chars > ~9e6)
    val nChars = expr(s"(k + ${B - 1}L) div ${B}L")
    dupClusterLabels(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"),
        col("n_chars").cast("long").as("n_chars")), Seq("doc_id"))
      .groupBy("component_id")
      // max(doc_id) rides the same aggregate (one extra long per group) to
      // enforce the doc_id < KeeperPack precondition LOUDLY: an external
      // corpus with 10⁹+ ids would otherwise silently unpack a wrong
      // keeper from the overflowed key (advice r12). assert_true returns
      // null when the guard holds, so the `when` below is the identity on
      // valid input and a per-group runtime error on invalid.
      .agg(count(lit(1)).as("n_members"), max(key).as("k"),
        max(col("doc_id")).as("max_doc_id"),
        min(col("doc_id")).as("min_doc_id"))
      .select(col("component_id"), col("n_members"),
        when(assert_true(
            col("max_doc_id") < lit(B) && col("min_doc_id") >= lit(0L),
            lit(s"clusterKeepers: doc_id outside [0, $B) breaks the packed " +
              "keeper key — widen KeeperPack / shift ids for this corpus"))
            .isNull,
          (nChars * B - col("k")).cast("long")).as("keeper_doc_id"),
        nChars.as("keeper_n_chars"))
      .orderBy("component_id")
  }

  /** Per-distinct-token hash bits, packed: nibble j of md5(token) maps
    * LSB-first to signature bits 4j..4j+3, so `nibbles` consecutive md5
    * hex chars, reversed, ARE the packed little-endian value — one conv()
    * per token instead of per-bit substring/strpos chains. Evaluated on
    * the distinct-token relation (vocabulary-sized, Zipf ≪ corpus-sized)
    * and joined back onto the counts: the per-row aggregate work drops
    * from `bits` md5+substring+instr chains to `bits` shift/masks on a
    * long, and md5 runs |vocab| times, not |rows|·bits. No broadcast
    * hint: AQE broadcasts when the vocabulary is actually small, while a
    * forced broadcast of a web-scale vocabulary (Zipf bounds token
    * frequency, not vocabulary size) would OOM the driver.
    */
  private def tokenHashBits(counts: DataFrame,
      cols: (String, Int, Int)*): DataFrame =
    cols.foldLeft(counts.select("token").distinct()) {
      case (df, (name, startNibble, nibbles)) => df.withColumn(name, expr(
        s"cast(conv(reverse(substring(md5(token), ${startNibble + 1}, $nibbles)), 16, 10) as bigint)"))
    }

  /** `bits`-wide SimHash per doc, weighted by token frequency. Bit b
    * (nibble j=b/4 of md5(token), intra-nibble bit k=b%4, LSB-first)
    * accumulates qty·(±1); the signature sets bit b iff the accumulated
    * sum > 0. md5 has 32 nibbles = 128 independent ±1 draws, so any width
    * up to 62 (staying clear of the long sign bit) needs no second hash.
    */
  def simhashBits(spark: SparkSession, dir: String, bits: Int): DataFrame = {
    // 60, not 62: the packed per-token bits round up to whole nibbles, and
    // 16 nibbles could overflow the signed long conv() lands in; 15 nibbles
    // (60 bits) cannot. Wider signatures go through simhash64Bits.
    require(bits >= 1 && bits <= 60, "bits must fit 15 md5 nibbles; use simhash64Bits for 64")
    val counts = TokenPipeline.docTokenCounts(spark, dir)
    val nibbles = (bits + 3) / 4
    val sums = (0 until bits).map(b =>
      expr(s"sum(qty * (2 * ((tbits div ${1L << b}) % 2) - 1))").as(s"s$b"))
    val sig = (0 until bits)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    counts
      .join(tokenHashBits(counts, ("tbits", 0, nibbles)), "token")
      .groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), sig.cast("long").as("simhash"))
    // NO orderBy here: this is a building block (groups, banding) — a sort
    // would tax every consumer with a range partition; q24 sorts at its edge
  }

  private[graft] val simhashSigCache = Artifact.relation("Dedup.simhashSigCache", Artifact.Index)

  /** Cached per-(session, dir, width) SimHash signature relation — the
    * same index-artifact class as minhashSignatures/fingerprints (a
    * precomputable per-doc signature an engine keeps resident and every
    * banding/probing query reads), NOT a detection result: the pair
    * enumerations built FROM it re-run every bench pass. q24/q25 share
    * the 16-bit table, q53 the 32-bit, q57 the 64-bit two-long form
    * (bits = 64 routes to simhash64Bits).
    */
  def simhashSignature(spark: SparkSession, dir: String, bits: Int): DataFrame =
    simhashSigCache(spark, dir, bits) {
      (if (bits == 64) simhash64Bits(spark, dir)
       else simhashBits(spark, dir, bits))
    }

  /** 16-bit SimHash sorted for output (the q24 contract; collision groups
    * at 16 bits are q25's).
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashSignature(spark, dir, 16).orderBy("doc_id")

  /** SimHash collision groups: signatures shared by >1 doc (hamming-0
    * near-dups; planted ~0.97-Jaccard pairs collide at 16 bits).
    */
  def simhashGroups(spark: SparkSession, dir: String): DataFrame =
    simhashSignature(spark, dir, 16)
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"),
        array_join(transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string")), ",").as("doc_ids"))
      .filter(col("n_docs") > 1)
      .orderBy("simhash")

  /** SimHash near-dup pairs within hamming distance ≤ maxHamming — the
    * probing step real SimHash dedup needs beyond exact collisions
    * (simhashGroups only finds hamming-0). The (d+1)-band construction:
    * split the signature into `bands` ≥ maxHamming+1 contiguous bit
    * ranges; by pigeonhole, any pair within hamming ≤ d differs in at
    * most d bands, so it agrees EXACTLY on ≥ 1 — candidates come from a
    * band equi-join (never all-pairs) and are then verified with an
    * exact popcount of the XOR. Same candidates-from-buckets scale
    * posture as MinHash LSH. More bands = higher recall headroom (larger
    * d) but more candidates per doc; bands default to the minimal d+1.
    */
  def simhashNearPairs(sigs: DataFrame, maxHamming: Int = 3,
      bits: Int = 16, bands: Int = 0): DataFrame = {
    val nb = if (bands > 0) bands else maxHamming + 1
    require(maxHamming >= 1, "maxHamming must be at least 1")
    require(nb > maxHamming,
      s"pigeonhole full recall needs > maxHamming bands (got $nb bands for hamming <= $maxHamming)")
    require(bits >= nb && bits <= 62, "each band needs at least one bit; one long holds <= 62")
    // band k covers bits [k*bits/nb, (k+1)*bits/nb) — as even as bits
    // allows, no divisibility constraint
    val bandStructs = (0 until nb).map { k =>
      val lo = k * bits / nb; val hi = (k + 1) * bits / nb
      struct(lit(k).as("band"),
        expr(s"(simhash div ${1L << lo}) % ${1L << (hi - lo)}").as("key"))
    }
    val bands0 = sigs
      .select(col("doc_id"), col("simhash"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    bands0.as("x")
      .join(bands0.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("cast(bit_count(x.simhash ^ y.simhash) as bigint)").as("hamming"))
      // verify BEFORE the dedup shuffle (same device as simhash64NearPairs):
      // failing collisions die in the join's output projection, so the
      // distinct's exchange is output-sized, not collision-sized
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** q53 form: hamming-≤3 SimHash pairs over the documents table, at 32
    * bits — 16 bits saturates on a low-entropy corpus (measured: 12.6% of
    * ALL doc pairs at sf0.01 land within hamming 3), so the probing query
    * doubles the width to keep the candidate set tracking true near-dups.
    */
  def simhashNearDups(spark: SparkSession, dir: String): DataFrame =
    simhashNearPairs(simhashSignature(spark, dir, 32), bits = 32)

  /** Full 64-bit SimHash as two 32-bit halves (sh_lo = bits 0..31, sh_hi =
    * bits 32..63): a single non-negative long stops at 62 bits (simhashBits'
    * sign-bit bound), so the literature-standard 64-bit signature packs into
    * two longs instead. Per-bit construction is identical to simhashBits —
    * md5 nibble j = b/4, intra-nibble bit k = b%4 — and 64 bits consume
    * nibbles 0..15 of md5's 32, so no second hash is needed.
    */
  def simhash64Bits(spark: SparkSession, dir: String): DataFrame = {
    val counts = TokenPipeline.docTokenCounts(spark, dir)
    // two packed 32-bit halves per distinct token (md5 nibbles 0–7 and
    // 8–15), broadcast onto the counts — see tokenHashBits
    val tokBits = tokenHashBits(counts, ("t_lo", 0, 8), ("t_hi", 8, 8))
    val sums = (0 until 64).map { b =>
      val (c, k) = if (b < 32) ("t_lo", b) else ("t_hi", b - 32)
      expr(s"sum(qty * (2 * (($c div ${1L << k}) % 2) - 1))").as(s"s$b")
    }
    def half(off: Int) = (0 until 32)
      .map(b => when(col(s"s${off + b}") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    counts.join(tokBits, "token")
      .groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), half(0).cast("long").as("sh_lo"),
        half(32).cast("long").as("sh_hi"))
  }

  /** (d+1)-band hamming probing over the two-long 64-bit signature: band k
    * covers logical bits [k*64/(d+1), (k+1)*64/(d+1)) of the concatenated
    * (sh_hi, sh_lo) bit string; a band straddling the half boundary stitches
    * its key from both longs. Verification is the exact popcount summed
    * across halves. Pigeonhole recall guarantee and scale posture are the
    * same as simhashNearPairs — candidates only ever come from the band
    * equi-join.
    */
  def simhash64NearPairs(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val nb = maxHamming + 1
    require(maxHamming >= 1 && nb <= 64, "need 2..64 bands over 64 bits")
    def keyExpr(a: Int, b: Int): String = { // logical bits [a, b)
      val loPart =
        if (a >= 32) None
        else Some(s"((sh_lo div ${1L << a}) % ${1L << (math.min(b, 32) - a)})")
      val hiPart =
        if (b <= 32) None
        else {
          val a2 = math.max(a, 32)
          val shift = if (a < 32) 32 - a else 0 // place above the lo part's bits
          Some(s"(((sh_hi div ${1L << (a2 - 32)}) % ${1L << (b - a2)}) * ${1L << shift})")
        }
      (loPart.toSeq ++ hiPart.toSeq).mkString(" + ")
    }
    val bandStructs = (0 until nb).map { k =>
      val a = k * 64 / nb; val b = (k + 1) * 64 / nb
      struct(lit(k).as("band"), expr(keyExpr(a, b)).as("key"))
    }
    val bands = sigs
      .select(col("doc_id"), col("sh_lo"), col("sh_hi"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("sh_lo"), col("sh_hi"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("cast(bit_count(x.sh_lo ^ y.sh_lo) + bit_count(x.sh_hi ^ y.sh_hi)" +
          " as bigint)").as("hamming"))
      // verify BEFORE the dedup shuffle: the hamming test is a per-row
      // bit_count on the join output, so multi-band collisions that fail
      // it never enter the exchange — the distinct then carries only
      // true near-pairs (output-sized), not every band collision
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** q57 form: hamming-≤3 pairs at the full 64-bit signature width over the
    * documents table — the width real pipelines run SimHash dedup at.
    */
  def simhash64NearDups(spark: SparkSession, dir: String): DataFrame =
    simhash64NearPairs(simhashSignature(spark, dir, 64))

  /** Cross-corpus near-dup: LSH candidates BETWEEN an incoming (doc_id,
    * text) batch and an existing corpus — dump-N+1 deduped against dump-N,
    * the batch form of what nearDupIngest does per micro-batch (and with
    * exact Jaccard verification, which the streaming path trades away).
    * Candidates come from a band equi-join across the two sides (never
    * all-pairs, never incoming×incoming); output is one row per verified
    * (incoming_id, corpus_id) pair — anti-join incoming on incoming_id to
    * keep only novel docs. Both sides' shingle relations feed verification,
    * so the same-id-space restriction of the self-join ladder does not
    * apply: id ranges may overlap freely across the two inputs.
    */
  def crossCorpusNearDups(incoming: DataFrame, corpus: DataFrame): DataFrame =
    // staged: bands, verification and the size aggregates each read both
    // shingle relations; the ContextCleaner frees them with the result
    crossCorpusFromShingles(Stage.now(shinglesOf(incoming)), Stage.now(shinglesOf(corpus)))

  /** q62 form: the dump-over-dump query phrased on ONE corpus dir so the
    * harness can oracle-check it — odd doc_ids play the incoming dump,
    * even ids the accumulated corpus. A doc's signature depends only on
    * its own shingles, so both sides are parity FILTERS over the
    * session-cached shingle and signature relations (one corpus-text
    * pass, zero signature recomputation, no extra persists), then the
    * exact cross-corpus body runs unchanged. At scale the two filters are
    * two real dump directories and the plan is identical.
    */
  def crossCorpusParityDups(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(spark, dir)
    val bands = minhashBands(spark, dir)
    val odd = (c: Column) => c % 2 === 1
    crossCorpusFromParts(
      sh.filter(odd(col("doc_id"))), bands.filter(odd(col("doc_id"))),
      sh.filter(!odd(col("doc_id"))), bands.filter(!odd(col("doc_id"))))
  }

  /** The cross-corpus candidate+verify body over two prepared (doc_id,
    * shingle) relations — single definition shared by the free-standing
    * two-DataFrame entry point and the parity query form.
    */
  private def crossCorpusFromShingles(inSh: DataFrame, coSh: DataFrame): DataFrame =
    crossCorpusFromParts(inSh, bandsOfSignatures(signaturesOfShingles(inSh)),
      coSh, bandsOfSignatures(signaturesOfShingles(coSh)))

  private def crossCorpusFromParts(inSh: DataFrame, inBands: DataFrame,
      coSh: DataFrame, coBands: DataFrame): DataFrame = {
    val cands = inBands.as("i")
      .join(coBands.as("c"),
        col("i.band") === col("c.band") && col("i.bucket") === col("c.bucket"))
      .select(col("i.doc_id").as("incoming_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
    val inSizes = inSh.groupBy("doc_id").agg(count(lit(1)).as("sz_i"))
    val coSizes = coSh.groupBy("doc_id").agg(count(lit(1)).as("sz_c"))
    val verified = cands
      .join(inSh.as("si"), col("incoming_id") === col("si.doc_id"))
      .join(coSh.as("sc"),
        col("corpus_id") === col("sc.doc_id") && col("si.shingle") === col("sc.shingle"))
      .groupBy("incoming_id", "corpus_id").agg(count(lit(1)).as("inter"))
      .join(inSizes.withColumnRenamed("doc_id", "incoming_id"), Seq("incoming_id"))
      .join(coSizes.withColumnRenamed("doc_id", "corpus_id"), Seq("corpus_id"))
      .withColumn("uni", col("sz_i") + col("sz_c") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select("incoming_id", "corpus_id", "inter", "uni")
    verified.orderBy("incoming_id", "corpus_id")
  }

  /** Embedding near-dup: `bits`-wide sign-LSH bucket → in-bucket cosine
    * ≥ 0.25 (this corpus has no planted vector dups — max cosine ≈ 0.51 —
    * so the threshold is set where the op provably produces verifiable
    * output). In-bucket verification is ~n²/2^bits pairs, so `bits` must
    * GROW with the corpus: bits ≈ log₂(n) keeps expected in-bucket pairs
    * O(n). The default is the shared `Similarity.IvfBits` (6 = 64 cells
    * for the sf corpora; SPARK_GRAFT_LSH_BITS overrides it for scale
    * runs), and the DuckDB oracle GENERATES its bucket expression from
    * the same constant (OracleSql.signBucketSql) — the round-8 "IvfBits
    * trap" is gone; any width stays oracle-checkable. Width is bounded
    * by the embedding dimension (each bit consumes one component's
    * sign). Raising bits never adds
    * pairs — it only splits buckets — and true near-dups (cosine → 1)
    * agree on every sign, so they survive any width; borderline pairs
    * with disagreeing signs are the recall/cost trade, same as every
    * sign-LSH. For guaranteed-recall candidate sets, band multiple
    * narrow sign tables the way MinHash does (minhashBands).
    */
  def embeddingNearDups(spark: SparkSession, dir: String,
      bits: Int = Similarity.IvfBits): DataFrame = {
    // Rep-collapse + expansion (round 14, the q22/q52 device applied to
    // the pair ENUMERATION): verify cosine at rep grain (shared memo with
    // q74 — embRepPairs), then expand each verified rep pair to all
    // member pairs through the cached rep map. Equivalence: identical
    // arrays hash to the same group, get the same bucket and the same
    // cosine against anything, so (a∈A, b∈B, A≠B) is a verified pair iff
    // (rep_A, rep_B) is, with the SAME double c (the fold reads only
    // values); within-group pairs of nonzero vectors always verify
    // (cos(x,x) = ‖x‖²/(√‖x‖²)² ≈ 1.0 ≥ 0.25) with c = the rep's
    // self-cosine through the same code path; zero-norm vectors are
    // singleton groups (per-vector hash key) and excluded from pairing on
    // both routes. DedupSpec proves the expansion equals the direct
    // enumeration on a planted-duplicate corpus. Under k× verbatim
    // replication the cosine verification now shrinks k² (rep grain) and
    // only this output-sized expansion — the k² the query's own semantics
    // demand — grows.
    val memberRep = embeddingRepMap(spark, dir)
    val rp = embRepPairs(spark, dir, bits)
    val cross = rp
      .join(memberRep.select(col("rep").as("vec_a"), col("vec_id").as("ma")),
        Seq("vec_a"))
      .join(memberRep.select(col("rep").as("vec_b"), col("vec_id").as("mb")),
        Seq("vec_b"))
      .select(least(col("ma"), col("mb")).as("vec_a"),
        greatest(col("ma"), col("mb")).as("vec_b"), col("c"))
    val multi = memberRep.groupBy("rep").agg(count(lit(1)).as("m"))
      .filter(col("m") >= 2)
    val selfC = Similarity.vectorIndex(spark, dir, bits)
      .join(multi.select(col("rep").as("vec_id")), Seq("vec_id"))
      .filter(col("nrm") > 0.0)
      .select(col("vec_id").as("rep"),
        VectorFns.cosine(VectorFns.dot(col("emb"), col("emb")),
          col("nrm"), col("nrm")).as("c"))
    val within = memberRep.as("m1")
      .join(memberRep.as("m2"),
        col("m1.rep") === col("m2.rep") && col("m1.vec_id") < col("m2.vec_id"))
      .select(col("m1.rep").as("rep"), col("m1.vec_id").as("vec_a"),
        col("m2.vec_id").as("vec_b"))
      .join(selfC, Seq("rep"))
      .select("vec_a", "vec_b", "c")
    cross.unionByName(within)
      .select(col("vec_a"), col("vec_b"), round(col("c"), 6).as("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** Verified sign-LSH near-dup pairs of one INDEXED (vec_id, emb, nrm,
    * bucket) relation (Similarity.vectorIndex, or a subset of it):
    * bucket equi-join + in-bucket cosine ≥ 0.25 — the shared core of the
    * doc-level q27 enumeration and q74's rep-level edge build. Zero-norm
    * vectors are excluded BEFORE the join: their cosine is undefined
    * (ANSI mode turns the 0/0 into a runtime error rather than a
    * filterable NaN), and an undefined similarity can never verify, so
    * they contribute no pairs under either semantics.
    */
  private def embNearDupPairsOf(indexed: DataFrame): DataFrame = {
    val b = indexed.filter(col("nrm") > 0.0)
    b.as("x").join(b.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(
        col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        VectorFns.cosine(VectorFns.dot(col("x.emb"), col("y.emb")),
          col("x.nrm"), col("y.nrm")).as("c"),
        // the pair's (shared) sign-LSH cell rides along (r21): edges only
        // exist WITHIN a cell, so q74's component build can group by it
        col("x.bucket").as("bucket"))
      .filter(col("c") >= 0.25)
  }

  /** SemDeDup-style embedding survivors (q74): connected components over
    * the verified embedding near-dup edges (q27's sign-LSH buckets +
    * in-bucket cosine ≥ 0.25), labeled by minimum vec_id through the same
    * distributed min-label propagation as q52, then EVERY vector marked
    * with its component and whether it is the canonical survivor — the
    * embedding-space analogue of dedupSurvivors, i.e. the "cluster
    * semantically, keep one per cluster" semantic-dedup recipe.
    *
    * Verbatim-vector collapse (the q52 rep-graph device, round 9):
    * identical NONZERO vectors verify pairwise at any LSH width (cosine
    * of a vector with itself is d/(√d)² ≥ 0.25 whenever d > 0), so each
    * identical-embedding group enters the candidate join only through
    * its min-id representative and the group rides the rep's component
    * at the end. The expanded labels equal the doc-level enumeration's:
    * a component's min member IS its min rep (every member ≥ its group's
    * rep), and cross-group pairs verify iff the rep pair does (cosine
    * reads only values, identical across the group). Zero-norm vectors
    * stay singleton reps — their cosine is undefined, so they never pair
    * even with identical copies, exactly as the doc-level enumeration
    * (which excludes them from the candidate join — see
    * embNearDupPairsOf; DedupSpec asserts both properties on a planted
    * corpus). Under k× verbatim duplication the in-bucket verification
    * shrinks k², the propagation join k.
    *
    * Scale: candidate edges come from bucketed equi-joins (never
    * all-pairs, and `bits` grows with log₂(n) — see embeddingNearDups),
    * propagation is one join+agg per round with checkpointed labels, and
    * the final survivor join is vector-grain.
    */
  private[graft] val embRepCache = Artifact.relation("Dedup.embRepCache", Artifact.Index)

  /** Cached (vec_id, rep) verbatim-embedding membership map — the
    * embedding-space analogue of verbatimReps, and the same index-artifact
    * class (a precomputable collapse structure, not a detection result).
    * Group key: md5 of the canonical string render (equal arrays ⇒ equal
    * strings; distinct doubles render distinctly; 128-bit collisions are
    * cryptographically negligible) — NOT a window over the raw array,
    * whose exchange would carry every 512-byte embedding as its own
    * shuffle key. The groupBy gets a map-side partial min, so the rep
    * map's shuffle is distinct-groups-sized and the join back is
    * AQE-broadcastable on dup-light corpora. Zero-norm vectors get a
    * per-vector key, pinning rep = self.
    */
  private[graft] def embeddingRepMap(spark: SparkSession, dir: String): DataFrame =
    embRepCache(spark, dir) {
      val keyed = Tables.embeddings(spark, dir)
        .select(col("vec_id"), VectorFns.asDouble(col("embedding")).as("emb"))
        .withColumn("ehash",
          when(VectorFns.l2Norm(col("emb")) === 0.0,
            concat(lit("z"), col("vec_id").cast("string")))
            .otherwise(md5(col("emb").cast("string").cast("binary"))))
      keyed.select("ehash", "vec_id")
        .join(keyed.groupBy("ehash").agg(min("vec_id").as("rep")), Seq("ehash"))
        .select("vec_id", "rep")
    }

  /** Verified REP-level embedding near-dup pairs (vec_a, vec_b, c) —
    * sign-LSH bucket equi-join + in-bucket cosine ≥ 0.25 over the rep
    * subset of the vector index only. RESULT MEMO (a detection output,
    * evicted by Caches.clearResultMemos like the verified MinHash pairs):
    * q27 pays it once per pass (alphabetically first consumer) and
    * expands it to member pairs; q74 reuses it as its component edge set
    * — the r13 bigram/verdict sharing device applied to the embedding
    * ladder (VERDICT r13 #4). Rep vectors read from the cached index —
    * buckets/norms are per-vector values, identical whether computed on
    * the subset or the whole.
    */
  private[graft] val embPairsCache = Artifact.relation("Dedup.embPairsCache", Artifact.Result)

  private[graft] def embRepPairs(spark: SparkSession, dir: String,
      bits: Int): DataFrame =
    embPairsCache(spark, dir, bits) {
      val memberRep = embeddingRepMap(spark, dir)
      val reps = Similarity.vectorIndex(spark, dir, bits).join(
        memberRep.filter(col("vec_id") === col("rep")).select("vec_id"),
        Seq("vec_id"))
      embNearDupPairsOf(reps)
    }

  def semDedupSurvivors(spark: SparkSession, dir: String,
      bits: Int = Similarity.IvfBits): DataFrame = {
    val memberRep = embeddingRepMap(spark, dir)
    // Components via ONE per-bucket union-find aggregate (r21), not the
    // iterative propagation loop: q74's edges are bucket-contained (the
    // sign-LSH equi-join only pairs same-cell vectors), so groupBy(bucket)
    // sees every component whole and the generic O(diameter) round loop —
    // 11 rounds × ~0.2 s of fixed job latency at sf0.1, and round count
    // grows with bucket occupancy at scale — collapses to one aggregate
    // pass over the verified pair relation. Labels are identical by
    // construction (min vertex id per component; DedupSpec pins the
    // differential against propagateMinLabels on the real graph plus a
    // planted-duplicate corpus). q52's band graph stays on
    // propagateMinLabels — ITS components span join keys.
    val labels = embRepPairs(spark, dir, bits)
      .groupBy("bucket")
      .agg(graft.functions.ComponentsAggregator
        .minLabelComponents(col("vec_a"), col("vec_b")).as("ls"))
      .select(explode(col("ls")).as("l"))
      .select(col("l._1").as("doc_id"), col("l._2").as("component_id"))
    memberRep
      .join(labels.select(col("doc_id").as("rep"), col("component_id")),
        Seq("rep"), "left")
      .select(col("vec_id"),
        coalesce(col("component_id"), col("rep")).as("component_id"),
        (coalesce(col("component_id"), col("rep")) === col("vec_id"))
          .as("kept"))
      .orderBy("vec_id")
  }
}
