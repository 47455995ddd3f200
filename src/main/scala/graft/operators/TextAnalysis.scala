package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Artifact, Stage, Tables}
import graft.functions.TextFns

/** Text-analysis operators for a training-data pipeline: quality scoring,
  * language ID (function-word heuristic), token counting (whitespace +
  * BPE-ish greedy chunks), document fingerprinting (content hash + rolling
  * hash), and TF-IDF from the inverted index.
  *
  * Everything is integer-exact or md5-derived except TF-IDF's log, which is
  * rounded to 6 decimals for the oracle compare. All ops are per-row or
  * single-shuffle aggregates — embarrassingly parallel at 100 TB.
  */
object TextAnalysis {

  private def withTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), TextFns.tokenize(col("text")).as("toks"))

  /** Per-doc quality counts (all integers, so the oracle compare is exact):
    * token count, stop-word count, summed token length, alphabetic chars,
    * and a function-word language guess (≥20% stop words → 'en').
    */
  def qualityStats(spark: SparkSession, dir: String): DataFrame = {
    val stopList = TokenPipeline.StopWords
    val nTokens = size(col("toks"))
    val stopCount = size(filter(col("toks"), t => t.isin(stopList: _*)))
    withTokens(spark, dir)
      .select(
        col("doc_id"),
        nTokens.cast("long").as("n_tokens"),
        stopCount.cast("long").as("stop_count"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).as("sum_token_len"),
        length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("long").as("n_alpha"),
        when(nTokens > 0 && stopCount * 5 >= nTokens, lit("en")).otherwise(lit("unk"))
          .as("lang_pred"))
      .orderBy("doc_id")
  }

  /** Whitespace token count vs a BPE-ish greedy-chunk count (≤4-char
    * alphanumeric pieces — 'customer' → 2 pieces).
    */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    withTokens(spark, dir)
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]{1,4}"), lit(0)))
          .cast("long").as("subword_tokens"))
      .orderBy("doc_id")

  /** Document fingerprints: md5 of the cleaned text + a 64-bit polynomial
    * rolling hash over tokens, `acc → (acc·31 + 17·len(t) + ascii(t₀)) mod p`.
    * Per-step mod keeps every intermediate < 2³⁵ so any 64-bit engine folds
    * identically.
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    withTokens(spark, dir)
      .select(
        col("doc_id"),
        md5(TextFns.cleanText(col("text"))).as("fp_clean"),
        aggregate(col("toks"), lit(0L),
          (acc, t) => pmod(acc * 31 + length(t) * 17 + ascii(t), lit(1000000007L)))
          .as("roll_hash"))
      .orderBy("doc_id")

  /** Deterministic train/val/test split by content hash — how a real
    * pipeline shards: RNG-free (reproducible across runs, engines, and
    * cluster sizes; `sample()` is none of those), keyed on the CONTENT so
    * verbatim duplicates land in the same split and can never leak across
    * the train/test boundary. Bucket = first two md5 nibbles (0..255);
    * <80% train, <90% val, else test.
    */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    splitRaw(spark, dir).orderBy("doc_id")

  private[graft] val splitCache = Artifact.relation("TextAnalysis.splitCache", Artifact.Index)

  /** UNSORTED split assignment — building-block form for internal joins
    * (splitContamination); q56 sorts at its edge via hashSplit.
    * INDEX-ARTIFACT cache class (r21): a pure per-document hash
    * assignment — precomputable per-item structure exactly like the
    * fingerprint relation — that before this cache was recomputed by
    * EVERY consumer (q56/q59/q81/q102/q119/q125/q126 plus both eval
    * bit-set builds), each paying a full documents scan + md5 over the
    * whole text column per call. Two tiny columns persisted.
    */
  private[operators] def splitRaw(spark: SparkSession, dir: String): DataFrame =
    splitCache(spark, dir) {
      val nib = (j: Int) =>
        expr(s"(instr('0123456789abcdef', substring(md5(text), $j, 1)) - 1)")
      val bucket = (nib(1) * 16 + nib(2)).cast("long")
      Tables.documents(spark, dir)
        .select(col("doc_id"), bucket.as("bucket"))
        .withColumn("split",
          when(col("bucket") < 204, "train")
            .when(col("bucket") < 230, "val")
            .otherwise("test"))
    }

  /** Within-document repetition — the duplicate-n-gram quality filter a
    * pretraining pipeline runs before anything cross-document: word-bigram
    * count, distinct count, and repetition ratio (1 − distinct/total;
    * 0 for docs shorter than one bigram). Boilerplate-heavy or looping
    * text scores high and gets filtered. Pure per-row work — no shuffle
    * beyond the edge sort.
    */
  def docRepetition(spark: SparkSession, dir: String): DataFrame =
    // rawTokens, not withTokens (r21): this consumer reads only `toks`,
    // so it shares the cached ordered-token artifact instead of paying
    // the corpus re-tokenize per call
    rawTokens(spark, dir)
      .select(col("doc_id"), TextFns.shingleArray(col("toks"), 2).as("bg"))
      .select(col("doc_id"),
        size(col("bg")).cast("long").as("n_bigrams"),
        size(array_distinct(col("bg"))).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
        when(col("n_bigrams") > 0,
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams"), 6))
          .otherwise(lit(0.0)).as("rep_ratio"))
      .orderBy("doc_id")

  /** Cross-split contamination — decontamination's core query: for every
    * eval-side (val/test) document, how many TRAIN documents share at
    * least one 5-gram shingle with it. The hash split already pins
    * verbatim copies to one split; this measures the NEAR-duplicate
    * leakage across the boundary that n-gram decontamination would
    * remove (eval docs with n_train_overlap > 0 are suspect). Candidates
    * come from the shingle posting join — never all-pairs — and
    * `maxShingleDf` drops boilerplate shingles from the join exactly as
    * in the dedup ladder.
    */
  def splitContamination(spark: SparkSession, dir: String,
      maxShingleDf: Option[Long] = None): DataFrame = {
    val splits = splitRaw(spark, dir)
    val sh = maxShingleDf.fold(Dedup.shingles(spark, dir))(
      Dedup.cappedShingles(spark, dir, _))
    val trainSh = sh.join(
      splits.filter(col("split") === "train").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val evalDocs = splits.filter(col("split") =!= "train")
      .select("doc_id", "split")
    val evalSh = sh.join(evalDocs.select("doc_id"), Seq("doc_id"), "left_semi")
    val counts = evalSh.as("e")
      .join(trainSh.as("t"), col("e.shingle") === col("t.shingle"))
      .select(col("e.doc_id").as("doc_id"), col("t.doc_id").as("train_doc"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_train_overlap"))
    evalDocs.join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("n_train_overlap"), lit(0L)).as("n_train_overlap"))
      .orderBy("doc_id")
  }

  private[graft] val tfidfCache = Artifact.relation("TextAnalysis.tfidfCache", Artifact.Index)

  /** TF-IDF per (doc, token) from the shared (doc,token,qty) relation:
    * tfidf = qty · ln(N / df), N = docs with ≥1 kept token. UNSORTED
    * building block — internal consumers (topTerms) must not inherit a
    * global sort; q34 sorts at its edge via `tfidf`.
    *
    * Cached per (session, dir): term weights are what a search index
    * STORES next to its postings (the same index-artifact class as the
    * signature/fingerprint caches — per-item precomputed scores, not a
    * detection result); q34 and q43 both read the relation.
    */
  def tfidfRaw(spark: SparkSession, dir: String): DataFrame =
    tfidfCache(spark, dir) {
      val kept = TokenPipeline.docTokenCounts(spark, dir)
      // N stays a lazy broadcast scalar (1-row cross join), not an eager
      // .count() job at plan-construction time
      val nDf = kept.agg(countDistinct(col("doc_id")).as("n_docs"))
      val df = kept.groupBy("token").agg(count(lit(1)).as("df"))
      kept.join(broadcast(df), Seq("token"))
        .crossJoin(broadcast(nDf))
        .select(
          col("doc_id"), col("token"), col("qty"), col("df"),
          round(col("qty") * log(col("n_docs").cast("double") / col("df")), 6)
            .as("tfidf"))
    }

  /** q34 form: TF-IDF sorted for output. */
  def tfidf(spark: SparkSession, dir: String): DataFrame =
    tfidfRaw(spark, dir).orderBy("doc_id", "token")

  /** Top-k salient terms per doc by TF-IDF (ranking window over the text
    * relation; ties break on token so ranks are engine-independent).
    */
  def topTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    // bounded top-k aggregate, not a ranking window: a window sorts every
    // doc's full term set through the shuffle; this carries at most k rows
    // per doc (same ordering contract, ROW_NUMBER parity in the oracle).
    // Native CollectTopK on struct(-tfidf, token): smallest-k ascending
    // == (tfidf desc, token asc); -(-x) is exact for all finite doubles.
    // TopKAggregator.topKByScore is the typed-UDAF equivalent (kept, and
    // pinned equal in AggregatorSpec); the native form skips its per-row
    // object conversion and kryo buffer round-trips on this hot path.
    val topk = org.apache.spark.sql.GraftBridge.collectTopK(
      struct((-col("tfidf")).as("ns"), col("token")), k, reverse = true)
    tfidfRaw(spark, dir)
      .groupBy("doc_id")
      .agg(topk.as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("t.token").as("token"), (-col("t.ns")).as("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** Corpus-overlap matrix (q63): pairwise Jaccard between the distinct
    * kept-token vocabularies of each pair of sources — the dump-vs-dump /
    * crawl-vs-crawl overlap report a pipeline runs before deciding whether
    * a new source is worth ingesting. The unit of work is the DISTINCT
    * (source, token) relation — |sources| × |vocab|, tiny relative to the
    * corpus — so the pairwise token equi-join is over an aggregate, never
    * over documents. Pairs sharing zero tokens are omitted (inner join).
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val st = sourceTokens(spark, dir)
    val sizes = st.groupBy("source").agg(count(lit(1)).as("sz"))
    val inter = st.as("a")
      .join(st.as("b"),
        col("a.token") === col("b.token") && col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("source", "src_a").withColumnRenamed("sz", "sz_a"),
        Seq("src_a"))
      .join(sizes.withColumnRenamed("source", "src_b").withColumnRenamed("sz", "sz_b"),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter"),
        (col("sz_a") + col("sz_b") - col("inter")).as("uni"),
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 6)
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  private[graft] val srcTokCache = Artifact.relation("TextAnalysis.srcTokCache", Artifact.Index)

  /** Cached DISTINCT (source, token) relation — sourceOverlap references
    * it on both sides of its self-join plus the sizes aggregate, and
    * re-aliased exprIds defeat exchange reuse, so without the persist the
    * hub-join + distinct would execute once per reference.
    */
  // private[graft]: Bench's INDEX fill prefills this index artifact
  private[graft] def sourceTokens(spark: SparkSession, dir: String): DataFrame =
    srcTokCache(spark, dir) {
      TokenPipeline.docTokenCounts(spark, dir)
        .join(Tables.documents(spark, dir).select("doc_id", "source"),
          Seq("doc_id"))
        .select("source", "token").distinct()
    }

  /** Deterministic stratified sample (q65): within each source stratum,
    * rank docs by (md5 of salted content, doc_id) and keep the first
    * `pct`% — exact per-stratum quota, RNG-free, reproducible across
    * engines and cluster sizes, and content-keyed so re-runs over a
    * re-sharded corpus pick the same documents. The rank/count windows
    * partition by source, so strata process independently (the 100 TB
    * form shuffles once on the stratum key).
    */
  def stratifiedSample(spark: SparkSession, dir: String, pct: Int = 20): DataFrame = {
    val bySrc = Window.partitionBy("source")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(concat(lit("sample|"), col("text"))).as("smp"))
      .withColumn("rn",
        row_number().over(bySrc.orderBy(col("smp"), col("doc_id"))).cast("long"))
      .withColumn("n_src", count(lit(1)).over(bySrc))
      // rn*100 <= n*pct  ⇔  rn <= floor(n*pct/100): integer-exact quota
      .filter(col("rn") * 100 <= col("n_src") * pct)
      .select(col("doc_id"), col("source"), col("rn").as("sample_rank"))
      .orderBy("doc_id")
  }

  /** N-gram vocabulary growth (q66): per ingestion batch (`batchSize`
    * consecutive doc_ids ≈ one dump), how many distinct 5-gram shingles
    * appear, how many are NEW (first occurrence anywhere in the corpus),
    * the running shingle-vocabulary size, and the novelty ratio — the
    * curve a pretraining pipeline watches to decide when a source is
    * mined out. All heavy work is distributed hash-aggregation over the
    * cached shingle relation; the running-sum window orders BATCHES
    * (corpus_size / batchSize rows), not documents, so the single-
    * partition prefix sum is over a vanishing row count at any scale.
    */
  def vocabGrowth(spark: SparkSession, dir: String, batchSize: Int = 50): DataFrame = {
    val sb = Dedup.shingles(spark, dir)
      .select(expr(s"doc_id div $batchSize").as("batch"), col("shingle"))
      .distinct()
    val seen = sb.groupBy("batch").agg(count(lit(1)).as("n_seen"))
    val firstB = sb.groupBy("shingle").agg(min(col("batch")).as("batch"))
      .groupBy("batch").agg(count(lit(1)).as("n_new"))
    seen.join(firstB, Seq("batch"), "left")
      .select(col("batch"), col("n_seen"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("vocab_size",
        sum("n_new").over(Window.orderBy("batch")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("novelty",
        round(col("n_new").cast("double") / col("n_seen"), 6))
      .orderBy("batch")
  }

  private[graft] val rawTokCache = Artifact.relation("TextAnalysis.rawTokCache", Artifact.Index)

  /** Cached ordered-token relation (doc_id, toks). The token HUB
    * (TokenPipeline.docTokenCounts) can't serve order-sensitive
    * consumers — it collapses to per-doc counts — so adjacency queries
    * share this relation instead: the corpus is scanned and tokenized
    * once per (session, dir), not once per branch that needs token
    * order.
    */
  private[graft] def rawTokens(spark: SparkSession, dir: String): DataFrame =
    rawTokCache(spark, dir) {
      tokensOf(Tables.documents(spark, dir))
    }

  /** (doc_id, toks) of any (doc_id, text) relation — the token projection
    * of [[rawTokens]], also run per micro-batch by the streaming ingest
    * sinks.
    */
  private[graft] def tokensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextFns.tokenize(col("text")).as("toks"))

  private[graft] val bigramCache = Artifact.relation("TextAnalysis.bigramCache", Artifact.Index)

  /** Cached corpus-wide bigram adjacency counts (src, dst, c) — an INDEX
    * ARTIFACT (precomputable per-corpus structure, CLAUDE.md cache
    * classes): the adjacency relation q70 (collocations) and q84 (token
    * pagerank) both fold over. Before this cache q84 alone re-ran the
    * explode + hash-aggregate THREE times per run (out-degree, iteration
    * 1, iteration 2) and q70 a fourth — one corpus-wide explode now feeds
    * all four consumers per (session, dir). Vocabulary²-bounded but
    * Zipf-sparse (≈ distinct adjacent pairs actually seen), far smaller
    * than the token stream it derives from.
    */
  private[graft] def bigramCounts(spark: SparkSession, dir: String): DataFrame =
    bigramCache(spark, dir) {
      rawTokens(spark, dir)
        .select(explode(TextFns.shingleArray(col("toks"), 2)).as("bg"))
        .select(split(col("bg"), " ").as("p"))
        .select(element_at(col("p"), 1).as("src"), element_at(col("p"), 2).as("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("c"))
    }

  /** Collocation extraction (q70): adjacent raw-token pairs scored by
    * pointwise mutual information — PMI = ln(n_ab·N / (n_a·n_b)) over
    * corpus-wide bigram/unigram occurrence counts — the classic
    * phrase-mining / tokenizer-merge-candidate query. Everything is an
    * integer count until the final ln (rounded to 6), so the oracle
    * compare is exact; counts are distributed hash-aggregates and the
    * unigram join is a broadcast (vocabulary-sized). `minCount` drops the
    * long noise tail before ranking. The bigram branch reads the shared
    * bigramCounts artifact (q84 folds over the same relation); the
    * unigram branch reads cached rawTokens — one tokenize pass total.
    */
  def collocations(spark: SparkSession, dir: String, minCount: Long = 10): DataFrame = {
    val bg = bigramCounts(spark, dir)
      .select(col("src").as("tok_a"), col("dst").as("tok_b"), col("c").as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val uni = rawTokens(spark, dir)
      .select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val nTot = uni.agg(sum("n").as("n_tot"))
    bg
      .join(broadcast(uni.select(col("tok").as("tok_a"), col("n").as("n_a"))), Seq("tok_a"))
      .join(broadcast(uni.select(col("tok").as("tok_b"), col("n").as("n_b"))), Seq("tok_b"))
      .crossJoin(broadcast(nTot))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        round(log(col("n_ab").cast("double") * col("n_tot") / (col("n_a") * col("n_b"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("tok_a"), col("tok_b"))
  }

  /** Token-transition PageRank (q84), two power iterations, INTEGER-exact:
    * nodes are distinct raw tokens, a directed edge s→t carries the
    * corpus-wide adjacency count c(s,t), and rank flows as the standard
    * damped update  pr' = (1−d)/N + d·Σ_in c·pr/out  — recast entirely in
    * scaled 64-bit integer arithmetic (SCALE = 1e9, d = 85/100, every
    * division a floor div) so the result is order-independent and the
    * oracle compare is exact with no float anywhere. Dangling-node mass
    * is dropped, not redistributed (documented semantics; both engines
    * agree). Magnitude check: c·pr ≤ 1e6·1e9 = 1e15 ≪ 2⁶³.
    *
    * Scale shape: one shuffle per iteration (groupBy target), the edge
    * relation is reused across iterations from the cached token stream,
    * and the per-iteration join keys on the token — the same partitioning
    * every round, so at 100 TB the iterations pipeline over a stable
    * exchange. A graph engine would checkpoint per round exactly like
    * Dedup.propagateMinLabels; two unrolled rounds keep q84 a pure
    * oracle-able expression of the numeric scheme.
    */
  def tokenPagerank(spark: SparkSession, dir: String): DataFrame = {
    val Scale = 1000000000L
    val edges = bigramCounts(spark, dir)
    val out = edges.groupBy("src").agg(sum("c").as("outc"))
    val verts = rawTokens(spark, dir)
      .select(explode(col("toks")).as("token")).distinct()
    val nV = verts.agg(count(lit(1)).as("nv"))
    // pr0 = SCALE div N for every vertex; the damped base term reuses it
    val pr0 = verts.crossJoin(broadcast(nV))
      .select(col("token"), expr(s"$Scale div nv").as("pr"), col("nv"))
    def step(pr: DataFrame): DataFrame = {
      val contrib = edges
        .join(out, Seq("src"))
        .join(pr.select(col("token").as("src"), col("pr")), Seq("src"))
        .groupBy(col("dst").as("token"))
        .agg(sum(expr("(c * pr) div outc")).as("inflow"))
      pr.select(col("token"), col("nv"))
        .join(contrib, Seq("token"), "left")
        .select(col("token"),
          (expr(s"(15 * ($Scale div nv)) div 100") +
            expr("(85 * coalesce(inflow, cast(0 as bigint))) div 100")).as("pr"),
          col("nv"))
    }
    // p1 feeds BOTH the second iteration and the output join; without a
    // checkpoint its whole lineage (join + aggregate) re-executes inside
    // p2 (the propagateMinLabels device, round 13 — measured ~0.7 s/pass
    // saved). Vocabulary-sized blocks; the ContextCleaner reclaims them
    // when the query's RDDs go unreachable (nothing caches this relation).
    val p1 = Stage.now(step(pr0))
    val p2 = step(p1)
    p1.select(col("token"), col("pr").as("pr1"))
      .join(p2.select(col("token"), col("pr").as("pr2")), Seq("token"))
      .orderBy("token")
  }

  /** Sequence packing (q71): assign documents to fixed token-budget
    * training shards, per source — the concat-and-chunk step a
    * pretraining pipeline runs right before writing tokenized shards. A
    * document lands in the shard its FIRST token falls into under an
    * exclusive prefix sum of per-doc token counts, so shard membership
    * is a pure function of (source, doc order, token counts) —
    * deterministic across engines and cluster sizes. The prefix-sum
    * window partitions by source, so strata pack independently: one
    * shuffle on the stratum key, no single-partition window at any
    * scale. Output is one row per shard with its doc span and token
    * payload (a doc longer than `budget` overflows its shard rather
    * than splitting — document-granularity packing).
    */
  def packShards(spark: SparkSession, dir: String, budget: Long = 5000): DataFrame = {
    require(budget > 0, "budget must be a positive token count")
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(TextFns.tokenize(col("text"))).cast("long").as("n_tok"))
      .withColumn("first_tok", sum("n_tok").over(w) - col("n_tok"))
      .withColumn("shard_id", expr(s"first_tok div $budget"))
      .groupBy(col("source"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("shard_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("source", "shard_id")
  }

  /** Source-balancing epoch mix (q72): the oversampling step of a data
    * mixture — each source repeats for `n_max div n_src` epochs (largest
    * source = 1), capped at `maxRepeat`, so under-represented sources
    * approach parity without unbounded duplication. Emits one row per
    * (doc, epoch); the mixture is integer-exact and RNG-free, so the
    * same recipe reproduces bit-identically on any cluster. The repeat
    * table is vocabulary-of-sources sized — broadcast — and the explode
    * is narrow: no shuffle beyond the count aggregate at any scale.
    */
  def epochMix(spark: SparkSession, dir: String, maxRepeat: Long = 4): DataFrame = {
    require(maxRepeat >= 1, "maxRepeat must allow at least one epoch")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
    val reps = counts.crossJoin(broadcast(counts.agg(max("n_src").as("n_max"))))
      .select(col("source"),
        least(lit(maxRepeat), greatest(lit(1L), expr("n_max div n_src")))
          .as("repeats"))
    docs.join(broadcast(reps), Seq("source"))
      // repeats >= 1 always, so sequence() is never empty (its empty form
      // raises in Spark) and every doc keeps at least epoch 1
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("repeats"))).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** BPE-flavored merge iteration (q73): `rounds` greedy vocabulary-merge
    * steps over the raw token stream — each round counts adjacent token
    * pairs corpus-wide, picks the most frequent (ties broken
    * lexicographically), and rewrites every occurrence into one merged
    * token, the byte-pair-encoding training loop run at corpus scale.
    * Output is the merge table: one row per round with the winning pair,
    * its count at merge time, and the merged token.
    *
    * Self-pairs (tok_a = tok_b) are excluded so occurrences can never
    * overlap (an overlap at positions i, i+1 forces tok_a = tok_b) and
    * the left-to-right rewrite is position-order-free — both engines
    * rewrite identically with no greedy-scan state. Each round is one
    * per-doc window pass + one hash aggregate, shuffled on doc_id: a
    * linear corpus pass, the textbook BPE cost, with k a small constant.
    * The per-round top-1 probe is a one-row driver scalar (same class as
    * q52's convergence flag); token positions keep gaps after a merge —
    * windows order by position, so adjacency is row order, not density.
    * Merged tokens contain '_', which the tokenizer strips from input, so
    * they can never collide with a source token.
    */
  def bpeMerges(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    import spark.implicits._
    learnMerges(spark, dir, rounds)
      .toDF("round", "tok_a", "tok_b", "n_ab", "merged")
      .orderBy("round")
  }

  private[graft] val mergeMemo =
    Artifact.value[Seq[(Long, String, String, Long, String)]]("TextAnalysis.mergeMemo", Artifact.Result)

  /** The learned merge table, memoized per (session, dir, rounds) — a
    * RESULT memo in the Caches.clearResultMemos sense (the bench clears
    * it between passes): q73 and q79 both need it, and the loop is
    * deterministic, so within a pass the corpus is mined once. The
    * loop's working stream is released before returning — merges are
    * plain driver values, k rows.
    */
  private def learnMerges(spark: SparkSession, dir: String,
      rounds: Int): Seq[(Long, String, String, Long, String)] =
    mergeMemo(spark, dir, rounds) {
      val (merges, toks) = bpeLoop(spark, dir, rounds)
      Stage.free(toks)
      merges
    }

  /** The merge loop itself: returns the merges AND the final rewritten
    * token stream, checkpointed — the CALLER owns releasing it via
    * Stage.free once its derivative is materialized.
    */
  /** One learning round's pair-scoring relation: adjacent-pair counts over
    * the (evolving) positional token stream, top-1 by (count desc, pair).
    * Extracted so Plans can dump the per-round physical plan — the loop
    * hides it behind localCheckpoints and a 1-row collect, so it appears
    * in NO final query plan.
    */
  private[graft] def bpeRoundTop(toks: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("idx")
    toks
      .withColumn("nxt", lead("tok", 1).over(byDoc))
      .filter(col("nxt").isNotNull && col("tok") =!= col("nxt"))
      .groupBy("tok", "nxt").agg(count(lit(1)).as("n_ab"))
      .orderBy(col("n_ab").desc, col("tok"), col("nxt"))
      .limit(1)
  }

  /** The round-1 positional token stream the BPE loop starts from (Plans
    * evidence helper).
    */
  private[graft] def bpeTokenStream(spark: SparkSession, dir: String): DataFrame =
    rawTokens(spark, dir)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("idx", "tok")))

  private def bpeLoop(spark: SparkSession, dir: String, rounds: Int)
      : (Seq[(Long, String, String, Long, String)], DataFrame) = {
    require(rounds >= 1, "rounds must be >= 1")
    // The rewrite chain stays UNMATERIALIZED between rounds: every window
    // in mergeAdjacentPair/bpeRoundTop shares the (doc_id, idx)
    // partitioning and ordering, and Filter/Project preserve both, so a
    // round's count query pays ONE exchange + sort however many prior
    // rewrites are stacked under it (EnsureRequirements elides the
    // chained Sorts) — exactly the plan q79 already uses to APPLY a
    // merge table. Checkpointing the full positional stream per round
    // (the previous form) paid k stream materializations to avoid
    // recompute that costs only pipelined map work. A periodic
    // checkpoint every `ckptEvery` rounds bounds replan depth and
    // recompute when a caller asks for a large merge table (k in the
    // thousands at real scale); k ≤ ckptEvery never materializes at all.
    val ckptEvery = 8
    // Measured r22 and REJECTED: staging the positional stream ONCE
    // pre-partitioned + pre-sorted behind a localCheckpoint (so each
    // round's window chain skips its exchange+sort) — the one-time
    // checkpoint materialization of the full exploded stream cost MORE
    // than the per-round in-plan exchanges it replaced: QProbe q73
    // 1.62–2.25 → 2.00–2.41 s. Third negative result for materializing
    // this stream (r10 per-round, r11 fused, r22 once-up-front); the
    // round loop's exchanges are cheaper than any storage of the stream
    // at this geometry.
    var toks = bpeTokenStream(spark, dir)
    var lastCkpt: DataFrame = null
    val merges = Seq.newBuilder[(Long, String, String, Long, String)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = bpeRoundTop(toks).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r.toLong, a, b, n, s"${a}_$b"))
        toks = mergeAdjacentPair(toks, a, b)
        if (r % ckptEvery == 0) {
          val next = Stage.now(toks)
          if (lastCkpt != null) Stage.free(lastCkpt)
          lastCkpt = next
          toks = next
        }
      }
      r += 1
    }
    (merges.result(), toks)
  }

  /** Tokenizer APPLICATION: per-doc stream length before and after the k
    * learned BPE merges — the compression-ratio report that decides
    * whether a merge table is worth shipping. The merges come from the
    * memoized q73 loop (same rounds, same tie-breaks); APPLYING them is
    * k chained window rewrites over one doc_id exchange — no per-round
    * aggregates, collects, or checkpoints, which is exactly how a 100 TB
    * pipeline runs a shipped merge table over a corpus. Integer-exact
    * except the rounded ratio.
    */
  def bpeCompression(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val merges = learnMerges(spark, dir, rounds)
    val toks0 = rawTokens(spark, dir)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("idx", "tok")))
    val rewritten = merges.foldLeft(toks0) {
      case (t, (_, a, b, _, _)) => mergeAdjacentPair(t, a, b)
    }
    val after = rewritten.groupBy("doc_id").agg(count(lit(1)).as("n_after"))
    rawTokens(spark, dir)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_before"))
      .join(after, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        when(col("n_before") > 0,
          round(coalesce(col("n_after"), lit(0L)).cast("double") / col("n_before"), 6))
          .otherwise(lit(1.0)).as("ratio"))
      .orderBy("doc_id")
  }

  /** One BPE rewrite step over a position-indexed token stream (doc_id,
    * idx, tok): every adjacent (a, b) occurrence becomes one merged
    * `a_b` token — the match-start row is rewritten, its successor
    * dropped. Requires a ≠ b (occurrences cannot overlap, so the window
    * expression needs no greedy-scan state). Positions keep gaps;
    * adjacency is row order under `idx`, not density.
    */
  private[graft] def mergeAdjacentPair(toks: DataFrame, a: String,
      b: String): DataFrame = {
    require(a != b, "self-pairs are excluded from BPE merges")
    val byDoc = Window.partitionBy("doc_id").orderBy("idx")
    toks
      .withColumn("nxt", lead("tok", 1).over(byDoc))
      .withColumn("is_start",
        coalesce(col("tok") === a && col("nxt") === b, lit(false)))
      .withColumn("prev_start",
        coalesce(lag("is_start", 1).over(byDoc), lit(false)))
      .filter(!col("prev_start"))
      .select(col("doc_id"), col("idx"),
        when(col("is_start"), lit(s"${a}_$b")).otherwise(col("tok")).as("tok"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, "Scaling
    * Language Models", appendix A1.1 — the standard pre-training quality
    * gate), restricted to the rules this corpus can express and recast so
    * every comparison is INTEGER cross-multiplication (no float
    * thresholds ⇒ the oracle compare is exact):
    *
    *  - `wc_ok`:    20 ≤ token count ≤ 100 000
    *  - `mwl_ok`:   mean token length ∈ [3, 10]   (3·n ≤ Σlen ≤ 10·n)
    *  - `stop_ok`:  ≥ 2 stop-word occurrences
    *  - `alpha_ok`: ≥ 80 % of tokens contain a letter (5·alpha ≥ 4·n)
    *  - `rep_ok`:   duplicate-bigram mass ≤ 10 %  (10·dups ≤ bigrams)
    *
    * `keep` = all five (flags are 1/0 BIGINTs — integer-exact end to
    * end). Pure per-row map over the corpus: no shuffle beyond the edge
    * sort, so it parallelizes embarrassingly at 100 TB and composes with
    * the dedup-survivor filter (q54) as the pipeline's quality pass.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRaw(spark, dir).orderBy("doc_id")

  /** UNSORTED Gopher-flag relation — building-block form for pipeline
    * compositions (trainCorpus); q75 sorts at its edge.
    */
  private def gopherRaw(spark: SparkSession, dir: String): DataFrame =
    // rawTokens, not withTokens (r21): only `toks` is read — share the
    // cached ordered-token artifact instead of re-tokenizing per call
    gopherFlags(rawTokens(spark, dir))

  /** The five Gopher rules over a `toks` token-array column — THE one
    * definition, used by q75 and by the streaming quality gate
    * (StreamingOps.qualityGatedIngest). Replaces `toks` with `n_tokens`,
    * the five 1/0 flags and `keep`; every other input column passes
    * through. Per-row and stateless, so it runs unchanged over a stream.
    */
  private[graft] def gopherFlags(toksDf: DataFrame): DataFrame = {
    val stopList = TokenPipeline.StopWords
    def flag(c: org.apache.spark.sql.Column) = when(c, 1L).otherwise(0L)
    val rest = toksDf.columns.filter(_ != "toks").map(col).toSeq
    toksDf
      .select(rest ++ Seq(
        size(col("toks")).cast("long").as("n_tokens"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).as("sum_len"),
        size(filter(col("toks"), t => t.isin(stopList: _*))).cast("long").as("n_stop"),
        size(filter(col("toks"), t => t.rlike("[a-z]"))).cast("long").as("n_alpha"),
        TextFns.shingleArray(col("toks"), 2).as("bg")): _*)
      .select(rest ++ Seq(col("n_tokens"),
        flag(col("n_tokens") >= 20 && col("n_tokens") <= 100000).as("wc_ok"),
        flag(lit(3) * col("n_tokens") <= col("sum_len") &&
          col("sum_len") <= lit(10) * col("n_tokens")).as("mwl_ok"),
        flag(col("n_stop") >= 2).as("stop_ok"),
        flag(lit(5) * col("n_alpha") >= lit(4) * col("n_tokens")).as("alpha_ok"),
        flag(lit(10) * (size(col("bg")) - size(array_distinct(col("bg")))) <=
          size(col("bg"))).as("rep_ok")): _*)
      .withColumn("keep",
        col("wc_ok") * col("mwl_ok") * col("stop_ok") * col("alpha_ok") * col("rep_ok"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Modeling via Importance Resampling"): score every document
    * by how much its hashed-bigram feature distribution resembles a
    * target domain (here lang='en' — the corpus's own metadata) relative
    * to the raw corpus. Features are word bigrams hashed into 256 md5
    * buckets; per-bucket weight is the Laplace-smoothed log-likelihood
    * ratio  w(b) = ln((tgt(b)+1)/(T+256)) − ln((raw(b)+1)/(R+256)),
    * QUANTIZED to 6 decimals at the bucket table so both engines fold
    * bit-identical doubles; a document's score is the strictly
    * sequential (bucket-ordered) fold of n_doc(b)·w(b).
    *
    * Scale shape: the bucket table is 256 rows (broadcast); everything
    * else is two hash aggregates over the bigram stream and one per-doc
    * fold over ≤256 entries — no shuffle wider than (doc_id, bucket).
    * At 100 TB the weights would be learned once on a sample and shipped
    * as a literal map; the query keeps the learning pass in-plan so the
    * oracle can check it end to end.
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docB = dsirDocBuckets(spark, dir)
    // score in SCALED 64-BIT INTEGERS (the q84 PageRank device): the
    // 6-decimal quantized weight w is k/10⁶ by construction, so
    // round(w·10⁶) recovers k exactly and Σ n·k is an order-independent
    // long — a codegen'd hash aggregate instead of the sorted
    // collect_list + sequential fold this used to be (the fold cost
    // ~2.5 s/pass at sf0.1, measured; floats only reappear in the final
    // exactly-rounded IEEE division, identical in both engines)
    val scored = docB.join(broadcast(dsirWeightTable(spark, dir)), Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_bigrams"),
        sum(col("n") * round(col("w") * 1000000L).cast("long")).as("s6"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s6").cast("double") / 1000000.0, 6).as("score"))
    Tables.documents(spark, dir).select("doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("score"), lit(0.0)).as("score"))
      .orderBy("doc_id")
  }

  /** The DSIR feature bucket of a bigram: the first two md5 nibbles
    * (0..255). Shared by the feature relation below and the streaming
    * per-row scorer (StreamingOps.dsirScore).
    */
  private[graft] def dsirBucketOf(bigram: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    conv(substring(md5(bigram), 1, 2), 16, 10).cast("long")

  private[graft] val dsirCache = Artifact.relation("TextAnalysis.dsirCache", Artifact.Index)

  /** Per-doc hashed-bigram bucket counts (doc_id, bucket, n) — the DSIR
    * feature vectors. Cached per (session, dir) as an INDEX ARTIFACT:
    * per-item precomputed structures (the same class as signatures /
    * fingerprints / tf-idf weights — what a deployed selection engine
    * persists next to its corpus), not a detection result. Three
    * consumers re-read it per pass: the weight-table learn (twice, raw +
    * target side), the q82 per-doc scoring fold, and q109's draw over
    * the scores.
    */
  private[graft] def dsirDocBuckets(spark: SparkSession, dir: String): DataFrame =
    dsirCache(spark, dir) {
      rawTokens(spark, dir)
        .select(col("doc_id"), explode(TextFns.shingleArray(col("toks"), 2)).as("b"))
        .select(col("doc_id"), dsirBucketOf(col("b")).as("bucket"))
        .groupBy("doc_id", "bucket").agg(count(lit(1)).as("n"))
    }

  private[graft] val dsirWtCache = Artifact.relation("TextAnalysis.dsirWtCache", Artifact.Index)

  /** The learned 256-row DSIR weight table (bucket → quantized
    * log-likelihood ratio) — the artifact a 100 TB deployment would
    * learn once on a sample and ship as a broadcast/literal map; the
    * per-row streaming scorer (StreamingOps.dsirScore) consumes it
    * collected and buckets through the same dsirBucketOf.
    * Cached per (session, dir) as an INDEX ARTIFACT (the tf-idf weight
    * precedent — learned per-bucket scores a deployment persists, not a
    * detection result): its 8-job learn lineage costs ~2 s/evaluation in
    * pure stage overhead at sf0.1 (measured), against a 256-row output
    * that q82 and q109 each re-derived every pass.
    */
  def dsirWeightTable(spark: SparkSession, dir: String): DataFrame =
    dsirWtCache(spark, dir) {
      dsirWeightTableRaw(spark, dir)
    }

  private def dsirWeightTableRaw(spark: SparkSession, dir: String): DataFrame = {
    val docB = dsirDocBuckets(spark, dir)
    val raw = docB.groupBy("bucket").agg(sum("n").as("raw_n"))
    val tgt = docB
      .join(Tables.documents(spark, dir).filter(col("lang") === "en")
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy("bucket").agg(sum("n").as("tgt_n"))
    val rTot = raw.agg(sum("raw_n").as("rt"))
    val tTot = tgt.agg(sum("tgt_n").as("tt"))
    raw.join(tgt, Seq("bucket"), "left")
      .crossJoin(broadcast(rTot)).crossJoin(broadcast(tTot))
      .select(col("bucket"), round(
        log((coalesce(col("tgt_n"), lit(0L)) + lit(1L)).cast("double") /
          (col("tt") + lit(256L)).cast("double")) -
        log((col("raw_n") + lit(1L)).cast("double") /
          (col("rt") + lit(256L)).cast("double")), 6).as("w"))
  }

  /** End-to-end training-corpus materialization — the pipeline verdict a
    * pretraining run filters on, one row per document (composition of
    * q56 + q54 + q75 + the reverse of q59):
    *
    *  1. `split`       — content-hash split assignment (train/val/test)
    *  2. `dedup_kept`  — canonical survivor of its near-dup component
    *  3. `quality_ok`  — all five Gopher rules pass
    *  4. `contaminated`— train doc sharing ≥1 5-gram shingle with any
    *                     val/test doc (the leakage decontamination removes;
    *                     0 for eval docs — they never enter training)
    *
    * `train_ok` = train ∧ survivor ∧ quality ∧ ¬contaminated.
    *
    * Scale shape: every stage is reused from its own query (shared
    * shingle/signature caches, no recomputation), contamination is a
    * shingle equi-join (never all-pairs), and the final assembly is four
    * joins on doc_id — co-partitioned after one exchange. At 100 TB this
    * is the relation you'd write once and feed the tokenizer from.
    */
  def trainCorpus(spark: SparkSession, dir: String): DataFrame =
    trainVerdictRaw(spark, dir).orderBy("doc_id")

  /** Per-source pipeline attrition report (q86) — the one-page summary a
    * data lead reads before a run: how many documents each source
    * contributes and how many survive each gate of the q81 verdict.
    * Pure aggregate over the verdict relation joined with the source
    * column — the report costs one extra shuffle on `source` after the
    * verdict is built.
    */
  def corpusReport(spark: SparkSession, dir: String): DataFrame =
    trainVerdictRaw(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dedup_kept"), 1L).otherwise(0L)).as("n_dedup_kept"),
        sum(col("quality_ok")).as("n_quality"),
        sum(col("contaminated")).as("n_contaminated"),
        sum(col("train_ok")).as("n_train_ok"))
      .orderBy("source")

  private[graft] val verdictCache = Artifact.relation("TextAnalysis.verdictCache", Artifact.Result)

  /** UNSORTED per-document verdict — building-block form shared by q81
    * (sorted edge), q86 (per-source aggregate), and the two Pipeline
    * writers. Memoized as a RESULT MEMO (evicted by
    * Caches.clearResultMemos): the dedup_kept column embeds the cluster
    * labels, themselves a per-pass-re-paid detection result — so within
    * one bench pass whichever consumer runs first (q81 sorts before q86)
    * pays the assembly once — the contamination shingle joins are the
    * expensive half — and the rest reuse it, while across passes the
    * detection is honestly re-paid (round 13: q81 + q86 were each
    * reassembling the full verdict, ~2.9 s/pass combined for one
    * relation).
    */
  private def trainVerdictRaw(spark: SparkSession, dir: String): DataFrame =
    verdictCache(spark, dir)(trainVerdictBuild(spark, dir))

  private def trainVerdictBuild(spark: SparkSession, dir: String): DataFrame = {
    val splits = splitRaw(spark, dir).select("doc_id", "split")
    val surv = Dedup.survivorsRaw(spark, dir)
      .select(col("doc_id"), col("kept").as("dedup_kept"))
    val quality = gopherRaw(spark, dir)
      .select(col("doc_id"), col("keep").as("quality_ok"))
    val sh = Dedup.shingles(spark, dir)
    val trainSh = sh.join(
      splits.filter(col("split") === "train").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val evalSh = sh.join(
      splits.filter(col("split") =!= "train").select("doc_id"),
      Seq("doc_id"), "left_semi").select("shingle").distinct()
    val contam = trainSh.join(evalSh, Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("contam", lit(1L))
    splits
      .join(surv, Seq("doc_id"))
      .join(quality, Seq("doc_id"))
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"), col("dedup_kept"), col("quality_ok"),
        coalesce(col("contam"), lit(0L)).as("contaminated"))
      .withColumn("train_ok",
        when(col("split") === "train" && col("dedup_kept") &&
          col("quality_ok") === 1L && col("contaminated") === 0L, 1L)
          .otherwise(0L))
  }

  /** Per-source boilerplate prefixes (q87): the top-3 most common 5-token
    * document openings per source with their share of the source's docs —
    * the template/header detector a web-corpus cleaning pass runs (CCNet-
    * style boilerplate shows up as one prefix owning a large share).
    * Counts are integers; only the share divides (rounded 6). Docs with
    * <5 tokens contribute their full (shorter) opening; empty docs are
    * out of domain. One shuffle on (source, prefix), a per-source window
    * over the grouped (vocabulary-sized) relation, never over documents.
    */
  def boilerplatePrefixes(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val pref = rawTokens(spark, dir)
      .filter(size(col("toks")) > 0)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), Seq("doc_id"))
      .select(col("source"), concat_ws(" ", slice(col("toks"), 1, 5)).as("prefix"))
    val counts = pref.groupBy("source", "prefix").agg(count(lit(1)).as("n_docs"))
    val totals = pref.groupBy("source").agg(count(lit(1)).as("n_total"))
    // bounded top-k per source — native CollectTopK on
    // struct(-n_docs, prefix) (r21, the Similarity.topK device): the
    // former ranking window shuffled the whole vocabulary-sized
    // (source, prefix) count relation into |sources| window partitions;
    // the partial aggregate carries ≤ k rows per source per map partition
    counts.groupBy("source")
      .agg(org.apache.spark.sql.GraftBridge.collectTopK(
        struct((-col("n_docs")).as("nn"), col("prefix")), k, reverse = true)
        .as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.prefix").as("prefix"), (-col("col.nn")).as("n_docs"))
      .join(totals, Seq("source"))
      .select(col("source"), col("rnk"), col("prefix"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total"), 6).as("share"))
      .orderBy("source", "rnk")
  }

  /** Document novelty (q91): the fraction of a document's distinct
    * bigrams whose FIRST corpus occurrence (minimum doc_id over the
    * ingestion order) is this document — the doc-grain "how much new
    * content does each crawl item add" attribution (q66 answers it at
    * batch grain). Zero-bigram docs are out of domain. Integer counts;
    * one ratio at the edge.
    *
    * No bigram-stream join: a doc's novel count is |{b : first_doc(b) =
    * doc}| which is a GROUP BY first_doc over the vocabulary-sized
    * first-seen relation — so the plan is two aggregates off one shared
    * bigram scan plus a doc-grain join of two doc-sized relations
    * (novelty counts left-joined onto per-doc bigram counts, absent ⇒ 0).
    * The previous form joined the full (doc, bigram) stream back to
    * first-seen — corpus-sized shuffle work for numbers that the two
    * small aggregates already determine.
    */
  def docNovelty(spark: SparkSession, dir: String): DataFrame = {
    val bg = rawTokens(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(TextFns.shingleArray(col("toks"), 2))).as("b"))
    val perDoc = bg.groupBy("doc_id").agg(count(lit(1)).as("n_bigrams"))
    val novel = bg.groupBy("b").agg(min("doc_id").as("first_doc"))
      .groupBy("first_doc").agg(count(lit(1)).as("n_novel"))
      .select(col("first_doc").as("doc_id"), col("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bigrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_bigrams"), 6).as("novelty"))
      .orderBy("doc_id")
  }

  /** Per-doc unigram entropy (q92): H = ln(N) − Σ n_t·ln(n_t) / N over
    * the document's own token counts — the repetitiveness signal scored
    * in nats (uniform tokens → ln(N), one repeated token → 0). The
    * Σ n_t·ln(n_t) fold is token-ordered and sequential so both engines
    * sum identical doubles in identical order; ln is engine-libm but the
    * edge round(6) absorbs the ulp, exactly as q34/q70. Empty docs are
    * out of domain. One (doc, token) aggregate + one per-doc fold.
    */
  private[graft] val rawCountsCache = Artifact.relation("TextAnalysis.rawCountsCache", Artifact.Index)

  /** Raw per-(doc, token) occurrence counts over the UNFILTERED token
    * stream — INDEX-ARTIFACT cache class (r22): the exact term-frequency
    * relation an engine keeps resident (the unfiltered twin of the
    * docTokenCounts hub). Before the cache, q92's entropy built it once
    * per call and q99's LM scoring subtree evaluated it THREE times per
    * call (doc side, corpus-count side, corpus-total side — the before
    * plan shows the explode+aggregate chain under three separate
    * exchanges). Reads rawTokens.
    */
  private[graft] def rawTokenCounts(spark: SparkSession, dir: String): DataFrame =
    rawCountsCache(spark, dir) {
      rawTokens(spark, dir)
        .select(col("doc_id"), explode(col("toks")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("n"))
    }

  def tokenEntropy(spark: SparkSession, dir: String): DataFrame =
    rawTokenCounts(spark, dir)
      .groupBy("doc_id")
      .agg(sum("n").as("n_tokens"),
        sort_array(collect_list(struct(col("token"),
          (col("n").cast("double") * log(col("n").cast("double"))).as("t"))))
          .as("ts"))
      .select(col("doc_id"), col("n_tokens"),
        round(log(col("n_tokens").cast("double")) -
          aggregate(col("ts"), lit(0.0), (acc, x) => acc + x.getField("t")) /
            col("n_tokens"), 6).as("entropy"))
      .orderBy("doc_id")

  /** Per-doc cross-entropy under the corpus unigram LM (q99): the CCNet
    * device — score every document by how surprising its tokens are to a
    * language model of the whole corpus, here the exact unigram MLE.
    * CE = ln T − Σ n_t·ln(c_t) / N (nats), with n_t the doc's token
    * count, c_t the corpus count, T total corpus tokens; also reported:
    * KL(doc ‖ corpus) = CE − H_doc ≥ 0, the "how unusual" distance that
    * separates topical/boilerplate outliers from typical prose. Both
    * Σ-folds are token-ordered and sequential over one collected struct
    * array (the q92 device) so both engines sum identical doubles in
    * identical order; ln is engine-libm, absorbed by round(6). Scale: a
    * (doc,token)→(token) vocab join + one per-doc fold; the corpus
    * counts relation is vocab-sized and the total a broadcast scalar —
    * at 100 TB the LM side would be learned once and shipped, exactly
    * like q82's weight table.
    */
  def crossEntropy(spark: SparkSession, dir: String): DataFrame = {
    // all three references (doc side, corpus counts, corpus total) read
    // the ONE persisted rawTokenCounts artifact (r22, guide §2.4): the
    // inline form re-ran the corpus-scale explode+aggregate three times
    val dt = rawTokenCounts(spark, dir)
    val corpus = dt.groupBy("token").agg(sum("n").as("c"))
    val total = corpus.agg(sum("c").as("tt"))
    def fold(field: String) =
      aggregate(col("ts"), lit(0.0), (a, x) => a + x.getField(field))
    dt.join(corpus, Seq("token"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_tokens"),
        sort_array(collect_list(struct(col("token"),
          (col("n").cast("double") * log(col("c").cast("double"))).as("tc"),
          (col("n").cast("double") * log(col("n").cast("double"))).as("tn"))))
          .as("ts"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"),
        round(log(col("tt").cast("double")) - fold("tc") / col("n_tokens"), 6)
          .as("cross_entropy"),
        round(log(col("tt").cast("double")) - log(col("n_tokens").cast("double"))
          + (fold("tn") - fold("tc")) / col("n_tokens"), 6).as("kl"))
      .orderBy("doc_id")
  }

  /** Per-source exact token-length quantiles (q89): p10/p50/p90 of the
    * per-doc raw token count, computed by INDEX (rank r = (n−1)·p/100 + 1
    * under (count, doc_id) order, all integer arithmetic) — no engine
    * `percentile` involved, so both engines pick the identical document.
    * This is the table a pipeline reads to set per-source length cutoffs
    * (the Gopher wc rule, calibrated per source instead of globally).
    * One shuffle on source; the ranking window runs over doc-count rows
    * per source — the same bound q65's stratified sampler already
    * carries.
    */
  def lengthQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val counts = rawTokens(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), Seq("doc_id"))
      .select(col("source"), size(col("toks")).cast("long").as("t"))
    // EXACT-length histogram instead of a doc-grain ranking window (r21,
    // guide §2.3/§2.5): the former form shuffled every document into
    // |sources| window partitions and sorted them; this groups to the
    // per-(source, length) count grid first — distinct lengths per
    // source, not documents, cross the exchange and feed the cumulative
    // window. The doc at rank r under (t, doc_id) order has the smallest
    // t whose cumulative count reaches r (the doc_id tie-break only
    // orders docs WITHIN one t, never changing that doc's t), so picking
    // min t with cum ≥ r is value-identical — q108's device with exact
    // bins. The doc_id tie-break disappears with the doc grain.
    val hist = counts.groupBy("source", "t").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("source").orderBy("t")
    val cum = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("source")))
    def pick(p: Int) =
      min(when(col("cum") >= expr(s"((n - 1) * $p) div 100 + 1"), col("t")))
    cum.groupBy("source")
      .agg(max(col("n")).as("n_docs"),
        pick(10).as("p10"), pick(50).as("p50"), pick(90).as("p90"))
      .orderBy("source")
  }

  /** Cross-document duplicated-span coverage — the substring-level dedup
    * signal (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): for each document, what fraction of its 5-gram
    * shingles also occur in at least one OTHER document. Documents with
    * high coverage are near-copies or heavy boilerplate even when no
    * single pair-level match fires.
    *
    * Cost is the inverted shingle index, not pairs: one aggregate for
    * per-shingle document frequency, one join back, one per-doc aggregate
    * — three shuffles total, all on shingle/doc keys, never an all-pairs
    * product. Docs shorter than one shingle have no coverage to measure
    * and are absent (same domain as the shingle relation itself).
    */
  def dupSpanCoverage(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingles(spark, dir)
    val df = Dedup.shingleDf(spark, dir)
    sh.join(df, Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_shingles"), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Zipf head coverage: the k most frequent raw tokens with cumulative
    * corpus coverage — the curve that sizes a tokenizer vocabulary (how
    * much of the stream the head captures). Top-k comes from
    * `orderBy.limit(k)`, which Spark plans as a distributed TakeOrdered
    * (per-partition heaps + driver merge of k rows), NOT a global sort of
    * the vocabulary; the ranking/cumulative windows then run over the
    * k-row result, so the single-partition window warning is bounded by
    * k, and the grand total rides in as a broadcast one-row cross join.
    * Integer counts; only the final coverage fraction is rounded.
    */
  def headCoverage(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val counts = rawTokens(spark, dir)
      .select(explode(col("toks")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("token")).limit(k)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("cnt").desc, col("token"))).cast("long"))
    val total = counts.agg(sum("cnt").as("total"))
    val cum = Window.orderBy("rnk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("cum_cnt", sum("cnt").over(cum))
      .select(col("rnk"), col("token"), col("cnt"), col("cum_cnt"),
        round(col("cum_cnt").cast("double") / col("total"), 6).as("cum_frac"))
      .orderBy("rnk")
  }

  /** Character-bigram language signal: occurrences of the five most common
    * English bigrams (n-gram heuristic flavor of language ID; integer-exact
    * for the oracle).
    */
  def enBigramHits(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = Seq("th", "he", "in", "er", "an")
    val hits = bigrams.map(b => TextFns.countSubstr(lower(col("text")), b))
      .reduce(_ + _)
    Tables.documents(spark, dir)
      .select(col("doc_id"), hits.cast("long").as("bigram_hits"),
        length(col("text")).cast("long").as("n_chars_seen"))
      .orderBy("doc_id")
  }

  /** q106/q107 chunking geometry — read by OracleSql so the DuckDB mirror
    * can never desync from the Spark side.
    */
  val ChunkWidth = 64
  val ChunkOverlap = 16
  /** Packed-key base for the q107 keeper MIN; chunk_id < PackBase for any
    * real document (chunks per doc ≈ tokens / stride).
    */
  val ChunkPackBase = 1000000L

  /** Fixed-window document chunking with overlap (q106) — the
    * embedding/RAG prep step every retrieval corpus runs: each doc's
    * ordered token stream cut into `width`-token windows advancing by
    * `width − overlap`, so consecutive chunks share `overlap` tokens and
    * no boundary sentence is lost to a cut. Window starts are
    * 0, stride, 2·stride, … up to max(n − overlap − 1, 0): a window is
    * opened only while it contributes ≥1 token that is not pure overlap
    * of its predecessor, so a doc shorter than `width` yields exactly one
    * chunk and an empty doc yields none. Per chunk: position ids, token
    * count (the final chunk may run short), and an md5 over the
    * space-joined tokens — the identity a chunk store keys on.
    *
    * Scale shape: one narrow posexplode + codegen'd array slice over the
    * CACHED ordered-token relation (rawTokens — the same single tokenize
    * pass q70/q84 read); no join, no aggregate, the only exchange is the
    * report ORDER BY. Output is bounded by width/(width−overlap) ≈ 1.33×
    * corpus tokens, so 100 TB chunks exactly like 100 MB — per partition,
    * independently.
    */
  def docChunks(spark: SparkSession, dir: String,
      width: Int = ChunkWidth, overlap: Int = ChunkOverlap): DataFrame =
    chunksOf(rawTokens(spark, dir), width, overlap)
      .orderBy("doc_id", "chunk_id")

  /** Chunk rows from a free-standing (doc_id, toks) relation — THE single
    * definition of the chunk geometry (the shinglesOf pattern), shared by
    * the dir-cached batch path above and the streaming chunk-dedup
    * ingest, so the two can never drift apart. Unordered; stateless and
    * streaming-safe (one Generate + codegen'd slice/md5 projection).
    */
  private[graft] def chunksOf(toksDf: DataFrame,
      width: Int = ChunkWidth, overlap: Int = ChunkOverlap): DataFrame = {
    require(width > overlap && overlap >= 0, "need width > overlap >= 0")
    val stride = width - overlap
    val lastStart = greatest(size(col("toks")) - overlap - 1, lit(0))
    toksDf
      .where(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), lastStart, lit(stride))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        col("col").cast("long").as("start_pos"),
        slice(col("toks"), col("col") + 1, lit(width)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"), col("start_pos"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
  }

  /** DSIR selection (q109) — the resampling step that closes the q82
    * score→select loop: draw the k documents a targeted data-selection
    * run would keep, sampling WITHOUT replacement proportionally to
    * exp(score) via the Gumbel-top-k identity (top-k of score + Gumbel
    * noise ~ sequential softmax draws). The noise is DERANDOMIZED the
    * repo's standard way: u = (md5("dsir|" + doc_id) first 52 bits
    * + 0.5) / 2^52 — exact in both engines since 2^52 is a power of
    * two — and g = −ln(−ln u); keys round to 6 decimals (the q82 score
    * idiom) with doc_id as the total-order tie-break, so the draw is
    * reproducible across engines, reruns, and repartitioning. Scale
    * shape: one map-side key projection over the q82 relation, then
    * distributed TakeOrdered (per-partition top-k heaps — k rows per
    * partition travel, no global sort); the ranking window runs over the
    * k-row result only (the q80 device).
    */
  def dsirSelect(spark: SparkSession, dir: String, k: Int = 200): DataFrame = {
    val u = (expr("cast(conv(substring(md5(concat('dsir|', cast(doc_id as string))), 1, 13), 16, 10) as bigint)")
      .cast("double") + lit(0.5)) / lit(4503599627370496.0) // 2^52
    val keyed = dsirWeights(spark, dir)
      .select(col("doc_id"), col("score"),
        round(col("score") - log(-log(u)), 6).as("gkey"))
    keyed.orderBy(col("gkey").desc, col("doc_id")).limit(k)
      .select(
        row_number().over(Window.orderBy(col("gkey").desc, col("doc_id")))
          .cast("long").as("rnk"),
        col("doc_id"), col("score"), col("gkey"))
      .orderBy("rnk")
  }

  /** Chunk-grain duplicate report (q107) — the CCNet paragraph-hash dedup
    * shape: group the q106 chunks by content hash, keep groups seen more
    * than once, and name each group's canonical keeper (the minimum
    * (doc_id, chunk_id), packed into one 64-bit key so MIN is a plain
    * numeric aggregate in both engines — no min_by tie ambiguity). This
    * is sub-document dedup as a pipeline would ship it: at 100 TB the
    * shuffle carries 16-byte hashes + two longs per chunk, never text,
    * and the duplicate report is the filter a training run applies to
    * drop repeated boilerplate paragraphs while keeping their first
    * occurrence.
    */
  def chunkDuplicates(spark: SparkSession, dir: String): DataFrame = {
    val PackBase = ChunkPackBase
    docChunks(spark, dir)
      .groupBy("chunk_hash")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id") * PackBase + col("chunk_id")).as("keeper_key"))
      .where(col("n_occurrences") > 1)
      .select(col("chunk_hash"), col("n_occurrences"), col("n_docs"),
        // subtract the remainder first so the division is over an exact
        // multiple of PackBase — integer-exact through the double path
        ((col("keeper_key") - col("keeper_key") % PackBase) / PackBase)
          .cast("long").as("keeper_doc_id"),
        (col("keeper_key") % PackBase).cast("long").as("keeper_chunk_id"))
      .orderBy(col("n_occurrences").desc, col("chunk_hash"))
  }

  /** q110 PII patterns — read by OracleSql so the DuckDB mirror can never
    * desync from the Spark side. Restricted to the Java-regex/RE2 common
    * subset (explicit char classes, bounded quantifiers; no `\d`, no
    * anchors, no lookaround) so both engines match identically.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhoneRe = "555-[0-9]{4}"

  /** PII detection + redaction (q110) — the scrub stage every pretraining
    * pipeline runs before anything else sees the text (emails, IPs, phone
    * numbers → typed placeholders). The synthetic corpus carries no PII,
    * so deterministic positives are INJECTED from real columns first
    * (`user<doc_id>@<source>.example.com`, a dotted quad and a 555-line
    * keyed off doc_id, each gated by a doc_id residue so every zero /
    * one / many count path is exercised) — the established fixture idiom
    * (SURVEY §6's synthesized URL column). Output per doc: pre-redaction
    * match counts per type, redacted length, and the md5 of the redacted
    * text. Redaction order is fixed (email → IP → phone) and mirrored in
    * the oracle.
    *
    * Scale shape: pure per-row codegen'd regex projection — no join, no
    * aggregate, no shuffle beyond the edge sort; 100 TB scrubs exactly
    * like 100 MB, partition by partition.
    */
  def piiRedaction(spark: SparkSession, dir: String): DataFrame =
    piiScrub(Tables.documents(spark, dir)).orderBy("doc_id")

  /** The redaction itself on ANY text column — email → IP → phone, the
    * fixed order q110 and its oracle share. Free-standing so the q110
    * query (which scrubs the injected-fixture text) and Pipeline
    * .cleanCorpus (which scrubs the corpus as-is) can never drift.
    */
  private[graft] def piiRedactCol(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Total PII REPLACEMENT EVENTS piiRedactCol performs on this text —
    * each stage's matches are counted on that stage's actual input (the
    * output of the previous replace), mirroring the email → IP → phone
    * order. Counting all three patterns independently on the raw text
    * would double-count overlaps (an IPv4 inside an email's domain
    * matches Ipv4Re but is swallowed by the email replacement and never
    * redacted separately), overstating a data card's redaction figure.
    */
  private[graft] def piiHitsCol(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val afterEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    (size(regexp_extract_all(text, lit(EmailRe), lit(0)))
      + size(regexp_extract_all(afterEmail, lit(Ipv4Re), lit(0)))
      + size(regexp_extract_all(afterIp, lit(PhoneRe), lit(0)))).cast("long")
  }

  /** The scrub projection on a free-standing (doc_id, text, source)
    * relation — THE single definition of q110's semantics. The dir-backed
    * query above runs it over the corpus, and a stream runs it unchanged
    * (StreamingSpec: bit-identical over a file stream). Stateless (no
    * aggregate, no window), so no streaming twin exists.
    */
  private[graft] def piiScrub(docs: DataFrame): DataFrame = {
    val ptxt = piiInjected(col("doc_id"), col("text"), col("source"))
    val red = piiRedactCol(ptxt)
    docs.select(col("doc_id"),
      size(regexp_extract_all(ptxt, lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(ptxt, lit(Ipv4Re), lit(0)))
        .cast("long").as("n_ips"),
      size(regexp_extract_all(ptxt, lit(PhoneRe), lit(0)))
        .cast("long").as("n_phones"),
      length(red).cast("long").as("n_red_chars"),
      md5(red).as("red_hash"))
  }

  /** The injected-PII text column — free-standing (doc_id, text, source)
    * form of piiScrub's fixture injection.
    */
  private[graft] def piiInjected(docId: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column,
      source: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def s(c: org.apache.spark.sql.Column) = c.cast("string")
    val email = concat(lit(" contact user"), s(docId), lit("@"),
      source, lit(".example.com"))
    val ip = concat(lit(" from 10."), s(docId % 240), lit("."),
      s((docId * 7) % 240), lit(".12"))
    val phone = concat(lit(" call 555-"), lpad(s(docId % 10000), 4, "0"))
    val email2 = concat(lit(" cc admin"), s(docId), lit("@backup.example.org"))
    val ip2 = concat(lit(" and 10.9."), s(docId % 250), lit(".7"))
    concat(text,
      when(docId % 3 =!= 2, email).otherwise(lit("")),
      when(docId % 6 === 0, email2).otherwise(lit("")),
      when(docId % 2 === 0, ip).otherwise(lit("")),
      when(docId % 4 === 0, ip2).otherwise(lit("")),
      when(docId % 5 < 2, phone).otherwise(lit("")))
  }

  /** Chunk-grain corpus purge (q111) — APPLIES the q107-style dedup and
    * reconstructs the retained corpus, the step that actually writes the
    * training set: cut each doc into non-overlapping `width`-token
    * windows (overlap must be 0 so the windows partition the token
    * stream and the survivors re-concatenate losslessly), keep each
    * distinct window's first occurrence (minimum packed (doc_id,
    * chunk_id), the q107 keeper rule) and every singleton, drop the rest,
    * and rebuild each doc from its surviving windows in order. Output per
    * doc: window counts kept/dropped, retained token count, and the md5
    * of the retained text (identical to md5 of the full token stream for
    * untouched docs).
    *
    * Scale shape: the text never shuffles. The keeper adjudication runs
    * on the NARROW chunk relation (doc_id, chunk_id, 16-byte hash — the
    * q107 shuffle); the resulting per-doc drop lists are tiny (only docs
    * that lose a window appear, carrying int arrays), so AQE broadcasts
    * them back onto the token relation, and the rebuild is a map-side
    * array transform over each doc's own row. At 100 TB the corpus is
    * read once and moved zero times.
    */
  def chunkPurge(spark: SparkSession, dir: String,
      width: Int = ChunkWidth): DataFrame =
    purgeCore(rawTokens(spark, dir), width)
      .select(col("doc_id"),
        size(col("slices")).cast("long").as("n_chunks"),
        size(col("kept")).cast("long").as("n_kept"),
        (size(col("slices")) - size(col("kept"))).cast("long").as("n_dropped"),
        aggregate(col("kept"), lit(0L), (a, sl) => a + size(sl))
          .as("n_kept_tokens"),
        md5(concat_ws(" ", flatten(col("kept")))).as("retained_hash"))
      .orderBy("doc_id")

  /** The purge itself over ANY free-standing (doc_id, toks) relation —
    * THE single definition of the q111 keeper adjudication + map-side
    * rebuild, shared by the dir-backed query above (which reports
    * metrics + the retained md5) and Pipeline.cleanCorpus (which writes
    * the retained text). Returns one row per input doc with the window
    * arrays still in columnar form: (doc_id, toks, drop_ids, slices,
    * kept) — callers pick their projection.
    */
  private[graft] def purgeCore(toks: DataFrame,
      width: Int = ChunkWidth): DataFrame = {
    val narrow = chunksOf(toks, width, 0)
      .select(col("doc_id"), col("chunk_id"), col("chunk_hash"))
    val packed = col("doc_id") * ChunkPackBase + col("chunk_id")
    val drops = narrow.join(windowKeepers(narrow), "chunk_hash")
      .where(packed =!= col("keeper_key"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("chunk_id"))).as("drop_ids"))
    rebuildFromDrops(toks, drops, width)
  }

  /** q107's keeper adjudication over a narrow (doc_id, chunk_id,
    * chunk_hash) relation — duplicated hashes with their packed-MIN
    * keeper. THE single definition, shared by purgeCore and the
    * cross-corpus purge (review finding: was duplicated).
    */
  private def windowKeepers(narrow: DataFrame): DataFrame =
    narrow.groupBy("chunk_hash")
      .agg(count(lit(1)).as("n_occ"),
        min(col("doc_id") * ChunkPackBase + col("chunk_id")).as("keeper_key"))
      .where(col("n_occ") > 1)
      .select("chunk_hash", "keeper_key")

  /** The map-side rebuild shared by purgeCore and the cross-corpus purge:
    * left-join per-doc `drop_ids` onto the token relation (tiny drop
    * lists — the AQE-broadcast side in the common case) and re-derive
    * each doc's windows as arrays, keeping the ones not named. Any extra
    * columns on `drops` ride through the join (nullable for docs with no
    * drop row — callers coalesce).
    */
  private def rebuildFromDrops(toks: DataFrame, drops: DataFrame,
      width: Int): DataFrame = {
    val starts = when(size(col("toks")) === 0,
      array().cast("array<int>"))
      .otherwise(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
        lit(width)))
    val slices = transform(starts, st => slice(col("toks"), st + 1, lit(width)))
    val kept = filter(col("slices"),
      (_, i) => !array_contains(col("drop_ids"), i.cast("long")))
    toks.join(drops, Seq("doc_id"), "left_outer")
      .withColumn("drop_ids",
        coalesce(col("drop_ids"), array().cast("array<bigint>")))
      .withColumn("slices", slices)
      .withColumn("kept", kept)
  }

  /** Cross-corpus chunk purge (q113) — the per-dump production shape of
    * q111 (CCNet's: yesterday's corpus is already indexed; today's dump
    * is purged against it AND against itself): odd doc_ids play the
    * incoming dump, even the existing corpus (the q62 parity device,
    * both sides one cached tokenize pass). A window drops if the corpus
    * already has its hash (EVERY occurrence drops — the corpus copy
    * survives elsewhere) or, for corpus-new hashes, by q107's keeper
    * rule within the dump (first occurrence survives). Per incoming doc:
    * window count, kept count, drops attributed by reason
    * (corpus-hit vs within-dump dup), kept tokens, and the md5 of the
    * rebuilt retained text.
    *
    * Scale shape: the corpus side collapses to a distinct-hash relation
    * (16-byte rows — the persisted index a deployment keeps per dump);
    * adjudication joins narrow hash relations only; the dump's text
    * never shuffles (same rebuild as q111).
    */
  def crossCorpusChunkPurge(spark: SparkSession, dir: String,
      width: Int = ChunkWidth): DataFrame = {
    val B = ChunkPackBase
    val all = rawTokens(spark, dir)
    val inc = all.where(col("doc_id") % 2 === 1)
    val narrowInc = chunksOf(inc, width, 0)
      .select(col("doc_id"), col("chunk_id"), col("chunk_hash"))
    val corpusSet = chunksOf(all.where(col("doc_id") % 2 === 0), width, 0)
      .select("chunk_hash").distinct()
    val packed = col("doc_id") * B + col("chunk_id")
    val wdup = windowKeepers(narrowInc)
    val reasons = narrowInc
      .join(corpusSet.withColumn("in_corpus", lit(true)), Seq("chunk_hash"), "left_outer")
      .join(wdup, Seq("chunk_hash"), "left_outer")
      .select(col("doc_id"), col("chunk_id"),
        coalesce(col("in_corpus"), lit(false)).as("in_corpus"),
        (col("keeper_key").isNotNull && packed =!= col("keeper_key"))
          .as("within_drop"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("in_corpus"), 1L).otherwise(0L)).as("n_dropped_corpus"),
        sum(when(!col("in_corpus") && col("within_drop"), 1L).otherwise(0L))
          .as("n_dropped_within"),
        sort_array(collect_list(
          when(col("in_corpus") || col("within_drop"), col("chunk_id"))))
          .as("drop_ids"))
    rebuildFromDrops(inc, reasons, width)
      .select(col("doc_id"),
        size(col("slices")).cast("long").as("n_chunks"),
        size(col("kept")).cast("long").as("n_kept"),
        coalesce(col("n_dropped_corpus"), lit(0L)).as("n_dropped_corpus"),
        coalesce(col("n_dropped_within"), lit(0L)).as("n_dropped_within"),
        aggregate(col("kept"), lit(0L), (a, sl) => a + size(sl))
          .as("n_kept_tokens"),
        md5(concat_ws(" ", flatten(col("kept")))).as("retained_hash"))
      .orderBy("doc_id")
  }
}
