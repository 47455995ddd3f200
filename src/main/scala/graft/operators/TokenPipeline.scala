package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifact, Tables}
import graft.functions.TextFns

/** The reference's core dataflow (jbohanon/capstone-etl main.go:126–283),
  * re-expressed as one declarative Spark lineage over the `documents` table:
  *
  *   scan → clean → tokenize (explode) → dictionary semi-join →
  *   stop-word anti-join → groupBy(doc,token).count → {doc stats, global
  *   token dictionary, inverted index, sparse TF vectors}
  *
  * The reference's global mutable stores (allTokensMap, tokenRefs — a
  * channel-serialized map, concurrentMap.go:31–122) become shuffles; its
  * O(docs × vocab) dense vector sweep (main.go:225–231) becomes an O(nnz)
  * join. The membership filters take one of two forms. Literal word lists
  * (the cached hub, docTokenCounts) are `isin` predicates, which Spark
  * plans as InSet (a codegen'd hash-set lookup; In below ten values).
  * DataFrame word lists (docTokenCountsWith, up to the reference's
  * ~236k-word dictionary) are broadcast semi/anti joins. The hub must not
  * broadcast: a persisted artifact keeps its physical plan, so a broadcast
  * inside it pins a hash relation of at least one Tungsten page for the
  * artifact's lifetime.
  */
object TokenPipeline {

  /** Stop-word anti-join list (reference main.go:301–969 has ~668 entries;
    * this corpus's vocabulary only exercises these).
    */
  val StopWords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Dictionary whitelist (plays the role of the reference's 235,886-word
    * `en` file, main.go:108–118). Deliberately excludes "agg" and "dup" so
    * the semi-join is observable on the synthetic corpus.
    */
  val Dictionary: Seq[String] = Seq(
    "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "value",
    "vector", "window", "the", "a")

  /** Exploded (doc_id, token) before any membership filtering. */
  def rawTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(TextFns.tokenize(col("text"))).as("token"))

  /** Core (doc_id, token, qty) pipeline parameterized over the membership
    * tables — the reference loads a 235,886-word dictionary file and a
    * ~668-entry stop-word table (main.go:108–118, 301–969); a real
    * deployment passes those as DataFrames here (from
    * Sources.readWordList or any other source). Both are broadcast: a
    * 236k-word list is a few MB. Were the dictionary ever too big to
    * broadcast, removing the hint degrades gracefully to a shuffled
    * semi-join with no semantic change. Do not persist the result: the
    * cached plan would keep both broadcast hash relations alive (see
    * docTokenCounts for the literal-list form that caches safely).
    */
  def docTokenCountsWith(docs: DataFrame, dictionary: DataFrame,
      stopWords: DataFrame): DataFrame =
    rawTokens(docs)
      .join(broadcast(dictionary.select("token")), Seq("token"), "left_semi")
      .join(broadcast(stopWords.select("token")), Seq("token"), "left_anti")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("qty"))

  /** File-backed variant: dictionary and stop words as line-delimited text
    * files, the reference's exact input shape (main.go:108–118).
    */
  def docTokenCountsFromFiles(spark: SparkSession, dir: String,
      dictPath: String, stopPath: String): DataFrame =
    docTokenCountsWith(Tables.documents(spark, dir),
      graft.sources.Sources.readWordList(spark, dictPath),
      graft.sources.Sources.readWordList(spark, stopPath))

  // The (doc_id, token, qty) relation is the hub every downstream operator
  // reuses (reference keeps it as tknQtyMap per doc, main.go:63); persist it
  // once per input dir instead of re-tokenizing per query.
  private[graft] val cache = Artifact.relation("TokenPipeline.cache", Artifact.Index)

  /** (doc_id, token, qty) after dictionary semi-join (O11) and stop-word
    * anti-join (O12); qty = occurrences in doc (O14). Cached per (session,
    * dir). Uses the literal word lists (the synthetic corpus's vocabulary);
    * production callers use docTokenCountsWith / docTokenCountsFromFiles.
    *
    * Membership is tested with `isin` (planned as InSet/In), not the
    * broadcast joins of docTokenCountsWith. The persisted relation keeps its
    * physical plan for its whole lifetime, and a string-keyed broadcast hash
    * relation allocates at least one Tungsten page (about 32 MB at -Xmx4g,
    * local[4]) however few words it holds. Rows are identical: exploded
    * tokens are never null, and for a non-null key an equi semi-join is IN
    * and an equi anti-join is NOT IN.
    */
  def docTokenCounts(spark: SparkSession, dir: String): DataFrame =
    cache(spark, dir) {
      rawTokens(Tables.documents(spark, dir))
        .filter(col("token").isin(Dictionary: _*) && !col("token").isin(StopWords: _*))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("qty"))
    }

  /** Per-document statistics: distinct kept tokens (main.go:57), total kept
    * tokens, and the L2 norm over TF quantities (main.go:272–281). Docs whose
    * every token was filtered keep a row with zeros (reference writes the
    * struct regardless).
    */
  def docStats(spark: SparkSession, dir: String): DataFrame =
    docStatsRaw(spark, dir).orderBy("doc_id")

  /** docStats without the output sort — for reuse inside other pipelines
    * (a global Sort in a building block taxes every consumer; sorts belong
    * at query edges).
    */
  def docStatsRaw(spark: SparkSession, dir: String): DataFrame = {
    val agg = docAggregates(spark, dir)
    Tables.documents(spark, dir).select("doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("count_unique_words"), lit(0L)).as("count_unique_words"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
        coalesce(round(col("nrm"), 6), lit(0.0)).as("euclidian_norm"))
  }

  private[graft] val statsCache = Artifact.relation("TokenPipeline.statsCache", Artifact.Index)

  /** Cached per-doc aggregate triple (unique tokens, total tokens,
    * UNROUNDED L2 norm) over the kept-token counts — the index-artifact
    * relation the reference maintains as per-doc fields (main.go:57,
    * 272–281: CountUniqueWords/EuclidianNorm are PRECOMPUTED per doc, not
    * re-derived per query). docStats rounds at its edge; cosine consumers
    * (q47) read the raw norm. Doc-grain, three numbers a row.
    */
  private[graft] def docAggregates(spark: SparkSession, dir: String): DataFrame =
    statsCache(spark, dir) {
      docTokenCounts(spark, dir).groupBy("doc_id").agg(
        count(lit(1)).as("count_unique_words"),
        sum("qty").as("total_tokens"),
        sqrt(sum(col("qty") * col("qty"))).as("nrm"))
    }

  private[graft] val dictCache = Artifact.relation("TokenPipeline.dictCache", Artifact.Index)

  /** Global token dictionary: distinct tokens, sorted, dense 0-based ids
    * (reference main.go:143–153). Dense ids via the scale-safe sorted
    * zipWithIndex (Ids.withDenseId), not a single-partition window.
    * Persisted: the zipWithIndex materialization is a separate job, and
    * five queries join against this relation.
    */
  def tokenDictionary(spark: SparkSession, dir: String): DataFrame =
    dictCache(spark, dir) {
      Ids.withDenseId(
        docTokenCounts(spark, dir).select("token").distinct(),
        "token_id", col("token"))
        .select("token_id", "token")
    }

  /** Inverted index in relational form: (token_id, token, doc_id, qty)
    * (reference main.go:151–163 materializes this as posting-list structs;
    * q-postings below does the array form).
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    docTokenCounts(spark, dir)
      .join(broadcast(tokenDictionary(spark, dir)), Seq("token"))
      .select("token_id", "token", "doc_id", "qty")
      .orderBy("token_id", "doc_id")

  /** Aggregate: the group's rendered strings `s` ordered by `key`, which
    * must be unique within the group so `s` never decides the order.
    * `sort_array` over structs and the array field read are codegen'd;
    * `transform(array_sort(…))` is not (both are CodegenFallback).
    */
  private def rendered(key: Column, s: Column): Column =
    sort_array(collect_list(struct(key.as("k"), s.as("s")))).getField("s")

  /** Posting lists as deterministic strings: token → "doc:qty,doc:qty,…"
    * sorted by doc_id (reference order is Go-map-nondeterministic,
    * main.go:156 — sorted order is our canonical contract, SURVEY §7.5).
    */
  def postings(spark: SparkSession, dir: String): DataFrame =
    docTokenCounts(spark, dir)
      .groupBy("token")
      .agg(
        count(lit(1)).as("n_refs"),
        array_join(rendered(col("doc_id"),
          concat(col("doc_id").cast("string"), lit(":"), col("qty").cast("string"))),
          ",").as("refs"))
      .orderBy("token")

  /** Sparse TF vectors in relational form: (doc_id, token_id, qty) — the
    * O(nnz) replacement for the reference's O(docs × vocab) sweep
    * (main.go:225–231).
    */
  def sparseVectors(spark: SparkSession, dir: String): DataFrame =
    sparseVectorsRaw(spark, dir).orderBy("doc_id", "token_id")

  /** Unsorted sparse vectors for internal reuse (see docStatsRaw note). */
  def sparseVectorsRaw(spark: SparkSession, dir: String): DataFrame =
    docTokenCounts(spark, dir)
      .join(broadcast(tokenDictionary(spark, dir)), Seq("token"))
      .select("doc_id", "token_id", "qty")

  /** Top-k cosine-similar documents for a small query set (doc_id < 5),
    * over the sparse TF vectors — the query the reference's precomputed
    * EuclidianNorm exists FOR (main.go:62): cosine = Σ qty_q·qty_d over
    * shared tokens (exact integer dot via the inverted index) divided by
    * the two norms. Query vectors broadcast; cost is |queries|·nnz, not
    * |docs|², and distributes over the posting lists.
    */
  def docCosineTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val sv = sparseVectorsRaw(spark, dir)
    // norms from the cached per-doc aggregate relation (identical to an
    // aggregate over sv: the dictionary is built from the counts' own
    // distinct tokens, so the sv join drops no rows)
    val norms = docAggregates(spark, dir).select("doc_id", "nrm")
    val q = sv.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"), col("token_id"), col("qty").as("q_qty"))
    val dots = sv.join(broadcast(q), Seq("token_id"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("qty") * col("q_qty")).as("dot"))
    // bounded top-k per query — native CollectTopK on struct(-c, doc_id)
    // (r21, the Similarity.topK device): the former ROW_NUMBER window
    // funneled every scored (q_id, doc_id) pair into |queries| window
    // partitions; the partial aggregate carries ≤ k rows per query per
    // map partition. doc_id is unique per query, so the (-c, doc_id)
    // prefix fixes the order and the trailing dot field rides along.
    dots
      .join(norms.select(col("doc_id").as("q_id"), col("nrm").as("q_nrm")), Seq("q_id"))
      .join(norms, Seq("doc_id"))
      .withColumn("c", col("dot") / (col("q_nrm") * col("nrm")))
      .groupBy("q_id")
      .agg(org.apache.spark.sql.GraftBridge.collectTopK(
        struct((-col("c")).as("nc"), col("doc_id"), col("dot")),
        k, reverse = true).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.doc_id").as("doc_id"), col("col.dot").as("dot"),
        round(-col("col.nc"), 6).as("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  /** The reference's primary sink, whole: one row per document with every
    * field of the `wikibooks` collection contract (main.go:47–62 bson tags)
    * that survives SURVEY §1.4's bug triage — stats, link counts, hierarchy,
    * child ids, norm, and the token multiset as a canonical sorted string.
    * Stats, hierarchy and tokens each come from their INDEX artifact, so
    * the plan scans `documents` once (docStatsRaw's doc list).
    * A user of the reference switching to this library materializes this
    * relation and writes it with Sources.writeParquet (or a Mongo connector
    * — sink choice is orthogonal, SURVEY §2 O20).
    */
  def wikibookRecords(spark: SparkSession, dir: String): DataFrame = {
    val tokens = docTokenCounts(spark, dir)
      .groupBy("doc_id")
      .agg(array_join(rendered(col("token"),
          concat(col("token"), lit(":"), col("qty").cast("string"))),
        ",").as("tokens"))
    docStatsRaw(spark, dir)
      .join(Hierarchy.pages(spark, dir), Seq("doc_id"))
      .join(tokens, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("page_loc"), col("parent_id"), col("count_children"),
        col("child_ids"), col("count_unique_words"), col("total_tokens"),
        col("count_external_links"), col("euclidian_norm"),
        coalesce(col("tokens"), lit("")).as("tokens"))
      .orderBy("doc_id")
  }

  /** Top-3 documents per token by term frequency, via the bounded-buffer
    * TopK Aggregator (typed UDAF) instead of a ranking window — at most k
    * rows per token cross the shuffle. Output canonicalized to a
    * "doc:qty,…" string for the oracle.
    */
  def topDocsPerToken(spark: SparkSession, dir: String): DataFrame = {
    // native CollectTopK on struct(-qty, doc_id): smallest-k ascending ==
    // (qty desc, doc_id asc) — see topTerms for the native-vs-UDAF note
    val k = 3
    val topk = org.apache.spark.sql.GraftBridge.collectTopK(
      struct((-col("qty")).as("nq"), col("doc_id")), k, reverse = true)
    // render the ≤ k kept entries position by position: try_element_at
    // past the end is NULL, which concat_ws skips (a `transform` lambda
    // would leave whole-stage codegen)
    val entries = (1 to k).map { i =>
      val e = try_element_at(col("top"), lit(i))
      concat(e.getField("doc_id").cast("string"), lit(":"), (-e.getField("nq")).cast("string"))
    }
    docTokenCounts(spark, dir)
      .groupBy("token")
      .agg(topk.as("top"))
      .select(col("token"), concat_ws(",", entries: _*).as("top_docs"))
      .orderBy("token")
  }

  /** Map-typed vector per doc (reference's compressed_token_vector,
    * main.go:222–235) + its L2 norm — the library API a Mongo-style sink
    * would consume. The driver harness can't hash a map column, so the
    * oracle-checked query form is tokenVectorString below; unit tests pin
    * this map form to it entry-for-entry.
    */
  def tokenVectorMap(spark: SparkSession, dir: String): DataFrame =
    sparseVectorsRaw(spark, dir)
      .groupBy("doc_id")
      .agg(
        map_from_entries(sort_array(collect_list(struct(col("token_id"), col("qty")))))
          .as("compressed_token_vector"),
        round(sqrt(sum(col("qty") * col("qty"))), 6).as("euclidian_norm"))
      .orderBy("doc_id")

  /** Canonical string rendition of the compressed token vector:
    * "token_id:qty,…" sorted by token_id — same information as the map
    * form, deterministic and hashable, so the DuckDB oracle can verify it
    * (the q15/q48 posting-string trick applied to the reference's primary
    * sink shape, main.go:222–235).
    */
  def tokenVectorString(spark: SparkSession, dir: String): DataFrame =
    sparseVectorsRaw(spark, dir)
      .groupBy("doc_id")
      .agg(
        array_join(rendered(col("token_id"),
          concat(col("token_id").cast("string"), lit(":"), col("qty").cast("string"))),
          ",").as("compressed_token_vector"),
        round(sqrt(sum(col("qty") * col("qty"))), 6).as("euclidian_norm"))
      .orderBy("doc_id")
}
