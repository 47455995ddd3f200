package graft

import graft.operators.TokenPipeline

/** DuckDB oracle SQL for every SQL-expressible query in SparkEntry.queries.
  *
  * Mirroring rules (SURVEY §5/§7.5): identical column aliases, explicit
  * ORDER BY with tie-breakers, SUMs of money doubles through DECIMAL,
  * list folds written as sequential left folds (list_reduce) to match
  * Spark's `aggregate`, and every hash is md5 over an explicit string so
  * both engines derive bit-identical signatures.
  */
object OracleSql {

  private val Dict = TokenPipeline.Dictionary.map(w => s"'$w'").mkString("(", ",", ")")
  private val Stop = TokenPipeline.StopWords.map(w => s"'$w'").mkString("(", ",", ")")

  /** Chunk width of the two-level deterministic fold — read from the SAME
    * constant Similarity.chunkedSums uses, so the oracle's `vec_id //
    * FoldChunk` grouping can never desync from the Spark side.
    */
  private val FoldChunk = graft.operators.Similarity.FoldChunk

  /** Tokenization CTE mirroring TextFns.tokenize (clean → lower → split →
    * drop empties) + the dictionary semi-join and stop-word anti-join.
    */
  val KeptCte: String =
    s"""toks AS (
       |  SELECT doc_id,
       |         unnest(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' ')) AS token
       |  FROM documents),
       |kept AS (
       |  SELECT doc_id, token, COUNT(*) AS qty
       |  FROM toks
       |  WHERE token <> '' AND token IN $Dict AND token NOT IN $Stop
       |  GROUP BY doc_id, token)""".stripMargin

  /** Chunking geometry (q106/q107) — read from the SAME constants
    * TextAnalysis.docChunks defaults to, so the DuckDB window math can
    * never desync from the Spark side.
    */
  private val ChunkWidth = graft.operators.TextAnalysis.ChunkWidth
  private val ChunkOverlap = graft.operators.TextAnalysis.ChunkOverlap
  private val ChunkStride = ChunkWidth - ChunkOverlap

  /** 1-based inclusive slice of one `ChunkWidth`-token window — DuckDB's
    * list_slice twin of Spark's slice(toks, start + 1, width).
    */
  private val ChunkSliceSql =
    s"list_slice(toks, start + 1, start + $ChunkWidth)"

  /** Ordered-token chunk window starts (q106/q107): tokenize mirror in
    * list form, then one start per `ChunkStride` advance up to
    * max(n − overlap − 1, 0) — DuckDB's end-exclusive range(a, b, step)
    * matches Spark's inclusive sequence(0, bound, step) via b = bound + 1.
    * Empty docs produce no chunks.
    */
  val ChunkStartsCte: String =
    s"""toksarr AS (
       |  SELECT doc_id,
       |         list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' '),
       |                     t -> t <> '') AS toks
       |  FROM documents),
       |starts AS (
       |  SELECT doc_id, toks,
       |         unnest(range(0, greatest(len(toks) - ${ChunkOverlap + 1}, 0) + 1, $ChunkStride)) AS start
       |  FROM toksarr WHERE len(toks) > 0)""".stripMargin

  /** Dense-id token dictionary CTE (row_number − 1 = Ids.withDenseId). */
  val DictCte: String =
    s"""dict AS (
       |  SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id
       |  FROM (SELECT DISTINCT token FROM kept))""".stripMargin

  /** Hierarchy paths CTE mirroring TextFns.pagePath/parentPath. */
  val PathsCte: String =
    """paths AS (
      |  SELECT doc_id,
      |         array_to_string(
      |           list_transform(range(1, length(CAST(doc_id AS VARCHAR)) + 1),
      |                          i -> substring(CAST(doc_id AS VARCHAR), 1, i)),
      |           '/') AS page_loc
      |  FROM documents),
      |links AS (
      |  SELECT doc_id, page_loc,
      |         CASE WHEN page_loc NOT LIKE '%/%' THEN ''
      |              ELSE regexp_replace(page_loc, '/[^/]*$', '') END AS parent_path
      |  FROM paths)""".stripMargin

  /** k-token shingle sets per doc, mirroring Dedup.shingles. */
  val ShinglesCte: String = {
    val k = graft.operators.Dedup.ShingleSize
    s"""shingles AS (
       |  SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, greatest(len(arr) - ${k - 2}, 1)),
       |                i -> array_to_string(arr[i:i+${k - 1}], ' '))) AS shingle
       |  FROM (SELECT doc_id,
       |               list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' '),
       |                           x -> x <> '') AS arr
       |        FROM documents))""".stripMargin
  }

  /** The window-segment map recompute shared VERBATIM by q122 (one-shot
    * Spark derivation) and q123 (derivation from the STORED q121
    * placement artifact): one row per (window, doc) segment from the
    * one-partition prefix sum + generate_series explode, with the same
    * integer min/max geometry as Packing.segmentsOf; empty docs contribute
    * no rows; (win, doc_id) is a total order.
    */
  private lazy val windowSegmentsSql: String = {
    val cap = graft.operators.Packing.ContextTokens
    s"""WITH $ArrCte,
       |t AS (SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_toks FROM base),
       |c AS (SELECT doc_id, n_toks,
       |        CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |          AS start_tok
       |      FROM t),
       |w AS (SELECT doc_id, n_toks, start_tok,
       |        start_tok // $cap AS first_win,
       |        (start_tok + n_toks - 1) // $cap AS last_win
       |      FROM c WHERE n_toks > 0),
       |s AS (SELECT doc_id, n_toks, start_tok, first_win, last_win,
       |        unnest(generate_series(first_win, last_win)) AS win
       |      FROM w)
       |SELECT CAST(win AS BIGINT) AS win, doc_id,
       |       CAST(GREATEST(win * $cap, start_tok) - start_tok AS BIGINT)
       |         AS doc_off,
       |       CAST(GREATEST(win * $cap, start_tok) - win * $cap AS BIGINT)
       |         AS win_off,
       |       CAST(LEAST((win + 1) * $cap, start_tok + n_toks)
       |            - GREATEST(win * $cap, start_tok) AS BIGINT) AS seg_len,
       |       CAST(CASE WHEN win = first_win THEN 1 ELSE 0 END AS BIGINT)
       |         AS is_head,
       |       CAST(CASE WHEN win = last_win THEN 1 ELSE 0 END AS BIGINT)
       |         AS is_tail
       |FROM s
       |ORDER BY win, doc_id""".stripMargin
  }

  /** MinHash signatures + LSH band buckets, mirroring Dedup.minhash*. */
  val SigsCte: String = {
    val mins = (0 until Dedup_Hashes)
      .map(i => s"MIN(md5('$i|' || shingle)) AS h$i").mkString(",\n         ")
    val bands = (0 until Dedup_Bands)
      .map(k => s"SELECT doc_id, $k AS band, md5(h${2 * k} || h${2 * k + 1}) AS bucket FROM sigs")
      .mkString("\n  UNION ALL\n  ")
    s"""sigs AS (
       |  SELECT doc_id,
       |         $mins
       |  FROM shingles GROUP BY doc_id),
       |bands AS (
       |  $bands)""".stripMargin
  }
  private def Dedup_Hashes = graft.operators.Dedup.MinhashHashes
  private def Dedup_Bands = graft.operators.Dedup.MinhashBands

  /** Exact-Jaccard verification tail shared by the two near-dup queries. */
  private val JaccardTail: String =
    """sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
      |inter AS (
      |  SELECT doc_a, doc_b, COUNT(*) AS inter
      |  FROM cands c
      |  JOIN shingles sa ON sa.doc_id = c.doc_a
      |  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      |  GROUP BY doc_a, doc_b)
      |SELECT doc_a, doc_b, inter, (za.sz + zb.sz - inter) AS uni
      |FROM inter
      |JOIN sizes za ON za.doc_id = doc_a
      |JOIN sizes zb ON zb.doc_id = doc_b
      |WHERE 2 * inter >= (za.sz + zb.sz - inter)
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Sign-LSH bucket CASE-chain over the first `bits` components,
    * generated from the SAME `Similarity.IvfBits` constant the Spark
    * side reads (the simhashSumsSql(bits) pattern), so a width change —
    * including the SPARK_GRAFT_LSH_BITS scale override — can never
    * desync the oracle from VectorFns.signBucket.
    */
  private def signBucketSql(bits: Int): String =
    (0 until bits)
      .map(i => s"(CASE WHEN emb[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString("(", " +\n          ", ")")

  /** Hamming-distance-1 probe set of the multiprobe oracle (q55) — own
    * cell plus every single-bit flip, from the same width constant.
    */
  private def probeFlipsSql(bits: Int): String =
    (0 +: (0 until bits).map(1 << _).toList)
      .map(v => s"($v)").mkString("(VALUES ", ", ", ")")

  private val LshBits = graft.operators.Similarity.IvfBits

  /** Normed double-cast embeddings; folds mirror VectorFns (sequential). */
  val EmbCte: String =
    s"""e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |n AS (
      |  SELECT vec_id, label, emb,
      |         ${signBucketSql(LshBits)} AS bucket,
      |         sqrt(list_reduce(list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i]),
      |                          (x, y) -> x + y)) AS nrm
      |  FROM e)""".stripMargin

  private def dotExpr(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  /** Per-bit weighted SUM columns s0..s{bits-1}, mirroring
    * Dedup.simhashBits' construction (md5 nibble b/4, intra-nibble bit
    * b%4) — the ONE definition both the single-long and two-long SimHash
    * oracles generate from.
    */
  private def simhashSumsSql(bits: Int): String =
    (0 until bits).map { b =>
      val j = b / 4; val k = b % 4
      val nib = s"(strpos('0123456789abcdef', substring(md5(token), ${j + 1}, 1)) - 1)"
      s"SUM(qty * (2 * (($nib // ${1 << k}) % 2) - 1)) AS s$b"
    }.mkString(",\n         ")

  /** Sign-combine of `width` sum columns starting at s{from} into packed
    * bits 0..width-1.
    */
  private def simhashCombineSql(from: Int, width: Int): String =
    (0 until width)
      .map(b => s"(CASE WHEN s${from + b} > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")

  /** `bits`-wide SimHash CTE builder, mirroring Dedup.simhashBits. */
  private def simhashCte(bits: Int): String =
    s"""sums AS (
       |  SELECT doc_id,
       |         ${simhashSumsSql(bits)}
       |  FROM kept GROUP BY doc_id),
       |sh AS (SELECT doc_id, CAST(${simhashCombineSql(0, bits)} AS BIGINT) AS simhash FROM sums)""".stripMargin

  val SimhashCte: String = simhashCte(16)

  private val base: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_revenue_by_nation" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q03_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q04_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "q05_running_spend" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q06_filtered_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity < 5 AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q07_rollup_summary" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS linestatus,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q08_customers_with_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q09_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,
    "q10_set_ops" ->
      """SELECT custkey FROM (
        |  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
        |  INTERSECT
        |  SELECT c_custkey AS custkey FROM customer
        |  EXCEPT
        |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0)
        |ORDER BY custkey""".stripMargin,
    "q11_doc_token_counts" ->
      s"""WITH $KeptCte
         |SELECT doc_id, token, qty FROM kept
         |ORDER BY doc_id, token""".stripMargin,
    "q12_doc_stats" ->
      s"""WITH $KeptCte,
         |agg AS (
         |  SELECT doc_id, COUNT(*) AS count_unique_words,
         |         CAST(SUM(qty) AS BIGINT) AS total_tokens,
         |         ROUND(SQRT(CAST(SUM(qty * qty) AS DOUBLE)), 6) AS euclidian_norm
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |       COALESCE(count_unique_words, 0) AS count_unique_words,
         |       COALESCE(total_tokens, 0) AS total_tokens,
         |       COALESCE(euclidian_norm, 0.0) AS euclidian_norm
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q13_token_dictionary" ->
      s"""WITH $KeptCte, $DictCte
         |SELECT token_id, token FROM dict ORDER BY token_id""".stripMargin,
    "q14_inverted_index" ->
      s"""WITH $KeptCte, $DictCte
         |SELECT token_id, kept.token AS token, doc_id, qty
         |FROM kept JOIN dict USING (token)
         |ORDER BY token_id, doc_id""".stripMargin,
    "q15_postings" ->
      s"""WITH $KeptCte
         |SELECT token, COUNT(*) AS n_refs,
         |       STRING_AGG(doc_id || ':' || qty, ',' ORDER BY doc_id) AS refs
         |FROM kept GROUP BY token
         |ORDER BY token""".stripMargin,
    "q16_sparse_vectors" ->
      s"""WITH $KeptCte, $DictCte
         |SELECT doc_id, token_id, qty
         |FROM kept JOIN dict USING (token)
         |ORDER BY doc_id, token_id""".stripMargin,
    "q17_token_vector_map" ->
      s"""WITH $KeptCte, $DictCte,
         |sv AS (SELECT doc_id, token_id, qty FROM kept JOIN dict USING (token))
         |SELECT doc_id,
         |       STRING_AGG(token_id || ':' || qty, ',' ORDER BY token_id) AS compressed_token_vector,
         |       ROUND(SQRT(CAST(SUM(qty * qty) AS DOUBLE)), 6) AS euclidian_norm
         |FROM sv GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    "q18_doc_hierarchy" ->
      s"""WITH $PathsCte
         |SELECT c.doc_id AS doc_id, c.page_loc AS page_loc,
         |       c.parent_path AS parent_path,
         |       COALESCE(p.doc_id, -1) AS parent_id
         |FROM links c LEFT JOIN links p ON c.parent_path = p.page_loc
         |ORDER BY doc_id""".stripMargin,
    "q19_doc_children" ->
      s"""WITH $PathsCte
         |SELECT p.doc_id AS parent_id, COUNT(*) AS count_children,
         |       STRING_AGG(CAST(c.doc_id AS VARCHAR), ',' ORDER BY c.doc_id) AS child_ids
         |FROM links c JOIN links p ON c.parent_path = p.page_loc
         |GROUP BY p.doc_id
         |ORDER BY parent_id""".stripMargin,
    "q20_count_substr" ->
      """SELECT doc_id,
        |       CAST((length(text) - length(replace(text, 'data', ''))) // 4 AS BIGINT) AS n_hits
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q21_dedup_exact" ->
      """SELECT doc_id, md5(text) AS fp,
        |       CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS n_copies,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS BIGINT) AS dup_rank
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q22_minhash_signatures" ->
      s"""WITH $ShinglesCte, $SigsCte
         |SELECT doc_id, ${(0 until Dedup_Hashes).map(i => s"h$i").mkString(", ")}
         |FROM sigs ORDER BY doc_id""".stripMargin,
    "q23_minhash_neardups" ->
      s"""WITH $ShinglesCte, $SigsCte,
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |$JaccardTail""".stripMargin,
    "q24_simhash" ->
      s"""WITH $KeptCte, $SimhashCte
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin,
    "q25_simhash_groups" ->
      s"""WITH $KeptCte, $SimhashCte
         |SELECT simhash, COUNT(*) AS n_docs,
         |       STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
         |FROM sh GROUP BY simhash HAVING COUNT(*) > 1
         |ORDER BY simhash""".stripMargin,
    "q26_ngram_jaccard" ->
      s"""WITH $ShinglesCte,
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM shingles a JOIN shingles b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
         |$JaccardTail""".stripMargin,
    "q27_embedding_neardups" ->
      s"""WITH $EmbCte,
         |p AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         ${dotExpr("a.emb", "b.emb")} / (a.nrm * b.nrm) AS c
         |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, ROUND(c, 6) AS cos_sim FROM p
         |WHERE c >= 0.25
         |ORDER BY vec_a, vec_b""".stripMargin,
    "q28_knn_bruteforce" ->
      s"""WITH $EmbCte,
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id < 8),
         |p AS (
         |  SELECT query_id, vec_id AS neighbor_id,
         |         ${dotExpr("q_emb", "emb")} / (q_nrm * nrm) AS c
         |  FROM q, n WHERE vec_id <> query_id),
         |r AS (
         |  SELECT query_id, neighbor_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS BIGINT) AS rnk,
         |         ROUND(c, 6) AS cos_sim
         |  FROM p)
         |SELECT query_id, neighbor_id, rnk, cos_sim FROM r WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,
    "q98_knn_classify" ->
      s"""WITH $EmbCte,
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id < 8),
         |p AS (
         |  SELECT query_id, vec_id AS neighbor_id,
         |         ${dotExpr("q_emb", "emb")} / (q_nrm * nrm) AS c
         |  FROM q, n WHERE vec_id <> query_id),
         |r AS (
         |  SELECT query_id, neighbor_id,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rnk
         |  FROM p),
         |v AS (
         |  SELECT query_id, n.label, COUNT(*) AS votes
         |  FROM r JOIN n ON n.vec_id = r.neighbor_id
         |  WHERE rnk <= 5
         |  GROUP BY query_id, n.label),
         |w AS (
         |  SELECT query_id, label AS pred_label, votes,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rk
         |  FROM v)
         |SELECT w.query_id, n.label AS true_label, w.pred_label, w.votes
         |FROM w JOIN n ON n.vec_id = w.query_id
         |WHERE w.rk = 1
         |ORDER BY w.query_id""".stripMargin,
    "q29_knn_ivf" ->
      s"""WITH $EmbCte,
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm, bucket FROM n WHERE vec_id < 8),
         |p AS (
         |  SELECT query_id, vec_id AS neighbor_id,
         |         ${dotExpr("q_emb", "emb")} / (q_nrm * nrm) AS c
         |  FROM q JOIN n USING (bucket) WHERE vec_id <> query_id),
         |r AS (
         |  SELECT query_id, neighbor_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS BIGINT) AS rnk,
         |         ROUND(c, 6) AS cos_sim
         |  FROM p)
         |SELECT query_id, neighbor_id, rnk, cos_sim FROM r WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,
    "q30_label_stats" ->
      s"""WITH $EmbCte
         |SELECT label, COUNT(*) AS n_vecs,
         |       ROUND(CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_norm
         |FROM n GROUP BY label
         |ORDER BY label""".stripMargin,
    "q31_text_quality" ->
      s"""WITH $ArrCte
         |SELECT doc_id,
         |       CAST(len(arr) AS BIGINT) AS n_tokens,
         |       CAST(len(list_filter(arr, x -> x IN $Stop)) AS BIGINT) AS stop_count,
         |       CAST(CASE WHEN len(arr) = 0 THEN 0
         |                 ELSE list_reduce(list_transform(arr, x -> length(x)), (a, b) -> a + b)
         |            END AS BIGINT) AS sum_token_len,
         |       CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         |       CASE WHEN len(arr) > 0 AND len(list_filter(arr, x -> x IN $Stop)) * 5 >= len(arr)
         |            THEN 'en' ELSE 'unk' END AS lang_pred
         |FROM base
         |ORDER BY doc_id""".stripMargin,
    "q32_token_counts" ->
      s"""WITH $ArrCte
         |SELECT doc_id,
         |       CAST(len(arr) AS BIGINT) AS ws_tokens,
         |       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]{1,4}')) AS BIGINT) AS subword_tokens
         |FROM base
         |ORDER BY doc_id""".stripMargin,
    "q33_fingerprints" ->
      s"""WITH $ArrCte
         |SELECT doc_id,
         |       md5(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS fp_clean,
         |       CAST(CASE WHEN len(arr) = 0 THEN 0
         |                 ELSE list_reduce(
         |                        list_transform(arr, x -> CAST(length(x) * 17 + ascii(x) AS BIGINT)),
         |                        (acc, x) -> (acc * 31 + x) % 1000000007)
         |            END AS BIGINT) AS roll_hash
         |FROM base
         |ORDER BY doc_id""".stripMargin,
    "q34_tfidf" ->
      s"""WITH $KeptCte,
         |df AS (SELECT token, COUNT(*) AS df FROM kept GROUP BY token),
         |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM kept)
         |SELECT doc_id, kept.token AS token, qty, df,
         |       ROUND(qty * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
         |FROM kept JOIN df USING (token), n
         |ORDER BY doc_id, token""".stripMargin,
    "q35_hourly_events" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |       event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin,
    "q36_sessions" ->
      """WITH t AS (
        |  SELECT user_id, event_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, value, ts_us,
        |         CASE WHEN lag(ts_us) OVER w IS NULL
        |                OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |numbered AS (
        |  SELECT user_id, event_id, value, ts_us,
        |         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |       MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
        |       MAX(ts_us) - MIN(ts_us) AS duration_us,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM numbered
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q37_json_stats" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q38_binary_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len, md5(text) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q39_image_features" ->
      """SELECT doc_id,
        |       CAST(16 + strlen(text) % 32 AS INT) AS width,
        |       CAST(16 + (strlen(text) * 7) % 32 AS INT) AS height,
        |       CAST(3 AS INT) AS channels,
        |       CAST((16 + strlen(text) % 32) * (16 + (strlen(text) * 7) % 32) * 3 AS BIGINT) AS n_pixels
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q40_frame_sample" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len,
        |         CAST(strlen(text) % 5 + 1 AS BIGINT) AS n_frames
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, byte_len, n_frames,
        |         unnest(range(0, n_frames)) AS frame_idx
        |  FROM b)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |       CAST(frame_idx * (byte_len // n_frames) AS BIGINT) AS frame_offset
        |FROM f
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // Independent oracle: DuckDB's native ASOF JOIN vs our composed
    // union+window implementation — two different algorithms, same answer.
    "q41_asof_last_purchase" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events WHERE event_type = 'error'),
        |p AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts,
        |         MAX(event_id) AS p_event_id
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY 1, 2)
        |SELECT e.user_id AS user_id, e.event_id AS event_id, e.ts_us AS ts_us,
        |       COALESCE(p.p_event_id, -1) AS last_purchase_id,
        |       COALESCE(p.p_ts, -1) AS last_purchase_ts
        |FROM e ASOF LEFT JOIN p
        |  ON e.user_id = p.user_id AND e.ts_us >= p.p_ts
        |ORDER BY user_id, event_id""".stripMargin,
    "q42_cube_summary" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS linestatus,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q43_top_terms" ->
      s"""WITH $KeptCte,
         |df AS (SELECT token, COUNT(*) AS df FROM kept GROUP BY token),
         |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM kept),
         |scored AS (
         |  SELECT doc_id, kept.token AS token, qty, df,
         |         ROUND(qty * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
         |  FROM kept JOIN df USING (token), n),
         |ranked AS (
         |  SELECT doc_id, token, tfidf,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT doc_id, rnk, token, tfidf FROM ranked WHERE rnk <= 3
         |ORDER BY doc_id, rnk""".stripMargin,
    "q44_en_bigrams" ->
      """SELECT doc_id,
        |       CAST((length(lower(text)) - length(replace(lower(text), 'th', ''))) // 2
        |          + (length(lower(text)) - length(replace(lower(text), 'he', ''))) // 2
        |          + (length(lower(text)) - length(replace(lower(text), 'in', ''))) // 2
        |          + (length(lower(text)) - length(replace(lower(text), 'er', ''))) // 2
        |          + (length(lower(text)) - length(replace(lower(text), 'an', ''))) // 2
        |         AS BIGINT) AS bigram_hits,
        |       CAST(length(text) AS BIGINT) AS n_chars_seen
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q45_orders_pivot" ->
      """SELECT n_name,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q46_price_quantiles" ->
      """SELECT l_returnflag,
        |       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |       ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
        |       ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q47_doc_cosine_topk" ->
      s"""WITH $KeptCte, $DictCte,
         |sv AS (SELECT doc_id, token_id, qty FROM kept JOIN dict USING (token)),
         |norms AS (
         |  SELECT doc_id, sqrt(CAST(SUM(qty * qty) AS DOUBLE)) AS nrm
         |  FROM sv GROUP BY doc_id),
         |q AS (SELECT doc_id AS q_id, token_id, qty AS q_qty FROM sv WHERE doc_id < 5),
         |dots AS (
         |  SELECT q_id, sv.doc_id AS doc_id, CAST(SUM(sv.qty * q_qty) AS BIGINT) AS dot
         |  FROM sv JOIN q USING (token_id)
         |  WHERE sv.doc_id <> q_id
         |  GROUP BY q_id, sv.doc_id),
         |scored AS (
         |  SELECT q_id, dots.doc_id AS doc_id, dot,
         |         dot / (qn.nrm * dn.nrm) AS c
         |  FROM dots
         |  JOIN norms qn ON qn.doc_id = q_id
         |  JOIN norms dn ON dn.doc_id = dots.doc_id),
         |ranked AS (
         |  SELECT q_id, doc_id, dot, ROUND(c, 6) AS cos_sim,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c DESC, doc_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT q_id, rnk, doc_id, dot, cos_sim FROM ranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin,
    "q48_wikibook_records" ->
      s"""WITH $KeptCte, $PathsCte,
         |stats AS (
         |  SELECT doc_id, COUNT(*) AS count_unique_words,
         |         CAST(SUM(qty) AS BIGINT) AS total_tokens,
         |         ROUND(SQRT(CAST(SUM(qty * qty) AS DOUBLE)), 6) AS euclidian_norm
         |  FROM kept GROUP BY doc_id),
         |parent AS (
         |  SELECT c.doc_id, c.page_loc, COALESCE(p.doc_id, -1) AS parent_id
         |  FROM links c LEFT JOIN links p ON c.parent_path = p.page_loc),
         |kids AS (
         |  SELECT p.doc_id AS doc_id, COUNT(*) AS count_children,
         |         STRING_AGG(CAST(c.doc_id AS VARCHAR), ',' ORDER BY c.doc_id) AS child_ids
         |  FROM links c JOIN links p ON c.parent_path = p.page_loc
         |  GROUP BY p.doc_id),
         |tokstr AS (
         |  SELECT doc_id,
         |         STRING_AGG(token || ':' || qty, ',' ORDER BY token) AS tokens
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id AS doc_id, parent.page_loc AS page_loc, parent.parent_id AS parent_id,
         |       COALESCE(kids.count_children, 0) AS count_children,
         |       COALESCE(kids.child_ids, '') AS child_ids,
         |       COALESCE(stats.count_unique_words, 0) AS count_unique_words,
         |       COALESCE(stats.total_tokens, 0) AS total_tokens,
         |       CAST((length(d.text) - length(replace(d.text, 'data', ''))) // 4 AS BIGINT) AS count_external_links,
         |       COALESCE(stats.euclidian_norm, 0.0) AS euclidian_norm,
         |       COALESCE(tokstr.tokens, '') AS tokens
         |FROM documents d
         |JOIN parent ON parent.doc_id = d.doc_id
         |LEFT JOIN kids ON kids.doc_id = d.doc_id
         |LEFT JOIN stats ON stats.doc_id = d.doc_id
         |LEFT JOIN tokstr ON tokstr.doc_id = d.doc_id
         |ORDER BY doc_id""".stripMargin,
    // Every event lands in exactly two 1h/30min sliding windows: the 30-min
    // truncation of its timestamp and the one before it.
    "q49_sliding_counts" ->
      """WITH t AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS eus FROM events),
        |w AS (
        |  SELECT event_type,
        |         unnest([(eus // 1800000000) * 1800000000,
        |                 (eus // 1800000000) * 1800000000 - 1800000000]) AS ws
        |  FROM t)
        |SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, COUNT(*) AS n_events
        |FROM w
        |GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin)

  /** The native physical as-of operator computes the same relation as q41;
    * DuckDB's ASOF JOIN oracles both plans independently.
    */
  /** Connected components via transitive closure (WITH RECURSIVE) — an
    * independent algorithm from Spark's iterative label propagation.
    * Shared CTE prefix for q52 (cluster labels) and q54 (survivors).
    */
  private val DupClustersCtes: String =
    s"""WITH RECURSIVE $ShinglesCte, $SigsCte,
       |$DupClustersBody""".stripMargin

  /** CTE body (cands→reach) shared verbatim by the q52/q54 prefix above
    * and the q81 composition, which needs its own WITH head.
    */
  private lazy val DupClustersBody: String =
    s"""cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
       |inter AS (
       |  SELECT doc_a, doc_b, COUNT(*) AS inter
       |  FROM cands c
       |  JOIN shingles sa ON sa.doc_id = c.doc_a
       |  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
       |  GROUP BY doc_a, doc_b),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes za ON za.doc_id = doc_a
       |  JOIN sizes zb ON zb.doc_id = doc_b
       |  WHERE 2 * inter >= (za.sz + zb.sz - inter)),
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs),
       |reach(a, b) AS (
       |  SELECT doc_a, doc_a FROM edges
       |  UNION
       |  SELECT r.a, e.doc_b FROM reach r JOIN edges e ON r.b = e.doc_a)""".stripMargin

  private val DupClustersSql: String =
    s"""$DupClustersCtes
       |SELECT a AS doc_id, MIN(b) AS component_id
       |FROM reach GROUP BY a
       |ORDER BY doc_id""".stripMargin

  private val DedupSurvivorsSql: String =
    s"""$DupClustersCtes,
       |comp AS (SELECT a AS doc_id, MIN(b) AS component_id FROM reach GROUP BY a)
       |SELECT d.doc_id AS doc_id,
       |       COALESCE(comp.component_id, d.doc_id) AS component_id,
       |       (COALESCE(comp.component_id, d.doc_id) = d.doc_id) AS kept
       |FROM documents d LEFT JOIN comp USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Banded-signature CTE mirroring Dedup.simhashNearPairs (4 bands × 4
    * bits; pigeonhole guarantees recall for hamming ≤ 3).
    */
  private val SimhashBandsSql: String = {
    val bw = 8 // 32-bit signature, 4 bands of 8 bits
    val bands = (0 until 4)
      .map(k => s"SELECT doc_id, simhash, $k AS band, (simhash // ${1L << (bw * k)}) % ${1L << bw} AS key FROM sh")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $KeptCte, ${simhashCte(32)},
       |shbands AS (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.simhash AS sh_a, b.simhash AS sh_b
       |  FROM shbands a JOIN shbands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(sh_a, sh_b)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Two-long 64-bit SimHash + (d+1)-band probing, mirroring
    * Dedup.simhash64Bits / simhash64NearPairs (4 bands × 16 bits; bands 0–1
    * from the low half, 2–3 from the high half).
    */
  private val Simhash64BandsSql: String = {
    val sums = simhashSumsSql(64)
    def half(off: Int) = simhashCombineSql(off, 32)
    val keys = Seq(
      "sh_lo % 65536", "(sh_lo // 65536) % 65536",
      "sh_hi % 65536", "(sh_hi // 65536) % 65536")
    val bands = keys.zipWithIndex
      .map { case (k, i) => s"SELECT doc_id, sh_lo, sh_hi, $i AS band, $k AS key FROM sh" }
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $KeptCte,
       |sums AS (
       |  SELECT doc_id,
       |         $sums
       |  FROM kept GROUP BY doc_id),
       |sh AS (SELECT doc_id, CAST(${half(0)} AS BIGINT) AS sh_lo,
       |              CAST(${half(32)} AS BIGINT) AS sh_hi FROM sums),
       |shbands AS (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.sh_lo AS la, b.sh_lo AS lb, a.sh_hi AS ha, b.sh_hi AS hb
       |  FROM shbands a JOIN shbands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |       CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val all: Map[String, String] = base +
    ("q50_asof_native" -> base("q41_asof_last_purchase")) +
    ("q52_dup_clusters" -> DupClustersSql) +
    ("q53_simhash_hamming" -> SimhashBandsSql) +
    ("q57_simhash64_hamming" -> Simhash64BandsSql) +
    ("q54_dedup_survivors" -> DedupSurvivorsSql) +
    ("q55_knn_multiprobe" ->
      s"""WITH $EmbCte,
         |q0 AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm, bucket FROM n WHERE vec_id < 8),
         |q AS (
         |  SELECT query_id, q_emb, q_nrm, xor(bucket, f.v) AS bucket
         |  FROM q0, ${probeFlipsSql(LshBits)} f(v)),
         |p AS (
         |  SELECT query_id, vec_id AS neighbor_id,
         |         ${dotExpr("q_emb", "emb")} / (q_nrm * nrm) AS c
         |  FROM q JOIN n USING (bucket) WHERE vec_id <> query_id),
         |r AS (
         |  SELECT query_id, neighbor_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS BIGINT) AS rnk,
         |         ROUND(c, 6) AS cos_sim
         |  FROM p)
         |SELECT query_id, neighbor_id, rnk, cos_sim FROM r WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin) +
    ("q51_top_docs_per_token" ->
      s"""WITH $KeptCte,
         |ranked AS (
         |  SELECT token, doc_id, qty,
         |         ROW_NUMBER() OVER (PARTITION BY token ORDER BY qty DESC, doc_id) AS rn
         |  FROM kept)
         |SELECT token, STRING_AGG(doc_id || ':' || qty, ',' ORDER BY rn) AS top_docs
         |FROM ranked WHERE rn <= 3
         |GROUP BY token
         |ORDER BY token""".stripMargin) +
    ("q56_hash_split" -> HashSplitSql) +
    ("q58_doc_repetition" ->
      s"""WITH $ArrCte,
         |bg AS (
         |  SELECT doc_id,
         |         list_transform(range(1, greatest(len(arr), 1)),
         |                        i -> array_to_string(arr[i:i+1], ' ')) AS bgs
         |  FROM base)
         |SELECT doc_id,
         |       CAST(len(bgs) AS BIGINT) AS n_bigrams,
         |       CAST(len(list_distinct(bgs)) AS BIGINT) AS n_distinct,
         |       CASE WHEN len(bgs) > 0
         |            THEN ROUND(1 - len(list_distinct(bgs)) / CAST(len(bgs) AS DOUBLE), 6)
         |            ELSE 0.0 END AS rep_ratio
         |FROM bg
         |ORDER BY doc_id""".stripMargin) +
    ("q61_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |s1 AS (SELECT user_id, MIN(us) AS t1 FROM ev
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.us) AS t2 FROM ev e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.us) AS t3 FROM ev e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY e.user_id)
        |SELECT * FROM (
        |  SELECT '1_view' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
        |  UNION ALL
        |  SELECT '2_view_click', CAST(COUNT(*) AS BIGINT) FROM s2
        |  UNION ALL
        |  SELECT '3_view_click_purchase', CAST(COUNT(*) AS BIGINT) FROM s3)
        |ORDER BY step""".stripMargin) +
    ("q60_retention_cohorts" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events),
        |c AS (SELECT user_id, MIN(d) AS cohort FROM a GROUP BY user_id)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_date,
        |       CAST(date_diff('day', cohort, d) AS BIGINT) AS day_offset,
        |       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY cohort, date_diff('day', cohort, d)
        |ORDER BY cohort_date, day_offset""".stripMargin) +
    ("q59_split_contamination" ->
      s"""WITH $SplitCte, $ShinglesCte,
         |ev AS (SELECT doc_id, split FROM splits WHERE split <> 'train'),
         |tr AS (SELECT s.doc_id, s.shingle FROM shingles s
         |       JOIN splits sp ON s.doc_id = sp.doc_id WHERE sp.split = 'train'),
         |es AS (SELECT s.doc_id, s.shingle FROM shingles s
         |       JOIN ev ON s.doc_id = ev.doc_id),
         |pairs AS (SELECT DISTINCT es.doc_id AS doc_id, tr.doc_id AS train_doc
         |          FROM es JOIN tr ON es.shingle = tr.shingle),
         |cnt AS (SELECT doc_id, COUNT(*) AS c FROM pairs GROUP BY doc_id)
         |SELECT ev.doc_id, ev.split, CAST(COALESCE(c, 0) AS BIGINT) AS n_train_overlap
         |FROM ev LEFT JOIN cnt ON ev.doc_id = cnt.doc_id
         |ORDER BY ev.doc_id""".stripMargin) +
    ("q62_cross_corpus" ->
      s"""WITH $ShinglesCte, $SigsCte,
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS incoming_id, b.doc_id AS corpus_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket
         |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
         |inter AS (
         |  SELECT incoming_id, corpus_id, COUNT(*) AS inter
         |  FROM cands c
         |  JOIN shingles sa ON sa.doc_id = c.incoming_id
         |  JOIN shingles sb ON sb.doc_id = c.corpus_id AND sb.shingle = sa.shingle
         |  GROUP BY incoming_id, corpus_id)
         |SELECT incoming_id, corpus_id, inter, (za.sz + zb.sz - inter) AS uni
         |FROM inter
         |JOIN sizes za ON za.doc_id = incoming_id
         |JOIN sizes zb ON zb.doc_id = corpus_id
         |WHERE 2 * inter >= (za.sz + zb.sz - inter)
         |ORDER BY incoming_id, corpus_id""".stripMargin) +
    ("q63_source_overlap" ->
      s"""WITH $KeptCte,
         |st AS (SELECT DISTINCT d.source AS source, token
         |       FROM kept JOIN documents d USING (doc_id)),
         |sizes AS (SELECT source, COUNT(*) AS sz FROM st GROUP BY source),
         |inter AS (
         |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
         |  FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, inter,
         |       (za.sz + zb.sz - inter) AS uni,
         |       ROUND(CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter), 6) AS jaccard
         |FROM inter
         |JOIN sizes za ON za.source = src_a
         |JOIN sizes zb ON zb.source = src_b
         |ORDER BY src_a, src_b""".stripMargin) +
    ("q64_label_outliers" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |pv AS (SELECT vec_id, label, unnest(emb) AS v,
         |              unnest(range(1, len(emb) + 1)) AS pos FROM e),
         |pc AS (
         |  SELECT label, pos, vec_id // $FoldChunk AS chunk, COUNT(*) AS n,
         |         list_reduce(list(v ORDER BY vec_id), (a, b) -> a + b) AS s
         |  FROM pv GROUP BY label, pos, chunk),
         |cpos AS (
         |  SELECT label, pos,
         |         list_reduce(list(s ORDER BY chunk), (a, b) -> a + b) / SUM(n) AS cv
         |  FROM pc GROUP BY label, pos),
         |cent AS (SELECT label, list(cv ORDER BY pos) AS cent FROM cpos GROUP BY label),
         |d AS (
         |  SELECT vec_id, e.label AS label,
         |         sqrt(GREATEST(${dotExpr("emb", "emb")} - 2 * ${dotExpr("emb", "cent")}
         |              + ${dotExpr("cent", "cent")}, 0.0)) AS d
         |  FROM e JOIN cent ON e.label = cent.label),
         |r AS (
         |  SELECT label, vec_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY d DESC, vec_id) AS BIGINT) AS rnk,
         |         ROUND(d, 6) AS dist
         |  FROM d)
         |SELECT label, vec_id, rnk, dist FROM r WHERE rnk <= 10
         |ORDER BY label, rnk""".stripMargin) +
    ("q65_stratified_sample" ->
      """WITH s AS (
        |  SELECT doc_id, source, md5('sample|' || text) AS smp FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY smp, doc_id) AS BIGINT) AS rn,
        |         COUNT(*) OVER (PARTITION BY source) AS n_src
        |  FROM s)
        |SELECT doc_id, source, rn AS sample_rank FROM r
        |WHERE rn * 100 <= n_src * 20
        |ORDER BY doc_id""".stripMargin) +
    ("q66_vocab_growth" ->
      s"""WITH $ShinglesCte,
         |sb AS (SELECT DISTINCT doc_id // 50 AS batch, shingle FROM shingles),
         |seen AS (SELECT batch, COUNT(*) AS n_seen FROM sb GROUP BY batch),
         |firstb AS (SELECT shingle, MIN(batch) AS batch FROM sb GROUP BY shingle),
         |nw AS (SELECT batch, COUNT(*) AS n_new FROM firstb GROUP BY batch)
         |SELECT s.batch AS batch, n_seen, COALESCE(n_new, 0) AS n_new,
         |       CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY s.batch
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size,
         |       ROUND(COALESCE(n_new, 0) / CAST(n_seen AS DOUBLE), 6) AS novelty
         |FROM seen s LEFT JOIN nw USING (batch)
         |ORDER BY batch""".stripMargin) +
    ("q67_trailing_window" ->
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
        |  FROM events)
        |SELECT user_id, event_id, ts_us,
        |       COUNT(*) OVER w AS n_1h,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
        |FROM t
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin) +
    ("q68_salted_revenue" ->
      """SELECT c_nationkey, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin) +
    ("q69_value_median" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |mid AS (
        |  SELECT event_type, value, n FROM r
        |  WHERE rn * 2 = n OR rn * 2 = n + 1 OR rn * 2 = n + 2)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS median_value
        |FROM mid GROUP BY event_type
        |ORDER BY event_type""".stripMargin) +
    ("q70_collocations" ->
      s"""WITH $ArrCte,
         |bg AS (
         |  SELECT unnest(list_transform(range(1, greatest(len(arr), 1)),
         |                i -> array_to_string(arr[i:i+1], ' '))) AS bg
         |  FROM base),
         |pairs AS (
         |  SELECT string_split(bg, ' ')[1] AS tok_a, string_split(bg, ' ')[2] AS tok_b
         |  FROM bg),
         |bgc AS (
         |  SELECT tok_a, tok_b, COUNT(*) AS n_ab
         |  FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 10),
         |uni AS (SELECT unnest(arr) AS tok FROM base),
         |uc AS (SELECT tok, COUNT(*) AS n FROM uni GROUP BY tok),
         |nt AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot FROM uc)
         |SELECT tok_a, tok_b, n_ab,
         |       ROUND(ln(CAST(n_ab AS DOUBLE) * n_tot / (a.n * b.n)), 6) AS pmi
         |FROM bgc JOIN uc a ON a.tok = tok_a JOIN uc b ON b.tok = tok_b, nt
         |ORDER BY pmi DESC, tok_a, tok_b""".stripMargin) +
    ("q71_pack_shards" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' '),
        |                              x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tok,
        |         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS first_tok
        |  FROM t)
        |SELECT source, CAST(first_tok // 5000 AS BIGINT) AS shard_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
        |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY source, shard_id
        |ORDER BY source, shard_id""".stripMargin) +
    ("q72_epoch_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source),
        |m AS (SELECT MAX(n_src) AS n_max FROM c),
        |r AS (SELECT source, LEAST(4, GREATEST(1, n_max // n_src)) AS repeats FROM c, m)
        |SELECT doc_id, d.source AS source,
        |       CAST(unnest(range(1, repeats + 1)) AS BIGINT) AS epoch
        |FROM documents d JOIN r ON d.source = r.source
        |ORDER BY doc_id, epoch""".stripMargin) +
    ("q73_bpe_merges" -> BpeMergesSql) +
    ("q74_semdedup_survivors" ->
      s"""WITH RECURSIVE $EmbCte,
         |vpairs AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE ${dotExpr("a.emb", "b.emb")} / (a.nrm * b.nrm) >= 0.25),
         |vedges AS (
         |  SELECT vec_a, vec_b FROM vpairs
         |  UNION SELECT vec_b AS vec_a, vec_a AS vec_b FROM vpairs),
         |vreach(a, b) AS (
         |  SELECT vec_a, vec_a FROM vedges
         |  UNION
         |  SELECT r.a, e.vec_b FROM vreach r JOIN vedges e ON r.b = e.vec_a),
         |vcomp AS (SELECT a AS vec_id, MIN(b) AS component_id FROM vreach GROUP BY a)
         |SELECT emb0.vec_id AS vec_id,
         |       COALESCE(vcomp.component_id, emb0.vec_id) AS component_id,
         |       (COALESCE(vcomp.component_id, emb0.vec_id) = emb0.vec_id) AS kept
         |FROM embeddings emb0 LEFT JOIN vcomp USING (vec_id)
         |ORDER BY vec_id""".stripMargin) +
    ("q75_gopher_rules" ->
      s"""WITH $ArrCte,
         |$GopherFlagsCtes
         |SELECT doc_id, n_tokens, wc_ok, mwl_ok, stop_ok, alpha_ok, rep_ok,
         |       wc_ok * mwl_ok * stop_ok * alpha_ok * rep_ok AS keep
         |FROM f
         |ORDER BY doc_id""".stripMargin) +
    ("q76_dup_span_coverage" ->
      s"""WITH $ShinglesCte,
         |df AS (SELECT shingle, COUNT(*) AS df FROM shingles GROUP BY shingle)
         |SELECT doc_id, COUNT(*) AS n_shingles,
         |       CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |       ROUND(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS dup_frac
         |FROM shingles JOIN df USING (shingle)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) +
    ("q77_knn_quantized" ->
      s"""WITH $EmbCte,
         |codes AS (
         |  SELECT vec_id,
         |         list_transform(emb, x -> CAST(floor(x * 127.0 / nrm + 0.5) AS BIGINT)) AS q8
         |  FROM n),
         |q AS (SELECT vec_id AS query_id, q8 AS qq FROM codes WHERE vec_id < 8),
         |p AS (
         |  SELECT query_id, vec_id AS neighbor_id,
         |         CAST(list_reduce(list_transform(range(1, len(qq) + 1), i -> qq[i] * q8[i]),
         |                          (x, y) -> x + y) AS BIGINT) AS qdot
         |  FROM q, codes WHERE vec_id <> query_id),
         |r AS (
         |  SELECT query_id, neighbor_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS BIGINT) AS rnk,
         |         qdot
         |  FROM p)
         |SELECT query_id, neighbor_id, rnk, qdot FROM r WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin) +
    ("q78_minhash_calibration" -> MinhashCalibrationSql) +
    ("q79_bpe_compression" -> BpeCompressionSql) +
    ("q80_head_coverage" ->
      s"""WITH $ArrCte,
         |tok AS (SELECT unnest(arr) AS token FROM base),
         |c AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
         |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
         |r AS (
         |  SELECT token, cnt,
         |         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rnk
         |  FROM c)
         |SELECT rnk, token, cnt,
         |       CAST(SUM(cnt) OVER (ORDER BY rnk) AS BIGINT) AS cum_cnt,
         |       ROUND(CAST(SUM(cnt) OVER (ORDER BY rnk) AS DOUBLE) / total, 6) AS cum_frac
         |FROM r, t WHERE rnk <= 20
         |ORDER BY rnk""".stripMargin) +
    ("q81_train_corpus" ->
      s"""$TrainVerdictCtes
         |SELECT doc_id, split, dedup_kept, quality_ok, contaminated, train_ok
         |FROM verdict
         |ORDER BY doc_id""".stripMargin) +
    ("q86_corpus_report" ->
      s"""$TrainVerdictCtes
         |SELECT d.source AS source,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN v.dedup_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup_kept,
         |       CAST(SUM(v.quality_ok) AS BIGINT) AS n_quality,
         |       CAST(SUM(v.contaminated) AS BIGINT) AS n_contaminated,
         |       CAST(SUM(v.train_ok) AS BIGINT) AS n_train_ok
         |FROM verdict v JOIN documents d ON v.doc_id = d.doc_id
         |GROUP BY d.source
         |ORDER BY source""".stripMargin) +
    ("q87_boilerplate_prefixes" ->
      s"""WITH $ArrCte,
         |pref AS (
         |  SELECT d.source AS source, array_to_string(b.arr[1:5], ' ') AS prefix
         |  FROM base b JOIN documents d ON b.doc_id = d.doc_id
         |  WHERE len(b.arr) > 0),
         |counts AS (SELECT source, prefix, COUNT(*) AS n_docs
         |           FROM pref GROUP BY source, prefix),
         |totals AS (SELECT source, COUNT(*) AS n_total FROM pref GROUP BY source),
         |r AS (
         |  SELECT source, prefix, n_docs,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY source
         |                ORDER BY n_docs DESC, prefix) AS BIGINT) AS rnk
         |  FROM counts)
         |SELECT r.source AS source, r.rnk AS rnk, r.prefix AS prefix,
         |       CAST(r.n_docs AS BIGINT) AS n_docs,
         |       ROUND(CAST(r.n_docs AS DOUBLE) / t.n_total, 6) AS share
         |FROM r JOIN totals t ON r.source = t.source
         |WHERE r.rnk <= 3
         |ORDER BY source, rnk""".stripMargin) +
    ("q82_dsir_weights" ->
      s"""$DsirScoreCtes
         |SELECT doc_id, n_bigrams, score FROM scored
         |ORDER BY doc_id""".stripMargin) +
    ("q83_kmeans_step" ->
      s"""WITH $KmeansAsgCtes,
         |pv AS (SELECT cid, vec_id, unnest(emb) AS v,
         |              unnest(range(0, len(emb))) AS pos FROM asg),
         |pc AS (
         |  SELECT cid, pos, vec_id // $FoldChunk AS chunk, COUNT(*) AS n,
         |         list_reduce(list(v ORDER BY vec_id), (a, b) -> a + b) AS s
         |  FROM pv GROUP BY cid, pos, chunk)
         |SELECT cid AS cluster_id, CAST(pos AS BIGINT) AS pos,
         |       CAST(SUM(n) AS BIGINT) AS n_members,
         |       ROUND(list_reduce(list(s ORDER BY chunk), (a, b) -> a + b) / SUM(n), 6) AS c_val
         |FROM pc GROUP BY cid, pos
         |ORDER BY cluster_id, pos""".stripMargin) +
    ("q85_kmeans_assign" ->
      s"""WITH $KmeansAsgCtes
         |SELECT vec_id, cid AS cluster_id, ROUND(sqrt(d2), 6) AS dist
         |FROM asg
         |ORDER BY vec_id""".stripMargin) +
    ("q97_cluster_sample" ->
      s"""WITH $KmeansAsgCtes,
         |d AS (SELECT vec_id, cid AS cluster_id, ROUND(sqrt(d2), 6) AS dist FROM asg),
         |r AS (
         |  SELECT cluster_id, vec_id, dist,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
         |                ORDER BY dist, vec_id) AS BIGINT) AS rnk
         |  FROM d)
         |SELECT cluster_id, rnk, vec_id, dist FROM r
         |WHERE rnk <= 3
         |ORDER BY cluster_id, rnk""".stripMargin) +
    ("q88_dim_stats" ->
      s"""WITH pv AS (
         |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
         |         unnest(range(0, len(embedding))) AS pos
         |  FROM embeddings),
         |pc AS (
         |  SELECT pos, vec_id // $FoldChunk AS chunk, COUNT(*) AS n,
         |         list_reduce(list(v ORDER BY vec_id), (a, b) -> a + b) AS s,
         |         list_reduce(list(v * v ORDER BY vec_id), (a, b) -> a + b) AS s2
         |  FROM pv GROUP BY pos, chunk),
         |g AS (
         |  SELECT pos, SUM(n) AS n_vecs,
         |         list_reduce(list(s ORDER BY chunk), (a, b) -> a + b) / SUM(n) AS m,
         |         list_reduce(list(s2 ORDER BY chunk), (a, b) -> a + b) / SUM(n) AS m2
         |  FROM pc GROUP BY pos)
         |SELECT CAST(pos AS BIGINT) AS pos, CAST(n_vecs AS BIGINT) AS n_vecs,
         |       ROUND(m, 6) AS mean, ROUND(m2 - m * m, 6) AS variance
         |FROM g ORDER BY pos""".stripMargin) +
    ("q95_dup_graph_stats" ->
      s"""WITH RECURSIVE $ShinglesCte, $SigsCte,
         |$DupClustersBody,
         |verts AS (
         |  SELECT DISTINCT v FROM (
         |    SELECT doc_a AS v FROM pairs UNION ALL SELECT doc_b AS v FROM pairs)),
         |tri AS (
         |  SELECT e1.doc_a
         |  FROM pairs e1
         |  JOIN pairs e2 ON e1.doc_b = e2.doc_a
         |  JOIN pairs e3 ON e1.doc_a = e3.doc_a AND e2.doc_b = e3.doc_b)
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM verts) AS n_vertices,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles
         |ORDER BY n_vertices""".stripMargin) +
    ("q100_time_to_convert" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |s1 AS (SELECT user_id, MIN(us) AS t1 FROM ev
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.us) AS t2 FROM ev e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.us) AS t3 FROM ev e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY e.user_id),
        |conv AS (
        |  SELECT s1.user_id, CAST(make_timestamp(s1.t1) AS DATE) AS cohort,
        |         s3.t3 - s1.t1 AS ttc
        |  FROM s3 JOIN s1 ON s3.user_id = s1.user_id),
        |r AS (
        |  SELECT cohort, ttc,
        |         ROW_NUMBER() OVER (PARTITION BY cohort ORDER BY ttc, user_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY cohort) AS n
        |  FROM conv)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_date,
        |       CAST(MAX(n) AS BIGINT) AS n_converted,
        |       CAST(SUM(ttc) AS DOUBLE) / COUNT(*) AS median_ttc_us
        |FROM r
        |WHERE rn * 2 = n OR rn * 2 = n + 1 OR rn * 2 = n + 2
        |GROUP BY cohort
        |ORDER BY cohort_date""".stripMargin) +
    ("q96_interarrival_median" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts_us - LAG(ts_us) OVER
        |           (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap
        |  FROM (SELECT user_id, event_id,
        |               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events)),
        |r AS (
        |  SELECT user_id, gap,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY gap, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM g WHERE gap IS NOT NULL)
        |SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_gaps,
        |       CAST(SUM(gap) AS DOUBLE) / COUNT(*) AS median_gap_us
        |FROM r
        |WHERE rn * 2 = n OR rn * 2 = n + 1 OR rn * 2 = n + 2
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) +
    ("q94_payload_energy" ->
      s"""WITH pb AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |         (strpos('0123456789ABCDEF', substring(hx, 2 * i + 1, 1)) - 1) * 16 +
        |         (strpos('0123456789ABCDEF', substring(hx, 2 * i + 2, 1)) - 1) AS v,
        |         i // ${operators.Multimodal.EnergyWindow} AS win
        |  FROM (SELECT doc_id, hx, unnest(range(0, n)) AS i FROM pb)),
        |we AS (SELECT doc_id, win, SUM((v - 128) * (v - 128)) AS e
        |       FROM b GROUP BY doc_id, win),
        |g AS (SELECT doc_id, COUNT(*) AS n_windows, SUM(e) AS total_energy,
        |             MAX(e) AS peak_energy
        |      FROM we GROUP BY doc_id)
        |SELECT g.doc_id AS doc_id, CAST(pb.n AS BIGINT) AS n_bytes,
        |       CAST(n_windows AS BIGINT) AS n_windows,
        |       CAST(total_energy AS BIGINT) AS total_energy,
        |       CAST(peak_energy AS BIGINT) AS peak_energy
        |FROM g JOIN pb ON g.doc_id = pb.doc_id
        |ORDER BY doc_id""".stripMargin) +
    ("q91_doc_novelty" ->
      s"""WITH $ArrCte,
         |bg AS (
         |  SELECT DISTINCT doc_id,
         |         unnest(list_transform(range(1, greatest(len(arr), 1)),
         |                i -> array_to_string(arr[i:i+1], ' '))) AS b
         |  FROM base),
         |fs AS (SELECT b, MIN(doc_id) AS first_doc FROM bg GROUP BY b)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |       ROUND(CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |             / COUNT(*), 6) AS novelty
         |FROM bg JOIN fs USING (b)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) +
    ("q92_token_entropy" ->
      s"""WITH $ArrCte,
         |tc AS (
         |  SELECT doc_id, token, COUNT(*) AS n
         |  FROM (SELECT doc_id, unnest(arr) AS token FROM base)
         |  GROUP BY doc_id, token),
         |g AS (
         |  SELECT doc_id, SUM(n) AS n_tokens,
         |         list_reduce(list(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)) ORDER BY token),
         |                     (a, b) -> a + b) AS s
         |  FROM tc GROUP BY doc_id)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       ROUND(ln(CAST(n_tokens AS DOUBLE)) - s / n_tokens, 6) AS entropy
         |FROM g
         |ORDER BY doc_id""".stripMargin) +
    ("q99_cross_entropy" ->
      s"""WITH $ArrCte,
         |tc AS (
         |  SELECT doc_id, token, COUNT(*) AS n
         |  FROM (SELECT doc_id, unnest(arr) AS token FROM base)
         |  GROUP BY doc_id, token),
         |cc AS (SELECT token, SUM(n) AS c FROM tc GROUP BY token),
         |tot AS (SELECT SUM(c) AS tt FROM cc),
         |g AS (
         |  SELECT doc_id, SUM(n) AS n_tokens,
         |         list_reduce(list(CAST(n AS DOUBLE) * ln(CAST(c AS DOUBLE)) ORDER BY token),
         |                     (a, b) -> a + b) AS sc,
         |         list_reduce(list(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)) ORDER BY token),
         |                     (a, b) -> a + b) AS sn
         |  FROM tc JOIN cc USING (token) GROUP BY doc_id)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       ROUND(ln(CAST(tt AS DOUBLE)) - sc / n_tokens, 6) AS cross_entropy,
         |       ROUND(ln(CAST(tt AS DOUBLE)) - ln(CAST(n_tokens AS DOUBLE)) + (sn - sc) / n_tokens, 6) AS kl
         |FROM g, tot
         |ORDER BY doc_id""".stripMargin) +
    ("q93_source_dup_matrix" ->
      s"""WITH RECURSIVE $ShinglesCte, $SigsCte,
         |$DupClustersBody,
         |lab AS (
         |  SELECT LEAST(da.source, db.source) AS source_a,
         |         GREATEST(da.source, db.source) AS source_b
         |  FROM pairs p
         |  JOIN documents da ON p.doc_a = da.doc_id
         |  JOIN documents db ON p.doc_b = db.doc_id)
         |SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM lab GROUP BY source_a, source_b
         |ORDER BY source_a, source_b""".stripMargin) +
    ("q90_shared_spans" -> {
      val k = graft.operators.Dedup.ShingleSize
      s"""WITH RECURSIVE $ArrCte, $ShinglesCte, $SigsCte,
         |$DupClustersBody,
         |pos5 AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(arr[i:i+${k - 1}], ' ') AS shingle
         |  FROM (SELECT doc_id, arr,
         |               unnest(range(1, greatest(len(arr) - ${k - 2}, 1))) AS i
         |        FROM base)),
         |m AS (
         |  SELECT p.doc_a, p.doc_b, a.pos AS pa, a.pos - b.pos AS diag
         |  FROM pairs p
         |  JOIN pos5 a ON a.doc_id = p.doc_a
         |  JOIN pos5 b ON b.doc_id = p.doc_b AND b.shingle = a.shingle),
         |isl AS (
         |  SELECT doc_a, doc_b, diag, pa,
         |         pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
         |  FROM m),
         |runs AS (SELECT doc_a, doc_b, COUNT(*) AS run
         |         FROM isl GROUP BY doc_a, doc_b, diag, grp)
         |SELECT doc_a, doc_b, CAST(MAX(run) AS BIGINT) AS max_run,
         |       CAST(MAX(run) + ${k - 1} AS BIGINT) AS span_tokens
         |FROM runs GROUP BY doc_a, doc_b
         |ORDER BY doc_a, doc_b""".stripMargin
    }) +
    ("q89_length_quantiles" ->
      s"""WITH $ArrCte,
         |counts AS (
         |  SELECT d.source AS source, b.doc_id AS doc_id,
         |         CAST(len(b.arr) AS BIGINT) AS t
         |  FROM base b JOIN documents d ON b.doc_id = d.doc_id),
         |r AS (
         |  SELECT source, t,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY t, doc_id) AS BIGINT) AS r,
         |         COUNT(*) OVER (PARTITION BY source) AS n
         |  FROM counts)
         |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
         |       MAX(CASE WHEN r = ((n - 1) * 10) // 100 + 1 THEN t END) AS p10,
         |       MAX(CASE WHEN r = ((n - 1) * 50) // 100 + 1 THEN t END) AS p50,
         |       MAX(CASE WHEN r = ((n - 1) * 90) // 100 + 1 THEN t END) AS p90
         |FROM r GROUP BY source
         |ORDER BY source""".stripMargin) +
    ("q84_token_pagerank" ->
      s"""WITH $ArrCte,
         |bgp AS (
         |  SELECT string_split(unnest(list_transform(range(1, greatest(len(arr), 1)),
         |                i -> array_to_string(arr[i:i+1], ' '))), ' ') AS p
         |  FROM base),
         |edges AS (
         |  SELECT p[1] AS src, p[2] AS dst, COUNT(*) AS c FROM bgp GROUP BY 1, 2),
         |outd AS (SELECT src, SUM(c) AS outc FROM edges GROUP BY src),
         |verts AS (SELECT DISTINCT unnest(arr) AS token FROM base),
         |nv AS (SELECT COUNT(*) AS nv FROM verts),
         |p0 AS (SELECT token, 1000000000 // nv AS pr, nv FROM verts, nv),
         |in1 AS (
         |  SELECT e.dst AS token, SUM((e.c * p.pr) // o.outc) AS inflow
         |  FROM edges e JOIN outd o ON e.src = o.src JOIN p0 p ON e.src = p.token
         |  GROUP BY e.dst),
         |p1 AS (
         |  SELECT p0.token,
         |         (15 * (1000000000 // p0.nv)) // 100 + (85 * COALESCE(in1.inflow, 0)) // 100 AS pr,
         |         p0.nv AS nv
         |  FROM p0 LEFT JOIN in1 ON p0.token = in1.token),
         |in2 AS (
         |  SELECT e.dst AS token, SUM((e.c * p.pr) // o.outc) AS inflow
         |  FROM edges e JOIN outd o ON e.src = o.src JOIN p1 p ON e.src = p.token
         |  GROUP BY e.dst),
         |p2 AS (
         |  SELECT p1.token,
         |         (15 * (1000000000 // p1.nv)) // 100 + (85 * COALESCE(in2.inflow, 0)) // 100 AS pr
         |  FROM p1 LEFT JOIN in2 ON p1.token = in2.token)
         |SELECT p1.token AS token, CAST(p1.pr AS BIGINT) AS pr1, CAST(p2.pr AS BIGINT) AS pr2
         |FROM p1 JOIN p2 ON p1.token = p2.token
         |ORDER BY token""".stripMargin) +
    // q11's membership joins at reference file scale: DuckDB reads the SAME
    // generated 235,886/668-line files Spark broadcasts, so membership
    // agrees by construction down to the file bytes
    ("q101_token_counts_filescale" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         unnest(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' ')) AS token
         |  FROM documents),
         |dictf AS (
         |  SELECT lower(trim(w)) AS token
         |  FROM read_csv('${graft.sources.WordListFixtures.DictPath}',
         |                header=false, columns={'w': 'VARCHAR'})
         |  WHERE trim(w) <> ''),
         |stopf AS (
         |  SELECT lower(trim(w)) AS token
         |  FROM read_csv('${graft.sources.WordListFixtures.StopPath}',
         |                header=false, columns={'w': 'VARCHAR'})
         |  WHERE trim(w) <> ''),
         |kept AS (
         |  SELECT doc_id, token, COUNT(*) AS qty
         |  FROM toks
         |  WHERE token <> ''
         |    AND token IN (SELECT token FROM dictf)
         |    AND token NOT IN (SELECT token FROM stopf)
         |  GROUP BY doc_id, token)
         |SELECT doc_id, token, qty FROM kept
         |ORDER BY doc_id, token""".stripMargin) +
    ("q102_bloom_decontamination" ->
      s"""WITH $SplitCte, $ShinglesCte,
         |tr AS (SELECT s.doc_id, s.shingle FROM shingles s
         |       JOIN splits sp ON s.doc_id = sp.doc_id WHERE sp.split = 'train'),
         |ev AS (SELECT DISTINCT s.shingle FROM shingles s
         |       JOIN splits sp ON s.doc_id = sp.doc_id WHERE sp.split <> 'train'),
         |evpos AS (SELECT DISTINCT pos
         |          FROM (SELECT unnest([${bloomPosSql("shingle")}]) AS pos FROM ev)),
         |trpos AS (SELECT doc_id, shingle, unnest([${bloomPosSql("shingle")}]) AS pos
         |          FROM tr),
         |hit AS (SELECT doc_id, shingle FROM trpos JOIN evpos USING (pos)
         |        GROUP BY doc_id, shingle
         |        HAVING COUNT(*) = ${graft.operators.Sketches.BloomK}),
         |fl AS (SELECT doc_id, COUNT(*) AS n_flagged FROM hit GROUP BY doc_id),
         |base AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id)
         |SELECT sp.doc_id,
         |       CAST(COALESCE(b.n_shingles, 0) AS BIGINT) AS n_shingles,
         |       CAST(COALESCE(f.n_flagged, 0) AS BIGINT) AS n_flagged
         |FROM (SELECT doc_id FROM splits WHERE split = 'train') sp
         |LEFT JOIN base b ON sp.doc_id = b.doc_id
         |LEFT JOIN fl f ON sp.doc_id = f.doc_id
         |ORDER BY sp.doc_id""".stripMargin) +
    // q125: the multi-benchmark form of q102 — benchmark = eval source,
    // per-benchmark bit-position sets each at ITS OWN ladder rung (the
    // MultiBenchCtes sizing), a train shingle flagged for a benchmark
    // when all k folded positions land in THAT benchmark's set,
    // universe = train docs × benchmarks
    ("q125_multibench_bloom" ->
      s"""WITH $SplitCte, $ShinglesCte,
         |$MultiBenchCtes
         |SELECT sp.doc_id, bm.benchmark,
         |       CAST(COALESCE(b.n_shingles, 0) AS BIGINT) AS n_shingles,
         |       CAST(COALESCE(f.n_flagged, 0) AS BIGINT) AS n_flagged
         |FROM (SELECT doc_id FROM splits WHERE split = 'train') sp
         |CROSS JOIN bm
         |LEFT JOIN base b ON sp.doc_id = b.doc_id
         |LEFT JOIN fl f ON sp.doc_id = f.doc_id AND bm.benchmark = f.benchmark
         |ORDER BY sp.doc_id, bm.benchmark""".stripMargin) +
    // q126: q125's CTE chain plus the PER-BENCHMARK exact overlap (train
    // shingles joined to the distinct (benchmark, shingle) eval relation)
    // — n_false_pos = flagged − exact per (doc, benchmark), the q119
    // audit at benchmark grain
    ("q126_multibench_fp_audit" ->
      s"""WITH $SplitCte, $ShinglesCte,
         |$MultiBenchCtes,
         |ex AS (SELECT t.doc_id, e.benchmark, COUNT(*) AS n_exact
         |       FROM tr t JOIN ev e ON t.shingle = e.shingle
         |       GROUP BY t.doc_id, e.benchmark)
         |SELECT sp.doc_id, bm.benchmark,
         |       CAST(COALESCE(b.n_shingles, 0) AS BIGINT) AS n_shingles,
         |       CAST(COALESCE(x.n_exact, 0) AS BIGINT) AS n_exact,
         |       CAST(COALESCE(f.n_flagged, 0) AS BIGINT) AS n_flagged,
         |       CAST(COALESCE(f.n_flagged, 0) - COALESCE(x.n_exact, 0) AS BIGINT)
         |         AS n_false_pos
         |FROM (SELECT doc_id FROM splits WHERE split = 'train') sp
         |CROSS JOIN bm
         |LEFT JOIN base b ON sp.doc_id = b.doc_id
         |LEFT JOIN ex x ON sp.doc_id = x.doc_id AND bm.benchmark = x.benchmark
         |LEFT JOIN fl f ON sp.doc_id = f.doc_id AND bm.benchmark = f.benchmark
         |ORDER BY sp.doc_id, bm.benchmark""".stripMargin) +
    // q128: the Bloom SIZING report — q126's audit aggregated to
    // benchmark grain next to the distinct-shingle count and the ladder
    // rung it picked (the same integer CASE rungs as the Scala side —
    // no floating log2 anywhere, so the engines cannot round apart)
    ("q128_bloom_sizing" ->
      s"""WITH $SplitCte, $ShinglesCte,
         |$MultiBenchCtes,
         |ex AS (SELECT t.doc_id, e.benchmark, COUNT(*) AS n_exact
         |       FROM tr t JOIN ev e ON t.shingle = e.shingle
         |       GROUP BY t.doc_id, e.benchmark),
         |cnts AS (SELECT benchmark, COUNT(DISTINCT shingle) AS n_eval
         |         FROM ev GROUP BY benchmark),
         |uni AS (SELECT sp.doc_id, bm.benchmark,
         |               COALESCE(f.n_flagged, 0) AS flg,
         |               COALESCE(x.n_exact, 0) AS exc
         |        FROM (SELECT doc_id FROM splits WHERE split = 'train') sp
         |        CROSS JOIN bm
         |        LEFT JOIN ex x
         |          ON sp.doc_id = x.doc_id AND bm.benchmark = x.benchmark
         |        LEFT JOIN fl f
         |          ON sp.doc_id = f.doc_id AND bm.benchmark = f.benchmark)
         |SELECT u.benchmark,
         |       CAST(c.n_eval AS BIGINT) AS n_eval_shingles,
         |       CAST(m.mbits AS BIGINT) AS m_bits,
         |       CAST(COUNT(*) AS BIGINT) AS n_train_rows,
         |       CAST(SUM(u.flg) AS BIGINT) AS n_flagged,
         |       CAST(SUM(u.exc) AS BIGINT) AS n_exact,
         |       CAST(SUM(u.flg - u.exc) AS BIGINT) AS n_false_pos
         |FROM uni u
         |JOIN cnts c ON u.benchmark = c.benchmark
         |JOIN m ON u.benchmark = m.benchmark
         |GROUP BY u.benchmark, c.n_eval, m.mbits
         |ORDER BY u.benchmark""".stripMargin) +
    // q127: magic-byte format sniffing — the payload is the text's bytes
    // with a deterministically PLANTED arm (doc_id mod |PlantTable| picks
    // a MagicTable signature, a full RIFF+size+subtype header, or
    // nothing), detection is a longest-prefix compare over the payload's
    // hex with RIFF routed one level deeper on the subtype at bytes 9–12
    // — both sides interpolate the SAME tables so they can never desync
    ("q127_format_sniff" -> {
      val magics = graft.operators.Multimodal.MagicTable
      val plants = graft.operators.Multimodal.PlantTable
      val subs = graft.operators.Multimodal.RiffSubtypes
      val plantArms = plants.zipWithIndex
        .map { case (sig, i) => s"WHEN $i THEN '$sig'" }
        .mkString(" ")
      val subFmt = subs
        .map { case (sub, f) =>
          s"WHEN substring(hx, 17, 8) = '$sub' THEN '$f'" }
        .mkString(" ")
      val subLen = subs
        .map { case (sub, _) =>
          s"WHEN substring(hx, 17, 8) = '$sub' THEN 12" }
        .mkString(" ")
      val fmtArms = magics
        .map { case (sig, f) =>
          val out =
            if (f == "riff") s"(CASE $subFmt ELSE 'riff' END)" else s"'$f'"
          s"WHEN substring(hx, 1, ${sig.length}) = '$sig' THEN $out" }
        .mkString("\n         |            ")
      val lenArms = magics
        .map { case (sig, f) =>
          val out =
            if (f == "riff") s"(CASE $subLen ELSE 4 END)"
            else s"${sig.length / 2}"
          s"WHEN substring(hx, 1, ${sig.length}) = '$sig' THEN $out" }
        .mkString("\n         |            ")
      s"""WITH pb AS (
         |  SELECT doc_id, upper(hex(encode(text))) AS th FROM documents),
         |p AS (
         |  SELECT doc_id,
         |         (CASE doc_id % ${plants.length} $plantArms ELSE '' END)
         |           || th AS hx
         |  FROM pb)
         |SELECT doc_id,
         |       CASE $fmtArms
         |            ELSE 'unknown' END AS fmt,
         |       CAST(CASE $lenArms
         |            ELSE 0 END AS BIGINT) AS sig_len,
         |       CAST(length(hx) // 2 AS BIGINT) AS n_bytes
         |FROM p
         |ORDER BY doc_id""".stripMargin
    }) +
    // q119: q102's CTE chain plus the exact overlap (train shingles IN the
    // distinct eval shingle set) — n_false_pos = flagged − exact
    ("q119_bloom_fp_audit" ->
      s"""WITH $SplitCte, $ShinglesCte,
         |tr AS (SELECT s.doc_id, s.shingle FROM shingles s
         |       JOIN splits sp ON s.doc_id = sp.doc_id WHERE sp.split = 'train'),
         |ev AS (SELECT DISTINCT s.shingle FROM shingles s
         |       JOIN splits sp ON s.doc_id = sp.doc_id WHERE sp.split <> 'train'),
         |evpos AS (SELECT DISTINCT pos
         |          FROM (SELECT unnest([${bloomPosSql("shingle")}]) AS pos FROM ev)),
         |trpos AS (SELECT doc_id, shingle, unnest([${bloomPosSql("shingle")}]) AS pos
         |          FROM tr),
         |hit AS (SELECT doc_id, shingle FROM trpos JOIN evpos USING (pos)
         |        GROUP BY doc_id, shingle
         |        HAVING COUNT(*) = ${graft.operators.Sketches.BloomK}),
         |fl AS (SELECT doc_id, COUNT(*) AS n_flagged FROM hit GROUP BY doc_id),
         |base AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id),
         |ex AS (SELECT doc_id, COUNT(*) AS n_exact FROM tr
         |       WHERE shingle IN (SELECT shingle FROM ev) GROUP BY doc_id)
         |SELECT sp.doc_id,
         |       CAST(COALESCE(b.n_shingles, 0) AS BIGINT) AS n_shingles,
         |       CAST(COALESCE(e.n_exact, 0) AS BIGINT) AS n_exact,
         |       CAST(COALESCE(f.n_flagged, 0) AS BIGINT) AS n_flagged,
         |       CAST(COALESCE(f.n_flagged, 0) - COALESCE(e.n_exact, 0) AS BIGINT)
         |         AS n_false_pos
         |FROM (SELECT doc_id FROM splits WHERE split = 'train') sp
         |LEFT JOIN base b ON sp.doc_id = b.doc_id
         |LEFT JOIN ex e ON sp.doc_id = e.doc_id
         |LEFT JOIN fl f ON sp.doc_id = f.doc_id
         |ORDER BY sp.doc_id""".stripMargin) +
    // q120: per-doc placement in the concatenate-and-chunk packed token
    // stream — exclusive running token total in doc_id order, integer-
    // divided into fixed context windows (DuckDB's one-partition window
    // IS the oracle semantics; the Spark side runs the distributed
    // two-job prefix sum and must agree exactly)
    ("q120_context_packing" -> {
      val cap = graft.operators.Packing.ContextTokens
      s"""WITH $ArrCte,
         |t AS (SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_toks FROM base),
         |c AS (SELECT doc_id, n_toks,
         |        CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |          AS start_tok
         |      FROM t)
         |SELECT doc_id, n_toks, start_tok,
         |       CAST(start_tok // $cap AS BIGINT) AS first_win,
         |       CAST(CASE WHEN n_toks > 0 THEN (start_tok + n_toks - 1) // $cap
         |            ELSE start_tok // $cap END AS BIGINT) AS last_win,
         |       CAST(CASE WHEN n_toks > 0
         |            THEN (start_tok + n_toks - 1) // $cap - start_tok // $cap + 1
         |            ELSE 0 END AS BIGINT) AS n_windows
         |FROM c
         |ORDER BY doc_id""".stripMargin
    }) +
    // q122: the window-grain inverse of q120 — explode each placed doc's
    // window span (generate_series) and derive segment geometry with the
    // same integer min/max arithmetic as the Spark side; empty docs
    // contribute no rows; (win, doc_id) is a total order.
    // q123 reuses this SQL VERBATIM (see below): its Spark side derives
    // the identical map from the STORED q121 placement artifact, so the
    // shared oracle is the stored-derived ≡ one-shot equivalence proof.
    ("q122_window_segments" -> windowSegmentsSql) +
    ("q123_window_segments_stored" -> windowSegmentsSql) +
    // q124: per-shard digest of the packed-window artifact, recomputed
    // INDEPENDENTLY from the documents table — the oracle does not model
    // the materialize/write mechanics, only the window contents a full
    // recompute yields: each window's text is sliced out of the token
    // arrays via the shared placement geometry (1-based inclusive list
    // slicing = Spark's slice(toks, doc_off+1, seg_len)), assembled in
    // win_off order, and digested with the first-8-nibble md5 sum (the
    // q114 commutative-digest idiom)
    ("q124_packed_shards" -> {
      val cap = graft.operators.Packing.ContextTokens
      val wps = graft.Pipeline.PackedWindowsPerShard
      s"""WITH $ArrCte,
         |t AS (SELECT doc_id, arr, CAST(len(arr) AS BIGINT) AS n_toks FROM base),
         |c AS (SELECT doc_id, arr, n_toks,
         |        CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |          AS start_tok
         |      FROM t),
         |w AS (SELECT doc_id, arr, n_toks, start_tok,
         |        start_tok // $cap AS first_win,
         |        (start_tok + n_toks - 1) // $cap AS last_win
         |      FROM c WHERE n_toks > 0),
         |s AS (SELECT doc_id, arr, n_toks, start_tok,
         |        unnest(generate_series(first_win, last_win)) AS win
         |      FROM w),
         |seg AS (SELECT win,
         |          GREATEST(win * $cap, start_tok) - win * $cap AS win_off,
         |          LEAST((win + 1) * $cap, start_tok + n_toks)
         |            - GREATEST(win * $cap, start_tok) AS seg_len,
         |          array_to_string(arr[
         |            CAST(GREATEST(win * $cap, start_tok) - start_tok + 1 AS BIGINT) :
         |            CAST(LEAST((win + 1) * $cap, start_tok + n_toks) - start_tok AS BIGINT)],
         |            ' ') AS segtxt
         |        FROM s),
         |wt AS (SELECT win, CAST(COUNT(*) AS BIGINT) AS n_segs,
         |          CAST(SUM(seg_len) AS BIGINT) AS n_toks,
         |          string_agg(segtxt, ' ' ORDER BY win_off) AS txt
         |        FROM seg GROUP BY win)
         |SELECT CAST(win // $wps AS BIGINT) AS shard,
         |       CAST(COUNT(*) AS BIGINT) AS n_windows,
         |       CAST(SUM(n_segs) AS BIGINT) AS n_segs,
         |       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |       CAST(SUM(${hexValSql("txt", 1, 8)}) AS BIGINT) AS win_digest
         |FROM wt
         |GROUP BY shard
         |ORDER BY shard""".stripMargin
    }) +
    // q121: the incremental packing index's per-batch summary, recomputed
    // INDEPENDENTLY from the one-shot prefix sum — the oracle does NOT
    // model the bootstrap/append mechanics, only the placement a full
    // recompute yields plus the doc_id-range batch cut (thirds of the max
    // id, integer division exactly as the Spark side's Long math). Batch
    // ids are DENSE over the non-empty thirds (advice r17): the Spark
    // side's updatePackingIndex treats an empty batch as a no-op that
    // consumes no batch number, so a corpus whose doc_ids leave a third
    // empty must not shift the oracle's labels — dense_rank over the
    // populated thirds mirrors that exactly (PackingSpec pins the Spark
    // side's dense numbering on a sparse corpus). A green hash IS the
    // batch/delta equivalence proof.
    ("q121_packing_index" -> {
      val cap = graft.operators.Packing.ContextTokens
      s"""WITH $ArrCte,
         |t AS (SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_toks FROM base),
         |c AS (SELECT doc_id, n_toks,
         |        CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |          AS start_tok
         |      FROM t),
         |m AS (SELECT MAX(doc_id) AS mx FROM t),
         |w AS (SELECT c.doc_id, c.n_toks, c.start_tok,
         |        CAST(CASE WHEN c.doc_id <= mx // 3 THEN 0
         |             WHEN c.doc_id <= (2 * mx) // 3 THEN 1
         |             ELSE 2 END AS BIGINT) AS third,
         |        CAST(CASE WHEN c.n_toks > 0
         |             THEN (c.start_tok + c.n_toks - 1) // $cap - c.start_tok // $cap + 1
         |             ELSE 0 END AS BIGINT) AS n_windows
         |      FROM c, m),
         |wb AS (SELECT *, CAST(DENSE_RANK() OVER (ORDER BY third) - 1 AS BIGINT)
         |         AS batch FROM w)
         |SELECT batch,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       MIN(doc_id) AS min_doc,
         |       MAX(doc_id) AS max_doc,
         |       CAST(SUM(n_toks) AS BIGINT) AS tok_sum,
         |       CAST(SUM(start_tok) AS BIGINT) AS start_sum,
         |       CAST(MAX(start_tok + n_toks) AS BIGINT) AS end_max,
         |       CAST(SUM(n_windows) AS BIGINT) AS win_sum
         |FROM wb
         |GROUP BY batch
         |ORDER BY batch""".stripMargin
    }) +
    ("q103_cms_heavy_hitters" -> {
      val S = graft.operators.Sketches
      val idxList = (0 until S.CmsDepth).mkString(", ")
      val bucketList = (0 until S.CmsDepth)
        .map(i => s"${hexValSql(s"'$i|' || shingle", 1, 5)} % ${S.CmsWidth}")
        .mkString(", ")
      // the two same-length unnest()s zip positionally (DuckDB semantics),
      // pairing each hash row index with its bucket
      s"""WITH $ShinglesCte,
         |tot AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n_exact
         |        FROM shingles GROUP BY shingle),
         |tb AS (SELECT shingle, n_exact, unnest([$idxList]) AS i,
         |              unnest([$bucketList]) AS bucket
         |       FROM tot),
         |cells AS (SELECT i, bucket, SUM(n_exact) AS cell FROM tb GROUP BY i, bucket),
         |est AS (SELECT shingle, MIN(cell) AS n_est
         |        FROM tb JOIN cells USING (i, bucket) GROUP BY shingle)
         |SELECT t.shingle, t.n_exact, CAST(e.n_est AS BIGINT) AS n_est,
         |       CAST(e.n_est - t.n_exact AS BIGINT) AS overcount
         |FROM tot t JOIN est e USING (shingle)
         |ORDER BY t.n_exact DESC, t.shingle
         |LIMIT ${S.TopHitters}""".stripMargin
    }) +
    ("q104_hll_registers" -> {
      val S = graft.operators.Sketches
      s"""WITH $ShinglesCte,
         |ss AS (SELECT d.source, s.shingle FROM shingles s
         |       JOIN documents d ON s.doc_id = d.doc_id),
         |h AS (SELECT source,
         |             ${hexValSql("shingle", 1, 2)} % ${S.HllBuckets} AS bucket,
         |             ${hexValSql("shingle", 3, 13)} AS v
         |      FROM ss),
         |r AS (SELECT source, bucket,
         |             CASE WHEN v = 0 THEN 53 ELSE 53 - length(bin(v)) END AS rho
         |      FROM h),
         |per AS (SELECT source, bucket, MAX(rho) AS register
         |        FROM r GROUP BY source, bucket),
         |allr AS (SELECT '__all__' AS source, bucket, MAX(register) AS register
         |         FROM per GROUP BY bucket)
         |SELECT source, CAST(bucket AS BIGINT) AS bucket,
         |       CAST(register AS BIGINT) AS register FROM per
         |UNION ALL
         |SELECT source, CAST(bucket AS BIGINT) AS bucket,
         |       CAST(register AS BIGINT) AS register FROM allr
         |ORDER BY source, bucket""".stripMargin
    }) +
    ("q105_knn_pq" -> {
      val S = graft.operators.Similarity
      val M = S.PqSubspaces; val sub = S.PqSubDim; val ks = S.PqCodes
      // sequential squared-L2 fold over one subspace — mirrors
      // Similarity.sqDist's zip_with/aggregate left-to-right evaluation
      val sqd = s"list_reduce(list_transform(range(1, ${sub + 1}), " +
        "i -> (sub[i]-cent[i])*(sub[i]-cent[i])), (x, y) -> x + y)"
      // DuckDB lists are 1-based (the Spark side's [] is 0-based)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |ms AS (SELECT unnest(range(0, $M)) AS m),
         |cb AS (SELECT vec_id AS code, m, emb[(m*$sub+1):(m*$sub+$sub)] AS cent
         |       FROM e CROSS JOIN ms WHERE vec_id < $ks),
         |sv AS (SELECT vec_id, m, emb[(m*$sub+1):(m*$sub+$sub)] AS sub
         |       FROM e CROSS JOIN ms),
         |cd AS (SELECT vec_id, m, code, $sqd AS d2
         |       FROM sv JOIN cb USING (m)),
         |codes AS (SELECT vec_id, list(code ORDER BY m) AS codes
         |          FROM (SELECT vec_id, m, code,
         |                       ROW_NUMBER() OVER (PARTITION BY vec_id, m
         |                                          ORDER BY d2, code) AS rn
         |                FROM cd)
         |          WHERE rn = 1 GROUP BY vec_id),
         |tarr AS (SELECT vec_id AS query_id, list(d2 ORDER BY m * $ks + code) AS tab
         |         FROM cd WHERE vec_id < ${S.QuerySetSize} GROUP BY vec_id),
         |sc AS (SELECT t.query_id, c.vec_id AS neighbor_id,
         |         ROUND(list_reduce(list_transform(range(0, $M),
         |                  m -> tab[m * $ks + codes[m + 1] + 1]),
         |                (x, y) -> x + y), 6) AS pq_dist2
         |       FROM codes c CROSS JOIN tarr t WHERE c.vec_id <> t.query_id)
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, pq_dist2
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |                                   ORDER BY pq_dist2, neighbor_id) AS rnk
         |      FROM sc)
         |WHERE rnk <= ${S.K}
         |ORDER BY query_id, rnk""".stripMargin
    }) +
    ("q106_doc_chunks" ->
      s"""WITH $ChunkStartsCte
         |SELECT doc_id,
         |       CAST(start // $ChunkStride AS BIGINT) AS chunk_id,
         |       CAST(start AS BIGINT) AS start_pos,
         |       CAST(len($ChunkSliceSql) AS BIGINT) AS n_tokens,
         |       md5(array_to_string($ChunkSliceSql, ' ')) AS chunk_hash
         |FROM starts
         |ORDER BY doc_id, chunk_id""".stripMargin) +
    ("q107_chunk_dedup" -> {
      val B = graft.operators.TextAnalysis.ChunkPackBase
      s"""WITH $ChunkStartsCte,
         |chunks AS (
         |  SELECT doc_id, CAST(start // $ChunkStride AS BIGINT) AS chunk_id,
         |         md5(array_to_string($ChunkSliceSql, ' ')) AS chunk_hash
         |  FROM starts),
         |g AS (
         |  SELECT chunk_hash, COUNT(*) AS n_occurrences,
         |         COUNT(DISTINCT doc_id) AS n_docs,
         |         MIN(doc_id * $B + chunk_id) AS keeper_key
         |  FROM chunks GROUP BY chunk_hash HAVING COUNT(*) > 1)
         |SELECT chunk_hash, n_occurrences, n_docs,
         |       CAST(keeper_key // $B AS BIGINT) AS keeper_doc_id,
         |       CAST(keeper_key % $B AS BIGINT) AS keeper_chunk_id
         |FROM g
         |ORDER BY n_occurrences DESC, chunk_hash""".stripMargin
    }) +
    ("q108_histogram_quantiles" -> {
      val S = graft.operators.Sketches
      val W = S.QBinWidth
      def estSql(p: Int) =
        s"CAST(MIN(CASE WHEN cum >= ((n - 1) * $p) // 100 + 1 " +
          s"THEN (bin + 1) * $W - 1 END) AS BIGINT)"
      s"""WITH $ArrCte,
         |c AS (
         |  SELECT d.source AS source,
         |         CAST(least(len(b.arr) // $W, ${S.QBins - 1}) AS BIGINT) AS bin
         |  FROM base b JOIN documents d ON b.doc_id = d.doc_id),
         |hist AS (SELECT source, bin, COUNT(*) AS c FROM c GROUP BY source, bin),
         |cum AS (
         |  SELECT source, bin, c,
         |         SUM(c) OVER (PARTITION BY source ORDER BY bin) AS cum,
         |         SUM(c) OVER (PARTITION BY source) AS n
         |  FROM hist)
         |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
         |       ${estSql(10)} AS est_p10,
         |       ${estSql(50)} AS est_p50,
         |       ${estSql(90)} AS est_p90
         |FROM cum GROUP BY source
         |ORDER BY source""".stripMargin
    }) +
    ("q109_dsir_select" -> {
      // u = (first 52 md5 bits + 0.5) / 2^52 — exact in double in both
      // engines (power-of-two divisor); g = −ln(−ln u), the Gumbel draw
      val uSql = s"(${hexValSql("'dsir|' || CAST(doc_id AS VARCHAR)", 1, 13)}" +
        " + 0.5) / 4503599627370496.0"
      s"""$DsirScoreCtes,
         |keyed AS (
         |  SELECT doc_id, score,
         |         ROUND(score - ln(-ln($uSql)), 6) AS gkey
         |  FROM scored),
         |r AS (
         |  SELECT doc_id, score, gkey,
         |         CAST(ROW_NUMBER() OVER (ORDER BY gkey DESC, doc_id) AS BIGINT) AS rnk
         |  FROM keyed)
         |SELECT rnk, doc_id, score, gkey FROM r
         |WHERE rnk <= 200
         |ORDER BY rnk""".stripMargin
    }) +
    ("q110_pii_redaction" -> PiiRedactionSql) +
    ("q111_chunk_purge" -> ChunkPurgeSql) +
    ("q112_cluster_keepers" -> ClusterKeepersSql) +
    ("q113_cross_corpus_purge" -> CrossCorpusPurgeSql) +
    ("q114_chunk_index_buckets" -> ChunkIndexBucketsSql) +
    ("q115_ann_recall" -> AnnRecallSql) +
    ("q117_ann_sweep" -> AnnSweepSql) +
    ("q118_ann_autopick" -> AnnAutoPickSql) +
    ("q116_bucketed_index_summary" -> ChunkIndexBucketedSummarySql)

  /** PII scrub mirror (q110) — injection expression, patterns, and
    * redaction order all read from / matched to TextAnalysis.piiRedaction
    * (patterns are shared constants; the Java-regex/RE2 common subset
    * guarantees identical matches).
    */
  private lazy val PiiRedactionSql: String = {
    val T = graft.operators.TextAnalysis
    val ptxt =
      "text" +
        " || CASE WHEN doc_id % 3 <> 2 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@' || source || '.example.com' ELSE '' END" +
        " || CASE WHEN doc_id % 6 = 0 THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@backup.example.org' ELSE '' END" +
        " || CASE WHEN doc_id % 2 = 0 THEN ' from 10.' || CAST(doc_id % 240 AS VARCHAR) || '.' || CAST((doc_id * 7) % 240 AS VARCHAR) || '.12' ELSE '' END" +
        " || CASE WHEN doc_id % 4 = 0 THEN ' and 10.9.' || CAST(doc_id % 250 AS VARCHAR) || '.7' ELSE '' END" +
        " || CASE WHEN doc_id % 5 < 2 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    s"""WITH p AS (
       |  SELECT doc_id, $ptxt AS ptxt FROM documents),
       |r AS (
       |  SELECT doc_id, ptxt,
       |         regexp_replace(regexp_replace(regexp_replace(ptxt,
       |           '${T.EmailRe}', '<EMAIL>', 'g'),
       |           '${T.Ipv4Re}', '<IP>', 'g'),
       |           '${T.PhoneRe}', '<PHONE>', 'g') AS red
       |  FROM p)
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(ptxt, '${T.EmailRe}')) AS BIGINT) AS n_emails,
       |       CAST(len(regexp_extract_all(ptxt, '${T.Ipv4Re}')) AS BIGINT) AS n_ips,
       |       CAST(len(regexp_extract_all(ptxt, '${T.PhoneRe}')) AS BIGINT) AS n_phones,
       |       CAST(length(red) AS BIGINT) AS n_red_chars,
       |       md5(red) AS red_hash
       |FROM r
       |ORDER BY doc_id""".stripMargin
  }

  /** Chunk-purge mirror (q111) — non-overlapping ChunkWidth windows
    * (stride = width, bound = len − 1: TextAnalysis.chunkPurge's overlap-0
    * geometry), q107's packed-MIN keeper rule, and the per-doc in-order
    * reassembly of the survivors.
    */
  /** Shared tokenize → non-overlapping-window → (txt, nt, h) CTE prefix
    * of the two purge mirrors (review finding: was duplicated verbatim).
    * Geometry mirrors TextAnalysis.purgeCore: stride = width, bound =
    * len − 1, empty docs produce no windows.
    */
  private lazy val PurgeChunkCtes: String = {
    val W = ChunkWidth
    val slice = s"list_slice(toks, start + 1, start + $W)"
    s"""toksarr AS (
       |  SELECT doc_id,
       |         list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' '),
       |                     t -> t <> '') AS toks
       |  FROM documents),
       |pstarts AS (
       |  SELECT doc_id, toks,
       |         unnest(range(0, greatest(len(toks) - 1, 0) + 1, $W)) AS start
       |  FROM toksarr WHERE len(toks) > 0),
       |pchunks AS (
       |  SELECT doc_id, CAST(start // $W AS BIGINT) AS chunk_id,
       |         array_to_string($slice, ' ') AS txt,
       |         len($slice) AS nt,
       |         md5(array_to_string($slice, ' ')) AS h
       |  FROM pstarts)""".stripMargin
  }

  private lazy val ChunkPurgeSql: String = {
    val B = graft.operators.TextAnalysis.ChunkPackBase
    s"""WITH $PurgeChunkCtes,
       |dups AS (
       |  SELECT h, MIN(doc_id * $B + chunk_id) AS keeper_key
       |  FROM pchunks GROUP BY h HAVING COUNT(*) > 1),
       |flagged AS (
       |  SELECT c.doc_id, c.chunk_id, c.txt, c.nt,
       |         (d.h IS NULL OR c.doc_id * $B + c.chunk_id = d.keeper_key) AS kept
       |  FROM pchunks c LEFT JOIN dups d ON c.h = d.h),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_chunks,
       |         SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS n_kept,
       |         SUM(CASE WHEN kept THEN nt ELSE 0 END) AS n_kept_tokens,
       |         md5(COALESCE(string_agg(CASE WHEN kept THEN txt END, ' ' ORDER BY chunk_id), '')) AS retained_hash
       |  FROM flagged GROUP BY doc_id)
       |SELECT d.doc_id,
       |       CAST(COALESCE(a.n_chunks, 0) AS BIGINT) AS n_chunks,
       |       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
       |       CAST(COALESCE(a.n_chunks, 0) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped,
       |       CAST(COALESCE(a.n_kept_tokens, 0) AS BIGINT) AS n_kept_tokens,
       |       COALESCE(a.retained_hash, md5('')) AS retained_hash
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Cross-corpus purge mirror (q113) — q111's window geometry over the
    * parity split (odd = incoming dump, even = corpus): corpus-known
    * hashes drop every incoming occurrence; corpus-new hashes follow the
    * within-dump keeper rule.
    */
  private lazy val CrossCorpusPurgeSql: String = {
    val B = graft.operators.TextAnalysis.ChunkPackBase
    s"""WITH $PurgeChunkCtes,
       |inc AS (SELECT * FROM pchunks WHERE doc_id % 2 = 1),
       |corp AS (SELECT DISTINCT h FROM pchunks WHERE doc_id % 2 = 0),
       |wdup AS (
       |  SELECT h, MIN(doc_id * $B + chunk_id) AS keeper_key
       |  FROM inc GROUP BY h HAVING COUNT(*) > 1),
       |flagged AS (
       |  SELECT i.doc_id, i.chunk_id, i.txt, i.nt,
       |         (c.h IS NOT NULL) AS in_corpus,
       |         (w.h IS NOT NULL AND i.doc_id * $B + i.chunk_id <> w.keeper_key) AS within_drop
       |  FROM inc i
       |  LEFT JOIN corp c ON i.h = c.h
       |  LEFT JOIN wdup w ON i.h = w.h),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_chunks,
       |         SUM(CASE WHEN NOT in_corpus AND NOT within_drop THEN 1 ELSE 0 END) AS n_kept,
       |         SUM(CASE WHEN in_corpus THEN 1 ELSE 0 END) AS n_dropped_corpus,
       |         SUM(CASE WHEN NOT in_corpus AND within_drop THEN 1 ELSE 0 END) AS n_dropped_within,
       |         SUM(CASE WHEN NOT in_corpus AND NOT within_drop THEN nt ELSE 0 END) AS n_kept_tokens,
       |         md5(COALESCE(string_agg(CASE WHEN NOT in_corpus AND NOT within_drop THEN txt END, ' ' ORDER BY chunk_id), '')) AS retained_hash
       |  FROM flagged GROUP BY doc_id)
       |SELECT d.doc_id,
       |       CAST(COALESCE(a.n_chunks, 0) AS BIGINT) AS n_chunks,
       |       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
       |       CAST(COALESCE(a.n_dropped_corpus, 0) AS BIGINT) AS n_dropped_corpus,
       |       CAST(COALESCE(a.n_dropped_within, 0) AS BIGINT) AS n_dropped_within,
       |       CAST(COALESCE(a.n_kept_tokens, 0) AS BIGINT) AS n_kept_tokens,
       |       COALESCE(a.retained_hash, md5('')) AS retained_hash
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |WHERE d.doc_id % 2 = 1
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Quality-keeper mirror (q112) — q52's cluster labels joined to
    * n_chars, keeper = packed MAX(n_chars·B − doc_id) (max length, then
    * min doc_id), n_chars recovered by exact ceil-division.
    */
  private lazy val ClusterKeepersSql: String = {
    val B = graft.operators.Dedup.KeeperPack
    s"""$DupClustersCtes,
       |comp AS (SELECT a AS doc_id, MIN(b) AS component_id FROM reach GROUP BY a),
       |k AS (
       |  SELECT component_id, COUNT(*) AS n_members,
       |         MAX(d.n_chars * $B - d.doc_id) AS pk
       |  FROM comp JOIN documents d USING (doc_id)
       |  GROUP BY component_id)
       |SELECT component_id, CAST(n_members AS BIGINT) AS n_members,
       |       CAST(((pk + $B - 1) // $B) * $B - pk AS BIGINT) AS keeper_doc_id,
       |       CAST((pk + $B - 1) // $B AS BIGINT) AS keeper_n_chars
       |FROM k
       |ORDER BY component_id""".stripMargin
  }

  /** Persisted chunk-index mirror (q114) — the Spark side summarizes the
    * STORED index parquet Pipeline.updateChunkIndex maintains (bootstrap
    * from the even parity side, then incremental union of the odd side);
    * this mirror recomputes the same leading-nibble bucket summary
    * INDEPENDENTLY from the documents table via the shared window
    * geometry, so a green hash proves the on-disk artifact is exactly
    * the corpus's distinct chunk-hash set. The checksum is the
    * order-independent sum of each hash's first-8-nibble value — the
    * hash string is ALREADY hex, so the strpos chain reads `h` directly
    * (no md5() wrapper, unlike hexValSql).
    */
  // 8 nibbles = 32-bit values: a bucket needs 2^30+ rows before the
  // BIGINT sum can overflow (13 nibbles would overflow at ~2^11 rows —
  // and DuckDB raises on a HUGEINT→BIGINT overflow while Spark wraps,
  // so the two sides would diverge loudly)
  private def idxNibbleSumSql(start: Int): String =
    (0 until 8).map { j =>
      s"(strpos('0123456789abcdef', substring(h, ${start + j}, 1)) - 1) * ${1L << (4 * (7 - j))}"
    }.mkString("(", " + ", ")")

  private lazy val ChunkIndexBucketsSql: String =
    s"""WITH $PurgeChunkCtes,
       |hashes AS (SELECT DISTINCT h FROM pchunks)
       |SELECT substring(h, 1, 1) AS bucket,
       |       CAST(COUNT(*) AS BIGINT) AS n_hashes,
       |       MIN(h) AS min_hash,
       |       MAX(h) AS max_hash,
       |       CAST(SUM(${idxNibbleSumSql(1)}) AS BIGINT) AS bucket_sum
       |FROM hashes
       |GROUP BY bucket
       |ORDER BY bucket""".stripMargin

  /** Bucketed stored-index mirror (q116) — identical independent
    * recompute to q114's (the bucketed table must hold the SAME distinct
    * chunk-hash set, whatever the physical layout or append history),
    * plus the last-8-nibble digest so the two queries' outputs can never
    * cross-pass on a copy-paste slip.
    */
  private lazy val ChunkIndexBucketedSummarySql: String =
    s"""WITH $PurgeChunkCtes,
       |hashes AS (SELECT DISTINCT h FROM pchunks)
       |SELECT substring(h, 1, 1) AS bucket,
       |       CAST(COUNT(*) AS BIGINT) AS n_hashes,
       |       MIN(h) AS min_hash,
       |       MAX(h) AS max_hash,
       |       CAST(SUM(${idxNibbleSumSql(1)}) AS BIGINT) AS bucket_sum,
       |       CAST(SUM(${idxNibbleSumSql(25)}) AS BIGINT) AS bucket_sum_lo
       |FROM hashes
       |GROUP BY bucket
       |ORDER BY bucket""".stripMargin

  /** ANN recall-calibration mirror (q115) — the exact (q28), IVF (q29),
    * multi-probe (q55), and PQ (q105) top-K sets rebuilt from their
    * established CTE chains (the PQ chain reads `n` instead of its own
    * `e` — same emb column), intersected per (method, query point), and
    * meaned per method as one integer division (SUM(hits)/(count·K)) —
    * never an avg() over per-row doubles, whose summation order the two
    * engines need not share.
    */
  private lazy val AnnRecallSql: String = {
    val S = graft.operators.Similarity
    val K = S.K
    val M = S.PqSubspaces; val sub = S.PqSubDim; val ks = S.PqCodes
    val sqd = s"list_reduce(list_transform(range(1, ${sub + 1}), " +
      "i -> (sub[i]-cent[i])*(sub[i]-cent[i])), (x, y) -> x + y)"
    def topKCte(name: String, pairs: String, ord: String) =
      s"""$name AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY $ord, neighbor_id) AS rnk
         |    FROM $pairs) WHERE rnk <= $K)""".stripMargin
    s"""WITH $EmbCte,
       |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm, bucket FROM n WHERE vec_id < ${S.QuerySetSize}),
       |xp AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |         ${dotExpr("q_emb", "emb")} / (q_nrm * nrm) AS c
       |  FROM q, n WHERE vec_id <> query_id),
       |${topKCte("xk", "xp", "c DESC")},
       |ip AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |         ${dotExpr("q_emb", "emb")} / (q_nrm * nrm) AS c
       |  FROM q JOIN n USING (bucket) WHERE vec_id <> query_id),
       |${topKCte("ik", "ip", "c DESC")},
       |mq AS (
       |  SELECT query_id, q_emb, q_nrm, xor(bucket, f.v) AS bucket
       |  FROM q, ${probeFlipsSql(LshBits)} f(v)),
       |mp AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |         ${dotExpr("q_emb", "emb")} / (q_nrm * nrm) AS c
       |  FROM mq JOIN n USING (bucket) WHERE vec_id <> query_id),
       |${topKCte("mk", "mp", "c DESC")},
       |ms AS (SELECT unnest(range(0, $M)) AS m),
       |cb AS (SELECT vec_id AS code, m, emb[(m*$sub+1):(m*$sub+$sub)] AS cent
       |       FROM n CROSS JOIN ms WHERE vec_id < $ks),
       |sv AS (SELECT vec_id, m, emb[(m*$sub+1):(m*$sub+$sub)] AS sub
       |       FROM n CROSS JOIN ms),
       |cd AS (SELECT vec_id, m, code, $sqd AS d2
       |       FROM sv JOIN cb USING (m)),
       |codes AS (SELECT vec_id, list(code ORDER BY m) AS codes
       |          FROM (SELECT vec_id, m, code,
       |                       ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                                          ORDER BY d2, code) AS rn
       |                FROM cd)
       |          WHERE rn = 1 GROUP BY vec_id),
       |tarr AS (SELECT vec_id AS query_id, list(d2 ORDER BY m * $ks + code) AS tab
       |         FROM cd WHERE vec_id < ${S.QuerySetSize} GROUP BY vec_id),
       |sc AS (SELECT t.query_id, c.vec_id AS neighbor_id,
       |         ROUND(list_reduce(list_transform(range(0, $M),
       |                  m -> tab[m * $ks + codes[m + 1] + 1]),
       |                (x, y) -> x + y), 6) AS pq_dist2
       |       FROM codes c CROSS JOIN tarr t WHERE c.vec_id <> t.query_id),
       |${topKCte("pk", "sc", "pq_dist2")},
       |approx AS (
       |  SELECT 'ivf' AS method, query_id, neighbor_id FROM ik
       |  UNION ALL SELECT 'multiprobe', query_id, neighbor_id FROM mk
       |  UNION ALL SELECT 'pq', query_id, neighbor_id FROM pk),
       |grid AS (SELECT m.method, q.query_id
       |         FROM (VALUES ('ivf'), ('multiprobe'), ('pq')) m(method), q),
       |ret AS (SELECT method, query_id, COUNT(*) AS n
       |        FROM approx GROUP BY method, query_id),
       |hit AS (SELECT method, a.query_id, COUNT(*) AS n
       |        FROM approx a JOIN xk x
       |          ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
       |        GROUP BY method, a.query_id),
       |per AS (
       |  SELECT g.method, g.query_id,
       |         CAST(COALESCE(r.n, 0) AS BIGINT) AS n_returned,
       |         CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits
       |  FROM grid g
       |  LEFT JOIN ret r ON r.method = g.method AND r.query_id = g.query_id
       |  LEFT JOIN hit h ON h.method = g.method AND h.query_id = g.query_id)
       |SELECT method, query_id, n_returned, n_hits,
       |       ROUND(CAST(n_hits AS DOUBLE) / $K, 6) AS recall
       |FROM per
       |UNION ALL
       |SELECT method, CAST(-1 AS BIGINT) AS query_id,
       |       CAST(SUM(n_returned) AS BIGINT) AS n_returned,
       |       CAST(SUM(n_hits) AS BIGINT) AS n_hits,
       |       ROUND(CAST(SUM(n_hits) AS DOUBLE) / (COUNT(*) * $K), 6) AS recall
       |FROM per GROUP BY method
       |ORDER BY method, query_id""".stripMargin
  }

  /** q117 — the operating-point sweep: one scored pair relation with a
    * SweepBitsMax-wide sign bucket, then all (bits, radius) configs
    * evaluated by masked-XOR popcount (identical candidate set to the
    * flip-join probe, per Similarity.annSweep's scaladoc). The VALUES
    * config list is generated from Similarity.SweepConfigs — the same
    * triples the Spark side reads — so the two engines can never
    * disagree on the grid or the n_cells arithmetic.
    */
  private lazy val AnnSweepSql: String = {
    val S = graft.operators.Similarity
    val cfgRows = S.SweepConfigs
      .map { case (b, r, cells) => s"($b, $r, $cells)" }.mkString(", ")
    val denom = S.QuerySetSize * S.K
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |n AS (
       |  SELECT vec_id, emb,
       |         ${signBucketSql(S.SweepBitsMax)} AS bucket,
       |         sqrt(list_reduce(list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i]),
       |                          (x, y) -> x + y)) AS nrm
       |  FROM e),
       |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm, bucket AS q_bucket
       |      FROM n WHERE vec_id < ${S.QuerySetSize}),
       |p AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |         ${dotExpr("q_emb", "emb")} / (q_nrm * nrm) AS c,
       |         xor(q_bucket, bucket) AS xb
       |  FROM q, n WHERE vec_id <> query_id),
       |xk AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rnk
       |    FROM p) WHERE rnk <= ${S.K}),
       |cfg(bits, probe_hamming, n_cells) AS (VALUES $cfgRows),
       |cand AS (
       |  SELECT bits, probe_hamming, query_id, neighbor_id, c
       |  FROM p, cfg
       |  WHERE bit_count(xb & ((1 << bits) - 1)) <= probe_hamming),
       |hits AS (
       |  SELECT bits, probe_hamming, COUNT(*) AS n
       |  FROM (SELECT bits, probe_hamming, query_id, neighbor_id,
       |               ROW_NUMBER() OVER (PARTITION BY bits, probe_hamming, query_id
       |                                  ORDER BY c DESC, neighbor_id) AS rnk
       |        FROM cand) rk
       |  JOIN xk USING (query_id, neighbor_id)
       |  WHERE rnk <= ${S.K}
       |  GROUP BY bits, probe_hamming),
       |nc AS (SELECT bits, probe_hamming, COUNT(*) AS n
       |       FROM cand GROUP BY bits, probe_hamming)
       |SELECT CAST(cfg.bits AS BIGINT) AS bits,
       |       CAST(cfg.probe_hamming AS BIGINT) AS probe_hamming,
       |       CAST(cfg.n_cells AS BIGINT) AS n_cells,
       |       CAST(COALESCE(nc.n, 0) AS BIGINT) AS n_cand,
       |       CAST(COALESCE(hits.n, 0) AS BIGINT) AS n_hits,
       |       ROUND(CAST(COALESCE(hits.n, 0) AS DOUBLE) / $denom, 6) AS recall
       |FROM cfg
       |LEFT JOIN nc ON nc.bits = cfg.bits AND nc.probe_hamming = cfg.probe_hamming
       |LEFT JOIN hits ON hits.bits = cfg.bits AND hits.probe_hamming = cfg.probe_hamming
       |ORDER BY bits, probe_hamming""".stripMargin
  }

  /** q118 — the auto-pick over the q117 sweep table (inlined as a
    * subquery — DuckDB allows WITH inside a derived table): per recall
    * target, rank qualifying configs by (n_cand, bits, probe_hamming)
    * and keep rank 1. Targets come from Similarity.PickTargets, the
    * same list the Spark side reads.
    */
  private lazy val AnnAutoPickSql: String = {
    val targets = graft.operators.Similarity.PickTargets
      .map(t => s"($t)").mkString(", ")
    s"""WITH sweep AS ($AnnSweepSql),
       |tg(recall_target) AS (VALUES $targets),
       |qual AS (
       |  SELECT tg.recall_target, s.bits, s.probe_hamming, s.n_cells,
       |         s.n_cand, s.recall,
       |         ROW_NUMBER() OVER (PARTITION BY tg.recall_target
       |                            ORDER BY s.n_cand, s.bits, s.probe_hamming) AS rn
       |  FROM tg JOIN sweep s ON s.recall >= tg.recall_target)
       |SELECT CAST(recall_target AS DOUBLE) AS recall_target,
       |       bits, probe_hamming, n_cells, n_cand, recall
       |FROM qual WHERE rn = 1
       |ORDER BY recall_target""".stripMargin
  }

  /** Big-endian integer value of md5 hex nibbles [start, start+nibbles)
    * of `sqlExpr` — the DuckDB mirror of Sketches.md5Val's conv() form
    * (DuckDB has no conv(); the strpos-nibble chain is the established
    * idiom, see simhashSumsSql).
    */
  private def hexValSql(sqlExpr: String, start: Int, nibbles: Int): String =
    (0 until nibbles).map { j =>
      s"(strpos('0123456789abcdef', substring(md5($sqlExpr), ${start + j}, 1)) - 1) * ${1L << (4 * (nibbles - 1 - j))}"
    }.mkString("(", " + ", ")")

  /** The k Bloom bit positions of `x`, comma-joined — mirrors
    * Sketches.bloomRawPositionOf folded to the union filter's BloomBits.
    */
  private def bloomPosSql(x: String): String =
    (0 until graft.operators.Sketches.BloomK)
      .map(i => s"${hexValSql(x, 1 + 6 * i, 6)} % ${graft.operators.Sketches.BloomBits}")
      .mkString(", ")

  /** The k RAW 24-bit position values (no mod) — mirrors
    * Sketches.bloomRawPositionOf; the per-benchmark queries fold them by
    * each benchmark's own mbits.
    */
  private def bloomRawPosSql(x: String): String =
    (0 until graft.operators.Sketches.BloomK)
      .map(i => hexValSql(x, 1 + 6 * i, 6))
      .mkString(", ")

  /** The sizing ladder as SQL arms over `cnt` — the exact integer rungs
    * of Sketches.sizedBloomBits, so the two engines can never round
    * differently (no floating log2 anywhere).
    */
  private def bloomLadderSql(cnt: String): String = {
    val s = graft.operators.Sketches
    val rungs = Iterator.iterate(s.BloomMinBits)(_ << 1)
      .takeWhile(_ < s.BloomMaxBits).toSeq
    "CASE " + rungs.map(m =>
      s"WHEN ${s.BloomSizeFactor} * $cnt <= $m THEN $m").mkString(" ") +
      s" ELSE ${s.BloomMaxBits} END"
  }

  /** The shared CTE tail of the multi-benchmark Bloom queries
    * (q125/q126/q128): train/eval shingle relations, the per-benchmark
    * sizing (m), per-benchmark positions at each benchmark's OWN rung,
    * train positions folded per benchmark, and the all-k-hit flags. The
    * duplicate-position equivalence argument is q102's: trposb keeps the
    * k-row multiplicity per (doc, shingle, benchmark), evpos is distinct,
    * so COUNT(*) = k iff every position (with multiplicity) hit.
    */
  private lazy val MultiBenchCtes: String =
    s"""tr AS (SELECT s.doc_id, s.shingle FROM shingles s
       |       JOIN splits sp ON s.doc_id = sp.doc_id WHERE sp.split = 'train'),
       |ev AS (SELECT DISTINCT d.source AS benchmark, s.shingle
       |       FROM shingles s
       |       JOIN splits sp ON s.doc_id = sp.doc_id
       |       JOIN documents d ON s.doc_id = d.doc_id
       |       WHERE sp.split <> 'train'),
       |m AS (SELECT benchmark, ${bloomLadderSql("cnt")} AS mbits
       |      FROM (SELECT benchmark, COUNT(DISTINCT shingle) AS cnt
       |            FROM ev GROUP BY benchmark)),
       |evpos AS (SELECT DISTINCT benchmark, mbits, pos % mbits AS pos
       |          FROM (SELECT e.benchmark, m.mbits,
       |                       unnest([${bloomRawPosSql("e.shingle")}]) AS pos
       |                FROM ev e JOIN m USING (benchmark))),
       |trpos AS (SELECT doc_id, shingle,
       |                 unnest([${bloomRawPosSql("shingle")}]) AS pos
       |          FROM tr),
       |trposb AS (SELECT t.doc_id, t.shingle, m.benchmark,
       |                  t.pos % m.mbits AS pos
       |           FROM trpos t CROSS JOIN m),
       |hit AS (SELECT tb.doc_id, tb.shingle, tb.benchmark
       |        FROM trposb tb
       |        JOIN evpos e
       |          ON e.benchmark = tb.benchmark AND e.pos = tb.pos
       |        GROUP BY tb.doc_id, tb.shingle, tb.benchmark
       |        HAVING COUNT(*) = ${graft.operators.Sketches.BloomK}),
       |fl AS (SELECT doc_id, benchmark, COUNT(*) AS n_flagged
       |       FROM hit GROUP BY doc_id, benchmark),
       |base AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id),
       |bm AS (SELECT DISTINCT benchmark FROM ev)""".stripMargin

  /** MinHash calibration (q78): band-collision candidates, signature
    * agreement count vs exact Jaccard — mirrors Dedup.minhashCalibration.
    */
  private lazy val MinhashCalibrationSql: String = {
    val agree = (0 until Dedup_Hashes)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $ShinglesCte, $SigsCte,
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |ag AS (
       |  SELECT doc_a, doc_b, CAST($agree AS BIGINT) AS n_agree
       |  FROM cands
       |  JOIN sigs sa ON sa.doc_id = cands.doc_a
       |  JOIN sigs sb ON sb.doc_id = cands.doc_b),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
       |inter AS (
       |  SELECT doc_a, doc_b, n_agree, COUNT(*) AS inter
       |  FROM ag
       |  JOIN shingles ja ON ja.doc_id = ag.doc_a
       |  JOIN shingles jb ON jb.doc_id = ag.doc_b AND jb.shingle = ja.shingle
       |  GROUP BY doc_a, doc_b, n_agree)
       |SELECT doc_a, doc_b, n_agree, inter, (za.sz + zb.sz - inter) AS uni,
       |       ROUND(CAST(n_agree AS DOUBLE) / ${Dedup_Hashes}
       |           - CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter), 6) AS est_err
       |FROM inter
       |JOIN sizes za ON za.doc_id = doc_a
       |JOIN sizes zb ON zb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Tokenizer application (q79): per-doc stream length before/after the
    * same 3 BPE rounds as q73 — reuses the round CTE chain and counts t3.
    */
  private lazy val BpeCompressionSql: String = {
    val rounds = 3 // TextAnalysis.bpeCompression default
    s"""WITH $ArrCte,
       |t0 AS (
       |  SELECT doc_id, unnest(range(1, len(arr) + 1)) AS idx, unnest(arr) AS tok
       |  FROM base),
       |${(1 to rounds).map(bpeRoundCtes).mkString(",\n")},
       |after AS (SELECT doc_id, COUNT(*) AS n_after FROM t$rounds GROUP BY doc_id)
       |SELECT b.doc_id, CAST(len(arr) AS BIGINT) AS n_before,
       |       CAST(COALESCE(n_after, 0) AS BIGINT) AS n_after,
       |       CASE WHEN len(arr) > 0
       |            THEN ROUND(CAST(COALESCE(n_after, 0) AS DOUBLE) / len(arr), 6)
       |            ELSE 1.0 END AS ratio
       |FROM base b LEFT JOIN after USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** One BPE round in SQL: count adjacent non-self pairs over t{r-1},
    * pick the top one (count desc, then lexicographic), rewrite matches —
    * a match-start row becomes the merged token, its successor is
    * dropped; non-self pairs cannot overlap, so the rewrite is a pure
    * window expression. Mirrors TextAnalysis.bpeMerges round-for-round.
    */
  private def bpeRoundCtes(r: Int): String = {
    val prev = if (r == 1) "t0" else s"t${r - 1}"
    s"""c$r AS (
       |  SELECT a, b, COUNT(*) AS n FROM (
       |    SELECT tok AS a, lead(tok) OVER (PARTITION BY doc_id ORDER BY idx) AS b
       |    FROM $prev)
       |  WHERE b IS NOT NULL AND a <> b GROUP BY a, b),
       |p$r AS (SELECT a, b, n FROM c$r ORDER BY n DESC, a, b LIMIT 1),
       |t$r AS (
       |  SELECT doc_id, idx,
       |         CASE WHEN is_start THEN a || '_' || b ELSE tok END AS tok
       |  FROM (
       |    SELECT doc_id, idx, tok, a, b, is_start,
       |           COALESCE(lag(is_start) OVER (PARTITION BY doc_id ORDER BY idx),
       |                    false) AS prev_start
       |    FROM (
       |      SELECT t.doc_id, t.idx, t.tok, p.a, p.b,
       |             COALESCE(t.tok = p.a
       |               AND lead(t.tok) OVER (PARTITION BY t.doc_id ORDER BY t.idx) = p.b,
       |               false) AS is_start
       |      FROM $prev t, p$r p))
       |  WHERE NOT prev_start)""".stripMargin
  }

  private lazy val BpeMergesSql: String = {
    val rounds = 3 // TextAnalysis.bpeMerges default
    val sel = (1 to rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, a AS tok_a, b AS tok_b, " +
        s"CAST(n AS BIGINT) AS n_ab, a || '_' || b AS merged FROM p$r")
      .mkString("\nUNION ALL\n")
    s"""WITH $ArrCte,
       |t0 AS (
       |  SELECT doc_id, unnest(range(1, len(arr) + 1)) AS idx, unnest(arr) AS tok
       |  FROM base),
       |${(1 to rounds).map(bpeRoundCtes).mkString(",\n")}
       |$sel
       |ORDER BY round""".stripMargin
  }

  // lazy: referenced from `all` above (forward reference in init order)
  private lazy val HashSplitSql: String =
    """SELECT doc_id,
      |       CAST((strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1) * 16
      |          + (strpos('0123456789abcdef', substring(md5(text), 2, 1)) - 1) AS BIGINT) AS bucket,
      |       CASE WHEN (strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1) * 16
      |               + (strpos('0123456789abcdef', substring(md5(text), 2, 1)) - 1) < 204 THEN 'train'
      |            WHEN (strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1) * 16
      |               + (strpos('0123456789abcdef', substring(md5(text), 2, 1)) - 1) < 230 THEN 'val'
      |            ELSE 'test' END AS split
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Split assignment CTE mirroring TextAnalysis.splitRaw (first two md5
    * nibbles of the content → 80/10/10 buckets).
    */
  private lazy val SplitCte: String =
    """splits AS (
      |  SELECT doc_id,
      |         CASE WHEN b < 204 THEN 'train'
      |              WHEN b < 230 THEN 'val'
      |              ELSE 'test' END AS split
      |  FROM (SELECT doc_id,
      |               (strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1) * 16
      |             + (strpos('0123456789abcdef', substring(md5(text), 2, 1)) - 1) AS b
      |        FROM documents))""".stripMargin

  /** Tokenized-array CTE (raw tokens, pre-membership-filter). */
  private lazy val ArrCte: String =
    """base AS (
      |  SELECT doc_id, text,
      |         list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' '),
      |                     x -> x <> '') AS arr
      |  FROM documents)""".stripMargin

  /** Full WITH head producing `scored` (doc_id, n_bigrams, score) —
    * mirrors TextAnalysis.dsirWeights; shared by q82 (the weight report)
    * and q109 (the Gumbel-top-k selection over the same scores).
    */
  private lazy val DsirScoreCtes: String =
    s"""WITH $ArrCte,
       |bg AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, greatest(len(arr), 1)),
       |                i -> array_to_string(arr[i:i+1], ' '))) AS b
       |  FROM base),
       |db AS (
       |  SELECT doc_id,
       |         CAST((strpos('0123456789abcdef', substring(md5(b), 1, 1)) - 1) * 16
       |            + (strpos('0123456789abcdef', substring(md5(b), 2, 1)) - 1) AS BIGINT) AS bucket,
       |         COUNT(*) AS n
       |  FROM bg GROUP BY 1, 2),
       |raw AS (SELECT bucket, SUM(n) AS raw_n FROM db GROUP BY bucket),
       |tgt AS (SELECT bucket, SUM(n) AS tgt_n FROM db
       |        JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY bucket),
       |tr AS (SELECT SUM(raw_n) AS rt FROM raw),
       |tt AS (SELECT SUM(tgt_n) AS tt FROM tgt),
       |wt AS (
       |  SELECT bucket,
       |         ROUND(ln(CAST(COALESCE(tgt_n, 0) + 1 AS DOUBLE) / CAST(tt + 256 AS DOUBLE))
       |             - ln(CAST(raw_n + 1 AS DOUBLE) / CAST(rt + 256 AS DOUBLE)), 6) AS w
       |  FROM raw LEFT JOIN tgt USING (bucket), tr, tt),
       |sc AS (
       |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
       |         ROUND(CAST(SUM(n * CAST(ROUND(w * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0, 6) AS score
       |  FROM db JOIN wt USING (bucket) GROUP BY doc_id),
       |scored AS (
       |  SELECT d.doc_id AS doc_id,
       |         COALESCE(n_bigrams, 0) AS n_bigrams,
       |         COALESCE(score, 0.0) AS score
       |  FROM documents d LEFT JOIN sc USING (doc_id))""".stripMargin

  /** Full WITH head + per-document verdict CTE shared by q81 (sorted
    * edge) and q86 (per-source aggregate); mirrors
    * TextAnalysis.trainVerdictRaw.
    */
  private lazy val TrainVerdictCtes: String =
    s"""WITH RECURSIVE $SplitCte, $ArrCte, $ShinglesCte, $SigsCte,
       |$DupClustersBody,
       |comp AS (SELECT a AS doc_id, MIN(b) AS component_id FROM reach GROUP BY a),
       |$GopherFlagsCtes,
       |contam AS (
       |  SELECT DISTINCT t.doc_id
       |  FROM shingles t
       |  JOIN splits st ON t.doc_id = st.doc_id AND st.split = 'train'
       |  JOIN shingles e2 ON t.shingle = e2.shingle
       |  JOIN splits se ON e2.doc_id = se.doc_id AND se.split <> 'train'),
       |verdict AS (
       |  SELECT sp.doc_id AS doc_id, sp.split AS split,
       |         (COALESCE(comp.component_id, sp.doc_id) = sp.doc_id) AS dedup_kept,
       |         f.wc_ok * f.mwl_ok * f.stop_ok * f.alpha_ok * f.rep_ok AS quality_ok,
       |         CAST(CASE WHEN ct.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS contaminated,
       |         CAST(CASE WHEN sp.split = 'train'
       |                    AND COALESCE(comp.component_id, sp.doc_id) = sp.doc_id
       |                    AND f.wc_ok * f.mwl_ok * f.stop_ok * f.alpha_ok * f.rep_ok = 1
       |                    AND ct.doc_id IS NULL
       |                   THEN 1 ELSE 0 END AS BIGINT) AS train_ok
       |  FROM splits sp
       |  LEFT JOIN comp ON sp.doc_id = comp.doc_id
       |  JOIN f ON sp.doc_id = f.doc_id
       |  LEFT JOIN contam ct ON sp.doc_id = ct.doc_id)""".stripMargin

  /** Nearest-seed-centroid assignment CTEs (emb0 → asg) shared by q83 and
    * q85; mirrors Similarity.kmeansAssignRaw (seeds vec_id < 8, expanded
    * clamped squared L2, ties on cid).
    */
  private lazy val KmeansAsgCtes: String =
    s"""emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, emb AS cent FROM emb0 WHERE vec_id < 8),
       |sc AS (
       |  SELECT e.vec_id, c0.cid, e.emb,
       |         GREATEST(${dotExpr("emb", "emb")} - 2 * ${dotExpr("emb", "cent")}
       |              + ${dotExpr("cent", "cent")}, 0.0) AS d2
       |  FROM emb0 e CROSS JOIN c0),
       |asg AS (
       |  SELECT vec_id, cid, emb, d2 FROM (
       |    SELECT vec_id, cid, emb, d2,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS r
       |    FROM sc) WHERE r = 1)""".stripMargin

  /** Gopher-rule flag CTEs (m → f) over `base`, shared by q75 and the q81
    * composition; mirrors TextAnalysis.gopherRaw.
    */
  private lazy val GopherFlagsCtes: String =
    s"""m AS (
       |  SELECT doc_id,
       |         CAST(len(arr) AS BIGINT) AS n_tokens,
       |         CAST(CASE WHEN len(arr) = 0 THEN 0
       |                   ELSE list_reduce(list_transform(arr, x -> length(x)), (a, b) -> a + b)
       |              END AS BIGINT) AS sum_len,
       |         CAST(len(list_filter(arr, x -> x IN $Stop)) AS BIGINT) AS n_stop,
       |         CAST(len(list_filter(arr, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
       |         list_transform(range(1, greatest(len(arr), 1)),
       |                        i -> array_to_string(arr[i:i+1], ' ')) AS bg
       |  FROM base),
       |f AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(CASE WHEN n_tokens >= 20 AND n_tokens <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS wc_ok,
       |         CAST(CASE WHEN 3 * n_tokens <= sum_len AND sum_len <= 10 * n_tokens THEN 1 ELSE 0 END AS BIGINT) AS mwl_ok,
       |         CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS stop_ok,
       |         CAST(CASE WHEN 5 * n_alpha >= 4 * n_tokens THEN 1 ELSE 0 END AS BIGINT) AS alpha_ok,
       |         CAST(CASE WHEN 10 * (len(bg) - len(list_distinct(bg))) <= len(bg) THEN 1 ELSE 0 END AS BIGINT) AS rep_ok
       |  FROM m)""".stripMargin

}
