package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar text functions of the reference pipeline, as pure Catalyst
  * column expressions (no UDFs). `cleanText`, `tokenize`, `countSubstr`,
  * `pagePath` and `parentPath` compile inside whole-stage codegen.
  * `shingleArray` uses `transform`, whose ArrayTransform is a
  * CodegenFallback in Spark 4.1 (as are ArraySort and ArrayFilter): the
  * stage still compiles, but that expression is evaluated interpreted,
  * row by row.
  *
  * Reference semantics (jbohanon/capstone-etl):
  *  - clean:       /root/reference/main.go:285–297 — keep only [a-zA-Z0-9 ]
  *  - tokenize:    /root/reference/main.go:246–247 — lower + split on
  *                 whitespace runs, no empty tokens (strings.Fields)
  *  - countSubstr: /root/reference/main.go:192 — substring occurrence count
  *  - pagePath:    /root/reference/main.go:194 — URL → hierarchical path
  *  - parentPath:  /root/reference/main.go:195 — drop last path segment,
  *                 "" for roots
  */
object TextFns {

  /** Keep only ASCII alphanumerics and spaces (reference main.go:285–297). */
  def cleanText(c: Column): Column =
    regexp_replace(c, "[^a-zA-Z0-9 ]", "")

  /** Lowercase + split on spaces, dropping empty tokens. Equivalent to Go
    * strings.Fields(strings.ToLower(s)) on single-space text; splitting on
    * a literal space then removing empties also matches runs of spaces,
    * and mirrors the DuckDB oracle (string_split + filter) exactly.
    * `array_remove` is codegen'd, unlike a `filter` lambda.
    */
  def tokenize(c: Column): Column =
    array_remove(split(lower(cleanText(c)), " "), "")

  /** Number of (non-overlapping) occurrences of a literal substring
    * (reference main.go:192: strings.Count(body_html, "href=\"h")).
    */
  def countSubstr(c: Column, needle: String): Column = {
    val quoted = java.util.regex.Pattern.quote(needle)
    size(split(c, quoted, -1)) - lit(1)
  }

  /** Synthetic hierarchical page path for an integer id: every decimal
    * prefix becomes a path segment (id 1234 → "1/12/123/1234"), so a
    * page's parent path is the path of id/10 and paths are unique.
    * Plays the role of the reference's URL → page-path extraction
    * (main.go:194) over the synthetic corpus, which has no URLs.
    * One prefix per possible length (a long renders in at most 20
    * characters); `concat_ws` skips the nulls past the id's own length.
    * All codegen'd, unlike a `transform` over `sequence`.
    */
  def pagePath(id: Column): Column = {
    val s = id.cast("string")
    concat_ws("/", (1 to 20).map(i => when(length(s) >= i, s.substr(lit(1), lit(i)))): _*)
  }

  /** Drop the last path segment; "" for single-segment (root) paths
    * (reference main.go:195 — strings.Join(split[:n-1], "/")).
    */
  def parentPath(path: Column): Column =
    when(!path.contains("/"), lit(""))
      .otherwise(regexp_replace(path, "/[^/]*$", ""))

  /** All k-token shingles ("w1 w2 … wk" strings) of a token array; empty
    * for arrays shorter than k. Spark's `sequence(a, b)` is never empty
    * (b < a counts DOWN), so the index list is built one-too-long and
    * trimmed with slice — slice(·, 1, 0) IS empty.
    */
  def shingleArray(toks: Column, k: Int): Column = {
    val n = greatest(size(toks) - (k - 1), lit(0)) // shingle count
    transform(
      slice(sequence(lit(1), greatest(n, lit(1))), lit(1), n),
      i => concat_ws(" ", slice(toks, i, lit(k))))
  }
}
