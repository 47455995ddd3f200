package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Page-hierarchy graph (reference main.go:194–204): every document gets a
  * hierarchical path, a parent is found by an equi self-join on the parent
  * path, and children aggregate per parent (main.go:201–202 →
  * count_children / child_pages).
  *
  * The reference exploits `ORDER BY url` to stream parents before children
  * through a mutable map; the self-join here is order-independent and
  * shuffle-parallel — Catalyst picks broadcast vs sort-merge (with AQE) on
  * its own.
  *
  * The synthetic corpus has no URLs, so paths derive from doc_id decimal
  * prefixes (TextFns.pagePath): doc 1234 → "1/12/123/1234", parent = 123.
  * Root docs (id < 10) get parent_path "" (main.go:195 root case) and
  * parent_id −1 (the reference's ambiguous 0-default, main.go:56, fixed per
  * SURVEY §1.4).
  */
object Hierarchy {

  /** (doc_id, page_loc, parent_path) for every document. */
  def docPaths(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      TextFns.pagePath(col("doc_id")).as("page_loc"),
      TextFns.parentPath(TextFns.pagePath(col("doc_id"))).as("parent_path"))

  /** Left-outer equi self-join child.parent_path = parent.page_loc (O7). */
  def parentLinks(spark: SparkSession, dir: String): DataFrame =
    parentLinksRaw(spark, dir).orderBy("doc_id")

  /** parentLinks without the output sort, for reuse inside other pipelines. */
  def parentLinksRaw(spark: SparkSession, dir: String): DataFrame = {
    val d = docPaths(Tables.documents(spark, dir))
    val parents = d.select(col("page_loc").as("p_loc"), col("doc_id").as("p_id"))
    d.join(parents, col("parent_path") === col("p_loc"), "left")
      .select(
        col("doc_id"), col("page_loc"), col("parent_path"),
        coalesce(col("p_id"), lit(-1L)).as("parent_id"))
  }

  /** Per-parent child aggregation (O8): direct-child count and the child id
    * list in id order (the reference appends in url order, main.go:201–202;
    * sorted ids are the deterministic equivalent).
    */
  def childAgg(spark: SparkSession, dir: String): DataFrame =
    childAggFrom(parentLinksRaw(spark, dir)).orderBy("parent_id")

  /** Child aggregation over an existing links relation, unsorted — lets
    * callers that already hold parentLinksRaw reuse one lineage instead of
    * recomputing the self-join.
    */
  def childAggFrom(links: DataFrame): DataFrame =
    links
      .filter(col("parent_id") >= 0)
      .groupBy("parent_id")
      .agg(
        count(lit(1)).as("count_children"),
        array_join(sort_array(collect_list(col("doc_id"))).cast("array<string>"), ",")
          .as("child_ids"))
}
