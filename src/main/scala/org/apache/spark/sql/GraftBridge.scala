package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's custom Catalyst expressions.
  * Spark 4 made these conversions `private[sql]` (columnNodeSupport), so —
  * like other Spark extension libraries — we expose the two calls we need
  * from inside the package.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Stable unique id for a session — cache keys (identityHashCode can
    * collide after GC; sessionUUID cannot).
    */
  def sessionKey(spark: SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Per-(session, dir) artifact path under a /tmp namespace — ONE
    * definition of the sessionKey + 4-byte-md5(dir) keying every stored
    * artifact uses (packing index, chunk index, bucketed index, packed
    * shards), so a change to the scheme (hash width, collision handling)
    * lands once (review r18: four copy-pasted builders had already
    * drifted on whether a human-readable dir suffix rode along — callers
    * append their own suffixes to this common stem).
    */
  def sessionDirPath(ns: String, spark: SparkSession, dir: String): String =
    sessionDirPathFor(ns, sessionKey(spark), dir)

  /** [[sessionDirPath]] from an already-extracted session key — for cache
    * teardown paths that hold "sessionKey#dir" strings but no session.
    */
  def sessionDirPathFor(ns: String, key: String, dir: String): String =
    s"/tmp/$ns/" + key + "-" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map("%02x".format(_)).mkString

  /** Conf-isolated twin of `spark`: same SparkContext, SHARED cache
    * manager/catalog (persisted relations stay visible), but its OWN
    * session conf — for iterative loops that want loop-local settings
    * (AQE off, graph-sized shuffle partitions) without mutating the
    * caller's session underneath concurrent queries.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Rebind a DataFrame's logical plan to another session (same context):
    * subsequent operations on the result plan/execute under `target`'s
    * conf.
    */
  def inSession(df: DataFrame, target: SparkSession): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      target.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.logical)

  /** Native bounded top-k aggregate (the expression behind pandas-on-Spark
    * nlargest/nsmallest): collects the k extreme values of `c` under the
    * type's interpreted ordering — for a struct child, lexicographic over
    * its fields. `reverse = true` keeps the k SMALLEST and emits them
    * sorted ascending (mixed-direction contracts like "score desc, token
    * asc" become single-direction by negating the numeric key). Chosen
    * over a typed Aggregator UDAF for hot paths: the native expression
    * works on InternalRows directly — no per-row object conversion, no
    * kryo buffer round-trip — while carrying the same ≤ k rows per group
    * through partial, shuffle, and merge.
    */
  def collectTopK(c: Column, k: Int, reverse: Boolean): Column =
    column(org.apache.spark.sql.catalyst.expressions.aggregate
      .GraftAggBridge.collectTopK(expression(c), k, reverse))
}
