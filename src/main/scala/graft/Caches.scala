package graft

import org.apache.spark.sql.{Dataset, GraftBridge, SparkSession}

/** Eviction and audit over every declared [[Artifact]]. Without eviction a
  * long-lived session touching many input dirs accumulates unbounded
  * cached storage, and entries for stopped sessions linger. Everything
  * here is derived from the registry: no per-artifact code.
  */
object Caches {

  /** Every declared artifact, in name order. An artifact registers when
    * its declaring object initializes, so those objects are loaded first:
    * the registry never depends on which operators have run.
    */
  def registry: Seq[Artifact[_]] = {
    val _ = (Tables, operators.TokenPipeline, operators.Hierarchy, operators.Dedup,
      operators.Similarity, operators.Sketches, operators.TextAnalysis, operators.Packing)
    Artifact.all
  }

  /** Does `k` belong to `key` ("sessionKey#dir"), plain or "…#dir#param"? */
  private def under(key: String)(k: String): Boolean = k == key || k.startsWith(key + "#")

  private def dirKey(spark: SparkSession, dir: String) = GraftBridge.sessionKey(spark) + "#" + dir

  private def ofSession(spark: SparkSession)(k: String) =
    k.startsWith(GraftBridge.sessionKey(spark) + "#")

  /** Every INDEX-class key for (`spark`, `dir`): the warmup-completeness
    * instrument. Keys present after the timed passes but absent after
    * warmup are artifacts the warmup failed to prefill, so the timed cold
    * pass paid them. Parameterized entries ("…#dir#param") count like
    * plain ones.
    */
  def indexKeys(spark: SparkSession, dir: String): Set[String] =
    registry.filter(_.kind == Artifact.Index).flatMap(_.keys)
      .filter(under(dirKey(spark, dir))).toSet

  /** Broadcasts each cached artifact of (`spark`, `dir`) keeps alive, as
    * ("Object.map[#param]", count), for artifacts that are present. A
    * persisted relation keeps its physical plan while it stays cached, AQE's
    * final plan included, so every broadcast exchange or broadcast query
    * stage in that plan pins its hash relation: at least one Tungsten page
    * each, which the storage counters (`getRDDStorageInfo`) do not see.
    * Entries the cache manager does not hold (checkpoint-backed relations)
    * are read from their own executed plan. Another artifact scanned inside
    * a plan is counted under its own name, not again. Read-only: it walks
    * existing plans and runs no job.
    */
  def retainedBroadcasts(spark: SparkSession, dir: String): Seq[(String, Int)] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      BroadcastQueryStageExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case s: BroadcastQueryStageExec => 1 + s.plan.children.map(count).sum
      case s: QueryStageExec => count(s.plan)
      case b: BroadcastExchangeLike => 1 + b.children.map(count).sum
      case _: InMemoryTableScanExec => 0
      case _ => (p.children ++ p.subqueries).map(count).sum
    }
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val key = dirKey(spark, dir)
    for {
      a <- registry
      (k, df: Dataset[_]) <- a.filled.sortBy(_._1)
      if under(key)(k)
    } yield {
      val plan = cacheManager
        .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .map(_.cachedRepresentation.cacheBuilder.cachedPlan)
        .getOrElse(df.queryExecution.executedPlan)
      (a.name + k.stripPrefix(key), count(plan))
    }
  }

  /** Evict this session's RESULT memos (cluster labels, verified pairs,
    * kNN tables, BPE merges, the train verdict) while keeping its INDEX
    * artifacts warm. Bench steady-state passes call this between passes:
    * replaying a memoized final result would measure a cache hit, not the
    * query, but an engine deployment legitimately keeps its index-like
    * relations resident, so those stay.
    */
  def clearResultMemos(spark: SparkSession): Unit =
    registry.filter(_.kind == Artifact.Result).foreach(_.evict(ofSession(spark)))

  /** Evict every artifact of ONE (session, input dir), parameterized keys
    * included: for callers that rewrite a dir's contents in place (e.g.
    * the streaming corpus audit's staging dir) and must not read stale
    * entries.
    */
  def clearDir(spark: SparkSession, dir: String): Unit =
    registry.foreach(_.evict(under(dirKey(spark, dir))))

  /** Evict every artifact of `spark`; other sessions' entries stay. */
  def clear(spark: SparkSession): Unit = registry.foreach(_.evict(ofSession(spark)))

  /** Drop every entry of every artifact (test/teardown hammer): a free
    * that fails, e.g. on a stopped session, does not stop the sweep.
    */
  def clearAll(): Unit = registry.foreach(a => a.keys.foreach(k =>
    try a.evict(_ == k) catch { case _: Throwable => () }))
}
