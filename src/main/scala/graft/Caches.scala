package graft

import org.apache.spark.sql.SparkSession

/** Eviction hook for the per-(session, dir) persisted-relation caches
  * (TokenPipeline hub + dictionary, Dedup shingles + signatures). Without
  * it a long-lived session touching many input dirs accumulates unbounded
  * cached storage, and entries for stopped sessions linger in the maps.
  */
object Caches {

  /** Every per-(session, dir) cache map, by the name the audit tools print. */
  private def maps = Seq(
    "TokenPipeline.cache" -> operators.TokenPipeline.cache,
    "TokenPipeline.dictCache" -> operators.TokenPipeline.dictCache,
    "TokenPipeline.statsCache" -> operators.TokenPipeline.statsCache,
    "Dedup.cache" -> operators.Dedup.cache,
    "Dedup.dfCache" -> operators.Dedup.dfCache,
    "Dedup.sigCache" -> operators.Dedup.sigCache,
    "Dedup.clusterCache" -> operators.Dedup.clusterCache,
    "Dedup.repsCache" -> operators.Dedup.repsCache,
    "Dedup.fpCache" -> operators.Dedup.fpCache,
    "Dedup.cappedCache" -> operators.Dedup.cappedCache,
    "Dedup.pairsCache" -> operators.Dedup.pairsCache,
    "Dedup.simhashSigCache" -> operators.Dedup.simhashSigCache,
    "Dedup.embRepCache" -> operators.Dedup.embRepCache,
    "Dedup.embPairsCache" -> operators.Dedup.embPairsCache,
    "Similarity.idxCache" -> operators.Similarity.idxCache,
    "Similarity.knnMemo" -> operators.Similarity.knnMemo,
    "Sketches.bitsCache" -> operators.Sketches.bitsCache,
    "Sketches.bloomMemo" -> operators.Sketches.bloomMemo,
    "Sketches.benchBitsCache" -> operators.Sketches.benchBitsCache,
    "Sketches.multiBloomMemo" -> operators.Sketches.multiBloomMemo,
    "Sketches.multiBenchFpMemo" -> operators.Sketches.multiBenchFpMemo,
    "Sketches.cmsGridCache" -> operators.Sketches.cmsGridCache,
    "Sketches.evalShCache" -> operators.Sketches.evalShCache,
    "TextAnalysis.srcTokCache" -> operators.TextAnalysis.srcTokCache,
    "TextAnalysis.rawTokCache" -> operators.TextAnalysis.rawTokCache,
    "TextAnalysis.splitCache" -> operators.TextAnalysis.splitCache,
    "TextAnalysis.rawCountsCache" -> operators.TextAnalysis.rawCountsCache,
    "TextAnalysis.tfidfCache" -> operators.TextAnalysis.tfidfCache,
    "TextAnalysis.dsirCache" -> operators.TextAnalysis.dsirCache,
    "TextAnalysis.dsirWtCache" -> operators.TextAnalysis.dsirWtCache,
    "TextAnalysis.bigramCache" -> operators.TextAnalysis.bigramCache,
    "TextAnalysis.verdictCache" -> operators.TextAnalysis.verdictCache,
    "Packing.placementCache" -> operators.Packing.placementCache)

  /** The RESULT-MEMO subset of [[maps]] (detection/search outputs evicted
    * per bench pass by [[clearResultMemos]]); everything else in maps is
    * an INDEX ARTIFACT a deployment keeps resident. mergeMemo (driver
    * values, no blocks) is result-class too but lives outside maps.
    */
  private def resultMaps = Seq(
    operators.Dedup.clusterCache, operators.Dedup.pairsCache,
    operators.Dedup.embPairsCache, operators.Similarity.knnMemo,
    operators.Sketches.bloomMemo, operators.Sketches.multiBloomMemo,
    operators.Sketches.multiBenchFpMemo,
    operators.TextAnalysis.verdictCache)

  /** Every INDEX-class cache key for (`spark`, `dir`) — the bench's
    * warmup-completeness instrument (round 17, VERDICT r16 item 3): keys
    * present after the final pass but absent after warmup are artifacts
    * the warmup failed to prefill, so the timed cold pass paid them.
    * Parameterized entries ("…#dir#param") count like plain ones.
    */
  def indexKeys(spark: SparkSession, dir: String): Set[String] = {
    val key = org.apache.spark.sql.GraftBridge.sessionKey(spark) + "#" + dir
    maps.map(_._2).filterNot(m => resultMaps.exists(_ eq m))
      .flatMap(_.keys.filter(k => k == key || k.startsWith(key + "#")))
      .toSet
  }

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
    val key = org.apache.spark.sql.GraftBridge.sessionKey(spark) + "#" + dir
    for {
      (name, m) <- maps
      (k, df) <- m.toSeq.sortBy(_._1)
      if k == key || k.startsWith(key + "#")
    } yield {
      val plan = cacheManager
        .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .map(_.cachedRepresentation.cacheBuilder.cachedPlan)
        .getOrElse(df.queryExecution.executedPlan)
      (name + k.stripPrefix(key), count(plan))
    }
  }

  /** Unpersist and drop every cached relation belonging to `spark`
    * (other sessions' entries are untouched).
    */
  private def free(df: org.apache.spark.sql.DataFrame): Unit = {
    df.unpersist() // CacheManager-backed relations (persist())
    // checkpoint-backed relations (dupClusterLabels): unpersist is a no-op
    // there, the RDD itself holds the blocks
    org.apache.spark.sql.GraftBridge.unpersistCheckpointRdds(df)
  }

  /** Evict memoized RESULT relations (the converged cluster labels) while
    * keeping the building-block caches (shingles, signatures, fingerprints,
    * token hub) warm. Bench steady-state passes call this between passes:
    * replaying a memoized final result would measure a cache hit, not the
    * query — but an engine deployment legitimately keeps its index-like
    * relations resident, so those stay.
    */
  def clearResultMemos(spark: SparkSession): Unit = {
    val prefix = org.apache.spark.sql.GraftBridge.sessionKey(spark) + "#"
    operators.Dedup.clusterCache.keys.filter(_.startsWith(prefix)).foreach { k =>
      operators.Dedup.clusterCache.remove(k).foreach(free)
    }
    // verified rep-pair relations are detection RESULTS too — each bench
    // pass must re-pay the band join + Jaccard verify exactly once
    operators.Dedup.pairsCache.keys.filter(_.startsWith(prefix)).foreach { k =>
      operators.Dedup.pairsCache.remove(k).foreach(free)
    }
    // likewise the verified embedding rep-pair relation (q27 pays the
    // sign-LSH bucket join + cosine verify once per pass, q74 reuses)
    operators.Dedup.embPairsCache.keys.filter(_.startsWith(prefix)).foreach { k =>
      operators.Dedup.embPairsCache.remove(k).foreach(free)
    }
    // and the kNN rung results (exact/IVF/multi-probe/PQ top-K tables):
    // search RESULTS shared by q28/q29/q55/q105/q115 within a pass,
    // re-paid once per pass by each rung's first consumer
    operators.Similarity.knnMemo.keys.filter(_.startsWith(prefix)).foreach { k =>
      operators.Similarity.knnMemo.remove(k).foreach(free)
    }
    // the bloom flag relation is a detection RESULT (q102 pays it once
    // per pass, q119's audit reuses) — the eval BIT-SET stays (index
    // artifact, built once per eval benchmark)
    operators.Sketches.bloomMemo.keys.filter(_.startsWith(prefix)).foreach { k =>
      operators.Sketches.bloomMemo.remove(k).foreach(free)
    }
    // likewise the multi-benchmark flag relation (q125's detection
    // output) — the per-benchmark BIT-SETS stay (index artifacts)
    operators.Sketches.multiBloomMemo.keys.filter(_.startsWith(prefix)).foreach { k =>
      operators.Sketches.multiBloomMemo.remove(k).foreach(free)
    }
    // and the per-(doc, benchmark) exact-overlap audit relation (q126
    // pays it once per pass, q128's sizing report reuses — r19)
    operators.Sketches.multiBenchFpMemo.keys.filter(_.startsWith(prefix)).foreach { k =>
      operators.Sketches.multiBenchFpMemo.remove(k).foreach(free)
    }
    // learned BPE merge tables are results too (driver values, no blocks)
    operators.TextAnalysis.mergeMemo.keys.filter(_.startsWith(prefix))
      .foreach(operators.TextAnalysis.mergeMemo.remove)
    // the per-doc train verdict embeds the cluster labels (dedup_kept), so
    // it is a detection RESULT like them — re-paid once per pass by its
    // alphabetically-first consumer (q81), reused by the rest (q86)
    operators.TextAnalysis.verdictCache.keys.filter(_.startsWith(prefix)).foreach { k =>
      operators.TextAnalysis.verdictCache.remove(k).foreach(free)
    }
  }

  /** Evict every cached relation for ONE (session, input dir) — for
    * callers that rewrite a dir's contents in place (e.g. the streaming
    * corpus audit's staging dir) and must not read stale cache entries.
    */
  def clearDir(spark: SparkSession, dir: String): Unit = {
    val key = org.apache.spark.sql.GraftBridge.sessionKey(spark) + "#" + dir
    // the stored-placement bootstrap lives on DISK beyond its cached read —
    // without this the next storedPlacement call re-adopts placement built
    // from the dir's OLD contents (review r18)
    operators.Packing.deleteStoredPlacementFor(key)
    maps.foreach { case (_, m) =>
      // exact dir entries plus parameterized ones keyed "…#dir#<param>"
      // (cappedShingles) — both go stale when the dir's contents change
      m.keys.filter(k => k == key || k.startsWith(key + "#"))
        .foreach(k => m.remove(k).foreach(free))
    }
    operators.Dedup.repFlagCache.remove(key)
    operators.TextAnalysis.mergeMemo.keys
      .filter(_.startsWith(key + "#")).foreach(operators.TextAnalysis.mergeMemo.remove)
    ()
  }

  def clear(spark: SparkSession): Unit = {
    val prefix = org.apache.spark.sql.GraftBridge.sessionKey(spark) + "#"
    operators.Packing.placementCache.keys.filter(_.startsWith(prefix))
      .foreach(operators.Packing.deleteStoredPlacementFor)
    maps.foreach { case (_, m) =>
      m.keys.filter(_.startsWith(prefix)).foreach { k =>
        m.remove(k).foreach(free)
      }
    }
    operators.Dedup.repFlagCache.keys.filter(_.startsWith(prefix))
      .foreach(operators.Dedup.repFlagCache.remove)
    operators.TextAnalysis.mergeMemo.keys.filter(_.startsWith(prefix))
      .foreach(operators.TextAnalysis.mergeMemo.remove)
    Tables.schemaMemo.keys.filter(_.startsWith(prefix)).foreach(Tables.schemaMemo.remove)
  }

  /** Drop every entry in every cache (test/teardown hammer). */
  def clearAll(): Unit = {
    operators.Packing.placementCache.keys
      .foreach(k => try operators.Packing.deleteStoredPlacementFor(k)
        catch { case _: Throwable => () })
    maps.foreach { case (_, m) =>
      m.keys.foreach(k => m.remove(k).foreach(df =>
        try free(df) catch { case _: Throwable => () }))
    }
    operators.Dedup.repFlagCache.clear()
    operators.TextAnalysis.mergeMemo.clear()
    Tables.schemaMemo.clear()
  }
}
