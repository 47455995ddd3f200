package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Hierarchy, Ids, TokenPipeline}

class TokenPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.Sf

  test("docStats keeps one row per document, zeros for filtered-out docs") {
    val stats = TokenPipeline.docStats(spark, sf)
    assert(stats.count() === Tables.documents(spark, sf).count())
    // norm² == Σ qty² (property, per-doc)
    val bad = TokenPipeline.docTokenCounts(spark, sf)
      .groupBy("doc_id").agg(sum($"qty" * $"qty").as("ss"))
      .join(stats, "doc_id")
      .filter(abs(pow($"euclidian_norm", 2) - $"ss") > 0.001)
      .count()
    assert(bad === 0)
  }

  test("count_unique_words equals sparse-vector nnz (reference invariant)") {
    val nnz = TokenPipeline.sparseVectors(spark, sf)
      .groupBy("doc_id").agg(count(lit(1)).as("nnz"))
    val bad = TokenPipeline.docStats(spark, sf)
      .join(nnz, Seq("doc_id"), "left")
      .filter(coalesce($"nnz", lit(0L)) =!= $"count_unique_words")
      .count()
    assert(bad === 0)
  }

  test("posting-list invariant: Σ refs over tokens = Σ nnz over docs") {
    val byToken = TokenPipeline.postings(spark, sf)
      .agg(sum("n_refs")).collect()(0).getLong(0)
    val byDoc = TokenPipeline.docStats(spark, sf)
      .agg(sum("count_unique_words")).collect()(0).getLong(0)
    assert(byToken === byDoc)
  }

  test("dictionary excludes non-words and stop words end to end") {
    val toks = TokenPipeline.tokenDictionary(spark, sf)
      .select("token").as[String].collect().toSet
    assert(!toks.contains("agg") && !toks.contains("dup")) // not in dictionary
    assert(!toks.contains("the") && !toks.contains("a"))   // stop words
    assert(toks.subsetOf(TokenPipeline.Dictionary.toSet))
  }

  test("dense ids equal row_number()-1 under the same total order") {
    val viaZip = Ids.withDenseId(
      TokenPipeline.docTokenCounts(spark, sf).select("token").distinct(),
      "token_id", col("token"))
    val viaWindow = TokenPipeline.docTokenCounts(spark, sf)
      .select("token").distinct()
      .withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy("token"))
          .cast("long") - 1)
    assert(viaZip.join(viaWindow, "token")
      .filter($"token_id" =!= $"rn").count() === 0)
  }

  test("file-backed word lists: 5k-word dictionary file matches literal path") {
    // The reference's input shape: a one-word-per-line dictionary file
    // (235,886 words) + stop-word list. A large file whose *relevant*
    // membership equals the literal Seqs must produce the identical
    // relation through the file-backed path.
    val tmp = java.nio.file.Files.createTempDirectory("wordlists")
    val filler = (1 to 5000).map(i => s"zzfiller$i") // absent from corpus
    java.nio.file.Files.write(tmp.resolve("en.txt"),
      String.join("\n", (TokenPipeline.Dictionary ++ filler): _*).getBytes)
    java.nio.file.Files.write(tmp.resolve("stop.txt"),
      String.join("\n", TokenPipeline.StopWords: _*).getBytes)
    val viaFiles = TokenPipeline.docTokenCountsFromFiles(spark, sf,
      tmp.resolve("en.txt").toString, tmp.resolve("stop.txt").toString)
    val literal = TokenPipeline.docTokenCounts(spark, sf)
    assert(viaFiles.count() === literal.count())
    assert(viaFiles.join(literal, Seq("doc_id", "token", "qty"), "left_anti")
      .count() === 0)
  }

  test("q101: reference-scale word-list files broadcast and match literal path") {
    val (dict, stop) = graft.sources.WordListFixtures.ensure()
    def lines(p: String) =
      { val s = scala.io.Source.fromFile(p); try s.getLines().size finally s.close() }
    // the generated files carry the reference's exact line counts
    assert(lines(dict) === graft.sources.WordListFixtures.DictLines)
    assert(lines(stop) === graft.sources.WordListFixtures.StopLines)
    val df = TokenPipeline.docTokenCountsFromFiles(spark, sf, dict, stop)
    // the semi-join must survive a 235,886-row build side as a broadcast —
    // a few MB of strings, exactly the case the reference's in-memory
    // dictionary map represents (main.go:108–118)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"no broadcast in plan:\n$plan")
    // filler words (zzw/zzs prefixes) cannot hit the corpus, so the
    // file-scale relation equals the literal-list relation exactly
    val literal = TokenPipeline.docTokenCounts(spark, sf)
    assert(df.count() === literal.count())
    assert(df.join(literal, Seq("doc_id", "token", "qty"), "left_anti")
      .count() === 0)
  }

  test("etl INDEX artifacts retain no broadcast in their cached plans") {
    // a persisted artifact keeps its physical plan; a broadcast inside it
    // would pin a hash relation (at least one Tungsten page) for as long
    // as the artifact stays cached
    TokenPipeline.docTokenCounts(spark, sf).count()
    TokenPipeline.tokenDictionary(spark, sf).count()
    TokenPipeline.docAggregates(spark, sf).count()
    Hierarchy.pages(spark, sf).count()
    val held = Caches.retainedBroadcasts(spark, sf).toMap
    Seq("TokenPipeline.cache", "TokenPipeline.dictCache", "TokenPipeline.statsCache",
      "Hierarchy.pageCache")
      .foreach(n => assert(held.get(n) === Some(0), s"$n: ${held.get(n)} broadcasts"))
    // the helper does see pinned broadcasts: the DataFrame-list form,
    // persisted under a throwaway key, holds one per membership join
    val probe = org.apache.spark.sql.GraftBridge.sessionKey(spark) + "#" + sf + "#probe"
    val pinned = TokenPipeline.docTokenCountsWith(Tables.documents(spark, sf),
      TokenPipeline.Dictionary.toDF("token"), TokenPipeline.StopWords.toDF("token"))
      .persist()
    try {
      pinned.count()
      TokenPipeline.cache(spark, sf, "probe")(pinned)
      assert(Caches.retainedBroadcasts(spark, sf).toMap.get("TokenPipeline.cache#probe")
        === Some(2))
    } finally {
      TokenPipeline.cache.evict(_ == probe)
      pinned.unpersist()
    }
  }

  test("tokenVectorString renders tokenVectorMap entry-for-entry") {
    val fromMap = TokenPipeline.tokenVectorMap(spark, sf)
      .select($"doc_id",
        array_join(
          transform(map_entries($"compressed_token_vector"),
            e => concat(e.getField("key").cast("string"), lit(":"),
                        e.getField("value").cast("string"))),
          ",").as("s"),
        $"euclidian_norm")
    val str = TokenPipeline.tokenVectorString(spark, sf)
      .withColumnRenamed("compressed_token_vector", "s")
    assert(fromMap.count() === str.count())
    assert(fromMap.join(str, Seq("doc_id", "s", "euclidian_norm"), "left_anti")
      .count() === 0)
  }

  test("Caches.clear evicts this session's persisted relations only") {
    TokenPipeline.docTokenCounts(spark, sf) // ensure populated
    val key = org.apache.spark.sql.GraftBridge.sessionKey(spark) + "#" + sf
    assert(TokenPipeline.cache.keys.contains(key))
    val other = spark.newSession()
    val otherKey = org.apache.spark.sql.GraftBridge.sessionKey(other) + "#x"
    TokenPipeline.cache(other, "x")(spark.range(1).toDF())
    Caches.clear(spark)
    assert(!TokenPipeline.cache.keys.exists(_.startsWith(
      org.apache.spark.sql.GraftBridge.sessionKey(spark) + "#")))
    assert(TokenPipeline.cache.keys.contains(otherKey))
    Caches.clear(other)
    // repopulating after eviction works and is equivalent
    assert(TokenPipeline.docTokenCounts(spark, sf).count() > 0)
  }

  test("Caches.clear and clearDir reach the index caches added in round 11") {
    import graft.operators.{Dedup, Similarity}
    Dedup.simhashSignature(spark, sf, 16).count()
    Similarity.vectorIndex(spark, sf).count()
    TokenPipeline.docAggregates(spark, sf).count()
    Dedup.embeddingRepMap(spark, sf).count()
    Dedup.shingleDf(spark, sf).count() // round-12 index cache
    graft.operators.TextAnalysis.dsirDocBuckets(spark, sf).count() // round-12 index cache
    graft.operators.TextAnalysis.dsirWeightTable(spark, sf).count() // round-12 index cache
    val prefix = org.apache.spark.sql.GraftBridge.sessionKey(spark) + "#"
    val artifacts = Seq[Artifact[_]](
      Dedup.simhashSigCache, Similarity.idxCache, TokenPipeline.statsCache,
      Dedup.embRepCache, Dedup.dfCache, graft.operators.TextAnalysis.dsirCache,
      graft.operators.TextAnalysis.dsirWtCache)
    artifacts.foreach(a =>
      assert(a.keys.exists(_.startsWith(prefix)), s"${a.name} not populated"))
    Caches.clear(spark)
    artifacts.foreach(a =>
      assert(!a.keys.exists(_.startsWith(prefix)), s"${a.name} survived clear"))
    // clearDir must also evict parameterized "…#dir#<bits>" entries
    Dedup.simhashSignature(spark, sf, 16).count()
    Caches.clearDir(spark, sf)
    assert(!Dedup.simhashSigCache.keys.exists(_.startsWith(prefix)),
      "parameterized simhash key survived clearDir")
  }

  test("hierarchy: parent of doc N is doc N/10; roots have parent -1") {
    val links = Hierarchy.parentLinks(spark, sf)
    val bad = links.filter(
      when($"doc_id" < 10, $"parent_id" =!= -1L)
        .otherwise($"parent_id" =!= ($"doc_id" / 10).cast("long"))).count()
    assert(bad === 0)
  }

  // The page cache's premise: paths are unique and each page has at most
  // one parent row only if every document id is present and distinct, so
  // q19 can read a page's children off its own row. Checked on both
  // committed test scale factors.
  for (dir <- Seq(sf, sf.replace("sf0.001", "sf0.01"))) {
    test(s"documents.doc_id is non-null and unique at ${dir.split('/').last}") {
      val r = Tables.documents(spark, dir).agg(
        count(lit(1)).as("n"),
        count(when($"doc_id".isNull, 1)).as("nulls"),
        countDistinct($"doc_id").as("distinct")).as[(Long, Long, Long)].head()
      assert(r._1 > 0, "documents is empty")
      assert(r._2 === 0L, "documents.doc_id has NULLs")
      assert(r._3 === r._1, "documents.doc_id has duplicates")
    }
  }

  test("q18 and q19 read the page cache only; q48 scans documents once") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def documentScans(query: String): Int =
      SparkEntry.queries(query)(spark, sf).queryExecution.sparkPlan
        .collectWithSubqueries { case s: FileSourceScanExec => s }
        .count(_.relation.location.rootPaths.exists(_.getName == "documents.parquet"))
    assert(documentScans("q18_doc_hierarchy") === 0)
    assert(documentScans("q19_doc_children") === 0)
    assert(documentScans("q48_wikibook_records") === 1)
  }

  test("etl renderings, tokenize and child ids compile without CodegenFallback") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    // aggregate functions (collect_list, top-k) are not whole-stage
    // expressions; everything else in the analyzed plan must generate code
    def fallbacks(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
        case f: CodegenFallback if !f.isInstanceOf[AggregateFunction] =>
          f.getClass.getSimpleName
      })).toSet
    assert(fallbacks(TokenPipeline.postings(spark, sf)) === Set.empty)          // q15
    assert(fallbacks(TokenPipeline.tokenVectorString(spark, sf)) === Set.empty) // q17
    assert(fallbacks(TokenPipeline.topDocsPerToken(spark, sf)) === Set.empty)   // q51
    assert(fallbacks(Hierarchy.childAggFrom(
      Seq((11L, 1L), (12L, 1L)).toDF("doc_id", "parent_id"))) === Set.empty)
    assert(fallbacks(Hierarchy.parentLinks(spark, sf)) === Set.empty)          // q18
    assert(fallbacks(Hierarchy.childAgg(spark, sf)) === Set.empty)             // q19
    assert(fallbacks(TokenPipeline.wikibookRecords(spark, sf)) === Set.empty)  // q48
    assert(fallbacks(Hierarchy.docPaths(Tables.documents(spark, sf))) === Set.empty)
    // the control: the lambda form this replaced does fall back
    assert(fallbacks(Seq("a").toDF("t").select(transform(array(col("t")), x => upper(x))))
      .contains("ArrayTransform"))
  }
}
