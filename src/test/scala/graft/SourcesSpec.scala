package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftExtensions
import graft.sources.Sources

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("csv/json round-trip preserves declared-schema data") {
    val docs = Tables.documents(spark, TestSpark.Sf).limit(50)
    val tmp = java.nio.file.Files.createTempDirectory("graft_src").toString
    Sources.writeCsv(docs, s"$tmp/csv")
    Sources.writeJson(docs, s"$tmp/json")
    val backCsv = Sources.readCsv(spark, s"$tmp/csv", docs.schema)
    val backJson = Sources.readJson(spark, s"$tmp/json", docs.schema)
    assert(backCsv.count() === 50 && backJson.count() === 50)
    assert(backJson.exceptAll(docs).count() === 0)
  }

  test("partitioned parquet write enables partition pruning on read") {
    val docs = Tables.documents(spark, TestSpark.Sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    Sources.writeParquet(docs, s"$tmp/bylang", Seq("lang"))
    val pruned = Sources.readParquet(spark, s"$tmp/bylang").filter($"lang" === "en")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"))
    assert(pruned.count() ===
      docs.filter($"lang" === "en").count())
  }

  test("graft_dot is callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(r === 11.0)
  }

  test("jdbc round-trip via embedded Derby (the reference's SQLite scan shape)") {
    // Spark ships Derby for its Hive metastore; an in-memory Derby DB
    // exercises the same spark.read.format("jdbc") path a SQLite/Postgres
    // deployment would use.
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val docs = Tables.documents(spark, TestSpark.Sf)
      .select($"doc_id", $"lang").limit(40)
    Sources.writeJdbc(docs, url, "docs_jdbc")
    val back = Sources.readJdbc(spark, url, "docs_jdbc")
    assert(back.count() === 40)
    assert(back.exceptAll(docs).count() === 0)
    // predicate pushdown reaches the JDBC scan (filter in the plan's
    // PushedFilters, not a post-scan Spark filter only)
    val plan = back.filter($"doc_id" < 10).queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("pushedfilters") ||
      plan.toLowerCase.contains("pushed"))
  }

  test("writeFormat is sink-pluggable: same rows through orc/json/parquet") {
    // the connector-sink shape: one format string switches the sink; a
    // mongodb/elasticsearch connector jar would slot in the same way
    val docs = Tables.documents(spark, TestSpark.Sf)
      .select($"doc_id", $"lang", $"text").limit(30)
    val tmp = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    Seq("orc", "json", "parquet").foreach { fmt =>
      Sources.writeFormat(docs, fmt, s"$tmp/$fmt")
      val back = spark.read.schema(docs.schema).format(fmt).load(s"$tmp/$fmt")
      assert(back.count() === 30, s"$fmt row count")
      assert(back.exceptAll(docs).count() === 0, s"$fmt contents")
    }
    // partition columns pass through to directory layout
    Sources.writeFormat(docs, "parquet", s"$tmp/bylang",
      partitionCols = Seq("lang"))
    assert(spark.read.parquet(s"$tmp/bylang").filter($"lang" === "en").count()
      === docs.filter($"lang" === "en").count())
  }

  test("Pipeline.materialize writes a pruned-readable corpus matching the q81 verdict") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline").toString
    val counts = graft.Pipeline.materialize(spark, TestSpark.Sf, out)
    val verdict = graft.operators.TextAnalysis.trainCorpus(spark, TestSpark.Sf).persist()
    // train partition carries exactly the survivors; eval splits are full
    assert(counts("train") ===
      verdict.filter(col("train_ok") === 1L).count())
    assert(counts("val") === verdict.filter(col("split") === "val").count())
    assert(counts("test") === verdict.filter(col("split") === "test").count())
    verdict.unpersist()
    // the manifest agrees with the data
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/manifest.json")), "UTF-8")
    counts.foreach { case (s, n) => assert(manifest.contains(s""""$s":$n""")) }
    // split reads are partition-pruned, not filtered post-scan
    val plan = graft.Pipeline.readSplit(spark, out, "train")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("split"))
    assert(graft.Pipeline.readSplit(spark, out, "train").count() === counts("train"))
  }

  test("Pipeline.cleanCorpus: scrubbed, purged, survivor-filtered, manifest-consistent") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_clean").toString
    val counts = graft.Pipeline.cleanCorpus(spark, TestSpark.Sf, out)
    val w = spark.read.parquet(s"$out/corpus").persist()
    // survivor membership: train keeps only train_ok docs, eval splits full
    val verdict = graft.operators.TextAnalysis.trainCorpus(spark, TestSpark.Sf)
    val expectDocs = verdict.filter(
      (col("split") === "train" && col("train_ok") === 1L) ||
        col("split") =!= "train").count()
    assert(counts("docs_written") === expectDocs)
    assert(counts("docs_in") === 500L)
    // no PII pattern survives in the written text
    val T = graft.operators.TextAnalysis
    assert(w.agg(sum(T.piiHitsCol(col("clean_text")))).head.getLong(0) === 0L)
    // the scrub is a no-op on this corpus (no real PII), so the written
    // per-doc token counts must equal q111's kept-token accounting —
    // cross-relation consistency of the whole purge path
    val q111 = T.chunkPurge(spark, TestSpark.Sf)
      .select(col("doc_id"), col("n_kept_tokens"), col("n_dropped"))
    assert(w.join(q111, "doc_id")
      .filter(col("n_tokens") =!= col("n_kept_tokens")).count() === 0)
    assert(w.join(q111, "doc_id")
      .filter(col("windows_dropped") =!= col("n_dropped")).count() === 0)
    assert(counts("windows_dropped") > 0L) // the corpus has verbatim dups
    // manifest mirrors the data
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/manifest.json")), "UTF-8")
    counts.foreach { case (s, n) => assert(manifest.contains(s""""$s":$n""")) }
    w.unpersist()
    ()
  }

  test("Pipeline.updateChunkIndex: bootstrap, incremental union, idempotent re-run") {
    import org.apache.spark.sql.functions._
    val T = graft.operators.TextAnalysis
    val idx = java.nio.file.Files.createTempDirectory("graft_cidx").toString + "/index"
    val all = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
      .select(col("doc_id"), graft.functions.TextFns.tokenize(col("text")).as("toks"))
    val even = all.where(col("doc_id") % 2 === 0)
    val odd = all.where(col("doc_id") % 2 === 1)
    // bootstrap: the even side's distinct hashes ARE the index
    val c1 = graft.Pipeline.updateChunkIndex(spark, even, idx)
    assert(c1("hashes_before") === 0L)
    assert(c1("hashes_after") === c1("hashes_added"))
    assert(c1("hashes_after") > 0L)
    // incremental: odd side unions in only its corpus-new hashes …
    val c2 = graft.Pipeline.updateChunkIndex(spark, odd, idx)
    assert(c2("hashes_before") === c1("hashes_after"))
    // … and the stored result equals the distinct hash set of the union
    val expect = T.chunksOf(all, T.ChunkWidth, 0)
      .select("chunk_hash").distinct().count()
    assert(c2("hashes_after") === expect)
    assert(spark.read.parquet(idx).distinct().count() === c2("hashes_after"))
    // same-dump re-run is a no-op (the daily-update idempotence a
    // deployment relies on after a retried job)
    val c3 = graft.Pipeline.updateChunkIndex(spark, odd, idx)
    assert(c3("hashes_added") === 0L)
    assert(c3("hashes_after") === c2("hashes_after"))
    // the no-new-hashes update must not have rewritten the stored parquet
    // (review r13: an idempotent replayed batch pays zero index I/O) —
    // part-file names and mtimes are untouched by c3
    def partState(p: String): Set[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(p)).iterator().asScala
        .map(f => (f.getFileName.toString,
          java.nio.file.Files.getLastModifiedTime(f).toMillis)).toSet
    }
    val stateAfterC3 = partState(idx)
    val c3b = graft.Pipeline.updateChunkIndex(spark, odd, idx)
    assert(c3b("hashes_added") === 0L)
    assert(partState(idx) === stateAfterC3,
      "no-op update rewrote the stored index")
  }

  test("Pipeline.updateChunkIndex: crash recovery adopts a parked .old index") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("graft_cidx_rec").toString + "/index"
    val all = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
      .select(col("doc_id"), graft.functions.TextFns.tokenize(col("text")).as("toks"))
    val even = all.where(col("doc_id") % 2 === 0)
    val odd = all.where(col("doc_id") % 2 === 1)
    val c1 = graft.Pipeline.updateChunkIndex(spark, even, idx)
    // simulate a death between the two swap renames: the committed index
    // sits parked at .old, nothing at the live path
    java.nio.file.Files.move(java.nio.file.Paths.get(idx),
      java.nio.file.Paths.get(idx + ".old"))
    val c2 = graft.Pipeline.updateChunkIndex(spark, odd, idx)
    // the update ADOPTED the parked copy (incremental, not bootstrap): the
    // before-count equals the committed index, no committed hash was lost
    assert(c2("hashes_before") === c1("hashes_after"))
    val expect = graft.operators.TextAnalysis
      .chunksOf(all, graft.operators.TextAnalysis.ChunkWidth, 0)
      .select("chunk_hash").distinct().count()
    assert(c2("hashes_after") === expect)
    assert(graft.Pipeline.readChunkIndex(spark, idx).distinct().count() === expect)
  }

  test("Pipeline.writeReferenceSinks round-trips the reference's three collections") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_trio").toString
    val counts = graft.Pipeline.writeReferenceSinks(spark, TestSpark.Sf, out)
    // each sunk collection round-trips equal to its query relation
    // (q48 / q15 / q17 shapes — main.go:164, 174, 238)
    val expect = Seq(
      "wikibooks" -> graft.operators.TokenPipeline.wikibookRecords(spark, TestSpark.Sf),
      "tokens" -> graft.operators.TokenPipeline.postings(spark, TestSpark.Sf),
      "token_vectors" -> graft.operators.TokenPipeline.tokenVectorMap(spark, TestSpark.Sf))
    expect.foreach { case (name, df) =>
      val back = spark.read.parquet(s"$out/$name")
      assert(counts(name) === df.count(), s"$name count")
      // map-typed columns (token_vectors) aren't exceptAll-comparable;
      // stringify the map deterministically before the set compare
      def cmp(x: org.apache.spark.sql.DataFrame) = {
        val mapCols = x.schema.filter(_.dataType.typeName == "map").map(_.name)
        mapCols.foldLeft(x) { (d, c) =>
          d.withColumn(c, map_entries(col(c)).cast("string")) }
      }
      assert(cmp(back).exceptAll(cmp(df)).count() === 0, s"$name contents")
    }
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/manifest.json")), "UTF-8")
    counts.foreach { case (n, c) => assert(manifest.contains(s""""$n":$c""")) }
  }

  test("graft-words DSv2 source agrees with readWordList and splits per file") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dsv2")
    java.nio.file.Files.writeString(tmp.resolve("a.txt"), "Alpha\nBETA\n\n gamma \n")
    java.nio.file.Files.writeString(tmp.resolve("b.txt"), "Delta\nepsilon\n")
    val df = spark.read.format("graft-words").load(tmp.toString)
    // one input partition per dictionary file
    assert(df.rdd.getNumPartitions === 2)
    val got = df.as[String].collect().toSet
    assert(got === Set("alpha", "beta", "gamma", "delta", "epsilon"))
    // the composable twin reads the same rows from a single file
    val single = Sources.readWordList(spark, tmp.resolve("a.txt").toString)
      .as[String].collect().toSet
    val v2single = spark.read.format("graft-words")
      .load(tmp.resolve("a.txt").toString).as[String].collect().toSet
    assert(v2single === single)
    // remote schemes and missing paths fail loudly at planning, not with
    // an NPE or a silent single-file read of "hdfs://..."
    val remote = intercept[Exception] {
      spark.read.format("graft-words").load("hdfs://nn/dict").count()
    }
    assert(remote.getMessage.contains("local paths"))
    val missing = intercept[Exception] {
      spark.read.format("graft-words").load(s"$tmp/nope.txt").count()
    }
    assert(missing.getMessage.contains("does not exist"))
  }

  test("WordListFixtures.ensure regenerates a word list truncated after it was verified") {
    import graft.sources.WordListFixtures
    def lines(p: String) =
      { val s = scala.io.Source.fromFile(p); try s.getLines().size finally s.close() }
    val (_, stop) = WordListFixtures.ensure()
    assert(lines(stop) === WordListFixtures.StopLines)
    val path = java.nio.file.Paths.get(stop)
    val bytes = java.nio.file.Files.readAllBytes(path)
    java.nio.file.Files.write(path, bytes.take(bytes.length / 2))
    assert(lines(stop) < WordListFixtures.StopLines)
    WordListFixtures.ensure()
    assert(lines(stop) === WordListFixtures.StopLines)
    assert(java.nio.file.Files.readAllBytes(path).sameElements(bytes))
  }

  test("word-list text source lowercases like the reference dictionary load") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_words")
    java.nio.file.Files.writeString(tmp.resolve("en.txt"), "Alpha\nBETA\ngamma\n")
    val words = Sources.readWordList(spark, tmp.resolve("en.txt").toString)
      .as[String].collect().toSet
    assert(words === Set("alpha", "beta", "gamma"))
  }
}
