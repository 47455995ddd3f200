package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.runToMemory
import graft.operators.{Events, Sketches, TextAnalysis}
import graft.streaming.StreamingOps

/** Streams agree with the batch operators when fed the same (finite)
  * input — parquet-backed streams drained synchronously. Where a batch
  * kernel runs unchanged over a stream, the test runs THAT kernel over the
  * stream; the StreamingOps per-row forms are checked against their batch
  * queries the same way.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.Sf

  /** The corpus's documents (or only its train split) staged in a temp
    * dir and read back as a file stream.
    */
  private def documentsStream(trainOnly: Boolean = false): DataFrame = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val staged =
      if (!trainOnly) docs
      else docs.join(TextAnalysis.hashSplit(spark, sf)
        .filter($"split" === "train").select("doc_id"), Seq("doc_id"), "left_semi")
    val dir = java.nio.file.Files.createTempDirectory("docs_stream")
      .resolve("docs").toString
    staged.write.parquet(dir)
    spark.readStream.schema(docs.schema).parquet(dir)
  }

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("streaming hourly counts equal batch hourly counts") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.types._
    // mirror Tables.events' generation handling: sniff the stored ts type
    // (nanos int64 in generations ≤ r9, native µs TIMESTAMP_NTZ from r10)
    // and declare the stream schema + normalization to match
    val rawTs = spark.read.parquet(s"$sf/events.parquet").schema("ts").dataType
    val rawSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", rawTs),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // the file-stream source wants a directory: stage the single file
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream0 = spark.readStream.schema(rawSchema).parquet(dir.toString)
    val stream = rawTs match {
      case LongType => stream0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => stream0.withColumn("ts", $"ts".cast(TimestampType))
      case _ => stream0
    }
    // q35's own kernel over the watermarked stream: all four columns,
    // sum_value included
    val got = runToMemory(
      Events.hourlyByType(stream.withWatermark("ts", "2 hours")), "hourly_test")
    assertSameRows(got, Events.hourlyByType(spark, sf))
  }

  test("streaming DSIR scorer is bit-identical to batch q82 on the same corpus") {
    // learn the weight table in batch, ship it as a literal map — the
    // deployment shape the operator documents
    val weights = TextAnalysis.dsirWeightTable(spark, sf)
      .as[(Long, Double)].collect().toMap
    val got = runToMemory(StreamingOps.dsirScore(documentsStream(), weights),
      "dsir_test", mode = "append")
    // EXACT equality, not tolerance: same quantized weights, same integer
    // sum, same final division on both paths
    assertSameRows(got, TextAnalysis.dsirWeights(spark, sf))
  }

  test("streaming PII scrub is bit-identical to batch q110 on the same corpus") {
    val got = runToMemory(TextAnalysis.piiScrub(documentsStream()), "pii_test",
      mode = "append")
    assertSameRows(got, TextAnalysis.piiRedaction(spark, sf))
  }

  test("streaming CMS grid equals the batch q103 cells, cell for cell") {
    val got = runToMemory(StreamingOps.cmsCells(documentsStream()), "cms_test",
      mode = "complete")
    // EXACT cell-for-cell equality: same shingle set (array_distinct per
    // doc == the batch relation's distinct (doc, shingle)), same shared
    // bucket hashes, integer counts
    assertSameRows(got, Sketches.cmsCells(spark, sf))
  }

  test("streaming bloom flags equal batch q102 doc-for-doc on the train split") {
    // the deployment sequence: serialize the filter once in batch, then
    // flag the arriving stream per-row, stateless append mode. Staged is
    // exactly the batch operator's universe: the train split. The one-
    // filter gate masks the raw positions to the blob's 2^18 bits, which
    // is q102's `% BloomBits`
    val bits = Sketches.evalBitsHex(spark, sf)
    val got = runToMemory(
      StreamingOps.bloomFlagMultiStream(documentsStream(trainOnly = true),
        Seq("eval" -> bits)).drop("benchmark"),
      "bloom_flag_test", mode = "append")
    assertSameRows(got, Sketches.bloomDecontamination(spark, sf))
  }

  test("multi-benchmark streaming bloom flags equal batch q125 row-for-row") {
    // serialize every benchmark's filter once in batch, ship as literals
    val benchBits = Sketches.benchBitsHex(spark, sf)
    assert(benchBits.nonEmpty)
    val got = runToMemory(
      StreamingOps.bloomFlagMultiStream(documentsStream(trainOnly = true), benchBits),
      "mbloom_test", mode = "append")
    assertSameRows(got, Sketches.multiBenchDecontamination(spark, sf))
  }

  test("streamed Gopher gate admits exactly the q75 keep-set") {
    // q75's rule kernel over a file stream, as qualityGatedIngest runs it
    val kept = runToMemory(
      TextAnalysis.gopherFlags(documentsStream().select($"doc_id",
        graft.functions.TextFns.tokenize($"text").as("toks")))
        .filter($"keep" === 1L).select("doc_id"),
      "gopher_test", mode = "append")
      .as[Long].collect().toSet
    val want = TextAnalysis.gopherRules(spark, sf)
      .filter(col("keep") === 1L).select("doc_id").as[Long].collect().toSet
    assert(kept.nonEmpty)
    assert(kept === want)
  }

  test("streaming exact-dedup (dropDuplicates on fp) keeps one row per fingerprint") {
    val dir = java.nio.file.Files.createTempDirectory("dedup_stream")
    // duplicate the corpus so the stream really contains dups
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    docs.union(docs).write.mode("overwrite").parquet(dir.toString + "/in")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val deduped = spark.readStream.schema(schema).parquet(dir.toString + "/in")
      .withColumn("fp", md5($"text"))
      .dropDuplicates("fp")
    val got = runToMemory(deduped, "dedup_test", mode = "append")
    assert(got.count() === docs.select(md5($"text")).distinct().count())
  }

  test("SelfDotRule rewrites graft_dot(x,x) and preserves values bit-exactly") {
    import graft.functions.VectorFns
    val e = Tables.embeddings(spark, sf)
      .select(VectorFns.asDouble($"embedding").as("emb"))
    val normed = e.select(VectorFns.dot($"emb", $"emb").as("sq"))
    val plan = normed.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_self_dot"), s"rule did not fire:\n$plan")
    val viaHof = e.select(VectorFns.dotHof($"emb", $"emb").as("sq"))
    assert(normed.exceptAll(viaHof).count() === 0)
  }

  test("StreamingOps defines no hash or regex of its own") {
    // every hash, bucket and regex a stream evaluates comes from the
    // batch objects; comments are stripped, string literals kept (an
    // expr("md5(...)") string counts)
    val f = new java.io.File("src/main/scala/graft/streaming/StreamingOps.scala")
    assert(f.isFile, s"scan found no file at ${f.getPath}")
    val src = TestSpark.stripComments(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    // the stripper must have kept the code, or the scan has gone blind
    assert(src.contains("object StreamingOps"))
    val hits = src.linesIterator.zipWithIndex.collect {
      case (line, n) if Seq("md5(", "conv(", "regexp_").exists(line.contains) =>
        s"${f.getPath}:${n + 1}: ${line.trim}"
    }.toList
    assert(hits === Nil)
  }
}
