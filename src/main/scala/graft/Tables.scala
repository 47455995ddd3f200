package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver-generated test data
  * (see TESTDATA.md). One loader per table; schemas are whatever the
  * parquet footers declare — we never infer beyond that.
  *
  * At 100 TB these would be partitioned/bucketed external tables; the
  * loaders stay the single choke point where that changes.
  */
object Tables {

  /** Footer-inferred schemas by (session, path, file stamp, reader confs).
    * Inference is a one-task Spark job (`mergeSchemasInParallel`) per
    * `spark.read.parquet`; a memo hit reads with the schema supplied and
    * launches none. The stamp lists the table's files (name, length,
    * mtime), so a table rewritten in place — new part files — misses and
    * is inferred afresh. Only these read-only inputs go through here:
    * program-written stores read elsewhere infer on every read. Keyed by
    * the table's path, not its dir, so `Caches.indexKeys(spark, dir)`
    * counts the structures derived from a dir and not its schemas.
    */
  private[graft] val schemaMemo = Artifact.value[StructType]("Tables.schemaMemo", Artifact.Index)

  /** The parquet reader confs that change what inference returns. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** (name, length, mtime) of every file at `path`; "" when it does not
    * exist, so the read itself reports the missing path as before.
    */
  private def fileStamp(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(p).toSeq
      .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}").sorted.mkString(",")
    catch { case _: java.io.FileNotFoundException => "" }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaMemo(spark, path, fileStamp(spark, path),
      SchemaConfs.map(c => spark.conf.getOption(c)).mkString(","))(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  /** `events.parquet` has shipped with two generations of `ts` physical
    * type, and this loader normalizes BOTH to a session-zone (UTC)
    * microsecond TIMESTAMP so every downstream operator and the DuckDB
    * oracle agree on instants:
    *
    *  - TIMESTAMP(NANOS) int64 (generations ≤ round 9): Spark's reader
    *    only surfaces nanos via the session-wide `nanosAsLong` legacy
    *    flag, so the column arrives as BIGINT and we floor-div to µs —
    *    measured to be EXACTLY DuckDB 1.0's ns→µs cast truncation
    *    including pre-1970 values (-1500 ns → -1 µs, -999 ns → 0 µs).
    *  - native timestamp[us], isAdjustedToUTC=false (round-10
    *    regeneration): Spark reads TIMESTAMP_NTZ; the cast to TIMESTAMP
    *    interprets the naive value in the session zone (pinned UTC in
    *    Sessions.builder), which is bit-identical to DuckDB's naive read
    *    compared in UTC. No precision change — both generations land on
    *    the same µs grain.
    *
    * Side effect: still sets `nanosAsLong` (harmless for µs files), so a
    * nanos-generation file read later in the same session also works.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      // already a session-zone timestamp: the only other correct generation
      case TimestampType => raw
      // fail loudly on any third generation (e.g. int64-millis surfacing as
      // LongType would be misread by the nanos branch; an unknown logical
      // type would silently skip normalization and shift every instant)
      case other => throw new IllegalStateException(
        s"events.ts has unrecognized physical type $other; " +
          "add an explicit normalization branch before trusting instants")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
