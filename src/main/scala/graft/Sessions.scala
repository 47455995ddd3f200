package graft

import org.apache.spark.sql.SparkSession

/** One place to build the library's local-mode sessions (Bench / Verify /
  * Smoke / ScaleSmoke / Plans / tests) so engine-level tuning lands
  * everywhere at once.
  */
object Sessions {

  /** ObjectHashAggregate falls back to SORT-based aggregation once a
    * partition's in-memory hash map exceeds this many groups — and Spark's
    * default is 128. Every typed-Aggregator query grouping by a
    * high-cardinality key (q43 groups by doc_id: ~50k groups at sf0.1)
    * blows past 128 immediately, so the "bounded top-k, no buried sort"
    * plan was still sorting the full input per partition with
    * kryo-serialized buffers. Measured on sf0.1/local[32], warm:
    * 0.94–1.39 s at the default vs 0.79 s raised; cold 3.46 s vs 0.87 s —
    * and the sort+spill path is what a contended host amplifies (BENCH_r05
    * recorded q43 at 5.04 s driver-warm).
    *
    * 256k covers this suite's group-per-partition counts with ~16×
    * headroom (10× smoke: ~16k groups/partition) while bounding worst-case
    * hash-map memory: our top-k buffers are ≤k tuples (~150 B), so 256k
    * groups ≈ 40 MB/partition. At true 100 TB scale, partitions sized to
    * ~128 MB keep group counts in the low millions — raise this with the
    * partition budget, or leave the sort fallback as the spill-safe path
    * for aggregates with unbounded buffers (collect_list).
    */
  val ObjectHashFallbackGroups = 262144

  /** Capacity of Spark's JVM-wide generated-class cache (set in
    * `builder`; Spark's default is 100 entries). Every miss is a Janino
    * compile plus a freshly loaded class that HotSpot JITs from scratch.
    * The cache keys on the generated source and the compiling thread's
    * class loader, so most operators take two entries (driver thread and
    * task thread). At the default each pass evicted what the next one
    * needed: a warm benchmark pass recompiled 140–160 classes.
    *
    * The bound covers the `SparkEntry.queries` surface, not the data: one
    * pass of all 128 queries compiles 1,640 entries at sf0.001 and 1,630
    * at sf0.1 (`CodegenMetrics.METRIC_COMPILATION_TIME` count in a fresh
    * JVM); 4096 leaves 2.5× headroom for new queries and AQE plan
    * variants. Cost, measured after that pass at sf0.001 and two full GCs
    * against a 100-entry run of the same pass: +47 MB heap (each key
    * holds its full generated source) and +15 MB metaspace and class
    * space, about 37 KB per entry, so ≈150 MB if the cache ever fills.
    *
    * Static conf: Spark sizes the cache once per JVM, from `SQLConf.get`
    * when `CodeGenerator` is first loaded, so it must be set here on the
    * builder — `spark.conf.set` after start has no effect.
    */
  val CodegenCacheEntries = 4096

  /** Configured builder; callers add master-specific overrides then
    * `getOrCreate()`.
    */
  def builder(cpus: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        ObjectHashFallbackGroups.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    // A/B experiment knob: "key=value;key=value" applied last, so config
    // hypotheses (AQE on/off, thresholds) can be measured without code
    // edits. Unset in normal operation — the committed defaults above are
    // the engine's configuration. Because this builder also backs Verify
    // and the tests, an inherited env var could silently skew a
    // correctness run — so every application is announced LOUDLY on
    // stderr, making a conf-tainted verification self-evident in its log.
    val overrides = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';').toSeq).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k.trim, v.trim) }
    if (overrides.nonEmpty)
      System.err.println(
        overrides.map { case (k, v) => s"$k=$v" }
          .mkString("[graft] SPARK_GRAFT_CONF OVERRIDES ACTIVE: ", "; ", ""))
    overrides.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
  }

  /** Build, quiet the logs, and register the custom planner extensions.
    * `appName` is the one per-caller knob (tests want a distinct name);
    * everything else is engine-level and must not fork per caller.
    */
  def start(cpus: String, logLevel: String = "WARN",
      appName: String = "graft"): SparkSession = {
    val spark = builder(cpus).appName(appName).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.plans.GraftExtensions.register(spark)
    spark
  }
}
