package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Caches, Sessions, SparkEntry}

/** One benchmark run in a fresh JVM: start a `local[cores]` session,
  * scan the workload's tables, fill its INDEX artifacts, then time one
  * cold pass and warm passes (for at least `seconds`, at least two) over
  * the workload's queries. `Caches.clearResultMemos` runs between passes.
  * A single driver thread issues the queries in a seed-fixed order
  * (closed loop, one client). Warm passes execute each query through the
  * noop sink; the cold pass writes each query's output as parquet, the
  * files perfbench/run.py compares with the DuckDB oracle after the run,
  * so no extra execution is needed for the check. Everything measured is
  * written to `<out>/result.json`; with `--trace 1` the spans go to
  * `<out>/trace.json` and Spark's listener counters are collected.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *   --dir <input dir> --out <result dir> --cores C
  */
object Harness {
  val PhaseProp = "perfbench.phase"
  val SpanProp = "perfbench.span"

  def noop(name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()
  def writeParquet(dir: String)(name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name")

  final case class QueryRun(name: String, wall: Double, cpu: Double, ok: Boolean)
  final case class Pass(kind: String, wall: Double, cpu: Double,
      queries: Seq[QueryRun], counters: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val jvmUptimeAtMain = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val dir = opts("dir")
    val out = opts("out")
    val cores = opts("cores")
    val tracer = new Tracer(opts("trace") == "1")
    val listener = if (tracer.enabled) Some(new PhaseListener(tracer)) else None
    Files.createDirectories(Paths.get(s"$out/verify"))

    val queries = workload.resolved
    val order = new scala.util.Random(seed).shuffle(queries)
    val fns = SparkEntry.queries

    // ---- setup: session, table scans, INDEX-artifact fills ----
    var setupSteps = 0
    var setupFailures = 0
    val setupTimes = mutable.LinkedHashMap.empty[String, Double]
    val (spark, _) = tracer.timed("setup") {
      val (spark, sessionS) = tracer.timed("session")(Sessions.start(cores))
      setupTimes("sessions.start_s") = sessionS
      val sc = spark.sparkContext
      sc.setLocalProperty(PhaseProp, "setup")
      def step(name: String)(body: => Any): Double = {
        setupSteps += 1
        val t0 = tracer.now
        try tracer.timed(name) {
          sc.setLocalProperty(SpanProp, tracer.current.toString); body
        }._2
        catch { case e: Throwable =>
          setupFailures += 1
          System.err.println(s"[perfbench] setup step $name failed: $e")
          tracer.now - t0
        }
      }
      listener.foreach(sc.addSparkListener)
      workload.tables.foreach(t => setupTimes(s"tables.scan_s.$t") =
        step(s"scan:$t")(Workloads.scan(spark, dir, t)))
      workload.fills.foreach { case (name, fill) =>
        setupTimes(s"caches.fill_s.$name") = step(s"fill:$name")(fill(spark, dir))
      }
      spark
    }
    val sc = spark.sparkContext
    val planEvents = mutable.ArrayBuffer.empty[QueryExecution]
    if (tracer.enabled) spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        planEvents.synchronized { planEvents += qe }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    val indexKeysAfterSetup = Caches.indexKeys(spark, dir)
    val setupS = jvmUptimeAtMain + tracer.now

    // ---- timed passes ----
    def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(sc)
    def storage(): Map[String, Double] = {
      val info = sc.getRDDStorageInfo
      Map("caches.rdds" -> info.length.toDouble,
        "caches.mem_mb" -> info.map(_.memSize).sum / 1048576.0,
        "caches.disk_mb" -> info.map(_.diskSize).sum / 1048576.0)
    }
    def runQuery(name: String, module: String, sums: mutable.Map[String, Double],
        sink: (String, DataFrame) => Unit): QueryRun = {
      sc.setJobGroup(name, name, interruptOnCancel = false)
      val t0 = tracer.now
      val cpu0 = JvmCounters.cpuSeconds
      val ok = try {
        tracer.timed(s"query:$name") {
          val query = tracer.current
          val (df, buildS) = tracer.timed("build") {
            sc.setLocalProperty(SpanProp, tracer.current.toString)
            fns(name)(spark, dir)
          }
          val exec = tracer.reserve()
          sc.setLocalProperty(SpanProp, exec.toString)
          val seen = planEvents.synchronized(planEvents.size)
          val w0 = tracer.now
          sink(name, df)
          val w1 = tracer.now
          sums("operators.build_s") = sums.getOrElse("operators.build_s", 0.0) + buildS
          if (tracer.enabled) {
            // the noop write plans its own command; its planning tracker
            // is the plan layer (forcing executedPlan on `df` first would
            // plan the query twice)
            drain()
            val phases = planEvents.synchronized(planEvents.drop(seen).lastOption)
              .map(_.tracker.phases).getOrElse(Map.empty)
            phases.foreach { case (phase, p) =>
              val k = s"planner.${phase}_s"
              sums(k) = sums.getOrElse(k, 0.0) + p.durationMs / 1e3
            }
            val p0 = (w0 +: phases.values.map(p => tracer.fromEpochMs(p.startTimeMs)).toSeq).max
            val p1 = math.min(w1, (p0 +: phases.values.map(p => tracer.fromEpochMs(p.endTimeMs)).toSeq).max)
            tracer.add("plan", query, p0, p1)
            tracer.add("exec", query, p1, w1, exec)
          }
        }
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
      }
      val wall = tracer.now - t0
      val k = s"operators.$module.s"
      sums(k) = sums.getOrElse(k, 0.0) + wall
      QueryRun(name, wall, JvmCounters.cpuSeconds - cpu0, ok)
    }
    def runPass(index: Int): Pass = {
      if (index > 0) Caches.clearResultMemos(spark)
      sc.setLocalProperty(PhaseProp, s"pass$index")
      val sums = mutable.Map.empty[String, Double]
      val jvm0 = JvmCounters.snapshot()
      val cpu0 = JvmCounters.cpuSeconds
      val sink = if (index == 0) writeParquet(s"$out/verify") _ else noop _
      val (runs, wall) = tracer.timed("pass") {
        order.map { case (name, module) => runQuery(name, module, sums, sink) }
      }
      val cpu = JvmCounters.cpuSeconds - cpu0
      val jvm = JvmCounters.delta(jvm0, JvmCounters.snapshot())
      if (tracer.enabled) drain()
      val listened = listener.map(_.phaseTotals(s"pass$index")).getOrElse(Map.empty)
      Pass(if (index == 0) "cold" else "warm", wall, cpu, runs,
        sums.toMap ++ jvm ++ listened ++ storage())
    }
    val passes = mutable.ArrayBuffer(runPass(0))
    val warmStart = tracer.now
    while (passes.size < 3 || tracer.now - warmStart < seconds) passes += runPass(passes.size)
    val fillsInPass = (Caches.indexKeys(spark, dir) -- indexKeysAfterSetup).toSeq.sorted
    if (fillsInPass.nonEmpty)
      System.err.println(s"[perfbench] INDEX artifacts filled during passes: ${fillsInPass.mkString(", ")}")
    // The live heap holds what the last query left reachable, so end on
    // the same tiny query whatever the order was. Spark frees broadcast
    // blocks asynchronously once a collection has found them unreachable:
    // collect, give its cleaner a moment, collect.
    graft.Tables.load(spark, dir, "nation").groupBy("n_regionkey").count()
      .write.mode("overwrite").format("noop").save()
    System.gc()
    Thread.sleep(500)
    System.gc()
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // ---- oracle SQL for the check; queries without one are written a
    // second time (untimed), and run.py requires the same rows twice ----
    sc.setLocalProperty(PhaseProp, "verify")
    sc.clearJobGroup()
    val oracle = SparkEntry.oracleSql
    queries.filterNot(q => oracle.contains(q._1)).foreach { case (name, _) =>
      try writeParquet(s"$out/verify_again")(name, fns(name)(spark, dir))
      catch { case e: Throwable => System.err.println(s"[perfbench] $name failed: $e") }
    }
    Files.writeString(Paths.get(s"$out/verify/oracle_sql.json"), Json.obj(
      queries.flatMap { case (n, _) => oracle.get(n).map(n -> Json.str(_)) }))

    if (tracer.enabled) {
      drain()
      listener.foreach(_.emitStageSpans())
      tracer.close()
      Files.writeString(Paths.get(s"$out/trace.json"), Json.arr(tracer.snapshot.map(s =>
        Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
          "name" -> Json.str(s.name), "start" -> Json.num(s.start),
          "end" -> Json.num(s.end))))))
    }
    val setupListened = listener.map(_.phaseTotals("setup")).getOrElse(Map.empty)
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload.name),
      "seed" -> seed.toString,
      "cores" -> Json.str(cores),
      "dir" -> Json.str(dir),
      "setup_s" -> Json.num(setupS),
      "setup_steps" -> setupSteps.toString,
      "setup_failures" -> setupFailures.toString,
      "setup" -> Json.nums(setupTimes.toSeq ++ setupListened.toSeq.map {
        case (k, v) => s"setup.$k" -> v }),
      "index_keys" -> indexKeysAfterSetup.size.toString,
      "fills_in_pass" -> Json.arr(fillsInPass.map(Json.str)),
      "live_heap_mb" -> Json.num(liveHeapMb),
      "order" -> Json.arr(order.map(q => Json.str(q._1))),
      "passes" -> Json.arr(passes.toSeq.map(p => Json.obj(Seq(
        "kind" -> Json.str(p.kind),
        "wall_s" -> Json.num(p.wall),
        "cpu_s" -> Json.num(p.cpu),
        "queries" -> Json.arr(p.queries.map(q => Json.obj(Seq(
          "name" -> Json.str(q.name), "wall_s" -> Json.num(q.wall), "cpu_s" -> Json.num(q.cpu),
          "ok" -> q.ok.toString)))),
        "counters" -> Json.nums(p.counters.toSeq.sortBy(_._1))))))))
    Files.writeString(Paths.get(s"$out/result.json"), result)
    spark.stop()
  }
}

/** Minimal JSON writer for the harness's result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else String.format(Locale.ROOT, "%.9g", Double.box(v))
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(fields: Seq[(String, Double)]): String = obj(fields.map { case (k, v) => k -> num(v) })
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
