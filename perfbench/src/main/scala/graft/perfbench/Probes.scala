package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One traced interval; times are seconds since the run's origin. */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)

/** Span recorder for the benchmark's own calls into each layer. Every
  * call is timed (the metrics need the durations either way); spans are
  * kept in memory only when tracing is on and written out at exit.
  * Single driver thread: parents come from a stack.
  */
final class Tracer(val enabled: Boolean) {
  private val origin = System.nanoTime()
  /** Wall-clock epoch ms at the origin, to place listener-reported times. */
  val originEpochMs: Double = System.currentTimeMillis().toDouble
  private val stack = mutable.Stack[Int](0)
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  // appended from the driver thread and the listener-bus thread
  private val spans = mutable.ArrayBuffer(Span(0, -1, "run", 0.0, 0.0))

  private def record(s: Span): Unit = if (enabled) spans.synchronized { spans += s }
  def snapshot: Seq[Span] = spans.synchronized(spans.toList)

  def now: Double = (System.nanoTime() - origin) / 1e9
  def current: Int = stack.top

  /** Run `body` as a child span of the current one; returns its result
    * and its duration in seconds. A throw still closes the span.
    */
  def timed[A](name: String)(body: => A): (A, Double) = {
    val id = nextId.getAndIncrement()
    val parent = stack.top
    val t0 = now
    stack.push(id)
    try {
      val a = body
      (a, now - t0)
    } finally {
      stack.pop()
      record(Span(id, parent, name, t0, now))
    }
  }

  /** An id for a span whose interval is known only later. */
  def reserve(): Int = nextId.getAndIncrement()

  /** Record an interval measured elsewhere (listener events, planner
    * phases), optionally under an id handed out by [[reserve]].
    */
  def add(name: String, parent: Int, start: Double, end: Double,
      id: Int = reserve()): Int = {
    record(Span(id, parent, name, start, end))
    id
  }

  def fromEpochMs(ms: Long): Double = (ms - originEpochMs) / 1e3

  def close(): Unit = spans.synchronized { spans(0) = spans(0).copy(end = now) }
}

/** Cheap process-wide readings: process CPU, HotSpot JIT and GC time,
  * Spark's codegen compile count and time, and files discovered by
  * Spark's file index. Deltas of these are the per-pass JVM layer.
  */
object JvmCounters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  def snapshot(): Map[String, Double] = Map(
    "codegen.compiles" -> org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_s" -> org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.compileTime / 1e9,
    "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3,
    "tables.files_discovered" -> org.apache.spark.metrics.source.HiveCatalogMetrics
      .METRIC_FILES_DISCOVERED.getCount.toDouble)

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a(k)) }
}

/** Per-phase task, stage and job totals from Spark's listener bus, plus
  * job and stage spans parented by the exec span each job ran under.
  * Jobs carry the phase and the exec span id as local properties set by
  * the harness on the driver thread, so attribution survives the bus's
  * asynchrony.
  */
final class PhaseListener(tracer: Tracer) extends SparkListener {
  private val totals = new ConcurrentHashMap[String, mutable.Map[String, Double]]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, Int, Long, Seq[Int])]()
  private val submitted = ConcurrentHashMap.newKeySet[Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  private def add(phase: String, key: String, v: Double): Unit = {
    val m = totals.computeIfAbsent(phase, _ => mutable.Map.empty[String, Double])
    m.synchronized { m(key) = m.getOrElse(key, 0.0) + v }
  }
  private def max(phase: String, key: String, v: Double): Unit = {
    val m = totals.computeIfAbsent(phase, _ => mutable.Map.empty[String, Double])
    m.synchronized { m(key) = math.max(m.getOrElse(key, 0.0), v) }
  }

  def phaseTotals(phase: String): Map[String, Double] =
    Option(totals.get(phase)).map(m => m.synchronized(m.toMap)).getOrElse(Map.empty)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val phase = props.flatMap(p => Option(p.getProperty(Harness.PhaseProp))).getOrElse("other")
    val span = props.flatMap(p => Option(p.getProperty(Harness.SpanProp))).map(_.toInt).getOrElse(0)
    jobInfo.put(e.jobId, (phase, span, e.time, e.stageIds))
    e.stageIds.foreach(stagePhase.put(_, phase))
    add(phase, "scheduler.jobs", 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submitted.add(e.stageInfo.stageId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val phase = stagePhase.getOrDefault(info.stageId, "other")
    add(phase, "scheduler.stages", 1)
    for (s <- info.submissionTime; c <- info.completionTime)
      stageSpans.synchronized { stageSpans += ((info.stageId, s, c)) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.get(e.jobId)).foreach { case (phase, span, start, stages) =>
      val skipped = stages.count(s => !submitted.contains(s))
      add(phase, "scheduler.stages_planned", stages.size)
      add(phase, "scheduler.stages_skipped", skipped)
      val id = tracer.add("job", span, tracer.fromEpochMs(start), tracer.fromEpochMs(e.time))
      stages.foreach(jobSpan.putIfAbsent(_, id))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val phase = stagePhase.getOrDefault(e.stageId, "other")
    val m = e.taskMetrics
    val info = e.taskInfo
    add(phase, "scheduler.tasks", 1)
    if (m == null) return
    val mb = 1024.0 * 1024.0
    add(phase, "executor.run_s", m.executorRunTime / 1e3)
    add(phase, "executor.cpu_s", m.executorCpuTime / 1e9)
    add(phase, "executor.deser_s", m.executorDeserializeTime / 1e3)
    add(phase, "scheduler.delay_s", math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime) / 1e3)
    max(phase, "executor.peak_mem_mb", m.peakExecutionMemory / mb)
    add(phase, "shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
    add(phase, "shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
    add(phase, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
    add(phase, "spill.mem_mb", m.memoryBytesSpilled / mb)
    add(phase, "spill.disk_mb", m.diskBytesSpilled / mb)
    add(phase, "tables.input_mb", m.inputMetrics.bytesRead / mb)
    add(phase, "tables.input_records", m.inputMetrics.recordsRead.toDouble)
    add(phase, "stored.output_mb", m.outputMetrics.bytesWritten / mb)
    add(phase, "stored.output_records", m.outputMetrics.recordsWritten.toDouble)
  }

  /** Stage spans, each under the first job that listed its stage. Called
    * once at the end, after the bus has drained.
    */
  def emitStageSpans(): Unit = stageSpans.synchronized {
    stageSpans.foreach { case (stage, s, c) =>
      tracer.add("stage", jobSpan.getOrDefault(stage, 0), tracer.fromEpochMs(s),
        tracer.fromEpochMs(c))
    }
  }
}
