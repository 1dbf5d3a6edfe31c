package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing from outside the library: named spans around the
  * calls into each module, a SparkListener + QueryExecutionListener for
  * Spark's own layers, and JVM MXBeans. Everything stays in memory and is
  * written out when the run ends. When `on` is false every entry point is
  * a pass-through, so the untraced run carries no tracing work. */
object Trace {
  @volatile var on = false

  final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, op: Int)

  /** Layer totals of one measured operation (a tick, or one query run). */
  final class OpStat(val op: Int, val name: String) {
    var wallMs = 0.0
    var planMs = 0.0
    var executions = 0L
    var compiles = 0L
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var gapMs = 0.0
    var taskRunMs = 0.0
    var taskCpuMs = 0.0
    var deserMs = 0.0
    var oneTaskStageMs = 0.0
    var shufWriteBytes = 0.0
    var shufReadBytes = 0.0
    var shufRecords = 0.0
    var fetchWaitMs = 0.0
    var spillDiskBytes = 0.0
    var peakExecBytes = 0.0
    var gcMs = 0.0
    var jitMs = 0.0
    var procCpuMs = 0.0
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[OpStat]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  private val stack = mutable.Stack.empty[Int]
  @volatile private var current: OpStat = _
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private var session: SparkSession = _

  def count(name: String, v: Double): Unit =
    if (on) counters(name) = counters.getOrElse(name, 0.0) + v

  private val pending = mutable.ArrayBuffer.empty[(String, () => Double)]

  /** A count that costs work of its own (a Spark job, a file listing): it
    * runs after the current op closes, so neither its time nor its jobs
    * are attributed to the op. */
  def later(name: String)(v: => Double): Unit =
    if (on && current != null) pending += ((name, () => v))

  def span[T](name: String)(body: => T): T =
    if (!on || current == null) body
    else {
      val parent = if (stack.isEmpty) -1 else stack.top
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L, parent, current.op)
      stack.push(idx)
      try body
      finally {
        stack.pop()
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }

  /** Run one measured operation; returns the wall and CPU time of its body.
    * Traced, the op opens a root span and its Spark/JVM deltas are
    * attributed to it (the bus is drained at the end so every event lands
    * before the next op); the deferred counts run after it closes. */
  def op(name: String)(body: => Unit): OpTime = {
    if (!on) return OpTime.measure(name)(body)
    val st = new OpStat(ops.size + 1, name)
    pending.clear()
    val gc0 = gcMs(); val jit0 = jitMs(); val cpu0 = procCpuMs()
    val cg0 = compileCount()
    current = st
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val time =
      try OpTime.measure(name)(span(name)(body))
      finally {
        val wall = (System.nanoTime() - t0) / 1e6
        val endMs = System.currentTimeMillis()
        org.apache.spark.BusDrain(session.sparkContext)
        current = null
        st.wallMs = wall
        st.gcMs = gcMs() - gc0; st.jitMs = jitMs() - jit0
        st.procCpuMs = procCpuMs() - cpu0
        st.compiles = compileCount() - cg0
        st.gapMs = wall - unionMs(st.jobIntervals.toSeq, startMs, endMs)
        ops += st
      }
    pending.foreach { case (n, v) => count(n, v()) }
    pending.clear()
    // the deferred counts' own events must land while no op is current
    org.apache.spark.BusDrain(session.sparkContext)
    time
  }

  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var covered = 0L; var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered.toDouble
  }

  private val listener = new SparkListener {
    private val stageOp = mutable.HashMap.empty[Int, OpStat]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val st = current
      if (st != null) {
        jobStart(e.jobId) = e.time; st.jobs += 1
        e.stageIds.foreach(stageOp(_) = st)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val st = current
      jobStart.remove(e.jobId).foreach(t0 => if (st != null) st.jobIntervals += ((t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageOp.remove(e.stageInfo.stageId).foreach { st =>
        st.stages += 1
        val i = e.stageInfo
        if (i.numTasks == 1)
          for (a <- i.submissionTime; b <- i.completionTime) st.oneTaskStageMs += b - a
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val st = stageOp.getOrElse(e.stageId, current)
      val m = e.taskMetrics
      if (st != null && m != null) {
        st.tasks += 1
        st.taskRunMs += m.executorRunTime
        st.taskCpuMs += m.executorCpuTime / 1e6
        st.deserMs += m.executorDeserializeTime
        st.shufWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.shufRecords += m.shuffleWriteMetrics.recordsWritten
        st.shufReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spillDiskBytes += m.diskBytesSpilled
        st.peakExecBytes = math.max(st.peakExecBytes, m.peakExecutionMemory.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val st = current
      if (st != null) synchronized {
        st.executions += 1
        st.planMs += Seq("analysis", "optimization", "planning")
          .flatMap(p => qe.tracker.phases.get(p)).map(_.durationMs).sum
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Attach the listeners to `spark` and switch tracing on. */
  def attach(spark: SparkSession): Unit = {
    session = spark
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  def jitMs(): Double =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)
  def procCpuMs(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => 0.0
  }
  def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  def compileCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Per-span self time (span minus its children), summed by name. */
  def selfTimesMs(opFilter: Int => Boolean = _ => true): Map[String, Double] = {
    val child = Array.fill(spans.size)(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.endNs - s.startNs)
    spans.indices.filter(i => opFilter(spans(i).op)).groupBy(i => spans(i).name).map {
      case (n, is) => n -> is.map(i => (spans(i).endNs - spans(i).startNs - child(i)) / 1e6).sum
    }
  }

  /** Layer metrics averaged per traced operation. */
  def layerMetrics(): Map[String, Double] = {
    val n = ops.size.max(1).toDouble
    def per(f: OpStat => Double) = ops.map(f).sum / n
    val wall = ops.map(_.wallMs).sum.max(1e-9)
    Map(
      "catalyst.plan_ms" -> per(_.planMs),
      "catalyst.executions" -> per(_.executions.toDouble),
      "codegen.compiles" -> per(_.compiles.toDouble),
      "sched.jobs" -> per(_.jobs.toDouble),
      "sched.stages" -> per(_.stages.toDouble),
      "sched.tasks" -> per(_.tasks.toDouble),
      "sched.driver_gap_ms" -> per(_.gapMs),
      "task.run_ms" -> per(_.taskRunMs),
      "task.cpu_ms" -> per(_.taskCpuMs),
      "task.deser_ms" -> per(_.deserMs),
      "task.parallelism" -> ops.map(_.taskRunMs).sum / wall,
      "task.one_task_stage_ms" -> per(_.oneTaskStageMs),
      "shuffle.write_bytes" -> per(_.shufWriteBytes),
      "shuffle.read_bytes" -> per(_.shufReadBytes),
      "shuffle.records" -> per(_.shufRecords),
      "shuffle.fetch_wait_ms" -> per(_.fetchWaitMs),
      "spill.disk_bytes" -> per(_.spillDiskBytes),
      "mem.peak_exec_mb" -> (if (ops.isEmpty) 0.0 else ops.map(_.peakExecBytes).max / 1048576.0),
      "jvm.gc_ms" -> per(_.gcMs),
      "jvm.jit_ms" -> per(_.jitMs),
      "jvm.codecache_mb" -> codeCacheMb(),
      "driver.cpu_ms" -> per(o => o.procCpuMs - o.taskCpuMs))
  }

  /** Spans, ops, counters and the layer metrics measured (`layers`) as one
    * JSON document. */
  def dump(path: java.nio.file.Path, layers: Map[String, Double]): Unit = {
    val sb = new StringBuilder("{\"spans\":[")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb += ','
      sb ++= s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}"""
    }
    sb ++= "],\"ops\":["
    ops.zipWithIndex.foreach { case (o, i) =>
      if (i > 0) sb += ','
      sb ++= s"""{"op":${o.op},"name":"${o.name}","wall_ms":${o.wallMs},"plan_ms":${o.planMs},""" +
        s""""executions":${o.executions},"jobs":${o.jobs},"stages":${o.stages},"tasks":${o.tasks},""" +
        s""""gap_ms":${o.gapMs},"task_run_ms":${o.taskRunMs},"task_cpu_ms":${o.taskCpuMs},""" +
        s""""proc_cpu_ms":${o.procCpuMs},"gc_ms":${o.gcMs},"jit_ms":${o.jitMs}}"""
    }
    sb ++= "],\"counters\":{"
    sb ++= counters.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    sb ++= "},\"layers\":{"
    sb ++= layers.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    sb ++= "}}\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
