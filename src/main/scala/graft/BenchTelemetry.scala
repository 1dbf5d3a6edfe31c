package graft

import java.util.Locale
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one measurement module of the dev tools ([[Bench]] and its modes):
  * host telemetry, one stage-metrics listener, one exact listener-bus
  * drain, and one measuring loop ([[measure]]).
  *
  * Three pollution signatures show up on the shared driver machine, and
  * each needs its own field because each is blind to the others:
  *   - foreign load (la): 1-min loadavg >> the bench's own thread count;
  *   - inconsistent reps (spread): deterministic work timed >1.5x apart;
  *   - CPU STEAL (cw): the hypervisor deschedules the whole VM, so wall
  *     grows while the process accrues no CPU — loadavg stays LOW (the
  *     runqueue is empty, the machine just isn't running) and reps agree
  *     (the steal is sustained), which is exactly the r17 x_rollup case
  *     (16x slow, la=1.3, spread=1.08) the first two fields missed.
  *     cw = process-CPU-time / wall of the quoted (min) rep: any Spark
  *     query through the noop sink keeps >= 1 core busy end-to-end, so a
  *     healthy local-mode rep has cw >= ~1; cw << 1 means the process
  *     spent most of the wall not scheduled at all.
  * Run-level /proc/stat steal+iowait deltas corroborate machine-wide.
  */
object BenchTelemetry {
  def la1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Cumulative CPU nanos of THIS JVM (all threads — in local[n] mode the
    * executor pool is in-process, so this covers the actual query work). */
  def procCpuNanos(): Long =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    } catch { case _: Throwable => -1L }

  /** Machine-wide (steal, iowait, total) jiffies from /proc/stat line 1:
    * cpu user nice system idle iowait irq softirq steal guest guest_nice.
    * Total sums only user..steal (first 8 fields): the kernel already
    * folds guest/guest_nice into user, so summing all fields would
    * double-count guest time and understate steal%/iowait% on hosts
    * running nested guests. */
  def cpuJiffies(): Option[(Long, Long, Long)] =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      Some((f.lift(7).getOrElse(0L), f.lift(4).getOrElse(0L), f.take(8).sum))
    } catch { case _: Throwable => None }

  /** steal%/iowait% of total machine jiffies between two cpuJiffies()
    * samples; (-1,-1) when /proc/stat is unreadable. */
  def stealIowaitPct(start: Option[(Long, Long, Long)],
                     end: Option[(Long, Long, Long)]): (Double, Double) =
    (start, end) match {
      case (Some((s0, w0, t0)), Some((s1, w1, t1))) if t1 > t0 =>
        (100.0 * (s1 - s0) / (t1 - t0), 100.0 * (w1 - w0) / (t1 - t0))
      case _ => (-1.0, -1.0)
    }

  /** Locale-pinned decimal formatting: the f-interpolator uses the JVM
    * default locale, which under a comma-decimal locale would emit
    * invalid JSON (1,234 instead of 1.234). */
  def fmt(v: Double, places: Int): String =
    String.format(Locale.ROOT, s"%.${places}f", Double.box(v))

  /** Drop EVERY cached block in the session: the catalog cache (persist()
    * frames, freed by clearCache) AND directly-persisted RDD blocks —
    * localCheckpoint() pins its partitions as storage blocks that
    * clearCache cannot see, so a long entry sequence accumulates them
    * until GC/ContextCleaner gets around to it (the r19 32-core-timeout
    * suspect). Safe at an entry boundary: every bench rep rebuilds its
    * frames from scratch, so no live computation references the dropped
    * blocks. Unpersist is non-blocking — the subsequent listener drain /
    * query start gives the cleanup time to land. */
  def freeCachedBlocks(spark: org.apache.spark.sql.SparkSession): Unit = {
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    try spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    catch { case _: Throwable => () }
  }

  /** Number of RDDs currently holding storage blocks — the per-entry
    * trail for the block-accumulation failure mode: if this climbs
    * monotonically across entries, cleanup is not keeping up. */
  def storageBlocks(spark: org.apache.spark.sql.SparkSession): Int =
    try spark.sparkContext.getPersistentRDDs.size
    catch { case _: Throwable => -1 }

  /** Registers `l` on the session's listener bus. The one registration
    * point of the mains, so every listener they add is covered by
    * [[drain]]. */
  def listen[L <: SparkListener](spark: SparkSession, l: L): L = {
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Blocks until the asynchronous listener bus has delivered every event
    * posted so far — so stage totals read after it are complete. Exact,
    * unlike polling for counters to hold still: a bus stall longer than
    * the quiet window read as "done" and truncated the last rep's totals.
    * A bus still busy after `timeoutMs` is reported, not waited on. */
  def drain(spark: SparkSession, timeoutMs: Long = 30000): Unit =
    try org.apache.spark.sql.graftbridge.ListenerBusBridge
      .waitUntilEmpty(spark.sparkContext, timeoutMs)
    catch { case e: java.util.concurrent.TimeoutException =>
      System.err.println(s"[bench] listener bus not drained: ${e.getMessage}")
    }

  /** One completed stage's task-metric totals. Two of them are the axes
    * that survive both CPU steal and foreign load (wall is noise-bound in
    * both directions on a shared machine, so runs cannot be COMPARED
    * through a steal era on wall alone):
    *   - `shufRec`, shuffle-write records: a property of the PLAN,
    *     bit-identical across machines and rounds for unchanged code+data;
    *   - `cpuNs`, executor CPU (TaskMetrics.executorCpuTime): work
    *     actually burned, unchanged when the JVM is descheduled, and
    *     measured on the EXECUTOR side, so it stays meaningful under
    *     local-cluster where the driver's own CPU says nothing.
    * The volumes (input, shuffle, spill, peak execution memory) make a
    * growth curve across fixtures attributable: time ratios alone hide a
    * superlinear candidate blowup behind fixed job overhead. */
  final case class StageRow(id: Int, name: String, tasks: Int, cpuNs: Long,
      runMs: Long, gcMs: Long, inRec: Long, inBytes: Long, shufReadRec: Long,
      shufRec: Long, shufBytes: Long, memSpill: Long, diskSpill: Long,
      peakMem: Long)

  /** Records every completed stage; [[take]] hands over and clears. */
  final class StageListener extends SparkListener {
    private val rows = new ConcurrentLinkedQueue[StageRow]
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val i = ev.stageInfo
      val m = i.taskMetrics
      if (m != null) rows.add(StageRow(i.stageId,
        i.name.linesIterator.nextOption().getOrElse(""), i.numTasks,
        m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
        m.diskBytesSpilled, m.peakExecutionMemory))
    }
    def take(): Vector[StageRow] = {
      val b = Vector.newBuilder[StageRow]
      var r = rows.poll()
      while (r != null) { b += r; r = rows.poll() }
      b.result()
    }
  }

  /** One measured rep: wall seconds and this JVM's CPU seconds. */
  final case class Rep(wall: Double, cpuS: Double)

  /** What [[measure]] saw for one query. `reps` holds only the reps that
    * succeeded; `stages` the stages of every measured rep. */
  final case class Measurement(name: String, warm: Option[Double],
      reps: Seq[Rep], failed: Int, la: Double, stages: Seq[StageRow],
      outRows: Option[Long], error: Option[String]) {
    private val quoted = reps.minByOption(_.wall)
    /** Min of the reps, or -1 when none succeeded: the explicit error
      * marker, never a fabricated elapsed time. */
    def min: Double = quoted.fold(-1.0)(_.wall)
    /** CPU of the quoted min rep: the min is the quoted number, so its own
      * rep must be the one to self-convict. */
    def cpuS: Double = quoted.fold(-1.0)(_.cpuS)
    def cw: Double = if (min > 0 && cpuS >= 0) cpuS / min else -1.0
    /** max/min across reps: reps of the same lazy plan are deterministic
      * work, so reps that disagree badly were timed on a busy machine. */
    def spread: Double =
      if (reps.size >= 2) reps.map(_.wall).max / reps.map(_.wall).min else 1.0
    /** Rep 1 runs right after every cached block was dropped. */
    def coldS: Double = reps.headOption.fold(-1.0)(_.wall)
    /** Per-rep stage total of `f` (the per-rep volumes are deterministic —
      * same plan, same data — so total / reps attributes exactly). */
    def perRep(f: StageRow => Long): Long =
      if (reps.isEmpty) -1L else stages.map(f).sum / reps.size
    def shufRec: Long = perRep(_.shufRec)
    def xcpuS: Double =
      if (reps.isEmpty) -1.0 else stages.map(_.cpuNs).sum / 1e9 / reps.size
    def peakMem: Long = stages.map(_.peakMem).maxOption.getOrElse(0L)
  }

  /** The measuring loop: one unmeasured warm-up (Janino codegen + JIT —
    * ~15 s for the widest aggregates, irrelevant at cluster scale), then
    * every cached block is dropped and `reps` reps are timed through the
    * noop sink (a bare .count() would let Catalyst prune the projection).
    * Dropping the blocks makes rep 1 a true cold run: the warm-up fills
    * operator-internal persist() caches, and CacheManager dedupes by
    * logical plan, so later reps would otherwise scan the warm-up's
    * InMemoryRelation. Blocks are dropped again at the end so pinned
    * blocks cannot accumulate across queries (measured: x_setsim_join
    * 7.2 s late in the bench sequence vs 3.2 s in isolation).
    *
    * A failing rep is logged and left out of the min: it returns FAST, and
    * blended into the min it would LOWER the headline of an otherwise
    * healthy entry. With `countRows` the result is counted once more after
    * the timed reps, untimed and outside the stage totals. */
  def measure(spark: SparkSession, stages: StageListener, name: String,
              query: () => DataFrame, reps: Int,
              countRows: Boolean = false): Measurement = {
    var error = Option.empty[String]
    def once(): Option[Rep] = {
      val t0 = System.nanoTime()
      val c0 = procCpuNanos()
      try {
        query().write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val c1 = procCpuNanos()
        Some(Rep(wall, if (c0 >= 0 && c1 >= c0) (c1 - c0) / 1e9 else -1.0))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name: $e")
        if (error.isEmpty) error = Some(e.toString)
        None
      }
    }
    val warm = once().map(_.wall)
    drain(spark)
    stages.take() // warm-up stages stay out of the measured totals
    freeCachedBlocks(spark)
    val la = la1() // sampled between queries: foreign load >> cpus
    val runs = (1 to reps).flatMap(_ => once())
    drain(spark)
    val rows = stages.take()
    val outRows =
      if (countRows && runs.nonEmpty) scala.util.Try(query().count()).toOption
      else None
    freeCachedBlocks(spark)
    Measurement(name, warm, runs, reps - runs.size, la, rows, outRows, error)
  }
}
