package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Wall and process-CPU seconds of one named operation. */
final case class OpTime(name: String, wallS: Double, cpuS: Double)

object OpTime {
  def measure(name: String)(body: => Unit): OpTime = {
    val c0 = Trace.procCpuMs(); val t0 = System.nanoTime()
    body
    OpTime(name, (System.nanoTime() - t0) / 1e9, (Trace.procCpuMs() - c0) / 1e3)
  }
}

/** One workload of the benchmark: how to prepare its inputs, warm up, and
  * run one measured pass made of named operations. */
trait Workload {
  /** Make the inputs the program starts from. Runs once per session, so it
    * must build everything anew each time. */
  def prepare(spark: SparkSession): Unit
  /** One unmeasured warm-up; also where one-off output checks run. */
  def warmUp(spark: SparkSession): Unit
  /** One measured pass: the time of the program's work in it and of each
    * named op, or None when it failed. Checks run outside that time. */
  def pass(spark: SparkSession): Option[(OpTime, Seq[OpTime])]
  /** Workload-specific per-layer values (counters, span self times). */
  def layers(): Map[String, Double]
  def release(): Unit = ()
}

/** Outcome bookkeeping shared by the workloads: every timed operation and
  * every output check is one attempt; a thrown error or a failed check is a
  * failure. */
object Outcome {
  var attempted = 0L
  var failed = 0L
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $what: $e")
        None
    }
  }
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED $what $detail")
    }
  }
}

final case class Opts(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    cpus: Int, work: Path, data: String,
    hashes: Path, record: Option[Path], dump: Option[Path], tiny: Boolean, plant: String,
    minPasses: Option[Int])

object Main {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", req("cpus").toInt, Paths.get(req("work")),
      m.getOrElse("data", ""), Paths.get(req("hashes")),
      m.get("record").map(Paths.get(_)), m.get("dump").map(Paths.get(_)),
      m.getOrElse("tiny", "0") == "1",
      m.getOrElse("plant", "none"), m.get("min-passes").map(_.toInt))
  }

  def session(o: Opts): SparkSession =
    SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toAbsolutePath.toString)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size.max(1))

  /** Largest heap in use right after a garbage collection, in MB: the most
    * memory the run kept live. Updated from GC notifications. */
  @volatile private var peakLiveBytes = 0L

  def watchLiveHeap(): Unit = {
    import java.lang.management.MemoryType
    import scala.jdk.CollectionConverters._
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peakLiveBytes = math.max(peakLiveBytes, live) }
          }
        }, null, null)
      case _ => ()
    }
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  /** An error ends the JVM, which Spark's non-daemon threads would keep
    * alive, with a non-zero code and no result line. */
  def main(args: Array[String]): Unit =
    try run(parse(args))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }

  def run(o: Opts): Unit = {
    watchLiveHeap()
    Files.createDirectories(o.work)
    val w: Workload = o.workload match {
      case "alerts_tick" => new AlertsTick(o)
      case "heavy_sf1" => new QueryWorkload(o, "heavy_sf1", o.data, QueryWorkload.heavy)
      case other => sys.error(s"unknown workload $other")
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session(o)
    spark.sparkContext.setLogLevel("ERROR")
    w.prepare(spark)
    // the cold set-up: JVM start, class loading, session start, inputs
    val coldSetupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val w0 = System.nanoTime()
    w.warmUp(spark)
    val warmUpS = (System.nanoTime() - w0) / 1e9

    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    // A traced run splits the window: untraced passes first, then traced
    // ones, so the tracing overhead is measured inside the same process.
    val traceFrom = if (o.trace) t0 + (o.seconds * 1e9 / 2).toLong else Long.MaxValue
    val passes = mutable.ArrayBuffer.empty[(Boolean, OpTime, Seq[OpTime])]
    val tried = mutable.Map(false -> 0, true -> 0)
    // never fewer than three passes, however short the window
    val minPasses = o.minPasses.getOrElse(3)
    def enough(traced: Boolean) = tried(traced) >= minPasses
    while (System.nanoTime() < deadline || !enough(false) || (o.trace && !enough(true))) {
      val traced = o.trace && System.nanoTime() >= traceFrom && enough(false)
      if (traced && !Trace.on) Trace.attach(spark)
      tried(traced) += 1
      w.pass(spark).foreach { case (whole, ops) => passes += ((traced, whole, ops)) }
    }
    System.err.println("[perfbench] passes wall/cpu " +
      passes.map(p => f"${p._2.wallS}%.2f/${p._2.cpuS}%.2f").mkString(" "))
    val layerExtras = if (o.trace) w.layers() else Map.empty[String, Double]
    Trace.on = false

    // Set-up, nine times after the window, each in a fresh session with its
    // inputs made anew (the background JIT work of the cold start would
    // land in set-ups made before the warm-up). JVM start and class loading
    // are in none of them; the cold set-up is reported per layer.
    val setups = (1 to 9).map { _ =>
      w.release(); spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val s0 = System.nanoTime()
      spark = session(o)
      w.prepare(spark)
      (System.nanoTime() - s0) / 1e9
    }
    System.err.println(f"[perfbench] cold set-up $coldSetupS%.2f warm-up $warmUpS%.2f set-ups " +
      setups.map(x => f"$x%.3f").mkString(" "))
    w.release()
    spark.stop()

    /** Median pass and geometric mean of the per-op medians, by `f`. */
    def summary(traced: Boolean, f: OpTime => Double): (Double, Double) = {
      val ps = passes.filter(_._1 == traced)
      val perOp = ps.flatMap(_._3).groupBy(_.name).values.map(v => median(v.map(f).toSeq)).toSeq
      (median(ps.map(p => f(p._2)).toSeq), geomean(perOp))
    }
    def finite(v: Double) = if (v.isNaN || v.isInfinite) 0.0 else v
    val (passS, geoS) = summary(false, _.wallS)
    val values: Map[String, Double] =
      if (!o.trace) Map(
        "setup_s" -> median(setups),
        "pass_s" -> passS,
        "geomean_s" -> geoS,
        "ok_frac" -> (1.0 - Outcome.failed.toDouble / Outcome.attempted.max(1)))
      else {
        val (tPass, tGeo) = summary(true, _.wallS)
        val (passCpu, geoCpu) = summary(false, _.cpuS)
        val vs = (Trace.layerMetrics() ++ layerExtras ++ Map(
          "cpu.pass_s" -> passCpu,
          "cpu.geomean_s" -> geoCpu,
          "trace.overhead.pass_s" -> (tPass - passS),
          "trace.overhead.geomean_s" -> (tGeo - geoS),
          "trace.traced_passes" -> passes.count(_._1).toDouble,
          "jvm.rss_mb" -> peakRssMb(),
          "jvm.peak_live_heap_mb" -> peakLiveBytes / 1048576.0,
          "setup.cold_s" -> coldSetupS,
          "warmup_s" -> warmUpS)).map { case (k, v) => k -> finite(v) }
        Trace.dump(o.work.resolve(s"trace/${o.workload}-seed${o.seed}.json"), vs)
        vs
      }
    // run.py turns this line into the result line, naming every metric of
    // BENCHMARK.json with its unit.
    val vs = values.toSeq.sortBy(_._1).map { case (n, v) => s""""$n":${finite(v)}""" }.mkString(",")
    println(s"""{"attempted":${Outcome.attempted},"failed":${Outcome.failed},"values":{$vs}}""")
  }
}
