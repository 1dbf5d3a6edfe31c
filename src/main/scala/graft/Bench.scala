package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

import BenchTelemetry._

/** The bench and its dev modes, all over the one measuring loop
  * ([[BenchTelemetry.measure]]) against `SPARK_GRAFT_SF_DIR`:
  *
  *   sbt "runMain graft.Bench"                         # the full run
  *   sbt "runMain graft.Bench subset x_setsim_join q_tpch3"
  *   sbt "runMain graft.Bench stages x_pagerank"
  *   sbt "runMain graft.Bench plan [--dump <dir>] q_tpch3"
  *
  * - no arguments: every `SparkEntry.benchNames` entry, min of
  *   `SPARK_GRAFT_REPS` (default 3) reps. stdout ends with ONE totals-only
  *   JSON line of at most 1 KB, so a reader of stdout's tail can parse it
  *   (a line carrying per-query values grew past a 2000-char tail capture
  *   and parsed as null); per-query values and telemetry go to
  *   `SPARK_GRAFT_BENCH_OUT` (default BENCH_LAST.json), rewritten after
  *   EVERY entry so a killed run leaves a per-entry trail.
  * - `subset`: one `[benchsub]` line per query — the load-robust number
  *   to quote when the full run is polluted, plus the volumes that make a
  *   growth curve across fixtures attributable. Run it under a reduced
  *   SPARK_DRIVER_MEM to see whether heavy operators spill instead of
  *   dying. A failing query is reported and the run goes on.
  * - `stages`: one measured rep, printed per stage (executor CPU, run
  *   time, tasks, volumes), so CPU burn is attributable to an operator.
  * - `plan`: executes each query and summarizes the FINAL adaptive plan
  *   (AQE re-plans at runtime; the pre-execution plan is the initial
  *   guess): join strategies, exchanges, reuse, AQE reads, codegen stages,
  *   pushed filters. `--dump <dir>` also writes `<dir>/<query>.txt` with
  *   the formatted plan of EVERY execution the query runs — for the
  *   iterative operators (pageRank, labelPropagation, …) the returned
  *   frame is a vacuous checkpoint scan, and the per-round plans are the
  *   only honest evidence.
  *
  * SPARK_GRAFT_NO_BCAST=1 pins every join to its shuffle form: growth
  * ratios across fixtures are only attributable when both points run the
  * same plan regime (AQE's broadcast->SMJ demotion between scales otherwise
  * reads as superlinear growth — the r16 x_setsim_join lesson).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val b = Session.builder()
    val spark = (if (!sys.env.contains("SPARK_GRAFT_NO_BCAST")) b else b
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val stages = listen(spark, new StageListener)
    try args.toList match {
      case Nil =>
        println(full(spark, stages, sfDir, SparkEntry.benchNames, reps,
          Session.cpus, Paths.get(
            sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json"))))
      case "subset" :: names if names.nonEmpty =>
        subset(spark, stages, sfDir, names, reps).foreach(m => println(subsetLine(m)))
      case "stages" :: names if names.nonEmpty =>
        subset(spark, stages, sfDir, names, 1, countRows = false)
          .foreach(m => stageLines(m).foreach(println))
      case "plan" :: rest if rest.nonEmpty =>
        val (dump, names) = rest match {
          case "--dump" :: dir :: ns => (Some(Paths.get(dir)), ns)
          case ns => (None, ns)
        }
        require(names.nonEmpty, "pass query names")
        names.foreach { n =>
          println(try plan(spark, sfDir, n, dump).line(n)
          catch { case e: Throwable => s"[plan] $n FAILED: ${firstLine(e.toString)}" })
        }
      case _ =>
        sys.error("usage: Bench | Bench subset <q…> | Bench stages <q…> | " +
          "Bench plan [--dump <dir>] <q…>")
    } finally spark.stop()
  }

  /** Measures each named query with the loop; an unknown name or a query
    * that throws comes back as a failed [[Measurement]]. */
  def subset(spark: SparkSession, stages: StageListener, sfDir: String,
             names: Seq[String], reps: Int,
             countRows: Boolean = true): Iterator[Measurement] =
    names.iterator.map(n => measure(spark, stages, n,
      () => SparkEntry.queries(n)(spark, sfDir), reps, countRows))

  private def firstLine(s: String): String =
    s.linesIterator.nextOption().getOrElse("").take(160)

  private def err(m: Measurement): String = firstLine(m.error.getOrElse(""))

  private def mb(bytes: Long): String = fmt(bytes / (1024.0 * 1024.0), 1)

  def subsetLine(m: Measurement): String =
    if (m.reps.isEmpty) s"[benchsub] ${m.name} FAILED: ${err(m)}"
    else s"[benchsub] ${m.name} min=${fmt(m.min, 2)} " +
      s"reps=${m.reps.map(r => fmt(r.wall, 2)).mkString(",")} " +
      s"la=${fmt(m.la, 1)} spread=${fmt(m.spread, 2)} cw=${fmt(m.cw, 2)} " +
      s"cpu_s=${fmt(m.cpuS, 2)} xcpu_s=${fmt(m.xcpuS, 2)} " +
      s"shuf_rec=${m.shufRec} shuf_mb=${mb(m.perRep(_.shufBytes))} " +
      s"in_mb=${mb(m.perRep(_.inBytes))} " +
      s"spill_mb=${mb(m.perRep(_.memSpill))}/${mb(m.perRep(_.diskSpill))} " +
      s"peak_mb=${mb(m.peakMem)} rows=${m.outRows.getOrElse(-1L)}" +
      (if (m.failed > 0) s" failed=${m.failed}: ${err(m)}" else "")

  def stageLines(m: Measurement): Seq[String] =
    if (m.reps.isEmpty) Seq(s"==== ${m.name} FAILED: ${err(m)} ====")
    else s"==== ${m.name} wall=${fmt(m.min, 2)}s ====" +: m.stages.map { s =>
      f"stage=${s.id}%4d tasks=${s.tasks}%3d cpu=${s.cpuNs / 1e9}%7.2f " +
        f"run=${s.runMs / 1e3}%7.2f inRec=${s.inRec}%9d " +
        f"shufR=${s.shufReadRec}%8d shufW=${s.shufRec}%8d " +
        f"gc=${s.gcMs / 1e3}%5.2f name=${s.name.take(90)}"
    } :+ s"==== total stage cpu=${fmt(m.stages.map(_.cpuNs).sum / 1e9, 2)} s ===="

  /** The full run. Returns the totals line; per-entry values and
    * telemetry go to `out`. Three per-entry fields make the artifact
    * SELF-adjudicating, one per pollution signature (see
    * [[BenchTelemetry]]): `la`, `spread`, `cw`; `cpu_s`, `xcpu_s` and
    * `shuf_rec` are the steal-immune axes tools/benchdiff.sh compares
    * first; `cold_s` is rep 1 after every cached block was dropped.
    * Run-level steal/iowait from /proc/stat corroborate machine-wide. */
  def full(spark: SparkSession, stages: StageListener, sfDir: String,
           names: Seq[String], reps: Int, cpus: Int, out: Path): String = {
    val loadStart = la1()
    val jiffiesStart = cpuJiffies()
    val runT0 = System.nanoTime()
    def elapsed(): String = fmt((System.nanoTime() - runT0) / 1e9, 1)
    val done = scala.collection.mutable.ArrayBuffer.empty[Measurement]
    def total: Double = done.map(_.min).filter(_ >= 0).sum // skip -1 markers
    def totalsLine(body: String): String =
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec",$body""" +
        s""""cpus":$cpus,"reps":$reps,"sf":"$sfDir"}"""
    def writeSnapshot(partial: Boolean): Unit = {
      val qs = done.map(m => "\"" + m.name + "\":" + fmt(m.min, 3))
        .mkString("{", ",", "}")
      val tel = done.map { m =>
        "\"" + m.name + "\":{\"la\":" + fmt(m.la, 1) + ",\"spread\":" +
          fmt(m.spread, 2) + ",\"cw\":" + fmt(m.cw, 2) + ",\"cpu_s\":" +
          fmt(m.cpuS, 3) + ",\"xcpu_s\":" + fmt(m.xcpuS, 3) +
          ",\"shuf_rec\":" + m.shufRec + ",\"cold_s\":" + fmt(m.coldS, 3) + "}"
      }.mkString("{", ",", "}")
      val (stealPct, iowaitPct) = stealIowaitPct(jiffiesStart, cpuJiffies())
      val line = totalsLine(
        s""""queries":$qs,"telemetry":$tel,""" +
          s""""load_start":${fmt(loadStart, 2)},"load_end":${fmt(la1(), 2)},""" +
          s""""steal_pct":${fmt(stealPct, 2)},""" +
          s""""iowait_pct":${fmt(iowaitPct, 2)},""" +
          s""""wall_s":${elapsed()},"partial":$partial,""")
      try Files.writeString(out, line + "\n")
      catch { case _: Throwable => () } // read-only cwd must not fail the run
    }
    subset(spark, stages, sfDir, names, reps, countRows = false).foreach { m =>
      if (m.failed > 0)
        System.err.println(s"[bench] ${m.name}: ${m.failed}/$reps measured reps FAILED")
      done += m
      writeSnapshot(partial = true)
      // timestamped per-entry trail: a killed run's stderr says exactly
      // which entry it died in and what each rep cost
      System.err.println(
        s"[bench] t=${elapsed()}s ${m.name} warm=" +
          m.warm.map(fmt(_, 2)).getOrElse("FAIL") +
          s" reps=${m.reps.map(r => fmt(r.wall, 2)).mkString(",")}" +
          s" min=${fmt(m.min, 2)} cold=${fmt(m.coldS, 2)}" +
          s" blocks=${storageBlocks(spark)}")
    }
    writeSnapshot(partial = false)
    totalsLine("")
  }

  /** Operator-shape counts of an executed plan. */
  final case class PlanSummary(bhj: Int, smj: Int, skew: Int, shj: Int,
      bnlj: Int, cart: Int, shuffle: Int, bcast: Int, reuse: Int,
      aqeRead: Int, codegen: Int, pushedFilters: Seq[String]) {
    def joins: Int = bhj + smj + shj + bnlj + cart
    def line(name: String): String =
      s"[plan] $name bhj=$bhj smj=$smj(skew=$skew) shj=$shj bnlj=$bnlj " +
        s"cart=$cart shuffle=$shuffle bcast=$bcast reuse=$reuse " +
        s"aqeRead=$aqeRead codegen=$codegen pushed=${pushedFilters.size}" +
        pushedFilters.map(" " + _).mkString
  }

  /** Every node of the plan, descending through the AQE leaf wrappers
    * (QueryStageExec, AdaptiveSparkPlanExec) — the AqeSkewSpec convention. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case n => n }.flatMap {
      case q: QueryStageExec => q +: allNodes(q.plan)
      case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
      case n => Seq(n)
    }

  def summarize(plan: SparkPlan): PlanSummary = {
    val nodes = allNodes(plan)
    def c(f: PartialFunction[SparkPlan, Unit]) = nodes.count(f.isDefinedAt)
    val smj = nodes.collect { case j: SortMergeJoinExec => j }
    PlanSummary(
      bhj = c { case _: BroadcastHashJoinExec => },
      smj = smj.size, skew = smj.count(_.isSkewJoin),
      shj = c { case _: ShuffledHashJoinExec => },
      bnlj = c { case _: BroadcastNestedLoopJoinExec => },
      cart = c { case _: CartesianProductExec => },
      shuffle = c { case _: ShuffleExchangeExec => },
      bcast = c { case _: BroadcastExchangeExec => },
      reuse = c { case _: ReusedExchangeExec => },
      aqeRead = c { case _: AQEShuffleReadExec => },
      codegen = c { case _: WholeStageCodegenExec => },
      pushedFilters = nodes.collect { case s: FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "[]") }.filter(_ != "[]"))
  }

  /** Executes the query (so AQE finalizes THIS queryExecution) and
    * summarizes its final plan; with `dump`, also writes the formatted
    * plan of every execution it ran to `<dump>/<name>.txt`. */
  def plan(spark: SparkSession, sfDir: String, name: String,
           dump: Option[Path]): PlanSummary = {
    val captured = new ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        captured.add(qe.explainString(ExplainMode.fromString("formatted")))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    if (dump.nonEmpty) spark.listenerManager.register(listener)
    try {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      dump.foreach { dir =>
        drain(spark)
        val plans = captured.asScala.toSeq
        Files.createDirectories(dir)
        Files.writeString(dir.resolve(s"$name.txt"),
          plans.zipWithIndex.map { case (p, i) =>
            s"==== execution ${i + 1} of ${plans.size} ====\n$p"
          }.mkString("\n"))
      }
      summarize(df.queryExecution.executedPlan)
    } finally {
      spark.listenerManager.unregister(listener)
      freeCachedBlocks(spark)
    }
  }
}
