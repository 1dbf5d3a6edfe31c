package graft

import java.security.MessageDigest
import java.sql.Timestamp
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Graceful decommission DURING the 3-stage streaming frontier — the one
  * failure×streaming cross product the batch RetryProbe matrix does not
  * cover. A spot fleet loses executors mid-micro-batch with RocksDB
  * state on board; what must hold is exactly-once SINK output and
  * bit-equal state, not merely "the query survived".
  *
  * Protocol (requires SPARK_GRAFT_MASTER=local-cluster[...] — a
  * decommission is an executor-process event):
  *   1. CLEAN run: [[graft.streaming.Frontier.crawlFrontier]] over the
  *      STREAMBENCH batch shape, N batches, parquet sink (the file sink's
  *      manifest commit is the exactly-once contract under replay) +
  *      checkpoint; record sorted-row hash of the sink + per-operator
  *      state rows.
  *   2. CHAOS run: identical feed, fresh sink/checkpoint; from batch N/3
  *      a watcher thread SIGPWRs the BUSIEST executor (live-task census,
  *      same victim discipline as RetryProbe — a wall-clock kill lands in
  *      planning windows and proves nothing) with shuffle+RDD block
  *      migration on. The standalone worker replaces the executor; the
  *      rescheduled stateful tasks reload their stores from the
  *      checkpoint.
  *   3. Assert: chaos sink EQUALS the clean sink on the exactly-once
  *      axes — row count and the multiset of (chunk_md5, n_tokens) —
  *      plus state rows equal per operator class, and the decommission
  *      actually HAPPENED (decommission-reason ExecutorRemoved, polled —
  *      the victim only exits after its migration drains). Task/fetch
  *      failures are REPORTED not forbidden: a fetch racing the handover
  *      window is expected (spark.stage.ignoreDecommissionFetchFailure
  *      exists for exactly this).
  *
  * Why the multiset projection and not the full-row hash: the frontier's
  * dedup stages keep ONE representative among same-key duplicates
  * (`dropDuplicatesWithinWatermark` semantics — exactly the reference
  * crawl contract), and WHICH duplicate arrives at the state store first
  * is shuffle-read-order racy, so the representative's url/ts/chunk_id/
  * start_tok differ between ANY two runs, chaos or not (measured: a
  * clean-vs-clean pair diverges on 2225/28574 rows while agreeing
  * exactly on the (chunk_md5, n_tokens) multiset — the probe runs this
  * CONTROL every time and reports both axes). Exactly-once under
  * decommission means no chunk key is double-emitted or dropped; pinning
  * a specific representative would assert something even two healthy
  * runs don't share.
  *
  * Usage:
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *     SPARK_GRAFT_MASTER="local-cluster[4,8,4096]" SPARK_GRAFT_CPUS=8 \
  *     sbt "runMain graft.StreamDecomProbe"
  */
object StreamDecomProbe {
  def main(args: Array[String]): Unit = {
    require(sys.env.get("SPARK_GRAFT_MASTER")
      .exists(_.startsWith("local-cluster")),
      "StreamDecomProbe needs SPARK_GRAFT_MASTER=local-cluster[...] " +
        "(decommission is an executor-process event; local mode has none)")
    val batches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "36").toInt
    val rows = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "96").toInt
    val hosts = 97
    val spark = Session.builder()
      .config("spark.sql.streaming.stateStore.providerClass",
        graft.streaming.Frontier.RocksDbProvider)
      .config("spark.decommission.enabled", "true")
      .config("spark.storage.decommission.enabled", "true")
      .config("spark.storage.decommission.shuffleBlocks.enabled", "true")
      .config("spark.storage.decommission.rddBlocks.enabled", "true")
      .config("spark.executor.decommission.forceKillTimeout", "120s")
      .config("spark.stage.ignoreDecommissionFetchFailure", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val taskFailures = new AtomicInteger
    val fetchFailures = new AtomicInteger
    val decomRemovals = new AtomicInteger
    val liveTasks = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    BenchTelemetry.listen(spark, new SparkListener {
      override def onTaskStart(ts: SparkListenerTaskStart): Unit =
        liveTasks.put(ts.taskInfo.taskId, ts.taskInfo.executorId)
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        if (te.reason != org.apache.spark.Success)
          taskFailures.incrementAndGet()
        if (te.reason.isInstanceOf[org.apache.spark.FetchFailed])
          fetchFailures.incrementAndGet()
        if (te.taskInfo != null) liveTasks.remove(te.taskInfo.taskId)
      }
      override def onExecutorRemoved(er: SparkListenerExecutorRemoved): Unit =
        if (er.reason != null &&
          er.reason.toLowerCase.contains("decommission"))
          decomRemovals.incrementAndGet()
    })

    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // the STREAMBENCH batch shape: 70% fresh urls, 30% syndicated
    // same-batch body copies under batch-namespaced paths
    def batch(b: Int): Seq[(Long, String, String, Timestamp)] = {
      val start = (b.toLong * 7 * rows) / 10
      val dup = (3 * rows) / 10
      def body(k: Long): String =
        (0 until 40).map(j => "w" + ((k * 131 + j * 7) % 99991)).mkString(" ")
      (0 until rows).map { i =>
        val k = start + i
        val path = if (i < dup) s"synd/$b/$k" else s"d/$k"
        val u = ((k + b) % 4) match {
          case 0 => s"http://host${k % hosts}.example.com/$path?a=1&b=2"
          case 1 => s"HTTP://Host${k % hosts}.Example.COM:80/$path?b=2&a=1"
          case 2 => s"http://host${k % hosts}.example.com/$path?a=1&b=2&utm_source=x"
          case _ => s"http://host${k % hosts}.example.com/$path?a=1&b=2#frag"
        }
        val txt = if (i < dup) s"hdr$b fresh update " + body(k + dup)
          else body(k)
        (k, u, txt, new Timestamp(base + b * 30L * 60000 + (i % 1800) * 1000L))
      }
    }

    def sigpwrBusiest(fired: AtomicBoolean, cancel: AtomicBoolean): Unit = {
      val appId = spark.sparkContext.applicationId
      val t = new Thread(() => {
        import scala.jdk.CollectionConverters._
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        def busiest(): Option[String] = liveTasks.values.asScala
          .filterNot(_ == "driver").groupBy(identity)
          .view.mapValues(_.size).toSeq.sortBy(-_._2).headOption.map(_._1)
        var victim: Option[String] = None
        while ({
          victim = busiest()
          victim.isEmpty && !cancel.get && System.nanoTime() < deadline
        }) Thread.sleep(10)
        if (cancel.get) victim = None
        victim.foreach { execId =>
          val procs = scala.sys.process.Process(
            Seq("pgrep", "-af", s"CoarseGrainedExecutorBackend.*$appId")).!!
          procs.split("\n").find(_.contains(s"--executor-id $execId "))
            .map(_.trim.split("\\s+")(0)).foreach { pid =>
              System.err.println(s"[sdecom] SIGPWR executor id=$execId " +
                s"pid=$pid (mid-micro-batch, " +
                s"${liveTasks.values.asScala.count(_ == execId)} live tasks)")
              scala.sys.process.Process(Seq("kill", "-PWR", pid)).!
              fired.set(true)
            }
        }
      })
      t.setDaemon(true); t.start()
    }

    case class RunResult(fullHash: String, projHash: String, rows: Long,
                         urls: Long, hostsRows: Long, chunks: Long)
    def run(tag: String, chaos: Boolean): RunResult = {
      val out = s"${sys.props("java.io.tmpdir")}/sdecom_$tag"
      val ckpt = s"$out.ckpt"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      val fin = MemoryStream[(Long, String, String, Timestamp)]
      val fr = graft.streaming.Frontier.crawlFrontier(
        fin.toDF().toDF("fetch_id", "url", "text", "ts"), "url", "text", "ts",
        watermark = "1 hour", windowSeconds = 1800, maxPerWindow = 40,
        k = 3, divisor = 4, maxLen = 8)
      // parquet sink: the file-manifest commit is the exactly-once
      // contract this probe asserts under executor loss
      val q = fr.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).start()
      val fired = new AtomicBoolean(false)
      val cancel = new AtomicBoolean(false)
      (0 until batches).foreach { b =>
        if (chaos && b == batches / 3) sigpwrBusiest(fired, cancel)
        fin.addData(batch(b))
        q.processAllAvailable()
      }
      cancel.set(true)
      if (chaos && fired.get) {
        // the victim exits only after its migration drains — poll
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (decomRemovals.get < 1 && System.nanoTime() < deadline)
          Thread.sleep(250)
      }
      val ops = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
      val hostsRows = ops.filter(_.operatorName.contains("transformWithState"))
        .map(_.numRowsTotal).sum
      // urls/chunks by stateOperators INDEX (plan-order, sink-first —
      // the FrontierSoak identity convention)
      val dedups = ops.zipWithIndex
        .filter(_._1.operatorName.contains("dedupe"))
      require(dedups.size == 2, s"expected 2 dedupe ops, got " +
        ops.map(_.operatorName).mkString(", "))
      val chunks = dedups.head._1.numRowsTotal
      val urls = dedups.last._1.numRowsTotal
      q.stop()
      def md5(xs: Seq[String]): String = {
        val md = MessageDigest.getInstance("MD5")
        xs.foreach(r => md.update(r.getBytes("UTF-8")))
        md.digest().map("%02x".format(_)).mkString
      }
      val full = spark.read.parquet(out).collect().map(_.toString).sorted
      val proj = spark.read.parquet(out)
        .select(org.apache.spark.sql.functions.concat_ws("|",
          org.apache.spark.sql.functions.col("chunk_md5"),
          org.apache.spark.sql.functions.col("n_tokens")))
        .collect().map(_.getString(0)).sorted
      RunResult(md5(full.toSeq), md5(proj.toSeq), full.length.toLong,
        urls, hostsRows, chunks)
    }

    // clean twice: the control that calibrates which axes two HEALTHY
    // runs share (the exactly-once projection) vs which are
    // representative-racy (full rows) — without it a chaos mismatch on
    // full rows would read as a decommission bug
    val cleanA = run("cleanA", chaos = false)
    val cleanB = run("cleanB", chaos = false)
    taskFailures.set(0); fetchFailures.set(0); decomRemovals.set(0)
    val chaos = run("chaos", chaos = true)
    def stateEq(a: RunResult, b: RunResult): Boolean =
      a.urls == b.urls && a.hostsRows == b.hostsRows && a.chunks == b.chunks
    val controlOk = cleanA.projHash == cleanB.projHash &&
      cleanA.rows == cleanB.rows && stateEq(cleanA, cleanB)
    val ok = controlOk && chaos.projHash == cleanA.projHash &&
      chaos.rows == cleanA.rows && stateEq(chaos, cleanA) &&
      decomRemovals.get >= 1
    println(s"[sdecom] batches=$batches rows_per_batch=$rows " +
      s"rows=(${cleanA.rows},${cleanB.rows},${chaos.rows}) " +
      s"proj_hash=(${cleanA.projHash},${cleanB.projHash},${chaos.projHash}) " +
      s"full_hash_clean_stable=${cleanA.fullHash == cleanB.fullHash} " +
      s"full_hash_chaos_eq_clean=${chaos.fullHash == cleanA.fullHash} " +
      s"state_cleanA=(${cleanA.urls},${cleanA.hostsRows},${cleanA.chunks}) " +
      s"state_chaos=(${chaos.urls},${chaos.hostsRows},${chaos.chunks}) " +
      s"decommissioned=${decomRemovals.get} " +
      s"task_failures=${taskFailures.get} " +
      s"fetch_failures=${fetchFailures.get} " +
      (if (ok) "OK"
       else if (!controlOk) "CONTROL-MISMATCH"
       else if (decomRemovals.get == 0) "NO-DECOM-RECORDED"
       else "MISMATCH"))
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
