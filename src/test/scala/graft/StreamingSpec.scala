package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.ChangeStream
import graft.streaming.ChangeStream.{AlertState, StatusChange}

/** Ops 61-63: the change stream under Structured Streaming (MemoryStream). */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("Op-1/8 micro-batch REST source: pages drain as offsets, rows land once") {
    import org.apache.spark.sql.types._
    val pages = Map[Option[String], (Seq[Map[String, Any]], Option[String])](
      None -> (Seq(Map[String, Any]("Id" -> 1L), Map[String, Any]("Id" -> 2L)), Some("p2")),
      Some("p2") -> (Seq(Map[String, Any]("Id" -> 3L)), Some("p3")),
      Some("p3") -> (Seq(Map[String, Any]("Id" -> 4L)), None))
    graft.io.RestSourceV2.register("streamspec", new graft.io.RestSource.PageFetcher {
      def fetch(token: Option[String]) = pages(token)
    })
    val schema = StructType(Seq(StructField("Id", LongType)))
    val q = spark.readStream.format(classOf[graft.io.RestSourceV2].getName)
      .schema(schema).option("fetcher", "streamspec")
      .option("maxPagesPerTrigger", "2") // forces >1 micro-batch
      .load()
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("rest_stream_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.sql("SELECT Id FROM rest_stream_out")
      .as[Long].collect().toSeq.sorted
    assert(got == Seq(1L, 2L, 3L, 4L))
  }

  test("streaming exact-dedup: dropDuplicatesWithinWatermark dedups within " +
    "the window and EVICTS state after it (re-emission proves boundedness)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val q = in.toDF().toDF("content_hash", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sdedup_out").start()
    in.addData(("h1", ts("2024-01-01 00:00:00")), ("h2", ts("2024-01-01 00:01:00")))
    q.processAllAvailable()
    in.addData(("h1", ts("2024-01-01 00:30:00"))) // dup within watermark -> dropped
    q.processAllAvailable()
    in.addData(("adv", ts("2024-01-01 05:00:00"))) // watermark -> 04:00
    q.processAllAvailable()
    // h1's state was evicted once the watermark passed its window, so a
    // later h1 re-emits — the observable proof state does NOT grow forever
    in.addData(("h1", ts("2024-01-01 04:30:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sdedup_out").select("content_hash")
      .as[String].collect().sorted.toSeq
    assert(got == Seq("adv", "h1", "h1", "h2"))
  }

  test("stream-stream interval join: right rows match within the lag window, " +
    "state bounded by watermarks") {
    implicit val sqlCtx = spark.sqlContext
    val l = MemoryStream[(Long, Timestamp)]
    val r = MemoryStream[(Long, Timestamp, String)]
    val left = l.toDF().toDF("k", "lts").withWatermark("lts", "2 hours")
    val right = r.toDF().toDF("rk", "rts", "v").withWatermark("rts", "2 hours")
    // inner interval join: rts in [lts - 1h, lts] — both sides keep state
    // only while their watermark allows a future match (the condition bounds
    // the event-time range, which is what lets Spark evict)
    val joined = left.join(right,
      expr("k = rk AND rts BETWEEN lts - INTERVAL 1 HOUR AND lts"))
    val q = joined.select("k", "lts", "v")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ssjoin_out").start()
    r.addData((1L, ts("2024-01-01 00:30:00"), "inwin"),
      (1L, ts("2024-01-01 02:30:00"), "late"),
      (2L, ts("2024-01-01 00:45:00"), "otherkey"))
    l.addData((1L, ts("2024-01-01 01:00:00"))) // matches "inwin" only
    q.processAllAvailable()
    val got = spark.sql("SELECT k, v FROM ssjoin_out")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "inwin")))
    q.stop()
  }

  test("EventWindows.tumbling runs under Structured Streaming with a watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value").withWatermark("ts", "2 hours")
    val q = graft.ext.EventWindows.tumbling(df, col("ts"), "1 hour",
        Seq(col("event_type")), Seq(count(lit(1)).as("n")))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("win_stream_out").start()
    in.addData(
      (ts("2024-01-01 00:10:00"), "a", 1.0),
      (ts("2024-01-01 00:40:00"), "a", 2.0),
      (ts("2024-01-01 01:10:00"), "b", 3.0))
    q.processAllAvailable()
    // advance the watermark far enough to close the first windows
    in.addData((ts("2024-01-01 08:00:00"), "a", 9.0))
    q.processAllAvailable()
    val got = spark.sql("SELECT event_type, n FROM win_stream_out")
      .as[(String, Long)].collect().toSet
    assert(got == Set(("a", 2L), ("b", 1L))) // closed windows only
    q.stop()
  }

  test("EventWindows.session runs under Structured Streaming: gaps split, " +
    "late-merge within the watermark, closed sessions emitted once") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "2 hours")
    val q = graft.ext.EventWindows.session(df, col("ts"), "30 minutes",
        Seq(col("event_type")), Seq(count(lit(1)).as("n")))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sess_stream_out").start()
    in.addData(
      (ts("2024-01-01 00:00:00"), "a", 1.0),
      (ts("2024-01-01 00:20:00"), "a", 2.0), // same session (gap 20m)
      (ts("2024-01-01 01:30:00"), "a", 3.0)) // new session (gap 70m)
    q.processAllAvailable()
    in.addData((ts("2024-01-01 09:00:00"), "b", 9.0)) // advance watermark
    q.processAllAvailable()
    val got = spark.sql("SELECT event_type, n FROM sess_stream_out")
      .as[(String, Long)].collect().toList.sortBy(_._2)
    assert(got == List(("a", 1L), ("a", 2L))) // b's session still open
    q.stop()
  }

  test("Op-61 stateless: (Id,status) pairs emitted once across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val df = in.toDF().toDF("Id", "status", "ts")
    val q = ChangeStream.newStatusPairs(df, "Id", "status", "ts", "1 hour")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("cdc_out").start()
    in.addData((1L, "Open", ts("2024-01-01 00:00:00")),
      (2L, "Open", ts("2024-01-01 00:01:00")))
    q.processAllAvailable()
    in.addData((1L, "Open", ts("2024-01-01 00:10:00")),   // dup pair -> dropped
      (1L, "Closed", ts("2024-01-01 00:11:00")))          // new status -> kept
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cdc_out").select("Id", "status")
      .as[(Long, String)].collect().sorted.toSeq
    assert(got == Seq((1L, "Closed"), (1L, "Open"), (2L, "Open")))
  }

  test("Op-61 stateful: status transitions with previous state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[AlertState]
    val q = ChangeStream.statusTransitions(in.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("trans_out").start()
    in.addData(AlertState(1L, "Open", ts("2024-01-01 00:00:00")))
    q.processAllAvailable()
    in.addData(AlertState(1L, "Open", ts("2024-01-01 00:05:00")),  // no change
      AlertState(1L, "Closed", ts("2024-01-01 00:06:00")))         // transition
    q.processAllAvailable()
    q.stop()
    val got = spark.table("trans_out").as[StatusChange].collect().toSeq
    assert(got == Seq(StatusChange(1L, None, "Open"),
      StatusChange(1L, Some("Open"), "Closed")))
  }

  // a snapshot "arrives" as ONE new file in the watched directory (the
  // StreamingAugmenter publication contract)
  private def addSnapshot(tmp: String, snapDir: String,
                          df: org.apache.spark.sql.DataFrame,
                          name: String): Unit = {
    val staging = s"$tmp/staging_$name"
    df.coalesce(1).write.parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(snapDir))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$snapDir/$name.parquet"))
    ()
  }

  test("streaming EP-3: the composed Augmenter job — over-limit run emits " +
    "exactly q_ep3_pipeline's work set, the rollback retry run enriches the " +
    "deferred remainder, and the cache store converges", LongRun) {
    import graft.streaming.StreamingAugmenter
    val dir = sf("sf0.001")
    val tmp = java.nio.file.Files.createTempDirectory("ep3stream").toString
    val snapDir = s"$tmp/snapshots"
    val cells = graft.queries.GeoQueries.nationCells(spark, dir)
    val base = spark.read.parquet(s"$dir/customer.parquet")
      .where(col("c_custkey") <= 500)
      .select(col("c_custkey").as("id"), col("c_name"), col("c_mktsegment"))
    val farExpiry = ts("2030-01-01 00:00:00")
    // the q_ep3 world: baseline snapshot = the cache content; the re-scrape
    // mutates status for id%7==0, so exactly those checksums diverge; a
    // second re-scrape additionally mutates id%2==0 (the over-limit wave)
    def snapshot(status: org.apache.spark.sql.Column, at: Timestamp) =
      base.select(col("id"), col("c_name"), col("c_mktsegment"),
        md5(concat_ws("", status, col("c_name"))).as("ck"),
        ((col("id") * 37) % 1000).as("publish_ord"),
        lit(at).as("event_ts"), lit(farExpiry).as("expiry_ts"))
    val baseStatus = col("c_mktsegment")
    val mut7 = when(col("id") % 7 === 0, lit("X")).otherwise(col("c_mktsegment"))
    val mut72 = when(col("id") % 7 === 0, lit("X"))
      .when(col("id") % 2 === 0, lit("Y")).otherwise(col("c_mktsegment"))
    def ckOf(status: org.apache.spark.sql.Column): Map[Long, String] =
      snapshot(status, ts("2024-01-01 00:00:00"))
        .select("id", "ck").as[(Long, String)].collect().toMap
    val captured = scala.collection.mutable.ArrayBuffer[Set[Seq[Any]]]()
    val outCols = Seq("id", "tweet_text", "toot_text", "resolution",
      "fp_area", "inferred_cells", "image_filename")
    def enrich(work: org.apache.spark.sql.DataFrame) = {
      val out = graft.queries.GeoQueries.ep3EnrichStage(work, cells).persist()
      captured += out.select(outCols.map(col): _*)
        .collect().map(_.toSeq).toSet
      out
    }
    def drain(limit: Int): Unit = {
      val q = StreamingAugmenter.run(spark, snapDir, s"$tmp/retry",
        s"$tmp/ckpt", s"$tmp/cache", limit, enrich)
      q.awaitTermination(180000); ()
    }
    val world = base.count()
    // run 1: baseline snapshot, limit covers the world — state and the cache
    // seed fully (the batch pipeline's pre-populated-cache world)
    addSnapshot(tmp, snapDir, snapshot(baseStatus, ts("2024-01-01 00:00:00")), "s1")
    drain(limit = world.toInt + 1)
    assert(captured.length === 1 && captured.head.size === world)
    // run 2: the re-scrape — ONLY the mutated checksums emit, all within
    // the limit; this is exactly the batch pipeline's world
    addSnapshot(tmp, snapDir, snapshot(mut7, ts("2024-01-02 00:00:00")), "s2")
    drain(limit = 40)
    assert(captured.length === 2, "second run must process exactly one batch")
    val streamFresh = captured(1)
    // parity: the batch pipeline's fresh rows on the same world
    val batchFresh = graft.SparkEntry.queries("q_ep3_pipeline")(spark, dir)
      .where(col("src") === "fresh")
      .select(outCols.map(col): _*)
      .collect().map(_.toSeq).toSet
    assert(streamFresh === batchFresh,
      "streaming work set + enrichment must equal the batch pipeline's")
    // run 3: a second mutation wave, BIGGER than the limit — the newest 20
    // are worked, the remainder rolls back (state restored to the s2 ck)
    val wave = ckOf(mut72).toSet.diff(ckOf(mut7).toSet).map(_._1)
    assert(wave.size > 20, s"test world must overflow the limit (${wave.size})")
    val expectWorked = wave.toSeq
      .sortBy(id => (-((id * 37) % 1000), id)).take(20).toSet
    addSnapshot(tmp, snapDir, snapshot(mut72, ts("2024-01-03 00:00:00")), "s3")
    drain(limit = 20)
    assert(captured.length === 3, "over-limit run must process exactly one batch")
    assert(captured(2).map(_.head.asInstanceOf[Long]) === expectWorked,
      "the work limit must take the newest 20 by publish order")
    // run 4: the next nightly scrape (same content) — the rollback stream
    // reset the deferred rows' state, so exactly the over-limit remainder
    // re-emits and is enriched now (the ADVICE third-batch scenario: no
    // changed row is ever silently lost)
    addSnapshot(tmp, snapDir, snapshot(mut72, ts("2024-01-04 00:00:00")), "s4")
    drain(limit = 100)
    assert(captured.length === 4, "retry run must process exactly one batch")
    val retriedIds = captured(3).map(_.head.asInstanceOf[Long])
    assert(retriedIds === wave.diff(expectWorked),
      "every deferred row must be enriched on the next run")
    // the cache store: four atomic versions; every wave row now carries its
    // re-enriched tweet, unchanged rows rode through
    val store = new graft.io.StageStore(spark, s"$tmp/cache")
    assert(store.versions().length === 4)
    val cache = store.readLatest()
    assert(cache.count() === world)
    val cachedTweets = cache.select("id", "tweet_text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (captured(2) ++ captured(3)).foreach { row =>
      assert(cachedTweets(row.head.asInstanceOf[Long]) === row(1))
    }
  }

  test("streaming EP-3 state TTL: an absent alert's state evicts once the " +
    "watermark passes its expiry — a re-sent checksum re-emits as new") {
    import graft.streaming.StreamingAugmenter
    val tmp = java.nio.file.Files.createTempDirectory("ep3ttl").toString
    val snapDir = s"$tmp/snapshots"
    val captured = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    def enrich(work: org.apache.spark.sql.DataFrame) = {
      captured += work.select("id").as[Long].collect().toSet
      work
    }
    def drain(): Unit = {
      val q = StreamingAugmenter.run(spark, snapDir, s"$tmp/retry",
        s"$tmp/ckpt", s"$tmp/cache", limit = 100, enrich)
      q.awaitTermination(180000); ()
    }
    val far = ts("2030-01-01 00:00:00")
    def snap(ids: Seq[Long], at: Timestamp, expiryOf: Long => Timestamp) =
      ids.map(i => (i, s"n$i", "SEG", s"ck$i", i, at, expiryOf(i)))
        .toDF("id", "c_name", "c_mktsegment", "ck", "publish_ord",
          "event_ts", "expiry_ts")
    // s1: ids 1-3; id 1 expires an hour later, the rest far out
    val expiry1 = ts("2024-01-01 01:00:00")
    addSnapshot(tmp, snapDir,
      snap(Seq(1L, 2L, 3L), ts("2024-01-01 00:00:00"),
        i => if (i == 1L) expiry1 else far), "s1")
    drain()
    assert(captured.toList === List(Set(1L, 2L, 3L)))
    // s2: id 1 gone from the scrape; unchanged checksums for 2-3 emit
    // nothing, but the event time advances the watermark past id 1's
    // expiry, so its state times out in the trailing batch
    addSnapshot(tmp, snapDir,
      snap(Seq(2L, 3L), ts("2024-01-03 00:00:00"), _ => far), "s2")
    drain()
    assert(captured.length === 1, "unchanged scrape must skip entirely")
    // s3: id 1 returns with its ORIGINAL checksum — state was evicted, so
    // it re-emits as new; 2-3 stay suppressed by their retained state
    addSnapshot(tmp, snapDir,
      snap(Seq(1L, 2L, 3L), ts("2024-01-03 02:00:00"),
        i => if (i == 1L) ts("2024-01-03 12:00:00") else far), "s3")
    drain()
    assert(captured.toList === List(Set(1L, 2L, 3L), Set(1L)),
      "evicted state must re-admit the expired alert's old checksum")
  }

  test("streaming EP-3 backlog retry: rollbacks from an over-limit EARLY " +
    "batch survive a multi-file backlog that advances the watermark past " +
    "their original event times — deferred work is retried, never lost") {
    import graft.streaming.StreamingAugmenter
    val tmp = java.nio.file.Files.createTempDirectory("ep3backlog").toString
    val snapDir = s"$tmp/snapshots"
    val captured = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    def enrich(work: org.apache.spark.sql.DataFrame) = {
      captured += work.select("id").as[Long].collect().toSet
      work
    }
    def drain(limit: Int): Unit = {
      val q = StreamingAugmenter.run(spark, snapDir, s"$tmp/retry",
        s"$tmp/ckpt", s"$tmp/cache", limit, enrich)
      q.awaitTermination(180000); ()
    }
    val far = ts("2030-01-01 00:00:00")
    def snap(ck: Long => String, at: Timestamp) =
      (1L to 10L).map(i => (i, s"n$i", "SEG", ck(i), i, at, far))
        .toDF("id", "c_name", "c_mktsegment", "ck", "publish_ord",
          "event_ts", "expiry_ts")
    // run 1: seed all ten ids, all within the limit
    addSnapshot(tmp, snapDir, snap(i => s"a$i", ts("2024-01-01 00:00:00")), "s1")
    drain(limit = 100)
    assert(captured.toList === List((1L to 10L).toSet))
    // run 2 drains a TWO-file backlog: s2 (01-02) changes every checksum —
    // the limit keeps the top 4 by publish order and rolls back ids 1-6 —
    // and s3 (01-10, identical content, fully suppressed) advances the
    // watermark eight days past s2's events. Under the old original-
    // event_ts publication the six rollbacks would be late data on the
    // next run and silently dropped; the run-max re-stamp keeps them live.
    addSnapshot(tmp, snapDir, snap(i => s"b$i", ts("2024-01-02 00:00:00")), "s2")
    addSnapshot(tmp, snapDir, snap(i => s"b$i", ts("2024-01-10 00:00:00")), "s3")
    drain(limit = 4)
    assert(captured.length === 2 && captured(1) === Set(7L, 8L, 9L, 10L),
      s"over-limit batch must work the newest 4: ${captured.toList}")
    // run 3: the next scrape re-sends the same content — every deferred id
    // must re-emit against its rolled-back state and be enriched now
    addSnapshot(tmp, snapDir, snap(i => s"b$i", ts("2024-01-11 00:00:00")), "s4")
    drain(limit = 100)
    assert(captured.length === 3 && captured(2) === (1L to 6L).toSet,
      s"the backlog's deferred rows were lost: ${captured.toList}")
  }

  test("streaming EP-3 rollback publish is marker-committed: a half-" +
    "published dir without its marker stays invisible to the retry " +
    "stream; the marker alone makes it visible") {
    import graft.streaming.StreamingAugmenter
    import graft.streaming.StreamingAugmenter.AugMsg
    val tmp = java.nio.file.Files.createTempDirectory("ep3marker").toString
    val snapDir = s"$tmp/snapshots"
    val retry = s"$tmp/retry"
    val captured = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    def enrich(work: org.apache.spark.sql.DataFrame) = {
      captured += work.select("id").as[Long].collect().toSet
      work
    }
    def drain(): Unit = {
      val q = StreamingAugmenter.run(spark, snapDir, retry,
        s"$tmp/ckpt", s"$tmp/cache", limit = 100, enrich)
      q.awaitTermination(180000); ()
    }
    val far = ts("2030-01-01 00:00:00")
    def snap(ck: Long => String, at: Timestamp) =
      Seq(1L, 2L).map(i => (i, s"n$i", "SEG", ck(i), i, at, far))
        .toDF("id", "c_name", "c_mktsegment", "ck", "publish_ord",
          "event_ts", "expiry_ts")
    addSnapshot(tmp, snapDir, snap(i => s"a$i", ts("2024-01-01 00:00:00")), "s1")
    drain()
    assert(captured.toList === List(Set(1L, 2L)))
    // forge a crash remnant: a fully-written rollback dir for id 1 (CAS
    // a1 → gone) with NO commit marker. If the stream read it, the next
    // identical scrape would re-emit id 1.
    val forged = Seq(AugMsg(1L, "n1", "SEG", "a1", 1L,
      ts("2024-01-02 00:00:00"), far, 0, null)).toDS()
    forged.write.parquet(s"$retry/b99")
    addSnapshot(tmp, snapDir, snap(i => s"a$i", ts("2024-01-02 00:00:00")), "s2")
    drain()
    assert(captured.length === 1,
      s"unmarked rollback dir leaked into the stream: ${captured.toList}")
    // the marker alone flips visibility: same dir, now committed — the CAS
    // resets id 1's state and the next identical scrape re-emits it
    new java.io.File(s"$retry/_committed-b99").createNewFile()
    addSnapshot(tmp, snapDir, snap(i => s"a$i", ts("2024-01-03 00:00:00")), "s3")
    drain()
    assert(captured.length === 2 && captured(1) === Set(1L),
      s"marker-committed rollback must apply: ${captured.toList}")
  }

  test("Op-62 versioned fan-out drops version-appropriate columns") {
    val batch = Seq((1L, "Open", "Suburb", "POINT (0 0)"))
      .toDF("Id", "status", "area_type", "geospatial_footprint")
    val out = ChangeStream.versionedFanOut(batch)
    assert(out("v1").columns.toSeq == Seq("Id"))
    assert(out("v1.1").columns.toSeq == Seq("Id", "area_type", "geospatial_footprint"))
    assert(out("v1.2").columns.toSeq == Seq("Id", "status", "area_type", "geospatial_footprint"))
  }

  test("Op-61-63 run: each batch's new pairs reach the 3 documents and the notify") {
    val root = java.nio.file.Files.createTempDirectory("graft-recon")
    val input = root.resolve("in").toString
    Seq((1L, "Open", ts("2024-01-01 00:00:00"), "Suburb", "POINT (0 0)"),
        (2L, "Open", ts("2024-01-01 00:01:00"), "Ward", null))
      .toDF("Id", "status", "ts", "area_type", "geospatial_footprint")
      .write.parquet(input)
    val docs = scala.collection.mutable.Map.empty[String, String]
    val notified = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val q = ChangeStream.run(spark, input, root.resolve("ckpt").toString, "1 day",
      (v, df) => docs(v) = graft.io.JsonDocumentSink.renderDocument(df.orderBy("Id")),
      ids => notified += ids)
    q.awaitTermination()
    // the trailing empty batch of AvailableNow leaves the documents alone
    assert(docs("v1") ==
      """[{"Id":1,"ts":"2024-01-01T00:00:00.000Z"},{"Id":2,"ts":"2024-01-01T00:01:00.000Z"}]""")
    assert(docs("v1.1") == """[{"Id":1,"ts":"2024-01-01T00:00:00.000Z","area_type":"Suburb",""" +
      """"geospatial_footprint":"POINT (0 0)"},{"Id":2,"ts":"2024-01-01T00:01:00.000Z","area_type":"Ward"}]""")
    assert(docs("v1.2").contains(""""status":"Open""""))
    assert(notified.toSeq.map(_.sorted) == Seq(Seq(1L, 2L)))
  }

  test("Op-63 notify fires only for non-empty batches") {
    var notified: Seq[Long] = null
    ChangeStream.notifyIfAny(Seq(7L, 8L).toDF("Id"), "Id")(ids => notified = ids)
    assert(notified.sorted == Seq(7L, 8L))
    var called = false
    ChangeStream.notifyIfAny(Seq.empty[Long].toDF("Id"), "Id")(_ => called = true)
    assert(!called)
  }
}
