package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.io.JsonDocumentSink
import graft.serve.Broadcaster
import graft.serve.Broadcaster.{All, Current, Last7Days}

class ServeSpec extends SparkTestBase {
  import spark.implicits._

  private val now = Timestamp.valueOf("2024-06-15 00:00:00")

  private def alerts = Seq(
    (1L, "2024-06-20 00:00:00", true, "Open", "t1", "tw1", "to1", "Suburb", "POINT (0 0)"),
    (2L, "2024-06-10 00:00:00", true, "Closed", "t2", "tw2", "to2", "Citywide", null),
    (3L, "2024-06-14 00:00:00", false, "Open", "t3", null, null, null, null),
    (4L, "2023-01-01 00:00:00", false, "Closed", "t4", "tw4", "to4", "Suburb", null))
    .toDF("id", "expiry", "planned", "status", "title",
      "tweet_text", "toot_text", "area_type", "geospatial_footprint")
    .withColumn("expiry_date", to_timestamp($"expiry")).drop("expiry")

  test("Op-44 window predicates: current vs 7days vs all") {
    def ids(w: Broadcaster.TimeWindow, planned: Boolean) =
      Broadcaster.serve(alerts, w, planned, Seq("id"), now)
        .as[Long].collect().sorted.toSeq
    assert(ids(Current, planned = true) == Seq(1L))
    assert(ids(Last7Days, planned = true) == Seq(1L, 2L))
    assert(ids(All, planned = false) == Seq(3L, 4L))
  }

  test("Op-46 version columns are strict supersets") {
    val base = Seq("id", "title")
    val v0 = Broadcaster.versionColumns(base, "v0")
    val v1 = Broadcaster.versionColumns(base, "v1")
    val v11 = Broadcaster.versionColumns(base, "v1.1")
    val v12 = Broadcaster.versionColumns(base, "v1.2")
    assert(v0 == base)
    assert(v1.containsSlice(v0) && v11.containsSlice(v1) && v12.containsSlice(v11))
    assert(v12.contains("status") && v11.contains("geospatial_footprint"))
  }

  test("Op-44-46 fan-out produces all 24 documents") {
    val out = Broadcaster.fanOut(alerts, Seq("id", "title"), now)
    assert(out.size == 24)
    out.foreach { case ((_, _, v), df) =>
      assert(df.columns.toSeq == Broadcaster.versionColumns(Seq("id", "title"), v))
    }
  }

  test("Op-47 fan-out documents equal the per-document rendering of serve") {
    val base = Seq("id", "title")
    val out = Broadcaster.fanOut(alerts, base, now)
    out.foreach { case ((w, p, v), df) =>
      val old = Broadcaster.serve(alerts, w, p, Broadcaster.versionColumns(base, v), now)
        .toJSON.collect().mkString("[", ",", "]")
      assert(JsonDocumentSink.renderDocument(df) == old, s"($w, $p, $v)")
    }
  }

  test("Op-47 fan-out: one job for all 24 documents, no cache left behind") {
    // a file-backed input, like the gold store the Broadcaster reads
    val src = Files.createTempDirectory("graft-serve").resolve("alerts").toString
    alerts.write.parquet(src)
    val input = spark.read.parquet(src)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    val root = Files.createTempDirectory("graft-serve-docs").toString
    val jobs = jobsDuring {
      Broadcaster.fanOut(input, Seq("id", "title"), now).foreach { case ((w, p, v), df) =>
        JsonDocumentSink.write(df, root, JsonDocumentSink.documentName(v, "alerts", w.toString, p))
      }
    }
    assert(jobs == 1, s"fan-out + 24 writes started $jobs jobs")
    val docs = Files.walk(java.nio.file.Paths.get(root))
    try assert(docs.filter(Files.isRegularFile(_)).count() == 24) finally docs.close()
    assert(input.storageLevel == StorageLevel.NONE)
    assert(spark.sharedState.cacheManager
      .lookupCachedData(input.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.size == rddsBefore)
  }
}
