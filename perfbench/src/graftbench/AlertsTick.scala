package graftbench

import java.net.InetSocketAddress
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.{Instant, LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.util.Random

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Checksum, FixerColumns => F}
import graft.enrich.Enrichment
import graft.geo.{GeocodeStage, KeyedStubGeocoder, SpatialJoin}
import graft.incremental.Incremental
import graft.io.{BlobSink, HttpPageFetcher, JsonDocumentSink, RestSource, StageStore}
import graft.serve.{Broadcaster, Emailer}
import graft.streaming.ChangeStream

/** One generated service alert, as the list API serves it. */
final case class Alert(
    id: Long, title: String, description: String, area: String, notification: String,
    planned: Boolean, status: String, publish: Instant, effective: LocalDate,
    expiry: LocalDate, startTime: String, endTime: String, location: String,
    areaType: Option[String]) {

  def locationKey: Long = location.split(' ').last.toLong

  def record: java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("__metadata", java.util.Map.of("type", "SP.Data.ServiceAlertsListItem"))
    m.put("Id", id); m.put("Title", title); m.put("Description", description)
    m.put("Service_Area", area); m.put("Notification_Number", notification)
    m.put("Planned", if (planned) "Planned" else "Unplanned"); m.put("Status", status)
    m.put("Publish_Date", publish.toString); m.put("Effective_Date", effective.toString)
    m.put("Expiry_Date", expiry.toString); m.put("Start_Time", startTime)
    m.put("Forecast_End_Time", endTime); m.put("Location", location)
    m.put("Area_Type", areaType.orNull)
    m
  }
}

/** The alert table and its churn, generated from the seed, plus a plain-Scala
  * model of what every stage of the tick must produce. The model shares no
  * code with the engine. */
final class AlertModel(seed: Long, n: Int) {
  import AlertModel._

  val base: Vector[Alert] = {
    val r = new Random(seed)
    Vector.tabulate(n) { i =>
      val id = i + 1L
      val area = Areas(r.nextInt(Areas.size))
      val street = Streets(r.nextInt(Streets.size))
      Alert(
        id = id,
        title = s"${Kinds(r.nextInt(Kinds.size))} in $street",
        description = s"${Kinds(r.nextInt(Kinds.size))} reported; crews dispatched to $street",
        area = area,
        notification = if (r.nextInt(10) == 0) "N/A" else f"${r.nextInt(900000000) + 100000000L}%010d",
        planned = r.nextBoolean(),
        status = Statuses(r.nextInt(Statuses.size)),
        publish = Now0.minusSeconds(60L * r.nextInt(60 * 24 * 30)),
        effective = LocalDate.of(2026, 10, 1 + r.nextInt(20)),
        expiry = Today.plusDays(r.nextInt(41) - 20L),
        startTime = Times(r.nextInt(Times.size)),
        endTime = Times(r.nextInt(Times.size)),
        location = s"$street ${1 + r.nextInt(200)}",
        areaType = AreaTypes(r.nextInt(AreaTypes.size)))
    }
  }

  private val states = mutable.ArrayBuffer(base)

  /** The table at tick t: tick t changes about 1% of the alerts, each
    * either its status or its description. */
  def state(t: Int): Vector[Alert] = {
    while (states.size <= t) {
      val k = states.size
      val r = new Random(seed * 7919L + k)
      val prev = states.last
      val churn = r.shuffle((0 until n).toVector).take(math.max(1, n / 100)).toSet
      states += prev.zipWithIndex.map { case (a, i) =>
        if (!churn(i)) a
        else if (r.nextInt(10) < 6)
          a.copy(status = Statuses.filterNot(_ == a.status)(r.nextInt(Statuses.size - 1)))
        else a.copy(description = a.description + s" Update $k.")
      }
    }
    states(t)
  }

  /** Tick `t`'s clock: ten minutes per tick. */
  def now(t: Int): Instant = Now0.plusSeconds(600L * t)

  // ----- expected outputs ---------------------------------------------------

  final case class Expect(docRows: Map[(String, Boolean), Int], emails: Long, hitConfigs: Int,
                          changes: Int)

  private val wardsOf = mutable.HashMap.empty[Long, Option[Seq[String]]]
  private val sent = mutable.HashSet.empty[(Int, String, Long)]

  /** Expected outputs of tick t, given that ticks 0..t-1 ran before it
    * into the same stores (call with t = 0, 1, 2, ... in order). */
  def expect(t: Int): Expect = {
    val cur = state(t)
    val prev = if (t == 0) Vector.empty[Alert] else state(t - 1)
    val prevById = prev.map(a => a.id -> a).toMap
    val changed = cur.filter(a => !prevById.get(a.id).contains(a))
    val work = changed.sortBy(a => (-a.publish.getEpochSecond, a.id)).take(WorkLimit)
    changed.foreach(a => wardsOf(a.id) = None)
    work.foreach(a => wardsOf(a.id) = Some(wards(a.locationKey)))
    val nowT = now(t)
    val docRows = (for (w <- Windows; p <- Seq(true, false)) yield (w, p) -> cur.count { a =>
      a.planned == p && (w match {
        case "all" => true
        case "7days" => expiryInstant(a).isAfter(nowT.minusSeconds(7L * 86400))
        case _ => expiryInstant(a).isAfter(nowT)
      })
    }).toMap
    var emails = 0L
    val hits = mutable.HashSet.empty[Int]
    cur.foreach { a =>
      ConfigSpecs.zipWithIndex.foreach { case (c, ci) =>
        val matches = c match {
          case Left(ward) => wardsOf.get(a.id).flatten.exists(_.contains(ward)) && !a.areaType.contains("Citywide")
          case Right(area) => a.area == area
        }
        if (matches && sent.add((ci, a.status, a.id))) { emails += 1; hits += ci }
      }
    }
    val prevPairs = prev.map(a => (a.id, a.status)).toSet
    val changes = cur.count(a => !prevPairs((a.id, a.status)))
    Expect(docRows, emails, hits.size, changes)
  }
}

object AlertModel {
  val Now0: Instant = Instant.parse("2026-10-10T12:05:00Z")
  val Today: LocalDate = LocalDate.of(2026, 10, 10)
  val WorkLimit = 20
  val DraftLimit = 10
  val Half = 0.23
  val Areas: Vector[String] = Vector("Water", "Electricity", "Roads", "Refuse", "Sewer",
    "Stormwater", "Parks", "Traffic", "Housing", "Health", "Libraries", "Transport",
    "Fire", "Law Enforcement", "Facilities", "Recreation", "Billing", "Planning",
    "Environment", "Events")
  val Streets: Vector[String] = Vector("Main Road", "Voortrekker Road", "Long Street",
    "Kloof Nek", "Victoria Road", "Klipfontein Road", "Lansdowne Road", "Strand Street",
    "Buitengracht", "Koeberg Road", "Jan Smuts Drive", "Modderdam Road")
  val Kinds: Vector[String] = Vector("Burst pipe", "Power outage", "Road closure",
    "Missed collection", "Sewer blockage", "Traffic signal fault", "Low pressure")
  val Statuses: Vector[String] = Vector("Open", "Closed", "In Progress")
  val Times: Vector[String] = Vector("08:00", "09:60", "Select...", "13:30", "17:00", "06:15")
  val AreaTypes: Vector[Option[String]] = Vector(Some("Ward"), Some("Citywide"),
    Some("Official Planning Suburb"), None)
  val Windows: Seq[String] = Seq("all", "7days", "current")
  /** Email configs: 6 ward configs and 6 service-area configs. */
  val ConfigSpecs: Seq[Either[String, String]] =
    (1 to 100 by 17).map(k => Left(s"Ward $k")) ++ Areas.take(6).map(Right(_))

  def expiryInstant(a: Alert): Instant = a.expiry.plusDays(1).atStartOfDay(ZoneOffset.UTC).toInstant

  private def fmt(d: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, d)
  /** The stub geocoder's point for location key k, when it resolves. */
  def point(k: Long): Option[(Double, Double)] =
    if (k % 2 == 0) Some(((k * 3 % 100).toDouble / 10.0, (k * 11 % 100).toDouble / 10.0)) else None
  def box(x: Double, y: Double): (Double, Double, Double, Double) =
    (fmt(x - Half).toDouble, fmt(y - Half).toDouble, fmt(x + Half).toDouble, fmt(y + Half).toDouble)
  def footprintWkt(x: Double, y: Double): String = {
    val (a, b, c, d) = box(x, y)
    s"POLYGON (($a $b, $c $b, $c $d, $a $d, $a $b))"
  }
  /** Ward k covers the unit cell (i, j) with k = 1 + 10 i + j. */
  def wardWkt(i: Int, j: Int): String = s"POLYGON (($i $j, ${i + 1} $j, ${i + 1} ${j + 1}, $i ${j + 1}, $i $j))"

  /** Wards whose overlap with the footprint exceeds 5% of either area. */
  def wards(k: Long): Seq[String] = point(k).toSeq.flatMap { case (x, y) =>
    val (x0, y0, x1, y1) = box(x, y)
    val fa = (x1 - x0) * (y1 - y0)
    for {
      i <- 0 until 10; j <- 0 until 10
      ox = math.min(x1, i + 1.0) - math.max(x0, i.toDouble)
      oy = math.min(y1, j + 1.0) - math.max(y0, j.toDouble)
      if ox > 0 && oy > 0 && (ox * oy > 0.05 || ox * oy / fa > 0.05)
    } yield s"Ward ${1 + 10 * i + j}"
  }.sorted
}

/** A loopback OData list endpoint serving the current table in pages. */
final class ODataServer(pageSize: Int) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  @volatile private var pages: Vector[Array[Byte]] = Vector.empty
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  val url = s"http://127.0.0.1:${server.getAddress.getPort}/alerts"

  server.createContext("/alerts", (ex: HttpExchange) => {
    val q = Option(ex.getRequestURI.getQuery).getOrElse("")
    val page = q.split('&').collectFirst { case s if s.startsWith("page=") => s.drop(5).toInt }.getOrElse(0)
    val body = if (page < pages.size) pages(page) else Array.emptyByteArray
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(if (page < pages.size) 200 else 404, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) { val os = ex.getResponseBody; os.write(body); os.close() }
    ex.close()
  })
  server.start()

  /** Render the pages of `rows` before the tick starts, so the fetch pays
    * only for transport and parsing. */
  def publish(rows: Seq[Alert]): Unit = {
    val groups = rows.grouped(pageSize).toVector
    pages = groups.zipWithIndex.map { case (g, i) =>
      val d = new java.util.LinkedHashMap[String, Any]()
      d.put("results", java.util.List.of(g.map(_.record): _*))
      if (i + 1 < groups.size) d.put("__next", s"$url?page=${i + 1}")
      mapper.writeValueAsBytes(java.util.Map.of("d", d))
    }
  }

  def pageCount: Int = pages.size
  def stop(): Unit = server.stop(0)
}

/** The reference DAG, tick after tick, through the real sinks:
  * fetch -> fix -> augment -> broadcast + email -> recon. */
final class AlertsTick(o: Opts) extends Workload {
  import AlertModel._

  private val n = if (o.tiny) 200 else 500
  private var model: AlertModel = _
  private var server: ODataServer = _
  private val root: Path = o.work.resolve("alerts")
  private var tick = 0
  private var wardLayer: DataFrame = _

  private val rawSchema = StructType(Seq(
    StructField("Id", LongType), StructField("Title", StringType),
    StructField("Description", StringType), StructField("Service_Area", StringType),
    StructField("Notification_Number", StringType), StructField("Planned", StringType),
    StructField("Status", StringType), StructField("Publish_Date", StringType),
    StructField("Effective_Date", StringType), StructField("Expiry_Date", StringType),
    StructField("Start_Time", StringType), StructField("Forecast_End_Time", StringType),
    StructField("Location", StringType), StructField("Area_Type", StringType)))

  private val configs: Seq[Emailer.EmailConfig] = ConfigSpecs.map {
    case Left(ward) => Emailer.EmailConfig(ward, Seq(s"${ward.replace(' ', '-').toLowerCase}@alerts.example"),
      predicate = Some(Emailer.wardPredicate(ward)))
    case Right(area) => Emailer.EmailConfig(area, Seq(s"${area.replace(' ', '-').toLowerCase}@alerts.example"),
      predicate = Some(Emailer.serviceAreaPredicate(area)))
  }

  /** The API server, the generated table and its model, the ward layer. */
  def prepare(spark: SparkSession): Unit = {
    server = new ODataServer(500)
    model = new AlertModel(o.seed, n)
    model.state(0)
    import spark.implicits._
    wardLayer = (for (i <- 0 until 10; j <- 0 until 10) yield (s"Ward ${1 + 10 * i + j}", wardWkt(i, j)))
      .toDF("ward", "ward_wkt")
  }

  /** Warm-up: the backfill tick, every alert new to empty stores, and the
    * first steady tick, whose plans are the first of their shape. The
    * measured passes are the steady ticks that follow. */
  def warmUp(spark: SparkSession): Unit = {
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
    Files.createDirectories(root)
    runTick(spark)
    runTick(spark)
  }

  def pass(spark: SparkSession): Option[(OpTime, Seq[OpTime])] = runTick(spark)

  override def release(): Unit = if (server != null) { server.stop(); server = null }

  /** Stage spans that only group the module calls inside them. */
  private val Wrappers = Set("tick", "ingest", "augment")

  /** Strict lookups: a span or counter that never ran fails the run. */
  def layers(): Map[String, Double] = {
    val tickOps = Trace.ops.count(_.name == "tick").max(1).toDouble
    val self = Trace.selfTimesMs()
    val tickWall = Trace.ops.filter(_.name == "tick").map(_.wallMs).sum
    val covered = self.filter { case (k, _) => !Wrappers(k) }.values.sum
    val c = Trace.counters
    def ms(span: String) = self(span) / tickOps
    def per(k: String) = c(k) / tickOps
    Map(
      "io.fetch_ms" -> ms("io.fetch"),
      "core.fix_ms" -> ms("core.fix"),
      "incremental.diff_ms" -> ms("incremental.diff"),
      "enrich.ms" -> ms("enrich"),
      "geo.ms" -> ms("geo"),
      "io.store_write_ms" -> ms("io.store_write"),
      "io.store_read_ms" -> ms("io.store_read"),
      "serve.broadcast_ms" -> ms("serve.broadcast"),
      "io.json_ms" -> ms("io.json"),
      "serve.email_ms" -> ms("serve.email"),
      "io.blob_ms" -> ms("io.blob"),
      "streaming.recon_ms" -> ms("streaming.recon"),
      "augment.other_ms" -> ms("augment"),
      "io.fetch_pages" -> per("io.fetch_pages"),
      "incremental.changed_rows" -> per("incremental.changed_rows"),
      "incremental.useful_ratio" -> c("enrich.rows") / c("incremental.changed_rows").max(1.0),
      "enrich.calls" -> per("enrich.calls"),
      "geo.geocode_calls" -> per("geo.geocode_calls"),
      "io.store_bytes" -> per("io.store_bytes"),
      "serve.docs" -> per("serve.docs"),
      "io.json_bytes" -> per("io.json_bytes"),
      "serve.email_configs" -> per("serve.email_configs"),
      "serve.email_hit_ratio" -> c("serve.email_hits") / c("serve.email_configs").max(1.0),
      "io.blobs" -> per("io.blobs"),
      "streaming.changes" -> per("streaming.changes"),
      // the share of the tick inside the module calls: every span but the
      // tick and its stage wrappers
      "trace.span_coverage" -> (if (tickWall > 0) covered / tickWall else 0.0))
  }

  // ----- the tick -----------------------------------------------------------

  private def store(name: String) = new StageStore(SparkSession.active, root.resolve(name).toString, retain = 3)

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else { val s = Files.walk(p); try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close() }

  private def timed(name: String)(body: => Unit): OpTime = OpTime.measure(name)(Trace.span(name)(body))

  /** Run tick `tick` against the current stores and check its outputs
    * against the model. Returns the time of the tick's program work (the
    * op body) and of each stage; publishing the pages, the model and the
    * checks run outside it. */
  private def runTick(spark: SparkSession): Option[(OpTime, Seq[OpTime])] = {
    val t = tick
    tick += 1
    val rows = model.state(t)
    server.publish(rows)
    val expect = model.expect(t)
    val now = Timestamp.from(model.now(t))
    val stages = mutable.ArrayBuffer.empty[OpTime]
    var emails = 0L
    val blobDir = root.resolve("blobs")
    val before = blobNames(blobDir)
    val whole = Outcome.attempt(s"alerts_tick/tick $t") {
      Trace.op("tick") {
        // fetch and fix are one operation of the geometric mean: the fetch
        // alone is a few milliseconds, too short to time steadily
        stages += timed("ingest") {
          val raw = Trace.span("io.fetch") {
            Trace.count("io.fetch_pages", server.pageCount)
            RestSource.load(spark, new HttpPageFetcher(server.url), rawSchema)
          }
          Trace.span("core.fix") {
            val df = fix(raw)
            Trace.span("io.store_write")(store("fixed").write(df, t))
          }
        }
        stages += timed("augment")(augment(spark, t))
        stages += timed("serve.broadcast")(broadcast(spark, t, now))
        stages += timed("serve.email") { emails = email(spark, t) }
        stages += timed("streaming.recon")(recon(spark, t))
      }
    }
    System.err.println(s"[perfbench] tick $t " + stages.map(s => f"${s.name}=${s.wallS}%.2f").mkString(" "))
    whole.map { w =>
      verify(t, expect, emails, blobNames(blobDir) -- before)
      (w, stages.toSeq)
    }
  }

  private def fix(raw: DataFrame): DataFrame = raw.select(
    col("Id").as("id"),
    col("Title").as("title"),
    col("Description").as("description"),
    col("Service_Area").as("service_area"),
    F.zeroPadNotification(col("Notification_Number")).as("notification_number"),
    F.plannedFlag(col("Planned")).as("planned"),
    col("Status").as("status"),
    F.parseIso(col("Publish_Date")).as("publish_date"),
    F.expiryDate(to_date(col("Expiry_Date"))).as("expiry_date"),
    F.durationSeconds(F.expiryDate(to_date(col("Expiry_Date"))), F.parseIso(col("Publish_Date"))),
    F.combineDateTime(to_date(col("Effective_Date")),
      F.cleanTimeString(col("Start_Time"))).as("start_timestamp"),
    F.rolloverEnd(
      F.combineDateTime(to_date(col("Effective_Date")), F.cleanTimeString(col("Start_Time"))),
      F.combineDateTime(to_date(col("Effective_Date")), F.cleanTimeString(col("Forecast_End_Time"))))
      .as("forecast_end_timestamp"),
    F.guardedTimeParse(F.cleanTimeString(col("Start_Time"))).as("start_time"),
    F.locationCoalesce(col("Location"), col("Description"), col("Service_Area")).as("location"),
    col("Area_Type").as("area_type"))

  private val keys = Seq("id", Checksum.ChecksumCol)

  private def augment(spark: SparkSession, t: Int): Unit = {
    val fixedStore = store("fixed")
    val goldStore = store("gold")
    val data = Trace.span("io.store_read")(Checksum.withChecksum(fixedStore.read(t)))
    val cache = if (t == 0) None else Some(Trace.span("io.store_read")(goldStore.read(t - 1)))
    var work: DataFrame = null
    var changed: DataFrame = null
    Trace.span("incremental.diff") {
      changed = cache.fold(data)(c => Incremental.cacheDiff(data, c, keys)).persist()
      val diff = changed
      Trace.later("incremental.changed_rows")(diff.count().toDouble)
      work = Incremental.workLimit(changed, Seq(col("publish_date").desc, col("id")), WorkLimit)
        .localCheckpoint()
    }
    val acc = spark.sparkContext.longAccumulator("enrich.calls")
    var enriched: DataFrame = null
    Trace.span("enrich") {
      val drafter = new Enrichment.Drafter {
        def draft(id: Long, title: String, d: String) = { acc.add(1); Enrichment.StubDrafter.draft(id, title, d) }
      }
      val locator = new Enrichment.Locator {
        def locate(d: String) = { acc.add(1); Enrichment.StubLocator.locate(d) }
      }
      val drafts = Enrichment.draftStage(
        Incremental.workLimit(work, Seq(col("publish_date").desc, col("id")), DraftLimit),
        drafter, broadcastJoinBack = true).select("id", "tweet_text")
      val located = Enrichment.locateStage(work, locator, broadcastJoinBack = true)
        .select("id", "location_suggestions")
      enriched = work.select("id", "service_area").join(drafts, Seq("id"), "left")
        .join(located, Seq("id"), "left")
        .withColumn("toot_text", Enrichment.tootColumn(col("tweet_text"),
          concat(lit("#"), regexp_replace(col("service_area"), " ", ""))))
        .drop("service_area")
        .localCheckpoint()
    }
    Trace.count("enrich.calls", acc.value.toDouble)
    val worked = work
    Trace.later("enrich.rows")(worked.count().toDouble)
    var located: DataFrame = null
    Trace.span("geo") {
      val metrics = graft.geo.GeocodeMetrics(spark)
      val pts = GeocodeStage.geocode(work, "id", "location", KeyedStubGeocoder, qps = 1e9,
        metrics = Some(metrics))
        .where(col("gx").isNotNull)
        .withColumn("geospatial_footprint", footprintColumn(col("gx"), col("gy")))
      val hits = SpatialJoin.overlayRatio(pts, wardLayer, col("geospatial_footprint"), col("ward_wkt"), 0.05)
        .groupBy("id").agg(array_sort(collect_list("ward")).as("inferred_wards"))
      located = pts.select("id", "geospatial_footprint").join(hits, Seq("id"), "left").localCheckpoint()
      Trace.count("geo.geocode_calls", metrics.calls.value.toDouble)
    }
    val fresh = changed.join(enriched, Seq("id"), "left").join(located, Seq("id"), "left")
    val gold = Trace.span("incremental.diff") {
      cache.fold(fresh) { c =>
        Incremental.mergeOrSkip(fresh, Incremental.cacheRetain(c, data, keys)).getOrElse(
          Incremental.cacheRetain(c, data, keys))
      }
    }
    Trace.span("io.store_write")(goldStore.write(gold, t))
    Trace.later("io.store_bytes")(dirBytes(root.resolve(s"gold/v=$t")).toDouble)
    changed.unpersist()
  }

  private def footprintColumn(x: Column, y: Column): Column = {
    def r(c: Column) = format_number(c, 2)
    val (x0, y0, x1, y1) = (r(round(x - Half, 2)), r(round(y - Half, 2)), r(round(x + Half, 2)), r(round(y + Half, 2)))
    concat(lit("POLYGON (("), x0, lit(" "), y0, lit(", "), x1, lit(" "), y0, lit(", "),
      x1, lit(" "), y1, lit(", "), x0, lit(" "), y1, lit(", "), x0, lit(" "), y0, lit("))"))
  }

  private val baseCols = Seq("id", "title", "description", "service_area", "notification_number",
    "publish_date", "expiry_date", "location")

  private def broadcast(spark: SparkSession, t: Int, now: Timestamp): Unit = {
    val gold = Trace.span("io.store_read")(store("gold").read(t))
    val docs = Broadcaster.fanOut(gold, baseCols, now)
    val dir = root.resolve(s"docs/t=$t").toString
    docs.foreach { case ((w, p, v), df) =>
      val name = JsonDocumentSink.documentName(v, "alerts", windowName(w), p)
      val path = Trace.span("io.json")(JsonDocumentSink.write(df, dir, name))
      Trace.later("io.json_bytes")(Files.size(java.nio.file.Paths.get(path)).toDouble)
      Trace.count("serve.docs", 1)
    }
    gold.unpersist()
  }

  private def windowName(w: Broadcaster.TimeWindow): String = w match {
    case Broadcaster.All => "all"
    case Broadcaster.Last7Days => "7days"
    case Broadcaster.Current => "current"
  }

  private def email(spark: SparkSession, t: Int): Long = {
    // one cached single-partition scan feeds all configs
    val gold = Trace.span("io.store_read")(store("gold").read(t)).coalesce(1).persist()
    val registry = store("sent")
    val sent = if (t == 0) spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("sent_key", StringType))))
      else Trace.span("io.store_read")(registry.read(t - 1))
    val pending = Emailer.fanOut(gold, configs, sent)
    val out = configs.map { cfg =>
      val key = Emailer.configKey(cfg)
      pending(cfg.name).select(
        lit(cfg.name).as("config"),
        concat_ws("_", key, col("status"), col("id").cast("string")).as("sent_key"),
        Emailer.emailFilename(key, col("status"), col("id")).as("name"),
        Emailer.renderHtml(col("status"), col("title"), col("service_area"), col("area_type"),
          lit(null).cast("array<string>"), col("inferred_wards"), col("tweet_text")).as("body"))
    }.reduce(_ unionByName _).persist()
    val blobs = Trace.span("io.blob")(BlobSink.write(out, root.resolve("blobs").toString, "name", "body"))
    Trace.span("io.store_write")(registry.write(sent.unionByName(out.select("sent_key")), t))
    out.unpersist()
    gold.unpersist()
    Trace.count("io.blobs", blobs.toDouble)
    Trace.count("serve.email_configs", configs.size)
    blobs
  }

  private def recon(spark: SparkSession, t: Int): Unit = {
    val gold = Trace.span("io.store_read")(store("gold").read(t))
    val pairs = ChangeStream.newStatusPairs(
      gold.select(col("id"), col("status"), col("publish_date").as("ts")), "id", "status", "ts", "1 day")
      .select("id", "status")
    val state = store("recon")
    val changes = if (t == 0) pairs
      else pairs.join(Trace.span("io.store_read")(state.read(t - 1)), Seq("id", "status"), "left_anti")
    val batch = gold.join(changes, Seq("id", "status"), "left_semi")
      .select("id", "title", "service_area", "status", "area_type", "geospatial_footprint", "publish_date")
      .persist()
    ChangeStream.versionedFanOut(batch).foreach { case (v, df) =>
      Trace.span("io.json")(JsonDocumentSink.write(df, root.resolve(s"recon/t=$t").toString, s"$v/changes.json"))
    }
    batch.unpersist()
    Trace.later("streaming.changes")(batch.count().toDouble)
    Trace.span("io.store_write")(state.write(pairs, t))
  }

  // ----- output checks --------------------------------------------------------

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def jsonRows(p: Path): Int = mapper.readTree(p.toFile).size()

  private def blobNames(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.map(_.getFileName.toString).toArray.map(_.toString).filterNot(_.endsWith(".crc")).toSet
      finally s.close()
    }

  /** Checks tick t's sink outputs against the model: the 24 documents' row
    * counts (the two all-window documents together hold every gold row),
    * the emails written (new blobs, and the configs they went to) and the
    * recon change count. */
  private def verify(t: Int, e: AlertModel#Expect, emails: Long, newBlobs: Set[String]): Unit = {
    val docs = root.resolve(s"docs/t=$t")
    for (((w, p), want) <- e.docRows; v <- Seq("v0", "v1", "v1.1", "v1.2")) {
      val name = s"$v/alerts-$w-${if (p) "planned" else "unplanned"}.json"
      val got = Outcome.attempt(s"alerts_tick/tick $t doc $name")(jsonRows(docs.resolve(name)))
      got.foreach(g => Outcome.check(s"alerts_tick/tick $t doc $name", g == want, s"rows $g want $want"))
    }
    val wantEmails = if (o.plant == "hash" && t == 1) -1L else e.emails
    Outcome.check(s"alerts_tick/tick $t emails", emails == wantEmails && newBlobs.size == wantEmails,
      s"sent $emails, ${newBlobs.size} new blobs, want $wantEmails")
    val hitConfigs = newBlobs.map(_.takeWhile(_ != '_'))
    Outcome.check(s"alerts_tick/tick $t email configs", hitConfigs.size == e.hitConfigs,
      s"hit ${hitConfigs.size} want ${e.hitConfigs}")
    Trace.count("serve.email_hits", hitConfigs.size.toDouble)
    val changes = Outcome.attempt(s"alerts_tick/tick $t recon")(jsonRows(root.resolve(s"recon/t=$t/v1.2/changes.json")))
    changes.foreach(c => Outcome.check(s"alerts_tick/tick $t recon", c == e.changes, s"changes $c want ${e.changes}"))
    if (o.plant == "throw" && t == 1) Outcome.attempt("alerts_tick planted")(sys.error("planted failure"))
  }
}
