package graft.serve

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The serving/query layer: the reference's public API is 24 precomputed
  * queries = {all,7days,current} × {planned,unplanned} × {v0,v1,v1.1,v1.2},
  * each `SELECT <version cols> WHERE expiry_date > :cutoff AND planned = :p`
  * (`ServiceAlertBroadcaster.py:43-98`; SURVEY.md §2.7 Ops 44-47).
  *
  * `now` is injected — the reference's `Timestamp.now()` impurity
  * (ServiceAlertBroadcaster.py:79) becomes a parameter so results are
  * reproducible and testable.
  */
object Broadcaster {

  sealed trait TimeWindow
  case object All extends TimeWindow
  case object Last7Days extends TimeWindow
  case object Current extends TimeWindow

  /** Version column lists mirror ServiceAlertBroadcaster.py:43-49:
    * each version is a superset of the previous. */
  def versionColumns(base: Seq[String], version: String): Seq[String] = version match {
    case "v0"   => base
    case "v1"   => base ++ Seq("tweet_text", "toot_text")
    case "v1.1" => base ++ Seq("tweet_text", "toot_text", "area_type", "geospatial_footprint")
    case "v1.2" => base ++ Seq("tweet_text", "toot_text", "area_type", "geospatial_footprint", "status")
    case other  => sys.error(s"unknown API version $other")
  }

  /** Op-44: the three window kinds become one expiry predicate. "All" uses
    * min(expiry)-1day, i.e. everything — computed as a subaggregate, not a
    * collect (ServiceAlertBroadcaster.py:84). */
  def windowPredicate(expiry: Column, window: TimeWindow, now: Timestamp): Column =
    window match {
      case Current   => expiry > lit(now)
      case Last7Days => expiry > lit(now) - expr("INTERVAL 7 DAYS")
      case All       => lit(true)
    }

  /** Ops 44-46 composed: one serving query. */
  def serve(alerts: DataFrame, window: TimeWindow, planned: Boolean,
            cols: Seq[String], now: Timestamp,
            expiryCol: String = "expiry_date",
            plannedCol: String = "planned"): DataFrame =
    alerts
      .where(windowPredicate(col(expiryCol), window, now))
      .where(col(plannedCol) === lit(planned))
      .select(cols.map(col): _*)

  /** A driver-local copy of `df`: collecting it is one Spark job, and every
    * frame built on the copy plans over a `LocalRelation`. Catalyst folds
    * filters and projections over it into a new `LocalRelation`
    * (`ConvertToLocalRelation`), so serving and rendering from the copy
    * ([[graft.io.JsonDocumentSink.renderDocument]]) run no further job. */
  def snapshot(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collectAsList(), df.schema)

  /** The full fan-out: one [[snapshot]] of the rows and columns the
    * documents hold, then the requested (window, planned, version)
    * documents as [[serve]] over it. Building the map is the fan-out's one
    * job, the snapshot's collect; materialising any returned frame, e.g.
    * writing it with `JsonDocumentSink`, runs none. Nothing is cached, so
    * there is nothing to release.
    *
    * Driver bound: the snapshot is pre-filtered to `planned ∈ planneds`
    * and the union of the requested windows, and pre-projected to the
    * union of the requested version columns plus the expiry and planned
    * columns. The windows nest and each version's columns contain the
    * previous one's, so it holds the rows and columns of the widest
    * window's widest-version documents (the all-window v1.2 pair by
    * default), plus the two filter columns: what those documents collect
    * to the driver anyway, never the upstream data. */
  def fanOut(alerts: DataFrame, baseCols: Seq[String], now: Timestamp,
             windows: Seq[TimeWindow] = Seq(All, Last7Days, Current),
             planneds: Seq[Boolean] = Seq(true, false),
             versions: Seq[String] = Seq("v0", "v1", "v1.1", "v1.2"))
  : Map[(TimeWindow, Boolean, String), DataFrame] = {
    val combos = for { w <- windows; p <- planneds; v <- versions } yield (w, p, v)
    if (combos.isEmpty) Map.empty
    else {
      val held = snapshot(alerts
        .where(col("planned").isin(planneds: _*) &&
          windows.map(windowPredicate(col("expiry_date"), _, now)).reduce(_ || _))
        .select((versions.flatMap(versionColumns(baseCols, _)) :+ "expiry_date" :+ "planned")
          .distinct.map(col): _*))
      combos.map { case (w, p, v) =>
        (w, p, v) -> serve(held, w, p, versionColumns(baseCols, v), now)
      }.toMap
    }
  }
}
