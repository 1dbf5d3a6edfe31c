package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per JVM (suites run forked in one JVM). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Run `body` with the given SQL confs set, restoring prior values after —
    * the session is shared across suites, so leaks would poison later tests. */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** The number of Spark jobs `body` starts. The listener bus is drained
    * before the listener is added (so earlier work is not counted) and
    * after `body` (so every job it started is). */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    BenchTelemetry.drain(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; BenchTelemetry.drain(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
