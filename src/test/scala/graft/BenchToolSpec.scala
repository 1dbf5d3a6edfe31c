package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.BeforeAndAfterAll

import BenchTelemetry._

/** The merged dev tool ([[Bench]]): its modes are functions of a given
  * session, so they run here on the shared test session at sf0.001. */
class BenchToolSpec extends SparkTestBase with BeforeAndAfterAll {

  private val dir = sf("sf0.001")
  private lazy val stages = listen(spark, new StageListener)

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(stages)
    super.afterAll()
  }

  private def subset(names: String*): List[Measurement] =
    Bench.subset(spark, stages, dir, names, reps = 1).toList

  test("subset reports a failing query and still measures the next one") {
    val Seq(bad, ok) = subset("no_such_query", "q_tpch3")
    assert(bad.reps.isEmpty && bad.min === -1.0)
    assert(bad.error.exists(_.contains("no_such_query")), bad.error)
    assert(Bench.subsetLine(bad).startsWith("[benchsub] no_such_query FAILED"))
    assert(ok.reps.size === 1 && ok.error.isEmpty, ok.error)
    assert(ok.outRows.exists(_ > 0))
    // tools/benchdiff.sh reads `[benchsub] <name> … min=<secs>`
    assert(raw"\[benchsub\] q_tpch3 .*min=[0-9.]+".r
      .findFirstIn(Bench.subsetLine(ok)).nonEmpty, Bench.subsetLine(ok))
  }

  test("the exact drain makes shuffle-record totals repeatable") {
    val a = subset("q_tpch3").head.shufRec
    val b = subset("q_tpch3").head.shufRec
    assert(a > 0)
    assert(a === b)
  }

  test("the full run ends with a totals-only line of at most 1 KB") {
    val out = Files.createTempFile("bench", ".json")
    try {
      val line = Bench.full(spark, stages, dir, Seq("q_tpch3"), reps = 1,
        cpus = 4, out)
      assert(line.getBytes("UTF-8").length <= 1024)
      val json = new ObjectMapper().readTree(line)
      assert(json.fieldNames().asScala.toSet ===
        Set("metric", "value", "unit", "cpus", "reps", "sf"))
      // per-query values and telemetry stay in the artifact, under the
      // keys tools/benchdiff.sh and tools/bench_sf1.sh read
      val art = new ObjectMapper().readTree(out.toFile)
      assert(art.get("value").asDouble() > 0)
      assert(art.get("queries").get("q_tpch3").asDouble() > 0)
      val tel = art.get("telemetry").get("q_tpch3")
      Seq("la", "spread", "cw", "cpu_s", "xcpu_s", "shuf_rec", "cold_s")
        .foreach(k => assert(tel.has(k), k))
    } finally Files.delete(out)
  }

  test("the plan summary of q_tpch3 shows a join and a pushed filter; " +
    "--dump writes every execution's plan") {
    val dumpDir = Files.createTempDirectory("plans")
    val dumpFile = dumpDir.resolve("q_tpch3.txt")
    try {
      val s = Bench.plan(spark, dir, "q_tpch3", Some(dumpDir))
      assert(s.joins >= 1, s)
      assert(s.pushedFilters.nonEmpty, s)
      val dumped = Files.readString(dumpFile)
      assert(dumped.startsWith("==== execution 1 of"), dumped.take(200))
    } finally {
      Files.deleteIfExists(dumpFile)
      Files.delete(dumpDir)
    }
  }

  test("the loop frees localCheckpoint blocks that clearCache leaves") {
    SparkEntry.queries("x_pagerank")(spark, dir) // eager rounds pin blocks
    spark.catalog.clearCache()
    assert(storageBlocks(spark) > 0)
    subset("x_pagerank")
    assert(storageBlocks(spark) === 0)
  }
}
