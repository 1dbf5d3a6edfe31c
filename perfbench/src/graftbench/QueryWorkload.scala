package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** One `SparkEntry.queries` entry over one fixture, written to the noop
  * sink. The seed has no effect on it. */
final class QueryWorkload(o: Opts, name: String, dir: String, entry: String)
    extends Workload {

  private val label = Paths.get(dir).getFileName.toString
  private val tracedWalls = mutable.ArrayBuffer.empty[Double]
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The fixture's tables exist, and the query is resolved against them
    * (file listing and parquet footers of the tables it reads). */
  def prepare(spark: SparkSession): Unit = {
    QueryWorkload.tables.foreach { t =>
      require(Files.exists(Paths.get(dir, s"$t.parquet")), s"fixture table $t missing under $dir")
    }
    SparkEntry.queries(entry)(spark, dir).schema
  }

  /** One execution that collects the result and checks its hash against
    * hashes.json, then three unmeasured runs through the noop sink: the
    * first two noop runs at 10x still run well above the steady ones. */
  def warmUp(spark: SparkSession): Unit = {
    val got = Outcome.attempt(s"$name/$entry hash") {
      QueryWorkload.resultHash(SparkEntry.queries(entry)(spark, dir).collect())
    }
    o.dump.foreach { d =>
      SparkEntry.queries(entry)(spark, dir).coalesce(1).write.mode("overwrite").parquet(d.resolve(entry).toString)
      // record.py compares the dumped result with the DuckDB oracle
      val meta = mapper.createObjectNode()
      meta.put("fixture", dir)
      val oracles = meta.putObject("oracles")
      SparkEntry.oracleSql.get(entry).foreach(oracles.put(entry, _))
      Files.writeString(d.resolve("oracle_sql.json"), mapper.writeValueAsString(meta))
    }
    graft.BenchTelemetry.freeCachedBlocks(spark)
    got.foreach { h =>
      o.record match {
        case Some(p) => QueryWorkload.saveHashes(p, label, Map(entry -> h))
        case None =>
          val want = if (o.plant == "hash") "planted" else QueryWorkload.loadHashes(o.hashes, label).getOrElse(entry, "none")
          Outcome.check(s"$name/$entry hash", h == want, s"got $h want $want")
      }
    }
    (1 to 3).foreach(_ => pass(spark))
  }

  def pass(spark: SparkSession): Option[(OpTime, Seq[OpTime])] = {
    val time = Outcome.attempt(s"$name/$entry") {
      Trace.op(s"q.$entry") {
        if (o.plant == "throw") sys.error(s"planted failure in $entry")
        SparkEntry.queries(entry)(spark, dir).write.format("noop").mode("overwrite").save()
      }
    }
    graft.BenchTelemetry.freeCachedBlocks(spark)
    time.map { t =>
      System.err.println(f"[perfbench] $entry%s ${t.wallS}%.3f s, cpu ${t.cpuS}%.3f s")
      if (Trace.on) tracedWalls += t.wallS
      (t, Seq(t))
    }
  }

  def layers(): Map[String, Double] = Map(s"q.$entry.wall_s" -> Main.median(tracedWalls.toSeq))
}

object QueryWorkload {
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** A TPC-H join that keeps all cores busy at 10x; the other compute-bound
    * entries take 5-15 s each there (LAYERS.md). */
  val heavy: String = "q_tpch18"

  /** Order-independent hash of a result: each row rendered with its
    * fields in column-name order (doubles to 9 significant digits, so a
    * different summation order does not change it), rows sorted, md5. */
  def resultHash(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "~"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
      case f: Float => render(f.toDouble)
      case b: Array[Byte] => java.util.HexFormat.of().formatHex(b)
      case r: Row => renderRow(r)
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
      case other => other.toString
    }
    def renderRow(r: Row): String =
      if (r.schema == null) r.toSeq.map(render).mkString("(", "|", ")")
      else r.schema.fieldNames.zipWithIndex.sortBy(_._1).map { case (_, i) => render(r.get(i)) }.mkString("(", "|", ")")
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(renderRow).sorted.foreach { s => md.update(s.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    s"${rows.length}:" + java.util.HexFormat.of().formatHex(md.digest())
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** hashes.json: {"<fixture>": {"<entry>": "<rows>:<md5>"}}. */
  def loadHashes(p: java.nio.file.Path, label: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(p)) Map.empty
    else Option(mapper.readTree(p.toFile).get(label)).map { n =>
      n.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }.getOrElse(Map.empty)
  }

  def saveHashes(p: java.nio.file.Path, label: String, hs: Map[String, String]): Unit = {
    val root =
      if (Files.exists(p)) mapper.readTree(p.toFile).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else mapper.createObjectNode()
    val node = Option(root.get(label)).collect { case n: com.fasterxml.jackson.databind.node.ObjectNode => n }
      .getOrElse(root.putObject(label))
    hs.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    Files.writeString(p, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root) + "\n")
  }
}
