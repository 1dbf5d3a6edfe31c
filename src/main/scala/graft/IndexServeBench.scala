package graft

import org.apache.spark.sql.functions._

import graft.ext.IvfPqIndex

/** Serve-side latency of the stored IVF-PQ index — the evidence the
  * build-once/serve-many split exists for. `x_ivfpq_stored` in Bench times
  * BUILD + SERVE in one call (its CORRECTNESS role: the whole path must
  * hash-match the in-memory form); this main separates them: build once,
  * then time repeated single-query serves and one batch serve against the
  * stored artefacts. Prints one JSON line; recorded in BENCHNOTES. */
object IndexServeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val all = graft.queries.ExtQueries.plantedEmbeddings(spark, sfDir)
    val corpus = all.where(col("vec_id") =!= 0)
    val query = all.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("q"))
    val queries = all.where(col("vec_id") % 100 === 1)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("q"))

    val t0 = System.nanoTime()
    spark.sql("DROP TABLE IF EXISTS graft_servebench_codes")
    val st = IvfPqIndex.build(corpus, "vec_id", "embedding",
      nlist = 16, kmeansIters = 1, m = 4, ksub = 16, pqIters = 1,
      codesTable = "graft_servebench_codes",
      basePath = s"${sys.props("java.io.tmpdir")}/graft_servebench")
    val buildSec = (System.nanoTime() - t0) / 1e9

    // warm one serve (file listing + codegen), then measure
    IvfPqIndex.topK(spark, st, "vec_id", query, k = 10, nprobe = 4).collect()
    val n = 10
    val t1 = System.nanoTime()
    (1 to n).foreach { _ =>
      IvfPqIndex.topK(spark, st, "vec_id", query, k = 10, nprobe = 4).collect()
    }
    val serveSec = (System.nanoTime() - t1) / 1e9 / n

    val nq = queries.count()
    val t2 = System.nanoTime()
    IvfPqIndex.topKBatch(spark, st, "vec_id", queries, k = 5, nprobe = 4)
      .collect()
    val batchSec = (System.nanoTime() - t2) / 1e9

    println(f"""{"metric":"ivfpq_serve","build_sec":$buildSec%.2f,"serve_sec":$serveSec%.3f,"serves_measured":$n,"batch_sec":$batchSec%.2f,"batch_queries":$nq,"sf":"$sfDir"}""")
    spark.stop()
  }
}
