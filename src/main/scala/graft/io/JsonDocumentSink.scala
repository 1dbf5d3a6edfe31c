package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_json}

/** JSON document sink: serialise a (small, serving-layer) DataFrame to one
  * JSON array document — the reference's `orient='records'` S3 PUT
  * (`ServiceAlertBroadcaster.py:100-114`, SURVEY.md Op-6).
  *
  * The collect here is deliberate and bounded: these are the final API
  * artifacts, not a data path. The fan-outs that feed this sink
  * (`Broadcaster.fanOut`, `ChangeStream.versionedFanOut`) collect one
  * driver-local snapshot that is no larger than their widest documents, so
  * the driver holds what the documents already collect: the post-filter
  * serving rows (thousands), while the inputs upstream stay distributed.
  * Rendering a frame over such a snapshot runs no Spark job; rendering a
  * distributed frame runs exactly one. For large exports use
  * `df.write.json` instead.
  */
object JsonDocumentSink {

  /** Render as a single JSON array string (records orient, ISO dates).
    *
    * Byte-identical to `df.toJSON.collect().mkString("[", ",", "]")`: both
    * use Spark's JSON generator with the session's time zone and
    * `spark.sql.jsonGenerator.ignoreNullFields`. Unlike `toJSON`, which
    * always builds an RDD and runs a job, the select form over a
    * `LocalRelation` is folded by Catalyst's `ConvertToLocalRelation` and
    * collected from a `LocalTableScanExec` without one. */
  def renderDocument(df: DataFrame): String =
    df.select(to_json(struct(col("*")))).collect().map(_.getString(0)).mkString("[", ",", "]")

  /** Filename contract mirroring ServiceAlertOutputFileConfig
    * (ServiceAlertBroadcaster.py:24-40): {version}/{prefix}-{window}-
    * {planned}.json. */
  def documentName(version: String, prefix: String, window: String,
                   planned: Boolean): String = {
    val p = if (planned) "planned" else "unplanned"
    s"$version/$prefix-$window-$p.json"
  }

  /** Write one document under `rootDir` (local/posix path; object-store
    * deployments swap in their client here). Returns the full path.
    *
    * The publish is atomic, like the reference's S3 PUT: the document is
    * written to a hidden temp sibling and renamed onto its name, so a
    * reader sees the old document or the new one, never a truncated one. */
  def write(df: DataFrame, rootDir: String, name: String): String = {
    val path = Paths.get(rootDir, name)
    val bytes = renderDocument(df).getBytes(StandardCharsets.UTF_8)
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(s".${path.getFileName}.${UUID.randomUUID()}.tmp")
    try {
      Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
    path.toString
  }
}
