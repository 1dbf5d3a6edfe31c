package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of the mains (tests keep their own pinned
  * `local[4]` session in SparkTestBase). Every main starts from
  * [[builder]] and adds only its own extra confs, so the settings the
  * oracles and the bench numbers depend on cannot drift between tools:
  * n cores, n shuffle partitions, UTC, ANSI off, AQE on, UI off, and the
  * graft SQL extensions.
  *
  * `SPARK_GRAFT_CPUS` sets n (default: the cores this JVM sees).
  * `SPARK_GRAFT_MASTER` overrides the master — the lever that turns any
  * main into MULTI-EXECUTOR evidence. `local[n]` (the default) is one JVM
  * with zero serialization boundaries: every custom Expression, Aggregator
  * buffer, broadcast, and state-store instance lives on the fast path
  * where a Kryo/Java serialization bug is invisible by construction.
  * `local-cluster[w,c,m]` (w workers x c cores, m MB each) launches REAL
  * separate executor JVMs, so task binaries, Aggregator buffers,
  * broadcast TRANSPORT, and shuffle all cross process boundaries — the
  * closest single-machine approximation of a 1000-executor cluster. Usage:
  *
  *   SPARK_HOME=<spark dist> SPARK_GRAFT_MASTER=local-cluster[4,8,4096] \
  *     sbt "runMain graft.Verify <sf dir> <out dir>"
  *
  * SPARK_HOME must point at the distribution (the Worker launches
  * executor JVMs through its scripts). The executor processes do not
  * inherit the sbt fork's classpath or JDK-17 module options, so both are
  * forwarded explicitly: the full driver classpath (app classes +
  * the Spark jars) and the launcher's own default module options. */
object Session {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  def builder(master: String = master): SparkSession.Builder = {
    val b = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
    if (!master.startsWith("local-cluster")) b
    else b
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions",
        org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
      // one executor fills each worker: executor memory = the worker
      // memory from the master string (local-cluster[w,c,MB]) unless
      // overridden — a fixed default either under-uses the worker or
      // fails launch ("requested N MiB/executor > worker")
      .config("spark.executor.memory",
        sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM",
          master.replaceAll("""^local-cluster\[\s*\d+\s*,\s*\d+\s*,\s*(\d+)\s*\]$""",
            "$1") + "m"))
  }
}
