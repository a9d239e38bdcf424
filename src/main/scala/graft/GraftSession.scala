package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

/** The one place a graft SparkSession is configured, and the one way
  * graft code gives a frame conf values of its own ([[scoped]]).
  *
  * Sessions built elsewhere (e.g. by an embedding application) get the
  * engine's rules and SQL functions by setting
  * `spark.sql.extensions=graft.GraftExtensions`; nothing else is
  * required — there is no per-session function registration. */
object GraftSession {
  /** Local cores (`SPARK_GRAFT_CPUS`) when the environment sets none. */
  val DefaultCpus = "4"

  /** A local session on `cpus` cores (also the shuffle width) with the
    * engine's settings. `scratch` suffixes the local and warehouse dirs
    * under [[Tables.scratchRoot]], so different kinds of JVM never share
    * them. Returns the active session if one already exists. */
  def build(cpus: String, scratch: String = ""): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Object-hash aggregation (TypedImperativeAggregate sketches)
      // stays in hash mode far past the 128-key default: sketch buffers
      // are ~136 B, so 64k keys/partition is ~9 MB, while the sort
      // fallback re-sorts the full exploded input.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${Tables.scratchRoot}/spark-local$scratch")
      .config("spark.sql.warehouse.dir", s"${Tables.scratchRoot}/warehouse$scratch")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A clone of `s` with `confs` set: the session a frame or stream is
    * built on when it needs Spark conf values of its own. `s` is left
    * unchanged, so nothing is restored and other threads never see the
    * values. Every action on a frame built here (a noop write,
    * `coalesce(1).write`) optimizes under these values, and a stream
    * started here runs its micro-batches under them. The clone starts
    * from `s`'s conf, temp views, functions and QueryExecutionListeners.
    * Spark does not copy StreamingQueryListeners; a stream's session
    * comes from `ops.Streaming.streamSession`, which copies them. */
  def scoped(s: SparkSession, confs: (String, String)*): SparkSession = {
    val c = GraftSqlBridge.cloned(s)
    confs.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }
}
