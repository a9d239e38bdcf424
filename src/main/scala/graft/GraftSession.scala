package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured, and the one way
  * graft code changes that configuration temporarily ([[withConf]]).
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

  /** Runs `body` with `confs` set on `s`, then puts every key back
    * exactly as it was: its previous value, or unset if it was unset.
    *
    * Plans are optimized at action time, and every action on a frame
    * (a noop write, `coalesce(1).write`) optimizes again, so a body must
    * MATERIALIZE what it computes inside the window: a frame planned
    * there and acted on later runs without the conf. No lock is
    * held across `body` (bodies start streams whose `foreachBatch` runs
    * on another thread); the conf is session-global, so callers that
    * need mutual exclusion lock around the call. */
  def withConf[T](s: SparkSession, confs: (String, String)*)(body: => T): T = {
    val explicit = s.conf.getAll
    val prev = confs.map { case (k, _) => k -> explicit.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
