package graft

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** The one-time artifact store: the only code that knows how a
  * train-once artifact (a signature table, a PQ codebook, a staged
  * stream source, a bucketed table layout) is named, built, committed,
  * timed and laid out.
  *
  *  - Naming: [[path]] is `<scratchRoot>/<kind>/<key(d)>`, where
  *    [[key]] is a SHA-256 digest of the full dataset path (a
  *    `String.hashCode` would let two datasets share an artifact).
  *    A catalog table is `<db>.<kind>_<key(d)>`.
  *  - Building: every artifact is built at most once per process under
  *    a latch on its location ([[table]], [[tableCoalesced]], [[once]],
  *    [[committed]], [[bucketed]]). Datasets are immutable within a
  *    run, so a later call reuses the artifact; a fresh process
  *    rebuilds.
  *  - Committing: [[committed]] builds raw files into a temp dir and
  *    publishes it with one `ATOMIC_MOVE`; [[replaceTable]] is the one
  *    catalog write (create the database, drop the table, clear its
  *    warehouse location, write).
  *  - Timing: [[buildMs]] sums the wall time spent inside latched
  *    builds; `Metrics` reports it per window as `scratch_ms`.
  *
  * The latch is a `CompletableFuture` installed with `putIfAbsent`, so
  * the winner builds outside any map lock: concurrent callers on the
  * same location block on the future, and a build may itself call the
  * store for a different location (a derived artifact built from a
  * base one) at any depth. A failed build uninstalls its latch, and a
  * waiter blocked on it runs the build itself rather than rethrowing
  * the winner's failure. A same-thread build of the location it is
  * already building fails fast instead of waiting on itself. */
object Scratch {

  def key(d: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString

  /** The location of the `kind` artifact built from dataset `d`. */
  def path(kind: String, d: String): String =
    s"${Tables.scratchRoot}/$kind/${key(d)}"

  /** Cumulative wall time spent inside latched builds. A window whose
    * wall is mostly a one-time build says so in its `scratch_ms`
    * rather than reading as a slow query. */
  private[graft] val buildMs = new AtomicLong

  private val built = new ConcurrentHashMap[String, CompletableFuture[String]]()
  private val building = new ConcurrentHashMap[String, Thread]()

  private def latch(loc: String)(build: => Unit): Unit = {
    var done = false
    while (!done) {
      val fresh = new CompletableFuture[String]()
      val prior = built.putIfAbsent(loc, fresh)
      if (prior == null) {
        building.put(loc, Thread.currentThread()): Unit
        val t0 = System.nanoTime()
        try { build; fresh.complete(loc): Unit; done = true }
        catch {
          case e: Throwable =>
            built.remove(loc, fresh): Unit
            fresh.completeExceptionally(e): Unit
            throw e
        } finally {
          buildMs.addAndGet((System.nanoTime() - t0) / 1000000): Unit
          // Only our own entry: once the catch has uninstalled the
          // latch, a retrying waiter may already be the new builder.
          building.remove(loc, Thread.currentThread()): Unit
        }
      } else if (building.get(loc) eq Thread.currentThread()) {
        throw new IllegalStateException(
          s"reentrant Scratch build on the same path: $loc")
      } else {
        // A failed winner has uninstalled its latch: loop and build.
        try { prior.join(): Unit; done = true }
        catch { case _: CompletionException => () }
      }
    }
  }

  /** `build` written once as parquet at `path`, then read back. */
  def table(s: SparkSession, path: String)(build: => DataFrame): DataFrame = {
    latch(path) { build.write.mode("overwrite").parquet(path) }
    s.read.parquet(path)
  }

  /** [[table]] with byte-based AQE partition coalescing for the build's
    * final shuffle (`parallelismFirst=false`): `build` gets a
    * [[GraftSession.scoped]] session with that conf and builds its frame
    * on it. A loop that re-scans a small artifact many times otherwise
    * pays the per-task floor once per near-empty file of the
    * parallelism-first default; at scale the same conf gives
    * advisory-sized partitions. For small-to-medium control artifacts
    * read by loops, not for fan-out sources whose readers do per-row
    * work before any shuffle. */
  def tableCoalesced(s: SparkSession, path: String)(
      build: SparkSession => DataFrame): DataFrame = {
    latch(path) {
      build(GraftSession.scoped(s,
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false"))
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** A one-time side-effecting build at `path` that places its own
    * files (a partitioned write, staged stream batches). */
  def once(path: String)(build: => Unit): Unit = latch(path)(build)

  /** [[once]] for a builder that writes raw files: `build` fills an
    * empty temp dir next to `path`, which then becomes `path` with one
    * `ATOMIC_MOVE`. A build that throws leaves nothing at `path` (its
    * temp dir is removed), so a partial artifact is never readable.
    * Returns `path`. */
  def committed(path: String)(build: String => Unit): String = {
    latch(path) {
      val tmp = new java.io.File(s"$path.build")
      Tables.deleteRecursively(tmp)
      tmp.mkdirs(): Unit
      try build(tmp.getPath)
      catch { case e: Throwable => Tables.deleteRecursively(tmp); throw e }
      Tables.deleteRecursively(new java.io.File(path))
      java.nio.file.Files.move(tmp.toPath, java.nio.file.Paths.get(path),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    }
    path
  }

  /** Warehouse directory of catalog table `db.name`. */
  private def location(s: SparkSession, db: String, name: String): String =
    s"${s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")}/$db.db/$name"

  /** Replaces catalog table `db.name` with what `write` saves: creates
    * the database, drops the table, clears its warehouse location (the
    * in-memory catalog is per session, the warehouse dir is not) and
    * saves. Unlatched: every call rewrites the table. */
  def replaceTable(s: SparkSession, db: String, name: String)(
      write: => DataFrameWriter[Row]): Unit = {
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    s.sql(s"DROP TABLE IF EXISTS $db.$name")
    Tables.deleteRecursively(new java.io.File(location(s, db, name)))
    write.saveAsTable(s"$db.$name")
  }

  /** Catalog table `<db>.<kind>_<key(d)>`, written once through
    * [[replaceTable]] by `write` (the caller shapes the frame and the
    * bucket spec) and read back. The latch is keyed on the table's
    * warehouse location. If the session's catalog no longer has the
    * table (dropped, or a new session over the same warehouse), the
    * completed latch is removed and the table rebuilt; this is the
    * store's only invalidation. */
  def bucketed(s: SparkSession, db: String, kind: String, d: String)(
      write: => DataFrameWriter[Row]): DataFrame = {
    val name = s"${kind}_${key(d)}"
    val loc = location(s, db, name)
    val cur = built.get(loc)
    if (cur != null && cur.isDone && !s.catalog.tableExists(s"$db.$name"))
      built.remove(loc, cur): Unit
    latch(loc)(replaceTable(s, db, name)(write))
    s.table(s"$db.$name")
  }
}
