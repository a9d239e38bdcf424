package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** No key changes the shared session's conf while it runs: a second
  * thread samples `spark.conf.getAll` every millisecond while a key
  * builds its frame and writes it, and every sample must equal the
  * snapshot taken before. A key that needs Spark conf values of its own
  * builds its frame, or starts its stream, on a [[GraftSession.scoped]]
  * session instead. */
class ConfIsolationSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  /** Tables.events sets this read flag on the session it is given. */
  private val sessionWide = "spark.sql.legacy.parquet.nanosAsLong"

  /** The (key, value) pairs of every sample of `spark.conf.getAll`
    * taken while `body` runs that differ from the snapshot before it,
    * and the number of samples. */
  private def drift(body: => Unit): (Set[(String, Option[String])], Int) = {
    val before = spark.conf.getAll - sessionWide
    val diffs = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Option[String])]()
    val samples = new java.util.concurrent.atomic.AtomicInteger
    @volatile var running = true
    val sampler = new Thread(() =>
      while (running) {
        val now = spark.conf.getAll - sessionWide
        (before.keySet ++ now.keySet).foreach { k =>
          if (before.get(k) != now.get(k)) diffs.add(k -> now.get(k)): Unit
        }
        samples.incrementAndGet(): Unit
        Thread.sleep(1)
      })
    sampler.start()
    try body
    finally { running = false; sampler.join() }
    import scala.jdk.CollectionConverters._
    (diffs.asScala.toSet, samples.get)
  }

  private def assertIsolated(what: String)(body: => Unit): Unit = {
    val (diffs, samples) = drift(body)
    assert(samples > 0, s"$what: the sampler never ran")
    assert(diffs.isEmpty, s"$what changed the shared session's conf while it ran: $diffs")
  }

  for (key <- Seq("join_bloom", "join_skew_aqe", "scan_agg_pushdown",
      "stream_skyline", "stream_seq", "stream_tws", "stream_ingest"))
    test(s"$key leaves the shared session's conf unchanged while it runs") {
      assertIsolated(key) {
        SparkEntry.queries(key)(spark, sf)
          .write.format("noop").mode("overwrite").save()
      }
    }

  test("a fresh Scratch.tableCoalesced build leaves the shared session's conf unchanged") {
    val path = s"${Tables.scratchRoot}/conf_isolation_spec/t${System.nanoTime()}"
    assertIsolated("tableCoalesced") {
      Scratch.tableCoalesced(spark, path) {
        _.range(0, 20000, 1, 8).groupBy((col("id") % 7).as("k")).count()
      }.collect(): Unit
    }
  }
}
