package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import graft.{Metrics, Scratch, SharedSpark, SparkEntry, Tables}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** A frame-only scoped session must leave nothing on the context's
  * listener bus. A StreamingQueryListenerBus, created the first time a
  * session's `streams` is touched, registers there with no cleanup
  * hook and stays for the JVM's life; only sessions that start streams
  * may create one. Lives in Spark's package to read the bus's listener
  * list. */
class ScopedListenerSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  private def streamBuses: Int =
    spark.sparkContext.listenerBus.listeners.asScala
      .count(_.getClass.getSimpleName == "StreamingQueryListenerBus")

  test("frame-only scoped sessions register no stream listener bus") {
    // a long-running JVM builds keys inside a Metrics window, which
    // holds a stream listener on the shared session
    val m = Metrics.attach(spark)
    try {
      val before = streamBuses
      for (i <- 1 to 3) {
        SparkEntry.queries("join_bloom")(spark, sf)
        Scratch.tableCoalesced(spark,
            s"${Tables.scratchRoot}/scoped_listener_spec/t${System.nanoTime()}_$i") {
          _.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
        }
      }
      assert(streamBuses === before,
        "a frame-only scoped session registered a StreamingQueryListenerBus")
    } finally m.close()
  }
}
