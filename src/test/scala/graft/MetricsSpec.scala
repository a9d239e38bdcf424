package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The measured window behind Bench, Profile and Explain: what its
  * timed action runs, how the build is split from the action, and that
  * consecutive windows do not share counters. */
class MetricsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def withMetrics[T](body: Metrics => T): T = {
    val m = Metrics.attach(spark)
    try body(m) finally m.close()
  }

  /** Builds a table through an AvailableNow query on `ss` into a
    * memory sink. */
  private def streamed(ss: SparkSession = spark): DataFrame = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(Tables.scratchRoot), "metrics").toString
    (0 until 20).toDF("id").coalesce(1).write.parquet(s"$d/in")
    ss.readStream.schema("id INT").parquet(s"$d/in")
      .writeStream.format("memory").queryName("metrics_spec_t")
      .option("checkpointLocation", s"$d/ckpt")
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    ss.table("metrics_spec_t")
  }

  test("the timed action computes every projected column") {
    val calls = spark.sparkContext.longAccumulator("metrics_spec_calls")
    val bump = udf { (x: Long) => calls.add(1); x }
    val r = withMetrics(_.measure(
      spark.range(1000).select(col("id"), bump(col("id")).as("b"))))
    assert(r.ok, r.failure)
    // a count() prunes the UDF column and runs it 0 times
    assert(calls.value === 1000L)
  }

  test("the build is timed apart from the action; stages sum to the totals") {
    val nap = udf { (x: Long) => if (x == 0) Thread.sleep(300); x }
    val (r, s) = withMetrics { m =>
      val r = m.measure {
        Thread.sleep(400)
        spark.range(0, 100, 1, 4).select(nap(col("id")).as("id"))
      }
      (r, m.measure(streamed()))
    }
    assert(r.ok, r.failure)
    val actionMs = (r.wallS * 1000).toLong - r.buildMs
    assert(r.buildMs >= 400 && r.buildMs < 700, s"build_ms ${r.buildMs}")
    assert(actionMs >= 300 && actionMs < 700, s"action ${actionMs} ms")
    assert(r.jobs === 1)
    assert(r.stages.size === 1)
    assert(r.stages.map(_.tasks).sum === r.tasks)
    assert(r.tasks === 4)
    assert(r.stages.map(_.taskMs).sum === r.taskMs)
    assert(r.taskMs >= 300)
    assert(r.stream.isEmpty)

    assert(s.ok, s.failure)
    assert(s.stream.map(_.queries) === Some(1L))
    assert(s.stream.exists(_.triggers >= 1))
  }

  test("plan fingerprints print unknown stage statistics as ?, not Long.MaxValue") {
    val rs = withMetrics { m =>
      Seq(m.measure(spark.range(0, 100, 1, 4).groupBy((col("id") % 3).as("k")).count()),
        m.measure(streamed()))
    }
    assert(rs.forall(_.ok))
    // the final (result) stage has no runtime statistics yet
    assert(rs.head.plan.contains(":r?:b?"), rs.head.plan)
    assert(rs.forall(!_.plan.contains(Long.MaxValue.toString)), rs.map(_.plan))
  }

  test("back-to-back windows do not leak counters into each other") {
    val (a1, b, a2) = withMetrics { m =>
      val a1 = m.measure(streamed())
      val b = m.measure(spark.range(0, 10, 1, 1).toDF())
      (a1, b, m.measure(streamed()))
    }
    assert(a1.ok && b.ok && a2.ok)
    assert(a1.stream.map(_.queries) === Some(1L))
    assert(b.stream.isEmpty)
    assert((b.jobs, b.tasks, b.stages.size) === ((1, 1, 1)))
    assert(b.scratchMs === 0L)
    assert(a2.stream.map(_.queries) === Some(1L))
    assert(a2.stream.map(_.triggers) === a1.stream.map(_.triggers))
    assert((a2.jobs, a2.tasks) === ((a1.jobs, a1.tasks)))
  }

  test("a stream started on a scoped session reports to the window") {
    // Spark does not copy stream listeners into a cloned session;
    // Streaming.streamSession does, so the window still sees the query
    val r = withMetrics(_.measure(streamed(
      ops.Streaming.streamSession(spark, "spark.sql.shuffle.partitions" -> "2"))))
    assert(r.ok, r.failure)
    assert(r.stream.map(_.queries) === Some(1L))
    assert(r.stream.exists(_.triggers >= 1))
  }
}
