package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for [[ops.Graph.fixpoint]], the round loop behind the iterative
  * operators: its round count and stop-test inputs, the round
  * directories it leaves behind, the caller's cap, and concurrent calls
  * on one session. */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dataset = "fixpoint-spec"

  /** Round directories left by runs of `owner`, the artifact path
    * `graph/<tag>/<dataset key>`: its siblings `<dataset key>_r<run>_i<round>`. */
  private def roundDirs(owner: String): Seq[String] = {
    val o = new java.io.File(owner)
    Option(o.getParentFile.list()).toSeq
      .flatten.filter(_.matches(java.util.regex.Pattern.quote(o.getName) + "_r\\d+_i\\d+"))
  }

  private def owner(tag: String, d: String) = Scratch.path(s"graph/$tag", d)

  /** v_i = v_(i−1) div 2 over four ids from v_0 = 100: 50, 25, 12, 6,
    * 3, 1, 0, so the stats row (rows, max v) reaches (4, 0) in round 7. */
  private def halve(tag: String, cap: Int = Int.MaxValue)(
      stop: (Row, Row, Int) => Boolean): ops.Graph.Fixpoint = {
    val init = spark.range(0, 4, 1, 2).select(col("id"), lit(100L).as("v"))
    ops.Graph.fixpoint(spark, tag, dataset, init, 4L) { (st, i) =>
      require(i <= cap, s"halving exceeded $cap rounds")
      st.select(col("id"), expr("v div 2").as("v"))
    }(max(col("v")).as("max_v"))(stop)
  }

  test("fixpoint runs to the stop test and returns the last round's state and stats") {
    val seen = collection.mutable.ArrayBuffer.empty[(Row, Row, Int)]
    val fx = halve("spec_halve") { (prev, cur, i) =>
      seen += ((prev, cur, i)); cur.getLong(1) == 0L
    }
    assert(fx.rounds === 7)
    assert(fx.stats === Row(4L, 0L))
    assert(fx.state.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      (0L until 4L).map(_ -> 0L))
    assert(seen.map(_._3) === (1 to 7))
    assert(seen.map(_._2.getLong(1)) === Seq(50L, 25L, 12L, 6L, 3L, 1L, 0L))
    // before round 1 the stop test sees rows0 and nulls; after, the
    // previous round's observed row
    assert(seen.head._1 === Row(4L, null))
    assert(seen.tail.map(_._1) === seen.init.map(_._2))
    // only the final round's directory is left, and it backs the state
    assert(roundDirs(owner("spec_halve", dataset)).map(_.replaceAll(".*_i", "i")) === Seq("i7"))
  }

  test("a cap violation in the step is the caller's error and leaves no round directory") {
    val err = intercept[IllegalArgumentException] {
      halve("spec_cap", cap = 3)((_, cur, _) => cur.getLong(1) == 0L)
    }
    assert(err.getMessage.contains("halving exceeded 3 rounds"))
    assert(roundDirs(owner("spec_cap", dataset)).isEmpty)
  }

  test("graph_pagerank and graph_cc run together on one session give the sequential results") {
    val keys = Seq("graph_pagerank", "graph_cc")
    def rows(k: String): Seq[Row] =
      SparkEntry.queries(k)(spark, SharedSpark.sf).collect().toSeq
    val sequential = keys.map(k => k -> rows(k)).toMap
    // two threads per key: overlapping calls on one (tag, dataset) must
    // not delete each other's round or final directories
    val threads = keys ++ keys
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads.size)
    try {
      val runs = threads.map { k =>
        k -> pool.submit(() => { start.await(); Seq.fill(2)(rows(k)) })
      }
      start.countDown()
      for ((k, f) <- runs; got <- f.get(10, java.util.concurrent.TimeUnit.MINUTES))
        assert(got === sequential(k), k)
    } finally pool.shutdownNow(): Unit
  }

  test("repeated runs leave at most one round directory per tag") {
    val tags = Map("graph_pagerank" -> "pr", "graph_ppr" -> "ppr", "graph_cc" -> "cc",
      "graph_closeness" -> "close", "graph_bfs" -> "bfs", "graph_kcore" -> "kcore",
      "dedup_cluster" -> "cluster")
    for (_ <- 1 to 2; k <- tags.keys.toSeq.sorted)
      SparkEntry.queries(k)(spark, SharedSpark.sf).collect()
    for (tag <- tags.values)
      assert(roundDirs(owner(tag, SharedSpark.sf)).size === 1, tag)
  }
}
