package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** A key that shows a plan rewrite must show it in the plans its actions
  * execute: the noop write [[Metrics.measure]] times and the
  * `coalesce(1).write` Verify hands to the oracle. Both optimize the
  * returned frame again, under the conf of the session the frame was
  * built on, so a rewrite that lived only in a plan built and dropped
  * inside the key never reaches them. Each check captures every query the key's build and the
  * action run. */
class RewriteActionSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SharedSpark.{spark, sf}

  /** The executed plans of every query `body` runs. */
  private def executed(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      assert(GraftSqlBridge.waitForListeners(spark.sparkContext, 30000))
    } finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq
  }

  /** Root paths of every file scan in `p`, AQE stages and subqueries
    * included. */
  private def scanned(p: SparkPlan): Seq[String] =
    collectWithSubqueries(p) {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
      case b: BatchScanExec => b.scan match {
        case f: FileScan => f.fileIndex.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten

  private val actions: Seq[(String, DataFrame => Unit)] = Seq(
    "noop write" -> (df => df.write.format("noop").mode("overwrite").save()),
    "coalesce(1).write" -> (df => df.coalesce(1).write.mode("overwrite")
      .parquet(s"${Tables.scratchRoot}/rewrite_action_out")))

  /** For both actions on `key`'s frame: some executed plan holds the
    * rewrite, and every executed plan that reads `base` holds it. */
  private def reaches(key: String, base: String)(
      rewritten: SparkPlan => Boolean): Unit = {
    SparkEntry.queries(key)(spark, sf).collect() // builds one-time artifacts
    for ((name, act) <- actions) {
      val plans = executed(act(SparkEntry.queries(key)(spark, sf)))
      assert(plans.exists(rewritten),
        s"$key: no plan executed by the $name holds the rewrite:\n" +
          plans.mkString("\n"))
      val bare = plans.filter(p => scanned(p).exists(_.contains(base)))
        .filterNot(rewritten)
      assert(bare.isEmpty,
        s"$key: the $name ran the unrewritten plan:\n" + bare.mkString("\n"))
    }
  }

  test("topk_group_rewrite's actions run the bounded-heap aggregate") {
    reaches("topk_group_rewrite", "orders.parquet")(_.toString.contains("topk_pairs"))
  }

  test("mv_rewrite's actions read the MV, never lineitem") {
    val mv = Scratch.path("mv/pricing", sf)
    reaches("mv_rewrite", "lineitem.parquet") { p =>
      val s = scanned(p)
      s.exists(_.contains(mv)) && !s.exists(_.contains("lineitem.parquet"))
    }
  }

  test("mv_rewrite_rollup's actions read the MV grid, never lineitem") {
    val mv = Scratch.path("mv/rollup", sf)
    reaches("mv_rewrite_rollup", "lineitem.parquet") { p =>
      val s = scanned(p)
      s.exists(_.contains(mv)) && !s.exists(_.contains("lineitem.parquet"))
    }
  }

  test("scan_agg_pushdown's actions answer from parquet footers") {
    // ParquetScan always prints `PushedAggregation: [...]`; an empty
    // list means nothing was pushed
    reaches("scan_agg_pushdown", "lineitem.parquet")(
      _.toString.contains("PushedAggregation: [COUNT(*)"))
  }

  test("join_bloom's actions run the runtime bloom filter") {
    // the fact side's filter probes a bloom_filter_agg subquery
    reaches("join_bloom", "lineitem.parquet")(_.toString.contains("might_contain"))
  }

  test("join_skew_aqe's frame keeps its skew thresholds through a noop write") {
    // the key sizes its thresholds from the input, so it splits the hot
    // partition at both scales (the sf0.01 leg is skipped where that
    // dataset is absent)
    val sf001 = SharedSpark.sfDir("0.01")
    if (sf001.isEmpty) info("sf0.01 absent: its leg is skipped")
    for (d <- sf +: sf001.toSeq) {
      val plans = executed(actions.head._2(SparkEntry.queries("join_skew_aqe")(spark, d)))
      assert(plans.exists(_.toString.contains("skew=true")),
        s"$d: no plan executed by the noop write split a skewed partition:\n" +
          plans.mkString("\n"))
    }
  }

  test("a key's MV never rewrites another key's plan") {
    // lineitem aggregates on mv_rewrite_rollup's grid axes: an MV that
    // outlived its caller would roll them up onto the grid
    SparkEntry.queries("mv_rewrite_rollup")(spark, sf).collect()
    val rollup = Scratch.path("mv/rollup", sf)
    for (key <- Seq("agg_chisq", "agg_cramersv")) {
      val paths = executed(SparkEntry.queries(key)(spark, sf)
        .write.format("noop").mode("overwrite").save()).flatMap(scanned)
      assert(paths.exists(_.contains("lineitem.parquet")), s"$key: $paths")
      assert(!paths.exists(_.contains(rollup)), s"$key: $paths")
    }
  }
}
