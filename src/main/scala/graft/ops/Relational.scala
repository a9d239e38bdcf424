package graft.ops

import graft.GraftSession.scoped
import graft.Scratch
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator surface: scans, joins, aggregations, windows,
  * sort/limit/top-k, set operations (SURVEY.md §2b).
  *
  * Every query is a pure (SparkSession, sfDir) => DataFrame; Catalyst is
  * left free to pick physical strategies (broadcast vs shuffle, partial
  * aggregation, TakeOrderedAndProject, …). Generalizes the reference's
  * pipeline ops: dedup anti-join (scrap/child_otherftp.py:290-291),
  * collision-rename window numbering (child.py:185-188), success/fail
  * aggregation (main.py:84-109).
  */
object Relational {

  // ---------------------------------------------------------------- scans

  /** Full columnar scan (R1/R11 analog). */
  private def scanParquet: Q = (s, d) =>
    t(s, d, "nation").orderBy("n_nationkey")

  /** Pruned scan: column pruning + predicate pushdown reach the parquet
    * reader (PushedFilters in .explain) — the "metadata before data" rule
    * (child.py:35-65 HEAD-only stat). */
  private def scanPruned: Q = (s, d) =>
    t(s, d, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .where(col("l_quantity") < 10)
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // order by every output column for a reproducible row order.
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")

  /** Conjunctive/disjunctive predicates with null-safe semantics
    * (R12 integrity filter, R15 dispatch). */
  private def filterPred: Q = (s, d) =>
    t(s, d, "lineitem")
      .where(
        col("l_quantity").between(5, 45) &&
          (col("l_returnflag") === "R" || col("l_discount") > 0.05) &&
          col("l_tax").isNotNull)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")

  // ---------------------------------------------------------------- joins

  /** Equi inner join on the fact tables; Catalyst/AQE picks SMJ or
    * shuffled-hash. At 100 TB both sides shuffle on l_orderkey —
    * co-partitioning (bucketing) would remove the exchange. */
  private def joinInnerHash: Q = (s, d) => {
    val o = t(s, d, "orders")
    val l = t(s, d, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select(
        col("o_orderkey"), col("l_linenumber"), col("o_orderstatus"),
        round(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))), 2)
          .cast("double").as("revenue"))
      .orderBy("o_orderkey", "l_linenumber", "revenue")
  }

  /** Dimension joins: nation/region are tiny → explicit broadcast so the
    * fact side never shuffles (the 100 TB-safe plan). */
  private def joinBroadcast: Q = (s, d) => {
    val c = t(s, d, "customer")
    val n = t(s, d, "nation")
    val r = t(s, d, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_cust"), davg6(col("c_acctbal")).as("avg_bal"))
      .orderBy("r_name")
  }

  /** Left outer join — sink-manifest lookup shape (R16 miss ⇒ null). */
  private def joinLeft: Q = (s, d) => {
    val o = t(s, d, "orders")
    val c = t(s, d, "customer").where(col("c_acctbal") > 5000)
    o.join(c, o("o_custkey") === c("c_custkey"), "left")
      .select(
        col("o_orderkey"),
        coalesce(col("c_name"), lit("missing")).as("cust_name"),
        coalesce(col("c_mktsegment"), lit("none")).as("segment"))
      .orderBy("o_orderkey")
  }

  /** Left semi = EXISTS in sink (R16 hit). */
  private def joinSemi: Q = (s, d) => {
    val c = t(s, d, "customer")
    val big = t(s, d, "orders").where(col("o_totalprice") > 400000)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left anti — THE dedup-skip operator
    * (scrap/child_otherftp.py:224-226,290-291). */
  private def joinAnti: Q = (s, d) => {
    val c = t(s, d, "customer")
    val big = t(s, d, "orders").where(col("o_totalprice") > 400000)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Theta join: equi prefix + inequality residual (pairs of nations in
    * the same region). Hash join on the equi part; the residual stays a
    * post-join filter — scalable, unlike a pure cross product. */
  private def joinTheta: Q = (s, d) => {
    val n1 = t(s, d, "nation").select(
      col("n_nationkey").as("a_key"), col("n_name").as("a_name"),
      col("n_regionkey").as("a_region"))
    val n2 = t(s, d, "nation").select(
      col("n_nationkey").as("b_key"), col("n_name").as("b_name"),
      col("n_regionkey").as("b_region"))
    n1.join(n2, col("a_region") === col("b_region") && col("a_key") < col("b_key"))
      .select("a_name", "b_name", "a_region")
      .orderBy("a_name", "b_name")
  }

  /** Full outer join — both sides keep their unmatched rows (the
    * reconciliation/diff join): high-balance customers vs an order
    * aggregate over an overlapping-but-different key subset, so BOTH
    * null sides occur naturally in the data. One equi shuffle; the
    * match_type derivation is the standard null-side classification. */
  private def joinFull: Q = (s, d) => {
    val cust = t(s, d, "customer")
      .where(col("c_acctbal") > 5000.0d)
      .select(col("c_custkey"), col("c_mktsegment"))
    val ords = t(s, d, "orders")
      .where(pmod(col("o_custkey"), lit(3)) === 0)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        dsum2(col("o_totalprice")).as("total_price"))
    cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_mktsegment"), col("n_orders"), col("total_price"),
        when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, "both")
          .when(col("c_custkey").isNotNull, "customer_only")
          .otherwise("orders_only").as("match_type"))
      .orderBy("custkey")
  }

  /** Cross join — the bounded-dimension cartesian (every (region,
    * nation) combination for a reporting matrix). Deliberately dims
    * only: a cartesian's output is |L|·|R| and NOTHING about Spark
    * fixes that at 100 TB — the plan is BroadcastNestedLoopJoin with
    * the 5-row side broadcast, which is exactly right at this
    * cardinality and exactly wrong for fact tables. */
  private def joinCross: Q = (s, d) =>
    t(s, d, "region").select(col("r_regionkey"), col("r_name"))
      .crossJoin(t(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
      .select(col("r_regionkey"), col("r_name"), col("n_nationkey"),
        col("n_name"),
        (col("n_regionkey") === col("r_regionkey")).as("is_home"))
      .orderBy("r_regionkey", "n_nationkey")

  /** Runtime bloom-filter join (semi-join reduction): a selective
    * filter on the dimension side is turned into a bloom filter that
    * Catalyst's InjectRuntimeFilter applies to the FACT side before its
    * shuffle — at 100 TB this is the difference between shuffling the
    * whole fact table and shuffling only the ~matching fraction. Spark's
    * default thresholds target cluster scale (app side > 10 GB), so the
    * frame is built on a [[graft.GraftSession.scoped]] session that
    * lowers them for the demonstration; every action on it optimizes
    * under that conf. Broadcast is disabled there because a
    * broadcastable dim makes the bloom moot — the interesting regime is
    * the 100M-row dim that shuffles but blooms. Result is
    * bloom-independent (filters never change join output), so the
    * oracle is the plain join. */
  private def joinBloom: Q = (s, d) => bloomJoinFrame(s, d).orderBy("o_orderkey")

  /** joinBloom's join on its own scoped session, also used by PlanSpec
    * to pin BloomFilterMightContain in the optimized plan. */
  private[graft] def bloomJoinFrame(s: SparkSession, d: String): DataFrame = {
    val bs = scoped(s,
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val o = t(bs, d, "orders").where(col("o_totalprice") > 450000)
    val l = t(bs, d, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        dsum2(col("l_extendedprice")).as("gross"))
  }

  /** Range join: events within 10 minutes after a signup by the same
    * user — planned through GRID-CELL BLOCKING, same trick as
    * [[joinInterval]]. A bare (user_id) equi join with the ±10-min bound
    * as a post-join residual builds events×signups candidates PER USER
    * before filtering — O(per-user²) on hot users at 100×. Here each
    * signup's window [s, s+10min) registers in the ≤2 10-minute grid
    * cells it touches, each event (a point) lands in exactly 1 cell,
    * and the join is EQUI on (user, cell): candidates are bounded by
    * temporal neighbors, not per-user history. No distinct needed —
    * a point matches a window in exactly one cell (the point's own).
    * µs-domain comparison matches the DuckDB oracle exactly. */
  private def joinRange: Q = (s, d) => {
    val len = 600000000L // 10-minute window AND grid-cell width
    val ev = events(s, d)
    val e = ev.select(col("user_id").as("e_user"), col("ts_us").as("e_us"),
      col("event_id").as("e_id"), expr(s"ts_us div ${len}").as("e_cell"))
    val g = ev.where(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts_us").as("s_us"),
        col("event_id").as("s_id"))
      .withColumn("s_cell", explode(sequence(
        expr(s"s_us div ${len}"), expr(s"(s_us + ${len - 1}) div ${len}"))))
    e.join(g,
        col("e_user") === col("s_user") &&
          col("e_cell") === col("s_cell") &&
          col("e_us") >= col("s_us") &&
          col("e_us") < col("s_us") + lit(len) &&
          col("e_id") =!= col("s_id"))
      .groupBy("s_id")
      .agg(count(lit(1)).as("n_follow"))
      .orderBy("s_id")
  }

  /** As-of join: for every purchase, the latest view by the same user at
    * or before it ("latest matching blob", child.py:174-191) plus the
    * count of all prior views — computed as a SINGLE-PASS RUNNING WINDOW
    * over the unioned event stream, with NO JOIN AT ALL. The composable
    * join formulation (equi on user + `v_us <= p_us` residual, then
    * aggregate) explodes purchases×all-prior-views per user before
    * collapsing — per-user quadratic at 100×. Here views and purchases
    * sort once per user (one shuffle, one sort, O(1) running state) and
    * each purchase row reads the running max/count of views at-or-before
    * it. Views sort BEFORE purchases at equal ts (tag 0 < 1) so the
    * `v_us <= p_us` tie semantics match the oracle exactly. The naive
    * explode formulation survives as a spec-side cross-check
    * ([[joinAsofNaive]], RelationalSpec). */
  private def joinAsof: Q = (s, d) => {
    val ev = events(s, d)
      .where(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(col("event_type") === "view", 0).otherwise(1).as("tag"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("last_view_us",
        max(when(col("tag") === 0, col("ts_us"))).over(w))
      .withColumn("n_prior_views",
        count(when(col("tag") === 0, lit(1))).over(w))
      .where(col("tag") === 1)
      .select(col("event_id").as("p_id"),
        coalesce(col("last_view_us"), lit(-1L)).as("last_view_us"),
        col("n_prior_views"))
      .orderBy("p_id")
  }

  /** NEAREST-direction as-of — the pandas `merge_asof(direction=
    * 'nearest')` semantics completing the family (join_asof = backward,
    * join_asof_native = backward via the custom exec): each purchase
    * pairs with whichever view is closer in time, before OR after, tie
    * to the earlier one. Same single-pass shape as [[joinAsof]]: union
    * the streams, ONE shuffle on user, a running-last window for the
    * previous view and a reversed-frame first window for the next —
    * O(1) state per row, no join node, per-user history never
    * materializes as pairs. Same-timestamp views sort before purchases
    * ((ts, tag) order), so they are "previous" at distance 0 — the
    * deterministic tie the oracle mirrors. */
  private def joinAsofNearest: Q = (s, d) => {
    val ev = events(s, d)
      .where(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(col("event_type") === "view", 0).otherwise(1).as("tag"))
    val wPrev = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("tag"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val isView = col("tag") === 0
    ev
      .withColumn("pv", last(when(isView, col("ts_us")), ignoreNulls = true)
        .over(wPrev))
      .withColumn("nv", first(when(isView, col("ts_us")), ignoreNulls = true)
        .over(wNext))
      .where(col("tag") === 1)
      .where(col("pv").isNotNull || col("nv").isNotNull)
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts_us").as("p_us"),
        when(col("nv").isNull ||
          (col("pv").isNotNull &&
            col("ts_us") - col("pv") <= col("nv") - col("ts_us")),
          col("pv")).otherwise(col("nv")).as("v_us"))
      .withColumn("dir",
        when(col("v_us") <= col("p_us"), "prev").otherwise("next"))
      .withColumn("delta_us", abs(col("p_us") - col("v_us")))
      .orderBy("p_id")
  }

  /** The naive join-then-aggregate as-of formulation — per-user
    * quadratic, kept ONLY as a spec-side cross-check against the
    * registered single-pass window plan (RelationalSpec). */
  private[graft] def joinAsofNaive: Q = (s, d) => {
    val ev = events(s, d)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts_us").as("p_us"))
    val v = ev.where(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
        col("ts_us").as("v_us"))
    p.join(v, col("p_user") === col("v_user") && col("v_us") <= col("p_us"), "left")
      .groupBy("p_id")
      .agg(
        coalesce(max(col("v_us")), lit(-1L)).as("last_view_us"),
        count(col("v_id")).as("n_prior_views"))
      .orderBy("p_id")
  }

  /** join_asof through the custom whole-operator path: logical
    * [[graft.plans.AsOfJoin]] → [[graft.plans.AsOfJoinStrategy]] →
    * [[graft.plans.AsOfJoinExec]] merge pass (O(n) per partition, O(1)
    * state — the composable range-join formulation explodes the match
    * set before aggregating). Oracle: DuckDB's native ASOF LEFT JOIN. */
  private def joinAsofNative: Q = (s, d) => {
    val ev = events(s, d)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts_us").as("p_us"))
    val v = ev.where(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
        col("ts_us").as("v_us"))
    val lp = p.queryExecution.analyzed
    val rp = v.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) =
      plan.output.find(_.name == name).get
        .asInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference]
    val joined = org.apache.spark.sql.GraftSqlBridge.ofRows(s,
      graft.plans.AsOfJoin(lp, rp,
        attr(lp, "p_user"), attr(lp, "p_us"),
        attr(rp, "v_user"), attr(rp, "v_us"),
        rightTie = attr(rp, "v_id")))
    joined
      .select(col("p_id"), col("p_us"),
        col("v_id").as("last_view_id"), col("v_us").as("last_view_us"))
      .orderBy("p_id")
  }

  // ----------------------------------------------------------- aggregates

  /** Flagship: TPC-H-Q1-shaped pricing summary. Partial (map-side)
    * aggregation + final merge come free from HashAggregateExec. */
  def aggHash: Q = (s, d) =>
    t(s, d, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum2(col("l_quantity")).as("sum_qty"),
        dsum2(col("l_extendedprice")).as("sum_base_price"),
        round(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))), 2)
          .cast("double").as("sum_disc_price"),
        davg6(col("l_quantity")).as("avg_qty"),
        davg6(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private def aggDistinct: Q = (s, d) =>
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** HLL sketch distinct — the 100 TB answer to COUNT(DISTINCT): no
    * exact shuffle of the key space, and no multi-distinct Expand
    * either (PlanSpec pins the audit-OFF plan Expand-free, same as
    * agg_bitmap — an in-plan audit that counts distincts exactly would
    * reintroduce that shape). To give the oracle a checked row: with
    * `audit = true` (the registry key, the gate plan) the output is the
    * EXACT distincts plus corridor booleans — |approx − exact|/exact ≤
    * 3×rsd per sketch (rsd=0.01 ⇒ 0.03; a pin AT the rsd would be a
    * coin flip on the sketch's own standard error) — so the driver
    * hash-verifies the exact witness against DuckDB's independent
    * count(DISTINCT) AND the sketch's corridor membership (a drifting
    * sketch flips a boolean and fails the hash). `audit = false` is
    * the production plan: sketch estimates only, no exact distinct
    * anywhere (that column is the one you drop at 100 TB).
    * RobustnessSpec keeps the numeric-tolerance audit on the
    * audit-off estimates. */
  private def aggApprox: Q = (s, d) => aggApproxPlan(s, d, audit = true)

  private[graft] def aggApproxPlan(
      s: SparkSession, d: String, audit: Boolean): DataFrame = {
    val base = t(s, d, "lineitem")
      .groupBy("l_returnflag")
    if (!audit)
      base.agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"),
        count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    else {
      // The exact witness aggregates SEPARATELY and joins on the
      // 3-row group key: sketches and countDistincts in ONE agg would
      // route the HLL buffers through the multi-distinct Expand, and
      // each expanded row then pays a full register-array merge —
      // ~16k registers × 3× the fact table, the quadratic-ish blowup
      // a Verify run at sf1 showed (a 10-minute single task at sf1 for
      // a query that is sub-second at the gate SF).
      val sk = base.agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("ao"),
        count(lit(1)).as("n_rows"))
      val ex = t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
      sk.join(ex, sk("l_returnflag") <=> ex("l_returnflag"))
        .select(sk("l_returnflag"), col("exact_parts"),
          col("exact_orders"), col("n_rows"),
          (abs(col("ap") - col("exact_parts")) <=
            col("exact_parts") * 0.03d).as("parts_ok"),
          (abs(col("ao") - col("exact_orders")) <=
            col("exact_orders") * 0.03d).as("orders_ok"))
        .orderBy(sk("l_returnflag"))
    }
  }

  /** Approximate quantiles (Greenwald-Khanna sketch) — the 100 TB
    * answer to exact percentiles: fixed-size mergeable sketch per
    * group, no per-group sort. To give the oracle a checked
    * row: with `audit = true` (the registry key, the gate plan) the
    * exact interpolated percentiles ride the same plan and the output
    * is corridor booleans — |approx − exact| ≤ 1% of |exact| per
    * quantile (GK's deterministic rank-error bound at accuracy 10⁴ is
    * far inside it) — hash-verified with the group counts, so a
    * sketch outside tolerance fails the driver gate instead of
    * passing rows-only. `audit = false` is the production plan: flat
    * q25/q50/q90 sketch scalars, NO exact `percentile` sort anywhere
    * (PlanSpec pins that plan). RobustnessSpec keeps the numeric 1%
    * audit on the audit-off values. */
  private def aggApproxQuantile: Q = (s, d) =>
    aggApproxQuantilePlan(s, d, audit = true)

  private[graft] def aggApproxQuantilePlan(
      s: SparkSession, d: String, audit: Boolean): DataFrame = {
    val qs = array(lit(0.25), lit(0.5), lit(0.9))
    val base = t(s, d, "lineitem").groupBy("l_returnflag")
    if (!audit)
      base.agg(
        approx_percentile(col("l_extendedprice"), qs, lit(10000)).as("aq"),
        count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          element_at(col("aq"), 1).as("q25"),
          element_at(col("aq"), 2).as("q50"),
          element_at(col("aq"), 3).as("q90"),
          col("n"))
        .orderBy("l_returnflag")
    else {
      def ok(i: Int): Column =
        (abs(element_at(col("aq"), i) - element_at(col("xq"), i)) <=
          abs(element_at(col("xq"), i)) * 0.01d)
      base.agg(
        approx_percentile(col("l_extendedprice"), qs, lit(10000)).as("aq"),
        percentile(col("l_extendedprice"), qs).as("xq"),
        count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"),
          ok(1).as("q25_ok"), ok(2).as("q50_ok"), ok(3).as("q90_ok"))
        .orderBy("l_returnflag")
    }
  }

  /** Rollup over the sink hierarchy {server}/{type} analog
    * (child.py:172). Null grouping slots → 'ALL' for oracle parity. */
  private def aggRollup: Q = (s, d) =>
    t(s, d, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("qty"))
      .orderBy("flag", "status")

  private def aggCube: Q = (s, d) =>
    t(s, d, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy("status", "priority")

  /** GROUPING SETS — marginals by flag and by status in one pass. */
  private def aggGsets: Q = (s, d) => {
    val li = t(s, d, "lineitem")
    li.groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum2(col("l_extendedprice")).as("price"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("price"))
      .orderBy("flag", "status")
  }

  /** Pivot event_type → columns (monitoring matrix, main.py:102-106).
    * Explicit value list: no extra distinct-scan job, stable schema. */
  private def aggPivot: Q = (s, d) =>
    events(s, d)
      .groupBy(pmod(col("user_id"), lit(10)).as("user_bucket"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_bucket")

  // -------------------------------------------------------------- windows

  /** row_number / rank / dense_rank — the collision-rename numbering
    * (child.py:185-188). rn uses a total order; rk/drk rank a tied key
    * so the three differ observably. */
  private def winRank: Q = (s, d) =>
    t(s, d, "lineitem")
      .where(col("l_quantity") >= 49)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"),
        row_number().over(Window.partitionBy("l_returnflag")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
            col("l_linenumber"), col("l_quantity")))
          .as("rn"),
        rank().over(Window.partitionBy("l_returnflag")
          .orderBy(col("l_quantity").desc)).as("rk"),
        dense_rank().over(Window.partitionBy("l_returnflag")
          .orderBy(col("l_quantity").desc)).as("drk"))
      .orderBy("l_returnflag", "rn")

  /** lag/lead/first/last per user ordered by time (inter-event deltas). */
  private def winAnalytic: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events(s, d)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      .select(
        col("event_id"), col("user_id"), col("ts_us"),
        coalesce(col("ts_us") - lag("ts_us", 1).over(w), lit(-1L)).as("gap_us"),
        coalesce(lead("event_id", 1).over(w), lit(-1L)).as("next_id"),
        first("value").over(w).as("first_value"),
        last("value").over(wFull).as("last_value"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** Running/frame aggregates: rowsBetween cumulative sum + rangeBetween
    * 30-day count (cumulative bytes-ingested analog). */
  private def winFrame: Q = (s, d) => {
    val wRows = Window.partitionBy("o_custkey")
      .orderBy("od_s", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wRange = Window.partitionBy("o_custkey")
      .orderBy("od_s")
      .rangeBetween(-2592000L, 0L)
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        epochS(col("o_orderdate")).as("od_s"), col("o_totalprice"))
      .select(
        col("o_custkey"), col("o_orderkey"), col("od_s"),
        round(sum(dec(col("o_totalprice"))).over(wRows), 2).cast("double")
          .as("running_total"),
        count(lit(1)).over(wRange).as("n_30d"))
      .orderBy("o_custkey", "od_s", "o_orderkey")
  }

  // ------------------------------------------- sort / limit / top-k / sets

  /** Global sort + limit → TakeOrderedAndProject (no full sort at scale;
    * "largest files first", log/monitor.log:848-856). */
  private def sortLimit: Q = (s, d) =>
    t(s, d, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  /** Top-k per group via window rank ≤ k (biggest file per server). */
  private def topkGroup: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  /** topk_group re-expressed through the native [[graft.expr.TopKAgg]]
    * bounded-heap aggregate: map-side combinable, at most k pairs per
    * group per partition cross the shuffle, no full-group sort. Shares
    * topk_group's oracle — results must be bit-identical. */
  private def topkGroupAgg: Q = (s, d) => {
    t(s, d, "orders")
      .groupBy("o_custkey")
      .agg(call_function("topk_pairs",
        col("o_totalprice"), col("o_orderkey"), lit(3)).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("o_custkey"), col("p.id").as("o_orderkey"),
        col("p.score").as("o_totalprice"),
        (col("pos") + 1).cast("int").as("rn"))
      .orderBy("o_custkey", "rn")
  }

  /** topk_group written as user SQL text: the window top-k that
    * [[graft.plans.TopKRewrite]] (always on, like every graft rule)
    * replaces at plan time with the bounded-heap aggregate, so plain
    * `spark.sql` gets the k-rows-per-group shuffle too. Shares
    * topk_group's oracle. */
  private def topkGroupRewrite: Q = (s, d) =>
    s.sql(s"""
      SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM parquet.`$d/orders.parquet`)
      WHERE rn <= 3
      ORDER BY o_custkey, rn""")

  /** ONE SQL text, TWO engines: the classic shipping-priority query
    * (TPC-H Q3 shape) runs VERBATIM through spark.sql and as the DuckDB
    * oracle — the strongest completeness statement the gate can make
    * (a reference user's ANSI SQL ports unchanged). Decimal discipline
    * inside the text (exact DECIMAL(18,4) products, HALF_UP round)
    * keeps the revenue sum bit-identical in both engines; the ORDER BY
    * ends in l_orderkey for a total order under LIMIT. */
  private[graft] val tpchQ3Sql: String =
    """SELECT l_orderkey,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                             * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                   AS DOUBLE) AS revenue,
              o_orderdate, o_orderpriority
       FROM customer, orders, lineitem
       WHERE c_mktsegment = 'BUILDING'
         AND c_custkey = o_custkey
         AND l_orderkey = o_orderkey
         AND o_orderdate < TIMESTAMP '1995-03-15'
         AND l_shipdate > TIMESTAMP '1995-03-15'
       GROUP BY l_orderkey, o_orderdate, o_orderpriority
       ORDER BY revenue DESC, o_orderdate, l_orderkey
       LIMIT 10"""
  private def sqlTpchQ3: Q = (s, d) => {
    Seq("customer", "orders", "lineitem")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ3Sql)
  }

  /** Recursive CTE (Spark 4 UnionLoop): ancestor-chain walk over the
    * implicit binary-tree hierarchy anc(k)=floor(k/2) on s_suppkey —
    * data-dependent O(log n) recursion depth, so each loop step is a
    * narrow map over the previous step's frontier (no shuffle inside
    * the loop; one hash agg at the end). FLOOR+CAST instead of integer
    * division keeps the text portable: DuckDB CAST rounds half-up where
    * JVM casts truncate, but FLOOR makes the value integral first. */
  private[graft] val recursiveSql: String =
    """WITH RECURSIVE chain(suppkey, anc, depth) AS (
         SELECT s_suppkey, s_suppkey, 0 FROM supplier
         UNION ALL
         SELECT suppkey, CAST(FLOOR(anc / 2.0) AS BIGINT), depth + 1
         FROM chain WHERE anc > 1
       )
       SELECT suppkey, CAST(max(depth) AS BIGINT) AS depth,
              count(*) AS chain_len
       FROM chain GROUP BY suppkey ORDER BY suppkey"""
  private def sqlRecursive: Q = (s, d) => {
    t(s, d, "supplier").createOrReplaceTempView("supplier")
    s.sql(recursiveSql)
  }

  /** LATERAL correlated subquery with per-row ORDER BY … LIMIT (top-2
    * suppliers per nation) — Catalyst decorrelates the limit into a
    * window/rank, so the physical plan is one shuffle on the join key,
    * not N correlated executions. Raw s_acctbal doubles pass through
    * untouched → bit-identical in both engines. */
  private[graft] val lateralSql: String =
    """SELECT n_name, s_name, s_acctbal
       FROM nation n,
       LATERAL (SELECT s_name, s_acctbal FROM supplier s
                WHERE s.s_nationkey = n.n_nationkey
                ORDER BY s_acctbal DESC, s_name LIMIT 2) t
       ORDER BY n_name, s_acctbal DESC, s_name"""
  private def sqlLateral: Q = (s, d) => {
    Seq("nation", "supplier")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(lateralSql)
  }

  /** Correlated EXISTS / NOT EXISTS / scalar-count subqueries in one
    * statement — Catalyst rewrites them to semi/anti/left joins (one
    * pass over orders each), never a per-row re-execution. */
  private[graft] val existsSql: String =
    """SELECT c_custkey, c_name,
              (SELECT count(*) FROM orders o
               WHERE o.o_custkey = c.c_custkey) AS n_orders
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderpriority = '1-URGENT')
         AND NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderstatus = 'F'
                           AND o.o_totalprice > 350000)
       ORDER BY c_custkey"""
  private def sqlExists: Q = (s, d) => {
    Seq("customer", "orders")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(existsSql)
  }

  /** TPC-H Q18 shape (large-volume customers): IN-subquery with a
    * grouped HAVING, three-way join, re-aggregation. sum(l_quantity)
    * is exact despite DOUBLE storage — the values are integer-valued
    * and far below 2^53, so the sum is order-independent. ORDER BY
    * ends in o_orderkey for a total order under LIMIT. */
  private[graft] val tpchQ18Sql: String =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
              sum(l_quantity) AS total_qty
       FROM customer, orders, lineitem
       WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                            GROUP BY l_orderkey
                            HAVING sum(l_quantity) > 300)
         AND c_custkey = o_custkey
         AND o_orderkey = l_orderkey
       GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
       ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
       LIMIT 100"""
  private def sqlTpchQ18: Q = (s, d) => {
    Seq("customer", "orders", "lineitem")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ18Sql)
  }

  /** TPC-H Q2 shape (minimum-cost supplier): the CORRELATED SCALAR MIN
    * subquery — for each part, only the European supplier(s) matching
    * the Europe-wide minimum cost survive. The schema has no partsupp
    * table, so it derives one (min l_extendedprice per (part, supp)
    * pair observed in lineitem). Catalyst DECORRELATES the scalar
    * subquery into an aggregate-then-join (PlanSpec pins no surviving
    * correlated subquery in the physical plan) — the per-part re-
    * execution a naive reading implies would be O(parts × partsupp).
    * Determinism: costs are min-selected doubles (never arithmetic),
    * equality compares identical values; ORDER BY ends in the unique
    * (s_name, p_partkey) pair. */
  private[graft] val tpchQ2Sql: String =
    """WITH partsupp AS (
         SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                min(l_extendedprice) AS ps_supplycost
         FROM lineitem GROUP BY 1, 2)
       SELECT s_acctbal, s_name, n_name, p_partkey, p_name
       FROM part, supplier, partsupp, nation, region
       WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
         AND p_size <= 15 AND p_type IN ('LARGE', 'SMALL')
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'EUROPE'
         AND ps_supplycost = (SELECT min(ps2.ps_supplycost)
                              FROM partsupp ps2, supplier s2, nation n2,
                                   region r2
                              WHERE ps2.ps_partkey = p_partkey
                                AND s2.s_suppkey = ps2.ps_suppkey
                                AND s2.s_nationkey = n2.n_nationkey
                                AND n2.n_regionkey = r2.r_regionkey
                                AND r2.r_name = 'EUROPE')
       ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"""
  private def sqlTpchQ2: Q = (s, d) => {
    Seq("part", "supplier", "lineitem", "nation", "region")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ2Sql)
  }

  /** TPC-H Q15 (top supplier): the AGG-OF-AGG VIEW shape — a grouped
    * revenue view consumed twice, once as the join input and once
    * under max(). Spark plans the view once per consumer; the scalar
    * max is an uncorrelated subquery (one extra pass over the tiny
    * grouped result, not over lineitem). Revenue follows the Q1
    * decimal discipline (exact DECIMAL sum, one round, cast to
    * double), so the equality against max() compares identical
    * doubles. */
  private[graft] val tpchQ15Sql: String =
    """WITH revenue AS (
         SELECT l_suppkey AS supplier_no,
                CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                               * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                     AS DOUBLE) AS total_revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1996-04-01'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name, total_revenue
       FROM supplier, revenue
       WHERE s_suppkey = supplier_no
         AND total_revenue = (SELECT max(total_revenue) FROM revenue)
       ORDER BY s_suppkey"""
  private def sqlTpchQ15: Q = (s, d) => {
    Seq("supplier", "lineitem")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ15Sql)
  }

  /** TPC-H Q4 shape (order-priority checking): EXISTS-only semi join
    * into a grouped count — the simplest decorrelation shape, kept as
    * its own key because it is the one where a wrong plan (re-scan per
    * order) is easiest for a regression to sneak into. l_returnflag='R'
    * stands in for the absent receipt>commit lateness. */
  private[graft] val tpchQ4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1996-07-01'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""
  private def sqlTpchQ4: Q = (s, d) => {
    Seq("orders", "lineitem")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ4Sql)
  }

  /** TPC-H Q12 shape (shipping-mode priority split): fact⋈fact join
    * feeding CONDITIONAL COUNTING (CASE inside sum) — pure integer
    * aggregation, the pivot-in-an-aggregate idiom. o_orderpriority
    * buckets stand in for the absent l_shipmode. */
  private[graft] val tpchQ12Sql: String =
    """SELECT l_linestatus,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       FROM orders, lineitem
       WHERE o_orderkey = l_orderkey
         AND l_shipdate >= TIMESTAMP '1997-01-01'
         AND l_shipdate < TIMESTAMP '1998-01-01'
       GROUP BY l_linestatus ORDER BY l_linestatus"""
  private def sqlTpchQ12: Q = (s, d) => {
    Seq("orders", "lineitem")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ12Sql)
  }

  /** TPC-H Q14 (promotion effect): the RATIO-OF-AGGREGATES scalar —
    * both numerator and denominator are EXACT decimal sums, each cast
    * to double (one correctly-rounded conversion), then ONE IEEE
    * multiply and ONE divide in fixed order; the result double is
    * emitted RAW (identical ops → identical bits in both engines — the
    * discipline that avoids round()-of-raw-double divergence). */
  private[graft] val tpchQ14Sql: String =
    """SELECT CAST(100.0 AS DOUBLE)
                * CAST(sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice AS DECIMAL(18,4))
                            * (1 - CAST(l_discount AS DECIMAL(18,4)))
                       ELSE 0 END) AS DOUBLE)
                / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                           * (1 - CAST(l_discount AS DECIMAL(18,4))))
                       AS DOUBLE) AS promo_revenue
       FROM lineitem, part
       WHERE l_partkey = p_partkey
         AND l_shipdate >= TIMESTAMP '1997-09-01'
         AND l_shipdate < TIMESTAMP '1997-10-01'"""
  private def sqlTpchQ14: Q = (s, d) => {
    Seq("lineitem", "part")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ14Sql)
  }

  /** TPC-H Q22 shape (global sales opportunity): an UNCORRELATED
    * scalar-avg threshold plus a NOT EXISTS anti join, grouped by a
    * derived country code (the customer id's last two digits — the
    * schema has no phone column). The average is assembled as exact
    * decimal sum ÷ count — ONE division — because a plain avg(double)
    * folds in partition order and the threshold comparison would
    * wobble on the boundary customer. The anti join is restricted to
    * urgent-F orders so it actually selects (every synthetic customer
    * has ~10 orders). */
  private[graft] val tpchQ22Sql: String =
    """WITH avg_bal AS (
         SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                  / count(*) AS ab
         FROM customer WHERE c_acctbal > 0.0),
       eligible AS (
         SELECT substring(c_name, 17, 2) AS cntrycode, c_custkey,
                CAST(c_acctbal AS DECIMAL(18,2)) AS bal
         FROM customer, avg_bal WHERE c_acctbal > ab)
       SELECT cntrycode, count(*) AS numcust,
              CAST(sum(bal) AS DOUBLE) AS totacctbal
       FROM eligible e
       WHERE NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = e.c_custkey
                           AND o_orderpriority = '1-URGENT'
                           AND o_orderstatus = 'F')
       GROUP BY cntrycode ORDER BY cntrycode"""
  private def sqlTpchQ22: Q = (s, d) => {
    Seq("customer", "orders")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ22Sql)
  }

  /** TPC-H Q7 (volume shipping): bidirectional nation-pair flows by
    * ship year — the double-aliased dimension join (nation n1, n2)
    * with a symmetric OR predicate. Revenue = exact decimal sum,
    * one round, cast double (the Q1 discipline). */
  private[graft] val tpchQ7Sql: String =
    """WITH flows AS (
         SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(year(l_shipdate) AS BIGINT) AS l_year,
                CAST(l_extendedprice AS DECIMAL(18,4))
                  * (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume
         FROM supplier, lineitem, orders, customer, nation n1, nation n2
         WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
           AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
           AND c_nationkey = n2.n_nationkey
           AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
                OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
           AND l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01')
       SELECT supp_nation, cust_nation, l_year,
              CAST(round(sum(volume), 2) AS DOUBLE) AS revenue
       FROM flows GROUP BY supp_nation, cust_nation, l_year
       ORDER BY supp_nation, cust_nation, l_year"""
  private def sqlTpchQ7: Q = (s, d) => {
    Seq("supplier", "lineitem", "orders", "customer", "nation")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ7Sql)
  }

  /** TPC-H Q8 (national market share): the 8-table star join feeding a
    * per-year RATIO of conditional to total volume — the Q14 raw-IEEE
    * ratio discipline applied per group. */
  private[graft] val tpchQ8Sql: String =
    """WITH all_nations AS (
         SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                CAST(l_extendedprice AS DECIMAL(18,4))
                  * (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume,
                n2.n_name AS nation
         FROM part, supplier, lineitem, orders, customer, nation n1,
              nation n2, region
         WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
           AND l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND c_nationkey = n1.n_nationkey
           AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
           AND s_nationkey = n2.n_nationkey
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND p_type = 'ECONOMY')
       SELECT o_year,
              CAST(sum(CASE WHEN nation = 'NATION_2' THEN volume
                            ELSE 0 END) AS DOUBLE)
                / CAST(sum(volume) AS DOUBLE) AS mkt_share
       FROM all_nations GROUP BY o_year ORDER BY o_year"""
  private def sqlTpchQ8: Q = (s, d) => {
    Seq("part", "supplier", "lineitem", "orders", "customer", "nation",
      "region").foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ8Sql)
  }

  /** TPC-H Q9 (product-type profit): derived partsupp (min line price
    * per (part, supp)) joined back into a profit expression — NARROW
    * decimal casts ((12,2)/(4,2)/(4,1)) keep every product's scale far
    * from both engines' 38-precision clamp (the Q1 lesson: at wide
    * scales Spark clamps where DuckDB widens and the rounding
    * diverges). */
  private[graft] val tpchQ9Sql: String =
    """WITH partsupp AS (
         SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                min(CAST(l_extendedprice AS DECIMAL(12,2)))
                  AS ps_supplycost
         FROM lineitem GROUP BY 1, 2),
       profit AS (
         SELECT n_name AS nation,
                CAST(year(o_orderdate) AS BIGINT) AS o_year,
                CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2)))
                  - ps_supplycost * CAST(l_quantity AS DECIMAL(4,1))
                  AS amount
         FROM part, supplier, lineitem, partsupp, orders, nation
         WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
           AND ps_partkey = l_partkey AND p_partkey = l_partkey
           AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
           AND p_name LIKE '%ring%')
       SELECT nation, o_year,
              CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
       FROM profit GROUP BY nation, o_year ORDER BY nation, o_year DESC"""
  private def sqlTpchQ9: Q = (s, d) => {
    Seq("part", "supplier", "lineitem", "orders", "nation")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ9Sql)
  }

  /** TPC-H Q11 (important stock): grouped value with a HAVING against
    * an UNCORRELATED scalar over the same scoped view (here 1.5× the
    * mean per-part share — SF-robust where the classic fixed fraction
    * empties at small SFs). availqty is derived as the (part, supp)
    * line count; region scoping keeps the supplier→nation→region join
    * chain non-empty at every SF. */
  private[graft] val tpchQ11Sql: String =
    """WITH partsupp AS (
         SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                min(CAST(l_extendedprice AS DECIMAL(12,2)))
                  AS ps_supplycost,
                CAST(count(*) AS BIGINT) AS ps_availqty
         FROM lineitem GROUP BY 1, 2),
       scoped AS (
         SELECT ps_partkey, ps_supplycost * ps_availqty AS value
         FROM partsupp, supplier, nation, region
         WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
           AND n_regionkey = r_regionkey AND r_name = 'EUROPE'),
       thr AS (SELECT CAST(sum(value) AS DOUBLE) * 1.5
                      / count(DISTINCT ps_partkey) AS cut FROM scoped)
       SELECT ps_partkey, CAST(sum(value) AS DOUBLE) AS value
       FROM scoped, thr
       GROUP BY ps_partkey, cut
       HAVING CAST(sum(value) AS DOUBLE) > cut
       ORDER BY value DESC, ps_partkey LIMIT 100"""
  private def sqlTpchQ11: Q = (s, d) => {
    Seq("supplier", "lineitem", "nation", "region")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ11Sql)
  }

  /** TPC-H Q13 (customer distribution): LEFT join with an extra ON
    * predicate (orders filtered IN the join, keeping order-less
    * customers) → per-customer count → count-of-counts — the
    * two-level aggregation histogram shape. */
  private[graft] val tpchQ13Sql: String =
    """WITH c_orders AS (
         SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
         FROM customer LEFT JOIN orders
           ON c_custkey = o_custkey
          AND o_orderpriority <> '4-NOT SPECIFIED'
         GROUP BY c_custkey)
       SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
       FROM c_orders GROUP BY c_count
       ORDER BY custdist DESC, c_count DESC"""
  private def sqlTpchQ13: Q = (s, d) => {
    Seq("customer", "orders")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ13Sql)
  }

  /** TPC-H Q16 (parts/supplier relationship): DISTINCT-pair derived
    * partsupp, NOT IN exclusion subquery (null-free key, so the
    * anti-join rewrite is safe), count(DISTINCT supplier) per
    * (brand, type, size). */
  private[graft] val tpchQ16Sql: String =
    """WITH partsupp AS (
         SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
         FROM lineitem)
       SELECT p_brand, p_type, p_size,
              CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
       FROM partsupp, part
       WHERE p_partkey = ps_partkey AND p_brand <> 'Brand#3'
         AND p_type NOT IN ('PROMO', 'STANDARD')
         AND p_size IN (1, 4, 9, 14, 23)
         AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_name LIKE '%00009%')
       GROUP BY p_brand, p_type, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 100"""
  private def sqlTpchQ16: Q = (s, d) => {
    Seq("lineitem", "part", "supplier")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ16Sql)
  }

  /** TPC-H Q17 (small-quantity-order revenue): the per-part scalar-avg
    * threshold (classically a correlated subquery; expressed as a
    * grouped view join, which is what Catalyst decorrelates to
    * anyway). The average is exact-sum ÷ count, the comparison one
    * IEEE multiply, and the final scalar is an exact decimal sum cast
    * once and divided once — emitted RAW. */
  private[graft] val tpchQ17Sql: String =
    """WITH pq AS (
         SELECT l_partkey AS a_partkey,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                  / count(*) AS avg_qty
         FROM lineitem GROUP BY l_partkey)
       SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                   AS DOUBLE) / 7.0 AS avg_yearly
       FROM lineitem, part, pq
       WHERE p_partkey = l_partkey AND a_partkey = l_partkey
         AND p_brand = 'Brand#5' AND p_type = 'MEDIUM'
         AND l_quantity < 0.2 * avg_qty"""
  private def sqlTpchQ17: Q = (s, d) => {
    Seq("lineitem", "part")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ17Sql)
  }

  /** TPC-H Q19 (discounted revenue): the disjunction-of-conjunctions
    * predicate (brand × size-range × quantity-range OR-chain) — the
    * planner must push the common join key and evaluate the residual
    * OR without a cross product. */
  private[graft] val tpchQ19Sql: String =
    """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                   AS DOUBLE) AS revenue
       FROM lineitem, part
       WHERE p_partkey = l_partkey
         AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity >= 1 AND l_quantity <= 21)
              OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                  AND l_quantity >= 10 AND l_quantity <= 30)
              OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
                  AND l_quantity >= 20 AND l_quantity <= 40))"""
  private def sqlTpchQ19: Q = (s, d) => {
    Seq("lineitem", "part")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ19Sql)
  }

  /** TPC-H Q20 (potential part promotion): the NESTED IN chain —
    * suppliers IN (pairs whose stock exceeds half a year's shipped
    * quantity for promoted parts), with the per-pair quantity itself a
    * grouped view. Integer availqty vs one IEEE multiply keeps the
    * threshold deterministic. */
  private[graft] val tpchQ20Sql: String =
    """WITH partsupp AS (
         SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                CAST(count(*) AS BIGINT) AS ps_availqty
         FROM lineitem GROUP BY 1, 2),
       agg AS (
         SELECT l_partkey AS a_partkey, l_suppkey AS a_suppkey,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                  AS qty
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
         GROUP BY 1, 2)
       SELECT s_name, s_acctbal FROM supplier, nation
       WHERE s_suppkey IN (
           SELECT ps_suppkey FROM partsupp, agg
           WHERE ps_partkey IN (SELECT p_partkey FROM part
                                WHERE p_name LIKE 'hot%')
             AND a_partkey = ps_partkey AND a_suppkey = ps_suppkey
             AND ps_availqty > 0.1 * qty)
         AND s_nationkey = n_nationkey AND n_regionkey <= 2
       ORDER BY s_name"""
  private def sqlTpchQ20: Q = (s, d) => {
    Seq("supplier", "lineitem", "part", "nation")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ20Sql)
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): the CHAINED
    * EXISTS / NOT EXISTS double-filter — the supplier's line is flagged
    * ('R'), the order is multi-supplier (EXISTS another supplier's
    * line), and NO other supplier was flagged (NOT EXISTS). The schema
    * has no receipt/commit dates, so l_returnflag = 'R' stands in for
    * lateness; the plan shape is the point: Catalyst must produce the
    * LeftSemi + LeftAnti join PAIR over lineitem (PlanSpec pins both),
    * each a shuffle on l_orderkey — never a per-row re-scan. */
  private[graft] val tpchQ21Sql: String =
    """SELECT s_name, count(*) AS numwait
       FROM supplier, lineitem l1, orders
       WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
         AND o_orderstatus = 'F'
         AND l1.l_returnflag = 'R'
         AND EXISTS (SELECT 1 FROM lineitem l2
                     WHERE l2.l_orderkey = l1.l_orderkey
                       AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM lineitem l3
                         WHERE l3.l_orderkey = l1.l_orderkey
                           AND l3.l_suppkey <> l1.l_suppkey
                           AND l3.l_returnflag = 'R')
       GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"""
  private def sqlTpchQ21: Q = (s, d) => {
    Seq("supplier", "lineitem", "orders")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ21Sql)
  }

  /** 2-D spatial ε-join via grid blocking — the planar sibling of
    * joinInterval's 1-D grid and the dedup family's LSH bands:
    * deterministic integer points derive from customer keys, each
    * point lands in ONE ε-sized cell on the build side while the probe
    * side explodes to its 3×3 neighbor cells, so every L∞-within-ε
    * pair shares exactly one (build-cell, probe-key) match — a point
    * within ε sits in the same or an adjacent cell by construction,
    * and a build point has a single cell, so no dedup pass is needed.
    * The join is a plain equi join on the cell string; the exact
    * integer predicate filters candidates. Work ∝ true near-pairs +
    * 9× point count, never O(n²); at 100 TB the cell key shuffles a
    * few bytes per point and skew equals real spatial density
    * (saltable like any hot key). */
  private def joinSpatial: Q = (s, d) => {
    val eps = 75L
    // md5-derived coordinates (the sample_hash bucket discipline, one
    // salt per axis): linear key maps put every point on a lattice
    // line — x- and y-deltas both determined by the key delta — and
    // the plane degenerates to ~zero within-ε pairs.
    // 3000² plane: dense enough that even sf0.001's 150 points form
    // pairs (expected ≈ 28; a 10000² plane left the smoke SF at 0)
    // without exploding the sf0.1 result.
    def coord(salt: String): Column =
      pmod(conv(substring(md5(concat(col("c_custkey").cast("string"),
        lit(salt))), 1, 8), 16, 10).cast("long"), lit(3000L))
    val pts = t(s, d, "customer").select(
      col("c_custkey").as("id"), coord("x").as("x"), coord("y").as("y"))
    val build = pts.select(col("id"), col("x"), col("y"),
      concat_ws(":", expr(s"x div $eps"), expr(s"y div $eps")).as("cellkey"))
    val offs = Seq(-1L, 0L, 1L)
    val probe = pts.select(col("id").as("b_id"),
      col("x").as("bx"), col("y").as("by"),
      explode(array(offs.flatMap(dx => offs.map(dy =>
        concat_ws(":", expr(s"x div $eps") + dx, expr(s"y div $eps") + dy))): _*))
        .as("cellkey"))
    build.join(probe, "cellkey")
      .where(col("id") < col("b_id") &&
        abs(col("x") - col("bx")) <= eps && abs(col("y") - col("by")) <= eps)
      .select(col("id").as("a_id"), col("b_id"),
        abs(col("x") - col("bx")).as("dx"), abs(col("y") - col("by")).as("dy"))
      .orderBy("a_id", "b_id")
  }

  /** Interval-OVERLAP join via grid-cell blocking — the standard trick
    * for interval joins Spark has no native operator for: each 5-minute
    * interval registers in the 10-minute grid cells it touches (≤ 2),
    * the join runs as a plain EQUI join on (user, cell), and the exact
    * overlap predicate filters the candidates; distinct removes the
    * double-match when a pair shares two cells. Join groups are bounded
    * by TEMPORAL NEIGHBORS per user — a bare (user_id) equi join with a
    * range residual degrades to O(per-user²) comparisons at 100×, while
    * the grid holds work proportional to true near-coincidences.
    * Integer-µs math end to end. */
  private def joinInterval: Q = (s, d) => {
    val len = 300000000L // 5-minute CLOSED interval [ts, ts+len]: both
    // the predicate and the oracle use <= on both ends, so intervals
    // that merely touch pair up with overlap_us = 0.
    val cell = 600000000L // 10-minute grid
    val ev = events(s, d)
    def side(tpe: String, p: String) = ev
      .where(col("event_type") === tpe)
      .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
        col("ts_us").as(s"${p}_start"), (col("ts_us") + len).as(s"${p}_end"))
      .withColumn("cell", explode(sequence(
        expr(s"${p}_start div $cell"), expr(s"${p}_end div $cell"))))
    val a = side("view", "a")
    val b = side("purchase", "b")
    a.join(b, a("a_user") === b("b_user") && a("cell") === b("cell"))
      .where(col("a_start") <= col("b_end") && col("b_start") <= col("a_end"))
      .select(col("a_id"), col("b_id"),
        (least(col("a_end"), col("b_end")) -
          greatest(col("a_start"), col("b_start"))).as("overlap_us"))
      .distinct()
      .orderBy("a_id", "b_id")
  }

  /** Time-interval RANGE window frame (30-day rolling spend per
    * customer) — the event-time sliding aggregate in BATCH form, shared
    * text in both engines (named WINDOW clause). The moving sum runs on
    * DECIMAL inside the frame: engines accumulate moving aggregates in
    * different orders (segment trees vs running add/subtract), which is
    * invisible for exact decimals and a hash mismatch for doubles. */
  private[graft] val windowRangeSql: String =
    """SELECT o_orderkey, o_custkey, o_orderdate,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w
                   AS DOUBLE) AS roll30,
              count(*) OVER w AS n30
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                    RANGE BETWEEN INTERVAL '30' DAY PRECEDING
                          AND CURRENT ROW)
       ORDER BY o_orderkey"""
  private def sqlWindowRange: Q = (s, d) => {
    t(s, d, "orders").createOrReplaceTempView("orders")
    s.sql(windowRangeSql)
  }

  /** Exact distinct counting via two-level BITMAP aggregation — the
    * scalable exact alternative to approx_count_distinct: level 1
    * ORs ids into fixed-size per-bucket bitmaps (map-side combinable;
    * only 4 KB bitmaps cross the shuffle, never raw ids), level 2 sums
    * popcounts. Unlike count(DISTINCT) there is no per-group id
    * de-dup shuffle of the full key stream, and unlike HLL the answer
    * is EXACT — which is why the plain count(DISTINCT) oracle
    * hash-matches it. */
  private def aggBitmap: Q = (s, d) =>
    t(s, d, "orders")
      .groupBy(col("o_orderpriority"),
        expr("bitmap_bucket_number(o_custkey)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))")
        .as("sub_bitmap"))
      .groupBy("o_orderpriority")
      .agg(sum(expr("bitmap_count(sub_bitmap)")).as("exact_distinct"))
      .orderBy("o_orderpriority")

  /** Exact single-pass Pearson correlation per group — the moment-sums
    * formulation (n, Σx, Σy, Σx², Σxy, Σy²) with every sum EXACT
    * decimal (order-insensitive, map-side combinable, mergeable across
    * partitions — the property built-in `corr` loses by accumulating
    * doubles in partition order). The final corr assembles from the six
    * sums in doubles — with each sum ROUNDED TO AN INTEGER decimal
    * first: a fractional decimal→double cast is correctly rounded in
    * one engine and off-by-an-ulp near ties in the other (observed on
    * Σxy), while integers below 2^53 convert EXACTLY everywhere (the
    * largest moment here, Σy², is ~2.2e14 at sf0.1 — safe through
    * ~sf10; beyond that, pre-scale y). The rounding perturbs corr by
    * ~1e-11 relative and is defined identically in both engines.
    * One hash agg, O(groups·6) shuffle. */
  private def aggCorr: Q = (s, d) => {
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    val nD = col("n").cast("double")
    def dbl(c: String) = round(col(c), 0).cast("double")
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sxd"), sum(y).as("syd"),
        sum(x * x).as("sxxd"), sum(x * y).as("sxyd"), sum(y * y).as("syyd"))
      .select(col("l_returnflag"), col("n"),
        ((nD * dbl("sxyd") - dbl("sxd") * dbl("syd")) /
          (sqrt(nD * dbl("sxxd") - dbl("sxd") * dbl("sxd")) *
            sqrt(nD * dbl("syyd") - dbl("syd") * dbl("syd"))))
          .as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  /** GAPS-AND-ISLANDS: longest run of consecutive same-type events per
    * user — THE classic SQL streak idiom (rn_all − rn_by_type is
    * constant exactly within a run, so the difference IS the island
    * id), the shape behind retention streaks, error bursts, and
    * sessionless engagement runs. Two row_number windows over the SAME
    * per-user sort + one island aggregate + one O(runs) pick window —
    * a single shuffle on user_id does all three ((user, ts) is unique,
    * so the order and the result are total). Ties between equal-length
    * runs resolve to the earliest start. */
  private def winIslands: Q = (s, d) => {
    val ev = events(s, d)
      .select(col("user_id"), col("ts_us"), col("event_type"))
    val wAll = Window.partitionBy("user_id").orderBy("ts_us")
    val wTyp = Window.partitionBy("user_id", "event_type").orderBy("ts_us")
    val runs = ev
      .withColumn("grp",
        row_number().over(wAll) - row_number().over(wTyp))
      .groupBy("user_id", "event_type", "grp")
      .agg(count(lit(1)).as("streak_len"), min(col("ts_us")).as("start_us"))
    val pick = Window.partitionBy("user_id")
      .orderBy(col("streak_len").desc, col("start_us"))
    runs.withColumn("rn", row_number().over(pick)).where(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("streak_type"),
        col("streak_len"), col("start_us"))
      .orderBy("user_id")
  }

  /** Boolean/conditional aggregate surface — count_if, bool_and/or,
    * FILTER-style conditional sums — the reporting shorthand layer over
    * plain aggregates (one hash agg, map-side partials; each is sugar
    * over sum(CASE …) and compiles to the same plan shape, which is
    * why they're all safely exact cross-engine). */
  private def aggBool: Q = (s, d) =>
    t(s, d, "orders")
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"),
        count_if(col("o_totalprice") > 200000).as("n_big"),
        sum(when(col("o_totalprice") > 200000,
          dec(col("o_totalprice")))).as("big_total_d"),
        bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
        bool_or(col("o_totalprice") > 500000).as("any_over_500k"),
        max_by(col("o_orderkey"), struct(col("o_totalprice"),
          col("o_orderkey"))).as("biggest_order"))
      .select(col("status"), col("n"), col("n_big"),
        round(col("big_total_d"), 2).cast("double").as("big_total"),
        col("all_over_1k"), col("any_over_500k"), col("biggest_order"))
      .orderBy("status")

  /** Welch two-sample t-test per group — the A/B-experiment readout at
    * corpus scale: orders assigned to arms by md5 parity of the order
    * key (deterministic hash assignment, the way experiment bucketing
    * actually works — rerun-identical, no RNG, no coordination), then
    * per priority group the arm means are compared by Welch's unequal-
    * variance t with the Welch–Satterthwaite df. EVERYTHING up to the
    * final assembly is exact integer power sums (n, Σy, Σy² per arm in
    * kilodollars — the [[Pipeline]] ml_linreg unit keeping n·Σy² inside
    * long to ~sf100; past that lift the sums to DECIMAL(38,0)), pivoted
    * to fixed columns by conditional agg, and the t/df assembly is a
    * fixed chain of +,−,×,÷,sqrt — every op correctly rounded IEEE in
    * both engines, so raw doubles hash-match without a rounding grid.
    * Scale shape: ONE scan, ONE shuffle of O(groups × 2) sum rows,
    * map-side partial agg does everything — the same plan at any SF. */
  private def aggTtest: Q = (s, d) => {
    val arm = pmod(conv(substring(md5(col("o_orderkey").cast("string")),
      1, 4), 16, 10).cast("long"), lit(2L))
    val armed = t(s, d, "orders")
      .select(col("o_orderpriority").as("grp"),
        floor(col("o_totalprice") / 1000.0d).cast("long").as("y"),
        arm.as("arm"))
    val sums = armed.groupBy("grp", "arm")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
        sum(col("y") * col("y")).as("ss"))
    def pick(a: Int, c: String) = max(when(col("arm") === a, col(c)))
    val byGrp = sums.groupBy("grp")
      .agg(pick(0, "n").as("na"), pick(0, "s").as("sa"),
        pick(0, "ss").as("ssa"), pick(1, "n").as("nb"),
        pick(1, "s").as("sb"), pick(1, "ss").as("ssb"))
    val va = (col("na") * col("ssa") - col("sa") * col("sa")).cast("double") /
      (col("na") * (col("na") - 1)).cast("double")
    val vb = (col("nb") * col("ssb") - col("sb") * col("sb")).cast("double") /
      (col("nb") * (col("nb") - 1)).cast("double")
    val se2 = va / col("na") + vb / col("nb")
    byGrp.select(col("grp"), col("na"), col("sa"), col("ssa"),
        col("nb"), col("sb"), col("ssb"),
        (col("sa").cast("double") / col("na")).as("mean_a"),
        (col("sb").cast("double") / col("nb")).as("mean_b"),
        ((col("sa").cast("double") / col("na") -
          col("sb").cast("double") / col("nb")) / sqrt(se2)).as("t_stat"),
        (se2 * se2 / ((va / col("na")) * (va / col("na")) / (col("na") - 1) +
          (vb / col("nb")) * (vb / col("nb")) / (col("nb") - 1)))
          .as("welch_df"))
      .orderBy("grp")
  }

  /** Null-safe equi join (`<=>` / IS NOT DISTINCT FROM): year-over-year
    * reconciliation of order-status groups where the 'P' status is
    * nulled out upstream (NULLIF) — a plain equi join silently DROPS the
    * NULL group on both sides; the null-safe comparator keeps it as a
    * matching key, which is the difference this query demonstrates.
    * Plans as a hash join exactly like `=` (null-safe equality is
    * hashable), so the scale posture is unchanged. */
  private def joinNullsafe: Q = (s, d) => {
    def byYear(y: Int) = t(s, d, "orders")
      .where(year(col("o_orderdate")) === y)
      .groupBy(expr("nullif(o_orderstatus, 'P')").as("k"))
      .agg(count(lit(1)).as(s"n_$y"))
    val a = byYear(1995).as("a")
    val b = byYear(1996).as("b")
    a.join(b, col("a.k") <=> col("b.k"), "full_outer")
      .select(
        coalesce(col("a.k"), col("b.k"), lit("P(nulled)")).as("grp"),
        coalesce(col("n_1995"), lit(0L)).as("n_1995"),
        coalesce(col("n_1996"), lit(0L)).as("n_1996"))
      .orderBy("grp")
  }

  /** width_bucket linear histogram (size-distribution reporting, the
    * SQL-standard bucketing the reference's monitor summaries imply):
    * 20 buckets of 5000 over l_extendedprice, clamped at the edges.
    * bucket = clamp(floor(x / 5000.0)) is subtraction-free single-op
    * IEEE math, identical bit-for-bit in both engines; sum(l_quantity)
    * is exact (integer-valued doubles). One map + one hash agg with
    * map-side partials — O(buckets) rows cross the shuffle. */
  private def aggHistogram: Q = (s, d) => {
    val bucket = least(greatest(floor(col("l_extendedprice") / 5000.0),
      lit(0.0)), lit(19.0)).cast("long")
    t(s, d, "lineitem")
      .select(bucket.as("bucket"), col("l_quantity"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy("bucket")
  }

  /** Union distinct of two predicates (R15 two-branch union). */
  private def setUnion: Q = (s, d) => {
    val rich = t(s, d, "customer").where(col("c_acctbal") > 9000)
      .select("c_custkey")
    val big = t(s, d, "orders").where(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("c_custkey"))
    rich.union(big).distinct().orderBy("c_custkey")
  }

  /** Customers active in both 1995 and 1996 (cross-run overlap). */
  private def setIntersect: Q = (s, d) => {
    val o = t(s, d, "orders")
    val y95 = o.where(year(col("o_orderdate")) === 1995).select("o_custkey")
    val y96 = o.where(year(col("o_orderdate")) === 1996).select("o_custkey")
    y95.intersect(y96).orderBy("o_custkey")
  }

  /** New-since-last-run semantics (R16/R18): 1995 customers EXCEPT 1996. */
  private def setExcept: Q = (s, d) => {
    val o = t(s, d, "orders")
    val y95 = o.where(year(col("o_orderdate")) === 1995).select("o_custkey")
    val y96 = o.where(year(col("o_orderdate")) === 1996).select("o_custkey")
    y95.except(y96).orderBy("o_custkey")
  }

  /** Distribution window functions: ntile / percent_rank / cume_dist
    * (quartile bucketing of files per server analog). */
  private def winDist: Q = (s, d) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
      .orderBy("o_orderpriority", "o_totalprice", "o_orderkey")
  }

  /** Cohort retention matrix — the OTHER canonical behavioral query
    * (win_funnel covers ordered sequences; this covers cohort
    * bucketing): users grouped by first-activity day, then counted on
    * each subsequent day they return. All-integer day math on epoch-µs
    * (`div 86400000000`), so cohort keys are engine-exact. Shape: one
    * agg for first-touch (O(users) shuffle), a user-keyed equi-join
    * back to events, per-(cohort, offset, user) pre-distinct (removes
    * within-day repeats BEFORE the matrix agg — no count-DISTINCT
    * Expand), then an O(cohorts×days) aggregate. Retention fraction is
    * one IEEE division over identical integer operands. At 100 TB the
    * first-touch table is users-sized (broadcastable per partition of
    * the activity scan) and everything downstream of the pre-distinct
    * is matrix-sized. */
  private def winCohort: Q = (s, d) => {
    val ev = events(s, d)
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
    val firsts = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    val sizes = firsts.groupBy("cohort_day").agg(count(lit(1)).as("n_cohort"))
    ev.join(firsts, "user_id")
      .select(col("cohort_day"), (col("day") - col("cohort_day")).as("k"),
        col("user_id"))
      .distinct()
      .groupBy("cohort_day", "k")
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort_day")
      .select(col("cohort_day"), col("k"), col("n_active"), col("n_cohort"),
        (col("n_active").cast("double") / col("n_cohort")).as("retention"))
      .orderBy("cohort_day", "k")
  }

  /** Time-series motif bucketing — iSAX-style similarity indexing with
    * an EXACT symbolization (cf. PAPERS.md "Time Series Similarity
    * Search for Streaming Data in Distributed Systems"): each user's
    * event-value series (first 40 events in (ts, id) order; every SF's
    * users have ≥45) reduces to 4 PAA segment sums over exact decimals,
    * and the SHAPE WORD is the permutation of segment ranks — the
    * Bandt-Pompe ordinal pattern: scale- and offset-free like
    * z-normalized SAX, but with no gaussian breakpoints and no float
    * division, so the word is bit-identical across engines. Users
    * sharing a word form a motif bucket = candidate similar series
    * (4 segments ⇒ 24 patterns, so buckets genuinely form; 8 segments
    * left every user unique on this data). At 100 TB the word is a
    * small index key (the iSAX trick): one shuffle by user builds
    * words, one by word buckets them — series never pairwise-join,
    * and the bucket join replaces an O(users²) distance matrix exactly
    * the way LSH bands do for minhash. */
  private def tsMotif: Q = (s, d) => {
    val len = 40
    val segs = 4
    val perSeg = len / segs
    val wUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val sums = events(s, d)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
      .withColumn("rn", row_number().over(wUser))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
      .where(col("n") >= len && col("rn") <= len)
      .groupBy(col("user_id"), expr(s"(rn - 1) div $perSeg").as("seg"))
      .agg(sum(dec(col("value"))).as("s"))
    // seg is unique per user ⇒ rank over (s, seg) is a tie-free
    // permutation of 1..4
    val wRank = Window.partitionBy("user_id").orderBy(col("s"), col("seg"))
    val words = sums.withColumn("r", rank().over(wRank))
      .groupBy("user_id")
      .agg(concat_ws("",
        transform(array_sort(collect_list(struct(col("seg"), col("r")))),
          x => x.getField("r").cast("string"))).as("word"))
    words.groupBy("word")
      .agg(count(lit(1)).as("n_users"),
        sum(col("user_id")).as("id_digest"),
        min(col("user_id")).as("min_user"))
      .orderBy("word")
  }

  /** Robust anomaly detection — median/MAD outlier flagging with EXACT
    * integer math: values become cents (decimal ×100 → long, exact),
    * per-type center = lower median (the value at sorted position
    * (n+1) div 2 — tie-order-invariant, no interpolation), spread =
    * MAD (lower median of |x − med|), flag dev > 3·max(MAD, 1). The
    * events value distribution is right-skewed (median ≈ 35, max
    * ≈ 490), so the flagged set is the distribution's true heavy tail
    * — what median/MAD exists to find where mean/stddev would be
    * dragged by the very outliers it hunts — plus ~1% deterministic
    * PLANTED spikes (×50 when event_id % 97 = 0, same rule in the
    * oracle) that guarantee unambiguous detections at every type. The
    * registered plan computes both medians with the MERGEABLE GK
    * sketch (`approx_percentile`) — a map-side-combinable aggregate
    * whose state is bounded by the accuracy knob, never by group
    * cardinality, so no per-type series ever sorts through one
    * reducer. In the sketch's uncompressed regime (group rows <
    * compress threshold 10k — true at every verify SF: ~2k rows/type
    * at sf0.01) GK answers the EXACT rank ceil(n/2) = the oracle's
    * lower median (n+1) div 2, so the exact-hash gate still holds;
    * beyond that it degrades gracefully to rank error ≤ εn by design.
    * The exact two-pass window median survives as the spec-side audit
    * ([[tsAnomalyExact]], RelationalSpec pins sketch == exact at test
    * SF). */
  private def tsAnomaly: Q = (s, d) => {
    val ev = tsAnomalyCents(s, d)
    def med(df: DataFrame, v: String, out: String): DataFrame =
      df.groupBy("event_type")
        .agg(percentile_approx(col(v), lit(0.5), lit(10000)).as(out))
    val dev = ev.join(broadcast(med(ev, "cents", "med")), "event_type")
      .withColumn("dev", abs(col("cents") - col("med")))
    dev.join(broadcast(med(dev, "dev", "mad")), "event_type")
      .where(col("dev") > lit(3) * greatest(col("mad"), lit(1L)))
      .select(col("event_id"), col("event_type"), col("cents"),
        col("med"), col("mad"), col("dev"))
      .orderBy("event_id")
  }

  // cast(decimal→long) TRUNCATES in Spark while DuckDB's ::BIGINT
  // ROUNDS — the oracle carries an explicit trunc() so a future
  // testdata regen emitting sub-cent precision cannot split the
  // engines (values today are exactly 2-decimal; latent-bug class
  // of the r5 events regen).
  private def tsAnomalyCents(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_id"), col("event_type"),
        ((dec(col("value")) * 100).cast("long") *
          when(pmod(col("event_id"), lit(97)) === 0, 50L).otherwise(1L))
          .as("cents"))

  /** Exact two-pass window median/MAD — the audit path for
    * [[tsAnomaly]]'s GK-sketch plan. Per-type sort through a single
    * window partition: correct at any SF but the wrong default at
    * 100 TB, so it is NOT registered; RelationalSpec asserts it is
    * row-identical to the sketch plan at test SF. */
  private[graft] def tsAnomalyExact: Q = (s, d) => {
    val ev = tsAnomalyCents(s, d)
    def lowerMedian(df: DataFrame, v: String, out: String): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy(v)
      val wAll = Window.partitionBy("event_type")
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        // integer div — Column./ is IEEE division and (n+1)/2 = 2.5
        // would match no row_number on even-count groups
        .where(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col(v).as(out))
    }
    val med = lowerMedian(ev, "cents", "med")
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("cents") - col("med")))
    val mad = lowerMedian(dev, "dev", "mad")
    dev.join(broadcast(mad), "event_type")
      .where(col("dev") > lit(3) * greatest(col("mad"), lit(1L)))
      .select(col("event_id"), col("event_type"), col("cents"),
        col("med"), col("mad"), col("dev"))
      .orderBy("event_id")
  }

  /** Truncated exponentially-weighted moving average — the streaming
    * smoother next to [[tsAnomaly]]'s robust outliers: per event_type
    * series in (ts, event_id) order, ewma_t = Σ_{j<K} λ^j·x_{t-j} /
    * Σ_{j<K} λ^j with λ = 7/8 and K = 64. The kernel is TRUNCATED on
    * purpose: the infinite-history recurrence is inherently sequential
    * (and its closed-form window rewrite λ^{-i} overflows past ~4k
    * rows), while a K-term kernel is a bounded ROWS frame — O(K) state
    * per row, and at 100 TB a giant series can be range-chunked with a
    * K-row halo and computed embarrassingly parallel (the rewrite the
    * truncation exists to admit; series-count parallelism is the
    * partitionBy). Determinism: the 64 weights are literals computed
    * once by repeated multiplication and PASTED into both engines
    * (shortest-roundtrip repr = same doubles), the per-row fold is over
    * the frame-ordered history list, and outputs round to the 1e-6
    * grid — ~1e-13 summation noise, engine-safe. */
  private val ewmaK = 64
  private val ewmaWeights: Array[Double] = Array.iterate(1.0d, ewmaK)(_ * 0.875d)
  private def tsEwma: Q = (s, d) => {
    val wl = array(ewmaWeights.map(lit(_)): _*)
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-(ewmaK - 1), Window.currentRow)
    val raw = col("num") / col("den")
    events(s, d)
      .select(col("event_id"), col("event_type"), col("ts_us"), col("value"))
      .withColumn("hist", collect_list(col("value")).over(w))
      .withColumn("m", size(col("hist")))
      .withColumn("num", aggregate(
        zip_with(reverse(col("hist")), slice(wl, lit(1), col("m")),
          (x, wt) => x * wt),
        lit(0.0d), (acc, v) => acc + v))
      .withColumn("den", aggregate(slice(wl, lit(1), col("m")),
        lit(0.0d), (acc, v) => acc + v))
      .select(col("event_id"), col("event_type"), col("value"),
        col("m").cast("long").as("m"),
        round(raw, 6).as("ewma"),
        round(col("value") - raw, 6).as("dev"))
      .orderBy("event_id")
  }
  private def ewmaWeightsSql: String =
    ewmaWeights.map(w => s"$w::DOUBLE").mkString("[", ", ", "]")

  /** Linear INTERPOLATION over the regular slot grid — the missing-data
    * answer between [[graft.ops.Streaming]]'s win_gapfill (LOCF) and a
    * model: an empty slot between two observed slots gets the value on
    * the straight line between them; slots before the first / after the
    * last observation carry the nearest edge value. Two window passes
    * over the SAME partitioning (prev-observed via running last, next-
    * observed via reversed-frame first) — one shuffle per series, O(1)
    * state per row. Exactness without rounding: slot means are one IEEE
    * division of exact integers (cents), and the interpolation
    * `pm + (nm − pm)·(t − t₀)/(t₁ − t₀)` is the same fixed chain of
    * exact-rounded IEEE ops in both engines, so the raw doubles match
    * bitwise — the discipline the verify skill's rounding gotcha
    * prescribes (identical single IEEE ops, no round() of raw doubles). */
  private def tsInterp: Q = (s, d) => {
    val slotUs = 600000000L
    val ev = events(s, d).select(col("event_type"),
      expr(s"ts_us div $slotUs").as("slot"),
      (dec(col("value")) * 100).cast("long").as("cents"))
    val agg = ev.groupBy("event_type", "slot")
      .agg(count(lit(1)).as("n_obs"), sum(col("cents")).as("sc"))
      .withColumn("m", col("sc").cast("double") / col("n_obs"))
    val bounds = ev.agg(min("slot").as("lo"), max("slot").as("hi"))
    val grid = ev.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"))).as("slot"))
    val wPrev = Window.partitionBy("event_type").orderBy("slot")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy("event_type").orderBy("slot")
      .rowsBetween(0, Window.unboundedFollowing)
    grid.join(agg, Seq("event_type", "slot"), "left")
      .withColumn("pm", last(col("m"), ignoreNulls = true).over(wPrev))
      .withColumn("ps", last(when(col("m").isNotNull, col("slot")),
        ignoreNulls = true).over(wPrev))
      .withColumn("nm", first(col("m"), ignoreNulls = true).over(wNext))
      .withColumn("ns", first(when(col("m").isNotNull, col("slot")),
        ignoreNulls = true).over(wNext))
      .select(col("event_type"), (col("slot") * 600).as("slot_s"),
        coalesce(col("n_obs"), lit(0L)).as("n"),
        when(col("m").isNotNull, lit("obs"))
          .when(col("pm").isNotNull && col("nm").isNotNull, lit("interp"))
          .otherwise(lit("edge")).as("kind"),
        when(col("m").isNotNull, col("m"))
          .when(col("pm").isNotNull && col("nm").isNotNull,
            col("pm") + (col("nm") - col("pm")) *
              (col("slot") - col("ps")) / (col("ns") - col("ps")))
          .otherwise(coalesce(col("pm"), col("nm"))).as("value"))
      .orderBy("event_type", "slot_s")
  }

  /** Ordered-pattern funnel (MATCH_RECOGNIZE analog): per user, the
    * first view → first click AT-OR-AFTER that view → first purchase
    * AT-OR-AFTER that click, in one window pass. Each stage qualifies
    * against the previous stage's RUNNING minimum over the (ts,
    * event_id) total order, so the whole state machine is two running-
    * min windows + one aggregate — one shuffle on user_id, per-row O(1)
    * state, no self-joins (the naive 3-way join formulation shuffles
    * events three times and explodes on ties). */
  private def winFunnel: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_us"))
      .withColumn("first_view_us",
        min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .withColumn("qual_click_us",
        when(col("event_type") === "click" &&
          col("first_view_us") <= col("ts_us"), col("ts_us")))
      .withColumn("first_click_us", min(col("qual_click_us")).over(w))
      .withColumn("qual_purchase_us",
        when(col("event_type") === "purchase" &&
          col("first_click_us") <= col("ts_us"), col("ts_us")))
    staged.groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts_us"))).as("view_us"),
        min(col("qual_click_us")).as("click_us"),
        min(col("qual_purchase_us")).as("purchase_us"))
      .withColumn("converted", col("purchase_us").isNotNull)
      .orderBy("user_id")
  }

  /** Moment statistics (mean/variance/stddev/correlation) computed from
    * EXACT decimal power sums, then combined in double — deterministic
    * under any partitioning, unlike streaming Welford updates whose
    * result depends on merge order. The formulas are shared verbatim
    * with the oracle. */
  private def aggStats: Q = (s, d) => {
    // Scale-0 decimals (whole dollars): every power sum stays below 2^53
    // when scaled, so decimal->double conversion is EXACT in any engine
    // implementation - at (18,4) the sums exceed 2^53 and the two-step
    // int128->double->/10^s conversion differs from Java's correctly-
    // rounded one by 1 ulp, which cascades into var/std/corr.
    val x = col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 0))
    val y = col("o_custkey").cast(org.apache.spark.sql.types.DecimalType(18, 0))
    t(s, d, "orders")
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"),
        sum(x * x).cast("double").as("sxx"),
        sum(y).cast("double").as("sy"),
        sum(y * y).cast("double").as("syy"),
        sum(x * y).cast("double").as("sxy"))
      .select(
        col("o_orderstatus"), col("n"),
        (col("sx") / col("n")).as("mean_price"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
          .as("var_price"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
          .as("std_price"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
          .as("corr_price_cust"))
      .orderBy("o_orderstatus")
  }

  /** Higher-moment statistics (SKEWNESS and KURTOSIS) per return flag —
    * the distribution-shape profile (is quantity symmetric? heavy-
    * tailed?) computed the scale-right way: ONE map-side-combined hash
    * aggregate of exact INTEGER power sums (l_quantity is whole-valued
    * 1..50 in this schema, so Σq..Σq⁴ are exact BIGINTs — q⁴ ≤ 6.25e6,
    * headroom to ~sf2400 before 2⁵³), then the central-moment
    * polynomials m₂/m₃/m₄ evaluated in DOUBLES with an op sequence the
    * oracle mirrors token-for-token (+,−,×,÷,sqrt are all IEEE
    * correctly-rounded, so identical sequence ⇒ identical bits — the
    * agg_stats discipline; Spark's built-in `skewness`/`kurtosis`
    * stream Welford-style in fold order and could never exact-hash).
    * Shuffle is O(groups), never values. */
  private def aggMoments: Q = (s, d) => {
    val q = col("l_quantity").cast("long")
    def D(c: String) = col(c).cast("double")
    val nD = col("n").cast("double")
    val m2num = nD * D("s2") - D("s1") * D("s1") // n²·m₂
    val sknum = nD * nD * D("s3") -
      lit(3.0d) * nD * D("s1") * D("s2") +
      lit(2.0d) * D("s1") * D("s1") * D("s1") // n³·m₃
    val kunum = nD * nD * nD * D("s4") -
      lit(4.0d) * nD * nD * D("s1") * D("s3") +
      lit(6.0d) * nD * D("s1") * D("s1") * D("s2") -
      lit(3.0d) * D("s1") * D("s1") * D("s1") * D("s1") // n⁴·m₄
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(q).as("s1"), sum(q * q).as("s2"),
        sum(q * q * q).as("s3"), sum(q * q * q * q).as("s4"))
      .select(col("l_returnflag"), col("n"),
        (D("s1") / nD).as("mean_q"),
        (m2num / nD / nD).as("var_q"),
        (sknum / (m2num * sqrt(m2num))).as("skew_q"),
        (kunum / (m2num * m2num)).as("kurt_q"))
      .orderBy("l_returnflag")
  }

  /** Two-sample KOLMOGOROV–SMIRNOV distance between the URGENT and LOW
    * order-price distributions — "did the distribution shift?" as one
    * number. Computed over a fixed 1024-bucket equi-width grid: the
    * per-bucket counts are one map-side-combined aggregate (≤1024
    * groups cross the shuffle at ANY corpus size), the ECDF prefix
    * sums are a window over the ≤1024-row bucket table — bounded, so
    * the notorious single-partition global-order window is over grid
    * rows, never data rows (an exact per-value ECDF needs a global
    * data sort; the grid sup is a deterministic lower bound of the
    * true D that tightens with grid resolution, and IS the statistic
    * here — the oracle computes the identical grid). The sup stays an
    * exact integer |c1·n2 − c2·n1| until ONE final division. */
  private def aggKs: Q = (s, d) => {
    val o = t(s, d, "orders")
      .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("o_orderpriority").as("grp"),
        // equi-width grid over the [0, 512000) price domain: 500/bucket
        // (explicit floor: a bare double→long CAST truncates in Spark
        // but rounds half-even in DuckDB — a known cross-engine trap)
        floor(col("o_totalprice") / 500.0d).cast("long").as("bucket"))
    val marks = o.groupBy("bucket")
      .agg(sum(when(col("grp") === "1-URGENT", 1L).otherwise(0L)).as("d1"),
        sum(when(col("grp") === "5-LOW", 1L).otherwise(0L)).as("d2"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ecdf = marks
      .withColumn("c1", sum(col("d1")).over(w))
      .withColumn("c2", sum(col("d2")).over(w))
    // group totals from the bucket table directly (Σd ≡ max cumsum) —
    // one aggregate, not a second window over a recomputed ECDF
    val tot = marks.agg(sum(col("d1")).as("n1"), sum(col("d2")).as("n2"))
    ecdf.crossJoin(broadcast(tot))
      .select(col("bucket"),
        abs(col("c1") * col("n2") - col("c2") * col("n1")).as("d_num"),
        col("n1"), col("n2"))
      .orderBy(col("d_num").desc, col("bucket"))
      .limit(1)
      .select(col("n1"), col("n2"), col("bucket").as("arg_bucket"),
        col("d_num"),
        (col("d_num").cast("double") / col("n1") / col("n2")).as("ks_d"))
  }

  /** Percentiles (p25/p50/p90) of quantity per return flag via the
    * MERGEABLE GK sketch (`approx_percentile`) — the registered plan
    * buffers O(accuracy) sketch entries per group regardless of group
    * cardinality, unlike exact `percentile()` whose per-group buffer
    * holds EVERY value (the documented scale limit at 100 TB).
    * Discrete-rank semantics: both engines answer the dataset element
    * at rank ceil(q·n) — Spark's GK query in its exact regime (rank
    * error εn = 20k/50k = 0.4 < 1 at the verify SF) and DuckDB's
    * `quantile_disc` — so the exact-hash gate holds; at larger SFs the
    * sketch degrades gracefully to rank error ≤ εn by design. The
    * exact interpolating `percentile()` survives as the spec-side
    * audit (RelationalSpec). */
  private def aggPercentile: Q = (s, d) =>
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        percentile_approx(col("l_quantity"), lit(0.25), lit(50000)).as("p25"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(50000)).as("p50"),
        percentile_approx(col("l_quantity"), lit(0.9), lit(50000)).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Exact interpolating percentile — audit path for [[aggPercentile]]'s
    * sketch plan; per-group full-value buffer, so spec-side only. */
  private[graft] def aggPercentileExact: Q = (s, d) =>
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        percentile(col("l_quantity"), lit(0.25)).as("p25"),
        percentile(col("l_quantity"), lit(0.5)).as("p50"),
        percentile(col("l_quantity"), lit(0.9)).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  // ------------------------------------------- scale-technique operators

  /** Salted skew join: the heavy side's hot keys are spread over
    * SALT buckets derived from a uniform column; the small side is
    * exploded ×SALT so every (key, salt) partition pairs up. Result is
    * bit-identical to the plain join (oracle enforces it) — only the
    * shuffle distribution changes. This is the manual fallback when AQE
    * skew handling can't kick in (e.g. pre-aggregated skew). */
  private def joinSkewSalted: Q = (s, d) => {
    val salt = 8
    // synthetic skew: collapse custkeys into 10 hot keys
    val big = t(s, d, "orders")
      .select(pmod(col("o_custkey"), lit(10)).as("hot_key"),
        col("o_orderkey"), col("o_totalprice"),
        pmod(col("o_orderkey"), lit(salt)).as("salt"))
    val small = t(s, d, "nation")
      .where(col("n_nationkey") < 10)
      .select(col("n_nationkey").as("hot_key"), col("n_name"))
      .withColumn("salt", explode(array((0 until salt).map(lit): _*)))
    big.join(small, Seq("hot_key", "salt"))
      .groupBy("hot_key", "n_name")
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"))
      .orderBy("hot_key")
  }

  /** The AQE counterpart of [[joinSkewSalted]]: no manual salt — the
    * same synthetic hot key (half the fact rows collapse onto key 0),
    * and Adaptive Query Execution detects the oversized shuffle
    * partition at runtime and splits it across tasks (plan shows
    * `skew=true`). The frame is built on a [[graft.GraftSession.scoped]]
    * session with thresholds sized to the input ([[skewAqeConfs]]; AQE
    * decides at execution time, so every action on the frame runs under
    * them) — at cluster scale the defaults (256 MB partitions) do this
    * unprompted. Salting remains the portable fallback; AQE is the
    * zero-code-change path. Broadcast is disabled on that session so
    * the join actually shuffles. */
  private[graft] def skewJoinFrame(s: SparkSession, d: String): DataFrame = {
    val ks = scoped(s, skewAqeConfs(parquetRows(s, s"$d/orders.parquet")): _*)
    // fanOut matters for the MECHANISM here, not just CPU: AQE splits a
    // skewed reduce partition at map-output-block granularity, so a
    // single-split parquet file (one mapper) makes the hot partition one
    // indivisible block and the rule silently no-ops. Real tables arrive
    // in thousands of splits; the helper recreates that shape.
    val big = fanOut(t(ks, d, "orders")).select(
      when(pmod(col("o_custkey"), lit(100)) < 50, 0L)
        .otherwise(pmod(col("o_custkey"), lit(100))).as("hot_key"),
      col("o_totalprice"))
    val dim = ks.range(100).select(col("id").as("hot_key"),
      concat(lit("grp_"), lpad(col("id").cast("string"), 3, "0")).as("grp"))
    big.join(dim, Seq("hot_key"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"))
  }
  /** Skew thresholds from the orders row count: one byte per row.
    * The hot key's shuffle partition holds half the rows at ~10
    * compressed bytes each, about 5× the row count in bytes, so it is
    * skewed at every scale and splits into several advisory-sized
    * pieces. A fixed size cannot do that: Spark keeps a skewed
    * partition whole unless it exceeds the split target by more than
    * 1.2×, and with 64KB the sf0.01 hot partition (~75KB) did not.
    * (Cluster defaults are 256MB / 64MB — the demonstration only
    * shrinks the numbers, not the rule.) */
  private def skewAqeConfs(orderRows: Long) = Seq(
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> orderRows.toString,
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> orderRows.toString,
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.5",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")
  private def joinSkewAqe: Q = (s, d) => skewJoinFrame(s, d).orderBy("grp")

  /** Bucketed co-located join: both sides are written bucketed by the
    * join key, so the join itself needs NO exchange (RelationalSpec
    * asserts the plan is shuffle-free). At 100 TB this is the
    * difference between re-shuffling the fact table per query and
    * reading co-located buckets. */
  private def joinBucketed: Q = (s, d) =>
    bucketedJoinPlan(s, d)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"))
      .orderBy("c_mktsegment")

  /** The exchange-free join over the bucketed tables of dataset `d`
    * (split out so the spec can assert its plan has no shuffle). The
    * layout is a one-time artifact: [[graft.Scratch.bucketed]] writes
    * each table once per (warehouse, dataset) and rewrites it if the
    * catalog has lost it, so a later join skips the write as well as
    * the exchange, and two datasets never share a table. The MERGE hint
    * forces a sort-merge join: without it the planner broadcasts the
    * small side at test scale and silently disables the bucketed scan
    * ("Bucketed: false"), making the no-shuffle property vacuous — the
    * hinted SMJ reads co-located buckets with NO exchange on either
    * side, which is the property that matters when both sides are
    * 100 TB-large. */
  def bucketedJoinPlan(s: SparkSession, d: String): DataFrame = {
    val buckets = 8
    val o = Scratch.bucketed(s, "graft_bucketed", "orders_b", d) {
      t(s, d, "orders").write.bucketBy(buckets, "o_custkey").sortBy("o_custkey")
    }.hint("merge")
    val c = Scratch.bucketed(s, "graft_bucketed", "customer_b", d) {
      t(s, d, "customer").write.bucketBy(buckets, "c_custkey").sortBy("c_custkey")
    }
    o.join(c, o("o_custkey") === c("c_custkey"))
  }

  /** observe(): pipeline accounting riding the action itself (R23–R25
    * success/fail counts + timing summary) — no second scan. The
    * observed metrics are re-emitted as a one-row DataFrame. */
  /** COLUMN-LEVEL LINEAGE derivation by walking the ANALYZED Catalyst
    * plan of a representative pipeline (join → derived column → agg):
    * every output attribute is traced through Alias chains to the
    * table columns it transitively references — the data-governance
    * artifact (impact analysis, PII propagation, audit) that engines
    * like the reference expose per run. Pure plan introspection: the
    * walk maps ExprId → source set bottom-up (SubqueryAlias over a
    * leaf names the table; Alias nodes union their child's reference
    * sources; attributes pass through), costs O(plan size) on the
    * driver, and launches NO job — lineage for a 100 TB pipeline is
    * the same milliseconds as for this one. Aggregates of literals
    * (count(1)) report the explicit '(literal)' source so constants
    * are visibly lineage-free. Oracle: the statically-known lineage of
    * the fixed pipeline, pinned as VALUES. */
  /** The walk shared by obs_lineage / obs_lineage_gen: ExprId →
    * source-column set, bottom-up. Alias chains union their child's
    * reference sources; Generate output attributes (explode/inline —
    * NOT aliases, so the generic case cannot see them) derive from the
    * generator's references; Window-introduced attributes are Aliases
    * over WindowExpressions inside Window.windowExpressions, so the
    * generic Alias case covers them — their references include the
    * function args AND the partition/order keys (an analyst asking
    * "what feeds rn?" must see the ordering columns: they determine
    * the value). */
  private def lineageOf(s: SparkSession,
      q: org.apache.spark.sql.DataFrame,
      presence: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LeafNode, LogicalPlan, SubqueryAlias, Union}
    type Srcs = Set[(String, String)]
    // WHY-provenance (row presence): the columns a Join condition or a
    // Filter predicate reads determine which ROWS survive — they gate
    // EVERY output column equally, so they are reported once under the
    // pseudo-column "(rows)" rather than multiplied into each data row.
    val gates = scala.collection.mutable.Set.empty[(String, String)]
    def walk(p: LogicalPlan): Map[Long, Srcs] = {
      val fromKids = p.children.map(walk)
        .foldLeft(Map.empty[Long, Srcs])(_ ++ _)
      def resolve(e: org.apache.spark.sql.catalyst.expressions.Expression)
          : Srcs =
        e.references.toSeq
          .flatMap(r => fromKids.getOrElse(r.exprId.id, Set.empty)).toSet
      p match {
        case sa: SubqueryAlias if sa.child.isInstanceOf[LeafNode] =>
          sa.output.map(a => a.exprId.id -> Set((sa.alias, a.name))).toMap
        case lf: LeafNode =>
          lf.output.map(a => a.exprId.id -> Set.empty[(String, String)]).toMap
        // A Union's output borrows the FIRST branch's exprIds — the
        // generic cases would silently drop every other branch. Each
        // output position unions the sources of ALL branches' columns
        // at that position (a column surviving a Union reports both
        // branches' tables).
        case u: Union =>
          fromKids ++ u.output.zipWithIndex.map { case (a, i) =>
            a.exprId.id -> u.children
              .flatMap(c => fromKids.getOrElse(c.output(i).exprId.id,
                Set.empty[(String, String)])).toSet
          }.toMap
        case j: Join =>
          j.condition.foreach(c => gates ++= resolve(c))
          fromKids
        case f: Filter =>
          gates ++= resolve(f.condition)
          fromKids
        case g: Generate =>
          fromKids ++
            g.generatorOutput.map(a => a.exprId.id -> resolve(g.generator))
        case _ =>
          fromKids ++ p.expressions.flatMap {
            case al: Alias => Seq(al.exprId.id -> resolve(al.child))
            case _ => Nil
          }.toMap
      }
    }
    val analyzed = q.queryExecution.analyzed
    val m = walk(analyzed)
    val dataRows = analyzed.output.flatMap { a =>
      val srcs = m.getOrElse(a.exprId.id, Set.empty[(String, String)])
      if (srcs.isEmpty) Seq((a.name, "(literal)", "(literal)"))
      else srcs.toSeq.sorted.map { case (tb, c) => (a.name, tb, c) }
    }
    if (!presence)
      s.createDataFrame(dataRows).toDF("out_col", "src_table", "src_col")
        .orderBy("out_col", "src_table", "src_col")
    else {
      val rows = dataRows.map { case (o, tb, c) => (o, tb, c, "data") } ++
        gates.toSeq.sorted.map { case (tb, c) => ("(rows)", tb, c, "presence") }
      s.createDataFrame(rows)
        .toDF("out_col", "src_table", "src_col", "kind")
        .orderBy("out_col", "src_table", "src_col", "kind")
    }
  }

  private def obsLineage: Q = (s, d) => {
    val li = t(s, d, "lineitem").as("lineitem")
    val o = t(s, d, "orders").as("orders")
    val q = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("revenue",
        col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .groupBy(col("l_returnflag"), col("o_orderpriority"))
      .agg(sum(col("revenue")).as("sum_rev"),
        count(lit(1)).as("n_items"),
        max(col("l_quantity") + col("l_tax")).as("max_qtax"))
    lineageOf(s, q)
  }

  /** obs_lineage over a pipeline with the two node kinds a naive walk
    * lets fall through to '(literal)': a Generate
    * (explode of the split text — its output attribute is NOT an
    * Alias) and a Window (row_number whose value is determined by the
    * partition AND order keys). Same VALUES-pinned static oracle
    * discipline: the lineage of this fixed pipeline is statically
    * known, and the walk still launches zero jobs. */
  private def obsLineageGen: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val q = t(s, d, "documents").as("documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        explode(split(col("text"), " ")).as("tok"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n_uses"),
        min(col("rn")).as("best_rank"),
        max(col("n_chars")).as("max_chars"))
    lineageOf(s, q)
  }

  /** obs_lineage over two governance gaps:
    * a UNION (whose output attributes borrow the first branch's
    * exprIds, so a naive walk reports only one branch — here `tot_bal`
    * must cite customer.c_acctbal AND supplier.s_acctbal) and
    * row-presence (WHY-) provenance: the join keys and filter columns
    * that decide which rows exist, reported once under the "(rows)"
    * pseudo-column with kind='presence' — they gate every output
    * column equally, so multiplying them into each data row would be
    * noise, and omitting them hides the columns an auditor must
    * certify to trust row selection. Same VALUES-pinned static oracle
    * discipline; the walk still launches zero jobs. */
  private def obsLineageUnion: Q = (s, d) => {
    val c = t(s, d, "customer").as("customer")
      .select(col("c_nationkey").as("nk"), col("c_acctbal").as("bal"))
    val su = t(s, d, "supplier").as("supplier")
      .select(col("s_nationkey").as("nk"), col("s_acctbal").as("bal"))
    val n = t(s, d, "nation").as("nation").where(col("n_regionkey") < 3)
    val q = c.unionByName(su)
      .join(n, col("nk") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("bal")).as("tot_bal"), count(lit(1)).as("n_accts"))
    lineageOf(s, q, presence = true)
  }

  /** HOLT LINEAR-TREND double-exponential smoothing per event-type
    * series (level + trend state, h-step forecasts) — the ts_forecast
    * family's trend-aware member. The recurrence
    * l' = α·x + (1−α)(l+b); b' = β(l'−l) + (1−β)b is inherently
    * SEQUENTIAL, so it runs as an explicit left fold over the sorted
    * hourly buckets via `aggregate()` — fold ORDER is fixed by
    * sort_array, and since +,−,× are IEEE correctly-rounded, the
    * identical op sequence produces bit-identical doubles in any
    * engine (the DuckDB oracle folds the same list with the same
    * literals — exact-hash despite ~720 chained float ops; contrast
    * ts_ewma, whose closed form avoids the fold instead). Scale
    * shape: one map-side-combined (type, hour) count shuffle, then
    * per-series state is TWO doubles over ≤720 bounded buckets — the
    * fold never sees raw events, and series parallelize per group. */
  private def tsHolt: Q = (s, d) => {
    val hourly = events(s, d)
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt"))
    val zero = struct(lit(0L).as("i"), lit(0.0d).as("l"), lit(0.0d).as("b"))
    val series = hourly.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("hr"), col("cnt")))).as("pts"))
    val st = aggregate(col("pts"), zero, (acc, x) => {
      val xv = x.getField("cnt").cast("double")
      val l0 = acc.getField("l")
      val b0 = acc.getField("b")
      val i0 = acc.getField("i")
      val lp = lit(0.5d) * xv + lit(0.5d) * (l0 + b0)
      val bp = lit(0.3d) * (lp - l0) + lit(0.7d) * b0
      when(i0 === 0L,
        struct((i0 + 1).as("i"), xv.as("l"), lit(0.0d).as("b")))
        .otherwise(struct((i0 + 1).as("i"), lp.as("l"), bp.as("b")))
    })
    series.select(col("event_type"), size(col("pts")).cast("long").as("n_pts"),
        st.as("st"))
      .select(col("event_type"), col("n_pts"),
        col("st.l").as("level"), col("st.b").as("trend"),
        (col("st.l") + col("st.b")).as("fc1"),
        (col("st.l") + lit(2.0d) * col("st.b")).as("fc2"),
        (col("st.l") + lit(3.0d) * col("st.b")).as("fc3"))
      .orderBy("event_type")
  }

  /** First-order MARKOV TRANSITION MATRIX of user behavior — the
    * "what do users do next" table behind funnel design and synthetic
    * session generation: per (prev, next) event-type pair, the count
    * and the row-conditional probability P(next|prev). One lead()
    * window per user (shuffle on user_id — bounded per-user state,
    * parallel across users), then a ≤|types|² count aggregate;
    * probability is ONE division of exact integers. Total order
    * inside a user is (ts_us, event_id) — event_id breaks timestamp
    * ties deterministically. */
  private def seqMarkov: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val trans = events(s, d)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val tot = trans.groupBy("prev_type").agg(sum(col("n")).as("n_prev"))
    trans.join(tot, "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"), col("n_prev"),
        (col("n").cast("double") / col("n_prev").cast("double")).as("p"))
      .orderBy("prev_type", "next_type")
  }

  /** GINI COEFFICIENT of order-value inequality per priority class —
    * the one-number concentration measure (0 = equal, →1 = one order
    * carries everything) a revenue dashboard wants: the rank-sum form
    * G = (2·Σ(i·xᵢ) − (n+1)·Σx) / (n·Σx) over the CENTS-integer
    * values sorted within each group. The within-group sort is a
    * row_number window partitioned by the group key — groups sort in
    * parallel and the sort is inherent to the statistic (same shape
    * as win_rank); every numerator stays exact (cents are integers;
    * sums ride DECIMAL(38,0) — per-term i·x fits a long at any
    * plausible SF, the SUM would overflow a long around sf1, and
    * DuckDB's BIGINT sum auto-promotes to HUGEINT, mirrored); ONE
    * int→double cast each side of ONE division. */
  private def aggGini: Q = (s, d) => {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = Window.partitionBy("o_orderpriority")
      .orderBy("cents", "o_orderkey")
    val ranked = t(s, d, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      .withColumn("i", row_number().over(w).cast("long"))
    ranked.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("cents").cast(dec38)).as("sx"),
        sum((col("i") * col("cents")).cast(dec38)).as("six"))
      .select(col("o_orderpriority"), col("n"),
        col("sx").cast("long").as("total_cents"),
        ((lit(2) * col("six") - (col("n") + 1) * col("sx")).cast("double") /
          (col("n") * col("sx")).cast("double")).as("gini"))
      .orderBy("o_orderpriority")
  }

  /** LORENZ / PARETO concentration curve per priority class — the
    * "top decile of orders carries what share of revenue" table
    * [[aggGini]] summarizes to one number: orders ranked by value
    * within each group, 10 equal-count buckets, per-decile and
    * cumulative revenue shares. The bucket is NOT ntile: ntile is a
    * SizeBasedWindowFunction, so WindowExec must hold each priority
    * group (20% of orders) whole in one task's buffer to learn n
    * before emitting bucket 1 — measured 17.98 s / α_hi 1.05 at sf10
    * vs agg_gini's 0.82 s on the SAME window shape.
    * Instead: the rank is a STREAMING row_number over the identical
    * total order ((cents, orderkey) — ties broken), computed on
    * SALT-RANGE-PARTITIONED slices (local rank + broadcast cumulative
    * slice offset — exact, since a total-order position cannot depend
    * on boundary placement; without the salt the FIVE priority values
    * cap sort parallelism at 5, which WAS the whole sf10 cost), group
    * sizes ride the same bounded slice-count table, and the decile
    * falls out of (rn, n, 10) closed-form via the SQL-standard
    * remainder-to-early-buckets rule — big = n mod 10 buckets of size
    * sz+1 first, then size-sz buckets: pure integer arithmetic,
    * engine-identical to ntile by construction, zero group buffering.
    * Cents stay exact integers (DECIMAL(38,0) sums ↔ DuckDB
    * auto-HUGEINT), shares are ONE division each off a single
    * int→double cast; the cumulative window runs over the
    * 10-row-per-group decile table, never data rows. */
  private def winLorenz: Q = (s, d) => {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cents = t(s, d, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
    // SALT-RANGE-PARTITIONED ranking (five priority values otherwise
    // cap the rank sort at
    // 5-way parallelism, the whole sf10 cost): range-partition the
    // (priority, cents, orderkey) TOTAL ORDER across default
    // parallelism so every core sorts a slice; the global per-group
    // rank is local row_number + the broadcast cumulative slice
    // offset — EXACT by construction (a total-order position cannot
    // depend on where the range boundaries fell). Slice counts and
    // group sizes ride one ≤(parts·groups)-row control table.
    val parts = s.sparkContext.defaultParallelism
    val ranged = cents.repartitionByRange(parts,
      col("o_orderpriority"), col("cents"), col("o_orderkey"))
      .withColumn("pid", spark_partition_id())
    val wLoc = Window.partitionBy("pid", "o_orderpriority")
      .orderBy("cents", "o_orderkey")
    val wOff = Window.partitionBy("o_orderpriority").orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = ranged.groupBy("pid", "o_orderpriority")
      .agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .withColumn("gn",
        sum(col("c")).over(Window.partitionBy("o_orderpriority")))
      .select("pid", "o_orderpriority", "off", "gn")
    // ntile(10) ≡ first (n mod 10) buckets of size (n div 10)+1, rest
    // of size (n div 10); ceil(a/b) = (a+b-1) div b on positive ints.
    // The when() guards the sz=0 arm (n<10): every row then lands in
    // the first branch (rn ≤ n = big·1), so the sz division never
    // evaluates on a zero divisor.
    val deciles = ranged
      .withColumn("lrn", row_number().over(wLoc).cast("long"))
      .join(broadcast(offs), Seq("pid", "o_orderpriority"))
      .withColumn("rn", col("lrn") + col("off"))
      .withColumn("sz", expr("gn div 10"))
      .withColumn("big", col("gn") % 10)
      .withColumn("decile",
        when(col("rn") <= col("big") * (col("sz") + lit(1)),
          expr("(rn + sz) div (sz + 1)"))
          .otherwise(col("big") +
            expr("(rn - big * (sz + 1) + sz - 1) div sz"))
          .cast("long"))
      .groupBy("o_orderpriority", "decile")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents").cast(dec38)).as("dc"))
    // total as a whole-group window over the 10-row-per-group DECILE
    // table, NOT a second aggregation of `deciles`: a re-aggregation
    // branch re-instantiates the entire rank-window lineage (measured:
    // the sf10 plan sorted the full data TWICE — 13.4 s; one lineage
    // runs in ~2 s). The window buffer here is ≤10 rows per group.
    val wc = Window.partitionBy("o_orderpriority").orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("o_orderpriority")
    deciles
      .withColumn("total", sum(col("dc")).over(wTot))
      .withColumn("cum", sum(col("dc")).over(wc))
      .select(col("o_orderpriority"), col("decile"), col("n_orders"),
        col("dc").cast("long").as("decile_cents"),
        (col("dc").cast("double") / col("total").cast("double"))
          .as("share"),
        (col("cum").cast("double") / col("total").cast("double"))
          .as("cum_share"))
      .orderBy("o_orderpriority", "decile")
  }

  /** Exact per-group MODE (most frequent value, smallest-value
    * tie-break) — the categorical summary the approximate heavy-hitter
    * family (agg_heavy_hitters / agg_cms) estimates; here the value
    * domain is small (50 distinct quantities) so the exact two-level
    * plan is right: one hash agg on (group, value) — map-side
    * combined, state bounded by the domain, NOT by rows — then a
    * streaming row_number over (count DESC, value) picks the winner.
    * No size-based window, no per-group buffer; at 100 TB the only
    * full-data pass is the combinable count. */
  private def aggMode: Q = (s, d) =>
    modeOf(quantityHist(s, d)).orderBy("l_returnflag")

  /** The (group, value, count) quantity histogram both robust-stat
    * batch keys aggregate — and the MERGEABLE state [[Streaming]]'s
    * stream_mode / stream_winsorized fold per micro-batch (counts on a
    * bounded domain merge by addition; state is domain-sized forever). */
  private[graft] def quantityHist(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
      .groupBy("l_returnflag", "q").agg(count(lit(1)).as("c"))

  /** Mode finalizer over a (l_returnflag, q, c) histogram — shared by
    * agg_mode and the streaming twin (same winner selection, so the
    * streamed fold provably shares agg_mode's oracle). */
  private[graft] def modeOf(hist: DataFrame): DataFrame = {
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("c").desc, col("q"))
    hist.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("l_returnflag"), col("q").as("mode_q"),
        col("c").as("mode_n"))
  }

  /** THEIL–SEN robust trend per event-type series — the median of all
    * pairwise slopes, the estimator that shrugs off the outliers a
    * least-squares fit (ml_linreg / ts_forecast) chases. Scale shape:
    * the pair self-join runs over the BOUNDED hourly grid (≤720
    * buckets/series, the ts_holt bound), never data rows — per-series
    * pair work is a ≤720²/2 constant regardless of corpus volume, and
    * the grid itself is one combinable hash agg over the scan.
    * Exactness: each slope is ONE IEEE division of exact integer
    * differences; the median is SELECTED (streaming row_number over
    * the (slope, h1, h2) total order at rank ⌈m/2⌉ against a
    * broadcast per-group pair count), never averaged — no float
    * accumulation anywhere, no whole-group window buffer. */
  private def tsTheilsen: Q = (s, d) => {
    val hourly = events(s, d)
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt"))
    val a = hourly.select(col("event_type"), col("hr").as("h1"),
      col("cnt").as("c1"))
    val b = hourly.select(col("event_type"), col("hr").as("h2"),
      col("cnt").as("c2"))
    val slopes = a.join(b, Seq("event_type"))
      .where(col("h1") < col("h2"))
      .select(col("event_type"), col("h1"), col("h2"),
        ((col("c2") - col("c1")).cast("double") /
          (col("h2") - col("h1")).cast("double")).as("slope"))
    // Median slope via percentile_disc: a full-row window
    // sort ((slope, h1, h2) over n² pair rows, ONE task per event
    // type) would exist only to pick the rank-⌈n/2⌉ row, and the output
    // emits just the slope VALUE — so the (h1, h2) tie-break never
    // reaches the result and percentile_disc(0.5) (smallest value with
    // cume ≥ 0.5 = the multiset's ⌈n/2⌉-th value, duplicates and all)
    // is rank-identical, sorting an 8-byte double buffer per group
    // instead of exchanging + sorting full pair rows (guide §2.3).
    slopes.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)")
          .as("trend"))
      .select(col("event_type"), col("n_pairs"), col("trend"))
      .orderBy("event_type")
  }

  /** MEDIAN/MAD robust anomaly count per event-type series — the
    * outlier-resistant twin of ts_anomaly's mean/σ z-score (one wild
    * hour drags a mean; it cannot drag a median). ALL-INTEGER: hourly
    * counts are ints, both medians are SELECTED at rank ⌈n/2⌉ from
    * streaming row_number windows over the bounded hourly grid (the
    * tsTheilsen discipline — never data rows, no averaging, no
    * floats), |cnt−med| is integer, and the 3·MAD anomaly test is
    * integer cross-multiplication. Exact-hash trivially. */
  private def tsMad: Q = (s, d) => {
    val hourly = events(s, d)
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt"))
    val n = hourly.groupBy("event_type").agg(count(lit(1)).as("n_hours"))
    def pickMedian(df: DataFrame, v: String, out: String): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy(col(v), col("hr"))
      df.withColumn("rn", row_number().over(w).cast("long"))
        .join(broadcast(n), "event_type")
        .where(col("rn") === expr("(n_hours + 1) DIV 2"))
        .select(col("event_type"), col(v).as(out))
    }
    val med = pickMedian(hourly, "cnt", "med")
    val dev = hourly.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("cnt") - col("med")))
    val mad = pickMedian(dev.select(col("event_type"), col("hr"),
      col("adev").as("cnt")), "cnt", "mad")
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n_hours"),
        sum(when(col("adev") > lit(3L) * col("mad"), 1L).otherwise(0L))
          .as("n_anomalies"))
      .select("event_type", "n_hours", "med", "mad", "n_anomalies")
      .orderBy("event_type")
  }

  /** Longest consecutive-active-day streak per user — the
    * gaps-and-islands idiom (win_islands) at day granularity, the
    * classic engagement metric. DISTINCT (user, day) first — one hash
    * agg that bounds the window input at ≤30 rows/user regardless of
    * event volume — then the day − row_number constant-per-island key
    * and two bounded aggs. All integer arithmetic. */
  private def winStreak: Q = (s, d) => {
    val days = events(s, d)
      .select(col("user_id"), expr("ts_us DIV 86400000000").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val isl = days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
    isl.groupBy("user_id")
      .agg(sum(col("len")).as("n_days"), count(lit(1)).as("n_streaks"),
        max(col("len")).as("max_streak"))
      .select("user_id", "n_days", "n_streaks", "max_streak")
      .orderBy("user_id")
  }

  /** BOLLINGER BANDS over the hourly series — 24-hour rolling mean ±
    * 2σ with breach flags, the ops-dashboard staple. The ROWS-frame
    * window runs over the BOUNDED hourly grid (≤720 rows/series — the
    * tsTheilsen/tsMad discipline), never data rows, and carries exact
    * INTEGER power sums (Σc, Σc², n) — mean/σ/bands are then a fixed
    * IEEE chain (divisions, one sqrt) the oracle mirrors
    * token-for-token, so the raw doubles exact-hash. Short-prefix
    * hours use the true window count n (no NULL warm-up rows).
    * The power sums ride DECIMAL (↔ DuckDB's native HUGEINT windowed
    * sum): in 64-bit longs n·Σc² − (Σc)² overflows once 24-hour count
    * sums pass ~3×10⁹ — and overflow DIVERGES, Spark wrapping silently
    * (non-ANSI) where DuckDB raises. Exact at any SF the
    * 38-digit headroom admits (Σc to ~10¹⁸). */
  private def tsBollinger: Q = (s, d) => {
    val dec20 = org.apache.spark.sql.types.DecimalType(20, 0)
    val hourly = events(s, d)
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("hr")
      .rowsBetween(-23, Window.currentRow)
    val sums = hourly
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1", sum(col("cnt").cast(dec20)).over(w))
      .withColumn("s2",
        sum(col("cnt").cast(dec20) * col("cnt").cast(dec20)).over(w))
    def D(c: Column) = c.cast("double")
    val mean = D(col("s1")) / D(col("n"))
    val sd = sqrt(D(col("n") * col("s2") - col("s1") * col("s1")) /
      D(col("n")) / D(col("n")))
    sums
      .withColumn("mean24", mean)
      .withColumn("sd24", sd)
      .select(col("event_type"), col("hr"), col("cnt"), col("n"),
        col("mean24"), col("sd24"),
        (D(col("cnt")) > col("mean24") + lit(2.0d) * col("sd24"))
          .as("breach_hi"),
        (D(col("cnt")) < col("mean24") - lit(2.0d) * col("sd24"))
          .as("breach_lo"))
      .orderBy("event_type", "hr")
  }

  /** ROLLING REGRESSION SLOPE — the trend VELOCITY of each event
    * series: OLS slope (and intercept) of count-vs-hour over the
    * trailing 24-hour ROWS frame, [[tsBollinger]]'s bivariate
    * companion (bands say how wide the traffic wanders; the local
    * slope says which way it's going — the load-forecast primitive).
    * NOT the built-in regr_slope: its float accumulation order is
    * engine-private, so the frame keeps exact integer power sums
    * (n, Σx, Σy, Σx², Σxy on DECIMAL(20,0) — epoch-hour x ≈ 5·10⁵
    * keeps 24·x² ≈ 6·10¹² exact) and slope = (nΣxy − ΣxΣy)/(nΣx² −
    * (Σx)²) is ONE division of two exact ints < 2⁵³. The ENGINE casts
    * the DECIMAL operands straight to DOUBLE (correctly rounded for
    * any in-domain value); the ORACLE routes them through BIGINT
    * first, which raises loudly past 2⁶³ — the bounded-oracle
    * asymmetry of the [[aggSpearman]] scaladoc, never a silent
    * divergence. Intercept continues the same fixed chain. Null until
    * the frame holds two points (den = 0 — nullif'd identically in
    * the oracle). */
  private def tsRegr: Q = (s, d) => {
    val dec20 = org.apache.spark.sql.types.DecimalType(20, 0)
    val hourly = hourlyGrid(s, d)
    val w = Window.partitionBy("event_type").orderBy("hr")
      .rowsBetween(-23, Window.currentRow)
    def dc(c: Column) = c.cast(dec20)
    val sums = hourly
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(dc(col("hr"))).over(w))
      .withColumn("sy", sum(dc(col("cnt"))).over(w))
      .withColumn("sxx", sum(dc(col("hr")) * dc(col("hr"))).over(w))
      .withColumn("sxy", sum(dc(col("hr")) * dc(col("cnt"))).over(w))
    def D(c: Column) = c.cast("double")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val slope = D(num) / D(nullif(den, lit(0L).cast(dec20)))
    sums
      .withColumn("slope24", slope)
      .withColumn("icept24",
        D(col("sy")) / D(col("n")) -
          col("slope24") * (D(col("sx")) / D(col("n"))))
      .select(col("event_type"), col("hr"), col("cnt"), col("n"),
        col("slope24"), col("icept24"))
      .orderBy("event_type", "hr")
  }

  /** SMA GOLDEN-CROSS detector per event series — where the 12-hour
    * mean crosses the 24-hour mean (the classic momentum-shift
    * signal, [[tsRegr]]'s discrete sibling): ZERO floats anywhere —
    * "short mean > long mean" is the integer cross-multiplication
    * s12·n24 > s24·n12 (the repo's cross-multiplied-threshold
    * discipline), the cross itself is golden ≠ lag(golden), and every
    * output column is an integer or boolean, so exact-hash needs no
    * numeric care at all. Window sums ride the bounded hourly grid. */
  private def tsCrossover: Q = (s, d) => {
    val hourly = hourlyGrid(s, d)
    val wl = Window.partitionBy("event_type").orderBy("hr")
    def wn(k: Int) = wl.rowsBetween(-(k - 1), Window.currentRow)
    val sums = hourly
      .withColumn("n12", count(lit(1)).over(wn(12)))
      .withColumn("s12", sum(col("cnt")).over(wn(12)))
      .withColumn("n24", count(lit(1)).over(wn(24)))
      .withColumn("s24", sum(col("cnt")).over(wn(24)))
      .withColumn("golden",
        col("s12") * col("n24") > col("s24") * col("n12"))
    sums
      .withColumn("crossed",
        col("golden") =!= lag(col("golden"), 1).over(wl))
      .select(col("event_type"), col("hr"), col("cnt"),
        col("s12"), col("s24"), col("golden"), col("crossed"))
      .orderBy("event_type", "hr")
  }

  /** BENFORD FIRST-DIGIT screen over order totals — the classic
    * fabricated-data / fraud smell test a data-quality layer runs on
    * money columns: leading digit extracted from the EXACT cents
    * STRING (no log10 bucketing of a float — substr of an integer is
    * deterministic in any engine), counts per digit in one bounded
    * hash agg, observed share ONE division, and only the Benford
    * expectation log10(1+1/d) touches libm — rounded to 6 on both
    * sides (the agg_entropy discipline) since glibc and DuckDB may
    * legitimately differ in the last ulp. */
  private def aggBenford: Q = (s, d) => {
    val cents = (dec(col("o_totalprice")) * 100).cast("long")
    val digits = t(s, d, "orders")
      .select(substring(cents.cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum(col("n")).as("nt"))
    digits.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("nt").cast("double"))
          .as("share"),
        round(log10(lit(1.0d) + lit(1.0d) / col("digit").cast("double")),
          6).as("benford_p"))
      .orderBy("digit")
  }

  /** TOP-N REVENUE CONCENTRATION per market segment — "the top 10
    * customers carry what share": the win_lorenz question at entity
    * grain, the account-concentration number a sales dashboard wants.
    * The rank window runs over the per-customer AGGREGATE (customers-
    * sized, one combinable hash agg collapses orders first), cents
    * stay exact integers through DECIMAL(38,0) sums, and the share is
    * ONE division. */
  private def aggTopnShare: Q = (s, d) => {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val perCust = t(s, d, "orders")
      .join(t(s, d, "customer").select(col("c_custkey"),
        col("c_mktsegment")), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum((dec(col("o_totalprice")) * 100).cast("long").cast(dec38))
        .as("cents"))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("cents").desc, col("c_custkey"))
    perCust.withColumn("rn", row_number().over(w))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        sum(when(col("rn") <= 10, col("cents")).otherwise(lit(0).cast(dec38)))
          .as("top10"),
        sum(col("cents")).as("total"))
      .select(col("c_mktsegment"), col("n_cust"),
        col("top10").cast("long").as("top10_cents"),
        col("total").cast("long").as("total_cents"),
        (col("top10").cast("double") / col("total").cast("double"))
          .as("top10_share"))
      .orderBy("c_mktsegment")
  }

  /** Deterministic LISTAGG / string_agg — ordered string concatenation
    * per group, the reporting primitive with a real cross-engine trap:
    * concat ORDER is engine-arbitrary unless total. Spark has no
    * ordered listagg, so the plan imposes it: collect_set bounds state
    * at the DISTINCT value domain (20 sources — never row count), then
    * sort_array + array_join render the canonical form; DuckDB's
    * string_agg(DISTINCT .. ORDER BY ..) states the same order
    * declaratively. */
  private def aggListagg: Q = (s, d) => {
    t(s, d, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        size(collect_set(col("source"))).cast("long").as("n_sources"),
        array_join(sort_array(collect_set(col("source"))), ",")
          .as("sources"))
      .orderBy("lang")
  }

  /** WINSORIZED MEAN per group — the robust location estimate that
    * clamps (not drops — that's trimming) tails at the exact p5/p95:
    * on the BOUNDED integer domain (50 distinct quantities) exact
    * percentiles are RANK SELECTIONS over the ≤50-row count histogram,
    * not data sorts — one map-side-combined hash agg on (group,
    * value), a cumulative window over histogram rows, ceil-rank
    * thresholds in pure integer arithmetic, then the clamped sum is
    * Σ count·clamp(q) — everything integer until ONE final division.
    * The 100 TB shape: data passes once; all percentile machinery runs
    * over the domain-sized histogram. */
  private def aggWinsorized: Q = (s, d) =>
    winsorizedOf(quantityHist(s, d)).orderBy("l_returnflag")

  /** Winsorized-mean finalizer over a (l_returnflag, q, c) histogram —
    * shared by agg_winsorized and the streaming twin (the histogram IS
    * the mergeable summary; all percentile machinery runs on its ≤50
    * rows per group). */
  private[graft] def winsorizedOf(hist: DataFrame): DataFrame = {
    val wcum = Window.partitionBy("l_returnflag").orderBy("q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("c")).over(wcum))
    val tot = hist.groupBy("l_returnflag").agg(sum(col("c")).as("n"))
    val marked = cum.join(broadcast(tot), "l_returnflag")
      .withColumn("k05", expr("(n * 5 + 99) DIV 100"))
      .withColumn("k95", expr("(n * 95 + 99) DIV 100"))
    val lo = marked.where(col("cum") >= col("k05"))
      .groupBy("l_returnflag").agg(min(col("q")).as("lo"))
    val hi = marked.where(col("cum") >= col("k95"))
      .groupBy("l_returnflag").agg(min(col("q")).as("hi"))
    hist.join(broadcast(lo), "l_returnflag")
      .join(broadcast(hi), "l_returnflag")
      .withColumn("cq", greatest(least(col("q"), col("hi")), col("lo")))
      .groupBy(col("l_returnflag"), col("lo"), col("hi"))
      .agg(sum(col("c")).as("n"), sum(col("c") * col("cq")).as("ws"))
      .select(col("l_returnflag"), col("n"), col("lo"), col("hi"),
        (col("ws").cast("double") / col("n").cast("double"))
          .as("winsorized_mean"))
  }

  /** SKYLINE (Pareto frontier) per brand — the classic "best value"
    * multi-criteria operator (Börzsönyi '01): parts not dominated on
    * (price ↓, size ↑) by any brand-mate. NOT the O(n²) dominance
    * self-join: under the cents-ascending order a row is on the
    * frontier iff its size strictly beats the running max over all
    * STRICTLY cheaper rows (an UnboundedPreceding RANGE frame —
    * streaming, no group buffer) and ties the max among its price
    * peers (a peers-only frame — buffer bounded by one price point).
    * All integer compares; per-brand windows sort in parallel. */
  /** The skyline kernel over any (p_brand, p_partkey, cents, size)
    * relation — shared by the batch key and [[Streaming]]'s
    * incremental stream_skyline (frontiers are MERGEABLE: a global
    * frontier point is non-dominated in every subset containing it). */
  private[graft] def skylineOf(p: DataFrame): DataFrame = {
    val wCheaper = Window.partitionBy("p_brand").orderBy("cents")
      .rangeBetween(Window.unboundedPreceding, -1)
    val wPeer = Window.partitionBy("p_brand").orderBy("cents")
      .rangeBetween(Window.currentRow, Window.currentRow)
    p.withColumn("mxc", max(col("size")).over(wCheaper))
      .withColumn("mxp", max(col("size")).over(wPeer))
      .where((col("mxc").isNull || col("size") > col("mxc")) &&
        col("size") === col("mxp"))
      .select(col("p_brand"), col("p_partkey"), col("cents"), col("size"))
  }

  private[graft] def skylineInput(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .select(col("p_brand"), col("p_partkey"),
        (dec(col("p_retailprice")) * 100).cast("long").as("cents"),
        col("p_size").cast("long").as("size"))

  private def winSkyline: Q = (s, d) =>
    skylineOf(skylineInput(s, d)).orderBy("p_brand", "cents", "p_partkey")

  private def obsAccounting: Q = (s, d) => {
    val obs = new org.apache.spark.sql.Observation("graft_acct")
    // fanOut BEFORE observe: the single-file gate fixture otherwise
    // funnels the whole observed egress through ONE write task (~2 s
    // single-threaded; graft.Profile: 6 tasks / 4 jobs). At 100 TB the
    // scan arrives pre-split and this is a no-op; the observed metrics
    // are associative (counts + exact decimal sum),
    // partition-independent. (Fan-out first — fanOut's .rdd partition
    // probe must not touch a plan carrying the Observation node.)
    val li = graft.Tables.fanOut(t(s, d, "lineitem"))
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(dec(col("l_extendedprice"))).as("total_price"),
        count(when(col("l_returnflag") === "R", 1)).as("n_returned"))
    li.write.mode("overwrite")
      .parquet(s"${graft.Tables.scratchRoot}/sink/obs_accounting")
    val m = obs.get
    s.createDataFrame(Seq((
      m("n_rows").asInstanceOf[Long],
      m("total_price").asInstanceOf[java.math.BigDecimal].doubleValue(),
      m("n_returned").asInstanceOf[Long],
    ))).toDF("n_rows", "total_price", "n_returned")
  }

  /** Quarantine-not-crash (R22): PERMISSIVE parse of a fixture with
    * malformed rows — bad records land in _corrupt_record instead of
    * failing the job; output counts both streams. */
  private def ingestQuarantine: Q = (s, d) => {
    val dir = new java.io.File(s"${graft.Tables.scratchRoot}/quarantine_fixture")
    dir.mkdirs()
    val f = new java.io.File(dir, "records.jsonl")
    // NOTE: with the full row parsed (cache() below pins that),
    // PERMISSIVE quarantines both malformed JSON and type-mismatched
    // fields, and quarantined rows keep their parseable fields
    // (size=30 survives). Without the cache, column pruning would skip
    // parsing `id` and silently pass the mismatched row — behavior
    // depends on pruning, so we pin the full-parse semantics.
    java.nio.file.Files.writeString(f.toPath,
      """{"id": 1, "size": 10}
        |{"id": 2, "size": 20}
        |{broken json line
        |{"id": "not_a_number", "size": 30}
        |{"id": 4, "size": 40}
        |""".stripMargin)
    // cache(): Spark refuses plans that read ONLY _corrupt_record from
    // raw JSON (e.g. the count() a caller might run on our output).
    val parsed = s.read
      .schema("id LONG, size LONG, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.getAbsolutePath)
      .cache()
    val audit = parsed
      .select(when(col("_corrupt_record").isNull, "ok")
        .otherwise("quarantined").as("status"), col("size"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), coalesce(sum(col("size")), lit(0L)).as("total_size"))
      .orderBy("status")
    // The output is an O(statuses) audit summary (2 rows): materialize
    // it so the cache can be released HERE instead of leaking past the
    // operator.
    val rows = audit.collect()
    parsed.unpersist()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), audit.schema)
      .orderBy("status")
  }

  /** TPC-H Q1 (pricing summary report) — ONE SQL text, TWO engines,
    * like [[tpchQ3Sql]]. The scan-heavy single-table aggregate that
    * defines columnar-engine throughput: one pass over lineitem, 4
    * distinct group keys, partial aggregation does ~all the work
    * map-side, the shuffle carries O(groups) rows. Decimal discipline
    * inside the shared text; the triple product (price·(1−disc)·(1+tax))
    * uses NARROW casts ((12,2)/(4,2)) so the product scale (6) stays far
    * from either engine's precision clamp — at (18,4)³ Spark's
    * allowPrecisionLoss clamps scale where DuckDB widens to 38, and the
    * engines round differently. Averages are exact-decimal sums cast to
    * double then ONE IEEE division by the group count. */
  private[graft] val tpchQ1Sql: String =
    """SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
                   AS DOUBLE) AS sum_base_price,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                             * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                   AS DOUBLE) AS sum_disc_price,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                             * (1 - CAST(l_discount AS DECIMAL(4,2)))
                             * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2)
                   AS DOUBLE) AS sum_charge,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                / count(*) AS avg_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                / count(*) AS avg_price,
              CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
                / count(*) AS avg_disc,
              count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '2000-09-02'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""
  private def sqlTpchQ1: Q = (s, d) => {
    t(s, d, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(tpchQ1Sql)
  }

  /** TPC-H Q5 (local supplier volume) — the star-join benchmark shape:
    * fact⋈fact (orders⋈lineitem) plus FOUR dimension joins, where every
    * dimension side is broadcast-sized (region 5 / nation 25 / supplier
    * and customer dim-scale), so the physical plan is one shuffle pair
    * for the fact join and broadcast hash joins for everything else —
    * at 100 TB the date filter prunes orders at the scan and the
    * c_nationkey = s_nationkey residual rides the broadcast joins, never
    * a shuffle of its own. ONE SQL text, two engines; date window
    * shifted to this dataset's 1995–2001 order range. */
  private[graft] val tpchQ5Sql: String =
    """SELECT n_name,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                             * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                   AS DOUBLE) AS revenue
       FROM customer, orders, lineitem, supplier, nation, region
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1997-01-01'
       GROUP BY n_name
       ORDER BY revenue DESC, n_name"""
  private def sqlTpchQ5: Q = (s, d) => {
    Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ5Sql)
  }

  /** As-of join WITH TOLERANCE (pandas merge_asof tolerance=1h) —
    * completing the as-of family (backward / native / nearest): the
    * backward match only counts if the view happened within the last
    * hour, else the purchase surfaces unmatched. SAME single-pass
    * running-window plan as [[joinAsof]] (one shuffle on user, O(1)
    * state, no join node) — the tolerance is a post-window column
    * predicate, zero plan cost; attribution windows are exactly this
    * op in production. */
  private def joinAsofTolerance: Q = (s, d) => {
    val tolUs = 3600000000L // 1 hour
    val ev = events(s, d)
      .where(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(col("event_type") === "view", 0).otherwise(1).as("tag"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inTol = col("last_view_us").isNotNull &&
      col("ts_us") - col("last_view_us") <= tolUs
    ev
      .withColumn("last_view_us",
        max(when(col("tag") === 0, col("ts_us"))).over(w))
      .where(col("tag") === 1)
      .select(col("event_id").as("p_id"),
        when(inTol, col("last_view_us")).as("view_us_within_tol"),
        inTol.as("matched"))
      .orderBy("p_id")
  }

  /** TPC-H Q6 (forecasting revenue change) — the pure SCAN-FILTER-AGG
    * that measures predicate pushdown and vectorized evaluation with
    * zero join noise: three range predicates reach the parquet reader
    * (row-group stats prune whole groups on shipdate at 100 TB when the
    * data is time-clustered), one decimal product, ONE output row.
    * Narrow casts per the [[tpchQ1Sql]] precision-clamp discipline. */
  private[graft] val tpchQ6Sql: String =
    """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * CAST(l_discount AS DECIMAL(4,2))), 2)
                  AS DOUBLE) AS revenue,
              count(*) AS n_qualifying
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_discount >= 0.05 AND l_discount <= 0.07
         AND l_quantity < 24"""
  private def sqlTpchQ6: Q = (s, d) => {
    t(s, d, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(tpchQ6Sql)
  }

  /** TPC-H Q10 (returned item reporting) — the classic "top complaining
    * customers" join-agg-topk: date-windowed orders ⋈ returned lineitems
    * ⋈ customer ⋈ nation, revenue per customer, top 20. The date filter
    * prunes orders at the scan; nation broadcasts; the top-k is a
    * TakeOrderedAndProject over the aggregate, never a global sort.
    * Explicit c_custkey tiebreak keeps the double-revenue ordering
    * deterministic across engines. */
  private[graft] val tpchQ10Sql: String =
    """SELECT c_custkey, c_name, n_name,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                             * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                   AS DOUBLE) AS revenue
       FROM customer, orders, lineitem, nation
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1996-04-01'
         AND l_returnflag = 'R' AND c_nationkey = n_nationkey
       GROUP BY c_custkey, c_name, n_name
       ORDER BY revenue DESC, c_custkey LIMIT 20"""
  private def sqlTpchQ10: Q = (s, d) => {
    Seq("customer", "orders", "lineitem", "nation")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(tpchQ10Sql)
  }

  /** SQL SCRIPTING (Spark 4's BEGIN/DECLARE/WHILE surface) — control
    * flow in pure SQL, the migration path for warehouse stored
    * procedures: a threshold doubles until at most 1000 orders exceed
    * it (a data-driven calibration loop, the "find the cutoff" chore
    * reporting jobs script). Each iteration is a full distributed
    * count — the script only sequences queries, every data operation
    * stays a Spark plan. Doubling keeps the threshold IEEE-exact at
    * every step, so the loop exit — and therefore the result — is
    * engine-independent; the oracle re-derives the same fixpoint
    * closed-form (first k with count(> 1000·2^k) ≤ 1000). Scripting
    * is on by default in Spark 4.1 (`spark.sql.scripting.enabled`). */
  private def sqlScripting: Q = (s, d) => {
    t(s, d, "orders").createOrReplaceTempView("orders")
    s.sql("""
    BEGIN
      DECLARE thr DOUBLE DEFAULT 1000.0;
      WHILE (SELECT count(*) FROM orders WHERE o_totalprice > thr) > 1000 DO
        SET thr = thr * 2;
      END WHILE;
      SELECT thr AS threshold,
             CAST((SELECT count(*) FROM orders WHERE o_totalprice > thr)
                  AS BIGINT) AS n_above;
    END""")
  }

  /** SQL PIPE SYNTAX (Spark 4's `|>` operators, the SQL:2023-era
    * linear composition style): the same logical query as a chain of
    * FROM → WHERE → AGGREGATE → ORDER BY stages — reads top-to-bottom
    * like a DataFrame program, compiles to the IDENTICAL plan as the
    * nested SELECT (it is pure surface syntax), so the oracle is the
    * plain-SQL formulation of the same query. */
  private def sqlPipe: Q = (s, d) => {
    t(s, d, "orders").createOrReplaceTempView("orders")
    s.sql("""
      FROM orders
      |> WHERE o_orderstatus = 'F'
      |> EXTEND CAST(year(o_orderdate) AS BIGINT) AS o_year
      |> AGGREGATE count(*) AS n_orders,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS total
         GROUP BY o_year
      |> ORDER BY o_year""")
  }

  /** Slot width shared by the ts_* series operators (10 min in µs). */
  private val acfSlotUs = 600000000L

  /** Per-series slot-count grid shared by ts_acf / ts_changepoint:
    * event counts on the COMPLETE [lo, hi] 10-min slot grid (missing
    * slots count 0 — an autocorrelation over only-observed slots is a
    * different, biased series). Same grid construction as [[tsInterp]]:
    * bounds are a 1-row broadcast, the grid is O(types × slots). */
  private def slotCounts(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      expr(s"ts_us div $acfSlotUs").as("slot"))
    val bounds = ev.agg(min("slot").as("lo"), max("slot").as("hi"))
    val grid = ev.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), col("lo"), col("hi"),
        explode(sequence(col("lo"), col("hi"))).as("slot"))
    val cnt = ev.groupBy("event_type", "slot").agg(count(lit(1)).as("c"))
    grid.join(cnt, Seq("event_type", "slot"), "left")
      .select(col("event_type"), col("lo"), col("hi"), col("slot"),
        coalesce(col("c"), lit(0L)).as("x"))
  }

  /** Sample AUTOCORRELATION of per-slot event counts at lags 1–3 —
    * the seasonality probe a monitoring pipeline runs per metric. The
    * series never leaves its partition: counts are one grid aggregate,
    * the lagged pairing is lead() over the per-series slot order (one
    * shuffle on event_type, O(1) state per row), and each lag's ACF is
    * Pearson r of (head, tail) computed from EXACT integer power sums —
    * n·Σxy − ΣxΣy over sqrt((n·Σx²−(Σx)²)(n·Σx²ₜ−(Σxₜ)²)) — with the
    * doubles entering only for the final sqrt/divide chain, identical
    * IEEE ops in both engines (the [[aggStats]] discipline). At 100 TB
    * the grid is slots × types (time-bounded, not data-bounded); power
    * sums fit a long until n·Σ(x·xₖ) ≈ 2⁶³ — lift to DECIMAL(38,0)
    * past ~10⁹ events per slot. */
  private def tsAcf: Q = (s, d) => {
    val w = Window.partitionBy("event_type").orderBy("slot")
    val led = slotCounts(s, d)
      .withColumn("x1", lead(col("x"), 1).over(w))
      .withColumn("x2", lead(col("x"), 2).over(w))
      .withColumn("x3", lead(col("x"), 3).over(w))
    val melted = led.select(col("event_type"), col("x"),
        explode(array(
          struct(lit(1L).as("lag"), col("x1").as("xk")),
          struct(lit(2L).as("lag"), col("x2").as("xk")),
          struct(lit(3L).as("lag"), col("x3").as("xk")))).as("p"))
      .select(col("event_type"), col("p.lag"), col("x"), col("p.xk"))
      .where(col("xk").isNotNull)
    melted.groupBy("event_type", "lag")
      .agg(count(lit(1)).as("nk"),
        sum(col("x")).as("sh"), sum(col("x") * col("x")).as("shh"),
        sum(col("xk")).as("st"), sum(col("xk") * col("xk")).as("stt"),
        sum(col("x") * col("xk")).as("sxy"))
      .select(col("event_type"), col("lag"), col("nk"),
        (col("nk") * col("sxy") - col("sh") * col("st")).as("num"),
        (col("nk") * col("shh") - col("sh") * col("sh")).as("var_head"),
        (col("nk") * col("stt") - col("st") * col("st")).as("var_tail"))
      .withColumn("acf",
        when(col("var_head") > 0 && col("var_tail") > 0,
          col("num").cast("double") /
            sqrt(col("var_head").cast("double") *
              col("var_tail").cast("double"))))
      .orderBy("event_type", "lag")
  }

  /** CUSUM change-point detection per event-type series: cumulative
    * deviation of per-slot counts from the series mean, scaled by n so
    * every term stays integer (S_t = Σ_{i≤t} (n·x_i − T)); the change
    * point is the slot maximizing |S| (ties → earliest). One grid
    * aggregate + two windows over the SAME per-series slot order (one
    * shuffle total), then a row_number pick — state per row is O(1), so
    * the plan survives any series length. Before/after means are exact
    * integer sums with ONE IEEE division each; n·x−T overflows long only
    * past ~2⁶³/n events per slot. The oracle runs the identical
    * windowed recurrence in DuckDB. */
  private def tsChangepoint: Q = (s, d) => {
    val w = Window.partitionBy("event_type").orderBy("slot")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("event_type")
    val staged = slotCounts(s, d)
      .withColumn("n", col("hi") - col("lo") + 1)
      .withColumn("t_sum", sum(col("x")).over(tot))
      .withColumn("s_cusum",
        sum(col("n") * col("x") - col("t_sum")).over(w))
      .withColumn("run_x", sum(col("x")).over(w))
    val pick = Window.partitionBy("event_type")
      .orderBy(abs(col("s_cusum")).desc, col("slot"))
    staged.withColumn("rn", row_number().over(pick))
      .where(col("rn") === 1)
      .select(col("event_type"), (col("slot") * 600).as("cp_slot_s"),
        col("s_cusum"),
        signum(col("s_cusum")).cast("long").as("direction"),
        (col("slot") - col("lo") + 1).as("n_before"),
        (col("hi") - col("slot")).as("n_after"),
        (col("run_x").cast("double") /
          (col("slot") - col("lo") + 1)).as("mean_before"),
        when(col("hi") > col("slot"),
          (col("t_sum") - col("run_x")).cast("double") /
            (col("hi") - col("slot"))).as("mean_after"))
      .orderBy("event_type")
  }

  /** DTW — DYNAMIC TIME WARPING alignment distance (Sakoe & Chiba '78)
    * of every user's periodic activity profile against a fixed incident
    * TEMPLATE: the "find entities whose curve matches this shape" scan
    * a monitoring/curation pipeline runs. Each user's profile is the
    * 16-bin count histogram of (ts_us div slot) mod 16 — built by ONE
    * groupBy with 16 codegen'd conditional sums (map-side partial, no
    * arrays touch the shuffle) — and the full 16×16 DP runs INSIDE one
    * projection as the native codegen'd [[graft.expr.DtwDist]]
    * expression (one static call per row, two reused primitive DP
    * rows, stage stays fused — a nested aggregate() HOF walks the
    * same lattice but pays interpreted lambda dispatch per CELL and
    * breaks whole-stage codegen; RelationalSpec pins the two
    * formulations equal on every user). The INF=10¹⁵ boundary keeps
    * every cell in exact BIGINT — costs are |count−template| so a
    * path is ≤ 31·max-count, no overflow until ~3·10¹³ events per
    * bin. Scale shape: work is O(users · 256) after one shuffle; the
    * DP state never leaves its row; top-20 by (dtw, user) is
    * orderBy+limit → per-partition bounded heaps. The oracle runs the
    * IDENTICAL recurrence in DuckDB as 16 unrolled list_reduce CTEs
    * (its list_reduce takes no init, so each row prepends a
    * list-typed seed — the tok_unigram discipline); both engines walk
    * the same integer lattice, exact-hash by construction. */
  private def tsDtw: Q = (s, d) => {
    val tplSql = dtwTemplate.map(v => s"${v}L")
      .mkString("array(", ", ", ")")
    val binned = events(s, d).select(col("user_id"),
      expr(s"(ts_us div $acfSlotUs) % 16").as("k"))
    val ser = binned.groupBy("user_id")
      .agg(array((0 until 16).map(x =>
        sum(when(col("k") === x, 1L).otherwise(0L))): _*).as("a"))
    ser.select(col("user_id"),
        call_function("dtw_dist", col("a"), expr(tplSql)).as("dtw"))
      .orderBy(col("dtw"), col("user_id"))
      .limit(20)
  }

  /** The nested higher-order formulation of [[tsDtw]]'s DP —
    * RelationalSpec's engine-side cross-check for [[graft.expr.DtwDist]]
    * (the third independent implementation beside the driver recompute
    * and the DuckDB CTE chain). */
  private[graft] def dtwHofExpr: String = {
    val inf = graft.expr.DtwDist.Inf
    val tplSql = dtwTemplate.map(v => s"${v}L")
      .mkString("array(", ", ", ")")
    val initSql = (0L +: Seq.fill(16)(inf)).map(v => s"${v}L")
      .mkString("array(", ", ", ")")
    s"""element_at(aggregate(
          sequence(1, 16),
          $initSql,
          (p, i) -> aggregate(
            sequence(1, 16),
            array(${inf}L),
            (acc, j) -> concat(acc, array(
              abs(element_at(a, i) - element_at($tplSql, j)) +
              least(element_at(p, j), element_at(p, j + 1),
                    element_at(acc, j)))))), 17)"""
  }

  /** The fixed 16-bin spike template [[tsDtw]] aligns against (shared
    * with its oracle and spec). */
  private[graft] val dtwTemplate: Seq[Long] =
    Seq(0L, 0L, 1L, 2L, 4L, 8L, 4L, 2L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)

  /** Event-SEQUENCE pattern matching (the MATCH_RECOGNIZE gap in
    * Spark's surface, expressed with what the engine has): per user,
    * the event stream becomes a path STRING (one char per event in
    * exact (ts, user) order — (user_id, ts) is unique in this data, so
    * the order is total) and the pattern is a REGEX over that path —
    * here `sv+c+p`, a signup running uninterrupted through views/clicks
    * to a purchase (any error or stray event breaks the run, which is
    * the semantic difference from [[winFunnel]]'s skip-tolerant
    * running-min windows). Non-overlapping leftmost match counting is
    * the same contract in java.util.regex and RE2. Scale shape: ONE
    * shuffle on user_id; per-group state is the user's own event
    * sequence — entity-bounded, not corpus-bounded (at 100 TB,
    * sessionize first — win_session — so the collected sequence is
    * session-bounded, same plan otherwise). */
  private def seqPattern: Q = (s, d) => {
    val ev = events(s, d).select(col("user_id"), col("ts_us"),
      substring(col("event_type"), 1, 1).as("ch"))
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("path_len"),
        array_join(transform(
          sort_array(collect_list(struct(col("ts_us"), col("ch")))),
          x => x.getField("ch")), "").as("path"))
      .select(col("user_id"), col("path_len"),
        regexp_count(col("path"), lit("sv+c+p")).cast("long").as("n_runs"),
        (regexp_count(col("path"), lit("sv+c+p")) > 0).as("converted"))
      .orderBy("user_id")
  }

  /** SESSIONIZED sequence-pattern matching — the documented 100 TB
    * mitigation for [[seqPattern]]'s per-user unbounded collect_list:
    * paths are assembled per (user, SESSION) where a session closes
    * after win_session's 30-minute inactivity gap, so the collected
    * state is bounded by session length (burst-bounded) instead of a
    * user's full history (time-unbounded — the state that grows
    * forever on a 100 TB stream). Session ids are gaps-and-islands
    * (strictly-greater gap opens a session, the empirically-pinned
    * win_session boundary; cumulative sum of open flags), computed
    * IDENTICALLY in the oracle — one window pass over (user, ts), then
    * the same path/regex discipline as seq_pattern per session.
    * PlanSpec pins that path assembly groups by (user_id, session_id). */
  private[graft] val sessionGapUs = 1800000000L
  private def seqPatternSession: Q = (s, d) => {
    val ev = events(s, d).select(col("user_id"), col("ts_us"),
      substring(col("event_type"), 1, 1).as("ch"))
    val w = Window.partitionBy("user_id").orderBy("ts_us")
    val sess = ev
      .withColumn("new_s",
        when(col("ts_us") - lag("ts_us", 1).over(w) > sessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("path_len"),
        array_join(transform(
          sort_array(collect_list(struct(col("ts_us"), col("ch")))),
          x => x.getField("ch")), "").as("path"))
      .select(col("user_id"), col("session_id"), col("path_len"),
        regexp_count(col("path"), lit("sv+c+p")).cast("long").as("n_runs"),
        (regexp_count(col("path"), lit("sv+c+p")) > 0).as("converted"))
      .orderBy("user_id", "session_id")
  }

  /** OHLC RESAMPLING — the candle aggregation every market-data and
    * telemetry pipeline runs: per (event_type, hourly slot) the open
    * (first value by time), high, low, close (last by time), plus
    * volume — all from ONE hash aggregate using min_by/max_by over the
    * (ts, event_id) tie-break struct (no window sort of the raw
    * series; (user_id, ts) uniqueness doesn't hold per type-slot, so
    * the event_id tie-break is what makes open/close deterministic).
    * Values in exact cents; O(types × slots) output rows. */
  private def tsOhlc: Q = (s, d) => {
    val slotUs = 3600000000L // 1 hour
    val ev = events(s, d).select(col("event_type"),
      expr(s"ts_us div $slotUs").as("slot"),
      col("ts_us"), col("event_id"),
      (dec(col("value")) * 100).cast("long").as("cents"))
    ev.groupBy("event_type", "slot")
      .agg(count(lit(1)).as("volume"),
        min_by(col("cents"), struct(col("ts_us"), col("event_id")))
          .as("open_c"),
        max(col("cents")).as("high_c"), min(col("cents")).as("low_c"),
        max_by(col("cents"), struct(col("ts_us"), col("event_id")))
          .as("close_c"))
      .orderBy("event_type", "slot")
  }

  /** Seasonal PROFILE decomposition per event-type series — the
    * daily-rhythm extraction under capacity planning and anomaly
    * baselines (the classical-decomposition seasonal term, computed the
    * way a 100 TB engine should): each 10-min slot of the complete
    * [[slotCounts]] grid folds into its slot-of-day PHASE (144 phases),
    * the seasonal mean per (type, phase) is ONE map-side-combined
    * aggregate of exact integer counts with a single IEEE division at
    * the end, and peak phases come from a row_number over the
    * O(types × 144) profile — never over the raw series. Everything
    * before the division is integer-exact; the grid is time-bounded
    * (slots × types), not data-bounded, so the plan is the same at any
    * event volume. */
  /** LINEAR-TREND FORECAST per series (the ml_linreg closed form turned
    * into a forecaster): daily event counts per type, OLS trend on
    * (day-index, count), then a 3-step-ahead forecast. Exactness is the
    * single-division discipline: slope and each forecast ŷ(x) =
    * (a_num + b_num·x)/den are assembled ENTIRELY in exact integer
    * arithmetic (power sums → Cramer numerators) with ONE final
    * int→double cast each and ONE IEEE division — both engines divide
    * identical operands, so the raw doubles match bit-for-bit with no
    * rounding grid at all. The day index is rebased per series (x =
    * day − min day) to keep every intermediate far from 2^63. Scale
    * shape: the corpus-sized work is the daily count agg (one shuffle,
    * map-side combine); the per-series window + power-sum agg run on
    * the O(series × days) daily table — at 100 TB the raw events never
    * move twice. */
  private def tsForecast: Q = (s, d) => {
    val daily = events(s, d)
      .groupBy(col("event_type"),
        expr("ts_us DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val w = Window.partitionBy("event_type")
    val xd = daily
      .withColumn("d0", min(col("day")).over(w))
      .select(col("event_type"), (col("day") - col("d0")).as("x"),
        col("y"), col("d0"))
    val sums = xd.groupBy("event_type").agg(
      count(lit(1)).as("n"), max(col("x")).as("xmax"),
      min(col("d0")).as("d0"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val bnum = col("n") * col("sxy") - col("sx") * col("sy")
    val anum = col("sy") * col("sxx") - col("sx") * col("sxy")
    def fc(h: Int) =
      (anum + bnum * (col("xmax") + h)).cast("double") / den.cast("double")
    sums.select(col("event_type"), col("n"), col("d0").as("first_day"),
        col("xmax"),
        when(den > 0, bnum.cast("double") / den.cast("double")).as("slope"),
        when(den > 0, fc(1)).as("fc_1"),
        when(den > 0, fc(2)).as("fc_2"),
        when(den > 0, fc(3)).as("fc_3"))
      .orderBy("event_type")
  }

  private def tsSeasonal: Q = (s, d) => {
    val prof = slotCounts(s, d)
      .select(col("event_type"), pmod(col("slot"), lit(144L)).as("phase"),
        col("x"))
      .groupBy("event_type", "phase")
      .agg(count(lit(1)).as("n_slots"), sum(col("x")).as("phase_sum"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("phase_sum").desc, col("phase"))
    prof.withColumn("peak_rank", row_number().over(w).cast("long"))
      .select(col("event_type"), col("phase"), col("n_slots"),
        col("phase_sum"),
        (col("phase_sum").cast("double") / col("n_slots"))
          .as("seasonal_mean"),
        col("peak_rank"), (col("peak_rank") <= 3).as("is_peak"))
      .orderBy("event_type", "phase")
  }

  /** SHANNON ENTROPY of the part-type mix per brand — the catalog-
    * diversity number an assortment dashboard tracks (0 = one type,
    * ln(k) = uniform over k types). Closed form H = ln(n) − Σc·ln(c)/n
    * over the BOUNDED (brand, type) histogram (≤150 type rows/brand —
    * one combinable hash agg over the scan; the entropy machinery
    * never touches data rows). ln() is the one non-IEEE-pinned
    * function the engine admits (text_lm_score discipline): each term
    * is ln of an exact integer, and the final H and its ln(n_types)
    * normalization are rounded to 6 decimals on both sides to absorb
    * the last-ulp libm wobble. The Σc·ln(c) accumulation is a
    * SEQUENTIAL fold over the ≤150 per-brand terms in p_type order
    * (the [[chisqFold]] discipline, mirrored by the oracle's ordered
    * list_reduce) — a plain double sum() would accumulate in
    * partition-merge order, and the 6-decimal guard can flip when a
    * value lands within ~1e-12 of a 0.5e-6 rounding boundary under a
    * different partitioning. */
  private def aggEntropy: Q = (s, d) => {
    val hist = t(s, d, "part")
      .groupBy(col("p_brand"), col("p_type"))
      .agg(count(lit(1)).as("c"))
    hist.groupBy("p_brand")
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col("p_type"),
              (col("c").cast("double") * log(col("c").cast("double")))
                .as("term")))),
            x => x.getField("term")),
          lit(0.0d), (a, v) => a + v).as("sclnc"))
      .select(col("p_brand"), col("n_types"), col("n"),
        round(log(col("n").cast("double")) -
          col("sclnc") / col("n").cast("double"), 6).as("entropy"),
        round((log(col("n").cast("double")) -
          col("sclnc") / col("n").cast("double")) /
          nullif(log(col("n_types").cast("double")), lit(0.0d)), 6)
          .as("norm_entropy"))
      .orderBy("p_brand")
  }

  /** CHI-SQUARED independence test between return flag and line
    * status — the contingency-table screen (is returning independent
    * of fulfillment state?) every data-quality audit runs. Observed
    * counts are one hash agg over the scan into the BOUNDED 3×2 cell
    * grid; marginals are two aggs over the 6 cells; expected counts
    * and per-cell contributions are fixed IEEE chains of exact
    * integers (products ride DECIMAL(38,0) ↔ DuckDB HUGEINT — row·col
    * marginal products pass 2⁶³ near sf100); the statistic is a
    * SEQUENTIAL fold over the 6 cells in (flag, status) order — both
    * engines add the same doubles in the same order (the tok_encode
    * list_reduce discipline), so χ² exact-hashes with NO rounding. */
  /** The raw (flag, status, o) contingency counts — the MERGEABLE
    * pre-image of the χ² family (cells(A ∪ B) = cells(A) + cells(B)),
    * which is what [[Streaming]]'s stream_chisq / stream_cramersv
    * fold per micro-batch; ≤6 rows forever. */
  private[graft] def contingencyOf(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("o"))

  /** The (flag, status, o, e, contrib) contingency cells [[aggChisq]]
    * reports and [[aggCramersv]] summarizes — one hash agg into the
    * bounded 3×2 grid plus two marginal aggs over the cells. The
    * marginal/expected algebra lives in [[chisqEnrich]] so the
    * streaming twins can finalize the SAME way off folded cells. */
  private[graft] def chisqCells(s: SparkSession, d: String): DataFrame =
    chisqEnrich(contingencyOf(s, d))

  private[graft] def chisqEnrich(cells: DataFrame): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val rm = cells.groupBy("l_returnflag").agg(sum(col("o")).as("rt"))
    val cm = cells.groupBy("l_linestatus").agg(sum(col("o")).as("ct"))
    val n = cells.agg(sum(col("o")).as("nt"))
    cells.join(broadcast(rm), "l_returnflag")
      .join(broadcast(cm), "l_linestatus").crossJoin(broadcast(n))
      .withColumn("e",
        (col("rt").cast(dec38) * col("ct").cast(dec38)).cast("double") /
          col("nt").cast("double"))
      .withColumn("contrib",
        (col("o").cast("double") - col("e")) *
          (col("o").cast("double") - col("e")) / col("e"))
  }

  /** The sequential (flag, status)-ordered χ² fold over the cells —
    * identical add order in both engines, so no rounding is needed. */
  private[graft] def chisqFold: Column =
    aggregate(
      transform(
        array_sort(collect_list(
          struct(col("l_returnflag"), col("l_linestatus"),
            col("contrib")))),
        x => x.getField("contrib")),
      lit(0.0d), (a, v) => a + v)

  private def aggChisq: Q = (s, d) => chisqReport(chisqCells(s, d))

  /** The per-cell χ² reporter — shared verbatim by the streaming twin
    * (finalizing folded cells), so both provably share one oracle. */
  private[graft] def chisqReport(e: DataFrame): DataFrame = {
    val chi2 = e.agg(chisqFold.as("chi2"), count(lit(1)).as("n_cells"))
    e.select(col("l_returnflag"), col("l_linestatus"), col("o"),
        col("e"), col("contrib"))
      .crossJoin(broadcast(chi2))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** CRAMÉR'S V — the [0, 1] effect size that makes [[aggChisq]]'s
    * statistic comparable across table sizes (χ² grows with n even
    * for a fixed association strength): V = √(χ² / (n·(min(r,c)−1))).
    * Same cells, same sequential fold; the normalization is one more
    * fixed IEEE chain (one division, one sqrt) over exact integers,
    * mirrored token-for-token — no rounding anywhere. */
  private def aggCramersv: Q = (s, d) => cramersvReport(chisqCells(s, d))

  /** Effect-size finalizer over enriched cells — shared by the
    * streaming twin (the [[chisqReport]] discipline). */
  private[graft] def cramersvReport(e: DataFrame): DataFrame = {
    e.agg(
        sum(col("o")).as("n"),
        count_distinct(col("l_returnflag")).as("r"),
        count_distinct(col("l_linestatus")).as("c"),
        chisqFold.as("chi2"))
      .select(col("n"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"),
        col("chi2"),
        sqrt(col("chi2") /
          (col("n").cast("double") *
            (least(col("r"), col("c")) - 1).cast("double")))
          .as("cramers_v"))
      .orderBy("n")
  }

  /** KENDALL τ-b rank correlation between order quantity and part
    * size — the nonparametric monotone-association measure, tie-
    * corrected (with 50×50 integer domains, ties are most of the
    * data). The O(n²) pair space collapses onto the BOUNDED 2-D
    * histogram (≤2500 cells — one combinable hash agg over the join;
    * the [[aggMannwhitney]] domain discipline in two dimensions):
    * concordant/discordant mass is a ≤2500²/2 CELL-pair join
    * (c₁·c₂-weighted, constant at any corpus size), tie corrections
    * come off the two marginal histograms, and everything rides
    * DECIMAL(38,0) ↔ HUGEINT (pair products pass 2⁶³ around sf1).
    * τ-b = 2·(C−D)/√(m₁·m₂) with m₁ = n(n−1) − Σt(t−1), m₂ likewise
    * — kept DOUBLED so no integer ever halves — is ONE shared IEEE
    * chain (two casts, one multiply, one sqrt, one division). */
  private def aggKendall: Q = (s, d) => {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val grid = qszGrid(s, d)
    val a = grid.select(col("q").as("q1"), col("sz").as("s1"),
      col("c").as("c1"))
    val b = grid.select(col("q").as("q2"), col("sz").as("s2"),
      col("c").as("c2"))
    val zero = lit(0L).cast(dec38)
    val cd = a.join(b, col("q1") < col("q2"))
      .agg(
        sum(when(col("s1") < col("s2"), col("c1") * col("c2"))
          .otherwise(zero)).as("cc"),
        sum(when(col("s1") > col("s2"), col("c1") * col("c2"))
          .otherwise(zero)).as("dd"))
    val tq = grid.groupBy("q").agg(sum(col("c")).as("t"))
      .agg(sum(col("t") * (col("t") - 1)).as("tq2"))
    val ts = grid.groupBy("sz").agg(sum(col("c")).as("t"))
      .agg(sum(col("t") * (col("t") - 1)).as("ts2"))
    val nt = grid.agg(sum(col("c")).as("n"))
    def D(c: Column) = c.cast("double")
    cd.crossJoin(broadcast(tq)).crossJoin(broadcast(ts))
      .crossJoin(broadcast(nt))
      .select(
        col("n").cast("long").as("n"),
        col("cc").cast("long").as("concordant"),
        col("dd").cast("long").as("discordant"),
        (lit(2.0d) * D(col("cc") - col("dd")) /
          sqrt(D(col("n") * (col("n") - 1) - col("tq2")) *
            D(col("n") * (col("n") - 1) - col("ts2")))).as("taub"))
      .orderBy("n")
  }

  /** The (quantity, size, count) 2-D histogram both rank-correlation
    * keys reduce over — one combinable hash agg over the lineitem ⋈
    * part join into ≤50×50 cells; counts on DECIMAL(38,0) so every
    * downstream product is exact. */
  private[graft] def qszGrid(s: SparkSession, d: String): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val li = t(s, d, "lineitem")
      .select(col("l_partkey"), col("l_quantity").cast("long").as("q"))
    val p = t(s, d, "part")
      .select(col("p_partkey"), col("p_size").cast("long").as("sz"))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("q", "sz").agg(count(lit(1)).cast(dec38).as("c"))
  }

  /** SPEARMAN ρ rank correlation (order quantity × part size),
    * tie-corrected via average ranks — [[aggKendall]]'s companion
    * (ρ weights how FAR ranks disagree; τ only whether). Ranks never
    * touch data rows: each cell's DOUBLED average rank (2·cum_below +
    * c + 1 — the [[aggMannwhitney]] integrality trick) comes off the
    * ≤50-row marginal histograms joined back to the ≤2500-cell grid,
    * and ρ is the count-weighted Pearson over cells. CENTERING IS
    * EXACT: average-rank assignment preserves Σranks = N(N+1)/2, so
    * the mean DOUBLED rank is the integer N+1 and the centered moments
    * num = Σc·dx·dy, m2 = Σc·dx² stay exact integers of order N³ —
    * inside int64 through the gate SFs, where BIGINT→DOUBLE is the
    * one cast BOTH engines round correctly (int128→double in DuckDB
    * is NOT correctly rounded — measured: ~0.7% of random 54-100-bit
    * values, ~26% of rounding midpoints — which is why the un-centered
    * N·Sxy − Sx·Sy form at ~4N⁴ would silently diverge). ρ is then
    * ONE shared IEEE chain. The oracle cannot cast to BIGINT, which
    * raises past N³ ≈ 2⁶³ (~sf0.7); the widened cast routes
    * HUGEINT → VARCHAR → DOUBLE — DuckDB's direct int128→double is a
    * composed upper·2⁶⁴+lower double chain that DOUBLE-ROUNDS (probe:
    * 131 / 20,092 random-plus-midpoint 54–100-bit values misround),
    * while its decimal-string parse (fast_float) and JDK
    * BigDecimal.doubleValue are both correctly rounded at EVERY
    * magnitude (same probe: 0 / 20,092) — so the shared-value window
    * extends to the engine's own DECIMAL(38,0) bound (~sf10⁴) with no
    * residual 1-ulp risk and no guard needed. */
  private def aggSpearman: Q = (s, d) => {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val grid = qszGrid(s, d)
    val zero = lit(0L).cast(dec38)
    def ranks(key: String, out: String) = {
      val wcb = Window.orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
      grid.groupBy(key).agg(sum(col("c")).as("t"))
        .withColumn("cb", coalesce(sum(col("t")).over(wcb), zero))
        .select(col(key), (lit(2) * col("cb") + col("t") + lit(1))
          .cast(dec38).as(out))
    }
    val nt = grid.agg(sum(col("c")).as("nn"))
    val cells = grid
      .join(broadcast(ranks("q", "rq")), "q")
      .join(broadcast(ranks("sz", "rs")), "sz")
      .crossJoin(broadcast(nt))
      .withColumn("dx", col("rq") - col("nn") - lit(1))
      .withColumn("dy", col("rs") - col("nn") - lit(1))
    val a = cells.agg(
      sum(col("c")).as("n"),
      sum(col("c") * col("dx") * col("dy")).as("num"),
      sum(col("c") * col("dx") * col("dx")).as("m2x"),
      sum(col("c") * col("dy") * col("dy")).as("m2y"))
    def D(c: Column) = c.cast("double")
    a.select(
        col("n").cast("long").as("n"),
        (D(col("num")) / sqrt(D(col("m2x")) * D(col("m2y"))))
          .as("rho"))
      .orderBy("n")
  }

  /** ONE-WAY ANOVA F-test — does mean quantity differ across the
    * three return flags: the parametric complement of the rank tests
    * ([[aggMannwhitney]] compares two groups distribution-free; F
    * asks about k means under normality). All variance algebra runs
    * on exact integer power sums (n, Σq, Σq² per group — ONE
    * combinable hash agg, map-side combined): per-group SS terms are
    * n_i·SS forms kept integral in DECIMAL(38,0) (n·Σx² − (Σx)²
    * never divides), each becomes a double in ONE division by n_i,
    * and both SSW and the between-group Σ(Σxᵢ)²/nᵢ fold SEQUENTIALLY
    * in flag order (the [[chisqFold]] discipline — identical add
    * order both engines, no rounding). F = (SSB/(k−1))/(SSW/(N−k))
    * continues the same fixed IEEE chain. */
  private def aggAnova: Q = (s, d) => {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = t(s, d, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("x"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast(dec38).as("ni"),
        sum(col("x")).cast(dec38).as("sx"),
        sum(col("x") * col("x")).cast(dec38).as("sx2"))
    def D(c: Column) = c.cast("double")
    // per-group doubles from exact integers: ssw_i = Σx² − (Σx)²/n
    // and t_i = (Σx)²/n, each ONE division
    val per = g
      .withColumn("ssw_i",
        D(col("ni") * col("sx2") - col("sx") * col("sx")) / D(col("ni")))
      .withColumn("t_i", D(col("sx") * col("sx")) / D(col("ni")))
    def foldOf(field: String): Column =
      aggregate(
        transform(
          array_sort(collect_list(struct(col("l_returnflag"),
            col(field).as("v")))),
          x => x.getField("v")),
        lit(0.0d), (a, v) => a + v)
    val a = per.agg(
      sum(col("ni")).as("n"), count(lit(1)).as("k"),
      sum(col("sx")).as("sxt"),
      foldOf("ssw_i").as("ssw"), foldOf("t_i").as("tsum"))
    a.select(
        col("n").cast("long").as("n"), col("k"),
        col("ssw"),
        (col("tsum") - D(col("sxt") * col("sxt")) / D(col("n")))
          .as("ssb"))
      .withColumn("f_stat",
        (col("ssb") / D(col("k") - 1)) /
          (col("ssw") / D(col("n") - col("k"))))
      .orderBy("n")
  }

  /** MANN–WHITNEY U rank-sum test (returned vs accepted quantities) —
    * the nonparametric two-sample test that needs no normality
    * assumption, tie-corrected. ALL-INTEGER until the final z: rank
    * sums come off the BOUNDED quantity histogram (≤50 value rows —
    * the agg_winsorized discipline; with ties, every member of a tie
    * group gets the average rank, so 2·R₁ = Σ c₁(v)·(2·cum_below(v) +
    * c(v) + 1) stays integral), the tie-correction Σ(t³−t) and all
    * products ride DECIMAL(38,0) (↔ DuckDB HUGEINT — c³ passes 2⁶³
    * once a tie group holds ~2M rows, i.e. already at sf1), and z is
    * ONE shared IEEE chain (two divisions, one sqrt — no libm, no
    * rounding) over exact integers. */
  private def aggMannwhitney: Q = (s, d) => {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val hist = t(s, d, "lineitem")
      .where(col("l_returnflag").isin("A", "R"))
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
      .groupBy("q")
      .agg(sum(when(col("l_returnflag") === "A", 1L).otherwise(0L))
          .cast(dec38).as("c1"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .cast(dec38).as("c2"))
      .withColumn("c", col("c1") + col("c2"))
    val wcb = Window.orderBy("q")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.withColumn("cb",
      coalesce(sum(col("c")).over(wcb), lit(0L).cast(dec38)))
    val a = cum.agg(
      sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      sum(col("c1") * (lit(2) * col("cb") + col("c") + lit(1))).as("r2"),
      sum(col("c") * col("c") * col("c") - col("c")).as("ties"))
    def D(c: Column) = c.cast("double")
    a.select(
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        // 2·U₁, not U₁: with ties U₁ can be half-integral (average
        // ranks), and truncating halves diverges between engines —
        // the doubled statistic is ALWAYS integral.
        (col("r2") - col("n1") * (col("n1") + lit(1)))
          .cast("long").as("u1_x2"),
        (D(col("r2") - col("n1") * (col("n1") + lit(1)) -
            col("n1") * col("n2")) /
          (lit(2.0d) * sqrt(
            D(col("n1") * col("n2")) / lit(12.0d) *
              (D(col("n1") + col("n2") + lit(1)) -
                D(col("ties")) /
                  D((col("n1") + col("n2")) *
                    (col("n1") + col("n2") - lit(1))))))).as("z"))
      .orderBy("n1")
  }

  /** RSI (relative strength index, SMA variant) over the hourly event
    * series — the momentum oscillator, here as a load-trend signal per
    * event type. The Wilder recursion is deliberately replaced by the
    * 14-hour simple-average variant: the recursive EWMA would force a
    * sequential scan per series (ts_ewma pays that once; RSI doesn't
    * need it), while gains/losses are INTEGER diffs off lag(), the
    * 14-row window sums stay integer (bounded hourly grid — the
    * tsTheilsen discipline, never data rows), and RSI = 100·G/(G+L)
    * is ONE division of exact ints (nulled when the window moved
    * nowhere), so the doubles exact-hash with no rounding. */
  private def tsRsi: Q = (s, d) => rsiOf(hourlyGrid(s, d))

  /** The (event_type, hr, cnt) hourly grid both momentum keys reduce
    * over — and the MERGEABLE state [[Streaming]]'s stream_rsi /
    * stream_drawdown fold per micro-batch (hour counts merge by
    * addition; state is grid-sized — ≤720 rows/series for the fixture
    * month, retention-bounded in production — never row-scaled). */
  private[graft] def hourlyGrid(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt"))

  /** RSI finalizer over an (event_type, hr, cnt) grid — shared by
    * ts_rsi and the streaming twin (same diffs/windows/division, so
    * the streamed fold provably shares ts_rsi's oracle). */
  private[graft] def rsiOf(hourly: DataFrame): DataFrame = {
    val wl = Window.partitionBy("event_type").orderBy("hr")
    val diffs = hourly
      .withColumn("dv", col("cnt") - lag(col("cnt"), 1).over(wl))
      .where(col("dv").isNotNull)
    val w14 = Window.partitionBy("event_type").orderBy("hr")
      .rowsBetween(-13, Window.currentRow)
    diffs
      .withColumn("gs", sum(greatest(col("dv"), lit(0L))).over(w14))
      .withColumn("ls", sum(greatest(-col("dv"), lit(0L))).over(w14))
      .select(col("event_type"), col("hr"), col("cnt"), col("gs"),
        col("ls"),
        (lit(100.0d) * col("gs").cast("double") /
          nullif(col("gs") + col("ls"), lit(0L)).cast("double"))
          .as("rsi"))
      .orderBy("event_type", "hr")
  }

  /** MAX DRAWDOWN per event series — "how far below its historical
    * peak did traffic fall" (the resilience twin of ts_bollinger's
    * volatility bands). Running peak is an integer window max over the
    * bounded hourly grid; the drawdown ratio is ONE IEEE division per
    * hour; the worst hour is SELECTED (row_number over the (dd, hr)
    * total order — the tsMad selection discipline, no float
    * accumulation anywhere), so every double exact-hashes. */
  private def tsDrawdown: Q = (s, d) => drawdownOf(hourlyGrid(s, d))

  /** Drawdown finalizer over an (event_type, hr, cnt) grid — shared
    * by ts_drawdown and the streaming twin (oracle shared verbatim,
    * the [[rsiOf]] discipline). */
  private[graft] def drawdownOf(hourly: DataFrame): DataFrame = {
    val wrun = Window.partitionBy("event_type").orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = hourly
      .withColumn("peak", max(col("cnt")).over(wrun))
      .withColumn("dd",
        col("cnt").cast("double") / col("peak").cast("double"))
    val wpick = Window.partitionBy("event_type").orderBy("dd", "hr")
    dd.withColumn("rn", row_number().over(wpick))
      .where(col("rn") === 1)
      .select(col("event_type"), col("hr").as("worst_hr"),
        col("cnt").as("worst_cnt"), col("peak").as("peak_cnt"),
        col("dd").as("max_drawdown"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- wiring

  val queries: Map[String, Q] = Map(
    "scan_parquet" -> scanParquet,
    "scan_pruned" -> scanPruned,
    "filter_pred" -> filterPred,
    "join_inner_hash" -> joinInnerHash,
    "join_broadcast" -> joinBroadcast,
    "join_left" -> joinLeft,
    "join_semi" -> joinSemi,
    "join_anti" -> joinAnti,
    "join_theta" -> joinTheta,
    "join_full" -> joinFull,
    "join_nullsafe" -> joinNullsafe,
    "join_interval" -> joinInterval,
    "join_spatial" -> joinSpatial,
    "join_cross" -> joinCross,
    "join_bloom" -> joinBloom,
    "join_range" -> joinRange,
    "join_asof" -> joinAsof,
    "join_asof_native" -> joinAsofNative,
    "join_asof_nearest" -> joinAsofNearest,
    "agg_hash" -> aggHash,
    "agg_distinct" -> aggDistinct,
    "agg_approx" -> aggApprox,
    "agg_approx_quantile" -> aggApproxQuantile,
    "agg_rollup" -> aggRollup,
    "agg_histogram" -> aggHistogram,
    "agg_bitmap" -> aggBitmap,
    "agg_corr" -> aggCorr,
    "agg_ttest" -> aggTtest,
    "agg_bool" -> aggBool,
    "win_islands" -> winIslands,
    "sql_window_range" -> sqlWindowRange,
    "agg_cube" -> aggCube,
    "agg_gsets" -> aggGsets,
    "agg_pivot" -> aggPivot,
    "win_rank" -> winRank,
    "win_analytic" -> winAnalytic,
    "win_frame" -> winFrame,
    "sort_limit" -> sortLimit,
    "topk_group" -> topkGroup,
    "topk_group_agg" -> topkGroupAgg,
    "topk_group_rewrite" -> topkGroupRewrite,
    "set_union" -> setUnion,
    "set_intersect" -> setIntersect,
    "set_except" -> setExcept,
    "win_dist" -> winDist,
    "win_funnel" -> winFunnel,
    "win_cohort" -> winCohort,
    "ts_motif" -> tsMotif,
    "ts_anomaly" -> tsAnomaly,
    "ts_ewma" -> tsEwma,
    "ts_interp" -> tsInterp,
    "agg_stats" -> aggStats,
    "agg_percentile" -> aggPercentile,
    "join_skew_salted" -> joinSkewSalted,
    "join_skew_aqe" -> joinSkewAqe,
    "sql_tpch_q1" -> sqlTpchQ1,
    "sql_tpch_q6" -> sqlTpchQ6,
    "sql_tpch_q10" -> sqlTpchQ10,
    "sql_scripting" -> sqlScripting,
    "join_asof_tolerance" -> joinAsofTolerance,
    "sql_pipe" -> sqlPipe,
    "sql_tpch_q3" -> sqlTpchQ3,
    "sql_tpch_q5" -> sqlTpchQ5,
    "sql_tpch_q18" -> sqlTpchQ18,
    "sql_tpch_q2" -> sqlTpchQ2,
    "sql_tpch_q15" -> sqlTpchQ15,
    "sql_tpch_q21" -> sqlTpchQ21,
    "sql_tpch_q4" -> sqlTpchQ4,
    "sql_tpch_q12" -> sqlTpchQ12,
    "sql_tpch_q14" -> sqlTpchQ14,
    "sql_tpch_q22" -> sqlTpchQ22,
    "sql_tpch_q7" -> sqlTpchQ7,
    "sql_tpch_q8" -> sqlTpchQ8,
    "sql_tpch_q9" -> sqlTpchQ9,
    "sql_tpch_q11" -> sqlTpchQ11,
    "sql_tpch_q13" -> sqlTpchQ13,
    "sql_tpch_q16" -> sqlTpchQ16,
    "sql_tpch_q17" -> sqlTpchQ17,
    "sql_tpch_q19" -> sqlTpchQ19,
    "sql_tpch_q20" -> sqlTpchQ20,
    "ts_acf" -> tsAcf,
    "ts_changepoint" -> tsChangepoint,
    "ts_dtw" -> tsDtw,
    "ts_seasonal" -> tsSeasonal,
    "ts_forecast" -> tsForecast,
    "ts_ohlc" -> tsOhlc,
    "seq_pattern" -> seqPattern,
    "seq_pattern_session" -> seqPatternSession,
    "sql_recursive" -> sqlRecursive,
    "sql_lateral" -> sqlLateral,
    "sql_exists" -> sqlExists,
    "join_bucketed" -> joinBucketed,
    "obs_accounting" -> obsAccounting,
    "obs_lineage" -> obsLineage,
    "obs_lineage_gen" -> obsLineageGen,
    "obs_lineage_union" -> obsLineageUnion,
    "agg_moments" -> aggMoments,
    "agg_ks" -> aggKs,
    "ts_holt" -> tsHolt,
    "seq_markov" -> seqMarkov,
    "agg_gini" -> aggGini,
    "win_lorenz" -> winLorenz,
    "ingest_quarantine" -> ingestQuarantine,
    "agg_mode" -> aggMode,
    "ts_theilsen" -> tsTheilsen,
    "ts_mad" -> tsMad,
    "win_streak" -> winStreak,
    "ts_bollinger" -> tsBollinger,
    "agg_topn_share" -> aggTopnShare,
    "agg_listagg" -> aggListagg,
    "agg_winsorized" -> aggWinsorized,
    "win_skyline" -> winSkyline,
    "agg_entropy" -> aggEntropy,
    "agg_chisq" -> aggChisq,
    "agg_mannwhitney" -> aggMannwhitney,
    "ts_rsi" -> tsRsi,
    "ts_drawdown" -> tsDrawdown,
    "agg_cramersv" -> aggCramersv,
    "agg_kendall" -> aggKendall,
    "agg_spearman" -> aggSpearman,
    "agg_anova" -> aggAnova,
    "ts_regr" -> tsRegr,
    "ts_crossover" -> tsCrossover,
    "agg_benford" -> aggBenford,
  )

  val oracles: Map[String, String] = Map(
    "scan_parquet" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "scan_pruned" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity < 10 ORDER BY l_orderkey, l_linenumber, l_quantity""",
    "filter_pred" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem
         WHERE l_quantity BETWEEN 5 AND 45
           AND (l_returnflag = 'R' OR l_discount > 0.05)
           AND l_tax IS NOT NULL
         ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity""",
    "join_inner_hash" ->
      """SELECT o_orderkey, l_linenumber, o_orderstatus,
                round(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         ORDER BY o_orderkey, l_linenumber, revenue""",
    "join_broadcast" ->
      """SELECT r_name, count(*) AS n_cust,
                (sum(CAST(c_acctbal AS DECIMAL(18,4)))::DOUBLE) / count(*) AS avg_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "join_left" ->
      """SELECT o_orderkey, coalesce(c_name, 'missing') AS cust_name,
                coalesce(c_mktsegment, 'none') AS segment
         FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
           ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 400000)
         ORDER BY c_custkey""",
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 400000)
         ORDER BY c_custkey""",
    "join_theta" ->
      """SELECT a.n_name AS a_name, b.n_name AS b_name, a.n_regionkey AS a_region
         FROM nation a JOIN nation b
           ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
         ORDER BY a_name, b_name""",
    "join_full" ->
      """WITH cust AS (
           SELECT c_custkey, c_mktsegment FROM customer
           WHERE c_acctbal > 5000.0),
           ords AS (
           SELECT o_custkey, count(*) AS n_orders,
                  round(sum(o_totalprice::DECIMAL(18,4)), 2)::DOUBLE
                    AS total_price
           FROM orders WHERE o_custkey % 3 = 0 GROUP BY o_custkey)
         SELECT coalesce(c_custkey, o_custkey) AS custkey, c_mktsegment,
                n_orders, total_price,
                CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL
                     THEN 'both'
                     WHEN c_custkey IS NOT NULL THEN 'customer_only'
                     ELSE 'orders_only' END AS match_type
         FROM cust FULL OUTER JOIN ords ON c_custkey = o_custkey
         ORDER BY custkey""",
    "join_cross" ->
      """SELECT r_regionkey, r_name, n_nationkey, n_name,
                (n_regionkey = r_regionkey) AS is_home
         FROM region CROSS JOIN nation
         ORDER BY r_regionkey, n_nationkey""",
    // Bloom filters never change join output — the oracle is the plain
    // join; the bloom's presence in the plan is pinned by PlanSpec.
    "join_bloom" ->
      """SELECT o_orderkey, count(*) AS n_items,
                sum(l_quantity)::BIGINT AS sum_qty,
                round(sum(l_extendedprice::DECIMAL(18,4)), 2)::DOUBLE AS gross
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 450000
         GROUP BY o_orderkey ORDER BY o_orderkey""",
    "join_range" ->
      s"""SELECT s.event_id AS s_id, count(*) AS n_follow
          FROM events e JOIN events s
            ON e.user_id = s.user_id
           AND s.event_type = 'signup'
           AND ${duckTsUs("e.ts")} >= ${duckTsUs("s.ts")}
           AND ${duckTsUs("e.ts")} < ${duckTsUs("s.ts")} + 600000000
           AND e.event_id <> s.event_id
          GROUP BY s.event_id ORDER BY s_id""",
    "join_asof" ->
      s"""SELECT p.event_id AS p_id,
                 coalesce(max(${duckTsUs("v.ts")}), -1) AS last_view_us,
                 count(v.event_id) AS n_prior_views
          FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
            ON p.user_id = v.user_id AND ${duckTsUs("v.ts")} <= ${duckTsUs("p.ts")}
          GROUP BY p.event_id ORDER BY p_id""",
    // Pipe syntax is pure surface syntax — the oracle is the same
    // query written as nested standard SQL.
    "sql_pipe" ->
      """SELECT year(o_orderdate)::BIGINT AS o_year,
                count(*)::BIGINT AS n_orders,
                round(sum(o_totalprice::DECIMAL(18,4)), 2)::DOUBLE AS total
         FROM orders WHERE o_orderstatus = 'F'
         GROUP BY o_year ORDER BY o_year""",
    // Independent naive formulation (max prior view then tolerance
    // gate) vs the engine's single-pass window + predicate.
    "join_asof_tolerance" ->
      s"""WITH lastv AS (
            SELECT p.event_id AS p_id, ${duckTsUs("p.ts")} AS p_us,
                   max(${duckTsUs("v.ts")}) AS lv
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON p.user_id = v.user_id
             AND ${duckTsUs("v.ts")} <= ${duckTsUs("p.ts")}
            GROUP BY p.event_id, ${duckTsUs("p.ts")})
          SELECT p_id,
                 CASE WHEN lv IS NOT NULL AND p_us - lv <= 3600000000
                      THEN lv END AS view_us_within_tol,
                 coalesce(lv IS NOT NULL AND p_us - lv <= 3600000000,
                          false) AS matched
          FROM lastv ORDER BY p_id""",
    // Independent formulation: argmin |Δ| over the full pair space with
    // the (distance, prev-first) tie order — vs the engine's O(n)
    // two-window pass.
    "join_asof_nearest" ->
      s"""WITH p AS (SELECT event_id AS p_id, user_id,
                            ${duckTsUs("ts")} AS p_us
                     FROM events WHERE event_type = 'purchase'),
              v AS (SELECT user_id, ${duckTsUs("ts")} AS v_us
                    FROM events WHERE event_type = 'view'),
              c AS (SELECT p.p_id, p.user_id, p.p_us, v.v_us,
                           abs(p.p_us - v.v_us) AS d,
                           CASE WHEN v.v_us <= p.p_us THEN 0 ELSE 1 END
                             AS side
                    FROM p JOIN v USING (user_id)),
              r AS (SELECT *, row_number() OVER (PARTITION BY p_id
                      ORDER BY d, side, v_us) AS rn FROM c)
          SELECT p_id, user_id, p_us, v_us,
                 CASE WHEN v_us <= p_us THEN 'prev' ELSE 'next' END AS dir,
                 d AS delta_us
          FROM r WHERE rn = 1 ORDER BY p_id""",
    // DuckDB's NATIVE ASOF LEFT JOIN vs the custom physical operator.
    "join_asof_native" ->
      s"""WITH p AS (SELECT event_id AS p_id, user_id,
                            ${duckTsUs("ts")} AS p_us
                     FROM events WHERE event_type = 'purchase'),
              v AS (SELECT event_id AS v_id, user_id,
                            ${duckTsUs("ts")} AS v_us
                     FROM events WHERE event_type = 'view')
          SELECT p.p_id, p.p_us, v.v_id AS last_view_id,
                 v.v_us AS last_view_us
          FROM p ASOF LEFT JOIN v
            ON p.user_id = v.user_id AND v.v_us <= p.p_us
          ORDER BY p_id""",
    "agg_hash" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2)::DOUBLE AS sum_qty,
                round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)::DOUBLE AS sum_base_price,
                round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)::DOUBLE AS sum_disc_price,
                (sum(CAST(l_quantity AS DECIMAL(18,4)))::DOUBLE) / count(*) AS avg_qty,
                (sum(CAST(l_discount AS DECIMAL(18,4)))::DOUBLE) / count(*) AS avg_disc,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
                count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // agg_approx / agg_approx_quantile gate outputs (audit ON) = exact
    // witness + corridor booleans: DuckDB independently recomputes the
    // exact side, and the TRUE pins assert each sketch landed inside
    // its tolerance corridor (3×rsd / 1%) — a drifting sketch flips a
    // boolean and fails the hash. The numeric audits stay in RobustnessSpec on the
    // audit-off sketch values.
    "agg_approx" ->
      """SELECT l_returnflag,
                count(DISTINCT l_partkey)::BIGINT AS exact_parts,
                count(DISTINCT l_orderkey)::BIGINT AS exact_orders,
                count(*)::BIGINT AS n_rows,
                TRUE AS parts_ok, TRUE AS orders_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_approx_quantile" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n,
                TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q90_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
                coalesce(l_linestatus, 'ALL') AS status,
                count(*) AS n,
                round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2)::DOUBLE AS qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY flag, status""",
    "agg_corr" ->
      """WITH a AS (
           SELECT l_returnflag, count(*) AS n,
                  CAST(round(sum(CAST(l_quantity AS DECIMAL(19,4))), 0)
                       AS DOUBLE) AS sx,
                  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(19,4))), 0)
                       AS DOUBLE) AS sy,
                  CAST(round(sum(CAST(l_quantity AS DECIMAL(19,4))
                             * CAST(l_quantity AS DECIMAL(19,4))), 0)
                       AS DOUBLE) AS sxx,
                  CAST(round(sum(CAST(l_quantity AS DECIMAL(19,4))
                             * CAST(l_extendedprice AS DECIMAL(19,4))), 0)
                       AS DOUBLE) AS sxy,
                  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(19,4))
                             * CAST(l_extendedprice AS DECIMAL(19,4))), 0)
                       AS DOUBLE) AS syy
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n,
                (n * sxy - sx * sy) /
                (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                  AS corr_qty_price
         FROM a ORDER BY l_returnflag""",
    // The identical two-window island construction.
    "win_islands" ->
      s"""WITH ev AS (SELECT user_id, ${duckTsUs("ts")} AS ts_us,
                             event_type
                      FROM events),
           runs AS (
             SELECT user_id, event_type,
                    row_number() OVER (PARTITION BY user_id
                      ORDER BY ts_us)
                    - row_number() OVER (PARTITION BY user_id, event_type
                      ORDER BY ts_us) AS grp,
                    ts_us
             FROM ev),
           agg AS (
             SELECT user_id, event_type, grp,
                    count(*)::BIGINT AS streak_len,
                    min(ts_us) AS start_us
             FROM runs GROUP BY user_id, event_type, grp),
           pick AS (
             SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY streak_len DESC, start_us) AS rn
             FROM agg)
         SELECT user_id, event_type AS streak_type, streak_len, start_us
         FROM pick WHERE rn = 1 ORDER BY user_id""",
    // FILTER clauses + an independent window formulation of max_by's
    // struct tie-break.
    "agg_bool" ->
      """WITH agg AS (
           SELECT o_orderstatus AS status, count(*)::BIGINT AS n,
                  count(*) FILTER (o_totalprice > 200000)::BIGINT AS n_big,
                  round(sum(CASE WHEN o_totalprice > 200000
                            THEN o_totalprice::DECIMAL(18,4) END),
                        2)::DOUBLE AS big_total,
                  bool_and(o_totalprice > 1000) AS all_over_1k,
                  bool_or(o_totalprice > 500000) AS any_over_500k
           FROM orders GROUP BY 1),
         big AS (
           SELECT o_orderstatus AS status, o_orderkey AS biggest_order,
                  row_number() OVER (PARTITION BY o_orderstatus
                    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
           FROM orders)
         SELECT a.status, n, n_big, big_total, all_over_1k, any_over_500k,
                b.biggest_order
         FROM agg a JOIN big b ON b.status = a.status AND b.rn = 1
         ORDER BY a.status""",
    // Identical fixed IEEE assembly off the same exact integer sums;
    // md5-parity arm assignment mirrored verbatim.
    "agg_ttest" ->
      """WITH armed AS (
           SELECT o_orderpriority AS grp,
                  floor(o_totalprice / 1000.0)::BIGINT AS y,
                  ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 4))::BIGINT % 2
                    AS arm
           FROM orders),
         sums AS (
           SELECT grp, arm, count(*)::BIGINT AS n, sum(y)::BIGINT AS s,
                  sum(y * y)::BIGINT AS ss
           FROM armed GROUP BY grp, arm),
         piv AS (
           SELECT grp,
                  max(CASE WHEN arm = 0 THEN n END)::BIGINT AS na,
                  max(CASE WHEN arm = 0 THEN s END)::BIGINT AS sa,
                  max(CASE WHEN arm = 0 THEN ss END)::BIGINT AS ssa,
                  max(CASE WHEN arm = 1 THEN n END)::BIGINT AS nb,
                  max(CASE WHEN arm = 1 THEN s END)::BIGINT AS sb,
                  max(CASE WHEN arm = 1 THEN ss END)::BIGINT AS ssb
           FROM sums GROUP BY grp),
         v AS (
           SELECT *,
                  (na * ssa - sa * sa)::DOUBLE / (na * (na - 1))::DOUBLE AS va,
                  (nb * ssb - sb * sb)::DOUBLE / (nb * (nb - 1))::DOUBLE AS vb
           FROM piv)
         SELECT grp, na, sa, ssa, nb, sb, ssb,
                sa::DOUBLE / na AS mean_a, sb::DOUBLE / nb AS mean_b,
                (sa::DOUBLE / na - sb::DOUBLE / nb)
                  / sqrt(va / na + vb / nb) AS t_stat,
                (va / na + vb / nb) * (va / na + vb / nb)
                  / ((va / na) * (va / na) / (na - 1)
                     + (vb / nb) * (vb / nb) / (nb - 1)) AS welch_df
         FROM v ORDER BY grp""",
    "agg_histogram" ->
      """SELECT CAST(least(greatest(floor(l_extendedprice / 5000.0), 0), 19)
                     AS BIGINT) AS bucket,
                count(*) AS n, sum(l_quantity) AS sum_qty
         FROM lineitem GROUP BY 1 ORDER BY bucket""",
    // The grid-cell blocking never changes the result set — the oracle
    // is the naive overlap join.
    "join_interval" ->
      s"""WITH a AS (SELECT event_id AS a_id, user_id,
                            ${duckTsUs("ts")} AS a_start,
                            ${duckTsUs("ts")} + 300000000 AS a_end
                     FROM events WHERE event_type = 'view'),
               b AS (SELECT event_id AS b_id, user_id,
                            ${duckTsUs("ts")} AS b_start,
                            ${duckTsUs("ts")} + 300000000 AS b_end
                     FROM events WHERE event_type = 'purchase')
          SELECT a_id, b_id,
                 least(a_end, b_end) - greatest(a_start, b_start)
                   AS overlap_us
          FROM a JOIN b ON a.user_id = b.user_id
                       AND a_start <= b_end AND b_start <= a_end
          ORDER BY a_id, b_id""",
    "join_nullsafe" ->
      """WITH a AS (SELECT nullif(o_orderstatus, 'P') AS k,
                           count(*) AS n_1995
                    FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
              b AS (SELECT nullif(o_orderstatus, 'P') AS k,
                           count(*) AS n_1996
                    FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1)
         SELECT coalesce(a.k, b.k, 'P(nulled)') AS grp,
                coalesce(n_1995, 0) AS n_1995,
                coalesce(n_1996, 0) AS n_1996
         FROM a FULL OUTER JOIN b ON a.k IS NOT DISTINCT FROM b.k
         ORDER BY grp""",
    "agg_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
                coalesce(o_orderpriority, 'ALL') AS priority,
                count(*) AS n,
                round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)::DOUBLE AS total
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY status, priority""",
    "agg_gsets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
                coalesce(l_linestatus, 'ALL') AS status,
                count(*) AS n,
                round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)::DOUBLE AS price
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         ORDER BY flag, status""",
    "agg_pivot" ->
      """SELECT user_id % 10 AS user_bucket,
                count(*) FILTER (event_type = 'click') AS click,
                count(*) FILTER (event_type = 'error') AS error,
                count(*) FILTER (event_type = 'purchase') AS purchase,
                count(*) FILTER (event_type = 'signup') AS signup,
                count(*) FILTER (event_type = 'view') AS view
         FROM events GROUP BY 1 ORDER BY user_bucket""",
    "win_rank" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, l_extendedprice,
                row_number() OVER (PARTITION BY l_returnflag
                  ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber,
                           l_quantity) AS rn,
                rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS rk,
                dense_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS drk
         FROM lineitem WHERE l_quantity >= 49
         ORDER BY l_returnflag, rn""",
    "win_analytic" ->
      s"""SELECT event_id, user_id, ts_us,
                 coalesce(ts_us - lag(ts_us, 1) OVER w, -1) AS gap_us,
                 coalesce(lead(event_id, 1) OVER w, -1) AS next_id,
                 first_value(value) OVER w AS first_value,
                 last_value(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_value
          FROM (SELECT event_id, user_id, ${duckTsUs("ts")} AS ts_us, value FROM events)
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
          ORDER BY user_id, ts_us, event_id""",
    "win_frame" ->
      s"""SELECT o_custkey, o_orderkey, od_s,
                 round(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                   OVER (PARTITION BY o_custkey ORDER BY od_s, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)::DOUBLE
                   AS running_total,
                 count(*) OVER (PARTITION BY o_custkey ORDER BY od_s
                         RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS n_30d
          FROM (SELECT o_custkey, o_orderkey, ${duckUsS("o_orderdate")} AS od_s,
                       o_totalprice FROM orders)
          ORDER BY o_custkey, od_s, o_orderkey""",
    "sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""",
    "topk_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn""",
    // Bit-identical by construction — same oracle as topk_group.
    "topk_group_rewrite" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn""",
    // Bit-identical by construction — same oracle as topk_group.
    "topk_group_agg" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "set_union" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 9000
         UNION
         SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
         ORDER BY c_custkey""",
    "set_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         INTERSECT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
         ORDER BY o_custkey""",
    "set_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         EXCEPT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
         ORDER BY o_custkey""",
    "win_dist" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
                ntile(4) OVER w AS quartile,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cdist
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderpriority, o_totalprice, o_orderkey""",
    // Identical running-min window spec over the same (ts, event_id)
    // total order — both engines execute the same state machine.
    "win_cohort" ->
      s"""WITH e AS (SELECT user_id,
                            (${duckTsUs("ts")} // 86400000000) AS day
                     FROM events),
              f AS (SELECT user_id, min(day) AS cohort_day
                    FROM e GROUP BY user_id),
              cs AS (SELECT cohort_day, count(*) AS n_cohort
                     FROM f GROUP BY cohort_day),
              a AS (SELECT DISTINCT f.cohort_day, e.day - f.cohort_day AS k,
                           e.user_id
                    FROM e JOIN f USING (user_id)),
              m AS (SELECT cohort_day, k, count(*) AS n_active
                    FROM a GROUP BY cohort_day, k)
          SELECT m.cohort_day, m.k, m.n_active, cs.n_cohort,
                 m.n_active::DOUBLE / cs.n_cohort AS retention
          FROM m JOIN cs USING (cohort_day)
          ORDER BY cohort_day, k""",
    // Identical exact pipeline: decimal PAA segment sums → tie-free
    // rank permutation → word; no float enters until never.
    "ts_motif" ->
      s"""WITH o AS (SELECT user_id, event_id,
                            ${duckTsUs("ts")} AS ts_us, value,
                            row_number() OVER
                              (PARTITION BY user_id
                               ORDER BY ${duckTsUs("ts")}, event_id) AS rn,
                            count(*) OVER (PARTITION BY user_id) AS n
                     FROM events),
              seg AS (SELECT user_id, (rn - 1) // 10 AS seg,
                             sum(CAST(value AS DECIMAL(18,4))) AS s
                      FROM o WHERE n >= 40 AND rn <= 40
                      GROUP BY user_id, (rn - 1) // 10),
              ranked AS (SELECT user_id, seg,
                                rank() OVER (PARTITION BY user_id
                                             ORDER BY s, seg) AS r
                         FROM seg),
              words AS (SELECT user_id,
                               string_agg(r::VARCHAR, '' ORDER BY seg) AS word
                        FROM ranked GROUP BY user_id)
         SELECT word, count(*)::BIGINT AS n_users,
                sum(user_id)::BIGINT AS id_digest,
                min(user_id) AS min_user
         FROM words GROUP BY word ORDER BY word""",
    // Identical grid derivation; build side has ONE cell per point so
    // each within-ε pair matches exactly once — no DISTINCT needed.
    "join_spatial" ->
      """WITH p AS (SELECT c_custkey AS id,
                           (('0x' || substr(md5(c_custkey::VARCHAR || 'x'), 1, 8))::BIGINT
                             % 3000) AS x,
                           (('0x' || substr(md5(c_custkey::VARCHAR || 'y'), 1, 8))::BIGINT
                             % 3000) AS y
                    FROM customer),
              b AS (SELECT id, x, y,
                           (x // 75)::VARCHAR || ':' || (y // 75)::VARCHAR
                             AS cellkey
                    FROM p),
              pr AS (SELECT p.id AS b_id, x AS bx, y AS by,
                            ((x // 75) + dx.o)::VARCHAR || ':' ||
                            ((y // 75) + dy.o)::VARCHAR AS cellkey
                     FROM p, (VALUES (-1), (0), (1)) dx(o),
                             (VALUES (-1), (0), (1)) dy(o))
         SELECT b.id AS a_id, pr.b_id,
                abs(b.x - pr.bx) AS dx, abs(b.y - pr.by) AS dy
         FROM b JOIN pr USING (cellkey)
         WHERE b.id < pr.b_id
           AND abs(b.x - pr.bx) <= 75 AND abs(b.y - pr.by) <= 75
         ORDER BY a_id, b_id""",
    // Identical planted spikes, identical integer median/MAD pipeline.
    "ts_anomaly" ->
      """WITH e AS (SELECT event_id, event_type,
                           (CAST(trunc(CAST(value AS DECIMAL(18,4)) * 100)
                                 AS BIGINT) *
                            CASE WHEN event_id % 97 = 0 THEN 50 ELSE 1 END)
                             AS cents
                    FROM events),
              m AS (SELECT event_type, cents AS med FROM (
                      SELECT event_type, cents,
                             row_number() OVER (PARTITION BY event_type
                                                ORDER BY cents) AS rn,
                             count(*) OVER (PARTITION BY event_type) AS n
                      FROM e) WHERE rn = (n + 1) // 2),
              dv AS (SELECT e.event_id, e.event_type, e.cents, m.med,
                            abs(e.cents - m.med) AS dev
                     FROM e JOIN m USING (event_type)),
              md AS (SELECT event_type, dev AS mad FROM (
                      SELECT event_type, dev,
                             row_number() OVER (PARTITION BY event_type
                                                ORDER BY dev) AS rn,
                             count(*) OVER (PARTITION BY event_type) AS n
                      FROM dv) WHERE rn = (n + 1) // 2)
         SELECT dv.event_id, dv.event_type, dv.cents, dv.med, md.mad, dv.dev
         FROM dv JOIN md USING (event_type)
         WHERE dv.dev > 3 * greatest(md.mad, 1)
         ORDER BY event_id""",
    // Same cents trunc, same slot div, same IGNORE NULLS windows, and
    // the interpolation is the same fixed chain of exact-rounded IEEE
    // ops — raw doubles match bitwise, no rounding.
    "ts_interp" ->
      s"""WITH ev AS (SELECT event_type,
                             (${graft.Tables.duckTsUs("ts")}) // 600000000
                               AS slot,
                             CAST(trunc(CAST(value AS DECIMAL(18,4)) * 100)
                                  AS BIGINT) AS cents
                      FROM events),
          agg AS (SELECT event_type, slot, count(*) AS n_obs,
                         sum(cents)::BIGINT AS sc
                  FROM ev GROUP BY event_type, slot),
          a2 AS (SELECT *, sc::DOUBLE / n_obs AS m FROM agg),
          bounds AS (SELECT min(slot) AS lo, max(slot) AS hi FROM ev),
          grid AS (SELECT event_type, unnest(range(lo, hi + 1)) AS slot
                   FROM (SELECT DISTINCT event_type FROM ev), bounds),
          j AS (SELECT g.event_type, g.slot, a2.n_obs, a2.m
                FROM grid g LEFT JOIN a2 USING (event_type, slot)),
          w AS (SELECT *,
                 last_value(m IGNORE NULLS) OVER wp AS pm,
                 last_value(CASE WHEN m IS NOT NULL THEN slot END
                            IGNORE NULLS) OVER wp AS ps,
                 first_value(m IGNORE NULLS) OVER wn AS nm,
                 first_value(CASE WHEN m IS NOT NULL THEN slot END
                             IGNORE NULLS) OVER wn AS ns
                FROM j
                WINDOW wp AS (PARTITION BY event_type ORDER BY slot
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW),
                       wn AS (PARTITION BY event_type ORDER BY slot
                              ROWS BETWEEN CURRENT ROW
                                       AND UNBOUNDED FOLLOWING))
          SELECT event_type, slot * 600 AS slot_s,
                 coalesce(n_obs, 0)::BIGINT AS n,
                 CASE WHEN m IS NOT NULL THEN 'obs'
                      WHEN pm IS NOT NULL AND nm IS NOT NULL THEN 'interp'
                      ELSE 'edge' END AS kind,
                 CASE WHEN m IS NOT NULL THEN m
                      WHEN pm IS NOT NULL AND nm IS NOT NULL
                      THEN pm + (nm - pm) * (slot - ps) / (ns - ps)
                      ELSE coalesce(pm, nm) END AS value
          FROM w ORDER BY event_type, slot_s""",
    // Identical pasted weight literals, identical frame-ordered fold.
    "ts_ewma" ->
      s"""WITH ev AS (SELECT event_id, event_type,
                             ${graft.Tables.duckTsUs("ts")} AS ts_us, value
                      FROM events),
          h AS (SELECT event_id, event_type, value,
                       list(value) OVER (PARTITION BY event_type
                            ORDER BY ts_us, event_id
                            ROWS BETWEEN 63 PRECEDING AND CURRENT ROW) AS hist
                FROM ev),
          sc AS (SELECT event_id, event_type, value, len(hist)::BIGINT AS m,
                        list_sum(list_transform(list_reverse(hist),
                          (x, i) -> x * ($ewmaWeightsSql)[i])) AS num,
                        list_sum(($ewmaWeightsSql)[1:len(hist)]) AS den
                 FROM h)
          SELECT event_id, event_type, value, m,
                 round(num / den, 6) AS ewma,
                 round(value - num / den, 6) AS dev
          FROM sc ORDER BY event_id""",
    "win_funnel" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type,
                            ${duckTsUs("ts")} AS ts_us FROM events),
              s1 AS (SELECT *,
                       min(CASE WHEN event_type = 'view' THEN ts_us END)
                         OVER w AS first_view_us
                     FROM e
                     WINDOW w AS (PARTITION BY user_id
                                  ORDER BY ts_us, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)),
              s2 AS (SELECT *, CASE WHEN event_type = 'click'
                                     AND first_view_us <= ts_us
                                    THEN ts_us END AS qual_click_us
                     FROM s1),
              s3 AS (SELECT *, min(qual_click_us) OVER w AS first_click_us
                     FROM s2
                     WINDOW w AS (PARTITION BY user_id
                                  ORDER BY ts_us, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)),
              s4 AS (SELECT *, CASE WHEN event_type = 'purchase'
                                     AND first_click_us <= ts_us
                                    THEN ts_us END AS qual_purchase_us
                     FROM s3)
          SELECT user_id,
                 min(CASE WHEN event_type = 'view' THEN ts_us END) AS view_us,
                 min(qual_click_us) AS click_us,
                 min(qual_purchase_us) AS purchase_us,
                 (min(qual_purchase_us) IS NOT NULL) AS converted
          FROM s4 GROUP BY user_id ORDER BY user_id""",
    "agg_stats" ->
      """WITH m AS (
           SELECT o_orderstatus, count(*) AS n,
                  sum(CAST(o_totalprice AS DECIMAL(18,0)))::DOUBLE AS sx,
                  sum(CAST(o_totalprice AS DECIMAL(19,0))
                      * CAST(o_totalprice AS DECIMAL(19,0)))::DOUBLE AS sxx,
                  sum(CAST(o_custkey AS DECIMAL(18,0)))::DOUBLE AS sy,
                  sum(CAST(o_custkey AS DECIMAL(19,0))
                      * CAST(o_custkey AS DECIMAL(19,0)))::DOUBLE AS syy,
                  sum(CAST(o_totalprice AS DECIMAL(19,0))
                      * CAST(o_custkey AS DECIMAL(19,0)))::DOUBLE AS sxy
           FROM orders GROUP BY o_orderstatus)
         SELECT o_orderstatus, n,
                sx / n AS mean_price,
                (sxx - sx * sx / n) / (n - 1) AS var_price,
                sqrt((sxx - sx * sx / n) / (n - 1)) AS std_price,
                (n * sxy - sx * sy)
                / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                  AS corr_price_cust
         FROM m ORDER BY o_orderstatus""",
    "agg_percentile" ->
      """SELECT l_returnflag,
                quantile_disc(l_quantity, 0.25) AS p25,
                quantile_disc(l_quantity, 0.5) AS p50,
                quantile_disc(l_quantity, 0.9) AS p90,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // Salting must not change results: the oracle is the UNSALTED join.
    "join_skew_salted" ->
      """SELECT o_custkey % 10 AS hot_key, n_name, count(*) AS n,
                round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)::DOUBLE AS total
         FROM orders JOIN nation ON o_custkey % 10 = n_nationkey
         WHERE n_nationkey < 10
         GROUP BY 1, 2 ORDER BY hot_key""",
    // THE SAME STRING the Spark engine executes — one SQL text, two
    // engines, hash-identical result.
    "sql_tpch_q1" -> tpchQ1Sql,
    "sql_tpch_q6" -> tpchQ6Sql,
    "sql_tpch_q10" -> tpchQ10Sql,
    // DuckDB has no SQL scripting; the oracle derives the identical
    // fixpoint closed-form: the first doubling step whose count is
    // <= 1000 (power(2,k) is IEEE-exact for small k, same doubles as
    // the script's repeated *2).
    "sql_scripting" ->
      """WITH c AS (SELECT k, 1000.0 * power(2, k) AS thr
                    FROM (SELECT unnest(range(0, 30)) AS k)),
           n AS (SELECT k, thr,
                        (SELECT count(*) FROM orders
                         WHERE o_totalprice > c.thr) AS cnt
                 FROM c)
         SELECT thr AS threshold, cnt::BIGINT AS n_above
         FROM n WHERE cnt <= 1000 ORDER BY k LIMIT 1""",
    "sql_tpch_q3" -> tpchQ3Sql,
    "sql_tpch_q5" -> tpchQ5Sql,
    "sql_tpch_q18" -> tpchQ18Sql,
    "sql_tpch_q2" -> tpchQ2Sql,
    "sql_tpch_q15" -> tpchQ15Sql,
    "sql_tpch_q21" -> tpchQ21Sql,
    "sql_tpch_q4" -> tpchQ4Sql,
    "sql_tpch_q12" -> tpchQ12Sql,
    "sql_tpch_q14" -> tpchQ14Sql,
    "sql_tpch_q22" -> tpchQ22Sql,
    "sql_tpch_q7" -> tpchQ7Sql,
    "sql_tpch_q8" -> tpchQ8Sql,
    "sql_tpch_q9" -> tpchQ9Sql,
    "sql_tpch_q11" -> tpchQ11Sql,
    "sql_tpch_q13" -> tpchQ13Sql,
    "sql_tpch_q16" -> tpchQ16Sql,
    "sql_tpch_q17" -> tpchQ17Sql,
    "sql_tpch_q19" -> tpchQ19Sql,
    "sql_tpch_q20" -> tpchQ20Sql,
    "seq_pattern" ->
      s"""WITH ev AS (SELECT user_id, ${duckTsUs("ts")} AS ts_us,
                             substr(event_type, 1, 1) AS ch
                      FROM events),
           p AS (SELECT user_id, count(*)::BIGINT AS path_len,
                        string_agg(ch, '' ORDER BY ts_us, ch) AS path
                 FROM ev GROUP BY user_id)
         SELECT user_id, path_len,
                len(regexp_extract_all(path, 'sv+c+p'))::BIGINT AS n_runs,
                len(regexp_extract_all(path, 'sv+c+p')) > 0 AS converted
         FROM p ORDER BY user_id""",
    // Identical gaps-and-islands sessionization (strictly-greater gap,
    // cumulative open-flag sum), then the seq_pattern path discipline
    // per (user, session).
    "seq_pattern_session" ->
      s"""WITH ev AS (SELECT user_id, ${duckTsUs("ts")} AS ts_us,
                             substr(event_type, 1, 1) AS ch
                      FROM events),
           f AS (SELECT user_id, ts_us, ch,
                        CASE WHEN ts_us - lag(ts_us) OVER
                               (PARTITION BY user_id ORDER BY ts_us)
                             > 1800000000 THEN 1 ELSE 0 END AS new_s
                 FROM ev),
           se AS (SELECT user_id, ts_us, ch,
                         sum(new_s) OVER (PARTITION BY user_id
                           ORDER BY ts_us ROWS UNBOUNDED PRECEDING)::BIGINT
                           AS session_id
                  FROM f),
           p AS (SELECT user_id, session_id, count(*)::BIGINT AS path_len,
                        string_agg(ch, '' ORDER BY ts_us, ch) AS path
                 FROM se GROUP BY user_id, session_id)
         SELECT user_id, session_id, path_len,
                len(regexp_extract_all(path, 'sv+c+p'))::BIGINT AS n_runs,
                len(regexp_extract_all(path, 'sv+c+p')) > 0 AS converted
         FROM p ORDER BY user_id, session_id""",
    // Independent open/close formulation: two row_number windows vs
    // the engine's min_by/max_by single aggregate.
    "ts_ohlc" ->
      s"""WITH ev AS (SELECT event_type,
                             ${duckTsUs("ts")} // 3600000000 AS slot,
                             ${duckTsUs("ts")} AS ts_us, event_id,
                             (value::DECIMAL(18,4) * 100)::BIGINT AS cents
                      FROM events),
           rnk AS (SELECT *,
                          row_number() OVER (PARTITION BY event_type, slot
                            ORDER BY ts_us, event_id) AS rf,
                          row_number() OVER (PARTITION BY event_type, slot
                            ORDER BY ts_us DESC, event_id DESC) AS rl
                   FROM ev)
         SELECT event_type, slot, count(*)::BIGINT AS volume,
                max(CASE WHEN rf = 1 THEN cents END)::BIGINT AS open_c,
                max(cents)::BIGINT AS high_c,
                min(cents)::BIGINT AS low_c,
                max(CASE WHEN rl = 1 THEN cents END)::BIGINT AS close_c
         FROM rnk GROUP BY event_type, slot
         ORDER BY event_type, slot""",
    // Same rebased day index, same exact integer Cramer numerators,
    // same single int→double cast + one IEEE division per output —
    // raw doubles, no grid needed.
    "ts_forecast" -> {
      def fc(h: Int) =
        s"""CASE WHEN n*sxx - sx*sx > 0 THEN
              (sy*sxx - sx*sxy + (n*sxy - sx*sy)*(xmax + $h))::DOUBLE
                / (n*sxx - sx*sx)::DOUBLE END AS fc_$h"""
      s"""WITH daily AS (
            SELECT event_type, ${duckTsUs("ts")} // 86400000000 AS day,
                   count(*)::BIGINT AS y
            FROM events GROUP BY 1, 2),
          xd AS (
            SELECT event_type,
                   day - min(day) OVER (PARTITION BY event_type) AS x, y,
                   min(day) OVER (PARTITION BY event_type) AS d0
            FROM daily),
          sums AS (
            SELECT event_type, count(*)::BIGINT AS n,
                   max(x)::BIGINT AS xmax, min(d0)::BIGINT AS d0,
                   sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                   sum(x*x)::BIGINT AS sxx, sum(x*y)::BIGINT AS sxy
            FROM xd GROUP BY event_type)
          SELECT event_type, n, d0 AS first_day, xmax,
                 CASE WHEN n*sxx - sx*sx > 0 THEN
                   (n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE END
                   AS slope,
                 ${fc(1)}, ${fc(2)}, ${fc(3)}
          FROM sums ORDER BY event_type"""
    },
    "ts_seasonal" ->
      s"""WITH ev AS (SELECT event_type,
                             ${duckTsUs("ts")} // 600000000 AS slot
                      FROM events),
           b AS (SELECT min(slot) AS lo, max(slot) AS hi FROM ev),
           g AS (SELECT t.event_type, u.slot
                 FROM (SELECT DISTINCT event_type FROM ev) t
                 CROSS JOIN (SELECT unnest(range(lo, hi + 1)) AS slot
                             FROM b) u),
           c AS (SELECT event_type, slot, count(*)::BIGINT AS c
                 FROM ev GROUP BY 1, 2),
           x AS (SELECT g.event_type, g.slot, coalesce(c.c, 0)::BIGINT AS x
                 FROM g LEFT JOIN c
                   ON c.event_type = g.event_type AND c.slot = g.slot),
           prof AS (SELECT event_type, (slot % 144)::BIGINT AS phase,
                           count(*)::BIGINT AS n_slots,
                           sum(x)::BIGINT AS phase_sum
                    FROM x GROUP BY 1, 2)
         SELECT event_type, phase, n_slots, phase_sum,
                phase_sum::DOUBLE / n_slots AS seasonal_mean,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY phase_sum DESC, phase)::BIGINT AS peak_rank,
                (row_number() OVER (PARTITION BY event_type
                  ORDER BY phase_sum DESC, phase)) <= 3 AS is_peak
         FROM prof ORDER BY event_type, phase""",
    "ts_acf" ->
      s"""WITH ev AS (SELECT event_type,
                             ${duckTsUs("ts")} // 600000000 AS slot
                      FROM events),
           b AS (SELECT min(slot) AS lo, max(slot) AS hi FROM ev),
           g AS (SELECT t.event_type, u.slot
                 FROM (SELECT DISTINCT event_type FROM ev) t
                 CROSS JOIN (SELECT unnest(range(lo, hi + 1)) AS slot
                             FROM b) u),
           c AS (SELECT event_type, slot, count(*)::BIGINT AS c
                 FROM ev GROUP BY 1, 2),
           x AS (SELECT g.event_type, g.slot, coalesce(c.c, 0)::BIGINT AS x
                 FROM g LEFT JOIN c
                   ON c.event_type = g.event_type AND c.slot = g.slot),
           led AS (SELECT event_type, x,
                          lead(x, 1) OVER w AS x1,
                          lead(x, 2) OVER w AS x2,
                          lead(x, 3) OVER w AS x3
                   FROM x
                   WINDOW w AS (PARTITION BY event_type ORDER BY slot)),
           m AS (SELECT event_type, 1::BIGINT AS lag, x, x1 AS xk FROM led
                 UNION ALL SELECT event_type, 2, x, x2 FROM led
                 UNION ALL SELECT event_type, 3, x, x3 FROM led),
           a AS (SELECT event_type, lag, count(*)::BIGINT AS nk,
                        sum(x)::BIGINT AS sh, sum(x * x)::BIGINT AS shh,
                        sum(xk)::BIGINT AS st, sum(xk * xk)::BIGINT AS stt,
                        sum(x * xk)::BIGINT AS sxy
                 FROM m WHERE xk IS NOT NULL GROUP BY 1, 2)
         SELECT event_type, lag, nk,
                (nk * sxy - sh * st)::BIGINT AS num,
                (nk * shh - sh * sh)::BIGINT AS var_head,
                (nk * stt - st * st)::BIGINT AS var_tail,
                CASE WHEN nk * shh - sh * sh > 0 AND nk * stt - st * st > 0
                     THEN (nk * sxy - sh * st)::DOUBLE /
                          sqrt((nk * shh - sh * sh)::DOUBLE
                               * (nk * stt - st * st)::DOUBLE)
                END AS acf
         FROM a ORDER BY event_type, lag""",
    // Identical 16×16 integer DTW lattice; DuckDB's list_reduce takes
    // no init, so each unrolled row-step prepends a list-typed seed.
    "ts_dtw" -> {
      val inf = 1000000000000000L
      val tpl = dtwTemplate.mkString("CAST([", ",", "] AS BIGINT[])")
      val sums = (0 until 16).map(x =>
        s"coalesce(sum(CASE WHEN k = $x THEN 1 END), 0)::BIGINT")
        .mkString(",\n             ")
      val init = (0L +: Seq.fill(16)(inf))
        .mkString("CAST([", ",", "] AS BIGINT[])")
      val steps = (1 to 16).map(i =>
        s""",
           r$i AS (SELECT user_id, a,
             list_reduce(
               [CAST([$inf] AS BIGINT[])] ||
                 list_transform(range(1, 17), jj -> [CAST(jj AS BIGINT)]),
               (acc, x) -> list_append(acc,
                 abs(a[$i] - ($tpl)[x[1]]) +
                 least(p[x[1]], p[x[1] + 1], acc[x[1]]))) AS p
             FROM r${i - 1})""").mkString
      s"""WITH b AS (SELECT user_id,
                 (${duckTsUs("ts")} // $acfSlotUs) % 16 AS k
               FROM events),
           ser AS (SELECT user_id, [$sums] AS a FROM b GROUP BY user_id),
           r0 AS (SELECT user_id, a, $init AS p FROM ser)$steps
         SELECT user_id, CAST(p[17] AS BIGINT) AS dtw
         FROM r16
         ORDER BY dtw, user_id
         LIMIT 20"""
    },
    "ts_changepoint" ->
      s"""WITH ev AS (SELECT event_type,
                             ${duckTsUs("ts")} // 600000000 AS slot
                      FROM events),
           b AS (SELECT min(slot) AS lo, max(slot) AS hi FROM ev),
           g AS (SELECT t.event_type, b.lo, b.hi, u.slot
                 FROM (SELECT DISTINCT event_type FROM ev) t
                 CROSS JOIN b
                 CROSS JOIN (SELECT unnest(range(lo, hi + 1)) AS slot
                             FROM b) u),
           c AS (SELECT event_type, slot, count(*)::BIGINT AS c
                 FROM ev GROUP BY 1, 2),
           x AS (SELECT g.event_type, g.lo, g.hi, g.slot,
                        coalesce(c.c, 0)::BIGINT AS x
                 FROM g LEFT JOIN c
                   ON c.event_type = g.event_type AND c.slot = g.slot),
           tt AS (SELECT event_type, sum(x)::BIGINT AS t_sum
                  FROM x GROUP BY 1),
           st AS (SELECT x.event_type, lo, hi, slot, x.x, tt.t_sum,
                         sum((hi - lo + 1) * x.x - tt.t_sum) OVER w::BIGINT
                           AS s_cusum,
                         sum(x.x) OVER w::BIGINT AS run_x
                  FROM x JOIN tt USING (event_type)
                  WINDOW w AS (PARTITION BY x.event_type ORDER BY slot
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW)),
           p AS (SELECT *, row_number() OVER (PARTITION BY event_type
                           ORDER BY abs(s_cusum) DESC, slot) AS rn
                 FROM st)
         SELECT event_type, (slot * 600)::BIGINT AS cp_slot_s, s_cusum,
                (CASE WHEN s_cusum > 0 THEN 1
                      WHEN s_cusum < 0 THEN -1 ELSE 0 END)::BIGINT
                  AS direction,
                (slot - lo + 1)::BIGINT AS n_before,
                (hi - slot)::BIGINT AS n_after,
                run_x::DOUBLE / (slot - lo + 1) AS mean_before,
                CASE WHEN hi > slot
                     THEN (t_sum - run_x)::DOUBLE / (hi - slot)
                END AS mean_after
         FROM p WHERE rn = 1 ORDER BY event_type""",
    "sql_recursive" -> recursiveSql,
    "sql_lateral" -> lateralSql,
    "sql_exists" -> existsSql,
    "sql_window_range" -> windowRangeSql,
    // Bitmap distinct is EXACT, so the plain distinct count is a valid
    // oracle — the bitmap path is the distributed-execution strategy,
    // not an approximation.
    "agg_bitmap" ->
      """SELECT o_orderpriority,
                count(DISTINCT o_custkey) AS exact_distinct
         FROM orders GROUP BY 1 ORDER BY 1""",
    // AQE skew-splitting must not change results: oracle is the plain
    // join; the skew=true marker is pinned by PlanSpec.
    "join_skew_aqe" ->
      """WITH big AS (
           SELECT CASE WHEN o_custkey % 100 < 50 THEN 0
                       ELSE o_custkey % 100 END AS hot_key,
                  o_totalprice
           FROM orders),
           dim AS (
           SELECT range AS hot_key,
                  'grp_' || lpad(range::VARCHAR, 3, '0') AS grp
           FROM range(100))
         SELECT grp, count(*) AS n,
                round(sum(o_totalprice::DECIMAL(18,4)), 2)::DOUBLE AS total
         FROM big JOIN dim USING (hot_key)
         GROUP BY grp ORDER BY grp""",
    // Bucketing must not change results: oracle is the plain join.
    "join_bucketed" ->
      """SELECT c_mktsegment, count(*) AS n,
                round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)::DOUBLE AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "obs_accounting" ->
      """SELECT count(*) AS n_rows,
                sum(CAST(l_extendedprice AS DECIMAL(18,4)))::DOUBLE AS total_price,
                count(*) FILTER (l_returnflag = 'R') AS n_returned
         FROM lineitem""",
    // Statically-known lineage of the fixed introspected pipeline —
    // the plan walk must recover exactly these (col, table, col) edges.
    "obs_lineage" ->
      """SELECT out_col, src_table, src_col FROM (VALUES
           ('l_returnflag', 'lineitem', 'l_returnflag'),
           ('max_qtax', 'lineitem', 'l_quantity'),
           ('max_qtax', 'lineitem', 'l_tax'),
           ('n_items', '(literal)', '(literal)'),
           ('o_orderpriority', 'orders', 'o_orderpriority'),
           ('sum_rev', 'lineitem', 'l_discount'),
           ('sum_rev', 'lineitem', 'l_extendedprice'))
           t(out_col, src_table, src_col)
         ORDER BY out_col, src_table, src_col""",
    // best_rank's row_number is determined by the window's partition
    // (lang) AND order (n_chars, doc_id) keys; tok flows through the
    // Generate from the exploded text; count(1) stays literal-only.
    "obs_lineage_gen" ->
      """SELECT out_col, src_table, src_col FROM (VALUES
           ('best_rank', 'documents', 'doc_id'),
           ('best_rank', 'documents', 'lang'),
           ('best_rank', 'documents', 'n_chars'),
           ('max_chars', 'documents', 'n_chars'),
           ('n_uses', '(literal)', '(literal)'),
           ('tok', 'documents', 'text'))
           t(out_col, src_table, src_col)
         ORDER BY out_col, src_table, src_col""",
    "ingest_quarantine" ->
      """SELECT status, n::BIGINT AS n, total_size::BIGINT AS total_size
         FROM (VALUES ('ok', 3, 70), ('quarantined', 2, 30))
         t(status, n, total_size) ORDER BY status""",
    // Same integer power sums, same double polynomial token-for-token
    // (nd cast once in the CTE, reused — mirrors Spark's nD).
    "agg_moments" ->
      """WITH s AS (
           SELECT l_returnflag, count(*) AS n,
                  CAST(count(*) AS DOUBLE) AS nd,
                  CAST(sum(q) AS DOUBLE) AS s1,
                  CAST(sum(q*q) AS DOUBLE) AS s2,
                  CAST(sum(q*q*q) AS DOUBLE) AS s3,
                  CAST(sum(q*q*q*q) AS DOUBLE) AS s4
           FROM (SELECT l_returnflag,
                        CAST(l_quantity AS BIGINT) AS q FROM lineitem) t
           GROUP BY 1)
         SELECT l_returnflag, n,
                s1 / nd AS mean_q,
                (nd*s2 - s1*s1) / nd / nd AS var_q,
                (nd*nd*s3 - 3.0*nd*s1*s2 + 2.0*s1*s1*s1)
                  / ((nd*s2 - s1*s1) * sqrt(nd*s2 - s1*s1)) AS skew_q,
                (nd*nd*nd*s4 - 4.0*nd*nd*s1*s3 + 6.0*nd*s1*s1*s2
                   - 3.0*s1*s1*s1*s1)
                  / ((nd*s2 - s1*s1) * (nd*s2 - s1*s1)) AS kurt_q
         FROM s ORDER BY l_returnflag""",
    // Identical hourly buckets, identical left fold: list_reduce has
    // no init, so a seed element (i=0) is PREPENDED; state rides as a
    // DOUBLE[3] LIST [i, l, b] — NOT a struct: DuckDB evaluates a
    // lambda's struct_pack fields sequentially against a MUTATING
    // accumulator (acc.l already holds the new level when the trend
    // field reads it — measured, and exactly why ts_dtw's oracle
    // carries list-typed seeds). Same 0.5/0.3/0.7 literals, same op
    // order — bit-identical state through ~720 chained float ops.
    "ts_holt" ->
      s"""WITH hourly AS (
           SELECT event_type, ${duckTsUs("ts")} // 3600000000 AS hr,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2),
         ser AS (
           SELECT event_type, count(*) AS n_pts,
                  list_prepend([0.0, 0.0, 0.0]::DOUBLE[],
                    list_transform(list(cnt ORDER BY hr),
                      c -> [-1.0, CAST(c AS DOUBLE), 0.0]::DOUBLE[])) AS pts
           FROM hourly GROUP BY 1),
         folded AS (
           SELECT event_type, n_pts,
                  list_reduce(pts, (acc, x) -> CASE WHEN acc[1] = 0.0
                    THEN [acc[1] + 1.0, x[2], 0.0]::DOUBLE[]
                    ELSE [acc[1] + 1.0,
                          0.5 * x[2] + 0.5 * (acc[2] + acc[3]),
                          0.3 * ((0.5 * x[2] + 0.5 * (acc[2] + acc[3]))
                             - acc[2]) + 0.7 * acc[3]]::DOUBLE[]
                    END) AS st
           FROM ser)
         SELECT event_type, n_pts, st[2] AS level, st[3] AS trend,
                st[2] + st[3] AS fc1, st[2] + 2.0 * st[3] AS fc2,
                st[2] + 3.0 * st[3] AS fc3
         FROM folded ORDER BY event_type""",
    // Identical lead() windows with the (ts_us, event_id) total order;
    // exact integer counts, one division.
    "seq_markov" ->
      s"""WITH ev AS (SELECT user_id, event_id, ${duckTsUs("ts")} AS ts_us,
                             event_type FROM events),
         tr AS (
           SELECT event_type AS prev_type,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id) AS next_type
           FROM ev),
         c AS (SELECT prev_type, next_type, count(*) AS n FROM tr
               WHERE next_type IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT prev_type, sum(n)::BIGINT AS n_prev FROM c GROUP BY 1)
         SELECT c.prev_type, c.next_type, c.n, t.n_prev,
                CAST(c.n AS DOUBLE) / CAST(t.n_prev AS DOUBLE) AS p
         FROM c JOIN t USING (prev_type)
         ORDER BY prev_type, next_type""",
    // Same cents/ntile/total-order; the cumulative window runs over
    // the 10-row-per-group decile table in both engines.
    "win_lorenz" ->
      """WITH c AS (
           SELECT o_orderpriority, o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                    AS BIGINT) AS cents
           FROM orders),
         r AS (
           SELECT o_orderpriority, cents,
                  CAST(ntile(10) OVER (PARTITION BY o_orderpriority
                    ORDER BY cents, o_orderkey) AS BIGINT) AS decile
           FROM c),
         d AS (
           SELECT o_orderpriority, decile, count(*) AS n_orders,
                  sum(cents) AS dc
           FROM r GROUP BY 1, 2),
         t AS (SELECT o_orderpriority, sum(dc) AS total FROM d GROUP BY 1)
         SELECT d.o_orderpriority, d.decile, d.n_orders,
                CAST(d.dc AS BIGINT) AS decile_cents,
                CAST(d.dc AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
                CAST(sum(d.dc) OVER (PARTITION BY d.o_orderpriority
                    ORDER BY d.decile ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS DOUBLE)
                  / CAST(t.total AS DOUBLE) AS cum_share
         FROM d JOIN t USING (o_orderpriority)
         ORDER BY o_orderpriority, decile""",
    // Same cents integers, same rank-sum numerators (DuckDB's BIGINT
    // sum auto-promotes to HUGEINT — mirrors Spark's DECIMAL(38,0)),
    // one cast each side of one division.
    "agg_gini" ->
      """WITH c AS (
           SELECT o_orderpriority, o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                    AS BIGINT) AS cents
           FROM orders),
         r AS (
           SELECT o_orderpriority, cents,
                  CAST(row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY cents, o_orderkey) AS BIGINT) AS i
           FROM c),
         g AS (
           SELECT o_orderpriority, count(*) AS n,
                  sum(cents) AS sx, sum(i * cents) AS six
           FROM r GROUP BY 1)
         SELECT o_orderpriority, n, CAST(sx AS BIGINT) AS total_cents,
                CAST(2 * six - (n + 1) * sx AS DOUBLE)
                  / CAST(n * sx AS DOUBLE) AS gini
         FROM g ORDER BY o_orderpriority""",
    // Identical 1024-bucket grid (explicit floor — DuckDB's bare
    // double→int cast rounds), identical integer sup, one division.
    "agg_ks" ->
      """WITH o AS (
           SELECT o_orderpriority AS grp,
                  CAST(floor(o_totalprice / 500.0) AS BIGINT) AS bucket
           FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         marks AS (
           SELECT bucket,
                  sum(CASE WHEN grp = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS d1,
                  sum(CASE WHEN grp = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS d2
           FROM o GROUP BY 1),
         ecdf AS (
           SELECT bucket,
                  sum(d1) OVER (ORDER BY bucket)::BIGINT AS c1,
                  sum(d2) OVER (ORDER BY bucket)::BIGINT AS c2
           FROM marks),
         tot AS (SELECT sum(d1)::BIGINT AS n1, sum(d2)::BIGINT AS n2
                 FROM marks)
         SELECT n1, n2, bucket AS arg_bucket,
                abs(c1 * n2 - c2 * n1) AS d_num,
                CAST(abs(c1 * n2 - c2 * n1) AS DOUBLE) / n1 / n2 AS ks_d
         FROM ecdf, tot
         ORDER BY d_num DESC, bucket LIMIT 1""",
    // tot_bal cites BOTH union branches; the "(rows)" pseudo-column
    // carries the why-provenance: both branches' nationkeys + the
    // join's nation key + the pre-join region filter.
    "obs_lineage_union" ->
      """SELECT out_col, src_table, src_col, kind FROM (VALUES
           ('(rows)', 'customer', 'c_nationkey', 'presence'),
           ('(rows)', 'nation', 'n_nationkey', 'presence'),
           ('(rows)', 'nation', 'n_regionkey', 'presence'),
           ('(rows)', 'supplier', 's_nationkey', 'presence'),
           ('n_accts', '(literal)', '(literal)', 'data'),
           ('n_name', 'nation', 'n_name', 'data'),
           ('tot_bal', 'customer', 'c_acctbal', 'data'),
           ('tot_bal', 'supplier', 's_acctbal', 'data'))
           t(out_col, src_table, src_col, kind)
         ORDER BY out_col, src_table, src_col, kind""",
    // l_quantity is integral-valued; the BIGINT cast is exact in both
    // engines (the agg_moments precedent).
    "agg_mode" ->
      """WITH c AS (
           SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
                  count(*) AS n
           FROM lineitem GROUP BY 1, 2)
         SELECT l_returnflag, q AS mode_q, n AS mode_n
         FROM (SELECT *, row_number() OVER (
                 PARTITION BY l_returnflag ORDER BY n DESC, q) AS rn
               FROM c)
         WHERE rn = 1 ORDER BY l_returnflag""",
    // Identical hourly grid, identical single division per slope,
    // median SELECTED at the same ⌈m/2⌉ rank under the same
    // (slope, h1, h2) total order — never averaged.
    "ts_theilsen" ->
      s"""WITH hourly AS (
           SELECT event_type, ${duckTsUs("ts")} // 3600000000 AS hr,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2),
         sl AS (
           SELECT a.event_type, a.hr AS h1, b.hr AS h2,
                  CAST(b.cnt - a.cnt AS DOUBLE)
                    / CAST(b.hr - a.hr AS DOUBLE) AS slope
           FROM hourly a JOIN hourly b
             ON a.event_type = b.event_type AND a.hr < b.hr),
         r AS (
           SELECT event_type, slope,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY slope, h1, h2) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS m
           FROM sl)
         SELECT event_type, m AS n_pairs, slope AS trend
         FROM r WHERE rn = (m + 1) // 2
         ORDER BY event_type""",
    // All-integer: both medians selected at rank ⌈n/2⌉, deviations and
    // the 3·MAD test stay in BIGINT.
    "ts_mad" ->
      s"""WITH hourly AS (
           SELECT event_type, ${duckTsUs("ts")} // 3600000000 AS hr,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2),
         med AS (
           SELECT event_type, cnt AS med FROM (
             SELECT event_type, hr, cnt,
                    row_number() OVER (PARTITION BY event_type
                      ORDER BY cnt, hr) AS rn,
                    count(*) OVER (PARTITION BY event_type) AS n
             FROM hourly) WHERE rn = (n + 1) // 2),
         dev AS (
           SELECT h.event_type, h.hr, abs(h.cnt - m.med) AS adev, m.med
           FROM hourly h JOIN med m ON h.event_type = m.event_type),
         mad AS (
           SELECT event_type, adev AS mad FROM (
             SELECT event_type, hr, adev,
                    row_number() OVER (PARTITION BY event_type
                      ORDER BY adev, hr) AS rn,
                    count(*) OVER (PARTITION BY event_type) AS n
             FROM dev) WHERE rn = (n + 1) // 2)
         SELECT d.event_type, count(*) AS n_hours, d.med, x.mad,
                CAST(sum(CASE WHEN d.adev > 3 * x.mad THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_anomalies
         FROM dev d JOIN mad x ON d.event_type = x.event_type
         GROUP BY d.event_type, d.med, x.mad
         ORDER BY d.event_type""",
    // Same bounded grid, same exact integer window sums, same fixed
    // IEEE chain (two divisions + sqrt) token-for-token; band
    // comparisons are then over identical doubles.
    "ts_bollinger" ->
      s"""WITH hourly AS (
           SELECT event_type, ${duckTsUs("ts")} // 3600000000 AS hr,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2),
         sums AS (
           SELECT event_type, hr, cnt,
                  count(*) OVER w AS n,
                  sum(cnt) OVER w AS s1,
                  sum(cnt * cnt) OVER w AS s2
           FROM hourly
           WINDOW w AS (PARTITION BY event_type ORDER BY hr
                        ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         b AS (
           SELECT event_type, hr, cnt, n,
                  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean24,
                  sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                       / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)) AS sd24
           FROM sums)
         SELECT event_type, hr, cnt, n, mean24, sd24,
                CAST(cnt AS DOUBLE) > mean24 + 2.0 * sd24 AS breach_hi,
                CAST(cnt AS DOUBLE) < mean24 - 2.0 * sd24 AS breach_lo
         FROM b ORDER BY event_type, hr""",
    // Identical ceil-rank thresholds over the identical ≤50-row
    // histogram; integers until the one mean division.
    "agg_winsorized" ->
      """WITH hist AS (
           SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
                  count(*) AS c
           FROM lineitem GROUP BY 1, 2),
         cum AS (
           SELECT l_returnflag, q, c,
                  CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY q
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
           FROM hist),
         tot AS (SELECT l_returnflag, CAST(sum(c) AS BIGINT) AS n
                 FROM hist GROUP BY 1),
         m AS (SELECT cum.*, n,
                      (n * 5 + 99) // 100 AS k05,
                      (n * 95 + 99) // 100 AS k95
               FROM cum JOIN tot USING (l_returnflag)),
         lo AS (SELECT l_returnflag, min(q) AS lo FROM m
                WHERE cum >= k05 GROUP BY 1),
         hi AS (SELECT l_returnflag, min(q) AS hi FROM m
                WHERE cum >= k95 GROUP BY 1)
         SELECT h.l_returnflag, CAST(sum(h.c) AS BIGINT) AS n, lo, hi,
                CAST(sum(h.c * greatest(least(h.q, hi), lo)) AS DOUBLE)
                  / CAST(sum(h.c) AS DOUBLE) AS winsorized_mean
         FROM hist h JOIN lo USING (l_returnflag)
                     JOIN hi USING (l_returnflag)
         GROUP BY h.l_returnflag, lo, hi
         ORDER BY h.l_returnflag""",
    // Identical strictly-cheaper/peer RANGE frames over identical
    // cents; dominance test in pure integer compares.
    "win_skyline" ->
      """WITH p AS (
           SELECT p_brand, p_partkey,
                  CAST(CAST(p_retailprice AS DECIMAL(18,4)) * 100
                    AS BIGINT) AS cents,
                  CAST(p_size AS BIGINT) AS size
           FROM part),
         w AS (
           SELECT p_brand, p_partkey, cents, size,
                  max(size) OVER (PARTITION BY p_brand ORDER BY cents
                    RANGE BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING) AS mxc,
                  max(size) OVER (PARTITION BY p_brand ORDER BY cents
                    RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS mxp
           FROM p)
         SELECT p_brand, p_partkey, cents, size FROM w
         WHERE (mxc IS NULL OR size > mxc) AND size = mxp
         ORDER BY p_brand, cents, p_partkey""",
    "agg_listagg" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                string_agg(DISTINCT source, ',' ORDER BY source)
                  AS sources
         FROM documents GROUP BY lang ORDER BY lang""",
    // cents as in agg_gini; the rank window runs over the per-customer
    // aggregate, sums on auto-HUGEINT mirror DECIMAL(38,0).
    "agg_topn_share" ->
      """WITH pc AS (
           SELECT c_mktsegment, c_custkey,
                  sum(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                    AS BIGINT)) AS cents
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         r AS (
           SELECT c_mktsegment, cents,
                  row_number() OVER (PARTITION BY c_mktsegment
                    ORDER BY cents DESC, c_custkey) AS rn
           FROM pc)
         SELECT c_mktsegment, count(*) AS n_cust,
                CAST(sum(CASE WHEN rn <= 10 THEN cents ELSE 0 END)
                  AS BIGINT) AS top10_cents,
                CAST(sum(cents) AS BIGINT) AS total_cents,
                CAST(sum(CASE WHEN rn <= 10 THEN cents ELSE 0 END)
                  AS DOUBLE) / CAST(sum(cents) AS DOUBLE) AS top10_share
         FROM r GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "win_streak" ->
      s"""WITH days AS (
           SELECT DISTINCT user_id,
                  ${duckTsUs("ts")} // 86400000000 AS day
           FROM events),
         isl AS (
           SELECT user_id,
                  day - row_number() OVER (PARTITION BY user_id
                    ORDER BY day) AS grp
           FROM days),
         st AS (
           SELECT user_id, grp, count(*) AS len
           FROM isl GROUP BY 1, 2)
         SELECT user_id, CAST(sum(len) AS BIGINT) AS n_days,
                count(*) AS n_streaks, max(len) AS max_streak
         FROM st GROUP BY user_id ORDER BY user_id""",
    // ln of exact integers; final entropy rounded to 6 decimals both
    // sides (the text_lm_score libm-ulp discipline). Σc·ln(c) is the
    // p_type-ordered sequential fold (the agg_chisq list_reduce
    // discipline), matching the engine's array_sort+aggregate fold.
    "agg_entropy" ->
      """WITH hist AS (
           SELECT p_brand, p_type, count(*) AS c
           FROM part GROUP BY 1, 2),
         g AS (
           SELECT p_brand, count(*) AS n_types,
                  CAST(sum(c) AS BIGINT) AS n,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    list(c::DOUBLE * ln(c::DOUBLE) ORDER BY p_type)),
                    (a, b) -> a + b) AS sclnc
           FROM hist GROUP BY 1)
         SELECT p_brand, n_types, n,
                round(ln(n::DOUBLE) - sclnc / n::DOUBLE, 6) AS entropy,
                round((ln(n::DOUBLE) - sclnc / n::DOUBLE)
                  / nullif(ln(n_types::DOUBLE), 0.0), 6) AS norm_entropy
         FROM g ORDER BY p_brand""",
    // Sequential fold over the 6 cells in (flag, status) order — the
    // identical add order makes the float sum engine-exact, no round.
    "agg_chisq" ->
      """WITH cells AS (
           SELECT l_returnflag, l_linestatus, count(*) AS o
           FROM lineitem GROUP BY 1, 2),
         rm AS (SELECT l_returnflag, CAST(sum(o) AS BIGINT) AS rt
                FROM cells GROUP BY 1),
         cm AS (SELECT l_linestatus, CAST(sum(o) AS BIGINT) AS ct
                FROM cells GROUP BY 1),
         nt AS (SELECT CAST(sum(o) AS BIGINT) AS nt FROM cells),
         ex AS (
           SELECT c.l_returnflag, c.l_linestatus, c.o,
                  -- via BIGINT: int128->double is not correctly rounded
                  -- in DuckDB; past 2^63 (~sf100) this raises loudly
                  CAST(CAST(rt::HUGEINT * ct::HUGEINT AS BIGINT)
                    AS DOUBLE) / nt::DOUBLE AS e
           FROM cells c JOIN rm USING (l_returnflag)
                JOIN cm USING (l_linestatus), nt),
         e2 AS (
           SELECT *, (o::DOUBLE - e) * (o::DOUBLE - e) / e AS contrib
           FROM ex),
         tot AS (
           SELECT list_reduce(list_prepend(0.0::DOUBLE,
                    list(contrib ORDER BY l_returnflag, l_linestatus)),
                    (a, b) -> a + b) AS chi2,
                  count(*) AS n_cells
           FROM e2)
         SELECT e2.l_returnflag, e2.l_linestatus, e2.o, e2.e,
                e2.contrib, tot.chi2, tot.n_cells
         FROM e2, tot ORDER BY 1, 2""",
    // All-integer rank sums off the bounded histogram (HUGEINT ↔
    // DECIMAL(38,0) — c³ passes 2⁶³ at sf1 tie groups); z is one
    // shared IEEE chain, and 2·U₁ stays integral under ties.
    "agg_mannwhitney" ->
      """WITH hist AS (
           SELECT CAST(l_quantity AS BIGINT) AS q,
                  CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0
                    END) AS HUGEINT) AS c1,
                  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
                    END) AS HUGEINT) AS c2
           FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
         h AS (SELECT *, c1 + c2 AS c FROM hist),
         cum AS (
           SELECT *, coalesce(sum(c) OVER (ORDER BY q
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0::HUGEINT) AS cb
           FROM h),
         a AS (
           SELECT CAST(sum(c1) AS HUGEINT) AS n1,
                  CAST(sum(c2) AS HUGEINT) AS n2,
                  CAST(sum(c1 * (2 * cb + c + 1)) AS HUGEINT) AS r2,
                  CAST(sum(c * c * c - c) AS HUGEINT) AS ties
           FROM cum)
         SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                CAST(r2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
                CAST(r2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
                  / (2.0 * sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0
                    * (CAST(n1 + n2 + 1 AS DOUBLE)
                      - CAST(ties AS DOUBLE)
                        / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE))))
                  AS z
         FROM a ORDER BY n1""",
    // Integer diffs, integer 14-row window sums over the bounded
    // hourly grid; RSI is one division of exact ints.
    "ts_rsi" ->
      s"""WITH hourly AS (
           SELECT event_type, ${duckTsUs("ts")} // 3600000000 AS hr,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2),
         d AS (
           SELECT event_type, hr, cnt,
                  cnt - lag(cnt) OVER (PARTITION BY event_type
                    ORDER BY hr) AS dv
           FROM hourly),
         f AS (SELECT * FROM d WHERE dv IS NOT NULL),
         w AS (
           SELECT event_type, hr, cnt,
                  CAST(sum(greatest(dv, 0)) OVER w14 AS BIGINT) AS gs,
                  CAST(sum(greatest(-dv, 0)) OVER w14 AS BIGINT) AS ls
           FROM f
           WINDOW w14 AS (PARTITION BY event_type ORDER BY hr
                          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT event_type, hr, cnt, gs, ls,
                100.0 * gs::DOUBLE / nullif(gs + ls, 0)::DOUBLE AS rsi
         FROM w ORDER BY event_type, hr""",
    // Integer running peak; one division per hour; the worst hour is
    // SELECTED on the (dd, hr) total order, never accumulated.
    "ts_drawdown" ->
      s"""WITH hourly AS (
           SELECT event_type, ${duckTsUs("ts")} // 3600000000 AS hr,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT event_type, hr, cnt,
                  max(cnt) OVER (PARTITION BY event_type ORDER BY hr
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS peak
           FROM hourly),
         ddt AS (SELECT *, cnt::DOUBLE / peak::DOUBLE AS dd FROM r),
         p AS (
           SELECT *, row_number() OVER (PARTITION BY event_type
             ORDER BY dd, hr) AS rn
           FROM ddt)
         SELECT event_type, hr AS worst_hr, cnt AS worst_cnt,
                peak AS peak_cnt, dd AS max_drawdown
         FROM p WHERE rn = 1 ORDER BY event_type""",
    // Same cells and sequential fold as agg_chisq; the normalization
    // is one more shared IEEE chain.
    "agg_cramersv" ->
      """WITH cells AS (
           SELECT l_returnflag, l_linestatus, count(*) AS o
           FROM lineitem GROUP BY 1, 2),
         rm AS (SELECT l_returnflag, CAST(sum(o) AS BIGINT) AS rt
                FROM cells GROUP BY 1),
         cm AS (SELECT l_linestatus, CAST(sum(o) AS BIGINT) AS ct
                FROM cells GROUP BY 1),
         nt AS (SELECT CAST(sum(o) AS BIGINT) AS nt FROM cells),
         e2 AS (
           -- rt*ct via BIGINT: int128->double is not correctly rounded
           -- in DuckDB; past 2^63 (~sf100) this raises loudly instead
           SELECT c.l_returnflag, c.l_linestatus, c.o,
                  (c.o::DOUBLE - CAST(CAST(rt::HUGEINT * ct::HUGEINT
                      AS BIGINT) AS DOUBLE) / nt::DOUBLE)
                  * (c.o::DOUBLE - CAST(CAST(rt::HUGEINT * ct::HUGEINT
                      AS BIGINT) AS DOUBLE) / nt::DOUBLE)
                  / (CAST(CAST(rt::HUGEINT * ct::HUGEINT AS BIGINT)
                      AS DOUBLE) / nt::DOUBLE)
                    AS contrib
           FROM cells c JOIN rm USING (l_returnflag)
                JOIN cm USING (l_linestatus), nt),
         a AS (
           SELECT CAST(sum(o) AS BIGINT) AS n,
                  CAST(count(DISTINCT l_returnflag) AS BIGINT) AS r,
                  CAST(count(DISTINCT l_linestatus) AS BIGINT) AS c,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    list(contrib ORDER BY l_returnflag, l_linestatus)),
                    (x, y) -> x + y) AS chi2
           FROM e2)
         SELECT n, (r - 1) * (c - 1) AS dof, chi2,
                sqrt(chi2 / (n::DOUBLE * (least(r, c) - 1)::DOUBLE))
                  AS cramers_v
         FROM a ORDER BY n""",
    // Concordant/discordant mass off the bounded 2-D histogram; the
    // doubled tie-corrected denominator keeps every integer integral.
    "agg_kendall" ->
      """WITH g AS (
           SELECT q, sz, CAST(count(*) AS HUGEINT) AS c FROM (
             SELECT CAST(l_quantity AS BIGINT) AS q,
                    CAST(p_size AS BIGINT) AS sz
             FROM lineitem JOIN part ON l_partkey = p_partkey)
           GROUP BY 1, 2),
         cd AS (
           SELECT CAST(sum(CASE WHEN a.sz < b.sz THEN a.c * b.c
                    ELSE 0::HUGEINT END) AS HUGEINT) AS cc,
                  CAST(sum(CASE WHEN a.sz > b.sz THEN a.c * b.c
                    ELSE 0::HUGEINT END) AS HUGEINT) AS dd
           FROM g a JOIN g b ON a.q < b.q),
         tq AS (SELECT CAST(sum(t * (t - 1)) AS HUGEINT) AS tq2 FROM (
                  SELECT CAST(sum(c) AS HUGEINT) AS t FROM g GROUP BY q)),
         ts AS (SELECT CAST(sum(t * (t - 1)) AS HUGEINT) AS ts2 FROM (
                  SELECT CAST(sum(c) AS HUGEINT) AS t FROM g GROUP BY sz)),
         nt AS (SELECT CAST(sum(c) AS HUGEINT) AS n FROM g)
         SELECT CAST(n AS BIGINT) AS n, CAST(cc AS BIGINT) AS concordant,
                CAST(dd AS BIGINT) AS discordant,
                -- each cast via BIGINT (the correctly-rounded int64
                -- path); past 2^63 (~sf500 pair mass) raises loudly
                2.0 * CAST(CAST(cc - dd AS BIGINT) AS DOUBLE)
                  / sqrt(CAST(CAST(n * (n - 1) - tq2 AS BIGINT)
                      AS DOUBLE)
                    * CAST(CAST(n * (n - 1) - ts2 AS BIGINT)
                      AS DOUBLE)) AS taub
         FROM cd, tq, ts, nt ORDER BY n""",
    // Centered doubled ranks off the marginal histograms; every final
    // cast goes through BIGINT — the correctly-rounded int64 path.
    "agg_spearman" ->
      """WITH g AS (
           SELECT q, sz, CAST(count(*) AS HUGEINT) AS c FROM (
             SELECT CAST(l_quantity AS BIGINT) AS q,
                    CAST(p_size AS BIGINT) AS sz
             FROM lineitem JOIN part ON l_partkey = p_partkey)
           GROUP BY 1, 2),
         rq AS (
           SELECT q, 2 * coalesce(sum(t) OVER (ORDER BY q
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0::HUGEINT) + t + 1 AS rq
           FROM (SELECT q, CAST(sum(c) AS HUGEINT) AS t FROM g
                 GROUP BY q)),
         rs AS (
           SELECT sz, 2 * coalesce(sum(t) OVER (ORDER BY sz
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0::HUGEINT) + t + 1 AS rs
           FROM (SELECT sz, CAST(sum(c) AS HUGEINT) AS t FROM g
                 GROUP BY sz)),
         nt AS (SELECT CAST(sum(c) AS HUGEINT) AS nn FROM g),
         cells AS (
           SELECT c, rq - nn - 1 AS dx, rs - nn - 1 AS dy
           FROM g JOIN rq USING (q) JOIN rs USING (sz), nt),
         a AS (
           SELECT CAST(sum(c) AS HUGEINT) AS n,
                  CAST(sum(c * dx * dy) AS HUGEINT) AS num,
                  CAST(sum(c * dx * dx) AS HUGEINT) AS m2x,
                  CAST(sum(c * dy * dy) AS HUGEINT) AS m2y
           FROM cells)
         SELECT CAST(n AS BIGINT) AS n,
                CAST(CAST(num AS VARCHAR) AS DOUBLE)
                  / sqrt(CAST(CAST(m2x AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(m2y AS VARCHAR) AS DOUBLE)) AS rho
         FROM a ORDER BY n""",
    // Same exact power sums, per-group single divisions, and the
    // flag-ordered sequential double fold as the engine.
    "agg_anova" ->
      """WITH g AS (
           SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS ni,
                  CAST(sum(x) AS HUGEINT) AS sx,
                  CAST(sum(x * x) AS HUGEINT) AS sx2
           FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x
                 FROM lineitem)
           GROUP BY 1),
         per AS (
           SELECT l_returnflag, ni, sx,
                  CAST(ni * sx2 - sx * sx AS BIGINT)::DOUBLE
                    / CAST(ni AS BIGINT)::DOUBLE AS ssw_i,
                  CAST(sx * sx AS BIGINT)::DOUBLE
                    / CAST(ni AS BIGINT)::DOUBLE AS t_i
           FROM g),
         a AS (
           SELECT CAST(sum(ni) AS HUGEINT) AS n,
                  CAST(count(*) AS BIGINT) AS k,
                  CAST(sum(sx) AS HUGEINT) AS sxt,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    list(ssw_i ORDER BY l_returnflag)),
                    (x, y) -> x + y) AS ssw,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    list(t_i ORDER BY l_returnflag)),
                    (x, y) -> x + y) AS tsum
           FROM per)
         SELECT CAST(n AS BIGINT) AS n, k, ssw,
                tsum - CAST(sxt * sxt AS BIGINT)::DOUBLE
                  / CAST(n AS BIGINT)::DOUBLE AS ssb,
                ((tsum - CAST(sxt * sxt AS BIGINT)::DOUBLE
                    / CAST(n AS BIGINT)::DOUBLE)
                  / CAST(k - 1 AS DOUBLE))
                  / (ssw / CAST(n - k AS BIGINT)::DOUBLE) AS f_stat
         FROM a ORDER BY n""",
    // Same 24-row integer power sums; numerator/denominator cast from
    // BIGINT; intercept continues the identical chain.
    "ts_regr" ->
      s"""WITH hourly AS (
           SELECT event_type, ${duckTsUs("ts")} // 3600000000 AS hr,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, hr, cnt,
                  CAST(count(*) OVER w24 AS BIGINT) AS n,
                  CAST(sum(hr) OVER w24 AS HUGEINT) AS sx,
                  CAST(sum(cnt) OVER w24 AS HUGEINT) AS sy,
                  CAST(sum(hr * hr) OVER w24 AS HUGEINT) AS sxx,
                  CAST(sum(hr * cnt) OVER w24 AS HUGEINT) AS sxy
           FROM hourly
           WINDOW w24 AS (PARTITION BY event_type ORDER BY hr
                          ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
         SELECT event_type, hr, cnt, n,
                CAST(n * sxy - sx * sy AS BIGINT)::DOUBLE
                  / nullif(CAST(n * sxx - sx * sx AS BIGINT),
                    0)::DOUBLE AS slope24,
                CAST(sy AS BIGINT)::DOUBLE / n::DOUBLE -
                  (CAST(n * sxy - sx * sy AS BIGINT)::DOUBLE
                    / nullif(CAST(n * sxx - sx * sx AS BIGINT),
                      0)::DOUBLE)
                  * (CAST(sx AS BIGINT)::DOUBLE / n::DOUBLE) AS icept24
         FROM w ORDER BY event_type, hr""",
    // All-integer cross-multiplied means; cross = golden != lag.
    "ts_crossover" ->
      s"""WITH hourly AS (
           SELECT event_type, ${duckTsUs("ts")} // 3600000000 AS hr,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, hr, cnt,
                  CAST(count(*) OVER w12 AS BIGINT) AS n12,
                  CAST(sum(cnt) OVER w12 AS BIGINT) AS s12,
                  CAST(count(*) OVER w24 AS BIGINT) AS n24,
                  CAST(sum(cnt) OVER w24 AS BIGINT) AS s24
           FROM hourly
           WINDOW w12 AS (PARTITION BY event_type ORDER BY hr
                          ROWS BETWEEN 11 PRECEDING AND CURRENT ROW),
                  w24 AS (PARTITION BY event_type ORDER BY hr
                          ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         g AS (
           SELECT event_type, hr, cnt, s12, s24,
                  s12 * n24 > s24 * n12 AS golden
           FROM w)
         SELECT event_type, hr, cnt, s12, s24, golden,
                golden != lag(golden) OVER (PARTITION BY event_type
                  ORDER BY hr) AS crossed
         FROM g ORDER BY event_type, hr""",
    // Exact first digit off the cents string; only the Benford
    // expectation touches libm, rounded to 6 on both sides.
    "agg_benford" ->
      """WITH d AS (
           SELECT CAST(substr(CAST(
                    (o_totalprice::DECIMAL(18,4) * 100)::BIGINT
                    AS VARCHAR), 1, 1) AS INTEGER) AS digit
           FROM orders),
         c AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM c)
         SELECT digit, n, n::DOUBLE / nt::DOUBLE AS share,
                round(log10(1.0 + 1.0 / digit::DOUBLE), 6) AS benford_p
         FROM c, t ORDER BY digit""",
  )
}
