package graft

import org.scalatest.funsuite.AnyFunSuite

class RelationalSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  test("bucketed join plans without a shuffle exchange") {
    // build the bucketed tables, then inspect the bare join's plan
    SparkEntry.queries("join_bucketed")(spark, sf).count()
    // ShuffleExchangeExec prints as bare "Exchange hashpartitioning";
    // matching the class simple name is vacuous (ADVICE r1).
    val plan = ops.Relational.bucketedJoinPlan(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"bucketed join should still be a non-broadcast join:\n$plan")
  }

  test("join_bucketed on two datasets from two threads matches sequential runs") {
    val other = SharedSpark.sfDir("0.01")
    assume(other.isDefined, "testdata sf0.01 absent on this machine")
    val dirs = Seq(sf, other.get)
    def rows(d: String): Seq[org.apache.spark.sql.Row] =
      SparkEntry.queries("join_bucketed")(spark, d).collect().toSeq
    val sequential = dirs.map(d => d -> rows(d)).toMap
    assert(sequential(dirs(0)) !== sequential(dirs(1)), "the two datasets must differ")
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(dirs.size)
    try {
      val runs = dirs.map { d =>
        d -> pool.submit(() => { start.await(); Seq.fill(3)(rows(d)) })
      }
      start.countDown()
      for ((d, f) <- runs; got <- f.get(10, java.util.concurrent.TimeUnit.MINUTES))
        assert(got === sequential(d), d)
    } finally pool.shutdownNow(): Unit
  }

  test("topk_group_agg is bit-identical to the window formulation") {
    val agg = SparkEntry.queries("topk_group_agg")(spark, sf)
      .collect().map(_.toSeq)
    val win = SparkEntry.queries("topk_group")(SharedSpark.withoutTopKRewrite, sf)
      .collect().map(_.toSeq)
    assert(agg.length === win.length)
    assert(agg === win)
  }

  test("topk_group_agg partial-aggregates map-side (k pairs per group per partition)") {
    val p = SparkEntry.queries("topk_group_agg")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(p.contains("partial_topk_pairs"), p)
  }

  test("TopKBuf fuzz: split-insert-merge equals sorted-take-k reference (nulls, NaN, ties)") {
    val rnd = new scala.util.Random(1234)
    // Spark's window order: score DESC NULLS LAST (NaN largest, -0.0
    // collapsed), then id ASC NULLS FIRST.
    def scoreKey(s: Option[Double]): (Int, Double) = s match {
      case None => (1, 0.0)
      case Some(v) if v.isNaN => (0, Double.NegativeInfinity) // NaN ranks first under DESC
      case Some(v) => (0, -(if (v == 0.0) 0.0 else v))
    }
    def idKey(i: Option[Long]): (Int, Long) = i match {
      case None => (0, 0L) // NULLS FIRST
      case Some(v) => (1, v)
    }
    for (_ <- 1 to 300) {
      val k = 1 + rnd.nextInt(6)
      val n = rnd.nextInt(40)
      // small domains force heavy ties; sprinkle nulls and NaN
      val rows = Seq.fill(n)((
        rnd.nextInt(8) match {
          case 0 => None
          case 1 => Some(Double.NaN)
          case 2 => Some(-0.0)
          case _ => Some(rnd.nextInt(4).toDouble)
        },
        if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(10).toLong)))
      // emitted values keep their ORIGINAL bits (incl. -0.0) — only the
      // comparison collapses the zero signs
      val expected = rows.sortBy { case (s, i) => (scoreKey(s), idKey(i)) }
        .take(k)
      // random partitioning into buffers, then pairwise merge
      val parts = rows.grouped(1 + rnd.nextInt(5)).map { chunk =>
        val b = new graft.expr.TopKBuf(k)
        chunk.foreach { case (s, i) =>
          b.insert(s.getOrElse(0.0), s.isEmpty, i.getOrElse(0L), i.isEmpty)
        }
        b
      }.toList
      val merged = parts.reduceOption { (a, b) =>
        var i = 0
        while (i < b.n) {
          a.insert(b.scores(i), (b.flags(i) & 1) != 0,
            b.ids(i), (b.flags(i) & 2) != 0)
          i += 1
        }
        a
      }.getOrElse(new graft.expr.TopKBuf(k))
      val got = (0 until merged.n).map { i =>
        (if ((merged.flags(i) & 1) != 0) None else Some(merged.scores(i)),
          if ((merged.flags(i) & 2) != 0) None else Some(merged.ids(i)))
      }
      // NaN != NaN under ==; compare on keys
      def show(s: Option[Double]) = s.map(v =>
        if (v.isNaN) "NaN" else v.toString).getOrElse("null")
      assert(got.map { case (s, i) => (show(s), i) } ===
        expected.map { case (s, i) => (show(s), i) }, s"k=$k rows=$rows")
    }
  }

  test("TopKAgg equals the window formulation on data WITH null scores") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map { j =>
      (j % 7L,
        if (rnd.nextInt(5) == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(rnd.nextInt(6).toDouble),
        j.toLong)
    }
    val df = spark.createDataFrame(rows).toDF("g", "score", "id")
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id"))
    val win = SharedSpark.withoutTopKRewrite.createDataFrame(rows).toDF("g", "score", "id")
      .select(col("g"), col("id"), col("score"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= 3)
      .orderBy("g", "rn")
      .collect().map(_.toSeq)
    val agg = df.groupBy("g")
      .agg(call_function("topk_pairs", col("score"), col("id"), lit(3)).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("g"), col("p.id").as("id"), col("p.score").as("score"),
        (col("pos") + 1).cast("int").as("rn"))
      .orderBy("g", "rn")
      .collect().map(_.toSeq)
    assert(agg === win)
  }

  test("TopKBuf keeps (score desc, id asc) under ties and overflow") {
    val b = new graft.expr.TopKBuf(3)
    Seq((5.0, 9L), (5.0, 2L), (7.0, 1L), (1.0, 0L), (5.0, 1L), (6.0, 4L))
      .foreach { case (s, i) => b.insert(s, i) }
    val got = (0 until b.n).map(i => (b.scores(i), b.ids(i)))
    assert(got === Seq((7.0, 1L), (6.0, 4L), (5.0, 1L)))
  }

  test("AsOfJoinExec equals an independent window formulation (incl. unmatched rows)") {
    import org.apache.spark.sql.functions._
    val native = SparkEntry.queries("join_asof_native")(spark, sf)
      .collect().map(_.toSeq)
    val ev = Tables.events(spark, sf)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("u"),
        col("ts_us").as("p_us"))
    val v = ev.where(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("u"),
        col("ts_us").as("v_us"))
    // independent formulation: left range join + keep max (v_us, v_id);
    // the time bound lives IN the join condition so purchases whose
    // views are all later still surface (with nulls)
    val expected = p.join(v.withColumnRenamed("u", "u2"),
        col("u") === col("u2") && col("v_us") <= col("p_us"), "left")
      .groupBy("p_id", "p_us")
      .agg(max(struct(col("v_us"), col("v_id"))).as("m"))
      .select(col("p_id"), col("p_us"),
        col("m.v_id").as("last_view_id"), col("m.v_us").as("last_view_us"))
      .orderBy("p_id")
      .collect().map(_.toSeq)
    assert(native.length === expected.length)
    assert(native === expected)
  }

  test("as-of join resolves equal-time ties to the max tie-break id") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    // user 1: two views at the SAME time, purchase after; user 2: none
    val p = Seq((100L, 1L, 50L), (200L, 2L, 50L))
      .toDF("p_id", "p_user", "p_us")
    val v = Seq((10L, 1L, 40L), (11L, 1L, 40L), (9L, 1L, 30L))
      .toDF("v_id", "v_user", "v_us")
    val lp = p.queryExecution.analyzed
    val rp = v.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) = plan.output.find(_.name == name).get
      .asInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference]
    val out = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      graft.plans.AsOfJoin(lp, rp,
        attr(lp, "p_user"), attr(lp, "p_us"),
        attr(rp, "v_user"), attr(rp, "v_us"), attr(rp, "v_id")))
      .orderBy("p_id").collect()
    assert(out.length === 2)
    assert(out(0).getLong(3) === 11L, "equal-time tie must pick max v_id")
    assert(out(1).isNullAt(3), "user 2 has no views -> null match")
  }

  test("as-of native plan: custom exec with co-partitioned sorted children") {
    val plan = SparkEntry.queries("join_asof_native")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("AsOfJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"the custom exec, not a builtin join, must do the work:\n$plan")
  }

  test("salted skew join equals the unsalted join") {
    val salted = SparkEntry.queries("join_skew_salted")(spark, sf).collect()
    val plain = {
      import org.apache.spark.sql.functions._
      val o = Tables.t(spark, sf, "orders")
        .select(pmod(col("o_custkey"), lit(10)).as("hot_key"),
          col("o_totalprice"))
      val n = Tables.t(spark, sf, "nation").where(col("n_nationkey") < 10)
      o.join(n, o("hot_key") === n("n_nationkey"))
        .groupBy("hot_key", "n_name")
        .agg(count(lit(1)).as("n"),
          Tables.dsum2(col("o_totalprice")).as("total"))
        .orderBy("hot_key")
        .collect()
    }
    assert(salted.toSeq === plain.toSeq)
  }

  test("observe metrics match a direct aggregation") {
    val obs = SparkEntry.queries("obs_accounting")(spark, sf).collect().head
    val li = Tables.t(spark, sf, "lineitem")
    assert(obs.getLong(0) === li.count())
  }

  test("win_frame final running total equals the group sum") {
    import org.apache.spark.sql.functions._
    val frame = SparkEntry.queries("win_frame")(spark, sf)
    val lastPerCust = frame.groupBy("o_custkey")
      .agg(max(struct(col("od_s"), col("o_orderkey"), col("running_total")))
        .as("last"))
      .select(col("o_custkey"), col("last.running_total").as("rt"))
    val direct = Tables.t(spark, sf, "orders")
      .groupBy("o_custkey")
      .agg(round(sum(Tables.dec(col("o_totalprice"))), 2).cast("double").as("total"))
    val joined = lastPerCust.join(direct, "o_custkey")
      .where(col("rt") =!= col("total"))
    assert(joined.count() === 0)
  }

  test("topk_group rows are a subset of each customer's orders") {
    import org.apache.spark.sql.functions._
    val topk = SparkEntry.queries("topk_group")(spark, sf)
    val bad = topk.join(Tables.t(spark, sf, "orders"),
      Seq("o_custkey", "o_orderkey", "o_totalprice"), "left_anti")
    assert(bad.count() === 0)
    assert(topk.groupBy("o_custkey").count().agg(max("count")).head.getLong(0) <= 3)
  }

  test("LSH ANN results exist in the brute-force corpus with same cosines") {
    val ann = SparkEntry.queries("sim_ann_lsh")(spark, sf)
      .select("qid", "vec_id", "cosine")
    val brute = SparkEntry.queries("sim_cosine_topk")(spark, sf)
      .select("qid", "vec_id", "cosine")
    // every ANN hit that brute-force also ranked must carry the same score
    val joined = ann.join(brute, Seq("qid", "vec_id"))
    import org.apache.spark.sql.functions.{abs => fabs, col}
    val mismatched = joined
      .where(fabs(ann("cosine") - brute("cosine")) > 1e-9)
    assert(mismatched.count() === 0)
  }

  test("session window MERGES at exactly the gap duration, splits past it") {
    // Pins the boundary the oracles encode: Spark merges sessions that
    // are exactly adjacent (merge condition start <= previous end), so
    // an event precisely `gap` after its predecessor joins the SAME
    // session and the gaps-and-islands oracle must use a strict `>`.
    // (ADVICE r1 suggested `>=`; this experiment shows otherwise.)
    import org.apache.spark.sql.functions._
    val df = spark.createDataFrame(Seq(
      (1L, 0L), (1L, 1800L * 1000000L), (2L, 0L), (2L, 1801L * 1000000L)))
      .toDF("user_id", "ts_us")
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
    val sess = df.groupBy(session_window(col("ts_t"), "30 minutes"),
      col("user_id")).count().collect()
    assert(sess.count(_.getLong(1) == 1L) === 1,
      "user 1's exact-gap events must merge into one session")
    assert(sess.count(_.getLong(1) == 2L) === 2,
      "user 2's past-gap events must split into two sessions")
  }

  test("dedup plans: map-side combine on exact, no cartesian anywhere") {
    val exact = SparkEntry.queries("dedup_exact")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(exact.contains("partial_min") || exact.contains("partial_count"),
      s"dedup_exact must partial-aggregate map-side:\n$exact")
    for (q <- Seq("dedup_embed", "dedup_ngram", "sim_ann_lsh")) {
      val p = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString()
      assert(!p.contains("CartesianProduct"), s"$q must not plan a cartesian:\n$p")
    }
  }

  test("quarantine splits good from corrupt without failing the job") {
    val rows = SparkEntry.queries("ingest_quarantine")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq === Seq(("ok", 3L, 70L), ("quarantined", 2L, 30L)))
  }

  test("agg_histogram: buckets clamped to [0,19] and counts conserve rows") {
    val rows = SparkEntry.queries("agg_histogram")(spark, sf).collect()
    val buckets = rows.map(_.getLong(0))
    assert(buckets.forall(b => b >= 0L && b <= 19L), buckets.toSeq)
    assert(buckets.distinct.length === buckets.length)
    val total = rows.map(_.getLong(1)).sum
    assert(total === Tables.t(spark, sf, "lineitem").count())
  }

  test("join_nullsafe keeps the NULL group a plain equi join drops") {
    val nullsafe = SparkEntry.queries("join_nullsafe")(spark, sf).collect()
    val grps = nullsafe.map(_.getString(0))
    assert(grps.contains("P(nulled)"), grps.toSeq)
    // The nulled group matched across BOTH years (not a dangling outer
    // row): its counts are nonzero on each side.
    val p = nullsafe.find(_.getString(0) == "P(nulled)").get
    assert(p.getLong(1) > 0L && p.getLong(2) > 0L, p.toString)
  }

  // -------- scale-safe-plan audits: the registered sketch/window plans
  // must be row-identical to their exact (but non-scalable) twins at
  // test SF. The exact twins are deliberately NOT registered queries.

  test("join_asof window plan equals the naive join-then-aggregate audit") {
    val win = SparkEntry.queries("join_asof")(spark, sf).collect().map(_.toSeq)
    val naive = ops.Relational.joinAsofNaive(spark, sf).collect().map(_.toSeq)
    assert(win.length === naive.length)
    assert(win === naive)
  }

  test("ts_anomaly GK-sketch plan equals the exact window-median audit") {
    val sketch = SparkEntry.queries("ts_anomaly")(spark, sf)
      .collect().map(_.toSeq)
    val exact = ops.Relational.tsAnomalyExact(spark, sf)
      .collect().map(_.toSeq)
    assert(sketch.length === exact.length)
    assert(sketch === exact)
  }

  test("agg_percentile sketch answers the exact discrete rank ceil(q*n)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val got = SparkEntry.queries("agg_percentile")(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4)))
    val li = Tables.t(spark, sf, "lineitem")
    val w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    val wAll = Window.partitionBy("l_returnflag")
    val ranked = li.select(col("l_returnflag"), col("l_quantity"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
    def disc(q: Double) = ranked
      .where(col("rn") === ceil(lit(q) * col("n")).cast("int"))
      .select(col("l_returnflag"), col("l_quantity"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val (p25, p50, p90) = (disc(0.25), disc(0.5), disc(0.9))
    got.foreach { case (flag, g25, g50, g90, _) =>
      assert(g25 === p25(flag), s"p25($flag)")
      assert(g50 === p50(flag), s"p50($flag)")
      assert(g90 === p90(flag), s"p90($flag)")
    }
  }

  test("ts_interp: interpolated slots are collinear with their observed neighbors") {
    val rows = SparkEntry.queries("ts_interp")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    assert(rows.exists(_._4 == "interp"), "grid must contain gaps to fill")
    rows.groupBy(_._1).foreach { case (_, series) =>
      val sorted = series.sortBy(_._2)
      val obs = sorted.filter(_._4 == "obs").map(r => r._2 -> r._5)
      sorted.filter(_._4 == "interp").foreach { case (_, t, n, _, v) =>
        assert(n === 0L, "an interp slot must have no observations")
        val (t0, v0) = obs.filter(_._1 < t).maxBy(_._1)
        val (t1, v1) = obs.filter(_._1 > t).minBy(_._1)
        val want = v0 + (v1 - v0) * (t - t0) / (t1 - t0)
        assert(math.abs(v - want) < 1e-9, s"slot $t: $v vs line $want")
      }
      // edge slots carry the nearest observed value
      sorted.filter(_._4 == "edge").foreach { case (_, t, _, _, v) =>
        val nearest =
          if (t < obs.head._1) obs.head._2 else obs.last._2
        assert(v === nearest, s"edge slot $t")
      }
    }
  }

  test("ts_ewma: convex smoother, m=1 identity, K-halo chunk rewrite agrees") {
    val rows = SparkEntry.queries("ts_ewma")(spark, sf)
      .select("event_id", "event_type", "value", "m", "ewma").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    // first row of each series smooths to itself
    rows.filter(_._4 == 1L).foreach { case (id, _, v, _, e) =>
      assert(math.abs(e - v) < 1e-6, s"event $id: m=1 must give ewma=value")
    }
    // independent sequential recompute per series + the halo claim:
    // recomputing any row from only its last-64 slice must agree —
    // which is exactly why a 100 TB series can be chunked with a
    // 63-row halo and smoothed embarrassingly parallel.
    val series = Tables.events(spark, sf)
      .select("event_type", "ts_us", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(t => (t._2, t._3)).map(t => (t._3, t._4)).toArray)
      .toMap
    val weights = Array.iterate(1.0d, 64)(_ * 0.875d)
    val byId = rows.map(r => r._1 -> r._5).toMap
    series.foreach { case (_, evs) =>
      // spot-check a spread of positions including deep-history ones
      val picks = Seq(0, 1, 63, 64, evs.length / 2, evs.length - 1)
        .filter(i => i >= 0 && i < evs.length).distinct
      picks.foreach { i =>
        val hist = evs.slice(math.max(0, i - 63), i + 1).map(_._2).reverse
        val num = hist.zip(weights).map { case (x, w) => x * w }.sum
        val den = weights.take(hist.length).sum
        val want = BigDecimal(num / den)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(byId(evs(i)._1) - want) < 2e-6,
          s"event ${evs(i)._1}: halo recompute ${want} vs ${byId(evs(i)._1)}")
      }
    }
  }

  /** Independent slot-count series per event_type over the SAME 10-min
    * grid the ts_acf/ts_changepoint operators use, rebuilt from raw
    * events driver-side (shared by the two specs below). */
  private def slotSeries(): Map[String, Array[Long]] = {
    val ev = Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.expr("ts_us div 600000000").as("slot"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val lo = ev.map(_._2).min
    val hi = ev.map(_._2).max
    ev.groupBy(_._1).map { case (et, rows) =>
      val cnt = rows.groupBy(_._2).map { case (s, g) => s -> g.length.toLong }
      et -> (lo to hi).map(s => cnt.getOrElse(s, 0L)).toArray
    }
  }

  test("ts_acf: matches a driver-side Pearson recompute; |r| <= 1") {
    val series = slotSeries()
    val rows = SparkEntry.queries("ts_acf")(spark, sf)
      .select("event_type", "lag", "acf").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
    assert(rows.length === series.size * 3)
    rows.foreach { case (et, k, r) =>
      assert(r.isNaN || (r >= -1.0 && r <= 1.0), s"$et lag $k: r=$r")
      val x = series(et)
      val n = x.length - k.toInt
      val h = x.take(n).map(BigInt(_)); val t = x.drop(k.toInt).map(BigInt(_))
      val num = BigInt(n) * h.zip(t).map { case (a, b) => a * b }.sum -
        h.sum * t.sum
      val a = BigInt(n) * h.map(v => v * v).sum - h.sum * h.sum
      val b = BigInt(n) * t.map(v => v * v).sum - t.sum * t.sum
      if (a > 0 && b > 0) {
        val want = num.toDouble / math.sqrt(a.toDouble * b.toDouble)
        assert(math.abs(r - want) < 1e-12, s"$et lag $k: $r vs $want")
      } else assert(r.isNaN, s"$et lag $k: constant series must yield null")
    }
  }

  test("ts_dtw: matches a driver-side DTW recompute over all users") {
    val got = SparkEntry.queries("ts_dtw")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val tpl = ops.Relational.dtwTemplate.toArray
    val inf = 1000000000000000L
    val profiles = Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.expr(
          "(ts_us div 600000000) % 16").as("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt))
      .groupBy(_._1).map { case (u, ks) =>
        val a = Array.fill(16)(0L)
        ks.foreach { case (_, k) => a(k) += 1L }
        u -> a
      }
    def dtw(a: Array[Long]): Long = {
      var prev = 0L +: Array.fill(16)(inf)
      for (i <- 1 to 16) {
        val cur = Array.fill(17)(inf)
        for (j <- 1 to 16)
          cur(j) = math.abs(a(i - 1) - tpl(j - 1)) +
            math.min(math.min(prev(j - 1), prev(j)), cur(j - 1))
        prev = cur
      }
      prev(16)
    }
    val expect = profiles.toSeq.map { case (u, a) => (dtw(a), u) }
      .sorted.take(20).map { case (dv, u) => (u, dv) }
    assert(got.toSeq === expect)
    // non-vacuous: distances must spread (a constant column would mean
    // the DP degenerated) and every distance is non-negative
    assert(got.map(_._2).distinct.length > 1)
    assert(got.forall(_._2 >= 0L))
  }

  test("ts_dtw: native dtw_dist equals the nested-HOF formulation on every user") {
    import org.apache.spark.sql.functions._
    val tplSql = ops.Relational.dtwTemplate.map(v => s"${v}L")
      .mkString("array(", ", ", ")")
    val ser = Tables.events(spark, sf)
      .select(col("user_id"), expr("(ts_us div 600000000) % 16").as("k"))
      .groupBy("user_id")
      .agg(array((0 until 16).map(x =>
        sum(when(col("k") === x, 1L).otherwise(0L))): _*).as("a"))
    val both = ser.select(
      call_function("dtw_dist", col("a"), expr(tplSql)).as("nat"),
      expr(ops.Relational.dtwHofExpr).as("hof"))
    assert(both.where(col("nat") =!= col("hof")).count() === 0L)
    assert(both.count() > 0L)
  }

  test("ts_changepoint: reported |S| is the series max; total CUSUM is zero") {
    val series = slotSeries()
    val rows = SparkEntry.queries("ts_changepoint")(spark, sf)
      .select("event_type", "cp_slot_s", "s_cusum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === series.size)
    rows.foreach { case (et, cpS, sAt) =>
      val x = series(et)
      val n = x.length.toLong
      val tot = x.sum
      val cusum = x.scanLeft(0L)((acc, v) => acc + (n * v - tot)).drop(1)
      // telescoping: the final cumulative deviation is exactly zero
      assert(cusum.last === 0L, s"$et: S_n=${cusum.last}")
      val maxAbs = cusum.map(math.abs).max
      assert(math.abs(sAt) === maxAbs, s"$et: |S|=$sAt vs max $maxAbs")
      // the reported slot is the EARLIEST argmax (tie discipline)
      val firstIdx = cusum.indexWhere(v => math.abs(v) == maxAbs)
      val lo = Tables.events(spark, sf)
        .select(org.apache.spark.sql.functions.expr(
          "min(ts_us div 600000000)")).collect()(0).getLong(0)
      assert(cpS === (lo + firstIdx) * 600, s"$et: slot $cpS")
    }
  }

  test("ts_seasonal: phases tile the grid, sums roll up, 3 peaks per type") {
    val series = slotSeries()
    val rows = SparkEntry.queries("ts_seasonal")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getBoolean(6)))
    assert(rows.length === series.size * 144)
    val lo = Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.expr(
        "min(ts_us div 600000000)")).collect()(0).getLong(0)
    series.foreach { case (et, x) =>
      val mine = rows.filter(_._1 == et)
      // phase sums roll up to the series total; slot counts to the grid
      assert(mine.map(_._4).sum === x.sum, s"$et: total")
      assert(mine.map(_._3).sum === x.length.toLong, s"$et: grid size")
      // recompute one phase's sum from the raw series
      val phase0 = mine.find(_._2 === 0L).get
      val want = x.indices.filter(i => (lo + i) % 144 == 0)
        .map(x(_)).sum
      assert(phase0._4 === want, s"$et: phase-0 sum")
      // exactly 3 peaks; every peak sum >= every non-peak sum
      val (peaks, rest) = mine.partition(_._7)
      assert(peaks.length === 3, s"$et: ${peaks.length} peaks")
      assert(peaks.map(_._4).min >= rest.map(_._4).max, s"$et: peak order")
      // the mean column is exactly the one IEEE division
      mine.foreach { p =>
        assert(p._5 === p._4.toDouble / p._3.toDouble, s"$et: mean")
      }
    }
  }

  test("ts_ohlc: candle invariants hold and a driver recompute agrees") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("ts_ohlc")(spark, sf).collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("ts_us"), col("event_id"),
        (Tables.dec(col("value")) * 100).cast("long").as("cents"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.values.map(_._1).sum === ev.length.toLong, "volume totals")
    got.foreach { case (k, (_, o, h, l, c)) =>
      assert(l <= o && o <= h && l <= c && c <= h, s"$k: bounds")
    }
    // full recompute of open/close per candle
    val byCandle = ev.groupBy(t => (t._1, t._2 / 3600000000L))
    byCandle.foreach { case (k, rows) =>
      val sorted = rows.sortBy(t => (t._2, t._3))
      val (_, o, h, l, c) = got(k)
      assert(o === sorted.head._4 && c === sorted.last._4, s"$k: open/close")
      assert(h === rows.map(_._4).max && l === rows.map(_._4).min)
    }
  }

  test("win_islands: longest streaks match a driver-side run-length scan") {
    val got = SparkEntry.queries("win_islands")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val ev = Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("ts_us"),
        org.apache.spark.sql.functions.col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val expected = ev.groupBy(_._1).map { case (uid, rows) =>
      val seq0 = rows.sortBy(_._2)
      // run-length encode, keep (type, len, start)
      val runs = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      seq0.foreach { case (_, ts, et) =>
        if (runs.nonEmpty && runs.last._1 == et)
          runs(runs.length - 1) = (et, runs.last._2 + 1, runs.last._3)
        else runs += ((et, 1L, ts))
      }
      val best = runs.minBy(r => (-r._2, r._3))
      (uid, best._1, best._2, best._3)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq === expected)
    assert(got.exists(_._3 >= 3), "data contains a nontrivial streak")
  }

  test("join_asof_tolerance: matched gaps <= 1h and agree with join_asof") {
    val tol = SparkEntry.queries("join_asof_tolerance")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2)))).toMap
    val asof = SparkEntry.queries("join_asof")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val pUs = Tables.events(spark, sf)
      .where(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .select("event_id", "ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(tol.keySet === asof.keySet)
    tol.foreach { case (pid, (vUs, matched)) =>
      val lastView = asof(pid) // -1 when no prior view
      if (matched) {
        assert(vUs === lastView, s"$pid: must be join_asof's partner")
        assert(pUs(pid) - vUs <= 3600000000L, s"$pid: gap over tolerance")
      } else {
        assert(vUs === -1L, s"$pid: unmatched must carry null")
        assert(lastView === -1L || pUs(pid) - lastView > 3600000000L,
          s"$pid: a within-tolerance view was dropped")
      }
    }
    // the tolerance is binding: some purchases match, some don't
    assert(tol.values.exists(_._2) && tol.values.exists(!_._2))
  }

  test("seq_pattern: paths and run counts match a driver-side rebuild") {
    val got = SparkEntry.queries("seq_pattern")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val ev = Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("ts_us"),
        org.apache.spark.sql.functions.col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val expected = ev.groupBy(_._1).map { case (uid, rows) =>
      val path = rows.sortBy(_._2).map(_._3.head).mkString
      val runs = "sv+c+p".r.findAllIn(path).length.toLong
      (uid, rows.length.toLong, runs, runs > 0)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq === expected)
    // the pattern is non-trivially selective: some convert, some don't
    assert(got.exists(_._4) && got.exists(!_._4))
  }

  test("agg_ttest: matches a BigInt driver-side Welch recompute") {
    val rows = SparkEntry.queries("agg_ttest")(spark, sf).collect()
    assert(rows.length === 5)
    val raw = Tables.t(spark, sf, "orders")
      .select(org.apache.spark.sql.functions.col("o_orderpriority"),
        org.apache.spark.sql.functions.col("o_orderkey"),
        org.apache.spark.sql.functions.col("o_totalprice")).collect()
      .map { r =>
        val key = r.getLong(1)
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(key.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(4)
        val arm = java.lang.Long.parseLong(md5, 16) % 2
        (r.getString(0), arm, math.floor(r.getDouble(2) / 1000.0).toLong)
      }
    rows.foreach { r =>
      val grp = r.getString(0)
      val mine = raw.filter(_._1 == grp)
      def sums(a: Long) = {
        val ys = mine.filter(_._2 == a).map(_._3)
        (ys.length.toLong, ys.sum, ys.map(y => y * y).sum)
      }
      val (na, sa, ssa) = sums(0); val (nb, sb, ssb) = sums(1)
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((na, sa, ssa)))
      assert((r.getLong(4), r.getLong(5), r.getLong(6)) === ((nb, sb, ssb)))
      // arms are near-balanced (hash assignment, not a constant split)
      assert(na > 0 && nb > 0 && math.abs(na - nb) < (na + nb) / 2)
      val va = (BigInt(na) * ssa - BigInt(sa) * sa).toDouble / (na * (na - 1)).toDouble
      val vb = (BigInt(nb) * ssb - BigInt(sb) * sb).toDouble / (nb * (nb - 1)).toDouble
      val se2 = va / na + vb / nb
      val tGot = r.getDouble(9)
      val tWant = (sa.toDouble / na - sb.toDouble / nb) / math.sqrt(se2)
      assert(math.abs(tGot - tWant) < 1e-12, s"$grp: t $tGot vs $tWant")
      // null split: arms differ only by hash → |t| small at this n
      assert(math.abs(tGot) < 5.0, s"$grp: implausible t for a null split")
      val dfw = r.getDouble(10)
      assert(dfw > 0 && dfw <= (na + nb - 2).toDouble + 1e-9,
        s"$grp: Welch df $dfw out of range")
    }
  }

  test("ts_forecast matches a BigInt closed-form driver recompute") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("ts_forecast")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("ts_us DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("y")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = daily.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (et, rows) =>
        val d0 = rows.map(_._2).min
        val xs = rows.map(r => (BigInt(r._2 - d0), BigInt(r._3)))
        val n = BigInt(xs.length)
        val sx = xs.map(_._1).sum; val sy = xs.map(_._2).sum
        val sxx = xs.map(p => p._1 * p._1).sum
        val sxy = xs.map(p => p._1 * p._2).sum
        val den = n * sxx - sx * sx
        val bnum = n * sxy - sx * sy
        val anum = sy * sxx - sx * sxy
        val xmax = xs.map(_._1).max
        def fc(h: Int) =
          (anum + bnum * (xmax + h)).toDouble / den.toDouble
        (et, xs.length.toLong, d0, xmax.toLong,
          bnum.toDouble / den.toDouble, fc(1), fc(2), fc(3))
    }
    assert(got.toSeq === expect, "bitwise single-division law")
    // forecast linearity: steps advance by ~slope (ulp tolerance only)
    got.foreach { case (et, _, _, _, slope, f1, f2, f3) =>
      assert(math.abs((f2 - f1) - slope) < 1e-9, s"$et fc step 1→2")
      assert(math.abs((f3 - f2) - slope) < 1e-9, s"$et fc step 2→3")
    }
  }

  test("obs_lineage edges point at real columns and are SF-invariant") {
    val rows = SparkEntry.queries("obs_lineage")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // every non-literal edge names an existing column of the named table
    rows.filter(_._2 != "(literal)").foreach { case (out, tb, c) =>
      val schema = Tables.t(spark, sf, tb).schema.fieldNames.toSet
      assert(schema(c), s"$out → $tb.$c: no such column")
    }
    // the derived-column chain resolves through the Alias: sum_rev must
    // trace to exactly the two price inputs of `revenue`
    assert(rows.filter(_._1 == "sum_rev").map(t => s"${t._2}.${t._3}")
      .toSet === Set("lineitem.l_extendedprice", "lineitem.l_discount"))
    // literal-only aggregates are visibly lineage-free
    assert(rows.filter(_._1 == "n_items").map(_._2).toSeq === Seq("(literal)"))
    // plan metadata cannot depend on the data: identical at another SF
    val other = SharedSpark.sfDir("0.001")
      .map(d => SparkEntry.queries("obs_lineage")(spark, d).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))))
    other.foreach(o => assert(o.toSeq === rows.toSeq))
  }

  test("obs_lineage_gen traces through Generate and Window nodes") {
    val rows = SparkEntry.queries("obs_lineage_gen")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // the exploded token is NOT an Alias — the Generate case must
    // resolve it to the generator's input column
    assert(rows.filter(_._1 == "tok").map(t => s"${t._2}.${t._3}")
      .toSet === Set("documents.text"))
    // a window-derived rank depends on the partition AND order keys
    assert(rows.filter(_._1 == "best_rank").map(t => s"${t._2}.${t._3}")
      .toSet === Set("documents.lang", "documents.n_chars",
        "documents.doc_id"))
    // count(1) through the same pipeline stays visibly lineage-free
    assert(rows.filter(_._1 == "n_uses").map(_._2).toSeq === Seq("(literal)"))
    // still pure plan metadata: identical at another SF
    SharedSpark.sfDir("0.001")
      .map(d => SparkEntry.queries("obs_lineage_gen")(spark, d).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))))
      .foreach(o => assert(o.toSeq === rows.toSeq))
  }

  test("obs_lineage_union unions branch sources and reports why-provenance") {
    val rows = SparkEntry.queries("obs_lineage_union")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3)))
    // a column surviving the Union must cite BOTH branches' tables
    assert(rows.filter(_._1 == "tot_bal").map(t => s"${t._2}.${t._3}")
      .toSet === Set("customer.c_acctbal", "supplier.s_acctbal"))
    // why-provenance: both branches' join keys + the nation key + the
    // pre-join region filter, once, under the "(rows)" pseudo-column
    assert(rows.filter(_._1 == "(rows)").map(t => s"${t._2}.${t._3}")
      .toSet === Set("customer.c_nationkey", "supplier.s_nationkey",
        "nation.n_nationkey", "nation.n_regionkey"))
    assert(rows.filter(_._1 == "(rows)").forall(_._4 == "presence"))
    assert(rows.filter(_._1 != "(rows)").forall(_._4 == "data"))
    // still pure plan metadata: identical at another SF
    SharedSpark.sfDir("0.001")
      .map(d => SparkEntry.queries("obs_lineage_union")(spark, d).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3))))
      .foreach(o => assert(o.toSeq === rows.toSeq))
  }

  test("agg_moments matches a BigInt central-moment driver recompute") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("agg_moments")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val rows = Tables.t(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val exp = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, xs) =>
      val q = xs.map(x => BigInt(x._2))
      val n = q.size.toLong
      val s1 = q.sum.toDouble
      val s2 = q.map(x => x * x).sum.toDouble
      val s3 = q.map(x => x * x * x).sum.toDouble
      val s4 = q.map(x => x * x * x * x).sum.toDouble
      val nd = n.toDouble
      val m2num = nd * s2 - s1 * s1
      val sknum = nd * nd * s3 - 3.0 * nd * s1 * s2 + 2.0 * s1 * s1 * s1
      val kunum = nd * nd * nd * s4 - 4.0 * nd * nd * s1 * s3 +
        6.0 * nd * s1 * s1 * s2 - 3.0 * s1 * s1 * s1 * s1
      (f, n, s1 / nd, m2num / nd / nd,
        sknum / (m2num * math.sqrt(m2num)), kunum / (m2num * m2num))
    }
    assert(got.toSeq === exp,
      "exact integer power sums + fixed IEEE chain must match bitwise")
    assert(got.nonEmpty)
  }

  test("agg_ks matches a driver grid-ECDF recompute") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("agg_ks")(spark, sf).collect()(0)
    val rows = Tables.t(spark, sf, "orders")
      .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("o_orderpriority"), col("o_totalprice"))
      .collect()
      .map(r => (r.getString(0), math.floor(r.getDouble(1) / 500.0).toLong))
    val buckets = rows.map(_._2).distinct.sorted
    val by = rows.groupBy(identity).view.mapValues(_.length.toLong).toMap
    var c1 = 0L; var c2 = 0L
    val n1 = rows.count(_._1 == "1-URGENT").toLong
    val n2 = rows.count(_._1 == "5-LOW").toLong
    var best = (-1L, Long.MaxValue) // (d_num, bucket)
    buckets.foreach { b =>
      c1 += by.getOrElse(("1-URGENT", b), 0L)
      c2 += by.getOrElse(("5-LOW", b), 0L)
      val d = math.abs(c1 * n2 - c2 * n1)
      if (d > best._1 || (d == best._1 && b < best._2)) best = (d, b)
    }
    assert((got.getLong(0), got.getLong(1)) === ((n1, n2)))
    assert(got.getLong(2) === best._2, "arg bucket")
    assert(got.getLong(3) === best._1, "integer sup")
    assert(got.getDouble(4) === best._1.toDouble / n1 / n2)
    assert(best._1 > 0L, "the two priority groups must actually differ")
  }

  test("seq_markov matches a driver transition-count recompute and rows sum to 1") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("seq_markov")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val pairs = ev.groupBy(_._1).values.flatMap { xs =>
      val path = xs.sortBy(x => (x._2, x._3)).map(_._4)
      path.zip(path.drop(1))
    }.toSeq
    val cnt = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tot = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val exp = cnt.toSeq.sortBy(_._1).map { case ((a, b), n) =>
      (a, b, n, tot(a), n.toDouble / tot(a).toDouble)
    }
    assert(got.toSeq === exp)
    // each prev row-distribution sums to exactly its own mass
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sum === rows.head._4)
    }
  }

  test("agg_gini matches a BigInt rank-sum recompute and sits in [0,1)") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("agg_gini")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val rows = Tables.t(spark, sf, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        (Tables.dec(col("o_totalprice")) * 100).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exp = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, xs) =>
      val sorted = xs.sortBy(x => (x._3, x._2)).map(x => BigInt(x._3))
      val n = BigInt(sorted.length)
      val sx = sorted.sum
      val six = sorted.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum
      val gini = (BigDecimal(2 * six - (n + 1) * sx) /
        BigDecimal(n * sx)).toDouble
      (p, n.toLong, sx.toLong, gini)
    }
    // gini compares within 1 ulp-ish tolerance: the engine divides two
    // exact-integer-valued doubles; the BigDecimal reference divides
    // exactly then rounds — equal when the numerators are < 2^53
    got.zip(exp).foreach { case (g, e) =>
      assert((g._1, g._2, g._3) === ((e._1, e._2, e._3)))
      assert(math.abs(g._4 - e._4) < 1e-12, s"${g._1}: ${g._4} vs ${e._4}")
      assert(g._4 >= 0.0 && g._4 < 1.0)
    }
    assert(got.length === 5)
  }

  test("win_lorenz: decile recompute + Lorenz-curve laws") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("win_lorenz")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    val rows = Tables.t(spark, sf, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        (Tables.dec(col("o_totalprice")) * 100).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exp = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (p, xs) =>
      val sorted = xs.sortBy(x => (x._3, x._2))
      val n = sorted.length
      // standard ntile: remainder spread over the FIRST buckets
      val base = n / 10; val rem = n % 10
      val sizes = (1 to 10).map(i => base + (if (i <= rem) 1 else 0))
      val cuts = sizes.scanLeft(0)(_ + _)
      val total = sorted.map(x => BigInt(x._3)).sum
      var cum = BigInt(0)
      (1 to 10).map { i =>
        val slice = sorted.slice(cuts(i - 1), cuts(i))
        val dc = slice.map(x => BigInt(x._3)).sum
        cum += dc
        (p, i.toLong, slice.length.toLong, dc.toLong,
          dc.toLong.toDouble / total.toLong.toDouble,
          cum.toLong.toDouble / total.toLong.toDouble)
      }
    }
    assert(got.toSeq === exp)
    // Lorenz laws: per group, shares ascend with decile (sorted
    // ascending), cum_share is monotone and ends at exactly 1.0
    got.groupBy(_._1).values.foreach { g =>
      val byDecile = g.sortBy(_._2)
      assert(byDecile.last._6 === 1.0)
      assert(byDecile.map(_._6).sliding(2).forall(w => w(0) <= w(1)))
      assert(byDecile.head._5 <= byDecile.last._5,
        "bottom decile cannot out-earn the top")
    }
  }

  test("ts_holt matches a driver sequential-fold recompute") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("ts_holt")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), expr("ts_us DIV 3600000000").as("hr"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val exp = ev.groupBy(_._1).toSeq.sortBy(_._1).map { case (et, xs) =>
      val counts = xs.groupBy(_._2).toSeq.sortBy(_._1)
        .map(_._2.length.toDouble)
      var l = 0.0; var b = 0.0; var i = 0L
      counts.foreach { x =>
        if (i == 0L) { l = x; b = 0.0 }
        else {
          val lp = 0.5 * x + 0.5 * (l + b)
          val bp = 0.3 * (lp - l) + 0.7 * b
          l = lp; b = bp
        }
        i += 1
      }
      (et, i, l, b, l + b, l + 2.0 * b, l + 3.0 * b)
    }
    assert(got.toSeq === exp,
      "identical fold order + IEEE ops must reproduce the state bitwise")
    assert(got.nonEmpty && got.forall(_._2 > 1L))
  }

  test("agg_mode picks the true per-group mode with the smallest-value tie-break") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("agg_mode")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val rows = Tables.t(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val exp = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, xs) =>
      val counts = xs.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
      val (q, n) = counts.minBy { case (v, c) => (-c, v) }
      (f, q, n)
    }
    assert(got.toSeq === exp)
    // the mode really is a maximum of the count histogram
    got.foreach { case (f, q, n) =>
      val hist = rows.filter(_._1 == f).groupBy(_._2).view.mapValues(_.size)
      assert(hist.values.max.toLong === n && hist(q).toLong === n)
    }
  }

  test("ts_theilsen selects the exact median pairwise slope") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("ts_theilsen")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exp = hourly.groupBy(_._1).toSeq.sortBy(_._1).map { case (et, xs) =>
      val pts = xs.map(x => (x._2, x._3)).sortBy(_._1)
      val slopes = for {
        i <- pts.indices; j <- (i + 1) until pts.length
      } yield ((pts(j)._2 - pts(i)._2).toDouble /
        (pts(j)._1 - pts(i)._1).toDouble, pts(i)._1, pts(j)._1)
      val sorted = slopes.sortBy(identity)
      val m = sorted.length
      (et, m.toLong, sorted((m + 1) / 2 - 1)._1)
    }
    assert(got.toSeq === exp)
    // a bounded grid: pair counts stay ≤ 720²/2 per series at ANY SF
    assert(got.forall(_._2 <= 720L * 719 / 2))
  }

  test("ts_mad matches a driver median/MAD recompute, all integer") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("ts_mad")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def medianBy(xs: Seq[(Long, Long)]): Long = {
      // rank ⌈n/2⌉ under (value, hr) — the engine's selection rule
      val sorted = xs.sortBy(x => (x._2, x._1))
      sorted((sorted.length + 1) / 2 - 1)._2
    }
    val exp = hourly.groupBy(_._1).toSeq.sortBy(_._1).map { case (et, xs) =>
      val pts = xs.map(x => (x._2, x._3))
      val med = medianBy(pts)
      val devs = pts.map { case (hr, c) => (hr, math.abs(c - med)) }
      val mad = medianBy(devs)
      val anom = devs.count(_._2 > 3 * mad).toLong
      (et, pts.length.toLong, med, mad, anom)
    }
    assert(got.toSeq === exp)
    assert(got.forall(r => r._3 >= 0 && r._4 >= 0))
  }

  test("win_streak equals a driver gaps-and-islands recompute") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("win_streak")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val days = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts_us DIV 86400000000").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val exp = days.groupBy(_._1).toSeq.sortBy(_._1).map { case (u, xs) =>
      val ds = xs.map(_._2).sorted
      // direct island walk
      var runs = List.empty[Long]
      var cur = 0L
      var prev = Long.MinValue
      ds.foreach { d =>
        if (d == prev + 1) cur += 1
        else { if (cur > 0) runs ::= cur; cur = 1 }
        prev = d
      }
      runs ::= cur
      (u, ds.length.toLong, runs.length.toLong, runs.max)
    }
    assert(got.toSeq === exp)
    // streak laws: Σ streak days = n_days, max ≤ n_days
    got.foreach { r => assert(r._4 <= r._2 && r._3 >= 1) }
  }

  test("win_skyline equals the brute-force O(n²) dominance frontier") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("win_skyline")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val parts = Tables.t(spark, sf, "part")
      .select(col("p_brand"), col("p_partkey"),
        (Tables.dec(col("p_retailprice")) * 100).cast("long"),
        col("p_size").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val exp = parts.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (_, xs) =>
        xs.filter { a =>
          !xs.exists(b => b._2 != a._2 &&
            b._3 <= a._3 && b._4 >= a._4 &&
            (b._3 < a._3 || b._4 > a._4))
        }.sortBy(x => (x._3, x._2))
    }
    assert(got.toSeq === exp)
    // frontier law: along ascending price a skyline point must buy
    // strictly MORE size (else the cheaper point dominates it); price
    // ties carry identical (peer-max) size
    got.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(x => (x._3, x._2)).toList
      sorted.sliding(2).foreach {
        case List(a, b) =>
          assert(if (a._3 == b._3) a._4 == b._4 else a._4 < b._4,
            s"dominated point on the skyline: $a $b")
        case _ =>
      }
    }
  }

  test("agg_winsorized clamps at the exact ceil-rank p5/p95 thresholds") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("agg_winsorized")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val rows = Tables.t(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val exp = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, xs) =>
      val vs = xs.map(_._2).sorted
      val n = vs.length.toLong
      val k05 = (n * 5 + 99) / 100
      val k95 = (n * 95 + 99) / 100
      val lo = vs((k05 - 1).toInt)
      val hi = vs((k95 - 1).toInt)
      val ws = vs.map(v => math.max(math.min(v, hi), lo)).sum
      (f, n, lo, hi, ws.toDouble / n.toDouble)
    }
    assert(got.toSeq === exp)
    // robustness law: the winsorized mean sits inside [lo, hi]
    got.foreach { r => assert(r._5 >= r._3 && r._5 <= r._4) }
  }

  test("agg_listagg renders the canonical sorted-distinct concatenation") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("agg_listagg")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val docs = Tables.t(spark, sf, "documents")
      .select(col("lang"), col("source")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val exp = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (lang, xs) =>
      val srcs = xs.map(_._2).distinct.sorted
      (lang, xs.length.toLong, srcs.length.toLong, srcs.mkString(","))
    }
    assert(got.toSeq === exp)
    // canonical form: sorted, no dup entries
    got.foreach { r =>
      val parts = r._4.split(",").toSeq
      assert(parts === parts.distinct.sorted && parts.length.toLong === r._3)
    }
  }

  test("ts_bollinger matches a driver rolling-power-sum recompute") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("ts_bollinger")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6), r.getBoolean(7)))
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exp = hourly.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (et, xs) =>
        val pts = xs.map(x => (x._2, x._3)).sortBy(_._1)
        pts.indices.map { i =>
          val win = pts.slice(math.max(0, i - 23), i + 1)
          val n = win.length.toLong
          val s1 = win.map(_._2).sum
          val s2 = win.map(x => x._2 * x._2).sum
          val mean = s1.toDouble / n.toDouble
          val sd = math.sqrt((n * s2 - s1 * s1).toDouble /
            n.toDouble / n.toDouble)
          val c = pts(i)._2
          (et, pts(i)._1, c, n, mean, sd,
            c.toDouble > mean + 2.0 * sd, c.toDouble < mean - 2.0 * sd)
        }
    }
    assert(got.toSeq === exp)
    // breaches exist but are rare (bands are 2σ)
    val breaches = got.count(r => r._7 || r._8)
    assert(breaches > 0 && breaches < got.length / 4)
  }

  test("agg_topn_share: top-10 really is the 10 largest and share in (0,1]") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("agg_topn_share")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val perCust = Tables.t(spark, sf, "orders")
      .join(Tables.t(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum((Tables.dec(col("o_totalprice")) * 100).cast("long"))
        .as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exp = perCust.groupBy(_._1).toSeq.sortBy(_._1).map { case (seg, xs) =>
      val sorted = xs.sortBy(x => (-x._3, x._2))
      val top10 = sorted.take(10).map(x => BigInt(x._3)).sum
      val total = sorted.map(x => BigInt(x._3)).sum
      (seg, xs.length.toLong, top10.toLong, total.toLong,
        top10.toLong.toDouble / total.toLong.toDouble)
    }
    assert(got.toSeq === exp)
    got.foreach { r =>
      assert(r._5 > 0.0 && r._5 <= 1.0 && r._3 <= r._4)
    }
  }

  test("agg_entropy matches a driver closed-form recompute and its bounds") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("agg_entropy")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val hist = Tables.t(spark, sf, "part")
      .groupBy(col("p_brand"), col("p_type"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp = hist.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, xs) =>
      val n = xs.map(_._3).sum
      val h = math.log(n.toDouble) -
        xs.map(x => x._3.toDouble * math.log(x._3.toDouble)).sum / n
      (b, xs.length.toLong, n, h)
    }
    got.zip(exp).foreach { case (g, e) =>
      assert(g._1 === e._1 && g._2 === e._2 && g._3 === e._3)
      // entropy is the 6-rounded closed form, within the float-sum-
      // order tolerance of the driver recompute
      assert(math.abs(g._4 - e._4) < 1e-5)
      // bounds: 0 ≤ H ≤ ln(n_types) (+ the 6-decimal rounding quantum:
      // a uniform mix rounds H = ln(k) UP past the bound), norm in [0,1]
      assert(g._4 >= -1e-9 && g._4 <= math.log(g._2.toDouble) + 1e-6)
      assert(g._5 >= -1e-9 && g._5 <= 1.0 + 1e-6)
    }
  }

  test("agg_chisq: expected counts reproduce marginals and χ² is the fold") {
    val got = SparkEntry.queries("agg_chisq")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
    assert(got.length === 6 && got.forall(_._7 === 6L))
    val n = got.map(_._3).sum
    // Σe over a row/column equals that marginal (law of the table)
    got.groupBy(_._1).foreach { case (_, xs) =>
      assert(math.abs(xs.map(_._4).sum - xs.map(_._3).sum.toDouble) < 1e-6)
    }
    got.groupBy(_._2).foreach { case (_, xs) =>
      assert(math.abs(xs.map(_._4).sum - xs.map(_._3).sum.toDouble) < 1e-6)
    }
    // χ² is EXACTLY the sequential (flag, status)-ordered fold
    val fold = got.sortBy(x => (x._1, x._2))
      .foldLeft(0.0d)((a, x) => a + x._5)
    assert(got.forall(_._6 === fold))
    // each contribution is (o−e)²/e exactly
    got.foreach { x =>
      val c = (x._3.toDouble - x._4) * (x._3.toDouble - x._4) / x._4
      assert(x._5 === c)
    }
    assert(n > 0)
  }

  test("agg_mannwhitney matches a direct average-rank recompute") {
    import org.apache.spark.sql.functions._
    val Array(row) = SparkEntry.queries("agg_mannwhitney")(spark, sf)
      .collect()
    val (n1, n2, u1x2, z) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3))
    val qs = Tables.t(spark, sf, "lineitem")
      .where(col("l_returnflag").isin("A", "R"))
      .select(col("l_returnflag"), col("l_quantity").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val a = qs.filter(_._1 == "A").map(_._2)
    val r = qs.filter(_._1 == "R").map(_._2)
    assert(n1 === a.length.toLong && n2 === r.length.toLong)
    // direct average ranks over the pooled sample (2× to stay integral)
    val pooled = (a ++ r).sorted
    val rank2 = pooled.zipWithIndex.groupBy(_._1).map { case (v, xs) =>
      // average of 1-based ranks, doubled: Σ(lo..hi)·2/t = (lo+hi+2)…
      val idxs = xs.map(_._2 + 1)
      (v, idxs.min + idxs.max)  // 2·avgRank for the tie group
    }
    val r1x2 = a.map(v => BigInt(rank2(v))).sum
    val expU1x2 = r1x2 - BigInt(a.length) * (a.length + 1)
    assert(BigInt(u1x2) === expU1x2)
    // z against the tie-corrected normal approximation
    val nn = a.length.toLong + r.length
    val ties = pooled.groupBy(identity).values
      .map(g => BigInt(g.length).pow(3) - g.length).sum
    val num = (expU1x2 - BigInt(a.length) * r.length).toDouble
    val den = 2.0 * math.sqrt(
      a.length.toDouble * r.length / 12.0 *
        ((nn + 1).toDouble -
          ties.toDouble / (nn.toDouble * (nn - 1).toDouble)))
    assert(math.abs(z - num / den) < 1e-9)
  }

  test("agg_cramersv agrees with agg_chisq's fold and sits in [0, 1]") {
    val Array(v) = SparkEntry.queries("agg_cramersv")(spark, sf).collect()
    val chisq = SparkEntry.queries("agg_chisq")(spark, sf).collect()
    // one fold, two reporters: the χ² the effect size normalizes is
    // EXACTLY the per-cell key's fold
    assert(v.getDouble(2) === chisq.head.getDouble(5))
    val n = v.getLong(0)
    assert(n === chisq.map(_.getLong(2)).sum)
    assert(v.getLong(1) === 2L) // (3−1)·(2−1)
    val expV = math.sqrt(v.getDouble(2) / (n.toDouble * 1.0))
    assert(v.getDouble(3) === expV)
    assert(v.getDouble(3) >= 0.0 && v.getDouble(3) <= 1.0)
  }

  test("agg_kendall matches a driver histogram recompute of tau-b") {
    import org.apache.spark.sql.functions._
    val Array(row) = SparkEntry.queries("agg_kendall")(spark, sf).collect()
    val grid = Tables.t(spark, sf, "lineitem")
      .select(col("l_partkey"), col("l_quantity").cast("long").as("q"))
      .join(Tables.t(spark, sf, "part"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("q"), col("p_size").cast("long").as("sz"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var cc = BigInt(0); var dd = BigInt(0)
    for ((q1, s1, c1) <- grid; (q2, s2, c2) <- grid if q1 < q2) {
      if (s1 < s2) cc += BigInt(c1) * c2
      else if (s1 > s2) dd += BigInt(c1) * c2
    }
    val n = BigInt(grid.map(_._3).sum)
    def tie2(by: ((Long, Long, Long)) => Long): BigInt =
      grid.groupBy(by).values
        .map { g => val t = BigInt(g.map(_._3).sum); t * (t - 1) }.sum
    val m1 = n * (n - 1) - tie2(_._1)
    val m2 = n * (n - 1) - tie2(_._2)
    assert(row.getLong(0) === n.toLong)
    assert(row.getLong(1) === cc.toLong && row.getLong(2) === dd.toLong)
    val taub = 2.0 * (cc - dd).toDouble /
      math.sqrt(m1.toDouble * m2.toDouble)
    assert(math.abs(row.getDouble(3) - taub) < 1e-12)
    assert(row.getDouble(3) >= -1.0 && row.getDouble(3) <= 1.0)
  }

  test("agg_spearman matches a driver rank recompute of rho") {
    import org.apache.spark.sql.functions._
    val Array(row) = SparkEntry.queries("agg_spearman")(spark, sf).collect()
    val grid = Tables.t(spark, sf, "lineitem")
      .select(col("l_partkey"), col("l_quantity").cast("long").as("q"))
      .join(Tables.t(spark, sf, "part"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("q"), col("p_size").cast("long").as("sz"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = BigInt(grid.map(_._3).sum)
    // doubled average rank per marginal value: 2*cum_below + count + 1
    def r2(by: ((Long, Long, Long)) => Long): Map[Long, BigInt] = {
      val m = grid.groupBy(by).view.mapValues(g => BigInt(g.map(_._3).sum))
        .toSeq.sortBy(_._1)
      m.scanLeft((0L, BigInt(0), BigInt(0))) { case ((_, cum, _), (v, c)) =>
        (v, cum + c, 2 * cum + c + 1)
      }.drop(1).map(x => x._1 -> x._3).toMap
    }
    val (rq, rs) = (r2(_._1), r2(_._2))
    var num = BigInt(0); var m2x = BigInt(0); var m2y = BigInt(0)
    for ((q, sz, c) <- grid) {
      val dx = rq(q) - n - 1; val dy = rs(sz) - n - 1
      num += c * dx * dy; m2x += c * dx * dx; m2y += c * dy * dy
    }
    assert(row.getLong(0) === n.toLong)
    val rho = num.toDouble / math.sqrt(m2x.toDouble * m2y.toDouble)
    assert(math.abs(row.getDouble(1) - rho) < 1e-12)
    assert(row.getDouble(1) >= -1.0 && row.getDouble(1) <= 1.0)
    // Spearman and Kendall must agree on the association's SIGN
    val Array(k) = SparkEntry.queries("agg_kendall")(spark, sf).collect()
    assert(math.signum(row.getDouble(1)) === math.signum(k.getDouble(3)))
  }

  test("agg_anova matches a driver recompute of the F statistic") {
    import org.apache.spark.sql.functions._
    val Array(row) = SparkEntry.queries("agg_anova")(spark, sf).collect()
    val g = Tables.t(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("x"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("ni"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sx2")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val n = g.map(_._2).sum; val k = g.length
    val ssw = g.map { case (_, ni, sx, sx2) =>
      (BigInt(ni) * sx2 - BigInt(sx) * sx).toDouble / ni.toDouble
    }.foldLeft(0.0)(_ + _)
    val tsum = g.map { case (_, ni, sx, _) =>
      (BigInt(sx) * sx).toDouble / ni.toDouble
    }.foldLeft(0.0)(_ + _)
    val sxt = g.map(_._3).sum
    val ssb = tsum - (BigInt(sxt) * sxt).toDouble / n.toDouble
    assert(row.getLong(0) === n && row.getLong(1) === k.toLong)
    assert(math.abs(row.getDouble(2) - ssw) < 1e-6 * ssw)
    assert(math.abs(row.getDouble(3) - ssb) < 1e-6 * math.abs(ssb) + 1e-9)
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    assert(math.abs(row.getDouble(4) - f) < 1e-9 * (1 + math.abs(f)))
    assert(row.getDouble(2) > 0 && row.getDouble(4) >= 0)
  }

  test("ts_regr recovers an exact local trend and nulls singleton frames") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("ts_regr")(spark, sf).collect()
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exp = hourly.groupBy(_._1).toSeq.flatMap { case (et, xs) =>
      val s = xs.sortBy(_._2)
      s.zipWithIndex.map { case ((_, hr, cnt), i) =>
        val win = s.slice(math.max(0, i - 23), i + 1)
        val n = win.length.toLong
        val sx = win.map(_._2).sum; val sy = win.map(_._3).sum
        val sxx = win.map(w => BigInt(w._2) * w._2).sum
        val sxy = win.map(w => BigInt(w._2) * w._3).sum
        val den = n * sxx - BigInt(sx) * sx
        val num = n * sxy - BigInt(sx) * sy
        val slope = if (den == 0) Double.NaN
                    else num.toDouble / den.toDouble
        val icept = if (den == 0) Double.NaN
                    else sy.toDouble / n - slope * (sx.toDouble / n)
        (et, hr, cnt, n, slope, icept)
      }
    }.sortBy(x => (x._1, x._2))
    assert(got.length === exp.length)
    got.zip(exp).foreach { case (g, e) =>
      assert(g.getString(0) === e._1 && g.getLong(1) === e._2 &&
        g.getLong(2) === e._3 && g.getLong(3) === e._4)
      val gs = if (g.isNullAt(4)) Double.NaN else g.getDouble(4)
      assert((gs.isNaN && e._5.isNaN) || math.abs(gs - e._5) < 1e-12,
        s"slope at ${e._1}/${e._2}: $gs vs ${e._5}")
      val gi = if (g.isNullAt(5)) Double.NaN else g.getDouble(5)
      assert((gi.isNaN && e._6.isNaN) ||
        math.abs(gi - e._6) < 1e-9 * (1 + math.abs(e._6)),
        s"intercept at ${e._1}/${e._2}: $gi vs ${e._6}")
      // a frame of one point has no slope
      if (e._4 == 1L) assert(g.isNullAt(4) && g.isNullAt(5))
    }
  }

  test("ts_crossover flags exactly the hours where the SMA order flips") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("ts_crossover")(spark, sf).collect()
    assert(got.nonEmpty)
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    got.groupBy(_.getString(0)).foreach { case (et, rows) =>
      val s = rows.sortBy(_.getLong(1))
      val grid = hourly(et)
      s.zipWithIndex.foreach { case (r, i) =>
        val w12 = grid.slice(math.max(0, i - 11), i + 1)
        val w24 = grid.slice(math.max(0, i - 23), i + 1)
        val (s12, n12) = (w12.map(_._3).sum, w12.length.toLong)
        val (s24, n24) = (w24.map(_._3).sum, w24.length.toLong)
        assert(r.getLong(3) === s12 && r.getLong(4) === s24)
        // golden is the exact integer cross-multiplication claim
        assert(r.getBoolean(5) === (s12 * n24 > s24 * n12),
          s"$et hr ${r.getLong(1)}")
        if (i == 0) assert(r.isNullAt(6), "first row has no prior state")
        else assert(r.getBoolean(6) ===
          (r.getBoolean(5) != s(i - 1).getBoolean(5)))
      }
      // the series must actually cross at least once on the fixture
      assert(s.count(r => !r.isNullAt(6) && r.getBoolean(6)) >= 1)
    }
  }

  test("agg_benford covers digits 1-9 with shares summing to one") {
    val got = SparkEntry.queries("agg_benford")(spark, sf).collect()
    assert(got.map(_.getInt(0)).toSeq === (1 to 9))
    val totalOrders = Tables.t(spark, sf, "orders").count()
    assert(got.map(_.getLong(1)).sum === totalOrders)
    assert(math.abs(got.map(_.getDouble(2)).sum - 1.0) < 1e-12)
    got.foreach { r =>
      val exp = BigDecimal(math.log10(1.0 + 1.0 / r.getInt(0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) === exp, s"digit ${r.getInt(0)}")
    }
    // Benford monotonicity: P(1) > P(2) > ... > P(9)
    assert(got.map(_.getDouble(3)).toSeq === got.map(_.getDouble(3))
      .sortBy(-_).toSeq)
  }

  test("ts_rsi matches a driver window recompute and stays in [0, 100]") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("ts_rsi")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) Double.NaN else r.getDouble(5)))
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exp = hourly.groupBy(_._1).toSeq.flatMap { case (et, xs) =>
      val s = xs.sortBy(_._2)
      val diffs = s.zip(s.tail).map { case (p, c) => (c._2, c._3, c._3 - p._3) }
      diffs.zipWithIndex.map { case ((hr, cnt, _), i) =>
        val win = diffs.slice(math.max(0, i - 13), i + 1)
        val gs = win.map(w => math.max(w._3, 0L)).sum
        val ls = win.map(w => math.max(-w._3, 0L)).sum
        val rsi = if (gs + ls == 0) Double.NaN
                  else 100.0 * gs.toDouble / (gs + ls).toDouble
        (et, hr, cnt, gs, ls, rsi)
      }
    }.sortBy(x => (x._1, x._2))
    assert(got.length === exp.length)
    got.zip(exp).foreach { case (g, e) =>
      assert(g._1 === e._1 && g._2 === e._2 && g._3 === e._3 &&
        g._4 === e._4 && g._5 === e._5)
      assert((g._6.isNaN && e._6.isNaN) || g._6 === e._6)
      if (!g._6.isNaN) assert(g._6 >= 0.0 && g._6 <= 100.0)
    }
  }

  test("ts_drawdown picks the true worst peak-relative hour per series") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("ts_drawdown")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exp = hourly.groupBy(_._1).toSeq.sortBy(_._1).map { case (et, xs) =>
      val s = xs.sortBy(_._2)
      var peak = Long.MinValue
      val dds = s.map { case (_, hr, c) =>
        peak = math.max(peak, c)
        (hr, c, peak, c.toDouble / peak.toDouble)
      }
      val w = dds.minBy(x => (x._4, x._1))
      (et, w._1, w._2, w._3, w._4)
    }
    assert(got.toSeq === exp)
    got.foreach { r =>
      assert(r._5 > 0.0 && r._5 <= 1.0 && r._3 <= r._4)
    }
  }
}
