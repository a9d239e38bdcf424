package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the round-2 ADVICE fixes: strong scratch keying, option
  * validation, and loud failure on replay anomalies. */
class RobustnessSpec extends AnyFunSuite {
  import SharedSpark.spark

  test("results are invariant to input file layout (13-way split vs single file)") {
    // The 100 TB correctness law the single-file gate can't see: a
    // cluster reads every table as MANY splits in arbitrary order, so
    // any fold-order leak (double sums outside the grid discipline,
    // first()-style picks, partition-dependent argmax tie-breaks)
    // produces layout-dependent output. Rewrite the gate tables as
    // 13-file parquet and demand bit-identical collected results from
    // the most fold-sensitive keys.
    import org.apache.spark.sql.functions.col
    val src = SharedSpark.sf
    val d = s"${Tables.scratchRoot}/layout13"
    for (tbl <- Seq("documents", "embeddings", "lineitem", "orders"))
      Tables.t(spark, src, tbl).repartition(13)
        .write.mode("overwrite").parquet(s"$d/$tbl.parquet")
    val keys = Seq("sample_dsir", "text_perplexity", "embed_pca",
      "sample_kcenter", "graph_lpa", "dedup_bloom", "text_gopher",
      "tok_wordpiece", "pipeline_curate", "lake_diff", "agg_stats",
      "sql_tpch_q1")
    for (k <- keys) {
      val a = SparkEntry.queries(k)(spark, src).collect().toSeq
      val b = SparkEntry.queries(k)(spark, d).collect().toSeq
      assert(a === b, s"$k output depends on input file layout")
      assert(a.nonEmpty, k)
    }
  }

  test("operator registry has no cross-module key collisions and no orphan oracles") {
    // Map ++ silently overwrites on duplicate keys — a collision would
    // drop an operator from the driver gate without any error.
    val maps = Seq(
      "Relational" -> ops.Relational.queries, "Functions" -> ops.Functions.queries,
      "Llm" -> ops.Llm.queries, "Streaming" -> ops.Streaming.queries,
      "Ingest" -> ops.Ingest.queries, "Pipeline" -> ops.Pipeline.queries,
      "Lake" -> ops.Lake.queries, "Graph" -> ops.Graph.queries)
    val all = maps.flatMap { case (m, q) => q.keys.map(_ -> m) }
    val dups = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty, s"duplicate keys across modules: $dups")
    assert(SparkEntry.queries.size === all.size)
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }

  test("scratch checkpoint keys survive String.hashCode collisions") {
    // "Aa" and "BB" collide under String.hashCode (2112) — a hashCode
    // key would silently share these two datasets' checkpoints.
    assert("/data/Aa".hashCode === "/data/BB".hashCode)
    assert(Scratch.key("/data/Aa") !== Scratch.key("/data/BB"))
    // and the key is stable (pure function of the path)
    assert(Scratch.key("/data/Aa") === Scratch.key("/data/Aa"))
  }

  test("agg_approx_quantile: approx percentiles within 1% of spec-side exact") {
    // The production (audit-off) plan is sketch-only (no exact
    // `percentile` sort rides along); the numeric tolerance evidence
    // lives HERE on its values. The gate (audit-on) output is the
    // corridor booleans the driver hash-checks — assert they agree.
    import org.apache.spark.sql.functions._
    val sf = SharedSpark.sf
    val out = ops.Relational.aggApproxQuantilePlan(spark, sf, audit = false)
    // flat scalar schema (the driver gate sorts cells via pandas —
    // arrays would crash it, the r4 red row)
    assert(out.schema.fields.forall(f =>
      !f.dataType.typeName.startsWith("array")), "no array columns")
    val rows = out.collect()
    assert(rows.nonEmpty)
    val gate = SparkEntry.queries("agg_approx_quantile")(spark, sf).collect()
    assert(gate.nonEmpty)
    gate.foreach { r =>
      Seq("q25_ok", "q50_ok", "q90_ok").foreach(c =>
        assert(r.getAs[Boolean](c), s"${r.getString(0)}.$c corridor miss"))
    }
    val exact = Tables.t(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(percentile(col("l_extendedprice"),
        array(lit(0.25), lit(0.5), lit(0.9))).as("xq"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    def relErr(a: Double, e: Double): Double =
      math.abs(a - e) / math.max(math.abs(e), 1e-9)
    rows.foreach { r =>
      val xs = exact(r.getString(0))
      Seq("q25", "q50", "q90").zip(xs).foreach { case (c, x) =>
        val err = relErr(r.getAs[Double](c), x)
        assert(err <= 0.01, s"${r.getString(0)}.$c: rel_err $err > 1%")
      }
    }
  }

  test("agg_approx: HLL estimates within 3×rsd of spec-side exact counts") {
    // rsd=0.01 is a STANDARD error — a pin at 1×rsd would be a coin
    // flip; 3×rsd is the honest tolerance (ADVICE r5). Numeric audit
    // runs on the production (audit-off) sketch values; the gate
    // (audit-on) corridor booleans must agree.
    import org.apache.spark.sql.functions._
    val sf = SharedSpark.sf
    val rows = ops.Relational.aggApproxPlan(spark, sf, audit = false)
      .collect()
    assert(rows.nonEmpty)
    val gate = SparkEntry.queries("agg_approx")(spark, sf).collect()
    assert(gate.nonEmpty)
    gate.foreach { r =>
      assert(r.getAs[Boolean]("parts_ok") && r.getAs[Boolean]("orders_ok"),
        s"${r.getString(0)}: gate corridor boolean is false")
    }
    val exact = Tables.t(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("p"),
        countDistinct(col("l_orderkey")).as("o"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (p, o) = exact(r.getString(0))
      def relErr(a: Long, e: Long): Double =
        math.abs(a - e).toDouble / math.max(e, 1L)
      assert(relErr(r.getAs[Long]("approx_parts"), p) <= 0.03,
        s"${r.getString(0)}: parts estimate off by >3×rsd")
      assert(relErr(r.getAs[Long]("approx_orders"), o) <= 0.03,
        s"${r.getString(0)}: orders estimate off by >3×rsd")
    }
  }

  test("Tables.events reads int64-nanos AND timestamp[us] encodings to identical ts_us") {
    // The environment's events.parquet has shipped both physical ts
    // encodings across refreshes (r5 verdict: 26 queries died on the
    // µs→ns assumption). Re-encode the same rows both ways and pin that
    // tsUsCol lands on the identical epoch-µs domain for each.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val sp = SharedSpark.spark
    // Deterministic row selection: a bare limit() re-executes per
    // action with no guarantee of picking the same rows — each write
    // below is its own action.
    val base = Tables.events(sp, SharedSpark.sf)
      .select("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .where(col("event_id") < 500)
    val nsDir = s"${Tables.scratchRoot}/events-enc-ns"
    val usDir = s"${Tables.scratchRoot}/events-enc-us"
    // ns encoding: raw int64 nanos WITH sub-µs residue so the exact
    // integer flooring (DIV 1000) is exercised, not just a ×1000 round
    // trip.
    base.withColumn("ts", col("ts_us") * 1000L + pmod(col("event_id"), lit(1000L)))
      .drop("ts_us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$nsDir/events.parquet")
    // µs encoding: TIMESTAMP_NTZ, the type Spark infers from the
    // pandas-written timestamp[us] file.
    base.withColumn("ts", timestamp_micros(col("ts_us")).cast(TimestampNTZType))
      .drop("ts_us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$usDir/events.parquet")
    val evNs = Tables.events(sp, nsDir)
    val evUs = Tables.events(sp, usDir)
    assert(evNs.schema("ts").dataType === LongType)
    assert(evUs.schema("ts").dataType === TimestampNTZType)
    def m(df: org.apache.spark.sql.DataFrame) = df.select("event_id", "ts_us")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (a, b) = (m(evNs), m(evUs))
    assert(a.nonEmpty && a === b,
      "ts_us must be identical across physical encodings")
  }

  test("RemoteFileSource rejects a missing/empty 'urls' option loudly") {
    val e1 = intercept[Exception] {
      spark.read.format("graft.sources.RemoteFileSource").load().count()
    }
    assert(e1.getMessage.contains("urls"),
      s"error must name the missing option, got: ${e1.getMessage}")
    val e2 = intercept[Exception] {
      spark.read.format("graft.sources.RemoteFileSource")
        .option("urls", " , ").load().count()
    }
    assert(e2.getMessage.contains("urls"))
  }

  test("RemoteFileSource fetch retries: fail-once-then-succeed, bounded, loud when exhausted") {
    // The reference's own open TODO (config.py:11-13 "retry download")
    // and its error log show transient fetch failures are the expected
    // remote failure mode; chaosFailFirstFetches injects exactly that.
    import org.apache.spark.sql.functions._
    val fixture = ops.Ingest.buildFixture()
    val url = s"ftp://localhost:21$fixture"
    def readAll(extra: Map[String, String]) = {
      val r = spark.read.format("graft.sources.RemoteFileSource")
        .option("urls", url).option("numPartitions", "2")
      extra.foreach { case (k, v) => r.option(k, v) }
      r.load()
        .where(col("file_name") =!= "archive.zip")
        // content must be referenced — pruning would skip the fetch path
        .select(col("file_name"), crc32(col("content")).as("crc"))
        .collect().map(r2 => r2.getString(0) -> r2.getLong(1)).toMap
    }
    val clean = readAll(Map.empty)
    val before = sources.RemoteRetry.observedRetries.get()
    val flaky = readAll(Map(
      "test.chaosFailFirstFetches" -> "1", "retryBackoffMs" -> "1"))
    val retries = sources.RemoteRetry.observedRetries.get() - before
    assert(retries >= 1, "at least one retry must be recorded")
    assert(flaky === clean,
      "payloads after retry must be identical to a clean read")
    // Exhausted retries must fail loudly with the attempt count.
    val e = intercept[Exception] {
      readAll(Map("test.chaosFailFirstFetches" -> "99", "maxRetries" -> "1",
        "retryBackoffMs" -> "0"))
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(messages.contains("after 2 attempts"), messages)
  }

  test("RemoteMicroBatchStream fails loudly when a batch record is missing") {
    val ckpt = new java.io.File(s"${Tables.scratchRoot}/test-replay-anomaly")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del)
      f.delete(): Unit
    }
    if (ckpt.exists()) del(ckpt)
    val stream = new sources.RemoteMicroBatchStream(
      urls = Seq(s"ftp://localhost:21${ops.Ingest.buildFixture()}"),
      numPartitions = 2, batchSize = Int.MaxValue,
      required = sources.RemoteFileSource.schema,
      checkpointLocation = ckpt.getAbsolutePath)
    // No admission record exists for offset 0 (fresh batch log), yet the
    // offset range [0, 3) claims admitted files: replay must throw, not
    // silently plan zero rows.
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(
        sources.RemoteOffset(0L), sources.RemoteOffset(3L))
    }
    assert(e.getMessage.contains("no admission record"))
    // An EMPTY range with no record is legitimate (nothing to read).
    assert(stream.planInputPartitions(
      sources.RemoteOffset(0L), sources.RemoteOffset(0L)).isEmpty)
  }

  test("variant parsing is lenient: malformed props yield null fields, not errors") {
    import org.apache.spark.sql.functions._
    val sp = SharedSpark.spark
    import sp.implicits._
    val df = Seq((1L, """{"k": 7}"""), (2L, "not json at all"), (3L, null))
      .toDF("event_id", "props")
      .select(col("event_id"),
        variant_get(try_parse_json(col("props")), "$.k", "long").as("k_val"))
      .orderBy("event_id")
    val rows = df.collect()
    assert(rows(0).getLong(1) === 7L)
    assert(rows(1).isNullAt(1), "malformed JSON must yield null, not throw")
    assert(rows(2).isNullAt(1))
  }

  test("win_gapfill emits a dense per-type grid with LOCF over gaps") {
    val sp = SharedSpark.spark
    val rows = SparkEntry.queries("win_gapfill")(sp, SharedSpark.sf).collect()
    assert(rows.nonEmpty)
    val byType = rows.groupBy(_.getString(0))
    val sizes = byType.values.map(_.length).toSet
    assert(sizes.size == 1, s"every type must span the same grid: $sizes")
    byType.values.foreach { rs =>
      val slots = rs.map(_.getLong(1)).sorted
      // Dense: consecutive slots 600 s apart, no holes.
      assert(slots.zip(slots.tail).forall { case (a, b) => b - a == 600 })
      // LOCF: a gap slot (n=0) after any observation carries a value.
      var seen = false
      rs.sortBy(_.getLong(1)).foreach { r =>
        if (r.getLong(2) > 0) seen = true
        else if (seen) assert(!r.isNullAt(3), "gap after data must carry LOCF")
      }
    }
  }

  test("concurrent graph_bfs runs on one dataset do not interleave round state") {
    // ADVICE r7: fixed per-dataset round paths let two concurrent
    // executions overwrite each other's iteration state mid-loop. The
    // round-8 run token isolates them — both concurrent runs must
    // produce the single-run result.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val sp = SharedSpark.spark
    val sf = SharedSpark.sf
    val expected = SparkEntry.queries("graph_bfs")(sp, sf)
      .collect().map(_.toSeq).toSeq
    val runs = Future.sequence((1 to 2).map(_ => Future {
      SparkEntry.queries("graph_bfs")(sp, sf).collect().map(_.toSeq).toSeq
    }))
    Await.result(runs, 5.minutes).foreach { got =>
      assert(got === expected, "a concurrent run corrupted BFS state")
    }
  }

  test("topk_pairs rejects non-positive k at registration") {
    val sp = SharedSpark.spark
    Seq("topk_pairs(CAST(1.0 AS DOUBLE), CAST(1 AS BIGINT), 0)" -> "k must be",
      "misra_gries('w', 0)" -> "m must be").foreach { case (call, msg) =>
      val e = intercept[Exception](sp.sql(s"SELECT $call").collect())
      assert(e.getMessage.contains(s"$msg an INT literal >= 1")
        || Option(e.getCause).exists(_.getMessage.contains(msg)),
        s"$call got: ${e.getMessage}")
    }
  }
}
