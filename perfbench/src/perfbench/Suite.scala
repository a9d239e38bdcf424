package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.ops.{Functions, Graph, Ingest => IngestOps, Lake, Llm, Pipeline, Relational, Streaming}

/** The operator suite: a fixed sample of registry keys, stratified by
  * `ops` module, run one key at a time (one client, closed loop) in
  * seeded order. A key's latency is `fn(spark, sf)` (the build) plus its
  * action, which writes the result as the correctness dump does, so the
  * result can be hashed and checked afterwards.
  *
  * Conf keys: `tables` (generated by [[Main]]), `results`. */
object Suite {
  def modules: Map[String, Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame]] = Map(
    "Relational" -> Relational.queries, "Llm" -> Llm.queries, "Pipeline" -> Pipeline.queries,
    "Streaming" -> Streaming.queries, "Lake" -> Lake.queries, "Ingest" -> IngestOps.queries,
    "Functions" -> Functions.queries, "Graph" -> Graph.queries)

  /** 14 of the 331 keys, chosen from one measured sf0.01 pass over all
    * of them (`survey-sf0.01.tsv`): each module gets keys in proportion
    * to its size (largest remainder, at least one), taken at that
    * module's latency quantiles (j + 0.7) / k, j = 0 until k. The
    * sample's median, p90, mean and build share are within 13% of the
    * population's (README.md). The key set is the same for every seed:
    * drawing it per seed from this heavy-tailed population moves the
    * pass wall by more than any regression bound. */
  val Keys: Seq[(String, Seq[String])] = Seq(
    "Relational" -> Seq("seq_pattern", "agg_percentile", "win_streak", "agg_topn_share", "win_lorenz"),
    "Llm" -> Seq("dedup_exact", "text_perplexity"),
    "Pipeline" -> Seq("sample_temperature", "sim_ann_ivfpq"),
    "Streaming" -> Seq("stream_skyline"),
    "Lake" -> Seq("scan_logs"),
    "Ingest" -> Seq("catalog_ops"),
    "Functions" -> Seq("fn_json"),
    "Graph" -> Seq("graph_ppr"))

  /** The sample in seeded order. */
  def sample(seed: Long): Seq[(String, String)] =
    new Random(seed).shuffle(Keys.flatMap { case (m, ks) => ks.map(m -> _) })

  def run(spark: SparkSession, conf: Map[String, String]): Map[String, Any] = {
    val work = new File(conf("work"))
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val results = conf("results")
    for ((m, ks) <- Keys; k <- ks) require(modules(m).contains(k), s"no registry key $m.$k")
    val registry = modules.values.flatten.toMap

    // Generated once per build by a JVM of its own (Main's `tables`).
    val sfDir = conf("tables")
    val keys = sample(conf("seed").toLong)

    val execs = Seq.newBuilder[Map[String, Any]]
    var tracer: Tracer = null
    def exec(pass: String, module: String, key: String): Double = {
      val out = s"$results/$pass/$key"
      var build = 0.0
      var action = 0.0
      var error: String = null
      val t0 = System.nanoTime()
      def body(): Unit = {
        val df = if (tracer == null) registry(key)(spark, sfDir)
          else tracer.span("key.build")(registry(key)(spark, sfDir))()
        val t1 = System.nanoTime()
        build = (t1 - t0) / 1e9
        if (tracer == null) df.coalesce(1).write.mode("overwrite").parquet(out)
        else tracer.span("key.action")(df.coalesce(1).write.mode("overwrite").parquet(out))()
        action = (System.nanoTime() - t1) / 1e9
      }
      try {
        if (tracer == null) body()
        else tracer.span("key", Map("key" -> key, "module" -> module))(body())()
      } catch { case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}" }
      val wall = (System.nanoTime() - t0) / 1e9
      execs += Map("pass" -> pass, "key" -> key, "module" -> module, "build_s" -> build,
        "action_s" -> action, "latency_s" -> wall, "out" -> out, "error" -> error,
        "traced" -> (tracer != null))
      wall
    }

    keys.foreach { case (m, k) => exec("warm", m, k) }
    // Collect the warm-up pass's garbage now, not in the timed window.
    System.gc()

    val firstOp = System.currentTimeMillis()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val passes = Seq.newBuilder[Double]
    val untraced = Seq.newBuilder[Double]
    var detach: () => Unit = null
    var gc0 = 0.0
    var p = 0
    // At least one complete pass; then whole passes while the window
    // lasts. A traced run measures its first pass untraced and the rest
    // traced, so it can report the tracing overhead.
    while (p < 1 || elapsed < seconds || (traced && tracer == null)) {
      if (traced && p >= 1 && tracer == null) {
        tracer = new Tracer(s"query_suite-${conf("seed")}")
        Trace.resetHeapPeak()
        gc0 = Trace.gcMs
        detach = Trace.attach(spark, tracer)
      }
      val t0 = System.nanoTime()
      keys.foreach { case (m, k) =>
        val s = exec(s"p$p", m, k)
        if (tracer == null && traced) untraced += s
      }
      passes += (System.nanoTime() - t0) / 1e9
      p += 1
    }
    val base = Map[String, Any](
      "first_op_epoch_ms" -> firstOp,
      "passes_s" -> passes.result(), "execs" -> execs.result(), "sf_dir" -> sfDir,
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter { case (k, _) => keys.exists(_._2 == k) })
    if (tracer == null) base
    else {
      val gc = Trace.gcMs - gc0
      detach()
      tracer.writeJsonl(new File(work, "spans.jsonl").getAbsolutePath)
      base + ("layers" -> Layers.suite(tracer, untraced.result(), Trace.heapPeakMb, gc))
    }
  }
}
