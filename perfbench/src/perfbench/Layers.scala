package perfbench

/** Per-layer metrics of a traced run, computed from its spans. Every
  * metric is always present; a layer the workload does not exercise
  * reads 0. Rates are totals over the traced window; counts and times
  * are per operation (a scheduled run, or one key execution). */
object Layers {
  val Modules: Seq[String] =
    Seq("Relational", "Llm", "Pipeline", "Streaming", "Lake", "Ingest", "Functions", "Graph")

  private val StreamPhases = Seq(
    "latest_offset" -> "latestOffset", "add_batch" -> "addBatch",
    "query_planning" -> "queryPlanning", "wal_commit" -> "walCommit",
    "commit_offsets" -> "commitOffsets")

  private def within(spans: Seq[Span], outer: Span): Seq[Span] =
    spans.filter(s => s.start >= outer.start && s.start <= outer.end)

  private def sumAttr(spans: Seq[Span], k: String): Double = spans.map(_.attrs.getOrElse(k, 0.0)).sum

  private def perOp(total: Double, ops: Int): Double = if (ops == 0) 0.0 else total / ops

  /** Layers shared by both kinds of workload, over operation spans `ops`. */
  private def common(all: Seq[Span], ops: Seq[Span], heapPeakMb: Double, gcMs: Double): Map[String, Double] = {
    val n = ops.size
    val inOps = ops.flatMap(o => within(all, o)).distinct
    val triggers = inOps.filter(_.name == "stream.trigger")
    val phases = Seq("analysis", "optimization", "planning").map { p =>
      s"plans.${p}_ms" -> perOp(inOps.filter(_.name == s"plans.$p").map(_.ms).sum, n)
    }
    Map(
      "stream.triggers" -> perOp(triggers.size.toDouble, n),
      "jvm.gc_ms" -> perOp(gcMs, n),
      "jvm.heap_peak_mb" -> heapPeakMb) ++
      StreamPhases.map { case (name, key) => s"stream.${name}_ms" -> perOp(sumAttr(triggers, key), n) } ++
      phases
  }

  private def zeros(names: Seq[String]): Map[String, Double] = names.map(_ -> 0.0).toMap

  private val IngestNames = Seq(
    "sources.fetch_mb_s.ftp", "sources.fetch_mb_s.sftp",
    "sources.fetch_ms_per_file.ftp", "sources.fetch_ms_per_file.sftp",
    "sources.fetch_cpu_share.sftp", "sources.list_ms", "sources.files_listed",
    "sources.handshakes", "sources.session_reuse_ratio", "sources.retries",
    "expr.explode_mb_s", "expr.members_out",
    "sink.output_mb", "sink.output_rows", "sink.write_task_ms")

  private val OpsNames =
    for (m <- Modules; k <- Seq("build_s", "action_s", "jobs", "gap_ms", "task_ms", "shuffle_mb"))
      yield s"ops.$m.$k"

  private def overhead(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else Main.median(traced) / Main.median(untraced) - 1.0

  /** `traced` and `untraced` are the scheduled runs' records; their pool,
    * retry, GC and heap readings cover the scheduled run only. */
  def ingest(tr: Tracer, traced: Seq[Map[String, Any]],
      untraced: Seq[Map[String, Any]]): Map[String, Double] = {
    val all = tr.all
    val runs = all.filter(_.name == "stream.run")
    val fetches = all.filter(_.name == "sources.fetch")
    def byScheme(s: String) = fetches.filter(_.tags.get("scheme").contains(s))
    def mbS(xs: Seq[Span]) = {
      val secs = xs.map(_.ms).sum / 1000
      if (secs == 0) 0.0 else sumAttr(xs, "bytes") / 1048576.0 / secs
    }
    def smallMs(xs: Seq[Span]) = Main.median(xs.filter(_.attrs("bytes") <= 65536).map(_.ms))
    val sftp = byScheme("sftp")
    val lists = all.filter(_.name == "sources.list")
    val extracts = all.filter(_.name == "expr.extract")
    val writes = runs.flatMap(r => within(all, r)).filter(s =>
      s.name == "spark.stage" && s.attrs.getOrElse("output_bytes", 0.0) > 0)
    def roundSum(k: String) = perOp(traced.map(_(k).asInstanceOf[Long].toDouble).sum, traced.size)
    val handshakes = roundSum("handshakes")
    val reused = roundSum("reused")
    val n = runs.size
    val heapPeakMb = traced.map(_("heap_peak_mb").asInstanceOf[Double]).max
    zeros(OpsNames) ++ common(all, runs, heapPeakMb, traced.map(_("gc_ms").asInstanceOf[Double]).sum) ++ Map(
      "sources.fetch_mb_s.ftp" -> mbS(byScheme("ftp")),
      "sources.fetch_mb_s.sftp" -> mbS(sftp),
      "sources.fetch_ms_per_file.ftp" -> smallMs(byScheme("ftp")),
      "sources.fetch_ms_per_file.sftp" -> smallMs(sftp),
      "sources.fetch_cpu_share.sftp" ->
        (if (sftp.isEmpty) 0.0 else sumAttr(sftp, "cpu_ms") / sftp.map(_.ms).sum),
      "sources.list_ms" -> Main.median(lists.map(_.ms)),
      "sources.files_listed" -> Main.median(lists.map(_.attrs("files"))),
      "sources.handshakes" -> handshakes,
      "sources.session_reuse_ratio" ->
        (if (handshakes + reused == 0) 0.0 else reused / (handshakes + reused)),
      "sources.retries" -> roundSum("retries"),
      "expr.explode_mb_s" -> mbS(extracts),
      "expr.members_out" -> perOp(sumAttr(extracts, "members"), n),
      "sink.output_mb" -> perOp(sumAttr(writes, "output_bytes") / 1048576.0, n),
      "sink.output_rows" -> perOp(sumAttr(writes, "output_rows"), n),
      "sink.write_task_ms" -> perOp(sumAttr(writes, "task_ms"), n),
      "trace.overhead_ratio" -> overhead(traced.map(_("wall_s").asInstanceOf[Double]),
        untraced.map(_("wall_s").asInstanceOf[Double])))
  }

  def suite(tr: Tracer, untracedKeyS: Seq[Double], heapPeakMb: Double, gcMs: Double): Map[String, Double] = {
    val all = tr.all
    val keys = all.filter(_.name == "key")
    val ops = Modules.flatMap { m =>
      val ks = keys.filter(_.tags.get("module").contains(m))
      def mean(f: Span => Double) = perOp(ks.map(f).sum, ks.size)
      def part(k: Span, name: String) = within(all, k).filter(_.name == name)
      def stages(k: Span) = part(k, "spark.stage")
      Seq(
        s"ops.$m.build_s" -> mean(k => part(k, "key.build").map(_.ms).sum / 1000),
        s"ops.$m.action_s" -> mean(k => part(k, "key.action").map(_.ms).sum / 1000),
        s"ops.$m.jobs" -> mean(k => part(k, "spark.job").size.toDouble),
        s"ops.$m.gap_ms" -> mean { k =>
          part(k, "key.action").map { a =>
            a.ms - Trace.coveredMs(within(all, a).filter(_.name == "spark.job")
              .map(j => (j.start, j.end)), a.start, a.end)
          }.sum
        },
        s"ops.$m.task_ms" -> mean(k => sumAttr(stages(k), "task_ms")),
        s"ops.$m.shuffle_mb" -> mean(k => sumAttr(stages(k), "shuffle_bytes") / 1048576.0))
    }.toMap
    zeros(IngestNames) ++ common(all, keys, heapPeakMb, gcMs) ++ ops ++ Map(
      "trace.overhead_ratio" -> overhead(keys.map(_.ms / 1000), untracedKeyS))
  }
}
