package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.expr.{Sanitize, TarEntries, ZipEntries}
import graft.sources.{RemoteClientPool, RemoteListing, RemoteRetry, RemoteUrl}

/** The scheduled ingest job and its two workloads.
  *
  * The job is written here from the library's public calls only, so a
  * change that makes ingest faster changes the library, never the job:
  * a `RemoteFileSource` stream drained with `Trigger.AvailableNow` into a
  * persistent checkpoint, one explode that sends zips through
  * `ZipEntries.zip_entries` and tars through `TarEntries.tar_entries`,
  * `Sanitize.sanitize` on every name, and a parquet sink partitioned by
  * micro-batch (dynamic overwrite, so a replayed batch rewrites itself).
  *
  * Conf keys: `servers` (comma list of `scheme:port:dir`) and, for
  * ingest_rerun, `deltas` (directory of numbered delta trees, one per
  * scheduled run). */
object Ingest {
  /** Files per micro-batch: the reference's BATCH_SIZE (config.py:2). */
  val Batch = 10

  def job(spark: SparkSession, urls: Seq[String], ckpt: String, sink: String,
      batch: Int, parts: Int): StreamingQuery = {
    val src = spark.readStream.format("graft.sources.RemoteFileSource")
      .option("urls", urls.mkString(","))
      .option("batchSize", batch.toString)
      .option("numPartitions", parts.toString)
      .load()
      // What the source fetched, per micro-batch, before the explode:
      // reported in the query's progress as `observedMetrics("fetched")`.
      .observe("fetched", count(lit(1)).as("files"), sum(length(col("content"))).as("bytes"))
    val name = lower(col("file_name"))
    val asEntry = array(struct(col("file_name").as("name"), col("mtime_s").as("mtime"),
      col("size").as("size"), col("content").as("content")))
    val entries = when(name.endsWith(".zip"), ZipEntries.zip_entries(col("content")))
      .when(name.endsWith(".tar") || name.endsWith(".tar.gz") || name.endsWith(".tgz"),
        TarEntries.tar_entries(col("content")))
      .otherwise(asEntry)
    val rows = src
      .select(col("server_folder"), col("file_name").as("src_file"),
        col("size").as("src_size"), explode(entries).as("m"))
      .select(col("server_folder"), Sanitize.sanitize(col("src_file")).as("src_file"),
        col("src_size"), Sanitize.sanitize(col("m.name")).as("file_name"),
        col("m.size").as("size"), col("m.content").as("content"))
    rows.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.withColumn("batch_id", lit(id)).write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(sink)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** One scheduled run: wall seconds, the per-micro-batch durations in
    * seconds and the bytes the source fetched, from the query's own progress. */
  final case class RunStats(wall: Double, batches: Seq[Double], fetchedBytes: Long)

  /** One scheduled run: start, drain, stop. */
  def scheduledRun(spark: SparkSession, urls: Seq[String], ckpt: String, sink: String,
      batch: Int, parts: Int): RunStats = {
    val t0 = System.nanoTime()
    val q = job(spark, urls, ckpt, sink, batch, parts)
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress.toSeq
    val fetched = progress.flatMap(p => Option(p.observedMetrics.get("fetched")))
      .map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).sum
    RunStats(wall, progress.filter(_.numInputRows > 0).map(_.batchDuration / 1000.0), fetched)
  }

  private def copyTree(from: File, to: File): Unit = {
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).getOrElse(Array.empty).foreach(f => copyTree(f, new File(to, f.getName)))
    } else Files.copy(from.toPath, to.toPath, StandardCopyOption.COPY_ATTRIBUTES,
      StandardCopyOption.REPLACE_EXISTING): Unit
  }

  private def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  /** Overlay a delta tree (`<srv>/<file>`) onto the served directories.
    * Returns an undo action that restores what it replaced. */
  private def applyDelta(delta: File, served: Map[String, File], undo: File): () => Unit = {
    rmTree(undo)
    val actions = for {
      srv <- Option(delta.listFiles()).getOrElse(Array.empty).toSeq.sortBy(_.getName)
      f <- Option(srv.listFiles()).getOrElse(Array.empty).toSeq.sortBy(_.getName)
    } yield {
      val target = new File(served(srv.getName), f.getName)
      val backup = new File(new File(undo, srv.getName), f.getName)
      if (target.exists()) {
        backup.getParentFile.mkdirs()
        Files.copy(target.toPath, backup.toPath, StandardCopyOption.COPY_ATTRIBUTES)
      }
      Files.copy(f.toPath, target.toPath, StandardCopyOption.COPY_ATTRIBUTES,
        StandardCopyOption.REPLACE_EXISTING)
      () =>
        if (backup.exists()) Files.copy(backup.toPath, target.toPath,
          StandardCopyOption.COPY_ATTRIBUTES, StandardCopyOption.REPLACE_EXISTING): Unit
        else target.delete(): Unit
    }
    () => actions.foreach(_())
  }

  private def isArchive(n: String): Boolean = {
    val l = n.toLowerCase
    l.endsWith(".zip") || l.endsWith(".tar") || l.endsWith(".tar.gz") || l.endsWith(".tgz")
  }

  /** Traced run only: the benchmark's own calls into the sources and
    * expr layers, over the files a scheduled run fetches (`wanted`). */
  private def probeLayers(tr: Tracer, urls: Seq[String], wanted: String => Boolean): Unit = {
    val tasks = tr.span("sources.list")(RemoteListing.listAll(urls))(
      t => Map("files" -> t.length.toDouble))
    tasks.filter(t => wanted(t.ref.name)).foreach { t =>
      val scheme = RemoteUrl.parse(t.url).scheme
      var cpu0 = 0L
      val bytes = tr.span("sources.fetch", Map("scheme" -> scheme)) {
        val c = RemoteClientPool.borrow(t.url)
        cpu0 = Trace.threadCpuNs
        try c.fetch(t.ref.name) finally RemoteClientPool.give(t.url, c)
      }(b => Map("bytes" -> b.length.toDouble, "cpu_ms" -> (Trace.threadCpuNs - cpu0) / 1e6))
      val l = t.ref.name.toLowerCase
      if (isArchive(l)) {
        tr.span("expr.extract", Map("kind" -> (if (l.endsWith(".zip")) "zip" else "tar"))) {
          if (l.endsWith(".zip")) ZipEntries.extract(bytes).size else TarEntries.extract(bytes).size
        }(n => Map("bytes" -> bytes.length.toDouble, "members" -> n.toDouble))
      }
    }
  }

  def run(spark: SparkSession, conf: Map[String, String]): Map[String, Any] = {
    Sanitize.register(spark)
    val rerun = conf("workload") == "ingest_rerun"
    val work = new File(conf("work"))
    val cpus = conf("cpus").toInt
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val servers = conf("servers").split(",").toSeq.map { s =>
      val Array(scheme, port, dir) = s.split(":", 3)
      (scheme, port, new File(dir))
    }
    val urls = servers.map { case (scheme, port, dir) => s"$scheme://localhost:$port${dir.getAbsolutePath}" }
    val served = servers.map { case (_, _, dir) => dir.getName -> dir }.toMap
    def fresh(name: String): String = {
      val f = new File(work, name); rmTree(f); f.getAbsolutePath
    }

    // Set-up: one complete ingest into an empty checkpoint and sink. For
    // ingest_cold it is the warm-up; for ingest_rerun it ingests the base
    // corpus in one micro-batch, and its checkpoint is the snapshot every
    // scheduled run starts from.
    val baseCkpt = fresh("base/ckpt")
    val baseSink = fresh("base/sink")
    scheduledRun(spark, urls, baseCkpt, baseSink, if (rerun) Int.MaxValue else Batch, cpus)
    val deltas = conf.get("deltas").map(new File(_))
    val undo = new File(work, "undo")

    var tracer: Tracer = null
    /** Scheduled run `i`: from the snapshot state (ingest_rerun: plus
      * delta `i`), into a fresh sink directory. */
    def round(i: Int, warm: Boolean): Map[String, Any] = {
      val ckpt = fresh(s"run$i/ckpt")
      if (rerun) copyTree(new File(baseCkpt), new File(ckpt))
      val sink = fresh(s"run$i/sink")
      val delta = deltas.map(d => new File(d, i.toString))
      val restore = delta.map(d => applyDelta(d, served, undo))
      val newNames: Set[String] = delta.toSeq.flatMap { d =>
        Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap(srv =>
          Option(srv.listFiles()).getOrElse(Array.empty).toSeq
            .filterNot(f => new File(undo, s"${srv.getName}/${f.getName}").exists())
            .map(_.getName))
      }.toSet
      // The pool, retry, GC and heap readings cover the scheduled run
      // only; they are taken before the traced run's own probe calls.
      val c0 = RemoteClientPool.created.get
      val r0 = RemoteClientPool.reused.get
      val retry0 = RemoteRetry.observedRetries.get
      val gc0 = Trace.gcMs
      Trace.resetHeapPeak()
      def counters(): Map[String, Any] = Map(
        "handshakes" -> (RemoteClientPool.created.get - c0),
        "reused" -> (RemoteClientPool.reused.get - r0),
        "retries" -> (RemoteRetry.observedRetries.get - retry0),
        "gc_ms" -> (Trace.gcMs - gc0), "heap_peak_mb" -> Trace.heapPeakMb)
      val (stats, used) =
        if (tracer == null) {
          val res = scheduledRun(spark, urls, ckpt, sink, Batch, cpus)
          (res, counters())
        } else tracer.span("round") {
          val res = tracer.span("stream.run")(scheduledRun(spark, urls, ckpt, sink, Batch, cpus))()
          val c = counters()
          probeLayers(tracer, urls, n => !rerun || newNames.contains(n))
          (res, c)
        }()
      restore.foreach(_())
      used ++ Map("wall_s" -> stats.wall, "batches_s" -> stats.batches,
        "fetched_bytes" -> stats.fetchedBytes, "sink" -> sink,
        "delta" -> delta.map(_ => i).getOrElse(-1), "warm" -> warm, "traced" -> (tracer != null))
    }

    // ingest_rerun warms up with one scheduled run on delta 0 (the
    // set-up ingest above is one large batch, a different path).
    val rounds = Seq.newBuilder[Map[String, Any]]
    if (rerun) rounds += round(0, warm = true)
    // Collect the set-up's garbage now, not in the timed window.
    System.gc()
    val firstOp = System.currentTimeMillis()
    var detach: () => Unit = null
    var i = if (rerun) 1 else 0
    var measured = 0
    val start = System.nanoTime()
    // Traced runs measure half the window untraced, then attach the
    // tracer for the rest; the difference is the tracing overhead.
    def elapsed = (System.nanoTime() - start) / 1e9
    def more = deltas.forall(d => new File(d, i.toString).isDirectory) &&
      (measured < 2 || elapsed < seconds || (traced && tracer == null))
    while (more) {
      if (traced && tracer == null && measured >= 1 && elapsed >= seconds / 2) {
        tracer = new Tracer(s"${conf("workload")}-${conf("seed")}")
        detach = Trace.attach(spark, tr = tracer)
      }
      rounds += round(i, warm = false)
      i += 1
      measured += 1
    }
    val all = rounds.result().filter(_("warm") == false)
    val base = Map[String, Any](
      "first_op_epoch_ms" -> firstOp,
      "rounds" -> rounds.result(), "base_sink" -> (if (rerun) baseSink else ""))
    if (tracer == null) base
    else {
      detach()
      tracer.writeJsonl(new File(work, "spans.jsonl").getAbsolutePath)
      base + ("layers" -> Layers.ingest(tracer, all.filter(_("traced") == true),
        all.filter(_("traced") == false)))
    }
  }
}
