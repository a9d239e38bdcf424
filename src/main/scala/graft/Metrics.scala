package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The one measurement layer: a SparkListener, a QueryExecutionListener
  * and a StreamingQueryListener on one session, read through
  * [[measure]], the one timed action. Bench, Profile and Explain are
  * consumers of its [[Metrics.Record]].
  *
  * Listener events are delivered asynchronously, so a window drains the
  * listener bus before it starts and before it reads its counters.
  * Windows must not overlap: the collector holds one window's state. */
final class Metrics private (spark: SparkSession) {
  import Metrics._

  /** One window's counters. Listener threads and the measuring thread
    * share it, so every access holds the collector's lock. */
  private final class Window {
    val startMs = System.currentTimeMillis()
    var jobs = 0
    val jobIv = mutable.Map.empty[Int, Array[Long]] // jobId -> (submit, end)
    var spanMin = Long.MaxValue // first task launch
    var spanMax = 0L // last task end
    val stages = mutable.LinkedHashMap.empty[Int, Stage]
    var catalystMs = 0L
    val plan = new StringBuilder
    var queries, triggers, lifeMs = 0L
    val durations = mutable.Map.empty[String, Long]
  }
  private var w = new Window
  // runId -> start time; outlives a window, so a query that spans a
  // window boundary charges each window only its own share of life_ms
  private val queryStarts = mutable.Map.empty[java.util.UUID, Long]

  private def locked(f: Window => Unit): Unit = synchronized(f(w))

  private val sparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = locked { w =>
      w.jobs += 1
      w.jobIv(j.jobId) = Array(j.time, -1L)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      locked(_.jobIv.get(j.jobId).foreach(_(1) = j.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = locked { w =>
      val id = e.stageInfo.stageId
      w.stages(id) = w.stages.getOrElse(id, Stage(id)).copy(name = e.stageInfo.name.take(100))
    }
    override def onTaskStart(t: SparkListenerTaskStart): Unit = locked { w =>
      if (t.taskInfo != null) w.spanMin = math.min(w.spanMin, t.taskInfo.launchTime)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = locked { w =>
      val s = w.stages.getOrElse(t.stageId, Stage(t.stageId))
      val info = Option(t.taskInfo)
      def sum(f: TaskMetrics => Long) = Option(t.taskMetrics).fold(0L)(f)
      info.foreach(i => w.spanMax = math.max(w.spanMax, i.finishTime))
      w.stages(t.stageId) = s.copy(tasks = s.tasks + 1,
        taskMs = s.taskMs + info.fold(0L)(_.duration),
        gcMs = s.gcMs + sum(_.jvmGCTime),
        inBytes = s.inBytes + sum(_.inputMetrics.bytesRead),
        inRecords = s.inRecords + sum(_.inputMetrics.recordsRead),
        shuffleReadBytes = s.shuffleReadBytes + sum(_.shuffleReadMetrics.totalBytesRead),
        shuffleWriteBytes = s.shuffleWriteBytes + sum(_.shuffleWriteMetrics.bytesWritten))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
      val phases = qe.tracker.phases.values.map(_.durationMs).sum
      val nodes = mutable.ArrayBuffer.empty[String]
      // a plan that cannot be walked loses its fingerprint, not its phases
      try fingerprint(qe.executedPlan, nodes)
      catch { case NonFatal(_) => nodes.clear() }
      locked { w =>
        w.catalystMs += phases
        if (nodes.nonEmpty && w.plan.length < PlanChars) {
          if (w.plan.nonEmpty) w.plan += ';'
          w.plan ++= nodes.mkString(">")
        }
      }
    }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = locked { w =>
      w.queries += 1
      queryStarts(e.runId) = System.currentTimeMillis()
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = locked { w =>
      w.triggers += 1
      e.progress.durationMs.forEach((k, v) => w.durations(k) = w.durations.getOrElse(k, 0L) + v)
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = locked { w =>
      queryStarts.remove(e.runId).foreach { s =>
        w.lifeMs += math.max(0L, System.currentTimeMillis() - math.max(s, w.startMs))
      }
    }
  }

  /** Runs one measured window: `build` (the eager, driver-side part,
    * timed as build_ms), then an action that computes every column and
    * writes nothing (Spark's noop sink). A failure in either is kept in
    * the record, not thrown. */
  def measure(build: => DataFrame): Record = {
    drain()
    synchronized { w = new Window }
    val gc0 = driverGcMs()
    val scratch0 = Scratch.buildMs.get
    val t0 = System.nanoTime()
    var buildNs = -1L
    val failure =
      try {
        val df = build
        buildNs = System.nanoTime() - t0
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(e) }
    val wallNs = System.nanoTime() - t0
    drain()
    synchronized {
      val span = if (w.spanMax > w.spanMin) w.spanMax - w.spanMin else 0L
      val cover = if (span == 0) 0L
        else mergedCoverage(w.jobIv.values.map(a => (a(0), a(1))).toSeq, w.spanMin, w.spanMax)
      val rt = Runtime.getRuntime
      Record(wallS = wallNs / 1e9, buildMs = (if (buildNs < 0) wallNs else buildNs) / 1000000,
        catalystMs = w.catalystMs, jobs = w.jobs,
        driverMs = math.max(0L, wallNs / 1000000 - span), jobCoverMs = cover, gapMs = span - cover,
        scratchMs = Scratch.buildMs.get - scratch0, driverGcMs = driverGcMs() - gc0,
        heapMb = (rt.totalMemory() - rt.freeMemory()) >> 20,
        stages = w.stages.values.toSeq,
        stream = Option.when(w.queries > 0 || w.triggers > 0)(
          StreamStats(w.queries, w.triggers, w.lifeMs, w.durations.toSeq.sortBy(-_._2))),
        plan = w.plan.toString, failure = failure)
    }
  }

  /** Removes the three listeners from the session. */
  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  private def drain(): Unit =
    if (!GraftSqlBridge.waitForListeners(spark.sparkContext, DrainMs))
      System.err.println(s"[bench] warning: listener bus not empty after " +
        s"$DrainMs ms; this window's counters may be partial")
}

object Metrics {
  private val DrainMs = 2000L
  private val PlanChars = 1500

  /** Registers the collector's three listeners on `spark`. */
  def attach(spark: SparkSession): Metrics = {
    val m = new Metrics(spark)
    spark.sparkContext.addSparkListener(m.sparkListener)
    spark.listenerManager.register(m.queryListener)
    spark.streams.addListener(m.streamListener)
    m
  }

  /** One stage's task totals within a window. */
  final case class Stage(id: Int, name: String = "?", tasks: Int = 0,
      taskMs: Long = 0, gcMs: Long = 0, inBytes: Long = 0, inRecords: Long = 0,
      shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0)

  /** Streaming-engine totals within a window: queries started, progress
    * events, query lifetime clamped to the window, and the summed
    * `durationMs` parts of every progress event, largest first. */
  final case class StreamStats(queries: Long, triggers: Long, lifeMs: Long,
      durations: Seq[(String, Long)])

  /** One measured window.
    *
    *  - wall_s: build plus action, in seconds.
    *  - build_ms: the build, i.e. the work done before the action.
    *  - catalyst_ms: the Catalyst phases (analysis, optimization,
    *    planning) of every query execution that finished in the window.
    *  - jobs, tasks, task_ms, task_gc_ms: job and task counts, summed
    *    task run time and in-task GC time; the task fields are sums over
    *    `stages`.
    *  - driver_ms: wall minus the task span (first task launch to last
    *    task end): time when no task ran.
    *  - job_cover_ms: time inside the task span when some job was in
    *    flight; gap_ms: the rest of the span, the machinery between jobs
    *    (trigger waits, micro-batch scheduling). wall = driver_ms +
    *    job_cover_ms + gap_ms.
    *  - scratch_ms: time spent in one-time `graft.Scratch` artifact builds.
    *  - driver_gc_ms: driver-JVM GC time; heap_mb: used heap at the end.
    *  - stream: present when a streaming query started or reported
    *    progress in the window.
    *  - plan: the executed plans' fingerprint: join nodes with their
    *    output rows, query stages with runtime rows and bytes, and AQE
    *    read partition counts. */
  final case class Record(wallS: Double, buildMs: Long, catalystMs: Long,
      jobs: Int, driverMs: Long, jobCoverMs: Long, gapMs: Long,
      scratchMs: Long, driverGcMs: Long, heapMb: Long, stages: Seq[Stage],
      stream: Option[StreamStats], plan: String, failure: Option[Throwable]) {
    def ok: Boolean = failure.isEmpty
    def tasks: Int = stages.map(_.tasks).sum
    def taskMs: Long = stages.map(_.taskMs).sum
    def taskGcMs: Long = stages.map(_.gcMs).sum

    /** The record as comma-separated JSON members; `withPlan` adds the
      * fingerprint. */
    def json(withPlan: Boolean): String =
      s""""wall_s":${(wallS * 1000).round / 1000.0},"build_ms":$buildMs,""" +
        s""""catalyst_ms":$catalystMs,"jobs":$jobs,"tasks":$tasks,""" +
        s""""task_ms":$taskMs,"task_gc_ms":$taskGcMs,"driver_ms":$driverMs,""" +
        s""""scratch_ms":$scratchMs,"job_cover_ms":$jobCoverMs,"gap_ms":$gapMs,""" +
        s""""driver_gc_ms":$driverGcMs,"heap_mb":$heapMb""" +
        stream.fold("") { s =>
          val durs = s.durations.filter(_._2 > 0).take(8)
            .map { case (k, v) => s""","$k":$v""" }.mkString
          s""","stream":{"queries":${s.queries},"triggers":${s.triggers},""" +
            s""""life_ms":${s.lifeMs}$durs}"""
        } +
        (if (withPlan) s""","plan":"${plan.take(PlanChars)}"""" else "")
  }

  /** Appends a plan's fingerprint nodes to `out` (at most 48): joins
    * with their output rows, query stages with runtime rows and bytes,
    * AQE reads with their partition count. Descends into AQE's final
    * plan and into materialized query stages. */
  private def fingerprint(p: SparkPlan, out: mutable.ArrayBuffer[String]): Unit =
    if (out.size < 48) {
      if (p.nodeName.contains("Join"))
        out += p.nodeName + ":" +
          p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
      p match {
        case a: AdaptiveSparkPlanExec => fingerprint(a.executedPlan, out)
        case q: QueryStageExec =>
          // unknown runtime statistics (a ResultQueryStage's) read as
          // r? and b?, not as a Long.MaxValue byte count
          val st = q.getRuntimeStatistics
          out += q.nodeName + ":r" + st.rowCount.map(_.toString).getOrElse("?") +
            ":b" + (if (st.sizeInBytes >= Long.MaxValue) "?" else st.sizeInBytes)
          fingerprint(q.plan, out)
        case r: AQEShuffleReadExec =>
          out += "AQERead:p" + r.partitionSpecs.length
          r.children.foreach(fingerprint(_, out))
        case o => o.children.foreach(fingerprint(_, out))
      }
    }

  private def driverGcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Merged-union coverage of `ivs` (start, end) intervals clipped to
    * [lo, hi]: the job-interval coverage behind gap_ms (gap = (hi − lo)
    * − coverage). An open interval (end < 0, a job still running) clips
    * to hi. */
  private[graft] def mergedCoverage(
      ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    if (hi <= lo) return 0L
    val clipped = ivs
      .map { case (s, e) => (math.max(s, lo),
        math.min(if (e < 0) hi else e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var cov = 0L; var start = Long.MinValue; var end = Long.MinValue
    for ((s, e) <- clipped) {
      if (start == Long.MinValue) { start = s; end = e }
      else if (s <= end) { if (e > end) end = e }
      else { cov += end - start; start = s; end = e }
    }
    if (start != Long.MinValue) cov += end - start
    cov
  }
}
