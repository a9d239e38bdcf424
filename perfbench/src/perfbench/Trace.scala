package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional), so the
  * benchmark's own spans and Spark's event times share one clock.
  * `parent` is -1 for a root; spans recorded from Spark events get their
  * parent at the end of the run (see [[Tracer.all]]). */
final case class Span(id: Long, var parent: Long, name: String, start: Double,
    end: Double, attrs: Map[String, Double] = Map.empty,
    tags: Map[String, String] = Map.empty) {
  def ms: Double = end - start
}

/** In-memory span recorder for the traced run. Spans are only appended
  * while the run is live and written out once at the end. */
final class Tracer(val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = mutable.Stack.empty[Long]

  /** Epoch milliseconds with the wall clock's sub-millisecond digits. */
  def nowMs: Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000.0 + t.getNano / 1e6
  }

  /** Time `f` as a child of the innermost open benchmark span. Attributes
    * computed from the result are attached by `attrs`. */
  def span[T](name: String, tags: Map[String, String] = Map.empty)(f: => T)(
      attrs: T => Map[String, Double] = (_: T) => Map.empty[String, Double]): T = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(-1L)
    stack.push(id)
    val s = nowMs
    try {
      val r = f
      spans.add(Span(id, parent, name, s, nowMs, attrs(r), tags))
      r
    } catch {
      case e: Throwable =>
        spans.add(Span(id, parent, name, s, nowMs, Map.empty, tags + ("error" -> e.toString)))
        throw e
    } finally stack.pop(): Unit
  }

  /** Record a span observed by a Spark listener (parent resolved later). */
  def event(name: String, start: Double, end: Double,
      attrs: Map[String, Double] = Map.empty, tags: Map[String, String] = Map.empty): Unit =
    spans.add(Span(ids.incrementAndGet(), -2L, name, start, end, attrs, tags)): Unit

  /** All spans, with each event span parented under the shortest other
    * span that contains its start time (a stage under its job, a job
    * under its trigger, a trigger under the benchmark's call). */
  def all: Seq[Span] = {
    val xs = spans.asScala.toSeq
    xs.filter(_.parent == -2L).foreach { e =>
      e.parent = xs.filter(o => o.id != e.id && o.start <= e.start && e.start <= o.end &&
          o.ms > e.ms)
        .sortBy(_.ms).headOption.map(_.id).getOrElse(-1L)
    }
    xs.sortBy(_.start)
  }

  /** Duration minus the part of it covered by the union of its children. */
  def selfMs(s: Span, everything: Seq[Span]): Double =
    s.ms - Trace.coveredMs(everything.filter(_.parent == s.id).map(c => (c.start, c.end)),
      s.start, s.end)

  def writeJsonl(path: String): Unit = {
    val everything = all
    val w = new java.io.PrintWriter(path, "UTF-8")
    try everything.foreach { s =>
      w.println(Json.write(Map(
        "run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> selfMs(s, everything), "attrs" -> s.attrs, "tags" -> s.tags)))
    } finally w.close()
  }
}

object Trace {
  /** Length of the union of `ivs` clipped to [from, to]. */
  def coveredMs(ivs: Seq[(Double, Double)], from: Double, to: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Wait until Spark's asynchronous listener bus has delivered every
    * posted event (bounded), so the last job's events are not lost. The
    * bus is package-private in Scala but public in bytecode. */
  def drain(spark: SparkSession): Unit =
    try {
      val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L)): Unit
    } catch { case _: Throwable => Thread.sleep(500) }

  /** Attach Spark's public listeners; each job, stage, Catalyst phase and
    * streaming trigger becomes an event span of `tr`. Returns a detach
    * function. */
  def attach(spark: SparkSession, tr: Tracer): () => Unit = {
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val sparkL = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobStart.put(j.jobId, j.time): Unit
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val s = Option(jobStart.remove(j.jobId)).map(_.toDouble).getOrElse(j.time.toDouble)
        tr.event("spark.job", s, j.time.toDouble)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val s = i.submissionTime.getOrElse(0L).toDouble
        tr.event("spark.stage", s, i.completionTime.map(_.toDouble).getOrElse(s), Map(
          "tasks" -> i.numTasks.toDouble,
          "task_ms" -> (if (m == null) 0.0 else m.executorRunTime.toDouble),
          "gc_ms" -> (if (m == null) 0.0 else m.jvmGCTime.toDouble),
          "shuffle_bytes" -> (if (m == null) 0.0
            else (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten).toDouble),
          "output_bytes" -> (if (m == null) 0.0 else m.outputMetrics.bytesWritten.toDouble),
          "output_rows" -> (if (m == null) 0.0 else m.outputMetrics.recordsWritten.toDouble)))
      }
    }
    val qeL = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.tracker.phases.foreach { case (phase, p) =>
          tr.event(s"plans.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val streamL = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue() }.toMap
        tr.event("stream.trigger", start, start + d.getOrElse("triggerExecution", 0.0),
          d + ("input_rows" -> p.numInputRows.toDouble))
      }
    }
    spark.sparkContext.addSparkListener(sparkL)
    spark.listenerManager.register(qeL)
    spark.streams.addListener(streamL)
    () => {
      drain(spark)
      spark.sparkContext.removeSparkListener(sparkL)
      spark.listenerManager.unregister(qeL)
      spark.streams.removeListener(streamL)
    }
  }

  /** JVM-wide GC time so far, ms. */
  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, MB. */
  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def threadCpuNs: Long = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime
}
